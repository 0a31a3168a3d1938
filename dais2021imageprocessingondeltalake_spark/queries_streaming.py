"""Streaming query registrations (SURVEY.md §2 A7/A8, H1-H4).

Each callable runs a real StreamingQuery to completion (availableNow →
memory sink) and returns the materialized result. Because availableNow
processes everything in the source, the results ARE SQL-expressible and
get full DuckDB oracles — stronger than the rows-only check the contract
allows for streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query


def _fresh_tmpdir(prefix: str) -> str:
    """mkdtemp + atexit cleanup. Streaming scratch CANNOT be reused
    across invocations (a reused checkpoint makes availableNow see the
    source as already-processed and drain nothing), so each run gets a
    fresh dir — but it is removed at interpreter exit instead of leaking
    a table copy per rotation/bench rerun (the r4 scratch-hygiene
    sweep)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _stream_fold_partials(
    spark, prefix: str, src: DataFrame, fold, n_files: int = 4
) -> str:
    """Shared scaffold for the partial-summary streaming certifications
    (q_stream_cms / q_stream_heavy_hitters / q_stream_drift /
    q_stream_pack): pre-split the source into `n_files` parquet files,
    stream them one file per trigger (real incremental delivery),
    foreachBatch-fold each micro-batch's partial summary into an
    append-only {base}/partials store, drain with availableNow, and
    return the partials path. `fold(batch_df, out_dir, batch_id)`
    writes ONE batch's partial rows (order-DEPENDENT folds key their
    carried state off batch_id or sibling stores next to out_dir); the
    caller merges the store and certifies merged == batch-built against
    the batch oracle.

    Torn-partition audit (VERDICT r10 item 6): of every fold built on
    this scaffold (q_stream_cms, q_stream_heavy_hitters,
    q_stream_drift, q_stream_shard_manifest, q_stream_unimax,
    q_stream_pack), only q_stream_pack RE-READS its own prior output
    mid-stream (the carried offset), and that read carries the explicit
    schema + batch-id partition-pruning guard. Every other fold is
    order-independent: it writes via _write_partial and reads the store
    exactly once, AFTER awaitTermination — by which point a retried
    batch's dynamic partition overwrite has replaced any torn file from
    its failed attempt, so no torn footer can reach schema inference or
    the merge."""
    base = _fresh_tmpdir(prefix)
    src.repartition(n_files).write.parquet(f"{base}/src")
    schema = spark.read.parquet(f"{base}/src").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{base}/src")
    )
    out = f"{base}/partials"
    _drain(
        stream.writeStream.foreachBatch(lambda b, bid: fold(b, out, bid))
        .option("checkpointLocation", f"{base}/ckpt")
    )
    return out


def _write_partial(df: DataFrame, out: str, bid: int) -> None:
    """Idempotent partial publication for at-least-once foreachBatch:
    the partial is keyed by batch_id and written with DYNAMIC partition
    overwrite, so a retried micro-batch replaces exactly its own rows
    instead of double-appending them into the merge (plain
    mode("append") silently double-counts every summary — XOR
    fingerprints flip back, counters inflate — on the first executor
    crash between the write and the epoch commit)."""
    (
        df.withColumn("batch_id", F.lit(bid))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out)
    )


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API. Order-dependent
    folds tolerate exactly one read failure — missing store on the first
    batch — and driver-local os.path.exists cannot make that call for a
    non-local partials base (HDFS/S3 paths are never local files, so it
    returns False every batch and the carried state silently resets — the
    corruption the check exists to prevent). Routing the probe through
    the store's own FileSystem keeps the tolerance correct on any
    filesystem the base may point at."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


from .streaming.stream import _drain, events_batch, events_stream, run_stream_to_memory
from .streaming.windows import tumbling_window_agg


@query(
    "q_stream_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming grouped aggregate (A7+A8+H1-H3): incremental file source
    → stateful agg → checkpointed sink, driven to completion. With
    availableNow the final state equals the batch aggregate, so the batch
    SQL oracle applies. value sums via exact integer cents (2-decimal
    data) — see queries_relational.q_groupby_agg."""
    stream = events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / F.lit(100.0)).alias("total_value"),
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "q_stream_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation with a watermark (H4 —
    north-star; the reference's stream is stateless). 1-hour windows by
    event_type; window.start == date_trunc('hour', ts) for the oracle."""
    stream = events_stream(spark, sf_dir)
    windowed = tumbling_window_agg(
        stream,
        "ts",
        "1 hour",
        [
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / F.lit(100.0)).alias("total_value"),
        ],
        extra_keys=["event_type"],
        watermark="2 hours",
    )
    result = run_stream_to_memory(windowed, output_mode="complete")
    return result.select(
        F.col("window.start").alias("window_start"), "event_type", "n", "total_value"
    )


@query(
    "q_stateful_stream",
    oracle="""
    SELECT event_type AS key,
           count(*) AS n,
           sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def q_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-key
    running totals with explicit GroupState. In update mode every trigger
    emits the running value; the final emission per key (max n) equals the
    batch aggregate, which the oracle checks."""
    from pyspark.sql import Window as W

    from .streaming.stateful import running_totals_stream

    stream = events_stream(spark, sf_dir)
    out = run_stream_to_memory(running_totals_stream(stream), output_mode="update")
    w = W.partitionBy("key").orderBy(F.col("n").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "q_stream_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
    FROM events c
    JOIN events p ON c.user_id = p.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (clicks joined to purchases by the
    same user within the following hour), both sides watermarked so join
    state is evictable at scale. Inner stream-stream joins emit on match,
    so the availableNow drain equals the batch join — full oracle.
    Delay measured in exact microseconds (unix_micros; never cast ts to
    long, which truncates to seconds)."""
    from .streaming.joins import stream_stream_interval_join

    clicks = events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = stream_stream_interval_join(
        clicks, purchases, key="user_id", ts_col="ts", interval="1 hour", watermark="1 hour"
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("purchase_id"),
        (F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts"))).alias("delay_us"),
    )
    return run_stream_to_memory(out, output_mode="append")


@query(
    "q_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful deduplication: dropDuplicates over
    (user_id, event_type) across micro-batches — the streaming form of
    batch DISTINCT, which the oracle checks. One state entry per key;
    dropDuplicatesWithinWatermark is the unbounded-key-space variant."""
    from .streaming.joins import stream_dedup_keys

    stream = events_stream(spark, sf_dir)
    return run_stream_to_memory(
        stream_dedup_keys(stream, ["user_id", "event_type"]), output_mode="append"
    )


@query(
    "q_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_events,
           sum(CAST(round(e.value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (the streaming inference pattern at
    `03. Inference.py:73-77` generalized): event stream ⋈ broadcast
    customer dimension → segment rollup. Stateless join + stateful agg;
    availableNow drain equals the batch join-aggregate, so the oracle is
    full SQL. Money sums in exact integer cents."""
    from .catalog import load_table
    from .streaming.joins import stream_static_join

    stream = events_stream(spark, sf_dir)
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    joined = stream_static_join(
        stream, cust, stream["user_id"] == cust["c_custkey"]
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / F.lit(100.0)).alias(
            "total_value"
        ),
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "q_stream_dedup_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (dropDuplicatesWithinWatermark):
    state evicts once the watermark passes event_time + delay, so the
    operator survives unbounded key spaces — the 100 TB form of streaming
    dedup. The corpus spans 30 days < the 35-day delay, so the drained
    result equals batch DISTINCT and the oracle is exact."""
    from .streaming.joins import stream_dedup_keys_within_watermark

    stream = events_stream(spark, sf_dir)
    return run_stream_to_memory(
        stream_dedup_keys_within_watermark(
            stream, ["user_id", "event_type"], ts_col="ts", delay="35 days"
        ),
        output_mode="append",
    )


@query(
    "q_stream_session_window",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30*60*1000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           count(*) AS n_events,
           sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM s
    GROUP BY user_id, sid
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows: the same native session_window grouping
    as the batch q_session_window, but over the micro-batched file
    stream — sessions must merge correctly ACROSS micro-batches (the
    stateful store holds open sessions; adjacent-batch events within the
    gap fuse into one session). Complete output mode so the bounded
    drain emits trailing sessions too (append mode would hold back any
    session not yet past the watermark — exactly the kind of
    batch/stream divergence this query pins down). Oracle is the manual
    lag/cumsum sessionization in SQL."""
    stream = events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / F.lit(100.0)).alias(
            "total_value"
        ),
    )
    result = run_stream_to_memory(agg, output_mode="complete")
    return result.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "total_value",
    )


@query(
    "q_stream_scd2",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
    ), numbered AS (
      SELECT user_id, ts, event_type,
             CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_type
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
      FROM marked
    ), runs AS (
      SELECT user_id, run, event_type, min(ts) AS valid_from
      FROM numbered GROUP BY user_id, run, event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER v AS valid_to,
           lead(valid_from) OVER v IS NULL AS is_current
    FROM runs
    WINDOW v AS (PARTITION BY user_id ORDER BY valid_from, run)
    """,
)
def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension maintenance, oracle-checked end to end:
    drain the micro-batched event stream through the foreachBatch fold
    (scd2_apply_history per batch — only touched keys rebuild) and
    return the final dimension TABLE. Because incremental folding is
    provably equivalent to the full-history rebuild, the batch SCD2 SQL
    is a valid oracle for the STREAMING sink's final state — the
    strongest check a side-effecting sink can get."""
    import tempfile

    from .streaming.stream import events_stream, run_stream_scd2_foreachbatch

    base = _fresh_tmpdir("dais_scd2_stream_")
    stream = events_stream(spark, sf_dir, max_files_per_trigger=1).select(
        "user_id", "ts", "event_type"
    )
    run_stream_scd2_foreachbatch(
        stream, f"{base}/dim", "user_id", "ts", "event_type", f"{base}/ckpt"
    )
    return spark.read.parquet(f"{base}/dim").select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


def _thr_half() -> str:
    from .operators.sampling import _md5_threshold

    return _md5_threshold(0.5)


@query(
    "q_stream_curate",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, source,
             least(len(string_split(text, ' ')) / 50, 1.0)
               * (len(list_distinct(string_split(text, ' ')))
                  / len(string_split(text, ' '))) AS q_score
      FROM documents
    )
    SELECT doc_id, source, q_score FROM q
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_thr_half()}'
      AND q_score >= 0.2
    """,
)
def q_stream_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation: the batch curation tier (deterministic
    hash sampling + quality scoring) applied UNCHANGED to a documents
    file-stream — the in-flight filtering a 100 TB ingest runs so
    rejected documents never land. Stateless projections/filters →
    append mode, no state store; with availableNow the result equals the
    batch filter, so the batch SQL oracle applies (H2 polymorphism on
    the curation tier)."""
    from .operators.sampling import hash_sample
    from .operators.text import quality_score
    from .streaming.stream import table_stream

    stream = table_stream(spark, sf_dir, "documents")
    scored = quality_score(stream.select("doc_id", "source", "text"))
    kept = (
        hash_sample(scored, "doc_id", 0.5)
        .filter(F.col("q_score") >= 0.2)
        .select("doc_id", "source", "q_score")
    )
    return run_stream_to_memory(kept, output_mode="append")


@query(
    "q_stream_cross_dedup",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ')
                            for i in range(1, len(w) - 1)]) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ), e AS (
      SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n_sh FROM sh
    ), pairs AS (
      SELECT a.doc_id AS new_id, count(*) AS shared,
             any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
      FROM e a JOIN e b ON a.s = b.s
      WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
      GROUP BY a.doc_id, b.doc_id
    ), dup AS (
      SELECT DISTINCT new_id FROM pairs
      WHERE shared / (n_a + n_b - shared) >= 0.5
    )
    SELECT d.doc_id, dup.new_id IS NOT NULL AS is_dup
    FROM documents d LEFT JOIN dup ON d.doc_id = dup.new_id
    WHERE d.doc_id % 3 = 0
    """,
)
def q_stream_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental-ingest dedup — the production shape end to
    end: the corpus side (doc_id % 3 != 0) precomputes its shingle table
    and doc-frequency index ONCE (dedup.shingle_table /
    shingle_doc_freq, the persisted-parquet intermediates at real
    scale), then every arriving micro-batch of the documents stream
    (doc_id % 3 == 0) flags its near-duplicates against that frozen
    index inside foreachBatch via the broadcast prefix join — the
    corpus is never re-shingled per batch. foreachBatch (not a stateless
    stream transform) because the prefix machinery needs per-batch
    windows/joins; with availableNow the union of batch outputs equals
    the one-shot batch computation, so q_cross_dedup's SQL oracle
    applies verbatim. Publication is batch_id-keyed dynamic partition
    overwrite (_write_partial — torn-partition audit, VERDICT r10
    item 6): foreachBatch is at-least-once, and the plain append this
    fold used through r10 would double-emit a batch's flags on a crash
    between the write and the epoch commit, and could leave a torn
    part-file the final read's schema inference might open; the retried
    batch now replaces exactly its own partition, deleting any torn
    leftover. The fold itself never READS prior output (each doc's flag
    is a pure function of the batch row + the frozen index), so there is
    no carried-state re-read window to guard — the q_stream_pack class
    of torn-read hazard does not arise here."""
    import tempfile

    from .catalog import load_table
    from .operators import dedup as D
    from .streaming.stream import table_stream

    docs = load_table(spark, "documents", sf_dir)
    ref = docs.filter(F.col("doc_id") % 3 != 0)
    sh_ref = D.shingle_table(ref, "doc_id", n=3).localCheckpoint()
    dfreq = D.shingle_doc_freq(sh_ref).localCheckpoint()

    out_dir = _fresh_tmpdir("stream_xdedup_out_")
    ckpt_dir = _fresh_tmpdir("stream_xdedup_ckpt_")
    stream = table_stream(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        flags = D.cross_corpus_near_dup_flags(
            batch_df, None, "doc_id", n=3, threshold=0.5,
            ref_shingles=sh_ref, ref_dfreq=dfreq,
        )
        _write_partial(flags, out_dir, batch_id)

    _drain(
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt_dir)
    )
    return spark.read.parquet(out_dir).select("doc_id", "is_dup")


@query(
    "q_stream_left_join",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    w AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p)) AS wb)
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM c CROSS JOIN w
    LEFT JOIN p ON c.user_id = p.user_id
               AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.ts + INTERVAL 2 HOUR + INTERVAL 1 MINUTE < w.wb
    """,
)
def q_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics the inner
    variant (q_stream_join) can't cover: unmatched clicks surface as
    null-padded rows, but only once the watermark proves no matching
    purchase can still arrive. The drained output is compared on the
    FLUSHED REGION: Spark's global watermark is the MIN over both
    streams' max event times minus the delay (measured: purchases end
    hours before clicks at sf0.001, and exactly the clicks younger than
    least(max_c, max_p) - watermark - interval stayed in state), so both
    the query and the oracle filter to clicks older than that bound
    (minus a 1-minute safety margin for boundary-strictness/truncation
    semantics), making the comparison deterministic by construction."""
    from .streaming.joins import stream_stream_left_outer_join

    clicks = events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = stream_stream_left_outer_join(
        clicks, purchases, key="user_id", ts_col="ts", interval="1 hour", watermark="1 hour"
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.ts").alias("__cts"),
    )
    res = run_stream_to_memory(out, output_mode="append")
    ev = events_batch(spark, sf_dir)
    wb = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg(F.min("m").alias("wb"))
        .first()["wb"]
    )
    return (
        res.filter(
            F.col("__cts") + F.expr("INTERVAL 2 HOUR") + F.expr("INTERVAL 1 MINUTE")
            < F.lit(wb)
        )
        .drop("__cts")
    )


@query(
    "q_stream_cms",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ), tc AS MATERIALIZED (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t
    )
    SELECT j, substr(md5(CAST(j AS VARCHAR) || ':' || t), 1, 2) AS b,
           CAST(sum(c) AS BIGINT) AS cnt
    FROM tc CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
    GROUP BY 1, 2
    """,
)
def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min maintenance: the corpus arrives as 4
    micro-batches (maxFilesPerTrigger=1 over a pre-split source) and
    foreachBatch folds each batch's PARTIAL sketch into an append-only
    counter store; the final merged counters (one groupBy sum over
    depth x width rows) must equal the batch-built sketch EXACTLY —
    the mergeable-summaries property under real incremental delivery,
    which is how a 100 TB ingest keeps a live frequency summary without
    ever re-scanning the corpus. Stronger than a rows-only streaming
    check: the oracle is the full batch CMS in SQL (md5-portable
    buckets), so the driver hash certifies stream-merge == batch."""
    from .catalog import load_table
    from .operators import sketches as SK

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    def fold(batch_df: DataFrame, out: str, bid: int) -> None:
        toks = batch_df.select(F.explode(F.split("text", " ")).alias("tok"))
        _write_partial(SK.cms_table(toks, "tok", depth=4, hex_chars=2), out, bid)

    partials = _stream_fold_partials(spark, "stream_cms_", docs, fold)
    return spark.read.parquet(partials).groupBy("j", "b").agg(F.sum("cnt").alias("cnt"))


@query(
    "q_stream_heavy_hitters",
    oracle="""
    SELECT item, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS item FROM documents)
    GROUP BY item
    ORDER BY cnt DESC, item
    LIMIT 20
    """,
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-20 tokens computed over a STREAM: each of 4 real
    micro-batches contributes its bounded Misra-Gries partial summaries
    (foreachBatch appends <= counters rows per partition per batch),
    then one exact recount of the unioned candidate set against the
    corpus. Exactness survives batching because the MG threshold
    telescopes: an item with global count > n/(c+1) must exceed
    n_b/(c+1) in at least one batch (sum argument), so it appears in
    some batch's summary and the recount fixes its exact rank. Same
    plain top-k SQL oracle as the batch q_heavy_hitters — the driver
    hash certifies stream == batch for a sketch whose merges are
    LOSSY (unlike CMS), which is why the candidate-union + recount
    two-phase is the correct streaming shape."""
    from .catalog import load_table
    from .operators import sketches as SK

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    def fold(batch_df: DataFrame, out: str, bid: int) -> None:
        toks = batch_df.select(F.explode(F.split("text", " ")).alias("tok"))
        _write_partial(SK.misra_gries_partials(toks, "tok", counters=256), out, bid)

    partials = _stream_fold_partials(spark, "stream_hh_", docs, fold)
    candidates = spark.read.parquet(partials).select("item").distinct()
    toks = docs.select(F.explode(F.split("text", " ")).alias("item"))
    return (
        toks.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("item"))
        .limit(20)
    )


@query(
    "q_stream_drift",
    oracle="""
    WITH g AS (
      SELECT n_chars // 50 AS bin,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
      FROM documents GROUP BY 1),
    t AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS pt,
                 CAST(sum(cnt_b) AS BIGINT) AS qt FROM g)
    SELECT g.bin, g.cnt_a, g.cnt_b,
           CASE WHEN t.pt = 0 OR t.qt = 0 THEN CAST(0 AS BIGINT) ELSE
           CAST(floor(1000000000.0 * (
             (CAST(g.cnt_a * t.qt - g.cnt_b * t.pt AS DOUBLE) *
              CAST(g.cnt_a * t.qt - g.cnt_b * t.pt AS DOUBLE)) /
             (CAST(t.pt AS DOUBLE) * CAST(t.qt AS DOUBLE) *
              CAST(g.cnt_a + g.cnt_b AS DOUBLE)))) AS BIGINT) END AS chi2_x1e9
    FROM g, t
    """,
)
def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: the corpus arrives as 4 micro-batches
    (maxFilesPerTrigger=1 over a pre-split source) and foreachBatch
    folds each batch's PARTIAL per-bin histogram (bin, cnt_a, cnt_b)
    into an append-only counter store; the merged counters finalize
    through the same chi-square expression as the batch report
    (profile.drift_finalize) and must equal it EXACTLY — histograms are
    mergeable summaries, so a 100 TB live ingest maintains its drift
    report without ever re-scanning the corpus. Shares q_profile_drift's
    oracle: the driver hash certifies stream-merge == batch."""
    from .catalog import load_table
    from .operators.profile import drift_finalize

    docs = load_table(spark, "documents", sf_dir).select("lang", "n_chars")

    def fold(batch_df: DataFrame, out: str, bid: int) -> None:
        en = F.col("lang") == "en"
        partial = batch_df.groupBy(F.expr("n_chars div 50").alias("bin")).agg(
            F.sum(F.when(en, 1).otherwise(0)).alias("cnt_a"),
            F.sum(F.when(en, 0).otherwise(1)).alias("cnt_b"),
        )
        _write_partial(partial, out, bid)

    partials = _stream_fold_partials(spark, "stream_drift_", docs, fold)
    merged = (
        spark.read.parquet(partials)
        .groupBy("bin")
        .agg(F.sum("cnt_a").alias("cnt_a"), F.sum("cnt_b").alias("cnt_b"))
    )
    return drift_finalize(merged)


@query(
    "q_stream_shard_manifest",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             md5('fp:' || CAST(doc_id AS VARCHAR)) AS kk,
             md5('shard:' || CAST(doc_id AS VARCHAR)) AS kk2
      FROM documents
    ), f AS (
      SELECT CAST((strpos('0123456789abcdef', substr(kk2, 1, 1)) - 1) * 72057594037927936 +
             (strpos('0123456789abcdef', substr(kk2, 2, 1)) - 1) * 4503599627370496 +
             (strpos('0123456789abcdef', substr(kk2, 3, 1)) - 1) * 281474976710656 +
             (strpos('0123456789abcdef', substr(kk2, 4, 1)) - 1) * 17592186044416 +
             (strpos('0123456789abcdef', substr(kk2, 5, 1)) - 1) * 1099511627776 +
             (strpos('0123456789abcdef', substr(kk2, 6, 1)) - 1) * 68719476736 +
             (strpos('0123456789abcdef', substr(kk2, 7, 1)) - 1) * 4294967296 +
             (strpos('0123456789abcdef', substr(kk2, 8, 1)) - 1) * 268435456 +
             (strpos('0123456789abcdef', substr(kk2, 9, 1)) - 1) * 16777216 +
             (strpos('0123456789abcdef', substr(kk2, 10, 1)) - 1) * 1048576 +
             (strpos('0123456789abcdef', substr(kk2, 11, 1)) - 1) * 65536 +
             (strpos('0123456789abcdef', substr(kk2, 12, 1)) - 1) * 4096 +
             (strpos('0123456789abcdef', substr(kk2, 13, 1)) - 1) * 256 +
             (strpos('0123456789abcdef', substr(kk2, 14, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(kk2, 15, 1)) - 1) * 1
              AS BIGINT) % 8 AS shard,
             CAST((strpos('0123456789abcdef', substr(kk, 1, 1)) - 1) * 72057594037927936 +
             (strpos('0123456789abcdef', substr(kk, 2, 1)) - 1) * 4503599627370496 +
             (strpos('0123456789abcdef', substr(kk, 3, 1)) - 1) * 281474976710656 +
             (strpos('0123456789abcdef', substr(kk, 4, 1)) - 1) * 17592186044416 +
             (strpos('0123456789abcdef', substr(kk, 5, 1)) - 1) * 1099511627776 +
             (strpos('0123456789abcdef', substr(kk, 6, 1)) - 1) * 68719476736 +
             (strpos('0123456789abcdef', substr(kk, 7, 1)) - 1) * 4294967296 +
             (strpos('0123456789abcdef', substr(kk, 8, 1)) - 1) * 268435456 +
             (strpos('0123456789abcdef', substr(kk, 9, 1)) - 1) * 16777216 +
             (strpos('0123456789abcdef', substr(kk, 10, 1)) - 1) * 1048576 +
             (strpos('0123456789abcdef', substr(kk, 11, 1)) - 1) * 65536 +
             (strpos('0123456789abcdef', substr(kk, 12, 1)) - 1) * 4096 +
             (strpos('0123456789abcdef', substr(kk, 13, 1)) - 1) * 256 +
             (strpos('0123456789abcdef', substr(kk, 14, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(kk, 15, 1)) - 1) * 1
              AS BIGINT) AS fp
      FROM s
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(bit_xor(fp) AS BIGINT) AS fingerprint
    FROM f GROUP BY 1
    """
)
def q_stream_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-sharded manifest maintained over a STREAM: shard and
    fingerprint are per-row functions of the id (shard =
    md5int60('shard:id') % 8, fingerprint member = md5int60('fp:id')),
    so each micro-batch folds a per-shard partial (count, XOR) and the
    merged store must equal the batch manifest EXACTLY — XOR's
    associativity/commutativity IS the merge, the property that lets a
    live ingest maintain membership certificates without reprocessing
    (the positional q_shard_manifest cannot stream: global positions
    need the whole corpus; hash sharding is the streaming-shape
    variant). Oracle is the batch SQL over the same polynomials."""
    from .catalog import load_table
    from .operators.sampling import _md5_int60

    docs = load_table(spark, "documents", sf_dir).select("doc_id")

    def fold(batch_df: DataFrame, out: str, bid: int) -> None:
        partial = batch_df.select(
            F.pmod(_md5_int60(F.col("doc_id"), "shard"), F.lit(8)).alias("shard"),
            _md5_int60(F.col("doc_id"), "fp").alias("fp"),
        ).groupBy("shard").agg(
            F.count(F.lit(1)).alias("n_part"),
            F.bit_xor("fp").alias("fp_part"),
        )
        _write_partial(partial, out, bid)

    partials = _stream_fold_partials(spark, "stream_manifest_", docs, fold)
    return (
        spark.read.parquet(partials)
        .groupBy("shard")
        .agg(
            F.sum("n_part").cast("bigint").alias("n_docs"),
            F.bit_xor("fp_part").cast("bigint").alias("fingerprint"),
        )
    )


@query(
    "q_stream_pack",
    oracle="""
    WITH t AS (
      SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total
      FROM documents
    ), s AS (
      SELECT CAST(unnest(generate_series(0, (total - 1) // 2048)) AS BIGINT)
               AS seq_id,
             total
      FROM t
    )
    SELECT seq_id,
           CAST(CASE WHEN seq_id < total // 2048 THEN 2048
                     ELSE total % 2048 END AS BIGINT) AS n_tok
    FROM s
    """,
)
def q_stream_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED concat-and-chunk sequence packing — the first
    order-DEPENDENT streaming fold in the tier (every other streamed
    certification folds a commutative summary; packing is a running
    concatenation). Each micro-batch packs its documents starting at
    the carried global offset (pack_sequences(base_offset=tokens
    already packed)): because chunking is a pure function of the global
    offset, the union of per-batch spans IS one pack of the whole
    arrival-order concatenation — a batch's first span continues the
    partial sequence its predecessor left open.

    What makes this CERTIFIABLE despite order dependence: the
    PER-SEQUENCE totals are order-INDEPENDENT — every sequence except
    the last holds exactly `capacity` tokens no matter how documents
    were interleaved, and the sequence count is ceil(total/capacity) —
    so the oracle derives the full (seq_id, n_tok) table from ONE
    corpus total. Span-level correctness (each batch continues exactly
    where the last ended, straddles across batch boundaries) is
    asserted in the stream==batch replay test, which re-packs the
    recorded arrival order in one shot and matches spans exactly."""
    from .catalog import load_table
    from .operators.sampling import pack_sequences

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_len")
    )

    def fold(batch_df: DataFrame, out: str, bid: int) -> None:
        # carried offset from the |batches|-row totals store (a sibling
        # of the spans store), NOT by re-summing the growing spans store
        # — one tiny row per micro-batch is the same bounded-state shape
        # as every other fold in this tier. Missing-store is the ONLY
        # tolerated read failure, probed through the store's own Hadoop
        # FileSystem (driver-local os.path.exists is False for any
        # non-local base, which would silently reset the offset to 0 —
        # the corruption this check exists to prevent); any other error
        # must fail the batch.
        #
        # foreachBatch is at-least-once, and this fold is the
        # order-DEPENDENT one, so both stores are keyed by batch_id and
        # published via _write_partial's dynamic partition overwrite: a
        # retried micro-batch (crash between the spans write and the
        # totals write) recomputes from the same prev — its own batch_id
        # is excluded from the carried sum — and replaces exactly its own
        # partitions, never double-appending spans at a stale offset.
        totals = out.rstrip("/").rsplit("/", 1)[0] + "/totals"
        prev = 0
        if _hadoop_path_exists(spark, totals):
            # EXPLICIT schema + partition-pruned filter: the retried
            # batch's own partition may hold a torn file on a
            # rename-lying filesystem (the versioned.py torn-checkpoint
            # window, VERDICT r9 item 8). The batch_id != bid predicate
            # prunes that directory before any footer is opened, and the
            # explicit schema stops schema INFERENCE from picking the
            # torn file's footer at load time — so the recovery path
            # (read carried state minus self, recompute, dynamically
            # overwrite own partition, which deletes the torn file)
            # never touches the damage. Tested in
            # test_streaming.test_torn_partial_partition_recovers.
            prev = (
                spark.read.schema("t long, batch_id int")
                .parquet(totals)
                .filter(F.col("batch_id") != bid)
                .agg(F.sum("t"))
                .collect()[0][0]
                or 0
            )
        spans = pack_sequences(
            batch_df, "doc_id", "n_len", capacity=2048, base_offset=prev
        )
        _write_partial(spans, out, bid)
        # positive lengths only — exactly what pack_sequences packs, so
        # the carried offset can never drift from the span stream
        total = batch_df.filter(F.col("n_len") > 0).agg(
            F.sum(F.col("n_len").cast("long")).alias("t")
        )
        _write_partial(total, totals, bid)

    partials = _stream_fold_partials(spark, "stream_pack_", docs, fold)
    return (
        spark.read.parquet(partials)
        .groupBy("seq_id")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tok"))
    )
