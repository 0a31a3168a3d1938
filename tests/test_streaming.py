"""Streaming invariants (SURVEY.md §5.2 items 2 & 4): stream==batch under
the same transform; admission control produces multiple micro-batches;
checkpoint recovery does not duplicate a completed run's output."""

from __future__ import annotations

import ast
import contextlib
import inspect
import json
import os
import re
import tempfile
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

import dais2021imageprocessingondeltalake_spark as pkg
from dais2021imageprocessingondeltalake_spark.session import (
    INITIAL_PARTITIONS as INITIAL,
    SHUFFLE_PARTITIONS as SHUFFLE,
    _local_slots,
    get_spark,
    partition_conf,
)
from dais2021imageprocessingondeltalake_spark.streaming.joins import stream_dedup_keys
from dais2021imageprocessingondeltalake_spark.streaming.stream import (
    _drain,
    batch_and_stream,
    events_batch,
    events_stream,
    run_stream_to_files,
    run_stream_to_memory,
)
from dais2021imageprocessingondeltalake_spark.streaming.windows import tumbling_window_agg

from .conftest import SF_DIR


def _agg(df):
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total"),
    )


def test_stream_equals_batch_agg(spark):
    """H2 — one transform, two plans, same result."""
    batch, stream = batch_and_stream(spark, SF_DIR, _agg, output_mode="complete")
    assert batch.exceptAll(stream).count() == 0
    assert stream.exceptAll(batch).count() == 0


def test_stream_equals_batch_stateless_map(spark):
    """The reference's exact streaming shape (`03. Inference.py:88-91`):
    stateless withColumn transform applied to stream and batch."""

    def transform(df):
        return df.select(
            "event_id", (F.col("value") * 2).alias("v2"), F.upper("event_type").alias("et")
        )

    batch, stream = batch_and_stream(spark, SF_DIR, transform, output_mode="append")
    assert batch.exceptAll(stream).count() == 0
    assert stream.exceptAll(batch).count() == 0


def test_windowed_agg_stream(spark):
    """H4 — watermarked tumbling windows over event time."""
    stream = events_stream(spark, SF_DIR)
    windowed = tumbling_window_agg(
        stream, "ts", "1 hour", [F.count(F.lit(1)).alias("n")], watermark="1 hour"
    )
    out = run_stream_to_memory(windowed, output_mode="complete")
    total = out.agg(F.sum("n")).collect()[0][0]
    assert total == events_batch(spark, SF_DIR).count()


def test_checkpoint_no_duplicates_on_rerun(spark):
    """H3 — exactly-once: rerunning a completed query against the same
    checkpoint+sink appends nothing (offsets already committed)."""
    base = tempfile.mkdtemp(prefix="dais_ckpt_reuse_")
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    src = events_stream(spark, SF_DIR).select("event_id")
    run_stream_to_files(src, out, ckpt)
    n1 = spark.read.parquet(out).count()
    run_stream_to_files(events_stream(spark, SF_DIR).select("event_id"), out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n1 == events_batch(spark, SF_DIR).count()
    assert n2 == n1  # rerun from committed checkpoint appends nothing


def test_foreachbatch_stream_upsert(spark, tmp_path):
    """Streaming MERGE sink: draining the event stream through
    foreachBatch+upsert must leave the table equal to the batch
    'latest row per key' — the CDC table-maintenance pattern."""
    from pyspark.sql import Window as W

    from dais2021imageprocessingondeltalake_spark.streaming.stream import (
        events_batch,
        events_stream,
        run_stream_upsert_foreachbatch,
    )

    sf = SF_DIR
    table = str(tmp_path / "state_table")
    ckpt = str(tmp_path / "ckpt")
    stream = events_stream(spark, sf, max_files_per_trigger=1).select(
        "user_id", "event_type", "ts", "value"
    )
    # key = (user_id, event_type), compacted per batch to latest-by-ts
    run_stream_upsert_foreachbatch(
        stream, table, ["user_id", "event_type"], ckpt, order_col="ts"
    )
    got = spark.read.parquet(table)
    batch = events_batch(spark, sf).select("user_id", "event_type", "ts", "value")
    assert got.count() == batch.select("user_id", "event_type").distinct().count()
    # every key present exactly once
    dupes = got.groupBy("user_id", "event_type").count().filter(F.col("count") > 1)
    assert dupes.count() == 0
    # survivor per key carries each key's max event time (single-file source
    # = one batch, so the batch latest IS the global latest)
    expect = {
        (r["user_id"], r["event_type"]): r["max_ts"]
        for r in batch.groupBy("user_id", "event_type")
        .agg(F.max("ts").alias("max_ts"))
        .collect()
    }
    for r in got.collect():
        assert r["ts"] == expect[(r["user_id"], r["event_type"])]


def test_foreachbatch_stream_scd2(spark, tmp_path):
    """Streaming SCD2 sink: folding the event stream micro-batch by
    micro-batch must leave the dimension table EQUAL to the full-history
    batch rebuild — versions, validity ranges, is_current flags, all of
    it. Then re-applying the final batch (simulated replay) must leave
    the table unchanged (exactly-once table state on at-least-once
    delivery)."""
    from dais2021imageprocessingondeltalake_spark.operators.temporal import (
        scd2_apply_history,
        scd2_from_history,
    )
    from dais2021imageprocessingondeltalake_spark.streaming.stream import (
        events_batch,
        events_stream,
        run_stream_scd2_foreachbatch,
    )

    table = str(tmp_path / "dim_table")
    ckpt = str(tmp_path / "ckpt")
    stream = events_stream(spark, SF_DIR, max_files_per_trigger=1).select(
        "user_id", "ts", "event_type"
    )
    run_stream_scd2_foreachbatch(stream, table, "user_id", "ts", "event_type", ckpt)
    got = spark.read.parquet(table)
    full = scd2_from_history(
        events_batch(spark, SF_DIR).select("user_id", "ts", "event_type"),
        key="user_id", ts="ts", attr="event_type",
    )
    g = sorted(map(tuple, got.collect()))
    assert g == sorted(map(tuple, full.collect()))
    # replay: folding the whole history again must be a no-op
    replayed = scd2_apply_history(
        got, events_batch(spark, SF_DIR).select("user_id", "ts", "event_type"),
        key="user_id", ts="ts", attr="event_type",
    )
    assert sorted(map(tuple, replayed.collect())) == g


class TestStreamCrossDedup:
    def test_stream_flags_equal_batch_flags(self, spark):
        """The foreachBatch incremental dedup (precomputed ref index) must
        produce exactly the batch cross_corpus flags — the H2 polymorphism
        property extended to the production dedup shape."""
        from dais2021imageprocessingondeltalake_spark import queries_all as q

        sf = SF_DIR
        stream_out = {
            (r.doc_id, r.is_dup)
            for r in q.REGISTRY["q_stream_cross_dedup"].fn(spark, sf).collect()
        }
        batch_out = {
            (r.doc_id, r.is_dup)
            for r in q.REGISTRY["q_cross_dedup"].fn(spark, sf).collect()
        }
        assert stream_out == batch_out
        assert any(d for _, d in stream_out)  # non-vacuous: dups exist


def test_versioned_stream_sink_exactly_once(spark):
    """Streaming appends into the versioned table: content equals the
    batch source; rerun with the same checkpoint adds nothing; and a
    LOST-CHECKPOINT rerun (batches replay with the same ids) is absorbed
    by the log's stream_batch_id dedup — exactly-once table state on
    at-least-once delivery, Delta's idempotent-writes contract."""
    from dais2021imageprocessingondeltalake_spark.sources import versioned as V
    from dais2021imageprocessingondeltalake_spark.streaming.stream import (
        events_batch,
        events_stream,
    )

    base = tempfile.mkdtemp(prefix="dais_vsink_")
    table, ckpt = f"{base}/tbl", f"{base}/ckpt"
    src = events_stream(spark, SF_DIR, max_files_per_trigger=1).select("event_id")
    V.versioned_stream_sink(src, table, ckpt)
    expected = events_batch(spark, SF_DIR).count()
    v1 = V.latest_version(table)
    assert V.versioned_read(spark, table).count() == expected

    # rerun, same checkpoint: offsets committed, nothing new
    V.versioned_stream_sink(
        events_stream(spark, SF_DIR, max_files_per_trigger=1).select("event_id"),
        table, ckpt,
    )
    assert V.versioned_read(spark, table).count() == expected
    assert V.latest_version(table) == v1

    # checkpoint lost: batches replay with the same batch ids -> skipped
    import shutil

    shutil.rmtree(ckpt)
    V.versioned_stream_sink(
        events_stream(spark, SF_DIR, max_files_per_trigger=1).select("event_id"),
        table, f"{base}/ckpt2",
    )
    assert V.versioned_read(spark, table).count() == expected
    assert V.latest_version(table) == v1


def test_stream_temperature_rebalance_matches_batch(spark):
    """The temperature policy's streaming shape: rates derived from the
    corpus SNAPSHOT (batch aggregate), applied in-flight to the document
    stream via a stream-static broadcast join — with availableNow the
    kept set equals the batch rebalance exactly (H2 polymorphism extends
    to data-dependent policies when the statistic is snapshot-derived)."""
    from pyspark.sql import functions as F

    from dais2021imageprocessingondeltalake_spark.catalog import load_table
    from dais2021imageprocessingondeltalake_spark.operators import sampling as S
    from dais2021imageprocessingondeltalake_spark.operators import text as TX
    from dais2021imageprocessingondeltalake_spark.streaming.stream import (
        run_stream_to_memory,
        table_stream,
    )

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "lang", "text")
    rates = S.temperature_rates(
        docs, "lang", TX.token_count(F.col("text")), alpha=0.3
    ).localCheckpoint()

    batch_kept = {
        r["doc_id"]
        for r in S.apply_rate_table(docs, rates, "doc_id", "lang").collect()
    }

    stream = table_stream(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    streamed = run_stream_to_memory(
        S.apply_rate_table(stream, rates, "doc_id", "lang").select("doc_id"),
        output_mode="append",
    )
    stream_kept = {r["doc_id"] for r in streamed.collect()}
    assert stream_kept == batch_kept and batch_kept


def test_stream_left_outer_join_flushed_region(spark):
    """Left-outer stream-stream join: the drained+flushed output must
    (a) contain null-padded rows (the left-outer value-add over inner),
    (b) have its matched subset equal the inner interval join on the
    same region, and (c) never emit a click younger than the flushed
    bound (those are still in state when the drain stops)."""
    from dais2021imageprocessingondeltalake_spark import queries_all  # noqa: F401
    from dais2021imageprocessingondeltalake_spark.registry import REGISTRY
    from dais2021imageprocessingondeltalake_spark.streaming.stream import events_batch

    from pyspark.sql import functions as F

    df = REGISTRY["q_stream_left_join"].fn(spark, SF_DIR).cache()
    assert df.filter(F.col("purchase_id").isNull()).count() > 0
    matched = df.filter(F.col("purchase_id").isNotNull())
    ev = events_batch(spark, SF_DIR)
    c = ev.filter(F.col("event_type") == "click").alias("c")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    inner = c.join(
        p,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
    )
    assert matched.exceptAll(inner).count() == 0
    wb = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type").agg(F.max("ts").alias("m"))
        .agg(F.min("m").alias("wb")).first()["wb"]
    )
    late = df.join(
        c.select(F.col("event_id").alias("click_id"), F.col("ts")), "click_id"
    ).filter(F.col("ts") + F.expr("INTERVAL 2 HOUR") + F.expr("INTERVAL 1 MINUTE") >= F.lit(wb))
    assert late.count() == 0


class TestStreamPack:
    def test_streamed_spans_equal_one_shot_replay_of_arrival_order(self, spark):
        """The carry-over algebra: each micro-batch packs from the
        carried offset, so the union of per-batch spans must equal ONE
        pack of the whole arrival-order concatenation — including spans
        that straddle a micro-batch boundary (a batch's first sequence
        continues its predecessor's last). The replay orders by
        (batch_id, md5(doc_id), doc_id), exactly the order the fold
        consumed."""
        from dais2021imageprocessingondeltalake_spark.catalog import load_table
        from dais2021imageprocessingondeltalake_spark.operators.sampling import (
            pack_sequences,
        )
        from dais2021imageprocessingondeltalake_spark.queries_streaming import (
            _fresh_tmpdir,
        )

        cap = 512
        docs = load_table(spark, "documents", SF_DIR).select(
            "doc_id", F.size(F.split("text", " ")).alias("n_len")
        )
        base = _fresh_tmpdir("test_stream_pack_")
        docs.repartition(3).write.parquet(f"{base}/src")
        schema = spark.read.parquet(f"{base}/src").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/src")
        )
        out = f"{base}/spans"

        def fold(batch_df, bid):
            import os

            prev = 0
            if os.path.exists(out):  # missing-store = first batch only
                prev = (
                    spark.read.parquet(out).agg(F.sum("n_tok")).collect()[0][0]
                    or 0
                )
            pack_sequences(
                batch_df, "doc_id", "n_len", capacity=cap, base_offset=prev
            ).withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(out)

        (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        streamed = spark.read.parquet(out)
        assert streamed.select("batch_id").distinct().count() == 3
        batch_map = streamed.groupBy("doc_id").agg(
            F.min("batch_id").alias("batch_id")
        )
        replay_in = docs.join(batch_map, "doc_id")
        replayed = pack_sequences(
            replay_in,
            "doc_id",
            "n_len",
            capacity=cap,
            order=[
                F.col("batch_id"),
                F.md5(F.col("doc_id").cast("string")),
                F.col("doc_id"),
            ],
        )
        got = {
            (r["doc_id"], r["seq_id"], r["doc_from"], r["doc_to"], r["pos_in_seq"])
            for r in streamed.collect()
        }
        want = {
            (r["doc_id"], r["seq_id"], r["doc_from"], r["doc_to"], r["pos_in_seq"])
            for r in replayed.collect()
        }
        assert got == want and got
        # at least one micro-batch boundary straddle exists unless every
        # batch's token total happens to be a multiple of cap — with the
        # corpus's ragged lengths the partial-continuation path is hit
        fills = {
            r["seq_id"]: r["n"]
            for r in streamed.groupBy("seq_id")
            .agg(F.sum("n_tok").alias("n"))
            .collect()
        }
        last = max(fills)
        assert all(n == cap for s, n in fills.items() if s != last)


class TestFoldIdempotency:
    """foreachBatch is at-least-once: a micro-batch can re-run after a
    crash anywhere between its writes and the epoch commit. The partial
    stores must therefore absorb a replayed batch_id without
    double-counting (ADVICE r6) — _write_partial's dynamic partition
    overwrite is the mechanism, and the order-dependent pack fold's
    carried offset must exclude its own batch_id when recomputing."""

    def test_write_partial_replay_replaces_not_appends(self, spark):
        from dais2021imageprocessingondeltalake_spark.queries_streaming import (
            _fresh_tmpdir,
            _write_partial,
        )

        out = _fresh_tmpdir("test_idem_") + "/partials"
        df = spark.range(5).select(F.col("id"), F.lit(1).alias("cnt"))
        _write_partial(df, out, 0)
        _write_partial(df, out, 1)
        # batch 1 retries: same rows land again under the same batch_id
        _write_partial(df, out, 1)
        merged = spark.read.parquet(out).groupBy("id").agg(F.sum("cnt").alias("c"))
        assert {r["c"] for r in merged.collect()} == {2}  # not 3

    def test_pack_fold_retry_after_partial_failure_is_exact(self, spark):
        """Simulate the worst crash window for the order-dependent fold:
        batch 1's SPANS land but its TOTALS write dies; batch 1 then
        replays. The final spans store must equal a clean straight-through
        run — the retry recomputes from prev excluding its own batch_id
        and overwrites its own spans partition."""
        from dais2021imageprocessingondeltalake_spark.queries_streaming import (
            _fresh_tmpdir,
            _hadoop_path_exists,
            _write_partial,
        )
        from dais2021imageprocessingondeltalake_spark.operators.sampling import (
            pack_sequences,
        )

        cap = 7
        rows = [(f"d{i}", (i * 3) % 5 + 1) for i in range(20)]
        batches = [rows[:10], rows[10:]]

        def run(base, fail_totals_of=None, replay=None):
            out, totals = base + "/spans", base + "/totals"

            def fold(batch_rows, bid, skip_totals=False):
                bdf = spark.createDataFrame(batch_rows, ["doc_id", "n_len"])
                prev = 0
                if _hadoop_path_exists(spark, totals):
                    prev = (
                        spark.read.parquet(totals)
                        .filter(F.col("batch_id") != bid)
                        .agg(F.sum("t"))
                        .collect()[0][0]
                        or 0
                    )
                spans = pack_sequences(
                    bdf, "doc_id", "n_len", capacity=cap, base_offset=prev
                )
                _write_partial(spans, out, bid)
                if not skip_totals:
                    total = bdf.filter(F.col("n_len") > 0).agg(
                        F.sum(F.col("n_len").cast("long")).alias("t")
                    )
                    _write_partial(total, totals, bid)

            for bid, batch_rows in enumerate(batches):
                fold(batch_rows, bid, skip_totals=(bid == fail_totals_of))
            if replay is not None:
                fold(batches[replay], replay)
            return {
                (r["doc_id"], r["seq_id"], r["doc_from"], r["doc_to"])
                for r in spark.read.parquet(out).collect()
            }

        clean = run(_fresh_tmpdir("test_pack_clean_"))
        retried = run(
            _fresh_tmpdir("test_pack_retry_"), fail_totals_of=1, replay=1
        )
        assert clean == retried and clean

    def test_torn_partial_partition_recovers(self, spark):
        """VERDICT r9 item 8 — the versioned.py torn-write window,
        audited on the stream sink's batch-id state. On a local/HDFS
        filesystem Spark's output committer publishes task files by
        atomic rename, so a crash never exposes a torn parquet file;
        on a rename-lying store (raw S3) one CAN appear inside the
        crashed batch's own partition. The recovery contract the
        hardened fold guarantees: (a) the carried-state read — explicit
        schema, batch_id != bid partition-pruned filter — succeeds
        WITHOUT ever opening the torn file; (b) the replayed batch's
        dynamic partition overwrite deletes the torn file wholesale;
        (c) the merged store afterwards equals a clean run."""
        import glob

        from dais2021imageprocessingondeltalake_spark.queries_streaming import (
            _fresh_tmpdir,
            _write_partial,
        )

        base = _fresh_tmpdir("test_torn_")
        totals = base + "/totals"
        t0 = spark.createDataFrame([(3,)], "t long")
        t1 = spark.createDataFrame([(5,)], "t long")
        _write_partial(t0, totals, 0)
        _write_partial(t1, totals, 1)  # batch 1's publish... then "crash"
        torn = glob.glob(f"{totals}/batch_id=1/*.parquet")
        assert torn
        with open(torn[0], "rb") as f:
            payload = f.read()
        with open(torn[0], "wb") as f:
            f.write(payload[: len(payload) // 2])  # torn mid-publish
        # (a) the recovery read: explicit schema + pruned self-exclusion
        # works with the torn file still on disk
        prev = (
            spark.read.schema("t long, batch_id int")
            .parquet(totals)
            .filter(F.col("batch_id") != 1)
            .agg(F.sum("t"))
            .collect()[0][0]
        )
        assert prev == 3
        # (b) the replay replaces the whole torn partition
        _write_partial(t1, totals, 1)
        # (c) the store reads cleanly end-to-end and equals a clean run
        merged = (
            spark.read.parquet(totals).agg(F.sum("t")).collect()[0][0]
        )
        assert merged == 8
        for f in glob.glob(f"{totals}/batch_id=1/*.parquet"):
            with open(f, "rb") as fh:
                assert fh.read()[-4:] == b"PAR1"  # no torn file survives


@contextlib.contextmanager
def _shuffle_partitions(spark, n):
    prior = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, str(n))
    try:
        yield
    finally:
        spark.conf.set(SHUFFLE, prior)


@pytest.fixture
def restore_partitions(spark):
    """Restore the two partition settings get_spark writes into the shared
    session (get_spark on a live session reapplies its SQL confs)."""
    prior = {k: spark.conf.get(k) for k in (SHUFFLE, INITIAL)}
    yield
    for k, v in prior.items():
        spark.conf.set(k, v)


def _ckpt_partitions(ckpt, batch_id=0):
    """(shuffle partitions recorded in the offset log for `batch_id`,
    partition directories of stateful operator 0's state store)."""
    meta = json.loads(Path(ckpt, "offsets", str(batch_id)).read_text().splitlines()[1])
    state = [d for d in Path(ckpt, "state", "0").iterdir() if d.name.isdigit()]
    return int(meta["conf"][SHUFFLE]), len(state)


@pytest.mark.parametrize(
    "master,slots",
    [
        ("local", 1),
        ("local[3]", 3),
        ("local[4,2]", 4),
        ("local[*]", os.cpu_count()),
        ("spark://host:7077", None),
        ("yarn", None),
        ("local-cluster[2,1,1024]", None),
    ],
)
def test_local_slots_read_from_master(master, slots):
    assert _local_slots(master) == slots


@pytest.mark.parametrize(
    "master,explicit,want",
    [
        ("local[3]", None, (3, 32)),  # default: streams at the slots
        ("local[64]", None, (32, 32)),  # never above the batch start
        ("local[3]", 7, (7, 7)),  # an explicit value above the slots wins
    ],
)
def test_get_spark_sizes_stream_partitions(
    spark, restore_partitions, monkeypatch, tmp_path, master, explicit, want
):
    """get_spark sets spark.sql.shuffle.partitions (what a fresh stream
    checkpoint records, one state-store directory per partition) to
    min(32, slots of a local master) unless a value is given, while batch
    shuffles still start at 32 (or the given value) for AQE to coalesce."""
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    assert get_spark(master=master, shuffle_partitions=explicit) is spark
    assert (int(spark.conf.get(SHUFFLE)), int(spark.conf.get(INITIAL))) == want
    batch = events_batch(spark, SF_DIR).groupBy("event_type").count()
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert set(re.findall(r"hashpartitioning\(.*?, (\d+)\)", plan)) == {str(want[1])}
    ckpt = str(tmp_path / "ckpt")
    out = run_stream_to_memory(
        _agg(events_stream(spark, SF_DIR)), output_mode="complete", checkpoint_dir=ckpt
    )
    assert out.count() == events_batch(spark, SF_DIR).select("event_type").distinct().count()
    assert _ckpt_partitions(ckpt) == (want[0],) * 2


def test_resumed_checkpoint_keeps_its_partition_count(spark, tmp_path):
    """A checkpoint first written at 5 shuffle partitions (raw
    writeStream, outside the drain) and resumed through
    run_stream_to_files keeps 5 state partitions, whatever the session
    value is at the resume, and the deduped output equals batch DISTINCT
    across both source files."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def add_file(keys):
        rows = [(k, i) for i, k in enumerate(keys)]
        spark.createDataFrame(rows, "k long, v long").coalesce(1).write.mode("append").parquet(src)

    def dedup_stream():
        return stream_dedup_keys(spark.readStream.schema("k long, v long").parquet(src), ["k"])

    add_file(list(range(20)) * 2)
    with _shuffle_partitions(spark, 5):
        (
            dedup_stream().writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    assert _ckpt_partitions(ckpt) == (5, 5)
    add_file(list(range(10, 30)))
    assert spark.conf.get(SHUFFLE) != "5"
    run_stream_to_files(dedup_stream(), out, ckpt)
    assert _ckpt_partitions(ckpt, batch_id=1) == (5, 5)
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    want = sorted(r.k for r in spark.read.parquet(src).select("k").distinct().collect())
    assert got == want == list(range(30))


def _unset_partitions(spark):
    """Make the shared session look like one get_spark never built: both
    partition settings back at Spark's built-in defaults."""
    for k in (SHUFFLE, INITIAL):
        spark.conf.unset(k)
    default = int(spark.conf.get(SHUFFLE))
    n = int(partition_conf(spark.sparkContext.master, default)[SHUFFLE])
    assert n < default  # the test must exercise the lowering
    return default, n


def test_unset_session_value_streams_at_slots(spark, restore_partitions, tmp_path):
    """A session that never set spark.sql.shuffle.partitions runs a fresh
    stream at partition_conf(master, Spark's default); batch jobs
    inside foreachBatch still start AQE at the default; both settings are
    unset again afterwards."""
    default, n = _unset_partitions(spark)
    ckpt = str(tmp_path / "ckpt")
    run_stream_to_memory(_agg(events_stream(spark, SF_DIR)), "complete", ckpt)
    assert _ckpt_partitions(ckpt) == (n, n)
    seen = []

    def record(batch_df, batch_id):
        seen.append(tuple(batch_df.sparkSession.conf.get(k) for k in (SHUFFLE, INITIAL)))

    _drain(
        events_stream(spark, SF_DIR).writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
    )
    assert seen == [(str(n), str(default))]
    assert not {SHUFFLE, INITIAL} & spark.conf.getAll.keys()


def test_failed_drain_restores_session_conf(spark, restore_partitions, tmp_path):
    """A sink that raises surfaces as StreamingQueryException, and the
    session's partition settings are as they were before the call."""
    default, n = _unset_partitions(spark)
    seen = []

    def boom(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(SHUFFLE))
        raise RuntimeError("sink failure")

    with pytest.raises(StreamingQueryException, match="sink failure"):
        _drain(
            events_stream(spark, SF_DIR).writeStream.foreachBatch(boom)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
        )
    assert seen == [str(n)]
    assert spark.conf.get(SHUFFLE) == str(default)
    assert not {SHUFFLE, INITIAL} & spark.conf.getAll.keys()


def test_available_now_only_in_drain():
    """Every engine sink drains through streaming.stream._drain:
    `availableNow=` appears in exactly one place in the package (code
    only; comments and docstrings are not keywords in the syntax tree)."""
    root = Path(pkg.__file__).parent
    hits = [
        (path.relative_to(root).as_posix(), node.lineno)
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.keyword) and node.arg == "availableNow"
    ]
    lines, first = inspect.getsourcelines(_drain)
    assert [(f, first <= n < first + len(lines)) for f, n in hits] == [
        ("streaming/stream.py", True)
    ]
