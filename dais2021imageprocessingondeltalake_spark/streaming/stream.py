"""Streaming source/sink builders (SURVEY.md §2 A7-A8, H1-H3; §3.3).

The reference's streaming pipeline is a stateless Delta→Delta incremental
map: `readStream.option("maxFilesPerTrigger",1).table(...)` →  same
transform as batch → `writeStream.outputMode("append")
.option("checkpointLocation", p)` (`03. Inference.py:73-108`). The key
property the engine preserves is *source polymorphism*: one transform
function builds both the batch and the streaming plan (H2) — Spark's
unified DataFrame API makes the logical plan identical, only the source
and sink differ.

Scale notes: `maxFilesPerTrigger` is the admission-control knob bounding
per-micro-batch memory when rows carry ~100KB binary payloads (§4.2);
checkpointing gives exactly-once sink semantics on retry (offset WAL +
sink commit log under the checkpoint dir).
"""

from __future__ import annotations

import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..session import SHUFFLE_PARTITIONS, partition_conf

Transform = Callable[[DataFrame], DataFrame]


def _drain(writer: DataStreamWriter) -> None:
    """Run a configured streaming sink to completion with `availableNow`
    ('process everything currently in the source, then stop') — the one
    drain every engine sink goes through.

    A fresh checkpoint records the session's spark.sql.shuffle.partitions
    as its shuffle/state partition count; a resumed one keeps its own. A
    value the session set (get_spark sizes it) is used as is. A session
    that never set it (Spark's built-in default) runs the query under
    session.partition_conf(master, that default), as get_spark would size
    it, and has the settings it had not set unset again after.
    """
    spark = writer._spark
    conf = spark.conf.getAll
    pinned = {}
    if SHUFFLE_PARTITIONS not in conf:
        default = int(spark.conf.get(SHUFFLE_PARTITIONS))
        sizing = partition_conf(spark.sparkContext.master, default)
        pinned = {k: v for k, v in sizing.items() if k not in conf}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    try:
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        for k in pinned:
            spark.conf.unset(k)


# Raw schema of events.parquet. The file has shipped in two physical
# generations: TIMESTAMP(NANOS) — read as long under nanosAsLong (see
# catalog.load_table) and divided down to microseconds — and native
# timestamp[us], which passes through untouched. File-stream sources
# need an explicit schema, so probe the footer once (driver-side
# metadata read, not a data scan) and build the matching raw schema.
def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


def _normalize_events(df: DataFrame) -> DataFrame:
    if dict(df.dtypes)["ts"] == "bigint":  # legacy TIMESTAMP(NANOS) file
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # native timestamp[us] reads as TIMESTAMP_NTZ → session-tz TIMESTAMP
    # (UTC session, same instant) so both generations yield one type
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded side of the polymorphic pair."""
    schema = _events_raw_schema(spark, sf_dir)
    return _normalize_events(
        spark.read.schema(schema).parquet(f"{sf_dir}/events.parquet")
    )


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Unbounded side (A7/H1): file-stream source over the same parquet,
    with the reference's admission-control option
    (`maxFilesPerTrigger`, `03. Inference.py:75`)."""
    schema = _events_raw_schema(spark, sf_dir)
    # file-stream sources take a directory: scan sf_dir filtered to the
    # events file (pathGlobFilter prunes at listing time)
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _normalize_events(reader.parquet(sf_dir))


def run_stream_to_memory(
    streaming_df: DataFrame,
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Test/driver harness (A8/H3): checkpointed memory sink driven to
    completion with `availableNow` — deterministic 'process everything
    currently in the source, then stop', so stream results are comparable
    to batch results (`stream == batch` is the H2 invariant the tests
    assert)."""
    spark = streaming_df.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    _drain(
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir or tempfile.mkdtemp(prefix="dais_ckpt_"))
    )
    return spark.table(name)


def run_stream_to_files(
    streaming_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """A8/H3 — the reference's real sink shape: append-mode file sink with
    a checkpoint (`03. Inference.py:102-108`; parquet stands in for
    Delta). Unlike the memory sink this supports checkpoint *recovery*:
    rerunning with the same checkpoint resumes from committed offsets —
    the exactly-once property tests assert."""
    _drain(
        streaming_df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )


def batch_and_stream(
    spark: SparkSession,
    sf_dir: str,
    transform: Transform,
    output_mode: str = "append",
) -> tuple[DataFrame, DataFrame]:
    """H2 — apply ONE transform to both the bounded and unbounded source
    (`03. Inference.py` applies the identical withColumn chain at :32-34
    and :88-91); returns (batch_result, stream_result_materialized)."""
    batch = transform(events_batch(spark, sf_dir))
    stream = run_stream_to_memory(transform(events_stream(spark, sf_dir)), output_mode)
    return batch, stream


def run_stream_upsert_foreachbatch(
    streaming_df: DataFrame,
    table_path: str,
    keys: list[str],
    checkpoint_dir: str,
    order_col: str | None = None,
) -> None:
    """Streaming MERGE-into-table via foreachBatch — the CDC sink pattern
    (on Delta this is `merge into` per micro-batch; here the parquet
    emulation: anti-join keep + union, full-table rewrite). foreachBatch
    hands each micro-batch to arbitrary BATCH code with the batch id, so
    any batch operator (operators/merge.upsert) becomes a streaming sink.

    Idempotence note: the rewrite happens under the checkpoint's batch
    tracking — a replayed batch re-applies the same upsert, and upsert is
    idempotent for identical input (same keys replaced with same rows),
    so exactly-once TABLE STATE holds even though parquet lacks Delta's
    transactional log. At 100 TB, partition the table and swap in
    overwrite_partitions_dynamic so each batch rewrites only touched
    partitions.

    Each micro-batch is first COMPACTED to one row per key (latest by
    `order_col`, ties broken arbitrarily-but-deterministically by the
    remaining columns) — a raw event batch has many rows per key, and
    MERGE semantics are defined for one source row per key (Delta's MERGE
    throws on duplicate matches; CDC feeds pre-compact the same way)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.merge import upsert

    def compact(batch_df: DataFrame) -> DataFrame:
        if order_col is None:
            return batch_df.dropDuplicates(keys)
        w = Window.partitionBy(*keys).orderBy(
            F.col(order_col).desc(),
            *[F.col(c).desc() for c in batch_df.columns if c not in (*keys, order_col)],
        )
        return (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pathlib import Path

        spark = batch_df.sparkSession
        compacted = compact(batch_df)
        # existence probe, not read-and-catch: a failed read logs a noisy
        # WARN stack trace per first batch (a catalog lookup at real scale)
        if not Path(table_path).exists():
            compacted.write.mode("overwrite").parquet(table_path)
            return
        target = spark.read.parquet(table_path)
        merged = upsert(target, compacted, keys)
        # materialize before overwriting the directory being read
        merged.localCheckpoint().write.mode("overwrite").parquet(table_path)

    _drain(
        streaming_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def run_stream_scd2_foreachbatch(
    streaming_df: DataFrame,
    table_path: str,
    key: str,
    ts_col: str,
    attr_col: str,
    checkpoint_dir: str,
) -> None:
    """Streaming SCD2 dimension maintenance via foreachBatch: each
    micro-batch of change events folds into the dimension table with
    scd2_apply_history — only keys present in the batch have their
    version runs rebuilt; untouched keys pass through.

    Replay-safe by construction: scd2_apply_history rebuilds touched
    keys from (current version rows + batch events) with run-collapse,
    and a replayed event either coincides with an existing version's
    (valid_from, attr) — collapsing into it — or falls inside a run with
    the same attribute — a no-op. So a re-delivered micro-batch leaves
    the table bit-identical, giving exactly-once TABLE STATE on top of
    at-least-once delivery, same as the MERGE sink above."""
    from ..operators.temporal import scd2_apply_history, scd2_from_history

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pathlib import Path

        spark = batch_df.sparkSession
        events = batch_df.select(key, ts_col, attr_col)
        if not Path(table_path).exists():  # first batch: bootstrap
            out = scd2_from_history(events, key=key, ts=ts_col, attr=attr_col)
            out.write.mode("overwrite").parquet(table_path)
            return
        dim = spark.read.parquet(table_path)
        folded = scd2_apply_history(dim, events, key=key, ts=ts_col, attr=attr_col)
        folded.localCheckpoint().write.mode("overwrite").parquet(table_path)

    _drain(
        streaming_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream source over any corpus table (generalizes
    events_stream): probe the parquet footer for the schema (file-stream
    sources require one), glob-filter the directory listing to the
    table's file, optional admission control. Lets every batch operator
    tier (curation filters, quality scoring, dedup predicates) run
    unchanged as a stream transform — the H2 polymorphism property on
    arbitrary tables. `events` routes through the same raw-schema probe +
    ts normalization as events_stream, so both physical generations of
    that table (TIMESTAMP(NANOS) and timestamp[us]) stream identically."""
    if table == "events":
        return events_stream(spark, sf_dir, max_files_per_trigger)
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(sf_dir)
