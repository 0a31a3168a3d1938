"""Inference pipeline — reference parity (`03. Inference.py`, traced at
SURVEY.md §3.3): ONE transform function produces both the batch and the
streaming plan (the unified-API property the engine preserves, H2).

    BATCH:  table scan → withColumn(origin) → model UDF over struct →
            drop → binary-tuned write (:18-51)
    STREAM: readStream(maxFilesPerTrigger) → same transform →
            writeStream(append, checkpoint) (:73-108)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udf import model_udf
from ..sources.tables import write_table
from ..streaming.stream import _drain


def score_transform(
    predict: Callable[[pd.DataFrame], Sequence[Any]],
    input_cols: Sequence[str],
    result_type: str = "array<string>",
    out_col: str = "my_predictions",
) -> Callable[[DataFrame], DataFrame]:
    """Build the reference's scoring transform (`03. Inference.py:31-34` ==
    `:88-91`): add input columns if nested, apply the model UDF to a
    struct of them, drop scratch columns. Returns a DataFrame→DataFrame
    function usable on bounded or streaming input."""
    udf = model_udf(predict, result_type)

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(out_col, udf(F.struct(*[F.col(c) for c in input_cols])))

    return transform


def batch_inference(
    df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_path: str | None = None,
) -> DataFrame:
    """Batch side (:18-51): transform + overwrite write with mergeSchema
    and the binary codec policy."""
    scored = transform(df)
    if out_path:
        write_table(scored, out_path, merge_schema=True, binary_payload=True)
    return scored


def streaming_inference(
    spark: SparkSession,
    source_dir: str,
    schema,
    transform: Callable[[DataFrame], DataFrame],
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
    glob: str | None = None,
) -> None:
    """Streaming side (:73-108): incremental file source with admission
    control (maxFilesPerTrigger=1 bounds per-batch memory for binary
    rows, §4.2), the SAME transform, append sink with checkpoint;
    availableNow → runs to completion for tests/backfills."""
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", str(max_files_per_trigger)
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    stream = transform(reader.parquet(source_dir))
    _drain(
        stream.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
    )
