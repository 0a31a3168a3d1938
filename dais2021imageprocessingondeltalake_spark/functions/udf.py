"""Arrow-vectorized Python-boundary operators (SURVEY.md §2 I1-I4, J5).

Engine rule (SURVEY.md §4.3): no row-at-a-time `F.udf` on the data path —
pandas/Arrow UDFs only. Every factory here produces a vectorized form:

- `scalar_pandas_udf`   — I1/I2: series→series or series→struct-frame UDF
                          declared with a DDL schema string, like the
                          reference's `@pandas_udf("width: int, height: int")`
                          (`01. Ingest.py:54-62`) and `@pandas_udf("long")`
                          closure-dict mapper (`01. Ingest.py:80-82`).
- `grouped_apply`       — I3: `groupBy(keys).applyInPandas(fn, schema)`,
                          the reference's grayscale augmentation shape
                          (`01. Ingest.py:102-126`).
- `map_batches`         — J5: `mapInPandas` per-partition batch iterator,
                          the relational equivalent of petastorm's
                          TransformSpec (`02.a:157-180`).
- `model_udf`           — I4: wrap any `predict(pd.DataFrame) -> list`
                          callable as a column function, the engine's
                          MLflow-free `mlflow.pyfunc.spark_udf`
                          (`03. Inference.py:28,86`; wrappers
                          `02.b:288-346`). The callable is pickled into
                          the UDF closure and ships once per executor.

At 100 TB the Python boundary is the throughput cliff: each call crosses
JVM→Arrow→pandas. Batch size is governed by
`spark.sql.execution.arrow.maxRecordsPerBatch`; grouped_apply requires a
full shuffle on the group key and materializes each group in one pandas
frame, so groups must fit in executor memory — prefer map_batches when
per-group semantics aren't required. Each Python task also pays a fixed
floor before fn runs (functions/pydaemon.py cuts it on local sessions).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def scalar_pandas_udf(fn: Callable[..., pd.Series | pd.DataFrame], returns: str | T.DataType):
    """I1/I2 — vectorized scalar UDF with a declared result schema.
    `returns` may be a DDL string (struct: "width: int, height: int")."""
    return F.pandas_udf(fn, returns)


def grouped_apply(
    df: DataFrame,
    keys: Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str | T.StructType,
) -> DataFrame:
    """I3 — grouped-map: shuffle by keys, hand each group to `fn` as one
    pandas frame, emit its frame under `schema` (UDTF-shaped: output
    cardinality is fn's choice)."""
    return df.groupBy(*keys).applyInPandas(fn, schema)


def map_batches(
    df: DataFrame,
    fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    schema: str | T.StructType,
) -> DataFrame:
    """J5 — partition-local batch transform; no shuffle, preserves
    partitioning. The late-decode path for multimodal payloads
    (SURVEY.md §4.2: store bytes, decode in flight)."""
    return df.mapInPandas(fn, schema)


def model_udf(
    predict: Callable[[pd.DataFrame], Sequence[Any]],
    result_type: str | T.DataType,
    input_cols: Sequence[str | Column] | None = None,
):
    """I4 — model-as-UDF factory. `predict` takes a pandas DataFrame of the
    struct's fields and returns one result per row; the returned function
    maps selected columns to a result column.

    Usage: `df.withColumn("pred", model_udf(fn, "array<string>")(struct("origin")))`
    — mirroring `mlflow.pyfunc.spark_udf(...)` applied to `struct("origin")`
    (`03. Inference.py:28,33`)."""

    @F.pandas_udf(result_type)
    def _udf(batch: pd.DataFrame) -> pd.Series:
        return pd.Series(list(predict(batch)))

    if input_cols is None:
        return _udf

    def apply(df: DataFrame, out_col: str) -> DataFrame:
        return df.withColumn(out_col, _udf(F.struct(*input_cols)))

    return apply


def map_batches_arrow(
    df: DataFrame,
    fn: Callable[[Iterator["pa.RecordBatch"]], Iterator["pa.RecordBatch"]],
    schema: str | T.StructType,
) -> DataFrame:
    """Partition-local batch transform over RAW ARROW RecordBatches
    (mapInPandas minus the pandas materialization): the lowest-overhead
    Python boundary — no pandas Series construction, no index, no
    object-dtype round-trips for strings. The right boundary when the
    Python side is itself Arrow-native (pyarrow.compute, polars, DuckDB,
    tokenizers with Arrow bindings). Same no-shuffle, partition-
    preserving contract as map_batches."""
    return df.mapInArrow(fn, schema)
