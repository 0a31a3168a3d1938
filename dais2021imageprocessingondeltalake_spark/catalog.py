"""Synthetic-corpus catalog: loaders for the driver's parquet tables.

The reference addresses data as catalog-managed Delta tables
(`spark.table("dais_2021.flowers_train")`, `00. Explore.py:66,75`) or
path-addressed Delta (`02.b Train - PyTorch Distributed.py:80`). The test
harness is catalog-less, so tables resolve by path; the same `load_table`
call would resolve `database.table` names on a cluster with a metastore.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Declared schemas (DDL) of the fixed-schema tables: exactly what Spark
#: infers from their parquet footers, `timestamp_ntz` included. Reading
#: with a declared schema plans the scan without the one-task job that
#: schema inference runs to read a footer. `events` is not here: its `ts`
#: type differs between testdata generations (see load_table).
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,"
        " c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT,"
        " p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE,"
        " o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT,"
        " l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,"
        " l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one corpus table. Parquet scan → full Catalyst pushdown/pruning.

    `events.parquet` has shipped in two physical generations: TIMESTAMP
    (NANOS) — which Spark's parquet reader rejects by default, so it is
    read nanos-as-long and integer-divided to microseconds (matching
    DuckDB's ns→us truncation of the same file) — and native
    timestamp[us], which needs no conversion. Branch on the type the
    reader actually produced, so either file works. Every other table
    reads with its declared schema (SCHEMAS), so its load runs no job.
    """
    sf_dir = sf_dir or sf_dir_from_env()
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes)["ts"] == "bigint":  # legacy TIMESTAMP(NANOS)
            # integer div — ts/1000 in double loses precision at 1.7e18 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # native timestamp[us] reads as TIMESTAMP_NTZ; cast to the
            # session-tz TIMESTAMP (UTC session → same instant) so every
            # downstream unix_micros/window/oracle sees one type either way
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every corpus table as a temp view for the SQL API."""
    for t in TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)
