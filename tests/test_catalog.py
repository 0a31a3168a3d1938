"""Declared table schemas: each equals what Spark infers from the parquet
footer, so reading with it changes no plan and runs no footer-read job."""

from __future__ import annotations

import uuid
from pathlib import Path

import pytest
from pyspark.sql import types as T

from dais2021imageprocessingondeltalake_spark import catalog
from dais2021imageprocessingondeltalake_spark.catalog import SCHEMAS, load_table
from perfbench.inputs import corpus_tables, write_tables

from .conftest import SF_DIR

TESTDATA = Path(SF_DIR).parent
SCALES = [p for p in ("sf0.001", "sf0.01", "sf0.1") if (TESTDATA / p).is_dir()]


def test_every_table_but_events_is_declared():
    assert set(SCHEMAS) == set(catalog.TABLES) - {"events"}


@pytest.mark.parametrize("scale", SCALES)
def test_declared_schema_equals_inferred(spark, scale):
    sf_dir = str(TESTDATA / scale)
    for name in SCHEMAS:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert load_table(spark, name, sf_dir).schema == inferred, name


def test_declared_schema_equals_benchmark_corpus(spark, tmp_path):
    write_tables(corpus_tables(seed=3, n_docs=40, n_vecs=12), tmp_path)
    for name in ("documents", "embeddings"):
        inferred = spark.read.parquet(f"{tmp_path}/{name}.parquet").schema
        assert load_table(spark, name, str(tmp_path)).schema == inferred, name


def _jobs_of(spark, fn) -> list[int]:
    """Ids of the Spark jobs `fn()` runs, read by job group from the
    status tracker once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"load-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_declared_load_runs_no_job(spark, sf_dir):
    for name in SCHEMAS:
        assert _jobs_of(spark, lambda: load_table(spark, name, sf_dir)) == [], name


def test_events_still_infers_its_schema(spark, sf_dir):
    # the positive control of the job count above: inference reads the footer
    assert _jobs_of(spark, lambda: load_table(spark, "events", sf_dir))
    ts = load_table(spark, "events", sf_dir).schema["ts"].dataType
    assert isinstance(ts, T.TimestampType)
