"""Self-tests for the benchmark (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import checks, inputs, run, trace, workloads

BENCHMARK_JSON = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def _encode_jpeg(px):
    from dais2021imageprocessingondeltalake_spark.sources.jpeg import encode_jpeg_gray

    return encode_jpeg_gray(px, quality=90)


def _stage(seed: int, root: Path) -> dict[str, bytes]:
    """Every file the workloads stage for `seed` (base copies and pass 1)."""
    inputs.write_tables(
        {**inputs.corpus_tables(seed), "events": inputs.events_table(seed)},
        root / "tables",
    )
    inputs.write_split(inputs.events_table(seed), root / "events", 3, seed, 1)
    corpus = inputs.image_corpus(seed)
    inputs.encode_corpus(corpus, _encode_jpeg)
    base = inputs.write_image_tree(corpus, root / "images", seed, 1)
    inputs.write_split(inputs.image_rows_table(corpus, base), root / "rows", 2, seed, 1)
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_same_seed_stages_identical_bytes_and_another_seed_differs(tmp_path):
    a = _stage(5, tmp_path / "a")
    b = _stage(5, tmp_path / "b")
    c = _stage(6, tmp_path / "c")
    assert a.keys() == b.keys() and all(a[k] == b[k] for k in a)
    assert a["tables/events.parquet"] != c["tables/events.parquet"]
    assert a["tables/documents.parquet"] != c["tables/documents.parquet"]
    assert {a[k] for k in a if k.startswith("images")} != {c[k] for k in c if k.startswith("images")}


def test_passes_permute_rows_but_keep_the_multiset():
    t = inputs.corpus_tables(3)["documents"]
    p1, p2 = inputs.permuted(t, 3, 1), inputs.permuted(t, 3, 2)
    assert p1.column("doc_id").to_pylist() != p2.column("doc_id").to_pylist()
    assert sorted(p1.column("doc_id").to_pylist()) == sorted(t.column("doc_id").to_pylist())


def test_reference_png_decoder_round_trips():
    px = inputs.image_corpus(2)[0]["pixels"]
    assert (inputs.decode_png_gray(inputs.png_gray(px)) == px).all()


def test_compare_is_order_insensitive_and_bit_exact():
    want = checks.canonical(["b", "a"], [(1.0, "x"), (2.0, "y")])
    assert checks.diff(checks.canonical(["a", "b"], [("y", 2.0), ("x", 1.0)]), want) is None
    assert checks.diff(checks.canonical(["a", "b"], [("y", 2.0000000000000004), ("x", 1.0)]), want)
    assert checks.diff(checks.canonical(["a", "b"], [("x", 1.0)]), want)


def _ev(**kw) -> str:
    return json.dumps(kw)


FIXTURE_LOG = "\n".join([
    _ev(Event="SparkListenerApplicationStart", **{"App Name": "x", "Timestamp": 0}),
    "",
    _ev(Event="SparkListenerJobStart", **{
        "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
        "Properties": {"spark.jobGroup.id": trace.group_id(2, "q_x", "build"),
                       "callSite.short": "collect at /e/operators/dedup.py:10"},
    }),
    "   ",
    _ev(Event="SparkListenerTaskEnd", **{
        "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Failed": False, "Accumulables": []},
        "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8, "JVM GC Time": 5,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                         "Input Metrics": {"Bytes Read": 50, "Records Read": 7}},
    }),
    _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {
        "Stage ID": 0, "Number of Tasks": 1, "Submission Time": 1000, "Completion Time": 1500,
        "RDD Info": [{"Name": "MapPartitionsRDD", "Scope": '{"id":"1","name":"ArrowEvalPython"}'}],
    }}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1500}),
    _ev(Event="SparkListenerJobStart", **{
        "Job ID": 1, "Submission Time": 1600, "Stage IDs": [], "Properties": {"spark.jobGroup.id": "run-abc"},
    }),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 1700, "Stage IDs": []}),
    '{"Event": "SparkListenerJobEnd", "Job ID": 2, "Compl',  # log cut mid-line
])


def test_event_log_reader_skips_blank_and_partial_lines(tmp_path):
    path = tmp_path / "events"
    path.write_text(FIXTURE_LOG)
    log = trace.EventLog(trace.read_event_log(path))
    assert sorted(log.jobs) == [0, 1, 2]
    log.attribute({"run-abc": ("2", "q_stream")})
    assert log.jobs[0]["key"] == ("2", "q_x", "build")
    assert log.jobs[1]["key"] == ("2", "q_stream", "stream")
    assert log.jobs[2]["key"] is None  # unattributed
    m = trace.pass_metrics(log, "2", (0.5, 2.5), [])
    assert m["spark.jobs"] == 2 and m["spark.tasks"] == 1 and m["queries.eager_jobs"] == 1
    assert m["operators.dedup.jobs"] == 1 and m["operators.dedup.job_s"] == pytest.approx(0.5)
    assert m["python.stages"] == 1 and m["spark.shuffle_write_bytes"] == 100
    assert m["sources.input_rows"] == 7
    assert m["driver.idle_s"] == pytest.approx(2.0 - 0.5)


def test_artifact_schema_pins_every_metric_in_benchmark_json():
    spec = json.loads(BENCHMARK_JSON.read_text())
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOAD_NAMES) == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for trace_flag, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
        line = run.result_line({k: 1.5 for k in names}, trace_flag, attempted=3, failed=0)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(names)
        assert all(set(v) == {"value", "unit"} for v in line["metrics"].values())
