"""The verify tooling sizes itself to the host: each oracle connection
of tests.oracle_harness gets a DuckDB memory bound that leaves room for
the Spark heap (and its own spill directory), and tools/verify_sweep.py
sizes its session from the CPUs and memory it may use. An oracle past
its bound is a failed sweep entry, not a process the kernel kills."""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path
from types import SimpleNamespace

import duckdb

from dais2021imageprocessingondeltalake_spark.session import DEFAULT_DRIVER_MEM

from . import oracle_harness as H
from .conftest import SF_DIR

_SPEC = importlib.util.spec_from_file_location(
    "verify_sweep", Path(__file__).resolve().parent.parent / "tools" / "verify_sweep.py"
)
VS = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(VS)

GIB = 1 << 30


def test_mem_bytes_reads_jvm_sizes():
    assert H.mem_bytes("16g") == 16 * GIB
    assert H.mem_bytes("512m") == 512 << 20
    assert H.mem_bytes("1.5G") == 3 * GIB // 2
    assert H.mem_bytes("4096") == 4096


def test_duckdb_bound_leaves_room_for_the_spark_heap():
    # 15 GiB host, a 3g heap: 10 GiB spare, capped at half the host
    assert H.duckdb_memory_limit(15 * GIB, 3 * GIB) == 15 * GIB // 2
    # 64 GiB host, a 16g heap: what the heap and 2 GiB leave
    assert H.duckdb_memory_limit(64 * GIB, 16 * GIB) == 32 * GIB
    assert H.duckdb_memory_limit(64 * GIB, 40 * GIB) == 22 * GIB
    # a nominal heap larger than the host: a quarter of the host
    assert H.duckdb_memory_limit(15 * GIB, 16 * GIB) == 15 * GIB // 4


def test_sweep_session_sized_to_the_host_unless_set():
    assert VS.session_size({}, 4, 15 * GIB) == {
        "SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "3g",
    }
    assert VS.session_size({}, 64, 256 * GIB)["SPARK_GRAFT_DRIVER_MEM"] == "16g"
    assert VS.session_size({}, 1, 2 * GIB)["SPARK_GRAFT_DRIVER_MEM"] == "1g"
    env = {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_DRIVER_MEM": "6g"}
    assert VS.session_size(env, 4, 15 * GIB) == env


def test_harness_connection_is_bounded_and_cleans_up():
    heap = H.mem_bytes(os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM))
    limit = H.duckdb_memory_limit(H.phys_mem_bytes(), heap)
    ref = duckdb.connect(config={"memory_limit": f"{limit >> 20}MiB"})
    want = ref.sql("SELECT current_setting('memory_limit')").fetchone()[0]
    ref.close()
    with H.oracle_connection(SF_DIR) as con:
        got, tmp = con.sql(
            "SELECT current_setting('memory_limit'),"
            " current_setting('temp_directory')"
        ).fetchone()
        assert Path(tmp).is_dir()
        assert con.sql("SELECT count(*) FROM embeddings").fetchone()[0] > 0
    assert got == want
    assert not Path(tmp).exists()


def test_oracle_past_its_bound_is_a_failed_entry(monkeypatch):
    monkeypatch.setattr(H, "duckdb_memory_limit", lambda phys, heap: 32 << 20)
    spec = SimpleNamespace(
        fn=lambda spark, sf_dir: None,
        oracle="SELECT length(list(range)) FROM range(20000000)",
    )
    why = VS.check(spec, None, SF_DIR)
    assert why.startswith("error:") and "Out of Memory" in why
