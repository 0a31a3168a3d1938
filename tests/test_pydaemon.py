"""The Python worker daemon of local sessions (functions/pydaemon.py) and
the session settings that select it (session.daemon_conf)."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dais2021imageprocessingondeltalake_spark.functions.pydaemon import is_eager, stamped
from dais2021imageprocessingondeltalake_spark.session import (
    DAEMON_MODULE,
    WORKER_PYTHONPATH,
    daemon_conf,
)

REPO = Path(__file__).resolve().parent.parent
ORIGINAL = zipimport.zipimporter.invalidate_caches

eager_only = pytest.mark.skipif(
    not is_eager(ORIGINAL), reason="zipimporter.invalidate_caches is lazy on this CPython"
)


def _write_zip(path: Path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    return str(path)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _load(importer, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@eager_only
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = _write_zip(tmp_path / "lib.zip", {"pkg/__init__.py": "", "pkg/a.py": "X = 1\n"})
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(f"{archive}/pkg")]
    invalidate = stamped(ORIGINAL)
    invalidate(importers[0])  # the first call reads, as CPython's does
    reads = _count_reads(monkeypatch)
    for _ in range(3):
        for imp in importers:
            invalidate(imp)
    assert reads == []
    assert all(imp._files is zipimport._zip_directory_cache[archive] for imp in importers)
    assert _load(importers[1], "pkg.a").X == 1


@eager_only
def test_rewritten_archive_is_reread_for_every_importer(tmp_path, monkeypatch):
    path = tmp_path / "lib.zip"
    archive = _write_zip(path, {"pkg/__init__.py": "", "pkg/a.py": "X = 1\n"})
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(f"{archive}/pkg")]
    invalidate = stamped(ORIGINAL)
    for imp in importers:
        invalidate(imp)
    assert importers[1].find_spec("pkg.b") is None
    _write_zip(path, {"pkg/__init__.py": "", "pkg/a.py": "X = 1\n", "pkg/b.py": "Y = 2\n", "top.py": "Z = 3\n"})
    reads = _count_reads(monkeypatch)
    for imp in importers:
        invalidate(imp)
    assert reads == [archive]  # one read serves both importers
    fresh = zipimport._read_directory(archive)
    assert all(imp._files == fresh for imp in importers)
    assert _load(importers[0], "top").Z == 3
    assert _load(importers[1], "pkg.b").Y == 2


@eager_only
def test_deleted_archive_gets_cpythons_behaviour(tmp_path):
    archive = _write_zip(tmp_path / "lib.zip", {"pkg/__init__.py": ""})
    ours, theirs = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    invalidate = stamped(ORIGINAL)
    invalidate(ours)
    os.remove(archive)
    invalidate(ours)
    assert ours._files == {} and archive not in zipimport._zip_directory_cache
    ORIGINAL(theirs)
    assert theirs._files == ours._files


@eager_only
def test_udf_invalidate_caches_reads_no_archive(spark):
    """Inside a Python worker of a local session, the per-task
    importlib.invalidate_caches() reads no archive directory."""

    @F.pandas_udf("long")
    def reads(s):
        import importlib
        import zipimport

        n = [0]
        real = zipimport._read_directory

        def counting(archive):
            n[0] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return s * 0 + n[0]

    rows = spark.range(0, 4, 1, 2).select(reads("id").alias("n")).collect()
    assert [r["n"] for r in rows] == [0] * 4


@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]", "local[4,2]"])
def test_local_master_gets_the_daemon(master):
    conf = daemon_conf(master)
    assert conf[DAEMON_MODULE] == "dais2021imageprocessingondeltalake_spark.functions.pydaemon"
    assert Path(conf[WORKER_PYTHONPATH]) == REPO


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "k8s://https://host:6443", "local-cluster[2,1,1024]"])
def test_cluster_master_keeps_pyspark_daemon(master):
    assert daemon_conf(master) == {}


_OUTSIDE_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F
    from dais2021imageprocessingondeltalake_spark.session import get_spark

    def daemon(s):
        import sys
        return s.map(lambda _: sys.modules["__main__"].__spec__.name)

    out = {{}}
    for name, extra in (("default", None), ("explicit", {{"spark.python.daemon.module": "pyspark.daemon"}})):
        spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf=extra)
        udf = F.pandas_udf(daemon, "string")
        rows = spark.range(0, 2, 1, 2).select(udf(F.col("id").cast("string"))).collect()
        out[name] = sorted({{r[0] for r in rows}})
        spark.stop()
    print("RESULT " + json.dumps(out))
    """
)


def test_session_outside_repo_runs_python_udfs(tmp_path):
    """A session started from a cwd outside the repo, with PYTHONPATH
    unset, still finds the daemon module and runs a pandas UDF; an
    explicit extra_conf daemon module wins over the local default."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_SCRIPT.format(repo=str(REPO))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    result = [line for line in proc.stdout.splitlines() if line.startswith("RESULT ")]
    assert proc.returncode == 0 and result, proc.stderr[-3000:]
    assert json.loads(result[0][len("RESULT "):]) == {
        "default": ["dais2021imageprocessingondeltalake_spark.functions.pydaemon"],
        "explicit": ["pyspark.daemon"],
    }
