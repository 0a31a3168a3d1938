"""Local replica of the driver's DuckDB-oracle compare.

Runs a registered Spark query and its oracle SQL on the same parquet
tables, then compares row counts, column names, and (column-name-sorted,
row-sorted) values. Floats compare with a tiny relative tolerance so this
harness flags real mismatches, not last-bit libm noise — the driver's
exact hash is stricter, which is why registered queries round/cast on
both sides.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
from contextlib import contextmanager
from datetime import date, datetime

import duckdb

from dais2021imageprocessingondeltalake_spark.catalog import TABLES
from dais2021imageprocessingondeltalake_spark.session import DEFAULT_DRIVER_MEM


#: DuckDB result types with no Spark equivalent. The driver's value hash
#: is TYPE-sensitive, so an oracle column typed HUGEINT (what DuckDB
#: gives sum() over integers) hash-mismatches a bigint Spark column even
#: when every value is identical — the exact failure mode of the r5
#: q_tpch_priority_lines red row, which this harness's value-level
#: compare could not see (VERDICT r5 item 1). Raising here makes the
#: sweep catch the class before the driver does. Fix in the oracle:
#: CAST(sum(..) AS BIGINT).
_NON_SPARK_TYPES = {
    "HUGEINT",
    "UHUGEINT",
    "UBIGINT",
    "UINTEGER",
    "USMALLINT",
    "UTINYINT",
}


def phys_mem_bytes() -> int:
    """Physical memory of the host."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def mem_bytes(size: str) -> int:
    """Bytes of a JVM-style size: "16g", "512m", "64k" or plain bytes."""
    size = size.strip().lower()
    unit = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}.get(size[-1:])
    return int(float(size[:-1]) * unit) if unit else int(size)


def duckdb_memory_limit(phys_bytes: int, heap_bytes: int) -> int:
    """Bytes one oracle connection may hold: physical memory less the
    Spark driver heap and 2 GiB for the rest of both processes, kept
    between a quarter and a half of physical memory. DuckDB's own
    default (80 % of RAM) let an oracle and the Spark heap together run
    a 15 GB host out of memory, and the kernel killed the whole sweep."""
    spare = phys_bytes - heap_bytes - (2 << 30)
    return min(phys_bytes // 2, max(phys_bytes // 4, spare))


@contextmanager
def oracle_connection(sf_dir: str):
    """A DuckDB connection with every corpus table as a view, bounded to
    duckdb_memory_limit (the heap is SPARK_GRAFT_DRIVER_MEM, or
    get_spark's default) and spilling to its own temp_directory, which
    is removed on close. An oracle past the bound raises
    duckdb.OutOfMemoryException, so a sweep records it as failed."""
    heap = mem_bytes(os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM))
    limit = duckdb_memory_limit(phys_mem_bytes(), heap)
    tmp = tempfile.mkdtemp(prefix="oracle-duckdb-")
    con = duckdb.connect(
        config={"memory_limit": f"{limit >> 20}MiB", "temp_directory": tmp}
    )
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        yield con
    finally:
        con.close()
        shutil.rmtree(tmp, ignore_errors=True)


def run_oracle(sql: str, sf_dir: str):
    with oracle_connection(sf_dir) as con:
        rel = con.sql(sql)
        cols = list(rel.columns)
        bad_types = [
            f"{c}: {t}"
            for c, t in zip(cols, (str(t).upper() for t in rel.types))
            if t in _NON_SPARK_TYPES
        ]
        if bad_types:
            raise AssertionError(
                "oracle result types not Spark-representable (the driver's "
                f"type-sensitive hash WILL mismatch): {bad_types}; wrap the "
                "offending expression in CAST(... AS BIGINT) in the oracle SQL"
            )
        return cols, rel.fetchall()


def _norm(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def compare(spark_df, oracle_cols, oracle_rows, rel_tol=1e-9):
    """Return a list of mismatch descriptions (empty == pass)."""
    problems = []
    s_cols = spark_df.columns
    if sorted(s_cols) != sorted(oracle_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} oracle={sorted(oracle_cols)}")
        return problems
    order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    s_rows = [
        tuple(_norm(r[i]) for i in order) for r in spark_df.collect()
    ]
    o_order = sorted(range(len(oracle_cols)), key=lambda i: oracle_cols[i])
    o_rows = [tuple(_norm(r[i]) for i in o_order) for r in oracle_rows]
    if len(s_rows) != len(o_rows):
        problems.append(f"row count differs: spark={len(s_rows)} oracle={len(o_rows)}")
        return problems
    s_rows.sort(key=_sort_key)
    o_rows.sort(key=_sort_key)
    n_bad = 0
    for sr, orow in zip(s_rows, o_rows):
        for a, b in zip(sr, orow):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=rel_tol, abs_tol=1e-9):
                    n_bad += 1
                    if n_bad <= 3:
                        problems.append(f"value differs: spark={sr} oracle={orow}")
                    break
            elif a != b:
                n_bad += 1
                if n_bad <= 3:
                    problems.append(f"value differs: spark={sr} oracle={orow}")
                break
    if n_bad:
        problems.append(f"{n_bad}/{len(s_rows)} rows differ")
    return problems
