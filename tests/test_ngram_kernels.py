"""The n-gram kernels against pure-Python references, and a plan guard
that each kernel tokenizes a document once.

Kernels: `dedup.shingles`, `text.rolling_hash_fingerprint`,
`text.bigram_pmi`, `text.remove_duplicate_spans`,
`text.winnowing_fingerprints_md5` and `text.remove_contaminated_spans`.
Each builds per-row n-gram arrays with higher-order functions; a lambda
body that calls `split(` re-tokenizes the document once per n-gram
(O(L^2) for L tokens), so no `lambdafunction(...)` of their optimized
plans may contain one.
"""

from __future__ import annotations

import hashlib
import math
import random
import struct
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from dais2021imageprocessingondeltalake_spark.operators import dedup as D
from dais2021imageprocessingondeltalake_spark.operators import text as T

# --------------------------------------------------------------------------
# Pure-Python references
# --------------------------------------------------------------------------
_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _lane(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as Spark's `xxhash64` computes it (seed 42, signed result)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_lane(a, struct.unpack_from("<Q", data, i + 8 * k)[0]) for k, a in enumerate(v)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for a in v:
            h = ((h ^ _lane(0, a)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _lane(0, struct.unpack_from("<Q", data, i)[0]), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (struct.unpack_from("<I", data, i)[0] * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    for b in data[i:]:
        h = (_rotl(h ^ (b * _P5 & _M), 11) * _P1) & _M
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _toks(text: str | None) -> list[str] | None:
    return None if text is None else text.split(" ")  # Spark's split(text, ' ')


def _spans(text: str | None, n: int) -> list[tuple[int, str]]:
    toks = _toks(text)
    if toks is None or len(toks) < n:
        return []
    return [(i + 1, " ".join(toks[i:i + n])) for i in range(len(toks) - n + 1)]


def ref_shingles(text: str | None, n: int) -> list[str]:
    return list(dict.fromkeys(s for _, s in _spans(text, n)))


def ref_rolling(text: str | None, window: int) -> int:
    toks = _toks(text) or []  # a null text hashes the one empty window
    starts = range(max(len(toks) - window + 1, 1))
    return min(xxhash64(" ".join(toks[i:i + window]).encode()) for i in starts)


def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def ref_pmi(texts: list[str | None], min_count: int) -> list[tuple]:
    bc: Counter = Counter()
    uc: Counter = Counter()
    for text in texts:
        toks = _toks(text)
        if toks is None:
            continue
        uc.update(toks)
        if len(toks) >= 2:
            bc.update(zip(toks, toks[1:]))
    nb, nu = float(sum(bc.values())), float(sum(uc.values()))
    return sorted(
        (a, b, c, _round6(math.log((c * nu * nu) / (nb * uc[a] * uc[b]))))
        for (a, b), c in bc.items()
        if c >= min_count
    )


def _rewrite(text: str | None, cov: set[int]) -> str:
    toks = _toks(text) or []
    return " ".join(t for k, t in enumerate(toks) if k + 1 not in cov)


def ref_duplicate_spans(docs: list[tuple[int, str | None]], n: int) -> list[tuple]:
    mindoc: dict[str, int] = {}
    for d, text in docs:
        for _, s in _spans(text, n):
            mindoc[s] = min(mindoc.get(s, d), d)
    out = []
    for d, text in docs:
        cov = {j for i, s in _spans(text, n) if mindoc[s] != d for j in range(i, i + n)}
        out.append((d, _rewrite(text, cov), len(cov)))
    return sorted(out)


def ref_contaminated_spans(
    docs: list[tuple[int, str | None]], bench: list[str | None], n: int
) -> list[tuple]:
    hot = {s for text in bench for s in ref_shingles(text, n)}
    out = []
    for d, text in docs:
        cov = {j for i, s in _spans(text, n) if s in hot for j in range(i, i + n)}
        out.append((d, _rewrite(text, cov), len(cov)))
    return sorted(out)


def ref_winnowing(docs: list[tuple[int, str | None]], k: int, window: int) -> list[tuple]:
    out = set()
    for d, text in docs:
        grams = [hashlib.md5(s.encode()).hexdigest() for _, s in _spans(text, k)]
        if not grams:
            continue
        for p in range(max(len(grams) - window, 0) + 1):
            out.add((d, min(grams[p:p + window])))
    return sorted(out)


# --------------------------------------------------------------------------
# Inputs
# --------------------------------------------------------------------------
_rng = random.Random(9)
LONG_DOC = " ".join(_rng.choice([f"w{i}" for i in range(40)]) for _ in range(5000))
LONG_HEAD = " ".join(LONG_DOC.split(" ")[:60])


def corpus(n: int) -> list[tuple[int, str | None]]:
    """The edge cases for an n-gram width n: null, empty, one token,
    exactly n tokens, empty tokens from doubled/leading/trailing spaces,
    repeated n-grams (also across documents), and a 5,000-token document
    with a second document repeating its first 60 tokens."""
    texts = [
        None,
        "",
        "solo",
        " ".join(f"t{i}" for i in range(n)),
        "a  b c  d e  f",
        " lead and  trail ",
        "x y z x y z x y z x y z",
        "q x y z x y",
        LONG_DOC,
        LONG_HEAD,
    ]
    return list(enumerate(texts))


BENCH = [None, "", "x y z x y z", LONG_HEAD, "a  b c  d"]


def _frame(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


# kernel name -> (run on a frame/bench pair, pure-Python reference on the docs)
KERNELS = {
    "shingles": (
        lambda df, bench: df.select("doc_id", D.shingles(F.col("text"), 3)),
        lambda docs: sorted((d, ref_shingles(t, 3)) for d, t in docs),
        3,
    ),
    "rolling_hash_fingerprint": (
        lambda df, bench: T.rolling_hash_fingerprint(df, window=8),
        lambda docs: sorted((d, t, ref_rolling(t, 8)) for d, t in docs),
        8,
    ),
    "bigram_pmi": (
        lambda df, bench: T.bigram_pmi(df, min_count=2),
        lambda docs: ref_pmi([t for _, t in docs], 2),
        2,
    ),
    "remove_duplicate_spans": (
        lambda df, bench: T.remove_duplicate_spans(df, n=3),
        lambda docs: ref_duplicate_spans(docs, 3),
        3,
    ),
    "winnowing_fingerprints_md5": (
        lambda df, bench: T.winnowing_fingerprints_md5(df, k=4, window=4),
        lambda docs: ref_winnowing(docs, 4, 4),
        4,
    ),
    "remove_contaminated_spans": (
        lambda df, bench: T.remove_contaminated_spans(df, bench, n=5),
        lambda docs: ref_contaminated_spans(docs, BENCH, 5),
        5,
    ),
}


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_matches_reference(spark, name):
    run, ref, n = KERNELS[name]
    docs = corpus(n)
    bench = spark.createDataFrame([(i, t) for i, t in enumerate(BENCH)], "doc_id long, text string")
    got = _rows(run(_frame(spark, docs), bench))
    if name == "shingles":
        got = [(d, list(sh)) for d, sh in got]
    assert got == ref(docs)


def lambda_bodies(plan: str) -> list[str]:
    """Every `lambdafunction(...)` span of a plan string (nested ones too)."""
    out = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        i, depth = start + len("lambdafunction("), 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        out.append(plan[start:i])
        start = plan.find("lambdafunction(", start + 1)
    return out


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_splits_outside_lambdas(spark, name):
    run, _, _ = KERNELS[name]
    df = _frame(spark, [(1, "a b c d e f g h i j")])
    plan = run(df, df)._jdf.queryExecution().optimizedPlan().toString()
    bodies = lambda_bodies(plan)
    assert bodies, "the kernel builds no higher-order function any more"
    assert [b for b in bodies if "split(" in b] == []
