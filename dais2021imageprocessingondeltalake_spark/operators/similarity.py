"""Embedding similarity search (north-star; SURVEY.md §7 step 6).

Two tiers, mirroring how ANN systems scale:
- `cosine_topk`        — exact brute force: broadcast the query vector(s),
                         one JVM projection computes dot/norms, top-k via
                         TakeOrderedAndProject. The baseline and the
                         verifier for approximate variants. O(N·d) per
                         query but embarrassingly parallel — at 100 TB the
                         cost is one full scan, no shuffle.
- `lsh_ann_topk`       — random-hyperplane LSH: H sign-bits per vector
                         form a bucket key; candidates = vectors sharing
                         the query's bucket (optionally multi-probe into
                         Hamming-1 neighbors). Scan prunes to ~N/2^H per
                         probe; exact cosine re-ranks candidates.
- `embedding_near_dup` — all-pairs near-duplicate detection by cosine ≥
                         threshold, LSH-bucketed so only bucket-mates are
                         compared (the embedding analogue of MinHash-LSH).

All vector math is `F.zip_with`/`F.aggregate` JVM expressions — no Python
on the data path. Embeddings are cast float→double once (exact) so dot
products are deterministic.
"""

from __future__ import annotations

import itertools
import math
import random
from functools import partial, reduce

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ via zip_with + aggregate (in-array order → deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine to a constant query vector. The query ships
    as a literal array in the plan (broadcast-by-closure); ties broken by
    id for determinism. `round_dp` rounds the similarity BEFORE the
    order/limit — when two candidates at the k boundary round to the same
    value (or raw sims differ cross-engine in the last ulp), selection on
    the rounded value + id tiebreak picks the same row set as an oracle
    that orders by round(sim, dp), which raw-then-round cannot guarantee."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine(_to_double(F.col(vec_col)), q)
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    return (
        df.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH.

    PREFIX-STABLE by construction: one sequential RNG stream draws the
    planes in order, so ``_hyperplanes(d, p, s) == _hyperplanes(d, P, s)[:p]``
    for any p <= P. Oracles exploit this to embed literals for a
    generous MAX plane count and mask the bucket down to a data-computed
    p (see queries_llm._margin_mine_lsh_oracle)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def size_n_planes(
    n_rows: int,
    target_bucket: int = 32,
    min_planes: int = 4,
    max_planes: int | None = None,
) -> int:
    """SIZE THE PLANE COUNT WITH THE CORPUS (VERDICT r4 item 1): smallest
    p >= min_planes with 2^p buckets holding <= target_bucket expected
    rows each, i.e. ``(1 << p) * target_bucket >= n_rows``. At a frozen
    plane count expected LSH candidates are N^2/2^p — the fixed-k trap;
    sizing p from one cheap count keeps bucket occupancy (and so
    candidates-per-row) ~constant at any corpus size.

    INTEGER arithmetic only — no log2, whose last-ulp rounding is not
    IEEE-pinned cross-engine; a DuckDB oracle replays this exact rule as
    ``min(p) FROM generate_series WHERE (1<<p)*tb >= n``. max_planes
    exists for oracle replayability (the SQL carries literals for that
    many planes); production callers leave it None."""
    p = min_planes
    while (1 << p) * target_bucket < n_rows and (max_planes is None or p < max_planes):
        p += 1
    return p


#: OR-construction table counts for sign-LSH, per plane count p (VERDICT
#: r5 item 3 — retires the frozen Hamming-multiprobe radius). Standard LSH
#: theory (Indyk-Motwani; Charikar's SimHash collision probability; Lv et
#: al. multi-probe LSH): a neighbor at angle θ agrees with a random
#: hyperplane sign with probability q = 1 - θ/π; with a Hamming<=1 probe
#: of each table it is found in one p-plane table with
#:   P₁(p) = q^p + p·q^(p-1)·(1-q)
#: and MISSED by all of L independent tables with (1 - P₁(p))^L. Sizing
#:   L(p) = ceil( ln(1 - R) / ln(1 - P₁(p)) )
#: holds recall >= R for every neighbor at cosine >= s* AT ANY p — recall
#: no longer decays as the plane count grows with the corpus, which is
#: exactly the failure mode of a frozen probe radius (expected Hamming
#: distance of a true neighbor is p·θ/π, LINEAR in p, while a fixed
#: radius covers a vanishing C(p,<=r)/2^p of buckets). Cost: candidates
#: per probe stay L·(p+1)·occupancy — the classic sublinear n^ρ LSH
#: bound, with the Hamming-1 probe cutting the table count ~5x vs pure
#: OR-construction at equal recall.
#:
#: The dict freezes L(p) for R = 0.95 at design similarity s* = 0.33
#: (q = 1 - arccos(0.33)/π = 0.607049…) as INTEGER LITERALS — computed
#: once from the closed form above so Python and a SQL oracle replay the
#: identical rule without trusting cross-platform libm ulps. The design
#: point is the AUDIT-MEASURED 5th-percentile best-cross-group-neighbor
#: cosine of this corpus (sf0.01 p5 = 0.329, sf0.1 p5 = 0.390 — synthetic
#: embeddings have weak cross-label mates); a production deployment with
#: aligned encoders (LASER-style mates at cosine >= 0.8, q = 0.795)
#: plugs its own design point into the same closed form and gets
#: L = {4:6, 6:11, 8:18, 12:46, 16:116} — the table is a POLICY of the
#: corpus, the sizing RULE is fixed. Low design similarity makes L grow
#: steeply in p — that is the honest LSH price of mining far neighbors,
#: not a defect of the rule (ρ → 1 as s* → 0).
MARGIN_L_TABLES: dict[int, int] = {
    4: 5, 5: 7, 6: 11, 7: 17, 8: 25, 9: 38, 10: 58,
    11: 88, 12: 135, 13: 208, 14: 322, 15: 498, 16: 775,
}

#: Seed stride between the L independent plane sets (any constant works;
#: tables just need disjoint RNG streams). Table t draws from
#: ``_hyperplanes(dim, p, seed + _TABLE_SEED_STRIDE * t)``.
_TABLE_SEED_STRIDE = 1009


def size_n_tables(n_planes: int) -> int:
    """Number of independent OR-construction hash tables for the sized
    plane count — the companion of size_n_planes: p holds bucket
    OCCUPANCY constant as the corpus grows, L(p) holds RECALL constant
    as p grows. Frozen-literal lookup (MARGIN_L_TABLES) so oracles can
    replay it as a CASE expression; raises KeyError outside the sized
    range rather than extrapolating silently."""
    return MARGIN_L_TABLES[n_planes]


#: Decimal places the sign-LSH dot product is rounded to before the sign
#: test. Spark sums the dot sequentially (F.aggregate) while an oracle
#: engine may sum in another order; a last-ulp difference at the 0 boundary
#: (e.g. exact cancellation on sparse vectors) would flip a bucket bit.
#: Rounding first maps both engines' near-zero values to ±0.0, which
#: compare >= 0 identically. Oracles replaying buckets in SQL must round
#: the same way (see queries_llm._lsh_ann_oracle).
LSH_SIGN_DP = 6


def _lsh_buckets_arrow(table_planes: list[list[list[float]]]):
    """Arrow-vectorized L-table bucketer: ONE pandas UDF computing every
    table's sign-LSH bucket per row as array<long>, via a single BLAS
    matmul (batch × (L·p) plane matrix) instead of L·p separate
    zip_with/aggregate expression trees. Two reasons this is the Pandas
    UDF exception the repo's no-Python-on-data-paths rule allows:
    (1) L·p JVM dot-product expressions blow past whole-stage codegen's
    method-size limit (measured: 66 planes = multi-second interpreted
    projection at sf0.1), (2) the matmul is the textbook Arrow-batch win
    (~100x per-element lambda cost). DETERMINISM: identical contract to
    lsh_bucket — round(v·p, LSH_SIGN_DP) >= 0 per bit; BLAS reorders the
    summation vs the sequential JVM/DuckDB fold, but a 6dp round absorbs
    reassociation ulps (~1e-13) exactly as it absorbs the
    Spark-vs-DuckDB ulp the docstring above describes; −0.0 >= 0 holds
    in numpy, Spark, and DuckDB alike."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    P = np.array(table_planes, dtype=np.float64)  # L × p × dim
    n_tables, n_planes, _ = P.shape
    M = P.reshape(n_tables * n_planes, -1).T  # dim × (L·p)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(vec: pd.Series) -> pd.Series:
        x = np.asarray([np.asarray(e, dtype=np.float64) for e in vec])
        if len(x) == 0:
            return pd.Series([], dtype=object)
        d = np.round(x @ M, LSH_SIGN_DP)  # n × (L·p)
        bits = (d >= 0).reshape(len(x), n_tables, n_planes)
        out = (bits * weights).sum(axis=2, dtype=np.int64)  # n × L
        return pd.Series(list(out))

    return buckets


def _cosine_pairs_arrow(round_dp: int = 6):
    """Arrow-vectorized pair scorer: cosine of two array columns rounded
    to round_dp, one numpy pass per batch — used where a candidate-pair
    set in the millions makes the per-element zip_with/aggregate fold
    the job's hot loop (measured ~2x the whole margin-LSH wall at
    sf0.1). Same rounding-absorbs-reassociation determinism contract as
    _lsh_buckets_arrow."""
    import numpy as np

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=float)
        x = np.asarray([np.asarray(e, dtype=np.float64) for e in a])
        y = np.asarray([np.asarray(e, dtype=np.float64) for e in b])
        s = (x * y).sum(axis=1) / (
            np.sqrt((x * x).sum(axis=1)) * np.sqrt((y * y).sum(axis=1))
        )
        return pd.Series(np.round(s, round_dp))

    return cos


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Pack sign(v·p) bits into a long bucket id (JVM expressions only)."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        pc = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(
            F.round(dot(vec_col, pc), LSH_SIGN_DP) >= 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def lsh_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    round_dp: int | None = None,
) -> DataFrame:
    """Approximate top-k: filter to the query's LSH bucket (+ Hamming-1
    buckets when multiprobe), then exact cosine re-rank. The bucket
    filter is a scan-level predicate — at scale, write-time partitioning
    by bucket turns it into partition pruning (read N/2^H of the data).
    `round_dp` rounds the similarity BEFORE the order/limit (see
    cosine_topk) so k-boundary selection is engine-deterministic."""
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    # driver-side query bucket (tiny, pure python — not on the data path);
    # mirrors lsh_bucket's round-before-sign (python banker's rounding vs
    # HALF_UP differs only at exact half-boundaries, unreachable for
    # Gaussian dots)
    qb = 0
    for i, p in enumerate(planes):
        if round(sum(a * b for a, b in zip(query_vec, p)), LSH_SIGN_DP) >= 0:
            qb |= 1 << i
    probes = [qb] + ([qb ^ (1 << i) for i in range(n_planes)] if multiprobe else [])

    vec_d = _to_double(F.col(vec_col))
    bucketed = df.withColumn("bucket", lsh_bucket(vec_d, planes))
    cand = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k, id_col, vec_col, round_dp)


def ivf_fit_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    sample_n: int = 2048,
    iters: int = 10,
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[list[float]]:
    """IVF coarse quantizer: k-means (Lloyd) on a bounded driver-side
    sample. Model *fitting* on a sample is the one legitimate driver-side
    step in the pipeline (the model is tiny: k x d floats); *assignment*
    stays distributed. Deterministic: seeded init, fixed iteration count,
    numpy float64."""
    import numpy as np

    rows = df.select(vec_col).limit(sample_n).collect()
    if not rows:
        raise ValueError("ivf_fit_centroids: input has no vectors")
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    n_centroids = min(n_centroids, len(x))  # clamp: k-means needs k <= n
    rng = np.random.RandomState(seed)
    centroids = x[rng.choice(len(x), size=n_centroids, replace=False)]
    for _ in range(iters):
        d2 = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return [[float(v) for v in c] for c in centroids]


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid — pure JVM expressions
    (k squared-distance columns, argmin via array_position of the min).
    At scale, write the table `partitionBy(centroid_id)` so probe-time
    reads prune to n_probe/k of the files."""
    v = _to_double(F.col(vec_col))
    dists = [
        F.aggregate(
            F.zip_with(v, F.array(*[F.lit(x) for x in c]), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in centroids
    ]
    arr = F.array(*dists)
    cid = (F.array_position(arr, F.array_min(arr)) - 1).cast("int")
    return df.withColumn(out_col, cid)


def ivf_write_partitioned(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index as a centroid-partitioned table: probe
    reads filter on centroid_id, which the file source turns into
    PartitionFilters — only n_probe/k of the directories are listed or
    read. This is the 'scale path' that turns IVF from a full-scan
    re-rank into true sublinear IO (tests assert the pruned plan)."""
    ivf_assign(df, centroids, vec_col).write.partitionBy("centroid_id").mode(
        "overwrite"
    ).parquet(path)


def ivf_probe_partitioned(
    spark,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a partitioned IVF table: partition-pruned scan of the
    n_probe nearest lists + exact cosine re-rank."""
    qd = [sum((a - b) * (a - b) for a, b in zip(query_vec, c)) for c in centroids]
    probes = sorted(range(len(centroids)), key=lambda i: qd[i])[:n_probe]
    cand = spark.read.parquet(path).filter(
        F.col("centroid_id").isin([int(p) for p in probes])
    )
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivf_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: rank centroids by distance to the query (driver-side,
    k x d flops), scan only the n_probe nearest inverted lists, exact
    cosine re-rank. Complements sign-LSH: IVF adapts to the data
    distribution (clustered embeddings → tight lists), LSH is data-
    oblivious."""
    qd = [
        sum((a - b) * (a - b) for a, b in zip(query_vec, c)) for c in centroids
    ]
    probes = sorted(range(len(centroids)), key=lambda i: qd[i])[:n_probe]
    assigned = ivf_assign(df, centroids, vec_col)
    cand = assigned.filter(F.col("centroid_id").isin([int(p) for p in probes]))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """All-pairs near-duplicates by cosine ≥ threshold, bucketed by
    sign-LSH so the self-join key is the bucket (high-cosine pairs agree
    on most sign bits → land in the same bucket w.h.p.; more planes =
    fewer false candidates, more false negatives — callers tune for
    recall like MinHash bands)."""
    if dim is None:
        first = df.select(vec_col).first()
        if first is None:  # empty input → empty pair set, typed correctly
            from pyspark.sql import types as T

            id_type = df.schema[id_col].dataType
            return df.sparkSession.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("id_a", id_type),
                        T.StructField("id_b", id_type),
                        T.StructField("cosine_sim", T.DoubleType()),
                    ]
                ),
            )
        dim = len(first[0])
    planes = _hyperplanes(dim, n_planes, seed)
    vec_d = _to_double(F.col(vec_col))
    # per-row norm hoisted out of the pair join (see semantic_dedup_flags):
    # dot/(nrm_a*nrm_b) is the same FP sequence as cosine(a, b), but the
    # interpreted zip_with/aggregate runs per row, not 3x per pair
    b = df.select(
        F.col(id_col).alias("doc"),
        vec_d.alias("v"),
        lsh_bucket(vec_d, planes).alias("bucket"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    left, right = b.alias("a"), b.alias("b")
    pair_sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    pairs = left.join(
        right,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc") < F.col("b.doc")),
    ).select(
        F.col("a.doc").alias("id_a"),
        F.col("b.doc").alias("id_b"),
        pair_sim.alias("cosine_sim"),
    )
    # threshold on the ROUNDED cosine so engines that sum the dot in a
    # different order can't disagree on membership at the boundary (same
    # convention as round-before-rank in cosine_topk)
    return pairs.filter(F.round(F.col("cosine_sim"), 6) >= threshold)


def knn_join(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_filter: Column | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbors join: for each probe vector, the top-k
    most-cosine-similar other vectors. Brute force — O(|probes| x |base|)
    dot products — which is the correct tool when the probe set is small
    (the probe side broadcasts, so the base table is scanned once with
    zero shuffle). For all-vectors-vs-all at 100 TB use the bucketed
    paths (lsh_ann_topk / ivf_ann_topk); this exact form doubles as
    their recall oracle. Similarities ranked after rounding to 6dp with
    an id tie-break so ordering is engine-deterministic."""
    base = df.select(
        F.col(id_col).alias("nbr_id"), _to_double(F.col(vec_col)).alias("nbr_v")
    ).withColumn("nbr_nrm", l2_norm(F.col("nbr_v")))
    probes = df.filter(probe_filter) if probe_filter is not None else df
    probes = probes.select(
        F.col(id_col).alias("probe_id"), _to_double(F.col(vec_col)).alias("probe_v")
    ).withColumn("probe_nrm", l2_norm(F.col("probe_v")))
    # norms hoisted per row (FP-identical to cosine(), 3x less pair work)
    sim = F.round(
        dot(F.col("probe_v"), F.col("nbr_v"))
        / (F.col("probe_nrm") * F.col("nbr_nrm")),
        6,
    )
    scored = (
        F.broadcast(probes)
        .crossJoin(base)
        .filter(F.col("probe_id") != F.col("nbr_id"))
        .select("probe_id", "nbr_id", sim.alias("cosine_sim"))
    )
    return _knn_topk(scored, k)


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "embedding_q8",
    scale_col: str = "q8_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q[i] = round(127 * x[i] /
    max|x|), stored with the per-vector scale for dequantization. Cuts
    vector storage/shuffle bytes 4x (float32→int8), which at 100 TB of
    embeddings is the difference between a shuffle that fits and one that
    spills; ANN candidate generation runs on the quantized bytes and only
    the final re-rank touches full precision. Pure JVM expressions;
    rounding is floor(v + 0.5) — floor is exact on doubles, so the same
    formula in any engine yields the same bytes (round() half-mode
    conventions differ across engines)."""
    v = _to_double(F.col(vec_col))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # all-zero vectors: scale 0, quantized zeros (guard the 0/0)
    scale = F.when(max_abs > 0, max_abs / F.lit(127.0)).otherwise(F.lit(0.0))
    q = F.when(
        max_abs > 0,
        F.transform(
            v,
            lambda x: F.floor(x * F.lit(127.0) / max_abs + F.lit(0.5)).cast("tinyint"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.withColumn(out_col, q).withColumn(scale_col, scale)


def dequantize_embeddings_int8(
    df: DataFrame,
    q_col: str = "embedding_q8",
    scale_col: str = "q8_scale",
    out_col: str = "embedding_dq",
) -> DataFrame:
    """Inverse of quantize_embeddings_int8: x̂[i] = q[i] * scale. Max
    reconstruction error is scale/2 = max|x|/254 per component."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )


def quantized_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """Two-stage ANN with int8 candidate generation: score every vector
    by the dot product of its QUANTIZED bytes against the quantized query
    (cheap integer math over 4x fewer bytes — at 100 TB the scan reads
    the int8 sidecar column, not the float vectors), take a `shortlist`,
    then exact-cosine re-rank only those in full precision. Recall is
    governed by shortlist/k; the coarse stage's error is bounded by the
    per-vector quantization scales."""
    q8 = quantize_embeddings_int8(df, vec_col)
    qmax = max(abs(x) for x in query_vec) or 1.0
    q_quant = [int(math.floor(x * 127.0 / qmax + 0.5)) for x in query_vec]
    qc = F.array(*[F.lit(v).cast("int") for v in q_quant])
    coarse = F.aggregate(
        F.zip_with(
            F.transform(F.col("embedding_q8"), lambda x: x.cast("int")),
            qc,
            lambda a, b: a * b,
        ),
        F.lit(0),
        lambda acc, x: acc + x,
        # un-scale so per-vector scales don't distort the ranking
    ) * F.col("q8_scale")
    short = (
        q8.select(F.col(id_col), F.col(vec_col), coarse.alias("coarse_score"))
        .orderBy(F.col("coarse_score").desc(), F.col(id_col))
        .limit(shortlist)
    )
    return cosine_topk(short, query_vec, k, id_col, vec_col, round_dp)


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Distributed per-label centroid of an embedding column, in LONG
    form (label, dim, centroid) — the building block of k-means
    iterations, IVF coarse quantizers, and SemDeDup-style semantic
    cluster pruning, computed WITHOUT collecting vectors to the driver
    (contrast: the IVF fit's bounded driver sample is for centroid
    SEEDING; this is the full-data aggregation step).

    Shape: posexplode to (label, dim, value) rows, then one groupBy
    (label, dim) average. The explode multiplies rows by `dim`, but
    map-side partial aggregation collapses each partition to
    |labels| x dim partial sums before the shuffle — the shuffle carries
    sketch-sized state, not data. Float sums are order-dependent →
    callers round before oracle comparison (same 6dp convention as
    every merge-formula aggregate)."""
    pos = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    return pos.groupBy("label", (F.col("pos") + 1).alias("dim")).agg(
        F.avg(F.col("v").cast("double")).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def _centroid_matrix(centroids_long: DataFrame):
    """Collect a label_centroids long table into the broadcastable
    numpy form every E-step variant scores against: (cmat [k x dim,
    label-ascending rows], cnorm, label_arr, label SQL type). Shared by
    assign_to_centroids and assign_topn_centroids so the tie/rounding
    rules certified oracles replay live in exactly one place. Returns
    None for an empty centroid table (callers emit the empty-schema
    frame)."""
    import numpy as np

    rows = centroids_long.select("label", "dim", "centroid").collect()
    label_type = centroids_long.schema["label"].dataType.simpleString()
    if not rows:
        return None
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], {})[r["dim"]] = float(r["centroid"])
    labels = sorted(by_label)  # ascending -> first argmax = min label on ties
    cmat = np.array(
        [[by_label[l][d] for d in sorted(by_label[l])] for l in labels],
        dtype=np.float64,
    )
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    return cmat, cnorm, np.array(labels), label_type


def assign_to_centroids(
    df: DataFrame,
    centroids_long: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """k-means assignment (E-step): give every vector the label of its
    most-cosine-similar centroid. `centroids_long` is label_centroids
    output (label, dim, centroid) — together they form one full k-means
    iteration that never leaves the cluster: M-step is a map-side-
    combined aggregate, E-step below is a broadcast nested loop.

    The centroid table is DIMENSION-SIZED by definition (k x dim
    doubles — KBs at k ~ sqrt(N), MBs at k=64k), so it crosses the
    driver once as a numpy matrix (the parallel_global_rank
    bounded-collect idiom) and ships to executors inside ONE Arrow UDF
    that scores all k centroids per row with a single BLAS matmul —
    replacing the r4 shape's N x k crossJoin row explosion + per-pair
    interpreted fold + re-aggregate with a straight N-in/N-out map
    (no shuffle at all on the E-step now). Similarity is rounded
    BEFORE the argmax and ties break to the LOWEST label: centroid
    rows sort by label ascending and np.argmax takes the first
    maximum — bit-identical to the previous max(struct(sim,
    -label)) aggregate, which the certified oracles replay."""
    import numpy as np

    packed = _centroid_matrix(centroids_long)
    if packed is None:
        # empty centroid table assigns nothing — same as the old
        # crossJoin-with-empty shape, with the schema preserved
        label_type_empty = centroids_long.schema["label"].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [],
            schema=f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
            f"assigned_label {label_type_empty}, sim double",
        )
    # assigned_label keeps the INPUT label dtype — the driver's value
    # hash is type-sensitive, so widening int labels to bigint would
    # break certified consumers even with identical values
    cmat, cnorm, label_arr, label_type = packed

    @F.pandas_udf(f"struct<assigned_label: {label_type}, sim: double>")
    def best(vec: pd.Series) -> pd.DataFrame:
        if len(vec) == 0:
            return pd.DataFrame({"assigned_label": [], "sim": []})
        x = np.asarray([np.asarray(e, dtype=np.float64) for e in vec])
        xn = np.sqrt((x * x).sum(axis=1))
        sims = np.round(x @ cmat.T / (xn[:, None] * cnorm[None, :]), round_dp)
        idx = sims.argmax(axis=1)
        return pd.DataFrame(
            {
                "assigned_label": label_arr[idx],
                "sim": sims[np.arange(len(idx)), idx],
            }
        )

    return df.select(id_col, best(F.col(vec_col)).alias("__b")).select(
        F.col(id_col),
        F.col("__b.assigned_label").alias("assigned_label"),
        F.col("__b.sim").alias("sim"),
    )


def kmeans_fit_distributed(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Distributed spherical k-means (Lloyd's): init centroids from k
    deterministically-chosen vectors (md5-rank over ids — layout- and
    rerun-stable, unlike a random sample), then alternate the broadcast
    E-step (assign_to_centroids) and the map-side-combined M-step
    (label_centroids shape, keyed by the assignment). Returns
    (assignments, centroids_long) after `iters` rounds.

    This is the FULL-data trainer complementing ivf_fit_centroids'
    bounded driver-side seeding: every step is a distributed plan — the
    data never leaves the cluster, per-round state is |k| x dim doubles
    (localCheckpoint truncates the growing lineage, same pattern as
    connected_components). Cost per round: one scan + one broadcast
    nested loop + one aggregate whose shuffle is k x dim rows."""
    from pyspark.sql import Window

    if iters < 1:
        raise ValueError(f"kmeans_fit_distributed needs iters >= 1, got {iters}")
    # NOT parallelized here (r12, measured): forcing a partition floor
    # before the per-round Arrow E-step looked like a guide-§2 win but
    # measured a 2x REGRESSION at sf0.1 — each Python-UDF task carries a
    # ~0.3 s fixed worker round-trip, so widening a sub-second Arrow
    # stage multiplies that tax, and the repartition exchange re-runs
    # per iteration besides. At cluster scale the input arrives in many
    # splits and the floor would be a no-op anyway; the binding local
    # cost is per-JOB overhead, addressed by the job-count reductions.

    from .sampling import local_rows_df

    spark = df.sparkSession
    digest = F.md5(F.col(id_col).cast("string"))
    # top-k FIRST (TakeOrderedAndProject: per-partition heaps of k, no
    # single-reducer global sort — the r4 partitionless-window audit fix),
    # THEN rank the k survivors: the md5-rank top-k set is exactly global
    # ranks 1..k, so the row_number over it reproduces the global ranks.
    # dim-sized window: k rows post-limit.
    w = Window.orderBy(digest, F.col(id_col))
    seeds = (
        df.select(id_col, vec_col)
        .orderBy(digest, F.col(id_col))
        .limit(k)
        .withColumn("__rn", F.row_number().over(w))
        .select((F.col("__rn") - 1).alias("label"), F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .select("label", (F.col("pos") + 1).alias("dim"), F.col("v").cast("double").alias("centroid"))
    )
    if round_dp is not None:
        # round seeds AND every M-step centroid: each iteration then
        # consumes identical doubles on any engine, which is what lets an
        # unrolled SQL oracle replay the whole fit (the certified-sibling
        # convention; production runs keep full precision with round_dp=None)
        seeds = seeds.withColumn("centroid", F.round("centroid", round_dp))
    # Per-round centroids live as k x dim LOCAL rows (r12, guide §1.2 /
    # §5): the ONLY consumer of a centroid table is the next E-step's
    # closure collect (assign_to_centroids / _centroid_matrix), so
    # checkpoint-then-collect was two driver round-trips per round where
    # one suffices — and because the E-step ships the centroid MATRIX in
    # the UDF closure, lineage never grows through `cents`, so the
    # checkpoints cut nothing. One collect per round; every downstream
    # collect of the returned table is a free LocalTableScan read.
    cents = local_rows_df(spark, seeds.collect(), seeds.schema)
    assigned = None
    for _ in range(iters):
        assigned = assign_to_centroids(df, cents, id_col=id_col, vec_col=vec_col)
        joined = df.select(id_col, vec_col).join(assigned, id_col)
        new_cents = label_centroids(
            joined.withColumnRenamed("assigned_label", "label"),
            label_col="label",
            vec_col=vec_col,
        ).select("label", "dim", "centroid")
        if round_dp is not None:
            new_cents = new_cents.withColumn(
                "centroid", F.round("centroid", round_dp)
            )
        cents = local_rows_df(spark, new_cents.collect(), new_cents.schema)
    return assigned, cents


def semantic_dedup_flags(
    df: DataFrame,
    centroids_long: DataFrame | None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    assignment: DataFrame | None = None,
    materialize: str | None = "localCheckpoint",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then mark as semantic duplicates the items whose
    cosine to a LOWER-ID item in the SAME cluster meets the threshold —
    min-id canonical, the embedding analogue of exact_dedup's keep-rule.
    Returns (id, sem_cluster, is_semdup) for every input row.

    The clustering is what makes this a 100 TB operator: the pair join
    is keyed on the cluster assignment, so candidate pairs never cross
    cluster boundaries — |cluster|² per cluster instead of |corpus|²,
    with cluster count k tuned so clusters stay partition-sized (the
    paper uses k ≈ sqrt(N)). Assignment itself is the broadcast E-step
    (assign_to_centroids): no data shuffle beyond the cluster-keyed
    self-join. Cosine rounds before the threshold compare (cross-engine
    boundary convention, see embedding_near_dup).

    Pass `assignment` (columns id_col, assigned_label) to reuse a
    clustering that already exists — e.g. kmeans_fit_distributed's final
    E-step — instead of paying another N x k assignment pass here; the
    100 TB pipeline always has that table on hand, so recomputing it
    per-stage would be pure waste (`centroids_long` is then unused and
    may be None).
    """
    if assignment is None:
        if centroids_long is None:
            raise ValueError("need centroids_long or a precomputed assignment")
        assignment = assign_to_centroids(
            df, centroids_long, id_col=id_col, vec_col=vec_col, round_dp=round_dp
        )
    assigned = assignment
    # per-row L2 norm hoisted out of the pair join: dot/(norm_a*norm_b) is
    # the same FP operation sequence as cosine(a, b), but the higher-order
    # zip_with/aggregate expressions (interpreted, not codegen'd) run once
    # per ROW instead of three times per PAIR — ~3x less work on the
    # quadratic side of the operator
    clustered = (
        df.select(F.col(id_col), F.col(vec_col))
        .join(assigned.select(id_col, "assigned_label"), [id_col])
        .select(
            F.col(id_col).alias("id"),
            F.col("assigned_label").alias("sem_cluster"),
            _to_double(F.col(vec_col)).alias("v"),
        )
        .withColumn("nrm", l2_norm(F.col("v")))
    )
    # the clustered table feeds THREE consumers (pair-join a-side, b-side,
    # and the output spine) — without pinning it, the whole upstream
    # assignment (an N x k E-step when centroids come from a k-means fit)
    # re-executes per consumer; localCheckpoint runs it once (measured
    # dominant in the r4 60x probe)
    from .dedup import materialize_df

    clustered = materialize_df(clustered, materialize)
    a, b = clustered.alias("a"), clustered.alias("b")
    pair_sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    dup_ids = (
        a.join(
            b,
            (F.col("a.sem_cluster") == F.col("b.sem_cluster"))
            & (F.col("a.id") > F.col("b.id")),
        )
        .filter(F.round(pair_sim, round_dp) >= threshold)
        .select(F.col("a.id").alias("id"))
        .distinct()
        .withColumn("is_semdup", F.lit(True))
    )
    return (
        clustered.select("id", "sem_cluster")
        .join(dup_ids, ["id"], "left")
        .select(
            F.col("id").alias(id_col),
            F.col("sem_cluster"),
            F.coalesce(F.col("is_semdup"), F.lit(False)).alias("is_semdup"),
        )
    )


def lsh_knn_join(
    queries_df: DataFrame,
    base_df: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    round_dp: int = 6,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Batch ANN join: top-k base-side neighbors for EVERY query row —
    the set-valued sibling of lsh_ann_topk (one query vector) and
    knn_join (exact broadcast baseline). Both sides hash to sign-LSH
    buckets; each query row explodes to its own bucket plus the
    Hamming-1 probes, the candidate join keys on the bucket, and a
    per-query window takes the exact-cosine top-k of the candidates.

    Scale shape: the only wide operation is the bucket-keyed equi-join —
    |queries| x (n_planes+1) probe rows against |base| bucketed rows,
    never the |queries| x |base| cross product the exact kNN join pays.
    With base vectors written bucket-partitioned the probe side prunes to
    (n_planes+1)/2^n_planes of the files. Cosine rounds before ranking
    (cross-engine k-boundary convention).
    """
    planes = _hyperplanes(dim, n_planes, seed)
    base = (
        base_df.select(
            F.col(id_col).alias("base_id"),
            _to_double(F.col(vec_col)).alias("bv"),
        )
        .withColumn("bucket", lsh_bucket(F.col("bv"), planes))
        .withColumn("bnrm", l2_norm(F.col("bv")))
    )
    q = (
        queries_df.select(
            F.col(id_col).alias("query_id"),
            _to_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("qb", lsh_bucket(F.col("qv"), planes))
        .withColumn("qnrm", l2_norm(F.col("qv")))
    )
    probe_buckets = [F.col("qb")] + (
        [F.col("qb").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
        if multiprobe
        else []
    )
    probes = q.select(
        "query_id", "qv", "qnrm", F.explode(F.array(*probe_buckets)).alias("bucket")
    )
    if broadcast_queries:
        # the 100 TB shape: the query batch is orders of magnitude smaller
        # than the base corpus, so its exploded probe index broadcasts and
        # the base side never shuffles (locally AQE would otherwise pick
        # whichever side is smaller — usually the base in tests)
        probes = F.broadcast(probes)
    # norms hoisted per row (FP-identical to cosine(), 3x less pair work)
    cand = probes.join(base, ["bucket"]).select(
        "query_id",
        "base_id",
        F.round(
            dot(F.col("qv"), F.col("bv")) / (F.col("qnrm") * F.col("bnrm")), round_dp
        ).alias("cosine_sim"),
    )
    return _knn_topk(cand, k)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    round_dp: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) over N ranked lists:
    rrf(d) = sum over lists of 1/(k+rank_i(d)), items missing from a list
    contribute 0. The standard zero-training way to merge lexical (BM25)
    and dense (embedding) retrieval — rank-based, so the two scorers'
    incomparable score scales never touch.

    Scale shape: the inputs are already top-k lists (tiny), so the
    full-outer join chain is trivially broadcastable; the heavy lifting
    happened upstream in the retrievers. Emits rank_0..rank_{N-1} audit
    columns (BIGINT, null = absent from that list) + rrf_score rounded
    to `round_dp` (exact dyadic-rational sums still round identically
    across engines)."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    out = None
    cols = []
    for i, r in enumerate(rankings):
        ri = r.select(
            F.col(id_col), F.col(rank_col).cast("bigint").alias(f"rank_{i}")
        )
        out = ri if out is None else out.join(ri, id_col, "full_outer")
        cols.append(f"rank_{i}")
    score = None
    for c in cols:
        term = F.coalesce(F.lit(1.0) / (F.lit(k) + F.col(c)), F.lit(0.0))
        score = term if score is None else score + term
    return out.withColumn("rrf_score", F.round(score, round_dp))


def random_projection(
    df: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    dim: int = 64,
    round_dp: int | None = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: out_dim Gaussian
    hyperplanes (seeded — the same `_hyperplanes` family the sign-LSH
    tier replays as SQL literals) map each d-dim embedding to
    round(dot(v, plane_j), 6) per output coordinate. Pairwise angles are
    preserved in expectation, so a cosine shortlist on the projected
    vectors is a faithful coarse stage at 1/(d/out_dim) of the shuffle
    bytes (64→8 dims = 8x smaller than fp32, 2x smaller than the int8
    path). No normalization constant: cosine is scale-invariant.

    Rounding each coordinate (default 6dp) keeps the projection
    oracle-replayable: the downstream coarse cosine then consumes
    IDENTICAL doubles in both engines, so even order-sensitive
    accumulation differences are bounded and absorbed by the coarse
    score's own rounding. Output: (id_col, vec_col, rp) with the
    original vector passed through for the re-rank stage."""
    planes = _hyperplanes(dim, out_dim, seed)
    v = _to_double(F.col(vec_col))
    coords = []
    for p in planes:
        lit = F.array(*[F.lit(float(x)) for x in p])
        d = dot(v, lit)
        coords.append(F.round(d, round_dp) if round_dp is not None else d)
    return df.select(F.col(id_col), F.col(vec_col), F.array(*coords).alias("rp"))


def rp_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    out_dim: int = 8,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Two-stage ANN via random projection: coarse cosine top-`shortlist`
    in the out_dim-projected space (cheap scan over small vectors), exact
    full-precision cosine re-rank of the shortlist to top-k. Same
    coarse→re-rank shape as the int8 path, trading quantization error
    for dimensionality reduction — at 100 TB the projected index is the
    artifact you'd persist (8 doubles/vector), the full vectors are only
    touched for `shortlist` rows per query. Deterministic end to end:
    seeded planes, rounded projections, rounded scores, id tie-breaks."""
    dim = len(query_vec)
    rp = random_projection(df, out_dim, id_col, vec_col, seed=seed, dim=dim)
    planes = _hyperplanes(dim, out_dim, seed)
    qp = []
    for p in planes:
        qp.append(round(sum(float(a) * float(b) for a, b in zip(query_vec, p)), round_dp))
    q_rp = F.array(*[F.lit(x) for x in qp])
    coarse = F.round(cosine(F.col("rp"), q_rp), round_dp)
    short = (
        rp.select(F.col(id_col), F.col(vec_col), coarse.alias("coarse_sim"))
        .orderBy(F.col("coarse_sim").desc(), F.col(id_col))
        .limit(shortlist)
    )
    return cosine_topk(short, query_vec, k, id_col, vec_col, round_dp)


# --------------------------------------------------------------------------
# Distributed PCA (Gram partials + certified power iteration)
# --------------------------------------------------------------------------


def gram_matrix(
    df: DataFrame, vec_col: str = "embedding", round_dp: int | None = None
) -> DataFrame:
    """(i, j, g) entries of the d x d Gram matrix X'X, 1-based indices.

    The data-sized work is distributed the only way that scales: each
    partition accumulates its own d x d partial (numpy X'X per Arrow
    batch inside mapInPandas — n x d^2 flops stay on the executors),
    emits d^2 (i, j, partial) rows, and one tiny shuffle of
    d^2 x n_partitions rows sums the partials. Nothing data-sized moves:
    at 100 TB the reduce input is still just d^2 doubles per partition.
    `round_dp` rounds the summed entries (engine-order-independent
    consumption downstream — the oracle convention)."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        acc = None
        for batch in batches:
            X = np.array(batch[vec_col].tolist(), dtype=np.float64)
            if X.size == 0:
                continue
            g = X.T @ X
            acc = g if acc is None else acc + g
        if acc is not None:
            d = acc.shape[0]
            ii, jj = np.indices((d, d))
            yield pd.DataFrame(
                {"i": ii.ravel() + 1, "j": jj.ravel() + 1, "part": acc.ravel()}
            )

    out = (
        df.select(vec_col)
        .mapInPandas(partials, schema="i int, j int, part double")
        .groupBy("i", "j")
        .agg(F.sum("part").alias("g"))
    )
    if round_dp is not None:
        out = out.withColumn("g", F.round("g", round_dp))
    return out


def _round_half_up(x: float, dp: int) -> float:
    """Decimal half-away-from-zero on the shortest repr — the same
    boundary behavior as Spark's round() (BigDecimal.valueOf + HALF_UP),
    so driver-side iteration math lands on the exact doubles a Spark/SQL
    replay produces."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), ROUND_HALF_UP))


def pca_power_iteration(
    gram_rows: list, d: int, iters: int = 8, round_dp: int = 6
) -> list[float]:
    """Top principal direction of a ROUNDED Gram matrix by power
    iteration with per-step rounding (v0 = all-ones; each step rounds
    the matvec, the norm, and the normalized vector to `round_dp`), so
    the whole fit is replayable as an unrolled SQL oracle — the same
    certification idiom as kmeans_fit_distributed(round_dp=6). Sign is
    canonicalized so component 1 is non-negative. The input is the
    COLLECTED d x d Gram — model-sized (d^2 doubles), never data-sized —
    the same bounded-fit exemption as the IVF/k-means seeds."""
    import numpy as np

    G = np.zeros((d, d))
    for r in gram_rows:
        G[r["i"] - 1, r["j"] - 1] = r["g"]
    v = np.ones(d)
    for _ in range(iters):
        w = np.array([_round_half_up(x, round_dp) for x in (G @ v)])
        nrm = _round_half_up(float(np.sqrt((w * w).sum())), round_dp)
        v = np.array([_round_half_up(x, round_dp) for x in w / nrm])
    if v[0] < 0:
        v = -v
    return [float(x) for x in v]


def pca_project(
    df: DataFrame,
    component: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Project each vector onto a (broadcast-literal) principal
    component: one JVM-side zip_with/aggregate dot product per row, zero
    shuffle — the embedding-compression scan a 100 TB corpus runs after
    fitting the component on Gram partials."""
    comp = F.array(*[F.lit(float(x)) for x in component])
    proj = F.round(dot(_to_double(F.col(vec_col)), comp), round_dp)
    return df.select(F.col(id_col), *extra_cols, proj.alias("proj"))


def margin_mine(
    df: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_margin_x10k: int = 10200,
    round_dp: int = 6,
    base_df: DataFrame | None = None,
) -> DataFrame:
    """Margin-based cross-group pair mining (the Artetxe-Schwenk ratio
    criterion behind CCMatrix-style bitext mining): for every vector,
    its best and second-best cosine neighbors from OTHER groups; keep
    pairs whose best/second-best ratio clears the margin — a high margin
    means the best match stands out from the background, the signal that
    separates true translations/duplicates from dense-region noise.

    Brute-force exact (broadcast probes x base scan, zero shuffle before
    the per-probe window) — the recall oracle for the bucketed LSH path,
    same contract as knn_join. The margin is emitted as
    floor(1e4 * sim1 / sim2) (exact-rational idiom): both engines divide
    identical 6dp-rounded sims, so the floor is bit-deterministic where
    round() of the ratio would sit on half-boundaries. Pair scoring is
    the Arrow-batched cosine (r6): identical 6dp-rounded values as the
    zip_with fold it replaces (rounding absorbs BLAS reassociation —
    _lsh_buckets_arrow contract), ~10x off the N² hot loop's wall.

    `base_df` (default: df itself) supplies the neighbor side — pass a
    different frame for the ASYMMETRIC cross-corpus reference (probes
    from the new batch, neighbors from the accumulated corpus: the
    brute oracle of margin_mine_pq_xcorpus)."""
    base = (base_df if base_df is not None else df).select(
        F.col(id_col).alias("nbr_id"),
        F.col(group_col).alias("nbr_grp"),
        F.col(vec_col).alias("nbr_v"),
    )
    probes = df.select(
        F.col(id_col).alias("probe_id"),
        F.col(group_col).alias("probe_grp"),
        F.col(vec_col).alias("probe_v"),
    )
    cos = _cosine_pairs_arrow(round_dp)
    scored = (
        F.broadcast(probes)
        .crossJoin(base)
        .filter(F.col("probe_grp") != F.col("nbr_grp"))
        .select(
            "probe_id", "nbr_id", cos(F.col("probe_v"), F.col("nbr_v")).alias("s")
        )
    )
    return _margin_top2(scored, min_margin_x10k)


def _margin_top2(scored: DataFrame, min_margin_x10k: int) -> DataFrame:
    """Shared margin tail: per-probe best/second-best over a candidate
    set (probe_id, nbr_id, s), ratio margin as floor(1e4*sim1/sim2) —
    the exact-rational idiom (floor of one IEEE division of identical
    6dp-rounded doubles is bit-deterministic where round() would sit on
    half-boundaries). Used by both the brute-force recall oracle
    (margin_mine) and the bucketed production path (margin_mine_lsh)."""
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.col("s").desc(), F.col("nbr_id"))
    top2 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    # ONE pass over top2: a best/second split-then-join would evaluate
    # the candidate join + window once PER SIDE (measured 2x wall on the
    # bucketed path); the conditional-max pivot reads it once and is
    # map-side combinable. max(when(rn==1, struct(s, nbr_id))) is exact:
    # at most one row matches each rn per probe.
    pairs = top2.groupBy("probe_id").agg(
        F.max(F.when(F.col("rn") == 1, F.struct("s", "nbr_id"))).alias("b1"),
        F.max(F.when(F.col("rn") == 2, F.col("s"))).alias("sim2"),
    )
    out = (
        pairs.select(
            "probe_id",
            F.col("b1.nbr_id").alias("best_id"),
            F.col("b1.s").alias("sim1"),
            "sim2",
        )
        .filter(F.col("sim2") > 0)
        .withColumn(
            "margin_x10k",
            F.floor(F.lit(10000.0) * F.col("sim1") / F.col("sim2")).cast("bigint"),
        )
        .filter(F.col("margin_x10k") >= min_margin_x10k)
    )
    return out.select("probe_id", "best_id", "sim1", "sim2", "margin_x10k")


def lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """DISTINCT cross-group candidate (probe_id, nbr_id) pairs from the
    L-table OR-construction with Hamming<=1 probes per table — the
    candidate generator behind margin_mine_lsh's production mode,
    exposed so tools (scale probe) can measure candidate volume or
    score candidates with their own strategy.

    Shape: ONE Arrow-batched matmul computes all L buckets per row
    (_lsh_buckets_arrow); posexplode to ID-ONLY (table, bucket) keys —
    L rows per base vector, L·(p+1) per probe (the Hamming-1 flips, a
    JVM XOR explode over the computed long). Exploding ids instead of
    the d-double vectors keeps the wide join's shuffle ~d× smaller.
    Equi-join on (t, bucket), cross-group filter, then dedupe to
    DISTINCT pairs BEFORE any vector math — a pair meeting in k probed
    buckets must score exactly once downstream."""
    table_planes = [
        _hyperplanes(dim, n_planes, seed + _TABLE_SEED_STRIDE * t)
        for t in range(n_tables)
    ]
    bucketer = _lsh_buckets_arrow(table_planes)

    def keyed(idc: str, grp: str, probe_radius1: bool) -> DataFrame:
        tb = df.select(
            F.col(id_col).alias(idc),
            F.col(group_col).alias(grp),
            F.posexplode(bucketer(F.col(vec_col))).alias("t", "_b"),
        )
        if not probe_radius1:
            return tb.select(idc, grp, "t", F.col("_b").alias("bucket"))
        flips = F.array(
            F.col("_b"),
            *[F.col("_b").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        return tb.select(idc, grp, "t", F.explode(flips).alias("bucket"))

    base = keyed("nbr_id", "nbr_grp", probe_radius1=False)
    probes = keyed("probe_id", "probe_grp", probe_radius1=True)
    return (
        probes.join(base, ["t", "bucket"])
        .filter(F.col("probe_grp") != F.col("nbr_grp"))
        .select("probe_id", "nbr_id")
        .distinct()
    )


def margin_mine_lsh(
    df: DataFrame,
    dim: int,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    multiprobe: bool = True,
    hamming: int = 1,
    n_tables: int = 1,
    min_margin_x10k: int = 10200,
    seed: int = 7,
    round_dp: int = 6,
) -> DataFrame:
    """Bucketed margin mining — the 100 TB production twin of
    margin_mine (VERDICT r3 item 3), built on the lsh_knn_join bucket
    machinery with k=2 per probe: every vector hashes to a sign-LSH
    bucket, each probe row explodes to its own bucket plus the Hamming-1
    multiprobes, candidates join on the bucket key (cross-group only),
    and the per-probe window keeps best/second-best for the ratio test.

    Scale shape: the only wide operation is the bucket-keyed equi-join —
    |corpus| x (n_planes+1) probe rows against |corpus| bucketed rows,
    never the |corpus|² cross product the brute-force path pays; with
    base vectors written bucket-partitioned the probe side prunes to
    (n_planes+1)/2^n_planes of the files. SIZE n_planes WITH THE CORPUS
    (n_planes ~ log2(N) - log2(target bucket size)): at a frozen plane
    count expected candidates are N²/2^p — the fixed-k SemDeDup trap —
    while log-scaled planes keep bucket occupancy and candidates-per-row
    constant (probe-evidenced in SCALE_PROBE.json margin_lsh_*).
    Approximation contract: sim2
    is the second-best WITHIN the probed buckets, so margins are
    upper-bound-biased relative to brute force exactly like every
    Artetxe-Schwenk implementation that mines over an ANN index (recall
    vs the exact path is test-asserted AND a measured driver-certified
    number via q_margin_lsh_recall; margin_mine stays the recall
    oracle).

    CANDIDATE GENERATION — two modes:
    - ``n_tables > 1``: **L independent hash tables, OR-construction,
      each probed at Hamming<=1** (the registered production config;
      VERDICT r5 item 3 + Lv et al. multi-probe LSH). Every vector
      hashes into one bucket PER table (L disjoint seeded plane sets);
      each probe additionally explodes to the p one-bit-flip buckets of
      every table; candidates = pairs meeting in ANY (table, probed
      bucket), deduped before the top-2 pivot. Recall is held at the
      design target BY CONSTRUCTION at any plane count — miss
      probability (1-P₁(p))^L with L = size_n_tables(p) (see
      MARGIN_L_TABLES for P₁ and the design point) — where any fixed
      single-table radius decays as p grows with the corpus (a true
      neighbor's expected Hamming distance is p·θ/π, linear in p). Cost
      per probe is L·(p+1)·occupancy candidates — the classic sublinear
      n^ρ LSH bound, with the Hamming-1 probe cutting L ~5x vs pure OR.
    - ``n_tables == 1``: single table with Hamming<=``hamming``
      multiprobe (legacy; kept as the cheap low-p configuration and for
      the pinned regression tests). Each probe row explodes to the
      sum-of-C(p,r) buckets within the radius.

    Each (probe, nbr) pair scores at most once in both modes: multiprobe
    masks are distinct within a table, and the L-table path dedupes
    collisions across tables/probes with a (probe_id, nbr_id)
    max-aggregate (values identical across duplicates — max is a no-op
    semantically, map-side combinable physically) before the window."""
    if n_tables > 1:
        # L-table OR-construction, three narrow stages (candidate
        # generation factored into lsh_candidate_pairs so the scale
        # probe can count/score candidates independently):
        #   1-2. id-only (table, bucket) explode + equi-join + distinct
        #        pairs — see lsh_candidate_pairs.
        #   3.   join the distinct pairs back to the vectors on each
        #        side and score with the Arrow-batched cosine. At test
        #        scale AQE broadcasts the vector side; at 100 TB these
        #        are two id-keyed hash joins.
        pairs = lsh_candidate_pairs(
            df,
            dim=dim,
            n_planes=n_planes,
            n_tables=n_tables,
            group_col=group_col,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
        )
        scored = _exact_rerank_pairs(pairs, df, df, id_col, vec_col, round_dp)
        return _margin_top2(scored, min_margin_x10k)

    planes = _hyperplanes(dim, n_planes, seed)
    base = (
        df.select(
            F.col(id_col).alias("nbr_id"),
            F.col(group_col).alias("nbr_grp"),
            _to_double(F.col(vec_col)).alias("nbr_v"),
        )
        .withColumn("bucket", lsh_bucket(F.col("nbr_v"), planes))
        .withColumn("nbr_nrm", l2_norm(F.col("nbr_v")))
    )
    probes = (
        df.select(
            F.col(id_col).alias("probe_id"),
            F.col(group_col).alias("probe_grp"),
            _to_double(F.col(vec_col)).alias("probe_v"),
        )
        .withColumn("qb", lsh_bucket(F.col("probe_v"), planes))
        .withColumn("probe_nrm", l2_norm(F.col("probe_v")))
    )
    # XOR masks for every bucket within Hamming radius `hamming` of the
    # probe's own (mask 0): all r-subsets of the p bit positions, r <=
    # hamming. Masks are distinct, so probe buckets are distinct and no
    # candidate pair duplicates.
    radius = hamming if multiprobe else 0
    masks = [0]
    for r in range(1, radius + 1):
        for combo in itertools.combinations(range(n_planes), r):
            m = 0
            for i in combo:
                m |= 1 << i
            masks.append(m)
    probe_buckets = [
        F.col("qb").bitwiseXOR(F.lit(m)) if m else F.col("qb") for m in masks
    ]
    exploded = probes.select(
        "probe_id",
        "probe_grp",
        "probe_v",
        "probe_nrm",
        F.explode(F.array(*probe_buckets)).alias("bucket"),
    )
    sim = F.round(
        dot(F.col("probe_v"), F.col("nbr_v"))
        / (F.col("probe_nrm") * F.col("nbr_nrm")),
        round_dp,
    )
    scored = (
        exploded.join(base, ["bucket"])
        .filter(F.col("probe_grp") != F.col("nbr_grp"))
        .select("probe_id", "nbr_id", sim.alias("s"))
    )
    return _margin_top2(scored, min_margin_x10k)


def assign_topn_centroids(
    df: DataFrame,
    centroids_long: DataFrame,
    n: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    round_dp: int = 6,
) -> DataFrame:
    """Top-n E-step: for every vector, its `n` most-cosine-similar
    centroids with ranks 1..n — the multi-assignment an IVF searcher
    probes (rank 1 is the home cell; ranks 2..n are the boundary
    cells whose members would otherwise be invisible to the probe).
    Same machinery and determinism contract as assign_to_centroids
    (one driver-crossing k x dim numpy matrix, one Arrow matmul per
    batch, sims rounded BEFORE ranking, ties to the LOWEST label):
    a stable argsort over label-ascending centroid columns reproduces
    exactly `row_number() OVER (ORDER BY sim DESC, label)` in SQL, so
    certified oracles replay the rank set verbatim. Emits min(n, k)
    rows per input row as (id, *keep_cols, rank, assigned_label, sim)."""
    import numpy as np

    if n < 1:
        # n=0 would silently emit zero rows and n<0 would slice ranks
        # from the TAIL of the argsort — fail loud like the sibling
        # operators (pack_sequences, logreg_fit_distributed) do
        raise ValueError(f"assign_topn_centroids requires n >= 1, got {n}")
    packed = _centroid_matrix(centroids_long)
    if packed is None:
        label_type = centroids_long.schema["label"].dataType.simpleString()
        keep = ", ".join(
            f"{c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
        )
        return df.sparkSession.createDataFrame(
            [],
            schema=f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
            + (keep + ", " if keep else "")
            + f"rank int, assigned_label {label_type}, sim double",
        )
    cmat, cnorm, label_arr, label_type = packed
    top = min(n, len(label_arr))

    @F.pandas_udf(
        f"array<struct<rank: int, assigned_label: {label_type}, sim: double>>"
    )
    def best_n(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(e, dtype=np.float64) for e in vec])
        xn = np.sqrt((x * x).sum(axis=1))
        sims = np.round(x @ cmat.T / (xn[:, None] * cnorm[None, :]), round_dp)
        # stable sort of -sim over label-ascending columns == ORDER BY
        # sim DESC, label — ties resolve to the lowest label, matching
        # assign_to_centroids' first-argmax rule at rank 1
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :top]
        out = [
            [
                {
                    "rank": r + 1,
                    "assigned_label": label_arr[j],
                    "sim": sims[i, j],
                }
                for r, j in enumerate(row)
            ]
            for i, row in enumerate(idx)
        ]
        return pd.Series(out)

    return (
        df.select(id_col, *keep_cols, best_n(F.col(vec_col)).alias("__t"))
        .select(id_col, *keep_cols, F.explode("__t").alias("__b"))
        .select(
            F.col(id_col),
            *[F.col(c) for c in keep_cols],
            F.col("__b.rank").alias("rank"),
            F.col("__b.assigned_label").alias("assigned_label"),
            F.col("__b.sim").alias("sim"),
        )
    )


def ivf_candidate_pairs(
    df: DataFrame,
    k: int,
    iters: int = 1,
    nprobe: int = 2,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    materialize: str | None = "localCheckpoint",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Candidate generator for margin_mine_ivf, factored out (the
    lsh_candidate_pairs convention) so the scale probe counts and
    scores the EXACT production candidate set: fit k certified
    spherical-k-means cells, multi-assign every vector to its top-
    `nprobe` cells, candidates = (probe, base) id pairs where the
    base's HOME cell (rank 1) is one of the probe's cells and groups
    differ. Budget bound by construction: each base row appears in one
    cell, each probe row in nprobe cells, so candidates per probe are
    at most nprobe·max|cell| and a pair can match at most once (no
    dedup stage). Returns (probe_id, nbr_id).

    Pass `centroids` (label_centroids long form) to reuse a fit that
    already exists — e.g. a caller probing SEVERAL nprobe settings over
    ONE quantizer (q_margin_ivf_curve) pays one fit + n assignments
    instead of refitting identical centroids per setting (the
    semantic_dedup_flags assignment= idiom); `k`/`iters` are then
    unused."""
    from .dedup import materialize_df

    if centroids is None:
        _, cents = kmeans_fit_distributed(
            df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, round_dp=round_dp
        )
    else:
        cents = centroids
    top = assign_topn_centroids(
        df,
        cents,
        n=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        keep_cols=(group_col,),
        round_dp=round_dp,
    )
    # two consumers (probe side + home side) of the same E-step output:
    # pin it or the fit's final matmul runs once per consumer
    top = materialize_df(
        top.select(id_col, group_col, "rank", "assigned_label"), materialize
    )
    probes = top.select(
        F.col(id_col).alias("probe_id"),
        F.col(group_col).alias("probe_grp"),
        F.col("assigned_label").alias("cell"),
    )
    home = top.filter(F.col("rank") == 1).select(
        F.col(id_col).alias("nbr_id"),
        F.col(group_col).alias("nbr_grp"),
        F.col("assigned_label").alias("cell"),
    )
    return (
        probes.join(home, ["cell"])
        .filter(F.col("probe_grp") != F.col("nbr_grp"))
        .select("probe_id", "nbr_id")
    )


def margin_mine_ivf(
    df: DataFrame,
    k: int,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
    nprobe: int = 2,
    min_margin_x10k: int = 10200,
    round_dp: int = 6,
    materialize: str | None = "localCheckpoint",
) -> DataFrame:
    """IVF margin mining — the BUDGET-holding dual of margin_mine_lsh
    for the Artetxe-Schwenk ratio criterion. The L-table LSH path holds
    RECALL by construction and pays whatever candidate budget that
    costs (for far neighbors, s* → 0 drives ρ → 1 and the candidate set
    approaches all pairs — measured 43-76% of N²/2 at every
    SCALE_PROBE factor); this path holds the candidate BUDGET by
    construction (cluster geometry bounds it at ~nprobe·N^1.5 with
    k ~ sqrt(N)) and recall is a measured output that depends on how
    concentrated true mates are in the probed cells (high for near-mate
    corpora; decaying with k for far-mate ones — see q_margin_mine_ivf
    for the measured numbers and the contract discussion).

    Shape: fit k spherical-k-means centroids on the corpus itself
    (kmeans_fit_distributed — certified fit, md5-rank seeds, 6dp-rounded
    M-steps), multi-assign every vector to its top-`nprobe` centroids
    (assign_topn_centroids — one Arrow matmul, NO shuffle), then
    candidates = (probe row, base row) pairs where the base's HOME cell
    (rank 1) is any of the probe's nprobe cells and groups differ. With
    k ~ sqrt(N): E|cell| ~ sqrt(N), candidates ~ nprobe·N^1.5 — the
    SemDeDup bound — vs the L-table path's near-N² at this corpus's
    weak design point. Each (probe, nbr) pair matches at most once (the
    base home cell is unique; the probe's nprobe cells are distinct),
    so no pair dedup is needed. The only wide operations: the fit's
    k x dim M-step shuffles, the cell-keyed equi-join, and the per-probe
    top-2 window.

    Approximation contract: sim1/sim2 come from the probed cells only —
    recall vs margin_mine (brute) is a MEASURED, driver-certified number
    (q_margin_ivf_recall), exactly the margin-LSH reporting idiom. The
    whole fit + top-n rank chain rounds at `round_dp` before every
    compare, so an unrolled-CTE SQL oracle replays it bit-for-bit
    (queries_llm._margin_ivf_pairs_sql)."""
    cand = ivf_candidate_pairs(
        df,
        k=k,
        iters=iters,
        nprobe=nprobe,
        group_col=group_col,
        id_col=id_col,
        vec_col=vec_col,
        round_dp=round_dp,
        materialize=materialize,
    )
    scored = _exact_rerank_pairs(cand, df, df, id_col, vec_col, round_dp)
    return _margin_top2(scored, min_margin_x10k)


# --------------------------------------------------------------------------
# Product quantization (IVF-PQ completes the 100 TB ANN stack)
# --------------------------------------------------------------------------
#
# PQ (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011) compresses a d-dim vector to m single-byte codes:
# split the vector into m subspaces of d/m dims, k-means each subspace to
# k_codes centroids ("the codebook"), store per vector only the m argmin
# code ids. At dim=64/m=4 that is 4 bytes per vector vs 256 bytes of
# float32 — a 64x reduction, which is exactly what makes billion-vector
# (100 TB embedding-corpus) search feasible: the CODES table fits where
# the raw vectors never could, and query scoring never touches the raw
# corpus again. Search is ADC (asymmetric distance computation): per
# query, precompute an m x k_codes lookup table of squared subspace
# distances, then score every code row with m table lookups + (m-1)
# additions — a pure scan, no shuffle, memory-bandwidth-bound.
#
# Determinism contract (the certified-fit idiom of
# kmeans_fit_distributed): every per-step aggregate rounds to `round_dp`
# decimals, seeds are md5-rank-chosen, distance ties break to the LOWEST
# code, and every sum of squares accumulates SEQUENTIALLY in dimension
# order — the same left-to-right fold DuckDB's list_sum and Spark's
# F.aggregate perform — so an unrolled-CTE SQL oracle replays the whole
# fit + encode + ADC ranking bit-for-bit (queries_llm._pq_cert_oracle).


def _pq_sumsq_seq(X, C):
    """Squared L2 distances between rows of X (n x d) and rows of C
    (k x d), accumulated SEQUENTIALLY over dimensions (d explicit
    Python-loop steps of vectorized adds) rather than one numpy
    reduction: numpy's pairwise summation reassociates, and the oracle's
    list_sum folds left-to-right — sequential accumulation makes both
    engines produce the identical double before the 6dp round."""
    import numpy as np

    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for d in range(X.shape[1]):
        diff = X[:, d][:, None] - C[:, d][None, :]
        acc += diff * diff
    return acc


def pq_fit(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Train the PQ codebook: m independent k-means fits, one per
    subspace, run as ONE distributed job — vectors explode to m
    (sub, subvector) rows, a single Arrow UDF assigns every row to its
    nearest code (per-subspace codebooks ship inside the closure: m x
    k_codes x d/m doubles — KBs), and one grouped aggregate refits all
    m codebooks at once. Returns the codebook long-form:
    (sub, code, dim, centroid) with dim 1-based within the subspace.

    Scale shape per iteration: one corpus scan + one Arrow map (no
    join), then a shuffle of |corpus| x m assignment rows into an
    aggregate whose output is m x k_codes x d/m rows — the M-step is
    map-side combinable (avg = sum/count partials). Seeds are the
    md5-rank top-k_codes vectors (layout- and rerun-stable), each
    sliced into its m subvectors, so codebook j's seed c_j = seed
    vector's j-th slice — one seed CTE serves every subspace in the
    oracle replay."""
    from pyspark.sql import Window

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    digest = F.md5(F.col(id_col).cast("string"))
    # dim-sized window: the row_number runs AFTER the .limit(k_codes)
    # top-k (TakeOrderedAndProject heaps), so it orders k_codes rows —
    # the kmeans_fit_distributed seed idiom
    w = Window.orderBy(digest, F.col(id_col))
    seeds = (
        df.select(id_col, vec_col)
        .orderBy(digest, F.col(id_col))
        .limit(k_codes)
        .withColumn("__rn", F.row_number().over(w))
        .select(
            (F.col("__rn") - 1).alias("code"),
            F.posexplode(_to_double(F.col(vec_col))).alias("pos", "v"),
        )
        .select(
            (F.col("pos") / sub_dim).cast("int").alias("sub"),
            "code",
            (F.col("pos") % sub_dim + 1).alias("dim"),
            F.round(F.col("v"), round_dp).alias("centroid"),
        )
        # no checkpoint: the seed table's only consumer is the round-1
        # cents.collect() below — pinning it first just added a job
    )
    slices = F.array(
        *[
            F.slice(_to_double(F.col(vec_col)), j * sub_dim + 1, sub_dim)
            for j in range(m)
        ]
    )
    svdf = df.select(
        F.col(id_col), F.posexplode(slices).alias("sub", "sv")
    )
    from .sampling import local_rows_df

    cents = seeds
    for _ in range(iters):
        assign = _pq_assign_udf(cents.collect(), round_dp)
        assigned = svdf.select(
            "sub", assign(F.col("sub"), F.col("sv")).alias("code"), "sv"
        )
        new_cents = (
            assigned.select(
                "sub", "code", F.posexplode("sv").alias("pos", "x")
            )
            .groupBy("sub", "code", (F.col("pos") + 1).alias("dim"))
            .agg(F.round(F.avg("x"), round_dp).alias("centroid"))
        )
        # Per-round codebook as m x k_codes x sub_dim LOCAL rows (r12,
        # guide §1.2/§5): every consumer — the next round's assign UDF,
        # pq_encode, the ADC LUT builders — collects it driver-side
        # anyway, and the assign closure already cuts lineage, so the old
        # checkpoint-then-collect paid two driver round-trips (plus
        # pinned blocks) per round where ONE collect suffices. Downstream
        # collects of the returned codebook are free LocalTableScan reads.
        cents = local_rows_df(
            df.sparkSession, new_cents.collect(), new_cents.schema
        )
    return cents


def _codebook_matrices(cent_rows):
    """codebook long rows -> {sub: (sorted code ids array, k x d matrix)}."""
    import numpy as np

    by_sub: dict = {}
    for r in cent_rows:
        by_sub.setdefault(r["sub"], {}).setdefault(r["code"], {})[r["dim"]] = float(
            r["centroid"]
        )
    out = {}
    for s, codes in by_sub.items():
        ids = sorted(codes)  # ascending -> argmin's first hit = lowest code
        mat = np.array(
            [[codes[c][d] for d in sorted(codes[c])] for c in ids],
            dtype=np.float64,
        )
        out[s] = (np.array(ids, dtype=np.int64), mat)
    return out


def _pq_assign_udf(cent_rows, round_dp: int):
    """Arrow UDF (sub, subvector) -> nearest code id. Distances round to
    round_dp BEFORE the argmin; codebook rows sort by code ascending so
    argmin's first-minimum tie break = lowest code — the exact semantics
    the oracle's row_number(ORDER BY dist, code) replays."""
    import numpy as np

    books = _codebook_matrices(cent_rows)

    @F.pandas_udf("int")
    def best(sub: pd.Series, sv: pd.Series) -> pd.Series:
        out = np.empty(len(sub), dtype=np.int64)
        if len(sub) == 0:
            return pd.Series(out)
        subs = sub.to_numpy()
        X = np.asarray([np.asarray(e, dtype=np.float64) for e in sv])
        for s in np.unique(subs):
            ids, C = books[int(s)]
            mask = subs == s
            D = np.round(_pq_sumsq_seq(X[mask], C), round_dp)
            out[mask] = ids[D.argmin(axis=1)]
        return pd.Series(out)

    return best


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Compress every vector to its m PQ codes: (id, codes array<int>).
    ONE Arrow map over the corpus — the codebook ships in the closure,
    the plan is N-in/N-out with no join and no shuffle (the
    assign_to_centroids shape), and the output row is m ints where the
    input was dim floats."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    books = _codebook_matrices(codebook.collect())

    @F.pandas_udf("array<int>")
    def codes(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        X = np.asarray([np.asarray(e, dtype=np.float64) for e in vec])
        out = np.empty((len(vec), m), dtype=np.int64)
        for j in range(m):
            ids, C = books[j]
            D = np.round(
                _pq_sumsq_seq(X[:, j * sub_dim : (j + 1) * sub_dim], C),
                round_dp,
            )
            out[:, j] = ids[D.argmin(axis=1)]
        return pd.Series(list(out))

    return df.select(F.col(id_col), codes(F.col(vec_col)).alias("codes"))


def pq_adc_topk(
    codes_df: DataFrame,
    codebook: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """ADC query over the compressed codes: build the m x k_codes
    lookup table of squared subspace distances driver-side (pure Python
    floats, sequential dimension fold — bit-identical to the oracle's
    list_sum), ship it as a literal array-of-arrays, and score each row
    with zip_with + aggregate JVM lookups: codes[j] indexes LUT row j,
    the m partial distances fold left-to-right, round, then top-k via
    TakeOrderedAndProject (per-partition heaps, no global sort). The
    scan never touches raw vectors — at 100 TB this reads m bytes per
    candidate instead of 4·dim."""
    rows = codebook.collect()
    dim = len(query_vec)
    sub_dim = dim // m
    by_sub: dict = {}
    for r in rows:
        by_sub.setdefault(r["sub"], {}).setdefault(r["code"], {})[r["dim"]] = float(
            r["centroid"]
        )
    lut: list[list[float]] = []
    for j in range(m):
        row = []
        for c in range(k_codes):
            cent = by_sub.get(j, {}).get(c)
            if cent is None:
                # code never trained (empty cluster) -> never emitted by
                # pq_encode; sentinel keeps the literal array rectangular
                row.append(float("inf"))
                continue
            acc = 0.0
            for d in range(sub_dim):
                diff = query_vec[j * sub_dim + d] - cent[d + 1]
                acc += diff * diff
            row.append(_round_half_up(acc, round_dp))
        lut.append(row)
    lut_lit = F.array(
        *[F.array(*[F.lit(x) for x in row]) for row in lut]
    )
    adc = F.round(
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                lut_lit,
                lambda c, row: F.element_at(row, c + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        round_dp,
    )
    return (
        codes_df.select(F.col(id_col), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def pq_ann_topk(
    df: DataFrame,
    codes_df: DataFrame,
    codebook: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Production two-stage PQ search (the quantized_ann_topk shape):
    stage 1 shortlists `shortlist` candidates from the COMPRESSED codes
    alone (pq_adc_topk — the scan that reads m bytes/row), stage 2
    re-ranks only those raw vectors by exact cosine. The shortlist is
    k-bounded so it broadcasts into a semi-join — the raw corpus is
    touched for `shortlist` rows, not N. This is how PQ is deployed
    (Jégou et al. §V: ADC + re-ranking): the codebook is lossy by
    design and the re-rank restores exactness within the shortlist."""
    short = pq_adc_topk(
        codes_df,
        codebook,
        query_vec,
        k=shortlist,
        m=m,
        k_codes=k_codes,
        id_col=id_col,
        round_dp=round_dp,
    ).select(id_col)
    cand = df.join(F.broadcast(short), id_col, "left_semi")
    return cosine_topk(
        cand, query_vec, k=k, id_col=id_col, vec_col=vec_col, round_dp=round_dp
    )


# --------------------------------------------------------------------------
# ADC-shortlisted margin mining (closes the LSH/IVF duality — VERDICT r6
# item 2)
# --------------------------------------------------------------------------
#
# The two registered margin miners each hold ONE side of the contract on
# far-mate geometry (best cross-group neighbor at cosine ~0.35, i.e. an
# extreme-value over near-random background): the L-table LSH path holds
# recall >= 0.95 but its candidate set is 43-76% of all pairs (s* -> 0
# drives the LSH exponent rho -> 1 — an information-theoretic wall, not an
# implementation defect), while the IVF path holds budget ~nprobe·N^1.5
# but measures recall 0.32-0.36 at nprobe=2, and the measured curve shows
# 0.85 recall needs probing ~40% of all cells — quadratic again.
#
# PQ-ADC breaks the stalemate by moving the unavoidable all-pairs scan
# into the COMPRESSED domain (Jégou-Douze-Schmid ADC, the FAISS design):
# score every cross-group pair approximately over m one-byte codes
# (16 bytes/vector vs 512 — a memory-bandwidth numpy loop, never a
# row-per-pair Spark shuffle), keep only the top-C approximate neighbors
# per probe, and spend FULL-VECTOR work only on those C·N pairs. With
# C = size_adc_shortlist(N) ~ 2·sqrt(N) the exact-scoring budget is
# ~2·N^1.5 — the same asymptotic the IVF path pays at nprobe=2 — while
# measured pair-recall is 0.97 / 0.96 at the two driver scales (vs IVF's
# 0.36 at the same budget). The candidate fraction 2C/N falls with N.


def size_adc_shortlist(n_rows: int, min_shortlist: int = 32) -> int:
    """SIZE THE ADC SHORTLIST WITH THE CORPUS (the size_n_planes /
    size_n_tables idiom applied a third time): C = max(min, 2·ceil(√N)).
    Rationale: the exact re-rank budget is C·N; C ~ 2√N pins it to the
    IVF miner's 2·N^1.5 reference budget, and the measured pair-recall
    at this rule is 0.9689 (sf0.01, C=46) / 0.9628 (sf0.1, C=90) — both
    comfortably above the 0.85 certified floor, with the needed C
    growing sublinearly in N on this geometry (measured 64 -> 160 for a
    4x N step at fixed recall). Integer arithmetic only (isqrt), so a
    SQL oracle replays the rule verbatim as 2*ceil(sqrt(N))."""
    if n_rows <= 0:
        return min_shortlist
    ceil_sqrt = math.isqrt(n_rows - 1) + 1 if n_rows > 1 else 1
    return max(min_shortlist, 2 * ceil_sqrt)


def _size_from_curve(curve_rows, key_field: str, recall_target_x10k: int):
    """Shared sizing rule for every measured recall curve: smallest
    `key_field` value whose recall_x10k clears the target, or None when
    no rung does. STRICT row contract (ADVICE r7): named access for
    Row/dict rows — a Row with reordered fields must never silently
    size from the wrong column — and plain tuples/lists accepted
    positionally ONLY as exactly (key, recall_x10k) pairs."""
    best = None
    for r in curve_rows:
        if isinstance(r, (tuple, list)) and not hasattr(r, "__fields__"):
            if len(r) != 2:
                raise ValueError(
                    f"positional rows must be exactly "
                    f"({key_field}, recall_x10k) pairs, got {len(r)} fields"
                )
            key, rec = r
        else:
            key, rec = r[key_field], r["recall_x10k"]
        if rec >= recall_target_x10k and (best is None or key < best):
            best = int(key)
    return best


def size_adc_mult(curve_rows, recall_target_x10k: int = 8500):
    """Size the ADC shortlist MULTIPLIER from a measured (mult,
    recall_x10k) curve — the size_nprobe idiom applied to C: smallest
    multiplier of ceil(√N) whose measured pair-recall clears the
    target, or None when no rung does (VERDICT r7 item 3: the frozen
    2·√N rule's recall decays with N — 0.898 at the 60× probe, 48bp
    over the floor — so deployments at larger N size C from THEIR
    corpus's measured curve instead of trusting the driver-scale
    constant). Strict row contract via _size_from_curve."""
    return _size_from_curve(curve_rows, "mult", recall_target_x10k)


def size_nprobe(curve_rows, recall_target_x10k: int = 8500):
    """Size the IVF miner's nprobe from the CERTIFIED recall curve
    (VERDICT r6 item 2): smallest measured nprobe whose recall_x10k
    clears the target, or None when no point on the measured ladder
    does — the honest answer on far-mate geometry, where the curve
    crosses 0.85 only past ~40% of all cells and the caller should
    switch to margin_mine_pq instead of freezing a quadratic nprobe.
    Strict row contract via _size_from_curve: named `nprobe`/
    `recall_x10k` fields (q_margin_ivf_curve's output) or exactly-
    2-field positional pairs."""
    return _size_from_curve(curve_rows, "nprobe", recall_target_x10k)


#: IVFADC nprobe rung family (r9, VERDICT r8 item 2). Two kinds:
#:   ("frac", s) — nprobe = ceil(k·s/12) of the k = ceil(√N) coarse
#:     cells: a corpus-RELATIVE operating point whose scanned fraction
#:     is ~s/12 at any N. r8's ladder was frac-only with a floor of
#:     s = 3, so once the sized rung bottomed out (measured at the
#:     60×/100× probes) the pruned scan stayed a CONSTANT ~25% of N² —
#:     a ≤4× win, not a falling fraction.
#:   ("abs", p) — nprobe = min(k, p): the FAISS idiom (IndexIVFPQ fixes
#:     nprobe while the cell count grows with the index), so the
#:     scanned fraction ~p/k = p/√N FALLS as the corpus grows. These
#:     rungs let the sized decision keep pruning deeper with N instead
#:     of flooring, and the sub-3 fractional rungs (1, 2) probe below
#:     the old floor so the geometry's recall floor is MEASURED, never
#:     assumed. The top rung ("frac", 12) scans every cell = the flat
#:     PQ miner, so the 0.85 sizing target is always reachable.
#: ("abs", 32) added r10 (VERDICT r9 item 4): the gap between abs-16 and
#: abs-64 is exactly where the sized decision operates at depth — at the
#: 200×/300× probe factors frac-1 realizes nprobe 27/33, so an abs rung
#: in the high-20s/low-30s is the first place the FAISS falling-fraction
#: regime can become the SELECTED (minimum-nprobe) rung rather than just
#: a measured one.
IVFADC_RUNGS: tuple = (
    ("abs", 4),
    ("abs", 16),
    ("abs", 32),
    ("abs", 64),
    ("frac", 1),
    ("frac", 2),
    ("frac", 3),
    ("frac", 4),
    ("frac", 5),
    ("frac", 6),
    ("frac", 8),
    ("frac", 12),
)


def ivfadc_rung_nprobe(kind: str, rung: int, k_cells: int) -> int:
    """Realized nprobe of one IVFADC ladder rung at k coarse cells —
    integer arithmetic only, replayed verbatim by the SQL oracles
    (frac: (k*s + 11) // 12; abs: greatest(1, least(k, p)))."""
    if kind == "abs":
        return max(1, min(k_cells, rung))
    if kind == "frac":
        return (k_cells * rung + 11) // 12
    raise ValueError(f"unknown rung kind {kind!r} (expected 'abs'|'frac')")


class LadderSaturatedError(RuntimeError):
    """Raised by sized-miner consumers when a measured recall ladder
    SATURATES — no rung, including the full-scan top rung, clears the
    recall target, so code resolution (not pruning) binds and mining at
    any nprobe would silently ship sub-floor recall. The message names
    the certified escapes (residual encoding, larger code budget m) so
    callers are routed, not floored (VERDICT r9 item 5). Never raised
    on the registered corpora; the 200× scale probe measured the flat
    m=16 ladder saturating ~0.83."""


def size_ivfadc_rung(ladder_rows, recall_target_x10k: int = 8500):
    """Pick the CHEAPEST rung of a measured mixed-kind IVFADC ladder
    clearing the recall target: minimum realized nprobe — the actual
    scan cost, comparable across kinds — tie-broken ('abs' before
    'frac', then rung) so duplicate-nprobe rungs decide
    deterministically and the SQL oracle's ORDER BY nprobe, kind, rung
    LIMIT 1 replays the choice. Rows need named kind/rung/nprobe/
    recall_x10k fields or positional (kind, rung, nprobe, ..., recall)
    tuples with recall last. Returns (kind, rung, nprobe) or None."""
    best = None
    for r in ladder_rows:
        if isinstance(r, (tuple, list)) and not hasattr(r, "__fields__"):
            kind, rung, nprobe, rec = r[0], r[1], r[2], r[-1]
        else:
            kind, rung, nprobe, rec = (
                r["kind"], r["rung"], r["nprobe"], r["recall_x10k"]
            )
        if rec >= recall_target_x10k:
            cand = (int(nprobe), str(kind), int(rung))
            if best is None or cand < best:
                best = cand
    return (best[1], best[2], best[0]) if best is not None else None


def _adc_luts(X, code_mats, m: int, sub_dim: int):
    """Per-probe ADC lookup tables: for each subspace j, the inner
    products of every probe's j-th slice with every code centroid —
    m matrices of (|probes| x k_codes). Accumulated SEQUENTIALLY over
    the sub_dim coordinates (no BLAS reassociation/FMA — the
    _pq_sumsq_seq convention) so the oracle's left-to-right list_sum
    fold reproduces every entry bit-for-bit. Shared by the flat ADC
    scan and the IVF-pruned one."""
    import numpy as np

    luts = []
    for j in range(m):
        Z = X[:, j * sub_dim : (j + 1) * sub_dim]
        Cj = code_mats[j]
        acc = np.zeros((X.shape[0], Cj.shape[0]), dtype=np.float64)
        for i in range(sub_dim):
            acc += Z[:, i, None] * Cj[None, :, i]
        luts.append(acc)
    return luts


def normalize_rounded(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "nv",
    round_dp: int = 6,
) -> DataFrame:
    """Unit-normalize every vector and round each coordinate to
    `round_dp`, entirely JVM-side: the squared-norm accumulates with the
    same left-to-right F.aggregate fold DuckDB's list_sum performs, and
    sqrt/divide are single IEEE ops — so an oracle's
    ``list_transform(ve, x -> round(x / sqrt(list_sum([e*e for e in
    ve])), 6))`` reproduces the output bit-for-bit. Normalizing BEFORE
    PQ makes ADC inner products approximate cosine directly (no
    per-neighbor norm term), which is what the margin criterion ranks
    by.

    Zero-norm rows (an all-zero embedding has no direction to
    normalize) are dropped EXPLICITLY here (ADVICE r7) rather than
    silently as NaN fallout of the downstream isfinite mask: a
    degenerate vector can be neither a probe nor a neighbor in any
    cosine-ranked pipeline, and the predicate (sum of squares > 0) is
    the one an oracle mirrors verbatim when its corpus can contain
    such rows — the registered corpora cannot (generator-enforced), so
    the registered oracles need no extra predicate."""
    # Parallelism floor first (guide §2/§6): every registered corpus is a
    # single parquet split, so without this the whole normalize — and
    # everything its callers derive from the checkpointed output (PQ fit
    # explode, encode, probe scans) — runs as ONE task (measured 660 ms
    # single-task stage in the r12 q_margin_mine_pq profile; ~30 ms wide).
    # Row-wise transform, so the split only reorders aggregate partials
    # downstream — absorbed by the 6dp rounding convention and re-checked
    # by the dual-scale oracle sweep.
    from .sampling import ensure_min_partitions

    df = ensure_min_partitions(df, df.sparkSession.sparkContext.defaultParallelism)
    # Stage the fold once as a column instead of inlining it into both
    # the filter and the per-element lambda (the shingle_table lesson):
    # the inlined form codegen'd the whole aggregate tree into every
    # division, tripling first-run JIT time. Values are bit-identical —
    # same IEEE ops on the same inputs, just evaluated once per row.
    # The staging column name dodges caller columns (ADVICE r11):
    # withColumn would silently REPLACE a caller's column of that name
    # and drop() would then delete their data.
    tmp = "__sumsq"
    while tmp in df.columns:
        tmp += "_"
    v = _to_double(F.col(vec_col))
    sumsq = F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    return (
        df.withColumn(tmp, sumsq)
        .filter(F.col(tmp) > 0)
        .withColumn(
            out_col,
            F.transform(v, lambda x: F.round(x / F.sqrt(F.col(tmp)), round_dp)),
        )
        .drop(tmp)
    )


def adc_shortlist_pairs(
    df_norm: DataFrame,
    codebook: DataFrame,
    codes_df: DataFrame,
    shortlist: int | None,
    dim: int,
    m: int = 16,
    group_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "nv",
    round_dp: int = 6,
    max_index_bytes: int = 1 << 30,
    nbr_chunk: int = 1 << 18,
    n_shards: int = 1,
    index_df: DataFrame | None = None,
    cross_group_only: bool = True,
    validate_coverage: bool = False,
    home_df: DataFrame | None = None,
    cells_col: str = "cells",
    anchors_df: DataFrame | None = None,
) -> DataFrame:
    """Per-probe top-`shortlist` candidates by ADC inner product over
    the compressed codes — the quadratic scan of margin mining and the
    kNN joins run in the compressed domain. Returns (probe_id, nbr_id).
    The flat PQ scan and the IVF-pruned (IVFADC) scan are one kernel:
    the flat index is the one-cell case, where every index row is in
    cell 0 and every probe probes it.

    IVF pruning (`home_df` given — (id, cell), each index row's rank-1
    coarse cell): `df_norm` also carries `cells_col`, the ARRAY of the
    probe's probed cells (assign_cells_ranked sliced to nprobe;
    membership only), and a probe scores only the codes whose home cell
    it probes — ~nprobe/k of the flat Θ(N²·m) compute (FAISS's IVFADC,
    Jégou-Douze-Schmid TPAMI 2011 §V). RESIDUAL mode (`anchors_df` given
    — (cell, av) from cell_anchors): `codes_df` then holds PQ codes of
    r = nv − av(home), and the scan scores ⟨q, av(cell)⟩ + ⟨q, r̂⟩
    (Jégou §III). The anchor term accumulates sequentially over the dim
    coordinates and seeds the per-cell ADC total BEFORE the m LUT
    partials, so an oracle's left-to-right ``qa + lut_0 + … +
    lut_{m-1}`` fold replays every score; anchors ride in the index
    broadcast (k·dim doubles).

    `index_df` (default: df_norm itself) supplies the (id, group) rows
    the codes describe — a DIFFERENT frame for the asymmetric shapes
    (a new batch or query set probing a standing index).
    `cross_group_only=False` switches the exclusion mask from
    same-group to same-ID (general batched ANN: only a vector's own row
    is never its neighbor). `validate_coverage=True` asserts the codes
    (and home cells) exactly cover the index rows before scanning
    (ADVICE r7): the joins are INNER, so a STALE persisted index would
    otherwise silently scan only the intersection; in-query codes are
    covering by construction and skip the three count jobs.

    Index residency contract (how FAISS deploys ADC): the CODES —
    m one-byte codes + id + group (+ cell) per vector, 16-30x smaller
    than the raw corpus — are collected once, sorted by (cell, id) on
    the driver so each cell is one contiguous id-ascending slice (the
    inverted-file layout as slice offsets into one array), and
    broadcast; each probe partition scans the in-RAM index with numpy
    at memory bandwidth. This is the ONLY corpus-sized collect in the
    engine and it is guarded: the build raises when the index would
    exceed `max_index_bytes` (default 1 GiB ~ 4e7 vectors at m=16).
    `shortlist=None` sizes C = size_adc_shortlist(|index|) from the
    rows this build collects anyway (no separate count job).

    Past the residency budget, pass `n_shards > 1` — the TESTED
    shard-and-union path: the index rows split into n deterministic
    hash shards (pmod(xxhash64(id), n)), each shard builds its own
    guarded in-RAM index and scans the probes independently (per-shard
    top-C WITH the rounded ADC sims), and one bounded window (<= n·C
    rows per probe) re-selects the GLOBAL top-C by the same (adc desc,
    nbr_id) total order. Bit-identical to the unsharded scan — every
    global top-C pair ranks <= C within its own shard, so the union
    contains it — which is what lets one oracle certify both paths.
    Id shards split any cell, so a single cell over the budget still
    builds. The raw-vector corpus is never collected anywhere.

    Determinism (oracle-replayable): per-sub LUT inner products
    accumulate sequentially over the sub_dim coordinates (the
    _pq_sumsq_seq convention — no BLAS reassociation/FMA), the m
    per-sub partials add in ascending sub order, the total rounds to
    `round_dp` BEFORE ranking, and ties break to the LOWEST nbr_id. The
    neighbour axis of each cell is scanned in `nbr_chunk` slices and
    every slice's local top-C merges into the probe's running top-C by
    (adc desc, nbr_id) — chunking and cell order cannot change the
    result because the ranking is a total order and each global top-C
    element survives its own slice's local top-C."""
    import numpy as np

    if shortlist is not None and shortlist < 1:
        raise ValueError(f"adc_shortlist_pairs requires shortlist >= 1, got {shortlist}")
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if cross_group_only and group_col is None:
        raise ValueError("cross_group_only=True requires a group_col")
    sub_dim = dim // m
    books = _codebook_matrices(codebook.collect())
    code_mats = [books[j][1] for j in range(m)]  # k_codes x sub_dim each
    spark = df_norm.sparkSession
    pruned = home_df is not None
    index_src = index_df if index_df is not None else df_norm
    # an unsharded index is collected whole, so its id-keyed sides fit a
    # broadcast; shuffle joins here let AQE re-plan at run time and the
    # collect's job count varied between identical runs
    side = F.broadcast if n_shards == 1 else (lambda d: d)
    # group_col=None (general ANN): the index carries a constant group
    grp = F.col(group_col) if group_col is not None else F.lit("")
    indexed = codes_df.join(side(index_src.select(F.col(id_col), grp.alias("__g"))), id_col)
    if pruned:
        cells = home_df.select(F.col(id_col), F.col("cell").alias("__cell"))
        indexed = indexed.join(side(cells), id_col)
    else:
        indexed = indexed.withColumn("__cell", F.lit(0))
    indexed = indexed.select(id_col, "__g", "__cell", "codes")
    if validate_coverage:
        # ids are unique on every side (pq_encode/table contracts), so
        # |codes| == |index| == |codes ⋈ index (⋈ home)| is exact cover
        n_codes, n_index, n_joined = codes_df.count(), index_src.count(), indexed.count()
        if not (n_codes == n_index == n_joined):
            raise ValueError(
                f"stale {'IVFADC' if pruned else 'PQ'} index: codes cover "
                f"{n_joined} of {n_index} index rows ({n_codes} code rows) — "
                "rebuild the persisted assets (codebook, codes, and for IVFADC "
                "the quantizer, home cells and anchors) on the current index "
                "table so ids match exactly. If rebuilding does not fix it, the "
                "index table contains zero-norm vectors (normalize_rounded drops "
                "them by contract) — filter those rows out of the index first"
            )
    anchor_map = None
    if anchors_df is not None:
        anchor_map = {
            int(r["cell"]): np.asarray(r["av"], dtype=np.float64)
            for r in anchors_df.collect()
        }

    def build_index(sub: DataFrame):
        # the inverted file, sorted DRIVER-side (r12): a cluster-side
        # orderBy+collect pays a sampling pass + total-sort exchange for
        # rows headed to the driver anyway
        rows = sub.collect()
        n_idx = len(rows)
        idx_bytes = n_idx * (m + (24 if pruned else 16))
        if idx_bytes > max_index_bytes:
            raise ValueError(
                f"ADC index would be ~{idx_bytes} bytes for {n_idx} vectors at "
                f"m={m}, over the {max_index_bytes} residency budget — raise "
                "n_shards (the tested shard-and-union path, see docstring)"
            )
        ids = np.array([r[id_col] for r in rows], dtype=np.int64)
        cells = np.array([r["__cell"] for r in rows], dtype=np.int64)
        order = np.lexsort((ids, cells))
        grps = np.array([rows[i]["__g"] for i in order])
        codes = np.array([rows[i]["codes"] for i in order], dtype=np.int64)
        ids, cells, codes = ids[order], cells[order], codes.reshape(n_idx, m)
        # cell -> (start, end) slice offsets into the sorted arrays
        bounds = np.flatnonzero(np.diff(cells)) + 1
        slices = {
            int(cells[s]): (int(s), int(e))
            for s, e in zip([0, *bounds], [*bounds, n_idx])
            if n_idx
        }
        if anchor_map is not None and set(slices) - set(anchor_map):
            raise ValueError(
                "residual IVFADC: anchors_df is missing anchors for occupied "
                f"cells {sorted(set(slices) - set(anchor_map))[:5]}… — anchors "
                "must come from the same corpus/home assignment as codes_df"
            )
        index = (ids, grps, codes, slices, anchor_map)
        return spark.sparkContext.broadcast(index), n_idx

    def make_scan(b_index, top, emit_adc):
        # `emit_adc`: the rounded ADC column the sharded union re-merges
        # on; the unsharded scan ships (probe_id, nbr_id) only
        def scan(batches):
            ids_a, grps_a, codes_a, slices, anchors = b_index.value
            for pdf in batches:
                if pdf.empty or len(ids_a) == 0 or top == 0:
                    continue
                X = np.asarray([np.asarray(e, dtype=np.float64) for e in pdf[vec_col]])
                pids = pdf[id_col].to_numpy()
                # masked pairs: same group (mining) or the probe's own row
                pkey, nkey = (
                    (pdf[group_col].to_numpy(), grps_a) if cross_group_only else (pids, ids_a)
                )
                luts = _adc_luts(X, code_mats, m, sub_dim)
                # cell -> rows of the probes that probe it
                if pruned:
                    cell_rows = {}
                    for i, cl in enumerate(pdf[cells_col]):
                        for c in cl:
                            if int(c) in slices:
                                cell_rows.setdefault(int(c), []).append(i)
                else:
                    cell_rows = {c: range(len(pids)) for c in slices}
                best_s = np.full((len(pids), top), -np.inf)
                best_i = np.zeros((len(pids), top), dtype=np.int64)
                for c, rows in cell_rows.items():
                    rp = np.asarray(rows, dtype=np.int64)
                    lut_c = [lut[rp] for lut in luts]
                    if anchors is not None:
                        # residual: seed with ⟨q, av(cell)⟩, sequential
                        # over dim (no BLAS), then the LUT partials in
                        # ascending sub order — the SQL's qa + l0 + …
                        xs, qa = X[rp], np.zeros(len(rp))
                        for i in range(dim):
                            qa += xs[:, i] * anchors[c][i]
                    c_lo, c_hi = slices[c]
                    for lo in range(c_lo, c_hi, nbr_chunk):
                        hi = min(lo + nbr_chunk, c_hi)
                        if anchors is not None:
                            adc = np.repeat(qa[:, None], hi - lo, axis=1)
                        else:
                            adc = np.zeros((len(rp), hi - lo))
                        for j in range(m):
                            adc += lut_c[j][:, codes_a[lo:hi, j]]
                        adc = np.round(adc, round_dp)
                        adc[pkey[rp][:, None] == nkey[None, lo:hi]] = -np.inf
                        # slice top-C: stable argsort over id-ascending
                        # columns breaks ties to the lowest nbr_id
                        keep = min(top, hi - lo)
                        part = np.argsort(-adc, axis=1, kind="stable")[:, :keep]
                        sims = np.take_along_axis(adc, part, axis=1)
                        nids = ids_a[lo:hi][part]
                        if not np.isfinite(best_s[rp]).any():
                            best_s[rp, :keep], best_i[rp, :keep] = sims, nids
                            continue
                        # running merge by (adc desc, nbr_id): -inf (masked
                        # or empty) slots sort last and are dropped below
                        s = np.concatenate([best_s[rp], sims], axis=1)
                        d = np.concatenate([best_i[rp], nids], axis=1)
                        order = np.lexsort((d, -s), axis=1)[:, :top]
                        best_s[rp] = np.take_along_axis(s, order, axis=1)
                        best_i[rp] = np.take_along_axis(d, order, axis=1)
                valid = np.isfinite(best_s)
                out = {"probe_id": np.repeat(pids, valid.sum(axis=1)), "nbr_id": best_i[valid]}
                if emit_adc:
                    out["adc"] = best_s[valid]
                yield pd.DataFrame(out)

        return scan

    if n_shards > 1:
        # the shard loop filters+collects this join once PER shard — pin
        # it so the codes join and its upstream compute run once
        indexed = indexed.localCheckpoint()
        if shortlist is None:
            shortlist = size_adc_shortlist(indexed.count())
    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    indexes = [
        build_index(indexed if n_shards == 1 else indexed.filter(shard == s))
        for s in range(n_shards)
    ]
    if shortlist is None:
        shortlist = size_adc_shortlist(indexes[0][1])
    # parallelism floor: the scan's wall is (probes/partitions) x index
    # work per task. Built AFTER the index: the staleness/anchor raises
    # fire before any probe-side analysis error
    from .sampling import ensure_min_partitions

    probe_cols = [id_col] + ([group_col] if group_col is not None else []) + [vec_col]
    probes = ensure_min_partitions(
        df_norm.select(*probe_cols, *([cells_col] if pruned else [])),
        spark.sparkContext.defaultParallelism,
    )
    id_type = df_norm.schema[id_col].dataType.simpleString()
    schema = f"probe_id {id_type}, nbr_id {id_type}"
    if n_shards == 1:
        # keep the FULL shortlist: exclusions happen by mask, never by
        # shrinking the cap (a disjoint index has no self row)
        b_index, n_idx = indexes[0]
        return probes.mapInPandas(make_scan(b_index, min(shortlist, n_idx), False), schema=schema)
    from pyspark.sql import Window

    union = reduce(
        DataFrame.unionByName,
        [
            probes.mapInPandas(make_scan(b, shortlist, True), schema=f"{schema}, adc double")
            for b, _ in indexes
        ],
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("adc"), F.asc("nbr_id"))
    return (
        union.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= shortlist)
        .select("probe_id", "nbr_id")
    )


def _exact_rerank_pairs(
    pairs: DataFrame,
    probe_src: DataFrame,
    nbr_src: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Stage 3 of every shortlist consumer (the LSH, IVF, PQ and IVFADC
    margin miners, the kNN joins, hard negatives): join candidate
    (probe_id, nbr_id) pairs back to the RAW vectors on both sides —
    two id-keyed hash joins — and score with the Arrow-batched cosine.
    The determinism contract (round to `round_dp` BEFORE any compare;
    oracles replay round(list_cosine_similarity(...), dp)) lives here
    once. Returns (probe_id, nbr_id, s)."""
    cos = _cosine_pairs_arrow(round_dp)
    return (
        pairs.join(
            probe_src.select(
                F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv")
            ),
            "probe_id",
        )
        .join(
            nbr_src.select(
                F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("_nv")
            ),
            "nbr_id",
        )
        .select("probe_id", "nbr_id", cos(F.col("_pv"), F.col("_nv")).alias("s"))
    )


def _knn_topk(
    scored: DataFrame, k: int, names: tuple[str, str, str] | None = None
) -> DataFrame:
    """The kNN-join finisher: `scored` is (probe key, neighbour id,
    rounded sim) in that order; per probe, the top-k rows by (sim desc,
    neighbour id), renamed to `names` when given — the ADC joins pass
    ("query_id", "base_id", "cosine_sim"), the lsh_knn_join output
    contract."""
    from pyspark.sql import Window

    key, nbr, sim = scored.columns
    w = Window.partitionBy(key).orderBy(F.col(sim).desc(), F.col(nbr))
    top = scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    return top.select(*(F.col(c).alias(n) for c, n in zip(scored.columns, names or scored.columns)))


def margin_mine_pq(
    df: DataFrame,
    dim: int,
    m: int = 16,
    k_codes: int = 16,
    iters: int = 1,
    shortlist: int | None = None,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_margin_x10k: int = 10200,
    round_dp: int = 6,
    max_index_bytes: int = 1 << 30,
    n_shards: int = 1,
) -> DataFrame:
    """ADC-shortlisted margin mining — the miner that holds BOTH
    contracts the LSH/IVF duality split (VERDICT r6 item 2): measured
    pair-recall 0.97/0.96 at the driver scales (>= the 0.85 certified
    floor, q_margin_pq_recall) with a FULL-VECTOR candidate budget of
    C·N ~ 2·N^1.5 pairs (C = size_adc_shortlist(N)), whose fraction of
    all pairs falls as 2C/N ~ 4/√N.

    Pipeline (Jégou-Douze-Schmid ADC + re-rank, composed with the
    Artetxe-Schwenk ratio criterion):
      1. unit-normalize + round (normalize_rounded) so ADC inner
         products approximate COSINE with no per-neighbor norm term;
      2. certified PQ fit on the normalized corpus (pq_fit: md5-rank
         seeds, sequential-fold distances, 6dp M-steps) + pq_encode —
         m one-byte codes per vector, the 16-30x compression that makes
         the index RAM-resident;
      3. compressed-domain scan (adc_shortlist_pairs): every cross-group
         pair scored over codes in a numpy loop, top-C per probe kept —
         the N² work happens at memory bandwidth over bytes, never as
         row-per-pair Spark state;
      4. exact re-rank: the C·N shortlist pairs join back to the RAW
         vectors (_exact_rerank_pairs) and the Arrow cosine +
         _margin_top2 pivot apply the margin filter on EXACT 6dp sims —
         emitted sims are identical to brute force wherever the
         shortlist contains the true top-2.

    Every stage rounds at `round_dp` before compares, so an unrolled
    CTE oracle replays fit, encode, LUT, shortlist, and margin filter
    bit-for-bit (queries_llm._margin_mine_pq_oracle)."""
    return _adc_join(
        df, None, partial(_margin_top2, min_margin_x10k=min_margin_x10k),
        dim=dim, m=m, k_codes=k_codes, iters=iters, shortlist=shortlist,
        group_col=group_col, id_col=id_col, vec_col=vec_col, round_dp=round_dp,
        max_index_bytes=max_index_bytes, n_shards=n_shards,
    )


def margin_mine_pq_xcorpus(
    new_df: DataFrame,
    ref_df: DataFrame,
    dim: int,
    m: int = 16,
    k_codes: int = 16,
    iters: int = 1,
    shortlist: int | None = None,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_margin_x10k: int = 10200,
    round_dp: int = 6,
    max_index_bytes: int = 1 << 30,
    n_shards: int = 1,
    ref_codebook: DataFrame | None = None,
    ref_codes: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus (incremental-ingest) ADC margin mining — the
    asymmetric production shape of margin_mine_pq, mirroring
    dedup.cross_corpus_near_dup_flags: each NEW batch mines its
    best/second-best cross-group neighbors from the accumulated
    REFERENCE corpus, never from itself. This is the recurring form of
    bitext / hard-negative mining at ingest time (Artetxe-Schwenk over
    a growing index): the reference's codebook and codes are persisted
    assets, so the per-snapshot cost is ONE normalization of the batch
    + the compressed-domain scan of the ref index + an exact re-rank of
    C·|new| pairs — the ref corpus is never re-encoded per batch.

    Pass `ref_codebook` + `ref_codes` (pq_fit / pq_encode outputs over
    the normalized reference — the persisted index) to skip the in-query
    rebuild (the codes are then checked to exactly cover `ref_df`);
    when only `ref_df` is given both are derived here (flag-identical
    output, the cross_corpus_near_dup_flags convention). The codebook is
    fit on the REFERENCE (the asset that exists before the batch
    arrives); probes need no encoding at all — their LUTs come from the
    raw normalized vectors. Sizing: C = size_adc_shortlist(|ref|) — the
    budget scales with the index being probed. Returns the margin_mine
    schema; an unrolled CTE oracle replays the whole asymmetric pipeline
    (queries_llm._margin_pq_xcorpus_oracle)."""
    return _adc_join(
        new_df, ref_df, partial(_margin_top2, min_margin_x10k=min_margin_x10k),
        dim=dim, m=m, k_codes=k_codes, iters=iters, shortlist=shortlist,
        group_col=group_col, id_col=id_col, vec_col=vec_col, round_dp=round_dp,
        max_index_bytes=max_index_bytes, n_shards=n_shards,
        codebook=ref_codebook, codes=ref_codes,
    )


def pq_knn_join(
    queries_df: DataFrame,
    base_df: DataFrame,
    dim: int,
    k: int = 3,
    m: int = 16,
    k_codes: int = 16,
    iters: int = 1,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
    round_dp: int = 6,
    max_index_bytes: int = 1 << 30,
    n_shards: int = 1,
    base_codebook: DataFrame | None = None,
    base_codes: DataFrame | None = None,
) -> DataFrame:
    """PQ-accelerated batch ANN join — the compressed-domain sibling of
    lsh_knn_join: top-k base-side neighbors for EVERY query row, found
    by the ADC scan over the base's 16-byte codes (top-C shortlist,
    C = size_adc_shortlist(|base|) by default) and exact-cosine
    re-ranked to k. Where the LSH join's candidate volume rides bucket
    collision statistics (and degrades toward all-pairs on far-neighbor
    geometry — the measured margin-LSH lesson), this join's full-vector
    budget is C·|Q| BY CONSTRUCTION at any geometry; the index is the
    persisted `base_codebook`/`base_codes` pair (fit + encode on the
    base, never the queries — the FAISS serving model). Returns
    (query_id, base_id, cosine_sim), rank-k rows per query, cosine
    rounded before ranking with base-id tie-break — the lsh_knn_join
    output contract, so consumers can swap index families without
    schema changes. `group_col=None` (the default) matches that
    contract exactly: general ANN never reads groups — only a vector's
    own row is excluded."""
    return _adc_join(
        queries_df,
        base_df,
        partial(_knn_topk, k=k, names=("query_id", "base_id", "cosine_sim")),
        dim=dim, m=m, k_codes=k_codes, iters=iters, shortlist=shortlist,
        group_col=group_col, id_col=id_col, vec_col=vec_col, round_dp=round_dp,
        max_index_bytes=max_index_bytes, n_shards=n_shards,
        codebook=base_codebook, codes=base_codes, cross_group_only=False,
    )


def pq_index_save(codebook: DataFrame, codes_df: DataFrame, path: str) -> str:
    """Persist a PQ index — the asset every xcorpus/serving call reuses
    (ref_codebook/ref_codes, base_codebook/base_codes): the codebook
    long-form and the codes table as two parquet datasets under one
    root. Overwrite semantics (an index REBUILD replaces the asset
    atomically per dataset — the write_table convention); the loaded
    pair is row-identical to the in-memory one, so every downstream
    result is too (tests pin this through pq_knn_join)."""
    codebook.write.mode("overwrite").parquet(f"{path}/codebook")
    codes_df.write.mode("overwrite").parquet(f"{path}/codes")
    return path


def pq_index_load(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted PQ index: (codebook, codes) — the counterpart of
    pq_index_save."""
    return (
        spark.read.parquet(f"{path}/codebook"),
        spark.read.parquet(f"{path}/codes"),
    )


#: dataset name -> whether it is required in a persisted IVFADC index
_IVFADC_INDEX_PARTS = {
    "centroids": True,
    "home": True,
    "codebook": True,
    "codes": True,
    "anchors": False,  # residual indexes only
}


def ivfadc_index_save(
    centroids: DataFrame,
    home_df: DataFrame,
    codebook: DataFrame,
    codes_df: DataFrame,
    path: str,
    anchors_df: DataFrame | None = None,
) -> str:
    """Persist the FULL IVFADC serving asset set — what FAISS writes for
    an IndexIVFPQ: the coarse quantizer (centroids long-form), each
    index row's home cell, the PQ codebook and codes, and (residual
    indexes) the per-cell anchors. One parquet dataset per part under
    one root, overwrite semantics per dataset (the pq_index_save
    convention) — a rebuild replaces the asset atomically per part, and
    the loaded set is row-identical to the in-memory one so every
    downstream scan is too (reuse-identity tested)."""
    parts = {
        "centroids": centroids,
        "home": home_df,
        "codebook": codebook,
        "codes": codes_df,
    }
    if anchors_df is not None:
        parts["anchors"] = anchors_df
    for name, df in parts.items():
        df.write.mode("overwrite").parquet(f"{path}/{name}")
    return path


def ivfadc_index_load(spark, path: str) -> dict[str, DataFrame]:
    """Load a persisted IVFADC index as a dict of its parts
    (centroids / home / codebook / codes, plus anchors when the saved
    index was residual) — the counterpart of ivfadc_index_save. Raises
    on a root missing any REQUIRED part rather than silently serving a
    partial index."""
    from pyspark.errors import AnalysisException

    out: dict[str, DataFrame] = {}
    for name, required in _IVFADC_INDEX_PARTS.items():
        try:
            out[name] = spark.read.parquet(f"{path}/{name}")
        except AnalysisException:
            if required:
                raise ValueError(
                    f"persisted IVFADC index at {path} is missing its "
                    f"'{name}' dataset — rebuild it with ivfadc_index_save"
                ) from None
    return out


# --------------------------------------------------------------------------
# IVFADC: coarse-cell pruning composed IN FRONT of the ADC scan
# --------------------------------------------------------------------------
#
# The flat ADC scan (adc_shortlist_pairs) made the SHORTLIST sub-quadratic
# (C·N pairs, C ~ 2√N) but its compute is still Θ(N²·m) LUT ops — every
# probe touches every code. FAISS's production index (IVFADC — Jégou,
# Douze, Schmid, TPAMI 2011 §V) prunes that scan with a coarse quantizer:
# each index vector lives in the inverted list of its nearest coarse cell,
# and a probe scans only the lists of its `nprobe` nearest cells — here
# ~nprobe/k of the codes with k ~ √N cells, so the scan itself drops to
# Θ(nprobe·N^1.5·m). Recall is a MEASURED output (the probed cells may
# miss a true mate's home cell); the registered queries size nprobe from
# a measured recall curve per corpus (q_margin_ivfadc_curve /
# q_margin_ivfadc_sized — the size_nprobe idiom), and the curve's top rung
# (nprobe = k) degenerates to the flat scan, so a sizing target is always
# reachable.


def assign_cells_ranked(
    df: DataFrame,
    centroids_long: DataFrame,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    round_dp: int = 6,
    out_col: str = "cells",
) -> DataFrame:
    """Top-n cell assignment as ONE ARRAY COLUMN per row (rank order) —
    assign_topn_centroids without the explode: the IVFADC pipelines need
    a probe's probed-cell SET riding along into the scan and a curve
    query slicing one full ranking at several nprobe values
    (F.slice(cells, 1, nprobe)), so exploding to n rows and regrouping
    would be a wasted round-trip shuffle. Same determinism contract as
    assign_topn_centroids (one broadcast k x dim matrix, one Arrow
    matmul, sims rounded BEFORE ranking, stable argsort over
    label-ascending columns == row_number OVER (ORDER BY sim DESC,
    label)); cells[0] is the home cell (rank 1)."""
    import numpy as np

    if n < 1:
        raise ValueError(f"assign_cells_ranked requires n >= 1, got {n}")
    packed = _centroid_matrix(centroids_long)
    if packed is None:
        label_type = centroids_long.schema["label"].dataType.simpleString()
        keep = ", ".join(
            f"{c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
        )
        return df.sparkSession.createDataFrame(
            [],
            schema=f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
            + (keep + ", " if keep else "")
            + f"{out_col} array<{label_type}>",
        )
    cmat, cnorm, label_arr, label_type = packed
    top = min(n, len(label_arr))

    @F.pandas_udf(f"array<{label_type}>")
    def best_cells(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(e, dtype=np.float64) for e in vec])
        xn = np.sqrt((x * x).sum(axis=1))
        sims = np.round(x @ cmat.T / (xn[:, None] * cnorm[None, :]), round_dp)
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :top]
        return pd.Series([label_arr[row].tolist() for row in idx])

    return df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        best_cells(F.col(vec_col)).alias(out_col),
    )


def cell_anchors(
    norm_df: DataFrame,
    home_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "nv",
    round_dp: int = 6,
    out_col: str = "av",
) -> DataFrame:
    """Per-cell residual anchor: the 6dp-rounded coordinate-wise MEAN of
    the normalized vectors whose HOME cell it is — (cell, av array).
    Residual IVFADC (Jégou-Douze-Schmid TPAMI 2011 §III: encode
    r = y − q1(y), not y) needs a per-cell center IN THE NORMALIZED
    space the ADC scores live in; the coarse centroids are raw-space
    means, so the anchor is its own one-pass aggregate. Scale shape:
    posexplode to |corpus|·dim rows, map-side-combinable avg into
    k·dim cells, regroup to k arrays — the pq_fit M-step shape. The
    round-then-compare convention makes avg partial-order differences
    invisible (the kmeans/pq_fit determinism contract), so DuckDB's
    ``round(avg(x), 6)`` replays every coordinate."""
    per_dim = (
        norm_df.select(
            F.col(id_col), F.posexplode(_to_double(F.col(vec_col))).alias("pos", "x")
        )
        .join(home_df.select(F.col(id_col), "cell"), id_col)
        .groupBy("cell", "pos")
        .agg(F.round(F.avg("x"), round_dp).alias("a"))
    )
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "a"))), lambda s: s["a"]
        ).alias(out_col)
    )


def residualize(
    norm_df: DataFrame,
    home_df: DataFrame,
    anchors_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "nv",
    anchor_col: str = "av",
    out_col: str = "rv",
) -> DataFrame:
    """Residual vectors r = nv − anchor(home cell), the encoding input
    of residual IVFADC. Coordinate subtraction is ONE deterministic,
    correctly-rounded IEEE op, so no re-rounding is needed: DuckDB's
    ``nv[i] - av[i]`` reproduces every coordinate bit-for-bit (the
    round trip r + a is NOT bit-exact — two correct roundings — which
    is why nothing downstream reconstructs). Plan
    shape: one id-keyed join to the home table plus one BROADCAST join
    to the k-row anchor table, then a JVM-side zip_with projection —
    no Python boundary, no extra shuffle beyond the home join."""
    return (
        norm_df.join(home_df.select(F.col(id_col), "cell"), id_col)
        .join(F.broadcast(anchors_df), "cell")
        .select(
            *[F.col(c) for c in norm_df.columns],
            F.zip_with(
                F.col(vec_col), F.col(anchor_col), lambda x, a: x - a
            ).alias(out_col),
        )
    )


def _adc_assets(
    src: DataFrame,
    dim: int,
    m: int,
    k_codes: int,
    iters: int,
    id_col: str,
    vec_col: str,
    round_dp: int,
    norm: DataFrame | None = None,
    home: DataFrame | None = None,
    anchors: DataFrame | None = None,
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
):
    """The PQ side of an ADC index over `src`: normalize (unless `norm`
    — normalize_rounded's "__nv" — is given) → [cell anchors →
    residualize, when `home` (id, cell) is given] → pq_fit → pq_encode.
    Any asset the caller passes is used as it is, so a persisted index
    skips every stage it holds. Returns (codebook, codes, anchors)."""
    if codebook is not None and codes is not None and (home is None or anchors is not None):
        return codebook, codes, anchors
    if norm is None:
        norm = normalize_rounded(
            src, id_col=id_col, vec_col=vec_col, out_col="__nv", round_dp=round_dp
        ).localCheckpoint()
    enc, enc_col = norm, "__nv"
    if home is not None:
        if anchors is None:
            anchors = cell_anchors(
                norm, home, id_col=id_col, vec_col="__nv", round_dp=round_dp
            ).localCheckpoint()
        enc, enc_col = residualize(
            norm.select(id_col, "__nv"), home, anchors,
            id_col=id_col, vec_col="__nv", out_col="__rv",
        ), "__rv"
    if codebook is None:
        codebook = pq_fit(
            enc, dim=dim, m=m, k_codes=k_codes, iters=iters,
            id_col=id_col, vec_col=enc_col, round_dp=round_dp,
        )
    if codes is None:
        codes = pq_encode(enc, codebook, dim=dim, m=m, id_col=id_col, vec_col=enc_col)
    return codebook, codes, anchors


def _adc_join(
    probe_df: DataFrame,
    index_df: DataFrame | None,
    finish,
    dim: int,
    m: int,
    k_codes: int,
    iters: int,
    shortlist: int | None,
    group_col: str | None,
    id_col: str,
    vec_col: str,
    round_dp: int,
    max_index_bytes: int,
    n_shards: int,
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
    cross_group_only: bool = True,
    ivf: bool = False,
    nprobe: int | None = None,
    k_cells: int | None = None,
    centroids: DataFrame | None = None,
    residual: bool = False,
    anchors: DataFrame | None = None,
    home: DataFrame | None = None,
    norm: DataFrame | None = None,
    ranked_cells: DataFrame | None = None,
) -> DataFrame:
    """The one pipeline under the six PQ/IVFADC entry points: probes →
    ADC shortlist (adc_shortlist_pairs) → exact rerank
    (_exact_rerank_pairs) → `finish` (_margin_top2 or _knn_topk).
    `index_df=None` mines `probe_df` against itself: one checkpointed
    normalization serves probes and index, C is sized by the index
    build, and with `ivf` one full cell ranking gives both the home
    cells and every probe's cells. Otherwise the index side is
    `index_df` (its assets built here unless passed in — passed codes
    are checked to cover it exactly) and C = size_adc_shortlist(
    |index_df|). `ivf` adds the coarse quantizer: √N cells
    (kmeans_fit_distributed on the index side), each probe scanning
    its `nprobe` nearest (default ceil(k_cells/2)); `residual` encodes
    residuals to per-cell anchors."""
    self_join = index_df is None
    base = probe_df if self_join else index_df
    if self_join:
        if norm is None:
            norm = normalize_rounded(
                probe_df, id_col=id_col, vec_col=vec_col, out_col="__nv",
                round_dp=round_dp,
            ).localCheckpoint()
        probe_norm = norm
    else:
        probe_norm = normalize_rounded(
            probe_df, id_col=id_col, vec_col=vec_col, out_col="__nv",
            round_dp=round_dp,
        )
    n_index = None
    if not self_join and (shortlist is None or (ivf and k_cells is None)):
        n_index = index_df.count()
        if shortlist is None:
            shortlist = size_adc_shortlist(n_index)
    probes = probe_norm.select(
        id_col, *([group_col] if group_col is not None else []), "__nv"
    )
    if ivf:
        if k_cells is None:
            n = norm.count() if self_join else n_index
            k_cells = max(1, math.isqrt(max(n - 1, 0)) + 1)
        if nprobe is None:
            nprobe = (k_cells + 1) // 2
        if centroids is None:
            _, centroids = kmeans_fit_distributed(
                base, k=k_cells, iters=iters, id_col=id_col, vec_col=vec_col,
                round_dp=round_dp,
            )
        if self_join:
            if ranked_cells is None:
                ranked_cells = assign_cells_ranked(
                    base, centroids, n=k_cells, id_col=id_col, vec_col=vec_col,
                    round_dp=round_dp,
                ).localCheckpoint()
            home = ranked_cells.select(F.col(id_col), F.element_at("cells", 1).alias("cell"))
            probed = F.slice("cells", 1, nprobe)
        else:
            if home is None:
                home = assign_cells_ranked(
                    base, centroids, n=1, id_col=id_col, vec_col=vec_col,
                    round_dp=round_dp,
                ).select(F.col(id_col), F.element_at("cells", 1).alias("cell"))
            ranked_cells = assign_cells_ranked(
                probe_df, centroids, n=nprobe, id_col=id_col, vec_col=vec_col,
                round_dp=round_dp,
            )
            probed = F.col("cells")
        probes = probes.join(
            ranked_cells.select(F.col(id_col), probed.alias("__cells")), id_col
        )
    validate = codes is not None and not self_join
    codebook, codes, anchors = _adc_assets(
        base, dim, m, k_codes, iters, id_col, vec_col, round_dp,
        norm=norm, home=home if residual else None, anchors=anchors,
        codebook=codebook, codes=codes,
    )
    pairs = adc_shortlist_pairs(
        probes, codebook, codes, shortlist=shortlist, dim=dim, m=m,
        group_col=group_col, id_col=id_col, vec_col="__nv", round_dp=round_dp,
        max_index_bytes=max_index_bytes, n_shards=n_shards,
        index_df=norm if self_join else index_df,
        cross_group_only=cross_group_only, validate_coverage=validate,
        home_df=home if ivf else None, cells_col="__cells",
        anchors_df=anchors if residual else None,
    )
    scored = _exact_rerank_pairs(
        pairs, probe_df, base, id_col=id_col, vec_col=vec_col, round_dp=round_dp
    )
    return finish(scored)


def margin_mine_ivfadc(
    df: DataFrame,
    dim: int,
    nprobe: int,
    k_cells: int | None = None,
    m: int = 16,
    k_codes: int = 16,
    iters: int = 1,
    shortlist: int | None = None,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_margin_x10k: int = 10200,
    round_dp: int = 6,
    max_index_bytes: int = 1 << 30,
    centroids: DataFrame | None = None,
    ranked_cells: DataFrame | None = None,
    norm: DataFrame | None = None,
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
    residual: bool = False,
    anchors: DataFrame | None = None,
    n_shards: int = 1,
) -> DataFrame:
    """IVFADC margin mining — the margin_mine_pq pipeline with coarse-
    cell pruning composed in front of the ADC scan (VERDICT r7 item 2),
    making the SCAN sub-quadratic (~nprobe/k of the flat LUT compute),
    not just the shortlist. Pipeline: certified √N-cell coarse fit on
    the raw corpus (kmeans_fit_distributed — the margin_mine_ivf
    quantizer, so one oracle fit CTE serves both families), full cell
    RANKING per vector as one array column (assign_cells_ranked),
    normalize + certified PQ fit/encode (the margin_mine_pq stages),
    then the inverted-file ADC scan over each probe's top-`nprobe`
    cells' codes, exact re-rank of the top-C shortlist, margin top-2.

    `nprobe` is REQUIRED — the registered queries size it per corpus
    from the measured recall curve (q_margin_ivfadc_sized, the
    size_nprobe idiom); hardcoding a default here is exactly the
    frozen-parameter drift VERDICT r7 item 4 warns about. The optional
    asset params (centroids / ranked_cells / norm / codebook / codes)
    let a curve query share ONE fit + ranking + encode across its
    ladder points.

    `residual=True` switches to TRUE IVFADC (Jégou §III): PQ fits and
    encodes the RESIDUALS r = nv − anchor(home cell) instead of nv
    itself, and the scan scores ⟨q, anchor⟩ + ⟨q, r̂⟩ — finer
    quantization from the same 16-byte code budget, so recall rises at
    the SAME scanned-cell fraction (the q_margin_ivfadc_res_curve
    measures exactly that delta per rung). In residual mode the
    codebook/codes asset params are residual-space; `anchors` (from
    cell_anchors) is derived when not supplied. `n_shards > 1` is
    adc_shortlist_pairs' id-hash shard-and-re-merge path, bit-identical
    to the unsharded scan."""
    return _adc_join(
        df, None, partial(_margin_top2, min_margin_x10k=min_margin_x10k),
        dim=dim, m=m, k_codes=k_codes, iters=iters, shortlist=shortlist,
        group_col=group_col, id_col=id_col, vec_col=vec_col, round_dp=round_dp,
        max_index_bytes=max_index_bytes, n_shards=n_shards,
        codebook=codebook, codes=codes, ivf=True, nprobe=nprobe, k_cells=k_cells,
        centroids=centroids, residual=residual, anchors=anchors, norm=norm,
        ranked_cells=ranked_cells,
    )


def ivfadc_knn_join(
    queries_df: DataFrame,
    base_df: DataFrame,
    dim: int,
    k: int = 3,
    nprobe: int | None = None,
    k_cells: int | None = None,
    m: int = 16,
    k_codes: int = 16,
    iters: int = 1,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    max_index_bytes: int = 1 << 30,
    base_codebook: DataFrame | None = None,
    base_codes: DataFrame | None = None,
    centroids: DataFrame | None = None,
    residual: bool = False,
    base_anchors: DataFrame | None = None,
    base_home: DataFrame | None = None,
    n_shards: int = 1,
) -> DataFrame:
    """IVFADC batch ANN join — pq_knn_join with the coarse-cell pruning
    composed in front of its ADC scan, completing the IVFADC composition
    across the SERVING tier too (FAISS's actual deployed query path):
    the coarse quantizer and the inverted-file code index are fit and
    built on the BASE only (the persisted serving assets — pass
    `centroids` + `base_codebook`/`base_codes` to reuse them), each
    query probes its `nprobe` nearest cells (default ceil(k_cells/2) —
    the frac-6 rung that the certified mining decisions bound from
    above at both driver scales, q_margin_ivfadc_sized), scans ~nprobe/k
    of the codes, and exact cosine re-ranks the top-C shortlist to k.
    Same output contract as pq_knn_join/lsh_knn_join: (query_id,
    base_id, cosine_sim), rank-k per query, rounded-before-ranking with
    base-id tie-break.

    `residual=True` is the serving form of true IVFADC: the base index
    encodes residuals to per-cell anchors (cell_anchors over the base's
    normalized vectors — persisted alongside the codes via
    `base_anchors`), and each query's ADC score seeds with its
    anchor inner product — finer ranking from the same code bytes, so
    fewer true neighbors fall outside the top-C at the same nprobe."""
    return _adc_join(
        queries_df,
        base_df,
        partial(_knn_topk, k=k, names=("query_id", "base_id", "cosine_sim")),
        dim=dim, m=m, k_codes=k_codes, iters=iters, shortlist=shortlist,
        group_col=None, id_col=id_col, vec_col=vec_col, round_dp=round_dp,
        max_index_bytes=max_index_bytes, n_shards=n_shards,
        codebook=base_codebook, codes=base_codes, cross_group_only=False,
        ivf=True, nprobe=nprobe, k_cells=k_cells, centroids=centroids,
        residual=residual, anchors=base_anchors, home=base_home,
    )


def margin_mine_ivfadc_xcorpus(
    new_df: DataFrame,
    ref_df: DataFrame,
    dim: int,
    nprobe: int | None = None,
    k_cells: int | None = None,
    m: int = 16,
    k_codes: int = 16,
    iters: int = 1,
    shortlist: int | None = None,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_margin_x10k: int = 10200,
    round_dp: int = 6,
    max_index_bytes: int = 1 << 30,
    centroids: DataFrame | None = None,
    ref_codebook: DataFrame | None = None,
    ref_codes: DataFrame | None = None,
    residual: bool = False,
    ref_anchors: DataFrame | None = None,
    ref_home: DataFrame | None = None,
    n_shards: int = 1,
) -> DataFrame:
    """Cross-corpus IVFADC margin mining — the third shape of the
    cell-pruned composition (self-mining: margin_mine_ivfadc; serving
    join: ivfadc_knn_join; THIS: incremental ingest; `residual=True`
    gives each the true-IVFADC residual index, `ref_anchors` being the
    persisted anchor asset next to the ref codebook/codes): each NEW batch
    mines its best/second-best cross-group neighbors from the
    accumulated REFERENCE, scanning only its nprobe nearest cells'
    inverted lists of the ref's code index. ALL index-side artifacts —
    coarse quantizer (`centroids`), home-cell lists (`ref_home`), PQ
    codebook/codes (`ref_codebook`/`ref_codes`) — are persisted serving
    assets built once on the reference; the per-batch cost is one
    normalization + cell ranking of the batch and a ~nprobe/k scan,
    which is what makes continuous ingest at a 1e9-vector standing
    index payable where the flat xcorpus scan (margin_mine_pq_xcorpus)
    pays Θ(|new|·|ref|) LUT ops per batch. nprobe defaults to
    ceil(k_cells/2) — the rung the certified self-mining decisions
    bound from above at the driver scales. nprobe = k_cells reproduces
    margin_mine_pq_xcorpus bit-identically (tested)."""
    return _adc_join(
        new_df, ref_df, partial(_margin_top2, min_margin_x10k=min_margin_x10k),
        dim=dim, m=m, k_codes=k_codes, iters=iters, shortlist=shortlist,
        group_col=group_col, id_col=id_col, vec_col=vec_col, round_dp=round_dp,
        max_index_bytes=max_index_bytes, n_shards=n_shards,
        codebook=ref_codebook, codes=ref_codes, ivf=True, nprobe=nprobe,
        k_cells=k_cells, centroids=centroids, residual=residual,
        anchors=ref_anchors, home=ref_home,
    )
