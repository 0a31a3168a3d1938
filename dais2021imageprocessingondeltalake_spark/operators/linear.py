"""Distributed linear-model training — the certified-fit idiom
(kmeans_fit_distributed, pq_fit) applied to supervised learning.

A full-batch gradient-descent logistic regression is the canonical
quality-classifier trainer of an LLM data pipeline (fastText-style
filters, CCNet's LM filter, the Gopher/FineWeb quality gates are all
linear or near-linear scorers over cheap document features). At 100 TB
the training loop is exactly the shape Spark executes well: each
iteration is ONE scan with a map-side-combinable partial-gradient
aggregate (d+1 doubles per partition), the model state is d+1 doubles
on the driver, and nothing corpus-sized ever crosses a shuffle.

Determinism contract (the certified-sibling convention): weights are
rounded to `round_dp` decimals after every update, and each gradient
component is rounded to `round_dp` before the update — each iteration
therefore consumes identical doubles on any engine, which is what lets
an unrolled-CTE SQL oracle replay the whole trajectory
(queries_llm._logreg_fit_oracle). Sigmoid/exp last-ulp differences
between libm and the JVM are absorbed by the gradient rounding exactly
as BLAS reassociation is absorbed in the k-means M-step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def logreg_fit_distributed(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 3,
    lr: float = 1.0,
    round_dp: int = 6,
    materialize: str | None = "localCheckpoint",
) -> list[tuple[str, float]]:
    """Full-batch gradient-descent logistic regression with an
    intercept, fully distributed: per iteration, ONE scan computes the
    d+1 gradient components g_j = round(avg(x_j · (σ(x·w) − y)), dp)
    as a map-side-combined aggregate, then the driver applies
    w_j ← round(w_j − lr·g_j, dp). Weights start at 0 (deterministic;
    no RNG). Returns [("intercept", w0), (feature, w_j), ...] — the
    model is dimension-sized by definition and lives with the caller
    (broadcast back for scoring via logreg_score).

    The avg (not sum) normalization keeps the gradient O(feature
    magnitude) regardless of corpus size, so one learning rate works at
    every scale — and keeps the rounded values far from the round_dp
    quantum at any N. `iters` is a FIXED count, not a convergence test:
    the trajectory itself is the certified artifact; production
    deployments run more iterations with round_dp=None (full
    precision) once certification is not the goal."""
    if iters < 1:
        raise ValueError(f"logreg_fit_distributed needs iters >= 1, got {iters}")
    from .dedup import materialize_df

    feats = df.select(
        F.col(label_col).cast("double").alias("__y"),
        *[F.col(c).cast("double").alias(f"__x{j}") for j, c in enumerate(feature_cols)],
    )
    # one materialization feeds every iteration's scan: the feature
    # projection (often derived from text) would otherwise re-run per
    # iteration. materialize_df validates the mode like every sibling
    # operator.
    feats = materialize_df(feats, materialize)
    names = ["intercept", *feature_cols]
    xs: list[Column | None] = [None, *[F.col(f"__x{j}") for j in range(len(feature_cols))]]
    w = [0.0] * len(names)

    def _r(v: float) -> float:
        return round(v, round_dp) if round_dp is not None else v

    for _ in range(iters):
        z = F.lit(w[0])
        for j in range(1, len(names)):
            z = z + F.lit(w[j]) * xs[j]
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("__y")
        aggs = []
        for j, name in enumerate(names):
            g = resid if j == 0 else resid * xs[j]
            expr = F.avg(g)
            if round_dp is not None:
                expr = F.round(expr, round_dp)
            aggs.append(expr.alias(f"g{j}"))
        grad = feats.agg(*aggs).collect()[0]
        if grad["g0"] is None:
            # avg over zero rows is NULL — fail with a diagnosable error
            # instead of a TypeError mid-update (reachable when a caller
            # trains on an empty split slice)
            raise ValueError(
                "logreg_fit_distributed got an empty input frame "
                "(every gradient is NULL)"
            )
        w = [_r(w[j] - lr * grad[f"g{j}"]) for j in range(len(names))]
    return list(zip(names, w))


def logreg_score(
    weights: list[tuple[str, float]],
    threshold: float = 0.0,
) -> Column:
    """Linear scorer for a fitted model: returns the BOOLEAN decision
    column x·w + b >= threshold (threshold in LOGIT space — 0.0 is
    probability 0.5), built purely from the weights — apply it to any
    frame carrying the weight-named feature columns. Decisions compare
    a double against a literal, so they are exact-comparable
    cross-engine wherever the margin is not identically the last ulp;
    certified consumers report integer decision COUNTS, the repo's
    robust-compare idiom."""
    it = dict(weights)
    z = F.lit(it["intercept"])
    for name, wj in weights:
        if name == "intercept":
            continue
        z = z + F.lit(wj) * F.col(name).cast("double")
    return z >= F.lit(threshold)


def logreg_loss(
    df: DataFrame,
    weights: list[tuple[str, float]],
    label_col: str = "__y",
    round_dp: int = 6,
) -> DataFrame:
    """Average binary log-loss of a fitted model over a feature frame —
    one scan, one map-side-combinable avg. The loss expression clamps
    probabilities into [1e-12, 1-1e-12] before the logs (the standard
    guard; saturated sigmoid would give ln(0) = -inf) and rounds the
    corpus average to `round_dp`, which absorbs libm-vs-JVM ln()/exp()
    last-ulp differences exactly as the gradient rounding does.
    Returns a one-row (loss) DataFrame."""
    it = dict(weights)
    z = F.lit(it["intercept"])
    for name, wj in weights:
        if name == "intercept":
            continue
        z = z + F.lit(wj) * F.col(name).cast("double")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    p = F.least(F.greatest(p, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    y = F.col(label_col).cast("double")
    nll = -(y * F.log(p) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p))
    return df.agg(F.round(F.avg(nll), round_dp).alias("loss"))


def logreg_grid_search(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lrs: list[int],
    iters: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Deterministic hyperparameter sweep over the certified trainer —
    the engine form of the reference's (imported, never called)
    hyperopt seam: fit one model per learning rate, score each with the
    averaged log-loss, return (lr, loss, weight...) rows so the caller
    picks argmin. Each fit is `iters` scans; the whole grid is
    |lrs|·iters scans with nothing corpus-sized ever shuffled — grid
    points are embarrassingly parallel across a cluster's job scheduler
    and sequential here for determinism of the shared feature cache.

    Learning rates are INTEGERS by contract: an integer multiple of a
    6dp-rounded gradient stays on the 6dp grid, so the weight update
    never lands on a round-half boundary where Python (half-even) and
    SQL (half-away) could disagree — fractional lrs would reintroduce
    exactly the cross-engine boundary risk the certified-fit idiom
    exists to exclude."""
    if not lrs or any(int(lr) != lr or lr < 1 for lr in lrs):
        raise ValueError(f"lrs must be positive integers, got {lrs}")
    from .sampling import local_rows_df

    feats = df.select(
        F.col(label_col).cast("double").alias("__y"),
        *[F.col(c).cast("double").alias(f"__x{j}") for j, c in enumerate(feature_cols)],
    ).localCheckpoint()
    # Batched grid (guide §1.2 step 1 — fewer jobs, same arithmetic): the
    # grid points are independent given their own weights, so EVERY
    # candidate's d+1 gradient components compute in ONE shared scan per
    # iteration (|lrs|·(d+1) map-side-combined aggs), and one final scan
    # scores every candidate's loss — iters+1 driver round-trips instead
    # of |lrs|·iters + |lrs| (13 -> 4 at the registered grid). Each
    # aggregate is the IDENTICAL expression logreg_fit_distributed /
    # logreg_loss build over the identical checkpointed rows, so every
    # weight trajectory and loss is bit-for-bit the sequential grid's.
    names = ["intercept", *feature_cols]
    xs = [None, *[F.col(f"__x{j}") for j in range(len(feature_cols))]]

    def _r(v: float) -> float:
        return round(v, round_dp) if round_dp is not None else v

    def _z(w: list[float]):
        z = F.lit(w[0])
        for j in range(1, len(names)):
            z = z + F.lit(w[j]) * xs[j]
        return z

    ws = [[0.0] * len(names) for _ in lrs]
    for _ in range(iters):
        aggs = []
        for li in range(len(lrs)):
            resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z(ws[li]))) - F.col("__y")
            for j in range(len(names)):
                g = resid if j == 0 else resid * xs[j]
                expr = F.avg(g)
                if round_dp is not None:
                    expr = F.round(expr, round_dp)
                aggs.append(expr.alias(f"g_{li}_{j}"))
        grad = feats.agg(*aggs).collect()[0]
        if grad["g_0_0"] is None:
            # avg over zero rows is NULL — same diagnosable error as
            # logreg_fit_distributed
            raise ValueError(
                "logreg_grid_search got an empty input frame "
                "(every gradient is NULL)"
            )
        for li, lr in enumerate(lrs):
            ws[li] = [
                _r(ws[li][j] - float(lr) * grad[f"g_{li}_{j}"])
                for j in range(len(names))
            ]
    loss_aggs = []
    for li in range(len(lrs)):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z(ws[li])))
        p = F.least(F.greatest(p, F.lit(1e-12)), F.lit(1.0 - 1e-12))
        y = F.col("__y")
        nll = -(y * F.log(p) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p))
        loss_aggs.append(F.round(F.avg(nll), round_dp).alias(f"loss_{li}"))
    losses = feats.agg(*loss_aggs).collect()[0]
    rows = [
        (int(lr), float(losses[f"loss_{li}"]), *[float(v) for v in ws[li]])
        for li, lr in enumerate(lrs)
    ]
    out_names = ["lr", "loss", "w_intercept"] + [f"w_{c}" for c in feature_cols]
    schema = ", ".join(
        f"{n} {'bigint' if n == 'lr' else 'double'}" for n in out_names
    )
    return local_rows_df(df.sparkSession, rows, schema)
