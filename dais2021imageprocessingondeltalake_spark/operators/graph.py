"""Graph analytics over edge lists (north-star extension): PageRank.

Complements `dedup.connected_components` (pointer-jumping min-label):
where CC answers "which docs form one duplicate cluster", PageRank ranks
nodes by random-walk centrality — over a near-dup/citation/link graph it
scores canonical-ness (which copy is the hub), and over the catalog's
part–supplier graph it is the classic supply-centrality report.

Scale design: one edge-list DataFrame, degree computed once; every
iteration is contribution-join → per-node sum → damping projection, all
shuffling on the node key so the exchange layout is reused. Ranks round
to 12dp per iteration — sums of doubles are accumulation-order-dependent
across engines, so rounding at each fixpoint step is what lets a SQL
oracle replay EVERY iteration bit-for-bit (same convention as the
round-before-rank rule in the ANN tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
    round_dp: int = 12,
) -> DataFrame:
    """PageRank with a FIXED iteration count (deterministic, replayable;
    production runs pick iters ~ 10-20 or monitor the L1 delta).

    `edges` is a DIRECTED edge list; pass both directions for an
    undirected graph. Every node must appear as a source of at least one
    edge (dangling nodes would leak rank mass; callers symmetrize or
    self-loop first — the part–supplier bipartite graph used by the
    registry query is symmetrized, so the constraint holds by
    construction). Returns (node, rank) with ranks rounded to
    `round_dp`; Σ rank = |nodes| under this normalization (init 1.0 per
    node)."""
    if iters < 1:
        raise ValueError(f"pagerank needs iters >= 1, got {iters}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"))
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(iters):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
        )
        sums = contribs.groupBy("node").agg(F.round(F.sum("c"), round_dp).alias("s"))
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            F.round(
                F.lit(1.0 - damping) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                round_dp,
            ).alias("rank"),
        )
    return ranks


def triangles(
    edges: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """Triangle enumeration over an UNDIRECTED edge list given in
    canonical (a < b) order: rows (node_a < node_b < node_c) where all
    three edges exist. Over a near-dup graph a triangle is a 3-clique of
    mutual duplicates — the signal that a cluster is a true template
    family rather than a chain of borderline pairs (chains inflate
    connected components; cliques justify aggressive dropping).

    The ordered-edge form IS the standard scale optimization: each
    triangle is generated exactly once (no 6x duplication), and the two
    joins degree-bound the intermediate to Σ deg(v)² over LOW-id
    endpoints. For skew-heavy graphs the further refinement is
    degree-ordering instead of id-ordering; near-dup graphs are
    cluster-shaped (bounded cliques), so id-ordering suffices."""
    e = edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    ab = e.alias("ab")
    bc = e.alias("bc")
    ac = e.alias("ac")
    return (
        ab.join(bc, F.col("ab.b") == F.col("bc.a"))
        .join(
            ac,
            (F.col("ac.a") == F.col("ab.a")) & (F.col("ac.b") == F.col("bc.b")),
        )
        .select(
            F.col("ab.a").alias("node_a"),
            F.col("ab.b").alias("node_b"),
            F.col("bc.b").alias("node_c"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    materialize: str | None = "localCheckpoint",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance (<= max_hops) from any
    seed node, over a DIRECTED edge list (pass both directions for
    undirected). Returns (node, dist) for every REACHED node — the
    k-hop neighborhood query behind blast-radius analysis on a near-dup
    graph, supply-chain reach, and feature propagation.

    Frontier-based, the shape that scales: round h joins ONLY the
    newly-discovered frontier against the edge list (|frontier| x deg
    rows, never |visited| x deg), anti-joins the visited set, and tags
    survivors with distance h. Distances are INTEGERS assigned at first
    discovery, so the result is exactly min-distance with no float
    determinism caveats — a recursive-CTE oracle (UNION-dedup per level
    to keep path enumeration polynomial) replays it. Per-round state is
    pinned via `materialize` (see dedup.MATERIALIZE_MODES); the
    early-exit emptiness probe is a scalar driver check, same class as
    connected_components' convergence count."""
    from .dedup import materialize_df

    if max_hops < 0:
        raise ValueError(f"bfs_distances needs max_hops >= 0, got {max_hops}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    visited = seeds.select(F.col(node_col).alias("node")).distinct().select(
        "node", F.lit(0).cast("int").alias("dist")
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("int").alias("dist"))
        )
        nxt = materialize_df(nxt, materialize)
        if nxt.isEmpty():
            break
        visited = materialize_df(visited.unionByName(nxt), materialize)
        frontier = nxt
    return visited


def hits(
    edges: DataFrame,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    round_dp: int = 9,
    materialize: str | None = "localCheckpoint",
) -> DataFrame:
    """HITS (Kleinberg hubs & authorities) with a fixed iteration count
    over a DIRECTED edge list: authority(d) = sum of hub scores linking
    in, hub(s) = sum of authority scores linked to, each vector
    max-normalized per round. On a bipartite src->dst graph (suppliers ->
    parts below) hubs rank the src side and authorities the dst side.

    Same determinism contract as pagerank(): every per-node sum and
    every normalized score rounds to `round_dp`, and the normalizer is a
    MAX (order-independent), so an unrolled generated-CTE oracle replays
    all iterations bit-for-bit. The scalar max stays in-plan via a
    broadcast cross join (no driver collect). Cost per round: two
    contribution-join + aggregate passes shuffling on the node keys.
    Returns (node, role, score): role 'hub' for src nodes, 'authority'
    for dst nodes.

    Each round's score vectors are PINNED via `materialize` (see
    dedup.MATERIALIZE_MODES): the crossJoin normalizers reference the
    un-materialized upstream twice per round, so without pinning the
    logical plan grows ~4x PER ITERATION (measured: 14 -> 1148 leaf
    scans from iters=1 to 4; iters=8 would hang the optimizer) — the
    same lineage-truncation need as connected_components."""
    from .dedup import materialize_df

    if iters < 1:
        raise ValueError(f"hits needs iters >= 1, got {iters}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    h = e.select("src").distinct().select("src", F.lit(1.0).alias("h"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h, "src")
            .groupBy("dst")
            .agg(F.round(F.sum("h"), round_dp).alias("a_raw"))
        )
        amax = a_raw.agg(F.max("a_raw").alias("amax"))
        a = materialize_df(
            a_raw.crossJoin(F.broadcast(amax)).select(
                "dst", F.round(F.col("a_raw") / F.col("amax"), round_dp).alias("a")
            ),
            materialize,
        )
        h_raw = (
            e.join(a, "dst")
            .groupBy("src")
            .agg(F.round(F.sum("a"), round_dp).alias("h_raw"))
        )
        hmax = h_raw.agg(F.max("h_raw").alias("hmax"))
        h = materialize_df(
            h_raw.crossJoin(F.broadcast(hmax)).select(
                "src", F.round(F.col("h_raw") / F.col("hmax"), round_dp).alias("h")
            ),
            materialize,
        )
    hubs = h.select(F.col("src").alias("node"), F.lit("hub").alias("role"), F.col("h").alias("score"))
    auths = a.select(F.col("dst").alias("node"), F.lit("authority").alias("role"), F.col("a").alias("score"))
    return hubs.unionByName(auths)


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    materialize: str | None = "localCheckpoint",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for
    community detection, fully deterministic: every node starts with its
    own id as its label; each round every node adopts the most frequent
    label among its OUT-neighbors (the join keys labels on dst and
    groups by src — for directed input, information flows dst→src),
    breaking count ties by MINIMUM label, and keeps its current label
    when it has no neighbors. Pass both edge directions for an
    undirected graph (all registered callers do, making the in/out
    distinction moot there). Returns (node, community)
    after exactly `iters` synchronous rounds.

    Determinism is the whole design: the classic algorithm breaks ties
    randomly and updates asynchronously (order-dependent); this variant
    is a pure function of (edges, iters), so an unrolled SQL oracle
    replays it exactly — integer counts and id comparisons only, no
    floats anywhere. The argmax is two map-side-combinable aggregates
    (max count per node, then min label among the argmax set), never a
    per-node sort of the neighbor-label table.

    Scale shape per round: one (node, label) count shuffle over the edge
    list + two bounded aggs + a left join back to carry isolated nodes —
    the degree-sum work PowerGraph-style LPA does, with per-round state
    pinned via `materialize` (see dedup.MATERIALIZE_MODES)."""
    from .dedup import materialize_df

    if iters < 1:
        raise ValueError(f"label_propagation needs iters >= 1, got {iters}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(iters):
        nbr = (
            e.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        mx = nbr.groupBy("node").agg(F.max("cnt").alias("mx"))
        winner = (
            nbr.join(mx, "node")
            .filter(F.col("cnt") == F.col("mx"))
            .groupBy("node")
            .agg(F.min("lbl").alias("new_lbl"))
        )
        labels = materialize_df(
            labels.join(winner, "node", "left").select(
                "node", F.coalesce("new_lbl", "lbl").alias("lbl")
            ),
            materialize,
        )
    return labels.select("node", F.col("lbl").alias("community"))
