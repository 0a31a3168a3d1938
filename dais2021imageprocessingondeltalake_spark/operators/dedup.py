"""Deduplication operators for LLM data pipelines (north-star; SURVEY.md
§7 step 6): exact, n-gram Jaccard, MinHash-LSH, SimHash, embedding-cosine.

Scale design (the whole point — these must work at 100 TB):
- Exact dedup: one shuffle on the content hash; canonical row = min id
  (deterministic, no window needed).
- Candidate generation NEVER compares all pairs. MinHash-LSH and SimHash
  band the signature so the self-join key is (band_id, band_value): only
  colliding documents meet, shuffle is |docs| x |bands| rows of a few
  bytes. Exact verification runs only on candidates.
- Everything is explode/groupBy/join of JVM expressions (xxhash64,
  bitwise ops) — zero Python on the data path.
- Skew: a degenerate band value (e.g. many near-empty docs sharing a
  signature) produces a hot key; AQE skew-join splitting (on in
  session.py) handles it, and `spark.sql.shuffle.partitions` bounds
  partition width.

Every near-dup entry point is assembled from ONE private implementation
per stage, so the md5-family oracle queries certify the same banding,
join, verify and packing code the xxhash64 production paths run — the
hash families differ only in their signature expressions:
- `_shared_counts`: inverted-index self-join counting shared shingles
  (ngram_jaccard_pairs, ngram_containment_pairs);
- `_rarity_prefix` + `_prefix_candidates`: PPJoin rarity prefix, size
  and positional filters (ngram_jaccard_pairs_prefix,
  cross_corpus_near_dup_flags);
- `_verify_jaccard`: exact shingle-set Jaccard of candidate pairs (the
  prefix path and both cross_corpus_*_flags);
- `_band_table`: MinHash signature → LSH band rows (minhash_lsh_pairs,
  minhash_bands_md5, minhash_lsh_pairs_oph);
- `_band_self_join`: the band-collision self-join (the three MinHash-LSH
  pair producers and banded_hamming_pairs);
- `_simhash`: per-token bit votes, sums and packing (simhash, simhash_md5);
- `_flag_dups` (is_dup per new document) and `_attach_roots` (cluster
  root per document).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sampling import ensure_min_partitions
from .text import fingerprint_md5, tokens, with_tokens


def _parallelize(df: DataFrame) -> DataFrame:
    """Parallelism floor before compute-heavy per-row expressions: a small
    single-file parquet scan yields one partition, serializing shingle/
    signature computation onto one core. At real scale inputs have many
    splits and this is a no-op (ensure_min_partitions only shuffles when
    below the floor)."""
    return ensure_min_partitions(df, df.sparkSession.sparkContext.defaultParallelism)


#: Materialization strategies for hot intermediates that feed several plan
#: branches (shingle tables, CC labels). The dedup entry points accept one
#: of these via their `materialize=` parameter:
#:
#: - "localCheckpoint" (default): truncates lineage and stores blocks on
#:   executor memory/local disk. Fastest, but NOT fault-tolerant — the
#:   blocks live only on the executors that computed them, so on a real
#:   cluster losing one executor mid-job kills the job with unrecoverable
#:   lineage. Right for local mode and for jobs where retry-from-scratch
#:   is acceptable.
#: - "persist": persist(DISK_ONLY), lineage retained — a lost block
#:   recomputes from source instead of failing the job. The cluster-mode
#:   default for ONE-SHOT reuse (shingle tables). For ITERATIVE paths
#:   (connected_components) it does not truncate lineage, so round N's
#:   logical plan still embeds rounds 1..N-1 — prefer "checkpoint" there.
#: - "checkpoint": reliable checkpoint — truncates lineage AND survives
#:   executor loss by writing to `sparkContext.setCheckpointDir` storage
#:   (HDFS/S3 on a cluster). The cluster-mode default for iterative paths.
#: - None: no materialization; every branch recomputes the intermediate.
MATERIALIZE_MODES = ("localCheckpoint", "persist", "checkpoint", None)


def materialize_df(df: DataFrame, mode: str | None, eager: bool = True) -> DataFrame:
    """Pin `df` per the strategy table above."""
    if mode is None:
        return df
    if mode == "localCheckpoint":
        return df.localCheckpoint(eager=eager)
    if mode == "persist":
        from pyspark.storagelevel import StorageLevel

        out = df.persist(StorageLevel.DISK_ONLY)
        if eager:
            out.count()  # scalar action: populate the cache now
        return out
    if mode == "checkpoint":
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "materialize='checkpoint' needs sparkContext.setCheckpointDir "
                "pointed at reliable storage (HDFS/S3 on a cluster)"
            )
        return df.checkpoint(eager=eager)
    raise ValueError(f"materialize must be one of {MATERIALIZE_MODES}, got {mode!r}")


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep one row per distinct content: hash-groupBy on md5(text),
    canonical = min(id). One shuffle, map-side partial agg."""
    fp = fingerprint_md5(F.col(text_col))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Filter df to canonical rows only (semi-join against the canon set —
    no row multiplication, broadcast-able when the canon set is small)."""
    canon = exact_dedup(df, id_col, text_col).select(id_col)
    return df.join(canon, [id_col], "left_semi")


# --------------------------------------------------------------------------
# Shingles + n-gram Jaccard
# --------------------------------------------------------------------------
def shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles as an array column (JVM transform).
    Documents with fewer than n tokens yield ZERO shingles (standard
    max(0, len-n+1) shingling — also what the SQL oracles' range-based
    comprehensions produce; a whole-short-text fallback shingle would
    diverge from them and make any two short docs a Jaccard-1 pair)."""
    def grams(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
        return F.when(F.size(toks) >= n, F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        )).otherwise(F.array().cast("array<string>"))

    return with_tokens(text_col, grams)


def _exploded(sh: DataFrame) -> DataFrame:
    """(doc, n_sh, s) — one row per shingle hash of a shingle table."""
    return sh.select("doc", F.size("sh").alias("n_sh"), F.explode("sh").alias("s"))


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, shared, jaccard) of the pairs (with shared, n_a, n_b)
    whose Jaccard = shared / (|A| + |B| - shared) reaches `threshold`."""
    jaccard = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        pairs.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


def _shared_counts(
    df: DataFrame, id_col: str, text_col: str, n: int, max_doc_freq: int | None
) -> DataFrame:
    """(doc_a, doc_b, shared, n_a, n_b) for every pair doc_a < doc_b that
    shares at least one shingle: explode shingles → self-join on the
    shingle (the inverted index) → count shared per pair. Shingles in
    more than `max_doc_freq` documents are dropped before the self-join
    (None keeps all; cost model in ngram_jaccard_pairs)."""
    # the join key is xxhash64(shingle) (shingle_table), not the string:
    # the shuffle carries 8-byte longs instead of ~20-char strings and the
    # join compares longs. A cross-shingle hash collision would inflate
    # `shared` by 1; with ~2^15 distinct shingles against a 2^64 space the
    # birthday bound is ~1e-10 — far below any operational concern.
    sh = shingle_table(df, id_col, text_col, n)
    exploded = _exploded(sh)
    if max_doc_freq is not None:
        rare = shingle_doc_freq(sh).filter(F.col("dfreq") <= max_doc_freq).select("s")
        exploded = exploded.join(rare, ["s"], "left_semi")
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("a.n_sh").alias("n_a"),
            F.first("b.n_sh").alias("n_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted index:
    explode shingles → self-join on shingle (id_a < id_b) → count shared →
    jaccard = shared / (|A| + |B| - shared) ≥ threshold.

    Scale note: cost is Σ_s df(s)² over shingle frequencies — fine for
    selective shingles (content n-grams), degenerate for stop-shingles.
    `max_doc_freq` is the 100 TB knob: drop shingles appearing in more
    than that many documents before the self-join (a shingle with df=1M
    alone generates 5e11 candidate rows). Capped results UNDER-count
    `shared` for pairs relying on dropped shingles — jaccard becomes a
    lower bound, so recall can only drop, never precision. The uncapped
    form doubles as the oracle-checkable ground truth for MinHash."""
    return _jaccard_at_least(
        _shared_counts(df, id_col, text_col, n, max_doc_freq), threshold
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT:
    C(A→B) = |S_A ∩ S_B| / |S_A|. Jaccard misses the subset-duplication
    shape entirely — a short doc quoted whole inside a much longer one
    scores jaccard ≈ |A|/|B| (tiny) but containment 1.0. This is the
    detector for wrapper pages, quote farms, and chunk-of-a-bigger-doc
    duplication in crawl curation.

    Same inverted-index scaffold (and Σ df(s)² cost model + `max_doc_freq`
    knob) as `ngram_jaccard_pairs`; the only change is the verify metric,
    computed in BOTH directions per ordered pair. A capped run UNDER-counts
    `shared`, so containment is a lower bound: recall can drop, precision
    can't. Emits (doc_a, doc_b, shared, cont_a_in_b, cont_b_in_a) where
    max(directions) >= threshold."""
    return (
        _shared_counts(df, id_col, text_col, n, max_doc_freq)
        .withColumn("cont_a_in_b", F.col("shared") / F.col("n_a"))
        .withColumn("cont_b_in_a", F.col("shared") / F.col("n_b"))
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
        .select("doc_a", "doc_b", "shared", "cont_a_in_b", "cont_b_in_a")
    )


def _rarity_prefix(sh: DataFrame, dfreq: DataFrame, threshold: float) -> DataFrame:
    """(doc, n_sh, s, rn) — each document's PPJoin prefix: its first
    p = |A| - ceil(t*|A|) + 1 shingles under the shared global order
    (dfreq, s). If J(A,B) >= t then |A∩B| >= t*|A|, so a qualifying pair
    MUST collide within both prefixes. Prefix filtering is correct under
    ANY total order both sides share; rarity is the pruning heuristic.
    Shingles absent from `dfreq` rank as df 0 (rarest, sort first: kept
    in prefixes, so recall is untouched)."""
    rarity = Window.partitionBy("doc").orderBy("dfreq", "s")
    return (
        _exploded(sh)
        .join(dfreq, ["s"], "left")
        .withColumn("dfreq", F.coalesce(F.col("dfreq"), F.lit(0)))
        .withColumn("rn", F.row_number().over(rarity))
        .filter(F.col("rn") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1)
        .select("doc", "n_sh", "s", "rn")
    )


def _prefix_candidates(
    p_a: DataFrame, p_b: DataFrame, threshold: float, *on: Column
) -> DataFrame:
    """Distinct (doc_a, doc_b) whose rarity prefixes collide on a shingle
    and that pass the size and positional filters; `on` adds further
    join conditions over the `a`/`b` sides."""
    a, b = p_a.alias("a"), p_b.alias("b")
    # positional filter (PPJoin proper): a prefix collision at positions
    # (rn_a, rn_b) bounds the total overlap by 1 + min(remaining shingles
    # on each side); if that bound can't reach the overlap the threshold
    # requires (J >= t  <=>  |A∩B| >= t/(1+t)*(|A|+|B|)), the pair can't
    # qualify and never reaches verification.
    overlap_needed = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n_sh") + F.col("b.n_sh"))
    )
    overlap_ubound = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a.rn"), F.col("b.n_sh") - F.col("b.rn")
    )
    cond = (
        (F.col("a.s") == F.col("b.s"))
        # size filter: J >= t forces t*|A| <= |B| and t*|B| <= |A|
        & (F.col("b.n_sh") >= F.lit(threshold) * F.col("a.n_sh"))
        & (F.col("a.n_sh") >= F.lit(threshold) * F.col("b.n_sh"))
        & (overlap_ubound >= overlap_needed)
    )
    for c in on:
        cond = cond & c
    return (
        a.join(b, cond)
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _verify_jaccard(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, shared, jaccard) of the candidate pairs whose EXACT
    shingle-set Jaccard reaches `threshold`: doc_a's set comes from
    shingle table `sh_a`, doc_b's from `sh_b`, and each candidate costs one
    sorted-array intersect (JVM, no Python)."""

    def sets(sh: DataFrame, side: str) -> DataFrame:
        return sh.select(
            F.col("doc").alias(f"doc_{side}"),
            F.col("sh").alias(f"sh_{side}"),
            F.size("sh").alias(f"n_{side}"),
        )

    return _jaccard_at_least(
        cand.join(sets(sh_a, "a"), ["doc_a"])
        .join(sets(sh_b, "b"), ["doc_b"])
        .withColumn("shared", F.size(F.array_intersect("sh_a", "sh_b"))),
        threshold,
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    materialize: str | None = "localCheckpoint",
) -> DataFrame:
    """Exact n-gram Jaccard pairs with PREFIX FILTERING (the All-Pairs /
    PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08) — identical
    output to `ngram_jaccard_pairs`, asymptotically cheaper candidate
    generation.

    Principle: order each document's shingles by global rarity (doc-freq
    asc). If J(A,B) >= t then |A∩B| >= t*|A| (since |A∪B| >= |A|), so A
    can miss at most |A| - ceil(t*|A|) overlap shingles — meaning any
    qualifying pair MUST collide within the first
    p = |A| - ceil(t*|A|) + 1 shingles of BOTH documents under the shared
    global order. Index only those prefixes; verify candidates exactly
    with array_intersect on the full shingle-hash sets (JVM, no Python).

    Scale shape: the self-join cost Σ_s df(s)² now runs only over PREFIX
    occurrences — and because prefixes keep the RAREST shingles, the
    high-df stop-shingles that dominate the quadratic blowup are exactly
    the ones excluded. Verification touches |candidates| rows, each a
    cheap sorted-array intersect. A length filter (t*|A| <= |B| <=
    |A|/t) prunes size-incompatible pairs before verification for free.

    The shingle table feeds THREE plan branches (prefix index + both
    verify sides); `materialize` (see MATERIALIZE_MODES) pins it so
    tokenize/shingle/hash runs once, not three times — the single-query
    analogue of persisting the shingle table, which is what a real
    100 TB job does with this intermediate anyway. Default
    "localCheckpoint" suits local mode; pass "persist" on a cluster so an
    executor loss recomputes blocks instead of killing the job.
    """
    sh = materialize_df(shingle_table(df, id_col, text_col, n), materialize)
    prefix = _rarity_prefix(sh, shingle_doc_freq(sh), threshold)
    cand = _prefix_candidates(prefix, prefix, threshold, F.col("a.doc") < F.col("b.doc"))
    return _verify_jaccard(cand, sh, sh, threshold)


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------
def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: num_hashes seeded xxhash64 mins
    over the shingle set: sig[i] = min_s xxhash64(s, i).

    Shape: explode shingles → num_hashes flat hash columns → groupBy(id)
    with num_hashes min() aggs → pack array. One shuffle, but map-side
    partial min means it carries |docs| x num_hashes longs, not shingle
    rows. (A shuffle-free nested-array-transform formulation exists but
    generates a huge whole-stage-codegen unit — 10+ seconds of JIT per
    query — while this flat form compiles instantly.)"""
    exploded = _parallelize(df).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("s")
    )
    # double hashing (Kirsch-Mitzenmacher family): derive num_hashes
    # min-hash families from TWO xxhash64 evaluations per shingle instead
    # of num_hashes — 16x less hashing. Mixing is rotate-XOR rather than
    # h1 + i*h2 because ANSI mode (Spark 4 default) throws on long
    # overflow; bit ops are overflow-free and shift counts wrap mod 64.
    with_h = exploded.select(
        id_col, F.xxhash64("s").alias("h1"), F.xxhash64("s", F.lit(1)).alias("h2")
    )

    # SQL-string expressions, not per-Column construction (r12, guide
    # §1.1 measure-first): building the num_hashes mix/min/pack trees
    # Column-by-Column cost ~0.8 s of py4j round-trips PER QUERY BUILD
    # (profiled as the largest single slice of q_minhash_lsh's wall);
    # selectExpr ships the whole list in one call and parses JVM-side
    # into the IDENTICAL Catalyst expressions (same rotate-XOR family).
    def mix(i: int) -> str:
        if i == 0:
            return "h1 AS h0"
        return (
            f"(h1 ^ (shiftleft(h2, {i}) | shiftrightunsigned(h2, {64 - i})))"
            f" AS h{i}"
        )

    hashed = with_h.selectExpr(id_col, *[mix(i) for i in range(num_hashes)])
    mins = hashed.groupBy(id_col).agg(
        *[F.expr(f"min(h{i}) AS m{i}") for i in range(num_hashes)]
    )
    return mins.selectExpr(
        id_col,
        "array(" + ", ".join(f"m{i}" for i in range(num_hashes)) + ") AS minhash",
    )


def _band_table(sigs: DataFrame, sig: list[str], bands: int, *carry: str) -> DataFrame:
    """(doc, *carry, band_id, bv) — the LSH band table of a signature
    table with a `doc` column: the signature values `sig` (SQL
    expressions over `sigs`) split into `bands` runs of r = len(sig)/bands,
    each run joined into one string band value, so two documents share a
    band row iff they agree on all r values of that band. A pair with
    Jaccard j collides w.p. 1-(1-j^r)^bands. One SQL string for the whole
    band array (same Catalyst tree as the per-Column form — see the
    minhash_signatures py4j note)."""
    r = len(sig) // bands
    if r * bands != len(sig):
        raise ValueError(f"bands={bands} must divide the {len(sig)} signature values")
    band_arr = ", ".join(
        f"struct({j} AS band_id, concat_ws('|', {', '.join(sig[j * r:(j + 1) * r])}) AS bv)"
        for j in range(bands)
    )
    return sigs.selectExpr("doc", *carry, f"explode(array({band_arr})) AS b").select(
        "doc", *carry, "b.band_id", "b.bv"
    )


def _band_self_join(banded: DataFrame, *carry: Column) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b, *carry) of a band table
    (doc, band_id, bv, ...): documents meet only where a band value
    collides, so the shuffle is |docs| x |bands| rows, never all pairs.
    `carry` are columns over the `a`/`b` sides kept per pair (the first
    colliding band's row)."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"), *carry)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs via LSH banding: split the signature into
    `bands` rows of r = num_hashes/bands values (bands must divide
    num_hashes), self-join on (band_id, band value). A pair with Jaccard
    j collides w.p. 1-(1-j^r)^bands (r=4, b=8: j=0.5 → 0.42, j=0.8 → 0.97).

    Returns distinct candidate pairs with their estimated Jaccard
    (signature agreement fraction) — callers verify exactly with
    ngram_jaccard on the candidates only."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    banded = _band_table(
        sigs.withColumnRenamed(id_col, "doc"),
        [f"element_at(minhash, {i + 1})" for i in range(num_hashes)],
        bands,
        "minhash",
    )
    cand = _band_self_join(
        banded, F.col("a.minhash").alias("mh_a"), F.col("b.minhash").alias("mh_b")
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("mh_a"), F.col("mh_b"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(
        float(num_hashes)
    )
    return cand.select("doc_a", "doc_b", est.alias("est_jaccard"))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def _simhash(
    df: DataFrame, id_col: str, text_col: str, h: Column, bit: Callable[[int], Column], bits: int
) -> DataFrame:
    """(id, simhash) over each document's distinct tokens: token hash `h`
    (a column over `tok`) → per-bit ±1 votes, `bit(j)` being bit j of
    column `h` as 0/1 → groupBy(id) with `bits` sum() aggs (map-side
    partial) → bit j set iff its vote sum is positive, packed into a long.
    Flat columns, not a nested array transform: same codegen tradeoff as
    minhash_signatures."""
    exploded = _parallelize(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", h)
    votes = exploded.select(
        id_col,
        *[
            F.when(bit(j) == 1, F.lit(1)).otherwise(F.lit(-1)).alias(f"b{j}")
            for j in range(bits)
        ],
    )
    sums = votes.groupBy(id_col).agg(*[F.sum(f"b{j}").alias(f"v{j}") for j in range(bits)])
    packed = F.lit(0).cast("long")
    for j in range(bits):
        # shiftleft handles j=63 (1<<63 overflows a signed literal)
        packed = packed.bitwiseOR(
            F.when(F.col(f"v{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sums.select(F.col(id_col), packed.alias("simhash"))


def simhash(df: DataFrame, id_col: str, text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash per document, all JVM bitwise expressions: token →
    xxhash64 → per-bit +1/-1 vote → sign vector → packed long."""
    # shiftright+mask extracts any bit incl. the sign bit (i=63)
    return _simhash(
        df, id_col, text_col, F.xxhash64("tok"),
        lambda i: F.shiftright("h", i).bitwiseAND(F.lit(1)), bits,
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs over any 64-bit signature column: band the hash
    into `bands` chunks, self-join on a matching band, verify with
    bit_count(xor) <= max_hamming. Shared engine for SimHash text
    near-dup and perceptual-hash image near-dup — identical scale shape
    (|rows| x bands shuffle, candidates only where a band collides).

    Recall guarantee (pigeonhole): a pair is ALWAYS found when its hamming
    distance < bands (fewer differing bits than bands → some band intact).
    For bands <= hamming <= max_hamming detection is probabilistic (the
    differing bits must happen to leave one band untouched) — exhaustive
    recall at max_hamming=h requires bands >= h+1 (e.g. 9+ bands for
    h=8), at the cost of more candidate pairs per band join."""
    width = 64 // bands
    mask = (1 << width) - 1
    band_rows = sigs.select(
        F.col(id_col).alias("doc"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col(hash_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc", "h", "band.band_id", "band.bv")
    return _band_self_join(band_rows, F.expr("bit_count(a.h ^ b.h)").alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash — signature computation (simhash) piped
    into the shared banded Hamming join (banded_hamming_pairs, where the
    recall guarantees are documented)."""
    sigs = simhash(df, id_col, text_col)
    return banded_hamming_pairs(sigs, id_col, "simhash", max_hamming, bands)


# --------------------------------------------------------------------------
# Near-dup clustering (connected components)
# --------------------------------------------------------------------------
def connected_components(
    edges: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    on_nonconverge: str = "raise",
    materialize: str | None = "localCheckpoint",
) -> DataFrame:
    """Connected components over a near-dup pair list by iterative
    min-label propagation: every node starts labeled with itself; each
    round takes the min of its own and its neighbors' labels; fixpoint =
    each component labeled with its minimum member. Returns (id, cluster_root).

    This turns PAIRS into dedup CLUSTERS — the step a curation pipeline
    actually needs (keep cluster_root, drop the rest). Each round ALSO
    flattens labels through one level of indirection (pointer jumping:
    label <- label-of-label), so convergence is O(log diameter) rounds,
    not O(diameter) — a 1M-node chain needs ~20 rounds, not 1M. Near-dup
    components are usually shallow cliques (1-2 rounds); the log bound is
    what makes adversarial chain-shaped components safe at scale.

    Scale shape per round: one join edges⋈labels (shuffle on the label
    key) + a groupBy min + one labels self-join for the flattening — all
    AQE-planned; `localCheckpoint` truncates the growing lineage so round
    N's plan doesn't replay rounds 1..N-1. The convergence probe is a
    count() action per round (a scalar to the driver, never data).

    If the fixpoint is NOT reached within max_iter (component diameter >
    max_iter), the labels are only partially propagated — one component
    would silently split into several clusters and downstream
    keep-cluster-root dedup would under-merge. `on_nonconverge` controls
    the signal: 'raise' (default) raises RuntimeError; 'warn' logs and
    returns the partial labels (for exploratory use).

    `materialize` (see MATERIALIZE_MODES) picks how per-round state is
    pinned: "localCheckpoint" (default) for local mode, "checkpoint" on a
    cluster (reliable storage + lineage truncation — the iterative path
    must not keep lineage, so prefer it over "persist" there)."""
    import warnings

    if on_nonconverge not in ("raise", "warn"):
        raise ValueError(f"on_nonconverge must be 'raise' or 'warn', got {on_nonconverge!r}")
    # materialize the edge list ONCE, BEFORE symmetrizing — edges often
    # come from an expensive candidate join (prefix Jaccard, LSH banding);
    # a union of two branches over the raw df would run that join twice
    # (each branch recomputes), and without any checkpoint every
    # propagation round would replay it from scratch
    ed = materialize_df(
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")), materialize
    )
    sym = ed.union(ed.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = sym.select(F.col("src").alias("id")).distinct()
    labels = materialize_df(nodes.select("id", F.col("id").alias("label")), materialize)
    changed = 0
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        half = labels.join(nbr_min, labels["id"] == nbr_min["src"], "left").select(
            labels["id"],
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: chase one level of indirection (my label's
        # label). Every label IS some node's id (labels are mins over node
        # ids), so the lookup always resolves; coalesce guards the left
        # join anyway. Labels only decrease, so this is monotone-safe.
        # The checkpoint is LAZY so the convergence count() is the single
        # job that materializes this round's labels and reports progress.
        parent = half.select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        stepped = materialize_df(
            half.join(parent, half["label"] == parent["p_id"], "left").select(
                half["id"],
                "old_label",
                F.coalesce(F.col("p_label"), half["label"]).alias("label"),
            ),
            materialize,
            eager=False,
        )
        changed = stepped.filter(F.col("label") != F.col("old_label")).count()
        labels = stepped.select("id", "label")
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"connected_components did not converge in max_iter={max_iter} rounds "
            f"({changed} labels still changing) — components with diameter > max_iter "
            "are split; raise max_iter"
        )
        if on_nonconverge == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("id"), F.col("label").alias("cluster_root"))


def _attach_roots(
    docs: DataFrame, id_col: str, edges: DataFrame, id_a: str, id_b: str
) -> DataFrame:
    """docs + cluster_root: each document's connected_components root over
    `edges`; a document in no edge is its own singleton cluster (left
    join; root = own id)."""
    clusters = connected_components(edges, id_a=id_a, id_b=id_b)
    return docs.join(
        clusters.withColumnRenamed("id", id_col), [id_col], "left"
    ).withColumn("cluster_root", F.coalesce(F.col("cluster_root"), F.col(id_col)))


def leakage_safe_split(
    docs: DataFrame,
    id_col: str,
    edges: DataFrame,
    train_fraction: float = 0.8,
    seed: int = 0,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Train/validation split that cannot leak near-duplicates across the
    boundary: documents are split by their near-dup CLUSTER, not
    individually — every member of a connected component lands on the
    same side. A per-document random split puts one copy of a duplicated
    document in train and another in validation, silently inflating eval
    scores; splitting on the cluster root closes that hole.

    Assignment is hash(seed, cluster_root) — deterministic, reproducible
    across runs and engines, and rebalancing train_fraction reassigns
    whole clusters, never splits one. Docs in no near-dup pair are their
    own singleton cluster (left join; root = own id).

    `hash_family` picks the assignment hash: "xxhash64" (default, fast,
    Spark-private → rows-only checkable) or "md5" (the first-8-hex-chars
    threshold idiom — replayable in any engine, so the whole split
    becomes oracle-certifiable; see q_leakage_split_md5).

    Scale shape: connected_components over the (already banded/pruned)
    edge list, one broadcast-able left join of the corpus against the
    cluster map (|clustered docs| << |corpus|), and a pure projection
    for the assignment. No extra shuffle of the corpus beyond the join."""
    from .sampling import _md5_threshold

    joined = _attach_roots(docs, id_col, edges, id_a, id_b)
    if hash_family == "md5":
        digest = F.md5(
            F.concat(F.col("cluster_root").cast("string"), F.lit(f":split{seed}"))
        )
        is_train = F.substring(digest, 1, 8) < F.lit(_md5_threshold(train_fraction))
    elif hash_family == "xxhash64":
        bucket = F.pmod(F.xxhash64(F.lit(seed), F.col("cluster_root")), F.lit(10_000))
        is_train = bucket < F.lit(int(train_fraction * 10_000))
    else:
        raise ValueError(f"hash_family must be 'xxhash64' or 'md5', got {hash_family!r}")
    return joined.withColumn(
        "split", F.when(is_train, F.lit("train")).otherwise(F.lit("validation"))
    )


# --------------------------------------------------------------------------
# Cross-corpus (incremental) near-dedup
# --------------------------------------------------------------------------
def shingle_table(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc, sh) — per-document distinct xxhash64 n-gram shingle sets,
    the persistable intermediate every shingle-based dedup consumes.
    In production this is written ONCE per corpus snapshot (partitioned
    parquet) and handed to cross_corpus_near_dup_flags as `ref_shingles`
    so incremental ingest never re-shingles the reference corpus."""
    # Filter on the CHEAP equivalent predicate BEFORE the shingle transform
    # (guide §2.3/§4.4): a trailing filter(size(sh) > 0) gets pushed below
    # the projection as a filter on the WHOLE shingle expression tree, so
    # every row paid tokenize+shingle+hash twice (measured 2.4s vs 0.4s on
    # the sf0.1 corpus — a 6x hit on the hottest intermediate in the repo).
    # size(tokens) >= n is row-for-row equivalent: shingles() yields a
    # non-empty array iff the doc has at least n tokens (sequence(1,
    # len-n+1) is non-empty and array_distinct keeps >= 1 element).
    return (
        _parallelize(df)
        .filter(F.size(tokens(F.col(text_col))) >= n)
        .select(
            F.col(id_col).alias("doc"),
            F.transform(shingles(F.col(text_col), n), lambda s: F.xxhash64(s)).alias("sh"),
        )
    )


def shingle_doc_freq(shingle_tbl: DataFrame) -> DataFrame:
    """(s, dfreq) — document frequency per shingle hash over a shingle
    table; the global rarity order for prefix filtering. Precompute it
    alongside the shingle table and reuse for every incoming batch."""
    return (
        shingle_tbl.select("doc", F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("dfreq"))
    )


def _flag_dups(new_df: DataFrame, id_col: str, dups: DataFrame) -> DataFrame:
    """(id, is_dup) for every row of new_df: True iff its id is a doc_a of
    the verified pairs `dups`."""
    dup_ids = dups.select(F.col("doc_a").alias(id_col)).distinct()
    return new_df.select(id_col).join(
        dup_ids.withColumn("is_dup", F.lit(True)), [id_col], "left"
    ).select(F.col(id_col), F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"))


def cross_corpus_near_dup_flags(
    new_df: DataFrame,
    ref_df: DataFrame | None,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    broadcast_new: bool = True,
    materialize: str | None = "localCheckpoint",
    ref_shingles: DataFrame | None = None,
    ref_dfreq: DataFrame | None = None,
    new_shingles: DataFrame | None = None,
) -> DataFrame:
    """Flag documents in a NEW batch that are near-duplicates (n-gram
    Jaccard >= threshold) of ANY document in an existing REFERENCE
    corpus — the incremental-ingest dedup every recurring crawl runs:
    each snapshot dedups against everything already kept, not just
    against itself. Returns (id, is_dup) for every new doc.

    Same prefix-filter machinery as ngram_jaccard_pairs_prefix, but the
    candidate join is new-prefix x ref-prefix instead of a self-join —
    asymmetric by design. The global rarity order comes from the
    REFERENCE side's doc-frequencies: the corpus dfreq table is
    precomputed once (shingle_doc_freq) and reused for every snapshot,
    and shingles unseen in the corpus rank as df 0 (rarest), so the new
    batch never contributes to a union-wide count. At scale the new batch
    is orders of magnitude smaller than the corpus, so its prefix index
    broadcasts (`broadcast_new`) — the ref corpus never shuffles for
    candidate generation, it is scanned once to build prefixes and once
    for verification.

    Production shape: pass `ref_shingles` (a persisted shingle_table()
    output for the corpus, columns (doc, sh)) and `ref_dfreq`
    (shingle_doc_freq() output, columns (s, dfreq)) and leave `ref_df`
    None — the reference corpus is then never re-shingled per batch; the
    per-snapshot cost is the new batch's shingles plus one prefix join
    against the precomputed index. When only `ref_df` is given, both are
    derived in-query (the self-computing path; flag-identical output —
    pinned by tests/test_llm_ops.py).
    """
    if ref_shingles is None and ref_df is None:
        raise ValueError("need ref_df or a precomputed ref_shingles table")

    # `new_shingles` mirrors `ref_shingles`: when both sides of the dedup
    # come from ONE source frame (q_cross_dedup splits a corpus by batch
    # predicate), the caller shingles the source once and passes both
    # slices — halving the tokenize/shingle/hash passes over the scan.
    sh_new = (
        new_shingles
        if new_shingles is not None
        else materialize_df(shingle_table(new_df, id_col, text_col, n), materialize)
    )
    sh_ref = (
        ref_shingles
        if ref_shingles is not None
        else materialize_df(shingle_table(ref_df, id_col, text_col, n), materialize)
    )
    dfreq = ref_dfreq if ref_dfreq is not None else shingle_doc_freq(sh_ref)
    p_new = _rarity_prefix(sh_new, dfreq, threshold)
    cand = _prefix_candidates(
        F.broadcast(p_new) if broadcast_new else p_new,
        _rarity_prefix(sh_ref, dfreq, threshold),
        threshold,
    )
    return _flag_dups(new_df, id_col, _verify_jaccard(cand, sh_new, sh_ref, threshold))


def keep_best_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Canonical-selection policy over near-dup clusters: keep each
    cluster's highest-`score_col` member (ties → min id). Production
    pipelines prefer this over min-id canon — when a crawl captures the
    same article five times, you keep the cleanest capture, not the one
    with the smallest id. Rows absent from `clusters` (no near-dup edge)
    are singletons and always survive.

    `clusters` is connected_components output (id, cluster_root). Shape:
    one left join to attach roots, one window argmax partitioned by the
    root — both shuffle on cluster keys, cluster count << corpus size.
    Returns (id, cluster_root, score) for the kept rows only.
    """
    rooted = (
        df.select(F.col(id_col), F.col(score_col))
        .join(clusters, df[id_col] == clusters["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_root"), F.col(id_col)).alias("cluster_root"),
            F.col(score_col),
        )
    )
    w = Window.partitionBy("cluster_root").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        rooted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_lsh_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs with an ENGINE-PORTABLE hash family:
    hash_i(s) = md5 hex string of "i:s", minimum taken in lexicographic
    string order. Every engine with md5 + string min computes the
    identical signature, so the full banding pipeline replays in SQL —
    this is the oracle-certified sibling of minhash_lsh_pairs, whose
    xxhash64 double-hash family is Spark-private (rows-only checkable)
    but ~2x cheaper per shingle. Both share the band table and band
    self-join code. Same LSH geometry: a pair with Jaccard j collides
    w.p. 1-(1-j^r)^bands, r = num_hashes/bands.

    Scale shape is unchanged: explode shingles -> num_hashes map-side
    min aggs (shuffle carries |docs| x num_hashes hex strings — 32 bytes
    each vs 8-byte longs, the price of portability) -> band explode ->
    self-join on (band_id, band_value).
    """
    return _band_self_join(
        minhash_bands_md5(df, id_col, text_col, num_hashes, bands, shingle_n)
    )


def minhash_bands_md5(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc, band_id, bv) — the md5-family MinHash band table. This is
    the PERSISTABLE LSH index of a corpus: write it once per snapshot and
    every incoming batch joins its own (tiny) band table against it for
    candidates (cross_corpus_minhash_flags), exactly how an incremental
    LSH index runs in production."""
    exploded = _parallelize(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    # one SQL string per hash, as in minhash_signatures (py4j note there)
    mins = exploded.groupBy("doc").agg(
        *[
            F.expr(f"min(md5(CAST(concat('{i}:', s) AS BINARY))) AS m{i}")
            for i in range(num_hashes)
        ]
    )
    return _band_table(mins, [f"m{i}" for i in range(num_hashes)], bands)


def cross_corpus_minhash_flags(
    new_df: DataFrame,
    ref_df: DataFrame | None,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    ref_bands: DataFrame | None = None,
    ref_shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest dedup with a MinHash-LSH candidate index — the
    approximate sibling of cross_corpus_near_dup_flags (exact prefix
    filtering): candidates come from band-value collisions between the
    new batch's band table and the corpus's PRECOMPUTED band index
    (`ref_bands`, persisted once per snapshot via minhash_bands_md5),
    then exact n-gram Jaccard verifies each candidate against the
    corpus shingle table. Returns (id, is_dup) per new doc.

    Trade vs the prefix path: candidate generation touches only
    |docs| x bands index rows (no per-shingle rarity ranking, no df
    table), at the price of LSH recall < 1 below the collision knee —
    the right choice when the corpus index must be cheap to maintain.
    Both ref-side tables are reusable across every incoming batch; when
    not supplied they are derived from `ref_df` in-query.
    """
    if (ref_bands is None or ref_shingles is None) and ref_df is None:
        raise ValueError("need ref_df or precomputed ref_bands + ref_shingles")
    b_new = minhash_bands_md5(new_df, id_col, text_col, num_hashes, bands, n)
    b_ref = (
        ref_bands
        if ref_bands is not None
        else minhash_bands_md5(ref_df, id_col, text_col, num_hashes, bands, n)
    )
    sh_new = shingle_table(new_df, id_col, text_col, n)
    sh_ref = (
        ref_shingles
        if ref_shingles is not None
        else shingle_table(ref_df, id_col, text_col, n)
    )
    cand = (
        F.broadcast(b_new.alias("a"))
        .join(
            b_ref.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _flag_dups(new_df, id_col, _verify_jaccard(cand, sh_new, sh_ref, threshold))


def simhash_md5(
    df: DataFrame, id_col: str, text_col: str = "text", bits: int = 16
) -> DataFrame:
    """SimHash signatures with an ENGINE-PORTABLE hash family: per
    distinct token, bit j of the md5 hex digest (extracted by hex-digit
    lookup — `position` in Spark, `strpos` in an oracle engine, identical
    values) votes +1/-1; signature bit j is set iff the vote sum is
    positive. Every step is INTEGER arithmetic on identical inputs, so
    the packed signature replays exactly in SQL — the oracle-certified
    sibling of the 64-bit xxhash64 `simhash` (rows-only, 4x wider, the
    production path), sharing its vote/sum/pack code. 16 bits keeps the
    per-token expression count sane; the banding geometry is the same,
    just coarser.
    """
    def bit(j: int) -> Column:
        digit = f"position(substring(h, {1 + j // 4}, 1), '0123456789abcdef') - 1"
        return F.expr(f"shiftright({digit}, {j % 4}) & 1")

    return _simhash(df, id_col, text_col, F.md5(F.col("tok").cast("binary")), bit, bits)


def minhash_oph_signature_cols(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_bins: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """One-Permutation-Hashing MinHash signatures (Li et al. 2012, with
    rotation densification per Shrivastava & Li 2014): ONE md5 per
    shingle instead of num_hashes — the digest's first hex char picks the
    bin (requires num_bins=16; hex digits are uniform) and the remaining
    31 chars are the value min-aggregated per bin — k hash evaluations
    collapse to 1, the standard production MinHash optimization for
    hash-bound workloads.

    Measured honestly at sf0.1 (equal signature width 16, best-of-2):
    classic md5 1.64s vs OPH 2.19s — at THIS corpus scale the explode +
    16-column conditional-min agg dominates, not hashing, so OPH does
    not win locally. It wins when hashing is the bottleneck: long
    documents (shingle count >> doc count), wide signatures (k >= 64),
    or CPU-bound executors — the regime 100 TB crawls actually occupy.
    Registered for algorithm coverage + the oracle certificate, with the
    tradeoff stated rather than assumed.

    Empty bins (short docs) densify by cyclic rotation: sig[j] borrows
    the nearest non-empty bin to the right — expressed as a 16-way
    COALESCE over the flat min columns, so the WHOLE construction is
    engine-portable string ops (oracle-replayable, like the md5 k-hash
    family). Docs with zero shingles are absent from the output.

    Returns (doc, sig_0..sig_{num_bins-1})."""
    if num_bins != 16:
        raise ValueError("md5-family OPH uses the first hex digit: num_bins must be 16")
    exploded = _parallelize(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
    ).select(
        F.col("doc"),
        F.md5(F.col("s").cast("binary")).alias("d"),
    ).withColumn(
        "bin",
        F.instr(F.lit("0123456789abcdef"), F.substring(F.col("d"), 1, 1)) - 1,
    ).withColumn("v", F.substring(F.col("d"), 2, 31))
    mins = exploded.groupBy("doc").agg(
        *[
            F.min(F.when(F.col("bin") == j, F.col("v"))).alias(f"b{j}")
            for j in range(num_bins)
        ]
    )
    sig = [
        F.coalesce(*[F.col(f"b{(j + d) % num_bins}") for d in range(num_bins)]).alias(
            f"sig_{j}"
        )
        for j in range(num_bins)
    ]
    return mins.select("doc", *sig)


def minhash_lsh_pairs_oph(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_bins: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs over OPH signatures: the band table and
    candidate self-join of minhash_lsh_pairs_md5, but the signature costs
    ONE hash per shingle instead of num_hashes (see
    minhash_oph_signature_cols). Same LSH geometry per band count;
    per-bin minima are slightly noisier than independent hashes (a bin
    sees only ~1/16 of the shingles), which planted/recall tests bound."""
    sig = minhash_oph_signature_cols(df, id_col, text_col, num_bins, shingle_n)
    return _band_self_join(_band_table(sig, [f"sig_{j}" for j in range(num_bins)], bands))


def kfold_leakage_safe(
    docs: DataFrame,
    id_col: str,
    edges: DataFrame,
    k: int = 5,
    seed: int = 0,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Leakage-safe k-fold cross-validation assignment: every near-dup
    CLUSTER lands whole in one fold (the k-way generalization of
    leakage_safe_split — per-document folding leaks duplicate content
    into the held-out fold of every round). Fold boundaries are the
    md5 hex-threshold idiom at rates i/k, so assignment is UNIFORM,
    deterministic, engine-portable, and fully oracle-replayable.
    Returns docs + (cluster_root, fold)."""
    from .sampling import _md5_threshold

    if k < 2:
        raise ValueError(f"kfold needs k >= 2, got {k}")
    joined = _attach_roots(docs, id_col, edges, id_a, id_b)
    digest = F.substring(
        F.md5(F.concat(F.col("cluster_root").cast("string"), F.lit(f":fold{seed}"))),
        1,
        8,
    )
    fold = F.lit(k - 1)
    for i in range(k - 1, 0, -1):
        fold = F.when(digest < F.lit(_md5_threshold(i / k)), F.lit(i - 1)).otherwise(fold)
    return joined.withColumn("fold", fold.cast("bigint"))
