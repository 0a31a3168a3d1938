"""Text-analysis operators for LLM data pipelines (north-star; SURVEY.md
§7 step 6): token counting, document stats, quality scoring, language ID,
fingerprinting. All hot-path logic is JVM-side builtin functions — no
Python on the data path; designed to scan 100 TB of `documents` with
nothing but a projection (no shuffle at all except where noted).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker stopwords per language for the rule-based language ID. Determinism
# matters more than linguistic power here: the same rule is expressible in
# ANSI SQL for the oracle, and real corpora would swap in a fastText-style
# model via model_udf (functions/udf.py) without changing the plan shape.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "que", "y"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization as an array column (JVM split)."""
    return F.split(text, " ")


def with_tokens(text: Column, fn: Callable[[Column], Column]) -> Column:
    """`fn(toks)` with `toks = tokens(text)` split once per row.

    Catalyst evaluates a lambda body afresh for every element, so an
    n-gram transform that names `tokens(text)` inside its lambda re-splits
    the document once per n-gram: O(L^2) for L tokens. Binding the split
    array as the single element of a one-element array turns it into a
    lambda variable that `fn` and every lambda nested in it read."""
    return F.element_at(F.transform(F.array(tokens(text)), fn), 1)


def token_count(text: Column) -> Column:
    """Token count — `size(split(...))`, whole-stage-codegen'd."""
    return F.size(tokens(text)).cast("bigint")


def bpe_ish_token_estimate(text: Column) -> Column:
    """Sub-word token estimate without a tokenizer model: count word
    boundaries + intra-word splits every 4 chars (the ~4-chars/token rule
    of thumb for BPE vocabularies), all in JVM expressions."""
    n_words = token_count(text)
    n_chars = F.length(text) - n_words + 1  # chars excluding separators
    return (n_words + (n_chars / F.lit(4)).cast("bigint")).alias("bpe_tokens")


def doc_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: chars, tokens, distinct tokens, type-token
    ratio, mean token length. Pure projection — no shuffle, scales
    linearly with input splits."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    return df.select(
        "*",
        F.length(t).cast("bigint").alias("stat_chars"),
        n_tok.alias("stat_tokens"),
        n_distinct.alias("stat_distinct_tokens"),
        (n_distinct / n_tok).alias("stat_ttr"),
        ((F.length(t) - n_tok + 1) / n_tok).alias("stat_mean_token_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: length saturation x lexical
    diversity — the engine's stand-in for a learned quality classifier.
    Deterministic integer/ratio arithmetic only (SQL-mirrorable)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    length_sat = F.least(n_tok / F.lit(50), F.lit(1.0))
    diversity = n_distinct / n_tok
    return df.select(
        "*",
        length_sat.alias("q_length"),
        diversity.alias("q_diversity"),
        (length_sat * diversity).alias("q_score"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rule-based language ID: count marker-word hits per language over
    the token array (JVM `array_intersect`-free form: filter+size so
    duplicate markers count once each), argmax with a fixed tie order.
    Emits `lang_pred` and per-language scores."""
    toks_distinct = F.array_distinct(tokens(F.col(text_col)))
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.array_intersect(toks_distinct, marker_arr))
        score_cols.append(score.alias(f"score_{lang}"))
    scored = df.select("*", *score_cols)
    # argmax via greatest + chained when: first language (dict order) wins ties
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.withColumn("lang_pred", pred)


def fingerprint_md5(text: Column) -> Column:
    """Exact-content fingerprint: md5 hex of the raw text (the dedup key)."""
    return F.md5(text.cast("binary"))


def fingerprint_normalized(text: Column) -> Column:
    """Normalization-insensitive fingerprint: lowercase, collapse
    whitespace, strip punctuation, then md5 — catches trivially-edited
    duplicates that exact hashing misses."""
    norm = F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", "")
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    return F.md5(norm.cast("binary"))


def rolling_hash_fingerprint(df: DataFrame, text_col: str = "text", window: int = 8) -> DataFrame:
    """Winnowing-style robust fingerprint: polynomial rolling hash over
    token windows, keep the minimum hash (rows-only op — the rolling hash
    isn't SQL-portable). JVM-side via transform+hash: shingle windows →
    xxhash64 → array_min."""
    def min_hash(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(window - 1), F.lit(1)))
        windows = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, window)))
        return F.array_min(F.transform(windows, lambda w: F.xxhash64(w)))

    return df.withColumn("fingerprint", with_tokens(F.col(text_col), min_hash))


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document repetition profile — the standard crawl-quality filter
    (high repetition ⇒ boilerplate/spam; cf. the Gopher/MassiveText
    repetition rules): token count, distinct-token count, max single-token
    frequency, repetition ratio = 1 - distinct/total, and the most
    frequent token (ties broken by min token, deterministic).

    Shape: explode tokens → (doc, tok) count → per-doc aggregate. Two
    shuffles on doc-sized keys; at 100 TB the first groupBy carries one
    row per (doc, distinct-token) — bounded by corpus token count — with
    map-side combine; no all-pairs anything."""
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    cnt = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    stats = cnt.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("max_freq"),
        # min token among those at max frequency: deterministic mode()
        F.min_by(F.col("tok"), F.struct((-F.col("c")).alias("neg"), F.col("tok"))).alias(
            "top_token"
        ),
    )
    return stats.select(
        F.col(id_col),
        "n_tokens",
        "n_distinct",
        "max_freq",
        (F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens").cast("double")).alias(
            "repetition_ratio"
        ),
        "top_token",
    )


# PII patterns: plain character-class regexes only — identical semantics
# in Java regex (Spark) and RE2 (DuckDB); no lookaround, no backrefs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"[0-9]{3}-[0-9]{4}",
    "ssn_like": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def pii_scan(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document PII pattern counts + redaction-needed flag. Pure
    projection (regexp_count per pattern, whole-stage-codegen'd) — scans
    100 TB with zero shuffle; pair with a filter or a regexp_replace
    redaction pass downstream. Patterns are the simple-class subset that
    behaves identically across regex engines (PII_PATTERNS)."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    out = df.select(F.col(id_col), *counts)
    flag = None
    for name in PII_PATTERNS:
        c = F.col(f"n_{name}") > 0
        flag = c if flag is None else (flag | c)
    return out.withColumn("has_pii", flag)


def bigram_pmi(
    df: DataFrame, text_col: str = "text", min_count: int = 5
) -> DataFrame:
    """Collocation mining: pointwise mutual information over adjacent
    token bigrams, PMI(a,b) = ln(p(a,b) / (p(a)·p(b))) with p(a,b) from
    the bigram stream and p(a) from the unigram stream. High-PMI pairs
    are multiword units ("new york"); LOW-PMI frequent pairs are
    boilerplate glue — both ends of the ranking are curation signals
    (template detection, tokenizer merge candidates). `min_count` drops
    noise bigrams (PMI of a count-1 pair is meaningless and unbounded).

    Scale shape: two token-stream aggregates (bigram + unigram counts),
    two broadcast-able dictionary joins, one scalar totals row. The PMI
    arithmetic is done in doubles (exact for counts < 2^53) and the ln
    rounds to 6dp per the libm convention. Emits (w1, w2, n_pair, pmi)
    unranked — callers order/limit; the full set avoids rank-boundary
    nondeterminism in oracle comparison."""
    def bigrams(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + F.lit(1)).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    bg_arr = with_tokens(F.col(text_col), bigrams)
    bg = df.select(F.explode(bg_arr).alias("bg")).select("bg.w1", "bg.w2")
    uni = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    bcnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    totals = bcnt.agg(F.sum("n_pair").cast("double").alias("nb")).crossJoin(
        ucnt.agg(F.sum("n_w").cast("double").alias("nu"))
    )
    pmi = F.log(
        (F.col("n_pair") * F.col("nu") * F.col("nu"))
        / (F.col("nb") * F.col("na") * F.col("nbw"))
    )
    return (
        bcnt.filter(F.col("n_pair") >= min_count)
        .join(ucnt.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "na"), "w1")
        .join(ucnt.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "nbw"), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "n_pair", F.round(pmi, 6).alias("pmi"))
    )


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The redaction pass `pii_scan` flags for: rewrite `text_col` with
    each PII class replaced by its typed placeholder ([EMAIL]/[SSN]/
    [PHONE]). Replacement order is most-specific-first — SSN-like
    ddd-dd-dddd before phone-like ddd-dddd — because the phone pattern
    matches inside an SSN; email first since its local part can contain
    digits. Same zero-shuffle whole-stage-codegen projection as the scan;
    the same simple-class regexes keep Java/RE2 semantics identical, and
    both engines' regexp_replace is replace-ALL here (Spark by default,
    DuckDB via the 'g' flag in the oracle). All other columns pass
    through unchanged."""
    order = ["email", "ssn_like", "phone"]
    placeholder = {"email": "[EMAIL]", "ssn_like": "[SSN]", "phone": "[PHONE]"}
    out = F.col(text_col)
    for name in order:
        out = F.regexp_replace(out, PII_PATTERNS[name], placeholder[name])
    return df.withColumn(text_col, out)


def tfidf_vectors(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-(doc, term) TF-IDF: tf = in-doc term count, idf = ln(N/df) with
    df = #docs containing the term. Output (id, term, tf, df, tfidf).

    Scale shape: one explode projection, one (doc, term) partial-agg
    shuffle, one term-level df agg joined back — standard inverted-index
    construction, no all-pairs anything. N ships as a broadcast scalar
    (single-row cross join) rather than a driver collect, so the plan is
    one job. ln() is libm → callers round before oracle comparison."""
    toks = df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(dfreq, ["term"])
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("id").alias(id_col),
            "term",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )


def duplicate_span_coverage(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document fraction of n-gram shingles that also occur in at
    least one OTHER document — the substring-duplication signal behind
    suffix-array dedup (Lee et al., 'Deduplicating Training Data Makes
    Language Models Better'): a doc with high coverage is mostly made of
    text seen elsewhere even when no single pair clears a Jaccard bar.

    Scale shape: explode distinct shingles, term-level df agg, join back,
    one per-doc agg — same inverted-index cost as TF-IDF, never pairwise.
    Short docs (< n tokens, zero shingles) are dropped, matching the
    shingling convention in dedup.py."""
    from .dedup import shingles

    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), n)).alias("s")
    )
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, ["s"])
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_duplicated"),
            (
                F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("dup_coverage"),
        )
        .select(F.col("id").alias(id_col), "n_shingles", "n_duplicated", "dup_coverage")
    )


def unigram_logprob_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's own
    empirical unigram distribution — the zero-dependency stand-in for
    KenLM perplexity filtering (CCNet-style): docs of globally-rare
    tokens score low (gibberish/boilerplate outliers), docs of common
    words score high.

    Scale shape: token explode → corpus unigram counts (one agg) →
    join back (token side is a term dictionary — broadcastable) → per-doc
    mean. ln() is libm → round before oracle comparison."""
    toks = df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("term_n"))
    total = toks.agg(F.count(F.lit(1)).alias("total_n"))
    return (
        toks.join(F.broadcast(counts), ["term"])
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log(F.col("term_n") / F.col("total_n"))).alias("mean_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "mean_logprob")
    )


def bigram_logprob_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", round_dp: int = 6
) -> DataFrame:
    """Mean BIGRAM conditional log-probability per document under a
    Laplace-smoothed corpus bigram LM: p(w2|w1) = (c(w1,w2) + 1) /
    (c(w1,·) + V) — the contextual upgrade of unigram_logprob_score and
    the closest zero-dependency analogue of KenLM perplexity filtering
    (CCNet): word-salad documents whose ADJACENT tokens never co-occur
    in the corpus score low even when every individual token is common,
    which the unigram score cannot see. Emits (id, n_bigrams,
    avg_logprob); docs with fewer than 2 tokens have no bigrams and are
    excluded (no conditional to evaluate).

    Scale shape: one ordered-bigram explode (JVM transform over the
    split array, no Python), corpus bigram + history counts (two aggs
    over the bigram table), a (w1, w2)-keyed join back — a deliberate
    vocabulary-keyed shuffle join, since at 100 TB the bigram dictionary
    is not broadcastable (the q_source_kl convention) — and a per-doc
    mean. All count inputs are exact integers; ln() is libm (<= 1 ulp
    across engines) absorbed by rounding the per-doc mean to
    `round_dp`."""
    ws = df.select(F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("ws"))
    idx = F.sequence(F.lit(1), F.size("ws") - 1)
    big = (
        ws.filter(F.size("ws") >= 2)
        .select(
            "id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("w1"),
                        F.element_at("ws", i + F.lit(1)).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uc = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("t"))
        .agg(F.count_distinct("t").cast("double").alias("v"))
    )
    logp = F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
    return (
        big.join(bc, ["w1", "w2"])
        .join(uc, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(logp), round_dp).alias("avg_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "avg_logprob")
    )


def dsir_logratio(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", hashed-feature form
    specialized to unigrams): score every raw-corpus document by
    sum over its tokens of ln p_target(tok) - ln p_raw(tok), where both
    unigram LMs are add-1 smoothed over the SHARED vocabulary. Positive
    scores read "more target-like than raw-like" — the standard way to
    skim a web crawl for docs resembling a small trusted corpus
    (books, wiki) before pretraining.

    Scale shape: two token-count aggregates (raw + target), a full-outer
    vocab merge, one scalar aggregate (totals + vocab size), then the raw
    token stream joins the per-term log-ratio dictionary and sums per
    doc. The dictionary is |vocab| rows — broadcast here; at true 100 TB
    vocab sizes Spark's AQE picks a shuffle join when it outgrows the
    broadcast threshold (the join is written hint-free for that reason).
    ln() is libm: per-term ratios round to 12dp (absorbs cross-engine
    ulps ~1e-16) and the per-doc sum rounds to 4dp, per the registry
    float-aggregate convention.

    Returns (id_col, n_tokens, dsir_score) for every raw document."""
    toks_raw = raw.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    toks_tgt = target.select(F.explode(tokens(F.col(text_col))).alias("term"))
    rcnt = toks_raw.groupBy("term").agg(F.count(F.lit(1)).alias("rn"))
    tcnt = toks_tgt.groupBy("term").agg(F.count(F.lit(1)).alias("tn"))
    lm = (
        rcnt.join(tcnt, "term", "full_outer")
        .select(
            "term",
            F.coalesce(F.col("rn"), F.lit(0)).alias("rn"),
            F.coalesce(F.col("tn"), F.lit(0)).alias("tn"),
        )
    )
    consts = lm.agg(
        F.sum("rn").cast("double").alias("nr"),
        F.sum("tn").cast("double").alias("nt"),
        F.count(F.lit(1)).cast("double").alias("vsz"),
    )
    ratios = lm.crossJoin(F.broadcast(consts)).select(
        "term",
        F.round(
            F.log((F.col("tn") + F.lit(1.0)) / (F.col("nt") + F.col("vsz")))
            - F.log((F.col("rn") + F.lit(1.0)) / (F.col("nr") + F.col("vsz"))),
            12,
        ).alias("lr"),
    )
    return (
        toks_raw.join(ratios, "term")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr"), 4).alias("dsir_score"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "dsir_score")
    )


def ngram_novelty(
    new: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document novelty vs an existing corpus: the fraction of a new
    doc's distinct n-grams that appear in NO reference document —
    novelty 1.0 = entirely fresh content, 0.0 = fully covered. The
    admission signal incremental crawl curation runs alongside near-dup
    flags: near-dup catches whole-document copies, novelty quantifies
    partial coverage ("this page is 85% already-crawled boilerplate").

    Scale shape: identical to decontamination — the reference's DISTINCT
    shingle set is the only thing joined against (broadcast-able after
    dedup; at larger-than-broadcast sizes it is the persistable index the
    cross-corpus dedup tier already maintains), new docs contribute one
    explode + one per-doc agg. Docs with < n tokens have no shingles and
    are emitted with NULL novelty (undefined, not zero). The ratio is
    exact rational arithmetic — oracle-safe unrounded."""
    from .dedup import shingles

    sh = new.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    )
    e = sh.select("id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s"))
    ref_sh = (
        ref.select(F.explode(shingles(F.col(text_col), n)).alias("s")).distinct()
    )
    hits = (
        e.join(F.broadcast(ref_sh.withColumn("__hit", F.lit(1))), ["s"], "left")
        .groupBy("id")
        .agg(
            F.first("n_sh").alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_covered"),
        )
    )
    out = hits.select(
        F.col("id").alias(id_col),
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        (F.lit(1.0) - F.col("n_covered") / F.col("n_shingles")).alias("novelty"),
    )
    empties = sh.filter(F.size("sh") == 0).select(
        F.col("id").alias(id_col),
        F.lit(0).cast("bigint").alias("n_shingles"),
        F.lit(None).cast("double").alias("novelty"),
    )
    return out.unionByName(empties)


def top_ngrams_per_group(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    n: int = 2,
    k: int = 5,
) -> DataFrame:
    """Top-k word n-grams per group by DOCUMENT frequency (shingles are
    per-doc distinct, so each doc votes once) — per-language corpus
    fingerprints, the quick diagnostic for template/boilerplate
    contamination. Rank ties break lexicographically so the row set is
    deterministic. One explode + one (group, ngram) agg + one per-group
    window top-k; the window input is |distinct ngrams| rows, not tokens."""
    from pyspark.sql import Window

    from .dedup import shingles

    grams = df.select(
        F.col(group_col).alias("grp"), F.explode(shingles(F.col(text_col), n)).alias("ngram")
    )
    counts = grams.groupBy("grp", "ngram").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("grp").orderBy(F.col("n_docs").desc(), F.col("ngram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "ngram", "n_docs", "rank")
    )


def pack_token_shards(
    docs: DataFrame,
    group_col: str,
    id_col: str,
    token_col,
    budget: int,
) -> DataFrame:
    """Assign documents to training shards under a per-shard token
    budget: within each group (e.g. source), documents pack contiguously
    in id order — shard_id = floor(exclusive-prefix-sum / budget). The
    contiguous greedy is the standard pretraining-shard packing (true
    bin packing is NP-hard and order-destroying); a document larger than
    the budget gets its own shard(s) boundary like any other row.

    Scale shape: one shuffle on the group key, one window cumsum —
    groups pack independently and in parallel, so no global ordering
    bottleneck; shard ids are deterministic for a fixed (group, id)
    order. Output adds n_tokens, shard_id."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = F.sum(token_col).over(w)
    return docs.withColumn("n_tokens", token_col).withColumn(
        "shard_id",
        F.floor((running - F.col("n_tokens")) / F.lit(budget)).cast("bigint"),
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    embedding/RAG preprocessing step. Chunk i covers tokens
    [i*stride, i*stride + chunk_tokens) with stride = chunk_tokens -
    overlap; the last chunk is the remainder (possibly short); documents
    shorter than one chunk yield exactly one chunk. Pure JVM expressions
    (split/sequence/posexplode/slice/array_join) — one narrow explode,
    no shuffle, no Python; output grows by ~1/(1-overlap/chunk_tokens)x,
    not quadratically."""
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_tokens ({chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(toks)
    # number of chunks: 1 + ceil(max(0, n_tok - chunk) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n_tok - F.lit(chunk_tokens), F.lit(0)) / F.lit(stride)
    ).cast("int")
    chunked = docs.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias(
            "chunk_id", "__i"
        ),
    )
    start = F.col("__i") * F.lit(stride)
    return chunked.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.array_join(
            F.slice(F.col("__toks"), start + F.lit(1), F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
        F.least(
            F.size("__toks") - start, F.lit(chunk_tokens)
        ).cast("bigint").alias("chunk_len"),
    )


def benchmark_ngram_overlap(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per document, how many of its word
    n-gram shingles appear anywhere in a benchmark corpus — the standard
    n-gram-overlap test (GPT-3 appendix C / PaLM-style 'remove training
    docs sharing an n-gram with an eval set'). Output: (id, n_hits,
    contaminated) for EVERY input doc, zero-hit docs included.

    Scale shape: the benchmark side is small (eval suites are MBs even
    when the corpus is 100 TB) — its distinct shingle set BROADCASTs, so
    the corpus side is a scan + explode + broadcast-hash semi-match with
    NO shuffle of corpus data; the only shuffle is the per-doc count agg,
    keyed by doc id (pre-aggregated map-side). Never materializes the
    corpus shingle inventory."""
    from .dedup import shingles
    from .sampling import ensure_min_partitions

    bench_sh = bench.select(
        F.explode(shingles(F.col(text_col), n)).alias("s")
    ).distinct()
    # the explode multiplies rows ~|tokens|×; spread the corpus across
    # cores BEFORE it so the shingle/match/partial-agg work parallelizes
    # even when the scan is a single small file (a 100 TB corpus already
    # arrives in thousands of splits — ensure_min_partitions is a no-op)
    cores = docs.sparkSession.sparkContext.defaultParallelism
    doc_sh = ensure_min_partitions(docs, cores).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("s")
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "s")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def bm25_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-(doc, term) Okapi BM25 — the sparse-retrieval scoring layer on
    top of the TF-IDF inverted index: idf = ln(1 + (N-df+0.5)/(df+0.5)),
    tf saturation k1, doc-length normalization b against the corpus mean
    length. Output (id, term, tf, df, dl, bm25).

    Scale shape: identical to tfidf_vectors (explode → (doc,term) agg →
    df agg joined back) plus one broadcast scalar (N, avgdl in a single
    1-row aggregate — avg of integer token counts is exact in both
    engines, so it is oracle-safe unrounded). ln() is libm → callers
    round bm25 before oracle comparison."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    consts = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(dl, "id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(consts))
        .select(
            F.col("id").alias(id_col),
            "term",
            "tf",
            "df",
            "dl",
            (idf * tf_part).alias("bm25"),
        )
    )


def _positional_spans(text: Column, n: int) -> Column:
    """array<struct<i, s>>: every token n-gram `s` of `text` with its
    1-based start `i`, duplicates kept; empty below n tokens. The span
    producer of remove_duplicate_spans and remove_contaminated_spans."""

    def spans(toks: Column) -> Column:
        L = F.size(toks)
        return F.when(
            L >= n,
            F.transform(
                F.sequence(F.lit(1), L - F.lit(n - 1)),
                lambda i: F.struct(
                    i.alias("i"), F.concat_ws(" ", F.slice(toks, i, n)).alias("s")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<i:int,s:string>>"))

    return with_tokens(text, spans)


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Substring-level dedup REWRITE (the transform behind Lee et al.,
    'Deduplicating Training Data Makes Language Models Better'): remove
    every token covered by an n-gram span that also occurs in another
    document, KEEPING one canonical copy — the occurrence in the
    smallest doc_id containing that span survives. Output: (id,
    text_clean, n_removed) for every input doc.

    Positional (not distinct) shingles: token j of doc d is removed iff
    some span starting in [j-n+1, j] has cross-doc frequency > 1 and d
    is not that span's canonical (min) doc. Deterministic, so fully
    oracle-checkable.

    Scale shape: one inverted-index shuffle over positional spans
    (groupBy span → distinct-doc count + min doc, the same cost class
    as TF-IDF), one join back, a bounded explode (n positions per dup
    span start), and a per-row array rebuild (filter-by-index, JVM
    higher-order functions — no Python, no window). The rewrite never
    compares document pairs."""
    toks = tokens(F.col(text_col))
    spans = _positional_spans(F.col(text_col), n)
    from .sampling import ensure_min_partitions

    # parallelism floor before the span-building explode (single small
    # file = one scan task; a real corpus arrives in many splits → no-op)
    src = ensure_min_partitions(
        df, df.sparkSession.sparkContext.defaultParallelism
    )
    pos = src.select(
        F.col(id_col).alias("doc"), F.explode(spans).alias("sp")
    ).select("doc", F.col("sp.i").alias("i"), F.col("sp.s").alias("s"))
    # A span occurrence is removed iff its doc is not the span's canonical
    # (minimum) doc — which already implies the span occurs in > 1 doc:
    # span_df > 1 AND doc != mindoc  <=>  doc != min(doc) OVER (span)
    # (when span_df = 1 every occurrence IS the min doc). The window form
    # computes the explode ONCE and shuffles it ONCE, where the previous
    # groupBy(count_distinct) + join-back recomputed the corpus-sized
    # positional explode for each consumer and shuffled it twice (guide
    # §2.4 — the before/after plans drop 2 Exchange + 1 Generate).
    # SKEW ASSUMPTION (VERDICT r11 item 9): unlike the groupBy form, a
    # window gets no map-side partial aggregation, so ALL occurrences of
    # one span key land in one partition. Span keys here are content
    # n-grams (hash-distributed by construction); a caller feeding
    # low-cardinality spans (a handful of boilerplate strings dominating
    # the corpus) should prefer the groupBy+join form, which pre-reduces
    # each hot key map-side.
    from pyspark.sql import Window

    starts = (
        pos.withColumn("mindoc", F.min("doc").over(Window.partitionBy("s")))
        .filter(F.col("mindoc") != F.col("doc"))
        .select("doc", "i")
    )
    covered = (
        starts.select(
            "doc", F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(n - 1))).alias("j")
        )
        .groupBy("doc")
        .agg(F.collect_set("j").alias("cov"))
    )
    out = df.join(covered, df[id_col] == covered["doc"], "left")
    cov = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(toks, lambda t, idx: ~F.array_contains(cov, idx + F.lit(1)))
    return out.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.size(cov).cast("bigint").alias("n_removed"),
    )


def quality_gate(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    min_tokens: int = 20, max_repetition: float = 0.4,
) -> DataFrame:
    """Gopher/MassiveText-style composite quality gate: one verdict per
    document with per-rule flags, so downstream can both FILTER (keep)
    and AUDIT (which rule fired, rule firing rates by source). Rules:
    too short, too repetitive (1 - distinct/total tokens), no English
    marker words, contains PII patterns. Pure projection — all four
    rules evaluate in one whole-stage-codegen pass over the text, zero
    shuffle at any scale."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    fail_short = n_tok < min_tokens
    fail_rep = (F.lit(1.0) - n_distinct / n_tok) > max_repetition
    fail_lang = F.size(F.array_intersect(F.array_distinct(toks), markers)) == 0
    pii = None
    for pat in PII_PATTERNS.values():
        hit = F.regexp_count(t, F.lit(pat)) > 0
        pii = hit if pii is None else (pii | hit)
    return df.select(
        F.col(id_col),
        fail_short.alias("fail_short"),
        fail_rep.alias("fail_repetitive"),
        fail_lang.alias("fail_nonenglish"),
        pii.alias("fail_pii"),
        (~(fail_short | fail_rep | fail_lang | pii)).alias("keep_doc"),
    )


def winnowing_fingerprints_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS algorithm) with an ENGINE-PORTABLE hash family: token k-grams
    hash to md5 hex strings, every window of `window` consecutive k-gram
    hashes keeps its MINIMUM (lexicographic string order), and the
    document's fingerprint set is the distinct selected minima. Guarantees
    any shared run of window+k-1 tokens contributes at least one common
    fingerprint — the substring-robust dedup/attribution primitive.

    Unlike the xxhash64 rolling_hash_fingerprint (rows-only), every step
    here replays in SQL: same k-gram strings, same md5, same window frame,
    same string min — so the op is oracle-certifiable bit-for-bit.

    Shape: one posexplode to (doc, pos, hash) rows, one window min over
    (doc, pos) — shuffle keyed on doc, frame scan is O(tokens) per doc.
    Returns exploded distinct (id, fp) rows.
    """
    from pyspark.sql import Window

    def kgram_md5s(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), n - F.lit(k - 1))
        return F.when(
            n >= k,
            F.transform(
                idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k)).cast("binary"))
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = with_tokens(F.col(text_col), kgram_md5s)
    pos_h = df.select(F.col(id_col), F.posexplode(grams).alias("pos", "h"))
    w_frame = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    )
    n_pos = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    selected = (
        pos_h.select(
            F.col(id_col),
            F.col("pos"),
            F.min("h").over(w_frame).alias("wmin"),
            n_pos.alias("n_pos"),
        )
        # classic winnowing slides over exactly n-w+1 full windows; short
        # docs (n_pos < window) keep the single clipped window at pos 0
        .filter(F.col("pos") <= F.greatest(F.col("n_pos") - F.lit(window), F.lit(0)))
    )
    return selected.select(F.col(id_col), F.col("wmin").alias("fp")).distinct()


def remove_contaminated_spans(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Span-level decontamination: strip from every corpus document the
    tokens covered by an n-gram that occurs ANYWHERE in the benchmark
    set, instead of dropping whole documents (the document-level
    q_decontaminate policy throws away an entire page for one quoted
    sentence; this keeps the clean remainder). Output: (id, text_clean,
    n_removed) for every corpus doc.

    Scale shape: the benchmark's distinct shingle set BROADCASTS (eval
    suites are tiny next to the corpus), so the corpus is scanned once —
    positional spans join the broadcast set, covered positions union per
    doc (bounded explode: n positions per hit), and the rebuild is a
    per-row JVM array filter. No corpus shuffle at all beyond the
    per-doc covered-set aggregation."""
    toks = tokens(F.col(text_col))
    spans = _positional_spans(F.col(text_col), n)
    from .dedup import shingles as _shingles
    from .sampling import ensure_min_partitions

    bench_spans = (
        bench.select(F.explode(_shingles(F.col(text_col), n)).alias("s")).distinct()
    )

    src = ensure_min_partitions(
        corpus, corpus.sparkSession.sparkContext.defaultParallelism
    )
    pos = src.select(
        F.col(id_col).alias("doc"), F.explode(spans).alias("sp")
    ).select("doc", F.col("sp.i").alias("i"), F.col("sp.s").alias("s"))
    starts = pos.join(F.broadcast(bench_spans), ["s"]).select("doc", "i")
    covered = (
        starts.select(
            "doc", F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(n - 1))).alias("j")
        )
        .groupBy("doc")
        .agg(F.collect_set("j").alias("cov"))
    )
    out = corpus.join(covered, corpus[id_col] == covered["doc"], "left")
    cov = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(toks, lambda t, idx: ~F.array_contains(cov, idx + F.lit(1)))
    return out.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.size(cov).cast("bigint").alias("n_removed"),
    )


def edit_distance_join_1(
    df: DataFrame, id_col: str, str_col: str
) -> DataFrame:
    """Fuzzy self-join at edit distance <= 1 for EQUAL-LENGTH strings
    (entity matching on code-like identifiers: typo'd SKUs, account
    names, near-identical titles). Pigeonhole blocking makes it exact
    AND scalable: same-length strings within distance 1 differ by at
    most one substitution, so they must agree EXACTLY on the left half
    or the right half — candidates come from two equi-joins on
    (half, length) keys (hash-shuffle blocking, the PartEnum scheme's
    d+1=2 case), never an all-pairs product; levenshtein verifies each
    candidate. Emits (id_a, id_b, dist) with id_a < id_b.

    Length-changing edits are excluded BY DEFINITION here (the
    equal-length precondition is what makes 2-segment pigeonhole
    complete); the general-d variant needs d+1 segments with positional
    tolerance."""
    half = F.floor(F.length(F.col(str_col)) / 2).cast("int")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(str_col).alias("s"),
        F.length(F.col(str_col)).alias("slen"),
        F.substring(F.col(str_col), 1, half).alias("h1"),
        F.col(str_col).substr(half + 1, F.length(F.col(str_col))).alias("h2"),
    )
    a, b = base.alias("a"), base.alias("b")

    def block(key):
        return (
            a.join(
                b,
                (F.col(f"a.{key}") == F.col(f"b.{key}"))
                & (F.col("a.slen") == F.col("b.slen"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.s").alias("s_a"),
                F.col("b.s").alias("s_b"),
            )
        )

    cand = block("h1").unionByName(block("h2")).distinct()
    return (
        cand.withColumn("dist", F.levenshtein("s_a", "s_b"))
        .filter(F.col("dist") <= 1)
        .select("id_a", "id_b", F.col("dist").cast("bigint").alias("dist"))
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_frac: float = 0.1,
    threshold: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs via the inverted index —
    the WEIGHTED near-dup/similarity join complementing the set-based
    n-gram Jaccard tier: common terms contribute by importance, not
    presence. Returns (doc_a, doc_b, cosine_sim >= threshold).

    Scale shape: per-(doc, term) weights (one shuffle), term-keyed
    self-join for the dots — bounded by Sigma df^2 over the KEPT vocab,
    so `max_doc_frac` (df <= frac * N, corpus-relative so the semantics
    survive scale-up) prunes the high-df terms that would otherwise
    blow the index quadratic (they carry near-zero idf anyway; the
    semantics are 'cosine over the df-pruned vocabulary', stop-word
    removal by df). Weights round to `round_dp` BEFORE any pair product
    (idf is libm ln), dots and norms round after their sums, so the
    whole pipeline is oracle-replayable. Docs whose every term was
    pruned (zero norm) are excluded."""
    n_docs = df.count()  # scalar for the df bound; bounded driver value
    w = (
        tfidf_vectors(df, id_col, text_col)
        .filter(F.col("df") <= max_doc_frac * n_docs)
        .select(
            F.col(id_col).alias("id"),
            "term",
            F.round("tfidf", round_dp).alias("w"),
        )
    )
    nrm = w.groupBy("id").agg(
        F.round(F.sqrt(F.sum(F.col("w") * F.col("w"))), round_dp).alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.round(F.sum(F.col("a.w") * F.col("b.w")), round_dp).alias("dot"))
    )
    na = nrm.select(F.col("id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), round_dp)
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select("doc_a", "doc_b", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )
