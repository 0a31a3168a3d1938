"""Invariant tests for the curation tier (queries_curation.py): hash
sampling, decontamination, BM25, histogram quantiles. Oracle parity is
covered by test_oracle_parity; these pin the properties oracles can't
express (determinism under repartitioning, nesting, error bounds,
planted-positive recall).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dais2021imageprocessingondeltalake_spark.catalog import load_table
from dais2021imageprocessingondeltalake_spark.operators import aggregates as AGG
from dais2021imageprocessingondeltalake_spark.operators import sampling as S
from dais2021imageprocessingondeltalake_spark.operators import text as TX

from .conftest import SF_DIR


def _ids(df):
    return {r.doc_id for r in df.select("doc_id").collect()}


class TestHashSample:
    def test_rate_nesting(self, spark):
        """Raising the rate only ADDS documents (threshold grows, the keep
        predicate is monotone in rate) — the property that lets a pipeline
        scale a sample up without resampling everything."""
        docs = load_table(spark, "documents", SF_DIR)
        s25 = _ids(S.hash_sample(docs, "doc_id", 0.25))
        s50 = _ids(S.hash_sample(docs, "doc_id", 0.50))
        assert s25 <= s50
        assert len(s25) < len(s50)

    def test_partitioning_invariant(self, spark):
        """Same keep set regardless of physical layout — the reason this
        exists instead of df.sample()."""
        docs = load_table(spark, "documents", SF_DIR)
        a = _ids(S.hash_sample(docs, "doc_id", 0.3))
        b = _ids(S.hash_sample(docs.repartition(13), "doc_id", 0.3))
        assert a == b

    def test_rate_roughly_holds(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        n = docs.count()
        kept = S.hash_sample(docs, "doc_id", 0.5).count()
        assert abs(kept / n - 0.5) < 0.15  # 500 docs, binomial noise

    def test_salt_gives_independent_sample(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        a = _ids(S.hash_sample(docs, "doc_id", 0.5))
        b = _ids(S.hash_sample(docs, "doc_id", 0.5, salt="replicate-2"))
        assert a != b

    def test_edge_rates(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        assert S.hash_sample(docs, "doc_id", 0.0).count() == 0
        assert S.hash_sample(docs, "doc_id", 1.0).count() == docs.count()

    def test_stratified_full_stratum_kept(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        out = S.hash_sample_stratified(
            docs, "doc_id", "source", {"src0": 1.0, "src1": 0.3}, default_rate=0.0
        )
        n_src0 = docs.filter(F.col("source") == "src0").count()
        got = out.groupBy("source").count().collect()
        by_src = {r.source: r["count"] for r in got}
        assert by_src.get("src0") == n_src0  # rate 1.0 → whole stratum
        assert 0 < by_src.get("src1", 0) < docs.filter(F.col("source") == "src1").count()
        assert set(by_src) == {"src0", "src1"}  # default 0.0 drops the rest


class TestDecontaminate:
    def test_planted_contamination(self, spark):
        """A corpus doc embedding a verbatim benchmark sentence is
        flagged; an unrelated doc is not."""
        bench = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            ["doc_id", "text"],
        )
        corpus = spark.createDataFrame(
            [
                (10, "intro text then the quick brown fox jumps over the lazy dog and more"),
                (11, "completely unrelated words about distributed query engines here"),
                (12, "short doc"),  # < n tokens → zero shingles → clean
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in TX.benchmark_ngram_overlap(corpus, bench, n=5).collect()}
        assert out[10].contaminated and out[10].n_hits >= 4
        assert not out[11].contaminated and out[11].n_hits == 0
        assert not out[12].contaminated
        assert set(out) == {10, 11, 12}  # every corpus doc present

    def test_zero_hit_docs_survive_with_zero(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        bench = docs.filter(F.col("doc_id") % 97 == 0)
        corpus = docs.filter(F.col("doc_id") % 97 != 0)
        out = TX.benchmark_ngram_overlap(corpus, bench, n=5)
        assert out.count() == corpus.count()


class TestBM25:
    def test_matches_hand_computation(self, spark):
        docs = spark.createDataFrame(
            [(1, "a a b"), (2, "a c"), (3, "d d d d")], ["doc_id", "text"]
        )
        rows = {
            (r.doc_id, r.term): r
            for r in TX.bm25_scores(docs, k1=1.2, b=0.75).collect()
        }
        # corpus: N=3, dl = {1:3, 2:2, 3:4}, avgdl = 3
        # term 'a': df=2 → idf = ln(1 + 1.5/2.5)
        r = rows[(1, "a")]
        assert (r.tf, r.df, r.dl) == (2, 2, 3)
        idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
        tf_part = (2 * 2.2) / (2 + 1.2 * (1 - 0.75 + 0.75 * 3 / 3))
        assert math.isclose(r.bm25, idf * tf_part, rel_tol=1e-12)
        # rarer term ('c', df=1) outranks common term at same tf/dl
        assert rows[(2, "c")].bm25 > rows[(2, "a")].bm25

    def test_doc_length_normalization(self, spark):
        """Same tf: the shorter doc scores higher (b>0 penalizes length)."""
        docs = spark.createDataFrame(
            [(1, "x y"), (2, "x y filler filler filler filler")],
            ["doc_id", "text"],
        )
        rows = {
            (r.doc_id, r.term): r.bm25 for r in TX.bm25_scores(docs).collect()
        }
        assert rows[(1, "x")] > rows[(2, "x")]


class TestHistogramQuantiles:
    def test_within_one_bin_of_exact(self, spark):
        """The estimate is the right edge of the bin holding the lower
        quantile order statistic q_p = min{v : F(v) >= p}, so it sits in
        [q_p, q_p + width]. (The bound targets the order statistic, not
        the INTERPOLATED percentile(), which can jump arbitrarily far
        between adjacent order stats at the quantile boundary.)"""
        from pyspark.sql import Window

        orders = load_table(spark, "orders", SF_DIR)
        lo, hi, nbins = 0.0, 512000.0, 64
        width = (hi - lo) / nbins
        est = {
            r.o_orderpriority: r
            for r in AGG.histogram_quantiles(
                orders, "o_orderpriority", "o_totalprice", lo, hi, nbins
            ).collect()
        }
        w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
        frac = F.row_number().over(w) / F.count(F.lit(1)).over(
            Window.partitionBy("o_orderpriority")
        )
        ranked = orders.select(
            "o_orderpriority", "o_totalprice", frac.alias("frac")
        )
        exact = {}
        for p, name in ((0.5, "e50"), (0.95, "e95")):
            for r in (
                ranked.filter(F.col("frac") >= p)
                .groupBy("o_orderpriority")
                .agg(F.min("o_totalprice").alias(name))
                .collect()
            ):
                exact.setdefault(r.o_orderpriority, {})[name] = r[name]
        for k, r in est.items():
            assert exact[k]["e50"] <= r.p50 <= exact[k]["e50"] + width
            assert exact[k]["e95"] <= r.p95 <= exact[k]["e95"] + width
            assert r.p50 <= r.p95

    def test_partitioning_invariant(self, spark):
        """The sketch is mergeable: the estimate can't depend on how rows
        were distributed across partial aggregates."""
        orders = load_table(spark, "orders", SF_DIR)
        a = AGG.histogram_quantiles(
            orders, "o_orderpriority", "o_totalprice", 0.0, 512000.0, 64
        ).collect()
        b = AGG.histogram_quantiles(
            orders.repartition(17), "o_orderpriority", "o_totalprice", 0.0, 512000.0, 64
        ).collect()
        key = lambda rows: sorted((r.o_orderpriority, r.p50, r.p95) for r in rows)
        assert key(a) == key(b)

    def test_out_of_range_values_clamp(self, spark):
        df = spark.createDataFrame(
            [("k", -5.0), ("k", 1.0), ("k", 2.0), ("k", 99.0)], ["g", "v"]
        )
        out = AGG.histogram_quantiles(df, "g", "v", 0.0, 10.0, 10, ps=(0.5,)).collect()
        # -5 clamps to bin 0, 99 to bin 9; p50 target=ceil(.5*4)=2 → bin 1
        assert out[0].p50 == 2.0


class TestCrossCorpusDedup:
    def test_planted_cross_duplicate(self, spark):
        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        ref = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            ["doc_id", "text"],
        )
        new = spark.createDataFrame(
            [
                (10, "alpha beta gamma delta epsilon zeta eta theta"),  # verbatim
                (11, "totally different content with no shared trigrams at all"),
                (12, "alpha beta gamma delta epsilon zeta eta iota"),  # near
            ],
            ["doc_id", "text"],
        )
        out = {
            r.doc_id: r.is_dup
            for r in D.cross_corpus_near_dup_flags(
                new, ref, "doc_id", n=3, threshold=0.5
            ).collect()
        }
        assert out[10] is True
        assert out[11] is False
        assert out[12] is True  # 5 of 6 shingles shared → J = 5/7 >= 0.5
        assert set(out) == {10, 11, 12}

    def test_new_side_broadcasts(self, spark):
        """The candidate join must be a broadcast join with the NEW batch
        as the build side — the corpus never shuffles for candidates."""
        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        docs = load_table(spark, "documents", SF_DIR)
        new = docs.filter(F.col("doc_id") % 3 == 0)
        ref = docs.filter(F.col("doc_id") % 3 != 0)
        out = D.cross_corpus_near_dup_flags(new, ref, "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_ref_side_never_flagged_and_count_preserved(self, spark):
        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        docs = load_table(spark, "documents", SF_DIR)
        new = docs.filter(F.col("doc_id") % 3 == 0)
        ref = docs.filter(F.col("doc_id") % 3 != 0)
        out = D.cross_corpus_near_dup_flags(new, ref, "doc_id")
        assert out.count() == new.count()  # one verdict per new doc

    def test_precomputed_ref_tables_flag_identical(self, spark):
        """The production path (persisted shingle_table + shingle_doc_freq
        handed in, ref corpus never re-shingled) must produce the same
        flags as the self-computing path."""
        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        docs = load_table(spark, "documents", SF_DIR)
        new = docs.filter(F.col("doc_id") % 3 == 0)
        ref = docs.filter(F.col("doc_id") % 3 != 0)
        baseline = {
            r.doc_id: r.is_dup
            for r in D.cross_corpus_near_dup_flags(new, ref, "doc_id").collect()
        }
        sh_ref = D.shingle_table(ref, "doc_id").localCheckpoint()
        dfreq = D.shingle_doc_freq(sh_ref).localCheckpoint()
        precomp = {
            r.doc_id: r.is_dup
            for r in D.cross_corpus_near_dup_flags(
                new, None, "doc_id", ref_shingles=sh_ref, ref_dfreq=dfreq
            ).collect()
        }
        assert precomp == baseline
        assert any(baseline.values())  # non-vacuous: some dup exists

    def test_requires_ref_source(self, spark):
        import pytest

        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        docs = load_table(spark, "documents", SF_DIR)
        with pytest.raises(ValueError, match="ref_df or a precomputed"):
            D.cross_corpus_near_dup_flags(docs, None, "doc_id")


class TestMaterializeModes:
    """The dedup hot paths accept a materialization strategy; every mode
    must be output-identical (the knob trades speed vs fault tolerance,
    never semantics). VERDICT r2 item 4."""

    def _pairs(self, spark, mode):
        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        docs = load_table(spark, "documents", SF_DIR)
        out = D.ngram_jaccard_pairs_prefix(docs, "doc_id", threshold=0.5, materialize=mode)
        return {(r.doc_a, r.doc_b) for r in out.collect()}

    def test_prefix_modes_identical(self, spark):
        base = self._pairs(spark, "localCheckpoint")
        assert self._pairs(spark, "persist") == base
        assert self._pairs(spark, None) == base

    def test_connected_components_persist_mode(self, spark):
        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
            ["doc_a", "doc_b"],
        )
        base = {
            (r.id, r.cluster_root)
            for r in D.connected_components(edges).collect()
        }
        got = {
            (r.id, r.cluster_root)
            for r in D.connected_components(edges, materialize="persist").collect()
        }
        assert got == base

    def test_checkpoint_mode_requires_dir(self, spark):
        # runs BEFORE test_connected_components_checkpoint_mode sets the
        # session's checkpoint dir (pytest preserves definition order)
        import pytest

        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        if spark.sparkContext.getCheckpointDir() is not None:
            pytest.skip("checkpoint dir already set in this session")
        docs = load_table(spark, "documents", SF_DIR).limit(20)
        with pytest.raises(ValueError, match="setCheckpointDir"):
            D.ngram_jaccard_pairs_prefix(docs, "doc_id", materialize="checkpoint")

    def test_connected_components_checkpoint_mode(self, spark, tmp_path):
        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["doc_a", "doc_b"])
        got = {
            (r.id, r.cluster_root)
            for r in D.connected_components(edges, materialize="checkpoint").collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}

    def test_unknown_mode_rejected(self, spark):
        import pytest

        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        docs = load_table(spark, "documents", SF_DIR).limit(5)
        with pytest.raises(ValueError, match="materialize"):
            D.ngram_jaccard_pairs_prefix(docs, "doc_id", materialize="mmap")


class TestRemoveDuplicateSpans:
    def test_canonical_copy_survives(self, spark):
        """The min-doc occurrence of a duplicated span is kept verbatim;
        every other doc loses exactly the covered tokens."""
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma unique one"),
                (2, "intro alpha beta gamma outro"),
                (3, "fresh content nothing shared here"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in TX.remove_duplicate_spans(docs, n=3).collect()}
        # doc 1 is canonical for 'alpha beta gamma' → untouched
        assert out[1].text_clean == "alpha beta gamma unique one"
        assert out[1].n_removed == 0
        # doc 2 loses the 3 covered tokens, keeps its frame
        assert out[2].text_clean == "intro outro"
        assert out[2].n_removed == 3
        assert out[3].text_clean == docs.filter(F.col("doc_id") == 3).first().text
        assert out[3].n_removed == 0

    def test_overlapping_spans_union_coverage(self, spark):
        """Two overlapping duplicated spans remove the UNION of their
        positions, not double-count."""
        docs = spark.createDataFrame(
            [
                (1, "a b c d"),          # canonical for both 'a b c' and 'b c d'
                (2, "x a b c d y"),      # both spans dup → tokens 2-5 removed
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in TX.remove_duplicate_spans(docs, n=3).collect()}
        assert out[2].text_clean == "x y"
        assert out[2].n_removed == 4

    def test_short_docs_untouched(self, spark):
        docs = spark.createDataFrame(
            [(1, "one two"), (2, "one two")], ["doc_id", "text"]
        )
        out = {r.doc_id: r for r in TX.remove_duplicate_spans(docs, n=3).collect()}
        assert out[1].n_removed == 0 and out[2].n_removed == 0

    def test_every_doc_present(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        assert TX.remove_duplicate_spans(docs, n=3).count() == docs.count()


class TestFixedKSample:
    def test_exactly_k_per_stratum_and_deterministic(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        out = S.hash_sample_fixed_k(docs, "doc_id", "source", k=5)
        sizes = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
        per_stratum = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
        for src, n in per_stratum.items():
            assert sizes[src] == min(5, n)
        again = S.hash_sample_fixed_k(docs.repartition(11), "doc_id", "source", k=5)
        assert _ids(out) == _ids(again)

    def test_plan_uses_window_group_limit(self, spark):
        """rn <= k must push into the sort (per-partition top-k heaps,
        not full per-stratum sorts) — the property that keeps the
        fixed-k sample cheap at 100 TB."""
        docs = load_table(spark, "documents", SF_DIR)
        out = S.hash_sample_fixed_k(docs, "doc_id", "source", k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan


class TestLabelCentroids:
    def test_hand_computed(self, spark):
        from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM

        df = spark.createDataFrame(
            [
                (1, [1.0, 2.0], 0),
                (2, [3.0, 4.0], 0),
                (3, [10.0, 20.0], 1),
            ],
            ["vec_id", "embedding", "label"],
        )
        out = {
            (r.label, r.dim): r for r in SIM.label_centroids(df).collect()
        }
        assert out[(0, 1)].centroid == 2.0 and out[(0, 2)].centroid == 3.0
        assert out[(0, 1)].n_vecs == 2
        assert out[(1, 1)].centroid == 10.0 and out[(1, 2)].n_vecs == 1

    def test_every_label_and_dim_present(self, spark):
        from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM

        emb = load_table(spark, "embeddings", SF_DIR)
        dim = len(emb.first().embedding)
        n_labels = emb.select("label").distinct().count()
        assert SIM.label_centroids(emb).count() == n_labels * dim


class TestKMeansAssign:
    def test_hand_computed_assignment(self, spark):
        from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM

        df = spark.createDataFrame(
            [
                (1, [1.0, 0.0], 0),
                (2, [0.9, 0.1], 0),
                (3, [0.0, 1.0], 1),
                (4, [0.1, 0.9], 1),
            ],
            ["vec_id", "embedding", "label"],
        )
        cents = SIM.label_centroids(df)
        out = {r.vec_id: r.assigned_label
               for r in SIM.assign_to_centroids(df, cents).collect()}
        assert out == {1: 0, 2: 0, 3: 1, 4: 1}

    def test_assignment_beats_chance(self, spark):
        """One E-step against the label centroids must re-assign vectors
        to their own label far above the 1/n_labels chance rate (the
        synthetic corpus's label clusters are noisy — ~37% observed vs
        10% chance at 10 labels — so the bar is 2x chance, not purity)."""
        from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM

        emb = load_table(spark, "embeddings", SF_DIR)
        n_labels = emb.select("label").distinct().count()
        cents = SIM.label_centroids(emb)
        joined = SIM.assign_to_centroids(emb, cents).join(
            emb.select("vec_id", "label"), "vec_id"
        )
        n = joined.count()
        agree = joined.filter(F.col("assigned_label") == F.col("label")).count()
        assert agree / n > 2.0 / n_labels, f"only {agree}/{n} self-assigned"
        assert n == emb.count()  # exactly one assignment per vector


class TestPlanShapes:
    """Plan pins for the curation tier: the scale-critical physical
    choices must survive refactors."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_decontaminate_broadcasts_benchmark(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        bench = docs.filter(F.col("doc_id") % 97 == 0)
        corpus = docs.filter(F.col("doc_id") % 97 != 0)
        plan = self._plan(TX.benchmark_ngram_overlap(corpus, bench, n=5))
        assert "BroadcastHashJoin" in plan  # corpus never shuffles to match

    def test_corpus_mix_total_broadcasts(self, spark):
        from dais2021imageprocessingondeltalake_spark import queries_all as q

        plan = self._plan(q.REGISTRY["q_corpus_mix"].fn(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        # no unpartitioned window anywhere in the mix report
        assert "Window" not in plan

    def test_kmeans_assignment_is_shuffle_free_arrow_map(self, spark):
        """r6 E-step shape: the dimension-sized centroid matrix ships
        inside ONE Arrow UDF (a straight N-in/N-out map), replacing the
        r4 N x k broadcast crossJoin + re-aggregate — the assignment
        stage must contain NO join and NO exchange."""
        from dais2021imageprocessingondeltalake_spark import queries_all as q

        plan = self._plan(q.REGISTRY["q_kmeans_assign"].fn(spark, SF_DIR))
        assert "ArrowEvalPython" in plan or "EvalPython" in plan
        assert "Join" not in plan
        assert "Exchange" not in plan


class TestQualityGate:
    def test_planted_rule_hits(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over a lazy dog and then runs far away home tonight with friends of mine"),  # clean
                (2, "short text"),                                     # fail_short
                (3, "the " * 30 + "of a and"),                        # repetitive but english
                (4, "contact me at john.doe@example.com " + "the a and of word " * 5),  # pii
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in TX.quality_gate(docs).collect()}
        assert out[1].keep_doc and not any(
            [out[1].fail_short, out[1].fail_repetitive, out[1].fail_nonenglish, out[1].fail_pii]
        )
        assert out[2].fail_short and not out[2].keep_doc
        assert out[3].fail_repetitive and not out[3].keep_doc
        assert out[4].fail_pii and not out[4].keep_doc

    def test_keep_is_conjunction(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        out = TX.quality_gate(docs)
        bad = out.filter(
            out.keep_doc
            & (out.fail_short | out.fail_repetitive | out.fail_nonenglish | out.fail_pii)
        ).count()
        assert bad == 0


def test_curation_operators_tolerate_empty_input(spark):
    """Round-2 curation operators must return empty, correctly typed
    frames on empty input (first batch of a new pipeline is often
    empty) — exercises the checkpoint/broadcast/window machinery."""
    from pyspark.sql import types as T

    from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM
    from dais2021imageprocessingondeltalake_spark.operators.dedup import (
        cross_corpus_near_dup_flags,
    )

    empty_docs = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("source", T.StringType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    assert TX.benchmark_ngram_overlap(empty_docs, empty_docs).count() == 0
    assert TX.bm25_scores(empty_docs).count() == 0
    assert TX.remove_duplicate_spans(empty_docs).count() == 0
    assert TX.quality_gate(empty_docs).count() == 0
    assert S.hash_sample(empty_docs, "doc_id", 0.5).count() == 0
    assert S.hash_sample_fixed_k(empty_docs, "doc_id", "source", 5).count() == 0
    assert (
        cross_corpus_near_dup_flags(empty_docs, empty_docs, "doc_id").count() == 0
    )
    assert AGG.histogram_quantiles(
        empty_docs.withColumn("v", F.lit(1.0)), "source", "v", 0.0, 1.0, 4
    ).count() == 0

    empty_emb = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
            ]
        ),
    )
    cents = SIM.label_centroids(empty_emb)
    assert cents.count() == 0
    assert SIM.assign_to_centroids(empty_emb, cents).count() == 0


class TestKMeansFit:
    def test_objective_improves_and_output_shape(self, spark):
        from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM

        emb = load_table(spark, "embeddings", SF_DIR)
        a1, _ = SIM.kmeans_fit_distributed(emb, k=8, iters=1)
        a3, c3 = SIM.kmeans_fit_distributed(emb, k=8, iters=3)
        obj1 = a1.agg(F.sum("sim")).first()[0]
        obj3 = a3.agg(F.sum("sim")).first()[0]
        assert obj3 >= obj1  # Lloyd rounds only improve the objective
        assert a3.count() == emb.count()  # every vector assigned once
        assert a3.select("assigned_label").distinct().count() <= 8
        dim = len(emb.first().embedding)
        assert c3.count() <= 8 * dim  # k centroids in long form


class TestSemanticDedup:
    def test_planted_within_cluster_dup_flagged(self, spark):
        """Same-cluster near-identical pair: higher id flagged, min id
        survives. An identical pair SPLIT across clusters is not flagged —
        the pair join is cluster-bounded by design (SemDeDup semantics)."""
        from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM

        rows = [
            # cluster around +x
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.99, 0.01, 0.0, 0.0], 0),   # near-dup of 1 → flagged
            (3, [0.7, 0.7, 0.0, 0.0], 0),     # same cluster, not near-dup
            # cluster around +y
            (10, [0.0, 1.0, 0.0, 0.0], 1),
            (11, [0.0, 0.0, 1.0, 0.0], 1),    # orthogonal → not flagged
        ]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
        cents = SIM.label_centroids(emb)
        out = {
            r.vec_id: (r.sem_cluster, r.is_semdup)
            for r in SIM.semantic_dedup_flags(emb, cents, threshold=0.95).collect()
        }
        assert set(out) == {1, 2, 3, 10, 11}
        assert out[1][1] is False and out[2][1] is True  # min-id canonical
        assert out[3][1] is False
        assert out[10][1] is False and out[11][1] is False

    def test_all_rows_returned_once(self, spark):
        from dais2021imageprocessingondeltalake_spark.catalog import load_table
        from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM

        emb = load_table(spark, "embeddings", SF_DIR)
        cents = SIM.label_centroids(emb)
        out = SIM.semantic_dedup_flags(emb, cents, threshold=0.35)
        assert out.count() == emb.count()
        assert out.select("vec_id").distinct().count() == emb.count()
        assert out.filter("is_semdup").count() > 0  # non-vacuous at sf0.001


class TestSpanDecontamination:
    def test_planted_benchmark_quote_stripped(self, spark):
        """A doc quoting a benchmark sentence verbatim loses exactly the
        covered tokens; a clean doc passes through unmodified."""
        from dais2021imageprocessingondeltalake_spark.operators.text import (
            remove_contaminated_spans,
        )

        bench = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            ["doc_id", "text"],
        )
        corpus = spark.createDataFrame(
            [
                (10, "intro words the quick brown fox jumps over the lazy dog outro bits"),
                (11, "completely unrelated sentence with none of those words present"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in remove_contaminated_spans(corpus, bench, n=5).collect()}
        assert out[11].n_removed == 0
        assert out[11].text_clean == "completely unrelated sentence with none of those words present"
        # the 9 quoted tokens are all covered by shared 5-grams
        assert out[10].n_removed == 9
        assert "fox" not in out[10].text_clean
        assert out[10].text_clean.startswith("intro words")
        assert out[10].text_clean.endswith("outro bits")


class TestCrossCorpusMinhash:
    def test_precomputed_index_flag_identical(self, spark):
        """The persisted-index path (band table + shingle table handed in)
        must flag identically to the self-computing path."""
        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        docs = load_table(spark, "documents", SF_DIR)
        new = docs.filter(F.col("doc_id") % 3 == 0)
        ref = docs.filter(F.col("doc_id") % 3 != 0)
        base = {
            r.doc_id: r.is_dup
            for r in D.cross_corpus_minhash_flags(new, ref, "doc_id").collect()
        }
        bands = D.minhash_bands_md5(ref, "doc_id").localCheckpoint()
        sh = D.shingle_table(ref, "doc_id").localCheckpoint()
        pre = {
            r.doc_id: r.is_dup
            for r in D.cross_corpus_minhash_flags(
                new, None, "doc_id", ref_bands=bands, ref_shingles=sh
            ).collect()
        }
        assert pre == base
        assert any(base.values())

    def test_recall_vs_exact_prefix_path(self, spark):
        """LSH candidates verified exactly can only MISS pairs (recall);
        every flag it raises must also be raised by the exact path, and
        it must catch the clear majority."""
        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        docs = load_table(spark, "documents", SF_DIR)
        new = docs.filter(F.col("doc_id") % 3 == 0)
        ref = docs.filter(F.col("doc_id") % 3 != 0)
        exact = {
            r.doc_id
            for r in D.cross_corpus_near_dup_flags(new, ref, "doc_id").collect()
            if r.is_dup
        }
        lsh = {
            r.doc_id
            for r in D.cross_corpus_minhash_flags(new, ref, "doc_id").collect()
            if r.is_dup
        }
        assert lsh <= exact  # verification is exact → no false flags
        if exact:
            assert len(lsh) / len(exact) >= 0.5

    def test_requires_ref_source(self, spark):
        import pytest

        from dais2021imageprocessingondeltalake_spark.operators import dedup as D

        docs = load_table(spark, "documents", SF_DIR)
        with pytest.raises(ValueError, match="ref_df or precomputed"):
            D.cross_corpus_minhash_flags(docs, None, "doc_id")


class TestTemperatureRebalance:
    def test_rarest_stratum_kept_whole(self, spark):
        """(w_min/w_min)^(1-a) == 1.0 — the smallest language never loses
        a document (the policy is downsample-only by construction)."""
        docs = load_table(spark, "documents", SF_DIR).select("doc_id", "lang", "text")
        kept = S.temperature_rebalance(
            docs, "doc_id", "lang", TX.token_count(F.col("text")), alpha=0.3
        )
        w = (
            docs.groupBy("lang")
            .agg(F.sum(TX.token_count(F.col("text"))).alias("w"))
            .orderBy("w")
            .collect()
        )
        rarest = w[0]["lang"]
        assert kept.filter(F.col("lang") == rarest).count() == docs.filter(
            F.col("lang") == rarest
        ).count()

    def test_rates_monotone_in_weight(self, spark):
        """Heavier strata get lower keep-rates — the head is thinned
        toward the tail, never the reverse."""
        docs = load_table(spark, "documents", SF_DIR).select("doc_id", "lang", "text")
        kept = S.temperature_rebalance(
            docs, "doc_id", "lang", TX.token_count(F.col("text")), alpha=0.3
        )
        w = {
            r["lang"]: r["w"]
            for r in docs.groupBy("lang")
            .agg(F.sum(TX.token_count(F.col("text"))).alias("w"))
            .collect()
        }
        rates = {
            r["lang"]: r["keep_rate"]
            for r in kept.select("lang", "keep_rate").distinct().collect()
        }
        by_weight = sorted(rates, key=lambda lang: w[lang])
        for lighter, heavier in zip(by_weight, by_weight[1:]):
            assert rates[lighter] >= rates[heavier]

    def test_alpha_one_keeps_everything(self, spark):
        """alpha=1 is the identity policy: every rate is exactly 1.0."""
        docs = load_table(spark, "documents", SF_DIR).select("doc_id", "lang", "text")
        kept = S.temperature_rebalance(
            docs, "doc_id", "lang", TX.token_count(F.col("text")), alpha=1.0
        )
        assert kept.count() == docs.count()

    def test_partitioning_invariant(self, spark):
        docs = load_table(spark, "documents", SF_DIR).select("doc_id", "lang", "text")
        a = _ids(
            S.temperature_rebalance(
                docs, "doc_id", "lang", TX.token_count(F.col("text")), alpha=0.3
            )
        )
        b = _ids(
            S.temperature_rebalance(
                docs.repartition(13), "doc_id", "lang",
                TX.token_count(F.col("text")), alpha=0.3,
            )
        )
        assert a == b

    def test_alpha_validated(self, spark):
        import pytest

        docs = load_table(spark, "documents", SF_DIR)
        with pytest.raises(ValueError):
            S.temperature_rebalance(docs, "doc_id", "lang", F.lit(1), alpha=1.5)


class TestDsir:
    def test_planted_target_like_doc_scores_highest(self, spark):
        """A raw doc that is a verbatim sample of the target vocabulary
        must outscore raw docs sharing nothing with the target."""
        target = spark.createDataFrame(
            [(100 + i, "alpha beta gamma delta epsilon") for i in range(5)],
            ["doc_id", "text"],
        )
        raw = spark.createDataFrame(
            [
                (1, "alpha beta gamma alpha beta"),   # target-like
                (2, "zulu yankee xray whiskey victor"),  # target-unlike
                (3, "zulu alpha yankee beta xray"),   # mixed
            ],
            ["doc_id", "text"],
        )
        scores = {
            r["doc_id"]: r["dsir_score"]
            for r in TX.dsir_logratio(raw, target).collect()
        }
        assert scores[1] > scores[3] > scores[2]
        assert scores[1] > 0 and scores[2] < 0

    def test_smoothing_handles_oov(self, spark):
        """Tokens absent from the target LM must not produce nulls/-inf —
        add-1 smoothing covers the full shared vocabulary."""
        target = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
        raw = spark.createDataFrame([(2, "omega omega omega")], ["doc_id", "text"])
        rows = TX.dsir_logratio(raw, target).collect()
        assert len(rows) == 1
        assert rows[0]["dsir_score"] is not None
        assert math.isfinite(rows[0]["dsir_score"])


class TestRrfFuse:
    def test_hand_computed_fusion(self, spark):
        """Two 3-item lists with one shared item: shared doc's score is
        1/(60+r_a) + 1/(60+r_b); singletons get one term."""
        from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM

        a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["doc_id", "rank"])
        b = spark.createDataFrame([(2, 1), (4, 2)], ["doc_id", "rank"])
        out = {
            r["doc_id"]: r["rrf_score"]
            for r in SIM.rrf_fuse([a, b], id_col="doc_id").collect()
        }
        assert out[2] == round(1 / 62 + 1 / 61, 6)
        assert out[1] == round(1 / 61, 6)
        assert out[4] == round(1 / 62, 6)
        assert set(out) == {1, 2, 3, 4}

    def test_missing_rank_is_null_not_zero(self, spark):
        from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM

        a = spark.createDataFrame([(1, 1)], ["doc_id", "rank"])
        b = spark.createDataFrame([(2, 1)], ["doc_id", "rank"])
        rows = {r["doc_id"]: r for r in SIM.rrf_fuse([a, b]).collect()}
        assert rows[1]["rank_1"] is None and rows[1]["rank_0"] == 1
        assert rows[2]["rank_0"] is None and rows[2]["rank_1"] == 1

    def test_empty_rankings_rejected(self, spark):
        import pytest

        from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM

        with pytest.raises(ValueError):
            SIM.rrf_fuse([])

    def test_hybrid_contains_both_retrievers_heads(self, spark):
        """The fused top-10 must include the #1 item of each list (rank 1
        contributes the single largest possible RRF term)."""
        from dais2021imageprocessingondeltalake_spark.queries_curation import q_hybrid_search

        rows = q_hybrid_search(spark, SF_DIR).collect()
        assert len(rows) <= 10
        assert any(r["rank_bm25"] == 1 for r in rows)
        assert any(r["rank_dense"] == 1 for r in rows)


class TestTokenBudget:
    def _scored(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        return TX.quality_score(docs.select("doc_id", "text")).select(
            "doc_id",
            TX.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
            "q_score",
        )

    def test_matches_naive_global_cumsum(self, spark):
        """The bin-decomposed parallel form must equal the single-window
        greedy exactly, for several budgets including tiny ones."""
        from pyspark.sql import Window

        scored = self._scored(spark)
        w = Window.orderBy(F.col("q_score").desc(), F.col("doc_id")).rowsBetween(
            Window.unboundedPreceding, -1
        )
        for budget in (1, 137, 900):
            naive = {
                r["doc_id"]
                for r in scored.withColumn(
                    "prior", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
                )
                .filter(F.col("prior") < budget)
                .collect()
            }
            fast = {
                r["doc_id"]
                for r in S.select_token_budget(scored, budget=budget).collect()
            }
            assert fast == naive, f"budget={budget}"

    def test_budget_overrun_at_most_one_doc(self, spark):
        scored = self._scored(spark)
        budget = 500
        kept = S.select_token_budget(scored, budget=budget).collect()
        total = sum(r["n_tokens"] for r in kept)
        largest = max(r["n_tokens"] for r in kept)
        assert total >= min(budget, sum(r["n_tokens"] for r in scored.collect()))
        assert total < budget + largest

    def test_partitioning_invariant(self, spark):
        scored = self._scored(spark)
        a = {r["doc_id"] for r in S.select_token_budget(scored, 700).collect()}
        b = {
            r["doc_id"]
            for r in S.select_token_budget(scored.repartition(17), 700).collect()
        }
        assert a == b

    def test_budget_validated(self, spark):
        import pytest

        with pytest.raises(ValueError):
            S.select_token_budget(self._scored(spark), budget=0)


class TestNovelty:
    def test_planted_fresh_and_covered_docs(self, spark):
        ref = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
        )
        new = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),        # fully covered
                (2, "one two three four five"),        # fully novel
                (3, "alpha beta gamma nine ten"),      # mixed
                (4, "ab"),                             # < n tokens: undefined
            ],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r for r in TX.ngram_novelty(new, ref).collect()}
        assert rows[1]["novelty"] == 0.0
        assert rows[2]["novelty"] == 1.0
        assert 0.0 < rows[3]["novelty"] < 1.0
        assert rows[4]["novelty"] is None and rows[4]["n_shingles"] == 0

    def test_novelty_against_self_is_zero(self, spark):
        docs = load_table(spark, "documents", SF_DIR).limit(50)
        rows = TX.ngram_novelty(docs, docs).filter(F.col("n_shingles") > 0).collect()
        assert rows and all(r["novelty"] == 0.0 for r in rows)


class TestWeightedSample:
    def test_weight_proportional_inclusion(self, spark):
        """Over many derived samples (salts), a weight-4 item should be
        picked roughly 4x as often as a weight-1 item when k=1 of 2."""
        rows = [(1, 4.0), (2, 1.0)]
        df = spark.createDataFrame(rows, ["doc_id", "w"])
        wins = 0
        n = 40
        for i in range(n):
            got = S.weighted_sample_k(df, "doc_id", "w", k=1, salt=f"s{i}").collect()
            wins += got[0]["doc_id"] == 1
        # expectation 0.8; binomial(40, .8) leaves [24, 39] at ~4 sigma
        assert 24 <= wins <= 39, wins

    def test_exactly_k_and_deterministic(self, spark):
        docs = load_table(spark, "documents", SF_DIR)
        scored = TX.quality_score(docs.select("doc_id", "text")).select(
            "doc_id", "q_score"
        )
        a = [r["doc_id"] for r in S.weighted_sample_k(scored, "doc_id", "q_score", 20).collect()]
        b = [
            r["doc_id"]
            for r in S.weighted_sample_k(
                scored.repartition(9), "doc_id", "q_score", 20
            ).collect()
        ]
        assert len(a) == 20 and a == b

    def test_nonpositive_weights_excluded(self, spark):
        df = spark.createDataFrame([(1, 0.0), (2, -1.0), (3, 2.0)], ["doc_id", "w"])
        got = S.weighted_sample_k(df, "doc_id", "w", k=5).collect()
        assert [r["doc_id"] for r in got] == [3]

    def test_k_validated(self, spark):
        import pytest

        df = spark.createDataFrame([(1, 1.0)], ["doc_id", "w"])
        with pytest.raises(ValueError):
            S.weighted_sample_k(df, "doc_id", "w", k=0)


class TestBpe:
    def test_hand_computed_merges(self, spark):
        """Corpus 'low low low lower': chars pairs -> (l,o) and (o,w)
        both appear 4x; tie breaks lexicographically so (l,o) merges
        first, then (lo,w) at 4."""
        from dais2021imageprocessingondeltalake_spark.operators import bpe as B

        df = spark.createDataFrame(
            [(1, "low low low"), (2, "lower")], ["doc_id", "text"]
        )
        merges, words = B.bpe_train(df, num_merges=2)
        assert [(a, b) for a, b, _ in merges] == [("l", "o"), ("lo", "w")]
        pieces = {
            r["word"]: r["syms"] for r in words.select("word", "syms").collect()
        }
        assert pieces["low"] == ["low"]
        assert pieces["lower"] == ["low", "e", "r"]

    def test_greedy_leftmost_nonoverlapping(self, spark):
        """'aaa' under merge (a,a): leftmost pair merges, remainder
        stays — [aa, a], never [a, aa] or a double merge."""
        from dais2021imageprocessingondeltalake_spark.operators import bpe as B

        df = spark.createDataFrame([(1, "aaa")], ["doc_id", "text"])
        merges, words = B.bpe_train(df, num_merges=1)
        assert [(a, b) for a, b, _ in merges] == [("a", "a")]
        assert words.collect()[0]["syms"] == ["aa", "a"]

    def test_encode_matches_training_segmentation(self, spark):
        """segment_with_merges on the training corpus reproduces the
        trainer's final symbol tables."""
        from dais2021imageprocessingondeltalake_spark.operators import bpe as B

        df = spark.createDataFrame([(1, "banana bandana")], ["doc_id", "text"])
        merges, words = B.bpe_train(df, num_merges=3)
        enc = {r["word"]: r["pieces"] for r in B.segment_with_merges(df, merges).collect()}
        trained = {r["word"]: r["syms"] for r in words.collect()}
        assert enc == trained

    def test_exhausted_corpus_stops_early(self, spark):
        from dais2021imageprocessingondeltalake_spark.operators import bpe as B

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        merges, _ = B.bpe_train(df, num_merges=5)  # single-char words: no pairs
        assert merges == []

    def test_batched_matches_batch1_on_disjoint_corpus(self, spark):
        """When the top pairs are symbol-disjoint, batched BPE must pick
        exactly the merges batch=1 picks (counts valid all round)."""
        from dais2021imageprocessingondeltalake_spark.operators import bpe as B

        df = spark.createDataFrame(
            [(1, "ab ab ab cd cd cd ef ef")], ["doc_id", "text"]
        )
        seq, _ = B.bpe_train(df, num_merges=3, batch=1)
        bat, _ = B.bpe_train(df, num_merges=3, batch=3)
        assert [(a, b) for a, b, _ in seq] == [(a, b) for a, b, _ in bat]

    def test_batched_skips_overlapping_candidates(self, spark):
        """Overlapping pairs defer to the next round: with corpus where
        (l,o) and (o,w) both rank top, one round at batch=2 must accept
        only (l,o) (shares 'o') plus the next disjoint pair."""
        from dais2021imageprocessingondeltalake_spark.operators import bpe as B

        df = spark.createDataFrame(
            [(1, "low low low"), (2, "lower")], ["doc_id", "text"]
        )
        bat, words = B.bpe_train(df, num_merges=2, batch=2)
        pairs = [(a, b) for a, b, _ in bat]
        assert pairs[0] == ("l", "o")
        assert ("o", "w") not in pairs[:1]  # deferred past round 1
        # and the final segmentation still reconstructs every word
        for r in words.collect():
            assert "".join(r["syms"]) == r["word"]

    def test_batched_token_conservation_and_job_reduction(self, spark):
        """Invariants for batched mode on a real corpus slice: every
        word's pieces concatenate back to the word (no symbol lost or
        duplicated by in-batch folds), merge list is duplicate-free, and
        the number of pair-count rounds drops ~batch-fold (the
        one-job-per-merge fix, VERDICT r3 item 7)."""
        from unittest import mock

        from dais2021imageprocessingondeltalake_spark.catalog import load_table
        from dais2021imageprocessingondeltalake_spark.operators import bpe as B

        docs = load_table(spark, "documents", SF_DIR).limit(100)
        real_pair_counts = B.pair_counts
        calls = {"n": 0}

        def counting(words):
            calls["n"] += 1
            return real_pair_counts(words)

        with mock.patch.object(B, "pair_counts", side_effect=counting):
            merges, words = B.bpe_train(docs, num_merges=32, batch=16)
        assert len(merges) == 32
        assert len({(a, b) for a, b, _ in merges}) == 32
        assert calls["n"] <= 4  # vs 32 rounds at batch=1: >= 8x fewer jobs
        for r in words.limit(50).collect():
            assert "".join(r["syms"]) == r["word"]


class TestCurateV2:
    def test_composite_invariants(self, spark):
        """Every kept doc passed the gate; total tokens respect the
        budget-overrun-by-one bound; report covers only surviving langs."""
        from dais2021imageprocessingondeltalake_spark.queries_curation import q_curate_v2

        rows = q_curate_v2(spark, SF_DIR).collect()
        assert rows
        total = sum(r["n_tokens"] for r in rows)
        # budget 5000, max doc ~50 tokens
        assert total < 5000 + 60

    def test_composite_deterministic(self, spark):
        from dais2021imageprocessingondeltalake_spark.queries_curation import q_curate_v2

        a = sorted((r["lang"], r["n_docs"], r["n_tokens"]) for r in q_curate_v2(spark, SF_DIR).collect())
        b = sorted((r["lang"], r["n_docs"], r["n_tokens"]) for r in q_curate_v2(spark, SF_DIR).collect())
        assert a == b


class TestEmptyInputsRound3:
    def test_new_ops_tolerate_empty_corpus(self, spark):
        """Every round-3 operator must yield an empty (or degenerate-
        but-valid) result on an empty corpus, never raise — the guard a
        scheduled pipeline needs when an ingest batch is empty."""
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        from dais2021imageprocessingondeltalake_spark.operators import bpe as B
        from dais2021imageprocessingondeltalake_spark.operators import dedup as D
        from dais2021imageprocessingondeltalake_spark.operators import graph as G
        from dais2021imageprocessingondeltalake_spark.operators import profile as P
        from dais2021imageprocessingondeltalake_spark.operators.temporal import (
            cohort_retention,
            funnel,
        )

        docs = spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("lang", StringType()),
                    StructField("text", StringType()),
                ]
            ),
        )
        assert (
            S.temperature_rebalance(
                docs, "doc_id", "lang", TX.token_count(F.col("text"))
            ).count()
            == 0
        )
        scored = spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("n_tokens", LongType()),
                    StructField("q_score", DoubleType()),
                ]
            ),
        )
        assert S.select_token_budget(scored, 100).count() == 0
        assert S.weighted_sample_k(
            scored.withColumnRenamed("q_score", "w"), "doc_id", "w", 5
        ).count() == 0
        assert TX.dsir_logratio(docs, docs).count() == 0
        assert TX.bigram_pmi(docs).count() == 0
        assert TX.ngram_novelty(docs, docs).count() == 0
        assert D.ngram_containment_pairs(docs, "doc_id").count() == 0
        assert D.minhash_lsh_pairs_oph(docs, "doc_id").count() == 0
        assert D.minhash_lsh_pairs(docs, "doc_id").count() == 0
        assert D.minhash_lsh_pairs_md5(docs, "doc_id").count() == 0
        assert D.simhash_near_pairs(docs, "doc_id").count() == 0
        assert D.simhash_md5(docs, "doc_id").count() == 0
        assert D.ngram_jaccard_pairs(docs, "doc_id").count() == 0
        assert D.ngram_jaccard_pairs_prefix(docs, "doc_id").count() == 0
        assert D.cross_corpus_minhash_flags(docs, docs, "doc_id").count() == 0
        # every document shorter than one 3-gram: no shingles, so no pair
        # and no duplicate flag — even for the identical texts 1 and 2
        short = spark.createDataFrame(
            [(1, "en", "alpha beta"), (2, "en", "alpha beta"), (3, "en", "gamma"),
             (4, "en", "")],
            docs.schema,
        )
        for pairs in (
            D.ngram_jaccard_pairs, D.ngram_containment_pairs, D.ngram_jaccard_pairs_prefix,
            D.minhash_lsh_pairs, D.minhash_lsh_pairs_md5, D.minhash_lsh_pairs_oph,
        ):
            assert pairs(short, "doc_id").count() == 0, pairs.__name__
        for flags in (D.cross_corpus_near_dup_flags, D.cross_corpus_minhash_flags):
            got = {(r.doc_id, r.is_dup) for r in flags(short, short, "doc_id").collect()}
            assert got == {(i, False) for i in (1, 2, 3, 4)}, flags.__name__
        edges = spark.createDataFrame(
            [], StructType([StructField("src", StringType()), StructField("dst", StringType())])
        )
        assert G.pagerank(edges, iters=2).count() == 0
        assert len(P.profile_columns(docs).collect()) == 3
        assert B.bpe_train(docs, 2)[0] == []
        events = spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("user_id", LongType()),
                    StructField("ts", TimestampType()),
                    StructField("event_type", StringType()),
                ]
            ),
        )
        assert funnel(events, ["view", "click"]).count() == 0
        assert cohort_retention(events).count() == 0


class TestSamplerInvariances:
    def test_weighted_sample_invariant_under_weight_scaling(self, spark):
        """E-S keys u^(1/(c*w)) = (u^(1/w))^(1/c) are a monotone
        transform of the unscaled keys, so multiplying every weight by a
        constant must select the SAME k rows — only relative weights
        matter."""
        docs = load_table(spark, "documents", SF_DIR)
        scored = TX.quality_score(docs.select("doc_id", "text")).select(
            "doc_id", "q_score"
        )
        a = [r["doc_id"] for r in S.weighted_sample_k(scored, "doc_id", "q_score", 25).collect()]
        scaled = scored.withColumn("q_score", F.col("q_score") * 7.0)
        b = [r["doc_id"] for r in S.weighted_sample_k(scaled, "doc_id", "q_score", 25).collect()]
        assert a == b

    def test_temperature_rates_invariant_under_weight_scaling(self, spark):
        """Rates are ratios (w_min/w)^(1-a): scaling every stratum weight
        by a constant must leave every keep_rate unchanged."""
        docs = load_table(spark, "documents", SF_DIR).select("doc_id", "lang", "text")
        w = TX.token_count(F.col("text"))
        a = {
            r["lang"]: r["keep_rate"]
            for r in S.temperature_rates(docs, "lang", w, 0.3).collect()
        }
        b = {
            r["lang"]: r["keep_rate"]
            for r in S.temperature_rates(docs, "lang", w * 13, 0.3).collect()
        }
        assert a == b


class TestCalibrationAndDrift:
    def test_calibration_makes_sources_comparable(self, spark):
        """After percent_rank calibration every source's max is 1.0 and
        min is 0.0 — a global threshold cuts each source at the same
        quantile."""
        from dais2021imageprocessingondeltalake_spark.queries_curation import (
            q_quality_calibrate,
        )

        rows = q_quality_calibrate(spark, SF_DIR).collect()
        by_src = {}
        for r in rows:
            by_src.setdefault(r["source"], []).append(r["q_calibrated"])
        for src, vals in by_src.items():
            assert min(vals) == 0.0 and max(vals) == 1.0, src

    def test_ks_zero_for_identical_samples(self, spark):
        from pyspark.sql import Window

        from dais2021imageprocessingondeltalake_spark.queries_curation import q_ks_drift

        row = q_ks_drift(spark, SF_DIR).collect()[0]
        # even/odd halves of the same corpus: tiny KS (no drift)
        assert 0.0 <= row["ks_stat"] < 0.25
        assert row["n_a"] + row["n_b"] > 0

    def test_ks_detects_planted_shift(self, spark):
        """A shifted distribution must give a large KS statistic —
        reimplement the one-pass CDF on planted samples."""
        from dais2021imageprocessingondeltalake_spark.operators import text as TXx
        from pyspark.sql import Window

        a = spark.createDataFrame([(i, "w " * 10) for i in range(50)], ["doc_id", "text"])
        b = spark.createDataFrame([(i, "w " * 40) for i in range(50)], ["doc_id", "text"])
        va = a.select(TXx.token_count(F.col("text")).alias("v"))
        vb = b.select(TXx.token_count(F.col("text")).alias("v"))
        counts = (
            va.groupBy("v").agg(F.count(F.lit(1)).alias("ca"))
            .join(vb.groupBy("v").agg(F.count(F.lit(1)).alias("cb")), ["v"], "full_outer")
            .select("v", F.coalesce("ca", F.lit(0)).alias("ca"), F.coalesce("cb", F.lit(0)).alias("cb"))
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ks = counts.select(
            (F.sum("ca").over(w) / 50.0 - F.sum("cb").over(w) / 50.0).alias("d")
        ).agg(F.max(F.abs(F.col("d")))).collect()[0][0]
        assert ks == 1.0  # fully separated distributions


class TestProportionalAllocate:
    def test_exact_total_and_proportionality(self, spark):
        """Sum of per-stratum selections == floor(n * num/den) EXACTLY
        (the fixed-budget property Bernoulli sampling lacks), and each
        stratum's allocation is within 1 of its exact proportional
        share (the largest-remainder guarantee)."""
        from dais2021imageprocessingondeltalake_spark.catalog import load_table
        from dais2021imageprocessingondeltalake_spark.operators.sampling import (
            proportional_allocate,
        )

        docs = load_table(spark, "documents", SF_DIR).select("doc_id", "lang")
        picked = proportional_allocate(docs, "lang", "doc_id", num=1, den=3)
        n = docs.count()
        assert picked.count() == n // 3
        sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        got = {r["lang"]: r["n"] for r in picked.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        for lang, ns in sizes.items():
            share = ns / 3
            assert abs(got.get(lang, 0) - share) < 1.0 + 1e-9, (lang, got.get(lang), share)

    def test_deterministic_and_subset(self, spark):
        from dais2021imageprocessingondeltalake_spark.catalog import load_table
        from dais2021imageprocessingondeltalake_spark.operators.sampling import (
            proportional_allocate,
        )

        docs = load_table(spark, "documents", SF_DIR).select("doc_id", "lang")
        a = {r["doc_id"] for r in proportional_allocate(docs, "lang", "doc_id", 2, 7).collect()}
        b = {r["doc_id"] for r in proportional_allocate(docs, "lang", "doc_id", 2, 7).collect()}
        assert a == b
        assert a <= {r["doc_id"] for r in docs.collect()}

    def test_validation(self, spark):
        import pytest

        from dais2021imageprocessingondeltalake_spark.operators.sampling import (
            proportional_allocate,
        )

        with pytest.raises(ValueError):
            proportional_allocate(None, "s", "k", num=3, den=2)
        with pytest.raises(ValueError):
            proportional_allocate(None, "s", "k", num=1, den=0)


class TestEpochShuffle:
    def test_permutation_per_epoch(self, spark):
        """Each epoch's positions are exactly 1..N (a permutation, no
        gaps or duplicates) and every shard size is within one document
        of every other — the loader-facing contract."""
        docs = load_table(spark, "documents", SF_DIR)
        n = docs.count()
        out = S.epoch_shuffle(docs, "doc_id", epochs=2, n_shards=8).cache()
        try:
            for e in (1, 2):
                pos = sorted(
                    r.position for r in out.filter(F.col("epoch") == e).collect()
                )
                assert pos == list(range(1, n + 1))
            sizes = [
                r.c
                for r in out.groupBy("epoch", "shard")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            ]
            assert max(sizes) - min(sizes) <= 1
        finally:
            out.unpersist()

    def test_epochs_differ_and_rerun_reproduces(self, spark):
        """The two epochs are DIFFERENT permutations (independent salts)
        while a rerun — even from a differently-partitioned input —
        reproduces each epoch's order exactly (pure function of ids)."""
        docs = load_table(spark, "documents", SF_DIR)
        a = {
            (r.epoch, r.doc_id): r.position
            for r in S.epoch_shuffle(docs, "doc_id", epochs=2, n_shards=8).collect()
        }
        b = {
            (r.epoch, r.doc_id): r.position
            for r in S.epoch_shuffle(
                docs.repartition(13), "doc_id", epochs=2, n_shards=8
            ).collect()
        }
        assert a == b
        order1 = [d for (e, d), p in sorted(a.items(), key=lambda kv: (kv[0][0], kv[1])) if e == 1]
        order2 = [d for (e, d), p in sorted(a.items(), key=lambda kv: (kv[0][0], kv[1])) if e == 2]
        assert order1 != order2

    def test_validates_args(self, spark):
        import pytest

        docs = load_table(spark, "documents", SF_DIR)
        with pytest.raises(ValueError):
            S.epoch_shuffle(docs, "doc_id", epochs=0)
        with pytest.raises(ValueError):
            S.epoch_shuffle(docs, "doc_id", n_shards=0)


class TestDiversitySelection:
    """Greedy k-center + MMR (r8): the trajectory invariants oracles
    certify value-for-value but whose SEMANTICS deserve independent
    pinning — a brute-force numpy replay of the greedy recurrences, and
    the textbook structural properties."""

    @staticmethod
    def _matrix(spark):
        from dais2021imageprocessingondeltalake_spark.catalog import load_table
        import numpy as np

        rows = (
            load_table(spark, "embeddings", SF_DIR)
            .select("vec_id", "embedding")
            .collect()
        )
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        X = np.array(
            [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
        )
        order = np.argsort(ids)
        return ids[order], X[order]

    def test_kcenter_matches_numpy_greedy(self, spark):
        """The engine trajectory equals a from-scratch numpy greedy
        (same seed rule, same rounding, same tie-breaks) — independent
        of the Spark plan entirely."""
        import hashlib
        import numpy as np
        from dais2021imageprocessingondeltalake_spark.operators import (
            diversity as DIV,
        )
        from dais2021imageprocessingondeltalake_spark.catalog import load_table

        ids, X = self._matrix(spark)
        norms = np.sqrt((X * X).sum(axis=1))
        k = 6
        seed_order = sorted(
            range(len(ids)),
            key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
        )
        sel = [seed_order[0]]
        expected = [(1, int(ids[sel[0]]), None)]
        for rank in range(2, k + 1):
            sims = np.round(
                X @ X[sel].T / (norms[:, None] * norms[sel][None, :]), 6
            )
            mind = 1.0 - sims.max(axis=1)
            cand = [i for i in range(len(ids)) if i not in sel]
            best = min(cand, key=lambda i: (-mind[i], ids[i]))
            sel.append(best)
            expected.append((rank, int(ids[best]), float(mind[best])))
        emb = load_table(spark, "embeddings", SF_DIR)
        got = [
            (r["rank"], r["vec_id"], r["sel_dist"])
            for r in DIV.kcenter_select(emb, k=k)
            .orderBy("rank")
            .collect()
        ]
        assert got == expected

    def test_kcenter_radius_non_increasing_and_distinct(self, spark):
        """Gonzalez's certificate: selection distances never increase,
        and the selected ids are distinct."""
        from dais2021imageprocessingondeltalake_spark import queries_all as q

        rows = sorted(
            q.REGISTRY["q_kcenter_select"].fn(spark, SF_DIR).collect(),
            key=lambda r: r["rank"],
        )
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len({r["vec_id"] for r in rows}) == len(rows)
        dists = [r["sel_dist"] for r in rows[1:]]
        assert all(d is not None for d in dists)
        assert all(a >= b for a, b in zip(dists, dists[1:]))

    def test_mmr_lambda_one_is_pure_relevance(self, spark):
        """λ = 1 degenerates MMR to plain relevance top-k — the scores
        must equal the rounded cosine ranking with the lowest-id
        tie-break, redundancy never consulted."""
        import numpy as np
        from dais2021imageprocessingondeltalake_spark.operators import (
            diversity as DIV,
        )
        from dais2021imageprocessingondeltalake_spark.catalog import load_table

        ids, X = self._matrix(spark)
        norms = np.sqrt((X * X).sum(axis=1))
        q_vec = np.round(X.mean(axis=0), 6)
        rel = np.round(X @ q_vec / (norms * np.sqrt((q_vec * q_vec).sum())), 6)
        order = sorted(range(len(ids)), key=lambda i: (-rel[i], ids[i]))[:5]
        expected = [(int(ids[i]), float(rel[i])) for i in order]
        emb = load_table(spark, "embeddings", SF_DIR)
        got = [
            (r["vec_id"], r["score"])
            for r in DIV.mmr_select(emb, k=5, lam=1.0).orderBy("rank").collect()
        ]
        # numpy's blas mean/dot may differ in last-bit from the engine's
        # fold; compare ids exactly and scores to 1e-9
        assert [g[0] for g in got] == [e[0] for e in expected]
        assert all(abs(g[1] - e[1]) < 1e-9 for g, e in zip(got, expected))

    def test_mmr_diversifies_vs_pure_relevance(self, spark):
        """At λ = 0.5 the selected set must differ from the pure-
        relevance top-k (the whole point), while rank 1 agrees (first
        pick has no redundancy term)."""
        from dais2021imageprocessingondeltalake_spark.operators import (
            diversity as DIV,
        )
        from dais2021imageprocessingondeltalake_spark.catalog import load_table

        emb = load_table(spark, "embeddings", SF_DIR)
        pure = [r["vec_id"] for r in DIV.mmr_select(emb, k=6, lam=1.0)
                .orderBy("rank").collect()]
        mixed = [r["vec_id"] for r in DIV.mmr_select(emb, k=6, lam=0.5)
                 .orderBy("rank").collect()]
        assert pure[0] == mixed[0]
        assert pure != mixed

    def test_diversity_guards(self, spark):
        import pytest
        from dais2021imageprocessingondeltalake_spark.operators import (
            diversity as DIV,
        )
        from dais2021imageprocessingondeltalake_spark.catalog import load_table

        emb = load_table(spark, "embeddings", SF_DIR)
        with pytest.raises(ValueError, match="k >= 1"):
            DIV.kcenter_select(emb, k=0)
        with pytest.raises(ValueError, match="k >= 1"):
            DIV.mmr_select(emb, k=0)
        with pytest.raises(ValueError, match="lam"):
            DIV.mmr_select(emb, k=2, lam=1.5)
        with pytest.raises(ValueError, match="k >= 1"):
            DIV.kcenter_select_fused(emb, k=0)
        with pytest.raises(ValueError, match="batch_rounds"):
            DIV.kcenter_select_fused(emb, k=2, batch_rounds=0)

    def test_fused_kcenter_trajectory_bit_identical(self, spark):
        """VERDICT r8 item 5: the fused farthest-first variant (several
        provisional centers accepted per scan, re-validated with the
        one-quantum dominance margin) must reproduce the one-per-round
        trajectory EXACTLY — ranks, ids, and sel_dist values — at every
        batch_rounds, including batch_rounds=1 (pure degeneration) and
        batch_rounds > k (one pass wants everything). Bit-identity is
        stronger than the item's equivalent-or-better coverage-radius
        floor and lets the fused query share the certified oracle."""
        from dais2021imageprocessingondeltalake_spark.operators import (
            diversity as DIV,
        )
        from dais2021imageprocessingondeltalake_spark.catalog import load_table

        emb = load_table(spark, "embeddings", SF_DIR)
        base = [tuple(r) for r in DIV.kcenter_select(emb, k=8)
                .orderBy("rank").collect()]
        for b in (1, 3, 16):
            fused = [tuple(r) for r in
                     DIV.kcenter_select_fused(emb, k=8, batch_rounds=b)
                     .orderBy("rank").collect()]
            assert fused == base, f"batch_rounds={b} diverged"

    def test_fused_mmr_trajectory_bit_identical(self, spark):
        """The fused MMR variant: stale scores are upper bounds
        (acceptance only raises redundancy), so the same
        prefix-acceptance argument applies — ids AND recorded scores
        must match mmr_select exactly at every batch_rounds."""
        from dais2021imageprocessingondeltalake_spark.operators import (
            diversity as DIV,
        )
        from dais2021imageprocessingondeltalake_spark.catalog import load_table

        emb = load_table(spark, "embeddings", SF_DIR)
        base = [tuple(r) for r in DIV.mmr_select(emb, k=8, lam=0.5)
                .orderBy("rank").collect()]
        for b in (1, 3, 16):
            fused = [tuple(r) for r in
                     DIV.mmr_select_fused(emb, k=8, lam=0.5, batch_rounds=b)
                     .orderBy("rank").collect()]
            assert fused == base, f"batch_rounds={b} diverged"
        import pytest

        with pytest.raises(ValueError, match="batch_rounds"):
            DIV.mmr_select_fused(emb, k=2, batch_rounds=0)

    def test_zero_norm_rows_never_selected(self, spark):
        """A direction-less (all-zero) embedding scores NaN cosines, and
        Spark sorts NaN above every finite value — so without the
        explicit drop it would win every greedy argmax. Planted zero
        vector must appear in NO trajectory (the normalize_rounded
        drop convention, ADVICE r7)."""
        from dais2021imageprocessingondeltalake_spark.operators import (
            diversity as DIV,
        )
        from dais2021imageprocessingondeltalake_spark.catalog import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, "embeddings", SF_DIR).limit(50)
        zero = emb.sparkSession.createDataFrame(
            [(999_999, [0.0] * 64, 0)], "vec_id bigint, embedding array<double>, label int"
        )
        planted = emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
            "label",
        ).unionByName(zero)
        kc = DIV.kcenter_select(planted, k=5)
        mm = DIV.mmr_select(planted, k=5)
        assert 999_999 not in {r["vec_id"] for r in kc.collect()}
        assert 999_999 not in {r["vec_id"] for r in mm.collect()}
        for r in kc.collect():
            assert r["sel_dist"] is None or r["sel_dist"] == r["sel_dist"]
        for r in mm.collect():
            assert r["score"] == r["score"]  # no NaN scores


class TestDomainReweight:
    """Loss-aware domain mixture (DoReMi-shaped): invariants the oracle
    certifies value-for-value but whose semantics deserve pinning."""

    def test_weights_form_a_tilted_distribution(self, spark):
        from dais2021imageprocessingondeltalake_spark import queries_all as q

        rows = q.REGISTRY["q_domain_reweight"].fn(spark, SF_DIR).collect()
        assert rows
        # a (rounded) probability distribution
        assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
        assert all(r["weight"] > 0 for r in rows)
        # the easiest domain's tilt is exactly exp(0) = 1; others >= 1
        assert min(r["tilt"] for r in rows) == 1.0
        assert all(r["tilt"] >= 1.0 for r in rows)
        # tilt is monotone in the loss: the hardest domain has the
        # largest tilt
        hardest = max(rows, key=lambda r: r["mean_surprisal"])
        assert hardest["tilt"] == max(r["tilt"] for r in rows)
        # and the tilt moves weight TOWARD hard domains relative to the
        # token-share prior: weight/prior ordering follows surprisal
        ratio = {r["source"]: r["weight"] / r["prior"] for r in rows}
        surp = {r["source"]: r["mean_surprisal"] for r in rows}
        hi = max(surp, key=surp.get)
        lo = min(surp, key=surp.get)
        assert ratio[hi] > ratio[lo]

    def test_reweight_apply_tracks_weights(self, spark):
        """The executed plan: per-domain keep rates in (0, 1], the
        upweight-most domain keeps EVERYTHING (downsample-only), and
        kept counts track rate * n_docs within binomial noise."""
        from dais2021imageprocessingondeltalake_spark import queries_all as q

        w = {r["source"]: r for r in
             q.REGISTRY["q_domain_reweight"].fn(spark, SF_DIR).collect()}
        kept = q.REGISTRY["q_reweight_apply"].fn(spark, SF_DIR).collect()
        rates = {r["source"]: r["keep_rate"] for r in kept}
        assert all(0.0 < v <= 1.0 for v in rates.values())
        ratio = {s: r["weight"] / r["prior"] for s, r in w.items()}
        top = max(ratio, key=ratio.get)
        assert rates[top] == 1.0
        from collections import Counter

        n_kept = Counter(r["source"] for r in kept)
        for s_, r in w.items():
            expect = rates[s_] * r["n_docs"]
            assert abs(n_kept.get(s_, 0) - expect) <= max(5, 0.5 * expect)


class TestUnimax:
    """UniMax epoch-capped budget allocation: the waterfilling identity,
    the cap semantics, and the manifest composite — plus a pure-Python
    replay of the published loop as an independent reference."""

    @staticmethod
    def _python_waterfill(caps, budget):
        """Reference implementation: the loop as published (repeat:
        share leftover uniformly; cap any stratum whose capacity is
        below its share; stop when none caps)."""
        alloc = {}
        remaining = dict(caps)
        left = budget
        while remaining:
            share = left / len(remaining)
            below = {s: c for s, c in remaining.items() if c <= share}
            if not below:
                for s in remaining:
                    alloc[s] = share
                return alloc
            for s, c in below.items():
                alloc[s] = c
                left -= c
                del remaining[s]
        return alloc

    def test_alloc_matches_python_reference(self, spark):
        from dais2021imageprocessingondeltalake_spark import queries_all as q

        rows = q.REGISTRY["q_unimax_alloc"].fn(spark, SF_DIR).collect()
        assert rows
        caps = {r["lang"]: r["capacity"] for r in rows}
        budget = 1.6 * sum(r["n_tokens"] for r in rows)
        ref = self._python_waterfill(caps, budget)
        for r in rows:
            assert math.isclose(r["alloc_tokens"], ref[r["lang"]], rel_tol=1e-9)

    def test_cap_and_level_semantics(self, spark):
        from dais2021imageprocessingondeltalake_spark import queries_all as q

        rows = sorted(
            q.REGISTRY["q_unimax_alloc"].fn(spark, SF_DIR).collect(),
            key=lambda r: (r["capacity"], r["lang"]),
        )
        # both branches are exercised on this corpus
        assert any(r["capped"] for r in rows)
        assert any(not r["capped"] for r in rows)
        # the capped set is a PREFIX of the ascending-capacity order
        flags = [r["capped"] for r in rows]
        assert flags == sorted(flags, reverse=True)
        # capped strata sit exactly at the epoch cap; uncapped below it
        for r in rows:
            if r["capped"]:
                assert r["alloc_tokens"] == r["capacity"]
                assert r["epochs"] == 2.0
            else:
                assert r["epochs"] < 2.0
        # uncapped strata share ONE water level
        levels = {r["alloc_tokens"] for r in rows if not r["capped"]}
        assert len(levels) == 1
        # the budget is exhausted (some stratum is uncapped)
        budget = 1.6 * sum(r["n_tokens"] for r in rows)
        assert math.isclose(
            sum(r["alloc_tokens"] for r in rows), budget, rel_tol=1e-6
        )

    def test_all_capped_when_budget_exceeds_capacity(self, spark):
        """budget > sum(capacities): every stratum caps and the leftover
        is simply not spent (the published degenerate case)."""
        docs = load_table(spark, "documents", SF_DIR)
        out = S.unimax_alloc(
            docs.select("lang", TX.token_count(F.col("text")).alias("__w")),
            strata_col="lang",
            weight_col="__w",
            budget_mult=3.0,
            epoch_cap=2.0,
        ).collect()
        assert all(r["capped"] for r in out)
        assert all(r["alloc_tokens"] == r["capacity"] for r in out)

    def test_manifest_tracks_allocation(self, spark):
        from collections import Counter

        from dais2021imageprocessingondeltalake_spark import queries_all as q

        alloc = {r["lang"]: r for r in
                 q.REGISTRY["q_unimax_alloc"].fn(spark, SF_DIR).collect()}
        rows = q.REGISTRY["q_unimax_manifest"].fn(spark, SF_DIR).collect()
        per_doc = Counter((r["doc_id"], r["lang"]) for r in rows)
        # copy_idx is contiguous from 1 per doc
        seen = {}
        for r in rows:
            seen.setdefault((r["doc_id"], r["lang"]), set()).add(r["copy_idx"])
        for k, idxs in seen.items():
            assert idxs == set(range(1, len(idxs) + 1))
        # capped languages (epochs exactly 2.0) repeat every doc exactly twice
        for lang, a in alloc.items():
            n = [c for (d, lg), c in per_doc.items() if lg == lang]
            if a["epochs"] == 2.0:
                assert set(n) == {2}
            else:
                lo, hi = math.floor(a["epochs"]), math.ceil(a["epochs"])
                assert set(n) <= {lo, hi}
                # realized copies track epochs * n_docs within noise
                expect = a["epochs"] * a["n_docs"]
                assert abs(sum(n) - expect) <= max(5, 0.2 * expect)

    def test_validates_args(self, spark):
        import pytest

        docs = load_table(spark, "documents", SF_DIR)
        sel = docs.select("lang", TX.token_count(F.col("text")).alias("__w"))
        with pytest.raises(ValueError):
            S.unimax_alloc(sel, "lang", "__w", budget_mult=0.0, epoch_cap=2.0)
        with pytest.raises(ValueError):
            S.unimax_alloc(sel, "lang", "__w", budget_mult=1.6, epoch_cap=-1.0)

    def test_zero_token_stratum_yields_zero_epochs(self, spark):
        """ADVICE r8 (low): a stratum whose documents total ZERO tokens
        (capacity 0, always capped, alloc 0) must emit epochs=0.0 — not
        NULL from alloc/0 — so _unimax_plan's n_full/frac stay non-null
        and the stratum is dropped EXPLICITLY (0 copies) rather than
        silently by null propagation."""
        rows = spark.createDataFrame(
            [("en", 40), ("en", 60), ("empty", 0), ("empty", 0), ("fr", 30)],
            "lang string, __w int",
        )
        out = {
            r["lang"]: r
            for r in S.unimax_alloc(
                rows, "lang", "__w", budget_mult=1.0, epoch_cap=2.0
            ).collect()
        }
        z = out["empty"]
        assert z["n_tokens"] == 0 and z["capacity"] == 0.0 and z["capped"]
        assert z["alloc_tokens"] == 0.0
        assert z["epochs"] == 0.0  # was NULL before the guard
        assert z["budget_share"] == 0.0
        # non-degenerate strata unaffected
        assert all(out[k]["epochs"] is not None for k in ("en", "fr"))

    def test_stream_equals_batch_manifest(self, spark):
        """The streamed shape merges to EXACTLY the batch manifest —
        the frozen-plan + stateless-expansion argument, asserted
        row-for-row (not just through the shared oracle)."""
        from dais2021imageprocessingondeltalake_spark import queries_all as q

        batch = {
            (r["doc_id"], r["lang"], r["copy_idx"])
            for r in q.REGISTRY["q_unimax_manifest"].fn(spark, SF_DIR).collect()
        }
        streamed = [
            (r["doc_id"], r["lang"], r["copy_idx"])
            for r in q.REGISTRY["q_stream_unimax"].fn(spark, SF_DIR).collect()
        ]
        assert len(streamed) == len(set(streamed)) == len(batch)
        assert set(streamed) == batch

    def test_pack_composite_lays_out_manifest_tokens(self, spark):
        """Mix -> manifest -> pack: every sequence except the last is
        exactly full, and the packed token total equals the manifest's
        token total (each copy contributes its full document)."""
        from collections import Counter

        from dais2021imageprocessingondeltalake_spark import queries_all as q

        spans = q.REGISTRY["q_unimax_pack"].fn(spark, SF_DIR).collect()
        per_seq = Counter()
        for r in spans:
            per_seq[r["seq_id"]] += r["n_tok"]
        last = max(per_seq)
        assert all(v == 2048 for s_, v in per_seq.items() if s_ != last)
        assert 0 < per_seq[last] <= 2048
        man = q.REGISTRY["q_unimax_manifest"].fn(spark, SF_DIR)
        docs = load_table(spark, "documents", SF_DIR).select(
            "doc_id", TX.token_count(F.col("text")).alias("n_len")
        )
        man_tokens = (
            man.join(docs, "doc_id").agg(F.sum("n_len")).collect()[0][0]
        )
        assert sum(per_seq.values()) == man_tokens
        # a doc capped at 2 epochs occupies two INDEPENDENT stream spots
        two = [
            (r["doc_id"], r["copy_idx"]) for r in spans if r["copy_idx"] == 2
        ]
        assert two
