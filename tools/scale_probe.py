"""Scale-curve probe for the heaviest dedup/similarity queries (VERDICT
r2 item 6, extended r3/r4).

Grows the documents corpus to kx the base scale with synthetic documents
drawn from the base corpus's own token distribution, then times
`ngram_jaccard_pairs_prefix` (the headline self-join dedup) and
`cross_corpus_near_dup_flags` (incremental-ingest dedup — both the
self-computing and the precomputed-index production shapes) at each
factor, recording wall time and candidate-pair counts. The prefix filter
promises near-linear candidate growth when the corpus grows with the SAME
df distribution — this probe is the local evidence (an uncapped
inverted-index join would grow with Sigma df(s)^2, i.e. quadratically).

The similarity tier records BOTH SemDeDup plans: fixed-k per-label
centroids (the r3 headline — quadratic candidate pairs) and the
sqrt(N)-re-clustered r4 headline, with candidate-PAIR counts per point so
the curve shows the quadratic gone independent of fit constant factors.

Corpus growth model: each extra document samples a real document's token
count, then draws that many tokens iid from the base corpus's unigram
distribution (seeded numpy). That preserves token/df shape (so the probe
stresses the same pruning the real corpus does) without planting
artificial near-dup clusters that a naive "replicate 10x" would create.

Usage:
    python tools/scale_probe.py --base /root/testdata/sf0.01 --factors 1 3 10
    python tools/scale_probe.py --factors 60 --components sem --append
`--components` restricts which component groups run (docs, sem, knn,
gram; default all) so a deep factor can probe one curve without paying
for the rest; `--append` merges the new points into the existing
SCALE_PROBE.json by factor instead of overwriting the file.
Writes one JSON line per point to stdout and SCALE_PROBE.json at the
repo root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timezone
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _collect_embedding_matrix(emb):
    """Driver-side (id, label, vector) arrays for the probe's exact
    recall audit — bounded by the probe's own corpus construction
    (factor 60 = 30,000 x 64 float64 = 15 MB)."""
    rows = emb.select("vec_id", "label", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    labels = np.array([r["label"] for r in rows])
    vecs = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    return ids, labels, vecs


def _numpy_brute_margin(ids, labels, vecs, min_margin_x10k=11000, block=512):
    """EXACT cross-label margin pairs via blocked BLAS — the brute-force
    recall reference at factors where the Spark broadcast cross join
    would dominate the probe's wall. Mirrors margin_mine's semantics:
    6dp-rounded cosine, best neighbor with min-id tie-break on equal
    sims, sim2 = second-best VALUE, floor-scaled margin filter. Returns
    the set of (probe_id, best_id)."""
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    lab_codes = np.unique(labels, return_inverse=True)[1]
    n = len(ids)
    big = np.iinfo(np.int64).max
    out = set()
    for s0 in range(0, n, block):
        s1 = min(s0 + block, n)
        sims = np.round(vn[s0:s1] @ vn.T, 6)
        same = lab_codes[s0:s1, None] == lab_codes[None, :]
        sims[same] = -np.inf
        m1 = sims.max(axis=1)
        ok = np.isfinite(m1)
        # min id among the argmax ties — margin_mine's tie-break
        best_ids = np.where(sims == m1[:, None], ids[None, :], big).min(axis=1)
        sims2 = sims.copy()
        for r in np.nonzero(ok)[0]:
            sims2[r, np.nonzero(ids == best_ids[r])[0][0]] = -np.inf
        m2 = sims2.max(axis=1)
        for r in np.nonzero(ok & np.isfinite(m2) & (m2 > 0))[0]:
            if math.floor(10000.0 * m1[r] / m2[r]) >= min_margin_x10k:
                out.add((int(ids[s0 + r]), int(best_ids[r])))
    return out


def _numpy_brute_margin_x(
    ids_p, labs_p, vecs_p, ids_r, labs_r, vecs_r,
    min_margin_x10k=11000, block=512,
):
    """ASYMMETRIC brute margin reference: probes from the NEW side,
    candidates from the REFERENCE side only, cross-label — the exact
    semantics of margin_mine_pq_xcorpus's audit (6dp cosine, min-id
    tie-break, second-best VALUE, floor-scaled filter). Returns the set
    of (probe_id, best_id)."""
    vp = vecs_p / np.linalg.norm(vecs_p, axis=1, keepdims=True)
    vr = vecs_r / np.linalg.norm(vecs_r, axis=1, keepdims=True)
    big = np.iinfo(np.int64).max
    out = set()
    for s0 in range(0, len(ids_p), block):
        s1 = min(s0 + block, len(ids_p))
        sims = np.round(vp[s0:s1] @ vr.T, 6)
        sims[labs_p[s0:s1, None] == labs_r[None, :]] = -np.inf
        m1 = sims.max(axis=1)
        ok = np.isfinite(m1)
        best_ids = np.where(sims == m1[:, None], ids_r[None, :], big).min(axis=1)
        sims2 = sims.copy()
        for r in np.nonzero(ok)[0]:
            sims2[r, np.nonzero(ids_r == best_ids[r])[0][0]] = -np.inf
        m2 = sims2.max(axis=1)
        for r in np.nonzero(ok & np.isfinite(m2) & (m2 > 0))[0]:
            if math.floor(10000.0 * m1[r] / m2[r]) >= min_margin_x10k:
                out.add((int(ids_p[s0 + r]), int(best_ids[r])))
    return out


def _score_pairs_broadcast(spark, pairs, ids, vecs):
    """Score candidate (probe_id, nbr_id) pairs against a broadcast
    normalized-vector matrix (mapInPandas + searchsorted lookup): Arrow
    traffic is 16 bytes/pair instead of the 2·d·8 the engine's
    vector-join pays, which keeps deep probe factors payable. Probe
    tooling only — the registered operator keeps the shuffle-join
    scoring that works when vectors do NOT fit in one broadcast."""
    import pandas as pd

    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    order = np.argsort(ids)
    bc = spark.sparkContext.broadcast((ids[order], vn[order]))

    def score(batches):
        ids_sorted, mat = bc.value
        for b in batches:
            pi = np.searchsorted(ids_sorted, b["probe_id"].values)
            ni = np.searchsorted(ids_sorted, b["nbr_id"].values)
            yield pd.DataFrame(
                {
                    "probe_id": b["probe_id"].values,
                    "nbr_id": b["nbr_id"].values,
                    "s": np.round((mat[pi] * mat[ni]).sum(axis=1), 6),
                }
            )

    return pairs.mapInPandas(score, schema="probe_id long, nbr_id long, s double")


def _write_artifact(out_path: Path, result: dict, append: bool) -> dict:
    """Write the probe artifact ATOMICALLY (unique temp + os.replace —
    the versioned.py idiom), merging into the existing file by factor
    when `append`. Called after EVERY component completes (VERDICT r10
    item 5): the 200x flat-ladder merge note documents two full-point
    losses because the old artifact wrote only at process end — an OOM
    in component N discarded components 1..N-1's in-process buffer.
    Returns the payload actually written."""
    if append and out_path.exists():
        prior = json.loads(out_path.read_text())
        by_factor = {p["factor"]: p for p in prior.get("points", [])}
        for p in result["points"]:
            tgt = by_factor.setdefault(p["factor"], {})
            # union the run ledger instead of overwriting it, so a
            # factor probed component-by-component stays self-describing
            merged_run = sorted(
                set(tgt.get("components_run", [])) | set(p["components_run"])
            )
            tgt.update(p)
            tgt["components_run"] = merged_run
        payload = dict(prior)
        payload["points"] = [by_factor[f] for f in sorted(by_factor)]
        payload["ts"] = result["ts"]
    else:
        payload = result
    tmp = out_path.with_name(f".{out_path.name}.{os.getpid()}.tmp")
    tmp.write_text(json.dumps(payload) + "\n")
    os.replace(tmp, out_path)
    return payload


def _flush_point(
    out_path: Path,
    result: dict,
    point: dict,
    component: str | None,
    append: bool,
) -> dict:
    """Record `component` as COMPLETED on the in-progress point and
    flush the artifact with that point merged in. components_run now
    accumulates per completed component (it used to be stamped with the
    INTENT up front) so a partial artifact left by a killed probe never
    claims components whose fields are missing. component=None flushes
    WITHOUT marking completion (mid-component progress, e.g. per ladder
    rung)."""
    if component is not None and component not in point["components_run"]:
        point["components_run"] = sorted(
            [*point["components_run"], component]
        )
    snap = dict(result)
    snap["points"] = [*result["points"], point]
    return _write_artifact(out_path, snap, append)


def _ladder_refusal_decision(
    curve: list, n_remaining: int, floor_x10k: int = 8500
) -> tuple:
    """Whether a ladder that stopped without a sized rung may emit a
    certified REFUSAL (ADVICE r10, scale_probe plateau-stop): refusal
    is allowed only when the ladder was FULLY measured, or when the
    floor is unreachable even under an OPTIMISTIC projection — best
    measured recall plus the max observed per-rung gain for every
    unmeasured rung. A plateau-stop whose projection could still clear
    the floor records only the plateau marker: a refusal row is a
    certified negative, and a truncated ladder cannot certify it.
    Returns ("refused" | "plateau_only", optimistic_projection_x10k)."""
    best = max((e["recall_x10k"] for e in curve), default=0)
    gains = [
        b["recall_x10k"] - a["recall_x10k"] for a, b in zip(curve, curve[1:])
    ]
    optimistic = best + max(max(gains, default=0), 0) * n_remaining
    if n_remaining == 0 or optimistic < floor_x10k:
        return "refused", optimistic
    return "plateau_only", optimistic


def build_scaled_corpus(base_dir: str, factor: int, out_dir: Path, seed: int = 11) -> str:
    """Write a factor-x documents.parquet under out_dir; factor=1 is the
    base corpus unchanged."""
    import duckdb

    src = f"{base_dir}/documents.parquet"
    if factor == 1:
        return src
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text, lang, source, n_chars FROM '{src}'"
    ).fetchall()
    texts = [r[1] for r in rows]
    rng = np.random.default_rng(seed)
    # corpus unigram distribution + document length distribution
    vocab: dict[str, int] = {}
    lengths = []
    for t in texts:
        toks = t.split(" ")
        lengths.append(len(toks))
        for tok in toks:
            vocab[tok] = vocab.get(tok, 0) + 1
    words = np.array(list(vocab.keys()))
    probs = np.array(list(vocab.values()), dtype=float)
    probs /= probs.sum()
    max_id = max(r[0] for r in rows)
    n_synth = (factor - 1) * len(rows)
    doc_lens = [lengths[int(i)] for i in rng.integers(len(lengths), size=n_synth)]
    # one batched draw for every token of every synthetic doc — a per-doc
    # choice() re-scans the vocab distribution each call
    flat = words[rng.choice(len(words), size=sum(doc_lens), p=probs)]
    synth = []
    pos = 0
    for i, n_tok in enumerate(doc_lens):
        text = " ".join(flat[pos : pos + n_tok].tolist())
        pos += n_tok
        synth.append((max_id + 1 + i, text, "syn", "scale-probe", len(text)))
    all_rows = rows + synth
    out = out_dir / f"x{factor}" / "documents.parquet"
    out.parent.mkdir(parents=True, exist_ok=True)
    con.execute(
        "CREATE TABLE docs (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?, ?, ?, ?)", all_rows)
    con.execute(f"COPY docs TO '{out}' (FORMAT PARQUET)")
    return str(out)


def build_scaled_embeddings(base_dir: str, factor: int, out_dir: Path, seed: int = 12) -> str:
    """Write a factor-x embeddings.parquet: synthetic vectors are noisy
    copies of real ones (sigma=0.05 around a random base vector, label
    preserved), so cluster structure — what SemDeDup's cost depends on —
    scales with the corpus instead of dissolving into noise."""
    import duckdb

    src = f"{base_dir}/embeddings.parquet"
    if factor == 1:
        return src
    con = duckdb.connect()
    rows = con.execute(f"SELECT vec_id, embedding, label FROM '{src}'").fetchall()
    rng = np.random.default_rng(seed)
    base_vecs = np.array([r[1] for r in rows], dtype=np.float32)
    labels = [r[2] for r in rows]
    max_id = max(r[0] for r in rows)
    n_synth = (factor - 1) * len(rows)
    picks = rng.integers(len(rows), size=n_synth)
    noise = rng.normal(0.0, 0.05, size=(n_synth, base_vecs.shape[1])).astype(np.float32)
    synth_vecs = base_vecs[picks] + noise
    synth = [
        (int(max_id + 1 + i), synth_vecs[i].tolist(), int(labels[picks[i]]))
        for i in range(n_synth)
    ]
    out = out_dir / f"x{factor}" / "embeddings.parquet"
    out.parent.mkdir(parents=True, exist_ok=True)
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding FLOAT[], label INT)")
    con.executemany("INSERT INTO emb VALUES (?, ?, ?)", rows + synth)
    con.execute(f"COPY emb TO '{out}' (FORMAT PARQUET)")
    return str(out)


ALL_COMPONENTS = (
    "docs", "sem", "knn", "gram", "margin", "marginpq", "train",
    "ivfadc", "ivfadcres", "csize", "msize", "xpq", "xres", "div", "mix",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.01")
    ap.add_argument("--factors", nargs="*", type=int, default=[1, 3, 10])
    ap.add_argument("--out", default=str(REPO / "SCALE_PROBE.json"))
    ap.add_argument(
        "--components", nargs="*", choices=ALL_COMPONENTS, default=list(ALL_COMPONENTS)
    )
    ap.add_argument(
        "--append",
        action="store_true",
        help="merge points into the existing artifact by factor",
    )
    ap.add_argument(
        "--msize-sample",
        type=int,
        default=0,
        help="msize recall over this many SAMPLED query rows instead of "
        "all N (the FAISS benchmarking idiom, VERDICT r10 item 3): the "
        "flat-scan scoring collapses from N^2 to Q*N, which is what fits "
        "the container envelope at the 200x depth. 0 = full-corpus "
        "recall (exact, shallow factors). Sampled fields are named "
        "*_qsampled so the artifact self-describes the estimator.",
    )
    args = ap.parse_args()
    want = set(args.components)
    out_path = Path(args.out)

    from pyspark.sql import functions as F

    from dais2021imageprocessingondeltalake_spark.operators import dedup as D
    from dais2021imageprocessingondeltalake_spark.operators import similarity as SIM
    from dais2021imageprocessingondeltalake_spark.operators import sketches as SK
    from dais2021imageprocessingondeltalake_spark.session import get_spark

    # SPARK_GRAFT_ARROW_BATCH caps probe rows per Arrow batch: the ADC
    # scan's per-batch scoring matrix is |batch| x |nbr_chunk| float64,
    # so 10000-row batches put ~8 GB in EVERY python worker at the 200x
    # full-scan depth (100k refs) — 32 workers OOM-killed the probe JVM
    # twice. The DEFAULT is therefore the safe 1000 (ADVICE r10: a
    # default run must not hit the documented OOM); 1000-row batches
    # bound it at ~0.8 GB/worker. Raise via the env var at shallow
    # factors if batch overhead ever matters; combine with
    # SPARK_GRAFT_CPUS to cap the aggregate.
    spark = get_spark(
        app_name="scale-probe",
        extra_conf={
            "spark.sql.execution.arrow.maxRecordsPerBatch": os.environ.get(
                "SPARK_GRAFT_ARROW_BATCH", "1000"
            )
        },
    )
    scratch = Path(tempfile.mkdtemp(prefix="scale_probe_"))
    result = {
        "ts": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "base": args.base,
        "points": [],
    }
    try:
        # JVM/codegen warmup so factor-1 doesn't absorb JIT cost
        warm = spark.read.parquet(f"{args.base}/documents.parquet")
        D.ngram_jaccard_pairs_prefix(warm.limit(200), "doc_id", n=3, threshold=0.5).count()

        for k in sorted(args.factors):
            # self-describing partial runs (VERDICT r8 item 4, the "no
            # silent caps" rule applied to evidence artifacts): every
            # point records WHICH component groups produced it, so a
            # missing field reads as "component not run at this factor",
            # never as an unexplained hole. Since r11 the ledger
            # accumulates per COMPLETED component and the artifact is
            # flushed after each one (VERDICT r10 item 5) — an OOM in a
            # later component never discards earlier components' fields,
            # and a partial artifact never claims components it lacks.
            point: dict = {"factor": k, "components_run": []}

            def flush(component: str | None) -> None:
                _flush_point(out_path, result, point, component, args.append)

            if want & {"docs"}:
                path = build_scaled_corpus(args.base, k, scratch)
                docs = spark.read.parquet(path)
                point["n_docs"] = docs.count()

                t0 = time.perf_counter()
                pairs = D.ngram_jaccard_pairs_prefix(docs, "doc_id", n=3, threshold=0.5)
                point["prefix_pairs"] = pairs.count()
                point["prefix_secs"] = round(time.perf_counter() - t0, 2)

                new = docs.filter(F.col("doc_id") % 3 == 0)
                ref = docs.filter(F.col("doc_id") % 3 != 0)
                t0 = time.perf_counter()
                flags = D.cross_corpus_near_dup_flags(new, ref, "doc_id", n=3, threshold=0.5)
                n_dups = flags.filter("is_dup").count()
                point["cross_secs"] = round(time.perf_counter() - t0, 2)
                point["cross_dups"] = n_dups

                # production incremental-ingest shape (VERDICT r3 item 6):
                # the corpus shingle index + dfreq are PRECOMPUTED, written
                # once per snapshot TO PARQUET and read back — the real
                # persisted-intermediate shape, and the memory-safe one:
                # the .persist() this probe used through r10 caches the
                # index as deserialized JVM objects, which at the 300x
                # depth (~100k ref docs of shingle arrays) overflows the
                # 16g JVM's storage fraction and thrashes — measured
                # cross_pre 207s vs 77s self-computing, an inversion the
                # disk-backed columnar index does not have. Per-batch cost
                # under test is only the new batch's shingles + the prefix
                # join against the index; the write is outside the timer.
                ref_sh_p = str(scratch / f"refsh_x{k}")
                ref_df_p = str(scratch / f"refdf_x{k}")
                D.shingle_table(ref, "doc_id", n=3).write.mode(
                    "overwrite"
                ).parquet(ref_sh_p)
                ref_sh = spark.read.parquet(ref_sh_p)
                D.shingle_doc_freq(ref_sh).write.mode("overwrite").parquet(
                    ref_df_p
                )
                ref_df_tbl = spark.read.parquet(ref_df_p)
                t0 = time.perf_counter()
                flags_pre = D.cross_corpus_near_dup_flags(
                    new, None, "doc_id", n=3, threshold=0.5,
                    ref_shingles=ref_sh, ref_dfreq=ref_df_tbl,
                )
                n_dups_pre = flags_pre.filter("is_dup").count()
                point["cross_pre_secs"] = round(time.perf_counter() - t0, 2)
                assert n_dups_pre == n_dups, (n_dups_pre, n_dups)

                # MinHash banding -> connected components -> keep-roots:
                # the end-to-end dedup job shape (q_dedup_end2end)
                t0 = time.perf_counter()
                cand = D.minhash_lsh_pairs(docs, "doc_id", num_hashes=32, bands=8)
                clusters = D.connected_components(cand.select("doc_a", "doc_b"))
                kept = docs.join(
                    clusters.filter("id <> cluster_root").withColumnRenamed("id", "doc_id"),
                    ["doc_id"],
                    "left_anti",
                )
                point["e2e_kept"] = kept.count()
                point["e2e_secs"] = round(time.perf_counter() - t0, 2)

                # round-3 sketch tier: exact heavy hitters (two bounded
                # passes — should stay linear in corpus tokens)
                t0 = time.perf_counter()
                toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
                point["hh_rows"] = SK.heavy_hitters_exact(toks, "tok", k=20, counters=256).count()
                point["hh_secs"] = round(time.perf_counter() - t0, 2)

                # JSONL interchange round-trip (VERDICT r4 item 8): the
                # LLM-corpus ship format — write + schema'd re-read +
                # count, expected ~linear in corpus bytes
                t0 = time.perf_counter()
                jl = str(scratch / f"jsonl_x{k}")
                docs.write.mode("overwrite").json(jl)
                point["jsonl_rt_rows"] = (
                    spark.read.schema(
                        "doc_id bigint, text string, lang string, "
                        "source string, n_chars bigint"
                    )
                    .json(jl)
                    .count()
                )
                point["jsonl_rt_secs"] = round(time.perf_counter() - t0, 2)
                flush("docs")

            if "train" in want:
                # NEW r6 training-tier ops, both claimed ~linear in
                # corpus size: concat-and-chunk packing (one range
                # shuffle + one keyed exchange) and the 3-iteration
                # full-batch GD fit (one scan per iteration, (d+1)-double
                # aggregate). Measured so the linearity is a curve, not
                # a docstring.
                from dais2021imageprocessingondeltalake_spark.operators.linear import (
                    logreg_fit_distributed,
                )
                from dais2021imageprocessingondeltalake_spark.operators.sampling import (
                    pack_sequences,
                )

                tpath = build_scaled_corpus(args.base, k, scratch)
                tdocs = spark.read.parquet(tpath)
                if "n_docs" not in point:  # setdefault would scan eagerly
                    point["n_docs"] = tdocs.count()
                t0 = time.perf_counter()
                toks = tdocs.select(
                    "doc_id", F.size(F.split("text", " ")).alias("n_len")
                )
                point["pack_rows"] = pack_sequences(
                    toks, "doc_id", "n_len", capacity=2048
                ).count()
                point["pack_secs"] = round(time.perf_counter() - t0, 2)

                from dais2021imageprocessingondeltalake_spark.queries_llm import (
                    _logreg_features,
                )

                feats = _logreg_features(tdocs)
                t0 = time.perf_counter()
                w = logreg_fit_distributed(
                    feats, ["chars_k", "toks_h", "avg_wlen"], "y", iters=3, lr=1.0
                )
                point["logreg_secs"] = round(time.perf_counter() - t0, 2)
                point["logreg_w_intercept"] = dict(w)["intercept"]
                flush("train")

            if "mix" in want:
                # NEW r8 mixing tier: the UniMax allocation is ONE
                # corpus pass into a |langs|-row waterfilling frame, and
                # the repetition manifest is a broadcast plan join + an
                # explode bounded by the epoch cap — both should stay
                # ~linear in corpus tokens. The realized-vs-target token
                # deviation is recorded alongside the wall so linearity
                # can't be bought by emitting garbage copies.
                from dais2021imageprocessingondeltalake_spark.operators import (
                    sampling as SA,
                )
                from dais2021imageprocessingondeltalake_spark.operators import (
                    text as TXT,
                )
                from dais2021imageprocessingondeltalake_spark.queries_curation import (
                    _unimax_copies,
                )

                mpath = build_scaled_corpus(args.base, k, scratch)
                mdocs = spark.read.parquet(mpath)
                if "n_docs" not in point:
                    point["n_docs"] = mdocs.count()
                sel = mdocs.select(
                    "lang", TXT.token_count(F.col("text")).alias("__w")
                )
                t0 = time.perf_counter()
                ua = SA.unimax_alloc(
                    sel, strata_col="lang", weight_col="__w",
                    budget_mult=1.6, epoch_cap=2.0,
                ).localCheckpoint()
                ua_rows = ua.collect()
                point["unimax_alloc_secs"] = round(time.perf_counter() - t0, 2)
                point["unimax_langs"] = len(ua_rows)
                point["unimax_n_capped"] = sum(1 for r in ua_rows if r["capped"])
                plan = ua.select(
                    "lang",
                    F.floor("epochs").cast("bigint").alias("__n_full"),
                    F.round(F.col("epochs") - F.floor("epochs"), 6).alias(
                        "__frac"
                    ),
                )
                t0 = time.perf_counter()
                man = _unimax_copies(mdocs.select("doc_id", "lang"), plan)
                realized = (
                    man.join(
                        mdocs.select(
                            "doc_id",
                            TXT.token_count(F.col("text")).alias("__t"),
                        ),
                        "doc_id",
                    )
                    .groupBy("lang")
                    .agg(
                        F.count(F.lit(1)).alias("rows"),
                        F.sum("__t").alias("rt"),
                    )
                    .collect()
                )
                point["unimax_manifest_secs"] = round(
                    time.perf_counter() - t0, 2
                )
                point["unimax_manifest_rows"] = sum(r["rows"] for r in realized)
                target = {r["lang"]: r["alloc_tokens"] for r in ua_rows}
                point["unimax_track_maxdev_x10k"] = int(
                    10000
                    * max(
                        abs(r["rt"] / target[r["lang"]] - 1.0) for r in realized
                    )
                )

                # DoReMi drift check (VERDICT r8 item 8): derive the
                # loss-aware domain weights on the grown corpus, execute
                # the downsample-only keep-rate plan (q_reweight_apply's
                # exact composition), and compare the REALIZED
                # post-sampling token mixture against the target weights
                # — the same realized-vs-target tracking evidence the
                # UniMax plan carries above.
                from dais2021imageprocessingondeltalake_spark.operators import (
                    sampling as S2,
                )
                from dais2021imageprocessingondeltalake_spark.queries_curation import (
                    domain_reweight_frame_from_docs,
                )

                t0 = time.perf_counter()
                dw = domain_reweight_frame_from_docs(mdocs).localCheckpoint()
                ratio = dw.select(
                    "source",
                    F.round(F.col("weight") / F.col("prior"), 6).alias("ratio"),
                )
                mx = ratio.agg(F.max("ratio").alias("maxr"))
                rates = ratio.crossJoin(F.broadcast(mx)).select(
                    "source",
                    F.round(F.col("ratio") / F.col("maxr"), 6).alias("keep_rate"),
                )
                kept = S2.apply_rate_table(
                    mdocs.select("doc_id", "source"), rates, "doc_id",
                    "source", salt="drw",
                )
                rw_real = (
                    kept.join(
                        mdocs.select(
                            "doc_id",
                            TXT.token_count(F.col("text")).alias("__t"),
                        ),
                        "doc_id",
                    )
                    .groupBy("source")
                    .agg(F.sum("__t").alias("rt"))
                    .collect()
                )
                point["reweight_apply_secs"] = round(time.perf_counter() - t0, 2)
                rw_target = {r["source"]: r["weight"] for r in dw.collect()}
                rw_tot = sum(r["rt"] for r in rw_real)
                point["reweight_domains"] = len(rw_target)
                point["reweight_track_maxdev_x10k"] = int(
                    10000
                    * max(
                        abs((r["rt"] / rw_tot) / rw_target[r["source"]] - 1.0)
                        for r in rw_real
                    )
                )
                flush("mix")

            if want & {"sem", "knn", "gram", "margin", "marginpq", "msize",
                       "ivfadc", "ivfadcres", "csize", "xpq", "xres", "div"}:
                epath = build_scaled_embeddings(args.base, k, scratch)
                emb = spark.read.parquet(epath)
                n_vecs = emb.count()
                point["n_vecs"] = n_vecs

            if "sem" in want:
                # fixed-k (per-label centroids): the r3 headline plan, kept
                # as the quadratic reference curve
                t0 = time.perf_counter()
                cents = SIM.label_centroids(emb).withColumn(
                    "centroid", F.round("centroid", 6)
                )
                point["sem_fixed_dups"] = (
                    SIM.semantic_dedup_flags(emb, cents, threshold=0.35)
                    .filter("is_semdup")
                    .count()
                )
                point["sem_fixed_secs"] = round(time.perf_counter() - t0, 2)

                # sqrt(N)-re-clustered (the r4 headline plan, q_semdedup):
                # k ~ sqrt(N) keeps E[|cluster|] ~ sqrt(N), so candidate
                # pairs grow ~N*sqrt(N) instead of N^2 — the fix VERDICT r3
                # item 2 asked to see on the probe curve
                t0 = time.perf_counter()
                kk = int(math.ceil(math.sqrt(n_vecs)))
                asg_sqrtk, _ = SIM.kmeans_fit_distributed(emb, k=kk, iters=2, round_dp=6)
                point["sem_sqrtk_dups"] = (
                    SIM.semantic_dedup_flags(
                        emb, None, threshold=0.35, assignment=asg_sqrtk
                    )
                    .filter("is_semdup")
                    .count()
                )
                point["sem_sqrtk_secs"] = round(time.perf_counter() - t0, 2)
                point["sem_sqrtk_k"] = kk

                # candidate-PAIR counts — the quantity the fixed-k plan
                # grows quadratically and sqrt(N) tames (sum of
                # |cluster|*(|cluster|-1)/2 over the final assignment);
                # wall clock at toy scale is fit-dominated (E-step ~
                # N*sqrt(N) with an interpreted cosine), so the pair curve
                # is the honest scale evidence. Computed outside the timers.
                def _pair_count(asg):
                    sizes = asg.groupBy("assigned_label").count()
                    row = sizes.agg(
                        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p")
                    ).collect()[0]
                    return int(row["p"] or 0)

                point["sem_fixed_pairs"] = _pair_count(
                    SIM.assign_to_centroids(emb, cents, round_dp=6)
                )
                point["sem_sqrtk_pairs"] = _pair_count(asg_sqrtk)
                flush("sem")

            if "knn" in want:
                t0 = time.perf_counter()
                queries = emb.filter(F.col("vec_id") % 97 == 0)
                base_side = emb.filter(F.col("vec_id") % 97 != 0)
                point["knn_rows"] = SIM.lsh_knn_join(
                    queries, base_side, dim=64, k=3, n_planes=6
                ).count()
                point["knn_secs"] = round(time.perf_counter() - t0, 2)
                flush("knn")

            if "margin" in want:
                # Data-sized L-table margin mining — the registered
                # q_margin_mine_lsh plan since r6, sized with the EXACT
                # production rules (size_n_planes + size_n_tables —
                # ADVICE r5 item 2 replaced this probe's ad-hoc
                # 4+log2(factor) rule). Three measurements per factor:
                #   1. candidate volume + wall from the engine's real
                #      candidate generator (lsh_candidate_pairs), with
                #      the probed FRACTION of the N² cross space — the
                #      number that must SHRINK with scale for the n^ρ
                #      claim (at the corpus's low design similarity it
                #      shrinks ~(2q)^-p; see MARGIN_L_TABLES).
                #   2. the full registered operator's rows + wall while
                #      its pair-scoring join stays locally payable.
                #   3. recall vs EXACT at EVERY factor: numpy brute
                #      top-2 on the driver (the probe corpus is a
                #      bounded audit sample — 30k x 64 doubles = 15 MB)
                #      against the engine-generated candidates scored
                #      through a broadcast matrix, so the measured
                #      recall exercises the real candidate generator
                #      even where the quadratic join would not be.
                p_pl = SIM.size_n_planes(n_vecs, target_bucket=32, min_planes=4)
                n_tb = SIM.size_n_tables(p_pl)
                point["margin_lsh_planes"] = p_pl
                point["margin_lsh_tables"] = n_tb
                t0 = time.perf_counter()
                cand = SIM.lsh_candidate_pairs(
                    emb, dim=64, n_planes=p_pl, n_tables=n_tb
                )
                n_cand = cand.count()
                point["margin_cand_pairs"] = n_cand
                point["margin_cand_secs"] = round(time.perf_counter() - t0, 2)
                point["margin_cand_frac_x10k"] = int(
                    10000 * n_cand // max(n_vecs * (n_vecs - 1), 1)
                )
                if n_vecs <= 6000:
                    t0 = time.perf_counter()
                    point["margin_lsh_rows"] = SIM.margin_mine_lsh(
                        emb,
                        dim=64,
                        n_planes=p_pl,
                        n_tables=n_tb,
                        min_margin_x10k=11000,
                    ).count()
                    point["margin_lsh_secs"] = round(time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                ids, labels, vecs = _collect_embedding_matrix(emb)
                brute_pairs = _numpy_brute_margin(ids, labels, vecs)
                point["margin_brute_rows"] = len(brute_pairs)
                point["margin_brute_secs"] = round(time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                scored = _score_pairs_broadcast(spark, cand, ids, vecs)
                lsh_pairs = {
                    (r["probe_id"], r["best_id"])
                    for r in SIM._margin_top2(scored, 11000)
                    .select("probe_id", "best_id")
                    .collect()
                }
                hits = len(brute_pairs & lsh_pairs)
                point["margin_lsh_pairs"] = len(lsh_pairs)
                point["margin_recall_x10k"] = int(
                    10000 * hits // max(len(brute_pairs), 1)
                )
                point["margin_recall_secs"] = round(time.perf_counter() - t0, 2)

                # IVF margin miner — the BUDGET-holding dual
                # (q_margin_mine_ivf's exact production generator:
                # k = ceil(sqrt(N)) certified cells, top-2 multiprobe,
                # home-cell join). Two curves this block evidences:
                # candidates ~ 2·N^1.5 BY CONSTRUCTION (vs the L-table
                # path's near-N² at this corpus's far-mate design
                # point), and recall DECAYING with k — the honest trade
                # the operator's contract states (recall is the
                # measured output, budget is the guarantee).
                ivf_k = int(math.ceil(math.sqrt(n_vecs)))
                point["margin_ivf_k"] = ivf_k
                t0 = time.perf_counter()
                icand = SIM.ivf_candidate_pairs(emb, k=ivf_k, iters=1, nprobe=2)
                n_icand = icand.count()
                point["margin_ivf_cand_pairs"] = n_icand
                point["margin_ivf_cand_secs"] = round(time.perf_counter() - t0, 2)
                point["margin_ivf_cand_frac_x10k"] = int(
                    10000 * n_icand // max(n_vecs * (n_vecs - 1), 1)
                )
                t0 = time.perf_counter()
                iscored = _score_pairs_broadcast(spark, icand, ids, vecs)
                ivf_pairs = {
                    (r["probe_id"], r["best_id"])
                    for r in SIM._margin_top2(iscored, 11000)
                    .select("probe_id", "best_id")
                    .collect()
                }
                ihits = len(brute_pairs & ivf_pairs)
                point["margin_ivf_pairs"] = len(ivf_pairs)
                point["margin_ivf_recall_x10k"] = int(
                    10000 * ihits // max(len(brute_pairs), 1)
                )
                point["margin_ivf_recall_secs"] = round(time.perf_counter() - t0, 2)
                flush("margin")

            if "marginpq" in want:
                # Own component (not folded into "margin") so the 60x
                # refresh doesn't re-pay the L-table block's near-N² scan
                # (1131s at 60x in r6) just to probe the new path.
                if "margin" not in want:
                    ids, labels, vecs = _collect_embedding_matrix(emb)
                    brute_pairs = _numpy_brute_margin(ids, labels, vecs)
                    point["margin_brute_rows"] = len(brute_pairs)

                # ADC-shortlisted PQ miner — the r7 path that closes the
                # duality (q_margin_mine_pq's exact production pipeline:
                # normalize -> certified PQ fit m=16 x 16 codes ->
                # compressed-domain scan -> sized top-C shortlist).
                # The two curves this block must evidence (VERDICT r6
                # item 2's done-criterion): candidate budget C·N with
                # C = size_adc_shortlist(N) ~ 2·sqrt(N), whose FRACTION
                # of N² falls ~4/sqrt(N) — and recall holding >= 0.85 at
                # every factor where IVF's nprobe=2 measures ~0.35.
                pq_c = SIM.size_adc_shortlist(n_vecs)
                point["margin_pq_shortlist"] = pq_c
                t0 = time.perf_counter()
                pq_norm = SIM.normalize_rounded(emb, out_col="nv").localCheckpoint()
                pq_book = SIM.pq_fit(
                    pq_norm, dim=64, m=16, k_codes=16, iters=1, vec_col="nv"
                )
                pq_codes = SIM.pq_encode(pq_norm, pq_book, dim=64, m=16, vec_col="nv")
                pcand = SIM.adc_shortlist_pairs(
                    pq_norm, pq_book, pq_codes, shortlist=pq_c, dim=64, m=16,
                    vec_col="nv",
                )
                n_pcand = pcand.count()
                point["margin_pq_cand_pairs"] = n_pcand
                point["margin_pq_cand_secs"] = round(time.perf_counter() - t0, 2)
                point["margin_pq_cand_frac_x10k"] = int(
                    10000 * n_pcand // max(n_vecs * (n_vecs - 1), 1)
                )
                t0 = time.perf_counter()
                pscored = _score_pairs_broadcast(spark, pcand, ids, vecs)
                pq_pairs = {
                    (r["probe_id"], r["best_id"])
                    for r in SIM._margin_top2(pscored, 11000)
                    .select("probe_id", "best_id")
                    .collect()
                }
                phits = len(brute_pairs & pq_pairs)
                point["margin_pq_pairs"] = len(pq_pairs)
                point["margin_pq_recall_x10k"] = int(
                    10000 * phits // max(len(brute_pairs), 1)
                )
                point["margin_pq_recall_secs"] = round(time.perf_counter() - t0, 2)
                flush("marginpq")

            if want & {"ivfadc", "ivfadcres", "csize", "msize"}:
                # shared assets for the r8 blocks, reused from the
                # margin/marginpq blocks when those ran in this JVM
                if not (want & {"margin", "marginpq"}):
                    ids, labels, vecs = _collect_embedding_matrix(emb)
                    # an msize-ONLY sampled run never touches the full
                    # N^2 brute reference — skipping it is what makes
                    # the 200x sampled msize probe fit the envelope
                    if want & {"ivfadc", "ivfadcres", "csize"} or not (
                        args.msize_sample > 0
                    ):
                        brute_pairs = _numpy_brute_margin(ids, labels, vecs)
                        point["margin_brute_rows"] = len(brute_pairs)
                if "marginpq" not in want:
                    pq_norm = SIM.normalize_rounded(
                        emb, out_col="nv"
                    ).localCheckpoint()
                    pq_book = SIM.pq_fit(
                        pq_norm, dim=64, m=16, k_codes=16, iters=1, vec_col="nv"
                    )
                    pq_codes = SIM.pq_encode(
                        pq_norm, pq_book, dim=64, m=16, vec_col="nv"
                    ).localCheckpoint()
                    pq_c = SIM.size_adc_shortlist(n_vecs)

            if want & {"ivfadc", "ivfadcres"}:
                # IVFADC (r8): the cell-pruned scan at the twelfths
                # ladder, ascending until the first rung clears the 0.85
                # floor — the SIZED operating point. The evidence VERDICT
                # r7 item 2 asks for: the sized scanned-code FRACTION
                # falling with N while recall holds the floor. The coarse
                # quantizer assets are shared by the flat and residual
                # ladders so the two curves differ only in the encoding.
                kk_cells = int(math.ceil(math.sqrt(n_vecs)))
                t0 = time.perf_counter()
                _, iv_cents = SIM.kmeans_fit_distributed(
                    emb, k=kk_cells, iters=1, round_dp=6
                )
                iv_ranked = SIM.assign_cells_ranked(
                    emb, iv_cents, n=kk_cells
                ).localCheckpoint()
                iv_home = iv_ranked.select(
                    "vec_id", F.element_at("cells", 1).alias("cell")
                )
                iv_cellsz = iv_home.groupBy("cell").agg(
                    F.count(F.lit(1)).alias("sz")
                ).localCheckpoint()
                iv_setup = round(time.perf_counter() - t0, 2)

                def run_ivfadc_ladder(tag, book, codes, anchors):
                    # r9: the mixed abs/frac rung family (SIM.IVFADC_RUNGS),
                    # ascended by REALIZED nprobe (dedup on collisions) and
                    # stopped at the first rung clearing the floor — so the
                    # sized point can sit on an absolute rung whose scanned
                    # fraction ~nprobe/sqrt(N) keeps falling with N, below
                    # the old frac-3 floor (VERDICT r8 item 2).
                    rungs = []
                    seen_np = set()
                    for kind, rung in sorted(
                        SIM.IVFADC_RUNGS,
                        key=lambda kr: (
                            SIM.ivfadc_rung_nprobe(kr[0], kr[1], kk_cells),
                            kr[0],
                            kr[1],
                        ),
                    ):
                        np_ = SIM.ivfadc_rung_nprobe(kind, rung, kk_cells)
                        if np_ in seen_np:
                            continue
                        seen_np.add(np_)
                        rungs.append((kind, rung, np_))
                    curve = []
                    sized = None
                    flat_gains = 0
                    for kind, rung, np_ in rungs:
                        t0 = time.perf_counter()
                        probes = pq_norm.select("vec_id", "label", "nv").join(
                            iv_ranked.select(
                                "vec_id", F.slice("cells", 1, np_).alias("pc")
                            ),
                            "vec_id",
                        )
                        pairs = SIM.adc_shortlist_pairs(
                            probes, book, codes, shortlist=pq_c, dim=64,
                            m=16, vec_col="nv", home_df=iv_home,
                            cells_col="pc", anchors_df=anchors,
                        )
                        iscored = _score_pairs_broadcast(spark, pairs, ids, vecs)
                        mined = {
                            (r["probe_id"], r["best_id"])
                            for r in SIM._margin_top2(iscored, 11000)
                            .select("probe_id", "best_id")
                            .collect()
                        }
                        secs = round(time.perf_counter() - t0, 2)
                        rec = int(
                            10000 * len(mined & brute_pairs)
                            // max(len(brute_pairs), 1)
                        )
                        n_sc = (
                            iv_ranked.select(
                                F.explode(F.slice("cells", 1, np_)).alias("cell")
                            )
                            .join(iv_cellsz, "cell")
                            .agg(F.sum("sz"))
                            .collect()[0][0]
                        )
                        entry = {
                            "kind": kind,
                            "rung": rung,
                            "nprobe": np_,
                            "scan_frac_x10k": int(
                                10000 * int(n_sc) // (n_vecs * n_vecs)
                            ),
                            "recall_x10k": rec,
                            "secs": secs,
                        }
                        curve.append(entry)
                        print(
                            json.dumps({"factor": k, f"{tag}_rung": entry}),
                            flush=True,
                        )
                        # per-rung artifact flush (VERDICT r10 item 5):
                        # the ladder is the long pole at depth — a kill
                        # mid-ladder keeps every measured rung on disk
                        point[f"{tag}_curve"] = curve
                        flush(None)
                        if rec >= 8500:
                            sized = entry
                            break
                        # plateau-stop (r10, after the 200x frac-6 rung
                        # OOM-killed the 16g probe JVM in the ~50%-scan
                        # regime): once TWO consecutive rungs each gain
                        # < 1% recall, the ladder has measurably
                        # saturated — the remaining rungs pay >= 2x scan
                        # for sub-1% recall, which no sizing rule would
                        # ever select, and the full-scan recall asymptote
                        # is measured separately by the msize component.
                        # Stopping here is a STATED rule recorded on the
                        # point (self-describing, the no-silent-caps
                        # convention), not a silent truncation.
                        if len(curve) >= 2 and (
                            rec - curve[-2]["recall_x10k"] < 100
                        ):
                            flat_gains += 1
                            if flat_gains >= 2:
                                point[f"{tag}_plateau_stop"] = (
                                    "2 consecutive rungs gained <1% recall"
                                )
                                break
                        else:
                            flat_gains = 0
                    point[f"{tag}_k_cells"] = kk_cells
                    point[f"{tag}_curve"] = curve
                    if sized is not None:
                        point[f"{tag}_sized_kind"] = sized["kind"]
                        point[f"{tag}_sized_rung"] = sized["rung"]
                        point[f"{tag}_sized_nprobe"] = sized["nprobe"]
                        point[f"{tag}_scan_frac_x10k"] = sized["scan_frac_x10k"]
                        point[f"{tag}_recall_x10k"] = sized["recall_x10k"]
                        point[f"{tag}_secs"] = sized["secs"]
                    else:
                        # no rung cleared the floor. A certified REFUSAL
                        # (VERDICT r9 item 5) is only emitted when the
                        # ladder was FULLY measured or the floor is
                        # unreachable even optimistically (ADVICE r10:
                        # a plateau-stopped ladder whose projection
                        # could still clear must NOT refuse — the next
                        # rung might clear, and the sizing rule would
                        # select it despite its scan cost)
                        verdict, proj = _ladder_refusal_decision(
                            curve, len(rungs) - len(curve)
                        )
                        point[f"{tag}_optimistic_projection_x10k"] = proj
                        if verdict == "refused":
                            point[f"{tag}_sized_refused"] = True
                            point[f"{tag}_route"] = (
                                "m32" if tag == "ivfadcres"
                                else "residual_ivfadc,m32"
                            )
                        # plateau_only: the plateau_stop marker recorded
                        # above is the only claim this truncated ladder
                        # can certify

            if "ivfadc" in want:
                point["ivfadc_setup_secs"] = iv_setup
                run_ivfadc_ladder("ivfadc", pq_book, pq_codes, None)
                flush("ivfadc")

            if "ivfadcres" in want:
                # RESIDUAL IVFADC (true IVFADC): anchors + residual
                # fit/encode on top of the shared coarse assets — the
                # recall-at-same-budget upgrade, expected to size a rung
                # cheaper than the flat ladder at every factor.
                t0 = time.perf_counter()
                iv_anchors = SIM.cell_anchors(
                    pq_norm, iv_home, vec_col="nv"
                ).localCheckpoint()
                iv_rv = SIM.residualize(
                    pq_norm.select("vec_id", "nv"), iv_home, iv_anchors,
                    vec_col="nv", out_col="rv",
                ).localCheckpoint()
                res_book = SIM.pq_fit(
                    iv_rv, dim=64, m=16, k_codes=16, iters=1, vec_col="rv"
                )
                res_codes = SIM.pq_encode(
                    iv_rv, res_book, dim=64, m=16, vec_col="rv"
                ).localCheckpoint()
                point["ivfadcres_setup_secs"] = round(
                    time.perf_counter() - t0 + iv_setup, 2
                )
                run_ivfadc_ladder("ivfadcres", res_book, res_codes, iv_anchors)
                flush("ivfadcres")

            if "msize" in want:
                # Code-budget axis at depth (r9): the 200x flat ladder
                # measures recall plateauing ~0.83 at ANY scanned-cell
                # fraction — code resolution binds there, not pruning.
                # This component measures the flat-scan recall at
                # m = 16 vs 32 bytes (sized C, production chain) so the
                # m-curve's driver-scale certification has deep-factor
                # evidence for WHERE the budget must grow.
                #
                # --msize-sample Q (r11, VERDICT r10 item 3): recall
                # estimated over Q SAMPLED query rows against the exact
                # brute top-margin ON THOSE SAME ROWS — the FAISS
                # benchmarking idiom. The probe-side scoring collapses
                # from N^2 to Q*N (scan AND brute), which is what fits
                # the container envelope at the 200x depth where the
                # full-corpus form OOM-killed two probe JVMs. Sampled
                # fields carry the _qsampled suffix + the Q and seed so
                # the artifact self-describes the estimator.
                q_n = args.msize_sample
                if q_n > 0:
                    rng = np.random.default_rng(13)
                    sidx = np.sort(
                        rng.choice(len(ids), size=min(q_n, len(ids)),
                                   replace=False)
                    )
                    point["msize_sample_queries"] = int(len(sidx))
                    point["msize_sample_seed"] = 13
                    m_brute = _numpy_brute_margin_x(
                        ids[sidx], labels[sidx], vecs[sidx],
                        ids, labels, vecs,
                    )
                    point["msize_brute_rows_qsampled"] = len(m_brute)
                    sample_df = spark.createDataFrame(
                        [(int(i),) for i in ids[sidx]], "vec_id long"
                    )
                    m_probes = pq_norm.join(
                        F.broadcast(sample_df), "vec_id"
                    ).localCheckpoint()
                    rec_key = "recall_x10k_qsampled"
                else:
                    m_brute = brute_pairs
                    m_probes = pq_norm
                    rec_key = "recall_x10k"
                m_curve = []
                for m_b in (16, 32):
                    t0 = time.perf_counter()
                    mb_book = SIM.pq_fit(
                        pq_norm, dim=64, m=m_b, k_codes=16, iters=1,
                        vec_col="nv",
                    )
                    mb_codes = SIM.pq_encode(
                        pq_norm, mb_book, dim=64, m=m_b, vec_col="nv"
                    )
                    pairs = SIM.adc_shortlist_pairs(
                        m_probes, mb_book, mb_codes, shortlist=pq_c,
                        dim=64, m=m_b, vec_col="nv",
                        index_df=pq_norm if q_n > 0 else None,
                    )
                    mscored = _score_pairs_broadcast(spark, pairs, ids, vecs)
                    mined = {
                        (r["probe_id"], r["best_id"])
                        for r in SIM._margin_top2(mscored, 11000)
                        .select("probe_id", "best_id")
                        .collect()
                    }
                    entry = {
                        "code_bytes": m_b,
                        rec_key: int(
                            10000 * len(mined & m_brute)
                            // max(len(m_brute), 1)
                        ),
                        "secs": round(time.perf_counter() - t0, 2),
                    }
                    m_curve.append(entry)
                    print(json.dumps({"factor": k, "msize_rung": entry}), flush=True)
                    point["msize_curve"] = m_curve
                    flush(None)
                flush("msize")

            if "csize" in want:
                # Recall-targeted shortlist sizing (r8, VERDICT r7
                # item 3): the C-multiplier ladder at this factor and the
                # SIZED multiplier holding the 0.85 floor — the deep-
                # factor evidence that size_adc_mult provisions C where
                # the frozen mult-2 rule thins.
                rt = int(math.isqrt(max(n_vecs - 1, 0))) + 1
                c_curve = []
                for mult in (1, 2, 3):
                    cc = max(32, mult * rt)
                    t0 = time.perf_counter()
                    pairs = SIM.adc_shortlist_pairs(
                        pq_norm, pq_book, pq_codes, shortlist=cc,
                        dim=64, m=16, vec_col="nv",
                    )
                    cscored = _score_pairs_broadcast(spark, pairs, ids, vecs)
                    mined = {
                        (r["probe_id"], r["best_id"])
                        for r in SIM._margin_top2(cscored, 11000)
                        .select("probe_id", "best_id")
                        .collect()
                    }
                    entry = {
                        "mult": mult,
                        "c": cc,
                        "recall_x10k": int(
                            10000 * len(mined & brute_pairs)
                            // max(len(brute_pairs), 1)
                        ),
                        "secs": round(time.perf_counter() - t0, 2),
                    }
                    c_curve.append(entry)
                    print(json.dumps({"factor": k, "csize_rung": entry}), flush=True)
                    point["pq_c_curve"] = c_curve
                    flush(None)
                sized_mult = SIM.size_adc_mult(
                    [(e["mult"], e["recall_x10k"]) for e in c_curve], 8500
                )
                point["pq_c_sized_mult"] = sized_mult
                if sized_mult is not None:
                    srow = next(e for e in c_curve if e["mult"] == sized_mult)
                    point["pq_c_sized_c"] = srow["c"]
                    point["pq_c_sized_recall_x10k"] = srow["recall_x10k"]
                flush("csize")

            if "xpq" in want:
                # Cross-corpus PQ margin mining at scale (VERDICT r7
                # item 8): the incremental-ingest shape — new batch
                # (vec_id % 3 == 0) probes the accumulated reference —
                # with its OWN asymmetric brute audit. Per-batch cost is
                # LINEAR in the batch at fixed index; this block
                # evidences recall holding and wall scaling at depth.
                if not (want & {"margin", "marginpq", "ivfadc", "csize"}):
                    ids, labels, vecs = _collect_embedding_matrix(emb)
                new_emb = emb.filter(F.col("vec_id") % 3 == 0)
                ref_emb = emb.filter(F.col("vec_id") % 3 != 0)
                t0 = time.perf_counter()
                xmined = {
                    (r["probe_id"], r["best_id"])
                    for r in SIM.margin_mine_pq_xcorpus(
                        new_emb, ref_emb, dim=64, m=16, k_codes=16,
                        iters=1, min_margin_x10k=11000,
                    )
                    .select("probe_id", "best_id")
                    .collect()
                }
                point["xpq_secs"] = round(time.perf_counter() - t0, 2)
                point["xpq_pairs"] = len(xmined)
                mask = ids % 3 == 0
                brute_x = _numpy_brute_margin_x(
                    ids[mask], labels[mask], vecs[mask],
                    ids[~mask], labels[~mask], vecs[~mask],
                )
                point["xpq_brute_rows"] = len(brute_x)
                point["xpq_recall_x10k"] = int(
                    10000 * len(xmined & brute_x) // max(len(brute_x), 1)
                )
                flush("xpq")

            if "xres" in want:
                # Cross-corpus RESIDUAL-IVFADC mining at scale: the
                # ingest-tier shape of the residual index — new batch
                # probes ceil(k/2) cells of the standing reference's
                # residual code lists. Evidences recall holding at depth
                # with the pruned scan AND the finer residual ranking.
                if not (want & {"margin", "marginpq", "ivfadc",
                                "ivfadcres", "csize", "xpq"}):
                    ids, labels, vecs = _collect_embedding_matrix(emb)
                new_emb = emb.filter(F.col("vec_id") % 3 == 0)
                ref_emb = emb.filter(F.col("vec_id") % 3 != 0)
                t0 = time.perf_counter()
                xrmined = {
                    (r["probe_id"], r["best_id"])
                    for r in SIM.margin_mine_ivfadc_xcorpus(
                        new_emb, ref_emb, dim=64, m=16, k_codes=16,
                        iters=1, min_margin_x10k=11000, residual=True,
                    )
                    .select("probe_id", "best_id")
                    .collect()
                }
                point["xres_secs"] = round(time.perf_counter() - t0, 2)
                point["xres_pairs"] = len(xrmined)
                mask = ids % 3 == 0
                if "xpq" in want:
                    brute_xr = brute_x  # same split, same audit — reuse
                else:
                    brute_xr = _numpy_brute_margin_x(
                        ids[mask], labels[mask], vecs[mask],
                        ids[~mask], labels[~mask], vecs[~mask],
                    )
                point["xres_brute_rows"] = len(brute_xr)
                point["xres_recall_x10k"] = int(
                    10000 * len(xrmined & brute_xr) // max(len(brute_xr), 1)
                )
                flush("xres")

            if "div" in want:
                # Diversity selection (r8): greedy k-center + MMR are k
                # broadcast-scan rounds — wall should grow LINEARLY with
                # the corpus at fixed k (the kmeans-E-step shape).
                from dais2021imageprocessingondeltalake_spark.operators import (
                    diversity as DIV,
                )

                t0 = time.perf_counter()
                kc_rows = DIV.kcenter_select(emb, k=8).collect()
                point["kcenter_secs"] = round(time.perf_counter() - t0, 2)
                point["kcenter_rows"] = len(kc_rows)
                point["kcenter_radius_x10k"] = int(
                    10000 * min(r["sel_dist"] for r in kc_rows if r["sel_dist"] is not None)
                )
                t0 = time.perf_counter()
                mm_rows = DIV.mmr_select(emb, k=8).collect()
                point["mmr_secs"] = round(time.perf_counter() - t0, 2)
                point["mmr_rows"] = len(mm_rows)
                # fused forms (r9): same trajectories (bit-identity is
                # pytest-certified; asserted again here), fewer scans —
                # the wall-clock delta at depth is the fusion's value
                t0 = time.perf_counter()
                kcf = DIV.kcenter_select_fused(emb, k=8, batch_rounds=4).collect()
                point["kcenter_fused_secs"] = round(time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                mmf = DIV.mmr_select_fused(emb, k=8, batch_rounds=4).collect()
                point["mmr_fused_secs"] = round(time.perf_counter() - t0, 2)
                assert sorted(map(tuple, kcf)) == sorted(map(tuple, kc_rows))
                assert sorted(map(tuple, mmf)) == sorted(map(tuple, mm_rows))
                flush("div")

            if "gram" in want:
                # Gram matrix partial-sum aggregate (linear in n_vecs,
                # reduce input fixed at d^2 per partition)
                t0 = time.perf_counter()
                point["gram_rows"] = SIM.gram_matrix(emb, "embedding", round_dp=6).count()
                point["gram_secs"] = round(time.perf_counter() - t0, 2)
                flush("gram")

            result["points"].append(point)
            print(json.dumps(point), flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    payload = _write_artifact(out_path, result, args.append)
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
