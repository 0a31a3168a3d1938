"""The workloads: what each stages, which operations a pass runs,
and the reference each operation's output is checked against.

An operation is one registered-query call or one pipeline-stage call. It
runs in phases (build/plan/exec for a query; the plan step's own name for
a pipeline stage); `Recorder.phase` times each one and, in the traced
session, tags its Spark jobs with a job group, so every job is attributed
to (pass, operation, phase). Outputs are kept and checked after the pass,
so checking never falls inside a timed interval.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, inputs

CURATION_QUERIES = (
    "q_dedup_exact",
    "q_minhash_lsh_md5",
    "q_embedding_topk",
    "q_text_stats",
    "q_heavy_hitters",
)
STREAM_FILES = 2  # inference stream source: one file per trigger
EVENT_FILES = 1  # stateful leg source; each micro-batch costs ~2 s at 32 state partitions
WINDOW = "6 hours"
_WINDOW_US = 6 * 3600 * 1_000_000
# file-stream sources need a schema up front; these match inputs.py
IMAGE_ROWS_SCHEMA = "path string, label string, content binary"
EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
)


def _open_parquet(path: Path) -> pa.Table:
    files = sorted(p for p in path.rglob("*.parquet") if not p.name.startswith((".", "_")))
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else pa.table({})


class CurationWorkload:
    """Registered curation queries over the staged corpus; references come
    from the registry's DuckDB oracle SQL, run once on the base copy."""

    names = CURATION_QUERIES
    nominal_pass_s = 5.5  # warm pass time on 4 cores; sets the pass count, never a result

    def stage(self, seed: int, root: Path) -> None:
        import duckdb

        from dais2021imageprocessingondeltalake_spark.registry import REGISTRY

        self.seed = seed
        self.tables = inputs.corpus_tables(seed)
        base = root / "base"
        inputs.write_tables(self.tables, base)
        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet')")
        self.refs = {}
        for n in self.names:
            rel = con.sql(REGISTRY[n].oracle)
            self.refs[n] = checks.canonical(list(rel.columns), rel.fetchall())
        con.close()

    def stage_pass(self, p: int, root: Path) -> Path:
        d = root / f"pass_{p:03d}"
        inputs.write_tables({k: inputs.permuted(v, self.seed, p) for k, v in self.tables.items()}, d)
        return d

    def ops(self, spark, p: int, pass_dir: Path):
        from dais2021imageprocessingondeltalake_spark.registry import REGISTRY

        order = list(self.names)
        np.random.default_rng([self.seed, 200, p]).shuffle(order)
        for name in order:
            yield name, (lambda rec, fn=REGISTRY[name].fn: self._run(spark, fn, pass_dir, rec))

    @staticmethod
    def _run(spark, fn, pass_dir, rec):
        with rec.phase("build"):
            df = fn(spark, str(pass_dir))
        with rec.phase("plan"):
            df._jdf.queryExecution().executedPlan()
        with rec.phase("exec"):
            rows = df.collect()
        return df.columns, rows

    def check(self, name: str, output, pass_dir: Path) -> str | None:
        return checks.diff(checks.canonical(*output), self.refs[name])


# --- etl_stream ---------------------------------------------------------------


def predict(pdf):
    """Deterministic stand-in model: class and probabilities from the
    md5 of the image bytes, as `[class, probabilities-JSON]`."""
    out = []
    for content in pdf["content"]:
        h = hashlib.md5(bytes(content)).digest()
        scores = [h[i] + 1 for i in range(len(inputs.LABELS))]
        total = sum(scores)
        best = max(range(len(scores)), key=lambda i: (scores[i], -i))
        probs = {lab: f"{s / total:.4f}" for lab, s in zip(inputs.LABELS, scores)}
        out.append([inputs.LABELS[best], json.dumps(probs, sort_keys=True)])
    return out


class EtlStreamWorkload:
    """Ingest → train-prep → batch inference → streaming inference, plus a
    stateful windowed aggregation over a file stream. References are pure
    Python over the generated corpus and events."""

    names = ("ingest", "trainprep", "inference_batch", "inference_stream", "window_stream")
    nominal_pass_s = 6.5

    def stage(self, seed: int, root: Path) -> None:
        from dais2021imageprocessingondeltalake_spark.sources.jpeg import encode_jpeg_gray

        self.seed = seed
        self.corpus = inputs.image_corpus(seed)
        inputs.encode_corpus(self.corpus, lambda px: encode_jpeg_gray(px, quality=90))
        self.events = inputs.events_table(seed)
        labels = sorted({img["label"] for img in self.corpus})
        self.label_index = {lab: i for i, lab in enumerate(labels)}
        self.per_label = Counter(img["label"] for img in self.corpus)
        self.ref_predictions = Counter(
            (img["name"], img["label"], tuple(pr))
            for img, pr in zip(self.corpus, predict({"content": [i["content"] for i in self.corpus]}))
        )
        self.ref_train = Counter()
        for img in self.corpus:
            key = (hashlib.md5(img["content"]).hexdigest(), self.label_index[img["label"]])
            self.ref_train[key] += self.per_label[img["label"]]
        ev = self.events
        agg: dict = {}
        for us, et, v in zip(
            ev.column("ts").cast(pa.int64()).to_pylist(),
            ev.column("event_type").to_pylist(),
            ev.column("value").to_pylist(),
        ):
            k = (us // _WINDOW_US, et)
            n, cents, mx = agg.get(k, (0, 0, float("-inf")))
            agg[k] = (n + 1, cents + round(v * 100), max(mx, v))
        self.ref_windows = sorted(
            (w * _WINDOW_US, et, n, cents, mx) for (w, et), (n, cents, mx) in agg.items()
        )

    def stage_pass(self, p: int, root: Path) -> Path:
        d = root / f"pass_{p:03d}"
        base = inputs.write_image_tree(self.corpus, d / "images", self.seed, p)
        rows = inputs.image_rows_table(self.corpus, base)
        inputs.write_split(rows, d / "stream_src", STREAM_FILES, self.seed, p)
        inputs.write_split(self.events, d / "events", EVENT_FILES, self.seed, p)
        return d

    def ops(self, spark, p: int, d: Path):
        from pyspark.sql import functions as F

        from dais2021imageprocessingondeltalake_spark.plans import inference, ingest, trainprep
        from dais2021imageprocessingondeltalake_spark.streaming import stream, windows

        out = d / "out"
        transform = inference.score_transform(predict, ["content"])

        def do_ingest(rec):
            with rec.phase("ingest"):
                ingest.ingest_pipeline(
                    spark, str(d / "images" / "flower_photos"), out_path=str(out / "ingest")
                )
            return None

        def do_trainprep(rec):
            with rec.phase("trainprep"):
                train, val, n_classes = trainprep.prepare_training_data(
                    spark.read.parquet(str(out / "ingest")), limit=None
                )
                trainprep.write_training_cache(train, str(out / "train"))
                trainprep.write_training_cache(val, str(out / "val"))
            with rec.phase("read_batches"):
                n_read, digests = 0, Counter()
                for batch in trainprep.read_training_batches(
                    str(out / "train"), batch_size=32, shuffle_seed=self.seed
                ):
                    n_read += len(batch["label_index"])
                    digests.update(
                        (hashlib.md5(bytes(c)).hexdigest(), int(lab))
                        for c, lab in zip(batch["content"], batch["label_index"])
                    )
            return n_classes, n_read, digests

        def do_batch(rec):
            with rec.phase("inference_batch"):
                inference.batch_inference(
                    spark.read.parquet(str(d / "stream_src")), transform, out_path=str(out / "scored_batch")
                )
            return None

        def do_stream(rec):
            with rec.phase("inference_stream"):
                inference.streaming_inference(
                    spark, str(d / "stream_src"), IMAGE_ROWS_SCHEMA, transform,
                    str(out / "scored_stream"), str(d / "ckpt_inference"),
                )
            return None

        def do_window(rec):
            with rec.phase("window_stream"):
                src = (
                    spark.readStream.schema(EVENTS_SCHEMA)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(str(d / "events"))
                )
                agg = windows.tumbling_window_agg(
                    src, "ts", WINDOW,
                    [
                        F.count("*").alias("n"),
                        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
                        F.max("value").alias("max_value"),
                    ],
                    extra_keys=["event_type"],
                )
                rows = stream.run_stream_to_memory(
                    agg, output_mode="complete", checkpoint_dir=str(d / "ckpt_window")
                ).collect()
            return rows

        yield "ingest", do_ingest
        yield "trainprep", do_trainprep
        yield "inference_batch", do_batch
        yield "inference_stream", do_stream
        yield "window_stream", do_window

    # -- checks ---------------------------------------------------------------

    def _predictions(self, path: Path) -> Counter:
        t = _open_parquet(path).to_pydict()
        return Counter(
            (Path(p).name.split("_", 1)[1].rsplit(".", 1)[0], lab, tuple(pr))
            for p, lab, pr in zip(t["path"], t["label"], t["my_predictions"])
        )

    def check(self, name: str, output, d: Path) -> str | None:
        out = d / "out"
        if name == "ingest":
            return self._check_ingest(_open_parquet(out / "ingest").to_pydict())
        if name == "trainprep":
            n_classes, n_read, digests = output
            train = _open_parquet(out / "train")
            val = _open_parquet(out / "val").to_pydict()
            if n_classes != len(self.label_index):
                return f"n_classes {n_classes} != {len(self.label_index)}"
            if n_read != train.num_rows:
                return f"read {n_read} rows of a {train.num_rows}-row cache"
            both = digests + Counter(
                (hashlib.md5(c).hexdigest(), lab) for c, lab in zip(val["content"], val["label_index"])
            )
            return None if both == self.ref_train else "train+val rows differ from the ingested rows"
        if name == "inference_batch":
            got = self._predictions(out / "scored_batch")
            return None if got == self.ref_predictions else "batch predictions differ from the reference"
        if name == "inference_stream":
            got = self._predictions(out / "scored_stream")
            if got != self._predictions(out / "scored_batch"):
                return "streamed predictions differ from batch predictions"
            return None if got == self.ref_predictions else "streamed predictions differ from the reference"
        if name == "window_stream":
            got = sorted(
                (int(r["window"]["start"].timestamp()) * 1_000_000, r["event_type"],
                 r["n"], r["cents"], r["max_value"])
                for r in output
            )
            if len(got) != len(self.ref_windows):
                return f"{len(got)} windows, want {len(self.ref_windows)}"
            bad = [(g, w) for g, w in zip(got, self.ref_windows) if g != w]
            return f"window differs: got {bad[0][0]} want {bad[0][1]}" if bad else None
        return f"unknown operation {name}"

    def _check_ingest(self, t: dict) -> str | None:
        n = len(t["path"])
        want = sum(c * c for c in self.per_label.values())
        if n != want:
            return f"ingest wrote {n} rows, want sum(n_label^2) = {want}"
        by_name = {img["name"]: img for img in self.corpus}
        outputs: dict[str, Counter] = {}
        for path, label, idx, size, gray, fmt in zip(
            t["path"], t["label"], t["label_index"], t["size"], t["grayscale_image"], t["grayscale_format"]
        ):
            img = by_name[Path(path).name.split("_", 1)[1].rsplit(".", 1)[0]]
            if label != img["label"] or idx != self.label_index[label]:
                return f"label/label_index wrong for {path}"
            if (size["width"], size["height"]) != (img["width"], img["height"]):
                return f"size {size} wrong for {path}"
            if fmt != "png":
                return f"grayscale_format {fmt!r}"
            outputs.setdefault(label, Counter())[gray] += 1
        for label, grays in outputs.items():
            n_l = self.per_label[label]
            if sorted(grays.values()) != [n_l] * n_l:
                return f"label {label}: augmented rows do not fan out {n_l} x {n_l}"
            decoded = [inputs.decode_png_gray(g) for g in grays]
            for img in (i for i in self.corpus if i["label"] == label):
                want_px = 255 - img["pixels"].astype(np.int32)
                if img["fmt"] == "png":
                    hit = any(px.shape == want_px.shape and (px == want_px).all() for px in decoded)
                else:  # lossy source: same shape, close pixels
                    hit = any(
                        px.shape == want_px.shape and np.abs(px.astype(np.int32) - want_px).mean() < 3.0
                        for px in decoded
                    )
                if not hit:
                    return f"no inverted image for {img['name']} ({img['fmt']})"
        return None


WORKLOADS = {"curation": CurationWorkload, "etl_stream": EtlStreamWorkload}
