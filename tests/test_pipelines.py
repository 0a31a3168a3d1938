"""Pipeline golden tests (SURVEY.md §5.2 item 3): reproduce the reference
pipelines on synthetic fixtures and assert the invariants FIXTURES.md
F2/F3/F6 specify — fan-out cardinality, PNG magic bytes, dense label
index, split disjointness, stream==batch inference."""

from __future__ import annotations

import json
import tempfile

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dais2021imageprocessingondeltalake_spark.operators.multimodal import (
    decode_image,
    decode_png_gray,
    image_features,
    resize_images,
    sample_frames,
    with_image_size,
)
from dais2021imageprocessingondeltalake_spark.plans.inference import (
    batch_inference,
    score_transform,
    streaming_inference,
)
from dais2021imageprocessingondeltalake_spark.plans.ingest import (
    ingest_pipeline,
    load_labeled,
)
from dais2021imageprocessingondeltalake_spark.plans.trainprep import (
    prepare_training_data,
    write_training_cache,
)
from dais2021imageprocessingondeltalake_spark.sources.binaryfiles import PNG_SIGNATURE
from dais2021imageprocessingondeltalake_spark.sources.fixtures import (
    IMAGES_PER_LABEL,
    JPEGS_PER_LABEL,
    LABELS,
    image_fixture_dir,
)


def test_ingest_labeled_invariants(spark):
    """F2: label from path; size == decoded dims; label_index == dense
    rank of sorted labels (the reference's sorted-dict semantics,
    `01. Ingest.py:76-78`)."""
    df = load_labeled(spark, image_fixture_dir())
    rows = df.collect()
    assert len(rows) == len(LABELS) * (IMAGES_PER_LABEL + JPEGS_PER_LABEL)
    expected_index = {lbl: i for i, lbl in enumerate(sorted(LABELS))}
    for r in rows:
        assert r["label"] in LABELS
        assert r["label_index"] == expected_index[r["label"]]
        px = decode_image(r["content"])  # PNG and JPEG fixtures both decode
        assert (r["size"]["height"], r["size"]["width"]) == px.shape


def test_ingest_fanout_and_grayscale(spark):
    """F3: leftouter on the non-unique label key row-multiplies each
    group: |group| x |group| rows per label (SURVEY.md §3.1); augmented
    bytes are valid PNG; invert-augmentation actually inverted pixels."""
    result = ingest_pipeline(spark, image_fixture_dir())
    per_label = {
        r["label"]: r["n"]
        for r in result.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_files = IMAGES_PER_LABEL + JPEGS_PER_LABEL
    assert per_label == {lbl: n_files**2 for lbl in LABELS}
    sample = result.limit(5).collect()
    for r in sample:
        assert bytes(r["grayscale_image"])[:8] == PNG_SIGNATURE
        assert r["grayscale_format"] == "png"
    # inversion semantics checked directly on the grouped-map function:
    # augmented pixels must equal 255 - source pixels, row for row
    from dais2021imageprocessingondeltalake_spark.plans.ingest import augment_grayscale

    src = result.filter(F.col("label") == "daisy").select("content").distinct().collect()
    pdf = pd.DataFrame(
        {"label": ["daisy"] * len(src), "content": [bytes(r["content"]) for r in src]}
    )
    out = augment_grayscale(pdf)
    for original, augmented in zip(pdf["content"], out["grayscale_image"]):
        # original may be PNG or JPEG; augmented output is always PNG
        assert (decode_png_gray(augmented) == 255 - decode_image(original)).all()


def test_ingest_plan_reads_the_scan_for_augmentation(spark):
    """The augmentation branch reads the labelled scan, not its join with
    the label dim: 3 binaryFile scans (facts, dim, augmentation) and 2
    BroadcastExchanges (dim, augmented groups) in the executed plan."""
    result = ingest_pipeline(spark, image_fixture_dir())
    result.collect()
    plan = result._jdf.queryExecution().executedPlan()
    assert plan.toString().startswith("AdaptiveSparkPlan isFinalPlan=true")
    final = plan.executedPlan().toString()
    assert final.count("FileScan binaryFile") == 3
    assert final.count("BroadcastExchange") == 2


def test_trainprep_flow(spark):
    df = load_labeled(spark, image_fixture_dir())
    train, val, n_classes = prepare_training_data(
        df, limit=18, weights=(0.6, 0.4), seed=12345, min_partitions=2
    )
    assert n_classes == len({r["label_index"] for r in df.limit(18).collect()})
    n_train, n_val = train.count(), val.count()
    assert n_train + n_val == 18
    assert train.rdd.getNumPartitions() >= 2
    cache = tempfile.mkdtemp(prefix="dais_mlcache_") + "/train"
    write_training_cache(train, cache)
    assert spark.read.parquet(cache).count() == n_train


def test_inference_stream_equals_batch(spark):
    """§3.3: one transform, applied to the bounded table and to an
    incremental stream over the same files, must agree."""

    def predict(batch: pd.DataFrame):
        return [
            [LABELS[int(n) % len(LABELS)], json.dumps({"p": int(n) % 100})]
            for n in batch["length"]
        ]

    transform = score_transform(predict, ["length"])

    base = tempfile.mkdtemp(prefix="dais_inf_")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    fixture = image_fixture_dir()
    raw = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.png")
        .load(fixture)
        .select("path", "length", "content")
    )
    # write as several files so maxFilesPerTrigger yields >1 micro-batch
    raw.repartition(4).write.parquet(src)

    table = spark.read.parquet(src)
    batch = batch_inference(table, transform).select("path", "my_predictions")
    streaming_inference(
        spark,
        src,
        table.schema,
        transform,
        out,
        ckpt,
        max_files_per_trigger=1,
    )
    stream = spark.read.parquet(out).select("path", "my_predictions")
    assert batch.exceptAll(stream).count() == 0
    assert stream.exceptAll(batch).count() == 0
    # prediction shape: [class, probabilities-JSON] like the reference
    one = batch.first()["my_predictions"]
    assert len(one) == 2 and one[0] in LABELS and json.loads(one[1])


def test_multimodal_ops(spark):
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.png")
        .load(image_fixture_dir())
        .select("path", "content")
    )
    sized = with_image_size(df)
    assert sized.filter(F.col("size.width") >= 8).count() == df.count()

    resized = resize_images(df, 4, 4)
    for r in resized.limit(3).collect():
        assert decode_png_gray(bytes(r["resized"])).shape == (4, 4)

    feats = image_features(df)
    row = feats.first()
    assert len(row["features"]) == 4
    assert 0 <= row["features"][0] <= 255  # mean pixel

    frames_src = spark.createDataFrame(
        [("v1", bytes(range(16)) * 4)], ["path", "content"]
    )
    frames = sample_frames(frames_src, every_nth=2, frame_bytes=16)
    got = frames.collect()
    assert [r["frame_no"] for r in got] == [0, 2]
    assert all(len(bytes(r["frame"])) == 16 for r in got)


def test_audio_features(spark):
    """Raw-PCM DSP: sine clips must show amplitude-ordered RMS and
    frequency-ordered zero-crossing rates."""
    from dais2021imageprocessingondeltalake_spark.operators.multimodal import audio_features
    from dais2021imageprocessingondeltalake_spark.sources.fixtures import (
        CLIP_SAMPLES,
        CLIPS,
        audio_fixture_dir,
    )

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pcm")
        .load(audio_fixture_dir())
        .select("path", "content")
    )
    rows = {r["path"].split("/")[-1]: r for r in audio_features(df).collect()}
    assert len(rows) == CLIPS
    for name, r in rows.items():
        i = int(name.split("_")[1].split(".")[0])
        expected_amp = 0.2 + 0.1 * (i % 5)
        # RMS of a sine = amp/sqrt(2), within quantization tolerance
        assert abs(r["rms"] - expected_amp / 2**0.5) < 0.01, name
        # zcr of a sine at freq f is ~2f/sample_rate
        assert abs(r["zcr"] - 2 * 110 * (i + 1) / 16000) < 0.01, name
        assert abs(r["duration_sec"] - CLIP_SAMPLES / 16000) < 1e-9
