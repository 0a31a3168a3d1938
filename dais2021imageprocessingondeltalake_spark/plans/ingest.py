"""Ingest ETL pipeline — full reference parity (`01. Ingest.py` end-to-end,
traced at SURVEY.md §3.1) on the synthetic PNG fixtures:

    binaryFile scan (:33-36)
    → select(path, regex label, size-struct UDF, content) (:66-70)
    → label_index (:76-87 — broadcast dense-index join replaces the
      driver-collected dict; same sorted-dense-rank semantics)
    → groupBy(label).applyInPandas(augment) (:102-126)
    → leftouter re-join on the non-unique label key (:129 — preserving
      the deliberate |group|x|group| fan-out, SURVEY.md §3.1)
    → binary-tuned write (:176-183)

Differences from the reference are scale policies, not semantics:
- label dictionary: `row_number() over (order by label) - 1` broadcast
  join instead of collect()+closure dict — no driver data path (the
  reference's `:76` collect is exactly what breaks at 100 TB).
- grayscale augmentation: the fixtures are single-channel PNGs, so the
  pixel transform is invert (255-v) — same pipeline shape (decode →
  transform → re-encode 'png'), no PIL dependency.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udf import grouped_apply, scalar_pandas_udf
from ..operators.joins import broadcast_join, dense_index_dim, left_outer_join
from ..operators.multimodal import decode_image, encode_png_gray
from ..sources.binaryfiles import _image_size_batch, scan_binary_files
from ..sources.tables import write_table

LABEL_REGEX = r"flower_photos/([^/]+)"  # `01. Ingest.py:50-52`


def load_labeled(spark: SparkSession, image_dir: str, limit: int | None = None) -> DataFrame:
    """Scan + project + label + size + dense label index
    (`01. Ingest.py:33-88` minus the driver dict)."""
    return _with_label_index(_scan_labeled(spark, image_dir, limit))


def _scan_labeled(spark: SparkSession, image_dir: str, limit: int | None) -> DataFrame:
    """(path, label, size, content) of every image under `image_dir`."""
    size_udf = scalar_pandas_udf(_image_size_batch, "width: int, height: int")
    # mixed-format glob: the reference ingests `*.jpg` (`01. Ingest.py:35`);
    # the engine decodes PNG and baseline JPEG through one dispatch
    df = scan_binary_files(spark, image_dir, glob="*.{png,jpg}", recursive=True).select(
        F.col("path"),
        F.regexp_extract(F.col("path"), LABEL_REGEX, 1).alias("label"),
        F.col("content"),
    )
    df = df.select("path", "label", size_udf(F.col("content")).alias("size"), "content")
    return df.limit(limit) if limit else df


def _with_label_index(df: DataFrame) -> DataFrame:
    """Attach `label_index`. The dim holds every label of `df`, and a
    label (regexp_extract of a non-null path) is never null, so the inner
    join drops no row."""
    return broadcast_join(df, dense_index_dim(df, "label", "label_index"), ["label"], "inner")


def augment_grayscale(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map augmentation (`01. Ingest.py:108-114`): per-label
    pandas frame in; emit (label, augmented bytes, format). The reference
    converts RGB→'L' and re-encodes PNG (:102-105); our single-channel
    fixtures invert instead — same decode→transform→encode shape."""
    out = []
    for content in pdf["content"]:
        px = decode_image(content)
        out.append(encode_png_gray((255 - px).astype("uint8")))
    return pd.DataFrame(
        {
            "label": pdf["label"],
            "grayscale_image": out,
            "grayscale_format": ["png"] * len(out),
        }
    )


def ingest_pipeline(
    spark: SparkSession,
    image_dir: str,
    out_path: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """The full `01. Ingest.py` flow. Returns the augmented table
    (and writes it when out_path is given, with §4.2 binary policies)."""
    scanned = _scan_labeled(spark, image_dir, limit)
    labeled = _with_label_index(scanned)
    # augment the scan itself: the index join drops no row, and reading
    # `labeled` here would plan that join (a scan and a broadcast) twice
    augmented = grouped_apply(
        scanned.select("content", "label", "path"),  # :118,123 column pruning
        ["label"],
        augment_grayscale,
        "label string, grayscale_image binary, grayscale_format string",
    )
    # :129 — leftouter on the non-unique key: every row of a label group
    # pairs with every augmented row of that group (fan-out preserved)
    result = left_outer_join(labeled, augmented, ["label"])
    if out_path:
        write_table(result, out_path, merge_schema=True, binary_payload=True)
    return result
