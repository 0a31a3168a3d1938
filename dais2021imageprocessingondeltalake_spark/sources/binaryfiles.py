"""Binary-file / image source scans (SURVEY.md §2 A1-A2).

The reference loads images two ways: the Databricks `image` source with
its fixed struct schema (`00. Explore.py:45`) and the `binaryFile` source
(`01. Ingest.py:33-36`). Off-Databricks the portable form is binaryFile +
a decode step, which is also how the engine treats every multimodal
payload: opaque `content: binary` + typed metadata columns, decode late
(SURVEY.md §4.2).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def scan_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """A2 — `spark.read.format("binaryFile")` with the reference's options
    (`recursiveFileLookup`, `pathGlobFilter` — `01. Ingest.py:33-36`).
    Schema is source-fixed: (path string, modificationTime timestamp,
    length long, content binary). pathGlobFilter prunes at file listing —
    filtering before any byte is read."""
    reader = spark.read.format("binaryFile").option(
        "recursiveFileLookup", str(recursive).lower()
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def scan_images(spark: SparkSession, path: str, glob: str = "*.{png,jpg}") -> DataFrame:
    """A1 — portable re-implementation of the `image` source: binaryFile
    scan + header-decoded metadata struct (origin/width/height), matching
    the image-struct shape at `00. Explore.py:45` without a JVM codec.
    PNG and JPEG headers both parse (the reference's data is JPEG —
    `01. Ingest.py:35`); full pixel decode stays a late `mapInPandas`
    step (operators/multimodal)."""
    df = scan_binary_files(spark, path, glob=glob)
    from ..functions.udf import scalar_pandas_udf

    size_udf = scalar_pandas_udf(_image_size_batch, "width: int, height: int")
    return df.select(
        F.struct(
            F.col("path").alias("origin"),
            size_udf(F.col("content")).alias("size"),
            F.col("length").alias("nBytes"),
        ).alias("image"),
        "content",
    )


# ---------------------------------------------------------------------------
# PNG codec-free helpers: the container has no image libraries, but PNG
# headers are 8 bytes of signature + IHDR — parse width/height directly.
# This is the engine's stand-in for the reference's PIL decode
# (`01. Ingest.py:54-62`); full pixel decode is stubbed (multimodal.py).
# ---------------------------------------------------------------------------
def png_size(content: bytes) -> tuple[int, int]:
    """Parse (width, height) from a PNG IHDR chunk."""
    if content[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG")
    w, h = struct.unpack(">II", content[16:24])
    return int(w), int(h)


def image_size(content: bytes) -> tuple[int, int]:
    """Header-only (width, height) for any supported image payload —
    dispatch by magic bytes (PNG IHDR / JPEG SOF)."""
    if content[:8] == PNG_SIGNATURE:
        return png_size(content)
    if content[:2] == b"\xff\xd8":
        from .jpeg import jpeg_size

        return jpeg_size(bytes(content))
    raise ValueError("unsupported image format (PNG and baseline JPEG only)")


def _image_size_batch(contents):
    import pandas as pd

    sizes = [image_size(c) for c in contents]
    return pd.DataFrame({"width": [s[0] for s in sizes], "height": [s[1] for s in sizes]})


def assemble_png_gray(width: int, height: int, row_bytes: list[bytes]) -> bytes:
    """Assemble an 8-bit grayscale PNG (filter 0) from raw scanline bytes
    — the single codec shared by the fixture generator and the multimodal
    re-encoder (operators/multimodal.encode_png_gray)."""

    def chunk(tag: bytes, payload: bytes) -> bytes:
        raw = tag + payload
        return struct.pack(">I", len(payload)) + raw + struct.pack(
            ">I", zlib.crc32(raw) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # 8-bit gray
    scanlines = b"".join(b"\x00" + row for row in row_bytes)
    idat = zlib.compress(scanlines)
    return PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def make_png(width: int, height: int, gray: int) -> bytes:
    """Generate a minimal deterministic grayscale PNG — fixture bytes for
    the multimodal pipeline tests (FIXTURES.md F1), replacing the
    reference's tf_flowers JPEGs."""
    rows = [
        bytes((gray + x + y) % 256 for x in range(width)) for y in range(height)
    ]
    return assemble_png_gray(width, height, rows)
