"""Seeded inputs for the benchmark.

Everything here is a pure function of the seed: the curation corpus
(documents, embeddings), the event stream and the labelled image tree.
The value domains follow the engine's synthetic corpus (see FIXTURES.md),
so the registered queries and their DuckDB oracles apply unchanged.

Each pass gets its own copy of the inputs with every table's rows permuted
(and image files renamed) from (seed, pass), so no cache keyed on a path
can serve a later pass and partition order differs from pass to pass.
"""

from __future__ import annotations

import struct
import zlib
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LABELS = ("daisy", "dandelion", "roses", "sunflowers", "tulips")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64

_EPOCH = datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _ts(values_us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(values_us, pa.int64()).cast(pa.timestamp("us", tz=tz))


def corpus_tables(seed: int, n_docs: int = 5000, n_vecs: int = 2000) -> dict[str, pa.Table]:
    """Documents over a 30-word vocabulary with planted exact and near
    duplicates (an earlier text plus a trailing " dup"), and unit-norm
    float32 embeddings drawn around ten labelled centroids."""
    rng = _rng(seed, 2)
    texts: list[str] = []
    for i in range(n_docs):
        roll = rng.random()
        if i > 10 and roll < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.08:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_docs)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centroids = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def events_table(seed: int, n: int = 100_000) -> pa.Table:
    """Click-stream events over January 2024 with UTC instants, so a file
    stream source reads `ts` as a timestamp without conversion."""
    rng = _rng(seed, 3)
    start = int((datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts, tz="UTC"),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n)],
        "value": _money(rng, 0.01, 490.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def permuted(table: pa.Table, seed: int, pass_no: int) -> pa.Table:
    return table.take(_rng(seed, 100, pass_no).permutation(table.num_rows))


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")


def write_split(table: pa.Table, out_dir: Path, n_files: int, seed: int, pass_no: int) -> None:
    """Rows permuted from (seed, pass), dealt into `n_files` parquet files
    whose names sort in stream order."""
    out_dir.mkdir(parents=True, exist_ok=True)
    t = permuted(table, seed, pass_no)
    bounds = np.linspace(0, t.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]), out_dir / f"part-{i:03d}.parquet")


# --- images -----------------------------------------------------------------


def png_gray(px: np.ndarray) -> bytes:
    """8-bit grayscale PNG, filter 0 on every row, stdlib zlib."""
    h, w = px.shape

    def chunk(kind: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data)) + kind + data + struct.pack(">I", zlib.crc32(kind + data))

    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def image_corpus(seed: int, min_per_label: int = 2, max_per_label: int = 6) -> list[dict]:
    """Seeded grayscale images, an unequal number per label; one in four
    is a baseline JPEG. Returns [{label, name, width, height, pixels, fmt}]."""
    rng = _rng(seed, 4)
    out = []
    for li, label in enumerate(LABELS):
        for i in range(int(rng.integers(min_per_label, max_per_label + 1))):
            w, h = int(rng.integers(12, 33)), int(rng.integers(12, 33))
            yy, xx = np.mgrid[0:h, 0:w]
            fx, fy, off = (int(v) for v in (rng.integers(1, 9), rng.integers(1, 9), rng.integers(0, 256)))
            px = ((xx * fx + yy * fy + off) % 256).astype(np.uint8)
            fmt = "jpg" if i % 4 == 3 else "png"
            out.append({
                "label": label, "name": f"img_{li}_{i}", "width": w, "height": h, "pixels": px, "fmt": fmt,
            })
    return out


def encode_corpus(corpus: list[dict], encode_jpeg) -> None:
    """Attach file bytes; `encode_jpeg(px) -> bytes` is the engine's own
    encoder (no other JPEG encoder is installed)."""
    for img in corpus:
        img["content"] = png_gray(img["pixels"]) if img["fmt"] == "png" else encode_jpeg(img["pixels"])


def write_image_tree(corpus: list[dict], root: Path, seed: int, pass_no: int) -> Path:
    """`root/flower_photos/<label>/<seeded name>.<fmt>`; names are drawn per
    pass so listing order differs between passes. Returns the tree root."""
    base = root / "flower_photos"
    order = _rng(seed, 101, pass_no).permutation(len(corpus))
    for rank, idx in enumerate(order):
        img = corpus[idx]
        d = base / img["label"]
        d.mkdir(parents=True, exist_ok=True)
        img_path = d / f"{rank:04d}_{img['name']}.{img['fmt']}"
        img_path.write_bytes(img["content"])
    return base


def image_rows_table(corpus: list[dict], base: Path) -> pa.Table:
    """The tree's (path, label, content) rows for the inference legs; paths
    are relative to the tree's parent, so the rows do not depend on where
    the tree was staged."""
    paths = {p.name.split("_", 1)[1].rsplit(".", 1)[0]: p for p in base.rglob("*.*")}
    return pa.table({
        "path": [str(paths[img["name"]].relative_to(base.parent)) for img in corpus],
        "label": [img["label"] for img in corpus],
        "content": pa.array([img["content"] for img in corpus], pa.binary()),
    })


def decode_png_gray(content: bytes) -> np.ndarray:
    """Minimal reference decoder for 8-bit grayscale, non-interlaced PNGs
    (all five scanline filters); independent of the engine's codec."""
    assert content[:8] == b"\x89PNG\r\n\x1a\n"
    pos, idat, w, h = 8, b"", 0, 0
    while pos < len(content):
        (n,) = struct.unpack(">I", content[pos:pos + 4])
        kind, data = content[pos + 4:pos + 8], content[pos + 8:pos + 8 + n]
        if kind == b"IHDR":
            w, h, depth, color, _, _, interlace = struct.unpack(">IIBBBBB", data)
            assert (depth, color, interlace) == (8, 0, 0), (depth, color, interlace)
        elif kind == b"IDAT":
            idat += data
        pos += 12 + n
    raw = zlib.decompress(idat)
    out = np.zeros((h, w), dtype=np.int32)
    for y in range(h):
        f, line = raw[y * (w + 1)], raw[y * (w + 1) + 1:(y + 1) * (w + 1)]
        prev = out[y - 1] if y else np.zeros(w, dtype=np.int32)
        row = out[y]
        for x in range(w):
            a = row[x - 1] if x else 0
            b, c = prev[x], (prev[x - 1] if x else 0)
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa_, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa_ <= pb and pa_ <= pc else (b if pb <= pc else c)
            row[x] = (line[x] + pred) % 256
    return out.astype(np.uint8)

