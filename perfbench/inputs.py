"""Seeded input tables for the stage workloads.

Every table has the input_hint schema (image_id, bytes, w, h, fmt, caption,
phash) and is written as Parquet, so the stage under test scans it from disk
exactly as it would scan a production table. The same seed always gives the
same bytes. Only the generated table reaches the program; the seed does not.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pii_detection_service_spark.functions import quality
from pii_detection_service_spark.sources import imagecodec, synth

# One duplicate-image cluster: every DUP_EVERY-th row shares one image, as in
# the repo's synth table, so one phash bucket stays hot for the salted exchange.
DUP_EVERY = 11
# Distinct images per table: encoding is the slowest part of input generation,
# and the stage treats each row's bytes as opaque.
POOL = 2048

_NOUNS = "person dog cat table room tree car house bird flower street city beach mountain book".split()
_ADJS = "small large red quiet bright old modern wooden happy busy".split()
_VERBS = "sitting standing running sleeping reading walking playing waiting".split()
_STREETS = "Elm Oak Maple Pine Cedar Birch Walnut Spruce".split()
_SUFFIX = "St Ave Rd Lane Blvd Way".split()
_TOXIC = "what a stupid damn scene honestly, the idiot driver was a total jerk"
_FOREIGN = [
    "la foto de la persona con el perro en la mesa de los arboles",
    "das foto von der person mit dem hund auf das tisch und die strasse",
    "une photo de la personne avec le chien sur les tables pour des rues",
]


def _schema() -> pa.Schema:
    return pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
        ]
    )


def average_hash_batch(px: np.ndarray) -> np.ndarray:
    """64-bit average hash of a stack of (n, s, s, 3) images with s a
    multiple of 8: 8x8 grid-mean luma against the global mean, as signed
    int64 (the same definition as imagecodec.average_hash, vectorised)."""
    n, s = px.shape[0], px.shape[1]
    lum = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    cells = lum.reshape(n, 8, s // 8, 8, s // 8).mean(axis=(2, 4)).reshape(n, 64)
    bits = cells > cells.mean(axis=1, keepdims=True)
    weights = np.left_shift(np.uint64(1), np.arange(63, -1, -1, dtype=np.uint64))
    return (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64).view(np.int64)


def _tiny_images(rng: np.random.Generator, n: int, size: int = 24):
    """(bytes list, phash array) for n small noisy-gradient PNGs drawn from a
    pool of at most POOL pre-encoded images, with the duplicate cluster (pool
    image 0) on every DUP_EVERY-th row."""
    k = min(n, POOL)
    yy, xx = np.mgrid[0:size, 0:size]
    a = rng.integers(1, 8, k)[:, None, None]
    b = rng.integers(0, 8, k)[:, None, None]
    off = rng.integers(0, 97, k)[:, None, None]
    base = ((yy * a + xx * b) * 255 // size + off)[..., None] * np.array([1, 2, 3]) // 3
    px = ((base + rng.integers(0, 64, (k, size, size, 3))) % 256).astype(np.uint8)
    pool_hash = average_hash_batch(px)
    pool = [imagecodec.encode_png(p) for p in px]
    pick = rng.integers(1, k, n) if k > 1 else np.zeros(n, np.int64)
    pick[::DUP_EVERY] = 0
    return [pool[i] for i in pick], pool_hash[pick]


def _table(ids, data, captions, phash, size) -> pa.Table:
    n = len(ids)
    return pa.Table.from_pandas(
        pd.DataFrame(
            {
                "image_id": ids,
                "bytes": data,
                "w": np.full(n, size, np.int32),
                "h": np.full(n, size, np.int32),
                "fmt": ["png"] * n,
                "caption": captions,
                "phash": np.asarray(phash, np.int64),
            }
        ),
        schema=_schema(),
        preserve_index=False,
    )


def _pii_segment(rng: np.random.Generator, names: list[str]) -> str:
    k = int(rng.integers(0, 10**6))
    first = names[int(rng.integers(0, len(names)))].capitalize()
    last = names[int(rng.integers(0, len(names)))].capitalize()
    kind = int(rng.integers(0, 7))
    if kind == 0:
        return f"contact {first} {last} at {first.lower()}.{k}@example.org for details"
    if kind == 1:
        return f"call {first} {last} on 212-555-{k % 10000:04d} about this"
    if kind == 2:
        return f"sent by {first} {last} from {k % 9000 + 10} {_STREETS[k % 8]} {_SUFFIX[k % 6]} yesterday"
    if kind == 3:
        return f"uploaded by @user_{k} see http://site{k}.example.net/pics"
    if kind == 4:
        return f"owner SSN {k % 900 + 100}-{k % 90 + 10}-{k % 9000 + 1000} on file with Dr. {first} {last}"
    if kind == 5:
        return f"reach {first} {last} at (555) {k % 900 + 100}-{k % 9000 + 1000} tonight"
    return f"photographed by {first} {last} for the family album"


def _long_caption(rng: np.random.Generator, names: list[str]) -> str:
    """One 1-2k char caption, dense in PII (gazetteer names, emails, phones,
    addresses, urls, handles, ids) and toxicity, below quality.MAX_CHARS."""
    target = int(rng.integers(1000, 1900))
    parts: list[str] = []
    length = 0
    while length < target:
        r = rng.random()
        if r < 0.45:
            seg = _pii_segment(rng, names)
        elif r < 0.55:
            seg = _TOXIC
        elif r < 0.60:
            seg = _FOREIGN[int(rng.integers(0, 3))]
        else:
            seg = (
                f"a photo of the {_ADJS[int(rng.integers(0, 10))]} "
                f"{_NOUNS[int(rng.integers(0, 15))]} {_VERBS[int(rng.integers(0, 8))]} "
                f"near the {_NOUNS[int(rng.integers(0, 15))]}"
            )
        parts.append(seg)
        length += len(seg) + 2
    cap = ". ".join(parts) + "."
    assert len(cap) <= quality.MAX_CHARS
    return cap


def caption_heavy(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    names = sorted(synth.synth_gazetteer())
    captions = [_long_caption(rng, names) for _ in range(n)]
    data, phash = _tiny_images(rng, n)
    ids = [f"ch{seed}_{i:07d}" for i in range(n)]
    return _table(ids, data, captions, phash, 24)


def synth_mix(seed: int, n: int) -> pa.Table:
    """The repo's default synth caption mix with tiny PNGs."""
    rng = np.random.default_rng([seed, 3])
    off = int(rng.integers(0, 10**8))
    captions = [synth.caption_for(off + i) for i in range(n)]
    data, phash = _tiny_images(rng, n)
    ids = [f"rp{seed}_{i:07d}" for i in range(n)]
    return _table(ids, data, captions, phash, 24)


def write_table(tbl: pa.Table, path: str, n_files: int) -> None:
    """Write as n_files Parquet files so the scan splits evenly over cores."""
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            tbl.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"),
            compression="none",
        )
