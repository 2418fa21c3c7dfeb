"""Perceptual-hash image near-duplicate detection.

The content-dedup tier for the IMAGE modality: text has MinHash /
SimHash (``operators/dedup.py``), embeddings have cosine / SRP-LSH
(``operators/similarity.py``) — this module closes the gap with the
classic perceptual hashes:

* **aHash** (average hash): grayscale → 8×8 block grid → bit per
  cell = cell mean above the global mean → 64-bit fingerprint.
* **dHash** (difference hash): grayscale → 8×9 block grid → bit per
  adjacent-column pair = left mean > right mean → 64-bit fingerprint.

Both are deterministic INTEGER arithmetic end-to-end: grayscale is
the per-pixel channel sum, block means compare via cross-multiplied
sums (``s_a·n_b > s_b·n_a``), so any ANSI-SQL engine reproduces the
fingerprints bit for bit from the pixel values — no floats, no
rounding, no library-specific resampling kernels (the classic
pHash/imagehash implementations resample through PIL, which this
container doesn't have and a cross-engine oracle couldn't replay
anyway).

Near-dup mining reuses the generic Hamming pigeonhole machinery
(``dedup.fingerprint_band_pairs`` / ``fingerprint_components``):
split the 64-bit hash into ``max_hamming + 1`` (or more) contiguous
blocks, self-join on (block_idx, block_value), verify with one
``bit_count(xor)`` — exact recall, candidate volume Σ|bucket|², and
the components path collapses k identical images to ONE fingerprint
node (mega-cluster skew safety).

Scale shape: hashing is one Arrow ``mapInPandas`` pass over the blob
column (decode + two 64-bit hashes per image, all numpy); everything
downstream operates on (id, int64) rows only — the 100 TB corpus
crosses the shuffle as two longs per image.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from data_toolz_spark.operators.dedup import (
    fingerprint_band_pairs,
    fingerprint_components,
)
from data_toolz_spark.operators.multimodal import (
    _range_partitions,
    decode_png,
    encode_png,
)


def _neardup_pixels(base: int, member: int, w: int, h: int, c: int) -> np.ndarray:
    """Deterministic pixel block for one image of a near-dup group.

    The BASE pattern is BIMODAL per 8×8 grid cell: a group-keyed md5
    flag (low bit of the first hex char of ``md5("{base}_{cell}")``,
    the repo's standard engine-portable hash) paints each cell either
    bright (192 + texture) or dark (texture), texture =
    ``(idx·7) % 32``.  Cell means sit ≈ ±96 from the global mean, so
    aHash bits are robust to the small global-mean shift a
    perturbation causes — a mid-gray design lets that shift cascade
    through near-threshold cells, and affine mixes (modular/Knuth
    multiplicative) produce bit-16-of-rotation sequences structured
    enough that distinct groups collide to Hamming 0; md5 measures
    min cross-group flag distance 19 over 50 groups.  Member ``k``
    overprints the first ``k`` grid cells of row 0 with the dark
    texture, so within-group Hamming distance is at most the number
    of bright cells among the differing overprints (≤ group_size − 1)
    while cross-group hashes are unrelated (expected distance ≈ 32).
    """
    import hashlib

    idx = np.arange(w * h * c, dtype=np.int64)
    x = (idx // c) % w
    y = idx // (c * w)
    ry = (y * 8) // h
    cx = (x * 8) // w
    cell = ry * 8 + cx
    flags = np.array(
        [
            int(hashlib.md5(f"{base}_{cl}".encode()).hexdigest()[0], 16) & 1
            for cl in range(64)
        ],
        dtype=np.int64,
    )
    v = np.where(flags[cell] == 1, 192 + (idx * 7) % 32, (idx * 7) % 32)
    pert = (ry == 0) & (cx < member)
    return np.where(pert, (idx * 13) % 32, v).astype(np.uint8)


def png_neardup_table(
    spark,
    n_rows: int,
    *,
    group_size: int = 4,
    seed_col: str = "media_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """Synthetic PNG table with PLANTED near-duplicate groups.

    Row ``m`` belongs to group ``b = m - m % group_size``; dimensions
    derive from ``b`` (width/height multiples of 8, channels 1-3) and
    the pixel pattern from :func:`_neardup_pixels`, so members of a
    group are perceptual near-duplicates of each other and unrelated
    to every other group.  Blobs are real spec-compliant PNGs built
    executor-side via ``mapInPandas`` over a ``spark.range`` (no
    driver materialization; scanline filter ``m % 5`` exercises every
    unfilter branch, like ``png_media_table``).
    """
    out_schema = StructType(
        [
            StructField(seed_col, LongType()),
            StructField("content", BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            blobs = []
            for m in ids:
                m = int(m)
                b, k = m - m % group_size, m % group_size
                w, h, c = 16 + 8 * (b % 5), 16 + 8 * (b % 3), 1 + b % 3
                px = _neardup_pixels(b, k, w, h, c)
                blobs.append(
                    encode_png(px.reshape(h, w, c), filter_type=m % 5)
                )
            yield pd.DataFrame({seed_col: ids, "content": blobs})

    n_parts = n_partitions or _range_partitions(spark, n_rows)
    return spark.range(n_rows, numPartitions=n_parts).mapInPandas(
        gen, out_schema
    )


def _pack64(bits: np.ndarray) -> int:
    """Pack a 64-element boolean array (bit i = element i) into a
    SIGNED int64 (two's complement, the value Spark's long carries)."""
    u = int(
        (bits.astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
            dtype=np.uint64
        )
    )
    return u - (1 << 64) if u >= 1 << 63 else u


def phash_from_pixels(px: np.ndarray) -> tuple[int, int]:
    """(aHash, dHash) of an ``(h, w, c)`` uint8 pixel block.

    Integer-exact: grayscale = per-pixel channel SUM; the 8×8 (aHash)
    and 8×9 (dHash) grids assign pixel (x, y) to cell
    (y·8//h, x·G//w) — exact block partitions when the dims divide
    evenly, ragged-but-deterministic otherwise — and every mean
    comparison is cross-multiplied (``s_a·n_b > s_b·n_a``) so no
    division ever happens.  Bit index = r·8 + c (aHash) / r·8 + j
    (dHash, j comparing grid columns j and j+1), LSB first.
    """
    h, w, _c = px.shape
    gray = px.astype(np.int64).sum(axis=2)
    ry = (np.arange(h, dtype=np.int64) * 8) // h
    cx = (np.arange(w, dtype=np.int64) * 8) // w
    cell = (ry[:, None] * 8 + cx[None, :]).ravel()
    flat = gray.ravel()
    csum = np.bincount(cell, weights=flat, minlength=64).astype(np.int64)
    ccnt = np.bincount(cell, minlength=64).astype(np.int64)
    abits = csum * (w * h) > int(flat.sum()) * ccnt
    cx9 = (np.arange(w, dtype=np.int64) * 9) // w
    cell9 = (ry[:, None] * 9 + cx9[None, :]).ravel()
    s9 = (
        np.bincount(cell9, weights=flat, minlength=72)
        .astype(np.int64)
        .reshape(8, 9)
    )
    n9 = np.bincount(cell9, minlength=72).astype(np.int64).reshape(8, 9)
    dbits = (s9[:, :8] * n9[:, 1:] > s9[:, 1:] * n9[:, :8]).ravel()
    return _pack64(abits), _pack64(dbits)


def image_phash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    *,
    decoder: str = "png",
) -> DataFrame:
    """Decode + perceptually hash a binary image column in ONE Arrow
    pass: ``(id, width, height, channels, mean_byte, ahash, dhash)``.

    ``decoder="png"`` runs the stdlib PNG codec
    (``multimodal.decode_png``); undecodable blobs yield a null row
    (id preserved).  The decode statistics (dims + ``mean_byte`` over
    the raw channel bytes) ride along so one scan serves both the
    decode-attestation and the dedup pipeline.
    """
    if decoder != "png":
        raise ValueError(f"unknown decoder: {decoder!r}")
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("channels", IntegerType()),
            StructField("mean_byte", DoubleType()),
            StructField("ahash", LongType()),
            StructField("dhash", LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[content_col]):
                parsed = None if blob is None else decode_png(bytes(blob))
                if parsed is None:
                    rows.append((int(mid), None, None, None, None, None, None))
                    continue
                meta, payload = parsed
                w, h, c = meta["width"], meta["height"], meta["channels"]
                px = payload.reshape(h, w, c)
                ah, dh = phash_from_pixels(px)
                rows.append(
                    (
                        int(mid),
                        w,
                        h,
                        c,
                        float(payload.mean()),
                        ah,
                        dh,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col,
                    "width",
                    "height",
                    "channels",
                    "mean_byte",
                    "ahash",
                    "dhash",
                ],
            )

    return df.mapInPandas(kernel, out_schema)


def phash_near_duplicates(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    *,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """``(id_a, id_b, hamming)`` pairs of perceptually near-duplicate
    images — exact pigeonhole banding over a precomputed hash column
    (delegates to :func:`dedup.fingerprint_band_pairs`)."""
    return fingerprint_band_pairs(
        hashes.filter(F.col(hash_col).isNotNull()),
        id_col,
        hash_col,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        bits=64,
    )


def phash_components(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    *,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """``(id, component)`` map over the perceptual-hash graph without
    materializing member pairs — the mega-cluster-safe drop-list path
    (delegates to :func:`dedup.fingerprint_components`; k identical
    images collapse to one fingerprint node).  Output: ids in some
    multi-member component only (singletons appear in neither the pair
    graph nor the map)."""
    return fingerprint_components(
        hashes.filter(F.col(hash_col).isNotNull()),
        id_col,
        hash_col,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        bits=64,
    )


__all__ = [
    "png_neardup_table",
    "phash_from_pixels",
    "image_phash",
    "phash_near_duplicates",
    "phash_components",
]
