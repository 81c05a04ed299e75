"""Perceptual image hashing (dHash) + image near-dup mining.

Bridges the real-decode multimodal tier (dq.codecs: pure numpy+stdlib
PNG/BMP/GIF/JPEG) and the near-dup machinery (dq.dedup banding): a 64-bit
DIFFERENCE hash per image — decode, integer-luma grayscale, deterministic
9x8 nearest-neighbor resample, bit = left pixel brighter than its right
neighbor (the standard dHash; Krawetz 2013 popularized it, the gradient-
sign idea goes back to perceptual-hash literature) — then the same 4x16-bit
chunk banding + Hamming verify as dq.dedup.simhash_near_dups. Byte-level
dedup cannot see that the SAME picture was re-encoded (PNG vs BMP vs
palette GIF, or re-filtered PNG scanlines); dHash operates on decoded
pixels, so cross-container duplicates and small-patch edits land within a
few Hamming bits while distinct images scatter.

Everything stays integer/deterministic: luma is (299R + 587G + 114B) DIV
1000, the resample is the floor-mapped nearest-neighbor shared with the
resize tier, and the hash packs sign bits — the python twin is
pytest-pinned bit-for-bit against the Spark path.

Scale shape (100 TB notes): the binary column crosses Arrow ONCE in the
hash UDF and never enters an exchange; everything after is (id, int64)
rows — the SimHash plan. Chunk buckets past LSH_BUCKET_MAX_DOCS are
dropped before the self-join (the hot-bucket cap: an m-copy logo/pixel
family shares all four chunks, so the uncapped self-join is an m^2
single-key task). max_hamming <= 3 keeps the pigeonhole recall guarantee
(4 chunks, <= 3 differing bits => >= 1 identical chunk).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dq.dedup import LSH_BUCKET_MAX_DOCS, _drop_hot_buckets
from dq.io import local_frame

DHASH_W = 9  # resample width (8 horizontal gradients per row)
DHASH_H = 8


def dhash_one(arr: np.ndarray) -> int:
    """64-bit dHash of a decoded image array (2D gray, or HxWx{1,3,4};
    alpha ignored) as a SIGNED int64 (Spark LongType packing)."""
    a = np.asarray(arr)
    if a.ndim == 3 and a.shape[2] >= 3:
        rgb = a[:, :, :3].astype(np.int64)
        gray = (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) // 1000
    elif a.ndim == 3:
        gray = a[:, :, 0].astype(np.int64)
    else:
        gray = a.astype(np.int64)
    rows = (np.arange(DHASH_H) * gray.shape[0]) // DHASH_H
    cols = (np.arange(DHASH_W) * gray.shape[1]) // DHASH_W
    g = gray[rows][:, cols]
    bits = (g[:, :-1] > g[:, 1:]).astype(np.uint64).ravel()
    v = int((bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))
    return v - (1 << 64) if v >= (1 << 63) else v


def dhash_batch(contents: pd.Series) -> pd.Series:
    """Arrow-batched decode+hash; undecodable/NULL payloads yield None
    (mixed corpora keep flowing — the sniffer tier owns mislabel verdicts)."""
    from dq.codecs import decode_image

    out = []
    for b in contents:
        if b is None:
            out.append(None)
            continue
        try:
            out.append(dhash_one(decode_image(bytes(b))))
        except (NotImplementedError, ValueError, IndexError):
            out.append(None)
    # nullable Int64: Arrow maps it to int64-with-validity (plain int64
    # cannot carry the None rows; object dtype round-trips unreliably)
    return pd.Series(out, index=contents.index, dtype="Int64")


@F.pandas_udf(T.LongType())
def dhash_udf(contents: pd.Series) -> pd.Series:
    return dhash_batch(contents)


def image_dhashes(
    assets: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """(doc, h) decoded-pixel dHash per asset; undecodable rows dropped."""
    return assets.select(
        F.col(id_col).alias("doc"), dhash_udf(F.col(content_col)).alias("h")
    ).where(F.col("h").isNotNull())


def hamming_near_dups(
    hashes: DataFrame,
    max_hamming: int = 3,
    bucket_max_docs: int | None = LSH_BUCKET_MAX_DOCS,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs over a (doc, h) int64-hash frame —
    the SimHash chunk-band plan (4x16-bit bands, hot buckets dropped
    before the self-join, bit_count(xor) verify). Recall is guaranteed
    for hamming <= 3 by pigeonhole; larger radii need more bands."""
    chunks = hashes.select(
        "doc",
        "h",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("h", k * 16).bitwiseAND(F.lit(0xFFFF))
                    for k in range(4)
                ]
            )
        ).alias("chunk_id", "chunk"),
    )
    chunks = _drop_hot_buckets(chunks, ["chunk_id", "chunk"], bucket_max_docs)
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, ["chunk_id", "chunk"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def image_near_dups(
    assets: DataFrame,
    id_col: str = "asset_id",
    content_col: str = "content",
    max_hamming: int = 3,
    bucket_max_docs: int | None = LSH_BUCKET_MAX_DOCS,
) -> DataFrame:
    """Full pipeline: decode -> dHash -> banded candidate join -> Hamming
    verify. Cross-container duplicates (same pixels, different codec)
    land at hamming 0; small-patch edits land within the radius."""
    return hamming_near_dups(
        image_dhashes(assets, id_col, content_col), max_hamming, bucket_max_docs
    )


# ---- deterministic near-dup image corpus (query + tests share it) -----------


def synth_images_neardup(spark: SparkSession, n: int = 48, seed: int = 11) -> DataFrame:
    """(asset_id, url, content) corpus of real encoded images with PLANTED
    duplicate structure, deterministic end-to-end:

    - base i in [0, n): a gradient+noise RGB image encoded as PNG
      (scanline filter cycles 0-4);
    - every i % 6 == 0: asset n+i is the SAME pixels re-encoded as BMP
      (cross-container exact pixel dup — byte dedup blind, dHash 0);
    - every i % 6 == 3: asset n+i is the image with a small corner patch
      inverted, encoded as PNG (near-dup within a few Hamming bits).

    Distinct bases use per-image seeds, so non-planted pairs scatter.
    """
    from dq import codecs

    rows = []
    for i in range(n):
        rng = np.random.RandomState(seed * 1_000_003 + i)
        w, h = 24 + i % 7, 18 + i % 5
        grad = (
            np.arange(h)[:, None, None] * np.array([5, 7, 11])[None, None, :]
            + np.arange(w)[None, :, None] * np.array([3, 2, 13])[None, None, :]
        ) % 256
        arr = ((grad + rng.randint(0, 96, size=(h, w, 3))) % 256).astype(np.uint8)
        rows.append(
            (i, f"https://img.example.com/base/{i}",
             bytearray(codecs.encode_png(arr, filter_type=i % 5)))
        )
        if i % 6 == 0:
            rows.append(
                (n + i, f"https://img.example.com/bmp/{i}",
                 bytearray(codecs.encode_bmp(arr)))
            )
        elif i % 6 == 3:
            var = arr.copy()
            var[:2, :2, :] = 255 - var[:2, :2, :]
            rows.append(
                (n + i, f"https://img.example.com/edit/{i}",
                 bytearray(codecs.encode_png(var, filter_type=(i + 1) % 5)))
            )
    return local_frame(
        spark,
        rows,
        T.StructType(
            [
                T.StructField("asset_id", T.LongType(), False),
                T.StructField("url", T.StringType(), False),
                T.StructField("content", T.BinaryType(), False),
            ]
        ),
    )
