"""Perceptual-hash (pHash) image deduplication.

The missing multimodal-dedup story: text gets MinHash-LSH near-dup
detection (``operators/dedup.py``); images get the classic DCT perceptual
hash — re-encodes, recompressions, and format conversions of the same
picture collapse to (near-)identical 64-bit hashes even though their
payload bytes share nothing.

Algorithm (the standard pHash construction, per the open-source pHash
project and Zauner's "Implementation and Benchmarking of Perceptual Image
Hash Functions", 2010):

1. decode → grayscale (ITU-R BT.601 luma weights),
2. box-resample to 32×32 (area average when shrinking, pixel gather when
   growing — deterministic integer bin mapping, no interpolation jitter),
3. orthonormal 2-D DCT-II (two 32×32 basis matmuls),
4. keep the top-left 8×8 low-frequency block, drop the DC coefficient
   (brightness invariance), threshold the remaining 63 against their
   median → a 63-bit hash in an int64 (bit 63 stays 0, so the value is
   non-negative and engine-portable).

Scale shape mirrors the text-side dedup chain end-to-end:

- hashing is ONE Arrow-batched ``mapInPandas`` pass over the media table
  (decode + two 32×32 matmuls per image — microseconds next to the
  decode); no shuffle;
- candidate generation is the pigeonhole block index (Manku et al.,
  "Detecting Near-Duplicates for Web Crawling", WWW 2007): split the
  hash into ``blocks`` equal bit-blocks, shuffle once on (block, value)
  — any pair within Hamming distance ``blocks − 1`` shares at least one
  exact block.  No all-pairs product anywhere;
- clustering reuses ``dedup.connected_components`` (O(log diameter)
  rounds, pointer jumping).

Skew note (100 TB): real image corpora are full of flat/near-flat images
(spacer GIFs, solid backgrounds) that all hash to the same few values, so
a (block, value) bucket can be enormous.  ``bucket_cap`` bounds the
per-TASK pair work without changing the result: when the largest bucket
exceeds the cap, candidate generation switches from local array pair
expansion to a salted self-join on (block, value) — the a-side
replicates ``s = ceil(biggest/cap)`` ways, the b-side salts by id-hash,
so each shuffle key carries ~1/s of a mega-bucket's quadratic pair work
while every pair still meets exactly once.  The emitted pair set is
IDENTICAL to the uncapped path in both modes (the within-bucket
comparison is inherently quadratic; the cap distributes it, it does not
approximate it — same guard as similarity._bucketed_cosine_pairs).
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .dedup import connected_components
from .multimodal import DEFAULT_MAX_PIXELS, decode_image
from .similarity import split_overcap_buckets

try:  # numpy is baked into the env, but keep the import honest
    import numpy as _np
except ImportError:  # pragma: no cover - env always has numpy
    _np = None

#: BT.601 luma weights — the same constants every thumbnailer uses.
_LUMA = (0.299, 0.587, 0.114)


def _axis_matrix(src: int, dim: int):
    """(dim × src) resampling matrix: row-normalized bin indicator when
    shrinking (area average), single-pixel gather when growing.  Integer
    bin mapping (``i * dim // src``) keeps it fully deterministic."""
    m = _np.zeros((dim, src))
    if src >= dim:
        bins = _np.arange(src) * dim // src
        m[bins, _np.arange(src)] = 1.0
        m /= m.sum(axis=1, keepdims=True)
    else:
        idx = _np.arange(dim) * src // dim
        m[_np.arange(dim), idx] = 1.0
    return m


def _dct_basis(n: int):
    """Orthonormal DCT-II basis: D[k, x] = c(k)·cos(π(2x+1)k / 2n)."""
    k = _np.arange(n).reshape(-1, 1)
    x = _np.arange(n).reshape(1, -1)
    d = _np.cos(math.pi * (2 * x + 1) * k / (2 * n))
    d[0] *= math.sqrt(1.0 / n)
    d[1:] *= math.sqrt(2.0 / n)
    return d


def phash64(
    width: int, height: int, pixels: bytes, *, hash_size: int = 8, sample_dim: int = 32
) -> int:
    """DCT perceptual hash of a decoded pixel buffer.  Channel count is
    inferred from the buffer length (1=gray, 2=gray+alpha, 3=RGB, 4=RGBA
    — the shapes our PNG/GIF/JPEG decoders emit); alpha is ignored.
    Returns a non-negative int64 (``hash_size² − 1`` bits, DC dropped)."""
    if _np is None:  # pragma: no cover
        raise NotImplementedError("phash64 requires numpy")
    n = width * height
    if n <= 0 or len(pixels) % n != 0:
        raise ValueError(f"pixel buffer ({len(pixels)} B) not a multiple of {width}x{height}")
    channels = len(pixels) // n
    if channels not in (1, 2, 3, 4):
        raise ValueError(f"unsupported channel count {channels}")
    arr = _np.frombuffer(bytes(pixels), dtype=_np.uint8).astype(_np.float64)
    img = arr.reshape(height, width, channels)
    if channels <= 2:  # gray / gray+alpha
        gray = img[:, :, 0]
    else:  # RGB / RGBA
        gray = _LUMA[0] * img[:, :, 0] + _LUMA[1] * img[:, :, 1] + _LUMA[2] * img[:, :, 2]
    small = _axis_matrix(height, sample_dim) @ gray @ _axis_matrix(width, sample_dim).T
    basis = _dct_basis(sample_dim)
    coef = basis @ small @ basis.T
    low = coef[:hash_size, :hash_size].reshape(-1)[1:]  # drop DC
    med = float(_np.median(low))
    h = 0
    for i, v in enumerate(low):
        if v > med:
            h |= 1 << i
    return h


PHASH_SCHEMA = StructType([
    StructField("media_id", LongType(), True),
    StructField("phash", LongType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("error", StringType(), True),
])


def compute_phash(
    media: DataFrame,
    *,
    fake_decode: bool = False,
    max_pixels: "int | None" = DEFAULT_MAX_PIXELS,
    hash_size: int = 8,
) -> DataFrame:
    """media(media_id, kind, payload) → (media_id, phash, width, height,
    error).  One Arrow-batched ``mapInPandas`` pass; non-image rows are
    filtered scan-side; decode failures follow the feature extractor's
    error-column contract (never a task kill)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in PHASH_SCHEMA.fields}
            for i in range(len(pdf)):
                raw = pdf["payload"].iat[i]
                raw = bytes(raw) if raw is not None else b""
                err = None
                width = height = ph = None
                try:
                    width, height, pix = decode_image(
                        raw, fake=fake_decode, max_pixels=max_pixels
                    )
                    ph = phash64(width, height, pix, hash_size=hash_size)
                except NotImplementedError:
                    err = "decoder_unavailable"
                except Exception as e:  # noqa: BLE001 — error-column contract
                    err = f"decode_error: {e}"
                out["media_id"].append(pdf["media_id"].iat[i])
                out["phash"].append(ph)
                out["width"].append(width)
                out["height"].append(height)
                out["error"].append(err)
            yield pd.DataFrame(out)

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(batches, schema=PHASH_SCHEMA)
    )


def _blocked(ph: DataFrame, blocks: int) -> DataFrame:
    """(media_id, phash) → one row per pigeonhole block:
    (media_id, phash, block, val) — pure column algebra (shift + mask)."""
    bits = 64 // blocks
    mask = (1 << bits) - 1
    return ph.select(
        "media_id",
        "phash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {blocks - 1}), "
                f"i -> struct(i as block, shiftright(phash, cast(i * {bits} as int))"
                f" & {mask}L as val))"
            )
        ).alias("b"),
    ).select(
        "media_id", "phash", F.col("b.block").alias("block"), F.col("b.val").alias("val")
    )


def phash_near_dup_candidates(
    hashes: DataFrame,
    *,
    max_hamming: int = 3,
    blocks: int = 4,
    bucket_cap: "int | None" = 100_000,
) -> DataFrame:
    """(media_id, phash) → candidate pairs (id_a < id_b, hamming ≤
    ``max_hamming``).  Pigeonhole guarantee: ``blocks`` equal bit-blocks
    find every pair within Hamming distance ``blocks − 1``; pairs farther
    apart than that may be missed even if ≤ ``max_hamming`` (raise
    ``blocks`` — 8 blocks of 8 bits guarantees ≤ 7 — at the cost of
    hotter buckets).  One shuffle on (block, value) in the common case
    (local array pair expansion); when the largest bucket exceeds
    ``bucket_cap``, exactly the OVER-cap buckets take a salted self-join
    (:func:`~readability_php_spark.operators.similarity.split_overcap_buckets`
    — shared with the embedding pair generators) so no single task owns a
    mega-bucket's quadratic pair work while the >99% of well-behaved
    buckets keep the cheap array expansion — the emitted pair set is
    IDENTICAL either way.  Sizing the salt takes one bounded aggregate
    over the input; callers whose ``hashes`` lineage is expensive (a
    decode pass) should checkpoint it first, as
    :func:`phash_image_dedup` does."""
    if 64 % blocks != 0:
        raise ValueError(f"blocks must divide 64, got {blocks}")
    ph = hashes.select("media_id", "phash").filter(F.col("phash").isNotNull())
    blocked = _blocked(ph, blocks)
    under, over_pairs = split_overcap_buckets(
        blocked, ["block", "val"], "media_id", ["phash"], bucket_cap
    )
    buckets = under.groupBy("block", "val").agg(
        F.sort_array(F.collect_set(F.struct("media_id", "phash"))).alias("ids")
    ).filter(F.size("ids") >= 2)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x.media_id AS id_a, y.media_id AS id_b, "
        "x.phash AS ph_a, y.phash AS ph_b))))"
    )
    pairs = buckets.select(F.explode(pair_expr).alias("p")).select(
        "p.id_a", "p.id_b", "p.ph_a", "p.ph_b"
    )
    if over_pairs is not None:
        pairs = pairs.unionByName(
            over_pairs.withColumnsRenamed({"phash_a": "ph_a", "phash_b": "ph_b"})
        )
    # distinct over the UNION: a pair may meet in several of its `blocks`
    # pigeonhole buckets, and those buckets can land on different sides of
    # the over-cap split
    pairs = pairs.distinct()
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def phash_image_dedup(
    media: DataFrame,
    *,
    max_hamming: int = 3,
    blocks: int = 4,
    bucket_cap: "int | None" = 100_000,
    fake_decode: bool = False,
    max_pixels: "int | None" = DEFAULT_MAX_PIXELS,
) -> DataFrame:
    """Full perceptual image dedup: decode → pHash → pigeonhole candidates
    → connected components → keep-lowest-id.  Returns one row per
    *decodable* image: (media_id, phash, keeper, is_keeper); undecodable
    rows are excluded (their error rows are available via
    :func:`compute_phash`).  Same chain shape as the text fuzzy-dedup
    pipeline — signature once per item, bucket-local pairs, O(log d)
    clustering — so the 100 TB rationale carries over unchanged."""
    # checkpoint the slim (media_id, phash) relation: the decode pass is
    # the chain's expensive stage and feeds THREE consumers (the salt-
    # sizing aggregate inside candidate generation, the pair join, and
    # the final labeling join) — without this the mapInPandas decode
    # would re-run per consumer
    ph = compute_phash(
        media, fake_decode=fake_decode, max_pixels=max_pixels
    ).filter(F.col("error").isNull()).localCheckpoint()
    edges = phash_near_dup_candidates(
        ph, max_hamming=max_hamming, blocks=blocks, bucket_cap=bucket_cap
    )
    comps = connected_components(edges, src="id_a", dst="id_b")
    labeled = ph.join(
        comps.withColumnRenamed("doc_id", "media_id").withColumnRenamed(
            "cluster_id", "keeper"
        ),
        "media_id",
        "left",
    )
    keeper = F.coalesce(F.col("keeper"), F.col("media_id"))
    return labeled.select(
        "media_id",
        "phash",
        keeper.alias("keeper"),
        (keeper == F.col("media_id")).alias("is_keeper"),
    )
