"""Audio near-duplicate detection — Haitsma–Kalker robust hashing over
PCM WAV payloads, condensed to a 63-bit fingerprint, deduplicated with the
same pigeonhole-block + connected-components machinery as image pHash.

The per-frame descriptor follows the Philips robust hash (Haitsma &
Kalker 2002, "A Highly Robust Audio Fingerprinting System"): Hann-windowed
FFT energies in log-spaced bands, bits from the SIGNS of band-energy
differences.  One deliberate deviation: the paper's time-derivative term
is dropped and the sign is taken with a small margin RELATIVE to the
frame's total in-range energy (``diff > ε·E_frame``, not ``diff > 0``).
Steady program material (tones, hum, room noise beds) has near-zero
band differences whose raw signs are int16-quantization coin flips — the
relative margin pins those bits deterministically to 0, and because every
energy scales uniformly under amplitude scaling, both sides of the
comparison scale together: the fingerprint is EXACTLY gain-invariant and
robust to mild noise/codec artifacts, which is what separates this from a
byte hash — re-encoded or re-normalized copies of the same recording
collide here and nowhere else.

The variable-length frame-bit matrix is condensed to a fixed 63-bit doc
fingerprint: 4 equal temporal segments × 16 band bits, each bit the
majority vote of its segment (top bit dropped so the value rides a signed
int64, the same convention as ``phash64``'s DC drop).  Hamming distance on
the condensed fingerprint then ranks near-duplicates, and candidate
generation reuses ``phash_near_dup_candidates`` verbatim — pigeonhole
blocks, over-cap salting, CC — so the 100 TB shape is identical to image
dedup: signature once per item, bucket-local pairs, O(log d) clustering.

Scale shape: fingerprinting is one Arrow-batched ``mapInPandas`` pass
(vectorized numpy FFT per payload — no per-sample Python); everything
after it operates on (media_id, int64) rows only, so the audio bytes never
enter a shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

try:
    import numpy as _np
except ImportError:  # pragma: no cover
    _np = None

from .dedup import connected_components
from .image_dedup import phash_near_dup_candidates
from .multimodal import wav_pcm16_chunks

#: band-edge frequency range (Hz): the Haitsma–Kalker paper's 300–2000 Hz
#: band, widened to 3 kHz — still inside the 8 kHz Nyquist of even
#: telephone-rate (16 kHz) audio, so fingerprints are comparable across
#: common sample rates as long as the rates match (the band→bin mapping is
#: in Hz, but bin WIDTH differs per rate; same-corpus dedup compares
#: same-pipeline audio, where rates are normalized upstream).
_F_LO, _F_HI = 300.0, 3000.0
_N_BANDS = 17           # 17 edges-1 = 16 difference bits per frame
_N_SEGMENTS = 4         # temporal majority segments → 4 × 16 = 64 bits
_MIN_FRAMES = 8         # below this the majority vote is meaningless

#: per-payload sample budget — the audio twin of multimodal's
#: DEFAULT_MAX_PIXELS: one pathological hour-long WAV would otherwise
#: allocate GBs of float64/complex intermediates inside a single
#: mapInPandas row and OOM-kill the task the error-column contract
#: promises never dies.  16M mono samples ≈ 17 min @ 16 kHz ≈ 128 MB of
#: float64 — over-budget rows surface as error rows instead.
DEFAULT_MAX_SAMPLES = 16_000_000


def _wav_pcm(
    payload: bytes, max_samples: "int | None" = DEFAULT_MAX_SAMPLES
) -> "tuple[int, _np.ndarray]":
    """(sample_rate, mono float64 array in [-1, 1]) of a 16-bit PCM WAV —
    the sample-reading sibling of :func:`multimodal.decode_wav` (which
    returns summary stats); both parse through the shared
    :func:`multimodal.wav_pcm16_chunks` walk, so format guards live once.
    Multi-channel audio is averaged to mono (fingerprinting operates on
    the mix, matching the reference system)."""
    sample_rate, channels, data = wav_pcm16_chunks(payload)
    if max_samples is not None and len(data) // 2 > max_samples:
        raise ValueError(
            f"audio over budget: {len(data) // 2} samples > {max_samples}"
        )
    pcm = _np.frombuffer(data, dtype="<i2").astype(_np.float64) / 32768.0
    if channels and channels > 1:
        usable = len(pcm) - (len(pcm) % channels)
        pcm = pcm[:usable].reshape(-1, channels).mean(axis=1)
    return sample_rate, pcm


def audio_fingerprint(
    payload: bytes,
    *,
    frame: int = 1024,
    hop: int = 512,
    max_samples: "int | None" = DEFAULT_MAX_SAMPLES,
) -> int:
    """63-bit Haitsma–Kalker fingerprint of a PCM WAV payload (see module
    docstring for the construction).  Deterministic, gain-invariant.
    Raises ``ValueError`` for structurally bad / too-short / over-budget
    audio and ``NotImplementedError`` when numpy is unavailable."""
    if _np is None:  # pragma: no cover
        raise NotImplementedError("audio_fingerprint requires numpy")
    sr, pcm = _wav_pcm(payload, max_samples)
    return _fingerprint_pcm(sr, pcm, frame=frame, hop=hop)


def _fingerprint_pcm(
    sr: int, pcm: "_np.ndarray", *, frame: int = 1024, hop: int = 512
) -> int:
    """Fingerprint math over already-decoded mono samples — split out so
    the Spark extractor decodes each payload exactly ONCE for both the
    fingerprint and the (sample_rate, duration) metadata."""
    n_frames = 1 + max(0, (len(pcm) - frame)) // hop if len(pcm) >= frame else 0
    if n_frames < _MIN_FRAMES:
        raise ValueError(
            f"audio too short: {n_frames} frames < {_MIN_FRAMES} "
            f"(need ≥ {frame + (_MIN_FRAMES - 1) * hop} samples)"
        )
    # Guard the band ladder's precondition before any spectral work:
    # below ~606 Hz sample rate the usable ceiling min(_F_HI,
    # nyquist*0.99) drops UNDER _F_LO and geomspace would emit a
    # descending (non-monotone-binnable) ladder — such absurd-rate audio
    # must surface as an error row, not collide into a degenerate
    # fingerprint
    if sr / 2.0 * 0.99 <= _F_LO:
        raise ValueError(
            f"sample rate {sr} Hz too low: the {_F_LO:.0f}-{_F_HI:.0f} Hz "
            "band ladder needs a usable nyquist above its floor"
        )
    # stride view, not fancy indexing: no n_frames×frame int64 index
    # matrix and no gathered copy — the only materialized
    # (n_frames, frame) array is the windowed product below
    view = _np.lib.stride_tricks.sliding_window_view(pcm, frame)[::hop][:n_frames]
    frames = view * _np.hanning(frame)[None, :]
    spec = _np.abs(_np.fft.rfft(frames, axis=1)) ** 2  # (n_frames, frame//2+1)
    # log-spaced band edges in Hz → rfft bin indices (monotone by
    # construction; duplicate edges at tiny frame sizes collapse a band
    # to zero energy, which is fine — its bits go constant).
    edges_hz = _np.geomspace(_F_LO, min(_F_HI, sr / 2.0 * 0.99), _N_BANDS)
    bins = _np.clip((edges_hz / (sr / 2.0) * (spec.shape[1] - 1)).astype(int), 0, spec.shape[1] - 1)
    band_e = _np.stack(
        [spec[:, bins[b] : max(bins[b + 1], bins[b] + 1)].sum(axis=1) for b in range(_N_BANDS - 1)],
        axis=1,
    )  # (n_frames, 16)
    # adjacent-band energy difference (16 bands → cyclic b vs (b+1) mod 16,
    # keeping a full 16 bits; the paper's non-cyclic variant gives bands−1);
    # bit = sign with a margin relative to the frame's in-range energy so
    # quantization-noise-level differences resolve deterministically to 0
    # (see module docstring — this is what makes gain scaling exact)
    diff = band_e - _np.roll(band_e, -1, axis=1)   # (n_frames, 16)
    margin = 1e-4 * band_e.sum(axis=1, keepdims=True)
    bits = diff > margin
    segs = _np.array_split(bits, _N_SEGMENTS, axis=0)
    fp = 0
    for q, seg in enumerate(segs):
        maj = seg.mean(axis=0) > 0.5               # (16,) majority vote
        for b in range(16):
            if maj[b]:
                fp |= 1 << (q * 16 + b)
    return fp & ((1 << 63) - 1)  # signed-int64 friendly, like phash64


AUDIO_FP_SCHEMA = StructType([
    StructField("media_id", LongType(), True),
    StructField("afp", LongType(), True),
    StructField("sample_rate", IntegerType(), True),
    StructField("duration_s", FloatType(), True),
    StructField("error", StringType(), True),
])


def compute_audio_fingerprint(media: DataFrame) -> DataFrame:
    """media(media_id, kind, payload) → (media_id, afp, sample_rate,
    duration_s, error).  One Arrow-batched ``mapInPandas`` pass over the
    audio rows; failures follow the feature extractor's error-column
    contract (never a task kill)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in AUDIO_FP_SCHEMA.fields}
            for i in range(len(pdf)):
                raw = pdf["payload"].iat[i]
                raw = bytes(raw) if raw is not None else b""
                err = None
                afp = sr = dur = None
                try:
                    rate, pcm = _wav_pcm(raw)  # decode ONCE per payload
                    afp = _fingerprint_pcm(rate, pcm)
                    sr = rate
                    dur = round(len(pcm) / rate, 3) if rate else None
                except NotImplementedError:
                    err = "decoder_unavailable"
                except Exception as e:  # noqa: BLE001 — error-column contract
                    err = f"fingerprint_error: {e}"
                out["media_id"].append(pdf["media_id"].iat[i])
                out["afp"].append(afp)
                out["sample_rate"].append(sr)
                out["duration_s"].append(dur)
                out["error"].append(err)
            yield pd.DataFrame(out)

    return (
        media.filter(F.col("kind") == "audio")
        .select("media_id", "payload")
        .mapInPandas(batches, schema=AUDIO_FP_SCHEMA)
    )


def audio_fingerprint_dedup(
    media: DataFrame,
    *,
    max_hamming: int = 6,
    blocks: int = 8,
    bucket_cap: "int | None" = 100_000,
) -> DataFrame:
    """Full audio dedup chain: fingerprint → pigeonhole candidate pairs →
    connected components → keep-lowest-id.  Returns one row per
    *fingerprintable* audio row: (media_id, afp, keeper, is_keeper); the
    candidate stage is ``phash_near_dup_candidates`` applied to the audio
    fingerprints — identical 64-bit-Hamming machinery, identical scale
    guards (block buckets, over-cap salting).  Defaults are wider than the
    image chain (hamming ≤ 6, 8 pigeonhole blocks → guarantee ≤ 7):
    re-quantized copies of time-VARYING audio flip a handful of
    margin-threshold bits where gain-scaled steady material flips none."""
    # checkpoint the slim (media_id, afp) relation: the FFT pass feeds
    # three consumers (salt-sizing, pair join, labeling join) — same
    # rationale as phash_image_dedup's decode checkpoint
    fp = (
        compute_audio_fingerprint(media)
        .filter(F.col("afp").isNotNull())
        .select("media_id", "afp")
        .localCheckpoint(eager=False)
    )
    edges = phash_near_dup_candidates(
        fp.select("media_id", F.col("afp").alias("phash")),
        max_hamming=max_hamming,
        blocks=blocks,
        bucket_cap=bucket_cap,
    )
    comps = connected_components(edges, src="id_a", dst="id_b")
    labeled = fp.join(
        comps.withColumnRenamed("doc_id", "media_id").withColumnRenamed(
            "cluster_id", "keeper"
        ),
        "media_id",
        "left",
    )
    keeper = F.coalesce(F.col("keeper"), F.col("media_id"))
    return labeled.select(
        "media_id",
        "afp",
        keeper.alias("keeper"),
        (keeper == F.col("media_id")).alias("is_keeper"),
    )
