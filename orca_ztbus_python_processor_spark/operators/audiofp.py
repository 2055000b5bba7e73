"""Perceptual audio fingerprinting and Hamming near-dup pairing — the
audio analogue of the pHash image path (VERDICT r9 #5: the extension
symmetry the image family got in round 9; the reference repo has no
audio dedup at all, so this is a forward-looking LLM-pipeline
extension like the rest of the X2/X4 family).

Fingerprint spec (every step pinned by an independent pure-python
reference in tests/test_round10_ops.py), a spectral band-energy sign
hash in the Haitsma-Kalker family (public literature):

1. decode — RIFF/WAVE PCM via the stdlib ``wave`` module (the same
   byte-level path as multimodal._decode_wav), mono samples as
   float64 (multi-channel interleaved streams are frame-flattened;
   the fixture is mono).
2. split the stream into ``AFP_FRAMES`` (8) equal-length time frames
   (integer division; the < AFP_FRAMES-sample tail is dropped).
3. per frame: real FFT power spectrum |rfft(frame)|^2, DC bin
   dropped, remaining bins split into ``AFP_BANDS`` (8) equal
   contiguous bands (trailing remainder bins dropped); band energy =
   sum of the band's power bins.
4. bit (frame * 8 + band) is set iff the band's energy exceeds the
   MEDIAN of its frame's 8 band energies; bits pack LSB-first into a
   signed int64. (Median thresholding caps each frame at <= 4 set
   bits — structural bit-balance differs from pHash's; the
   audio_fp_bit_balance audit pins the expected band.)

GAIN invariance is EXACT for power-of-two gains, the audio analogue
of pHash's DC-shift proof: every fingerprint bit is a comparison of
energies, scaling samples by 2^m scales each float64 intermediate of
the FFT *exactly* (multiplication by a power of two shifts exponents
only, and IEEE rounding commutes with power-of-two scaling absent
overflow/subnormals), so every energy scales by exactly 2^(2m) and
every comparison — hence every bit — is unchanged: within-group
hamming is provably 0, not statistically small. The planted fixture
groups share one pseudo-random base waveform at gains 1/2/4/8 with
base amplitude <= 3500 (8x = 28000 < 32767, so int16 encoding never
clips and the scaling really is exact integers through PCM).

Pairing (scale path): the SAME 4 x 16-bit pigeonhole banding as pHash
— ``dedup.hamming_near_dups``, shared code, shared flood guard. Only
(id, 4 x chunk) rows shuffle; PCM payloads never leave the scanning
executor and 8 bytes/clip leave the hash stage.
"""

from __future__ import annotations

import io
import wave
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from orca_ztbus_python_processor_spark.operators.dedup import (
    _spread,
    _spread_full,
    hamming_near_dups,
)

__all__ = [
    "audiofp64",
    "audiofp_signatures",
    "audiofp_signatures_from_docs",
    "audiofp_near_dups",
    "synthesize_audio_media",
    "wav_samples",
]

AFP_FRAMES = 8
AFP_BANDS = 8

#: docs per planted near-dup group (same convention as PHASH_GROUP)
AUDIO_GROUP = 4
#: power-of-two member gains — exactness of the invariance proof
#: requires powers of two; see module docstring
_AUDIO_GAINS = (1, 2, 4, 8)
_AUDIO_BASE_AMP = 3500  # 8x = 28000 < 32767: no int16 clipping


def wav_samples(b: bytes) -> np.ndarray:
    """Decode RIFF/WAVE PCM bytes to float64 samples (level scale does
    not matter to the fingerprint — every bit is a comparison). Same
    stdlib path as multimodal._decode_wav, returning the samples the
    fingerprint consumes instead of the feature summary."""
    with wave.open(io.BytesIO(b)) as w:
        sw, nf = w.getsampwidth(), w.getnframes()
        raw = w.readframes(nf)
    dt = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}.get(sw)
    if dt is None:
        raise ValueError(f"unsupported WAV sample width {sw}")
    a = np.frombuffer(raw, dtype=dt).astype(np.float64)
    return a - 128.0 if sw == 1 else a


def audiofp64(samples: np.ndarray) -> int:
    """64-bit spectral band-energy sign fingerprint (see module spec)."""
    x = np.asarray(samples, dtype=np.float64).ravel()
    fl = x.size // AFP_FRAMES
    if fl < 2 * AFP_BANDS + 2:
        raise ValueError(
            f"audiofp64 needs >= {AFP_FRAMES * (2 * AFP_BANDS + 2)} samples, got {x.size}"
        )
    h = 0
    for f in range(AFP_FRAMES):
        frame = x[f * fl : (f + 1) * fl]
        power = np.abs(np.fft.rfft(frame)) ** 2
        spec = power[1:]  # drop DC
        bw = spec.size // AFP_BANDS
        e = spec[: bw * AFP_BANDS].reshape(AFP_BANDS, bw).sum(axis=1)
        med = np.median(e)
        for b in np.flatnonzero(e > med):
            h |= 1 << (f * AFP_BANDS + int(b))
    return h - (1 << 64) if h >= (1 << 63) else h


def audiofp_signatures(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """(id, afp) per clip — map-only Arrow stage: decode each WAV
    payload and fingerprint it. Payload bytes never shuffle; 8
    bytes/clip leave the stage."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                ids.append(mid)
                sigs.append(audiofp64(wav_samples(bytes(payload))))
            yield pd.DataFrame(
                {id_col: ids, "afp": np.array(sigs, dtype=np.int64)}
            )

    return _spread(media.select(id_col, "payload")).mapInPandas(
        gen, schema=f"{id_col} long, afp long"
    )


def audiofp_near_dups(
    sigs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "media_id",
    max_members: int = 1024,
) -> DataFrame:
    """Hamming-ball pairs over audio fingerprints — the shared
    4 x 16-bit pigeonhole banding (``dedup.hamming_near_dups``), same
    completeness argument and same flood-guard recall caveat as
    ``imagehash.phash_near_dups``.

    Output: ``id_a, id_b, hamming``.
    """
    return hamming_near_dups(
        sigs, "afp", id_col, max_hamming=max_hamming, max_members=max_members
    )


def _audio_base_samples(base: int, n: int) -> np.ndarray:
    """Deterministic pseudo-random int16 base waveform in
    [-_AUDIO_BASE_AMP, _AUDIO_BASE_AMP] via a vectorized splitmix64
    avalanche over (base, t). Full avalanche matters: a merely LINEAR
    hash sequence (first draft) has the same spectral shape for every
    seed — every clip fingerprinted to ~the same 64 bits and the
    "independent cross-group hashes" claim was false. With avalanche
    mixing the waveform is white noise, every band carries energy, and
    the median comparisons sit far from ties relative to float
    rounding."""
    u = np.uint64
    with np.errstate(over="ignore"):
        z = np.arange(n, dtype=np.uint64) + u((base * 0x9E3779B97F4A7C15 + 0x1234567) & 0xFFFFFFFFFFFFFFFF)
        z = (z ^ (z >> u(30))) * u(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> u(27))) * u(0x94D049BB133111EB)
        z = z ^ (z >> u(31))
    return (z % u(2 * _AUDIO_BASE_AMP + 1)).astype(np.int64) - _AUDIO_BASE_AMP


def synthesize_audio_media(docs: DataFrame) -> DataFrame:
    """Deterministic WAV corpus with PLANTED near-dup structure: docs
    in the same ``doc_id // AUDIO_GROUP`` group share one pseudo-random
    base waveform and differ by an exact power-of-two gain
    (1/2/4/8 by member), so within-group fingerprints are provably
    IDENTICAL (hamming 0 — see module docstring) and cross-group
    fingerprints are independent. Clip length varies per group so the
    frame/band geometry is exercised at several sizes.

    Map-only Arrow stage; payload bytes are born and consumed
    executor-side. Output: ``media_id, format, payload``.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, payloads = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                ids.append(d)
                fmts.append("wav")
                payloads.append(_audio_payload(d))
            yield pd.DataFrame(
                {"media_id": ids, "format": fmts, "payload": payloads}
            )

    return _spread(docs.select("doc_id")).mapInPandas(
        gen, schema="media_id long, format string, payload binary"
    )


def _audio_payload(d: int) -> bytes:
    """One doc's synthesized WAV payload — the per-row body of
    ``synthesize_audio_media``, shared with the fused signature path so
    the two cannot drift."""
    base, member = d // AUDIO_GROUP, d % AUDIO_GROUP
    n = 1024 + 64 * (base % 7)
    a = (_audio_base_samples(base, n) * _AUDIO_GAINS[member]).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(a.tobytes())
    return buf.getvalue()


def audiofp_signatures_from_docs(docs: DataFrame) -> DataFrame:
    """Fused synthesize + fingerprint: ONE Arrow stage builds each WAV
    payload and fingerprints it in-process, so PCM bytes never cross
    the JVM boundary at all. The unfused
    ``audiofp_signatures(synthesize_audio_media(docs))`` form shipped
    every WAV Python→JVM, re-partitioned it, and shipped it back
    Python-side — two Arrow crossings plus an exchange of the heaviest
    column (guide §8). Byte-identical result: same ``_audio_payload``
    encoder, same real byte-level ``wav_samples`` decode (parity pinned
    in tests/test_round12_fused_media.py).

    Output: ``media_id, afp`` — 8 bytes/clip leave the stage.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                ids.append(d)
                sigs.append(audiofp64(wav_samples(_audio_payload(d))))
            yield pd.DataFrame(
                {"media_id": ids, "afp": np.array(sigs, dtype=np.int64)}
            )

    # full width (round-13): the fused stage is pure Python CPU with a
    # near-idle JVM side — one worker per core, not cores/2 (the
    # half-width form starved the driver's 8-core bench run 1.5x;
    # ABBA evidence in .benchmarks/media_fused_probe_r13*.json).
    return _spread_full(docs.select("doc_id")).mapInPandas(
        gen, schema="media_id long, afp long"
    )
