"""Perceptual image hashing (pHash) and Hamming-ball near-dup pairing
— the image analogue of the text MinHash/SimHash dedup path
(SURVEY.md §2.11 X2/X4; the reference repo has no image dedup at all,
so this is a forward-looking LLM-pipeline extension, same as the text
dedup family).

pHash spec (every step pinned by an independent pure-python reference
in tests/test_round9_ops.py):

1. grayscale — (h, w, 3) RGB collapses by BT.601 luma
   ``0.299 R + 0.587 G + 0.114 B``; (h, w) passes through.
2. EXACT area-average resample to 32x32. Each output cell averages
   the source over the rectangle [i*h/32, (i+1)*h/32) x
   [j*w/32, (j+1)*w/32) with fractional-pixel edge weights — the
   integral of a per-pixel step function is piecewise linear, so the
   cumulative-sum + linear-interpolation form below is exact, not an
   approximation, and works for downsampling and upsampling alike.
3. orthonormal 2D DCT-II on the 32x32 grid; keep the low-frequency
   top-left 8x8 block (the same basis construction as the JPEG
   codec's ``_jpeg_dct_matrix``, at n=32 — multimodal.py).
4. median over the 63 NON-DC entries of that block; bit k (row-major
   over the 8x8, k = 0..63) is set iff coefficient > median; bits
   pack LSB-first into a signed int64.

Brightness invariance is EXACT, not statistical: steps 2-3 are
linear, so a constant shift moves only the DC coefficient — a no-clip
brightness change flips at most bit 0 (hamming <= 1). That is the
planted near-dup relation the catalog entry exploits, and what makes
pHash a *perceptual* hash where sha256-of-bytes is not.

Pairing (scale path): band the 64-bit hash into 4 x 16-bit chunks —
pigeonhole-complete for hamming <= 3, the identical argument (and
identical bucket machinery, ``_pair_expand`` with its flood guard) as
SimHash's banding in operators/dedup.py — then verify candidates with
an exact ``bit_count(xor)``. Only (id, 4 x chunk) rows shuffle; the
decoded bitmaps and payload bytes never leave the scanning executor.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from orca_ztbus_python_processor_spark.operators.dedup import (
    _spread,
    _spread_full,
    hamming_near_dups,
)
from orca_ztbus_python_processor_spark.operators.multimodal import (
    _encode_png_rgb,
    decode_image_raster,
)

__all__ = [
    "phash64",
    "phash_signatures",
    "phash_signatures_from_docs",
    "phash_near_dups",
    "synthesize_phash_media",
]


def _dct_basis(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (rows = frequencies) — the JPEG
    codec's ``_jpeg_dct_matrix`` generalized from 8 to any n."""
    C = np.zeros((n, n))
    for k in range(n):
        a = np.sqrt(1.0 / n) if k == 0 else np.sqrt(2.0 / n)
        C[k] = a * np.cos((2 * np.arange(n) + 1) * k * np.pi / (2.0 * n))
    return C


_DCT32 = _dct_basis(32)
_DCT32.setflags(write=False)


def _resample_rows(a: np.ndarray, m: int) -> np.ndarray:
    """Exact area-average resample of axis 0 from n to m bins.

    cum[i] = integral of the step function up to row boundary i; the
    integral up to a FRACTIONAL position b is cum[floor(b)] +
    frac * a[floor(b)] (linear inside one pixel). Bin mean = (I(b1) -
    I(b0)) / (n/m). ``np.arange(m+1) * n / m`` puts the last boundary
    at exactly n (exact-int float multiply before the divide)."""
    n = a.shape[0]
    cum = np.vstack([np.zeros((1, a.shape[1])), np.cumsum(a, axis=0)])
    b = np.arange(m + 1) * n / m
    lo = np.minimum(np.floor(b).astype(np.int64), n)
    frac = b - lo
    apad = np.vstack([a, np.zeros((1, a.shape[1]))])
    integral = cum[lo] + frac[:, None] * apad[lo]
    return (integral[1:] - integral[:-1]) * (m / n)


def _area_resample(gray: np.ndarray, out: int = 32) -> np.ndarray:
    return _resample_rows(_resample_rows(gray, out).T, out).T


def phash64(px: np.ndarray) -> int:
    """64-bit perceptual hash of a decoded bitmap (see module spec).

    Accepts float (h, w) grey or (h, w, 3) RGB in any linear scale
    ([0, 1] or [0, 255] — scale cancels in the median threshold)."""
    g = np.asarray(px, dtype=np.float64)
    if g.ndim == 3:
        g = g @ np.array([0.299, 0.587, 0.114])
    if g.ndim != 2 or g.shape[0] < 1 or g.shape[1] < 1:
        raise ValueError(f"phash64 needs a (h, w[, 3]) bitmap, got {px.shape}")
    s = _area_resample(g, 32)
    d = _DCT32 @ s @ _DCT32.T
    low = d[:8, :8].ravel()
    med = np.median(low[1:])
    h = 0
    for k in np.flatnonzero(low > med):
        h |= 1 << int(k)
    return h - (1 << 64) if h >= (1 << 63) else h


def phash_signatures(
    media: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """(id, phash) per image — map-only Arrow stage: decode each binary
    payload to its bitmap (real byte-level decoders, multimodal.py)
    and hash it. Payload bytes never shuffle; 8 bytes/image leave the
    stage."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for mid, fmt, payload in zip(
                pdf[id_col], pdf["format"], pdf["payload"]
            ):
                ids.append(mid)
                sigs.append(phash64(decode_image_raster(fmt, bytes(payload))))
            yield pd.DataFrame(
                {id_col: ids, "phash": np.array(sigs, dtype=np.int64)}
            )

    return _spread(media.select(id_col, "format", "payload")).mapInPandas(
        gen, schema=f"{id_col} long, phash long"
    )


def phash_near_dups(
    sigs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "media_id",
    max_members: int = 1024,
) -> DataFrame:
    """Hamming-ball pairs over pHash signatures: 4 x 16-bit pigeonhole
    banding (<=3 differing bits leave >=1 chunk intact; raise the
    chunk count alongside larger radii, as SimHash documents) ->
    bucket expansion with the shared flood guard -> exact popcount
    verify. All JVM-side expressions — no Python in the pairing path.

    Recall caveat (ADVICE r9): the pigeonhole argument alone is
    recall-complete for hamming <= 3, but bucket expansion rides
    ``_pair_expand``'s ``max_members`` flood guard (default 1024):
    a 16-bit chunk bucket holding more members than the cap falls
    back to a multi-center star and can drop genuine near-dup pairs.
    This matters when many near-flat images share a chunk value
    (mixed-content floods); pass a larger ``max_members`` there.
    ``image_decontam_phash`` inherits the same cap.

    Output: ``id_a, id_b, hamming``. (Round 10: delegates to the
    shared ``dedup.hamming_near_dups`` — the identical plan, now also
    driving the audio fingerprint.)
    """
    return hamming_near_dups(
        sigs, "phash", id_col, max_hamming=max_hamming, max_members=max_members
    )


# ---------------------------------------------------------------------------
# Fixture corpus: groups of brightness-shifted near-duplicate images
# ---------------------------------------------------------------------------
PHASH_GROUP = 4  # docs per planted near-dup group
_PHASH_FORMATS = ("bmp", "ppm", "png")


def _phash_base_pixels(base: int, ht: int, wd: int) -> np.ndarray:
    """Deterministic pseudo-random grey base image in [16, 239] — the
    224-level range leaves headroom for the member brightness shifts
    (<= +9) without clipping, which keeps the planted within-group
    pHash distance provably <= 1 bit (pure DC shift).

    Round-10 fix: pixels come from a splitmix64 AVALANCHE over
    (base, y, x). The round-9 generator was linear in (y, x, seed) —
    every base was a diagonal translate of ONE global texture, so at
    sf1+ media counts different bases produced genuinely
    perceptually-close images and the cross-group hamming<=3 pair
    count exploded superlinearly (280k pairs vs 75k planted at 50k
    images, .benchmarks/image_pair_counts_3pt.json) — the same flaw
    class the audio fixture's first draft had. With avalanche mixing
    the bases are independent white-noise textures and verified pairs
    equal the planted 1.5 x n at every measured scale."""
    u = np.uint64
    yy, xx = np.mgrid[0:ht, 0:wd].astype(np.uint64)
    with np.errstate(over="ignore"):
        z = (
            yy * u(0x9E3779B97F4A7C15)
            + xx * u(0xC2B2AE3D27D4EB4F)
            + u((base * 0xD6E8FEB86659FD93 + 0x9E3779B9) & 0xFFFFFFFFFFFFFFFF)
        )
        z = (z ^ (z >> u(30))) * u(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> u(27))) * u(0x94D049BB133111EB)
        z = z ^ (z >> u(31))
    return (u(16) + z % u(224)).astype(np.uint8)


def _encode_bmp_rgb(px: np.ndarray) -> bytes:
    """Minimal 24bpp bottom-up BMP from an (h, w, 3) RGB uint8 array
    (same header layout as multimodal.synthesize_real_payloads)."""
    ht, wd = px.shape[:2]
    stride = (wd * 3 + 3) & ~3
    raster = bytearray(stride * ht)
    bgr = px[::-1, :, ::-1]  # bottom-up rows, BGR order
    for row in range(ht):
        raster[row * stride : row * stride + wd * 3] = bgr[row].tobytes()
    pixel_off = 14 + 40
    return (
        b"BM"
        + struct.pack("<IHHI", pixel_off + len(raster), 0, 0, pixel_off)
        + struct.pack(
            "<IiiHHIIiiII", 40, wd, ht, 1, 24, 0, len(raster), 2835, 2835, 0, 0
        )
        + bytes(raster)
    )


def synthesize_phash_media(docs: DataFrame) -> DataFrame:
    """Deterministic image corpus with PLANTED near-dup structure:
    docs in the same ``doc_id // PHASH_GROUP`` group share one
    pseudo-random base image and differ by a pure brightness shift of
    ``3 * (doc_id % PHASH_GROUP)`` levels (no clipping by
    construction), so within-group pHash hamming is provably <= 1 and
    cross-group hashes are independent. Format rotates per group
    (BMP/PPM/PNG) so the hash consumes all three real decode paths.

    Map-only Arrow stage; payload bytes are born and consumed
    executor-side.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, payloads = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                fmt, payload = _phash_payload(d)
                ids.append(d)
                fmts.append(fmt)
                payloads.append(payload)
            yield pd.DataFrame(
                {"media_id": ids, "format": fmts, "payload": payloads}
            )

    return _spread(docs.select("doc_id")).mapInPandas(
        gen, schema="media_id long, format string, payload binary"
    )


def _phash_payload(d: int) -> tuple[str, bytes]:
    """One doc's synthesized (format, payload) — the per-row body of
    ``synthesize_phash_media``, shared with the fused signature path so
    the two cannot drift."""
    base, member = d // PHASH_GROUP, d % PHASH_GROUP
    ht, wd = 12 + base % 7, 16 + base % 9
    grey = _phash_base_pixels(base, ht, wd) + 3 * member
    rgb = np.repeat(grey[:, :, None], 3, axis=2)
    fmt = _PHASH_FORMATS[base % len(_PHASH_FORMATS)]
    if fmt == "bmp":
        payload = _encode_bmp_rgb(rgb)
    elif fmt == "ppm":
        payload = f"P6\n{wd} {ht}\n255\n".encode() + rgb.tobytes()
    else:
        rows = [rgb[r].tobytes() for r in range(ht)]
        payload = _encode_png_rgb(rows, wd)
    return fmt, payload


def phash_signatures_from_docs(docs: DataFrame) -> DataFrame:
    """Fused synthesize + fingerprint: ONE Arrow stage builds each
    payload and hashes it in-process, so payload bytes never cross the
    JVM boundary at all. The unfused
    ``phash_signatures(synthesize_phash_media(docs))`` form shipped
    every encoded image Python→JVM, re-partitioned it, and shipped it
    back Python-side — two Arrow crossings plus an exchange of the
    heaviest column for zero analytical value (guide §8: move heavy
    opaque payloads zero times when only their hash travels on).
    Byte-identical result: same ``_phash_payload`` encoders, same real
    byte-level ``decode_image_raster`` path (parity pinned in
    tests/test_round12_fused_media.py).

    Output: ``media_id, phash`` — 8 bytes/image leave the stage.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                fmt, payload = _phash_payload(d)
                ids.append(d)
                sigs.append(phash64(decode_image_raster(fmt, payload)))
            yield pd.DataFrame(
                {"media_id": ids, "phash": np.array(sigs, dtype=np.int64)}
            )

    # full width (round-13): the fused stage is pure Python CPU with a
    # near-idle JVM side — one worker per core, not cores/2 (the
    # half-width form starved the driver's 8-core bench run 1.4x;
    # ABBA evidence in .benchmarks/media_fused_probe_r13*.json).
    return _spread_full(docs.select("doc_id")).mapInPandas(
        gen, schema="media_id long, phash long"
    )
