"""Round-9 operator tests.

Covers the four ADVICE-r8 fixes first (decontam broadcast fence with
shuffle-join parity, semantic-decontam bench fence, JPEG malformed-
stream diagnostics), then the round-9 operator additions.
"""

from __future__ import annotations

import numpy as np
import pytest

SF_DIR = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# ADVICE r8 #1 — benchmark_decontam_13gram broadcast fence
# --------------------------------------------------------------------------
def test_decontam_shuffle_fallback_parity(spark, monkeypatch):
    """Above the gram fence the probe degrades to a shuffle join; the
    result must be bit-identical to the broadcast path."""
    from orca_ztbus_python_processor_spark.workloads import textops

    q = textops.CATALOG.queries["benchmark_decontam_13gram"]
    broadcast_rows = sorted(map(tuple, q(spark, SF_DIR).collect()))
    monkeypatch.setattr(textops, "DECONTAM_BROADCAST_GRAM_LIMIT", 0)
    shuffle_rows = sorted(map(tuple, q(spark, SF_DIR).collect()))
    assert broadcast_rows == shuffle_rows
    assert len(broadcast_rows) > 0


def test_semantic_decontam_bench_fence_raises(spark, monkeypatch):
    """The semantic sweep replicates the WHOLE bench matrix into every
    shard task, so an oversized bench slice must refuse loudly (the
    knn_label_accuracy_allpairs pattern), not OOM an executor."""
    from orca_ztbus_python_processor_spark.workloads import vectors

    monkeypatch.setattr(vectors, "SEM_DECONTAM_BENCH_LIMIT", 0)
    q = vectors.CATALOG.queries["semantic_decontam_embedding"]
    with pytest.raises(ValueError, match="per-task replica fence"):
        q(spark, SF_DIR)


# --------------------------------------------------------------------------
# ADVICE r8 #3 — JPEG malformed-stream diagnostics
# --------------------------------------------------------------------------
def test_jpeg_sos_before_sof_raises_valueerror():
    """A stream whose SOF segment was stripped must die on the
    decoder's contractual diagnostic, not a NameError on p_vmax."""
    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_gray,
    )

    good = _encode_jpeg_gray(np.zeros((8, 8), dtype=np.uint8))
    i = good.index(b"\xff\xc0")
    seglen = int.from_bytes(good[i + 2 : i + 4], "big")
    maimed = good[:i] + good[i + 2 + seglen :]
    with pytest.raises(ValueError, match="SOS before SOF"):
        _decode_jpeg(maimed)


def test_jpeg_duplicate_scan_component_raises_valueerror():
    """An interleaved scan repeating one component id satisfies
    ns == len(comps) but must not decode silently into the wrong
    grids."""
    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_color_420,
    )

    rgb = np.zeros((8, 8, 3), dtype=np.uint8)
    good = bytearray(_encode_jpeg_color_420(rgb))
    i = good.index(b"\xff\xda")
    ns = good[i + 4]
    assert ns == 3
    good[i + 7] = good[i + 5]  # second scan cid := first
    with pytest.raises(ValueError, match="distinct frame"):
        _decode_jpeg(bytes(good))


def test_jpeg_unknown_scan_component_raises_valueerror():
    """A scan referencing a component id absent from the frame must
    raise the same diagnostic (previously a StopIteration in the
    single-component branch)."""
    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_gray,
    )

    good = bytearray(_encode_jpeg_gray(np.zeros((8, 8), dtype=np.uint8)))
    i = good.index(b"\xff\xda")
    good[i + 5] = 0x42  # scan cid not in frame
    with pytest.raises(ValueError, match="distinct frame"):
        _decode_jpeg(bytes(good))


# --------------------------------------------------------------------------
# pHash perceptual image dedup (VERDICT r8 "Next round" #2)
# --------------------------------------------------------------------------
def _ref_phash64(px):
    """Independent pure-python/numpy pHash reference: nested-loop exact
    area-average resample (explicit fractional overlap weights) +
    direct double-sum DCT-II — no shared code path with the operator's
    cumsum/matmul formulation."""
    import math

    g = np.asarray(px, dtype=np.float64)
    if g.ndim == 3:
        g = 0.299 * g[:, :, 0] + 0.587 * g[:, :, 1] + 0.114 * g[:, :, 2]
    h, w = g.shape
    m = 32
    s = np.zeros((m, m))
    for i in range(m):
        y0, y1 = i * h / m, (i + 1) * h / m
        for j in range(m):
            x0, x1 = j * w / m, (j + 1) * w / m
            acc = 0.0
            for y in range(int(math.floor(y0)), int(math.ceil(y1))):
                wy = min(y + 1, y1) - max(y, y0)
                if wy <= 0:
                    continue
                for x in range(int(math.floor(x0)), int(math.ceil(x1))):
                    wx = min(x + 1, x1) - max(x, x0)
                    if wx <= 0:
                        continue
                    acc += g[y, x] * wy * wx
            s[i, j] = acc / ((y1 - y0) * (x1 - x0))
    d = np.zeros((8, 8))
    for u in range(8):
        au = math.sqrt(1 / 32) if u == 0 else math.sqrt(2 / 32)
        for v in range(8):
            av = math.sqrt(1 / 32) if v == 0 else math.sqrt(2 / 32)
            tot = 0.0
            for y in range(m):
                for x in range(m):
                    tot += (
                        s[y, x]
                        * math.cos((2 * y + 1) * u * math.pi / 64)
                        * math.cos((2 * x + 1) * v * math.pi / 64)
                    )
            d[u, v] = au * av * tot
    low = d.ravel()
    med = float(np.median(low[1:]))
    hsh = 0
    for k in range(64):
        if low[k] > med:
            hsh |= 1 << k
    return hsh - (1 << 64) if hsh >= (1 << 63) else hsh


def test_phash_matches_independent_reference():
    from orca_ztbus_python_processor_spark.operators.imagehash import phash64

    rng = np.random.default_rng(42)
    cases = [
        rng.integers(0, 256, (23, 37)).astype(np.float64),      # downsample
        rng.integers(0, 256, (12, 16)).astype(np.float64),      # upsample
        rng.integers(0, 256, (32, 32)).astype(np.float64),      # identity
        rng.integers(0, 256, (40, 9)).astype(np.float64),       # mixed
        rng.integers(0, 256, (17, 51, 3)).astype(np.float64),   # RGB luma
    ]
    for px in cases:
        assert phash64(px) == _ref_phash64(px)


def test_phash_brightness_shift_flips_at_most_dc_bit():
    """EXACT invariance property (not statistical): resample and DCT
    are linear, so a no-clip constant shift moves only the DC
    coefficient — hamming <= 1 for ANY image and ANY shift."""
    from orca_ztbus_python_processor_spark.operators.imagehash import phash64

    rng = np.random.default_rng(7)
    for _ in range(20):
        h, w = int(rng.integers(5, 60)), int(rng.integers(5, 60))
        img = rng.integers(10, 230, (h, w)).astype(np.float64)
        base = phash64(img)
        for shift in (1.0, 9.0, 25.0, -10.0):
            d = bin((base ^ phash64(img + shift)) & (2**64 - 1)).count("1")
            assert d <= 1, (h, w, shift, d)


def test_phash_banding_recall_complete_vs_bruteforce(spark):
    """The 4x16-bit pigeonhole banding + exact verify must return
    EXACTLY the brute-force hamming <= 3 pair set (recall 1.0 by the
    pigeonhole argument, precision 1.0 by the exact verify)."""
    from orca_ztbus_python_processor_spark.operators.imagehash import (
        phash64,
        phash_near_dups,
        _phash_base_pixels,
    )

    rng = np.random.default_rng(3)
    sigs = []
    for i in range(120):
        base = int(rng.integers(0, 25))
        g = _phash_base_pixels(base, 14 + base % 5, 18 + base % 7).astype(
            np.float64
        )
        if i % 3:
            g = g + float(rng.integers(1, 5))  # no-clip brightness member
        sigs.append((i, phash64(g)))
    sdf = spark.createDataFrame(sigs, "media_id long, phash long")
    got = {
        (r["id_a"], r["id_b"])
        for r in phash_near_dups(sdf, max_hamming=3).collect()
    }
    want = set()
    for a in range(len(sigs)):
        for b in range(a + 1, len(sigs)):
            d = bin((sigs[a][1] ^ sigs[b][1]) & (2**64 - 1)).count("1")
            if d <= 3:
                want.add(
                    (min(sigs[a][0], sigs[b][0]), max(sigs[a][0], sigs[b][0]))
                )
    assert got == want and len(want) > 50


def test_image_phash_dedup_recovers_planted_groups(spark):
    """End-to-end over real encoded payloads: every planted
    brightness-shift group of 4 comes back as one cluster, no false
    merges across bases (500 docs -> 125 clusters of exactly 4)."""
    from orca_ztbus_python_processor_spark.workloads.pipelineops import (
        image_phash_dedup,
    )

    rows = image_phash_dedup(spark, SF_DIR).collect()
    assert sum(r["n_images"] for r in rows) == 500
    assert sum(r["n_clusters"] for r in rows) == 125
    for r in rows:
        assert r["max_cluster_size"] == 4
        assert r["n_dup_clusters"] == r["n_clusters"]
        assert abs(r["dup_share"] - 0.75) < 1e-6


def test_decode_image_raster_consistent_with_feature_summary():
    """The new raster path must agree with the pinned feature decoders
    on mean/peak for every image format (ties the bitmap to the
    golden-tested summary path), including JPEG reconstruction."""
    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _REAL_DECODERS,
        _encode_jpeg_color_420,
        _encode_jpeg_gray,
        decode_image_raster,
    )
    from orca_ztbus_python_processor_spark.operators.imagehash import (
        _encode_bmp_rgb,
        _phash_base_pixels,
    )
    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _encode_png_rgb,
    )

    rng = np.random.default_rng(5)
    grey = _phash_base_pixels(9, 13, 17)
    rgb = np.repeat(grey[:, :, None], 3, axis=2)
    payloads = {
        "bmp": _encode_bmp_rgb(rgb),
        "ppm": b"P6\n17 13\n255\n" + rgb.tobytes(),
        "png": _encode_png_rgb([rgb[r].tobytes() for r in range(13)], 17),
        "jpeg": _encode_jpeg_color_420(
            rng.integers(0, 256, (11, 15, 3)).astype(np.uint8)
        ),
    }
    for fmt, payload in payloads.items():
        feats = _REAL_DECODERS[fmt](payload)
        px = decode_image_raster(fmt, payload)
        assert px.shape[:2] == (feats["height"], feats["width"])
        assert abs(float(px.mean()) - feats["mean_level"]) < 1e-12
        assert abs(float(px.max()) - feats["peak_level"]) < 1e-12
    # grayscale JPEG raster too
    img = rng.integers(0, 256, (9, 14)).astype(np.uint8)
    feats = _REAL_DECODERS["jpeg"](_encode_jpeg_gray(img))
    px = decode_image_raster("jpeg", _encode_jpeg_gray(img))
    assert px.ndim == 2 and abs(float(px.mean()) - feats["mean_level"]) < 1e-12
    # GIF raster (palette expansion) against its feature summary
    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _encode_gif,
    )

    pal = [(i * 16, 255 - i * 16, (i * 48) % 256) for i in range(16)]
    idx = [(r * 5 + c) % 16 for r in range(6) for c in range(7)]
    gif = _encode_gif(idx, 7, 6, pal)
    feats = _REAL_DECODERS["gif"](gif)
    px = decode_image_raster("gif", gif)
    assert px.shape == (6, 7, 3)
    assert abs(float(px.mean()) - feats["mean_level"]) < 1e-12
    assert np.allclose(px[0, 0] * 255, pal[idx[0]])


def test_decode_bmp_raster_is_topdown_rgb():
    """BMP stores rows bottom-up in BGR; the raster path must hand back
    top-down RGB (pinned with an asymmetric two-tone image)."""
    from orca_ztbus_python_processor_spark.operators.imagehash import (
        _encode_bmp_rgb,
    )
    from orca_ztbus_python_processor_spark.operators.multimodal import (
        decode_image_raster,
    )

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[0, :, 0] = 255  # top row pure red
    rgb[1, :, 2] = 255  # bottom row pure blue
    px = decode_image_raster("bmp", _encode_bmp_rgb(rgb))
    assert np.allclose(px[0], [[1, 0, 0], [1, 0, 0]])
    assert np.allclose(px[1], [[0, 0, 1], [0, 0, 1]])


# --------------------------------------------------------------------------
# decontam_chunk_localization (VERDICT r8 "Next round" #3)
# --------------------------------------------------------------------------
def test_decontam_chunk_localization_planted(spark, tmp_path):
    """Planted-contamination corpus: a held-out (mod-7) benchmark doc
    carries a known 13-token phrase; train docs embed that phrase at
    controlled token offsets. The flagged (doc, chunk) rows must be
    exactly the chunks containing the phrase's gram START positions —
    pinned against hand-computed chunk indices."""
    import pandas as pd

    phrase = " ".join(f"needle{k}" for k in range(13))
    filler = lambda n, tag: " ".join(f"{tag}{k}" for k in range(n))
    texts = {
        0: f"benchmark header {phrase} benchmark footer",   # bench (0 % 7 == 0)
        1: f"{filler(20, 'pad')} {phrase} trailing words",  # hit at pos 21
        2: f"{phrase} {filler(30, 'tail')}",                # hit at pos 1
        3: filler(40, 'clean'),                             # clean train doc
        8: f"{filler(15, 'mid')} {phrase}",                 # hit at pos 16
    }
    ids = sorted(texts)
    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "text": [texts[i] for i in ids],
            "lang": "en",
            "source": "srcX",
            "n_chars": [len(texts[i]) for i in ids],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    from orca_ztbus_python_processor_spark.workloads.textops import (
        CATALOG as TCAT,
        CHUNK_DEDUP_TOKENS,
    )

    got = {
        (r["doc_id"], r["chunk_idx"]): r["n_hit_grams"]
        for r in TCAT.queries["decontam_chunk_localization"](
            spark, str(tmp_path)
        ).collect()
    }
    # doc 1: phrase tokens at 21..33 -> ONE 13-gram starting at pos 21
    # -> chunk (21-1)//16 = 1; doc 2: start pos 1 -> chunk 0; doc 8:
    # start pos 16 -> chunk 0 ((16-1)//16). doc 3 clean, doc 0 is the
    # bench doc itself (excluded from the train side).
    assert CHUNK_DEDUP_TOKENS == 16
    assert got == {(1, 1): 1, (2, 0): 1, (8, 0): 1}


def test_decontam_chunk_localization_agrees_with_doc_grain(spark):
    """Consistency with the corpus: summing localized chunk hits per
    doc must reproduce an independent pure-python doc-grain recount on
    the same mod-7 split (the two detectors share one definition of
    'contaminated')."""
    import re
    from collections import Counter

    import duckdb

    from orca_ztbus_python_processor_spark.workloads.textops import (
        CATALOG as TCAT,
        DECONTAM_LOC_MOD,
        DECONTAM_N,
    )

    rows = TCAT.queries["decontam_chunk_localization"](spark, SF_DIR).collect()
    got_per_doc = Counter()
    for r in rows:
        got_per_doc[r["doc_id"]] += r["n_hit_grams"]

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    grams = {}
    for doc_id, text in docs:
        toks = re.findall(r"[a-z0-9]+", text.lower())
        n = max(len(toks) - DECONTAM_N + 1, 1)
        grams[doc_id] = [
            " ".join(toks[i : i + DECONTAM_N]) for i in range(n)
        ]
    bench = set()
    for doc_id, gs in grams.items():
        if doc_id % DECONTAM_LOC_MOD == 0:
            bench.update(gs)
    want_per_doc = Counter()
    for doc_id, gs in grams.items():
        if doc_id % DECONTAM_LOC_MOD == 0:
            continue
        hits = sum(1 for g in gs if g in bench)
        if hits:
            want_per_doc[doc_id] = hits
    assert got_per_doc == want_per_doc and len(want_per_doc) > 0


# --------------------------------------------------------------------------
# Single-scan symmetrized co-purchase edge build (VERDICT r8 #6)
# --------------------------------------------------------------------------
def test_sym_weighted_edges_match_two_branch_union(spark):
    """The one-scan both-directions build must be row-identical to the
    old pair-count + swap + union construction, and its single wide
    exchange must leave the result src-partitioned (no further
    exchange under a src-grain aggregation)."""
    from pyspark.sql import functions as F

    from orca_ztbus_python_processor_spark.workloads.relational import (
        _copurchase_sym_weighted_edges,
        _copurchase_weighted_edges,
    )

    sym = _copurchase_sym_weighted_edges(spark, SF_DIR)
    edges = _copurchase_weighted_edges(spark, SF_DIR)
    old = edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    assert sorted(map(tuple, sym.collect())) == sorted(
        map(tuple, old.collect())
    )
    symp = sym.persist()
    try:
        symp.count()
        plan = (
            symp.groupBy("src")
            .agg(F.count("*"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        above_cache = plan.split("InMemoryTableScan")[0]
        assert "Exchange" not in above_cache, above_cache
    finally:
        symp.unpersist()


# --------------------------------------------------------------------------
# Round-9 wave: KMV overlap, token positions, pHash bit balance,
# MinHash calibration
# --------------------------------------------------------------------------
def test_kmv_overlap_matches_pure_python(spark):
    """Independent KMV recount: hashlib md5 -> 60-bit ints -> K
    smallest -> (K-1)/v_k estimator -> inclusion-exclusion, pure
    python — must reproduce every estimate bit-for-bit (the hash is
    md5-derived precisely so references CAN replay it)."""
    import hashlib

    import duckdb

    from orca_ztbus_python_processor_spark.workloads.timeseries import (
        CATALOG as TSCAT,
        KMV_K,
    )

    rows = duckdb.sql(
        f"SELECT DISTINCT event_type, user_id FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    sets: dict[str, set[int]] = {}
    for t, u in rows:
        h = int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
        sets.setdefault(t, set()).add(h)

    def est(hs: set[int]) -> float:
        if len(hs) < KMV_K:
            return float(len(hs))
        vk = sorted(hs)[KMV_K - 1]
        return (KMV_K - 1) * float(1 << 60) / vk

    got = {
        (r["type_a"], r["type_b"]): r
        for r in TSCAT.queries["kmv_distinct_user_overlap"](
            spark, SF_DIR
        ).collect()
    }
    types = sorted(sets)
    assert len(got) == len(types) * (len(types) - 1) // 2
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            r = got[(a, b)]
            ea, eb = est(sets[a]), est(sets[b])
            eu = est(sets[a] | sets[b])
            assert r["est_a"] == np.float32(ea)
            assert r["est_b"] == np.float32(eb)
            assert r["est_union"] == np.float32(eu)
            assert r["est_intersect"] == np.float32(max(ea + eb - eu, 0.0))


def test_kmv_estimator_branch_is_accurate_at_scale(spark):
    """At sf0.1 the per-type audiences exceed K=256, so the (K-1)/v_k
    estimator branch is live — its error against the exact distinct
    count must sit inside the published KMV bound (~1/sqrt(K-2) ≈ 6.3%
    at one sigma; assert 4 sigma)."""
    import duckdb

    from orca_ztbus_python_processor_spark.workloads.timeseries import (
        CATALOG as TSCAT,
        KMV_K,
    )

    sfd = "/root/testdata/sf0.1"
    exact = dict(
        duckdb.sql(
            "SELECT event_type, count(DISTINCT user_id) FROM "
            f"'{sfd}/events.parquet' GROUP BY 1"
        ).fetchall()
    )
    assert min(exact.values()) > KMV_K  # estimator branch active
    rows = TSCAT.queries["kmv_distinct_user_overlap"](spark, sfd).collect()
    tol = 4.0 / (KMV_K - 2) ** 0.5
    for r in rows:
        for side, col in (("type_a", "est_a"), ("type_b", "est_b")):
            rel = abs(r[col] - exact[r[side]]) / exact[r[side]]
            assert rel < tol, (r[side], r[col], exact[r[side]])


def test_rare_token_positions_match_pandas(spark):
    """Independent recount of the positional profile in plain python
    (regex tokenize, per-source df count, bottom-decile rank cutoff,
    center-of-mass positions). Round 10 moved 'rare' from the absolute
    df <= 2 cutoff — which never fires on the fixture (min df is 25 at
    every scale), leaving mean_pos_rare/rare_front_share all-NULL —
    to the bottom decile of the source's df ranking (ties by term)."""
    import math
    import re
    from collections import Counter, defaultdict

    import duckdb

    from orca_ztbus_python_processor_spark.workloads.textops import (
        CATALOG as TCAT,
        RARE_DECILE,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, source, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    df_count: Counter = Counter()  # (source, term) -> doc frequency
    toks_by_doc = {}
    for doc_id, source, text in docs:
        toks = re.findall(r"[a-z0-9]+", text.lower())
        toks_by_doc[doc_id] = (source, toks)
        for t in set(toks):
            df_count[(source, t)] += 1
    # bottom-decile rank cutoff within each source's vocabulary
    vocab_by_source = defaultdict(list)
    for (source, t), df in df_count.items():
        vocab_by_source[source].append((df, t))
    is_rare = {}
    for source, vocab in vocab_by_source.items():
        vocab.sort()
        k = math.ceil(RARE_DECILE * len(vocab))
        assert k >= 1  # live by construction at any scale
        for rk, (_, t) in enumerate(vocab, start=1):
            is_rare[(source, t)] = rk <= k
    agg = defaultdict(lambda: [0, 0, 0.0, 0.0, 0])  # n, n_rare, sum_all, sum_rare, rare_front
    for doc_id, (source, toks) in toks_by_doc.items():
        n = len(toks)
        for i, t in enumerate(toks):
            relpos = (i + 0.5) / n
            a = agg[source]
            a[0] += 1
            a[2] += relpos
            if is_rare[(source, t)]:
                a[1] += 1
                a[3] += relpos
                if relpos < 0.5:
                    a[4] += 1
    got = {
        r["source"]: r
        for r in TCAT.queries["rare_token_position_profile"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(agg)
    for source, (n, n_rare, s_all, s_rare, front) in agg.items():
        r = got[source]
        assert n_rare > 0, f"{source}: rare branch must be exercised"
        assert r["n_occurrences"] == n and r["n_rare"] == n_rare
        assert abs(r["mean_pos_all"] - s_all / n) < 1e-6
        assert abs(r["mean_pos_rare"] - s_rare / n_rare) < 1e-6
        assert abs(r["rare_front_share"] - front / n_rare) < 1e-6


def test_phash_bit_balance_matches_recount(spark):
    """Recount the per-bit shares from phash64 directly over the same
    deterministic corpus; pin the KNOWN DC degeneracy (bit 0 is the
    DC-vs-AC-median sign — essentially always set on natural images,
    carrying ~0 entropy; the audit exists to surface exactly this) and
    require every OTHER bit to be usably balanced."""
    import duckdb

    from orca_ztbus_python_processor_spark.operators.imagehash import (
        PHASH_GROUP,
        _phash_base_pixels,
        phash64,
    )
    from orca_ztbus_python_processor_spark.workloads.pipelineops import (
        CATALOG as PCAT,
    )

    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    ]
    counts = np.zeros(64, dtype=np.int64)
    for d in ids:
        base, member = d // PHASH_GROUP, d % PHASH_GROUP
        ht, wd = 12 + base % 7, 16 + base % 9
        h = phash64(
            (_phash_base_pixels(base, ht, wd) + 3 * member).astype(np.float64)
        )
        for k in range(64):
            if (h >> k) & 1:
                counts[k] += 1
    got = {
        r["bit_idx"]: r
        for r in PCAT.queries["image_phash_bit_balance"](
            spark, SF_DIR
        ).collect()
    }
    assert len(got) == 64
    for k in range(64):
        assert got[k]["n_images"] == len(ids)
        assert abs(got[k]["set_share"] - counts[k] / len(ids)) < 1e-6
    assert got[0]["set_share"] == 1.0  # the DC bit, by construction
    for k in range(1, 64):
        assert 0.15 < got[k]["set_share"] < 0.85, (k, got[k]["set_share"])


def test_minhash_calibration_matches_python_exact_recount(spark):
    """The per-bin mean_exact must equal an independent python
    char-5-shingle Jaccard recount of the SAME candidate pairs, and
    mean_exact must be monotone non-decreasing across populated bins
    (the calibration property)."""
    import duckdb

    from orca_ztbus_python_processor_spark.operators.dedup import (
        candidate_pairs_from_sigs,
        minhash_signatures_and_sets,
    )
    from orca_ztbus_python_processor_spark.sources.parquet import read_table
    from orca_ztbus_python_processor_spark.workloads.pipelineops import (
        CATALOG as PCAT,
    )

    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    )

    def sh(t):
        return (
            frozenset({t[:5]})
            if len(t) < 5
            else frozenset(t[i : i + 5] for i in range(len(t) - 4))
        )

    sets = {i: sh(t or "") for i, t in texts.items()}
    docs = read_table(spark, SF_DIR, "documents")
    cands = candidate_pairs_from_sigs(
        minhash_signatures_and_sets(docs), return_estimate=True
    ).collect()
    from collections import defaultdict

    bins = defaultdict(list)
    for r in cands:
        sa, sb = sets[r["id_a"]], sets[r["id_b"]]
        inter = len(sa & sb)
        union = len(sa) + len(sb) - inter
        j = np.float32(inter / union) if union else np.float32(0.0)
        bins[int(np.floor(r["j_est"] / 0.05))].append(float(j))
    got = {
        r["est_bin"]: r
        for r in PCAT.queries["minhash_jaccard_calibration"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(bins)
    for b, js in bins.items():
        assert got[b]["n_pairs"] == len(js)
        assert abs(got[b]["mean_exact"] - sum(js) / len(js)) < 2e-6
    pop = [got[b]["mean_exact"] for b in sorted(got) if got[b]["n_pairs"] >= 4]
    assert all(x <= y + 0.03 for x, y in zip(pop, pop[1:])), pop


def test_local_clustering_matches_pure_python(spark):
    """Independent recount: build the recurrent co-purchase graph in
    pure python (adjacency sets), count each node's closed neighbor
    pairs directly, and reproduce the binned histogram."""
    from collections import Counter, defaultdict
    from itertools import combinations

    import duckdb

    from orca_ztbus_python_processor_spark.workloads.relational import (
        CATALOG as RCAT,
    )

    rows = duckdb.sql(
        f"SELECT l_orderkey, l_partkey FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchall()
    by_order = defaultdict(set)
    for ok, pk in rows:
        by_order[ok].add(pk)
    pair_n: Counter = Counter()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            pair_n[(a, b)] += 1
    nbrs = defaultdict(set)
    for (a, b), n in pair_n.items():
        if n >= 2:
            nbrs[a].add(b)
            nbrs[b].add(a)
    hist = defaultdict(lambda: [0, 0.0, 0.0])  # n, sum_c, sum_d
    for node, ns in nbrs.items():
        d = len(ns)
        if d < 2:
            continue
        t = sum(
            1 for x, y in combinations(sorted(ns), 2) if y in nbrs[x]
        )
        c = 2.0 * t / (d * (d - 1.0))
        b = min(int(c * 10), 9)
        hist[b][0] += 1
        hist[b][1] += c
        hist[b][2] += d
    got = {
        r["coeff_bin"]: r
        for r in RCAT.queries["copurchase_local_clustering_histogram"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(hist) and len(hist) >= 2
    for b, (n, sc, sd) in hist.items():
        assert got[b]["n_nodes"] == n
        assert abs(got[b]["mean_coeff"] - sc / n) < 1e-6
        assert abs(got[b]["mean_degree"] - sd / n) < 1e-6


def test_lag_xcorr_peak_at_zero_for_self_series(spark):
    """Sanity property on the lag sweep: correlating a series against
    itself-shifted must peak at lag 0 when x == y by construction —
    pinned by recomputing the click/error sweep in pandas."""
    import duckdb
    import pandas as pd

    from orca_ztbus_python_processor_spark.workloads.timeseries import (
        CATALOG as TSCAT,
        XCORR_MAX_LAG,
    )

    rates = duckdb.sql(
        "SELECT date_trunc('minute', ts) AS minute, "
        "sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS x, "
        "sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS y "
        f"FROM '{SF_DIR}/events.parquet' GROUP BY 1"
    ).df()
    rates = rates.set_index("minute")
    got = {
        r["lag"]: r
        for r in TSCAT.queries["type_lag_cross_correlation"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1))
    for lag in got:
        shifted = rates.copy()
        shifted.index = shifted.index - pd.Timedelta(minutes=lag)
        j = rates[["x"]].join(shifted[["y"]], how="inner").dropna()
        assert got[lag]["n_minutes"] == len(j)
        want = j["x"].astype(float).corr(j["y"].astype(float))
        assert abs(got[lag]["xcorr"] - want) < 1e-5, (lag, got[lag], want)


def test_image_decontam_phash_flags_exactly_bruteforce(spark):
    """Perceptual image decontam: per-format flagged counts must equal
    a pure-python brute-force hamming<=3 sweep of every train hash
    against every benchmark hash (recall-complete banding + exact
    verify => exact equality, not a bound)."""
    import duckdb

    from orca_ztbus_python_processor_spark.operators.imagehash import (
        PHASH_GROUP,
        _PHASH_FORMATS,
        _phash_base_pixels,
        phash64,
    )
    from orca_ztbus_python_processor_spark.workloads.pipelineops import (
        CATALOG as PCAT,
        IMG_DECONTAM_MOD,
    )

    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    ]
    hashes = {}
    for d in ids:
        base, member = d // PHASH_GROUP, d % PHASH_GROUP
        ht, wd = 12 + base % 7, 16 + base % 9
        hashes[d] = phash64(
            (_phash_base_pixels(base, ht, wd) + 3 * member).astype(np.float64)
        )
    bench = [d for d in ids if d % IMG_DECONTAM_MOD == 0]
    want = {f: [0, 0] for f in _PHASH_FORMATS}  # n_train, n_flagged
    for d in ids:
        if d % IMG_DECONTAM_MOD == 0:
            continue
        fmt = _PHASH_FORMATS[(d // PHASH_GROUP) % len(_PHASH_FORMATS)]
        want[fmt][0] += 1
        if any(
            bin((hashes[d] ^ hashes[b]) & (2**64 - 1)).count("1") <= 3
            for b in bench
        ):
            want[fmt][1] += 1
    got = {
        r["format"]: r
        for r in PCAT.queries["image_decontam_phash"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    total_flagged = sum(v[1] for v in want.values())
    assert total_flagged >= 15  # planted groups straddle the mod split
    for f, (n, fl) in want.items():
        assert got[f]["n_train_images"] == n
        assert got[f]["n_flagged"] == fl
        assert abs(got[f]["flagged_share"] - fl / n) < 1e-6


def test_median_ci_matches_pure_python_order_stats(spark):
    """Order-statistic CI recount in plain python: sort each group,
    pick the l/median/u ranks with the same normal-approx formulas,
    and require exact equality (the rank arithmetic is IEEE-identical
    across engines by construction)."""
    import math

    import duckdb

    from orca_ztbus_python_processor_spark.workloads.relational import (
        CATALOG as RCAT,
    )

    rows = duckdb.sql(
        "SELECT o_orderpriority, o_totalprice, o_orderkey FROM "
        f"'{SF_DIR}/orders.parquet'"
    ).fetchall()
    groups = {}
    for pri, price, ok in rows:
        groups.setdefault(pri, []).append((price, ok))
    got = {
        r["o_orderpriority"]: r
        for r in RCAT.queries["median_ci_by_priority"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(groups)
    for pri, vals in groups.items():
        vals.sort()
        n = len(vals)
        l = max(int(math.floor((n - 1.96 * math.sqrt(n)) / 2)), 1)
        u = min(int(math.ceil((n + 1.96 * math.sqrt(n)) / 2)) + 1, n)
        m1, m2 = (n + 1) // 2, (n + 2) // 2
        med = (vals[m1 - 1][0] + vals[m2 - 1][0]) / 2.0
        r = got[pri]
        assert r["n_orders"] == n
        assert r["median"] == np.float32(med)
        assert r["ci_lo"] == np.float32(vals[l - 1][0])
        assert r["ci_hi"] == np.float32(vals[u - 1][0])
        assert r["ci_lo"] <= r["median"] <= r["ci_hi"]


def test_zipf_slope_matches_numpy_polyfit(spark):
    """Independent fit: rank-frequency per source recounted in python,
    slope/r2 via numpy closed form on the same top-500 head."""
    import re
    from collections import Counter

    import duckdb

    from orca_ztbus_python_processor_spark.workloads.textops import (
        CATALOG as TCAT,
        ZIPF_RANKS,
    )

    docs = duckdb.sql(
        f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    tf = {}
    for source, text in docs:
        c = tf.setdefault(source, Counter())
        c.update(re.findall(r"[a-z0-9]+", text.lower()))
    got = {
        r["source"]: r
        for r in TCAT.queries["zipf_rank_slope"](spark, SF_DIR).collect()
    }
    assert set(got) == set(tf)
    for source, c in tf.items():
        head = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_RANKS]
        x = np.log(np.arange(1, len(head) + 1, dtype=np.float64))
        y = np.log(np.array([f for _, f in head], dtype=np.float64))
        n = len(head)
        cov = n * (x * y).sum() - x.sum() * y.sum()
        varx = n * (x * x).sum() - x.sum() ** 2
        vary = n * (y * y).sum() - y.sum() ** 2
        r = got[source]
        assert r["n_ranks"] == n
        assert abs(r["zipf_slope"] - cov / varx) < 1e-5
        assert abs(r["r2"] - cov**2 / (varx * vary)) < 1e-5
        assert r["zipf_slope"] < 0  # frequencies decay with rank
