"""Correctness tests for the non-SQL-expressible pipeline operators
(SURVEY.md §5 strategy #5): brute-force cross-checks and
self-consistency properties at sf0.001."""

from __future__ import annotations

import zlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from orca_ztbus_python_processor_spark.operators.dedup import (
    candidate_pairs_from_sigs,
    jaccard_pairs_from_sets,
    minhash_near_dups,
    minhash_signatures_and_sets,
    simhash_near_dups,
    winnow_fingerprints,
)
from orca_ztbus_python_processor_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    media_table_from_documents,
)
from orca_ztbus_python_processor_spark.operators.similarity import ann_cosine_topk
from orca_ztbus_python_processor_spark.sources.parquet import read_table

from tests.conftest import SMOKE_SF_DIR


def _py_shingle_set(text: str, k: int = 5) -> set[str]:
    if len(text) < k:
        return {text[:k]}
    return {text[i : i + k] for i in range(len(text) - k + 1)}


def _py_jaccard(a: str, b: str, k: int = 5) -> float:
    sa, sb = _py_shingle_set(a, k), _py_shingle_set(b, k)
    inter = len(sa & sb)
    union = len(sa | sb)
    return inter / union if union else 0.0


@pytest.fixture(scope="module")
def docs_pdf(spark):
    return read_table(spark, SMOKE_SF_DIR, "documents").select("doc_id", "text").toPandas()


def test_minhash_recall_against_bruteforce(spark, docs_pdf):
    """Every truly-similar pair (jaccard >= 0.6) must be caught by the
    LSH pipeline run at threshold 0.5 (16 bands x 4 rows -> ~97%
    collision probability at j=0.6)."""
    docs = read_table(spark, SMOKE_SF_DIR, "documents")
    found = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(docs, threshold=0.5).collect()
    }
    texts = dict(zip(docs_pdf["doc_id"], docs_pdf["text"]))
    ids = sorted(texts)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if _py_jaccard(texts[a], texts[b]) >= 0.6:
                truth.add((a, b))
    missed = truth - found
    assert not missed, f"LSH missed {len(missed)} of {len(truth)} true pairs: {sorted(missed)[:5]}"


def test_jaccard_values_exact(spark, docs_pdf):
    """The verify scores EVERY banded candidate pair, each equal to a
    pure-Python shingle-set recount."""
    docs = read_table(spark, SMOKE_SF_DIR, "documents")
    fused = minhash_signatures_and_sets(docs).localCheckpoint()
    cands = candidate_pairs_from_sigs(fused).localCheckpoint()
    got = jaccard_pairs_from_sets(fused, cands).collect()
    assert got, "expected at least some candidate pairs on this corpus"
    assert len(got) == cands.count()
    texts = dict(zip(docs_pdf["doc_id"], docs_pdf["text"]))
    for r in got:
        expected = _py_jaccard(texts[r["id_a"]], texts[r["id_b"]])
        assert abs(r["jaccard"] - expected) < 1e-6, (r["id_a"], r["id_b"])


def test_sketch_gate_keeps_all_above_threshold_pairs(spark):
    """The nibble-sketch candidate gate is a recall filter: every pair
    the ungated pipeline verifies at jaccard >= threshold must survive
    gating at threshold - 0.2 (> 3 sigma of the 64-hash estimate)."""
    docs = read_table(spark, SMOKE_SF_DIR, "documents")
    fused = minhash_signatures_and_sets(docs).localCheckpoint()
    ungated = jaccard_pairs_from_sets(fused, candidate_pairs_from_sigs(fused))
    truth = {
        (r["id_a"], r["id_b"])
        for r in ungated.where(F.col("jaccard") >= 0.5).collect()
    }
    gated = {
        (r["id_a"], r["id_b"])
        for r in candidate_pairs_from_sigs(fused, min_est=0.3).collect()
    }
    missed = truth - gated
    assert not missed, f"sketch gate dropped {len(missed)} true pairs"


def test_simhash_identical_docs_zero_hamming(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog",
                "completely different words entirely unrelated content here",
            ],
        }
    )
    out = simhash_near_dups(spark.createDataFrame(pdf), max_hamming=0).collect()
    assert len(out) == 1
    assert (out[0]["id_a"], out[0]["id_b"], out[0]["hamming"]) == (1, 2, 0)


def test_ann_recall_against_bruteforce(spark):
    emb = read_table(spark, SMOKE_SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    queries = emb.where(F.col("vec_id") % 50 == 0)

    approx = ann_cosine_topk(emb, queries, k=5).collect()
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}

    # brute force
    import numpy as np

    pdf = emb.toPandas()
    mat = np.array(pdf["emb"].tolist())
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    truth_pairs = set()
    for q in ids[ids % 50 == 0]:
        qi = int(np.where(ids == q)[0][0])
        scores = mat @ mat[qi]
        scores[qi] = -2
        top = ids[np.argsort(-scores)[:5]]
        truth_pairs |= {(int(q), int(n)) for n in top}

    recall = len(approx_pairs & truth_pairs) / len(truth_pairs)
    assert recall >= 0.5, f"ANN recall@5 too low: {recall:.2f}"


def test_winnow_fingerprint_properties(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "spark window query batch filter merge sort table",
                "spark window query batch filter merge sort table",  # dup
                "zzzz entirely unrelated qqqq text wwww here eeee",
            ],
        }
    )
    fp = winnow_fingerprints(spark.createDataFrame(pdf)).toPandas()
    s1 = set(fp[fp.doc_id == 1]["fingerprint"])
    s2 = set(fp[fp.doc_id == 2]["fingerprint"])
    s3 = set(fp[fp.doc_id == 3]["fingerprint"])
    assert s1 == s2  # identical docs -> identical fingerprint sets
    assert len(s1 & s3) == 0  # disjoint content -> disjoint fingerprints
    assert len(s1) > 0


def test_winnow_per_doc_parity_vs_reference(spark, docs_pdf):
    """Per-doc fingerprint SETS over the real sf0.001 corpus must equal
    an independent pure-Python winnowing (hashlib md5, plain ints, no
    shared code with the operator beyond the published constants).
    Since round 10 the driver also hash-matches the DuckDB oracle; this
    test remains the engine-independent third opinion on the exact
    token-3-gram / window-4 / md5-60-bit spec."""
    import hashlib
    import re

    k, window = 3, 4

    def py_winnow(text: str) -> set[int]:
        ts = re.findall(r"[a-z0-9]+", (text or "").lower())
        if not ts:
            return set()
        grams = [
            " ".join(ts[i : i + k]) for i in range(max(len(ts) - k + 1, 1))
        ]
        h = [
            int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
            for g in grams
        ]
        if len(h) >= window:
            mins = [min(h[i : i + window]) for i in range(len(h) - window + 1)]
        else:
            mins = [min(h)]
        return set(mins)

    got = winnow_fingerprints(
        spark.createDataFrame(docs_pdf), k=k, window=window
    ).toPandas()
    by_doc = {d: set(g["fingerprint"]) for d, g in got.groupby("doc_id")}
    checked = 0
    for doc_id, text in zip(docs_pdf["doc_id"], docs_pdf["text"]):
        assert by_doc.get(doc_id, set()) == py_winnow(text), doc_id
        checked += 1
    assert checked == len(docs_pdf) > 0


def test_multimodal_features_deterministic(spark):
    docs = read_table(spark, SMOKE_SF_DIR, "documents").limit(20)
    media = media_table_from_documents(docs)
    feats = extract_features(media).toPandas().sort_values("media_id")
    texts = docs.select("doc_id", "text").toPandas().set_index("doc_id")["text"]
    for _, row in feats.iterrows():
        payload = texts[row["media_id"]].encode()
        assert row["payload_bytes"] == len(payload)
        assert row["checksum"] == zlib.crc32(payload)
        assert abs(row["brightness"] - sum(payload) / len(payload)) < 1e-9


def test_multimodal_real_decoder_gate_narrowed_to_missing_codecs(spark):
    """decoder="real" decodes wav/bmp/ppm/png/gif/jpeg for real;
    formats that need PIL/ffmpeg (webp/mp4) still raise
    NotImplementedError — from inside the decode stage."""
    media = spark.createDataFrame(
        [(1, b"RIFFxxxxWEBP", 2, 2, "webp", 1)],
        "media_id long, payload binary, width int, height int, "
        "format string, n_frames int",
    )
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        extract_features(media, decoder="real").count()


def test_multimodal_real_decode_golden_payloads(spark):
    """Known byte streams -> exact decoded features for all three
    stdlib decoders."""
    import io
    import struct
    import wave as wave_mod

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        real_features,
    )

    # WAV: mono 16-bit, 4 samples [0, max, min+1, 0] at 8 kHz
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 0, 32767, -32767, 0))
    wav_payload = buf.getvalue()

    # BMP: 2x1 24bpp, pixels (0,0,0) and (255,255,255), 2-byte row pad
    raster = bytes([0, 0, 0, 255, 255, 255, 0, 0])
    bmp_payload = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + raster
    )

    # PPM: 1x2 with a header comment, pixels 51 x3 and 102 x3
    ppm_payload = b"P6\n# c\n1 2\n255\n" + bytes([51] * 3 + [102] * 3)

    media = spark.createDataFrame(
        [(1, "wav", bytearray(wav_payload)),
         (2, "bmp", bytearray(bmp_payload)),
         (3, "ppm", bytearray(ppm_payload))],
        "media_id long, format string, payload binary",
    )
    got = {r["media_id"]: r for r in real_features(media).collect()}

    wav = got[1]
    assert (wav["n_channels"], wav["sample_rate"], wav["n_samples"]) == (1, 8000, 4)
    assert wav["peak_level"] == pytest.approx(32767 / 32768)
    assert wav["mean_level"] == pytest.approx((2 * 32767 / 32768) / 4)
    assert wav["width"] is None and wav["payload_bytes"] == len(wav_payload)

    bmp = got[2]
    assert (bmp["width"], bmp["height"], bmp["n_samples"]) == (2, 1, 2)
    assert bmp["peak_level"] == pytest.approx(1.0)
    assert bmp["mean_level"] == pytest.approx(0.5)  # padding excluded

    ppm = got[3]
    assert (ppm["width"], ppm["height"], ppm["n_samples"]) == (1, 2, 2)
    assert ppm["peak_level"] == pytest.approx(102 / 255)
    assert ppm["mean_level"] == pytest.approx((51 + 102) / 2 / 255)

    # 16-bit P6 (maxval > 255) must raise, not half-read the raster
    from orca_ztbus_python_processor_spark.operators.multimodal import _decode_ppm

    with pytest.raises(ValueError, match="8-bit"):
        _decode_ppm(b"P6\n1 1\n65535\n" + bytes(6))


def test_png_decode_golden_all_filters():
    """Hand-built 3x5 RGB PNG, one scanline per filter type (0..4):
    _decode_png must reproduce the exact known raster statistics. The
    payload is assembled HERE (not via the fixture encoder) so encoder
    and decoder cannot share a bug."""
    import struct as _struct
    import zlib as _zlib

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_png,
    )

    w, h, bpp = 3, 5, 3
    raster = [
        bytes((r * 40 + c * 9) % 256 for c in range(w * bpp)) for r in range(h)
    ]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    scan = bytearray()
    prev = bytes(w * bpp)
    for r, cur in enumerate(raster):
        ft = r  # row r uses filter type r
        scan.append(ft)
        for i, x in enumerate(cur):
            a = cur[i - bpp] if i >= bpp else 0
            up = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            pred = [0, a, up, (a + up) >> 1, paeth(a, up, c)][ft]
            scan.append((x - pred) & 0xFF)
        prev = cur

    def chunk(kind, data):
        return (
            _struct.pack(">I", len(data)) + kind + data
            + _struct.pack(">I", _zlib.crc32(kind + data))
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", _zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )
    got = _decode_png(payload)
    flat = [x for row in raster for x in row]
    assert (got["width"], got["height"], got["n_channels"]) == (w, h, 3)
    assert got["n_samples"] == w * h
    assert got["peak_level"] == pytest.approx(max(flat) / 255)
    assert got["mean_level"] == pytest.approx(sum(flat) / len(flat) / 255)

    # sub-gates: 16-bit, palette, interlaced all refuse honestly
    for depth, ctype, inter in ((16, 2, 0), (8, 3, 0), (8, 2, 1)):
        bad = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, inter))
            + chunk(b"IDAT", _zlib.compress(bytes(scan)))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="8-bit non-interlaced"):
            _decode_png(bad)


def test_multimodal_real_decode_catalog_entry_deterministic(spark):
    from orca_ztbus_python_processor_spark.workloads.pipelineops import (
        multimodal_real_decode,
    )

    a = multimodal_real_decode(spark, SMOKE_SF_DIR).toPandas().sort_values("media_id")
    b = multimodal_real_decode(spark, SMOKE_SF_DIR).toPandas().sort_values("media_id")
    assert len(a) > 0 and a.reset_index(drop=True).equals(b.reset_index(drop=True))
    assert set(a["format"]) == {"wav", "bmp", "ppm", "png", "gif", "jpeg"}
    assert (a["peak_level"] <= 1.0).all() and (a["payload_bytes"] > 0).all()


def test_frame_sample_counts(spark):
    docs = read_table(spark, SMOKE_SF_DIR, "documents").limit(50)
    media = media_table_from_documents(docs)
    got = (
        frame_sample_plan(media, every_n=24)
        .groupBy("media_id")
        .agg(F.count("*").alias("n"))
        .join(media.select("media_id", "n_frames"), "media_id")
        .collect()
    )
    for r in got:
        assert r["n"] == (r["n_frames"] + 23) // 24


def test_dup_components_blocked_refines_exact(spark):
    """The cell-blocked dup-cluster pipeline (blocked pairs -> CC) must
    be a REFINEMENT of the exact one at equal threshold: blocked pairs
    are a subset of exact pairs (no invented edges), so two nodes the
    blocked variant clusters together must share an exact cluster —
    components may split on a missed edge, never merge wrongly. Also pin
    that near-all nodes land on identical labels (recall floor)."""
    from orca_ztbus_python_processor_spark.workloads.pipelineops import (
        embedding_dup_components_blocked,
    )
    from orca_ztbus_python_processor_spark.workloads.vectors import (
        embedding_dup_components,
    )

    exact = {
        r["vec_id"]: r["component"]
        for r in embedding_dup_components(spark, SMOKE_SF_DIR).collect()
    }
    blocked = {
        r["vec_id"]: r["component"]
        for r in embedding_dup_components_blocked(spark, SMOKE_SF_DIR).collect()
    }
    assert set(blocked) == set(exact)  # every vector assigned exactly once

    # refinement: same blocked label => same exact label
    by_blocked: dict[int, set[int]] = {}
    for node, comp in blocked.items():
        by_blocked.setdefault(comp, set()).add(exact[node])
    assert all(len(s) == 1 for s in by_blocked.values()), "blocked CC merged nodes the exact clustering separates"

    same = sum(1 for n in exact if exact[n] == blocked[n])
    assert same / len(exact) >= 0.95, f"blocked clustering diverges on {len(exact) - same}/{len(exact)} nodes"


def test_cross_source_dup_matrix_nontrivial(spark):
    """Pin both grains against real duplicate structure at sf0.1: the
    span measure (live at every scale since the round-10 rework) AND
    the exact-text measure, whose 8 planted cross-source whole-doc
    dups exist only at sf0.1 — so the text branch stays exercised here
    even though it is 0 at the driver's sf0.01."""
    import duckdb

    from orca_ztbus_python_processor_spark.workloads.textops import (
        cross_source_dup_matrix,
    )

    got = (
        cross_source_dup_matrix(spark, "/root/testdata/sf0.1")
        .toPandas()
        .sort_values(["source_a", "source_b"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    exp = (
        con.execute(
            """
            WITH h AS (SELECT DISTINCT source, md5(text) AS h
                       FROM '/root/testdata/sf0.1/documents.parquet')
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS n_shared_texts
            FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2 ORDER BY 1, 2
            """
        )
        .df()
        .reset_index(drop=True)
    )
    assert exp["n_shared_texts"].sum() > 0, "sf0.1 fixture lost its exact dups"
    assert got["n_shared_texts"].sum() == exp["n_shared_texts"].sum()
    # exact-dup pairs are a subset of span pairs (identical text shares
    # every span), and every exact pair's text count matches
    by_pair = {
        (r.source_a, r.source_b): r.n_shared_texts for r in got.itertuples()
    }
    for r in exp.itertuples():
        assert by_pair.get((r.source_a, r.source_b)) == r.n_shared_texts
    assert (got["n_shared_spans"] > 0).all()
    assert got["n_shared_spans"].sum() > got["n_shared_texts"].sum()


def test_text_dedup_retention_matches_union_find(spark):
    """The e2e retention query's keep/drop logic must equal an
    independent union-find over the SAME candidate pairs: per source,
    kept = docs that are the min doc_id of their dup cluster (or
    unpaired), dropped = the rest."""
    from orca_ztbus_python_processor_spark.operators.dedup import minhash_near_dups
    from orca_ztbus_python_processor_spark.workloads.pipelineops import (
        text_dedup_retention,
    )

    docs = read_table(spark, SMOKE_SF_DIR, "documents")
    pairs = minhash_near_dups(docs, threshold=0.5).collect()

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    expected: dict[str, list[int]] = {}
    for row in docs.select("doc_id", "source").collect():
        n_docs, n_kept = expected.setdefault(row["source"], [0, 0])
        n_docs += 1
        n_kept += 1 if find(row["doc_id"]) == row["doc_id"] else 0
        expected[row["source"]] = [n_docs, n_kept]

    got = {
        r["source"]: (r["n_docs"], r["n_kept"], r["n_dropped"])
        for r in text_dedup_retention(spark, SMOKE_SF_DIR).collect()
    }
    assert set(got) == set(expected)
    assert any(v[2] > 0 for v in got.values()), "fixture has near-dups; none dropped"
    for src, (n_docs, n_kept) in expected.items():
        assert got[src] == (n_docs, n_kept, n_docs - n_kept), src


def test_pair_expand_flood_bucket_star_fallback(spark):
    """A bucket past max_members falls back to MULTI-CENTER star
    expansion (the first min(_STAR_CENTERS, max_members) members pair
    with each other and with every remaining member — linear in the
    bucket, and a member stays CC-connected unless ALL of its
    center-pairs fail the downstream verify) instead of the quadratic
    full expansion that would OOM an executor at corpus scale; buckets
    at or under the cap expand fully."""
    from orca_ztbus_python_processor_spark.operators.dedup import _pair_expand

    rows = [
        (1, [{"id": i} for i in range(8)]),  # flood bucket (cap 4 -> 4 centers)
        (2, [{"id": i} for i in range(10, 13)]),  # normal bucket
    ]
    bucketed = spark.createDataFrame(
        rows, "bucket long, ids array<struct<id: long>>"
    )
    got = {(r["m_a"]["id"], r["m_b"]["id"]) for r in _pair_expand(bucketed, max_members=4).collect()}
    centers, rest = range(4), range(4, 8)
    star = {(a, b) for a in centers for b in centers if a < b} | {
        (a, b) for a in centers for b in rest
    }
    normal = {(10, 11), (10, 12), (11, 12)}
    assert got == star | normal
    # every flood member touches all 4 centers (multi-center robustness)
    for m in rest:
        assert {(a, m) for a in centers} <= got


def test_connected_components_empty_graph(spark):
    from orca_ztbus_python_processor_spark.operators.dedup import (
        connected_components,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(empty)
    assert out.columns == ["node", "component"]
    assert out.count() == 0


def test_data_mix_rebalance_downsamples_overrepresented(spark, tmp_path):
    """The driver corpus is perfectly balanced (every fraction 1.0), so
    exercise the actual rebalancing math on a skewed fixture: the
    over-represented source is downsampled to the uniform target, the
    under-represented ones keep everything."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from orca_ztbus_python_processor_spark.workloads.textops import (
        data_mix_rebalance_profile,
    )

    rows = [("big", 60), ("small_a", 25), ("small_b", 15)]
    doc_id, text, lang, source, n_chars = [], [], [], [], []
    i = 0
    for src, n in rows:
        for _ in range(n):
            doc_id.append(i)
            text.append(f"doc {i}")
            lang.append("en")
            source.append(src)
            n_chars.append(5)
            i += 1
    pq.write_table(
        pa.table(
            {"doc_id": pa.array(doc_id, pa.int64()), "text": text,
             "lang": lang, "source": source,
             "n_chars": pa.array(n_chars, pa.int64())}
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r["source"]: r
        for r in data_mix_rebalance_profile(spark, str(tmp_path)).collect()
    }
    # target share = 1/3; "big" holds 60% -> fraction (1/3)/0.6 = 5/9
    assert got["big"]["sample_fraction"] == pytest.approx(5 / 9, abs=1e-6)
    assert got["big"]["expected_n"] == 33  # floor(60 * 5/9)
    assert got["small_a"]["sample_fraction"] == 1.0
    assert got["small_a"]["expected_n"] == 25
    assert got["small_b"]["sample_fraction"] == 1.0
    assert sum(r["n_docs"] for r in got.values()) == 100


def test_gif_decode_golden_hand_built():
    """Hand-built 2x2 GIF (4-entry palette — enough to force a real
    variable-width LZW stream at min code size 2): _decode_gif must
    reproduce the exact palette-mapped raster statistics. The payload
    is assembled HERE byte by byte (not via the fixture encoder) so
    encoder and decoder cannot share a bug."""
    import struct as _s

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_gif,
    )

    # palette: black, white, mid-red, mid-blue
    pal = bytes([0, 0, 0, 255, 255, 255, 128, 0, 0, 0, 0, 128])
    # raster indices row-major: [0, 1, 2, 3]; mcs=2 -> clear=4, eoi=5,
    # codes (3 bits each, LSB-first): 4,0,1,2,3,5
    codes, mcs = [4, 0, 1, 2, 3, 5], 2
    acc = nbits = 0
    bits = bytearray()
    # width grows 3->4 only AFTER the code whose table insertion fills
    # code 7 is fully consumed (next_code reaches 8 while processing
    # the third pixel code), so code 2 is still a 3-bit read and codes
    # 3 / EOI are 4-bit reads — exactly how a conforming decoder tracks
    # it
    widths = [3, 3, 3, 3, 4, 4]
    for code, wdt in zip(codes, widths):
        acc |= code << nbits
        nbits += wdt
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        bits.append(acc & 0xFF)
    payload = (
        b"GIF89a"
        + _s.pack("<HHBBB", 2, 2, 0x80 | 0x01, 0, 0)  # 4-entry GCT
        + pal
        + b"\x21\xfe\x03abc\x00"  # comment extension (must be skipped)
        + b"\x2c" + _s.pack("<HHHHB", 0, 0, 2, 2, 0)
        + bytes([mcs, len(bits)]) + bytes(bits) + b"\x00"
        + b"\x3b"
    )
    got = _decode_gif(payload)
    assert (got["width"], got["height"], got["n_channels"]) == (2, 2, 3)
    assert got["n_samples"] == 4
    # mean over palette-mapped RGB bytes / 255
    vals = [0, 0, 0, 255, 255, 255, 128, 0, 0, 0, 0, 128]
    assert got["mean_level"] == pytest.approx(sum(vals) / 12 / 255)
    assert got["peak_level"] == pytest.approx(1.0)


def test_gif_encode_decode_roundtrip_exact():
    """The fixture encoder's LZW stream (literal codes + periodic
    CLEAR) decodes to exactly the indices that were encoded."""
    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_gif,
        _encode_gif,
    )

    wd, ht = 7, 5
    pal = [(i * 16, 255 - i * 16, (i * 7) % 256) for i in range(16)]
    idx = [(r * 5 + c * 3) % 16 for r in range(ht) for c in range(wd)]
    got = _decode_gif(_encode_gif(idx, wd, ht, pal))
    import numpy as _np

    px = _np.array([pal[i] for i in idx], dtype=_np.float64) / 255.0
    assert (got["width"], got["height"], got["n_samples"]) == (wd, ht, wd * ht)
    assert got["mean_level"] == pytest.approx(float(px.mean()))
    assert got["peak_level"] == pytest.approx(float(px.max()))


def test_gif_decode_sub_gates():
    """Interlaced / local-color-table / missing-GCT GIFs raise instead
    of returning plausible garbage."""
    import struct as _s

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_gif,
        _encode_gif,
    )

    base = _encode_gif([0, 1, 2, 3], 2, 2, [(i, i, i) for i in range(16)])
    # no global color table: clear bit 7 of the LSD packed byte
    no_gct = bytearray(base)
    no_gct[10] &= 0x7F
    with pytest.raises(ValueError, match="global color table"):
        _decode_gif(bytes(no_gct))
    # interlace flag on the image descriptor packed byte
    img_off = 13 + 48  # header+LSD then 16*3 GCT; image block starts here
    assert base[img_off] == 0x2C
    interlaced = bytearray(base)
    interlaced[img_off + 9] |= 0x40
    with pytest.raises(ValueError, match="interlaced"):
        _decode_gif(bytes(interlaced))
    local_ct = bytearray(base)
    local_ct[img_off + 9] |= 0x80
    with pytest.raises(ValueError, match="local color table"):
        _decode_gif(bytes(local_ct))
    with pytest.raises(ValueError, match="not a GIF"):
        _decode_gif(b"NOTGIF" + bytes(20))


def test_winnow_containment_detects_planted_inclusion(spark):
    """Containment semantics: a doc pasted verbatim inside a larger doc
    must pair with it at high containment even though their JACCARD is
    low (the case winnow_containment_pairs exists for); two unrelated
    docs must not pair."""
    import numpy as np

    rng = np.random.RandomState(11)

    def rand_text(n):
        return " ".join(
            "".join(rng.choice(list("abcdefghij"), size=6)) for _ in range(n)
        )

    inner = rand_text(40)
    outer = rand_text(200) + " " + inner + " " + rand_text(200)
    other = rand_text(400)
    pdf = __import__("pandas").DataFrame(
        {"doc_id": [1, 2, 3], "text": [inner, outer, other]}
    )
    from pyspark.sql import functions as F

    from orca_ztbus_python_processor_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(pdf)
    # same pipeline as the catalog query, on the synthetic frame

    fps = winnow_fingerprints(docs).localCheckpoint(eager=False)
    rare = fps.groupBy("fingerprint").agg(F.count("*").alias("_df")).where(
        F.col("_df") <= 64
    )
    filtered = fps.join(rare.select("fingerprint"), "fingerprint")
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = filtered.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = filtered.select(F.col("doc_id").alias("id_b"), "fingerprint")
    shared = (
        a.join(b, "fingerprint")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    joined = (
        shared.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("n_fp_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("n_fp_b")),
            "id_b",
        )
        .withColumn(
            "containment",
            F.col("n_shared") / F.least("n_fp_a", "n_fp_b").cast("double"),
        )
    )
    rows = {(r["id_a"], r["id_b"]): r["containment"] for r in joined.collect()}
    assert rows.get((1, 2), 0.0) >= 0.9, rows
    assert rows.get((1, 3), 0.0) < 0.2 and rows.get((2, 3), 0.0) < 0.2, rows


def test_jpeg_roundtrip_matches_independent_reconstruction():
    """The baseline JPEG decoder must reproduce EXACTLY the quantized
    reconstruction computed independently (FDCT -> round -> dequant ->
    IDCT in straight numpy, no shared code path with the entropy
    coder), across random sizes incl. non-multiple-of-8 edges — this
    pins the Huffman tables, zigzag, byte stuffing, DC prediction and
    IDCT all at once. Quantization error vs the ORIGINAL image stays
    bounded."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _JPEG_C,
        _JPEG_QUANT_LUMA,
        _decode_jpeg,
        _encode_jpeg_gray,
    )

    rng = np.random.RandomState(3)
    qtab = _JPEG_QUANT_LUMA.reshape(8, 8)
    for _ in range(10):
        h, w = rng.randint(1, 40), rng.randint(1, 40)
        img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        feats = _decode_jpeg(_encode_jpeg_gray(img))
        assert (feats["width"], feats["height"]) == (w, h)
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        padded = np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge").astype(
            np.float64
        )
        recon = np.zeros_like(padded)
        for by in range(0, ph, 8):
            for bx in range(0, pw, 8):
                blk = padded[by : by + 8, bx : bx + 8] - 128.0
                qv = np.round((_JPEG_C @ blk @ _JPEG_C.T) / qtab)
                recon[by : by + 8, bx : bx + 8] = (
                    _JPEG_C.T @ (qv * qtab) @ _JPEG_C + 128.0
                )
        recon = np.clip(np.round(recon[:h, :w]), 0, 255) / 255.0
        assert feats["mean_level"] == float(recon.mean())
        assert feats["peak_level"] == float(recon.max())
        assert abs(feats["mean_level"] - img.mean() / 255.0) < 0.08


def test_jpeg_flat_image_is_dc_only_exact():
    """A flat image survives JPEG exactly (DC-only block, quantization
    of a constant is lossless up to the rounding step)."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_gray,
    )

    img = np.full((16, 24), 200, dtype=np.uint8)
    feats = _decode_jpeg(_encode_jpeg_gray(img))
    assert abs(feats["mean_level"] - 200 / 255) < 0.02
    assert feats["n_channels"] == 1 and feats["n_samples"] == 16 * 24


def test_jpeg_honest_gates_after_progressive_support():
    """The residual NotImplementedError gate narrows to what genuinely
    needs libjpeg now that progressive (grayscale AND color, with AC
    successive-approximation refinement) decodes: sampling factors
    beyond 2x2 and hierarchical SOFs."""
    import pytest as _pytest

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_gray,
    )
    import numpy as np

    # 2x2 factors are DECODED since round 7 (4:2:0 support); the gate
    # now starts beyond 2x2 — patch comp 0 to 3x3
    good = _encode_jpeg_gray(np.zeros((8, 8), dtype=np.uint8))
    i = good.index(b"\xff\xc0")
    sof_payload = bytearray(good)
    sof_payload[i + 2 + 2 + 6 + 1] = 0x33  # comp 0 HV factor
    with _pytest.raises(NotImplementedError, match="beyond 2x2"):
        _decode_jpeg(bytes(sof_payload))
    # hierarchical SOF (0xC3) stays gated
    with _pytest.raises(NotImplementedError, match="hierarchical"):
        _decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc3", 1))


def test_jpeg_progressive_decodes_identically_to_baseline():
    """The progressive encoder/decoder pairs use the same quant and
    Huffman tables as the baseline pairs, so for ANY image the two
    streams carry identical quantized coefficients — decoded features
    must be EXACTLY equal (multi-scan accumulation, DC successive
    approximation, spectral-band EOB-run handling all pinned by one
    equality)."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_gray,
        _encode_jpeg_progressive_gray,
    )

    rng = np.random.default_rng(7)
    cases = [
        rng.integers(0, 256, (int(rng.integers(5, 40)), int(rng.integers(5, 40)))).astype(np.uint8)
        for _ in range(8)
    ]
    cases.append(np.tile((np.arange(32, dtype=np.uint8) * 8), (17, 1)))
    cases.append(np.full((9, 13), 77, dtype=np.uint8))
    for img in cases:
        assert _decode_jpeg(_encode_jpeg_gray(img)) == _decode_jpeg(
            _encode_jpeg_progressive_gray(img)
        )


def test_jpeg_progressive_color_decodes_identically_to_baseline():
    """COLOR progressive (interleaved DC scans + non-interleaved
    per-component AC bands over ceil-dims grids) against the baseline
    4:2:0 stream of the same image: both ride the same
    _jpeg_420_quantized_blocks coefficient pipeline, so the cropped
    reconstruction is bit-identical — including odd dimensions and
    sub-MCU frames, which pin the padding-block exclusion rule of
    non-interleaved scans (T.81 A.2.2)."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_color_420,
        _encode_jpeg_progressive_color_420,
    )

    rng = np.random.default_rng(11)
    sizes = [(int(rng.integers(5, 50)), int(rng.integers(5, 50))) for _ in range(8)]
    sizes += [(16, 16), (17, 9), (8, 24), (5, 5)]
    for h, w in sizes:
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        assert _decode_jpeg(_encode_jpeg_color_420(rgb)) == _decode_jpeg(
            _encode_jpeg_progressive_color_420(rgb)
        )


def test_jpeg420_roundtrip_matches_independent_reconstruction():
    """The 4:2:0 decode path must reproduce EXACTLY the reconstruction
    computed independently in straight numpy (pad -> 2x2 box subsample
    -> per-plane FDCT/round/dequant/IDCT -> 2x2 replication upsample
    -> per-component round/clip -> BT.601 inverse), across sizes incl.
    odd dimensions and sub-MCU frames — pinning the MCU block order,
    per-component DC prediction, plane grids, and the upsample in one
    assertion."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _JPEG_C,
        _JPEG_QUANT_LUMA,
        _decode_jpeg,
        _encode_jpeg_color_420,
        _jpeg_rgb_to_ycbcr,
    )

    qtab = _JPEG_QUANT_LUMA.reshape(8, 8)

    def quantized_recon(plane):
        ph, pw = plane.shape
        out = np.zeros_like(plane)
        for by in range(0, ph, 8):
            for bx in range(0, pw, 8):
                blk = plane[by : by + 8, bx : bx + 8] - 128.0
                qv = np.round((_JPEG_C @ blk @ _JPEG_C.T) / qtab)
                out[by : by + 8, bx : bx + 8] = (
                    _JPEG_C.T @ (qv * qtab) @ _JPEG_C + 128.0
                )
        return out

    rng = np.random.RandomState(11)
    for _ in range(8):
        h, w = rng.randint(1, 40), rng.randint(1, 40)
        rgb = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        feats = _decode_jpeg(_encode_jpeg_color_420(rgb))
        assert (feats["width"], feats["height"], feats["n_channels"]) == (w, h, 3)

        y, cb, cr = _jpeg_rgb_to_ycbcr(rgb)
        ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
        y = np.pad(y, ((0, ph - h), (0, pw - w)), mode="edge")
        planes = [quantized_recon(y)]
        for c in (cb, cr):
            c = np.pad(c, ((0, ph - h), (0, pw - w)), mode="edge")
            s = (c[0::2, 0::2] + c[0::2, 1::2] + c[1::2, 0::2] + c[1::2, 1::2]) / 4.0
            r = quantized_recon(s)
            planes.append(np.repeat(np.repeat(r, 2, axis=0), 2, axis=1))
        yr, cbr, crr = (
            np.clip(np.round(p[:h, :w]), 0, 255) for p in planes
        )
        r = yr + 1.402 * (crr - 128.0)
        g = yr - 0.344136 * (cbr - 128.0) - 0.714136 * (crr - 128.0)
        b = yr + 1.772 * (cbr - 128.0)
        px = np.clip(np.stack([r, g, b], axis=-1), 0, 255) / 255.0
        assert feats["mean_level"] == float(px.mean())
        assert feats["peak_level"] == float(px.max())
        # lossy but bounded vs the original
        assert abs(feats["mean_level"] - rgb.mean() / 255.0) < 0.08


def test_jpeg_restart_intervals_decode_identically():
    """DRI/RSTn streams must reconstruct bit-identically to the
    unrestarted stream of the same image — byte-alignment, stuffed
    pad bytes at boundaries, RSTn cycling, and DC-predictor resets all
    pinned by exact equality across interval sizes and both layouts."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_color_420,
        _encode_jpeg_gray,
    )

    rng = np.random.default_rng(13)
    for _ in range(6):
        h, w = int(rng.integers(5, 60)), int(rng.integers(5, 60))
        img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        base = _decode_jpeg(_encode_jpeg_gray(img))
        for ri in (1, 2, 7):
            assert _decode_jpeg(_encode_jpeg_gray(img, restart_interval=ri)) == base
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        cbase = _decode_jpeg(_encode_jpeg_color_420(rgb))
        for ri in (1, 3):
            assert (
                _decode_jpeg(_encode_jpeg_color_420(rgb, restart_interval=ri))
                == cbase
            )


def test_jpeg_progressive_restart_decodes_identically():
    """Restart intervals INSIDE progressive scans (RSTn boundaries
    with DC-DPCM and EOB-run resets in every scan type — DC first,
    DC refine, AC first, AC refine; interleaved and non-interleaved)
    reconstruct bit-identically to the unrestarted stream."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_color_420,
        _encode_jpeg_gray,
        _encode_jpeg_progressive_color_420,
        _encode_jpeg_progressive_gray,
    )

    rng = np.random.default_rng(23)
    for _ in range(4):
        h, w = int(rng.integers(5, 50)), int(rng.integers(5, 50))
        img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        base = _decode_jpeg(_encode_jpeg_gray(img))
        for sa in (False, True):
            for ri in (1, 3):
                assert _decode_jpeg(
                    _encode_jpeg_progressive_gray(
                        img, ac_successive=sa, restart_interval=ri
                    )
                ) == base
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        cbase = _decode_jpeg(_encode_jpeg_color_420(rgb))
        assert _decode_jpeg(
            _encode_jpeg_progressive_color_420(
                rgb, ac_successive=True, restart_interval=2
            )
        ) == cbase


def test_jpeg_ac_successive_approximation_decodes_identically():
    """FULL successive-approximation progressive streams (AC first
    passes at Al=1 plus AC refinement scans with correction-bit walks
    and EOB-run folding) must reconstruct bit-identically to the
    baseline stream — grayscale and 4:2:0 color, random and structured
    content (the checkerboard stresses ZRL/refinement interplay)."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_color_420,
        _encode_jpeg_gray,
        _encode_jpeg_progressive_color_420,
        _encode_jpeg_progressive_gray,
    )

    rng = np.random.default_rng(17)
    for _ in range(6):
        h, w = int(rng.integers(5, 50)), int(rng.integers(5, 50))
        img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        assert _decode_jpeg(
            _encode_jpeg_progressive_gray(img, ac_successive=True)
        ) == _decode_jpeg(_encode_jpeg_gray(img))
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        assert _decode_jpeg(
            _encode_jpeg_progressive_color_420(rgb, ac_successive=True)
        ) == _decode_jpeg(_encode_jpeg_color_420(rgb))
    board = (np.indices((24, 24)).sum(0) % 2 * 255).astype(np.uint8)
    assert _decode_jpeg(
        _encode_jpeg_progressive_gray(board, ac_successive=True)
    ) == _decode_jpeg(_encode_jpeg_gray(board))


def test_jpeg_baseline_multiscan_decodes_identically():
    """A baseline SOF0 frame spread over THREE single-component
    NON-interleaved scans (legal T.81 A.2.2 layout; ADVICE r7 medium:
    the round-7 decoder stopped at the first SOS and silently
    returned zero chroma planes) must decode bit-identically to the
    interleaved single-scan stream of the same image — including odd
    dimensions and sub-MCU frames, which pin the pad-block exclusion
    rule of non-interleaved scans."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_color_420,
        _encode_jpeg_color_420_multiscan,
    )

    rng = np.random.default_rng(29)
    sizes = [(int(rng.integers(5, 50)), int(rng.integers(5, 50))) for _ in range(6)]
    sizes += [(16, 16), (17, 9), (5, 5)]
    for h, w in sizes:
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        multi = _decode_jpeg(_encode_jpeg_color_420_multiscan(rgb))
        assert multi == _decode_jpeg(_encode_jpeg_color_420(rgb))
        # the round-7 failure mode was flat zero chroma -> garbage
        # levels with no error; a real decode has signal
        assert multi["peak_level"] > 0.0


def test_jpeg_baseline_uncovered_component_raises():
    """A malformed baseline stream whose scans never cover some frame
    component must raise (the honest-gate contract), not return
    all-zero planes for it."""
    import pytest

    from orca_ztbus_python_processor_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg_color_420_multiscan,
    )
    import numpy as np

    rgb = np.full((8, 8, 3), 90, dtype=np.uint8)
    b = _encode_jpeg_color_420_multiscan(rgb)
    # strip the LAST scan (component 3): truncate at its SOS marker
    # and close with EOI
    last_sos = b.rfind(b"\xff\xda")
    truncated = b[:last_sos] + b"\xff\xd9"
    with pytest.raises(ValueError, match="never"):
        _decode_jpeg(truncated)


# ---- hand-assembled golden JPEG byte streams (ADVICE r7 low) --------------
# Every other JPEG test is closed-loop against the repo's own fixture
# encoders; a shared encoder/decoder misreading of T.81 would pass them
# all. The streams below are assembled BIT BY BIT from the spec in this
# test file — independent segment packer, independent bit packer,
# independent canonical-Huffman code assignment (T.81 C.2 applied by
# hand in the comments), expected pixels computed from an independently
# constructed DCT basis — so they pin the entropy conventions (DC
# extend, EOB, RSTn alignment, SA first/refinement bit order) against
# the SPEC, not against the sibling encoder. (libjpeg/PIL are not in
# this container, so hand assembly is the external reference.)


def _g_seg(marker: int, payload: bytes) -> bytes:
    n = len(payload) + 2
    return bytes([0xFF, marker, n >> 8, n & 0xFF]) + payload


def _g_bits(bitstr: str) -> bytes:
    """Pack an MSB-first bit string, 1-padded to a byte edge, with
    0xFF -> 0xFF 0x00 stuffing (T.81 F.1.2.3)."""
    bitstr += "1" * (-len(bitstr) % 8)
    out = bytearray()
    for k in range(0, len(bitstr), 8):
        byte = int(bitstr[k : k + 8], 2)
        out.append(byte)
        if byte == 0xFF:
            out.append(0x00)
    return bytes(out)


# all-ones quant table (dequant is the identity) and two tiny canonical
# Huffman tables, spelled as raw DHT payloads:
#   DC table 0: bits=[0,2,0...], vals=[0x00, 0x05]
#     -> canonical codes: cat0 = '00', cat5 = '01'
#   AC table 0: bits=[1,1,0...], vals=[0x00, 0x03]
#     -> EOB = '0', (run 0, size 3) = '10'
_G_DQT = _g_seg(0xDB, bytes([0]) + bytes([1] * 64))
_G_DHT_DC = _g_seg(
    0xC4, bytes([0x00]) + bytes([0, 2] + [0] * 14) + bytes([0x00, 0x05])
)
_G_DHT_AC = _g_seg(
    0xC4, bytes([0x10]) + bytes([1, 1] + [0] * 14) + bytes([0x00, 0x03])
)


def _g_expected_feats(F8: "np.ndarray", h: int, w: int) -> dict:
    """Independent reconstruction: orthonormal DCT-II basis built here
    from the textbook formula (NOT the module's _JPEG_C), one 8x8
    block tiled as needed, round/clip/normalize as the decoder
    contract specifies."""
    import math

    import numpy as np

    C = np.array(
        [
            [
                math.sqrt((1.0 if u == 0 else 2.0) / 8.0)
                * math.cos((2 * x + 1) * u * math.pi / 16.0)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    block = C.T @ F8 @ C + 128.0
    tiles = np.tile(block, (-(-h // 8), -(-w // 8)))[:h, :w]
    px = np.clip(np.round(tiles), 0, 255) / 255.0
    return {
        "width": w, "height": h, "n_channels": 1, "sample_rate": None,
        "n_samples": w * h,
        "mean_level": float(px.mean()), "peak_level": float(px.max()),
    }


def test_jpeg_golden_baseline_dc_positive_and_negative():
    """DC-only blocks with hand-packed category-5 amplitudes: +16
    ('10000' raw) and -16 ('01111', the one's-complement-style
    negative convention of T.81 F.2.2.1 EXTEND)."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import _decode_jpeg

    sof = _g_seg(0xC0, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    sos = _g_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    head = b"\xff\xd8" + _G_DQT + _G_DHT_DC + _G_DHT_AC + sof + sos
    for dc, valbits in ((16, "10000"), (-16, "01111")):
        # DC: cat5 code '01' + 5 amplitude bits; AC: EOB '0'
        stream = head + _g_bits("01" + valbits + "0") + b"\xff\xd9"
        F8 = np.zeros((8, 8))
        F8[0, 0] = dc
        assert _decode_jpeg(stream) == _g_expected_feats(F8, 8, 8)


def test_jpeg_golden_baseline_ac_coefficient():
    """One AC coefficient at zigzag index 1 (= F[0,1]): run/size
    symbol (0,3) then 3 raw amplitude bits, then EOB — pins zigzag
    addressing and AC amplitude order against a hand IDCT."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import _decode_jpeg

    sof = _g_seg(0xC0, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    sos = _g_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # DC cat5 '01'+16; AC sym(0,3) '10' + '100' (=4); EOB '0'
    ent = _g_bits("01" + "10000" + "10" + "100" + "0")
    stream = (
        b"\xff\xd8" + _G_DQT + _G_DHT_DC + _G_DHT_AC + sof + sos + ent
        + b"\xff\xd9"
    )
    F8 = np.zeros((8, 8))
    F8[0, 0] = 16.0
    F8[0, 1] = 4.0
    assert _decode_jpeg(stream) == _g_expected_feats(F8, 8, 8)


def test_jpeg_golden_restart_marker_alignment():
    """DRI=1 with a hand-placed RST0 between two blocks: the first
    block's 7 entropy bits are 1-padded to the byte edge, the marker
    sits UNSTUFFED in the stream, and the DC predictor resets — so
    the second block's identical diff bits yield the same DC."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import _decode_jpeg

    sof = _g_seg(0xC0, bytes([8, 0, 8, 0, 16, 1, 1, 0x11, 0]))
    sos = _g_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dri = _g_seg(0xDD, bytes([0, 1]))
    blk = _g_bits("01" + "10000" + "0")  # DC +16, EOB -> 1 byte
    stream = (
        b"\xff\xd8" + _G_DQT + _G_DHT_DC + _G_DHT_AC + dri + sof + sos
        + blk + b"\xff\xd0" + blk + b"\xff\xd9"
    )
    F8 = np.zeros((8, 8))
    F8[0, 0] = 16.0
    assert _decode_jpeg(stream) == _g_expected_feats(F8, 8, 16)


def test_jpeg_golden_progressive_successive_approximation():
    """Hand-assembled FULL progressive stream (SOF2, four scans: DC
    first Al=1, AC first Al=1, DC refinement, AC refinement) for the
    same coefficients as the baseline AC golden — the refinement
    correction-bit convention (G.1.2.3: EOB run, then one bit per
    nonzero-history coefficient, add sign*2^Al on a 1-bit) is pinned
    against hand-packed bits for BOTH correction values."""
    import numpy as np

    from orca_ztbus_python_processor_spark.operators.multimodal import _decode_jpeg

    # progressive tables: DC bits=[0,2], vals=[4,5] -> cat4 '00',
    # cat5 '01'; AC bits=[1,1], vals=[0x00, 0x02] -> EOB '0',
    # (run 0, size 2) = '10'
    dht_dc = _g_seg(
        0xC4, bytes([0x00]) + bytes([0, 2] + [0] * 14) + bytes([0x04, 0x05])
    )
    dht_ac = _g_seg(
        0xC4, bytes([0x10]) + bytes([1, 1] + [0] * 14) + bytes([0x00, 0x02])
    )
    sof = _g_seg(0xC2, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    for ac_coeff in (4, 5):  # correction bit 0 and 1 respectively
        scans = (
            # DC first, Al=1: 16>>1 = 8 -> cat4 '00' + '1000'
            _g_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
            + _g_bits("00" + "1000")
            # AC first, Ss=1..63, Al=1: coeff>>1 = 2 -> sym(0,2) '10'
            # + '10'; then EOB run 1 = '0'
            + _g_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x01]))
            + _g_bits("10" + "10" + "0")
            # DC refinement, Ah=1 Al=0: one raw bit (bit0 of 16 = 0)
            + _g_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
            + _g_bits("0")
            # AC refinement, Ah=1 Al=0: EOB run '0', then ONE
            # correction bit for the single nonzero-history coeff
            + _g_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10]))
            + _g_bits("0" + ("0" if ac_coeff == 4 else "1"))
        )
        stream = b"\xff\xd8" + _G_DQT + dht_dc + dht_ac + sof + scans + b"\xff\xd9"
        F8 = np.zeros((8, 8))
        F8[0, 0] = 16.0
        F8[0, 1] = float(ac_coeff)
        assert _decode_jpeg(stream) == _g_expected_feats(F8, 8, 8)
