"""Near-duplicate detection operators for the documents pipeline
(SURVEY.md §2.11 X1/X2): MinHash + LSH banding, SimHash, and exact
n-gram Jaccard verification.

MinHash has one path: ``minhash_signatures_and_sets`` computes every
document's band hashes, nibble sketches and exact shingle-hash set in
one Arrow-batched numpy stage; ``candidate_pairs_from_sigs`` bands and
sketch-gates the signatures; ``jaccard_pairs_from_sets`` scores the
candidates exactly. ``minhash_near_dups`` chains the three.

Scale design (the standard 100 TB near-dup layout):
  - signatures and shingle sets are computed map-side; only
    (doc_id, signature) tuples shuffle for banding;
  - LSH banding turns the quadratic all-pairs problem into an
    equi-join on (band_index, band_hash) — candidate buckets;
  - exact Jaccard verification joins shingle sets only to candidate
    pairs (tiny compared to the corpus), executor to executor —
    nothing is collected to the driver;
  - hash-family parameters are deterministic (seeded) so results are
    reproducible across runs/clusters.

All arithmetic stays within int64 under ANSI mode: base hashes are
folded to 31 bits, multipliers below 2^30, so a*h + b < 2^62.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERSENNE31 = (1 << 31) - 1  # universal-hash modulus for the minhash family


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow input up to session parallelism before a
    CPU-bound Arrow map stage.

    A small parquet table arrives as a single scan partition, which
    would serialize the whole signature pass on one core; at cluster
    scale the input already carries >= cores partitions and this is a
    no-op. Only the projected columns shuffle.

    Target width is HALF the core count: each Arrow stage runs a Python
    worker per task beside the JVM task thread, so width == cores
    oversubscribes 2x (measured ~2-3x slower than width == cores/2 on
    local[32]).
    """
    sc = df.sparkSession.sparkContext
    target = max(2, sc.defaultParallelism // 2)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _spread_full(df: DataFrame) -> DataFrame:
    """Full-width variant of ``_spread`` (one task per core) for FUSED
    map-only Arrow stages whose JVM side is near-idle.

    The cores/2 rule above exists because a task pairs a JVM thread
    with a Python worker and both are busy (two chained Arrow stages,
    or heavy in-stage JVM work after the Python node). A fused
    synth+hash stage inverts that: the JVM side only feeds doc_ids in
    and receives 8 bytes/row out, so cores/2 leaves half the machine
    idle — measured 1.4-1.5x slower than full width at 8 cores and
    ~5% slower at 32 (.benchmarks/media_fused_probe_r13*.json; the
    driver's r12 8-core bench regression on the media family was
    exactly this starve).
    """
    sc = df.sparkSession.sparkContext
    target = max(2, sc.defaultParallelism)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Carter-Wegman (a, b) pairs over Z_{2^31-1}.

    The modulus MUST be small enough that a*h + b wraps: h < 2^31 and
    a < 2^31 keep a*h + b < 2^62 (int64-safe under ANSI) while pmod
    2^31-1 actually permutes. (A 2^61-1 modulus with 31-bit inputs
    never wraps, which silently degrades every hash to a monotone map —
    all minhashes then equal a*min(h)+b and LSH saturates.)
    """
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(num_hashes)
    ]


# Star-fallback centers per flood bucket: a flood member disconnects
# only if all of its center-pairs fail the downstream verify.
_STAR_CENTERS = 8


def _pair_expand(
    bucketed: DataFrame, members_col: str = "ids", max_members: int = 1024
) -> DataFrame:
    """Expand each LSH bucket's sorted member array into (m_a, m_b) pairs
    (a < b) without a self-join.

    The alternative — self-joining the exploded (band, hash, id) table —
    evaluates the whole signature pipeline twice and shuffles it twice.
    groupBy + in-bucket expansion computes signatures once and shuffles
    once; bucket sizes are small by LSH construction, so the in-row
    quadratic expansion is bounded.

    ``max_members`` is the flood guard that makes "bounded" true at
    corpus scale: a bucket of B members expands to B²/2 structs in ONE
    row, so a pathological bucket (a million near-identical templated
    docs in a raw crawl, or an adversarial hash flood) would OOM the
    executor. Buckets past the cap fall back to a MULTI-CENTER STAR:
    the (sorted) first ``_STAR_CENTERS`` members pair with each other
    AND with every remaining member — K*B pairs at linear cost. Every
    star pair still runs the downstream verify (sketch-gate/Jaccard or
    hamming), so with a single center one failed center-pair would
    disconnect a member even if it is similar to the rest of the flood;
    with K centers a member disconnects only if ALL K of its
    center-pairs fail, which for an identical-signature flood
    (the case that produces such buckets) does not happen. Residual
    recall note: a >cap bucket of genuinely MIXED content (possible on
    the coarse simhash chunk bands) is still not exhaustively paired —
    members similar only to non-center members can drop; that trade is
    deliberate, because the exhaustive list is quadratic precisely when
    the bucket is degenerate. At 1024 the legitimate near-dup buckets
    (tens of members) always take the full expansion.
    """
    full = (
        f"flatten(transform(sequence(1, size({members_col}) - 1),"
        f" i -> transform(sequence(i + 1, size({members_col})),"
        f" j -> struct(element_at({members_col}, i) as m_a,"
        f" element_at({members_col}, j) as m_b))))"
    )
    # Clamp so the star sequences are always ascending: the star
    # branch only fires when size > max_members >= k.
    k = min(_STAR_CENTERS, max_members)
    star = (
        # center-center pairs (full expansion over the first k) ...
        f"concat(flatten(transform(sequence(1, {k - 1}),"
        f" i -> transform(sequence(i + 1, {k}),"
        f" j -> struct(element_at({members_col}, i) as m_a,"
        f" element_at({members_col}, j) as m_b)))),"
        # ... plus every center paired with every non-center member.
        f" flatten(transform(sequence(1, {k}),"
        f" i -> transform(sequence({k} + 1, size({members_col})),"
        f" j -> struct(element_at({members_col}, i) as m_a,"
        f" element_at({members_col}, j) as m_b)))))"
    )
    pairs_expr = (
        f"CASE WHEN size({members_col}) <= {max_members}"
        f" THEN {full} ELSE {star} END"
    )
    return bucketed.where(F.size(members_col) >= 2).select(
        F.explode(F.expr(pairs_expr)).alias("p")
    ).select("p.m_a", "p.m_b")


def minhash_signatures_and_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Per-doc MinHash signature AND exact shingle-hash set, computed in
    one Arrow-batched numpy stage (one text scan and decode per doc).

    - band hashes: the k-BYTE windows of the UTF-8 text (a text shorter
      than k bytes is one window) hashed poly-257 mod 2^31-1, distinct,
      minhashed with the seeded Carter-Wegman family (``_hash_params``);
      each band of ``num_hashes // bands`` minhashes folds poly-1000003
      mod 2^31-1.
    - nibble sketches: the low 4 bits of each minhash, 16 per long,
      ``sk_i = sum_j (sig[16i + j] & 15) << 4j`` — what the candidate
      gate needs to estimate signature agreement with bit arithmetic
      (``candidate_pairs_from_sigs``). The raw signature is not
      emitted: mapInPandas output cannot be column-pruned, and no
      consumer reads it.
    - shingle-hash set: the k-CHARACTER windows (the text decoded to
      UTF-32, one element per code point; a text shorter than k is one
      window), each hashed with two independent 31-bit polynomial
      hashes packed as ``(h1 << 31) | h2`` (collision odds ~2^-62 per
      pair), distinct — char-exact on any unicode text.

    Byte windows suffice for the signatures (candidates are a recall
    filter); exactness lives in the character-window sets. The
    expression-level Spark SQL form of this chain runs its
    higher-order-function lambdas interpreted, ~10x slower than these
    numpy matrix ops. Empty and NULL texts emit no row. Callers pin the
    result so banding and verify each read it once. A pure-Python
    reference pins all three outputs in tests/test_round10_ops.py.

    Output: ``_id, band_hashes, sk0..skN, _set``.
    """
    import numpy as np
    import pandas as pd

    params = _hash_params(num_hashes, seed)
    rows = num_hashes // bands
    n_sk = (num_hashes + 15) // 16
    M2 = 2147483629  # largest prime below 2^31: the set's second hash modulus

    def gen(batches):
        A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
        B = np.array([b for _, b in params], dtype=np.int64)[:, None]
        band_pows = np.array([pow(1_000_003, rows - 1 - j, MERSENNE31) for j in range(rows)], dtype=np.int64)
        pows1 = np.array([pow(257, k - 1 - j, MERSENNE31) for j in range(k)], dtype=np.int64)
        pows2 = np.array([pow(263, k - 1 - j, M2) for j in range(k)], dtype=np.int64)
        for pdf in batches:
            out_id, out_bands, out_sk, out_set = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                t = text or ""
                b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
                if len(b) == 0:
                    continue
                # minhash signature over BYTE k-windows
                if len(b) < k:
                    h = np.array([(b.astype(np.int64) @ pows1[-len(b):]) % MERSENNE31])
                else:
                    win = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.int64)
                    h = (win @ pows1) % MERSENNE31
                hu = np.unique(h)
                sig = ((A * hu[None, :] + B) % MERSENNE31).min(axis=1)
                bh = (sig.reshape(bands, rows) @ band_pows) % MERSENNE31
                nib = sig & 15
                sk = [
                    int(
                        np.bitwise_or.reduce(
                            nib[i * 16 : (i + 1) * 16].astype(np.uint64)
                            << (np.arange(len(nib[i * 16 : (i + 1) * 16]), dtype=np.uint64) * np.uint64(4))
                        ).astype(np.int64)
                    )
                    if len(nib[i * 16 : (i + 1) * 16])
                    else 0
                    for i in range(n_sk)
                ]
                # exact shingle-hash set over CODE-POINT k-windows
                cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
                if len(cp) < k:
                    kk = len(cp)
                    p1 = np.array([pow(257, kk - 1 - j, MERSENNE31) for j in range(kk)], dtype=np.int64)
                    p2 = np.array([pow(263, kk - 1 - j, M2) for j in range(kk)], dtype=np.int64)
                    swin = cp[None, :]
                else:
                    p1, p2 = pows1, pows2
                    swin = np.lib.stride_tricks.sliding_window_view(cp, k)
                h1 = (swin @ p1) % MERSENNE31
                h2 = (swin @ p2) % M2
                out_id.append(doc_id)
                out_bands.append(bh)
                out_sk.append(sk)
                out_set.append(np.unique((h1 << np.int64(31)) | h2))
            if not out_id:
                # empty pandas frames type array columns float64, which
                # Arrow cannot convert to list<int64> — skip
                continue
            yield pd.DataFrame(
                {
                    "_id": out_id,
                    "band_hashes": out_bands,
                    **{
                        f"sk{i}": np.array([s[i] for s in out_sk], dtype=np.int64)
                        for i in range(n_sk)
                    },
                    "_set": out_set,
                }
            )

    sk_schema = ", ".join(f"sk{i} long" for i in range(n_sk))
    return _spread(docs.select(id_col, text_col)).mapInPandas(
        gen,
        schema=f"_id long, band_hashes array<long>, {sk_schema}, _set array<long>",
    )


def candidate_pairs_from_sigs(
    sigs: DataFrame,
    num_hashes: int = 64,
    min_est: float | None = None,
    return_estimate: bool = False,
) -> DataFrame:
    """LSH banding over ``minhash_signatures_and_sets`` output: docs
    whose band hashes collide in >= 1 band. ``sigs`` needs ``_id,
    band_hashes, sk0..skN``; extra columns are pruned before the band
    explode.

    ``min_est`` adds the sketch-gate stage of the standard LSH verify
    pipeline: candidate pairs are scored with the UNBIASED signature
    estimate of Jaccard (fraction of agreeing minhashes — mean j,
    sigma = sqrt(j(1-j)/num_hashes), ~0.06 at 64 hashes) and pairs
    below ``min_est`` are dropped BEFORE the exact shingle-set verify.
    Banding alone admits ~pct-scale false candidates at j ~ 0.2-0.3
    (16x4 bands collide at ~12% for j=0.3); gating at
    ``threshold - 3 sigma`` cuts the expensive exact stage ~100x while
    keeping recall loss below 1e-3 per true pair.

    ``return_estimate`` adds the nibble-sketch Jaccard estimate as a
    ``j_est`` column (the estimate is a pure function of the two
    signatures, identical in every band row, so the max over a pair's
    colliding bands is just dedup). Used by the calibration audit.

    Output: ``id_a, id_b`` (id_a < id_b), distinct — plus ``j_est``
    (groupBy/max instead of distinct) when ``return_estimate`` is set.
    """
    n_sk = (num_hashes + 15) // 16
    sk_cols = [f"sk{i}" for i in range(n_sk)]
    member = F.struct(F.col("_id").alias("id"), *sk_cols)
    stacked = sigs.select(
        member.alias("m"), F.posexplode("band_hashes").alias("band_idx", "band_hash")
    )
    buckets = stacked.groupBy("band_idx", "band_hash").agg(
        F.array_sort(F.collect_list("m")).alias("ids")
    )
    expanded = _pair_expand(buckets)
    if min_est is not None or return_estimate:
        # Sketch gate, applied in-bucket BEFORE the pair distinct: the
        # nibble sketches (low 4 bits of each minhash, 16 per long) ride
        # along in the bucket member structs — a few extra longs in the
        # band shuffle — so the gate is a pure-codegen filter with no
        # extra joins or signature recomputation. Nibble equality is
        # necessary for minhash equality, and a differing pair agrees by
        # luck 1/16 of the time, so match_frac estimates j + (1 - j)/16;
        # invert that and filter. (A zip_with/aggregate over the 64-long
        # sigs would interpret ~200 lambda ops per pair — slower than
        # the exact verify it is meant to shortcut.)
        ones = 0x1111111111111111
        # (a ^ b) repeated inline — codegen's subexpression elimination
        # folds the duplicates; a let-binding transform() here would
        # reintroduce a lambda.
        mism = " + ".join(
            f"bit_count((({x}) | shiftright({x}, 1) | shiftright({x}, 2)"
            f" | shiftright({x}, 3)) & {ones}L)"
            for x in (f"m_a.{c} ^ m_b.{c}" for c in sk_cols)
        )
        match_frac = f"1.0 - ({mism}) / CAST({num_hashes} AS DOUBLE)"
        j_est = f"(({match_frac}) - 1.0/16.0) * 16.0/15.0"
        if min_est is not None:
            expanded = expanded.where(F.expr(j_est) >= F.lit(min_est))
        if return_estimate:
            return (
                expanded.select(
                    F.col("m_a.id").alias("id_a"),
                    F.col("m_b.id").alias("id_b"),
                    F.expr(j_est).alias("j_est"),
                )
                .groupBy("id_a", "id_b")
                .agg(F.max("j_est").alias("j_est"))
            )
    return (
        expanded.select(F.col("m_a.id").alias("id_a"), F.col("m_b.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs_from_sets(sets: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard of the candidate ``pairs`` (``id_a,
    id_b``) over the ``_id, _set`` columns of
    ``minhash_signatures_and_sets``. Nothing is materialized on the
    driver, so corpus size is bounded by the cluster, not one process.
    The sets hold 62-bit shingle hashes, not strings: array_intersect
    on longs is ~10x cheaper than on UTF8 strings, and an in-pair
    collision is ~2^-62 — negligible even at 100 TB corpus scale.

    Output: ``id_a, id_b, jaccard`` (float32)."""
    # SHUFFLE_HASH, not broadcast: the set table is |docs| rows of
    # ~|text| packed longs — materializing that through a driver-built
    # broadcast costs more than the whole verify (and at corpus scale
    # the driver build is the memory bound). A shuffle-hash join moves
    # the sets executor-to-executor partitioned by id, and the two
    # shuffles are plan-identical (rename AFTER the join), so
    # ReuseExchange materializes the set exchange once. The pair side is
    # small post-gate, and per-stream-row the hash side is probed
    # without a sort (SMJ would sort the fat set rows).
    out = (
        pairs.alias("p")
        .join(sets.alias("sa").hint("shuffle_hash"), F.expr("p.id_a = sa._id"))
        .join(sets.alias("sb").hint("shuffle_hash"), F.expr("p.id_b = sb._id"))
        .select(
            "p.id_a",
            "p.id_b",
            F.col("sa._set").alias("set_a"),
            F.col("sb._set").alias("set_b"),
        )
    )
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = (F.size("set_a") + F.size("set_b")).cast("double") - inter
    return out.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).cast("float").alias("jaccard"),
    )


# Sketch gate of minhash_near_dups sits this far below the verify
# threshold: > 3 sigma of the 64-hash signature estimate, so it drops
# ~1e-3 of the true pairs at the threshold boundary.
_GATE_SLACK = 0.2


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates via banding,
    sketch-gated at ``threshold - 0.2`` (``candidate_pairs_from_sigs``)
    so the exact verify only scores pairs that could plausibly pass,
    then exact-Jaccard verification at ``threshold``. The fused
    signatures+sets stage is pinned, so its one text pass feeds both
    banding and the verify.

    Output: ``id_a, id_b, jaccard`` (float32).
    """
    fused = minhash_signatures_and_sets(
        docs, id_col, text_col, k, num_hashes, bands, seed
    ).localCheckpoint(eager=False)
    cands = candidate_pairs_from_sigs(
        fused, num_hashes=num_hashes, min_est=max(0.0, threshold - _GATE_SLACK)
    )
    return jaccard_pairs_from_sets(fused.select("_id", "_set"), cands).where(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into 4 x 16-bit
    chunks, then verify with exact popcount(xor).

    ``max_hamming`` defaults to 3 — the largest distance the 4-chunk
    banding FULLY recalls (pigeonhole: <=3 differing bits leave >=1
    chunk intact). Larger thresholds are recall-incomplete with 4
    chunks; raise the chunk count alongside the threshold if needed.

    Scale note: 16-bit chunk buckets grow ~N/65536 per chunk index, so
    past ~10^8 docs the AVERAGE bucket crosses the ``_pair_expand``
    flood cap and takes the linear star expansion (connectivity
    preserved, full pair list not materialized). At that corpus size
    the right move is more/wider chunks (e.g. 8 x 8-bit banding has the
    same pigeonhole bound for hamming <= 7) so buckets shrink — the
    star fallback is the graceful floor, not the design point.

    Token hashes are the first 8 md5 bytes little-endian (round 10,
    was blake2b): md5 is the one digest both engines share, so the
    DuckDB oracle can replay the ENTIRE pipeline — token hash, per-bit
    vote, signature, chunk banding, popcount verify — byte for byte
    (the KMV/winnowing/minhash promotion convention). Hash quality is
    equivalent for this purpose; an independent pure-python reference
    pins the spec in tests/test_round10_ops.py.

    Output: ``id_a, id_b, hamming``.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    def gen(batches):
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            out_id, out_sig, out_cidx, out_chunk = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = set((text or "").split())
                if not toks:
                    continue
                h = np.array(
                    [
                        int.from_bytes(
                            hashlib.md5(t.encode()).digest()[:8], "little"
                        )
                        for t in toks
                    ],
                    dtype=np.uint64,
                )
                # +-1 per bit per token, summed; sign -> signature bit
                bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
                counts = (bits * 2 - 1).sum(axis=0)
                sig = np.int64(
                    np.bitwise_or.reduce(
                        np.where(counts > 0, np.uint64(1) << shifts, np.uint64(0))
                    ).astype(np.int64)
                )
                for c in range(4):
                    out_id.append(doc_id)
                    out_sig.append(sig)
                    out_cidx.append(c)
                    out_chunk.append((int(sig) >> (c * 16)) & 65535)
            yield pd.DataFrame(
                {
                    id_col: out_id,
                    "sig": np.array(out_sig, dtype=np.int64),
                    "chunk_idx": np.array(out_cidx, dtype=np.int32),
                    "chunk": np.array(out_chunk, dtype=np.int64),
                }
            )

    chunks = _spread(docs.select(id_col, text_col)).mapInPandas(
        gen, schema=f"{id_col} long, sig long, chunk_idx int, chunk long"
    )
    buckets = chunks.groupBy("chunk_idx", "chunk").agg(
        F.array_sort(F.collect_list(F.struct(F.col(id_col).alias("id"), "sig"))).alias(
            "ids"
        )
    )
    return (
        _pair_expand(buckets)
        .select(
            F.col("m_a.id").alias("id_a"),
            F.col("m_b.id").alias("id_b"),
            F.bit_count(F.expr("m_a.sig ^ m_b.sig")).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (winnowing)
# ---------------------------------------------------------------------------

def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    public algorithm): hash all k-grams, slide a window of ``window``
    consecutive hashes, keep each window's minimum, dedupe. A document
    pair sharing any fingerprint shares a k-gram run — the standard
    containment/plagiarism primitive for LLM-corpus dedup.

    Round-10 rework: grams are LOWERCASE TOKEN k-grams (formatting-
    robust, ~6x fewer positions than the old byte grain) hashed with
    the md5-derived 60-bit convention
    (``conv(substr(md5(gram), 1, 15), 16, 10)`` — the
    kmv_distinct_user_overlap idiom), and the whole gram -> hash ->
    window-min -> distinct chain is Catalyst expressions: the old
    numpy ``mapInPandas`` stage is GONE, so the scan stays inside
    whole-stage codegen with no Arrow hop — and a DuckDB oracle can
    replay the exact fingerprint sets, which promoted
    ``doc_fingerprints`` and ``winnow_containment_pairs`` from
    rows-only to hash-matched driver twins.

    Output: ``<id_col>, fingerprint`` (exploded, distinct per doc;
    docs with zero tokens emit nothing). Map-only until the final
    explode; fingerprints are ~1/window of the k-gram count, so the
    shuffled volume is a fraction of the text.
    """
    toks = f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
    hashes = (
        f"transform(sequence(1, greatest(size(_ts) - {k - 1}, 1)),"
        f" i -> cast(conv(substr(md5(concat_ws(' ', slice(_ts, i, {k}))),"
        f" 1, 15), 16, 10) as bigint))"
    )
    mins = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size(_hs) - {window - 1}, 1)),"
        f" j -> array_min(slice(_hs, j, {window}))))"
    )
    return (
        docs.select(id_col, F.expr(toks).alias("_ts"))
        .where(F.size("_ts") > 0)
        .select(id_col, F.expr(hashes).alias("_hs"))
        .select(id_col, F.explode(F.expr(mins)).alias("fingerprint"))
    )


# ---------------------------------------------------------------------------
# Generic Hamming-ball pairing over a 64-bit perceptual hash column
# ---------------------------------------------------------------------------

def hamming_near_dups(
    sigs: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_chunks: int = 4,
    max_members: int = 1024,
) -> DataFrame:
    """Hamming-ball pairs over any 64-bit signature column: ``n_chunks``
    x 16-bit pigeonhole banding (``max_hamming < n_chunks`` differing
    bits leave >= 1 chunk intact) -> bucket expansion with the shared
    ``_pair_expand`` flood guard -> exact ``bit_count(xor)`` verify.
    All JVM-side expressions — no Python in the pairing path. Shared
    by pHash (operators/imagehash.py) and the audio fingerprint
    (operators/audiofp.py); SimHash keeps its own banding (different
    chunk geometry).

    Recall caveat: the pigeonhole argument is complete for
    ``max_hamming <= n_chunks - 1``, but buckets past ``max_members``
    fall back to _pair_expand's multi-center star and can drop genuine
    pairs in bucket floods — raise the cap where floods are plausible.

    Output: ``id_a, id_b, hamming``.
    """
    chunks = sigs.select(
        F.col(id_col),
        F.col(hash_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(hash_col, 16 * c)
                        .bitwiseAND(F.lit(65535))
                        .alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("bc"),
    ).select(id_col, hash_col, "bc.chunk_idx", "bc.chunk")
    buckets = chunks.groupBy("chunk_idx", "chunk").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
            )
        ).alias("ids")
    )
    return (
        _pair_expand(buckets, max_members=max_members)
        .select(
            F.col("m_a.id").alias("id_a"),
            F.col("m_b.id").alias("id_b"),
            F.bit_count(F.expr("m_a.h ^ m_b.h")).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Connected components (dup-cluster resolution)
# ---------------------------------------------------------------------------

#: symmetric-edge count at or under which CC solves driver-side:
#: 1M edges = two long columns ≈ 16 MB over Arrow — the same
#: bounded-scalar driver-traffic contract as the quantile counts matrix
#: (functions/quantiles.py) and this module's convergence probe. Above
#: it, the distributed min-label loop runs; the threshold is a measured
#: crossover (each distributed round costs several driver-coordinated
#: jobs whose fixed overhead dwarfs compute on sparse near-dup graphs).
SMALL_GRAPH_EDGE_LIMIT = 1_000_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    small_graph_edge_limit: int = SMALL_GRAPH_EDGE_LIMIT,
) -> DataFrame:
    """Connected components over a near-dup pair graph: the cluster-
    resolution step between pair generation (minhash/simhash/embedding)
    and canonical-document selection in a dedup pipeline.

    Iterative min-label propagation with pointer jumping: each round a
    node takes the minimum of its own label, its neighbors' labels, and
    its label's label (path compression — cuts rounds from O(diameter)
    to O(log diameter)). Rounds are driver-coordinated Spark joins over
    the EDGE table only (never the corpus); per-round frames are
    localCheckpoint()ed to truncate lineage. Convergence is detected by
    the monotonically decreasing sum of labels.

    Near-dup graphs are sparse with tiny diameters, so this converges in
    a handful of rounds; at 100 TB the edge table shuffles on node id
    each round — the standard large-scale CC layout (cf. the
    large-star/small-star family). Graphs at or under
    ``small_graph_edge_limit`` symmetric edges skip the loop for a
    bounded driver-side union-find (one Arrow collect — see
    ``SMALL_GRAPH_EDGE_LIMIT``); pass ``small_graph_edge_limit=0`` to
    force the distributed loop.

    Output: ``node, component`` — one row per node appearing in pairs;
    component = smallest node id in the cluster.
    """
    spark = pairs.sparkSession
    # Checkpoint the DIRECTED edge table, not the symmetric one: pair
    # generation (upstream minhash banding / embedding matmul — often
    # the most expensive stage of the whole pipeline) materializes
    # exactly once, and BOTH downstream consumers read the checkpoint:
    # the fast path's toPandas() and the loop path's symmetric union.
    # (A previous layout checkpointed only the symmetric view, so the
    # fast path's collect silently recomputed pair generation a second
    # time — 2x the dominant stage on every small graph.)
    edges = pairs.select(
        F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
    ).localCheckpoint()
    # Size the per-round frame width to the edge volume (~500k edges per
    # partition): CC rounds are many small shuffles, and running a
    # 1k-edge graph through 32-way exchanges costs more scheduling than
    # compute. The width is applied with EXPLICIT per-frame
    # repartition() — never by mutating the session-global
    # spark.sql.shuffle.partitions, which would race with concurrent
    # queries on a shared session. Intermediate join/agg exchanges that
    # still plan at session width are coalesced down by AQE at runtime.
    n_edges = 2 * edges.count()  # symmetric edge count
    if n_edges == 0:
        # no pairs -> no components; skip the propagation loop entirely
        # (otherwise an empty graph still pays a full round of jobs)
        return edges.select(F.col("u").alias("node"), F.col("u").alias("component"))
    if n_edges <= small_graph_edge_limit:
        # Small-graph fast path: union-find over the collected DIRECTED
        # edge list (half of ``n_edges``) — bounded driver traffic by
        # the limit above, exact same min-label semantics (union always
        # hangs the larger root under the smaller, so every root is the
        # minimum id of its set). Near-dup graphs after verify are
        # usually far under the limit even when the corpus is not: this
        # replaces O(log diameter) rounds of driver-coordinated jobs
        # with ONE Arrow collect, the dominant cost of the distributed
        # loop on sparse graphs. The loop above the limit is pinned
        # against this path in tests/test_asof_and_neardup.py.
        pdf = edges.toPandas()  # reads the checkpoint — no recompute
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(pdf[pdf.columns[0]], pdf[pdf.columns[1]]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp_rows = [(n, find(n)) for n in parent]
        return spark.createDataFrame(comp_rows, "node long, component long")
    width = max(2, min(spark.sparkContext.defaultParallelism, n_edges // 500_000 + 1))
    sym = (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(width, "v")
        .localCheckpoint()
    )
    labels = (
        sym.select("u")
        .distinct()
        .withColumn("label", F.col("u"))
        .repartition(width, "u")
        .localCheckpoint()
    )
    # Per-round cost on sparse near-dup graphs is DRIVER-coordination
    # overhead, not compute, so each round runs as ONE job: the labels
    # frame is checkpointed LAZILY and the convergence probe's action
    # both materializes the checkpoint (truncating lineage — the
    # pointer-jump self-join would otherwise recompute the whole round
    # chain once per consumer, exponentially) and computes the monotone
    # label-sum. (A two-steps-per-probe variant was measured SLOWER for
    # exactly that self-join recompute reason.)
    prev_sum = None
    for _ in range(max_iterations):
        nb_min = (
            sym.join(labels.withColumnRenamed("u", "_v"), sym.v == F.col("_v"))
            .groupBy("u")
            .agg(F.min("label").alias("_nb"))
        )
        stepped = labels.join(nb_min, "u", "left").select(
            "u",
            F.least(F.col("label"), F.coalesce(F.col("_nb"), F.col("label"))).alias(
                "label"
            ),
        )
        jump = stepped.select(
            F.col("u").alias("_ju"), F.col("label").alias("_jlabel")
        )
        labels = (
            stepped.join(jump, stepped.label == F.col("_ju"), "left")
            .select(
                "u", F.coalesce(F.col("_jlabel"), F.col("label")).alias("label")
            )
            .repartition(width, "u")
            .localCheckpoint(eager=False)
        )
        label_sum = labels.agg(F.sum("label")).collect()[0][0]
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))
