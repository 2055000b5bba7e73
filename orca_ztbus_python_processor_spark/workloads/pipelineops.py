"""LLM-data-pipeline operator workload (SURVEY.md §2.11 X2/X3/X4):
MinHash-LSH / SimHash near-dup, n-gram Jaccard, LSH ANN, winnowing
fingerprints, multimodal feature extraction.

Most entries here started as the genuinely non-SQL-expressible kind
(driver records a rows-only check) with brute-force / property tests
in ``tests/test_pipeline_ops.py``; since round 10 the whole
deterministic text-dedup surface is hash-matched — the MinHash family
(`minhash_near_dup_pairs`, `ngram_jaccard_pairs`,
`minhash_jaccard_calibration`), SimHash (`simhash_near_dup_pairs`,
md5 token hashes), and the end-to-end `text_dedup_retention`
(equality grouping + banding replay + recursive-CTE components) all
carry full DuckDB oracles (see ``_minhash_lsh_sql``/``_simhash_sql``).
What stays rows-only is the genuinely non-replayable floor: iterative
float algorithms (k-means/PCA/IVF), engine-internal sketches (HLL,
approx quantiles), and binary media decode.

Outputs are deliberately unordered: a global orderBy adds a range-
sampling pass that re-executes the whole upstream pipeline, doubling
the cost of every pair query for presentation-only ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_ztbus_python_processor_spark.operators.dedup import (
    minhash_near_dups,
    simhash_near_dups,
    winnow_fingerprints,
)
from orca_ztbus_python_processor_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    media_table_from_documents,
)
from orca_ztbus_python_processor_spark.operators.similarity import (
    ann_cosine_topk,
    embedding_near_dup_pairs,
)
from orca_ztbus_python_processor_spark.functions.stats import f32
from orca_ztbus_python_processor_spark.sources.parquet import read_table
from orca_ztbus_python_processor_spark.workloads.base import Catalog
from orca_ztbus_python_processor_spark.workloads.vectors import (
    CC_THRESHOLD as _CC_THRESHOLD,
)

CATALOG = Catalog()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _minhash_lsh_sql(base: str = "documents") -> str:
    """DuckDB replay of the ENTIRE MinHash-LSH pipeline
    (operators/dedup.py: minhash_signatures_and_sets ->
    candidate_pairs_from_sigs -> jaccard_pairs_from_sets), promoting
    the minhash family from rows-only to hash-matched (VERDICT r9 #3,
    the KMV/winnowing convention). Every stage is deterministic and SQL-expressible:

    - shingle hashes: poly-257 over the 5-byte windows mod 2^31-1,
      distinct per doc. The Spark side hashes UTF-8 BYTES; the oracle
      hashes characters via ascii() — identical on the all-ASCII
      fixture corpus (asserted in tests/test_round10_ops.py).
    - signatures: the same 64 Carter-Wegman (a, b) literals that
      ``_hash_params(64, seed=42)`` produces, min over the doc's
      distinct shingle hashes.
    - band hashes: 16 bands x 4 rows, poly-1000003 fold mod 2^31-1
      (HUGEINT accumulation: sig values are minima so int64 never
      wraps on the Spark/numpy side, but DuckDB's checked int64 sum
      would raise on the theoretical worst case).
    - candidates: pairs sharing >= 1 (band_idx, band_hash). The
      Spark-side _pair_expand flood guard (star fallback past 1024
      bucket members) never engages at oracle scale — sf0.01 holds
      500 docs total.
    - nibble gate: mism = #{j: sig_a[j]%16 != sig_b[j]%16}; the SQL
      mirrors the bit-trick's arithmetic exactly (same double ops).
    - exact verify: distinct 5-char shingle STRINGS (the dual-hash
      packing of the Spark-side sets is collision-free at any
      realistic corpus, so cardinalities agree).

    ``base`` names the relation (table or an earlier CTE) holding the
    (doc_id, text) corpus — ``documents`` for the standalone pair
    queries, the exact-dedup representative CTE for
    ``text_dedup_retention``'s end-to-end replay.
    """
    from orca_ztbus_python_processor_spark.operators.dedup import (  # noqa: PLC0415
        MERSENNE31,
        _hash_params,
    )

    m, k = MERSENNE31, 5
    perm_rows = ",".join(
        f"({j},{a},{b})" for j, (a, b) in enumerate(_hash_params(64, 42))
    )
    bpow_rows = ",".join(
        f"({r},{pow(1_000_003, 3 - r, m)})" for r in range(4)
    )
    return f"""
    d AS (
        SELECT doc_id, text FROM {base} WHERE length(text) > 0
    ), sh AS (
        SELECT DISTINCT doc_id,
            CAST(list_sum(list_transform(range(0, least({k}, length(text))),
                j -> CAST(ascii(substring(text, i + j, 1)) AS BIGINT)
                     * CAST(power(257, least({k}, length(text)) - 1 - j)
                            AS BIGINT)
            )) % {m} AS BIGINT) AS h
        FROM d, LATERAL unnest(
            range(1, greatest(length(text) - {k - 1}, 1) + 1)) AS t(i)
    ), perms(j, a, b) AS (VALUES {perm_rows}),
    sigs AS (
        SELECT doc_id, j, min((a * h + b) % {m}) AS sig
        FROM sh, perms GROUP BY doc_id, j
    ), bpows(r, p) AS (VALUES {bpow_rows}),
    bandh AS (
        SELECT doc_id, CAST(j // 4 AS INT) AS band_idx,
               CAST(sum(CAST(sig AS HUGEINT) * p) % {m} AS BIGINT)
                   AS band_hash
        FROM sigs JOIN bpows ON r = j % 4
        GROUP BY doc_id, j // 4
    ), cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM bandh x JOIN bandh y
          ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
         AND x.doc_id < y.doc_id
    ), est AS (
        SELECT c.id_a, c.id_b,
               ((1.0 - sum(CASE WHEN sa.sig % 16 <> sb.sig % 16
                           THEN 1 ELSE 0 END) / CAST(64 AS DOUBLE))
                - 1.0/16.0) * 16.0 / 15.0 AS j_est
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.id_a
        JOIN sigs sb ON sb.doc_id = c.id_b AND sb.j = sa.j
        GROUP BY c.id_a, c.id_b
    ), sets AS (
        SELECT DISTINCT doc_id,
            CASE WHEN length(text) < {k} THEN text
                 ELSE substring(text, i, {k}) END AS g
        FROM d, LATERAL unnest(
            range(1, greatest(length(text) - {k - 1}, 1) + 1)) AS t(i)
    ), setsz AS (
        SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id
    ), intr AS (
        SELECT e.id_a, e.id_b, count(*) AS i
        FROM est e
        JOIN sets ga ON ga.doc_id = e.id_a
        JOIN sets gb ON gb.doc_id = e.id_b AND gb.g = ga.g
        GROUP BY e.id_a, e.id_b
    ), jacc AS (
        SELECT e.id_a, e.id_b, e.j_est,
            CAST(CASE WHEN (na.n + nb.n - COALESCE(i.i, 0)) > 0
                 THEN COALESCE(i.i, 0) * 1.0
                      / (na.n + nb.n - COALESCE(i.i, 0))
                 ELSE 0.0 END AS REAL) AS jaccard
        FROM est e
        JOIN setsz na ON na.doc_id = e.id_a
        JOIN setsz nb ON nb.doc_id = e.id_b
        LEFT JOIN intr i ON i.id_a = e.id_a AND i.id_b = e.id_b
    )"""


_MINHASH_LSH_SQL = _minhash_lsh_sql()


@CATALOG.query(
    "minhash_near_dup_pairs",
    oracle=f"""
    WITH {_MINHASH_LSH_SQL}
    SELECT id_a, id_b, jaccard FROM jacc
    WHERE j_est >= 0.3 AND jaccard >= 0.5
    """,
)
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash(64) -> 16-band LSH -> exact-Jaccard >= 0.5."""
    return minhash_near_dups(_docs(spark, sf_dir), threshold=0.5)


@CATALOG.query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_MINHASH_LSH_SQL}
    SELECT id_a, id_b, jaccard FROM jacc WHERE j_est >= 0.2
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard scores over sketch-gated LSH candidate pairs
    (the verification stage exposed as its own operator). Candidates
    are gated at signature-estimate >= 0.2: banding alone admits ~100x
    false candidates around j ~ 0.2-0.3, and exact-scoring those is
    pure waste in a dedup pipeline whose downstream thresholds start
    at 0.4."""
    from orca_ztbus_python_processor_spark.operators.dedup import (  # noqa: PLC0415
        candidate_pairs_from_sigs,
        jaccard_pairs_from_sets,
        minhash_signatures_and_sets,
    )

    docs = _docs(spark, sf_dir)
    # pinned: one Arrow pass feeds banding and the exact verify
    fused = minhash_signatures_and_sets(docs).localCheckpoint(eager=False)
    cands = candidate_pairs_from_sigs(fused, min_est=0.2)
    return jaccard_pairs_from_sets(fused.select("_id", "_set"), cands)


def _simhash_sql() -> str:
    """DuckDB replay of operators/dedup.simhash_near_dups (promoted
    rows-only -> hash-matched in round 10 alongside the minhash
    family): token hash = first 8 md5 bytes LITTLE-ENDIAN as uint64,
    per-bit +-1 votes over the doc's DISTINCT whitespace tokens, sign
    -> signature bit, 4 x 16-bit chunk banding, exact popcount verify
    at hamming <= 3. Signatures are built unsigned and converted to
    the two's-complement BIGINT Spark emits via HUGEINT arithmetic.
    """
    # h = sum_b md5_byte[b] * 256^b  (b = 0..7, little-endian)
    hexpr = " + ".join(
        f"CAST(('0x' || substr(mh, {1 + 2 * b}, 2)) AS UBIGINT)"
        f" * CAST({256 ** b} AS UBIGINT)"
        for b in range(8)
    )
    bit_rows = ",".join(f"({i},{1 << i})" for i in range(64))
    return f"""
    toks AS (
        SELECT DISTINCT doc_id, tok
        FROM documents, LATERAL unnest(
            list_filter(regexp_split_to_array(text, '\\s+'),
                        s -> s <> '')) AS t(tok)
    ), th AS (
        SELECT doc_id, {hexpr} AS h
        FROM (SELECT doc_id, md5(tok) AS mh FROM toks)
    ), bt(i, p) AS (VALUES {bit_rows}),
    votes AS (
        SELECT doc_id, i, p,
               sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS c
        FROM th, bt GROUP BY doc_id, i, p
    ), usig AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN c > 0 THEN CAST(p AS UBIGINT)
                        ELSE 0 END) AS UBIGINT) AS su
        FROM votes GROUP BY doc_id
    ), sigs AS (
        SELECT doc_id, su,
               CAST(CASE WHEN CAST(su AS HUGEINT)
                              >= 9223372036854775808
                    THEN CAST(su AS HUGEINT) - 18446744073709551616
                    ELSE CAST(su AS HUGEINT) END AS BIGINT) AS sig
        FROM usig
    ), chunks AS (
        SELECT doc_id, sig, c.c AS cidx,
               (su >> (c.c * 16)) & 65535 AS chunk
        FROM sigs, (VALUES (0),(1),(2),(3)) AS c(c)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM chunks a JOIN chunks b
          ON a.cidx = b.cidx AND a.chunk = b.chunk
         AND a.doc_id < b.doc_id
    )"""


@CATALOG.query(
    "simhash_near_dup_pairs",
    oracle=f"""
    WITH {_simhash_sql()}
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
    """,
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: 64-bit SimHash, 4x16-bit banding, hamming <= 3 (the
    banding-complete threshold). Hash-matched since round 10: md5
    token hashes let the DuckDB oracle replay the whole pipeline
    (see _simhash_sql)."""
    return simhash_near_dups(_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# IVF oracle replay (round 11): the whole IVF stack — spherical-k-means
# quantizer training, cell assignment, candidate generation, exact
# verify — became SQL-replayable once the training went
# quantize_f32=True (operators/similarity.py): init is the first nlist
# sample rows (no numpy RNG), the normalized sample and every updated
# centroid round to f32, and assignment dots round to f32 before their
# (dot DESC, cell) argsort. The oracle unrolls the 10 training rounds
# as materialized CTEs (see the PCA AS MATERIALIZED note) and replays
# assignment with row_number. The exact-verify scores stay f64 against
# the threshold / f32 at the output boundary — the same accepted
# residual class as the exact brute-force twins.
# --------------------------------------------------------------------------
IVF_TRAIN_ITERS = 10
IVF_SAMPLE = 2048

_IVF_TRAIN_ROUND = """
    , sd{r} AS MATERIALIZED (
        SELECT s.vec_id, c.cell,
               CAST(list_dot_product(s.nv, c.c) AS REAL) AS dot
        FROM samp s CROSS JOIN cc{p} c
    ), sa{r} AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, cell) AS rn
            FROM sd{r}) WHERE rn = 1
    ), cm{r} AS MATERIALIZED (
        SELECT a.cell, d.dim, sum(d.val) AS s
        FROM sa{r} a JOIN sdim d USING (vec_id)
        GROUP BY a.cell, d.dim
    ), cc{r} AS MATERIALIZED (
        SELECT p.cell, COALESCE(q.c, p.c) AS c
        FROM cc{p} p LEFT JOIN (
            SELECT m.cell,
                   list(CAST(CAST(m.s / greatest(n.nrm, 1e-12) AS REAL)
                        AS DOUBLE) ORDER BY m.dim) AS c
            FROM cm{r} m JOIN (
                SELECT cell, sqrt(sum(s * s)) AS nrm
                FROM cm{r} GROUP BY cell) n USING (cell)
            GROUP BY m.cell) q USING (cell)
    )
"""


def _ivf_quantizer_sql(nlist: int) -> str:
    """CTE chain ending at cc{IVF_TRAIN_ITERS}(cell, c): the trained
    f32-quantized spherical-k-means centroids, plus nemb (the 1e-300-
    clamped normalized corpus, _cells_pandas' form) and ad (per-vector
    f32 dots against the final centroids, ready for row_number cuts).
    Training-sample normalization uses train_centroids' 1e-12 clamp."""
    head = f"""
    emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), nemb AS MATERIALIZED (
        SELECT vec_id, list_transform(v, x -> x / nrm) AS nv
        FROM (SELECT vec_id, v,
                     greatest(sqrt(list_dot_product(v, v)), 1e-300) AS nrm
              FROM emb)
    ), samp AS MATERIALIZED (
        SELECT vec_id,
               list_transform(v, x -> CAST(CAST(x / nrm AS REAL) AS DOUBLE))
                   AS nv
        FROM (SELECT vec_id, v,
                     greatest(sqrt(list_dot_product(v, v)), 1e-12) AS nrm
              FROM emb ORDER BY vec_id LIMIT {IVF_SAMPLE})
    ), sdim AS MATERIALIZED (
        SELECT vec_id, unnest(nv) AS val, generate_subscripts(nv, 1) AS dim
        FROM samp
    ), cc0 AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS cell,
               nv AS c
        FROM (SELECT vec_id, nv FROM samp ORDER BY vec_id LIMIT {nlist})
    )"""
    rounds = "".join(
        _IVF_TRAIN_ROUND.format(r=r, p=r - 1)
        for r in range(1, IVF_TRAIN_ITERS + 1)
    )
    tail = f"""
    , ad AS MATERIALIZED (
        SELECT e.vec_id, c.cell,
               CAST(list_dot_product(e.nv, c.c) AS REAL) AS dot
        FROM nemb e CROSS JOIN cc{IVF_TRAIN_ITERS} c
    )"""
    return head + rounds + tail


@CATALOG.query(
    "ann_cosine_topk",
    oracle=f"""
    WITH {_ivf_quantizer_sql(nlist=32)}
    , ccell AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, cell) AS rn
            FROM ad) WHERE rn = 1
    ), qcell AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, cell) AS rn
            FROM ad WHERE vec_id % 50 = 0) WHERE rn <= 24
    ), cand AS MATERIALIZED (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               CAST(list_dot_product(eq.nv, en.nv) AS REAL) AS score
        FROM qcell q JOIN ccell n USING (cell)
        JOIN nemb eq ON eq.vec_id = q.vec_id
        JOIN nemb en ON en.vec_id = n.vec_id
        WHERE n.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, score, CAST(rnk AS BIGINT) AS "rank"
    FROM (SELECT query_id, neighbor_id, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id) AS rnk
          FROM cand)
    WHERE rnk <= 5
    """,
)
def ann_cosine_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: IVF coarse quantization (sampled spherical
    k-means) + nprobe candidate lists, exact-cosine re-rank; same
    output shape as cosine_topk_bruteforce. Hash-matched since round
    11 via the quantize_f32 training replay (header note above).

    nlist/nprobe tuned against the measured recall gate
    (scripts/measure_ann_recall.py, threshold 0.9): this corpus is
    near-uniform (top-5 neighbor cosine ~0.32), so recall demands a
    high probe fraction — 24/32 cells gives recall@5 = 0.97 at sf1
    vs 0.80 for the old 8/16. On a clustered real-embedding space the
    same gate would hold at a much lower fraction; the recall artifact
    (.benchmarks/ann_recall.json) is the guard either way."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return ann_cosine_topk(
        emb, queries, k=5, nlist=32, nprobe=24, quantize_f32=True
    )


@CATALOG.query(
    "embedding_near_dup_blocked",
    oracle=f"""
    WITH {_ivf_quantizer_sql(nlist=16)}
    , icell AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, cell) AS rn
            FROM ad) WHERE rn <= 4
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_dot_product(ea.nv, eb.nv) AS REAL) AS score
    FROM icell a JOIN icell b USING (cell)
    JOIN nemb ea ON ea.vec_id = a.vec_id
    JOIN nemb eb ON eb.vec_id = b.vec_id
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(ea.nv, eb.nv) >= 0.3
    """,
)
def embedding_near_dup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 scale path: IVF-cell-blocked embedding near-dup (candidates
    via shared probe cells, exact-cosine verify). The exact baseline is
    ``embedding_near_dup_exact`` in workloads/vectors.py. Hash-matched
    since round 11 via the quantize_f32 training replay (header note
    above); the f64 threshold compare is the exact twin's accepted
    residual class."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return embedding_near_dup_pairs(emb, threshold=0.3, quantize_f32=True)


@CATALOG.query(
    "embedding_dup_components_blocked",
    # The blocked-pair CTE (the embedding_near_dup_blocked replay at
    # CC_THRESHOLD) feeds the recursive-CTE min-label reach used by the
    # exact twin embedding_dup_components.
    oracle=f"""
    WITH RECURSIVE {_ivf_quantizer_sql(nlist=16)}
    , icell AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, cell) AS rn
            FROM ad) WHERE rn <= 4
    ), pairs AS MATERIALIZED (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM icell a JOIN icell b USING (cell)
        JOIN nemb ea ON ea.vec_id = a.vec_id
        JOIN nemb eb ON eb.vec_id = b.vec_id
        WHERE a.vec_id < b.vec_id
          AND list_dot_product(ea.nv, eb.nv) >= {_CC_THRESHOLD}
    ), sym AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM sym) t
        UNION
        SELECT s.u, reach.r FROM sym s JOIN reach ON reach.u = s.v
    ), comp AS (
        SELECT u, min(r) AS component FROM reach GROUP BY u
    )
    SELECT e.vec_id,
           COALESCE(comp.component, e.vec_id) AS component,
           (COALESCE(comp.component, e.vec_id) = e.vec_id) AS is_canonical
    FROM emb e LEFT JOIN comp ON e.vec_id = comp.u
    """,
)
def embedding_dup_components_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 scale composition: the 100 TB dup-cluster pipeline with NO
    all-pairs or driver-side stage — IVF-cell-blocked near-dup pairs
    (operators/similarity.py embedding_near_dup_pairs) feeding
    connected components (operators/dedup.py connected_components).

    The exact twin is ``embedding_dup_components`` (workloads/vectors.py:
    brute-force pairs -> CC, oracle-matched against a DuckDB recursive
    CTE); parity between the two at equal threshold is pinned in
    tests/test_pipeline_ops.py. Same output shape:
    ``vec_id, component, is_canonical``.
    """
    from orca_ztbus_python_processor_spark.operators.dedup import (  # noqa: PLC0415
        connected_components,
    )
    from orca_ztbus_python_processor_spark.workloads.vectors import (  # noqa: PLC0415
        CC_THRESHOLD,
    )

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    pairs = embedding_near_dup_pairs(
        emb, threshold=CC_THRESHOLD, quantize_f32=True
    )
    comp = connected_components(pairs)
    # No broadcast hint: comp has one row per duped node — at 100 TB
    # with a realistic dup rate that is billions of rows, far past any
    # broadcast limit. Shuffle-join on the key; AQE still converts to a
    # broadcast join at runtime when comp actually fits.
    return emb.select("vec_id").join(
        comp, emb.vec_id == comp.node, "left"
    ).select(
        "vec_id",
        F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
        (F.coalesce(F.col("component"), F.col("vec_id")) == F.col("vec_id")).alias(
            "is_canonical"
        ),
    )


@CATALOG.query(
    "text_dedup_retention",
    # End-to-end replay (promoted rows-only -> hash-matched in round
    # 10): the exact-dup stage groups by TEXT EQUALITY (sha256 grouping
    # is equality grouping — the oracle doesn't need the hash, only the
    # partition it induces), the near-dup stage is the full
    # _minhash_lsh_sql banding replay over the representative set, and
    # connected components is the recursive-CTE min-label reach used by
    # embedding_dup_components.
    oracle=f"""
    WITH RECURSIVE dd AS (
        SELECT doc_id, source, text FROM documents
    ), grp AS (
        SELECT text AS gtext, min(doc_id) AS rep_id, count(*) AS n
        FROM dd WHERE length(text) > 0 GROUP BY text
    ), extra AS (
        SELECT dd.doc_id, grp.rep_id
        FROM dd JOIN grp ON grp.gtext = dd.text
        WHERE grp.n > 1 AND dd.doc_id <> grp.rep_id
    ), reps AS (
        SELECT doc_id, text FROM dd
        WHERE doc_id NOT IN (SELECT doc_id FROM extra)
    ), {_minhash_lsh_sql(base="reps")}, nd AS (
        SELECT id_a, id_b FROM jacc
        WHERE j_est >= 0.3 AND jaccard >= 0.5
    ), sym AS (
        SELECT id_a AS u, id_b AS v FROM nd
        UNION
        SELECT id_b AS u, id_a AS v FROM nd
    ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM sym) t
        UNION
        SELECT s.u, reach.r FROM sym s JOIN reach ON reach.u = s.v
    ), comp AS (
        SELECT u AS node, min(r) AS component FROM reach GROUP BY u
    ), with_rep AS (
        SELECT dd.doc_id, dd.source,
               COALESCE(extra.rep_id, dd.doc_id) AS rep_id
        FROM dd LEFT JOIN extra ON extra.doc_id = dd.doc_id
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN COALESCE(comp.component, rep_id) = doc_id
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN COALESCE(comp.component, rep_id) = doc_id
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM with_rep LEFT JOIN comp ON comp.node = with_rep.rep_id
    GROUP BY source
    """,
)
def text_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 end-to-end: the full text near-dup pipeline composed as ONE
    lazy plan — exact-dup sha256 pre-collapse -> MinHash banding
    candidates -> nibble-sketch gate -> shuffled exact-Jaccard verify
    (>= 0.5) -> connected components -> canonical-keep (smallest doc_id
    per cluster survives) -> per-source retention counts. The text twin
    of ``embedding_dup_components_blocked``; the corpus-curation number
    a 100 TB dedup run actually reports.

    Stage 0 (standard corpus-dedup staging): identical non-empty texts
    are sha256-grouped and only the min-doc_id representative enters
    MinHash/LSH/CC. Identical texts have identical signatures and
    Jaccard 1.0, so LSH always clusters them anyway — collapsing first
    is semantics-preserving while removing the duplicate mass (typically
    the bulk of all dup mass in a web corpus) from the expensive
    signature + band-shuffle + CC stages. Empty texts are excluded from
    the sha-grouping (they never enter LSH either —
    ``minhash_signatures_and_sets`` skips them), so each stays its own
    representative and survives. The CC label is the min rep id of the
    cluster and every rep is the min of its sha-group, so the label
    is the min doc_id of the EXPANDED cluster — keep/drop is bit-
    identical to running LSH on the full corpus (union-find parity
    pinned in tests/test_pipeline_ops.py).

    The collapse never shuffles text: the sha-grouping runs over a
    narrow ``(h, doc_id)`` projection (the text is hashed map-side
    during the scan), and the only artifact it produces is ``extra`` —
    one ``doc_id -> rep_id`` row PER REMOVED DUPLICATE. Representatives
    are selected by ANTI-joining the corpus against ``extra``: when
    exact-dup mass is low (this fixture: 8/5000) the table is tiny and
    AQE broadcasts it, making the collapse a map-side filter; when dup
    mass is the bulk of the corpus (a raw web crawl) the anti-join
    shuffles text ONCE and removes that mass from the far more expensive
    signature/band/verify/CC stages. Every other stage is the
    cluster-bounded default: candidates map-side + one band shuffle,
    verify is a shuffle-hash join (no driver stage), CC shuffles the
    edge table only, and the final rep->cluster join is keyed on rep_id
    (CC output is unbounded at scale — no broadcast hint). Hash-matched
    since round 10: the DuckDB oracle replays the ENTIRE pipeline —
    equality grouping for the sha stage, the _minhash_lsh_sql banding
    replay over the representative set, recursive-CTE connected
    components — so even the LSH candidate set is oracle-verified, not
    just sampled for recall.

    Output: ``source, n_docs, n_kept, n_dropped``.
    """
    from orca_ztbus_python_processor_spark.operators.dedup import (  # noqa: PLC0415
        connected_components,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    # pinned: hashed feeds the group rollup AND the dup-expansion join —
    # one sha256 pass over the corpus instead of two (round-12)
    hashed = (
        docs.where(F.length("text") > 0)
        .select(F.sha2(F.col("text"), 256).alias("h"), "doc_id")
        .localCheckpoint(eager=False)
    )
    groups = hashed.groupBy("h").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("n")
    )
    # pinned: extra feeds the representative anti-join AND the final
    # rep attribution — dup-mass-sized, computed once
    extra = (
        hashed.join(groups.where(F.col("n") > 1), "h")
        .where(F.col("doc_id") != F.col("rep_id"))
        .select("doc_id", "rep_id")
        .localCheckpoint(eager=False)
    )
    reps = docs.join(extra.select("doc_id"), "doc_id", "left_anti")
    pairs = minhash_near_dups(reps, threshold=0.5)
    comp = connected_components(pairs.select("id_a", "id_b"))
    with_rep = (
        docs.select("doc_id", "source")
        .join(extra.withColumnRenamed("rep_id", "_rep"), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("_rep"), F.col("doc_id")).alias("rep_id"),
        )
    )
    labeled = with_rep.join(comp, F.col("rep_id") == comp.node, "left")
    kept = F.coalesce(F.col("component"), F.col("rep_id")) == F.col("doc_id")
    return labeled.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum((~kept).cast("long")).alias("n_dropped"),
    )


# Shared DuckDB replay of operators/dedup.winnow_fingerprints
# (token 3-grams, window 4, md5-derived 60-bit hashes): promoted from
# rows-only to hash-matched in round 10 — the md5 convention lets the
# oracle reproduce the exact fingerprint sets (VERDICT r9 #3).
_WINNOW_FP_SQL = """
    toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        FROM documents
    ), hs AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(len(ts) - 2, 1)),
                   i -> CAST(('0x' || substr(md5(array_to_string(
                            ts[CAST(i AS BIGINT):CAST(i + 2 AS BIGINT)],
                            ' ')), 1, 15)) AS BIGINT)) AS hs
        FROM toks WHERE len(ts) > 0
    ), fp AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(hs) - 3, 1)),
                   j -> list_min(
                       hs[CAST(j AS BIGINT):CAST(j + 3 AS BIGINT)]))))
                   AS fingerprint
        FROM hs
    )
"""


@CATALOG.query(
    "doc_fingerprints",
    oracle=f"""
    WITH {_WINNOW_FP_SQL}
    SELECT doc_id, fingerprint FROM fp
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (token 3-grams, window=4) per document."""
    return winnow_fingerprints(_docs(spark, sf_dir))


@CATALOG.query("multimodal_features")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: binary payload + typed metadata -> Arrow-batched feature
    extraction (decode stubbed deterministically)."""
    media = media_table_from_documents(_docs(spark, sf_dir))
    return extract_features(media)


@CATALOG.query("multimodal_frame_sample")
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: video frame-sampling plan (every 24th frame)."""
    media = media_table_from_documents(_docs(spark, sf_dir))
    return frame_sample_plan(media)


@CATALOG.query("multimodal_real_decode")
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real-decode path: valid WAV/BMP/PPM/PNG/GIF byte streams synthesized
    executor-side from the documents table, decoded by the stdlib
    decoders in ``operators/multimodal.real_features`` (wave-module PCM,
    hand-parsed BITMAPINFOHEADER, P6 header parse) — actual bytes
    through the actual decode stage, two map-only Arrow-batched hops, no
    shuffle. Rows-only by the driver contract (binary decode has no SQL
    oracle); decoded values are pinned by golden payloads in
    tests/test_pipeline_ops.py."""
    from orca_ztbus_python_processor_spark.operators.multimodal import (  # noqa: PLC0415
        real_features,
        synthesize_real_payloads,
    )

    media = synthesize_real_payloads(_docs(spark, sf_dir))
    return real_features(media)


@CATALOG.query(
    "winnow_containment_pairs",
    oracle=f"""
    WITH {_WINNOW_FP_SQL},
    stop AS (
        SELECT fingerprint FROM fp GROUP BY fingerprint
        HAVING count(*) <= 64
    ), sizes AS (
        SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id
    ), filtered AS (
        SELECT fp.doc_id, fp.fingerprint FROM fp JOIN stop USING (fingerprint)
    ), shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM filtered a JOIN filtered b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b, s.n_shared,
           CAST(s.n_shared / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE)
                AS REAL) AS containment
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.id_a
    JOIN sizes sb ON sb.doc_id = s.id_b
    WHERE s.n_shared / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE) >= 0.5
    """,
)
def winnow_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 CONTAINMENT detection — the dedup relation Jaccard misses:
    doc A pasted inside a larger doc B scores low Jaccard (union is
    dominated by B) but high containment |fp(A) ∩ fp(B)| / |fp(A)|.
    Winnowing fingerprints (operators/dedup.winnow_fingerprints, token
    3-grams, window=4) make that computable without shingle sets: docs
    sharing a fingerprint share a k-gram run, and the fingerprint
    count is a calibrated ~1/window sample of the k-gram profile.

    Plan shape: exploded (doc, fp) rows self-join ON FINGERPRINT (the
    natural shuffle key — co-located equi-join, no cross join), pair
    counts aggregate map-side, per-doc fingerprint totals broadcast
    back, containment = shared / min(|A|, |B|) >= 0.5. A stop-list
    drops fingerprints appearing in > 64 docs BEFORE the join (the
    LSH flood-guard argument: a fingerprint shared by f docs expands
    to f² pair rows; ubiquitous boilerplate fingerprints carry no
    containment signal and only quadratic cost). Hash-matched since
    round 10: the md5-derived gram hashes are replayed exactly by the
    DuckDB oracle (VERDICT r9 #3); the containment semantics stay
    pinned with planted substring-inclusion cases in
    tests/test_pipeline_ops.py.

    Output: ``id_a, id_b, n_shared, containment`` (id_a < id_b).
    """
    fps = winnow_fingerprints(_docs(spark, sf_dir)).localCheckpoint(eager=False)
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
    containment = F.col("n_shared") / F.least("n_fp_a", "n_fp_b").cast("double")
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("n_fp_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("n_fp_b")),
            "id_b",
        )
        .where(containment >= 0.5)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            containment.cast("float").alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# text_neardup_canonical_keep — the END of the dedup pipeline, hash-
# matched for the first time at text grain: exact char-shingle Jaccard
# pairs (20-char shingles at stride 10, the contamination_share
# sampling scheme — string shingles on BOTH engines, so the pair set
# is SQL-reproducible, unlike the 62-bit rolling-hash verify the LSH
# path uses) -> connected components -> QUALITY-AWARE canonical
# selection: each dup cluster keeps its longest document (ties to the
# smaller doc_id) instead of the naive min-id. Output is cluster
# grain: members, the kept doc, and the char mass dropped — the
# curation accounting a dedup pass must report. This is the exact
# ground-truth twin (pair stage is a shingle self-join — quadratic in
# per-shingle doc frequency); the scale path remains
# minhash_near_dup_pairs -> text_dedup_retention, same framing as
# embedding_dup_components (exact, oracle) vs _blocked (IVF, scale).
# The DuckDB oracle resolves components with a recursive CTE.
# --------------------------------------------------------------------------
KEEP_SHINGLE_K = 20
KEEP_SHINGLE_STRIDE = 10
KEEP_JACCARD_T = 0.5


@CATALOG.query(
    "text_neardup_canonical_keep",
    oracle=f"""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id, substr(text, CAST(i AS BIGINT),
                                       {KEEP_SHINGLE_K}) AS s
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1,
                          greatest(length(text) - {KEEP_SHINGLE_K - 1}, 1),
                          {KEEP_SHINGLE_STRIDE})) AS i
            FROM documents
        )
    ), cnt AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN cnt ca ON ca.doc_id = id_a
        JOIN cnt cb ON cb.doc_id = id_b
        WHERE ni / CAST(ca.n + cb.n - ni AS DOUBLE) >= {KEEP_JACCARD_T}
    ), sym AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM sym) t
        UNION
        SELECT s.u, reach.r FROM sym s JOIN reach ON reach.u = s.v
    ), comp AS (
        SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u
    ), members AS (
        SELECT c.component, d.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.component
                                  ORDER BY d.n_chars DESC, d.doc_id ASC)
                   AS rk
        FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT component,
           count(*) AS n_members,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           max(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc_id,
           CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
               AS kept_chars,
           CAST(1.0 - max(CASE WHEN rk = 1 THEN n_chars END)
                / CAST(sum(n_chars) AS DOUBLE) AS REAL) AS chars_drop_share
    FROM members GROUP BY component
    """,
)
def text_neardup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.dedup import (  # noqa: PLC0415
        connected_components,
    )

    shingle_arr = (
        f"array_distinct(transform(sequence(1,"
        f" greatest(length(text) - {KEEP_SHINGLE_K - 1}, 1),"
        f" {KEEP_SHINGLE_STRIDE}),"
        f" i -> substring(text, i, {KEEP_SHINGLE_K})))"
    )
    docs = _docs(spark, sf_dir)
    sh = docs.select("doc_id", F.explode(F.expr(shingle_arr)).alias("s"))
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("ni"))
    )
    ca = cnt.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    pairs = (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .where(
            F.col("ni")
            / (F.col("na") + F.col("nb") - F.col("ni")).cast("double")
            >= KEEP_JACCARD_T
        )
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs)
    members = comp.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    # quality-aware keeper: max over (n_chars, -doc_id) makes ties
    # deterministic toward the SMALLER doc_id, as one struct-max agg
    best = F.max(
        F.struct(F.col("n_chars").alias("_c"), (-F.col("node")).alias("_nid"))
    )
    return members.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.sum("n_chars").alias("total_chars"),
        (-best.getField("_nid")).alias("keep_doc_id"),
        best.getField("_c").cast("long").alias("kept_chars"),
        f32(
            1.0
            - best.getField("_c") / F.sum("n_chars").cast("double")
        ).alias("chars_drop_share"),
    )


# --------------------------------------------------------------------------
# epoch_shuffle_balance — deterministic EPOCH-WISE reshuffle audit: a
# training run re-shuffles the corpus every epoch by assigning each
# document shard = portable_hash(doc_id, epoch) % n_shards; this query
# proves the assignment is balanced (shard-size min/max/CV per epoch)
# and decorrelated across epochs without materializing any layout. The
# hash is a Knuth multiplicative mix on BIGINT arithmetic so the
# DuckDB twin computes the IDENTICAL assignment (engine-native hashes
# like xxhash64 differ across engines; at production id ranges beyond
# ~2^32 swap in xxhash64 and drop the oracle pairing — the balance
# algebra is unchanged). Scale shape: one map-side projection (doc_id
# only — column pruning leaves the text unread), a (epoch, shard)
# count with map-side combine, and an epoch-grain rollup over
# n_epochs x n_shards cells.
# --------------------------------------------------------------------------
EPOCH_SHUFFLE_EPOCHS = 4
EPOCH_SHUFFLE_SHARDS = 16
_ESH_MIX = 2654435761  # Knuth 2^32 / phi
_ESH_EPOCH_STEP = 1000003


@CATALOG.query(
    "epoch_shuffle_balance",
    oracle=f"""
    WITH assigned AS (
        SELECT epoch,
               ((doc_id + epoch * {_ESH_EPOCH_STEP}) * {_ESH_MIX})
                   % 1048576 % {EPOCH_SHUFFLE_SHARDS} AS shard
        FROM documents,
             unnest(generate_series(0, {EPOCH_SHUFFLE_EPOCHS - 1})) AS t(epoch)
    ), cells AS (
        SELECT epoch, shard, count(*) AS c
        FROM assigned GROUP BY epoch, shard
    )
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_shards_used,
           CAST(min(c) AS BIGINT) AS min_shard,
           CAST(max(c) AS BIGINT) AS max_shard,
           CAST(sqrt(avg(c * c) - avg(c) * avg(c)) / avg(c) AS REAL)
               AS shard_cv
    FROM cells
    GROUP BY epoch
    """,
)
def epoch_shuffle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(EPOCH_SHUFFLE_EPOCHS - 1))
            ).alias("epoch"),
        )
        .select(
            "epoch",
            (
                (F.col("doc_id") + F.col("epoch") * _ESH_EPOCH_STEP)
                * F.lit(_ESH_MIX)
                % 1048576
                % EPOCH_SHUFFLE_SHARDS
            ).alias("shard"),
        )
    )
    cells = assigned.groupBy("epoch", "shard").agg(F.count("*").alias("c"))
    return cells.groupBy(F.col("epoch").cast("long").alias("epoch")).agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_shards_used"),
        F.min("c").alias("min_shard"),
        F.max("c").alias("max_shard"),
        f32(
            F.sqrt(F.avg(F.col("c") * F.col("c")) - F.avg("c") * F.avg("c"))
            / F.avg("c")
        ).alias("shard_cv"),
    )


# --------------------------------------------------------------------------
# image_phash_dedup — PERCEPTUAL image near-dup dedup (pHash), the
# multimodal analogue of the text MinHash path: real byte-level image
# decode (BMP/PPM/PNG) -> 64-bit DCT perceptual hash -> 4x16-bit
# pigeonhole banding -> exact-hamming verify -> connected components
# -> per-format dedup census. The fixture corpus plants groups of
# brightness-shifted copies (provably hamming <= 1 — a no-clip
# brightness change is a pure DC shift through the linear
# resample+DCT; operators/imagehash.py), so the planted relation is
# recovered exactly, not statistically.
#
# Scale shape: decode + hash are ONE map-only Arrow stage (payload
# bytes never shuffle; 8 bytes/image leave it); the banding shuffle
# carries 4 rows/image; bucket expansion rides the shared LSH flood
# guard; components use the union-find fast path <= 1M edges with the
# distributed hash-loop fallback. Rows-only by the driver contract
# (binary decode has no SQL oracle); the hash itself and the planted
# recall are pinned by an independent pure-python reference in
# tests/test_round9_ops.py.
# --------------------------------------------------------------------------
@CATALOG.query("image_phash_dedup")
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.dedup import (  # noqa: PLC0415
        connected_components,
    )
    from orca_ztbus_python_processor_spark.operators.imagehash import (  # noqa: PLC0415
        PHASH_GROUP,
        _PHASH_FORMATS,
        phash_near_dups,
        phash_signatures_from_docs,
    )

    docs = _docs(spark, sf_dir)
    # fused synth+hash: payload bytes never cross the JVM boundary
    # (round-12; parity pinned in tests/test_round12_fused_media.py)
    sigs = phash_signatures_from_docs(docs)
    pairs = phash_near_dups(sigs, max_hamming=3)
    comp = connected_components(pairs.select("id_a", "id_b"))
    # every image keeps a cluster id: its component if it paired,
    # itself if it is a perceptual singleton. The (id, format) frame
    # comes from the documents scan, NOT from `media`: format is a
    # pure function of doc_id (synthesize_phash_media's contract), and
    # a second consumer of the mapInPandas stage would re-encode every
    # payload just to project two columns (column pruning cannot push
    # through mapInPandas; round-9 review finding).
    fmt = F.element_at(
        F.array(*[F.lit(f) for f in _PHASH_FORMATS]),
        (
            F.floor(F.col("media_id") / PHASH_GROUP)
            % len(_PHASH_FORMATS)
            + 1
        ).cast("int"),
    )
    ids = docs.select(F.col("doc_id").alias("media_id")).select(
        "media_id", fmt.alias("format")
    )
    labeled = (
        ids.join(comp, ids.media_id == comp.node, "left")
        .select(
            "media_id",
            "format",
            F.coalesce(F.col("component"), F.col("media_id")).alias("cluster"),
        )
    )
    sizes = labeled.groupBy("format", "cluster").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("format").agg(
        F.sum("cluster_size").alias("n_images"),
        F.count("*").alias("n_clusters"),
        F.sum((F.col("cluster_size") > 1).cast("long")).alias(
            "n_dup_clusters"
        ),
        F.max("cluster_size").alias("max_cluster_size"),
        f32(
            F.sum(F.col("cluster_size") - 1)
            / F.sum("cluster_size").cast("double")
        ).alias("dup_share"),
    )


# --------------------------------------------------------------------------
# image_phash_bit_balance — pHash HEALTH audit: per-bit set-share
# across the image corpus. A healthy perceptual hash has every bit
# near 50% occupancy (each DCT sign carries ~1 bit of entropy); a
# skewed bit (share near 0 or 1) contributes nothing to the Hamming
# metric and silently halves banding selectivity — the exact failure
# mode a resize/DCT bug (or a degenerate corpus: all-flat thumbnails)
# produces. The standard companion audit to shipping an LSH family,
# same role as the MinHash calibration below. Known, pinned
# degeneracy: bit 0 is the DC-vs-AC-median sign, which is set on
# essentially every natural image (the classic pHash formulation
# shares this), so 63 of 64 bits carry the discriminative entropy —
# the test asserts bit 0 AT 1.0 and every other bit inside
# (0.15, 0.85) on the fixture corpus.
#
# Scale shape: decode+hash is the same map-only Arrow stage as
# image_phash_dedup; the bit explode is 64 JVM rows per image and the
# rollup is one 64-cell map-combinable aggregation. Rows-only by the
# driver contract (binary decode has no SQL oracle); the shares are
# pinned against a pure-python recount in tests/test_round9_ops.py.
# --------------------------------------------------------------------------
@CATALOG.query("image_phash_bit_balance")
def image_phash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.imagehash import (  # noqa: PLC0415
        phash_signatures_from_docs,
    )

    sigs = phash_signatures_from_docs(_docs(spark, sf_dir))
    bits = sigs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("bit_idx"),
                        F.shiftright("phash", k)
                        .bitwiseAND(F.lit(1))
                        .alias("b"),
                    )
                    for k in range(64)
                ]
            )
        ).alias("e")
    ).select("e.bit_idx", "e.b")
    return bits.groupBy(F.col("bit_idx").cast("long").alias("bit_idx")).agg(
        F.count("*").alias("n_images"),
        f32(F.avg("b")).alias("set_share"),
    )


# --------------------------------------------------------------------------
# minhash_jaccard_calibration — ESTIMATOR CALIBRATION audit: bucket
# LSH candidate pairs by their signature Jaccard estimate (0.05-wide
# bins) and score each bin's mean EXACT Jaccard. A well-calibrated
# sketch puts mean_exact on the bin diagonal within the binomial
# sigma (sqrt(j(1-j)/64) ~ 0.06); drift off the diagonal is how a
# broken hash family, a bad nibble-gate correction, or a shingle-k
# mismatch announces itself before it silently skews every
# dedup-threshold decision downstream. Real pipelines publish exactly
# this curve when they tune LSH thresholds.
#
# Scale shape: candidates + estimates ride the existing banding
# machinery (signatures shuffle, never shingle sets); the exact
# verify is the shuffle-join form on candidate pairs only (pair-law
# bounded); the bin rollup is ~20 cells. Hash-matched since round 10:
# the full banding pipeline is replayed by the DuckDB oracle
# (_minhash_lsh_sql), so the candidate set, the nibble j_est, and the
# exact per-bin means are all oracle-verified; the independent Python
# exact-Jaccard recount pin in tests/test_round9_ops.py stays as a
# second witness.
# --------------------------------------------------------------------------
@CATALOG.query(
    "minhash_jaccard_calibration",
    oracle=f"""
    WITH {_MINHASH_LSH_SQL}
    SELECT CAST(floor(j_est / 0.05) AS BIGINT) AS est_bin,
           count(*) AS n_pairs,
           CAST(avg(j_est) AS REAL) AS mean_est,
           CAST(avg(jaccard) AS REAL) AS mean_exact
    FROM jacc GROUP BY 1
    """,
)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.dedup import (  # noqa: PLC0415
        candidate_pairs_from_sigs,
        jaccard_pairs_from_sets,
        minhash_signatures_and_sets,
    )

    docs = _docs(spark, sf_dir)
    # pinned: one Arrow pass feeds banding and the exact verify
    fused = minhash_signatures_and_sets(docs).localCheckpoint(eager=False)
    # Lazy-checkpoint the candidate pairs: they feed BOTH the exact
    # verify's pair argument and the estimate join, and without the cut
    # the banding pipeline executes twice — measured 2x wall and
    # multi-second rep variance at sf0.1.
    cands = candidate_pairs_from_sigs(fused, return_estimate=True).localCheckpoint(
        eager=False
    )
    exact = jaccard_pairs_from_sets(
        fused.select("_id", "_set"), cands.select("id_a", "id_b")
    )
    joined = cands.join(exact, ["id_a", "id_b"])
    bin_col = F.floor(F.col("j_est") / 0.05).cast("long").alias("est_bin")
    return (
        joined.groupBy(bin_col)
        .agg(
            F.count("*").alias("n_pairs"),
            f32(F.avg("j_est")).alias("mean_est"),
            f32(F.avg("jaccard")).alias("mean_exact"),
        )
    )


# --------------------------------------------------------------------------
# image_decontam_phash — PERCEPTUAL image decontamination, completing
# the decontam triptych: lexical (benchmark_decontam_13gram), semantic
# embedding (semantic_decontam_embedding), and now IMAGE space. The
# held-out "benchmark" image set is the same deterministic 1/97 slice
# convention (media_id % 97 == 0); a training image is contaminated if
# its pHash sits within hamming <= 3 of ANY benchmark image — the
# brightness-shift robustness of the hash is exactly why byte-level
# image dedup cannot do this job. Candidate pairs ride the SAME
# 4x16-bit pigeonhole banding as image_phash_dedup — recall-complete
# for the radius UP TO phash_near_dups' max_members flood guard
# (chunk buckets past the cap fall back to a multi-center star; see
# the operator docstring) — then cross-split pairs flag the train
# side.
#
# Scale shape: decode+hash map-only as ever; the banding join is the
# only wide stage and carries 4 rows/image regardless of which side is
# benchmark — no bench broadcast to fence (contrast the lexical
# sweep's gram set). Rows-only by the driver contract; planted
# expectation pinned in tests (every planted group straddling the
# mod-97 split flags exactly its non-benchmark members).
# --------------------------------------------------------------------------
IMG_DECONTAM_MOD = 97


@CATALOG.query("image_decontam_phash")
def image_decontam_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.imagehash import (  # noqa: PLC0415
        PHASH_GROUP,
        _PHASH_FORMATS,
        phash_near_dups,
        phash_signatures_from_docs,
    )

    docs = _docs(spark, sf_dir)
    # fused synth+hash (round-12, see image_phash_dedup)
    sigs = phash_signatures_from_docs(docs)
    pairs = phash_near_dups(sigs, max_hamming=3)
    is_bench_a = F.col("id_a") % IMG_DECONTAM_MOD == 0
    is_bench_b = F.col("id_b") % IMG_DECONTAM_MOD == 0
    flagged = (
        pairs.where(is_bench_a != is_bench_b)
        .select(
            F.when(is_bench_a, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("media_id")
        )
        .distinct()
        .withColumn("_flag", F.lit(1))
    )
    fmt = F.element_at(
        F.array(*[F.lit(f) for f in _PHASH_FORMATS]),
        (
            F.floor(F.col("media_id") / PHASH_GROUP)
            % len(_PHASH_FORMATS)
            + 1
        ).cast("int"),
    )
    train = (
        docs.select(F.col("doc_id").alias("media_id"))
        .where(F.col("media_id") % IMG_DECONTAM_MOD != 0)
        .select("media_id", fmt.alias("format"))
    )
    return (
        train.join(flagged, "media_id", "left")
        .groupBy("format")
        .agg(
            F.count("*").alias("n_train_images"),
            F.sum(F.coalesce(F.col("_flag"), F.lit(0))).alias("n_flagged"),
            f32(
                F.sum(F.coalesce(F.col("_flag"), F.lit(0)))
                / F.count("*").cast("double")
            ).alias("flagged_share"),
        )
    )


# --------------------------------------------------------------------------
# audio_fp_dedup — PERCEPTUAL audio near-dup dedup, the audio analogue
# of image_phash_dedup (VERDICT r9 #5 extension symmetry): real WAV
# byte-level decode (stdlib wave) -> 64-bit spectral band-energy sign
# fingerprint (operators/audiofp.py) -> the SHARED 4x16-bit pigeonhole
# banding (dedup.hamming_near_dups, same code as pHash) -> exact
# hamming verify -> connected components -> per-length-bucket census.
# The fixture corpus plants groups of power-of-two-gain copies —
# provably hamming 0, not statistically small: power-of-two scaling
# commutes exactly with IEEE float rounding through the FFT, so every
# band-energy comparison is unchanged (the audio analogue of pHash's
# no-clip-brightness DC-shift proof).
#
# Scale shape: decode + fingerprint are ONE map-only Arrow stage (PCM
# payload bytes never shuffle; 8 bytes/clip leave it); the banding
# shuffle carries 4 rows/clip; bucket expansion rides the shared LSH
# flood guard; components use the union-find fast path <= 1M edges
# with the distributed fallback. Rows-only by the driver contract
# (binary decode has no SQL oracle); the fingerprint itself, the
# planted invariance, and the banding recall vs exact hamming are
# pinned by an independent pure-python reference in
# tests/test_round10_ops.py.
# --------------------------------------------------------------------------
@CATALOG.query("audio_fp_dedup")
def audio_fp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.audiofp import (  # noqa: PLC0415
        AUDIO_GROUP,
        audiofp_near_dups,
        audiofp_signatures_from_docs,
    )
    from orca_ztbus_python_processor_spark.operators.dedup import (  # noqa: PLC0415
        connected_components,
    )

    docs = _docs(spark, sf_dir)
    # fused synth+fingerprint: PCM bytes never cross the JVM boundary
    # (round-12; parity pinned in tests/test_round12_fused_media.py)
    sigs = audiofp_signatures_from_docs(docs)
    pairs = audiofp_near_dups(sigs, max_hamming=3)
    comp = connected_components(pairs.select("id_a", "id_b"))
    # every clip keeps a cluster id: its component if it paired, itself
    # if it is a perceptual singleton. The (id, length-bucket) frame
    # comes from the documents scan, NOT from `media`: clip length is
    # a pure function of doc_id (synthesize_audio_media's contract:
    # 1024 + 64 * (group % 7) samples), and a second consumer of the
    # mapInPandas stage would re-encode every payload just to project
    # two columns (column pruning cannot push through mapInPandas).
    bucket = (F.floor(F.col("media_id") / AUDIO_GROUP) % 7).alias(
        "len_bucket"
    )
    ids = docs.select(F.col("doc_id").alias("media_id")).select(
        "media_id", bucket
    )
    labeled = ids.join(comp, ids.media_id == comp.node, "left").select(
        "media_id",
        "len_bucket",
        F.coalesce(F.col("component"), F.col("media_id")).alias("cluster"),
    )
    sizes = labeled.groupBy("len_bucket", "cluster").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("len_bucket").agg(
        F.sum("cluster_size").alias("n_clips"),
        F.count("*").alias("n_clusters"),
        F.sum((F.col("cluster_size") > 1).cast("long")).alias(
            "n_dup_clusters"
        ),
        F.max("cluster_size").alias("max_cluster_size"),
        f32(
            F.sum(F.col("cluster_size") - 1)
            / F.sum("cluster_size").cast("double")
        ).alias("dup_share"),
    )


# --------------------------------------------------------------------------
# audio_fp_bit_balance — fingerprint HEALTH audit, the audio analogue
# of image_phash_bit_balance. The median-threshold construction sets
# EXACTLY 4 of each frame's 8 bits when the frame's band energies are
# distinct (ties have measure ~0 on the noise fixture), so the
# per-clip popcount is exactly 32 and the MEAN set-share across the
# 64 bit positions is exactly 0.5 — a sharper structural invariant
# than pHash's. Per-bit shares near 0 or 1 would still expose a band
# that never wins (e.g. an off-by-one dropping a band's bins), which
# is what the audit is for.
#
# Scale shape: decode+fingerprint is the same map-only Arrow stage as
# audio_fp_dedup; the bit explode is 64 JVM rows per clip and the
# rollup is one 64-cell map-combinable aggregation. Rows-only by the
# driver contract; shares pinned against a pure-python recount in
# tests/test_round10_ops.py.
# --------------------------------------------------------------------------
@CATALOG.query("audio_fp_bit_balance")
def audio_fp_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.audiofp import (  # noqa: PLC0415
        audiofp_signatures_from_docs,
    )

    sigs = audiofp_signatures_from_docs(_docs(spark, sf_dir))
    bits = sigs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("bit_idx"),
                        F.shiftright("afp", k)
                        .bitwiseAND(F.lit(1))
                        .alias("b"),
                    )
                    for k in range(64)
                ]
            )
        ).alias("e")
    ).select("e.bit_idx", "e.b")
    return bits.groupBy(F.col("bit_idx").cast("long").alias("bit_idx")).agg(
        F.count("*").alias("n_clips"),
        f32(F.avg("b")).alias("set_share"),
    )


# --------------------------------------------------------------------------
# containment_dedup_retention — end-to-end CONTAINMENT-aware dedup:
# winnowing fingerprints -> containment pairs (>= 0.5 shared/min
# profile, the winnow_containment_pairs stage) -> KEEP-LONGEST policy
# (each qualifying pair drops its shorter side; ties drop the larger
# doc_id) -> per-source retention census. The containment analogue of
# text_dedup_retention's Jaccard pipeline: Jaccard dedup misses
# doc-inside-doc pasting (union dominated by the host), and this is
# the pass that catches it. Fully hash-matched since the round-10
# winnowing promotion made the fingerprint chain SQL-replayable —
# an END-TO-END dedup pipeline whose keep/drop decisions the oracle
# reproduces byte-for-byte.
#
# Scale shape: rides the winnow pipeline (token-gram map work +
# fingerprint equi-join with the >64-doc stop list); the keep/drop
# pass adds two doc-grain joins for n_chars and one distinct at
# dropped-doc grain. Output |sources| rows.
# --------------------------------------------------------------------------
@CATALOG.query(
    "containment_dedup_retention",
    oracle=f"""
    WITH {_WINNOW_FP_SQL},
    stop AS (
        SELECT fingerprint FROM fp GROUP BY fingerprint
        HAVING count(*) <= 64
    ), sizes AS (
        SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id
    ), filtered AS (
        SELECT fp.doc_id, fp.fingerprint FROM fp JOIN stop USING (fingerprint)
    ), shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM filtered a JOIN filtered b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), cpairs AS (
        SELECT s.id_a, s.id_b
        FROM shared s
        JOIN sizes sa ON sa.doc_id = s.id_a
        JOIN sizes sb ON sb.doc_id = s.id_b
        WHERE s.n_shared / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE) >= 0.5
    ), dropped AS (
        SELECT DISTINCT CASE
            WHEN da.n_chars < db.n_chars THEN p.id_a
            WHEN db.n_chars < da.n_chars THEN p.id_b
            WHEN p.id_a > p.id_b THEN p.id_a ELSE p.id_b
        END AS doc_id
        FROM cpairs p
        JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE) AS REAL) AS retention
    FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def containment_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = winnow_containment_pairs(spark, sf_dir).select("id_a", "id_b")
    chars = docs.select("doc_id", "n_chars")
    pa = chars.select(
        F.col("doc_id").alias("id_a"), F.col("n_chars").alias("chars_a")
    )
    pb = chars.select(
        F.col("doc_id").alias("id_b"), F.col("n_chars").alias("chars_b")
    )
    dropped = (
        pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            F.when(F.col("chars_a") < F.col("chars_b"), F.col("id_a"))
            .when(F.col("chars_b") < F.col("chars_a"), F.col("id_b"))
            .otherwise(F.greatest(F.col("id_a"), F.col("id_b")))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    return (
        docs.select("doc_id", "source")
        .join(dropped, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("_drop"), F.lit(0))).cast("long").alias(
                "n_dropped"
            ),
            f32(
                F.sum(
                    F.when(F.col("_drop").isNull(), 1).otherwise(0)
                ).cast("double")
                / F.count("*")
            ).alias("retention"),
        )
    )


# --------------------------------------------------------------------------
# audio_decontam_fp — perceptual AUDIO decontamination, completing the
# decontam QUADRIPTYCH: lexical 13-gram (benchmark_decontam_13gram),
# semantic embedding (semantic_decontam_embedding), perceptual image
# (image_decontam_phash), and now AUDIO. Same held-out 1/97 slice
# convention (media_id % 97 == 0); a training clip is contaminated if
# its fingerprint sits within hamming <= 3 of ANY benchmark clip —
# gain-robustness of the fingerprint is exactly why byte-level audio
# dedup cannot do this job (a re-encoded, re-levelled benchmark clip
# still matches). Candidate pairs ride the SAME shared banding as
# audio_fp_dedup; cross-split pairs flag the train side.
#
# Scale shape: decode+fingerprint map-only as ever; the banding join
# is the only wide stage and carries 4 rows/clip regardless of side —
# no bench broadcast to fence. Rows-only by the driver contract;
# planted straddle-group expectation pinned in
# tests/test_round10_ops.py.
# --------------------------------------------------------------------------
@CATALOG.query("audio_decontam_fp")
def audio_decontam_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.audiofp import (  # noqa: PLC0415
        AUDIO_GROUP,
        audiofp_near_dups,
        audiofp_signatures_from_docs,
    )

    docs = _docs(spark, sf_dir)
    # fused synth+fingerprint (round-12, see audio_fp_dedup)
    sigs = audiofp_signatures_from_docs(docs)
    pairs = audiofp_near_dups(sigs, max_hamming=3)
    is_bench_a = F.col("id_a") % IMG_DECONTAM_MOD == 0
    is_bench_b = F.col("id_b") % IMG_DECONTAM_MOD == 0
    flagged = (
        pairs.where(is_bench_a != is_bench_b)
        .select(
            F.when(is_bench_a, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("media_id")
        )
        .distinct()
        .withColumn("_flag", F.lit(1))
    )
    bucket = (F.floor(F.col("media_id") / AUDIO_GROUP) % 7).alias(
        "len_bucket"
    )
    train = (
        docs.select(F.col("doc_id").alias("media_id"))
        .where(F.col("media_id") % IMG_DECONTAM_MOD != 0)
        .select("media_id", bucket)
    )
    return (
        train.join(flagged, "media_id", "left")
        .groupBy("len_bucket")
        .agg(
            F.count("*").alias("n_train_clips"),
            F.sum(F.coalesce(F.col("_flag"), F.lit(0))).alias("n_flagged"),
            f32(
                F.sum(F.coalesce(F.col("_flag"), F.lit(0)))
                / F.count("*").cast("double")
            ).alias("flagged_share"),
        )
    )


# --------------------------------------------------------------------------
# media_decode_health — CORRUPT-PAYLOAD tolerance audit: real media
# pipelines always carry truncated/bit-rotted payloads, and a decode
# stage that dies on the first bad byte stream is a 100 TB outage.
# This query synthesizes the real-decodable corpus, CORRUPTS a
# deterministic 1/MEDIA_CORRUPT_MOD slice (header magic overwritten —
# every format's cheapest validity check), runs the byte-level
# decoders under a per-record guard, and reports per-format
# decode success/failure counts. The guarded path is the operator
# under test: decode errors become rows, never task failures.
#
# Scale shape: one map-only Arrow stage (synthesize + corrupt +
# guarded decode fused per batch; payloads never shuffle); the rollup
# is |formats| cells. Rows-only by the driver contract (binary decode
# has no SQL oracle); exact planted failure counts pinned in
# tests/test_round10_ops.py. The modulus is COPRIME with the 6-format
# rotation (gcd(49, 6) = 1) so every format receives corrupted
# payloads — a 50 slice would only ever hit the even-residue formats
# (caught on the first smoke run).
# --------------------------------------------------------------------------
MEDIA_CORRUPT_MOD = 49


@CATALOG.query("media_decode_health")
def media_decode_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415

    from orca_ztbus_python_processor_spark.operators.multimodal import (  # noqa: PLC0415
        _REAL_DECODERS,
        synthesize_real_payloads,
    )

    media = synthesize_real_payloads(_docs(spark, sf_dir))

    def gen(batches):
        for pdf in batches:
            fmts, oks = [], []
            for mid, fmt, payload in zip(
                pdf["media_id"], pdf["format"], pdf["payload"]
            ):
                b = bytes(payload)
                if int(mid) % MEDIA_CORRUPT_MOD == 0:
                    # stomp the magic/header: deterministic corruption
                    b = b"\x00\x00\x00\x00" + b[4:]
                try:
                    _REAL_DECODERS[fmt](b)
                    oks.append(1)
                except Exception:
                    oks.append(0)
                fmts.append(fmt)
            yield pd.DataFrame({"format": fmts, "ok": oks})

    decoded = media.mapInPandas(gen, schema="format string, ok int")
    return decoded.groupBy("format").agg(
        F.count("*").alias("n_payloads"),
        F.sum("ok").cast("long").alias("n_decoded"),
        F.sum(1 - F.col("ok")).cast("long").alias("n_failed"),
        f32(F.avg(F.col("ok").cast("double"))).alias("decode_rate"),
    )


# --------------------------------------------------------------------------
# priority_sample_weight_estimate — priority sampling (sequential
# Poisson / order sampling) with the Duffield-Lund-Thorup subset-sum
# estimator (JACM'07; Ohlsson '98 — public algorithms): per source,
# each doc draws priority q = w / u with weight w = n_chars and a
# DETERMINISTIC md5-derived uniform u (the same 60-bit hash recipe as
# kmv_distinct_user_overlap, timeseries.py:4226); keep the K largest
# priorities, set tau = the (K+1)-th, and estimate the TOTAL corpus
# weight from the K-doc sample as sum(max(w_i, tau)) — the
# variance-optimal weighted-sampling-without-replacement scheme a
# 100 TB pipeline uses to pick K quality-weighted exemplar docs per
# source while still reporting an unbiased total. The fixture runs
# estimate NEXT TO the exact total (the calibration harness shape, as
# kmv_overlap_calibration): at scale only the sample survives.
#
# Oracle replay: u is md5-derived so DuckDB draws the SAME uniforms;
# the estimator is restructured so the float path is deterministic in
# BOTH engines — the kept-weight mass sum(w_i >= tau) stays a BIGINT
# sum (exact), and the float tail is ONE multiply (tau * n_below) and
# ONE add, so no double-summation-order drift can split the hash.
# q itself is two exact-rounded IEEE ops on (w, u): w * 2^60 / u.
#
# Scale shape: reads only (doc_id, source, n_chars) — the text column
# never leaves the scan; ONE shuffle on source for the rank, and
# WindowGroupLimit prunes to K+1 rows per source map-side before the
# exchange; everything after runs on |sources| * (K+1) rows with
# broadcast joins. Estimator branch is LIVE at the driver's sf0.01
# (25 docs/source > K+1 = 17, so tau exists for every source) per the
# degenerate-evidence policy.
# --------------------------------------------------------------------------
PRIORITY_SAMPLE_K = 16
_PRI_2POW60 = float(1 << 60)  # exactly representable in a double
_PRI_HASH_SPARK = (
    "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"
    " + 1"
)
_PRI_HASH_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1"
)


def _priority_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(pri, top) for priority sampling, PRE-checkpoint — exposed so
    the plan pin can assert WindowGroupLimit pruning and the text-free
    ReadSchema on the un-truncated fragment."""
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    k = PRIORITY_SAMPLE_K
    pri = (
        _docs(spark, sf_dir)
        .where(F.col("n_chars") > 0)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("w"),
            (
                F.col("n_chars").cast("double")
                * F.lit(_PRI_2POW60)
                / F.expr(_PRI_HASH_SPARK).cast("double")
            ).alias("q"),
        )
    )
    rank_w = W.partitionBy("source").orderBy(F.col("q").desc(), F.col("doc_id"))
    top = pri.withColumn("rn", F.row_number().over(rank_w)).where(
        F.col("rn") <= k + 1
    )
    return pri, top



@CATALOG.query(
    "priority_sample_weight_estimate",
    oracle=f"""
    WITH pri AS (
        SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
               CAST(n_chars AS DOUBLE) * {_PRI_2POW60!r}
                   / CAST({_PRI_HASH_SQL} AS DOUBLE) AS q
        FROM documents WHERE n_chars > 0
    ), ranked AS (
        SELECT source, doc_id, w, q,
               row_number() OVER (PARTITION BY source
                                  ORDER BY q DESC, doc_id) AS rn
        FROM pri
    ), top AS (
        SELECT * FROM ranked WHERE rn <= {PRIORITY_SAMPLE_K + 1}
    ), tau AS (
        SELECT source,
               CASE WHEN count(*) = {PRIORITY_SAMPLE_K + 1}
                    THEN min(q) END AS tau
        FROM top GROUP BY source
    ), est AS (
        SELECT t.source, max(a.tau) AS tau,
               sum(CASE WHEN a.tau IS NULL OR t.w >= a.tau
                        THEN t.w END) AS ws,
               sum(CASE WHEN a.tau IS NOT NULL AND t.w < a.tau
                        THEN 1 ELSE 0 END) AS n_below
        FROM top t JOIN tau a USING (source)
        WHERE t.rn <= {PRIORITY_SAMPLE_K}
        GROUP BY t.source
    ), exact AS (
        SELECT source, count(*) AS n_docs, sum(w) AS total_chars
        FROM pri GROUP BY source
    )
    SELECT e.source,
           CAST(e.n_docs AS BIGINT) AS n_docs,
           CAST(e.total_chars AS BIGINT) AS total_chars,
           CAST(least(e.n_docs, {PRIORITY_SAMPLE_K}) AS BIGINT) AS n_sampled,
           CAST(s.tau AS REAL) AS tau,
           CAST(CAST(coalesce(s.ws, 0) AS DOUBLE)
                + coalesce(s.tau * s.n_below, 0.0) AS REAL)
               AS est_total_chars,
           CAST((CAST(coalesce(s.ws, 0) AS DOUBLE)
                 + coalesce(s.tau * s.n_below, 0.0)
                 - CAST(e.total_chars AS DOUBLE))
                / CAST(e.total_chars AS DOUBLE) AS REAL) AS rel_err
    FROM exact e JOIN est s USING (source)
    """,
)
def priority_sample_weight_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    k = PRIORITY_SAMPLE_K
    pri, top = _priority_frames(spark, sf_dir)
    top = top.localCheckpoint(eager=False)  # |sources| * (K+1) rows
    tau = top.groupBy("source").agg(
        F.when(F.count("*") == k + 1, F.min("q")).alias("tau")
    )
    est = (
        top.where(F.col("rn") <= k)
        .join(F.broadcast(tau), "source")
        .groupBy("source")
        .agg(
            F.max("tau").alias("tau"),
            F.sum(
                F.when(
                    F.col("tau").isNull() | (F.col("w") >= F.col("tau")),
                    F.col("w"),
                )
            ).alias("ws"),
            F.sum(
                F.when(
                    F.col("tau").isNotNull() & (F.col("w") < F.col("tau")), 1
                ).otherwise(0)
            ).alias("n_below"),
        )
    )
    exact = pri.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("w").alias("total_chars")
    )
    est_d = F.coalesce(F.col("ws"), F.lit(0)).cast("double") + F.coalesce(
        F.col("tau") * F.col("n_below"), F.lit(0.0)
    )
    return exact.join(F.broadcast(est), "source").select(
        "source",
        "n_docs",
        "total_chars",
        F.least(F.col("n_docs"), F.lit(k)).cast("long").alias("n_sampled"),
        f32(F.col("tau")).alias("tau"),
        f32(est_d).alias("est_total_chars"),
        f32(
            (est_d - F.col("total_chars").cast("double"))
            / F.col("total_chars").cast("double")
        ).alias("rel_err"),
    )


# --------------------------------------------------------------------------
# edit_distance_neardup_pairs — character-level EDIT-DISTANCE near-dup
# detection (the classic fuzzy-dedup modality the shingle family
# cannot express: Levenshtein counts insertions/deletions/swaps, so
# it catches small in-place mutations regardless of how many shingles
# they break). Candidate generation is prefix+length BLOCKING — the
# standard entity-resolution scheme: only docs sharing an 8-char
# prefix and a 16-char length bucket are compared, so the pair volume
# is sum-of-block-squares, not corpus-squared. The verify predicate
# is the banded distance bound dist <= max(4, minlen/10), integer
# arithmetic only.
#
# Both engines run their NATIVE levenshtein (JVM codegen in Spark,
# vectorized C++ in DuckDB — both the textbook DP, identical integer
# outputs on this ASCII fixture), so the whole query is hash-matched
# with zero Python in the path. Blocking recall is the documented
# trade (an edit inside the first 8 chars moves the doc to another
# block — real pipelines run multiple blocking passes); the planted
# pin in tests/test_round10_ops.py verifies known near-dup groups
# surface. Blocks larger than EDIT_BLOCK_CAP are dropped on BOTH
# sides (flood guard for templated corpora whose shared prefixes
# would otherwise go quadratic — same honesty rule as _pair_expand's
# max_members); the fixture never hits the cap (asserted in pytest,
# so the guard is inert where the oracle compares).
#
# Scale shape: one (prefix, bucket) shuffle; the self-join is
# co-located on the block key; levenshtein runs only on candidate
# pairs. 100 TB guidance: raise the prefix length before raising the
# cap — block volume collapses exponentially in prefix chars.
# --------------------------------------------------------------------------
EDIT_BLOCK_CAP = 1024


@CATALOG.query(
    "edit_distance_neardup_pairs",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, source, text, length(text) AS n,
               substr(text, 1, 8) AS pfx,
               length(text) // 16 AS lb
        FROM documents
    ), sized AS (
        SELECT b.*, count(*) OVER (PARTITION BY pfx, lb) AS bsz FROM b
    ), ok AS (
        SELECT * FROM sized WHERE bsz <= {EDIT_BLOCK_CAP}
    )
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           a.source AS source_a, c.source AS source_b,
           CAST(levenshtein(a.text, c.text) AS BIGINT) AS dist,
           CAST(least(a.n, c.n) AS BIGINT) AS min_len,
           CAST(levenshtein(a.text, c.text)
                / CAST(least(a.n, c.n) AS DOUBLE) AS REAL) AS rel_dist
    FROM ok a JOIN ok c
      ON a.pfx = c.pfx AND a.lb = c.lb AND a.doc_id < c.doc_id
    WHERE levenshtein(a.text, c.text) > 0
      AND levenshtein(a.text, c.text)
          <= greatest(4, least(a.n, c.n) // 10)
    """,
)
def edit_distance_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    b = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        "text",
        F.length("text").alias("n"),
        F.substring("text", 1, 8).alias("pfx"),
        (F.length("text") / 16).cast("long").alias("lb"),
    )
    sized = b.withColumn(
        "bsz", F.count("*").over(W.partitionBy("pfx", "lb"))
    ).where(F.col("bsz") <= EDIT_BLOCK_CAP)
    left = sized.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("source_a"),
        F.col("text").alias("text_a"),
        F.col("n").alias("n_a"),
        "pfx",
        "lb",
    )
    right = sized.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("source_b"),
        F.col("text").alias("text_b"),
        F.col("n").alias("n_b"),
        "pfx",
        "lb",
    )
    dist = F.levenshtein(F.col("text_a"), F.col("text_b"))
    min_len = F.least(F.col("n_a"), F.col("n_b"))
    return (
        left.join(right, ["pfx", "lb"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            (dist > 0)
            & (dist <= F.greatest(F.lit(4), (min_len / 10).cast("long")))
        )
        .select(
            "id_a",
            "id_b",
            "source_a",
            "source_b",
            dist.cast("long").alias("dist"),
            min_len.cast("long").alias("min_len"),
            f32(dist / min_len.cast("double")).alias("rel_dist"),
        )
    )
