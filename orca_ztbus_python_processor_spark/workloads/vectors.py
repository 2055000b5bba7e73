"""Embedding / similarity workload over ``embeddings`` — the
driver-mandated similarity-search surface (SURVEY.md §2.11 X3).

Vector math is done with Spark's higher-order array functions
(``zip_with`` + ``aggregate``), which evaluate JVM-side — no Python in
the hot path. Embeddings are cast float32 -> float64 before arithmetic
(exact), and scores are cast back to float32 at the output boundary so
the cross-engine hash is summation-order-proof.

Scale posture: the brute-force top-k broadcasts the (small) query set
against the full corpus — a map-only numpy pass, no shuffle of the
corpus; ``cosine_topk_sharded`` is the bit-identical no-broadcast form.
For corpus x corpus at 100 TB, the shard-pair exact layout and the
IVF-cell-blocked variant (``operators/similarity.py``) replace the
cross join with equi-joins on shard/cell ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions.stats import f32
from orca_ztbus_python_processor_spark.sources.parquet import read_table
from orca_ztbus_python_processor_spark.workloads.base import Catalog

CATALOG = Catalog()

TOP_K = 5
QUERY_MOD = 50  # vec_id % QUERY_MOD == 0 defines the query subset


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        F.col("label").cast("long").alias("label"),
    )


def _l2_norm(col: Column) -> Column:
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


# --------------------------------------------------------------------------
# embedding_norms — per-vector L2 norm via aggregate() fold.
# --------------------------------------------------------------------------
@CATALOG.query(
    "embedding_norms",
    oracle="""
    SELECT vec_id,
           CAST(label AS BIGINT) AS label,
           CAST(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS REAL) AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _emb(spark, sf_dir)
    return df.select("vec_id", "label", f32(_l2_norm(F.col("emb"))).alias("l2_norm"))


# --------------------------------------------------------------------------
# label_centroids — mean embedding per label, in long format
# (label, dim, centroid_val) to keep the oracle array-free.
# posexplode -> groupBy is the scalable form: partial aggregation
# map-side, shuffle carries (label, dim) partial sums only.
# --------------------------------------------------------------------------
@CATALOG.query(
    "label_centroids",
    oracle="""
    WITH ex AS (
        SELECT label,
               unnest(CAST(embedding AS DOUBLE[])) AS val,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(i - 1 AS BIGINT) AS dim,
           CAST(avg(val) AS REAL) AS centroid_val,
           count(*) AS n_vectors
    FROM ex
    GROUP BY label, i
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .select("label", F.posexplode("emb").alias("dim", "val"))
        .groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(f32(F.avg("val")).alias("centroid_val"), F.count("*").alias("n_vectors"))
    )


# --------------------------------------------------------------------------
# cosine_topk_bruteforce — exact top-k cosine neighbors for the query
# subset (X3 baseline). Only the query subset is collected/broadcast;
# the corpus streams through one map-only Arrow matmul pass with
# per-chunk top-k, then a tiny global re-rank (operators/similarity.py
# cosine_topk_broadcast). Round 4's crossJoin + interpreted-HOF form
# measured an 81x slope at 10x data; this one is linear in the corpus.
# Ranking is on the float32-cast score with vec_id tie-break so Spark
# and the oracle rank identically.
# --------------------------------------------------------------------------
_TOPK_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
    ), c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings
    ), scored AS (
        SELECT query_id, neighbor_id,
               CAST(list_cosine_similarity(qe, ce) AS REAL) AS score
        FROM q CROSS JOIN c
        WHERE query_id <> neighbor_id
    ), ranked AS (
        SELECT query_id, neighbor_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id, score, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {TOP_K}
    """


@CATALOG.query("cosine_topk_bruteforce", oracle=_TOPK_ORACLE)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.similarity import (
        cosine_topk_broadcast,
    )

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") % QUERY_MOD == 0)
    return cosine_topk_broadcast(emb, q, k=TOP_K)


# --------------------------------------------------------------------------
# cosine_topk_sharded — the SAME exact top-k with no broadcast and no
# driver materialization at all: corpus hash-sharded, query set
# replicated per shard, cogroup matmul per shard, global re-rank
# (operators/similarity.py cosine_topk_sharded). This is the form that
# survives a query set too large to broadcast; the oracle is identical
# to cosine_topk_bruteforce's because the results are bit-identical.
# --------------------------------------------------------------------------
@CATALOG.query("cosine_topk_sharded", oracle=_TOPK_ORACLE)
def cosine_topk_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.similarity import (
        cosine_topk_sharded as _topk_sharded,
    )

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") % QUERY_MOD == 0)
    return _topk_sharded(emb, q, k=TOP_K, n_shards=8)


# --------------------------------------------------------------------------
# embedding_near_dup_exact — exact all-pairs cosine >= threshold
# (SURVEY.md §2.11 X1, embedding-cosine near-dup; the verification
# baseline for the cell-blocked scale path in operators/similarity.py).
# The filter runs on the DOUBLE score before the float32 output cast so
# both engines cut at full precision.
# --------------------------------------------------------------------------
NEAR_DUP_THRESHOLD = 0.3


@CATALOG.query(
    "embedding_near_dup_exact",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_cosine_similarity(a.emb, b.emb) AS REAL) AS score
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) >= {NEAR_DUP_THRESHOLD}
    """,
)
def embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.similarity import (
        cosine_pairs_bruteforce,
    )

    return cosine_pairs_bruteforce(_emb(spark, sf_dir), threshold=NEAR_DUP_THRESHOLD)


# --------------------------------------------------------------------------
# embedding_dup_components — dup-CLUSTER resolution (the step after pair
# generation in any dedup pipeline): connected components over the
# near-dup pair graph, plus canonical selection (keep the smallest id
# per cluster). Spark side: iterative min-label propagation with
# pointer jumping over the edge table (operators/dedup.py
# connected_components); oracle side: DuckDB recursive CTE. Components
# of singletons map to themselves.
#
# Deliberately NOT fused with embedding_dup_components_blocked
# (workloads/pipelineops.py) even though both end in CC over a pair
# graph: this one consumes EXACT shard-pair all-pairs and is the
# oracle-matched ground truth; the blocked twin consumes IVF-cell
# candidates and exists to prove the no-all-pairs 100 TB path
# end-to-end. Sharing the candidate stage would make the exact-vs-
# blocked parity pin (tests/test_pipeline_ops.py) circular — the
# duplicated pair build is the price of a non-degenerate recall
# measurement, not an oversight.
# --------------------------------------------------------------------------
CC_THRESHOLD = 0.4


@CATALOG.query(
    "embedding_dup_components",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.emb, b.emb) >= {CC_THRESHOLD}
    ),
    sym AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM sym) t
        UNION
        SELECT s.u, reach.r FROM sym s JOIN reach ON reach.u = s.v
    ),
    comp AS (SELECT u, min(r) AS component FROM reach GROUP BY u)
    SELECT e.vec_id,
           COALESCE(comp.component, e.vec_id) AS component,
           (COALESCE(comp.component, e.vec_id) = e.vec_id) AS is_canonical
    FROM e LEFT JOIN comp ON e.vec_id = comp.u
    """,
)
def embedding_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.dedup import (
        connected_components,
    )
    from orca_ztbus_python_processor_spark.operators.similarity import (
        cosine_pairs_bruteforce,
    )

    emb = _emb(spark, sf_dir)
    pairs = cosine_pairs_bruteforce(emb, threshold=CC_THRESHOLD)
    comp = connected_components(pairs)
    # comp is the CC output (one row per duped node) — unbounded at
    # scale, so no broadcast hint; AQE broadcasts at runtime if small.
    return emb.select("vec_id").join(
        comp, emb.vec_id == comp.node, "left"
    ).select(
        "vec_id",
        F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
        (F.coalesce(F.col("component"), F.col("vec_id")) == F.col("vec_id")).alias(
            "is_canonical"
        ),
    )


# --------------------------------------------------------------------------
# embedding_quantize_profile — int8 scalar quantization audit: per
# vector, the symmetric scale (127 / max|x|) and the reconstruction
# MSE after round-tripping through the quantized grid. This is the
# compression step a 100 TB ANN index applies before storage (4×
# smaller than float32, distance error bounded by the MSE reported
# here) — map-only higher-order array math, JVM-side, no shuffle.
# Both engines fold the squared-error sum left-to-right over the same
# float64 elements, so the double result is bit-identical before the
# float32 output cast.
# --------------------------------------------------------------------------
@CATALOG.query(
    "embedding_quantize_profile",
    oracle="""
    WITH s AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               len(embedding) AS n_dims,
               list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                              'max') AS max_abs,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT vec_id, label, n_dims,
           CAST(127.0 / max_abs AS REAL) AS scale,
           CAST(list_aggregate(
                    list_transform(v, x -> pow(x - round(x * (127.0 / max_abs))
                                                    / (127.0 / max_abs), 2)),
                    'sum') / n_dims AS REAL) AS quant_mse
    FROM s
    WHERE max_abs > 0
    """,
)
def embedding_quantize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _emb(spark, sf_dir)
    max_abs = F.aggregate(
        F.transform(F.col("emb"), lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    staged = df.select(
        "vec_id",
        "label",
        F.size("emb").cast("long").alias("n_dims"),
        F.col("emb").alias("v"),
        max_abs.alias("max_abs"),
    ).where(F.col("max_abs") > 0)
    scale = F.lit(127.0) / F.col("max_abs")
    sq_err = F.aggregate(
        F.transform(
            F.col("v"), lambda x: F.pow(x - F.round(x * scale) / scale, F.lit(2.0))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return staged.select(
        "vec_id",
        "label",
        "n_dims",
        f32(scale).alias("scale"),
        f32(sq_err / F.col("n_dims")).alias("quant_mse"),
    )


# --------------------------------------------------------------------------
# kmeans_embedding_profile — distributed Lloyd's k-means (operators/
# clustering.py: deterministic lowest-id init, Arrow-vectorized
# assignment, partial-agg center update, k*d driver traffic per
# iteration) over the embedding corpus, profiled per cluster. The
# curation use: cluster sizes drive diversity quotas; centers seed the
# IVF coarse quantizer.
#
# Oracle promotion (round 11, extending the pagerank f32-round trick
# to float iterative ML): the iteration runs quantize_f32=True — every
# squared distance rounds to f32 before its argmin and every updated
# center coordinate rounds to f32 at the round boundary — so the BLAS
# pairwise sums (numpy) and the sequential SQL folds (DuckDB) cannot
# drift apart across rounds. The oracle unrolls the 5 Lloyd rounds as
# chained CTEs: assignment = row_number over (f32 d2, cluster) on a
# k-row cross join (the SAME expanded |x|^2 - 2x.c + |c|^2 clamped-at-0
# form as _dist_matrix — the direct (x-c)^2 fold rounds differently
# and could flip near-tied argmins), update = per-(cluster, dim) avg
# re-assembled with list(... ORDER BY dim) and f32-quantized, empty
# clusters keep their previous center via the LEFT JOIN coalesce.
# Residual risk is a per-round f64 value landing exactly on an f32
# rounding boundary — the same accepted class as every other f32
# boundary in the catalog. Numpy parity of BOTH variants pinned in
# tests/test_clustering.py.
# --------------------------------------------------------------------------
KMEANS_K = 8
KMEANS_ITERS = 5

_KMEANS_ROUND_CTE = """
    , d{i} AS (
        SELECT e.vec_id, e.v, cl.cluster,
               CAST(greatest(list_dot_product(e.v, e.v)
                    - 2 * list_dot_product(e.v, cl.c)
                    + list_dot_product(cl.c, cl.c), 0.0) AS REAL) AS d2
        FROM emb e CROSS JOIN c{prev} cl
    ), a{i} AS (
        SELECT vec_id, v, cluster FROM (
            SELECT vec_id, v, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cluster) AS rn
            FROM d{i}) WHERE rn = 1
    ), c{i} AS (
        SELECT cl.cluster, COALESCE(nc.c, cl.c) AS c
        FROM c{prev} cl LEFT JOIN (
            SELECT cluster, list(m ORDER BY dim) AS c FROM (
                SELECT cluster, dim,
                       CAST(CAST(avg(val) AS REAL) AS DOUBLE) AS m
                FROM (SELECT cluster, unnest(v) AS val,
                             generate_subscripts(v, 1) AS dim FROM a{i})
                GROUP BY cluster, dim)
            GROUP BY cluster) nc ON nc.cluster = cl.cluster
    )
"""


@CATALOG.query(
    "kmeans_embedding_profile",
    oracle="""
    WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS cluster,
               v AS c
        FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 8)
    )
    """
    + "".join(
        _KMEANS_ROUND_CTE.format(i=i, prev=i - 1)
        for i in range(1, KMEANS_ITERS + 1)
    )
    + f"""
    , dfin AS (
        SELECT e.vec_id, cl.cluster,
               CAST(greatest(list_dot_product(e.v, e.v)
                    - 2 * list_dot_product(e.v, cl.c)
                    + list_dot_product(cl.c, cl.c), 0.0) AS REAL) AS d2
        FROM emb e CROSS JOIN c{KMEANS_ITERS} cl
    ), afin AS (
        SELECT vec_id, cluster, d2 FROM (
            SELECT vec_id, cluster, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cluster) AS rn
            FROM dfin) WHERE rn = 1
    )
    SELECT a.cluster,
           count(*) AS size,
           CAST(avg(CAST(a.d2 AS DOUBLE)) AS REAL) AS mean_sq_dist,
           CAST(sqrt(list_dot_product(cl.c, cl.c)) AS REAL) AS center_norm
    FROM afin a JOIN c{KMEANS_ITERS} cl ON cl.cluster = a.cluster
    GROUP BY a.cluster, cl.c
    """,
)
def kmeans_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pin the parsed embeddings for the whole Lloyd trajectory: the
    # operator otherwise re-scans the parquet + re-crosses the Arrow
    # boundary SEVEN times per run (init collect, 5 iteration passes,
    # final assignment). Standard Lloyd practice (MLlib caches its
    # training set); the k-row profile below is eagerly checkpointed so
    # the cache releases before returning (the LPA round-8 discipline).
    emb = _emb(spark, sf_dir).persist()
    try:
        return _kmeans_profile_body(spark, emb)
    finally:
        # ADVICE r12: release the training-set cache even if the Lloyd
        # trajectory (or the eager profile checkpoint) raises.
        emb.unpersist()


def _kmeans_profile_body(spark: SparkSession, emb: DataFrame) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.clustering import (  # noqa: PLC0415
        kmeans_fit,
    )

    assigned, centers = kmeans_fit(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, quantize_f32=True
    )
    center_norm = {
        j: float(sum(x * x for x in c)) ** 0.5 for j, c in enumerate(centers)
    }
    norm_col = F.element_at(
        F.array(*[F.lit(center_norm[j]) for j in range(KMEANS_K)]),
        F.col("cluster") + 1,
    )
    result = (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("size"),
            F.avg("sq_dist").alias("mean_sq_dist"),
        )
        .select(
            "cluster",
            "size",
            f32(F.col("mean_sq_dist")).alias("mean_sq_dist"),
            f32(norm_col).alias("center_norm"),
        )
        .localCheckpoint(eager=True)
    )
    return result


# --------------------------------------------------------------------------
# embedding_dim_variance — per-dimension distribution profile across
# the whole corpus: mean, sample variance, min, max for each of the 64
# dims. The feature-health check behind whitening / dead-dimension
# pruning decisions (a near-zero-variance dim carries no signal; a
# huge-variance dim dominates unnormalized distance). Same scalable
# shape as label_centroids: posexplode widens 64×, then ONE
# map-side-combinable groupBy on dim — the shuffle carries 64 partial
# (sum, sumsq, min, max) tuples per task, nothing else.
# --------------------------------------------------------------------------
@CATALOG.query(
    "embedding_dim_variance",
    oracle="""
    WITH ex AS (
        SELECT unnest(CAST(embedding AS DOUBLE[])) AS val,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    )
    SELECT CAST(i - 1 AS BIGINT) AS dim,
           count(*) AS n_vectors,
           CAST(avg(val) AS REAL) AS dim_mean,
           CAST(var_samp(val) AS REAL) AS dim_var,
           CAST(min(val) AS REAL) AS dim_min,
           CAST(max(val) AS REAL) AS dim_max
    FROM ex
    GROUP BY i
    """,
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .select(F.posexplode("emb").alias("dim", "val_f"))
        .select(F.col("dim").cast("long").alias("dim"), F.col("val_f").cast("double").alias("val"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_vectors"),
            f32(F.avg("val")).alias("dim_mean"),
            f32(F.var_samp("val")).alias("dim_var"),
            f32(F.min("val")).alias("dim_min"),
            f32(F.max("val")).alias("dim_max"),
        )
    )


# --------------------------------------------------------------------------
# pca_top_component — distributed power iteration for the corpus's top
# principal component (operators/pca.py): per-dimension loadings of the
# unit eigenvector plus its eigenvalue and explained-variance share.
# Exactness is pinned against an independent numpy reference with the
# identical contract (init, budget, sign canon) in tests/test_pca.py,
# plus a golden eigen-pair on the seeded fixture.
# Scale: each iteration is ONE distributed matvec pass with
# n_partitions x (d+2) driver scalars — the kmeans/CC bounded-driver
# contract; the d x d covariance is never materialized.
#
# Oracle promotion (round 11, the pagerank/kmeans f32-round trick on
# iterative linear algebra): the iteration runs quantize_f32=True —
# the mean vector, each round's accumulated y = C·v matvec, and each
# round's normalized v round to f32 — and the oracle unrolls the 8
# power-iteration rounds as chained CTEs at (vec_id, dim) grain:
# proj = Σ_dim xc·w per row, y_dim = Σ_rows xc·proj (f32-quantized),
# v = y/|y| (f32-quantized). The all-ones/√d init is exactly 0.125
# per dim at d=64 — representation-identical on both engines with no
# quantization needed. Sign canon replays as ORDER BY (|w| DESC, dim)
# LIMIT 1. Residual risk is the usual accepted f32-boundary class.
# --------------------------------------------------------------------------
PCA_ITERS = 8

# y{i} is referenced twice (norm + normalize) and xc 2x/round: without
# AS MATERIALIZED DuckDB inlines every reference, doubling the plan per
# round — 2^8 copies of the full upstream chain (measured: the
# un-materialized form did not finish in 300 s at sf0.001; the
# materialized one runs in milliseconds).
_PCA_ROUND_CTE = """
    , p{i} AS MATERIALIZED (
        SELECT xc.vec_id, sum(xc.x * v.w) AS proj
        FROM xc JOIN v{prev} v USING (dim) GROUP BY xc.vec_id
    ), y{i} AS MATERIALIZED (
        SELECT xc.dim, CAST(CAST(sum(xc.x * p.proj) AS REAL) AS DOUBLE) AS y
        FROM xc JOIN p{i} p USING (vec_id) GROUP BY xc.dim
    ), nrm{i} AS MATERIALIZED (
        SELECT sqrt(sum(y * y)) AS nrm FROM y{i}
    ), v{i} AS MATERIALIZED (
        SELECT dim, CAST(CAST(y / nrm AS REAL) AS DOUBLE) AS w
        FROM y{i}, nrm{i}
    )
"""


@CATALOG.query(
    "pca_top_component",
    oracle="""
    WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), dims AS (
        SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS dim
        FROM emb
    ), nn AS (
        SELECT count(*) AS n FROM emb
    ), muq AS MATERIALIZED (
        SELECT dim, CAST(CAST(avg(val) AS REAL) AS DOUBLE) AS mu
        FROM dims GROUP BY dim
    ), xc AS MATERIALIZED (
        SELECT d.vec_id, d.dim, d.val - m.mu AS x
        FROM dims d JOIN muq m USING (dim)
    ), v0 AS (
        -- init weight 1/sqrt(d) derived from the DATA's dimension
        -- count, mirroring the Spark operator (ADVICE r11: a literal
        -- 64.0 would diverge loudly-but-obscurely on any d != 64
        -- fixture)
        SELECT dim, 1.0 / sqrt((SELECT CAST(count(*) AS DOUBLE) FROM muq)) AS w
        FROM muq
    )
    """
    + "".join(
        _PCA_ROUND_CTE.format(i=i, prev=i - 1) for i in range(1, PCA_ITERS + 1)
    )
    + f"""
    , pvt AS (
        SELECT w AS pw FROM v{PCA_ITERS} ORDER BY abs(w) DESC, dim LIMIT 1
    ), sgn AS (
        SELECT CASE WHEN pw < 0 THEN -1.0 ELSE 1.0 END AS s FROM pvt
    ), ev AS (
        SELECT nrm / nn.n AS eigenvalue FROM nrm{PCA_ITERS}, nn
    ), tv AS (
        SELECT sum(x * x) / nn.n AS total_var FROM xc, nn GROUP BY nn.n
    )
    SELECT CAST(v.dim - 1 AS INTEGER) AS dim_idx,
           CAST(sgn.s * v.w AS REAL) AS loading,
           CAST(ev.eigenvalue AS REAL) AS eigenvalue,
           CAST(ev.eigenvalue / tv.total_var AS REAL) AS explained_var_share,
           nn.n AS n_vectors
    FROM v{PCA_ITERS} v, sgn, ev, tv, nn
    """,
)
def pca_top_component_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.pca import (  # noqa: PLC0415
        pca_top_component,
    )

    emb = _emb(spark, sf_dir)
    loadings, eigenvalue, total_var, n = pca_top_component(
        emb, vec_col="emb", iters=PCA_ITERS, quantize_f32=True
    )
    share = eigenvalue / total_var if total_var > 0 else 0.0
    rows = [
        (i, float(x), float(eigenvalue), float(share), n)
        for i, x in enumerate(loadings)
    ]
    return spark.createDataFrame(
        rows,
        "dim_idx int, loading double, eigenvalue double,"
        " explained_var_share double, n_vectors long",
    ).select(
        "dim_idx",
        f32(F.col("loading")).alias("loading"),
        f32(F.col("eigenvalue")).alias("eigenvalue"),
        f32(F.col("explained_var_share")).alias("explained_var_share"),
        "n_vectors",
    )


# --------------------------------------------------------------------------
# embedding_cosine_histogram — the pairwise-similarity DISTRIBUTION
# (the corpus-geometry companion to top-k: is the embedding space
# uniform or clustered? what similarity threshold separates signal from
# bulk?). A deterministic query subset (vec_id % 500 == 0) is scored
# against the whole corpus; cosines are bucketed at 0.1 width on the
# FLOAT32-cast score — the same f32 output boundary every similarity
# query uses, which makes the bucket edge decision bit-portable across
# engines (f64 summation-order noise is far below f32 resolution).
# Scale shape (round 7, VERDICT r6 "What's wrong" #2): BOTH sides stay
# distributed end to end — the corpus hashes into HIST_SHARDS shards by
# id and the query subset is replicated to every shard (the
# cosine_topk_sharded cogroup layout); each shard task is one numpy
# matmul emitting ~21 partial bucket cells, so the shuffle never
# carries a pair row and NOTHING is driver-collected (the round-6 form
# collect()ed the query side — |corpus|/500 vectors on the driver).
# Zero-norm embeddings are excluded on both sides (ADVICE r6: a zero
# vector would otherwise produce NaN cosines and an INT64_MIN garbage
# bucket); the share denominator is the bucketed-pair total itself
# (a 21-row localCheckpoint + broadcast join), which matches the
# oracle's SUM() OVER () exactly under any exclusion.
# --------------------------------------------------------------------------
HIST_QUERY_MOD = 500
HIST_SHARDS = 16


def _cosine_bucket_cells(emb: DataFrame) -> DataFrame:
    """Partial bucket counts of the (query-sample x corpus) cosine
    pairs — the distributed pair stage of embedding_cosine_histogram,
    exposed so plan tests can pin the cogroup layout before the tiny
    denominator join."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    B = HIST_SHARDS
    c = emb.select(
        "vec_id",
        "emb",
        F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("shard"),
    )
    q = (
        emb.where(F.col("vec_id") % HIST_QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("emb").alias("qe"),
            F.explode(F.array(*[F.lit(i) for i in range(B)])).alias("shard"),
        )
    )

    def shard_hist(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"bucket": [], "c": []})
        if not len(cpdf) or not len(qpdf):
            return empty
        ids = cpdf["vec_id"].to_numpy(dtype=np.int64)
        X = np.array(cpdf["emb"].tolist(), dtype=np.float64)
        xn = np.linalg.norm(X, axis=1)
        ids, X, xn = ids[xn > 0.0], X[xn > 0.0], xn[xn > 0.0]
        q_ids = qpdf["q_id"].to_numpy(dtype=np.int64)
        Q = np.array(qpdf["qe"].tolist(), dtype=np.float64)
        qn = np.linalg.norm(Q, axis=1)
        q_ids, Q, qn = q_ids[qn > 0.0], Q[qn > 0.0], qn[qn > 0.0]
        if not len(ids) or not len(q_ids):
            return empty
        # f32 output boundary first, then bucket — bit-portable edges
        cos = ((X / xn[:, None]) @ (Q / qn[:, None]).T).astype(np.float32)
        mask = ids[:, None] != q_ids[None, :]  # drop self-pairs
        buckets = np.floor(cos.astype(np.float64) * 10).astype(np.int64)
        b, cts = np.unique(buckets[mask], return_counts=True)
        return pd.DataFrame({"bucket": b, "c": cts})

    return (
        c.groupBy("shard")
        .cogroup(q.groupBy("shard"))
        .applyInPandas(
            lambda cp, qp: shard_hist(cp, qp), schema="bucket long, c long"
        )
    )


@CATALOG.query(
    "embedding_cosine_histogram",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x)) > 0
    ), q AS (SELECT * FROM e WHERE vec_id % {HIST_QUERY_MOD} = 0),
    pairs AS (
        SELECT CAST(floor(CAST(CAST(list_cosine_similarity(q.emb, e.emb)
                                    AS REAL) AS DOUBLE) * 10) AS BIGINT)
                   AS bucket
        FROM q JOIN e ON q.vec_id <> e.vec_id
    )
    SELECT bucket,
           count(*) AS n_pairs,
           CAST(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE) AS REAL)
               AS pair_share
    FROM pairs
    GROUP BY bucket
    """,
)
def embedding_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _cosine_bucket_cells(_emb(spark, sf_dir))
    # ~21 bucket rows: materialize once (localCheckpoint) so the share
    # denominator join does not recompute the matmul lineage.
    agg = (
        cells.groupBy("bucket")
        .agg(F.sum("c").alias("n_pairs"))
        .localCheckpoint()
    )
    total = agg.agg(F.sum("n_pairs").alias("_total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "bucket",
        "n_pairs",
        f32(F.col("n_pairs") / F.col("_total").cast("double")).alias(
            "pair_share"
        ),
    )


# --------------------------------------------------------------------------
# knn_label_accuracy — embedding-quality evaluation by leave-one-out
# 1-NN label agreement: does a vector's nearest OTHER vector share its
# label? The standard "do embeddings encode the labels?" probe run
# before any embedding-based dedup/curation is trusted.
#
# DEFAULT (round 7, VERDICT r6 "What's wrong" #1): the probe runs a
# FIXED-SIZE deterministic query sample (KNN_PROBE_N vectors chosen by
# a Knuth multiplicative hash of vec_id — engine-portable BIGINT
# arithmetic, no RNG) against the FULL candidate corpus through
# cosine_topk_sharded. The sample stays distributed (orderBy+limit is
# a TakeOrderedAndProject, then the kernel replicates it to shards via
# explode — never a driver matrix), and total FLOPs are
# KNN_PROBE_N x |corpus|: LINEAR in the corpus, vs the all-pairs form's
# corpus x corpus (20.2x wall at 10x data, the round-6 suite's only
# quadratic plan). A 1-NN accuracy estimate from a fixed uniform
# sample has variance ~ p(1-p)/KNN_PROBE_N independent of corpus size,
# so the sampled probe IS the production form; the exhaustive form
# below remains as the small-sf oracle-parity twin of the kernel.
# --------------------------------------------------------------------------
KNN_PROBE_N = 256
KNN_HASH_MULT = 2654435761  # Knuth 2^32 multiplicative hash constant
KNN_HASH_MOD = 4294967296


def _loo_nn_best(topk: DataFrame) -> DataFrame:
    """rank-1 OTHER neighbor per query from a k=2 top-k frame (the
    kernel masks self-pairs, so rank 1 is already the nearest other;
    the filter + re-rank is defensive and costs ~2 rows per query)."""
    nn = topk.where(F.col("neighbor_id") != F.col("query_id")).where(
        F.col("rank") <= 2
    )
    return nn.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("query_id").orderBy("rank", "neighbor_id")
        ),
    ).where(F.col("rn") == 1)


def _nn_label_rollup(joined: DataFrame) -> DataFrame:
    match = (F.col("nn_label") == F.col("label")).cast("long")
    return joined.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum(match).alias("n_matching"),
        f32(F.sum(match) / F.count("*").cast("double")).alias("nn_accuracy"),
    )


@CATALOG.query(
    "knn_label_accuracy",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ), q AS (
        SELECT * FROM e
        ORDER BY (vec_id * {KNN_HASH_MULT}) % {KNN_HASH_MOD}, vec_id
        LIMIT {KNN_PROBE_N}
    ), scored AS (
        SELECT a.vec_id, a.label,
               b.label AS nn_label,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY CAST(list_cosine_similarity(a.emb, b.emb)
                                 AS REAL) DESC, b.vec_id
               ) AS rn
        FROM q a JOIN e b ON a.vec_id <> b.vec_id
    )
    SELECT label,
           count(*) AS n_vectors,
           CAST(sum(CASE WHEN nn_label = label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matching,
           CAST(sum(CASE WHEN nn_label = label THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE) AS REAL) AS nn_accuracy
    FROM scored
    WHERE rn = 1
    GROUP BY label
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.similarity import (  # noqa: PLC0415
        cosine_topk_sharded,
    )

    emb = _emb(spark, sf_dir)
    h = F.pmod(F.col("vec_id") * F.lit(KNN_HASH_MULT), F.lit(KNN_HASH_MOD))
    # TakeOrderedAndProject: a fixed KNN_PROBE_N-row frame, no full sort
    queries = emb.orderBy(h.asc(), F.col("vec_id").asc()).limit(KNN_PROBE_N)
    topk = cosine_topk_sharded(emb, queries, k=2, n_shards=16)
    best = _loo_nn_best(topk)
    # both label joins broadcast the PROBE side (<= KNN_PROBE_N rows);
    # the corpus-sized label table streams map-side — nothing
    # corpus-proportional is broadcast or collected.
    q_lab = queries.select(F.col("vec_id").alias("query_id"), "label")
    n_lab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nn_label")
    )
    joined = F.broadcast(best.join(F.broadcast(q_lab), "query_id")).join(
        n_lab, "neighbor_id"
    )
    return _nn_label_rollup(joined)


# --------------------------------------------------------------------------
# knn_label_accuracy_allpairs — the EXHAUSTIVE leave-one-out form
# (every vector queries the corpus): the small-sf oracle-parity twin
# of the sharded kernel, kept for exactness evidence. corpus x corpus
# FLOPs by definition — do NOT run this at scale; the sampled probe
# above is the production default (VERDICT r6 #1).
# --------------------------------------------------------------------------
@CATALOG.query(
    "knn_label_accuracy_allpairs",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ), scored AS (
        SELECT a.vec_id, a.label,
               b.label AS nn_label,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY CAST(list_cosine_similarity(a.emb, b.emb)
                                 AS REAL) DESC, b.vec_id
               ) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    )
    SELECT label,
           count(*) AS n_vectors,
           CAST(sum(CASE WHEN nn_label = label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matching,
           CAST(sum(CASE WHEN nn_label = label THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE) AS REAL) AS nn_accuracy
    FROM scored
    WHERE rn = 1
    GROUP BY label
    """,
)
def knn_label_accuracy_allpairs(
    spark: SparkSession, sf_dir: str, allpairs_corpus_limit: int = 100_000
) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.similarity import (  # noqa: PLC0415
        cosine_topk_sharded,
    )

    emb = _emb(spark, sf_dir)
    # Runtime fence (VERDICT r7 #1): this twin is corpus x corpus FLOPs
    # BY DESIGN — exactness evidence for the sharded kernel, never the
    # scale path. The same threshold-guard duality as
    # ``broadcast_nodes_limit`` (pagerank.py:37, relational.py:1653),
    # except there is no graceful fallback for an exhaustive product:
    # above the bound we refuse outright and point at the sampled
    # default. The count is a parquet count-star (footer metadata).
    n = emb.count()
    if n > allpairs_corpus_limit:
        raise ValueError(
            f"knn_label_accuracy_allpairs is the exhaustive corpus x "
            f"corpus parity twin and refuses to run on {n} vectors "
            f"(> allpairs_corpus_limit={allpairs_corpus_limit}); use "
            f"knn_label_accuracy (fixed {KNN_PROBE_N}-query sampled "
            f"probe, linear in the corpus) at scale, or raise the "
            f"limit explicitly for a deliberate small-cluster run."
        )
    # n_shards trades matmul parallelism against query-set replication
    # (the query side here is the WHOLE corpus): measured at sf1,
    # 8 -> 12.7 s, 16 -> 5.9 s, 32 -> 8.2 s (over-replication wins
    # back nothing once every core has work). Output is shard-count
    # invariant — the re-rank is global.
    topk = cosine_topk_sharded(emb, emb, k=2, n_shards=16)
    best = _loo_nn_best(topk)
    labels = emb.select("vec_id", "label")
    # the query side is the corpus, so the label joins broadcast the
    # (vec_id, label) table — valid while labels stay broadcastable;
    # moot at scale because this twin is small-sf-only by contract.
    joined = best.join(
        labels.select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("label")
        ),
        "query_id",
    ).join(
        F.broadcast(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nn_label"),
            )
        ),
        "neighbor_id",
    )
    return _nn_label_rollup(joined)


# --------------------------------------------------------------------------
# label_separation_matrix — embedding-space class separability audit:
# the cosine similarity between every pair of label centroids. A
# training-data diagnostic (are two labels' embedding clouds
# distinguishable at all?) that complements label_centroids (the
# centroids themselves) and knn_label_accuracy (the instance-level
# probe). The row-volume stage is ONE posexplode + (label, dim)
# aggregation — map-side combinable, label*dim grain output (|labels| x
# 64 here); the pair matrix is a dim-keyed self-join of that bounded
# table, so nothing after the first exchange scales with the corpus.
# f32 only at the final cosine division.
# --------------------------------------------------------------------------
@CATALOG.query(
    "label_separation_matrix",
    oracle="""
    WITH e AS (
        SELECT label, i AS dim, embedding[i] AS v
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS t(i)
    ), cent AS (
        SELECT label, dim, avg(v) AS c FROM e GROUP BY label, dim
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(sum(a.c * b.c)
                / (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))) AS REAL)
               AS centroid_cosine
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
    """,
)
def label_separation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cent = (
        _emb(spark, sf_dir)
        .select("label", F.posexplode("emb").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg("v").alias("c"))
        .localCheckpoint(eager=False)  # label*dim grain; both join sides
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    pairs = a.join(b, "dim").where(F.col("label_a") < F.col("label_b"))
    return pairs.groupBy("label_a", "label_b").agg(
        f32(
            F.sum(F.col("ca") * F.col("cb"))
            / (
                F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
            )
        ).alias("centroid_cosine")
    )


# --------------------------------------------------------------------------
# embedding_outlier_mahalanobis — embedding-space outlier audit under a
# DIAGONAL-covariance Mahalanobis distance: dist(x) = sum_d
# (x_d - mean_d)^2 / var_d, the standard cheap whitening (the full
# covariance would need a 64x64 solve; the diagonal form is the usual
# corpus-hygiene screen for broken/degenerate embeddings). Per-label
# output: vector counts, mean/max distance, and the count beyond the
# chi-square(64) p~0.006 cut (dist > 96) — dist is ~chi2(64) when the
# dims are independent normals, so the fixed cut is scale-free.
#
# Scale shape: ONE posexplode to (vec, dim) grain, a 64-row dim-stats
# aggregate (map-side combinable) that BROADCASTS back onto the
# exploded rows, then two key-grain rollups (vec, then label). Nothing
# but the explode scales with the corpus; both engines compute mean
# and population variance from the same avg/avg-of-squares co-moments
# so the join keys and sums agree bit-for-bit up to f32 rounding.
# --------------------------------------------------------------------------
MAHAL_OUTLIER_CUT = 96.0


@CATALOG.query(
    "embedding_outlier_mahalanobis",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label, i AS dim,
               CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS t(i)
    ), stats AS (
        SELECT dim, avg(v) AS m, avg(v * v) - avg(v) * avg(v) AS var
        FROM e GROUP BY dim
    ), dists AS (
        SELECT e.vec_id, e.label,
               sum((e.v - s.m) * (e.v - s.m) / s.var) AS dist
        FROM e JOIN stats s ON e.dim = s.dim
        WHERE s.var > 0
        GROUP BY e.vec_id, e.label
    )
    SELECT label,
           count(*) AS n_vectors,
           CAST(sum(CASE WHEN dist > {MAHAL_OUTLIER_CUT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(avg(dist) AS REAL) AS mean_dist,
           CAST(max(dist) AS REAL) AS max_dist
    FROM dists
    GROUP BY label
    """,
)
def embedding_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", F.posexplode("emb").alias("dim0", "v")
    )
    stats = (
        e.groupBy("dim0")
        .agg(F.avg("v").alias("m"), (F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v")).alias("var"))
        .where(F.col("var") > 0)
    )
    dists = (
        e.join(F.broadcast(stats), "dim0")
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (F.col("v") - F.col("m")) * (F.col("v") - F.col("m"))
                / F.col("var")
            ).alias("dist")
        )
    )
    return dists.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum((F.col("dist") > MAHAL_OUTLIER_CUT).cast("long")).alias(
            "n_outliers"
        ),
        f32(F.avg("dist")).alias("mean_dist"),
        f32(F.max("dist")).alias("max_dist"),
    )


# --------------------------------------------------------------------------
# semantic_decontam_embedding — SEMANTIC train/test contamination sweep,
# the embedding-space companion to benchmark_decontam_13gram (which
# catches verbatim/lexical inclusion only; paraphrased eval items slip
# through a 13-gram filter but cluster tightly in embedding space). The
# held-out "benchmark suite" is the SAME deterministic slice as the
# lexical sweep (vec_id % 97 == 0) so the two detectors audit the same
# split; every remaining (train) vector is scored by its MAX cosine
# against the benchmark set, then rolled up per source with flag counts
# at a proximity threshold and a strong-match threshold (0.35 / 0.5 —
# calibrated to this fixture's geometry, where the planted near-dup
# relation sits at >= 0.3, vectors.py NEAR_DUP_THRESHOLD).
#
# Scale shape: the TRAIN side (the 100 TB side) is hash-sharded by
# vec_id and STAYS PUT; the benchmark set (eval suites are MBs against
# TBs) is replicated to every shard via explode — the same cogroup
# layout as _cosine_bucket_cells but with the roles flipped, because
# here the big side is the probe side. Each shard task is ONE numpy
# matmul emitting one (vec_id, max_cos) row per train vector — FLOPs
# are |train| x |bench| (linear in the corpus), the shuffle never
# carries a pair row, and nothing is driver-collected. Per-pair cosines
# are cast to f32 BEFORE the max (bit-portable across engines: f64
# summation-order noise is far below f32 resolution), matching the
# oracle's CAST(... AS REAL) then MAX exactly. Zero-norm vectors are
# excluded on both sides (a zero vector has no direction — same
# contract as embedding_cosine_histogram).
# --------------------------------------------------------------------------
SEM_DECONTAM_MOD = 97  # mirror benchmark_decontam_13gram's held-out slice
SEM_DECONTAM_TAU = 0.35
SEM_DECONTAM_TAU_STRONG = 0.5
SEM_DECONTAM_SHARDS = 16
# ADVICE r8 fence: the benchmark slice is 1/97 of the corpus, so the
# per-shard replica grows with the corpus. Every shard task holds the
# WHOLE bench matrix (n_bench x dim f64 = n_bench*dim*8 bytes; 500k x
# 128-dim ~= 512 MB), and n_shards only divides the TRAIN side, so a
# bigger shard count cannot relieve it. Above this count the operator
# refuses (the knn_label_accuracy_allpairs pattern) and points at
# cosine_topk_sharded's shard-PAIR grid, which shards both sides.
SEM_DECONTAM_BENCH_LIMIT = 500_000


def _semantic_max_cos(
    emb: DataFrame, n_shards: int = SEM_DECONTAM_SHARDS
) -> DataFrame:
    """(vec_id, max_cos) of every train vector vs the benchmark slice —
    train sharded by id, benchmark replicated to every shard.

    ``n_shards`` bounds per-task memory (each cogroup task holds
    1/n_shards of the corpus as one pandas frame) and caps the stage's
    parallelism — grow it with the corpus exactly as
    ``cosine_topk_sharded`` documents for its own shard knob."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    B = n_shards
    n_bench = emb.where(F.col("vec_id") % SEM_DECONTAM_MOD == 0).count()
    if n_bench > SEM_DECONTAM_BENCH_LIMIT:
        raise ValueError(
            f"semantic decontam benchmark slice has {n_bench} vectors, "
            f"over the {SEM_DECONTAM_BENCH_LIMIT} per-task replica fence "
            "(each cogroup task materializes the full bench matrix; "
            "n_shards divides only the train side). Cap the benchmark "
            "set, or use cosine_topk_sharded's shard-pair grid which "
            "shards both sides."
        )
    train = emb.where(F.col("vec_id") % SEM_DECONTAM_MOD != 0).select(
        "vec_id",
        "emb",
        F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("shard"),
    )
    bench = (
        emb.where(F.col("vec_id") % SEM_DECONTAM_MOD == 0)
        .select(
            F.col("emb").alias("be"),
            F.explode(F.array(*[F.lit(i) for i in range(B)])).alias("shard"),
        )
    )

    def shard_max(tpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": [], "max_cos": []})
        if not len(tpdf) or not len(bpdf):
            return empty
        ids = tpdf["vec_id"].to_numpy(dtype=np.int64)
        X = np.array(tpdf["emb"].tolist(), dtype=np.float64)
        xn = np.linalg.norm(X, axis=1)
        ids, X, xn = ids[xn > 0.0], X[xn > 0.0], xn[xn > 0.0]
        Q = np.array(bpdf["be"].tolist(), dtype=np.float64)
        qn = np.linalg.norm(Q, axis=1)
        Q, qn = Q[qn > 0.0], qn[qn > 0.0]
        if not len(ids) or not len(Q):
            return empty
        # f32 per-pair boundary FIRST, max second — engine-portable
        cos = ((X / xn[:, None]) @ (Q / qn[:, None]).T).astype(np.float32)
        return pd.DataFrame({"vec_id": ids, "max_cos": cos.max(axis=1)})

    return (
        train.groupBy("shard")
        .cogroup(bench.groupBy("shard"))
        .applyInPandas(
            lambda tp, bp: shard_max(tp, bp),
            schema="vec_id long, max_cos float",
        )
    )


@CATALOG.query(
    "semantic_decontam_embedding",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x)) > 0
    ), bench AS (
        SELECT * FROM e WHERE vec_id % {SEM_DECONTAM_MOD} = 0
    ), train AS (
        SELECT * FROM e WHERE vec_id % {SEM_DECONTAM_MOD} <> 0
    ), scored AS (
        SELECT train.vec_id,
               max(CAST(list_cosine_similarity(train.emb, bench.emb)
                        AS REAL)) AS max_cos
        FROM train JOIN bench ON true
        GROUP BY train.vec_id
    )
    SELECT d.source,
           count(*) AS n_train_vecs,
           CAST(sum(CASE WHEN s.max_cos >= {SEM_DECONTAM_TAU}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN s.max_cos >= {SEM_DECONTAM_TAU_STRONG}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_strong,
           CAST(avg(s.max_cos) AS REAL) AS mean_max_cos,
           CAST(max(s.max_cos) AS REAL) AS peak_cos
    FROM scored s JOIN documents d ON s.vec_id = d.doc_id
    GROUP BY d.source
    """,
)
def semantic_decontam_embedding(
    spark: SparkSession, sf_dir: str, n_shards: int = SEM_DECONTAM_SHARDS
) -> DataFrame:
    scored = _semantic_max_cos(_emb(spark, sf_dir), n_shards=n_shards)
    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    return (
        scored.join(docs, "vec_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_train_vecs"),
            F.sum(
                (F.col("max_cos") >= SEM_DECONTAM_TAU).cast("long")
            ).alias("n_flagged"),
            F.sum(
                (F.col("max_cos") >= SEM_DECONTAM_TAU_STRONG).cast("long")
            ).alias("n_flagged_strong"),
            f32(F.avg("max_cos")).alias("mean_max_cos"),
            f32(F.max("max_cos")).alias("peak_cos"),
        )
    )


# --------------------------------------------------------------------------
# embedding_batch_centroid_drift — encoder/distribution drift monitor
# across INGESTION BATCHES: the corpus is cut into 16 contiguous
# vec_id ranges (a stand-in for arrival order / encoder versions), and
# each batch's centroid is compared to the global centroid by cosine.
# A batch whose centroid swings away from global is the standard
# symptom of an encoder upgrade mid-ingest, a source mix shift, or a
# normalization bug — caught at batch grain BEFORE the vectors feed
# dedup/ANN (whose geometry assumptions silently break under drift).
# Companion per-batch mean L2 norm catches scale (not just direction)
# drift.
#
# Scale shape: ONE posexplode scan -> map-combinable partial sums at
# (batch, dim) grain — the shuffle carries 16 x dim cells regardless of
# corpus size; the global centroid derives from the SAME cells (a
# second tiny agg, no rescan), and the cosine join is 16 x dim rows.
# The batch id is engine-portable integer arithmetic
# (floor(16 * vec_id / (max_id + 1)) — exact in doubles far beyond any
# realistic id), with the max-id scalar carried by the distributed-
# scalar broadcast pattern, never collect()ed.
# --------------------------------------------------------------------------
CENTROID_DRIFT_BATCHES = 16


@CATALOG.query(
    "embedding_batch_centroid_drift",
    oracle=f"""
    WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
    eb AS (
        SELECT vec_id,
               CAST(floor({CENTROID_DRIFT_BATCHES} * vec_id / (mx.m + 1.0))
                    AS BIGINT) AS batch,
               CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings, mx
    ), cells AS (
        SELECT batch, i AS dim, sum(emb[i]) AS s, count(*) AS n
        FROM eb, unnest(generate_series(1, len(emb))) AS t(i)
        GROUP BY batch, i
    ), g AS (
        SELECT dim, sum(s) / sum(n) AS gx FROM cells GROUP BY dim
    ), b AS (
        SELECT batch, dim, s / n AS bx FROM cells
    ), cos AS (
        SELECT b.batch,
               sum(b.bx * g.gx)
                   / (sqrt(sum(b.bx * b.bx)) * sqrt(sum(g.gx * g.gx)))
                   AS c
        FROM b JOIN g ON b.dim = g.dim
        GROUP BY b.batch
    ), norms AS (
        SELECT batch, count(*) AS n_vecs,
               avg(sqrt(list_sum(list_transform(emb, x -> x * x))))
                   AS mean_l2
        FROM eb GROUP BY batch
    )
    SELECT norms.batch, norms.n_vecs,
           CAST(cos.c AS REAL) AS cos_to_global,
           CAST(norms.mean_l2 AS REAL) AS mean_l2_norm
    FROM norms JOIN cos ON norms.batch = cos.batch
    """,
)
def embedding_batch_centroid_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _emb(spark, sf_dir)
    mx = emb.agg(F.max("vec_id").alias("_m"))
    eb = emb.crossJoin(F.broadcast(mx)).select(
        "vec_id",
        "emb",
        F.floor(
            F.lit(CENTROID_DRIFT_BATCHES)
            * F.col("vec_id")
            / (F.col("_m") + F.lit(1.0))
        ).alias("batch"),
    )
    cells = (
        eb.select("batch", F.posexplode("emb").alias("dim", "v"))
        .groupBy("batch", "dim")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        # pinned: feeds both the global-centroid rollup and the
        # per-batch projection — one explode pass instead of two
        .localCheckpoint(eager=False)
    )
    g = cells.groupBy("dim").agg(
        (F.sum("s") / F.sum("n")).alias("gx")
    )
    b = cells.select("batch", "dim", (F.col("s") / F.col("n")).alias("bx"))
    cos = (
        b.join(F.broadcast(g), "dim")
        .groupBy("batch")
        .agg(
            (
                F.sum(F.col("bx") * F.col("gx"))
                / (
                    F.sqrt(F.sum(F.col("bx") * F.col("bx")))
                    * F.sqrt(F.sum(F.col("gx") * F.col("gx")))
                )
            ).alias("c")
        )
    )
    norms = eb.groupBy("batch").agg(
        F.count("*").alias("n_vecs"),
        F.avg(_l2_norm(F.col("emb"))).alias("mean_l2"),
    )
    return norms.join(cos, "batch").select(
        "batch",
        "n_vecs",
        f32(F.col("c")).alias("cos_to_global"),
        f32(F.col("mean_l2")).alias("mean_l2_norm"),
    )


# --------------------------------------------------------------------------
# embedding_effective_rank — DIMENSION-COLLAPSE diagnostic: the
# participation ratio PR = trace(C)^2 / ||C||_F^2 of the (centered)
# covariance needs NO eigendecomposition — trace(C) = sum of
# eigenvalues and ||C||_F^2 = sum of squared eigenvalues are both
# direct covariance functionals — yet PR is exactly the "effective
# number of dimensions in use" (d if isotropic, ~1 if collapsed to a
# line). The standard embedding-health probe from the SSL-collapse
# literature, per label plus the pooled corpus (label -1): a healthy
# encoder holds PR well above 1 within every class.
#
# Scale shape: ONE Arrow-batched pass emits per-partition per-label
# partial second-moment cells (label, i, j, s2) — d^2 rows per
# partition regardless of corpus size (the map-side-combine argument
# applied to a matrix aggregate); diagonal cells carry the first-
# moment partials and row counts in the same emission. The pooled
# covariance is assembled FROM the label cells (moments are additive)
# — no second scan; all downstream joins are d^2-row frames. The
# centering algebra (C = S2/n - mu mu^T) runs in f64 on both engines
# with f32 output casts.
#
# PRECONDITION (enforced executor-side): labels must be non-negative —
# the pooled grain rides the label = -1 sentinel, and a real -1 label
# would silently merge with it, fanning the sentinel joins out and
# corrupting BOTH grains. The Arrow pass raises on the first negative
# label rather than return wrong statistics.
# --------------------------------------------------------------------------
@CATALOG.query(
    "embedding_effective_rank",
    oracle="""
    WITH e AS (
        SELECT CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ), both_grains AS (
        SELECT label, emb FROM e
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS label, emb FROM e
    ), cells AS (
        SELECT label, i, j,
               sum(emb[i] * emb[j]) AS s2,
               sum(emb[i]) AS s1_i,
               sum(emb[j]) AS s1_j,
               count(*) AS n
        FROM both_grains,
             unnest(generate_series(1, len(emb))) AS ti(i),
             unnest(generate_series(1, len(emb))) AS tj(j)
        GROUP BY label, i, j
    ), cov AS (
        SELECT label, i, j, n,
               s2 / n - (s1_i / n) * (s1_j / n) AS c
        FROM cells
    )
    SELECT label,
           CAST(max(n) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN i = j THEN c ELSE 0 END) AS REAL) AS trace,
           CAST(pow(sum(CASE WHEN i = j THEN c ELSE 0 END), 2)
                / sum(c * c) AS REAL) AS participation_ratio
    FROM cov
    GROUP BY label
    """,
)
def embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    emb = _emb(spark, sf_dir).select("label", "emb")

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            if (pdf["label"] < 0).any():
                raise ValueError(
                    "embedding_effective_rank requires non-negative labels:"
                    " label -1 is reserved for the pooled grain"
                )
            out = []
            for label, grp in pdf.groupby("label"):
                X = np.array(grp["emb"].tolist(), dtype=np.float64)
                n, d = X.shape
                S2 = X.T @ X
                S1 = X.sum(axis=0)
                ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
                out.append(
                    pd.DataFrame(
                        {
                            "label": np.int64(label),
                            "i": ii.ravel().astype(np.int32),
                            "j": jj.ravel().astype(np.int32),
                            "s2": S2.ravel(),
                            # first moments ride the diagonal cells
                            "s1": np.where(ii.ravel() == jj.ravel(),
                                           S1[ii.ravel()], 0.0),
                            "n": np.where(
                                (ii.ravel() == 0) & (jj.ravel() == 0), n, 0
                            ).astype(np.int64),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partials = emb.mapInPandas(
        gram_partials,
        schema="label long, i int, j int, s2 double, s1 double, n long",
    )
    label_cells = partials.groupBy("label", "i", "j").agg(
        F.sum("s2").alias("s2"), F.sum("s1").alias("s1"), F.sum("n").alias("n")
        # pinned: the |labels| x d^2 cell frame feeds FOUR downstream
        # branches (cells, pooled, n_of, both mean slices); without the
        # pin each branch re-ran the Arrow gram pass over the corpus —
        # 8 ArrowEval nodes at the round-12 census, one now
    ).localCheckpoint(eager=False)
    # pooled grain from the label cells — moments are additive
    pooled = label_cells.groupBy("i", "j").agg(
        F.sum("s2").alias("s2"), F.sum("s1").alias("s1"), F.sum("n").alias("n")
    ).select(F.lit(-1).cast("long").alias("label"), "i", "j", "s2", "s1", "n")
    cells = label_cells.unionByName(pooled)
    # per-label count + per-dim means: n rides the (0,0) cell, means the diag
    n_of = cells.where((F.col("i") == 0) & (F.col("j") == 0)).select(
        "label", F.col("n").alias("n_rows")
    )
    means = cells.where(F.col("i") == F.col("j")).select(
        "label", F.col("i").alias("d"), F.col("s1").alias("s1d")
    )
    c = (
        cells.join(F.broadcast(n_of), "label")
        .join(
            F.broadcast(means.select("label", F.col("d").alias("i"),
                                     F.col("s1d").alias("s1_i"))),
            ["label", "i"],
        )
        .join(
            F.broadcast(means.select("label", F.col("d").alias("j"),
                                     F.col("s1d").alias("s1_j"))),
            ["label", "j"],
        )
        .select(
            "label",
            "i",
            "j",
            F.col("n_rows"),
            (
                F.col("s2") / F.col("n_rows")
                - (F.col("s1_i") / F.col("n_rows"))
                * (F.col("s1_j") / F.col("n_rows"))
            ).alias("c"),
        )
    )
    tr = F.sum(F.when(F.col("i") == F.col("j"), F.col("c")).otherwise(F.lit(0.0)))
    return c.groupBy("label").agg(
        F.max("n_rows").alias("n_vectors"),
        f32(tr).alias("trace"),
        f32(F.pow(tr, F.lit(2.0)) / F.sum(F.col("c") * F.col("c"))).alias(
            "participation_ratio"
        ),
    )


# --------------------------------------------------------------------------
# jl_projection_distortion — Johnson-Lindenstrauss random-projection
# audit: project every 64-dim embedding to 16 dims with a FIXED
# md5-derived Rademacher (+-1) sign matrix (Achlioptas construction)
# and emit, per vector, the original L2 norm and the squared-norm
# distortion ratio ||Rx||^2 / (k * ||x||^2) — the quantity JL bounds
# promise concentrates near 1. The dimension-reduction design audit
# the embedding family lacks (PCA = data-dependent axes; this is the
# data-OBLIVIOUS projection a 100 TB pipeline uses when covariance is
# too expensive): read the ratio spread, pick the target dimension.
#
# Replay contract: the sign matrix is generated at import from
# md5("i:j") parity (hashlib) and EMBEDDED AS LITERALS in both the
# Spark expression and the oracle SQL — both engines fold the same
# +-1 literals against the same doubles; dot products differ at most
# in summation-order ulps, absorbed at the f32 output boundary. The
# d = 64 source dimension is part of the query contract (as with
# pca_top_component's fixture contract).
#
# Scale shape: entirely ROW-LOCAL — the projection is a per-row fold
# against a broadcast-free literal matrix inside whole-stage codegen;
# no explode, no join, no shuffle. Output is vector-grain, like
# embedding_norms.
# --------------------------------------------------------------------------
JL_TARGET_DIM = 16
JL_SOURCE_DIM = 64


def _jl_sign(i: int, j: int) -> int:
    import hashlib  # noqa: PLC0415

    h = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


_JL_SIGNS = tuple(
    tuple(_jl_sign(i, j) for j in range(JL_SOURCE_DIM))
    for i in range(JL_TARGET_DIM)
)
_JL_SIGNS_SPARK = (
    "array("
    + ", ".join(
        "array(" + ", ".join(f"{s}.0D" for s in row) + ")"
        for row in _JL_SIGNS
    )
    + ")"
)
_JL_SIGNS_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join(f"{s}.0" for s in row) + "]" for row in _JL_SIGNS
    )
    + "]"
)


@CATALOG.query(
    "jl_projection_distortion",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ), proj AS (
        SELECT vec_id, label,
               list_dot_product(emb, emb) AS norm2,
               list_sum(list_transform({_JL_SIGNS_SQL},
                   r -> power(list_dot_product(emb, r), 2))) AS pnorm2
        FROM base
    )
    SELECT vec_id, label,
           CAST(sqrt(norm2) AS REAL) AS l2_norm,
           CAST(CASE WHEN norm2 > 0
                THEN (pnorm2 / {JL_TARGET_DIM}.0) / norm2 END AS REAL)
               AS distortion_ratio
    FROM proj
    """,
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _emb(spark, sf_dir)
    norm2 = F.aggregate(
        F.col("emb"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    pnorm2 = F.aggregate(
        F.expr(
            f"transform({_JL_SIGNS_SPARK},"
            " r -> aggregate(zip_with(emb, r, (x, s) -> x * s),"
            " cast(0.0 as double), (a, x) -> a + x))"
        ),
        F.lit(0.0),
        lambda acc, p: acc + p * p,
    )
    return df.select(
        "vec_id",
        "label",
        f32(F.sqrt(norm2)).alias("l2_norm"),
        f32(
            F.when(norm2 > 0, (pnorm2 / JL_TARGET_DIM) / norm2)
        ).alias("distortion_ratio"),
    )
