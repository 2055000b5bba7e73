"""Approximate nearest-neighbor search over embeddings
(SURVEY.md §2.11 X3, the scale path beside the brute-force baseline in
``workloads/vectors.py``).

Design: IVF (inverted-file) coarse quantization — the standard ANN
layout for cosine search at scale:

  1. train ``nlist`` spherical k-means centroids on a driver-side
     SAMPLE (seeded, deterministic — at 100 TB you train the coarse
     quantizer on a sample regardless of engine);
  2. assign every corpus vector to its nearest centroid (JVM-side:
     centroid matrix enters the plan as array literals; argmax via
     max of (dot, idx) structs) — a map-only pass;
  3. each query probes its ``nprobe`` nearest cells; candidates are
     the union of those inverted lists (equi-join on cell id — the
     brute-force cross join disappears);
  4. exact-cosine re-rank of candidates, top-k.

Recall/cost is tuned by nlist/nprobe. Sign-random-projection LSH was
evaluated and rejected for this corpus: with near-uniform vectors
(top-5 neighbor cosine ~0.32 ⇒ ~71°), the per-bit collision
probability is ~0.6, so any bucket count that prunes meaningfully
also destroys recall — a property of the data, not the
implementation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.operators.dedup import _spread


def train_centroids(
    emb_df: DataFrame,
    emb_col: str = "emb",
    nlist: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    quantize_f32: bool = False,
) -> list[list[float]]:
    """Spherical k-means on a deterministic sample (driver-side numpy).

    The sample bound keeps driver memory flat regardless of corpus
    size; the quantizer quality depends on the sample, not the corpus.
    The sample is the ``sample_size`` smallest ids (TakeOrdered — one
    scan, no full sort), NOT a bare limit(): limit() keeps whichever
    partitions answer first, so centroids — and every downstream ANN
    result — would vary with file layout and cluster timing.

    ``quantize_f32`` (round 11, the kmeans/pca promotion trick) makes
    the training SQL-replayable: init becomes the first ``nlist``
    sample rows (no numpy RNG — ``seed`` is ignored), the normalized
    sample and every updated centroid round to f32, and assignment
    dots round to f32 before their argmax, so cross-engine
    summation-order ulp drift is absorbed at every step.
    """
    sample = np.array(
        [
            r[0]
            for r in emb_df.select(emb_col, id_col)
            .orderBy(id_col)
            .limit(sample_size)
            .collect()
        ],
        dtype=np.float64,
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    if quantize_f32:
        sample = sample.astype(np.float32).astype(np.float64)
        centroids = sample[:nlist].copy()
    else:
        rng = np.random.default_rng(seed)
        centroids = sample[rng.choice(len(sample), size=nlist, replace=False)]
    for _ in range(iters):
        dots = sample @ centroids.T
        if quantize_f32:
            dots = dots.astype(np.float32)
        assign = np.argmax(dots, axis=1)
        for j in range(nlist):
            members = sample[assign == j]
            if len(members):
                c = members.sum(axis=0)
                c = c / np.maximum(np.linalg.norm(c), 1e-12)
                if quantize_f32:
                    c = c.astype(np.float32).astype(np.float64)
                centroids[j] = c
    return centroids.tolist()


def _cells_pandas(
    df: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    id_out: str,
    id_col: str,
    emb_col: str,
    quantize_f32: bool = False,
) -> DataFrame:
    """(id, emb, cell) rows: each vector under its nprobe nearest cells,
    assigned by one numpy matmul per Arrow batch (the HOF-expression
    form pays interpreted-lambda cost per centroid per row).

    ``quantize_f32`` rounds the assignment dots to f32 before the
    (stable) argsort — cell membership has a hard cliff per vector, so
    the oracle replay needs a representation-stable ordering key
    (ties break to the lowest cell on both engines)."""
    import numpy as np
    import pandas as pd

    c = np.asarray(centroids, dtype=np.float64)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf[emb_col].tolist(), dtype=np.float64)
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
            dots = mn @ c.T
            if quantize_f32:
                dots = dots.astype(np.float32)
            # nprobe nearest cells per vector, nearest first
            order = np.argsort(-dots, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    id_out: np.repeat(pdf[id_col].to_numpy(), nprobe),
                    emb_col: [e for e in pdf[emb_col] for _ in range(nprobe)],
                    "cell": order.reshape(-1),
                }
            )

    return _spread(df.select(id_col, emb_col)).mapInPandas(
        gen, schema=f"{id_out} long, {emb_col} array<double>, cell int"
    )


def ann_cosine_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    emb_col: str = "emb",
    centroids: list[list[float]] | None = None,
    quantize_f32: bool = False,
) -> DataFrame:
    """IVF approximate top-k cosine neighbors.

    corpus: assigned to its single nearest cell; queries: probe their
    ``nprobe`` nearest cells; candidates = COGROUP on cell (one numpy
    matmul per inverted list against the queries probing it — the
    row-level corpus x query join this replaces shuffled ~nprobe/nlist
    of all (vector, query) pairs as wide rows); per-cell top-k under
    the final (score desc, id) order, then a tiny global re-rank over
    <= nprobe*k candidates per query. A corpus vector lives in exactly
    one cell, so no dedup pass is needed and the result is identical
    to the per-query-gather form.

    Output: ``query_id, neighbor_id, score (float32), rank``.
    """
    import numpy as np
    import pandas as pd

    if centroids is None:
        centroids = train_centroids(
            emb_df, emb_col, nlist=nlist, seed=seed, id_col=id_col,
            quantize_f32=quantize_f32,
        )

    corpus = _cells_pandas(
        emb_df, centroids, 1, "neighbor_id", id_col, emb_col,
        quantize_f32=quantize_f32,
    )
    q = _cells_pandas(
        queries_df, centroids, nprobe, "query_id", id_col, emb_col,
        quantize_f32=quantize_f32,
    )
    q = q.withColumnRenamed(emb_col, "qe")

    def cell_topk(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cpdf) or not len(qpdf):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        ids = cpdf["neighbor_id"].to_numpy()
        m = np.array(cpdf[emb_col].tolist(), dtype=np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
        qids = qpdf["query_id"].to_numpy()
        qm = np.array(qpdf["qe"].tolist(), dtype=np.float64)
        qm = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
        s32 = (m @ qm.T).astype(np.float32)
        return _batch_topk_frame(ids, s32, qids, k)

    cand = (
        corpus.groupBy("cell")
        .cogroup(q.groupBy("cell"))
        .applyInPandas(cell_topk, schema=_TOPK_CAND_SCHEMA)
    )
    return _rank_topk(cand, k)


_PAIR_SCHEMA = "id_a long, id_b long, score float"
_TOPK_CAND_SCHEMA = "query_id long, neighbor_id long, score float"


def cosine_pairs_bruteforce(
    emb_df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "emb",
    n_shards: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold, shard-pair parallel.

    Per-pair higher-order-function lambdas are interpreted (not
    codegen'd) in Spark, so an n^2 cross join through zip_with/aggregate
    pays ~100x over vectorized math. The vectorized layout here hashes
    the corpus into ``n_shards`` shards by id; every unordered shard
    pair (i, j), i <= j, becomes one task that matmuls shard i against
    shard j with numpy. Each row is shuffled ``n_shards`` times (one
    copy per shard pair it participates in) and every pair of vectors
    lands in exactly one task, so no dedup pass is needed.

    Scale: no driver materialization and no broadcast anywhere — the
    memory bound is ONE SHARD per task (grow ``n_shards`` with the
    corpus; replication grows linearly while per-task FLOPs fall
    quadratically). This replaces the round-4 form that ``toPandas()``'d
    the whole corpus onto the driver (VERDICT r4 "What's wrong" #1).
    ``embedding_near_dup_pairs`` (IVF-cell-blocked) remains the
    sub-quadratic path when approximate recall is acceptable.

    Output: ``id_a, id_b, score`` (float32), id_a < id_b.
    """
    import numpy as np
    import pandas as pd

    B = int(n_shards)
    shard = F.pmod(F.col(id_col), F.lit(B))
    # One group key per unordered shard pair: a row in shard s joins
    # groups key(min(s,t), max(s,t)) for every t — B keys per row.
    keys = F.array(
        *[
            (F.least(shard, F.lit(t)) * B + F.greatest(shard, F.lit(t))).cast("int")
            for t in range(B)
        ]
    )
    tagged = emb_df.select(
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("_e"),
        F.explode(keys).alias("gkey"),
    )

    def shard_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = divmod(int(key[0]), B)
        ids = pdf["id_a"].to_numpy()
        m = np.array(pdf["_e"].tolist(), dtype=np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
        if i == j:
            s = m @ m.T
            ai, bj = np.nonzero(s >= threshold)
            id_a, id_b = ids[ai], ids[bj]
            keep = id_a < id_b
            score = s[ai, bj][keep]
            id_a, id_b = id_a[keep], id_b[keep]
        else:
            side_i = (ids % B) == i
            mi, mj = m[side_i], m[~side_i]
            idi, idj = ids[side_i], ids[~side_i]
            s = mi @ mj.T
            ai, bj = np.nonzero(s >= threshold)
            a, b = idi[ai], idj[bj]
            score = s[ai, bj]
            id_a, id_b = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"id_a": id_a, "id_b": id_b, "score": score.astype(np.float32)}
        )

    return tagged.groupBy("gkey").applyInPandas(shard_pair, schema=_PAIR_SCHEMA)


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Global re-rank of per-partial top-k candidates: the final window
    sees at most partials*k rows per query, so this shuffle is tiny."""
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def _batch_topk_frame(ids, score32, qids, k):
    """Per-query top-k rows of a (corpus_chunk x queries) float32 score
    matrix under the final (score desc, neighbor_id asc) total order —
    top-k of a union equals top-k over per-chunk top-k, so selecting
    under the SAME order here is exactly lossless."""
    import numpy as np
    import pandas as pd

    pos_of = {int(v): p for p, v in enumerate(ids)}
    out_q, out_n, out_s = [], [], []
    for jq, qid in enumerate(qids):
        col = score32[:, jq]
        self_pos = pos_of.get(int(qid))
        if self_pos is not None:
            col = col.copy()
            col[self_pos] = -np.inf
        order = np.lexsort((ids, -col))[:k]
        order = order[np.isfinite(col[order])]
        out_q.append(np.full(len(order), qid, dtype=np.int64))
        out_n.append(ids[order])
        out_s.append(col[order])
    if not out_q:
        return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "neighbor_id": np.concatenate(out_n),
            "score": np.concatenate(out_s).astype(np.float32),
        }
    )


def cosine_topk_broadcast(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "emb",
) -> DataFrame:
    """Exact top-k cosine neighbors for a SMALL query set.

    The query matrix — and only the query matrix — is collected and
    broadcast (bounded by the query-subset size, never the corpus); the
    corpus streams through one map-only Arrow pass that matmuls each
    chunk against the broadcast queries and keeps the per-chunk top-k
    per query. A final window re-ranks chunks*k candidate rows per
    query. No corpus shuffle, no corpus materialization anywhere —
    this replaces the round-4 crossJoin + interpreted-HOF form (81x
    slope at 10x data). When the query set itself is too big to
    broadcast, use ``cosine_topk_sharded``.

    Output: ``query_id, neighbor_id, score (float32), rank``.
    """
    import numpy as np
    import pandas as pd

    spark = emb_df.sparkSession
    qpdf = queries_df.select(id_col, emb_col).toPandas()  # query side only — bounded
    qids = qpdf[id_col].to_numpy()
    qm = np.array(qpdf[emb_col].tolist(), dtype=np.float64)
    qnorm = np.maximum(np.sqrt((qm * qm).sum(axis=1)), 1e-300)
    bc = spark.sparkContext.broadcast((qids, qm, qnorm))

    def gen(batches):
        b_qids, b_qm, b_qnorm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            m = np.array(pdf[emb_col].tolist(), dtype=np.float64)
            cnorm = np.maximum(np.sqrt((m * m).sum(axis=1)), 1e-300)
            s32 = ((m @ b_qm.T) / (cnorm[:, None] * b_qnorm[None, :])).astype(
                np.float32
            )
            yield _batch_topk_frame(ids, s32, b_qids, k)

    cand = _spread(emb_df.select(id_col, emb_col)).mapInPandas(
        gen, schema=_TOPK_CAND_SCHEMA
    )
    return _rank_topk(cand, k)


def cosine_topk_sharded(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    n_shards: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "emb",
) -> DataFrame:
    """Exact top-k cosine neighbors with NO broadcast and NO driver
    materialization — the 100 TB form of the exact baseline.

    The corpus hashes into ``n_shards`` shards by id; the query set is
    replicated to every shard (explode over shard ids — shuffle volume
    |corpus| + n_shards*|queries|). A cogroup pairs each corpus shard
    with the full query set WITHOUT materializing the row-level join:
    one numpy matmul per shard yields per-shard top-k per query, and a
    final window re-ranks n_shards*k candidates per query. Memory bound
    is one corpus shard + the query set per task; both sides stay
    distributed end to end.

    Output: ``query_id, neighbor_id, score (float32), rank`` —
    bit-identical to ``cosine_topk_broadcast``.
    """
    import numpy as np
    import pandas as pd

    B = int(n_shards)
    c = emb_df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("_e"),
        F.pmod(F.col(id_col), F.lit(B)).cast("int").alias("shard"),
    )
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("_qe"),
        F.explode(F.array(*[F.lit(i) for i in range(B)])).alias("shard"),
    )

    def shard_topk(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cpdf) or not len(qpdf):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        ids = cpdf["neighbor_id"].to_numpy()
        m = np.array(cpdf["_e"].tolist(), dtype=np.float64)
        cnorm = np.maximum(np.sqrt((m * m).sum(axis=1)), 1e-300)
        qids = qpdf["query_id"].to_numpy()
        qm = np.array(qpdf["_qe"].tolist(), dtype=np.float64)
        qnorm = np.maximum(np.sqrt((qm * qm).sum(axis=1)), 1e-300)
        s32 = ((m @ qm.T) / (cnorm[:, None] * qnorm[None, :])).astype(np.float32)
        return _batch_topk_frame(ids, s32, qids, k)

    cand = (
        c.groupBy("shard")
        .cogroup(q.groupBy("shard"))
        .applyInPandas(shard_topk, schema=_TOPK_CAND_SCHEMA)
    )
    return _rank_topk(cand, k)


def embedding_near_dup_pairs(
    emb_df: DataFrame,
    threshold: float = 0.3,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    emb_col: str = "emb",
    centroids: list[list[float]] | None = None,
    quantize_f32: bool = False,
) -> DataFrame:
    """Cell-blocked embedding near-dup (SURVEY.md §2.11 X1 'embedding-
    cosine near-dup'): SemDeDup-style candidate pruning.

    Every vector is indexed under its ``nprobe`` nearest IVF cells
    (JVM-side probe assignment); each cell's members are gathered by one
    shuffle and verified with an exact within-cell numpy matmul
    (``applyInPandas`` — no global broadcast, so this is the piece that
    scales past the brute-force variant's executor-memory bound).
    Recall misses only pairs whose probe lists are disjoint; parity vs
    brute force is pinned in tests.

    Scale: per-cell cost is quadratic in cell size, so nlist must grow
    with the corpus (cells of ~1-10k vectors keep candidate volume
    linear-ish); a pair found in several shared cells is deduped after
    the threshold filter, when it is already rare.

    Output: ``id_a, id_b, score`` (float32), id_a < id_b.
    """
    import numpy as np
    import pandas as pd

    if centroids is None:
        centroids = train_centroids(
            emb_df, emb_col, nlist=nlist, seed=seed, id_col=id_col,
            quantize_f32=quantize_f32,
        )

    indexed = _cells_pandas(
        emb_df, centroids, nprobe, "id_a", id_col, emb_col,
        quantize_f32=quantize_f32,
    ).withColumnRenamed(emb_col, "_e")

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id_a"].to_numpy()
        m = np.array(pdf["_e"].tolist(), dtype=np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
        s = m @ m.T
        ai, bj = np.nonzero(s >= threshold)
        id_a, id_b = ids[ai], ids[bj]
        keep = id_a < id_b
        return pd.DataFrame(
            {
                "id_a": id_a[keep],
                "id_b": id_b[keep],
                "score": s[ai, bj][keep].astype(np.float32),
            }
        )

    return (
        indexed.groupBy("cell")
        .applyInPandas(lambda _, pdf: cell_pairs(pdf), schema=_PAIR_SCHEMA)
        .dropDuplicates(["id_a", "id_b"])
    )
