"""Property tests for functions/ranks.py: the distributed global rank
and the cut-key NTILE must agree exactly with Spark's own
single-partition ``row_number``/``ntile`` ground truth on randomized
frames (sizes that exercise empty partitions, n < k, n % k != 0), while
never planning an unpartitioned window itself.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions.ranks import (
    with_global_ntiles_cuts,
    with_global_rank,
)


def _frame(spark, n, seed):
    rng = np.random.RandomState(seed)
    rows = [(int(i), float(rng.randint(0, max(n // 3, 1)))) for i in range(n)]
    return spark.createDataFrame(rows, "id long, v double").repartition(7)


@pytest.mark.parametrize("n", [1, 5, 97, 1000])
def test_global_rank_matches_row_number(spark, n):
    df = _frame(spark, n, seed=n)
    ranked, total = with_global_rank(df, [F.col("v"), F.col("id")], "r0")
    assert total == n
    got = {r["id"]: r["r0"] for r in ranked.collect()}
    ref = {
        r["id"]: r["rn"] - 1
        for r in df.select(
            "id", F.row_number().over(W.orderBy("v", "id")).alias("rn")
        ).collect()
    }
    assert got == ref


@pytest.mark.parametrize("n,k", [(3, 10), (10, 4), (97, 10), (1000, 7)])
def test_global_ntile_matches_sql_ntile(spark, n, k):
    df = _frame(spark, n, seed=n * 31 + k)
    got = {
        r["id"]: r["b"]
        for r in with_global_ntiles_cuts(
            df, [(k, [("v", False), ("id", False)], "b")]
        ).collect()
    }
    ref = {
        r["id"]: r["b"]
        for r in df.select(
            "id", F.ntile(k).over(W.orderBy("v", "id")).alias("b")
        ).collect()
    }
    assert got == ref


def test_descending_order_and_column_preservation(spark):
    df = _frame(spark, 50, seed=9).withColumn("extra", F.col("id") * 2)
    out = with_global_ntiles_cuts(df, [(5, [("v", True), ("id", False)], "bucket")])
    assert set(out.columns) == {"id", "v", "extra", "bucket"}
    rows = out.collect()
    ref = {
        r["id"]: r["b"]
        for r in df.select(
            "id", F.ntile(5).over(W.orderBy(F.col("v").desc(), "id")).alias("b")
        ).collect()
    }
    assert {r["id"]: r["bucket"] for r in rows} == ref
    assert all(r["extra"] == r["id"] * 2 for r in rows)


def test_empty_frame_ranks_and_ntile(spark):
    df = spark.createDataFrame([], "id long, v double")
    ranked, n = with_global_rank(df, [F.col("v"), F.col("id")], "r0")
    assert n == 0 and ranked.count() == 0
    out = with_global_ntiles_cuts(df, [(4, [("v", False), ("id", False)], "b")])
    assert out.count() == 0
