"""Round-13 machinery tests: histogram rank selection
(functions/quantiles.py) and boundary-broadcast NTILE
(functions/ranks.with_global_ntiles_cuts).

Each optimized operator is differentially pinned against an
independent reference — pandas/numpy order statistics for the
selection core, Spark's own single-partition ``F.ntile`` for the cut
form — on adversarial shapes: heavy ties, n < k, single row,
descending keys, multi-spec batching, NaN values, and the
driver-collect cardinality guard.
"""

from __future__ import annotations

import math
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions.quantiles import (
    _MAX_GROUPS,
    _check_group_guard,
    exact_group_quantiles,
    exact_group_rank_values,
    exact_weighted_quantiles,
)
from orca_ztbus_python_processor_spark.functions.ranks import with_global_ntiles_cuts


def _rows(seed: int, n: int):
    rng = random.Random(seed)
    return [
        (
            i,
            rng.choice([1.0, 2.0, 2.0, 2.0, 3.5, -1.25]),
            rng.randint(0, 4),
            float(rng.randint(0, 3)),
            rng.choice(["a", "b", "c"]),
        )
        for i in range(n)
    ]


def _spark_ntile(df, k, keys, out):
    """Spark's own NTILE over an unpartitioned window (the reference)."""
    order = [(F.col(nm).desc() if d else F.col(nm)) for nm, d in keys]
    return df.withColumn(out, F.ntile(k).over(W.orderBy(*order)))


def _by_id(df, *cols):
    return df.select("id", *cols).toPandas().sort_values("id").reset_index(drop=True)


def test_exact_group_quantiles_matches_pandas(spark):
    pdf = pd.DataFrame(_rows(3, 4000), columns=["id", "v", "b", "c", "g"])
    df = spark.createDataFrame(pdf)
    out = (
        exact_group_quantiles(df, "g", "v", qs=(0.25, 0.5, 0.75))
        .toPandas()
        .set_index("g")
        .sort_index()
    )
    for g, sub in pdf.groupby("g"):
        assert out.loc[g, "n"] == len(sub)
        for q, col in [(0.25, "p25"), (0.5, "p50"), (0.75, "p75")]:
            # pandas linear interpolation == quantile_cont semantics
            import numpy as np

            exp = np.float32(sub["v"].quantile(q, interpolation="linear"))
            assert out.loc[g, col] == pytest.approx(exp, abs=0.0), (g, q)


def test_exact_group_rank_values_matches_sorted_pick(spark):
    pdf = pd.DataFrame(_rows(5, 3000), columns=["id", "v", "b", "c", "g"])
    df = spark.createDataFrame(pdf)
    out = (
        exact_group_rank_values(
            df,
            "g",
            "v",
            lambda n: {"lo": 1, "mid": (n + 1) // 2, "hi": n, "oob": n + 7},
        )
        .toPandas()
        .set_index("g")
        .sort_index()
    )
    for g, sub in pdf.groupby("g"):
        vs = sorted(sub["v"])
        assert out.loc[g, "lo"] == vs[0]
        assert out.loc[g, "mid"] == vs[(len(vs) + 1) // 2 - 1]
        assert out.loc[g, "hi"] == vs[-1]
        assert pd.isna(out.loc[g, "oob"])  # out-of-range rank -> NULL


def test_exact_weighted_quantiles_integral_weights(spark):
    rng = random.Random(11)
    rows = [(float(rng.randint(0, 50)) / 4.0, float(rng.randint(1, 9))) for _ in range(5000)]
    df = spark.createDataFrame(rows, "v double, w double")
    qs = (0.25, 0.5, 0.9)
    out = exact_weighted_quantiles(df, "v", "w", qs=qs).toPandas().set_index("q")
    # brute force: smallest v whose cumulative weight reaches q * total
    byv = {}
    for v, w in rows:
        byv[v] = byv.get(v, 0.0) + w
    total = sum(w for _, w in rows)
    for q in qs:
        t, cum = q * total, 0.0
        for v in sorted(byv):
            cum += byv[v]
            if cum >= t:
                assert out.loc[q, "wq"] == pytest.approx(v, abs=0.0)
                break
        assert out.loc[q, "total_weight"] == total


def test_nan_values_route_to_shuffle_fallback(spark):
    """NaN values take their place in Spark's order (greatest) inside
    histogram selection, matching F.percentile. The id predates the
    one selection path, when NaN routed to a range-shuffle form."""
    rows = [("a", 1.0), ("a", float("nan")), ("a", 3.0), ("b", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = exact_group_quantiles(df, "g", "v", qs=(0.5, 1.0)).toPandas().set_index("g")
    assert set(out.index) == {"a", "b"}
    # a sorts as 1, 3, NaN: the median is 3 and the max NaN
    assert out.loc["a", "n"] == 3 and out.loc["a", "p50"] == 3.0
    assert math.isnan(out.loc["a", "p100"])
    assert out.loc["b", "p50"] == out.loc["b", "p100"] == 2.0
    ref = {
        r["g"]: r["p50"]
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.lit(0.5)).cast("float").alias("p50"))
        .collect()
    }
    assert ref == out["p50"].to_dict()


def test_group_guard_message():
    with pytest.raises(ValueError, match="driver-collect guard"):
        _check_group_guard(_MAX_GROUPS + 1, "exact_group_quantiles")


@pytest.mark.parametrize(
    "keys",
    [
        [("v", False), ("b", False), ("id", False)],
        [("v", True), ("id", False)],
        [("c", True), ("b", True), ("id", True)],
    ],
)
@pytest.mark.parametrize("n,k", [(3000, 10), (7, 10), (10, 10), (1, 4)])
def test_ntile_cuts_matches_shuffle_form(spark, keys, n, k):
    """The id predates the one NTILE path, when the reference was the
    range-shuffle form; the reference is Spark's own NTILE."""
    df = spark.createDataFrame(
        _rows(7, n), "id long, v double, b long, c double, g string"
    )
    old = _by_id(_spark_ntile(df, k, keys, "bk"), "bk")
    new = _by_id(with_global_ntiles_cuts(df, [(k, keys, "bk")]), "bk")
    assert old.equals(new)


def test_ntile_cuts_multi_spec_batch(spark):
    df = spark.createDataFrame(
        _rows(13, 2500), "id long, v double, b long, c double, g string"
    )
    specs = [
        (4, [("v", False), ("id", False)], "r"),
        (4, [("b", False), ("id", False)], "f"),
        (4, [("c", True), ("id", False)], "m"),
    ]
    new = _by_id(with_global_ntiles_cuts(df, specs), "r", "f", "m")
    old = df
    for k, keys, out in specs:
        old = _spark_ntile(old, k, keys, out)
    assert _by_id(old, "r", "f", "m").equals(new)


def test_ntile_cuts_nan_falls_back(spark):
    """NaN sorts greatest, as in Spark's NTILE. The id predates the one
    NTILE path, when a NaN key fell back to a range-shuffle form."""
    rows = [(0, float("nan")), (1, 2.0), (2, 1.0), (3, 3.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    keys = [("v", False), ("id", False)]
    old = _by_id(_spark_ntile(df, 2, keys, "bk"), "bk")
    new = _by_id(with_global_ntiles_cuts(df, [(2, keys, "bk")]), "bk")
    assert old.equals(new)
    assert new["bk"].tolist() == [2, 1, 1, 2]


def test_ntile_cuts_timestamp_key(spark):
    import datetime

    rows = [
        (i, datetime.datetime(2030, 1, 1) + datetime.timedelta(seconds=i % 97))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    keys = [("ts", False), ("id", False)]
    old = _by_id(_spark_ntile(df, 4, keys, "bk"), "bk")
    new = _by_id(with_global_ntiles_cuts(df, [(4, keys, "bk")]), "bk")
    assert old.equals(new)
