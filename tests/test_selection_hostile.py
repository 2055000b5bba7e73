"""Hostile inputs for the one exact selection path
(functions/quantiles._hist_rank_select), the NTILE cut keys and the
per-group prefix sum.

Each operator is pinned bit-for-bit, at its own f32/double output
boundary, against an independent reference — ``F.percentile``, a numpy
sort (NaN last, as in Spark), a brute-force cumulative pick and Spark's
own single-partition ``F.ntile`` — on -Inf, +Inf, NaN, an all-NaN
group, a NULL group, NULL values, empty input, a single row, heavy
ties, a finite range wider than the largest double and integral keys
past 2^53. ``small_fetch`` reruns each case with a 2-row fetch limit,
so the histogram refinement passes (not only the first bounded fetch)
see them too.
"""

from __future__ import annotations

import datetime
import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions import quantiles
from orca_ztbus_python_processor_spark.functions.quantiles import (
    exact_group_quantiles,
    exact_group_rank_values,
    exact_weighted_quantiles,
    group_prefix_sum,
)
from orca_ztbus_python_processor_spark.functions.ranks import with_global_ntiles_cuts

INF, NAN = math.inf, math.nan
QS = (0.0, 0.25, 0.5, 0.75, 1.0)  # dyadic fractions: both interpolations exact


def _hostile_rows():
    rng = random.Random(17)
    rows = [("a", v) for v in (-INF, 1.0, 2.0, INF, NAN, NAN)]
    rows += [("nan", NAN)] * 5  # all-NaN group
    rows += [("one", 4.5)]  # single row
    rows += [("pinf", v) for v in (INF, INF, 1.0, -3.0, INF)]
    rows += [("ninf", -INF)] * 3
    # finite values whose range (hi - lo) overflows a double
    rows += [("wide", v) for v in (-1.5e308, -1e308, 0.0, 1.0, 2.0, 1e308, 1.5e308)]
    # heavy ties, 201 rows so q*(n-1) lands on quarter ranks
    rows += [("ties", rng.choice([-INF, 1.0, 2.0, 2.0, 2.0, 3.0, NAN])) for _ in range(201)]
    rows += [(None, v) for v in (1.0, NAN, 2.0)]  # NULL group
    rows += [("a", None), ("nulls", None)]  # NULL values are excluded
    return rows


def _same(a, b) -> bool:
    """Bit-level float equality that treats NaN as equal to NaN."""
    if a is None or b is None:
        return a is None and b is None
    return (math.isnan(a) and math.isnan(b)) or a == b


@pytest.fixture(params=["default_fetch", "small_fetch"])
def fetch_limit(request, monkeypatch):
    if request.param == "small_fetch":
        monkeypatch.setattr(quantiles, "_COLLECT_LIMIT", 2)


def test_group_quantiles_hostile_match_percentile(spark, fetch_limit):
    df = spark.createDataFrame(_hostile_rows(), "g string, v double")
    got = {r["g"]: r for r in exact_group_quantiles(df, "g", "v", qs=QS).collect()}
    names = [f"p{int(round(q * 100))}" for q in QS]
    ref = {
        r["g"]: r
        for r in df.where(F.col("v").isNotNull())
        .groupBy("g")
        .agg(
            F.count("v").alias("n"),
            *[
                F.percentile("v", F.lit(q)).cast("float").alias(p)
                for q, p in zip(QS, names)
            ],
        )
        .collect()
    }
    assert set(got) == set(ref) - {None}  # a NULL group yields no row
    for g, r in ref.items():
        if g is None:
            continue
        assert got[g]["n"] == r["n"], g
        for p in names:
            assert _same(got[g][p], r[p]), (g, p, got[g][p], r[p])
    assert (got["a"]["p0"], got["a"]["p25"], got["a"]["p50"]) == (-INF, 1.25, INF)
    assert math.isnan(got["a"]["p75"]) and math.isnan(got["a"]["p100"])


def test_group_rank_values_hostile_match_numpy_sort(spark, fetch_limit):
    rows = _hostile_rows()
    df = spark.createDataFrame(rows, "g string, v double")

    def ranks_of_n(n):
        return {"lo": 1, "q1": (n + 3) // 4, "mid": (n + 1) // 2, "hi": n, "oob": n + 1}

    got = {
        r["g"]: r for r in exact_group_rank_values(df, "g", "v", ranks_of_n).collect()
    }
    by_g: dict = {}
    for g, v in rows:
        if v is not None:
            by_g.setdefault(g, []).append(v)
    assert set(got) == set(by_g)  # a NULL group keeps its row
    for g, vals in by_g.items():
        vs = np.sort(np.array(vals))  # NaN last, as in Spark
        n = len(vs)
        assert got[g]["n"] == n, g
        for label, rank in ranks_of_n(n).items():
            want = None if g is None or rank > n else float(vs[rank - 1])
            assert _same(got[g][label], want), (g, label, got[g][label], want)


def _weighted_pick(rows, q):
    """Brute force: the smallest value, in Spark's order, whose
    cumulative weight (ties summed) reaches q * total."""
    kept = [(v, w) for v, w in rows if v is not None and w is not None and w > 0]
    by_v: dict = {}
    for v, w in kept:
        key = "nan" if math.isnan(v) else v
        by_v[key] = by_v.get(key, 0.0) + w
    order = sorted(by_v, key=lambda k: (k == "nan", 0.0 if k == "nan" else k))
    total = sum(w for _v, w in kept)
    cum = 0.0
    for k in order:
        cum += by_v[k]
        if cum >= q * total:
            return (NAN if k == "nan" else k), total
    raise AssertionError("target past the total weight")


WEIGHTED_QS = (0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)


@pytest.mark.parametrize(
    "rows",
    [
        # non-finite values, ties, and rows the filter drops
        [(-INF, 2.0), (1.0, 3.0), (1.0, 1.0), (2.0, 4.0), (INF, 1.0), (NAN, 5.0),
         (NAN, 1.0), (None, 9.0), (3.0, None), (3.0, 0.0), (3.0, -2.0)],
        # heavy ties with dyadic fractional weights (exact sums)
        [(float(i % 7) if i % 11 else -INF, 0.25 * (1 + i % 4)) for i in range(300)],
        [(NAN, 1.0), (NAN, 2.0)],  # all-NaN values
        [(7.5, 3.0)],  # single row
    ],
    ids=["nonfinite", "ties_fractional", "all_nan", "single_row"],
)
def test_weighted_quantiles_hostile_match_bruteforce(spark, fetch_limit, rows):
    df = spark.createDataFrame(rows, "v double, w double")
    got = {
        r["q"]: r
        for r in exact_weighted_quantiles(df, "v", "w", qs=WEIGHTED_QS).collect()
    }
    assert set(got) == set(WEIGHTED_QS)
    for q in WEIGHTED_QS:
        want, total = _weighted_pick(rows, q)
        assert _same(got[q]["wq"], float(np.float32(want))), (q, got[q]["wq"], want)
        assert got[q]["total_weight"] == total


def test_weighted_quantiles_empty_input(spark):
    df = spark.createDataFrame([(1.0, 0.0), (None, 2.0)], "v double, w double")
    assert exact_weighted_quantiles(df, "v", "w").count() == 0


@pytest.mark.parametrize("bad", [NAN, INF])
def test_weighted_quantiles_non_finite_weight_fails_loud(spark, bad):
    df = spark.createDataFrame([(1.0, 1.0), (2.0, bad), (3.0, 1.0)], "v double, w double")
    with pytest.raises(ValueError, match="NaN or infinite"):
        exact_weighted_quantiles(df, "v", "w", qs=(0.5,))


def test_group_operators_empty_and_single_row(spark):
    empty = spark.createDataFrame([], "g string, v double")
    assert exact_group_quantiles(empty, "g", "v").count() == 0
    assert exact_group_rank_values(empty, "g", "v", lambda n: {"hi": n}).count() == 0
    one = spark.createDataFrame([("x", INF)], "g string, v double")
    assert exact_group_quantiles(one, "g", "v", qs=(0.5,)).first()["p50"] == INF
    assert exact_group_rank_values(one, "g", "v", lambda n: {"hi": n}).first()["hi"] == INF


def test_group_prefix_sum_null_group_matches_window_sum(spark):
    """A NULL group key is a group of its own, as under
    ``Window.partitionBy``: its rows keep their running sums."""
    rng = random.Random(5)
    rows = [(rng.choice(["a", "b", None]), o, rng.randrange(0, 50)) for o in range(120)]
    df = spark.createDataFrame(rows, "g string, o long, v long")
    w = W.partitionBy("g").orderBy("o").rowsBetween(W.unboundedPreceding, -1)
    want = {
        r["o"]: r["ref"]
        for r in df.select("o", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("ref")).collect()
    }
    got = {r["o"]: r["prefix_sum"] for r in group_prefix_sum(df, "g", "o", "v").collect()}
    assert got == want


def _spark_ntiles(df, specs):
    """Spark's own NTILE per spec: one unpartitioned window each, under
    ``asc()`` (NULLS FIRST) / ``desc()`` (NULLS LAST)."""
    for k, keys, out in specs:
        order = [F.col(nm).desc() if d else F.col(nm).asc() for nm, d in keys]
        df = df.withColumn(out, F.ntile(k).over(W.orderBy(*order)))
    return df


def _assert_ntiles_match_spark(df, specs):
    outs = [out for _k, _keys, out in specs]

    def by_id(frame):
        return {r["id"]: tuple(r[o] for o in outs) for r in frame.collect()}

    assert by_id(with_global_ntiles_cuts(df, specs)) == by_id(_spark_ntiles(df, specs))


B53, B63 = 2**53, 2**63
NTILE_SCHEMA = "id long, v double, g int, t long, k53 long, k63 long, ts timestamp"


def _ntile_rows(n):
    """Keys with NULL, NaN and ±Inf (``v``), heavy ties (``g``), a
    tie-break column holding NULL (``t``), longs around ±2^53 (``k53``)
    and near ±2^63 (``k63``), and timestamps whose micros pass 2^53
    next to NULL (``ts``)."""
    rng = random.Random(23)
    vs = [None, NAN, -INF, INF, 0.0, 1.5, -2.0, 1e300, -1e300]
    k53 = [B53 + d for d in (-1, 0, 1, 2, 3)] + [-B53 + d for d in (-2, -1, 0, 1)] + [0]
    k63 = [B63 - 1, B63 - 2, B63 - 2**32, -B63, -B63 + 1, -B63 + 2**32, 0, -1]
    tss = [None, datetime.datetime(1970, 1, 1), datetime.datetime(2300, 1, 1),
           datetime.datetime(2300, 1, 1, 0, 0, 0, 1), datetime.datetime(9999, 12, 31)]
    return [
        (i, rng.choice(vs), rng.choice([1, 2, 3]), rng.choice([None, 5, 6]),
         rng.choice(k53), rng.choice(k63), rng.choice(tss))
        for i in range(n)
    ]


NTILE_CASES = {
    "nonfinite_asc": (300, [(4, [("v", False), ("id", False)], "b")]),
    "nonfinite_desc": (300, [(4, [("v", True), ("id", False)], "b")]),
    "null_tiebreak": (300, [(5, [("g", False), ("t", True), ("v", False), ("id", False)], "b")]),
    "long_2_53": (300, [(7, [("k53", False), ("id", True)], "b")]),
    "long_2_63": (300, [(7, [("k63", True), ("id", False)], "b")]),
    "heavy_ties": (300, [(10, [("g", True), ("id", False)], "b")]),
    "empty": (0, [(4, [("v", False), ("id", False)], "b")]),
    "single_row": (1, [(4, [("v", True), ("id", False)], "b")]),
    "n_lt_k": (3, [(10, [("v", False), ("k63", False), ("id", False)], "b")]),
    "multi_spec": (300, [
        (4, [("v", False), ("id", False)], "r"),
        (3, [("v", True), ("t", False), ("id", False)], "f"),
        (10, [("ts", False), ("k63", True), ("id", False)], "m"),
        (4, [("t", True), ("k53", False), ("id", False)], "q"),
    ]),
}


@pytest.mark.parametrize("case", list(NTILE_CASES))
def test_ntile_cuts_hostile_match_spark_ntile(spark, fetch_limit, case):
    n, specs = NTILE_CASES[case]
    df = spark.createDataFrame(_ntile_rows(n), NTILE_SCHEMA)
    _assert_ntiles_match_spark(df, specs)


def test_ntile_cuts_string_key_raises(spark):
    df = spark.createDataFrame([(0, "a"), (1, "b")], "id long, s string")
    with pytest.raises(TypeError, match="supported key types"):
        with_global_ntiles_cuts(df, [(2, [("s", False), ("id", False)], "b")])


def test_ntile_cuts_long_keys_past_2_53(spark):
    """Longs past 2^53 collide as doubles (2^53 + 1 -> 2^53), so the cut
    keys would tie distinct rows; the stats job must split them into two
    exact 32-bit levels."""
    base = 2**53
    rows = [(0, base + 1), (1, base), (2, base + 3), (3, base + 2)]
    df = spark.createDataFrame(rows, "id long, k long")
    got = {
        r["id"]: r["b"]
        for r in with_global_ntiles_cuts(df, [(4, [("k", False)], "b")]).collect()
    }
    assert got == {1: 1, 0: 2, 3: 3, 2: 4}
    ref = {r["id"]: r["b"] for r in _spark_ntiles(df, [(4, [("k", False)], "b")]).collect()}
    assert got == ref
