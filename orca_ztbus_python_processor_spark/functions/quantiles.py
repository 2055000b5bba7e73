"""Distributed EXACT order statistics without a per-group single-reducer
buffer (SURVEY.md §2 A7/A8 at corpus grain).

``F.percentile`` / ``F.median`` are exact but their aggregation buffer
gathers every value of a group onto one task — the right trade at
per-key grain (groups of ~60 rows), a scale wall at corpus grain
(3 groups x 10^11 rows at 100 TB; measured 15x wall at 10x data on the
sf1 fixture). ``approx_percentile`` is the sketch path when error is
acceptable; this module is the EXACT corpus-grain path.

One selection routine, ``_hist_rank_select``, serves every operator
here and ``ranks.with_global_ntiles_cuts``: ITERATIVE HISTOGRAM
SELECTION — the classic distributed selection algorithm (bisection on
value range with per-bucket masses). Each row carries a mass, 1 for
the rank operators and its weight for ``exact_weighted_quantiles``;
the answer for target t is the smallest value whose cumulative mass
reaches t (with unit masses: the value at 1-indexed rank t).

  1. one map-combinable pass per group: the mass at -Inf, of the
     finite values, at +Inf and at NaN (Spark's total order), plus the
     finite values' count, min and max — n_groups rows to the driver
     (guarded, see ``_MAX_GROUPS``). A target that lands in a
     non-finite mass is resolved right there; the others, shifted by
     the -Inf mass, select among the finite values;
  2. per refinement pass, ONE map-combinable aggregation computes, for
     every unresolved (group, value-interval), a B-bucket histogram of
     (count, mass, exact min, exact max) — n_intervals x B scalars to
     the driver, never rows. The driver walks each histogram's
     cumulative masses to locate the bucket holding each target;
  3. a bucket whose min == max IS the answer (ties collapse); a bucket
     with <= ``_COLLECT_LIMIT`` rows is fetched and finished exactly on
     the driver; anything larger refines over [bucket_min, bucket_max]
     (each pass cuts the candidate value range by ~B, so doubles
     converge in <= ~6 passes; 1 pass + 1 bounded fetch is typical).

Per invocation that is 2-4 scans of the narrow input with tiny
aggregation traffic and no shuffle of rows: at 100 TB the bytes that
cross the network are "n_intervals x B scalars per pass", never the
column. Results are EXACTLY the values at the requested ranks of the
sorted multiset in Spark's order, NaN/±Inf included — the values
``F.percentile`` and a sort pick.

``range_prefix_sum`` is the module's one range-shuffle routine: exact
running sums (``group_prefix_sum``, and ``ranks.with_global_rank`` as
its unit-value case) that need every row, not a selected value.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions.stats import f32

# Histogram buckets per (group, interval) per refinement pass. Partial
# aggregation state per map task is bounded by n_intervals x B cells of
# (count, mass, min, max); driver traffic per pass is the same. 4096
# splits a 10^11-row group under _COLLECT_LIMIT in two passes.
_HIST_BUCKETS = 4096
# A candidate interval at or under this row count is fetched to the
# driver (Arrow toPandas — a few MB) and finished exactly (sorted
# pick); larger intervals refine through another histogram pass.
_COLLECT_LIMIT = 131072
# Total fetched rows per invocation; intervals past the budget refine
# instead, so driver memory stays bounded whatever the target count.
_FETCH_BUDGET = 4_000_000
# Driver-collect cardinality guard (VERDICT r12 #5): pass 1 collects
# one row per group, so a high-cardinality group column would build a
# driver-sized result. Every declared caller is low-cardinality
# (priorities, event types, sources); anything past this bound is a
# misuse of corpus-grain machinery, not a workload.
_MAX_GROUPS = 100_000
# Bisection on finite IEEE doubles cuts the representable range by ~B
# per pass, so 20 passes is unreachable — a hard stop against an
# undiscovered degeneracy, not a tunable.
_MAX_HIST_PASSES = 20
# Pass-1 mass segments in Spark's total order; None stands for the
# finite values, which the histogram passes select among.
_SEGMENTS = (-math.inf, None, math.inf, math.nan)


def _check_group_guard(n_groups: int, where: str) -> None:
    if n_groups > _MAX_GROUPS:
        raise ValueError(
            f"{where}: {n_groups} distinct groups exceeds the driver-collect "
            f"guard ({_MAX_GROUPS}). This operator computes corpus-grain "
            "order statistics for LOW-cardinality groups; for entity-grain "
            "keys use a per-key aggregate (F.percentile) instead."
        )


def _pass1_aggs(mass: str | None = None) -> list:
    """Pass-1 aggregates over ``v`` (module docstring, step 1): the
    finite values' ``n_fin``, ``mn`` and ``mx``, and ``m0``..``m3``,
    the mass of each of ``_SEGMENTS``. A row's mass is 1, or its
    ``mass`` column."""
    v = F.col("v")
    fin = ~F.isnan(v) & (F.abs(v) != math.inf)
    segs = (v == -math.inf, fin, v == math.inf, F.isnan(v))
    return [
        F.count(F.when(fin, 1)).alias("n_fin"),
        F.min(F.when(fin, v)).alias("mn"),
        F.max(F.when(fin, v)).alias("mx"),
        *(
            (
                F.count(F.when(c, 1)) if mass is None else F.sum(F.when(c, F.col(mass)))
            ).alias(f"m{i}")
            for i, c in enumerate(segs)
        ),
    ]


def _segments(row) -> tuple:
    """A pass-1 row as ``_hist_rank_select``'s per-group statistics:
    ``(n_fin, mn, mx, (m0, m1, m2, m3))``."""
    return row["n_fin"], row["mn"], row["mx"], tuple(row[f"m{i}"] or 0 for i in range(4))


def _walk(masses: list, targets: list):
    """Assign each of ``targets`` — (target, key) pairs sorted by
    target — to the first cell whose cumulative mass reaches it. The
    last cell also takes a target past the total (float rounding of
    fractional masses), so no target is dropped. Yields
    ``(cell_index, mass_below_cell, [(target - mass_below_cell, key)])``.
    """
    cum, ti, last = 0, 0, len(masses) - 1
    for i, m in enumerate(masses):
        picked = []
        while ti < len(targets) and (targets[ti][0] <= cum + m or i == last):
            picked.append((targets[ti][0] - cum, targets[ti][1]))
            ti += 1
        if picked:
            yield i, cum, picked
        cum += m


def _interval_case(intervals: dict, value_expr) -> object:
    """WHEN-chain mapping each row to ``iid * B + bucket`` (long) for
    the interval containing it, NULL outside every interval — a pure
    codegen expression, so the histogram/fetch passes carry no join,
    no broadcast and no driver-built DataFrame (each of those costs a
    visible fraction of a small job's wall). Intervals are finite, so
    ``between`` leaves NaN/±Inf rows outside every one. The bucket
    offset is computed on halved values: ``hi - lo`` overflows to +Inf
    for a range past the largest double, and halving is exact for
    normal doubles, so it does not move any other row's bucket."""
    B = _HIST_BUCKETS
    expr = None
    for iid, (g, lo, hi, _ab, _t) in intervals.items():
        cond = F.col("g").eqNullSafe(F.lit(g)) & F.col("v").between(
            F.lit(lo), F.lit(hi)
        )
        half_lo = F.lit(lo / 2)
        cell = F.lit(iid * B) + F.least(
            F.floor((F.col("v") / 2 - half_lo) / (F.lit(hi / 2) - half_lo) * B),
            F.lit(B - 1),
        ).cast("long") if value_expr else F.lit(iid).cast("long")
        expr = F.when(cond, cell) if expr is None else expr.when(cond, cell)
    return expr


def _hist_rank_select(
    src: DataFrame,
    rank_sets: dict,
    mass: str | None = None,
) -> dict:
    """Exact values at cumulative-mass targets per group via iterative
    histogram selection (module docstring).

    ``src``: columns ``g`` (any atomic type; a NULL group needs no
    targets) and ``v`` (double, non-NULL, NaN/±Inf allowed), plus the
    ``mass`` column (positive, finite) when given; otherwise every row
    has mass 1. ``rank_sets``: {g: (stats, targets)} with ``stats`` the
    group's pass-1 statistics as ``_segments`` returns them, and
    ``targets`` the cumulative masses to select — 1-indexed ranks in
    [1, n_g] for unit masses.

    Returns {(g, target): (value, below, eq)} where ``value`` is the
    smallest value of the group whose cumulative mass (ties summed)
    reaches the target, ``below`` the group's mass strictly below it
    and ``eq`` the mass equal to it (every row of one value lands in
    one bucket, so both are exact whichever path resolves the target;
    with unit masses they are row counts).
    """
    B = _HIST_BUCKETS
    extra = [] if mass is None else [mass]

    # interval state: iid -> [g, lo, hi, mass_below, targets]
    # targets: list of (target local to the interval, group target)
    pending: dict[int, list] = {}
    resolved: dict = {}
    to_fetch: dict[int, list] = {}
    fetch_rows = 0
    next_iid = 0

    def _settle(g, lo, hi, count, m, below, targets) -> None:
        """Route an interval of ``count`` rows and mass ``m``:
        resolved / fetch / refine."""
        nonlocal next_iid, fetch_rows
        if lo == hi:
            # single-value interval: every row equals `lo`
            for _t, t in targets:
                resolved[(g, t)] = (lo, below, m)
            return
        if count <= _COLLECT_LIMIT and fetch_rows + count <= _FETCH_BUDGET:
            fetch_rows += count
            to_fetch[next_iid] = [g, lo, hi, below, targets]
        else:
            pending[next_iid] = [g, lo, hi, below, targets]
        next_iid += 1

    for g, ((n_fin, mn, mx, masses), targets) in rank_sets.items():
        segs = [(val, m) for val, m in zip(_SEGMENTS, masses) if m]
        tgts = sorted((t, t) for t in targets)
        for i, below, picked in _walk([m for _v, m in segs], tgts):
            val, m = segs[i]
            if val is None:
                _settle(g, mn, mx, n_fin, m, below, picked)
            else:  # a non-finite value: its mass is one tie
                for _t, t in picked:
                    resolved[(g, t)] = (val, below, m)

    passes = 0
    while pending:
        passes += 1
        if passes > _MAX_HIST_PASSES:
            raise RuntimeError(
                "histogram selection failed to converge "
                f"({_MAX_HIST_PASSES} passes over finite values)"
            )
        current, pending = pending, {}
        aggs = [
            F.count("*").alias("_c"),
            F.min("v").alias("_mn"),
            F.max("v").alias("_mx"),
            *(F.sum(c).alias("_m") for c in extra),
        ]
        cells = (
            src.select(_interval_case(current, True).alias("_cell"), "v", *extra)
            .where(F.col("_cell").isNotNull())
            .groupBy("_cell")
            .agg(*aggs)
            .toPandas()
        )
        per_iv: dict[int, list] = defaultdict(list)
        for cell, c, m, mnb, mxb in zip(
            cells["_cell"].tolist(),
            cells["_c"].tolist(),
            cells["_m" if mass else "_c"].tolist(),
            cells["_mn"].tolist(),
            cells["_mx"].tolist(),
        ):
            per_iv[cell // B].append((cell % B, c, m, mnb, mxb))
        for iid, (g, _lo, _hi, below, targets) in current.items():
            buckets = sorted(per_iv[iid])
            for i, cum, picked in _walk([b[2] for b in buckets], targets):
                _b, c, m, mnb, mxb = buckets[i]
                _settle(g, mnb, mxb, c, m, below + cum, picked)

    if to_fetch:
        pdf = (
            src.select(_interval_case(to_fetch, False).alias("_iid"), "v", *extra)
            .where(F.col("_iid").isNotNull())
            .toPandas()
        )
        for iid, (g, _lo, _hi, below, targets) in to_fetch.items():
            sub = pdf[pdf["_iid"] == iid].sort_values("v", kind="stable")
            vs = sub["v"].to_numpy()
            cum = sub[mass].cumsum().to_numpy() if mass else np.arange(1, len(vs) + 1)
            for t_local, t in targets:
                # first row whose running mass reaches the target; its
                # value's ties share it (smaller values all end below)
                v = vs[min(int(np.searchsorted(cum, t_local)), len(vs) - 1)]
                left = int(np.searchsorted(vs, v, "left"))
                right = int(np.searchsorted(vs, v, "right"))
                m_below = cum[left - 1].item() if left else 0
                resolved[(g, t)] = (
                    float(v), below + m_below, cum[right - 1].item() - m_below
                )
    return resolved


def _group_value_stats(src: DataFrame) -> list:
    """Pass 1: per group, ``n`` (non-NULL values) and the
    ``_pass1_aggs`` statistics — the only unconditional driver traffic,
    one map-combinable aggregation."""
    return src.groupBy("g").agg(F.count("v").alias("n"), *_pass1_aggs()).collect()


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact per-group quantiles (plus ``n``), distributed.

    Output: one row per group — ``<group_col>, n, p<q*100>...`` with
    float32-cast quantile values (hash-stable across engines). NULL
    values are excluded, matching SQL ``quantile_cont`` /
    ``F.percentile``; NaN/±Inf take their place in Spark's order
    (-Inf < finite < +Inf < NaN), as in ``F.percentile``; a NULL group
    yields no output row (join semantics of the original form). Group
    column may be any atomic type. Linear interpolation at rank
    q*(n-1), exactly pandas/DuckDB ``quantile_cont``:
    (1-frac)*v_lo + frac*v_hi.
    """
    spark = df.sparkSession
    g_type = df.schema[group_col].dataType.simpleString()
    src = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).cast("double").alias("v"))
        .where(F.col("v").isNotNull())
    )
    stats = _group_value_stats(src)
    _check_group_guard(len(stats), "exact_group_quantiles")

    rank_sets: dict = {}
    picks: dict = {}  # g -> list of (q, lo_rank, hi_rank, frac)
    for r in stats:
        g, n = r["g"], r["n"]
        if g is None:
            continue  # NULL group: dropped, as in the join form
        ranks = set()
        gp = []
        for q in qs:
            rk = q * (n - 1)
            lo, hi = math.floor(rk), math.ceil(rk)
            frac = rk - lo
            ranks.add(lo + 1)
            ranks.add(hi + 1)
            gp.append((q, lo + 1, hi + 1, frac))
        rank_sets[g] = (_segments(r), ranks)
        picks[g] = (n, gp)

    sel = _hist_rank_select(src, rank_sets)
    rows = []
    for g, (n, gp) in picks.items():
        out = [g, n]
        for q, lo, hi, frac in gp:
            v_lo = sel[(g, lo)][0]
            if hi == lo:
                out.append(1.0 * v_lo)
            else:
                v_hi = sel[(g, hi)][0]
                # the two-term IEEE sum of quantile_cont
                out.append((1.0 - frac) * v_lo + frac * v_hi)
        rows.append(tuple(out))
    p_names = [f"p{int(round(q * 100))}" for q in qs]
    schema = f"g {g_type}, n long, " + ", ".join(f"{p} double" for p in p_names)
    return spark.createDataFrame(rows, schema).select(
        F.col("g").alias(group_col), "n", *[f32(F.col(p)).alias(p) for p in p_names]
    )


def exact_group_rank_values(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ranks_of_n,
) -> DataFrame:
    """Exact per-group ORDER-STATISTIC values, distributed — the
    explicit-rank sibling of ``exact_group_quantiles`` (no
    interpolation): ``ranks_of_n(n)`` maps a group's non-NULL count to
    ``{label: 1-indexed rank}``; the output carries, per group, the
    value at each labeled rank under the ascending value order
    (Spark's: NaN sorts last). The
    value at a rank of a sorted multiset is deterministic regardless of
    tie order, so no tiebreak column is needed even when values repeat.
    A rank outside [1, n] (or None) yields NULL for that label — the
    same corner semantics as a SQL ``max(CASE WHEN rn = k ...)`` whose
    k exceeds n (conformal's k > n corner). A NULL group yields a row
    with ``n`` and all labels NULL (left-join semantics of the
    original form).

    Output: one row per group — ``<group_col>, n, <label>...`` with
    raw double values (callers cast at their own f32 boundary). Label
    order follows the first group's dict; every group must yield the
    same label set.
    """
    spark = df.sparkSession
    g_type = df.schema[group_col].dataType.simpleString()
    src = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).cast("double").alias("v"))
        .where(F.col("v").isNotNull())
    )
    stats = _group_value_stats(src)
    _check_group_guard(len(stats), "exact_group_rank_values")

    labels = None
    rank_sets: dict = {}
    grmaps: dict = {}
    for r in stats:
        g, n = r["g"], r["n"]
        rmap = ranks_of_n(n)
        if labels is None:
            labels = list(rmap)
        elif list(rmap) != labels:
            raise ValueError(f"inconsistent rank labels: {list(rmap)} vs {labels}")
        grmaps[g] = (n, rmap)
        if g is None:
            continue  # no selection; row still emitted with NULL labels
        ranks = {
            int(rank)
            for rank in rmap.values()
            if rank is not None and 1 <= int(rank) <= n
        }
        rank_sets[g] = (_segments(r), ranks)

    sel = _hist_rank_select(src, rank_sets)
    rows = []
    for g, (n, rmap) in grmaps.items():
        out = [g, n]
        for label in labels or []:
            rank = rmap[label]
            if g is None or rank is None or not (1 <= int(rank) <= n):
                out.append(None)
            else:
                out.append(sel[(g, int(rank))][0])
        rows.append(tuple(out))
    schema = f"g {g_type}, n long" + "".join(f", {lbl} double" for lbl in (labels or []))
    return spark.createDataFrame(rows, schema).select(
        F.col("g").alias(group_col), "n", *(labels or [])
    )


def exact_group_rank_value(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rank_of_n,
    out_col: str = "v_at_rank",
) -> DataFrame:
    """Single-rank convenience wrapper over ``exact_group_rank_values``:
    output ``<group_col>, n, <out_col>``."""
    return exact_group_rank_values(
        df, group_col, value_col, lambda n: {out_col: rank_of_n(n)}
    )


def exact_weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """Exact WEIGHTED quantiles, distributed — quantile q is the
    smallest value whose cumulative weight reaches ``q * total_weight``
    (the lower weighted quantile — the definition both engines can
    state identically, so results hash-match). Ties share their
    cumulative weight (RANGE-frame semantics); NaN/±Inf values take
    their place in Spark's order. Rows with a NULL value or weight, or
    a weight <= 0, are dropped; a kept weight that is NaN or +Inf
    raises ``ValueError``.

    The shared histogram selection (module docstring) with each row's
    weight as its mass. With integer-valued weights every cumulative
    sum is exact in doubles whatever the summation order, so selection
    is exact with no tolerance; fractional weights select within the
    tolerance below.

    Output: ``q (double), wq (float32 value), total_weight (double)``.
    """
    spark = df.sparkSession
    src = (
        df.select(
            F.lit(0).alias("g"),
            F.col(value_col).cast("double").alias("v"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .where(F.col("v").isNotNull() & F.col("w").isNotNull() & (F.col("w") > 0))
    )
    w = F.col("w")
    st = src.agg(
        F.count("*").alias("n"),
        *_pass1_aggs("w"),
        F.max(F.abs(w - F.round(w))).alias("frac"),
        # NaN > 0 in Spark, so the filter above keeps NaN weights
        F.sum((F.isnan(w) | (F.abs(w) == math.inf)).cast("long")).alias("bad_w"),
    ).first()
    out_schema = "q double, wq float, total_weight double"
    if not st["n"]:
        return spark.createDataFrame([], out_schema)
    if st["bad_w"]:
        raise ValueError(
            f"exact_weighted_quantiles: {st['bad_w']} kept weights of "
            f"{weight_col!r} are NaN or infinite; weights must be finite"
        )

    stats = _segments(st)
    total_w = float(sum(stats[3]))
    # Selection tolerance (ADVICE r6, second half): with fractional
    # weights the accumulated cumulative weight can round a few ulps
    # below a target computed from differently-ordered sums, and an
    # exact `cw >= target` would then select the next value (or none).
    # ADVICE r7 refinement: a FLAT 1e-9 fraction of total weight can
    # exceed a legitimate weight gap once total_w is large, selecting
    # the preceding value. So: integer-valued weights (cumulative sums
    # exact in doubles up to 2^53) get eps = 0 — exact selection; and
    # fractional weights get an epsilon scaled to the worst-case
    # ACCUMULATED summation error, n_rows additions each off by at
    # most one ulp of the running total (<= ulp(total_w)). ADVICE r8:
    # the target side (q * total_w, where total_w comes from partial
    # sums added in a different order) carries its own comparable
    # accumulation error, so cover BOTH sides of the comparison with
    # 2x — still orders of magnitude below any legitimate weight gap.
    eps = 0.0 if float(st["frac"]) == 0.0 else 2.0 * st["n"] * math.ulp(max(total_w, 1.0))
    targets = [(float(q), float(q) * total_w - eps) for q in qs]
    sel = _hist_rank_select(src, {0: (stats, {t for _q, t in targets})}, mass="w")
    rows = [(q, sel[(0, t)][0], total_w) for q, t in targets]
    return spark.createDataFrame(rows, out_schema).select(
        "q", f32(F.col("wq")).alias("wq"), "total_weight"
    )


def range_prefix_sum(
    df: DataFrame,
    groups: list[str],
    order_by: list[Column],
    value: Column,
    out_col: str,
) -> tuple[DataFrame, int]:
    """EXCLUSIVE running sum of the integer ``value`` per ``groups``
    key in ``order_by`` order, distributed, and the total of ``value``.

    A ``Window.partitionBy(groups)`` cumsum funnels each group through
    one task; this range-partitions (groups, order), sends
    per-(partition, group) SUMS to the driver (n_partitions x n_groups
    integers — exact, order-independent), broadcasts the prefix offsets
    back, and finishes with one window bounded by PARTITION size.
    Integer sums make every partial exact, so the result is
    bit-identical to the single-task form. ``order_by`` must be a total
    order within each group. Output: the input columns plus
    ``<out_col>`` (long).
    """
    spark = df.sparkSession
    nparts = max(spark.sparkContext.defaultParallelism, 2)
    s = (
        # pin the input so the range sampler and the shuffle don't each
        # re-run the caller's upstream; lazy: the sampling job itself
        # materializes the blocks
        df.localCheckpoint(eager=False)
        .repartitionByRange(nparts, *groups, *order_by)
        .localCheckpoint(eager=False)
        .withColumn("_pid", F.spark_partition_id())
    )
    v = value.cast("long")

    # Pass 1: per-(partition, group) sums — the only driver traffic.
    per_g: dict = defaultdict(list)
    for r in s.groupBy("_pid", *groups).agg(F.sum(v).alias("_sw")).collect():
        per_g[tuple(r[g] for g in groups)].append((r["_pid"], int(r["_sw"] or 0)))
    offs, total = [], 0
    for g, gcells in per_g.items():
        off = 0
        for pid, sw in sorted(gcells):  # pid order == ascending range order
            offs.append((pid, *g, off))
            off += sw
        total += off
    # offsets carry the group keys as _og<i>: the join matches them
    # null-safe, since a NULL group key is a group like any other
    g_types = [
        f"_og{i} {df.schema[g].dataType.simpleString()}" for i, g in enumerate(groups)
    ]
    odf = F.broadcast(
        spark.createDataFrame(offs, ", ".join(["_opid int", *g_types, "_off long"]))
    )
    on = F.col("_pid") == F.col("_opid")
    for i, g in enumerate(groups):
        on = on & F.col(g).eqNullSafe(F.col(f"_og{i}"))

    # Pass 2: local exclusive cumsum within each (partition, group)
    # cell — bounded by partition size — plus the broadcast offset.
    w = W.partitionBy("_pid", *groups).orderBy(*order_by).rowsBetween(
        W.unboundedPreceding, 0
    )
    out = (
        s.join(odf, on)
        .withColumn(out_col, F.col("_off") + F.sum(v).over(w) - v)
        .select(*groups, *(c for c in df.columns if c not in groups), out_col)
    )
    return out, total


def group_prefix_sum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    out_col: str = "prefix_sum",
) -> DataFrame:
    """EXCLUSIVE per-group running sum of an INTEGER-valued column in
    ``order_col`` order (``range_prefix_sum``), for corpus-grain
    cumulative layouts (sequence packing, offset assignment) keyed by a
    low-cardinality group. ``order_col`` must be unique within each
    group (a doc/event id), so the layout is total and
    engine-portable."""
    cum, _total = range_prefix_sum(
        df, [group_col], [F.col(order_col)], F.col(value_col), out_col
    )
    return cum
