"""Exact global NTILE and rank without a single-partition sort.

``F.ntile(k).over(Window.orderBy(...))`` with no ``partitionBy`` is
correct but moves EVERY row to one task (Spark warns
``WindowExec: No Partition Defined``) — a scale wall for entity-grain
frames (every customer / user at 100 TB).

NTILE (``with_global_ntiles_cuts``) has one path. The k-1 CUT KEYS —
the sort keys of the rows at the NTILE boundary ranks — come from
histogram rank selection (``functions.quantiles._hist_rank_select``:
aggregation passes, no shuffle), and a row's bucket is 1 plus the
number of cut keys it sorts after, by codegen comparison against the
cut-key literals. The frame itself is never shuffled. Every sort key
maps to exact DOUBLE proxy levels, compared lexicographically:

  * the value level: the value for floating and decimal(p<=15) keys,
    the integer grain (micros, days) for timestamps, dates and
    integers;
  * a leading CLASS level when the key holds NULL, NaN or ±Inf —
    NULL 0, -Inf 1, finite 2, +Inf 3, NaN 4, Spark's ``asc()`` order
    (NULLS FIRST) — with the value level 0 for the non-finite rows;
  * an integral value at or past 2^53 in magnitude, which one double
    cannot carry, splits into ``(x >> 32, x & 0xFFFFFFFF)``.

A descending key negates every level, which gives Spark's ``desc()``
order (NULLS LAST, NaN greatest). The one stats job the selection needs
anyway decides which levels each key gets, so a clean key is a single
level. SQL NTILE semantics: with n rows and k buckets the first
``n % k`` buckets hold ``n // k + 1`` rows, the rest ``n // k``.

The exact global rank (``with_global_rank``) is the unit-value,
single-group case of ``functions.quantiles.range_prefix_sum``.

The caller MUST pass a total order (include a unique tie-break
column), so the output is deterministic.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orca_ztbus_python_processor_spark.functions.quantiles import (
    _hist_rank_select,
    range_prefix_sum,
)

# Integral-grain values at or past 2^53 in magnitude can map distinct
# keys to one double, so such keys split into two exact 32-bit levels.
_EXACT_PROXY = 2**53
_FLOATING = (T.DoubleType, T.FloatType)
_INTEGRAL = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def with_global_rank(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rank0",
) -> tuple[DataFrame, int]:
    """Add an exact global 0-based rank column under ``order_by`` (a
    total order). Returns ``(df_with_rank, n_rows)``; all input
    columns are preserved and no stage holds more than one range
    partition."""
    return range_prefix_sum(df, [], order_by, F.lit(1), out_col)


def _key_base(df: DataFrame, name: str) -> Column:
    """Order-preserving exact base expression of a sort key: the
    integer grain for timestamps (micros), dates (days) and integers,
    the double value for floating keys and decimals of at most 15
    digits (which doubles carry exactly). Other types raise
    ``TypeError``."""
    dt = df.schema[name].dataType
    c = F.col(name)
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(c)
    if isinstance(dt, T.DateType):
        return F.unix_date(c)
    if isinstance(dt, _INTEGRAL):
        return c
    if isinstance(dt, _FLOATING) or (isinstance(dt, T.DecimalType) and dt.precision <= 15):
        return c.cast("double")
    raise TypeError(
        f"with_global_ntiles_cuts: key {name!r} has type {dt.simpleString()}; "
        "supported key types are timestamp, date, long, int, short, byte, "
        "double, float and decimal with precision <= 15"
    )


def _finite(df: DataFrame, name: str) -> Column:
    """True for the rows whose key is neither NULL nor NaN/±Inf."""
    c = F.col(name)
    if isinstance(df.schema[name].dataType, _FLOATING):
        return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != math.inf)
    return c.isNotNull()


def _key_levels(df: DataFrame, name: str, st, i: int) -> list:
    """Ascending proxy levels ``[(expr, lo, hi)]`` of key ``name``
    (module docstring) from its stats-job cells: ``_bad{i}`` counts its
    NULL/NaN/±Inf rows, ``_mn{i}``/``_mx{i}`` span its finite base
    values. ``[lo, hi]`` spans every row's level value."""
    c = F.col(name)
    base, fin = _key_base(df, name), _finite(df, name)
    # no finite value (empty, or every row NULL/NaN/±Inf): span [0, 0]
    mn, mx = (0, 0) if st[f"_mn{i}"] is None else (st[f"_mn{i}"], st[f"_mx{i}"])
    integral = not isinstance(df.schema[name].dataType, (*_FLOATING, T.DecimalType))
    if integral and max(-mn, mx) >= _EXACT_PROXY:
        x = base.cast("long")
        vals = [
            (F.shiftright(x, 32), mn >> 32, mx >> 32),
            (x.bitwiseAND(F.lit(0xFFFFFFFF)), 0, 0xFFFFFFFF),
        ]
    else:
        vals = [(base, mn, mx)]
    if not st[f"_bad{i}"]:
        return [(e.cast("double"), float(lo), float(hi)) for e, lo, hi in vals]
    cls = F.when(c.isNull(), 0)
    if isinstance(df.schema[name].dataType, _FLOATING):
        cls = cls.when(F.isnan(c), 4).when(c == -math.inf, 1).when(c == math.inf, 3)
    levels = [(cls.otherwise(2).cast("double"), 0.0, 4.0)]
    for e, lo, hi in vals:
        # non-finite rows hold 0, so the span takes 0 in
        levels.append(
            (F.when(fin, e.cast("double")).otherwise(0.0), float(min(lo, 0)), float(max(hi, 0)))
        )
    return levels


def _ntile_boundaries(n: int, k: int) -> list[int]:
    """SQL NTILE bucket boundaries as 1-indexed ranks WITH multiplicity:
    bucket(x) = 1 + #{boundaries h : rank(x) > h}. The first n % k
    buckets hold n // k + 1 rows; empty buckets (n < k) yield repeated
    boundaries, which skips their bucket numbers exactly like NTILE."""
    q, rem = divmod(n, k)
    sizes = [(q + 1) if i < rem else q for i in range(k)]
    bounds, cum = [], 0
    for s in sizes[:-1]:
        cum += s
        bounds.append(cum)
    return bounds


def with_global_ntiles_cuts(
    df: DataFrame,
    specs: list[tuple[int, list[tuple[str, bool]], str]],
) -> DataFrame:
    """Add one exact NTILE column per spec — SQL semantics, Spark's
    ``asc()``/``desc()`` order, no shuffle of ``df`` (module docstring).

    ``specs``: list of ``(n_buckets, keys, out_col)`` where ``keys`` is
    ``[(column_name, descending), ...]`` and must be a total order
    (unique final tiebreak). A key of an unsupported type (string,
    boolean, decimal wider than 15 digits) raises ``TypeError``.

    All specs share one stats job and one level-0 selection pipeline
    (stacked by dimension), so a 3-dimension RFM scoring costs the same
    scans as a single ntile; deeper levels only run for cut keys whose
    earlier levels tie at the boundary, over tie-sized subsets.
    """
    # ONE stats job: row count, and per key column its NULL/NaN/±Inf
    # count and the (min, max) of its finite base values — so no level
    # needs its own stats pass (a subset interval only has to SPAN the
    # subset; the selection counts actual rows).
    aggs = [F.count(F.lit(1)).alias("_n")]
    key_cols = sorted({name for _k, keys, _o in specs for name, _d in keys})
    for i, name in enumerate(key_cols):
        base, fin = _key_base(df, name), _finite(df, name)
        aggs.append(F.count(F.when(~fin, 1)).alias(f"_bad{i}"))
        aggs.append(F.min(F.when(fin, base)).alias(f"_mn{i}"))
        aggs.append(F.max(F.when(fin, base)).alias(f"_mx{i}"))
    st = df.agg(*aggs).first()
    n = int(st["_n"])
    key_levels = {name: _key_levels(df, name, st, i) for i, name in enumerate(key_cols)}

    # Per spec, its keys' levels in order; a descending key negates.
    proxies: list[list[Column]] = []
    spans: list[list[tuple[float, float]]] = []
    for _k, keys, _out in specs:
        lv = [
            (-e, -hi, -lo) if desc else (e, lo, hi)
            for name, desc in keys
            for e, lo, hi in key_levels[name]
        ]
        proxies.append([e for e, _lo, _hi in lv])
        spans.append([(lo, hi) for _e, lo, hi in lv])

    # Cut state per unique (spec, boundary rank): the resolved proxy
    # prefix [(level, value)], the rank within the current tie subset,
    # and that subset's row count.
    cuts: dict[tuple[int, int], dict] = {}
    for si, (n_buckets, _keys, _out) in enumerate(specs):
        for h in set(_ntile_boundaries(n, n_buckets)):
            cuts[(si, h)] = {
                "prefix": [], "local": h, "cnt": n, "done": n == 0,
            }

    for level in range(max(len(ps) for ps in proxies)):
        # groups this level: unique (spec, prefix) among unresolved cuts
        groups: dict[tuple, dict] = {}
        for (si, h), state in cuts.items():
            if state["done"]:
                continue
            gk = (si, tuple(state["prefix"]))
            g = groups.setdefault(gk, {"ranks": set(), "members": []})
            g["ranks"].add(state["local"])
            g["members"].append((si, h))
            g["cnt"] = state["cnt"]
        if not groups:
            break
        gids = {gk: f"g{j}" for j, gk in enumerate(groups)}

        # stacked (g, v) source: per group, rows matching its resolved
        # prefix, valued by this level's proxy. One scan serves every
        # dimension/group of the level.
        entries = []
        rank_sets: dict = {}
        for gk, info in groups.items():
            si = gk[0]
            ps = proxies[si]
            cond = None
            for lvl, val in gk[1]:
                c = ps[lvl] == F.lit(val)
                cond = c if cond is None else (cond & c)
            v = ps[level] if cond is None else F.when(cond, ps[level])
            entries.append(
                F.struct(
                    F.lit(gids[gk]).alias("g"), v.cast("double").alias("v")
                )
            )
            mn, mx = spans[si][level]
            rank_sets[gids[gk]] = (
                (info["cnt"], mn, mx, (0, info["cnt"], 0, 0)),
                info["ranks"],
            )
        if len(entries) == 1:
            src = df.select(entries[0].alias("e")).select("e.g", "e.v")
        else:
            src = df.select(F.explode(F.array(*entries)).alias("e")).select(
                "e.g", "e.v"
            )
        src = src.where(F.col("v").isNotNull())

        sel = _hist_rank_select(src, rank_sets)
        for gk, info in groups.items():
            gid = gids[gk]
            for si, h in info["members"]:
                state = cuts[(si, h)]
                v, n_below, n_eq = sel[(gid, state["local"])]
                state["prefix"].append((level, v))
                if n_eq == 1 or level + 1 >= len(proxies[si]):
                    # unique at this level (deeper comparison clauses
                    # can never fire for any other row) or out of levels
                    state["done"] = True
                else:
                    state["local"] = state["local"] - n_below
                    state["cnt"] = n_eq

    # bucket assignment: 1 + sum over boundaries (with multiplicity) of
    # [key(x) > cut], as pure comparisons on the proxy columns —
    # lexicographic over the resolved prefix:
    #   OR_i ( AND_{j<i} proxy_j == v_j ) AND proxy_i > v_i
    out = df
    for si, (n_buckets, _keys, out_col) in enumerate(specs):
        ps = proxies[si]
        bucket = F.lit(1)
        for h in _ntile_boundaries(n, n_buckets):
            state = cuts[(si, h)]
            gt = None
            eqs = None
            for lvl, val in state["prefix"]:
                term = ps[lvl] > F.lit(val)
                if eqs is not None:
                    term = eqs & term
                gt = term if gt is None else (gt | term)
                e = ps[lvl] == F.lit(val)
                eqs = e if eqs is None else (eqs & e)
            bucket = bucket + (
                F.when(gt, 1).otherwise(0) if gt is not None else F.lit(0)
            )
        out = out.withColumn(out_col, bucket.cast("int"))
    return out
