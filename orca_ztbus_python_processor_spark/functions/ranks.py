"""Distributed global rank / ntile without a single-partition sort.

``F.ntile(k).over(Window.orderBy(...))`` with no ``partitionBy`` is
correct but moves EVERY row to one task (Spark warns
``WindowExec: No Partition Defined``) — a scale wall for entity-grain
frames (every customer / user at 100 TB). This module is the
distributed twin, built on the same partition-offset addressing as
``functions.quantiles.group_prefix_sum``:

  1. range-repartition on the sort key and pin the layout (lazy
     ``localCheckpoint``) so partition ids are stable across passes —
     range partitioning means pid order == global sort order;
  2. count rows per partition (n_partitions scalars, the only driver
     traffic), prefix-sum them into per-partition rank offsets;
  3. one PARTITIONED window (``partitionBy(pid)``) assigns local row
     numbers — each window cell is bounded by partition size — and a
     broadcast offset join yields the exact global 0-based rank;
  4. ntile bucket = integer arithmetic on the rank: with n rows and k
     buckets, the first ``n % k`` buckets hold ``n // k + 1`` rows, the
     rest ``n // k`` — exactly SQL NTILE (DuckDB/Spark agree).

The caller MUST pass a total order (include a unique tie-break column),
both for deterministic output and because rows with equal sort keys
must not straddle a range-partition boundary with different ranks.

SURVEY.md §2 O3/W-family at entity grain; replaces the round-5
unpartitioned-ntile plans flagged in VERDICT.md round 5 ("What's
wrong" #1/#2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W


def with_global_rank(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rank0",
) -> tuple[DataFrame, int]:
    """Add an exact global 0-based rank column under ``order_by``.

    Returns ``(df_with_rank, n_rows)`` — ``n_rows`` is known for free
    from the per-partition counts pass, and every ntile/decile caller
    needs it. All input columns are preserved; no stage holds more
    than one range partition.
    """
    spark = df.sparkSession
    nparts = max(spark.sparkContext.defaultParallelism, 2)
    # Pin the input once (lazy localCheckpoint, materialized by the
    # sampling job) before range partitioning: the RangePartitioner's
    # sampling job and the shuffle each evaluate their child in full,
    # so without the pin the caller's upstream (scan + joins) runs
    # twice per call.
    s = (
        df.localCheckpoint(eager=False)
        .repartitionByRange(nparts, *order_by)
        .localCheckpoint(eager=False)
    )
    s = s.withColumn("_pid", F.spark_partition_id())

    # Per-partition counts: n_partitions scalars — the only driver
    # traffic. pid order == ascending order_by range order.
    cells = sorted(
        ((r["_pid"], r["count"]) for r in s.groupBy("_pid").count().collect())
    )
    n = sum(c for _, c in cells)
    offs, off = [], 0
    for pid, c in cells:
        offs.append((pid, off))
        off += c
    odf = F.broadcast(spark.createDataFrame(offs or [(0, 0)], "_pid int, _off long"))

    local = F.row_number().over(W.partitionBy("_pid").orderBy(*order_by))
    ranked = (
        s.withColumn("_lr", local.cast("long") - 1)
        .join(odf, "_pid")
        .withColumn(out_col, F.col("_lr") + F.col("_off"))
        .drop("_pid", "_lr", "_off")
    )
    return ranked, n


def with_global_ntile(
    df: DataFrame,
    n_buckets: int,
    order_by: list[Column],
    out_col: str,
) -> DataFrame:
    """Add an exact NTILE(n_buckets) column under ``order_by`` — SQL
    semantics (first ``n % k`` buckets one row larger), no
    single-partition sort. ``order_by`` must be a total order.
    """
    ranked, n = with_global_rank(df, order_by, "_r0")
    q, rem = divmod(n, n_buckets)
    r0 = F.col("_r0")
    if q == 0:
        # Fewer rows than buckets: bucket i gets row i.
        bucket = r0 + 1
    else:
        head = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
        bucket = (
            F.when(r0 < head, F.floor(r0 / (q + 1)))
            .otherwise(rem + F.floor((r0 - head) / q))
            + 1
        )
    return ranked.withColumn(out_col, bucket.cast("int")).drop("_r0")


# ---------------------------------------------------------------------------
# Boundary-broadcast NTILE (round 13, VERDICT r12 #6): compute the k-1
# CUT KEYS via histogram rank selection (functions/quantiles.py — pure
# aggregation passes, no shuffle), then assign each row's bucket by pure
# codegen comparison against the cut-key literals. The entity-grain
# frame is never shuffled at all: the range shuffle + window + offset
# join of ``with_global_ntile`` collapse into 2-4 scalar-aggregation
# jobs shared by EVERY ntile dimension of the query, plus one
# comparison projection.
# ---------------------------------------------------------------------------


# Integral-grain proxies with a magnitude at or past 2^53 can map
# distinct keys to one double, so such keys take the shuffle form.
_EXACT_PROXY = 2.0**53


def _rank_proxy(df: DataFrame, name: str, desc: bool) -> Column | None:
    """Order-preserving DOUBLE proxy for a sort-key column (descending
    keys negate — exact for every supported type).

    The proxy is injective while the column's values, scaled to their
    integer grain (micros for timestamps, days for dates, cents for
    decimal(p<=15,2)), stay below 2^53 in magnitude. A decimal wider
    than 15 digits is unsupported; for integral-grain keys the caller
    checks the proxy's min and max (``_EXACT_PROXY``). Unsupported
    types return None and route the caller to the shuffle form.
    """
    dt = df.schema[name].dataType
    c = F.col(name)
    if isinstance(dt, T.TimestampType):
        p = F.unix_micros(c).cast("double")
    elif isinstance(dt, T.DateType):
        p = F.unix_date(c).cast("double")
    elif isinstance(
        dt,
        (T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.DoubleType, T.FloatType),
    ) or (isinstance(dt, T.DecimalType) and dt.precision <= 15):
        p = c.cast("double")
    else:
        return None
    return (-p) if desc else p


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
    """Add one exact NTILE column per spec — SQL semantics, no shuffle
    of ``df`` anywhere (header comment).

    ``specs``: list of ``(n_buckets, keys, out_col)`` where ``keys`` is
    ``[(column_name, descending), ...]`` and must be a total order
    (unique final tiebreak) — the same contract as
    ``with_global_ntile``. Keys the proxies cannot carry exactly
    (NULL/NaN/±Inf values, integral-grain values at or past 2^53 in
    magnitude, unsupported types) fall back to the shuffle form,
    decided by the same one-job stats pass the fast path needs anyway.

    All specs share one stats job and one level-0 selection pipeline
    (stacked by dimension), so a 3-dimension RFM scoring costs the same
    scans as a single ntile; deeper levels only run for cut keys whose
    earlier columns tie at the boundary, over tie-sized subsets.
    """
    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        _hist_rank_select,
    )

    def _fallback() -> DataFrame:
        out = df
        for n_buckets, keys, out_col in specs:
            order = [
                (F.col(nm).desc() if d else F.col(nm).asc()) for nm, d in keys
            ]
            out = with_global_ntile(out, n_buckets, order, out_col)
        return out

    # Proxy columns per spec per level; unsupported type -> fallback.
    proxies: list[list[Column]] = []
    for _k, keys, _out in specs:
        ps = [_rank_proxy(df, name, desc) for name, desc in keys]
        if any(p is None for p in ps):
            return _fallback()
        proxies.append(ps)

    # ONE stats job: row count, per-key NULL/NaN/Inf detection, and
    # global (min, max) of EVERY level's proxy — so no later level
    # needs its own stats pass (a subset interval only has to SPAN the
    # subset; the selection counts actual rows).
    aggs = [F.count(F.lit(1)).alias("_n")]
    key_cols = sorted({name for _k, keys, _o in specs for name, _d in keys})
    for i, name in enumerate(key_cols):
        c = F.col(name)
        bad = c.isNull()
        if isinstance(df.schema[name].dataType, (T.DoubleType, T.FloatType)):
            bad = bad | F.isnan(c) | (F.abs(c) == float("inf"))
        aggs.append(F.sum(bad.cast("long")).alias(f"_bad{i}"))
    for si, ps in enumerate(proxies):
        for lvl, p in enumerate(ps):
            aggs.append(F.min(p).alias(f"_mn{si}_{lvl}"))
            aggs.append(F.max(p).alias(f"_mx{si}_{lvl}"))
    st = df.agg(*aggs).first()
    n = int(st["_n"])
    if n and any(int(st[f"_bad{i}"] or 0) for i in range(len(key_cols))):
        return _fallback()
    if n and any(
        max(abs(st[f"_mn{si}_{lvl}"]), abs(st[f"_mx{si}_{lvl}"])) >= _EXACT_PROXY
        for si, (_k, keys, _o) in enumerate(specs)
        for lvl, (name, _d) in enumerate(keys)
        if not isinstance(df.schema[name].dataType, (T.DoubleType, T.FloatType))
    ):
        return _fallback()

    # Cut state per unique (spec, boundary rank): the resolved proxy
    # prefix [(level, value)], the rank within the current tie subset,
    # and that subset's row count.
    cuts: dict[tuple[int, int], dict] = {}
    for si, (n_buckets, keys, _out) in enumerate(specs):
        for h in set(_ntile_boundaries(n, n_buckets)):
            cuts[(si, h)] = {
                "prefix": [], "local": h, "cnt": n, "done": n == 0,
            }

    max_depth = max(len(keys) for _k, keys, _o in specs)
    for level in range(max_depth):
        # groups this level: unique (spec, prefix) among unresolved cuts
        groups: dict[tuple, dict] = {}
        for (si, h), state in cuts.items():
            if state["done"] or len(specs[si][1]) <= level:
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
            mn, mx = float(st[f"_mn{si}_{level}"]), float(st[f"_mx{si}_{level}"])
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
                if n_eq == 1 or level + 1 >= len(specs[si][1]):
                    # unique at this level (deeper comparison clauses
                    # can never fire for any other row) or out of keys
                    state["done"] = True
                else:
                    state["local"] = state["local"] - n_below
                    state["cnt"] = n_eq

    # bucket assignment: 1 + sum over boundaries (with multiplicity) of
    # [key(x) > cut], as pure comparisons on the proxy columns —
    # lexicographic over the resolved prefix:
    #   OR_i ( AND_{j<i} proxy_j == v_j ) AND proxy_i > v_i
    out = df
    for si, (n_buckets, keys, out_col) in enumerate(specs):
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


def with_global_ntile_cuts(
    df: DataFrame,
    n_buckets: int,
    keys: list[tuple[str, bool]],
    out_col: str,
) -> DataFrame:
    """Single-spec convenience wrapper over ``with_global_ntiles_cuts``."""
    return with_global_ntiles_cuts(df, [(n_buckets, keys, out_col)])
