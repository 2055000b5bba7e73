"""Algorithm registry → fused-plan compiler.

The reference binds named, versioned algorithms to window types with a
decorator (``processor/main.py:342-343,449-450``) and executes them one
gRPC callback at a time, each re-reading its window's rows from
Postgres (SURVEY.md §3 EP2/EP3). This registry keeps the same
surface — ``@proc.algorithm(name, version, window_type)`` — but
*compiles* every algorithm bound to a window type into ONE fused
``groupBy(window(time), *keys).agg(...)`` plan, so N algorithms × M
derived windows cost a single pass over the data instead of N×M
rescans.

Execution model:
  - an algorithm contributes (a) an optional ``prepare(time_col, keys)``
    returning ordered ``(name, Column)`` stages — row-level /
    window-function derived columns (e.g. the accel/jerk lag-diffs); a
    stage that needs the window bucket partitions by the
    compiler-provided ``_time_from`` column so its shuffle is reused by
    the final aggregation — and (b) a dict of named aggregate Columns
    (StructResult) or a single Column (ValueResult).
  - build once, rebind per trigger: the first compile of a (window
    type, ``time_col``, duration) builds every Column of the plan — the
    ``_time_from`` bucket, the prepare stages, the aliased aggregates
    and the output select — and the first melt of a window type builds
    its ``window`` struct and per-algorithm array. Both are memoized on
    the ``Processor``, so each later call only binds those Columns to
    the new input frame (Structured Streaming's plan-once, rebind-the-
    source-per-epoch shape). Each ``aggs``/``prepare`` fn runs once per
    memo entry; registering an algorithm clears the memo, and a
    relaunched JVM (new py4j gateway) rebuilds it.
  - ``compile_window_type`` applies each distinct prepare's stages in
    order, then fuses all aggregates into one agg, output columns named
    ``<algorithm>__<field>``.
  - ``melt_results`` reshapes the wide frame into the reference's
    result-row shape (FIXTURES.md A5: window struct, algorithm,
    version, value, payload).

Scale: a full-table compile shuffles once per window type (on window
start + keys; twice with a distinct aggregate such as
``FindActiveBusses``), partial aggregation map-side. Prepares that need
ordering (lag) sort within the (key, window) partition only — at 100 TB
that partitioning matches the storage layout (date-partitioned,
key-bucketed), so the sort is local. A one-window trigger (a root
Filter bounding ``time_col`` by timestamp literals at most one
``duration`` apart) is coalesced to one partition instead: no Exchange,
one job and one stage per window type, at the price of reading every
split the pruned scan lists in a single task.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orca_ztbus_python_processor_spark.plans.windows import WindowType

PrepareFn = Callable[[str, tuple[str, ...]], "list[tuple[str, Column]]"]
AggsFn = Callable[[], "dict[str, Column] | Column"]


@dataclass(frozen=True)
class Algorithm:
    name: str
    version: str
    window_type: WindowType
    aggs: AggsFn
    prepare: PrepareFn | None = None


def _bounded_span_us(df: DataFrame, time_col: str) -> float:
    """``hi - lo`` when the conjuncts of the Filter at the root of
    ``df``'s analyzed plan bound ``time_col`` from both sides by
    TimestampType literals (micros); ``inf`` otherwise."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "Filter":
        return math.inf
    lo, hi, todo = [-math.inf], [math.inf], [plan.condition()]
    while todo:
        e = todo.pop()
        op = e.nodeName()
        if op == "And":
            todo += [e.left(), e.right()]
        elif op in ("GreaterThan", "GreaterThanOrEqual", "LessThan", "LessThanOrEqual"):
            sides = [e.left(), e.right()]
            names = [s.nodeName() for s in sides]
            if names not in (["AttributeReference", "Literal"], ["Literal", "AttributeReference"]):
                continue
            attr, lit = sides if names[0] == "AttributeReference" else sides[::-1]
            value = lit.value()
            if attr.name() == time_col and lit.dataType().typeName() == "timestamp" and value is not None:
                # ``time < lit`` and ``lit > time`` both bound time from above
                (hi if op.startswith("Less") == (attr is sides[0]) else lo).append(value)
    return min(hi) - max(lo)


@dataclass(frozen=True)
class _CompiledColumns:
    """Every Column of one fused plan, bound to no input frame."""

    time_from: Column
    stages: tuple[tuple[str, Column], ...]
    group_by: tuple[Column, ...]
    aggs: tuple[Column, ...]
    select: tuple[Column, ...]


class Processor:
    """Named algorithm registry (reference ``Processor("analyser")``,
    ``processor/main.py:26``)."""

    def __init__(self, name: str) -> None:
        self.name = name
        self._algorithms: list[Algorithm] = []
        # Built Columns, keyed per window type (see the module docstring);
        # valid for one py4j gateway.
        self._memo: dict[tuple, object] = {}
        self._memo_gateway: object = None

    # -- registration ------------------------------------------------------
    def algorithm(
        self,
        name: str,
        version: str,
        window_type: WindowType,
        prepare: PrepareFn | None = None,
    ) -> Callable[[AggsFn], AggsFn]:
        """Decorator mirroring ``@proc.algorithm(...)``
        (reference ``processor/main.py:342,449,474,518,547,577``).

        The decorated fn returns the algorithm's aggregate expressions
        instead of eagerly computing over a pandas frame.
        """

        def deco(fn: AggsFn) -> AggsFn:
            self._algorithms.append(Algorithm(name, version, window_type, fn, prepare))
            self._memo.clear()
            return fn

        return deco

    def algorithms_for(self, window_type: WindowType) -> list[Algorithm]:
        return [a for a in self._algorithms if a.window_type.name == window_type.name]

    # -- memo --------------------------------------------------------------
    def _memoized(self, key: tuple, build: Callable[[], object]) -> object:
        gateway = SparkContext._gateway
        if gateway is not self._memo_gateway:
            self._memo.clear()
            self._memo_gateway = gateway
        if key not in self._memo:
            self._memo[key] = build()
        return self._memo[key]

    def _specs(
        self, window_type: WindowType
    ) -> tuple[tuple[Algorithm, dict[str, Column] | Column], ...]:
        """(algorithm, evaluated ``aggs()``) for every bound algorithm."""

        def build():
            algs = self.algorithms_for(window_type)
            if not algs:
                raise ValueError(f"no algorithms registered for {window_type.name}")
            return tuple((a, a.aggs()) for a in algs)

        return self._memoized(("specs", window_type), build)

    # -- compilation -------------------------------------------------------
    @staticmethod
    def _duration_us(duration: str) -> int:
        qty, unit = duration.split()
        scale = {
            "second": 1_000_000,
            "seconds": 1_000_000,
            "minute": 60_000_000,
            "minutes": 60_000_000,
            "hour": 3_600_000_000,
            "hours": 3_600_000_000,
        }[unit]
        return int(qty) * scale

    def _compiled(self, window_type: WindowType, time_col: str, duration: str) -> _CompiledColumns:
        def build():
            specs = self._specs(window_type)
            keys = window_type.keys
            dur_us = self._duration_us(duration)
            stages: list[tuple[str, Column]] = []
            seen: set[int] = set()
            for a, _ in specs:
                if a.prepare is not None and id(a.prepare) not in seen:
                    stages.extend(a.prepare(time_col, keys))
                    seen.add(id(a.prepare))
            aggs: list[Column] = []
            out: list[Column] = []
            for a, spec in specs:
                named = spec if isinstance(spec, dict) else {"value": spec}
                for field_name, col in named.items():
                    aggs.append(col.alias(f"{a.name}__{field_name}"))
                    out.append(F.col(f"{a.name}__{field_name}"))
            key_cols = tuple(F.col(k) for k in keys)
            return _CompiledColumns(
                time_from=F.expr(
                    f"timestamp_micros((unix_micros({time_col}) div {dur_us}) * {dur_us})"
                ),
                stages=tuple(stages),
                group_by=(F.col("_time_from"), *key_cols),
                aggs=tuple(aggs),
                select=(
                    F.col("_time_from").alias("time_from"),
                    (F.col("_time_from") + F.expr(f"INTERVAL {dur_us} MICROSECONDS")).alias(
                        "time_to"
                    ),
                    *key_cols,
                    *out,
                ),
            )

        return self._memoized(("compile", window_type, time_col, duration), build)

    def compile_window_type(
        self,
        df: DataFrame,
        window_type: WindowType,
        time_col: str = "time",
        duration: str = "60 seconds",
    ) -> DataFrame:
        """Fuse every algorithm bound to ``window_type`` into one plan.

        Output: one row per (window, *keys); columns
        ``time_from, time_to, <keys...>, <alg>__<field>...``.

        The tumbling-window bucket is materialized ONCE as ``_time_from``
        (integer floor of epoch-micros — equivalent to
        ``F.window(time_col, duration).start``) and shared between the
        prepare window-functions and the final groupBy. Sharing the
        exact expression lets Catalyst satisfy the aggregation's
        distribution requirement with the prepare's shuffle — one
        Exchange total instead of two, which at 100 TB halves the
        shuffled volume of the fact table. A one-window trigger needs no
        Exchange at all: one partition satisfies every clustering.
        """
        plan = self._compiled(window_type, time_col, duration)
        if _bounded_span_us(df, time_col) <= self._duration_us(duration):
            df = df.coalesce(1)
        prepared = df.withColumn("_time_from", plan.time_from)
        for name, col in plan.stages:
            prepared = prepared.withColumn(name, col)
        return prepared.groupBy(*plan.group_by).agg(*plan.aggs).select(*plan.select)

    def _melt_columns(
        self, window_type: WindowType
    ) -> tuple[tuple[Column, Column], tuple[Column, ...]]:
        def build():
            window_struct = F.struct(
                F.col("time_from"),
                F.col("time_to"),
                F.lit(window_type.name).alias("name"),
                F.lit(window_type.version).alias("version"),
                F.lit(self.name).alias("origin"),
                # cast: a keyless window type's empty map would be
                # map<void,void>, which Arrow cannot convert (FIXTURES.md A4)
                F.create_map(
                    *[x for k in window_type.keys for x in (F.lit(k), F.col(k).cast("long"))]
                )
                .cast("map<string,bigint>")
                .alias("metadata"),
            )
            per_alg = []
            for a, spec in self._specs(window_type):
                if isinstance(spec, dict):
                    payload = F.create_map(
                        *[
                            x
                            for k in spec
                            for x in (F.lit(k), F.col(f"{a.name}__{k}").cast("double"))
                        ]
                    )
                    value = F.lit(None).cast("double")
                else:
                    payload = F.lit(None).cast("map<string,double>")
                    value = F.col(f"{a.name}__value").cast("double")
                per_alg.append(
                    F.struct(
                        F.lit(a.name).alias("algorithm"),
                        F.lit(a.version).alias("version"),
                        value.alias("value"),
                        payload.alias("payload"),
                    )
                )
            exploded = (window_struct.alias("window"), F.explode(F.array(*per_alg)).alias("r"))
            flat = ("window", "r.algorithm", "r.version", "r.value", "r.payload")
            return exploded, tuple(F.col(c) for c in flat)

        return self._memoized(("melt", window_type), build)

    def melt_results(self, fused: DataFrame, window_type: WindowType) -> DataFrame:
        """Wide fused frame → reference result rows (FIXTURES.md A5):
        ``window struct, algorithm, version, value, payload``.

        ``explode`` then a flattening select, not one ``inline`` select:
        AQE prunes an empty window's plan through ``explode`` but not
        through ``inline``, which costs an empty window 1–2 more jobs."""
        exploded, flat = self._melt_columns(window_type)
        return fused.select(*exploded).select(*flat)
