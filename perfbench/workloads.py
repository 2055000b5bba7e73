"""The three workloads, and the checks that their outputs are correct.

Each workload runs a list of operations ("ops") drawn from the seed: a
cold region that warms the JVM and caches, then the measured region. Every
op has a build phase (driver-side plan construction, plus any eager
Spark jobs the program runs while building) and an exec phase (the
Spark action that produces the result). The benchmark calls only the
program's public functions.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import oracle
from perfbench.datagen import EVENTS_DAYS, EVENTS_START
from perfbench.tracing import JobGroups, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

# Trigger replay: untimed warm-up triggers before the measured ones.
# Latency keeps falling for 20 or more triggers while the JVM warms up,
# so every run measures the same trigger
# positions (a time-bounded loop would measure fewer, earlier and slower
# triggers on a slow run, widening the run-to-run spread).
TRIGGER_WARMUP = 3
# Oracle-paired sampled catalog queries checked against DuckDB per run.
CATALOG_CHECKS = 2
# Catalog and stream samples: measured passes after the cold one, so
# that the median query latency has twice as many samples as queries.
MEASURED_PASSES = 2


@dataclass
class Op:
    rid: str
    region: str  # "cold" or "measure"
    kind: str  # "trigger", "query" or "stream"
    name: str = ""
    module: str = ""
    pass_no: int = 0  # pass over the sample; 0 for a trigger
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str = ""
    counts: dict = field(default_factory=dict)
    result: object = None  # kept only until the correctness check


class Run:
    """State shared by a workload's ops: the session, spans, job groups."""

    def __init__(self, spark, tracer: Tracer, trace: bool, seed: int, seconds: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.groups = JobGroups(spark.sparkContext) if trace else None
        self.seed = seed
        self.seconds = seconds
        self.ops: list[Op] = []
        self.checks: list[dict] = []
        self.inputs: dict = {}
        self.extra_checks = 0  # checks that re-run a query outside the ops
        self.listener = None
        self.current_rid = ""
        self.retained_mb = 0.0
        self.driver_gc: list = []  # (collector, count, ms) before the full GC

    def phase(self, op: Op, name: str) -> None:
        """Tag the Spark jobs that follow with ``<rid>:<name>``."""
        self.current_rid = op.rid
        if self.groups is not None:
            self.groups.set(f"{op.rid}:{name}")

    def finish(self, op: Op) -> None:
        if self.groups is None:
            return
        self.groups.clear()
        with self.tracer.span("trace.status"):
            op.counts = {ph: self.groups.counts(f"{op.rid}:{ph}") for ph in ("build", "exec")}
            if self.listener is not None:
                self.listener.drain()
                for run_id, rid in list(self.listener.rid_of_run.items()):
                    if rid == op.rid:
                        extra = self.groups.counts(run_id)
                        for k, v in extra.items():
                            op.counts["build"][k] += v

    def snapshot_memory(self) -> None:
        """Driver JVM memory still in use after a full GC, taken right
        after the measured region: what the workload left behind."""
        with self.tracer.span("memory", "memory"):
            mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
            self.driver_gc = [(g.getName(), g.getCollectionCount(), g.getCollectionTime())
                              for g in mf.getGarbageCollectorMXBeans()]
            mx = mf.getMemoryMXBean()
            mx.gc()
            used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
            self.retained_mb = used / 2**20

    def failed(self, op: Op) -> None:
        op.error = traceback.format_exc(limit=4)


def _timed(tracer: Tracer, name: str, fn):
    with tracer.span(name) as sp:
        out = fn()
    return out, sp.dur


# --------------------------------------------------------------------------
# trigger_replay
# --------------------------------------------------------------------------

def trigger_replay(run: Run, corpus: str) -> None:
    """Closed loop, one client: one EveryMinute trigger at a time over
    consecutive 60 s windows of ``events``, as the reference processor
    serves its window callbacks. Measures ``run.seconds`` triggers: the
    number the reference simulator fires in that time, one a second."""
    tr, spark = run.tracer, run.spark
    with tr.span("prepare", "prepare"):
        from pyspark.sql import functions as F  # noqa: PLC0415

        from orca_ztbus_python_processor_spark.plans.algorithms import proc  # noqa: PLC0415
        from orca_ztbus_python_processor_spark.plans.windows import (  # noqa: PLC0415
            EVERY_MINUTE,
            EVERY_MINUTE_PER_TRIP_PER_BUS,
        )
        from orca_ztbus_python_processor_spark.workloads.ztbus import (  # noqa: PLC0415
            telemetry_from_events,
        )

    window_types = (EVERY_MINUTE, EVERY_MINUTE_PER_TRIP_PER_BUS)
    rng = random.Random(run.seed)
    # Leave room for far more triggers than any run makes.
    start = EVENTS_START + dt.timedelta(minutes=rng.randrange(EVENTS_DAYS * 1440 - 1440))

    def trigger(i: int, region: str) -> None:
        a = start + dt.timedelta(minutes=i)
        b = a + dt.timedelta(minutes=1)
        op = Op(f"t{i:04d}", region, "trigger", name=a.isoformat())
        rows = []
        with tr.span("op", op.rid):
            try:
                run.phase(op, "build")
                tel, t = _timed(tr, "sources.read", lambda: telemetry_from_events(spark, corpus).where(
                    (F.col("time") >= F.lit(a)) & (F.col("time") < F.lit(b))))
                op.build_s += t
                for wt in window_types:
                    run.phase(op, "build")
                    fused, t = _timed(tr, "plans.compile",
                                      lambda wt=wt: proc.compile_window_type(tel, wt, "time", "60 seconds"))
                    op.build_s += t
                    melted, t = _timed(tr, "plans.melt", lambda wt=wt: proc.melt_results(fused, wt))
                    op.build_s += t
                    run.phase(op, "exec")
                    got, t = _timed(tr, "spark.action", melted.collect)
                    op.exec_s += t
                    rows.extend(got)
            except Exception:
                run.failed(op)
        run.finish(op)
        op.result = rows
        run.ops.append(op)

    with tr.span("cold", "cold"):
        for i in range(TRIGGER_WARMUP):
            trigger(i, "cold")
    end_i = TRIGGER_WARMUP + int(run.seconds)
    with tr.span("measure", "measure"):
        for i in range(TRIGGER_WARMUP, end_i):
            trigger(i, "measure")
    run.snapshot_memory()

    # Check: the union of the per-trigger results equals one batch
    # compile over the whole replayed range.
    with tr.span("check", "check"):
        end = start + dt.timedelta(minutes=end_i)
        run.inputs = {"window_from": start.isoformat(), "window_to": end.isoformat(),
                      "triggers": end_i,
                      "window_rows": _window_rows(corpus, start, TRIGGER_WARMUP, end_i)}
        tel = telemetry_from_events(spark, corpus).where(
            (F.col("time") >= F.lit(start)) & (F.col("time") < F.lit(end)))
        by_window: dict[str, Counter] = {}
        for wt in window_types:
            compiled = proc.compile_window_type(tel, wt, "time", "60 seconds")
            for r in proc.melt_results(compiled, wt).collect():
                by_window.setdefault(r["window"]["time_from"].isoformat(), Counter())[_canon(r)] += 1
        for op in run.ops:
            got = Counter(_canon(r) for r in op.result)
            want = by_window.get(op.name, Counter())
            ok = not op.error and got == want
            run.checks.append({"rid": op.rid, "ok": ok, "rows": sum(got.values()), "reason": "" if ok else (
                op.error or f"{sum(got.values())} rows vs {sum(want.values())} from batch")})
            op.result = None


def _window_rows(corpus: str, start: dt.datetime, first: int, end: int) -> int:
    """Events inside the measured triggers' windows (for the useful-row ratio)."""
    ts = pq.read_table(os.path.join(corpus, "events.parquet"), columns=["ts"]).column("ts")
    ts = ts.to_numpy()
    lo = np.datetime64(start + dt.timedelta(minutes=first), "us")
    hi = np.datetime64(start + dt.timedelta(minutes=end), "us")
    return int(np.searchsorted(ts, hi) - np.searchsorted(ts, lo))


def _canon(value):
    """Hashable, order-free form of a result row; floats to 10 digits."""
    if hasattr(value, "asDict"):
        value = value.asDict()
    if isinstance(value, dict):
        return tuple(sorted((k, _canon(v)) for k, v in value.items()))
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    if isinstance(value, float):
        return "nan" if math.isnan(value) else float(f"{value:.10g}")
    if isinstance(value, dt.datetime):
        return value.isoformat()
    return value


# --------------------------------------------------------------------------
# catalog sample and stream drain
# --------------------------------------------------------------------------

def draw_sample(family: str, seed: int) -> list[str]:
    """One query from each stratum of cost-neighbours in ``costs.json``."""
    with open(os.path.join(HERE, "costs.json")) as f:
        strata = json.load(f)[family]["strata"]
    rng = random.Random(seed)
    return [rng.choice(sorted(s)) for s in strata]


def _passes(run: Run, corpus: str, family: str, kind: str, build_span: str, execute):
    """Draw the family's sample and run it a cold pass, then
    MEASURED_PASSES measured passes. Each op builds with ``fn()`` under
    ``build_span`` and runs ``execute(df)`` as its Spark action; the
    action's result is kept on the op for the correctness check."""
    tr, spark = run.tracer, run.spark
    with tr.span("prepare", "prepare"):
        from orca_ztbus_python_processor_spark.workloads.base import merged_catalog  # noqa: PLC0415

        cat = merged_catalog()
        names = draw_sample(family, run.seed)
    run.inputs = {"queries": names}

    def one(name: str, region: str, p: int) -> None:
        fn = cat.queries[name]
        op = Op(f"{name}:p{p}", region, kind, name=name, module=fn.__module__.rsplit(".", 1)[-1],
                pass_no=p)
        with tr.span("op", op.rid):
            try:
                run.phase(op, "build")
                df, op.build_s = _timed(tr, build_span, lambda: fn(spark, corpus))
                run.phase(op, "exec")
                op.result, op.exec_s = _timed(tr, "spark.action", lambda: execute(df))
            except Exception:
                run.failed(op)
        run.finish(op)
        run.ops.append(op)

    with tr.span("cold", "cold"):
        for n in names:
            one(n, "cold", 1)
    with tr.span("measure", "measure"):
        for p in range(2, 2 + MEASURED_PASSES):
            with tr.span("pass", f"p{p}"):
                for n in names:
                    one(n, "measure", p)
    run.snapshot_memory()
    return cat


def catalog_sample(run: Run, corpus: str) -> None:
    """Stratified sample of batch catalog queries, each built with
    ``fn()`` and executed through the ``noop`` sink, pass after pass."""
    cat = _passes(run, corpus, "catalog", "query", "workloads.build",
                  lambda df: df.write.format("noop").mode("overwrite").save())
    # Outside the timed regions: oracle-paired sampled queries against
    # DuckDB over the same corpus.
    with run.tracer.span("check", "check"):
        for op in run.ops:
            if op.error:
                run.checks.append({"rid": op.rid, "ok": False, "reason": op.error})
        paired = [n for n in run.inputs["queries"] if n in cat.oracles]
        checked = random.Random(run.seed + 1).sample(paired, min(CATALOG_CHECKS, len(paired)))
        run.extra_checks = len(checked)
        con = oracle.connect(corpus)
        try:
            for n in checked:
                run.checks.append(_oracle_check(
                    n, lambda n=n: cat.queries[n](run.spark, corpus).toPandas(), con,
                    cat.oracles[n]))
        finally:
            con.close()


def _oracle_check(name: str, spark_result, con, sql: str) -> dict:
    try:
        ok, reason = oracle.same_rows(spark_result(), con.execute(sql).df())
    except Exception:
        ok, reason = False, traceback.format_exc(limit=4)
    return {"rid": name, "ok": ok, "reason": reason}


def stream_drain(run: Run, corpus: str) -> None:
    """Stratified sample of streaming catalog queries, each drained
    availableNow by ``fn()`` and then read back, pass after pass."""
    with run.tracer.span("prepare", "prepare"):
        from perfbench.tracing import make_progress_listener  # noqa: PLC0415

        run.listener = make_progress_listener(lambda: run.current_rid)
        run.spark.streams.addListener(run.listener)
    try:
        cat = _passes(run, corpus, "stream", "stream", "streaming.drain", lambda df: df.toPandas())
    finally:
        with run.tracer.span("check", "check"):
            run.listener.drain()
            run.spark.streams.removeListener(run.listener)

    with run.tracer.span("check", "check"):
        con = oracle.connect(corpus)
        try:
            for op in run.ops:
                if op.error:
                    run.checks.append({"rid": op.rid, "ok": False, "reason": op.error})
                elif op.name in cat.oracles:
                    run.checks.append(_oracle_check(op.rid, lambda op=op: op.result, con,
                                                    cat.oracles[op.name]))
                else:  # rows-only query: the drain must have produced rows
                    ok = len(op.result) > 0
                    run.checks.append({"rid": op.rid, "ok": ok, "reason": "" if ok else "no rows"})
                op.result = None
        finally:
            con.close()


WORKLOADS = {
    "trigger_replay": trigger_replay,
    "catalog_sample": catalog_sample,
    "stream_drain": stream_drain,
}
