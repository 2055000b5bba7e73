"""The Spark process of a benchmark run: sets up a session, runs the
workload, checks its outputs and writes everything it measured to
``--out`` as JSON.

Set-up time runs from ``PERFBENCH_SPAWN_EPOCH`` (when the parent
started this process) until a warmed session has answered one action.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from perfbench.tracing import Tracer, eventlog_rollup


def setup(tracer: Tracer, spawn_epoch: float) -> tuple[object, dict]:
    t = {}
    with tracer.span("session.import") as sp:
        from orca_ztbus_python_processor_spark.session import (  # noqa: PLC0415
            ensure_engine_confs,
            get_spark,
        )
    t["import_s"] = sp.dur
    with tracer.span("session.catalog_import") as sp:
        from orca_ztbus_python_processor_spark.workloads.base import merged_catalog  # noqa: PLC0415

        merged_catalog()
    t["catalog_import_s"] = sp.dur
    with tracer.span("session.get_spark") as sp:
        spark = get_spark("perfbench", int(os.environ["SPARK_GRAFT_CPUS"]))
    t["get_spark_s"] = sp.dur
    # Two conf sets and ship_package(), which is nearly all of its time.
    with tracer.span("session.ensure_engine_confs") as sp:
        ensure_engine_confs(spark)
    t["ship_package_s"] = sp.dur
    with tracer.span("session.warm") as sp:
        spark.range(1 << 16).selectExpr("sum(id)").collect()
    t["warm_s"] = sp.dur
    t["setup_s"] = time.time() - spawn_epoch
    return spark, t


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of the driver JVM (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--eventlog", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    tracer = Tracer()
    spark, session = setup(tracer, float(os.environ["PERFBENCH_SPAWN_EPOCH"]))
    pid = jvm_pid(spark)
    from perfbench.workloads import WORKLOADS, Run  # noqa: PLC0415

    run = Run(spark, tracer, bool(args.trace), args.seed, args.seconds)
    # A clock outside the tracer, against which the spans the workload
    # records are reconciled.
    first_span = len(tracer.spans)
    t0 = time.perf_counter()
    WORKLOADS[args.workload](run, args.corpus)
    workload_wall_s = time.perf_counter() - t0
    out = dict(
        session=session,
        workload={"first_span": first_span, "wall_s": workload_wall_s},
        jvm_pid=pid,
        peak_rss_mb=peak_rss_mb(pid),
        retained_mb=run.retained_mb,
        driver_gc=run.driver_gc,
        inputs=run.inputs,
        attempted=len(run.ops) + run.extra_checks,
        checks=run.checks,
        ops=[{k: v for k, v in vars(op).items() if k != "result"} for op in run.ops],
        batches=run.listener.batches if run.listener is not None else [],
        stream_runs=run.listener.rid_of_run if run.listener is not None else {},
    )
    app_id = spark.sparkContext.applicationId
    spark.stop()
    # The event log is complete only once the context has stopped.
    out["groups"] = eventlog_rollup(os.path.join(args.eventlog, app_id)) if args.trace else {}
    out["spans"] = [[s.name, s.start, s.end, s.parent, s.rid] for s in tracer.spans]
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
