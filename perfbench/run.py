"""spark-graft benchmark: trigger replay, catalog sample and stream drain.

    python3 perfbench/run.py --workload trigger_replay --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run generates its corpus (cached in
``.perfbench_work/``), starts one worker process that sets up a Spark
session, runs the workload and checks its outputs, waits for the worker
and its JVM to end, then prints the metrics. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Details, spans included, go to
``.perfbench_work/results/``.

Workloads and metrics are described in ``BENCHMARK.json`` at the root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import launch  # noqa: E402
from perfbench.datagen import ensure_corpus  # noqa: E402
from perfbench.measure_costs import CATALOG_QUANTILES  # noqa: E402
from perfbench.tracing import Span, Tracer, reconcile  # noqa: E402

CORPUS_SEED = 42
# Scale of each workload's corpus. Catalog and stream queries run at
# sf 0.01: at sf 0.1 a 4-core host spends about 2 s per catalog query,
# too long for a stratified sample inside one run.
CORPUS_SF = {"trigger_replay": 0.1, "catalog_sample": 0.01, "stream_drain": 0.01}


def _spawn(args: list[str], env: dict, deadline: float) -> None:
    env = dict(env, PERFBENCH_SPAWN_EPOCH=repr(time.time()))
    proc = subprocess.Popen([sys.executable, "-m", "perfbench.worker", *args],
                            cwd=launch.ROOT, env=env, stdout=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("worker ran past the run's deadline") from None
    if code != 0:
        raise SystemExit(f"worker exited with code {code}")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in "ZX"
    except FileNotFoundError:
        return False


def _wait_gone(pid: int, deadline: float) -> None:
    """Wait for the worker's JVM (a child the worker leaves behind when
    it exits) to end; kill it at the deadline."""
    while _alive(pid) and time.monotonic() < deadline:
        time.sleep(0.05)
    if _alive(pid):
        os.kill(pid, signal.SIGKILL)
        while _alive(pid):
            time.sleep(0.05)


def _tracer(spans: list) -> Tracer:
    tr = Tracer()
    tr.spans = [Span(*s) for s in spans]
    return tr


def _root(tr: Tracer, name: str) -> int:
    return next(i for i, s in enumerate(tr.spans) if s.name == name and s.parent == -1)


def end_to_end(res: dict) -> dict[str, float]:
    """A request is one op, the unit a user of each workload waits for:
    a trigger, or a query (built, then executed or drained and read
    back). Median request latency, and ops completed per second of the
    measured region's busy time."""
    lat = [o["build_s"] + o["exec_s"] for o in res["ops"]
           if o["region"] == "measure" and not o["error"]]
    if not lat:
        raise SystemExit("no operation completed in the measured region")
    return {
        "setup_s": res["session"]["setup_s"],
        "request_p50_ms": statistics.median(lat) * 1000.0,
        "ops_per_s": len(lat) / sum(lat),
    }


def _pass_walls(meas: list[dict]) -> list[float]:
    """Busy seconds of each measured pass over the sample."""
    walls: dict[int, float] = {}
    for o in meas:
        walls[o["pass_no"]] = walls.get(o["pass_no"], 0.0) + o["build_s"] + o["exec_s"]
    return [walls[p] for p in sorted(walls)]


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# Layer whose calls run the Spark jobs of an op's build phase.
BUILD_LAYER = {"trigger": "plans", "query": "workloads", "stream": "streaming"}


def eventlog_by_layer(res: dict) -> dict[str, dict[str, float]]:
    """Event-log totals of the measured ops, per layer: build-phase jobs
    (and the jobs of the streaming queries an op started, whose job
    group is the query's run id) under the layer that ran them,
    exec-phase jobs under ``spark``."""
    kind = {o["rid"]: o["kind"] for o in res["ops"] if o["region"] == "measure"}
    out: dict[str, dict[str, float]] = {}
    for group, acc in res["groups"].items():
        rid, _, phase = group.rpartition(":")
        if group in res["stream_runs"]:
            rid, phase = res["stream_runs"][group], "build"
        if rid not in kind:
            continue
        layer = "spark" if phase == "exec" else BUILD_LAYER[kind[rid]]
        tot = out.setdefault(layer, {})
        for k, v in acc.items():
            tot[k] = tot.get(k, 0.0) + v
    return out


def per_layer(res: dict, tr: Tracer) -> dict[str, float]:
    """Per-op figures are means over the measured ops; totals are per
    measured pass on the pass workloads, and over all measured triggers
    on trigger_replay."""
    meas = [o for o in res["ops"] if o["region"] == "measure"]
    n = len(meas) or 1
    passes = len({o["pass_no"] for o in meas}) or 1
    rids = {o["rid"] for o in meas}
    trig = [o for o in meas if o["kind"] == "trigger"]
    queries = [o for o in meas if o["kind"] == "query"]
    streams = [o for o in meas if o["kind"] == "stream"]
    root = _root(tr, "measure")

    def spans(name: str) -> list[float]:
        return [tr.spans[i].dur for i in tr.descendants(root) if tr.spans[i].name == name]

    ev: dict[str, float] = {}
    for acc in eventlog_by_layer(res).values():
        for k, v in acc.items():
            ev[k] = ev.get(k, 0.0) + v

    def jobs(ops: list[dict], phase: str, key: str = "jobs") -> int:
        return sum(o["counts"].get(phase, {}).get(key, 0) for o in ops)

    batches = [b for b in res["batches"] if b["rid"] in rids]
    fed = [b for b in batches if b["rows"] > 0]

    def batch_ms(key: str) -> float:
        return _mean([b["ms"].get(key, 0) for b in fed])

    last_state: dict[str, dict] = {}
    for b in batches:
        last_state[b["run"]] = b
    input_rows = ev.get("input_rows", 0.0)
    sess = res["session"]
    m = {
        "session.get_spark_s": sess["get_spark_s"],
        "session.ship_package_s": sess["ship_package_s"],
        "session.catalog_import_s": sess["catalog_import_s"],
        "sources.read_ms": _mean(spans("sources.read")) * 1000.0,
        "sources.input_rows_per_op": input_rows / n,
        "sources.useful_row_ratio": (res["inputs"]["window_rows"] / input_rows
                                     if trig and input_rows else 0.0),
        "sources.input_bytes": ev.get("input_bytes", 0.0) / passes,
        "plans.compile_ms": _mean(spans("plans.compile")) * 1000.0,
        "plans.melt_ms": _mean(spans("plans.melt")) * 1000.0,
        "spark.action_ms": sum(spans("spark.action")) * 1000.0 / n,
        "spark.driver_peak_rss_mb": res["peak_rss_mb"],
        "spark.driver_retained_mb": res["retained_mb"],
        "spark.jobs_per_op": (jobs(meas, "build") + jobs(meas, "exec")) / n,
        "spark.stages_per_op": (jobs(meas, "build", "stages") + jobs(meas, "exec", "stages")) / n,
        "spark.tasks_per_op": (jobs(meas, "build", "tasks") + jobs(meas, "exec", "tasks")) / n,
        "spark.job_active_ms": ev.get("job_active_ms", 0.0) / n,
        "spark.task_cpu_s": ev.get("task_cpu_ns", 0.0) / 1e9 / passes,
        "spark.gc_s": ev.get("gc_ms", 0.0) / 1000.0 / passes,
        "spark.shuffle_write_bytes": ev.get("shuffle_write_bytes", 0.0) / passes,
        "spark.shuffle_read_bytes": ev.get("shuffle_read_bytes", 0.0) / passes,
        "spark.spill_bytes": ev.get("spill_bytes", 0.0) / passes,
        "spark.scheduler_delay_s": ev.get("scheduler_delay_ms", 0.0) / 1000.0 / passes,
        "workloads.build_s": sum(o["build_s"] for o in queries) / passes,
        "workloads.exec_s": sum(o["exec_s"] for o in queries) / passes,
        "workloads.build_jobs": jobs(queries, "build") / passes,
        "workloads.exec_jobs": jobs(queries, "exec") / passes,
        "workloads.cold_pass_s": tr.spans[_root(tr, "cold")].dur,
    }
    for mod in sorted(CATALOG_QUANTILES):
        mq = [o for o in queries if o["module"] == mod]
        m[f"workloads.{mod}.build_s"] = sum(o["build_s"] for o in mq) / passes
        m[f"workloads.{mod}.exec_s"] = sum(o["exec_s"] for o in mq) / passes
    m.update({
        "streaming.batches": len(batches) / passes,
        "streaming.no_data_batches": (len(batches) - len(fed)) / passes,
        "streaming.useful_batch_ratio": len(fed) / len(batches) if batches else 0.0,
        "streaming.batch_p50_ms": statistics.median(b["ms"].get("triggerExecution", 0) for b in fed)
        if fed else 0.0,
        "streaming.add_batch_ms": batch_ms("addBatch"),
        "streaming.wal_commit_ms": batch_ms("walCommit"),
        "streaming.commit_offsets_ms": batch_ms("commitOffsets"),
        "streaming.query_planning_ms": batch_ms("queryPlanning"),
        "streaming.latest_offset_ms": batch_ms("latestOffset"),
        "streaming.state_commit_ms": _mean([b["state_commit_ms"] for b in fed]),
        "streaming.state_rows": sum(b["state_rows"] for b in last_state.values()) / passes,
        "streaming.state_memory_bytes": sum(b["state_bytes"] for b in last_state.values()) / passes,
        "streaming.drain_s": sum(o["build_s"] for o in streams) / passes,
        "streaming.readback_s": sum(o["exec_s"] for o in streams) / passes,
    })
    self_t = tr.self_times(root)
    m["bench.trace_overhead_pct"] = 100.0 * self_t.get("trace", 0.0) / tr.spans[root].dur
    return m


def summary_lines(workload: str, res: dict, e2e: dict, failed: int, attempted: int) -> list[str]:
    """The end-to-end metrics this workload defines, by name and unit."""
    meas = [o for o in res["ops"] if o["region"] == "measure" and not o["error"]]
    out = [f"setup_s {e2e['setup_s']:.3f} s"]
    if workload == "trigger_replay":
        out.append(f"trigger_p50_ms {e2e['request_p50_ms']:.1f} ms (n={len(meas)})")
        out.append(f"trigger_p95_ms n/a: {len(meas)} triggers, p95 needs 200")
        out.append(f"triggers_per_s {e2e['ops_per_s']:.3f} 1/s")
    else:
        name = "catalog_warm_s" if workload == "catalog_sample" else "stream_drain_s"
        walls = _pass_walls(meas)
        out.append(f"{name} {walls[0]:.3f} s (second pass; later passes "
                   f"{', '.join(f'{w:.3f}' for w in walls[1:])} s)")
        out.append(f"query_p50_ms {e2e['request_p50_ms']:.1f} ms (n={len(meas)}), "
                   f"queries_per_s {e2e['ops_per_s']:.3f} 1/s")
    if workload == "stream_drain":
        rids = {o["rid"] for o in meas}
        fed = [b["ms"].get("triggerExecution", 0) for b in res["batches"]
               if b["rows"] > 0 and b["rid"] in rids]
        if fed:
            out.append(f"stream_batch_p50_ms {statistics.median(fed):.1f} ms "
                       f"({len(fed)} micro-batches with input)")
    out.append(f"peak_rss_mb {res['peak_rss_mb']:.1f} MB (driver JVM VmHWM)")
    out.append(f"driver_retained_mb {res['retained_mb']:.1f} MB (heap + non-heap after GC)")
    out.append(f"failed_ratio {failed / attempted:.4f} ({failed} of {attempted})")
    return out


def declared(trace: int) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(launch.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> None:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(CORPUS_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + 170.0

    if not os.path.isfile(os.path.join(launch.ROOT, "orca_ztbus_python_processor_spark", "session.py")):
        raise SystemExit(f"program sources not found under {launch.ROOT}")

    host = launch.HostMeter()
    host.start()
    sf = CORPUS_SF[args.workload]
    corpus = ensure_corpus(os.path.join(launch.WORK, "corpus", f"sf{sf}-seed{CORPUS_SEED}"),
                           sf, CORPUS_SEED)
    run_dir = launch.make_run_dir(f"{args.workload}-s{args.seed}-t{args.trace}")
    try:
        env = launch.spark_env(run_dir, bool(args.trace))
        work_out = os.path.join(run_dir, "workload.json")
        _spawn(["--workload", args.workload, "--corpus", corpus, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--eventlog", os.path.join(run_dir, "eventlog"), "--out", work_out], env, deadline)
        with open(work_out) as f:
            res = json.load(f)
        _wait_gone(res["jvm_pid"], deadline)
        launch_rec = launch.launch_record(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host_rec = host.stop()

    failed = sum(1 for c in res["checks"] if not c["ok"])
    attempted = res["attempted"]
    e2e = end_to_end(res)
    tr = _tracer(res["spans"])
    recon = reconcile(tr, res["workload"]["first_span"], res["workload"]["wall_s"],
                      _root(tr, "measure"))
    correct = failed == 0 and recon["ok"]
    metrics = per_layer(res, tr) if args.trace else e2e
    units = declared(args.trace)
    if set(units) != set(metrics):
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")

    results_dir = os.path.join(launch.WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".spans.json", "w") as f:
        json.dump(res.pop("spans"), f)
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "launch": launch_rec, "host": host_rec,
              "end_to_end": e2e,
              "reconcile": recon,
              "self_times": {k: tr.self_times(_root(tr, k)) for k in ("cold", "measure")},
              "eventlog_by_layer": eventlog_by_layer(res),
              "metrics": metrics, **res}
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1)

    print(f"workload {args.workload} seed {args.seed} inputs {json.dumps(res['inputs'])}")
    print(f"launch {json.dumps(launch_rec)}")
    print(f"host {json.dumps(host_rec)}")
    for line in summary_lines(args.workload, res, e2e, failed, attempted):
        print(line)
    print(f"reconcile: layer self times {recon['traced_s']:.3f} s vs workload wall "
          f"{recon['wall_s']:.3f} s on an outside clock ({100 * recon['untraced_share']:.2f} % "
          f"untraced), benchmark loop {100 * recon['bench_share_of_measure']:.2f} % of the "
          f"measured region ({'ok' if recon['ok'] else 'MISMATCH'})")
    if args.trace:
        untraced = stem[:-1] + "0.json"
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            print("tracing overhead vs untraced run of this seed: request_p50_ms "
                  f"{100.0 * (e2e['request_p50_ms'] / base['request_p50_ms'] - 1):+.1f} %")
        print(f"tracing overhead in-run (statusTracker reads): "
              f"{metrics['bench.trace_overhead_pct']:.2f} % of measured wall")
    for c in res["checks"]:
        if not c["ok"]:
            print(f"FAILED {c['rid']}: {c['reason'].strip().splitlines()[-1] if c['reason'] else ''}")
    print(f"correct {str(correct).lower()}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
