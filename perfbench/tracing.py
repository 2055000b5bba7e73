"""Spans, Spark job-group counts, streaming progress and event-log rollups.

Spans are kept in memory by the benchmark's own code, around each call
it makes into a layer of the program, and written out when the run ends.
A span's layer is the part of its name before the first dot
(``plans.compile`` → ``plans``); names without a dot belong to the
benchmark's own loop (``bench``).
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    rid: str  # request id: trigger index, or query name plus pass

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0] if "." in self.name else "bench"


class Tracer:
    """Nested spans recorded from one thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rid: str = ""):
        parent = self._stack[-1] if self._stack else -1
        if not rid and parent >= 0:
            rid = self.spans[parent].rid
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, rid))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def descendants(self, root: int) -> list[int]:
        out, frontier = [], {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].parent in frontier:
                frontier.add(i)
                out.append(i)
        return out

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per layer under ``root``: each span's duration minus
        the durations of its direct children, summed by layer."""
        ids = [root, *self.descendants(root)]
        child_sum: dict[int, float] = defaultdict(float)
        for i in ids[1:]:
            child_sum[self.spans[i].parent] += self.spans[i].dur
        out: dict[str, float] = defaultdict(float)
        for i in ids:
            out[self.spans[i].layer] += self.spans[i].dur - child_sum[i]
        return dict(out)


def reconcile(tracer: Tracer, first_span: int, wall: float, measure_root: int) -> dict:
    """Check the spans of a workload against ``wall``, its duration on a
    clock outside the tracer: the layer self times of the root spans
    from ``first_span`` on must account for all but 1 % of the wall (no
    untraced work), and the benchmark's own loop ("bench") may hold at
    most 5 % of the measured region."""
    layers: dict[str, float] = defaultdict(float)
    for i in range(first_span, len(tracer.spans)):
        if tracer.spans[i].parent == -1:
            for layer, t in tracer.self_times(i).items():
                layers[layer] += t
    traced = sum(layers.values())
    untraced = (wall - traced) / wall if wall > 0 else 1.0
    measure = tracer.self_times(measure_root)
    bench = measure.get("bench", 0.0) / tracer.spans[measure_root].dur
    ok = -0.01 <= untraced <= 0.01 and bench <= 0.05
    return {"wall_s": wall, "traced_s": traced, "untraced_share": untraced,
            "bench_share_of_measure": bench, "layers": dict(layers), "ok": ok}


class JobGroups:
    """Job, stage and task counts per Spark job group, read back through
    ``SparkContext.statusTracker()`` after the group's work finished."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._tracker = sc.statusTracker()

    def set(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def counts(self, group: str) -> dict[str, int]:
        jobs = stages = tasks = 0
        for jid in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is not None and st.numTasks > 0:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def make_progress_listener(current_rid):
    """A ``StreamingQueryListener`` that keeps every micro-batch's
    progress, tagged with the request id that started its query.

    ``current_rid`` is a zero-argument callable read when a query starts.
    """
    from pyspark.sql.streaming import StreamingQueryListener  # noqa: PLC0415

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.rid_of_run: dict[str, str] = {}
            self.batches: list[dict] = []
            self.started = 0
            self.terminated = 0

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.rid_of_run[str(event.runId)] = current_rid()
                self.started += 1

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            rec = {
                "run": str(p.runId),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
            }
            with self.lock:
                rec["rid"] = self.rid_of_run.get(rec["run"], "")
                self.batches.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.terminated += 1

        def drain(self, timeout_s: float = 5.0) -> None:
            """Wait until every started query's termination was delivered
            (the listener bus is asynchronous)."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                with self.lock:
                    if self.terminated >= self.started:
                        return
                time.sleep(0.01)

    return ProgressListener()


def eventlog_rollup(path: str) -> dict[str, dict[str, float]]:
    """Job wall and task metrics from one application's Spark event log,
    summed per job group id (jobs without a group under "")."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"]
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                jid = ev["Job ID"]
                acc = out[job_group[jid]]
                acc["jobs"] += 1
                acc["job_active_ms"] += ev["Completion Time"] - job_start[jid]
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                _add_task(out[stage_group[ev["Stage ID"]]], ev)
    return {k: dict(v) for k, v in out.items()}


def _add_task(acc: dict[str, float], ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    ser_ms = m.get("Result Serialization Time", 0)
    duration = info["Finish Time"] - info["Launch Time"]
    getting = info.get("Getting Result Time", 0)
    getting_ms = info["Finish Time"] - getting if getting else 0
    sr, sw, inp = (m.get(k) or {} for k in
                   ("Shuffle Read Metrics", "Shuffle Write Metrics", "Input Metrics"))
    acc["tasks"] += 1
    acc["task_run_ms"] += run_ms
    acc["task_cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    acc["scheduler_delay_ms"] += max(0, duration - run_ms - deser_ms - ser_ms - getting_ms)
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    acc["input_bytes"] += inp.get("Bytes Read", 0)
    acc["input_rows"] += inp.get("Records Read", 0)
