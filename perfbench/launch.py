"""Launch environment the benchmark owns, and host readings around a run.

Everything a run writes stays under ``.perfbench_work/`` in the checkout
root: the generated corpus (kept across runs), and one scratch directory
per run holding Spark's conf dir, local dirs, temp dir, event log and
the worker's result file (removed when the run ends).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# Explicit, because the engine's default (16g) exceeds a 15 GiB host;
# large enough that no workload spills (spark.spill_bytes reads 0).
DRIVER_MEMORY = "3g"


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def make_run_dir(tag: str) -> str:
    path = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("conf", "local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(path, sub))
    return path


def spark_env(run_dir: str, trace: bool) -> dict[str, str]:
    """Child-process environment: a benchmark-owned Spark conf dir and
    every Spark/Python scratch path inside ``run_dir``.

    Console progress bars are turned off in ``spark-defaults.conf``
    because the conf is fixed at JVM launch (setting it at runtime raises
    ``CANNOT_MODIFY_CONFIG``). The event log is on only for traced runs.
    """
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata files under the host's /tmp.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with open(os.path.join(run_dir, "conf", "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())
    env = dict(os.environ)
    env.update({
        "SPARK_CONF_DIR": os.path.join(run_dir, "conf"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cores()),
        "PYSPARK_PYTHON": env.get("PYSPARK_PYTHON", sys.executable),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    })
    return env


def launch_record(run_dir: str) -> dict:
    return {
        "cores": cores(),
        "driver_memory": DRIVER_MEMORY,
        "spark_local_dirs": os.path.relpath(os.path.join(run_dir, "local"), ROOT),
        "tmpdir": os.path.relpath(os.path.join(run_dir, "tmp"), ROOT),
        "spark_conf_dir": os.path.relpath(os.path.join(run_dir, "conf"), ROOT),
        "mem_total_mb": _mem_total_mb(),
    }


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


class HostMeter:
    """CPU steal, iowait and busy shares from ``/proc/stat``, and load
    averages, between ``start()`` and ``stop()``. A run whose steal
    share is high shared its host with a busy neighbour."""

    def start(self) -> None:
        self._t0, self._cpu0 = time.time(), _cpu_times()
        self._load0 = _loadavg()

    def stop(self) -> dict:
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(d) or 1
        # /proc/stat cpu line: user nice system idle iowait irq softirq steal
        return {
            "wall_s": round(time.time() - self._t0, 3),
            "steal_share": round(d[7] / total, 4),
            "iowait_share": round(d[4] / total, 4),
            "busy_share": round((total - d[3] - d[4]) / total, 4),
            "load_start": self._load0,
            "load_end": _loadavg(),
        }


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
