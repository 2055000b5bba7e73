"""Measure warm per-query cost of the catalog and write ``costs.json``.

The catalog and stream samples draw one query from each stratum of
cost-neighbours, so that two seeds draw samples of about the same cost
and a run's sum does not swing with the draw. This script measures the
costs (build plus execute of every query's second run, in one session
on the benchmark's corpus; see ``measure``) and rebuilds the strata:

    python3 perfbench/measure_costs.py

It takes about 15 minutes on 4 cores. ``costs.json`` keeps each
stratum's queries with the cost measured for them. Queries added to the
catalog after the last measurement are in no stratum, so no sample
draws them until this script is run again.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import launch  # noqa: E402
from perfbench.datagen import ensure_corpus  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.01
SEED = 42
# Sample plan: for each batch module, the cost quantiles its strata sit
# at; each stratum holds the STRATUM_SIZE queries nearest that quantile.
# Small strata keep the cost of a seed's sample close to every other
# seed's; more strata sample more of the catalog but lengthen a run.
CATALOG_QUANTILES = {
    "pipelineops": (0.5,), "registrations": (0.5,), "relational": (0.3, 0.7),
    "subqueries": (0.5,), "textops": (0.5,), "timeseries": (0.5,),
    "tpchplus": (0.5,), "vectors": (0.5,), "ztbus": (0.5,),
}
STREAM_QUANTILES = (0.15, 0.35, 0.55, 0.75)
STRATUM_SIZE = 3
CATALOG_PICKS = sum(len(q) for q in CATALOG_QUANTILES.values())
STREAM_PICKS = len(STREAM_QUANTILES)


def strata(costs: dict[str, float], quantiles: tuple[float, ...]) -> list[dict[str, float]]:
    """Disjoint strata: for each quantile of the costs, the STRATUM_SIZE
    queries whose cost is nearest the cost at that quantile, with their
    costs."""
    order = sorted(costs, key=lambda n: (costs[n], n))
    size = min(STRATUM_SIZE, max(1, len(order) // len(quantiles)))
    out, taken = [], set()
    for q in quantiles:
        target = costs[order[round(q * (len(order) - 1))]]
        free = [n for n in order if n not in taken]
        group = sorted(free, key=lambda n: (abs(costs[n] - target), n))[:size]
        taken.update(group)
        out.append({n: costs[n] for n in sorted(group)})
    return out


def measure() -> dict[str, float]:
    """Warm cost of every query, measured as the benchmark runs them: in
    chunks the size of a sample, a cold pass over the chunk and then a
    timed warm pass, so the queries run between a query's two runs are
    as many as in a benchmark run."""
    from orca_ztbus_python_processor_spark.session import (  # noqa: PLC0415
        ensure_engine_confs,
        get_spark,
    )
    from orca_ztbus_python_processor_spark.workloads.base import merged_catalog  # noqa: PLC0415

    corpus = ensure_corpus(os.path.join(launch.WORK, "corpus", f"sf{SF}-seed{SEED}"), SF, SEED)
    spark = get_spark("perfbench-costs", launch.cores())
    ensure_engine_confs(spark)
    queries = merged_catalog().queries
    batch = sorted(n for n in queries if not n.startswith("stream_"))
    stream = sorted(n for n in queries if n.startswith("stream_"))
    chunks = [batch[i:i + CATALOG_PICKS] for i in range(0, len(batch), CATALOG_PICKS)]
    chunks += [stream[i:i + STREAM_PICKS] for i in range(0, len(stream), STREAM_PICKS)]

    def run(name: str) -> float:
        t0 = time.perf_counter()
        df = queries[name](spark, corpus)
        if name.startswith("stream_"):
            df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out: dict[str, float] = {}
    try:
        for chunk in chunks:
            for name in chunk:
                run(name)
            for name in chunk:
                out[name] = round(run(name), 4)
                print(name, out[name], flush=True)
    finally:
        spark.stop()
    return out


def plan(costs: dict[str, float]) -> dict:
    from orca_ztbus_python_processor_spark.workloads.base import merged_catalog  # noqa: PLC0415

    queries = merged_catalog().queries
    module = {n: queries[n].__module__.rsplit(".", 1)[-1] for n in costs if n in queries}
    batch = {n: c for n, c in costs.items() if n in module and not n.startswith("stream_")}
    stream = {n: c for n, c in costs.items() if n in module and n.startswith("stream_")}
    cat_strata = []
    for mod, qs in sorted(CATALOG_QUANTILES.items()):
        cat_strata += strata({n: c for n, c in batch.items() if module[n] == mod}, qs)
    return {
        "sf": SF,
        "host": f"{launch.cores()} cores",
        "catalog": {"strata": cat_strata},
        "stream": {"strata": strata(stream, STREAM_QUANTILES)},
    }


def main() -> None:
    run_dir = launch.make_run_dir("costs")
    os.environ.update(launch.spark_env(run_dir, trace=False))
    try:
        costs = measure()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(HERE, "costs.json"), "w") as f:
        json.dump(plan(costs), f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
