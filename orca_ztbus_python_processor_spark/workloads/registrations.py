"""Registry-compiled workload: proves the algorithm-registry → fused
plan compiler (``plans/registry.py``) against the DuckDB oracle on the
driver corpus.

The events table plays the telemetry role (SURVEY.md §3): three
versioned algorithms are registered against an ``EveryMinutePerUser``
window type and compiled into ONE fused aggregation — the same
machinery the ZTBus algorithms use (``plans/algorithms.py``), but
correctness-gated end-to-end by the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions.stats import f32, guarded_div
from orca_ztbus_python_processor_spark.plans.registry import Processor
from orca_ztbus_python_processor_spark.plans.windows import MetadataField, WindowType
from orca_ztbus_python_processor_spark.sources.parquet import read_table
from orca_ztbus_python_processor_spark.workloads.base import Catalog

CATALOG = Catalog()

EVERY_MINUTE_PER_USER = WindowType(
    "EveryMinutePerUser", "1.0.0", "per-user tumbling minute", (MetadataField("user_id"),)
)

events_proc = Processor("events_analyser")


@events_proc.algorithm("ValueStats", "1.0.0", EVERY_MINUTE_PER_USER)
def value_stats():
    return {
        "sum": f32(F.sum(F.coalesce(F.col("value"), F.lit(0.0)))),
        "mean": f32(F.avg("value")),
        "p95": f32(F.percentile("value", F.lit(0.95))),
    }


@events_proc.algorithm("ErrorRate", "1.0.0", EVERY_MINUTE_PER_USER)
def error_rate():
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return {
        "n_errors": n_err.cast("double"),
        "error_fraction": f32(guarded_div(n_err.cast("double"), F.count("*"))),
    }


def _prepare_value_diff(time_col: str, keys: tuple[str, ...]) -> list[tuple[str, Column]]:
    # diff resets at window boundaries, mirroring the reference's
    # per-window re-read semantics (processor/main.py:563-565); the
    # _time_from partition key shares the compiler's shuffle.
    w = W.partitionBy("_time_from", *keys).orderBy(time_col, "event_id")
    return [("d", F.coalesce(F.col("value") - F.lag("value").over(w), F.lit(0.0)))]


@events_proc.algorithm(
    "ValueDiff", "1.0.0", EVERY_MINUTE_PER_USER, prepare=_prepare_value_diff
)
def value_diff():
    return {"mean_d": f32(F.avg("d")), "std_d": f32(F.stddev_samp("d"))}


_FUSED_MINUTE_ORACLE = """
    WITH prep AS (
        SELECT date_trunc('minute', ts) AS m, user_id, value, event_type,
               coalesce(value - lag(value) OVER (
                   PARTITION BY date_trunc('minute', ts), user_id
                   ORDER BY ts, event_id), 0) AS d
        FROM events
    )
    SELECT m AS time_from,
           m + INTERVAL 1 MINUTE AS time_to,
           user_id,
           CAST(sum(coalesce(value, 0)) AS REAL) AS "ValueStats__sum",
           CAST(avg(value) AS REAL) AS "ValueStats__mean",
           CAST(quantile_cont(CAST(value AS DOUBLE), 0.95) AS REAL) AS "ValueStats__p95",
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE) AS "ErrorRate__n_errors",
           CAST(CASE WHEN count(*) > 0
                THEN CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE) / count(*)
                END AS REAL) AS "ErrorRate__error_fraction",
           CAST(avg(d) AS REAL) AS "ValueDiff__mean_d",
           CAST(stddev_samp(d) AS REAL) AS "ValueDiff__std_d"
    FROM prep
    GROUP BY m, user_id
    """


@CATALOG.query("registry_fused_minute", oracle=_FUSED_MINUTE_ORACLE)
def registry_fused_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events_proc.compile_window_type(events, EVERY_MINUTE_PER_USER, "ts", "60 seconds")


def bucketed_events_table(sf_dir: str) -> tuple[str, str]:
    """(table name, data path) for the bucketed-events demo table —
    BOTH deterministic per SOURCE CONTENT: the slug folds in the source
    events.parquet fingerprint (size + mtime_ns), so a regenerated
    sf_dir maps to a NEW table/path instead of silently reusing a
    stale layout cached by an earlier write in a long-lived session,
    and two processes only ever share a path when they would write
    identical content. The path is a stable per-user 0700 directory so
    repeated runs (bench reps, driver rounds, pytest sessions)
    overwrite one copy instead of leaking a fresh tempdir of full
    events data per process."""
    import getpass  # noqa: PLC0415
    import hashlib  # noqa: PLC0415
    import re  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    slug = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")
    try:
        st = os.stat(os.path.join(sf_dir, "events.parquet"))
        fp = hashlib.sha1(f"{st.st_size}:{st.st_mtime_ns}".encode()).hexdigest()[:10]
    except OSError:
        fp = "nosrc"
    slug = f"{slug}_{fp}"
    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_bucketed_{getpass.getuser()}"
    )
    os.makedirs(root, mode=0o700, exist_ok=True)
    return f"events_bucketed_{slug}", os.path.join(root, slug)


@CATALOG.query("events_bucketed_fused_minute", oracle=_FUSED_MINUTE_ORACLE)
def events_bucketed_fused_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-bucketed storage layout promised by docs/SCALE.md, run
    end-to-end: events is MATERIALIZED as a user_id-bucketed table
    (``sources/sinks.write_bucketed_table``) and the fused minute
    aggregation (same compiler + oracle as ``registry_fused_minute``)
    runs against it with ZERO Exchange — the bucketed scan's
    HashPartitioning(user_id) is a subset of every stage's required
    clustering ((_time_from, user_id) for both the ValueDiff window
    prepare and the fused groupBy), so the prepare sort is local and
    the aggregation never shuffles. At 100 TB this is the difference
    between re-shuffling the fact table per query and pre-paying one
    layout write; the zero-Exchange plan is pinned in
    tests/test_sinks_layout.py."""
    from orca_ztbus_python_processor_spark.sources.sinks import (  # noqa: PLC0415
        write_bucketed_table,
    )

    table, path = bucketed_events_table(sf_dir)
    if not spark.catalog.tableExists(table):
        events = read_table(spark, sf_dir, "events")
        write_bucketed_table(
            events,
            table,
            "user_id",
            n_buckets=8,
            sort_cols=("user_id", "ts"),
            path=path,
        )
    return events_proc.compile_window_type(
        spark.table(table), EVERY_MINUTE_PER_USER, "ts", "60 seconds"
    )
