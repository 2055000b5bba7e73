"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``orca_ztbus_python_processor_spark/``; this
module is a thin adapter.

The driver samples the first 50 entries of ``queries()``. They are the
queries no driver round has verified in their current form: a query
whose fingerprint (``workloads.base.fingerprints``: its code, the
package code it reaches, its oracle SQL) differs from the one recorded
in ``workloads/verified.json``, or that has none. After each round,
record what it verified with

    python scripts/record_verified.py CORRECTNESS_rNN.json REV

where REV is the git revision the round ran.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from orca_ztbus_python_processor_spark.workloads.base import (  # noqa: E402
    merged_catalog,
    sample_order,
)

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the EP3 rewrite (SURVEY.md §3): the reference's
    1 EveryMinute → N derived windows → 5 algorithms × N rescans
    collapsed into one fused groupBy(minute, user) aggregation.
    """
    from orca_ztbus_python_processor_spark.workloads.timeseries import (  # noqa: PLC0415
        fused_per_user_minute,
    )

    return fused_per_user_minute(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, unverified
    queries first (see the module docstring)."""
    cat = merged_catalog()
    return {name: cat.queries[name] for name in sample_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return dict(merged_catalog().oracles)
