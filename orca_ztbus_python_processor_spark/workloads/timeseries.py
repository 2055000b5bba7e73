"""Time-series / window workload over the ``events`` stream table —
the driver-corpus analog of the reference's ZTBus minute-window
algorithm dispatch (SURVEY.md §3).

Mapping to the reference:
  - ``events(ts, user_id, ...)``  ~  ``telemetry(time, trip_id, ...)``
  - minute buckets                ~  EveryMinute windows
    (reference ``simulator/main.py:85-112``)
  - per-(minute, user) fused agg  ~  EveryMinutePerTripPerBus × the 5
    per-trip algorithms collapsed into ONE pass (EP3 rewrite of
    reference ``processor/main.py:342-371,449-598``)
  - gap/run detection             ~  brake-run FSM
    (reference ``processor/main.py:296-338``) in its batch
    gap-and-islands form — pure window functions, no UDF.

Scale: every query here groups or windows by (time-bucket, user_id) —
exactly the keys a 100 TB layout would partition by (date) and bucket
by (user/trip), so the shuffles are either pruned or co-located. The
lag/window queries shuffle once on user_id and sort within partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions.stats import (
    column_stats,
    f32,
    guarded_div,
    oracle_column_stats,
)
from orca_ztbus_python_processor_spark.sources.parquet import read_table
from orca_ztbus_python_processor_spark.workloads.base import Catalog

CATALOG = Catalog()


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


# --------------------------------------------------------------------------
# distinct_active_triples — THE reference join (J1): time-range scan +
# broadcast equi-join on the dimension + DISTINCT over the key triple
# (reference processor/main.py:169-182 — FindActiveBuses' SELECT DISTINCT
# t.trip_id, tr.bus_id, tr.route_id ... JOIN ... WHERE time BETWEEN).
# customer stands in for trips; (user, nation, segment) for
# (trip, bus, route). Broadcast: dimension ships to every executor,
# no fact shuffle; distinct is a partial-agg.
# --------------------------------------------------------------------------
@CATALOG.query(
    "distinct_active_triples",
    oracle="""
    SELECT DISTINCT e.user_id, c.c_nationkey, c.c_mktsegment
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-12 00:00:00'
    """,
)
def distinct_active_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(
        F.col("ts").between("2024-01-05 00:00:00", "2024-01-12 00:00:00")
    )
    cust = read_table(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "inner")
        .select("user_id", "c_nationkey", "c_mktsegment")
        .distinct()
    )


# --------------------------------------------------------------------------
# active_users_per_minute — tumbling 60 s windows (ST1,
# reference simulator/main.py:85-93) + the FindActiveBuses count (A2,
# reference processor/main.py:353-371). Native F.window; the window
# struct is projected to start/end for the oracle.
# --------------------------------------------------------------------------
@CATALOG.query(
    "active_users_per_minute",
    oracle="""
    SELECT date_trunc('minute', ts) AS window_start,
           date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
           count(DISTINCT user_id) AS n_active_users,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def active_users_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "60 seconds").alias("w"))
        .agg(
            F.countDistinct("user_id").alias("n_active_users"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_active_users",
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# fused_per_user_minute — the EP3 rewrite and the engine's flagship:
# instead of the reference's 1 EveryMinute -> N derived windows -> 5
# algorithms x N re-scans of the same minute (processor/main.py:342-371
# then :449-598), ONE groupBy(minute, user) computes every algorithm's
# aggregates in a single pass. Covers A2-A9, A12, F4-F6.
# --------------------------------------------------------------------------
@CATALOG.query(
    "fused_per_user_minute",
    oracle="""
    SELECT date_trunc('minute', ts) AS window_start,
           user_id,
           count(*) AS n_events,
           CAST(sum(value) AS REAL) AS sum_value,
           CAST(avg(value) AS REAL) AS avg_value,
           CAST(min(value) AS REAL) AS min_value,
           CAST(max(value) AS REAL) AS max_value,
           CAST(stddev_samp(value) AS REAL) AS std_value,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
           CAST(CASE WHEN count(*) > 0
                THEN CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE) / count(*)
                END AS REAL) AS error_fraction
    FROM events
    GROUP BY 1, 2
    """,
)
def fused_per_user_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_errors = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    n_events = F.count("*")
    return (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("window_start"), F.col("user_id"))
        .agg(
            n_events.alias("n_events"),
            f32(F.sum("value")).alias("sum_value"),
            f32(F.avg("value")).alias("avg_value"),
            f32(F.min("value")).alias("min_value"),
            f32(F.max("value")).alias("max_value"),
            f32(F.stddev_samp("value")).alias("std_value"),
            n_errors.alias("n_errors"),
            f32(guarded_div(n_errors.cast("double"), n_events)).alias("error_fraction"),
        )
    )


# --------------------------------------------------------------------------
# value_describe — the describe() stat bundle (A10), global grain
# (reference other_metrics.py:27-38).
# --------------------------------------------------------------------------
@CATALOG.query(
    "value_describe",
    oracle=f"""
    SELECT event_type, {oracle_column_stats("value", "value_")}
    FROM events
    GROUP BY event_type
    """,
)
def value_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).groupBy("event_type").agg(*column_stats("value", "value_"))


# --------------------------------------------------------------------------
# value_quantiles_distributed — the corpus-grain EXACT quantile scale
# path (A7/A8): value_describe's F.percentile gathers each group's
# values into ONE aggregation buffer (right at per-key grain, a wall at
# corpus grain — measured 15x wall at 10x data), and approx_percentile
# trades error for scale. This entry computes the SAME exact
# interpolated quantiles with the distributed order statistic in
# functions/quantiles.py: histogram selection, per-bucket counts to
# the driver and a bounded fetch; no stage holds a whole group.
# Oracle: DuckDB quantile_cont — identical semantics.
# --------------------------------------------------------------------------
@CATALOG.query(
    "value_quantiles_distributed",
    oracle="""
    SELECT event_type,
           count(value) AS n,
           CAST(quantile_cont(CAST(value AS DOUBLE), 0.25) AS REAL) AS p25,
           CAST(quantile_cont(CAST(value AS DOUBLE), 0.50) AS REAL) AS p50,
           CAST(quantile_cont(CAST(value AS DOUBLE), 0.75) AS REAL) AS p75
    FROM events
    GROUP BY event_type
    """,
)
def value_quantiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        exact_group_quantiles,
    )

    return exact_group_quantiles(
        _events(spark, sf_dir), "event_type", "value", qs=(0.25, 0.5, 0.75)
    )


# --------------------------------------------------------------------------
# value_lag_diff — discrete derivative via lag-1 (W1, reference
# accel = speed.diff() / jerk = accel.diff(), processor/main.py:563-565),
# with the reference's fillna(0) coalesce (processor/main.py:493-503).
# One shuffle on user_id; sort within partition.
# --------------------------------------------------------------------------
@CATALOG.query(
    "value_lag_diff",
    oracle="""
    WITH diffed AS (
        SELECT event_id, user_id, ts,
               coalesce(value - lag(value)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) AS d
        FROM events
    )
    SELECT event_id, user_id,
           CAST(d AS REAL) AS d_value,
           CAST(d - coalesce(lag(d)
               OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) AS REAL) AS d2_value
    FROM diffed
    """,
)
def value_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    diffed = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("value") - F.lag("value").over(w), F.lit(0.0)).alias("d"),
    )
    d2 = F.col("d") - F.coalesce(F.lag("d").over(w), F.lit(0.0))
    return diffed.select(
        "event_id",
        "user_id",
        f32(F.col("d")).alias("d_value"),
        f32(d2).alias("d2_value"),
    )


# --------------------------------------------------------------------------
# user_sessions_gap — sessionization by inactivity gap: the batch
# gap-and-islands form of the reference's run FSM (W3/ST3,
# processor/main.py:296-338): a "session" closes when the next event is
# more than GAP away, exactly like a run closing on the first false
# sample. Pure window functions: lag -> boundary flag -> running sum ->
# group. No UDF, no collect.
# --------------------------------------------------------------------------
_GAP_US = 600_000_000  # 10 minutes


@CATALOG.query(
    "user_sessions_gap",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) > {_GAP_US}
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id, ts, event_id,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def user_sessions_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(
        prev_us.isNull() | (F.unix_micros(F.col("ts")) - prev_us > _GAP_US), 1
    ).otherwise(0)
    return (
        _events(spark, sf_dir)
        .withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# event_type_runs — gap-and-islands over a VALUE CHANGE (the exact W3
# rewrite of the reference FSM, processor/main.py:296-338: open a run
# when the flag rises, close when it falls; here generalized to runs of
# equal event_type per user).
# --------------------------------------------------------------------------
@CATALOG.query(
    "event_type_runs",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN event_type IS DISTINCT FROM
                         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    THEN 1 ELSE 0 END AS changed
        FROM events
    ), numbered AS (
        SELECT user_id, event_type, ts,
               CAST(sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        FROM flagged
    )
    SELECT user_id, run_id, event_type,
           min(ts) AS run_start, max(ts) AS run_end, count(*) AS n_events
    FROM numbered
    GROUP BY user_id, run_id, event_type
    """,
)
def event_type_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1
    ).otherwise(0)
    return (
        _events(spark, sf_dir)
        .withColumn("changed", changed)
        .withColumn("run_id", F.sum("changed").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "run_id", "event_type")
        .agg(
            F.min("ts").alias("run_start"),
            F.max("ts").alias("run_end"),
            F.count("*").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# json_props_by_type — JSON extraction from the props column (X6).
# get_json_object stays JVM-side (no Python UDF).
# --------------------------------------------------------------------------
@CATALOG.query(
    "json_props_by_type",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(avg(CAST(json_extract(props, '$.k') AS BIGINT)) AS REAL) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            f32(F.avg(k)).alias("avg_k"),
        )
    )


# --------------------------------------------------------------------------
# minute_window_events — the window-event fan-out stream (S8/ST2,
# reference processor/main.py:356-369: FindActiveBuses emits one
# EveryMinutePerTripPerBus window per active key). Batch parity form:
# the windows table the streaming path appends via foreachBatch.
# --------------------------------------------------------------------------
@CATALOG.query(
    "minute_window_events",
    oracle="""
    SELECT DISTINCT
           date_trunc('minute', ts) AS time_from,
           date_trunc('minute', ts) + INTERVAL 1 MINUTE AS time_to,
           'EveryMinutePerUser' AS name,
           '1.0.0' AS version,
           'active_user_emitter' AS origin,
           user_id
    FROM events
    """,
)
def minute_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .select(
            F.date_trunc("minute", F.col("ts")).alias("time_from"),
            (F.date_trunc("minute", F.col("ts")) + F.expr("INTERVAL 1 MINUTE")).alias("time_to"),
            F.lit("EveryMinutePerUser").alias("name"),
            F.lit("1.0.0").alias("version"),
            F.lit("active_user_emitter").alias("origin"),
            F.col("user_id"),
        )
        .distinct()
    )


# --------------------------------------------------------------------------
# error_event_runs — the sessionize operator (operators/sessionize.py,
# the W3/ST3 FSM rewrite) exercised through the driver's oracle gate:
# contiguous runs of error events per user, closed runs only, with the
# closing sample's timestamp (the FSM's run-closing false sample,
# reference processor/main.py:300-337).
# --------------------------------------------------------------------------
@CATALOG.query(
    "error_event_runs",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               (event_type = 'error') AS flag,
               CASE WHEN lead(event_type = 'error')
                             OVER (PARTITION BY user_id ORDER BY ts, event_id) = false
                    THEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    END AS run_close,
               CASE WHEN (event_type = 'error') IS DISTINCT FROM
                         lag(event_type = 'error')
                             OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    THEN 1 ELSE 0 END AS changed
        FROM events
    ), numbered AS (
        SELECT *, CAST(sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        FROM flagged
    ), runs AS (
        SELECT user_id,
               min(ts) AS time_from,
               max(ts) AS time_to,
               count(*) AS n_samples,
               max(run_close) AS closing_time
        FROM numbered WHERE flag
        GROUP BY user_id, run_id
    )
    SELECT user_id, time_from, time_to, n_samples, closing_time
    FROM runs WHERE closing_time IS NOT NULL
    """,
)
def error_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.sessionize import flag_runs

    ev = _events(spark, sf_dir).withColumn("is_error", F.col("event_type") == "error")
    return flag_runs(
        ev,
        "is_error",
        time_col="ts",
        keys=("user_id",),
        closed_only=True,
        order_by=("ts", "event_id"),
    )


# --------------------------------------------------------------------------
# events_asof_orders — backward as-of join: each event enriched with the
# user's most recent order at or before the event timestamp. The
# Spark-native replacement for the reference's boundary-lookback re-read
# loop (processor/main.py:249-289, SURVEY.md §2.3 J2): one
# union + window pass, shuffling |events| + |orders| rows exactly once,
# instead of iterative range re-scans. Orders are pre-aggregated to one
# row per (custkey, orderdate) so the carried payload is deterministic.
# --------------------------------------------------------------------------
@CATALOG.query(
    "events_asof_orders",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderdate,
               max(o_orderkey) AS last_order_key,
               CAST(count(*) AS BIGINT) AS orders_that_day
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.ts, e.user_id,
           CAST(e.value AS REAL) AS value,
           o.last_order_key, o.o_orderdate AS last_order_date,
           o.orders_that_day
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.asofjoin import asof_join

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", f32(F.col("value")).alias("value")
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("last_order_date"),
        )
        .agg(
            F.max("o_orderkey").alias("last_order_key"),
            F.count("*").alias("orders_that_day"),
        )
    )
    return asof_join(
        ev,
        orders,
        on="user_id",
        left_time="ts",
        right_time="last_order_date",
        payload_cols=["last_order_key", "last_order_date", "orders_that_day"],
    )


# --------------------------------------------------------------------------
# approx_distinct_users_daily — the documented 100 TB scale path for
# cardinality: HyperLogLog++ sketches merge associatively, so the
# per-day distinct-user count costs one map-side sketch per partition
# instead of a full shuffle of user ids (exact countDistinct re-shuffles
# every distinct value). rows-only check: HLL estimates are
# engine-specific; the 2% rsd bound vs exact is pinned in pytest.
# --------------------------------------------------------------------------
@CATALOG.query("approx_distinct_users_daily")
def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count("*").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# events_in_error_runs — interval (range-containment) join: every event
# that falls inside one of its user's closed error runs. The Spark plan
# is equi-join-only (operators/intervaljoin.py: intervals explode into
# time bins, points map to one bin, exact range filter after the hash
# join) — never a nested-loop range join. The oracle does the naive
# BETWEEN join, proving the bin rewrite is exact.
# --------------------------------------------------------------------------
@CATALOG.query(
    "events_in_error_runs",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               (event_type = 'error') AS flag,
               CASE WHEN lead(event_type = 'error')
                             OVER (PARTITION BY user_id ORDER BY ts, event_id) = false
                    THEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    END AS run_close,
               CASE WHEN (event_type = 'error') IS DISTINCT FROM
                         lag(event_type = 'error')
                             OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    THEN 1 ELSE 0 END AS changed
        FROM events
    ), numbered AS (
        SELECT *, CAST(sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        FROM flagged
    ), runs AS (
        SELECT user_id,
               min(ts) AS time_from,
               max(ts) AS time_to,
               max(run_close) AS closing_time
        FROM numbered WHERE flag
        GROUP BY user_id, run_id
    )
    SELECT e.event_id, e.ts, e.user_id, e.event_type,
           r.time_from, r.time_to
    FROM events e
    JOIN runs r
      ON e.user_id = r.user_id
     AND e.ts BETWEEN r.time_from AND r.time_to
    WHERE r.closing_time IS NOT NULL
    """,
)
def events_in_error_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.intervaljoin import interval_join
    from orca_ztbus_python_processor_spark.operators.sessionize import flag_runs

    ev = _events(spark, sf_dir)
    runs = flag_runs(
        ev.withColumn("is_error", F.col("event_type") == "error"),
        "is_error",
        time_col="ts",
        keys=("user_id",),
        closed_only=True,
        order_by=("ts", "event_id"),
    ).select("user_id", "time_from", "time_to")
    return interval_join(
        ev.select("event_id", "ts", "user_id", "event_type"),
        runs,
        on="user_id",
        point_time="ts",
        start_col="time_from",
        end_col="time_to",
        bin_seconds=60,
    )


# --------------------------------------------------------------------------
# resample_forward_fill — gap-fill a 1-minute resample per user: build the
# dense minute grid between each user's first and last event, left-join
# the per-minute sums, and forward-fill gaps from the last observed
# minute. The reference's telemetry is a 1 Hz series where a missing
# sample means "carry the last state" (the brake-FSM lookback,
# processor/main.py:246-293, exists precisely because state persists
# across silent gaps) — this is that semantic as a batch operator.
# Scale: the grid is generated per-key with sequence+explode (distributed,
# proportional to each user's span — no driver-side range); grid build,
# join, and forward-fill all hash on user_id so one shuffle chain; the
# ignore-nulls last() is a single window pass.
# --------------------------------------------------------------------------
@CATALOG.query(
    "resample_forward_fill",
    oracle="""
    WITH bounds AS (
        SELECT user_id,
               date_trunc('minute', min(ts)) AS lo,
               date_trunc('minute', max(ts)) AS hi
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
        GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute
        FROM bounds
    ),
    agg AS (
        SELECT user_id, date_trunc('minute', ts) AS minute,
               sum(value) AS v, count(*) AS n
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
        GROUP BY 1, 2
    )
    SELECT g.user_id, g.minute,
           CAST(last_value(a.v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.minute
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS REAL) AS value_sum,
           coalesce(a.n, 0) AS n_events,
           a.minute IS NULL AS is_filled
    FROM grid g LEFT JOIN agg a USING (user_id, minute)
    """,
)
def resample_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-7 plan (VERDICT r6 #6): the r6 form materialized the DENSE
    # per-user minute grid first and LEFT-JOINED the sparse minute agg
    # onto it — the join and the fill window both shuffled grid-sized
    # volume (5.2x wall at 10x data). The dense grid is derivable from
    # each observed minute alone: forward-fill ON THE SPARSE AGG (one
    # user-partitioned window over observed minutes), then explode each
    # observed minute into the gap up to its successor. The expansion
    # happens map-side AFTER the window — no join, no grid-sized
    # exchange; the only shuffles carry the sparse (user, minute) agg.
    ev = _events(spark, sf_dir).where(
        (F.col("ts") >= "2024-01-15") & (F.col("ts") < "2024-01-16")
    )
    minute = F.date_trunc("minute", F.col("ts"))
    agg = ev.groupBy("user_id", minute.alias("minute")).agg(
        F.sum("value").alias("v"), F.count("*").alias("n")
    )
    w = W.partitionBy("user_id").orderBy("minute")
    wff = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sparse = agg.select(
        "user_id",
        "minute",
        "n",
        F.last("v", ignorenulls=True).over(wff).alias("_vff"),
        F.lead("minute").over(w).alias("_nxt"),
    )
    slot = F.explode(
        F.expr(
            "sequence(minute,"
            " coalesce(_nxt - interval 1 minute, minute),"
            " interval 1 minute)"
        )
    )
    return sparse.select(
        "user_id",
        slot.alias("slot"),
        "minute",
        "n",
        "_vff",
    ).select(
        "user_id",
        F.col("slot").alias("minute"),
        f32(F.col("_vff")).alias("value_sum"),
        F.when(F.col("slot") == F.col("minute"), F.col("n"))
        .otherwise(F.lit(0))
        .alias("n_events"),
        (F.col("slot") != F.col("minute")).alias("is_filled"),
    )


# --------------------------------------------------------------------------
# hour_rollup_from_minute — hierarchical continuous aggregate: the
# hour grain is DERIVED from the minute grain (sum of partial counts /
# sums), not recomputed from raw rows — the TimescaleDB-style rollup
# tree a 100 TB telemetry store maintains incrementally. In Spark the
# same shape is an aggregation tree: the minute agg shuffles raw rows
# once on (minute, type); the hour rollup re-aggregates ~1440× fewer
# rows, and at scale the minute layer is a materialized table shared
# by every coarser grain (day/week reuse it the same way).
# --------------------------------------------------------------------------
@CATALOG.query(
    "hour_rollup_from_minute",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_ts,
           event_type,
           count(*) AS n_events,
           CAST(sum(value) AS REAL) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def hour_rollup_from_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    minute = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("minute", F.col("ts")).alias("minute_ts"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    return minute.groupBy(
        F.date_trunc("hour", F.col("minute_ts")).alias("hour_ts"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        f32(F.sum("sum_value")).alias("total_value"),
    )


# --------------------------------------------------------------------------
# event_funnel_stages — ordered-funnel analysis (view -> click after
# that view -> purchase after that click), per user. One shuffle total:
# three chained unordered windows over the SAME partitionBy(user_id)
# spec compute each stage's earliest qualifying timestamp (stage N's
# predicate references stage N-1's column — Catalyst stacks the Window
# nodes on one Exchange, no sort needed for min), and the final
# per-user collapse reuses the user_id hash partitioning.
# --------------------------------------------------------------------------
@CATALOG.query(
    "event_funnel_stages",
    oracle="""
    WITH v AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY user_id
    ), c AS (
        SELECT e.user_id, any_value(v.t_view) AS t_view,
               min(CASE WHEN e.event_type = 'click' AND e.ts > v.t_view
                        THEN e.ts END) AS t_click
        FROM events e JOIN v USING (user_id) GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, any_value(c.t_view) AS t_view,
               any_value(c.t_click) AS t_click,
               min(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click
                        THEN e.ts END) AS t_purchase
        FROM events e JOIN c USING (user_id) GROUP BY e.user_id
    )
    SELECT user_id, t_view, t_click, t_purchase FROM p
    """,
)
def event_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id")
    staged = (
        _events(spark, sf_dir)
        .select("user_id", "ts", "event_type")
        .withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return staged.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )


# --------------------------------------------------------------------------
# sliding_window_rates — SLIDING event-time windows (size 5 min, slide
# 1 min): the hopping-window shape the tumbling queries above cannot
# express (each event contributes to size/slide = 5 windows). Spark:
# native F.window(ts, size, slide) — the WindowExec-free streaming-
# compatible form; the oracle enumerates the 5 member windows per event
# with a range join on the slide grid. Scale: the explode factor is
# size/slide (constant), applied map-side before one (window, key)
# shuffle with partial aggregation — same discipline as a tumbling agg.
# --------------------------------------------------------------------------
@CATALOG.query(
    "sliding_window_rates",
    oracle="""
    SELECT date_trunc('minute', ts) - (t.i * INTERVAL 1 MINUTE) AS win_start,
           date_trunc('minute', ts) - (t.i * INTERVAL 1 MINUTE)
               + INTERVAL 5 MINUTE AS win_end,
           event_type,
           count(*) AS n_events,
           CAST(avg(value) AS REAL) AS avg_value
    FROM events, range(5) t(i)
    GROUP BY 1, 2, 3
    """,
)
def sliding_window_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.window(F.col("ts"), "5 minutes", "1 minute").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), f32(F.avg("value")).alias("avg_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


# --------------------------------------------------------------------------
# session_window_native — batch F.session_window (ST3's native Spark
# form, distinct from the window-function gap-and-islands rewrite in
# user_sessions_gap): sessions close after a 10-minute silence, end =
# last event + gap (Spark's session semantics — the oracle reproduces
# them from the gap-and-islands form). One shuffle on user_id; in
# streaming the same expression holds cross-batch state (ST4).
# --------------------------------------------------------------------------
_SESSION_GAP_MIN = 10


@CATALOG.query(
    "session_window_native",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       >= {_SESSION_GAP_MIN} * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {_SESSION_GAP_MIN} MINUTE AS session_end,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.session_window(F.col("ts"), f"{_SESSION_GAP_MIN} minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# mode_event_type_per_user — statistical MODE with a deterministic
# tie-break (highest count, then lexicographic type): the categorical
# summary a per-entity profile table carries. Two-level aggregation —
# count per (user, type), then an ordered-struct max per user; both
# partial-agg friendly, shuffles carry (user, type) counts only.
# --------------------------------------------------------------------------
@CATALOG.query(
    "mode_event_type_per_user",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT user_id, event_type, n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, event_type) AS rn
        FROM counts
    )
    SELECT user_id, event_type AS mode_type, n AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _events(spark, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    # (count desc, type asc) argmax as ONE struct-min aggregate —
    # struct ordering is lexicographic by field, so min(struct(-n, t))
    # picks the highest count with the lexicographically-first type on
    # ties; no window sort, no second shuffle.
    winner = counts.groupBy("user_id").agg(
        F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("event_type").alias("t"))).alias("w")
    )
    return winner.select(
        "user_id",
        F.col("w.t").alias("mode_type"),
        (-F.col("w.neg_n")).alias("mode_count"),
    )


# --------------------------------------------------------------------------
# latest_event_snapshot — CDC/upsert compaction: collapse an event log
# to the LATEST row per key (the MERGE-INTO read side every snapshot
# table is built from; the per-key generalization of the reference's
# top-1 sim-log read, simulator/main.py:62-84). ONE struct-max
# aggregate — struct ordering is lexicographic, so max(struct(ts,
# event_id, ...)) picks the newest row with event_id as the
# deterministic tie-break. Partial-agg friendly (map-side max), one
# shuffle of (user, 1-struct) cells — no window sort over the log, no
# per-key row_number pass; at 100 TB the shuffle carries one struct
# per key per map task, not the event log.
# --------------------------------------------------------------------------
@CATALOG.query(
    "latest_event_snapshot",
    oracle="""
    WITH ranked AS (
        SELECT user_id, ts, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id,
           ts AS last_ts,
           event_id AS last_event_id,
           event_type AS last_event_type,
           CAST(value AS REAL) AS last_value
    FROM ranked WHERE rn = 1
    """,
)
def latest_event_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("ts"),
                    F.col("event_id"),
                    F.col("event_type"),
                    F.col("value"),
                )
            ).alias("w")
        )
    )
    return latest.select(
        "user_id",
        F.col("w.ts").alias("last_ts"),
        F.col("w.event_id").alias("last_event_id"),
        F.col("w.event_type").alias("last_event_type"),
        f32(F.col("w.value")).alias("last_value"),
    )


# --------------------------------------------------------------------------
# ewma_value_smoothing — exponentially-weighted moving average over a
# bounded trailing frame (32 rows, alpha=0.25, pandas ewm adjust=True
# semantics restricted to the frame): the denoised-signal view of the
# reference's per-trip speed/power series (processor/main.py:563-565
# computes raw diffs; EWMA is its smoothing dual). The bounded frame is
# the scale decision TWICE over: (a) state per row is <= 32 values, and
# (b) the weights are computed positionally inside the frame, so no
# cumulative pow(1-a, -rank) term that overflows double on long keys.
# Execution: ONE window pass (shuffle on user_id, sort within
# partition) collects the frame into a <=32-element array in frame
# order, then JVM higher-order functions (transform + aggregate) fold
# the weighted sum — zero Python, zero extra shuffle. Oracle: banded
# self-join on row_number with the same closed-form weights.
# --------------------------------------------------------------------------
EWMA_ALPHA = 0.25
EWMA_FRAME = 32


@CATALOG.query(
    "ewma_value_smoothing",
    oracle=f"""
    WITH r AS (
        SELECT event_id, user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT a.event_id, a.user_id,
           CAST(a.value AS REAL) AS value,
           CAST(sum(b.value * pow({1 - EWMA_ALPHA}, a.rn - b.rn))
                / sum(pow({1 - EWMA_ALPHA}, a.rn - b.rn)) AS REAL) AS ewma
    FROM r a JOIN r b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - {EWMA_FRAME - 1} AND a.rn
    GROUP BY a.event_id, a.user_id, a.value
    """,
)
def ewma_value_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    decay = F.lit(1.0 - EWMA_ALPHA)
    frame = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_FRAME - 1), W.currentRow)
    )
    df = _events(spark, sf_dir).withColumn(
        "frame_vals", F.collect_list("value").over(frame)
    )
    n = F.size("frame_vals")
    # weight of element i (frame order, oldest first) = (1-a)^(n-1-i)
    weighted = F.transform(
        "frame_vals", lambda x, i: x * F.pow(decay, (n - 1 - i).cast("double"))
    )
    num = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    den = F.aggregate(
        F.transform("frame_vals", lambda _, i: F.pow(decay, (n - 1 - i).cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.select(
        "event_id",
        "user_id",
        f32(F.col("value")).alias("value"),
        f32(num / den).alias("ewma"),
    )


# --------------------------------------------------------------------------
# iqr_outlier_profile — robust (Tukey-fence) anomaly profile per
# event_type: values outside [p25 - 1.5*IQR, p75 + 1.5*IQR] counted
# against the group total. Composes the distributed EXACT quantile
# operator (functions/quantiles.py — every stage bounded by partition
# size) with a broadcast fence join: the fences frame is one row per
# event_type, so the second pass over the corpus is a map-side
# broadcast-join + partial count, no re-shuffle of the fact. Fences
# are f32-quantized in BOTH engines before the double-precision fence
# arithmetic so the comparison boundary is bit-identical cross-engine.
# --------------------------------------------------------------------------
@CATALOG.query(
    "iqr_outlier_profile",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(quantile_cont(CAST(value AS DOUBLE), 0.25) AS REAL) AS p25,
               CAST(quantile_cont(CAST(value AS DOUBLE), 0.75) AS REAL) AS p75
        FROM events GROUP BY event_type
    ), fences AS (
        SELECT event_type, p25, p75,
               CAST(p25 AS DOUBLE) - 1.5 * (CAST(p75 AS DOUBLE) - CAST(p25 AS DOUBLE)) AS lo,
               CAST(p75 AS DOUBLE) + 1.5 * (CAST(p75 AS DOUBLE) - CAST(p25 AS DOUBLE)) AS hi
        FROM q
    )
    SELECT e.event_type,
           count(*) AS n,
           count(*) FILTER (WHERE e.value < f.lo OR e.value > f.hi) AS n_outliers,
           CAST(count(*) FILTER (WHERE e.value < f.lo OR e.value > f.hi)
                / CAST(count(*) AS DOUBLE) AS REAL) AS outlier_share,
           CAST(f.lo AS REAL) AS fence_lo,
           CAST(f.hi AS REAL) AS fence_hi
    FROM events e JOIN fences f ON e.event_type = f.event_type
    GROUP BY e.event_type, f.lo, f.hi
    """,
)
def iqr_outlier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        exact_group_quantiles,
    )

    ev = _events(spark, sf_dir)
    q = exact_group_quantiles(ev, "event_type", "value", qs=(0.25, 0.75))
    fences = q.select(
        "event_type",
        (F.col("p25").cast("double") - 1.5 * (F.col("p75").cast("double") - F.col("p25").cast("double"))).alias("lo"),
        (F.col("p75").cast("double") + 1.5 * (F.col("p75").cast("double") - F.col("p25").cast("double"))).alias("hi"),
    )
    is_out = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            f32(F.col("n_outliers") / F.col("n").cast("double")).alias("outlier_share"),
            f32(F.col("lo")).alias("fence_lo"),
            f32(F.col("hi")).alias("fence_hi"),
        )
    )


# --------------------------------------------------------------------------
# time_decayed_user_score — half-life-weighted engagement score per
# user (the feature-store recency aggregate behind ranking/curation
# signals): each event contributes value * 0.5^(age / 7 days), age
# measured against the corpus max timestamp. The anchor is ONE scalar
# aggregate broadcast-cross-joined back (the q22/above_avg_orders
# device — no collect), then the score is a plain map-combinable
# groupBy sum: one scan, one shuffle of (user, 2 doubles). Age is
# nonnegative by construction so pow(0.5, age) decays toward 0 and can
# never overflow, whatever the corpus time span.
# --------------------------------------------------------------------------
DECAY_HALFLIFE_US = 7 * 86400 * 1_000_000  # 7 days


@CATALOG.query(
    "time_decayed_user_score",
    oracle=f"""
    WITH anchor AS (SELECT max(epoch_us(ts)) AS a FROM events)
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(value * pow(0.5, (a - epoch_us(ts)) / {float(DECAY_HALFLIFE_US)})) AS REAL)
               AS decayed_score,
           CAST(sum(pow(0.5, (a - epoch_us(ts)) / {float(DECAY_HALFLIFE_US)})) AS REAL)
               AS decayed_weight
    FROM events, anchor
    GROUP BY user_id
    """,
)
def time_decayed_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("a"))
    w = F.pow(
        F.lit(0.5),
        (F.col("a") - F.unix_micros("ts")) / F.lit(float(DECAY_HALFLIFE_US)),
    )
    return (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            f32(F.sum(F.col("value") * w)).alias("decayed_score"),
            f32(F.sum(w)).alias("decayed_weight"),
        )
    )


# --------------------------------------------------------------------------
# hll_weekly_rollup — MERGEABLE-sketch rollup (the scale dual of
# approx_distinct_users_daily): per-day HLL sketches of distinct users
# are built once, then the WEEKLY distinct estimate is derived by
# UNIONING the daily sketches — the corpus is never rescanned at the
# coarser grain. This is the 100 TB pre-aggregation pattern: sketches
# are the materialized daily state (a few KB per cell), and any grain
# above daily (week, month, arbitrary ranges) is a merge over sketch
# cells, not a pass over events. Rows-only contract (HLL estimates are
# engine-specific; DuckDB's approx_count_distinct is a different
# sketch); the algebraic properties — union-of-sketches ≡
# sketch-of-union exactly, and the estimate-vs-exact error bound — are
# pinned in tests/test_sketch_rollup.py.
# --------------------------------------------------------------------------
@CATALOG.query("hll_weekly_rollup")
def hll_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return (
        daily.groupBy(F.date_trunc("week", F.col("day")).alias("week_start"))
        .agg(
            F.count("*").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_distinct_users"
            ),
        )
    )


# --------------------------------------------------------------------------
# weekly_cohort_retention — classic cohort/retention matrix: users are
# cohorted by the week of their first event; each (cohort_week,
# week_offset) cell counts how many of that cohort were active that
# many weeks later, as a share of the cohort. The product-analytics
# staple the reference's per-trip rollups generalize to.
#
# Scale shape: first-seen is ONE map-combinable min-agg on user_id;
# activity is a distinct over (user, week) — both shuffle on user_id,
# so AQE/exchange-reuse co-locates the self-join. Cohort sizes are a
# weeks-bounded frame (broadcast). Offsets are day-arithmetic on
# week-truncated timestamps (Monday-anchored in BOTH engines), so the
# division by 7 is exact.
# --------------------------------------------------------------------------
@CATALOG.query(
    "weekly_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
        FROM events
    ), cohort_size AS (
        SELECT cohort_week, count(*) AS cohort_users
        FROM first_seen GROUP BY cohort_week
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS BIGINT)
               AS week_offset,
           s.cohort_users,
           count(*) AS n_active,
           CAST(count(*) / CAST(s.cohort_users AS DOUBLE) AS REAL) AS retention
    FROM first_seen f
    JOIN activity a USING (user_id)
    JOIN cohort_size s USING (cohort_week)
    GROUP BY f.cohort_week, week_offset, s.cohort_users
    """,
)
def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    cohort_size = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    week_offset = (
        F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
    ).cast("long")
    return (
        first_seen.join(activity, "user_id")
        .join(F.broadcast(cohort_size), "cohort_week")
        .groupBy("cohort_week", week_offset.alias("week_offset"), "cohort_users")
        .agg(F.count("*").alias("n_active"))
        .select(
            "cohort_week",
            "week_offset",
            "cohort_users",
            "n_active",
            f32(F.col("n_active") / F.col("cohort_users").cast("double")).alias(
                "retention"
            ),
        )
    )


# --------------------------------------------------------------------------
# concurrent_active_intervals — interval-overlap concurrency: each
# event opens a 5-minute activity interval [ts, ts+300 s); per minute
# bucket, count the events whose interval covers the minute and the
# distinct users active in it. This is the discretized sweep-line /
# range-overlap counter (how many sessions are open right now) — the
# grid form that stays scale-safe: instead of a global endpoint sort
# (one partition = driver-shaped bottleneck) or a range join, each
# event EXPLODES into the <=6 minute buckets its interval overlaps
# (bounded map-side fan-out), and one hash shuffle on the minute key
# does the rest, with the distinct as a partial agg.
# --------------------------------------------------------------------------
INTERVAL_SECONDS = 300


@CATALOG.query(
    "concurrent_active_intervals",
    oracle=f"""
    WITH covered AS (
        SELECT user_id, event_id,
               unnest(generate_series(
                   date_trunc('minute', ts),
                   date_trunc('minute',
                       ts + INTERVAL {INTERVAL_SECONDS} SECOND
                          - INTERVAL 1 MICROSECOND),
                   INTERVAL 1 MINUTE)) AS minute
        FROM events
    )
    SELECT minute,
           count(*) AS n_open_intervals,
           count(DISTINCT user_id) AS n_concurrent_users
    FROM covered GROUP BY minute
    """,
)
def concurrent_active_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    covered = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.explode(
            F.expr(
                "sequence(date_trunc('MINUTE', ts),"
                f" date_trunc('MINUTE', ts + INTERVAL {INTERVAL_SECONDS} SECOND"
                " - INTERVAL 1 MICROSECOND), INTERVAL 1 MINUTE)"
            )
        ).alias("minute"),
    )
    return covered.groupBy("minute").agg(
        F.count("*").alias("n_open_intervals"),
        F.countDistinct("user_id").alias("n_concurrent_users"),
    )


# --------------------------------------------------------------------------
# value_histogram_equiwidth — equi-width histogram of events.value: 32
# bins over the observed [min, max], each with its bounds, count, and
# share. The profiling primitive behind range-partition planning and
# data-drift dashboards. Two passes: a 1-row (min, max, count) scalar
# agg cross-joined back (no collect), then one map-combinable groupBy
# on the computed bin id. Bin arithmetic is double-precision identical
# in both engines; the top edge folds into the last bin (least), and a
# degenerate min==max corpus collapses to bin 0 instead of dividing by
# zero.
# --------------------------------------------------------------------------
HIST_BINS = 32


@CATALOG.query(
    "value_histogram_equiwidth",
    oracle=f"""
    WITH scal AS (
        SELECT min(value) AS vmin, max(value) AS vmax,
               count(*) AS n_total
        FROM events
    ), binned AS (
        SELECT CAST(CASE WHEN s.vmax = s.vmin THEN 0
                    ELSE least(floor((e.value - s.vmin)
                               / ((s.vmax - s.vmin) / {HIST_BINS})),
                               {HIST_BINS - 1})
                    END AS INTEGER) AS bin,
               s.vmin, s.vmax, s.n_total
        FROM events e CROSS JOIN scal s
    )
    SELECT bin,
           CAST(vmin + bin * ((vmax - vmin) / {HIST_BINS}) AS REAL) AS bin_lo,
           CAST(vmin + (bin + 1) * ((vmax - vmin) / {HIST_BINS}) AS REAL) AS bin_hi,
           count(*) AS n,
           CAST(count(*) / CAST(n_total AS DOUBLE) AS REAL) AS share
    FROM binned GROUP BY bin, vmin, vmax, n_total
    """,
)
def value_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    scal = ev.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.count("*").alias("n_total"),
    )
    width = (F.col("vmax") - F.col("vmin")) / HIST_BINS
    bin_id = (
        F.when(F.col("vmax") == F.col("vmin"), 0)
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("vmin")) / width),
                F.lit(HIST_BINS - 1),
            )
        )
        .cast("int")
    )
    return (
        ev.crossJoin(F.broadcast(scal))
        .groupBy(
            bin_id.alias("bin"), "vmin", "vmax", "n_total"
        )
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            f32(F.col("vmin") + F.col("bin") * width).alias("bin_lo"),
            f32(F.col("vmin") + (F.col("bin") + 1) * width).alias("bin_hi"),
            "n",
            f32(F.col("n") / F.col("n_total").cast("double")).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# event_transition_matrix — first-order Markov transition counts over
# each user's event stream: lead(event_type) within (user ORDER BY ts),
# then a global (from, to) rollup with per-from-type row shares. The
# behavioral-analytics primitive behind "what happens after an error".
# One shuffle on user_id for the window sort, one map-combinable
# groupBy on the (from, to) pair; the share is a tiny window over the
# already-aggregated matrix (|event_types|^2 rows), not the raw stream.
# --------------------------------------------------------------------------
@CATALOG.query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ), mat AS (
        SELECT event_type AS from_type, next_type AS to_type,
               count(*) AS n_transitions
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    )
    SELECT from_type, to_type, n_transitions,
           CAST(n_transitions / CAST(sum(n_transitions)
                OVER (PARTITION BY from_type) AS DOUBLE) AS REAL)
               AS from_share
    FROM mat
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    mat = (
        _events(spark, sf_dir)
        .select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(seq_w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    share_w = W.partitionBy("from_type")
    return mat.select(
        "from_type",
        "to_type",
        "n_transitions",
        f32(
            F.col("n_transitions")
            / F.sum("n_transitions").over(share_w).cast("double")
        ).alias("from_share"),
    )


# --------------------------------------------------------------------------
# mad_outlier_profile — robust outlier detection per event_type via the
# median absolute deviation: med = median(value), mad = median(|value -
# med|), outlier = |value - med| > 3 * 1.4826 * mad (the normal-
# consistency constant). Three aggregation passes by construction (the
# textbook exact-MAD dataflow) — each shuffles only (event_type, value)
# pairs, and the tiny per-type med/mad frames broadcast back onto the
# fact scan, so no pass materializes anything driver-side. The robust
# twin of iqr_outlier_profile (quartile fences).
# --------------------------------------------------------------------------
MAD_K = 1.4826  # consistency constant: MAD * K estimates sigma under normality
MAD_FENCE = 3.0


@CATALOG.query(
    "mad_outlier_profile",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_type, m.med, abs(e.value - m.med) AS absdev
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(absdev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(any_value(d.med) AS REAL) AS med,
           CAST(any_value(a.mad) AS REAL) AS mad,
           count(*) AS n,
           CAST(count(*) FILTER (
               WHERE d.absdev > {MAD_FENCE} * {MAD_K} * a.mad
           ) AS BIGINT) AS n_outliers,
           CAST(count(*) FILTER (
               WHERE d.absdev > {MAD_FENCE} * {MAD_K} * a.mad
           ) / CAST(count(*) AS DOUBLE) AS REAL) AS outlier_share
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    """,
)
def mad_outlier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("absdev")
        # pinned: feeds the MAD rollup AND the outlier census — one
        # scan + broadcast-join pass instead of two (round-12 census)
    ).localCheckpoint(eager=False)
    mad = dev.groupBy("event_type").agg(
        F.percentile("absdev", F.lit(0.5)).alias("mad")
    )
    is_outlier = F.col("absdev") > F.lit(MAD_FENCE * MAD_K) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            f32(F.any_value("med")).alias("med"),
            f32(F.any_value("mad")).alias("mad"),
            F.count("*").alias("n"),
            F.sum(is_outlier.cast("long")).alias("n_outliers"),
            f32(
                F.sum(is_outlier.cast("long")) / F.count("*").cast("double")
            ).alias("outlier_share"),
        )
    )


# --------------------------------------------------------------------------
# events_asof_next_error — FORWARD as-of join: each event enriched with
# the user's next ERROR event at or after the event timestamp ("time to
# next failure" attribution). Exercises operators/asofjoin.py
# direction="forward": one union + window pass shuffling both inputs
# exactly once; DuckDB's native ASOF ... ON e.ts <= r.error_ts is the
# oracle.
#
# Round-10 degenerate-evidence rework (replaces the retired
# events_asof_next_order): the old right side was orders, and the
# fixture's orders (1995-2001) ALL predate its events (2024), so the
# forward join matched NOTHING — five rounds of driver hash-matches
# verified 10,000 all-NULL payload rows and nothing about the forward
# direction (.benchmarks/degenerate_evidence.json, the q4 class).
# Joining events to their own error stream is live at every scale:
# 9,350/10,000 matched at sf0.01 with 650 genuine no-future-error NULL
# tails, so BOTH the match path and the left-outer NULL path carry
# evidence. Right side pre-aggregated per (user, ts) so as-of ties are
# deterministic (same treatment the old query gave orders_that_day).
# --------------------------------------------------------------------------
@CATALOG.query(
    "events_asof_next_error",
    oracle="""
    WITH err AS (
        SELECT user_id, ts AS error_ts,
               max(event_id) AS next_error_id,
               CAST(count(*) AS BIGINT) AS errors_at_ts
        FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    )
    SELECT e.event_id, e.ts, e.user_id,
           CAST(e.value AS REAL) AS value,
           r.next_error_id, r.error_ts AS next_error_ts,
           r.errors_at_ts
    FROM events e ASOF LEFT JOIN err r
      ON e.user_id = r.user_id AND e.ts <= r.error_ts
    """,
)
def events_asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.asofjoin import asof_join

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", f32(F.col("value")).alias("value")
    )
    errors = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").alias("next_error_ts"))
        .agg(
            F.max("event_id").alias("next_error_id"),
            F.count("*").alias("errors_at_ts"),
        )
    )
    return asof_join(
        ev,
        errors,
        on="user_id",
        left_time="ts",
        right_time="next_error_ts",
        payload_cols=["next_error_id", "next_error_ts", "errors_at_ts"],
        direction="forward",
    )


# --------------------------------------------------------------------------
# events_asof_prev_error_tolerance — BACKWARD as-of with a MAX-LOOKBACK
# TOLERANCE, the knob every production as-of API carries (pandas
# merge_asof's ``tolerance``, kdb wj windows): each event joins its
# user's most recent error AT OR BEFORE its timestamp, but a match
# older than ASOF_TOLERANCE_S is nulled out — "was there a recent
# failure when this event happened?". The fixture exercises all three
# branches at sf0.01: 2,040 within tolerance, 7,359 matched-but-stale
# (nulled), 601 never-matched.
#
# Scale shape: identical single union-window pass as events_asof_orders
# (the tolerance is a post-join row-local predicate — no extra shuffle,
# no range join); DuckDB's native ASOF + the same CASE is the oracle.
# --------------------------------------------------------------------------
ASOF_TOLERANCE_S = 600


@CATALOG.query(
    "events_asof_prev_error_tolerance",
    oracle=f"""
    WITH err AS (
        SELECT user_id, ts AS error_ts,
               max(event_id) AS prev_error_id
        FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    ), joined AS (
        SELECT e.event_id, e.ts, e.user_id,
               CAST(e.value AS REAL) AS value,
               r.prev_error_id, r.error_ts,
               epoch_us(e.ts) - epoch_us(r.error_ts) AS lag_us
        FROM events e ASOF LEFT JOIN err r
          ON e.user_id = r.user_id AND e.ts >= r.error_ts
    )
    SELECT event_id, ts, user_id, value,
           CASE WHEN lag_us <= {ASOF_TOLERANCE_S} * 1000000
                THEN prev_error_id END AS prev_error_id,
           CASE WHEN lag_us <= {ASOF_TOLERANCE_S} * 1000000
                THEN error_ts END AS prev_error_ts,
           CASE WHEN lag_us <= {ASOF_TOLERANCE_S} * 1000000
                THEN lag_us END AS error_lag_us
    FROM joined
    """,
)
def events_asof_prev_error_tolerance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.asofjoin import asof_join

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", f32(F.col("value")).alias("value")
    )
    errors = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").alias("error_ts"))
        .agg(F.max("event_id").alias("prev_error_id"))
    )
    joined = asof_join(
        ev,
        errors,
        on="user_id",
        left_time="ts",
        right_time="error_ts",
        payload_cols=["prev_error_id", "error_ts"],
        direction="backward",
    )
    lag_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("error_ts"))
    within = lag_us <= ASOF_TOLERANCE_S * 1_000_000
    return joined.select(
        "event_id",
        "ts",
        "user_id",
        "value",
        F.when(within, F.col("prev_error_id")).alias("prev_error_id"),
        F.when(within, F.col("error_ts")).alias("prev_error_ts"),
        F.when(within, lag_us).alias("error_lag_us"),
    )


# --------------------------------------------------------------------------
# session_gap_survival — the empirical SURVIVAL function of same-user
# inter-event gaps per event type: the share of gaps exceeding each
# threshold in a fixed grid. This is the curve a session-gap or
# stream-watermark setting is actually read off (user_gap_quantiles
# next door gives point quantiles; the survival curve shows the whole
# tail the 10-minute session gap was chosen from).
#
# Scale shape: one (user, type)-partitioned lag window (the
# user_gap_quantiles scan), then a |types| x |grid| map-combinable
# conditional rollup — output bounded at |types| * 5 rows.
# --------------------------------------------------------------------------
SURVIVAL_GRID_S = (60, 300, 600, 1800, 3600)


@CATALOG.query(
    "session_gap_survival",
    oracle=f"""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id) AS gap_us
        FROM events
    ), g AS (SELECT event_type, gap_us FROM gaps WHERE gap_us IS NOT NULL)
    SELECT event_type, t.threshold_s,
           count(*) AS n_gaps,
           CAST(sum(CASE WHEN gap_us > CAST(t.threshold_s AS BIGINT) * 1000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_exceeding,
           CAST(sum(CASE WHEN gap_us > CAST(t.threshold_s AS BIGINT) * 1000000
                         THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
                AS REAL) AS survival
    FROM g CROSS JOIN (
        SELECT unnest(ARRAY{list(SURVIVAL_GRID_S)}) AS threshold_s
    ) t
    GROUP BY event_type, t.threshold_s
    """,
)
def session_gap_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    gaps = (
        _events(spark, sf_dir)
        .select("event_type", gap.alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
    )
    # One fused map-combinable agg (a conditional-sum column per grid
    # threshold), then unpivot the |types|-row frame — exploding the
    # grid BEFORE aggregation would shuffle 5x the gap rows for the
    # same answer (round-10 self-review finding).
    wide = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        *[
            F.sum(
                (F.col("gap_us") > t * 1_000_000).cast("long")
            ).alias(f"_x{t}")
            for t in SURVIVAL_GRID_S
        ],
    )
    stacked = wide.select(
        "event_type",
        "n_gaps",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("threshold_s"),
                        F.col(f"_x{t}").alias("n_exceeding"),
                    )
                    for t in SURVIVAL_GRID_S
                ]
            )
        ).alias("e"),
    )
    return stacked.select(
        "event_type",
        F.col("e.threshold_s").alias("threshold_s"),
        "n_gaps",
        F.col("e.n_exceeding").alias("n_exceeding"),
        f32(
            F.col("e.n_exceeding") / F.col("n_gaps").cast("double")
        ).alias("survival"),
    )


# --------------------------------------------------------------------------
# user_trailing_hour_value — RANGE-frame window coverage (time-based
# sliding aggregate): every event annotated with its user's trailing-
# one-hour event count and value sum — the "activity in the last hour
# at event time" feature a burst detector or rate limiter computes.
# rolling_frames_events covers ROWS frames; this is the
# rangeBetween(-3600s, 0) TIME frame, a genuinely different Spark
# windowing mode (frame membership by timestamp value, not row
# offset), mirrored by DuckDB's RANGE INTERVAL frame semantics on the
# microsecond clock.
#
# Scale shape: one user-partitioned window sort (entity-partitioned,
# spillable); the range frame is a two-pointer pass inside each
# partition — no self-join, no explode.
# --------------------------------------------------------------------------
@CATALOG.query(
    "user_trailing_hour_value",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(count(*) OVER w AS BIGINT) AS n_trailing_hour,
           CAST(sum(value) OVER w AS REAL) AS value_trailing_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def user_trailing_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_trailing_hour"),
        f32(F.sum("value").over(w)).alias("value_trailing_hour"),
    )


# --------------------------------------------------------------------------
# user_gap_quantiles — inter-arrival profile per event type: the gap
# (µs) between consecutive SAME-TYPE events of the same user, rolled up
# to exact median/p95/mean/max per type. The cadence diagnostic behind
# session-gap and watermark-delay tuning (the 10-min session gap and
# the streaming watermark both came from eyeballing exactly this
# distribution). One shuffle for the (user, type) lag window, then a
# tiny exact-percentile agg per type.
# --------------------------------------------------------------------------
@CATALOG.query(
    "user_gap_quantiles",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id) AS gap_us
        FROM events
    )
    SELECT event_type,
           count(gap_us) AS n_gaps,
           CAST(quantile_cont(gap_us, 0.5) AS REAL) AS median_gap_us,
           CAST(quantile_cont(gap_us, 0.95) AS REAL) AS p95_gap_us,
           CAST(avg(gap_us) AS REAL) AS mean_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def user_gap_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    return (
        _events(spark, sf_dir)
        .select("event_type", gap.alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            f32(F.percentile("gap_us", F.lit(0.5))).alias("median_gap_us"),
            f32(F.percentile("gap_us", F.lit(0.95))).alias("p95_gap_us"),
            f32(F.avg("gap_us")).alias("mean_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
    )


# --------------------------------------------------------------------------
# scd2_user_state — slowly-changing-dimension type-2 build from an
# event stream: collapse each user's consecutive same-type events into
# validity intervals (valid_from inclusive, valid_to exclusive = start
# of the NEXT state, NULL while open). The warehouse-standard
# current+history layout, derived with the same gap-and-islands window
# machinery as user_sessions_gap: lag -> change flag -> running state
# counter -> per-state rollup -> lead for the closing edge. Two window
# passes over the SAME (user_id) partitioning — Spark reuses one
# exchange for both sorts.
# --------------------------------------------------------------------------
@CATALOG.query(
    "scd2_user_state",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS is_change
        FROM events
    ), numbered AS (
        SELECT user_id, ts, event_type,
               sum(is_change) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS state_seq
        FROM flagged
    ), states AS (
        SELECT user_id,
               CAST(state_seq AS BIGINT) AS state_seq,
               min(event_type) AS event_type,
               min(ts) AS valid_from,
               count(*) AS n_events
        FROM numbered
        GROUP BY user_id, state_seq
    )
    SELECT user_id, state_seq, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY state_seq) AS valid_to,
           n_events
    FROM states
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    is_change = (
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
    ).cast("long")
    numbered = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_type",
        F.sum(is_change).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("state_seq"),
    )
    states = numbered.groupBy("user_id", "state_seq").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    close_w = W.partitionBy("user_id").orderBy("state_seq")
    return states.select(
        "user_id",
        "state_seq",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(close_w).alias("valid_to"),
        "n_events",
    )


# --------------------------------------------------------------------------
# key_skew_profile — shuffle-key skew diagnostic: the top-20 heaviest
# user_ids with their absolute and relative event mass plus the
# overall heavy-tail ratio (max key / mean key). Exactly the numbers
# that decide between plain hash partitioning, AQE skew splitting, and
# upstream salting (operators/skew.py) — reported as a query so the
# decision is measured, not guessed. One map-combinable groupBy; the
# top-20 is TakeOrdered; the scalar mean joins back via a 1-row
# broadcast (the q22 device).
# --------------------------------------------------------------------------
@CATALOG.query(
    "key_skew_profile",
    oracle="""
    WITH per_key AS (
        SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    ), scal AS (
        SELECT sum(n_events) AS total, avg(n_events) AS mean_per_key
        FROM per_key
    )
    SELECT p.user_id, p.n_events,
           CAST(p.n_events / CAST(s.total AS DOUBLE) AS REAL) AS share,
           CAST(p.n_events / s.mean_per_key AS REAL) AS x_mean
    FROM per_key p CROSS JOIN scal s
    ORDER BY p.n_events DESC, p.user_id
    LIMIT 20
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_key = (
        _events(spark, sf_dir).groupBy("user_id").agg(F.count("*").alias("n_events"))
    )
    scal = per_key.agg(
        F.sum("n_events").alias("total"), F.avg("n_events").alias("mean_per_key")
    )
    return (
        per_key.crossJoin(F.broadcast(scal))
        .select(
            "user_id",
            "n_events",
            f32(F.col("n_events") / F.col("total").cast("double")).alias("share"),
            f32(F.col("n_events") / F.col("mean_per_key")).alias("x_mean"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# time_weighted_value — time-weighted average (TWAP-style): each
# event's value is held until the user's next event, and the per-user
# average weights each value by its holding duration. The standard
# correction when sampling is irregular (a value held for an hour
# should count 3600x one held a second — the plain mean is cadence-
# biased). One (user) window pass for the lead, one map-combinable
# per-user agg; users' last events carry no duration and drop out, as
# in any step-function integral over a half-open observation window.
# --------------------------------------------------------------------------
@CATALOG.query(
    "time_weighted_value",
    oracle="""
    WITH held AS (
        SELECT user_id, value,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                   - epoch_us(ts) AS dur_us
        FROM events
    )
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
           CAST(sum(value * dur_us) / sum(dur_us) AS REAL) AS twa_value,
           CAST(avg(value) AS REAL) AS plain_mean
    FROM held
    WHERE dur_us IS NOT NULL
    GROUP BY user_id
    """,
)
def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dur = F.lead(F.unix_micros(F.col("ts"))).over(w) - F.unix_micros(F.col("ts"))
    return (
        _events(spark, sf_dir)
        .select("user_id", "value", dur.alias("dur_us"))
        .where(F.col("dur_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dur_us").cast("long").alias("total_dur_us"),
            f32(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us")
            ).alias("twa_value"),
            f32(F.avg("value")).alias("plain_mean"),
        )
    )


# --------------------------------------------------------------------------
# wau_rolling_exact — EXACT rolling 7-day active users per day. The
# naive form is a range join (every day joined against 7 days of
# activity); the scalable form inverts it: each (user, active-day)
# fact CONTRIBUTES to the 7 window-end days it covers — a map-side
# 7x sequence-explode, then one countDistinct per day. No range join,
# no re-scan per day; the approximate twin (HLL partials merged across
# the window) is hll_weekly_rollup.
# --------------------------------------------------------------------------
@CATALOG.query(
    "wau_rolling_exact",
    oracle="""
    WITH grid AS (
        SELECT DISTINCT date_trunc('day', ts) AS day FROM events
    ), act AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    )
    SELECT g.day,
           count(DISTINCT a.user_id) AS wau
    FROM grid g
    JOIN act a ON a.day BETWEEN g.day - INTERVAL 6 DAY AND g.day
    GROUP BY g.day
    """,
)
def wau_rolling_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    act = (
        _events(spark, sf_dir)
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
    )
    grid = act.select("day").distinct()
    covered = act.select(
        "user_id",
        F.explode(
            F.expr("sequence(day, day + interval 6 day, interval 1 day)")
        ).alias("day"),
    )
    # semi-join against the observed-day grid so synthetic window-end
    # days past the data's edge do not appear (mirrors the oracle's
    # grid join); the grid is tiny -> broadcast.
    return (
        covered.join(F.broadcast(grid), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


# --------------------------------------------------------------------------
# event_debounce_profile — gap-based event thinning: within each
# (user, event_type) stream, an event arriving within DEBOUNCE of the
# PREVIOUS RAW event is flagged a bounce (sensor chatter / double
# fire). Reports retention per type. This is the stateless window form
# (gap measured to the previous raw event); true debouncing measures
# to the previous RETAINED event, which is inherently sequential — the
# FSM machinery of operators/sessionize.py handles that shape when
# exactness matters. One (user, type) window pass, one tiny rollup.
# --------------------------------------------------------------------------
DEBOUNCE_US = 120_000_000  # 2 minutes


@CATALOG.query(
    "event_debounce_profile",
    oracle=f"""
    WITH flagged AS (
        SELECT event_type,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) <= {DEBOUNCE_US}
                    THEN 1 ELSE 0 END AS is_bounce
        FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(is_bounce) AS BIGINT) AS n_debounced,
           count(*) - CAST(sum(is_bounce) AS BIGINT) AS n_kept,
           CAST((count(*) - sum(is_bounce)) / CAST(count(*) AS DOUBLE)
                AS REAL) AS keep_share
    FROM flagged
    GROUP BY event_type
    """,
)
def event_debounce_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_bounce = F.when(gap <= DEBOUNCE_US, 1).otherwise(0)
    return (
        _events(spark, sf_dir)
        .select("event_type", is_bounce.alias("is_bounce"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("is_bounce").cast("long").alias("n_debounced"),
            (F.count("*") - F.sum("is_bounce")).cast("long").alias("n_kept"),
            f32(
                (F.count("*") - F.sum("is_bounce")) / F.count("*").cast("double")
            ).alias("keep_share"),
        )
    )


# --------------------------------------------------------------------------
# zorder_layout_profile — space-filling-curve layout audit (the
# lakehouse OPTIMIZE ZORDER primitive): interleave the bits of two
# scan dimensions (user bucket, value bucket — 8 bits each) into a
# 16-bit Morton key, then profile each coarse z-bucket's per-dimension
# spread. A good multi-dim layout keeps BOTH dimension ranges narrow
# inside every file/bucket, which is exactly what lets min/max file
# stats prune scans on EITHER predicate; this query measures that
# (max-min spread per bucket) instead of asserting it. The bit math is
# identical integer arithmetic in both engines; the value bucket comes
# from a 1-row min/max scalar broadcast back (the histogram device).
# --------------------------------------------------------------------------
@CATALOG.query(
    "zorder_layout_profile",
    oracle="""
    WITH scal AS (
        SELECT min(value) AS vmin, max(value) AS vmax FROM events
    ), bucketed AS (
        SELECT (user_id % 256) AS u,
               CAST(CASE WHEN s.vmax = s.vmin THEN 0
                    ELSE least(floor((e.value - s.vmin)
                               / ((s.vmax - s.vmin) / 256)), 255)
                    END AS BIGINT) AS v
        FROM events e CROSS JOIN scal s
    ), keyed AS (
        SELECT u, v,
               ( (((u >> 0) & 1) << 1)  | (((v >> 0) & 1) << 0)
               | (((u >> 1) & 1) << 3)  | (((v >> 1) & 1) << 2)
               | (((u >> 2) & 1) << 5)  | (((v >> 2) & 1) << 4)
               | (((u >> 3) & 1) << 7)  | (((v >> 3) & 1) << 6)
               | (((u >> 4) & 1) << 9)  | (((v >> 4) & 1) << 8)
               | (((u >> 5) & 1) << 11) | (((v >> 5) & 1) << 10)
               | (((u >> 6) & 1) << 13) | (((v >> 6) & 1) << 12)
               | (((u >> 7) & 1) << 15) | (((v >> 7) & 1) << 14) ) AS z
        FROM bucketed
    )
    SELECT CAST(z >> 8 AS BIGINT) AS z_bucket,
           count(*) AS n,
           CAST(min(u) AS BIGINT) AS u_min, CAST(max(u) AS BIGINT) AS u_max,
           CAST(min(v) AS BIGINT) AS v_min, CAST(max(v) AS BIGINT) AS v_max
    FROM keyed
    GROUP BY z >> 8
    """,
)
def zorder_layout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    scal = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    width = (F.col("vmax") - F.col("vmin")) / 256
    u = F.pmod(F.col("user_id"), F.lit(256))
    v = (
        F.when(F.col("vmax") == F.col("vmin"), 0)
        .otherwise(
            F.least(F.floor((F.col("value") - F.col("vmin")) / width), F.lit(255))
        )
        .cast("long")
    )
    bucketed = ev.crossJoin(F.broadcast(scal)).select(
        u.alias("u"), v.alias("v")
    )
    z = None
    for i in range(8):
        u_bit = F.shiftleft(
            F.shiftright(F.col("u"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        v_bit = F.shiftleft(
            F.shiftright(F.col("v"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        term = u_bit.bitwiseOR(v_bit)
        z = term if z is None else z.bitwiseOR(term)
    return (
        bucketed.select("u", "v", z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 8).cast("long").alias("z_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("u").cast("long").alias("u_min"),
            F.max("u").cast("long").alias("u_max"),
            F.min("v").cast("long").alias("v_min"),
            F.max("v").cast("long").alias("v_max"),
        )
    )


# --------------------------------------------------------------------------
# seasonal_hour_profile — hour-of-week seasonality: per (ISO weekday,
# hour-of-day) cell, event count and mean value, plus each cell's lift
# over the global mean (the seasonality factor a forecasting or
# anomaly baseline divides out). One map-combinable groupBy on the
# 168-cell key; the global scalar broadcasts back. Weekday is
# ISO-anchored (1 = Monday) in both engines — Spark weekday() is
# 0-based Monday, DuckDB isodow() 1-based.
# --------------------------------------------------------------------------
@CATALOG.query(
    "seasonal_hour_profile",
    oracle="""
    WITH scal AS (
        SELECT avg(value) AS gmean FROM events
    )
    SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
           CAST(hour(ts) AS BIGINT) AS hour_of_day,
           count(*) AS n_events,
           CAST(avg(value) AS REAL) AS mean_value,
           CAST(avg(value) / any_value(s.gmean) AS REAL) AS value_lift
    FROM events CROSS JOIN scal s
    GROUP BY isodow(ts), hour(ts)
    """,
)
def seasonal_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    scal = ev.agg(F.avg("value").alias("gmean"))
    return (
        ev.crossJoin(F.broadcast(scal))
        .groupBy(
            (F.weekday("ts") + 1).cast("long").alias("iso_dow"),
            F.hour("ts").cast("long").alias("hour_of_day"),
        )
        .agg(
            F.count("*").alias("n_events"),
            f32(F.avg("value")).alias("mean_value"),
            f32(F.avg("value") / F.any_value("gmean")).alias("value_lift"),
        )
    )


# --------------------------------------------------------------------------
# minute_value_ohlc — OHLC bars: per (event_type, minute) the first
# (open), max (high), min (low), and last (close) value. The
# time-series compaction every market-data / telemetry dashboard is
# built on, expressed as ONE map-combinable aggregate: open/close are
# min_by/max_by over an order key (no window sort, no self-join).
# Neither engine's min_by accepts a composite ordering, so the order
# key is a zero-padded "<epoch_us><event_id>" string — lexicographic
# equals chronological with a deterministic id tie-break, bytewise
# identical in both engines.
# --------------------------------------------------------------------------
@CATALOG.query(
    "minute_value_ohlc",
    oracle="""
    WITH keyed AS (
        SELECT event_type,
               date_trunc('minute', ts) AS minute,
               value,
               printf('%020d%012d', epoch_us(ts), event_id) AS ord
        FROM events
    )
    SELECT event_type, minute,
           count(*) AS n_events,
           CAST(min_by(value, ord) AS REAL) AS open,
           CAST(max(value) AS REAL) AS high,
           CAST(min(value) AS REAL) AS low,
           CAST(max_by(value, ord) AS REAL) AS close
    FROM keyed
    GROUP BY event_type, minute
    """,
)
def minute_value_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ord_key = F.format_string(
        "%020d%012d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    return (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("minute"),
            "value",
            ord_key.alias("ord"),
        )
        .groupBy("event_type", "minute")
        .agg(
            F.count("*").alias("n_events"),
            f32(F.min_by("value", "ord")).alias("open"),
            f32(F.max("value")).alias("high"),
            f32(F.min("value")).alias("low"),
            f32(F.max_by("value", "ord")).alias("close"),
        )
    )


# --------------------------------------------------------------------------
# orders_monthly_mom_growth — month-over-month reporting: monthly
# revenue and order counts with absolute and relative deltas vs the
# previous month (lag over the tiny aggregated frame). The standard
# finance/ops rollup; the heavy work is one map-combinable month
# aggregation, the window runs over |months| rows.
# --------------------------------------------------------------------------
@CATALOG.query(
    "orders_monthly_mom_growth",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               count(*) AS n_orders,
               sum(o_totalprice) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, n_orders,
           CAST(revenue AS REAL) AS revenue,
           CAST(revenue - lag(revenue) OVER (ORDER BY month) AS REAL)
               AS revenue_delta,
           CAST(CASE WHEN lag(revenue) OVER (ORDER BY month) > 0
                THEN revenue / lag(revenue) OVER (ORDER BY month) - 1.0
                END AS REAL) AS mom_growth
    FROM monthly
    """,
)
def orders_monthly_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("revenue"))
    )
    w = W.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "n_orders",
        f32(F.col("revenue")).alias("revenue"),
        f32(F.col("revenue") - prev).alias("revenue_delta"),
        f32(
            F.when(prev > 0, F.col("revenue") / prev - 1.0)
        ).alias("mom_growth"),
    )


# --------------------------------------------------------------------------
# hourly_burst_flags — burst/anomaly detection on arrival rate: hourly
# event counts, each scored against the TRAILING 24 hours (rows between
# 24 preceding and 1 preceding — never peeking at itself), flagged when
# it exceeds mean + 3 sigma. The ops-alerting staple. The heavy work is
# one map-combinable hourly rollup; the trailing window runs over the
# tiny hour frame. Sample stddev over <2 trailing rows is NULL, so the
# first two hours are unflagged by construction in both engines.
# --------------------------------------------------------------------------
@CATALOG.query(
    "hourly_burst_flags",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events
        FROM events GROUP BY 1
    ), scored AS (
        SELECT hour, n_events,
               avg(n_events) OVER w AS trail_mean,
               stddev_samp(n_events) OVER w AS trail_std
        FROM hourly
        WINDOW w AS (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT hour, n_events,
           CAST(trail_mean AS REAL) AS trail_mean,
           CAST(trail_std AS REAL) AS trail_std,
           coalesce(trail_std > 0
                    AND n_events > trail_mean + 3 * trail_std, false)
               AS is_burst
    FROM scored
    """,
)
def hourly_burst_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("n_events"))
    )
    w = W.orderBy("hour").rowsBetween(-24, -1)
    scored = hourly.select(
        "hour",
        "n_events",
        F.avg("n_events").over(w).alias("trail_mean"),
        F.stddev_samp("n_events").over(w).alias("trail_std"),
    )
    return scored.select(
        "hour",
        "n_events",
        f32(F.col("trail_mean")).alias("trail_mean"),
        f32(F.col("trail_std")).alias("trail_std"),
        F.coalesce(
            (F.col("trail_std") > 0)
            & (
                F.col("n_events")
                > F.col("trail_mean") + 3 * F.col("trail_std")
            ),
            F.lit(False),
        ).alias("is_burst"),
    )


# --------------------------------------------------------------------------
# value_autocorr_by_user — lag-1 autocorrelation of each user's value
# series (the signal-persistence diagnostic: is this sensor/user stream
# trending or white noise?). Pearson r over (value, previous value)
# pairs, computed from explicit moment sums — NOT corr() — so both
# engines evaluate the identical closed form (corr's NaN-vs-NULL
# conventions on degenerate series differ between engines; the moment
# form with guarded division returns NULL in both). One (user) window
# shuffle for the lag, then a map-combinable 6-moment aggregate.
# --------------------------------------------------------------------------
@CATALOG.query(
    "value_autocorr_by_user",
    oracle="""
    WITH pairs AS (
        SELECT user_id, value AS y,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x
        FROM events
    ), m AS (
        SELECT user_id, count(*) AS n_pairs,
               sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
               sum(x * x) AS sx2, sum(y * y) AS sy2
        FROM pairs WHERE x IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, n_pairs,
           CAST(CASE WHEN (n_pairs * sx2 - sx * sx) * (n_pairs * sy2 - sy * sy) > 0
                THEN (n_pairs * sxy - sx * sy)
                     / sqrt((n_pairs * sx2 - sx * sx) * (n_pairs * sy2 - sy * sy))
                END AS REAL) AS autocorr_lag1
    FROM m
    """,
)
def value_autocorr_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        _events(spark, sf_dir)
        .select("user_id", F.col("value").alias("y"), F.lag("value").over(w).alias("x"))
        .where(F.col("x").isNotNull())
    )
    m = pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    varx = F.col("n_pairs") * F.col("sx2") - F.col("sx") * F.col("sx")
    vary = F.col("n_pairs") * F.col("sy2") - F.col("sy") * F.col("sy")
    num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "user_id",
        "n_pairs",
        f32(F.when(varx * vary > 0, num / F.sqrt(varx * vary))).alias(
            "autocorr_lag1"
        ),
    )


# --------------------------------------------------------------------------
# sessionized_bounce_rate — the bounce-rate rollup on top of the
# gap-sessionization machinery (W3 composition): per user, how many
# inactivity-gap sessions, how many were single-event "bounces", and
# the bounce share. Same two-window session numbering as
# user_sessions_gap (one user shuffle feeding both window passes), then
# two nested map-combinable aggregates.
# --------------------------------------------------------------------------
@CATALOG.query(
    "sessionized_bounce_rate",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) > {_GAP_US}
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    ), sessions AS (
        SELECT user_id, session_id, count(*) AS n_events
        FROM numbered GROUP BY user_id, session_id
    )
    SELECT user_id,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE) AS REAL) AS bounce_rate
    FROM sessions
    GROUP BY user_id
    """,
)
def sessionized_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(
        prev_us.isNull() | (F.unix_micros(F.col("ts")) - prev_us > _GAP_US), 1
    ).otherwise(0)
    sessions = (
        _events(spark, sf_dir)
        .withColumn(
            "session_id",
            F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )
    bounce = (F.col("n_events") == 1).cast("long")
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum(bounce).alias("n_bounces"),
        f32(F.sum(bounce) / F.count("*").cast("double")).alias("bounce_rate"),
    )


# --------------------------------------------------------------------------
# resample_linear_interpolate — gridded LINEAR interpolation, the
# second member of the resample family next to resample_forward_fill:
# each user's value series is resampled onto a 6-hourly grid, and each
# grid point strictly between two observations gets the time-weighted
# linear blend v_prev + (v_next - v_prev) * (t - t_prev)/(t_next -
# t_prev). Implementation is the union-window pattern (the as-of join
# device): grid rows (per-user hourly sequence between that user's
# first and last event — bounded fan-out, no global calendar) union
# event rows; ONE user-partitioned exchange feeds both direction
# passes — last non-null carried forward and first non-null carried
# backward (same partitioning, Catalyst fuses into two WindowExecs on
# one Sort) — then pure arithmetic. Grid volume at 100 TB is
# |users| x span-hours, itself a fact-scale table; every stage is
# key-partitioned with zero driver traffic.
# --------------------------------------------------------------------------
@CATALOG.query(
    "resample_linear_interpolate",
    oracle="""
    WITH bounds AS (
        SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY user_id
    ), grid AS (
        SELECT user_id,
               unnest(generate_series(date_trunc('hour', t0) + INTERVAL 6 HOUR,
                                      t1, INTERVAL 6 HOUR)) AS gts
        FROM bounds
    ), united AS (
        SELECT user_id, ts, 0 AS is_grid, value FROM events
        UNION ALL
        SELECT user_id, gts AS ts, 1 AS is_grid, NULL AS value FROM grid
    ), carried AS (
        SELECT user_id, ts, is_grid,
               last_value(value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, is_grid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
               last_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END
                          IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, is_grid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_prev,
               first_value(value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, is_grid
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
               first_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END
                           IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, is_grid
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t_next
        FROM united
    )
    SELECT user_id, ts AS grid_ts,
           CAST(CASE WHEN t_next = t_prev THEN v_prev
                ELSE v_prev + (v_next - v_prev) * (epoch_us(ts) - t_prev)
                     / (t_next - t_prev) END AS REAL) AS value_interp
    FROM carried
    WHERE is_grid = 1 AND v_prev IS NOT NULL AND v_next IS NOT NULL
    """,
)
def resample_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    bounds = ev.groupBy("user_id").agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    grid = bounds.select(
        "user_id",
        F.explode(
            F.expr(
                "sequence(date_trunc('HOUR', t0) + INTERVAL 6 HOUR, t1,"
                " INTERVAL 6 HOUR)"
            )
        ).alias("ts"),
    ).select("user_id", "ts", F.lit(1).alias("is_grid"), F.lit(None).cast("double").alias("value"))
    united = ev.select(
        "user_id", "ts", F.lit(0).alias("is_grid"), "value"
    ).unionByName(grid)
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_grid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wb = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_grid")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_us = F.when(F.col("value").isNotNull(), F.unix_micros(F.col("ts")))
    carried = united.select(
        "user_id",
        "ts",
        "is_grid",
        F.last("value", ignorenulls=True).over(wf).alias("v_prev"),
        F.last(obs_us, ignorenulls=True).over(wf).alias("t_prev"),
        F.first("value", ignorenulls=True).over(wb).alias("v_next"),
        F.first(obs_us, ignorenulls=True).over(wb).alias("t_next"),
    )
    interp = F.when(F.col("t_next") == F.col("t_prev"), F.col("v_prev")).otherwise(
        F.col("v_prev")
        + (F.col("v_next") - F.col("v_prev"))
        * (F.unix_micros(F.col("ts")) - F.col("t_prev"))
        / (F.col("t_next") - F.col("t_prev"))
    )
    return (
        carried.where(
            (F.col("is_grid") == 1)
            & F.col("v_prev").isNotNull()
            & F.col("v_next").isNotNull()
        )
        .select("user_id", F.col("ts").alias("grid_ts"), f32(interp).alias("value_interp"))
    )


# --------------------------------------------------------------------------
# nearest_event_order_asof — BIDIRECTIONAL (nearest-neighbor) as-of:
# each event paired with the user's temporally CLOSEST order, either
# side (the attribution variant where "which order is this activity
# about?" has no directional prior). Composition of the two as-of
# directions (operators/asofjoin.py): one backward pass + one forward
# pass — each a single union-window shuffle — then pure CASE
# arithmetic picks the smaller |lag| (ties prefer the preceding
# order). DuckDB's two native ASOF joins + the same CASE is the
# oracle. Still zero range-join explosion at any scale.
# --------------------------------------------------------------------------
@CATALOG.query(
    "nearest_event_order_asof",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderdate, max(o_orderkey) AS okey
        FROM orders GROUP BY o_custkey, o_orderdate
    ), back AS (
        SELECT e.event_id, e.ts, e.user_id, o.okey AS prev_key,
               o.o_orderdate AS prev_date
        FROM events e ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ), paired AS (
        SELECT b.event_id, b.ts, b.user_id, b.prev_key, b.prev_date,
               o2.okey AS next_key, o2.o_orderdate AS next_date
        FROM back b ASOF LEFT JOIN o o2
          ON b.user_id = o2.o_custkey AND b.ts <= o2.o_orderdate
    )
    SELECT event_id, ts, user_id,
           CASE WHEN prev_date IS NULL AND next_date IS NULL THEN NULL
                WHEN next_date IS NULL THEN prev_key
                WHEN prev_date IS NULL THEN next_key
                WHEN date_diff('microsecond', prev_date, ts)
                     <= date_diff('microsecond', ts, next_date)
                THEN prev_key ELSE next_key END AS nearest_order_key,
           CASE WHEN prev_date IS NULL AND next_date IS NULL THEN NULL
                WHEN next_date IS NULL THEN 'prev'
                WHEN prev_date IS NULL THEN 'next'
                WHEN date_diff('microsecond', prev_date, ts)
                     <= date_diff('microsecond', ts, next_date)
                THEN 'prev' ELSE 'next' END AS direction,
           CAST(CASE WHEN prev_date IS NULL AND next_date IS NULL THEN NULL
                WHEN next_date IS NULL
                THEN date_diff('microsecond', prev_date, ts)
                WHEN prev_date IS NULL
                THEN date_diff('microsecond', ts, next_date)
                ELSE least(date_diff('microsecond', prev_date, ts),
                           date_diff('microsecond', ts, next_date))
                END AS BIGINT) AS abs_lag_us
    FROM paired
    """,
)
def nearest_event_order_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.asofjoin import (  # noqa: PLC0415
        asof_join,
    )

    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id")
    o = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("odate"),
        )
        .agg(F.max("o_orderkey").alias("okey"))
    )
    back = asof_join(
        ev,
        o.select("user_id", "odate",
                 F.col("okey").alias("prev_key"),
                 F.col("odate").alias("prev_date")),
        on="user_id",
        left_time="ts",
        right_time="odate",
        payload_cols=["prev_key", "prev_date"],
        direction="backward",
    )
    both = asof_join(
        back,
        o.select("user_id", "odate",
                 F.col("okey").alias("next_key"),
                 F.col("odate").alias("next_date")),
        on="user_id",
        left_time="ts",
        right_time="odate",
        payload_cols=["next_key", "next_date"],
        direction="forward",
    )
    # o_orderdate reads as TIMESTAMP_NTZ; the UTC session makes the
    # cast to TIMESTAMP an identity, and unix_micros needs it.
    prev_us = F.unix_micros(F.col("prev_date").cast("timestamp"))
    next_us = F.unix_micros(F.col("next_date").cast("timestamp"))
    prev_lag = F.unix_micros(F.col("ts")) - prev_us
    next_lag = next_us - F.unix_micros(F.col("ts"))
    prefer_prev = F.col("next_date").isNull() | (
        F.col("prev_date").isNotNull() & (prev_lag <= next_lag)
    )
    none = F.col("prev_date").isNull() & F.col("next_date").isNull()
    return both.select(
        "event_id",
        "ts",
        "user_id",
        F.when(none, F.lit(None).cast("long"))
        .when(prefer_prev, F.col("prev_key"))
        .otherwise(F.col("next_key"))
        .alias("nearest_order_key"),
        F.when(none, F.lit(None).cast("string"))
        .when(prefer_prev, F.lit("prev"))
        .otherwise(F.lit("next"))
        .alias("direction"),
        F.when(none, F.lit(None).cast("long"))
        .when(prefer_prev, prev_lag)
        .otherwise(next_lag)
        .alias("abs_lag_us"),
    )


# --------------------------------------------------------------------------
# session_path_topk — user-journey mining: each gap-session's first 5
# event types concatenated into a path string ("click>view>purchase"),
# counted corpus-wide, top 20 paths. The product-analytics "top user
# flows" query, built on the same W3 session numbering as
# user_sessions_gap. Determinism: the per-session ordering is pinned
# by array_sort over (ts, event_id, type) structs — collect_list alone
# is arrival-ordered and engine-unstable; sorting inside the aggregate
# makes the path a pure function of the data. Scale: one user shuffle
# for the session windows, one (user, session) agg, one path agg with
# map-side combine, TakeOrdered for the top 20.
# --------------------------------------------------------------------------
@CATALOG.query(
    "session_path_topk",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) > {_GAP_US}
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    ), numbered AS (
        SELECT user_id, ts, event_id, event_type, session_id,
               row_number() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS rn
        FROM sessions
    ), paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM numbered WHERE rn <= 5
        GROUP BY user_id, session_id
    )
    SELECT path, count(*) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(
        prev_us.isNull() | (F.unix_micros(F.col("ts")) - prev_us > _GAP_US), 1
    ).otherwise(0)
    numbered = (
        _events(spark, sf_dir)
        .withColumn(
            "session_id",
            F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
            ),
        )
        .where(F.col("rn") <= 5)
    )
    paths = numbered.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# rolling_median_value — EXACT rolling median (7-row trailing frame) of
# each user's value series. Mean-based rolling stats are partial-agg
# friendly, but a rolling MEDIAN is holistic — the standard scale
# approach (t-digest per frame) is approximate, so this query keeps the
# exact semantics with a bounded trick: the frame is ROWS-bounded (7),
# so collect_list over the window is a constant-width array per row and
# the median is pure JVM array math (sort_array + element_at) — no UDF,
# no unbounded state, one user-partitioned window sort. The frame order
# (ts, event_id) is total, so both engines see identical frames.
# --------------------------------------------------------------------------
ROLL_MED_FRAME = 7  # trailing rows per frame (6 preceding + current)


@CATALOG.query(
    "rolling_median_value",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {ROLL_MED_FRAME - 1} PRECEDING AND CURRENT ROW
           ) AS REAL) AS roll_median
    FROM events
    """,
)
def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_MED_FRAME - 1), 0)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    s = F.size(arr)
    # SQL median of a sorted s-array: avg of elements at ceil(s/2) and
    # s/2+1 (1-based) — equal indices when s is odd.
    med = (
        F.element_at(arr, ((s + 1) / 2).cast("int"))
        + F.element_at(arr, (s / 2).cast("int") + 1)
    ) / 2.0
    return _events(spark, sf_dir).select(
        "event_id", "user_id", f32(med).alias("roll_median")
    )


# --------------------------------------------------------------------------
# value_cusum_changepoint — CUSUM changepoint detection per user: the
# running cumulative sum of (value - user_mean) peaks (in absolute
# value) exactly where the series' level shifts; report that peak's
# timestamp and height per user. Two user-partitioned windows (the
# whole-partition mean and the ordered prefix sum) share ONE user_id
# exchange; the argmax is a third window on the same partitioning —
# zero entity-grain global sorts. The time-series drift-detection
# primitive (Page's CUSUM statistic with the offline mean).
# --------------------------------------------------------------------------
@CATALOG.query(
    "value_cusum_changepoint",
    oracle="""
    WITH m AS (
        SELECT user_id, ts, event_id, value,
               avg(value) OVER (PARTITION BY user_id) AS mu,
               count(*) OVER (PARTITION BY user_id) AS n_events
        FROM events
    ), dev AS (
        SELECT user_id, ts, event_id, n_events,
               sum(value - mu)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cusum
        FROM m
    ), ranked AS (
        SELECT user_id, ts, cusum, n_events,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY abs(cusum) DESC, ts, event_id)
                   AS rn
        FROM dev
    )
    SELECT user_id, ts AS changepoint_ts,
           CAST(abs(cusum) AS REAL) AS max_abs_cusum,
           n_events
    FROM ranked WHERE rn = 1
    """,
)
def value_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_user = W.partitionBy("user_id")
    w_ord = w_user.orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, 0)
    dev = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.col("value") - F.avg("value").over(w_user)).over(w_ord).alias("cusum"),
        F.count("*").over(w_user).alias("n_events"),
    )
    rn = F.row_number().over(
        w_user.orderBy(F.abs(F.col("cusum")).desc(), "ts", "event_id")
    )
    return (
        dev.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("changepoint_ts"),
            f32(F.abs(F.col("cusum"))).alias("max_abs_cusum"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# value_histogram_equidepth — equi-DEPTH histogram of events.value: 10
# buckets with (near-)equal row counts, each reporting its value range.
# The dual of value_histogram_equiwidth, and the profiling primitive
# behind range-partition boundary planning. Bucket assignment is exact
# SQL NTILE over the TOTAL order (value, event_id) — computed with the
# distributed-rank machinery (functions.ranks.with_global_ntiles_cuts:
# histogram-selected cut keys + per-row comparison), never an
# unpartitioned window sort (docs/SCALE.md global-window policy; the
# catalog-wide lint applies).
# --------------------------------------------------------------------------
EQUIDEPTH_BUCKETS = 10


@CATALOG.query(
    "value_histogram_equidepth",
    oracle=f"""
    WITH b AS (
        SELECT value,
               ntile({EQUIDEPTH_BUCKETS}) OVER (ORDER BY value, event_id)
                   AS bucket
        FROM events
    )
    SELECT bucket, count(*) AS n,
           CAST(min(value) AS REAL) AS lo,
           CAST(max(value) AS REAL) AS hi
    FROM b GROUP BY bucket
    """,
)
def value_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.functions.ranks import (  # noqa: PLC0415
        with_global_ntiles_cuts,
    )

    ev = _events(spark, sf_dir).select("event_id", "value")
    # boundary-broadcast buckets (round-13): cut keys via histogram
    # selection; the event frame is never shuffled (ranks.py header).
    bucketed = with_global_ntiles_cuts(
        ev, [(EQUIDEPTH_BUCKETS, [("value", False), ("event_id", False)], "bucket")]
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n"),
        f32(F.min("value")).alias("lo"),
        f32(F.max("value")).alias("hi"),
    )


# --------------------------------------------------------------------------
# funnel_time_constrained — conversion funnel with a per-step deadline:
# first 'view' per user, first 'click' within 1 hour AFTER that view,
# first 'purchase' within 1 hour after the click. Unlike
# event_funnel_stages (order-only), each step must land in the
# previous step's time window — the product-analytics definition of an
# attributable conversion. Three user-grain min-aggregations chained by
# equi-joins on user_id (each stage frame is one row per user, so the
# chain stays key-partitioned; no windows, no self-join over the raw
# stream); stage counts enter the 3-row result via broadcast 1-row
# aggregates.
# --------------------------------------------------------------------------
@CATALOG.query(
    "funnel_time_constrained",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 1 HOUR
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 1 HOUR
        GROUP BY e.user_id
    ), stages AS (
        SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n_users FROM v
        UNION ALL
        SELECT 2, 'click_1h', count(*) FROM c
        UNION ALL
        SELECT 3, 'purchase_1h', count(*) FROM p
    )
    SELECT stage, stage_name, n_users,
           CAST(n_users / CAST((SELECT n_users FROM stages WHERE stage = 1)
                AS DOUBLE) AS REAL) AS share_of_entry
    FROM stages
    """,
)
def funnel_time_constrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    # v feeds FOUR branches (c, stages, entry) and c feeds two (p,
    # stages); pinned (lazy localCheckpoint) so each user-grain stage
    # frame is computed once instead of re-scanning events per branch
    # (7 parquet scans at the round-12 census, 1 now — the user-grain
    # frames are far smaller than the event corpus at any scale)
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .localCheckpoint(eager=False)
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .localCheckpoint(eager=False)
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    stages = (
        v.agg(F.count("*").alias("n_users")).select(
            F.lit(1).alias("stage"), F.lit("view").alias("stage_name"), "n_users"
        )
        .unionByName(
            c.agg(F.count("*").alias("n_users")).select(
                F.lit(2).alias("stage"),
                F.lit("click_1h").alias("stage_name"),
                "n_users",
            )
        )
        .unionByName(
            p.agg(F.count("*").alias("n_users")).select(
                F.lit(3).alias("stage"),
                F.lit("purchase_1h").alias("stage_name"),
                "n_users",
            )
        )
    )
    entry = F.broadcast(v.agg(F.count("*").alias("_entry")))
    return stages.crossJoin(entry).select(
        "stage",
        "stage_name",
        "n_users",
        f32(F.col("n_users") / F.col("_entry").cast("double")).alias(
            "share_of_entry"
        ),
    )


# --------------------------------------------------------------------------
# value_psi_drift — population-stability-index / KL drift report between
# the first and second half of the event stream (by time): the ML-ops
# primitive behind "did the feature distribution move between the
# training window and serving". 10 equi-width bins from the GLOBAL
# value bounds (one 1-row scalar agg, broadcast back — no collect);
# per-bin counts for both halves come from ONE map-combinable groupBy
# with conditional sums; add-one smoothing keeps empty bins finite and
# identical in both engines. The bin grid is generated (sequence /
# generate_series), so all 10 rows appear even when a bin is empty on
# both sides.
# --------------------------------------------------------------------------
PSI_BINS = 10


@CATALOG.query(
    "value_psi_drift",
    oracle=f"""
    WITH scal AS (
        SELECT min(value) AS vmin, max(value) AS vmax,
               min(epoch(ts)) AS tmin, max(epoch(ts)) AS tmax
        FROM events
    ), binned AS (
        SELECT CAST(CASE WHEN s.vmax = s.vmin THEN 0
                    ELSE least(floor((e.value - s.vmin)
                               / ((s.vmax - s.vmin) / {PSI_BINS})),
                               {PSI_BINS - 1}) END AS INTEGER) AS bin,
               CASE WHEN epoch(e.ts) <= (s.tmin + s.tmax) / 2.0
                    THEN 1 ELSE 0 END AS is_expected
        FROM events e CROSS JOIN scal s
    ), counts AS (
        SELECT bin,
               sum(is_expected) AS n_expected,
               sum(1 - is_expected) AS n_actual
        FROM binned GROUP BY bin
    ), grid AS (
        SELECT g.bin,
               CAST(COALESCE(c.n_expected, 0) AS BIGINT) AS n_expected,
               CAST(COALESCE(c.n_actual, 0) AS BIGINT) AS n_actual
        FROM (SELECT unnest(generate_series(0, {PSI_BINS - 1})) AS bin) g
        LEFT JOIN counts c ON g.bin = c.bin
    ), tot AS (
        SELECT sum(n_expected) AS te, sum(n_actual) AS ta FROM grid
    )
    SELECT bin, n_expected, n_actual,
           CAST((n_actual + 1) / (ta + {PSI_BINS}.0)
                - (n_expected + 1) / (te + {PSI_BINS}.0) AS REAL)
               AS share_shift,
           CAST(((n_actual + 1) / (ta + {PSI_BINS}.0)
                 - (n_expected + 1) / (te + {PSI_BINS}.0))
                * ln(((n_actual + 1) / (ta + {PSI_BINS}.0))
                     / ((n_expected + 1) / (te + {PSI_BINS}.0))) AS REAL)
               AS psi_term
    FROM grid CROSS JOIN tot
    """,
)
def value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "value", F.col("ts").cast("double").alias("ts_sec")
    )
    scal = ev.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.min("ts_sec").alias("tmin"),
        F.max("ts_sec").alias("tmax"),
    )
    width = (F.col("vmax") - F.col("vmin")) / PSI_BINS
    bin_id = (
        F.when(F.col("vmax") == F.col("vmin"), 0)
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("vmin")) / width),
                F.lit(PSI_BINS - 1),
            )
        )
        .cast("int")
    )
    is_expected = (
        F.col("ts_sec") <= (F.col("tmin") + F.col("tmax")) / 2.0
    ).cast("long")
    counts = (
        ev.crossJoin(F.broadcast(scal))
        .groupBy(bin_id.alias("bin"))
        .agg(
            F.sum(is_expected).alias("n_expected"),
            F.sum(1 - is_expected).alias("n_actual"),
        )
    )
    grid = spark.range(PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    filled = (
        grid.join(counts, "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("n_expected"), F.lit(0)).alias("n_expected"),
            F.coalesce(F.col("n_actual"), F.lit(0)).alias("n_actual"),
        )
        .localCheckpoint(eager=False)  # 10 rows; reused by the total side
    )
    tot = F.broadcast(
        filled.agg(
            F.sum("n_expected").alias("te"), F.sum("n_actual").alias("ta")
        )
    )
    pe = (F.col("n_expected") + 1) / (F.col("te") + F.lit(float(PSI_BINS)))
    pa = (F.col("n_actual") + 1) / (F.col("ta") + F.lit(float(PSI_BINS)))
    return filled.crossJoin(tot).select(
        "bin",
        "n_expected",
        "n_actual",
        f32(pa - pe).alias("share_shift"),
        f32((pa - pe) * F.log(pa / pe)).alias("psi_term"),
    )


# --------------------------------------------------------------------------
# user_interval_coverage — merged-interval coverage (the sweep-line
# union of overlapping intervals): each event opens the same 5-minute
# activity interval as concurrent_active_intervals; per user, the
# intervals merge into maximal islands (an island starts where an
# interval's start exceeds the running max end of everything earlier),
# and the report is events / islands / covered time / span coverage.
# The utilization dual of the concurrency counter. All arithmetic is
# epoch-MICROSECOND integers (unix_micros / epoch_us), so the result is
# bit-exact across engines. Three windows, all on the user_id
# partitioning — one exchange (pinned).
# --------------------------------------------------------------------------
@CATALOG.query(
    "user_interval_coverage",
    oracle=f"""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s_us,
               epoch_us(ts + INTERVAL {INTERVAL_SECONDS} SECOND) AS e_us
        FROM events
    ), marked AS (
        SELECT user_id, event_id, s_us, e_us,
               CASE WHEN s_us > max(e_us) OVER (
                        PARTITION BY user_id ORDER BY s_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ), islands AS (
        SELECT user_id, s_us, e_us,
               sum(new_island) OVER (
                   PARTITION BY user_id ORDER BY s_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island_id
        FROM marked
    ), per_island AS (
        SELECT user_id, island_id,
               min(s_us) AS i_start, max(e_us) AS i_end
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(i_end - i_start) AS BIGINT) AS covered_us,
           CAST(max(i_end) - min(i_start) AS BIGINT) AS span_us,
           CAST(sum(i_end - i_start)
                / CAST(max(i_end) - min(i_start) AS DOUBLE) AS REAL)
               AS coverage_ratio
    FROM per_island GROUP BY user_id
    """,
)
def user_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("s_us"),
        F.unix_micros(
            F.col("ts") + F.expr(f"INTERVAL {INTERVAL_SECONDS} SECOND")
        ).alias("e_us"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(F.col("s_us") > F.max("e_us").over(w_prev), 1).otherwise(0),
    )
    w_pre = (
        W.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    islands = marked.withColumn("island_id", F.sum("new_island").over(w_pre))
    per_island = islands.groupBy("user_id", "island_id").agg(
        F.min("s_us").alias("i_start"), F.max("e_us").alias("i_end")
    )
    span = F.max("i_end") - F.min("i_start")
    covered = F.sum(F.col("i_end") - F.col("i_start"))
    return per_island.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        covered.alias("covered_us"),
        span.alias("span_us"),
        f32(covered / span.cast("double")).alias("coverage_ratio"),
    )


# --------------------------------------------------------------------------
# ks_binned_drift — two-sample Kolmogorov-Smirnov drift report between
# the error-event value distribution and everything else: the binned
# ECDF gap per bin (max over rows = the KS statistic). The exact KS
# needs a cumulative sum over DISTINCT VALUES — unbounded entity-grain
# cardinality — so the scale-safe form bins first (KS_BINS equi-width
# bins from the global bounds, same scheme as value_psi_drift) and
# reports the ECDF gap at every bin edge; the binned statistic is a
# lower bound of exact KS that converges as the grid refines, and the
# bin-grain cumulative window runs over KS_BINS rows (whitelisted
# bounded frame). One row-volume aggregation, everything after is
# arithmetic on KS_BINS rows.
# --------------------------------------------------------------------------
KS_BINS = 20


@CATALOG.query(
    "ks_binned_drift",
    oracle=f"""
    WITH scal AS (
        SELECT min(value) AS vmin, max(value) AS vmax FROM events
    ), binned AS (
        SELECT CAST(CASE WHEN s.vmax = s.vmin THEN 0
                    ELSE least(floor((e.value - s.vmin)
                               / ((s.vmax - s.vmin) / {KS_BINS})),
                               {KS_BINS - 1}) END AS INTEGER) AS bin,
               CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END AS is_err
        FROM events e CROSS JOIN scal s
    ), counts AS (
        SELECT bin, sum(is_err) AS n_err, sum(1 - is_err) AS n_other
        FROM binned GROUP BY bin
    ), grid AS (
        SELECT g.bin,
               CAST(COALESCE(c.n_err, 0) AS BIGINT) AS n_err,
               CAST(COALESCE(c.n_other, 0) AS BIGINT) AS n_other
        FROM (SELECT unnest(generate_series(0, {KS_BINS - 1})) AS bin) g
        LEFT JOIN counts c ON g.bin = c.bin
    ), cum AS (
        SELECT bin, n_err, n_other,
               sum(n_err) OVER (ORDER BY bin) AS ce,
               sum(n_other) OVER (ORDER BY bin) AS co,
               sum(n_err) OVER () AS te,
               sum(n_other) OVER () AS tot
        FROM grid
    )
    SELECT bin, n_err, n_other,
           CAST(ce / CAST(greatest(te, 1) AS DOUBLE) AS REAL) AS ecdf_err,
           CAST(co / CAST(greatest(tot, 1) AS DOUBLE) AS REAL) AS ecdf_other,
           CAST(abs(ce / CAST(greatest(te, 1) AS DOUBLE)
                    - co / CAST(greatest(tot, 1) AS DOUBLE)) AS REAL)
               AS ecdf_gap
    FROM cum
    """,
)
def ks_binned_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("value", "event_type")
    scal = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    width = (F.col("vmax") - F.col("vmin")) / KS_BINS
    bin_id = (
        F.when(F.col("vmax") == F.col("vmin"), 0)
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("vmin")) / width),
                F.lit(KS_BINS - 1),
            )
        )
        .cast("int")
    )
    is_err = (F.col("event_type") == "error").cast("long")
    counts = (
        ev.crossJoin(F.broadcast(scal))
        .groupBy(bin_id.alias("bin"))
        .agg(
            F.sum(is_err).alias("n_err"),
            F.sum(1 - is_err).alias("n_other"),
        )
    )
    grid = spark.range(KS_BINS).select(F.col("id").cast("int").alias("bin"))
    filled = grid.join(counts, "bin", "left").select(
        "bin",
        F.coalesce(F.col("n_err"), F.lit(0)).alias("n_err"),
        F.coalesce(F.col("n_other"), F.lit(0)).alias("n_other"),
    )
    # KS_BINS rows: the unpartitioned cumulative/total windows are
    # bounded by the bin grid (whitelisted in the catalog-wide lint).
    wc = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    wt = W.orderBy("bin").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    ce = F.sum("n_err").over(wc)
    co = F.sum("n_other").over(wc)
    te = F.greatest(F.sum("n_err").over(wt), F.lit(1)).cast("double")
    tot = F.greatest(F.sum("n_other").over(wt), F.lit(1)).cast("double")
    return filled.select(
        "bin",
        "n_err",
        "n_other",
        f32(ce / te).alias("ecdf_err"),
        f32(co / tot).alias("ecdf_other"),
        f32(F.abs(ce / te - co / tot)).alias("ecdf_gap"),
    )


# --------------------------------------------------------------------------
# mannwhitney_value_shift — exact Mann-Whitney U (rank-sum) between the
# click and purchase value distributions: the nonparametric "did the
# distribution shift" test (AUC interpretation: P(click > purchase) +
# 0.5 P(tie)). Exact tie handling via midranks, computed DISTRIBUTED:
# functions.ranks assigns global 0-based row ranks under a total order
# (value, event_id) with zero single-partition sorts; a value-grain
# aggregation recovers each tie group's min rank and size, from which
# the midrank is integer arithmetic: 2*midrank = 2*min_rank + c + 1.
# Everything is exact BIGINT until the final AUC division (f32
# boundary), so the cross-engine hash is summation-order-proof.
# --------------------------------------------------------------------------
@CATALOG.query(
    "mannwhitney_value_shift",
    oracle="""
    WITH x AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               event_id
        FROM events WHERE event_type IN ('click', 'purchase')
    ), r AS (
        SELECT a,
               rank() OVER (ORDER BY value) AS rmin,
               count(*) OVER (PARTITION BY value) AS c
        FROM x
    ), s AS (
        SELECT CAST(sum(a) AS BIGINT) AS n_click,
               CAST(count(*) - sum(a) AS BIGINT) AS n_purchase,
               CAST(sum(a * (2 * rmin + c - 1)) AS BIGINT) AS r2
        FROM r
    )
    SELECT n_click, n_purchase,
           CAST(r2 - n_click * (n_click + 1) AS BIGINT) AS u_times_2,
           CAST((r2 - n_click * (n_click + 1))
                / (2.0 * n_click * n_purchase) AS REAL) AS auc
    FROM s
    """,
)
def mannwhitney_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.functions.ranks import (  # noqa: PLC0415
        with_global_rank,
    )

    ev = (
        _events(spark, sf_dir)
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "value",
            "event_id",
            (F.col("event_type") == "click").cast("long").alias("a"),
        )
    )
    ranked, _n = with_global_rank(
        ev, [F.col("value"), F.col("event_id")], "rank0"
    )
    # tie group (value): min 0-based rank m, size c; 1-based midrank
    # doubled = 2m + c + 1 == 2*rank()_min + c - 1
    per_value = ranked.groupBy("value").agg(
        F.min("rank0").alias("m"),
        F.count("*").alias("c"),
        F.sum("a").alias("na_v"),
    )
    s = per_value.agg(
        F.sum("na_v").alias("n_click"),
        (F.sum("c") - F.sum("na_v")).alias("n_purchase"),
        F.sum(F.col("na_v") * (2 * F.col("m") + F.col("c") + 1)).alias("r2"),
    )
    u2 = F.col("r2") - F.col("n_click") * (F.col("n_click") + 1)
    return s.select(
        "n_click",
        "n_purchase",
        u2.alias("u_times_2"),
        f32(
            u2 / (2.0 * F.col("n_click") * F.col("n_purchase"))
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# ols_trend_by_user — per-user least-squares trend of value over time
# (slope / intercept / R^2): the entity-grain feature-drift regression
# a training pipeline runs per cohort. ONE map-combinable aggregation:
# slope = cov(x,y)/var(x) from streaming co-moments (numerically
# stable in both engines; epoch-second magnitudes cancel inside the
# co-moment update, and the f32 output boundary absorbs merge-order
# noise). Users need >= 3 points and non-degenerate x; R^2 is NULL
# when y is constant (NULLIF in both engines).
# --------------------------------------------------------------------------
@CATALOG.query(
    "ols_trend_by_user",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(covar_pop(epoch(ts), value) / var_pop(epoch(ts)) AS REAL)
               AS slope,
           CAST(avg(value) - covar_pop(epoch(ts), value)
                / var_pop(epoch(ts)) * avg(epoch(ts)) AS REAL) AS intercept,
           CAST(covar_pop(epoch(ts), value) * covar_pop(epoch(ts), value)
                / NULLIF(var_pop(epoch(ts)) * var_pop(value), 0) AS REAL)
               AS r_squared
    FROM events
    GROUP BY user_id
    HAVING count(*) >= 3 AND var_pop(epoch(ts)) > 0
    """,
)
def ols_trend_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = F.unix_micros(F.col("ts")) / 1_000_000.0
    ev = _events(spark, sf_dir).select(
        "user_id", x.alias("x"), F.col("value").alias("y")
    )
    g = ev.groupBy("user_id").agg(
        F.count("*").alias("n_points"),
        F.covar_pop("x", "y").alias("sxy"),
        F.var_pop("x").alias("sxx"),
        F.var_pop("y").alias("syy"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
    )
    slope = F.col("sxy") / F.col("sxx")
    return (
        g.where((F.col("n_points") >= 3) & (F.col("sxx") > 0))
        .select(
            "user_id",
            "n_points",
            f32(slope).alias("slope"),
            f32(F.col("my") - slope * F.col("mx")).alias("intercept"),
            f32(
                F.col("sxy")
                * F.col("sxy")
                / F.nullif(F.col("sxx") * F.col("syy"), F.lit(0.0))
            ).alias("r_squared"),
        )
    )


# --------------------------------------------------------------------------
# seasonal_decompose_profile — two-factor additive seasonal
# decomposition of the value stream: value ~ global mean + hour-of-day
# effect + day-of-week effect, with per-(hour, dow) residual variance
# (the observability view behind "is this spike seasonal or an
# anomaly"). Scale shape: ALL THREE effect grains come from ONE
# grouping-sets scan (hour / dow / global share a single shuffle of
# map-combined partials); the 24-row and 7-row effect tables broadcast
# back onto the stream for the residual pass — two row-volume scans
# total, no entity-grain state.
# --------------------------------------------------------------------------
@CATALOG.query(
    "seasonal_decompose_profile",
    oracle="""
    WITH g AS (
        SELECT avg(value) AS m FROM events
    ), eh AS (
        SELECT date_part('hour', ts) AS hour, avg(value) AS ah
        FROM events GROUP BY 1
    ), ed AS (
        SELECT date_part('dow', ts) AS dow, avg(value) AS ad
        FROM events GROUP BY 1
    )
    SELECT CAST(date_part('hour', e.ts) AS BIGINT) AS hour,
           CAST(date_part('dow', e.ts) AS BIGINT) AS dow,
           count(*) AS n_events,
           CAST(g.m + (eh.ah - g.m) + (ed.ad - g.m) AS REAL) AS seasonal_pred,
           CAST(avg((e.value - (g.m + (eh.ah - g.m) + (ed.ad - g.m)))
                    * (e.value - (g.m + (eh.ah - g.m) + (ed.ad - g.m))))
                AS REAL) AS resid_var
    FROM events e
    CROSS JOIN g
    JOIN eh ON eh.hour = date_part('hour', e.ts)
    JOIN ed ON ed.dow = date_part('dow', e.ts)
    GROUP BY 1, 2, seasonal_pred
    """,
)
def seasonal_decompose_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.hour("ts").cast("long").alias("hour"),
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        "value",
    )
    # one scan, one shuffle: hour / dow / global as grouping sets
    sets = (
        ev.groupingSets([["hour"], ["dow"], []], "hour", "dow")
        .agg(F.avg("value").alias("a"))
        .localCheckpoint(eager=False)  # 32 rows, reused thrice
    )
    g = sets.where(F.col("hour").isNull() & F.col("dow").isNull()).select(
        F.col("a").alias("m")
    )
    eh = sets.where(F.col("hour").isNotNull()).select(
        "hour", F.col("a").alias("ah")
    )
    ed = sets.where(F.col("dow").isNotNull()).select("dow", F.col("a").alias("ad"))
    pred = F.col("m") + (F.col("ah") - F.col("m")) + (F.col("ad") - F.col("m"))
    resid = F.col("value") - pred
    return (
        ev.crossJoin(F.broadcast(g))
        .join(F.broadcast(eh), "hour")
        .join(F.broadcast(ed), "dow")
        .groupBy("hour", "dow", f32(pred).alias("seasonal_pred"))
        .agg(
            F.count("*").alias("n_events"),
            f32(F.avg(resid * resid)).alias("resid_var"),
        )
        .select(
            "hour", "dow", "n_events", "seasonal_pred", "resid_var"
        )
    )


# --------------------------------------------------------------------------
# last_touch_attribution — marketing attribution: every purchase is
# credited to the user's most recent PRECEDING non-purchase event type
# (last-touch model). One user-partitioned window (conditional last
# IGNORE NULLS over the strictly-preceding frame) computes the carry;
# the rollup sums purchase value in exact BIGINT cents so the
# cross-engine hash is summation-order-proof. Purchases with no prior
# touch credit 'none'.
# --------------------------------------------------------------------------
@CATALOG.query(
    "last_touch_attribution",
    oracle="""
    WITH o AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS attr
        FROM events
    )
    SELECT coalesce(attr, 'none') AS attributed_type,
           count(*) AS n_purchases,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM o WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    attr = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        _events(spark, sf_dir)
        .withColumn("attr", attr)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("attr"), F.lit("none")).alias("attributed_type"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


# --------------------------------------------------------------------------
# activity_bitmap_profile — roaring-style day-presence bitmaps: each
# user's active days are OR-ed into 64-bit words (word = day DIV 64,
# bit = day MOD 64) by a single bit_or aggregation — the bitmap-index
# pattern that makes presence/retention queries cheap at 100 TB: the
# row-volume stage collapses events to (user, word) grain map-side,
# popcounts are pure JVM bit_count, and the final histogram is
# user-grain. Day indices are relative to the corpus min date (scalar
# broadcast, same pattern as ks_binned_drift's bounds), so the layout
# is fixture-independent. Everything is exact integer arithmetic —
# no float boundary at all, the strongest possible cross-engine hash.
# --------------------------------------------------------------------------
@CATALOG.query(
    "activity_bitmap_profile",
    oracle="""
    WITH scal AS (
        SELECT min(CAST(ts AS DATE)) AS d0 FROM events
    ), d AS (
        SELECT e.user_id,
               date_diff('day', s.d0, CAST(e.ts AS DATE)) AS day
        FROM events e CROSS JOIN scal s
    ), w AS (
        SELECT user_id, day // 64 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(day % 64 AS INTEGER)) AS mask
        FROM d GROUP BY user_id, day // 64
    ), u AS (
        SELECT user_id, CAST(sum(bit_count(mask)) AS BIGINT) AS active_days
        FROM w GROUP BY user_id
    )
    SELECT active_days,
           count(*) AS n_users,
           min(user_id) AS min_user,
           max(user_id) AS max_user
    FROM u GROUP BY active_days
    """,
)
def activity_bitmap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", F.to_date("ts").alias("_d"))
    scal = ev.agg(F.min("_d").alias("d0"))
    words = (
        ev.crossJoin(F.broadcast(scal))
        .groupBy(
            "user_id",
            F.expr("datediff(_d, d0) DIV 64").alias("word"),
        )
        .agg(
            F.bit_or(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(datediff(_d, d0) % 64 AS INT))"
                )
            ).alias("mask")
        )
    )
    users = words.groupBy("user_id").agg(
        F.sum(F.bit_count("mask")).alias("active_days")
    )
    return users.groupBy("active_days").agg(
        F.count("*").alias("n_users"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )


# --------------------------------------------------------------------------
# rolling_corr_minute — rolling Pearson correlation between the click
# and error per-minute rates over a 15-minute trailing frame,
# partitioned by day: "do error bursts track click bursts" anomaly
# context. The five co-moment sums (n, Sx, Sy, Sxy, Sx2, Sy2) run over
# EXACT BIGINT minute counts inside ONE day-partitioned window pass —
# a single exchange on the day key, bounded frames, no unpartitioned
# window — and the closed-form correlation
# (n*Sxy - Sx*Sy) / sqrt((n*Sx2 - Sx^2)(n*Sy2 - Sy^2)) is evaluated
# once per row at the f32 boundary, with the zero-variance guard
# yielding NULL identically on both engines. Integer co-moments make
# the hash summation-order-proof; at 100 TB the minute pre-aggregation
# is the only row-volume stage (map-side combinable).
# --------------------------------------------------------------------------
CORR_FRAME_MINUTES = 15


@CATALOG.query(
    "rolling_corr_minute",
    oracle=f"""
    WITH m AS (
        SELECT date_trunc('minute', ts) AS minute,
               CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), r AS (
        SELECT minute, x, y,
               count(*) OVER w AS n,
               sum(x) OVER w AS sx, sum(y) OVER w AS sy,
               sum(x * y) OVER w AS sxy,
               sum(x * x) OVER w AS sx2, sum(y * y) OVER w AS sy2
        FROM m
        WINDOW w AS (PARTITION BY day ORDER BY minute
                     ROWS BETWEEN {CORR_FRAME_MINUTES - 1} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT minute, x AS n_click, y AS n_err,
           CAST(CASE WHEN n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
                THEN (n * sxy - sx * sy)
                     / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
                            * CAST(n * sy2 - sy * sy AS DOUBLE))
                ELSE NULL END AS REAL) AS corr_15m
    FROM r
    """,
)
def rolling_corr_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    m = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute"),
        F.to_date("ts").alias("day"),
    ).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("y"),
    )
    w = (
        W.partitionBy("day")
        .orderBy("minute")
        .rowsBetween(-(CORR_FRAME_MINUTES - 1), 0)
    )
    n = F.count("*").over(w)
    sx, sy = F.sum("x").over(w), F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sx2 = F.sum(F.col("x") * F.col("x")).over(w)
    sy2 = F.sum(F.col("y") * F.col("y")).over(w)
    var_x = n * sx2 - sx * sx
    var_y = n * sy2 - sy * sy
    corr = F.when(
        (var_x > 0) & (var_y > 0),
        (n * sxy - sx * sy)
        / F.sqrt(var_x.cast("double") * var_y.cast("double")),
    )
    return m.select(
        "minute",
        F.col("x").alias("n_click"),
        F.col("y").alias("n_err"),
        f32(corr).alias("corr_15m"),
    )


# --------------------------------------------------------------------------
# daily_mix_kl_anomaly — per-day KL divergence of the event-type mix
# against the whole-corpus mix: the "did today's traffic composition
# shift" anomaly series (value_psi_drift compares two fixed halves;
# this emits a per-day score). One (day, type) aggregation is the only
# row-volume stage; the day totals and the global type mix are
# dimension-grain tables that broadcast onto it. KL terms exist only
# for types observed that day (p > 0, and q > 0 follows since the
# global mix contains the day), so the sum needs no smoothing.
# Counts stay BIGINT; the single double division chain per term meets
# f32 at the end.
# --------------------------------------------------------------------------
@CATALOG.query(
    "daily_mix_kl_anomaly",
    oracle="""
    WITH cnt AS (
        SELECT date_trunc('day', ts) AS day, event_type,
               count(*) AS n_dt
        FROM events GROUP BY 1, 2
    ), day_tot AS (
        SELECT day, sum(n_dt) AS n_day FROM cnt GROUP BY day
    ), gmix AS (
        SELECT event_type, sum(n_dt) AS n_type FROM cnt GROUP BY event_type
    ), tot AS (
        SELECT sum(n_dt) AS n FROM cnt
    )
    SELECT c.day,
           CAST(max(d.n_day) AS BIGINT) AS n_events,
           CAST(sum((c.n_dt / CAST(d.n_day AS DOUBLE))
                    * ln((c.n_dt / CAST(d.n_day AS DOUBLE))
                         / (g.n_type / CAST(t.n AS DOUBLE)))) AS REAL)
               AS kl_nats
    FROM cnt c
    JOIN day_tot d USING (day)
    JOIN gmix g USING (event_type)
    CROSS JOIN tot t
    GROUP BY c.day
    """,
)
def daily_mix_kl_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnt = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n_dt"))
        .localCheckpoint(eager=False)  # day*type grain; reused 4 ways
    )
    day_tot = cnt.groupBy("day").agg(F.sum("n_dt").alias("n_day"))
    glob = cnt.groupBy("event_type").agg(F.sum("n_dt").alias("n_type"))
    tot = cnt.agg(F.sum("n_dt").alias("n"))
    p = F.col("n_dt") / F.col("n_day").cast("double")
    q = F.col("n_type") / F.col("n").cast("double")
    return (
        cnt.join(F.broadcast(day_tot), "day")
        .join(F.broadcast(glob), "event_type")
        .crossJoin(F.broadcast(tot))
        .groupBy("day")
        .agg(
            F.max("n_day").alias("n_events"),
            f32(F.sum(p * F.log(p / q))).alias("kl_nats"),
        )
    )


# --------------------------------------------------------------------------
# quantile_sketch_profile — a hand-built MERGEABLE quantile sketch
# (disjoint-block compaction, the building block of KLL/GK-family
# sketches) composed with the exact-weighted-quantile machinery:
#   1. each partition sorts locally and collapses every run of k
#      consecutive values into (block max, weight k), k sized so a
#      partition emits <= SKETCH_BLOCK_TARGET points — a map-only
#      Arrow-batched compaction, deterministic, no RNG;
#   2. the compacted (value, weight) table IS a weighted sample with a
#      provable rank guarantee (an estimate's true rank is off by at
#      most k_p - 1 per partition, so the relative rank error shrinks
#      as 1/SKETCH_BLOCK_TARGET), and
#      functions.quantiles.exact_weighted_quantiles turns it into
#      decile estimates with one scalar-offset pass.
# This is the documented sketch path for quantiles at 100 TB: the
# full-fidelity alternative (exact distributed quantiles) costs 2-4
# scans of ALL rows; the sketch shuffles only n_partitions x
# SKETCH_BLOCK_TARGET weighted points. Rows-only for the driver
# (estimates are sketch-dependent by design); the rank-error guarantee
# is enforced by an independent pytest gate against the exact ranks.
# --------------------------------------------------------------------------
SKETCH_BLOCK_TARGET = 256
SKETCH_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


def _sketch_compact(batches):
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    vals = [pdf["v"].to_numpy(dtype="float64") for pdf in batches]
    if not vals:
        return
    v = np.sort(np.concatenate(vals))
    n = v.size
    if n == 0:
        return
    k = max(1, -(-n // SKETCH_BLOCK_TARGET))  # ceil
    edges = np.arange(k - 1, n, k)
    if edges[-1] != n - 1:
        edges = np.append(edges, n - 1)
    weights = np.diff(np.concatenate(([-1], edges)))
    yield pd.DataFrame({"v": v[edges], "w": weights.astype("int64")})


@CATALOG.query("quantile_sketch_profile")
def quantile_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        exact_weighted_quantiles,
    )

    src = _events(spark, sf_dir).select(F.col("value").cast("double").alias("v"))
    compact = src.mapInPandas(
        _sketch_compact, schema="v double, w long"
    ).localCheckpoint(eager=False)  # reused: meta census + quantile pass
    meta = F.broadcast(
        compact.agg(
            F.count("*").alias("sketch_rows"),
            F.max("w").alias("max_block"),
        )
    )
    est = exact_weighted_quantiles(compact, "v", "w", qs=SKETCH_QS)
    return est.crossJoin(meta).select(
        "q",
        F.col("wq").alias("estimate"),
        F.col("total_weight").cast("long").alias("n_rows"),
        "sketch_rows",
        "max_block",
    )


# --------------------------------------------------------------------------
# minute_latency_bands — the observability staple: per-minute p50/p95/
# p99 bands of the value signal plus throughput. This is the documented
# COUNTERPOINT to functions.quantiles: F.percentile's per-group buffer
# is bounded here by per-minute arrival volume (a rate, not a corpus
# fraction), which is exactly the grain where the buffering exact
# aggregate is the right trade (see the quantiles module docstring);
# corpus-grain percentiles must use the distributed machinery instead.
# One map-combinable exchange at minute grain; interpolation is
# quantile_cont semantics on both engines, f32 at the boundary.
# --------------------------------------------------------------------------
@CATALOG.query(
    "minute_latency_bands",
    oracle="""
    SELECT date_trunc('minute', ts) AS minute,
           count(*) AS n_events,
           CAST(quantile_cont(value, 0.5) AS REAL) AS p50,
           CAST(quantile_cont(value, 0.95) AS REAL) AS p95,
           CAST(quantile_cont(value, 0.99) AS REAL) AS p99
    FROM events GROUP BY 1
    """,
)
def minute_latency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(
            F.count("*").alias("n_events"),
            f32(F.expr("percentile(value, 0.5)")).alias("p50"),
            f32(F.expr("percentile(value, 0.95)")).alias("p95"),
            f32(F.expr("percentile(value, 0.99)")).alias("p99"),
        )
    )


# --------------------------------------------------------------------------
# type_dow_mutual_information — dependence audit between event type and
# day-of-week as MUTUAL INFORMATION (bits), with the marginal
# entropies and the normalized MI: the information-theoretic sibling
# of chi_square_nation_segment. Unlike chi-square, EMPTY cells
# contribute exactly 0 to MI, so the observed (type, dow) cells from
# one count aggregation are the complete computation — no full-grid
# reconstruction needed. Cell counts are a bounded |types| x 7 table;
# the marginals are broadcast joins over it; the whole query is one
# corpus scan with map-side combine. dow convention: 0 = Sunday in
# both engines (Spark dayofweek() - 1 == DuckDB date_part('dow')).
# --------------------------------------------------------------------------
@CATALOG.query(
    "type_dow_mutual_information",
    oracle="""
    WITH cells AS (
        SELECT event_type AS t, CAST(date_part('dow', ts) AS BIGINT) AS d,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ), rt AS (SELECT t, sum(c) AS ct FROM cells GROUP BY t),
       cd AS (SELECT d, sum(c) AS cd FROM cells GROUP BY d),
       n AS (SELECT sum(c) AS n FROM cells)
    SELECT CAST(n.n AS BIGINT) AS n_events,
           CAST(sum(cells.c / CAST(n.n AS DOUBLE)
                    * log2(cells.c * CAST(n.n AS DOUBLE)
                           / (rt.ct * CAST(cd.cd AS DOUBLE)))) AS REAL)
               AS mi_bits,
           CAST((SELECT -sum(ct / CAST(n2.n AS DOUBLE)
                             * log2(ct / CAST(n2.n AS DOUBLE)))
                 FROM rt, n n2) AS REAL) AS h_type,
           CAST((SELECT -sum(cd / CAST(n2.n AS DOUBLE)
                             * log2(cd / CAST(n2.n AS DOUBLE)))
                 FROM cd, n n2) AS REAL) AS h_dow
    FROM cells JOIN rt USING (t) JOIN cd USING (d), n
    GROUP BY n.n
    """,
)
def type_dow_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("t"),
            (F.dayofweek("ts") - 1).cast("long").alias("d"),
        )
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # bounded |types| x 7 cell table
    )
    rt = cells.groupBy("t").agg(F.sum("c").alias("ct"))
    cd = cells.groupBy("d").agg(F.sum("c").alias("cd"))
    n = cells.agg(F.sum("c").alias("n"))
    joined = (
        cells.join(F.broadcast(rt), "t")
        .join(F.broadcast(cd), "d")
        .crossJoin(F.broadcast(n))
    )
    mi = joined.agg(
        F.first("n").alias("n_events"),
        f32(
            F.sum(
                F.col("c")
                / F.col("n").cast("double")
                * F.log2(
                    F.col("c")
                    * F.col("n").cast("double")
                    / (F.col("ct") * F.col("cd").cast("double"))
                )
            )
        ).alias("mi_bits"),
    )
    h_type = rt.crossJoin(F.broadcast(n)).agg(
        f32(
            -F.sum(
                F.col("ct")
                / F.col("n").cast("double")
                * F.log2(F.col("ct") / F.col("n").cast("double"))
            )
        ).alias("h_type")
    )
    h_dow = cd.crossJoin(F.broadcast(n)).agg(
        f32(
            -F.sum(
                F.col("cd")
                / F.col("n").cast("double")
                * F.log2(F.col("cd") / F.col("n").cast("double"))
            )
        ).alias("h_dow")
    )
    return mi.crossJoin(F.broadcast(h_type)).crossJoin(F.broadcast(h_dow))


# --------------------------------------------------------------------------
# value_tail_hill_index — Hill estimator of the value distribution's
# tail index per event type, over the top-100 order statistics:
# alpha = 1 / mean(ln(v_i / v_(k+1))), the standard heavy-tail
# diagnostic (alpha < 2 => infinite variance territory) for deciding
# whether mean-based monitoring is even valid. Selection is a
# WindowGroupLimit-able rank over (value DESC, event_id) — the
# deterministic tie-break makes the chosen order-statistic set
# engine-portable — and the estimator is a conditional avg over the
# bounded top-(k+1) frame. One shuffle on event_type; the rank prunes
# per-partition before the final tiny aggregation.
#
# Validity guard: the estimator is DEFINED over exactly k order
# statistics above the (k+1)-th; a group with fewer than k+1 positive
# values cannot supply them, and dividing its partial ln-sum by the
# constant k would fabricate an alpha (round-8 review finding) — such
# groups keep their census columns but emit hill_alpha NULL.
# --------------------------------------------------------------------------
HILL_K = 100


@CATALOG.query(
    "value_tail_hill_index",
    oracle=f"""
    WITH pos AS (
        SELECT event_type, event_id, value FROM events WHERE value > 0
    ), ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS rn
        FROM pos
    ), top AS (
        SELECT * FROM ranked WHERE rn <= {HILL_K + 1}
    )
    SELECT event_type,
           CAST((SELECT count(*) FROM pos p
                 WHERE p.event_type = top.event_type) AS BIGINT)
               AS n_positive,
           CAST(min(value) AS REAL) AS x_k1,
           CAST(CASE WHEN count(*) = {HILL_K + 1} THEN
               1.0 / (sum(CASE WHEN rn <= {HILL_K} THEN ln(value) END)
                      / {HILL_K}.0 - ln(min(value)))
           END AS REAL) AS hill_alpha
    FROM top
    GROUP BY event_type
    """,
)
def value_tail_hill_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = _events(spark, sf_dir).where(F.col("value") > 0).select(
        "event_type", "event_id", "value"
    )
    w = W.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    ranked = pos.withColumn("rn", F.row_number().over(w))
    top = ranked.where(F.col("rn") <= HILL_K + 1)
    counts = pos.groupBy("event_type").agg(
        F.count("*").alias("n_positive")
    )
    est = top.groupBy("event_type").agg(
        f32(F.min("value")).alias("x_k1"),
        f32(
            F.when(
                F.count("*") == HILL_K + 1,
                1.0
                / (
                    F.sum(
                        F.when(F.col("rn") <= HILL_K, F.log(F.col("value")))
                    )
                    / float(HILL_K)
                    - F.log(F.min("value"))
                ),
            )
        ).alias("hill_alpha"),
    )
    return est.join(F.broadcast(counts), "event_type").select(
        "event_type", "n_positive", "x_k1", "hill_alpha"
    )


# --------------------------------------------------------------------------
# user_diurnal_harmonic — first-harmonic (24 h period) fit of each
# user's value-weighted activity: the Fourier pair C = Σ v·cos θ,
# S = Σ v·sin θ with θ = 2π·hour/24 gives the diurnal amplitude share
# sqrt(C² + S²)/Σv and the peak hour atan2(S, C)·24/2π — a
# closed-form seasonality detector with NO window function: everything
# is one map-combinable per-user aggregation (the same co-moment trick
# as ols_trend_by_user), so the query is a single exchange on user_id
# at any corpus size. Hours are UTC in both engines.
# --------------------------------------------------------------------------
_TWO_PI = 6.283185307179586


@CATALOG.query(
    "user_diurnal_harmonic",
    oracle=f"""
    WITH scored AS (
        SELECT user_id, value,
               cos({_TWO_PI} * date_part('hour', ts) / 24.0) AS cth,
               sin({_TWO_PI} * date_part('hour', ts) / 24.0) AS sth
        FROM events WHERE value > 0
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(sqrt(sum(value * cth) * sum(value * cth)
                     + sum(value * sth) * sum(value * sth))
                / sum(value) AS REAL) AS amp_share,
           CAST(((atan2(sum(value * sth), sum(value * cth))
                  * 24.0 / {_TWO_PI}) % 24.0 + 24.0) % 24.0 AS REAL)
               AS peak_hour
    FROM scored
    GROUP BY user_id
    """,
)
def user_diurnal_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    theta = F.lit(_TWO_PI) * F.hour("ts") / F.lit(24.0)
    scored = (
        _events(spark, sf_dir)
        .where(F.col("value") > 0)
        .select(
            "user_id",
            "value",
            F.cos(theta).alias("cth"),
            F.sin(theta).alias("sth"),
        )
    )
    c = F.sum(F.col("value") * F.col("cth"))
    s = F.sum(F.col("value") * F.col("sth"))
    return scored.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        f32(F.sqrt(c * c + s * s) / F.sum("value")).alias("amp_share"),
        f32(
            ((F.atan2(s, c) * 24.0 / F.lit(_TWO_PI)) % 24.0 + 24.0) % 24.0
        ).alias("peak_hour"),
    )


# --------------------------------------------------------------------------
# user_burstiness_fano — burstiness of each user's event arrivals as
# the FANO FACTOR of per-minute counts (var/mean over the user's
# OBSERVED minutes): 1 = Poisson-like, >1 = bursty, <1 = regular.
# Complements user_gap_quantiles (inter-arrival view) with the
# count-process view. Two stacked map-combinable aggregations —
# (user, minute) counts, then per-user co-moments with population
# variance in closed form — both shuffle on user-prefixed keys; no
# window, no dense minute grid materialization.
# --------------------------------------------------------------------------
@CATALOG.query(
    "user_burstiness_fano",
    oracle="""
    WITH mc AS (
        SELECT user_id, date_trunc('minute', ts) AS m, count(*) AS c
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(c) AS BIGINT) AS n_events,
           count(*) AS n_active_minutes,
           CAST(avg(c) AS REAL) AS mean_per_minute,
           CAST((avg(c * c) - avg(c) * avg(c)) / avg(c) AS REAL)
               AS fano_factor
    FROM mc
    GROUP BY user_id
    """,
)
def user_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    mc = (
        _events(spark, sf_dir)
        .groupBy("user_id", F.date_trunc("minute", F.col("ts")).alias("m"))
        .agg(F.count("*").alias("c"))
    )
    return mc.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_active_minutes"),
        f32(F.avg("c")).alias("mean_per_minute"),
        f32(
            (F.avg(F.col("c") * F.col("c")) - F.avg("c") * F.avg("c"))
            / F.avg("c")
        ).alias("fano_factor"),
    )


# --------------------------------------------------------------------------
# kmv_distinct_user_overlap — DISTINCT-SET OVERLAP between event-type
# audiences via K-Minimum-Values sketches (the theta-sketch set-
# operation pattern; Beyer et al., SIGMOD'07 — public algorithm). HLL
# (hll_weekly_rollup) only unions; estimating |A ∩ B| needs a sketch
# whose summaries COMPOSE under union so inclusion-exclusion applies:
# keep the K smallest 60-bit hashes per set; if fewer than K distinct
# values exist the set is fully enumerated (estimate exact), else
# est = (K-1) / v_K with v_K the K-th smallest hash normalized to
# [0, 1). The K smallest of A ∪ B all live inside (K smallest of A) ∪
# (K smallest of B), so the pair stage needs ONLY the per-type
# summaries — never the raw sets.
#
# Scale shape: the one corpus-sized stage is the distinct (type, hash)
# dedup; the K-smallest selection is a two-level MERGEABLE partial
# (64 salt cells keep their own K smallest via a rank filter over a
# SPILLABLE window sort, then K-of-the-union — identical result to a
# global sort by the subset property), so no aggregation buffer ever
# holds more than K hashes and the only per-task growth is the
# external sorter, which spills; the pair algebra runs on 5 rows of
# K-long arrays. The hash is md5-derived (not xxhash) so the DuckDB
# oracle replays the EXACT estimator — estimates hash-match, not just
# error-bound. Float path: (K-1) * 2^60 / h_K in double then f32, the
# same literal expression both engines.
# --------------------------------------------------------------------------
KMV_K = 256
_KMV_2POW60 = float(1 << 60)
_KMV_HASH_SQL = (
    "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)
_KMV_HASH_SPARK = (
    "cast(conv(substr(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)"
)


@CATALOG.query(
    "kmv_distinct_user_overlap",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type, {_KMV_HASH_SQL} AS h FROM events
    ), ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM h
    ), summ AS (
        SELECT event_type, max(n) AS n,
               max(CASE WHEN rn = {KMV_K} THEN h END) AS hk
        FROM ranked GROUP BY event_type
    ), est AS (
        SELECT event_type, n,
               CASE WHEN n < {KMV_K} THEN CAST(n AS DOUBLE)
                    ELSE ({KMV_K} - 1) * {_KMV_2POW60} / hk END AS e
        FROM summ
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.e AS est_a, b.e AS est_b
        FROM est a JOIN est b ON a.event_type < b.event_type
    ), uranked AS (
        SELECT p.type_a, p.type_b, h.h,
               row_number() OVER (PARTITION BY p.type_a, p.type_b
                                  ORDER BY h.h) AS rn,
               count(*) OVER (PARTITION BY p.type_a, p.type_b) AS n
        FROM pairs p
        JOIN (SELECT DISTINCT type_a, type_b, u.h
              FROM pairs, h u
              WHERE u.event_type IN (type_a, type_b)) h
          ON h.type_a = p.type_a AND h.type_b = p.type_b
    ), usumm AS (
        SELECT type_a, type_b, max(n) AS n,
               max(CASE WHEN rn = {KMV_K} THEN h END) AS hk
        FROM uranked GROUP BY type_a, type_b
    )
    SELECT p.type_a, p.type_b,
           CAST(p.est_a AS REAL) AS est_a,
           CAST(p.est_b AS REAL) AS est_b,
           CAST(CASE WHEN u.n < {KMV_K} THEN CAST(u.n AS DOUBLE)
                     ELSE ({KMV_K} - 1) * {_KMV_2POW60} / u.hk
                END AS REAL) AS est_union,
           CAST(greatest(p.est_a + p.est_b -
                CASE WHEN u.n < {KMV_K} THEN CAST(u.n AS DOUBLE)
                     ELSE ({KMV_K} - 1) * {_KMV_2POW60} / u.hk END,
                0.0) AS REAL) AS est_intersect
    FROM pairs p JOIN usumm u USING (type_a, type_b)
    """,
)
def kmv_distinct_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    typed = _kmv_user_type_summaries(spark, sf_dir)
    est = _kmv_pair_estimates(typed)
    return est.select(
        "type_a",
        "type_b",
        f32(F.col("est_a")).alias("est_a"),
        f32(F.col("est_b")).alias("est_b"),
        f32(F.col("est_union")).alias("est_union"),
        f32(F.col("est_intersect")).alias("est_intersect"),
    )


def _kmv_user_type_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type KMV summary ``event_type, ks (K smallest 60-bit
    md5 hashes), n (capped count), e (distinct estimate)`` — the
    mergeable partial both kmv_distinct_user_overlap and
    kmv_overlap_calibration consume (extracted round 10)."""
    hashed = (
        _events(spark, sf_dir)
        .select("event_type", F.expr(_KMV_HASH_SPARK).alias("h"))
        .distinct()
    )
    # two-level mergeable K-smallest: salt cells keep K, merge keeps K.
    # The rank filter runs BEFORE any collect_list, so no aggregation
    # buffer ever holds more than K hashes (a collect-then-slice form
    # would hold the whole cell — linear in audience size; round-9
    # review finding). The cell sort itself is a spillable window
    # sort (UnsafeExternalSorter), so per-task memory stays bounded
    # even on a 10B-user audience; cell row counts ride the same
    # window pass.
    salted = hashed.select(
        "event_type", "h", F.pmod("h", F.lit(64)).alias("_salt")
    )
    cell = W.partitionBy("event_type", "_salt")
    ranked = salted.select(
        "event_type",
        "_salt",
        "h",
        F.row_number().over(cell.orderBy("h")).alias("_rn"),
        F.count("*").over(cell).alias("_c"),
    ).where(F.col("_rn") <= KMV_K)
    partial = ranked.groupBy("event_type", "_salt").agg(
        F.array_sort(F.collect_list("h")).alias("ks"),
        F.max("_c").alias("c"),
    )
    summ = partial.groupBy("event_type").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("ks"))), 1, KMV_K
        ).alias("ks"),
        F.sum("c").alias("n"),
    )
    est_of = lambda n, ks: F.when(  # noqa: E731
        n < KMV_K, n.cast("double")
    ).otherwise(
        F.lit(KMV_K - 1) * F.lit(_KMV_2POW60) / F.element_at(ks, KMV_K)
    )
    return summ.select(
        "event_type", "ks", "n", est_of(F.col("n"), F.col("ks")).alias("e")
    )


def _kmv_pair_estimates(typed: DataFrame) -> DataFrame:
    """Pair algebra over the per-type KMV summaries: ``type_a, type_b,
    est_a, est_b, est_union, est_intersect`` (raw doubles — callers
    f32 for output)."""
    est_of = lambda n, ks: F.when(  # noqa: E731
        n < KMV_K, n.cast("double")
    ).otherwise(
        F.lit(KMV_K - 1) * F.lit(_KMV_2POW60) / F.element_at(ks, KMV_K)
    )
    a = typed.select(
        F.col("event_type").alias("type_a"),
        F.col("ks").alias("ks_a"),
        F.col("n").alias("n_a"),
        F.col("e").alias("est_a"),
    )
    b = typed.select(
        F.col("event_type").alias("type_b"),
        F.col("ks").alias("ks_b"),
        F.col("n").alias("n_b"),
        F.col("e").alias("est_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    merged = F.slice(
        F.array_sort(
            F.array_distinct(F.concat(F.col("ks_a"), F.col("ks_b")))
        ),
        1,
        KMV_K,
    )
    # union count for the "< K" exact branch: if EITHER side reached K
    # the union certainly has >= K distinct values, so size(merged) is
    # only consulted when both sides are fully enumerated — where it
    # IS the exact union cardinality.
    union_n = F.when(
        (F.col("n_a") < KMV_K) & (F.col("n_b") < KMV_K),
        F.size(F.array_distinct(F.concat(F.col("ks_a"), F.col("ks_b")))),
    ).otherwise(F.lit(KMV_K))
    est_union = est_of(union_n, merged)
    return pairs.select(
        "type_a",
        "type_b",
        "est_a",
        "est_b",
        est_union.alias("est_union"),
        F.greatest(
            F.col("est_a") + F.col("est_b") - est_union, F.lit(0.0)
        ).alias("est_intersect"),
    )


# --------------------------------------------------------------------------
# kmv_overlap_calibration — ESTIMATOR-vs-TRUTH calibration for the KMV
# sketch, the same audit shape minhash_jaccard_calibration gives LSH:
# for every event-type pair, the KMV union/intersection estimates
# (md5-replayed, so DuckDB computes the EXACT same estimator) sit next
# to the exact distinct-user union/intersection counts, with relative
# errors. The whole row hash-matches — estimator, truth, and error in
# one oracle-paired artifact, the number a pipeline reads before it
# trusts sketch-grade audience overlap at 100 TB (theory: sigma/n ~
# 1/sqrt(K-2) ~ 6.3% at K=256).
#
# Scale shape: the estimator side is the K-bounded mergeable summary
# (kmv_distinct_user_overlap's partials); the exact side's one
# corpus-sized stage is the distinct (type, user) dedup — the pair
# intersection self-join runs on that deduped frame, clustering both
# sides on user_id, and |types| is bounded so the pair fan-out is
# ~|types| rows per user. At true 100 TB you run ONLY the estimator;
# the exact twin is the calibration harness.
# --------------------------------------------------------------------------
@CATALOG.query(
    "kmv_overlap_calibration",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type, {_KMV_HASH_SQL} AS h FROM events
    ), ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM h
    ), summ AS (
        SELECT event_type, max(n) AS n,
               max(CASE WHEN rn = {KMV_K} THEN h END) AS hk
        FROM ranked GROUP BY event_type
    ), est AS (
        SELECT event_type, n,
               CASE WHEN n < {KMV_K} THEN CAST(n AS DOUBLE)
                    ELSE ({KMV_K} - 1) * {_KMV_2POW60} / hk END AS e
        FROM summ
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.e AS est_a, b.e AS est_b
        FROM est a JOIN est b ON a.event_type < b.event_type
    ), uranked AS (
        SELECT p.type_a, p.type_b, h.h,
               row_number() OVER (PARTITION BY p.type_a, p.type_b
                                  ORDER BY h.h) AS rn,
               count(*) OVER (PARTITION BY p.type_a, p.type_b) AS n
        FROM pairs p
        JOIN (SELECT DISTINCT type_a, type_b, u.h
              FROM pairs, h u
              WHERE u.event_type IN (type_a, type_b)) h
          ON h.type_a = p.type_a AND h.type_b = p.type_b
    ), usumm AS (
        SELECT type_a, type_b, max(n) AS n,
               max(CASE WHEN rn = {KMV_K} THEN h END) AS hk
        FROM uranked GROUP BY type_a, type_b
    ), ests AS (
        SELECT p.type_a, p.type_b, p.est_a, p.est_b,
               CASE WHEN u.n < {KMV_K} THEN CAST(u.n AS DOUBLE)
                    ELSE ({KMV_K} - 1) * {_KMV_2POW60} / u.hk
               END AS eu
        FROM pairs p JOIN usumm u USING (type_a, type_b)
    ), dx AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), cnt AS (
        SELECT event_type, count(*) AS nd FROM dx GROUP BY event_type
    ), xint AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS ni
        FROM dx a JOIN dx b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b,
           ca.nd + cb.nd - coalesce(x.ni, 0) AS exact_union,
           CAST(e.eu AS REAL) AS est_union,
           coalesce(x.ni, 0) AS exact_intersect,
           CAST(greatest(e.est_a + e.est_b - e.eu, 0.0) AS REAL)
               AS est_intersect,
           CAST((e.eu - (ca.nd + cb.nd - coalesce(x.ni, 0)))
                / (ca.nd + cb.nd - coalesce(x.ni, 0)) AS REAL)
               AS rel_err_union,
           CAST(CASE WHEN coalesce(x.ni, 0) > 0
                THEN (greatest(e.est_a + e.est_b - e.eu, 0.0) - x.ni)
                     / x.ni END AS REAL) AS rel_err_intersect
    FROM ests e
    JOIN cnt ca ON ca.event_type = e.type_a
    JOIN cnt cb ON cb.event_type = e.type_b
    LEFT JOIN xint x ON x.type_a = e.type_a AND x.type_b = e.type_b
    """,
)
def kmv_overlap_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = _kmv_pair_estimates(_kmv_user_type_summaries(spark, sf_dir))
    # pinned: dx feeds cnt and BOTH self-join legs — one distinct pass
    # instead of three events scans (round-12 census)
    dx = (
        _events(spark, sf_dir)
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    cnt = dx.groupBy("event_type").agg(F.count("*").alias("nd"))
    a = dx.select(F.col("event_type").alias("type_a"), "user_id")
    b = dx.select(F.col("event_type").alias("type_b"), "user_id")
    xint = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("ni"))
    )
    joined = (
        est.join(
            cnt.select(F.col("event_type").alias("type_a"), F.col("nd").alias("nd_a")),
            "type_a",
        )
        .join(
            cnt.select(F.col("event_type").alias("type_b"), F.col("nd").alias("nd_b")),
            "type_b",
        )
        .join(xint, ["type_a", "type_b"], "left")
        .withColumn("ni0", F.coalesce(F.col("ni"), F.lit(0)))
    )
    exact_union = F.col("nd_a") + F.col("nd_b") - F.col("ni0")
    return joined.select(
        "type_a",
        "type_b",
        exact_union.alias("exact_union"),
        f32(F.col("est_union")).alias("est_union"),
        F.col("ni0").alias("exact_intersect"),
        f32(F.col("est_intersect")).alias("est_intersect"),
        f32(
            (F.col("est_union") - exact_union) / exact_union.cast("double")
        ).alias("rel_err_union"),
        f32(
            F.when(
                F.col("ni0") > 0,
                (F.col("est_intersect") - F.col("ni")) / F.col("ni").cast("double"),
            )
        ).alias("rel_err_intersect"),
    )


# --------------------------------------------------------------------------
# type_lag_cross_correlation — LAG-SWEEP alignment between two event
# streams: Pearson correlation of the click-rate and error-rate
# minute series at every shift in [-5, +5] minutes. The argmax lag is
# the "which stream leads, and by how much" answer (error bursts
# trailing click bursts by k minutes show up as the peak at lag k) —
# the alignment question rolling_corr_minute (same-minute trailing
# corr) cannot ask. Missing minutes are absent rows on both sides, so
# each lag correlates only the minutes where BOTH series exist (inner
# join on the shifted key) — rate gaps don't fabricate zeros.
#
# Scale shape: the corpus-sized stage is the ONE minute-grain rollup
# (map-combinable, bounded by the time span, not row count); the lag
# sweep is an 11-way explode of that bounded rate table self-joined
# on the shifted minute (both sides cluster on the join key), and the
# per-lag co-moment rollup is 11 cells. Adding lags widens the small
# table, never rescans events.
# --------------------------------------------------------------------------
XCORR_MAX_LAG = 5


@CATALOG.query(
    "type_lag_cross_correlation",
    oracle=f"""
    WITH rates AS (
        SELECT date_trunc('minute', ts) AS minute,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ), lags AS (
        SELECT unnest(generate_series(-{XCORR_MAX_LAG},
                                      {XCORR_MAX_LAG})) AS lag
    ), aligned AS (
        SELECT l.lag, a.x, b.y
        FROM lags l
        JOIN rates a ON true
        JOIN rates b
          ON b.minute = a.minute + to_minutes(CAST(l.lag AS BIGINT))
    )
    SELECT lag,
           count(*) AS n_minutes,
           CAST(CASE WHEN count(*) * sum(x * x) - sum(x) * sum(x) > 0
                      AND count(*) * sum(y * y) - sum(y) * sum(y) > 0
                THEN (count(*) * sum(x * y) - sum(x) * sum(y))
                     / sqrt(CAST(count(*) * sum(x * x) - sum(x) * sum(x)
                                 AS DOUBLE)
                            * CAST(count(*) * sum(y * y) - sum(y) * sum(y)
                                   AS DOUBLE))
                END AS REAL) AS xcorr
    FROM aligned
    GROUP BY lag
    """,
)
def type_lag_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    rates = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("y"),
        )
    )
    a = rates.select(
        "minute",
        "x",
        F.explode(
            F.sequence(F.lit(-XCORR_MAX_LAG), F.lit(XCORR_MAX_LAG))
        ).alias("lag"),
    ).withColumn(
        "b_minute",
        F.col("minute") + F.make_interval(mins=F.col("lag")),
    )
    b = rates.select(F.col("minute").alias("b_minute"), "y")
    n = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sx2 = F.sum(F.col("x") * F.col("x"))
    sy2 = F.sum(F.col("y") * F.col("y"))
    var_x = n * sx2 - sx * sx
    var_y = n * sy2 - sy * sy
    return (
        a.join(b, "b_minute")
        .groupBy(F.col("lag").cast("long").alias("lag"))
        .agg(
            n.alias("n_minutes"),
            f32(
                F.when(
                    (var_x > 0) & (var_y > 0),
                    (n * sxy - sx * sy)
                    / F.sqrt(var_x.cast("double") * var_y.cast("double")),
                )
            ).alias("xcorr"),
        )
    )


# --------------------------------------------------------------------------
# fdr_bh_type_hour_enrichment — MULTIPLE-TESTING control for burst
# detection: every (event_type, hour-of-day) cell is a hypothesis
# ("this type is enriched/depleted in this hour vs the global hour
# mix"), scored with the Hoeffding-bound exponent
# E = 2 * n_type * (share_in_cell - global_hour_share)^2
# (exp(-E) upper-bounds the two-sided tail, so LARGER E == smaller
# p), then Benjamini-Hochberg step-up at alpha = 0.05 flags the
# discoveries. Testing ~200 cells at raw 0.05 expects ~10 false
# alarms; BH is how an anomaly surface stays trustworthy. The
# exponent is kept in rational arithmetic (no exp/log on the data
# path) so Spark and DuckDB produce bit-identical doubles — the only
# transcendental, ln(m / (alpha * k)), sits on the constant side of
# the step-up comparison.
#
# Scale shape: ONE map-combinable (type, hour) cell rollup is the
# only corpus-sized stage; the BH sort/window runs over m = |types| *
# 24 cells (bounded grain). Unpartitioned window over m rows is
# deliberate — m is test-count grain, never event grain.
# --------------------------------------------------------------------------
@CATALOG.query(
    "fdr_bh_type_hour_enrichment",
    oracle="""
    WITH cells AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hh,
               count(*) AS x
        FROM events GROUP BY 1, 2
    ), typ AS (
        SELECT event_type, sum(x) AS nt FROM cells GROUP BY 1
    ), hr AS (
        SELECT hh, sum(x) AS nh FROM cells GROUP BY 1
    ), tot AS (
        SELECT sum(x) AS n FROM cells
    ), scored AS (
        SELECT c.event_type, c.hh, c.x,
               2.0 * t.nt
                 * (c.x * 1.0 / t.nt - h.nh * 1.0 / tot.n)
                 * (c.x * 1.0 / t.nt - h.nh * 1.0 / tot.n) AS e
        FROM cells c
        JOIN typ t ON t.event_type = c.event_type
        JOIN hr h ON h.hh = c.hh
        CROSS JOIN tot
    ), ranked AS (
        SELECT *, row_number() OVER (ORDER BY e DESC, event_type, hh)
                      AS rk,
               count(*) OVER () AS m
        FROM scored
    ), cut AS (
        SELECT coalesce(max(CASE WHEN e >= ln(m / (0.05 * rk))
                            THEN rk END) OVER (), 0) AS kmax,
               event_type, hh, x, e, rk
        FROM ranked
    )
    SELECT event_type, hh AS hour, CAST(x AS BIGINT) AS n_events,
           CAST(e AS REAL) AS hoeffding_exponent,
           CAST(rk AS BIGINT) AS severity_rank,
           CAST(CASE WHEN rk <= kmax THEN 1 ELSE 0 END AS BIGINT)
               AS rejected
    FROM cut
    """,
)
def fdr_bh_type_hour_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.hour("ts").cast("long").alias("hh"))
        .agg(F.count("*").alias("x"))
        .localCheckpoint(eager=False)  # three marginals off one rollup
    )
    typ = cells.groupBy("event_type").agg(F.sum("x").alias("nt"))
    hr = cells.groupBy("hh").agg(F.sum("x").alias("nh"))
    tot = cells.agg(F.sum("x").alias("n"))
    dev = F.col("x") * 1.0 / F.col("nt") - F.col("nh") * 1.0 / F.col("n")
    scored = (
        cells.join(F.broadcast(typ), "event_type")
        .join(F.broadcast(hr), "hh")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type", "hh", "x",
            (2.0 * F.col("nt") * dev * dev).alias("e"),
        )
    )
    w = W.orderBy(F.desc("e"), "event_type", "hh")
    ranked = scored.select(
        "*",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(W.partitionBy()).alias("m"),
    )
    passes = F.when(
        F.col("e") >= F.log(F.col("m") / (0.05 * F.col("rk"))), F.col("rk")
    )
    cut = ranked.select(
        "*",
        F.coalesce(F.max(passes).over(W.partitionBy()), F.lit(0)).alias("kmax"),
    )
    return cut.select(
        "event_type",
        F.col("hh").alias("hour"),
        F.col("x").cast("long").alias("n_events"),
        f32(F.col("e")).alias("hoeffding_exponent"),
        F.col("rk").cast("long").alias("severity_rank"),
        (F.col("rk") <= F.col("kmax")).cast("long").alias("rejected"),
    )


# --------------------------------------------------------------------------
# conformal_threshold_by_type — SPLIT-CONFORMAL calibration per event
# type: nonconformity score s = |value - lower-median(value)|, and the
# finite-sample-valid threshold is the ceil((n + 1) * (1 - alpha))-th
# smallest score (alpha = 0.1). Guarantees >= 90% coverage on
# exchangeable future events — the calibration step every
# production anomaly gate / selective-prediction pipeline runs.
# Centers and thresholds are EXACT order statistics (no interpolated
# quantile, no mean): pure sort-position arithmetic is bit-identical
# across engines, immune to the summation-order ulp drift an
# avg-based center would inherit.
#
# Scale shape (VERDICT r11 #2 lint rewrite): both order statistics
# (center rank ceil(n/2), threshold rank ceil((n+1)*0.9)) come from
# functions.quantiles.exact_group_rank_value — histogram selection
# over (type, value): per-bucket counts to the driver, no window. The
# previous form ran FOUR |types|-key window passes over the corpus
# (each reducer sorting ~1/|types| of events at 100x). The k > n corner (threshold rank beyond the group) yields
# NULL on both engines — the operator skips out-of-range targets, the
# oracle's CASE never fires. Coverage stays a map-combinable rollup
# against the |types|-row broadcast.
# --------------------------------------------------------------------------
@CATALOG.query(
    "conformal_threshold_by_type",
    oracle="""
    WITH ev AS (
        SELECT event_type, event_id, value FROM events
        WHERE value IS NOT NULL
    ), vr AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM ev
    ), center AS (
        SELECT event_type, value AS med
        FROM vr WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ), scored AS (
        SELECT e.event_type, abs(e.value - c.med) AS s
        FROM ev e JOIN center c ON c.event_type = e.event_type
    ), sr AS (
        SELECT event_type, s,
               row_number() OVER (PARTITION BY event_type ORDER BY s)
                   AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM scored
    ), thr AS (
        SELECT event_type, max(n) AS n,
               CAST(ceil((max(n) + 1) * 0.9) AS BIGINT) AS k,
               max(CASE WHEN rn = CAST(ceil((n + 1) * 0.9) AS BIGINT)
                   THEN s END) AS threshold
        FROM sr GROUP BY event_type
    )
    SELECT t.event_type, CAST(t.n AS BIGINT) AS n_events,
           CAST(t.k AS BIGINT) AS threshold_rank,
           CAST(t.threshold AS REAL) AS threshold,
           CAST(sum(CASE WHEN sc.s <= t.threshold THEN 1 ELSE 0 END)
                * 1.0 / t.n AS REAL) AS empirical_coverage
    FROM thr t JOIN scored sc ON sc.event_type = t.event_type
    GROUP BY t.event_type, t.n, t.k, t.threshold
    """,
)
def conformal_threshold_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math  # noqa: PLC0415

    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        exact_group_rank_value,
    )

    # No pins (round-13): the histogram-selection machinery re-reads
    # its input per pass as a bare columnar scan + filter — cheaper
    # than materializing a corpus-grain localCheckpoint and free of its
    # executor-loss fragility (VERDICT r12 #4). center is a tiny
    # driver-built frame, so scored recomputes as scan ⋈ broadcast.
    ev = (
        _events(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    center = exact_group_rank_value(
        ev, "event_type", "value", lambda n: math.ceil(n / 2.0), out_col="med"
    ).select("event_type", "med")
    # scored feeds the threshold machinery (two passes) AND the final
    # coverage rollup — pin it so the broadcast join + abs runs once.
    scored = (
        ev.join(F.broadcast(center), "event_type")
        .select("event_type", F.abs(F.col("value") - F.col("med")).alias("s"))
        .localCheckpoint(eager=False)
    )
    thr = exact_group_rank_value(
        scored,
        "event_type",
        "s",
        lambda n: math.ceil((n + 1) * 0.9),
        out_col="threshold",
    ).select(
        "event_type",
        "n",
        F.ceil((F.col("n") + 1) * 0.9).cast("long").alias("k"),
        "threshold",
    )
    return (
        scored.join(F.broadcast(thr), "event_type")
        .groupBy("event_type", "n", "k", "threshold")
        .agg(
            f32(
                # when(...).otherwise(0), not a bare cast: a NULL
                # threshold (k > n corner) must count as "not covered"
                # in BOTH engines (DuckDB's CASE yields 0 there).
                F.sum(F.when(F.col("s") <= F.col("threshold"), 1).otherwise(0))
                * 1.0 / F.max("n")
            ).alias("empirical_coverage"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            F.col("k").cast("long").alias("threshold_rank"),
            f32(F.col("threshold")).alias("threshold"),
            "empirical_coverage",
        )
    )


# --------------------------------------------------------------------------
# cuped_adjusted_experiment_lift — CUPED variance reduction (Deng et
# al., WSDM'13 — the industry-standard A/B-test adjustment): unit =
# user, deterministic arm assignment user_id % 2, pre-period covariate
# x = user's value-sum over days 1-15, post-period metric y = value-sum
# over days 16-30. theta = cov(x, y) / var(x) pooled across arms;
# adjusted metric y* = y - theta * (x - mean(x)). Reports per-arm raw
# and CUPED-adjusted post means plus the pooled variance-reduction
# ratio 1 - var(y*)/var(y) — the number that decides whether an
# experiment platform ships CUPED. Pure co-moment arithmetic: one
# user-grain rollup, one 1-row pooled-stats broadcast, f32 outputs
# absorb summation-order ulp (the regression_stats_by_flag
# convention).
#
# Scale shape: ONE map-combinable (user, period) rollup is the only
# corpus-sized stage; everything downstream is user-grain (bounded by
# the experiment's unit count, shuffled once on user) then a 2-row
# arm rollup.
# --------------------------------------------------------------------------
@CATALOG.query(
    "cuped_adjusted_experiment_lift",
    oracle="""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                   THEN value ELSE 0 END) AS x,
               sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                   THEN value ELSE 0 END) AS y
        FROM events GROUP BY 1, 2
    ), pooled AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM per_user
    ), th AS (
        SELECT n, sx / n AS mean_x,
               CASE WHEN n * sxx - sx * sx > 0
                    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                    ELSE 0.0 END AS theta
        FROM pooled
    ), adj AS (
        SELECT u.arm, u.y, u.y - th.theta * (u.x - th.mean_x) AS ystar
        FROM per_user u CROSS JOIN th
    ), pooled_var AS (
        SELECT count(*) AS n, sum(y) AS sy, sum(y * y) AS syy,
               sum(ystar) AS ss, sum(ystar * ystar) AS sss
        FROM adj
    )
    SELECT a.arm AS arm, CAST(count(*) AS BIGINT) AS n_users,
           CAST(avg(a.y) AS REAL) AS mean_post,
           CAST(avg(a.ystar) AS REAL) AS mean_post_cuped,
           CAST(max(th.theta) AS REAL) AS theta,
           CAST(max(CASE WHEN pv.n * pv.syy - pv.sy * pv.sy > 0
                THEN 1.0 - (pv.n * pv.sss - pv.ss * pv.ss)
                     / (pv.n * pv.syy - pv.sy * pv.sy)
                ELSE 0.0 END) AS REAL) AS var_reduction
    FROM adj a CROSS JOIN th CROSS JOIN pooled_var pv
    GROUP BY a.arm
    """,
)
def cuped_adjusted_experiment_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    per_user = (
        _events(spark, sf_dir)
        .groupBy("user_id", (F.col("user_id") % 2).alias("arm"))
        .agg(
            F.sum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)).alias("x"),
            F.sum(F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)).alias("y"),
        )
        .localCheckpoint(eager=False)  # pooled stats + per-arm rollup
    )
    n, sx, sy = F.count("*"), F.sum("x"), F.sum("y")
    sxx, sxy = F.sum(F.col("x") * F.col("x")), F.sum(F.col("x") * F.col("y"))
    varx = n * sxx - sx * sx
    th = per_user.agg(
        (sx / n).alias("mean_x"),
        F.when(varx > 0, (n * sxy - sx * sy) / varx).otherwise(0.0).alias("theta"),
    )
    adj = per_user.crossJoin(F.broadcast(th)).select(
        "arm", "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("mean_x"))).alias("ystar"),
        "theta",
    )
    pn, psy, psyy = F.count("*"), F.sum("y"), F.sum(F.col("y") * F.col("y"))
    pss, psss = F.sum("ystar"), F.sum(F.col("ystar") * F.col("ystar"))
    vary = pn * psyy - psy * psy
    pv = adj.agg(
        F.when(vary > 0, 1.0 - (pn * psss - pss * pss) / vary)
        .otherwise(0.0)
        .alias("var_reduction")
    )
    return (
        adj.crossJoin(F.broadcast(pv))
        .groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            f32(F.avg("y")).alias("mean_post"),
            f32(F.avg("ystar")).alias("mean_post_cuped"),
            f32(F.max("theta")).alias("theta"),
            f32(F.max("var_reduction")).alias("var_reduction"),
        )
        .select(
            F.col("arm").cast("long").alias("arm"),
            "n_users", "mean_post", "mean_post_cuped", "theta",
            "var_reduction",
        )
    )


# --------------------------------------------------------------------------
# join_size_sample_estimate — JOIN-CARDINALITY estimation, the
# cost-based-optimizer primitive: the exact self-join size of events
# on (event_type, hour) is sum_k c_k^2 over key counts; the sampled
# estimate Bernoulli-samples rows at p = 0.1 with a DETERMINISTIC
# md5-derived coin (both engines replay the same sample) and applies
# the unbiased correction E[s^2] = p^2 c^2 + p(1-p) c =>
# J_hat = sum_k (s_k^2 - (1-p) s_k) / p^2. Reporting exact vs estimate
# vs relative error per event type is exactly how a planner's
# estimator gets validated offline. Integer-exact except the final
# division — fully replayable.
#
# Scale shape: two map-combinable key rollups (full + sampled — the
# sample predicate pushes into the scan); at cluster scale only the
# SAMPLED side would be computed and the exact side is the offline
# validation pass.
# --------------------------------------------------------------------------
@CATALOG.query(
    "join_size_sample_estimate",
    oracle="""
    WITH keyed AS (
        SELECT event_type, date_trunc('hour', ts) AS m,
               CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10 = 0 AS sampled
        FROM events
    ), counts AS (
        SELECT event_type, m, count(*) AS c,
               sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS s
        FROM keyed GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(c * c) AS BIGINT) AS exact_pairs,
           CAST(sum(s * s - 0.9 * s) / 0.01 AS REAL) AS est_pairs,
           CAST((sum(s * s - 0.9 * s) / 0.01 - sum(c * c))
                / sum(c * c) AS REAL) AS rel_error
    FROM counts GROUP BY event_type
    """,
)
def join_size_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    coin = (
        F.expr(
            "cast(conv(substr(md5(cast(event_id as string)), 1, 15), 16, 10)"
            " as bigint) % 10"
        )
        == 0
    )
    counts = (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("m"),
            coin.alias("sampled"),
        )
        .groupBy("event_type", "m")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.when(F.col("sampled"), 1).otherwise(0)).alias("s"),
        )
    )
    est = F.sum(F.col("s") * F.col("s") - 0.9 * F.col("s")) / 0.01
    exact = F.sum(F.col("c") * F.col("c"))
    return counts.groupBy("event_type").agg(
        exact.cast("long").alias("exact_pairs"),
        f32(est).alias("est_pairs"),
        f32((est - exact) / exact).alias("rel_error"),
    )


# --------------------------------------------------------------------------
# sprt_error_rate_monitor — Wald's SEQUENTIAL probability ratio test
# over the daily error share: cumulative log-likelihood ratio for
# H1: p = 0.20 vs H0: p = 0.17 (the corpus's ~20% error base rate
# favors H1, so the monitor genuinely crosses the reject bound), with the standard (alpha = 0.05, beta = 0.10) decision bounds
# ln(beta/(1-alpha)) < LLR < ln((1-beta)/alpha). The shape every
# monitoring pipeline wants: a decision boundary that tightens with
# evidence instead of a fixed-n test. LLR = K*ln(p1/p0) +
# (N-K)*ln((1-p1)/(1-p0)) over CUMULATIVE counts — the only
# transcendentals are on constants, so the data path is exact integer
# arithmetic times two literals.
#
# Scale shape: one map-combinable day-grain rollup, then a window over
# the |days| frame (calendar-bounded, see the global-window policy) —
# the cumulative counts are the ONLY state, which is what makes SPRT
# the streaming-friendly test.
# --------------------------------------------------------------------------
@CATALOG.query(
    "sprt_error_rate_monitor",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               count(*) AS n,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS k
        FROM events GROUP BY 1
    ), cum AS (
        SELECT day,
               sum(n) OVER (ORDER BY day) AS n_cum,
               sum(k) OVER (ORDER BY day) AS k_cum
        FROM daily
    )
    SELECT day, CAST(n_cum AS BIGINT) AS n_cum,
           CAST(k_cum AS BIGINT) AS k_cum,
           CAST(k_cum * ln(0.20 / 0.17)
                + (n_cum - k_cum) * ln(0.80 / 0.83) AS REAL) AS llr,
           CAST(CASE WHEN k_cum * ln(0.20 / 0.17)
                          + (n_cum - k_cum) * ln(0.80 / 0.83)
                          >= ln(0.9 / 0.05) THEN 1
                     WHEN k_cum * ln(0.20 / 0.17)
                          + (n_cum - k_cum) * ln(0.80 / 0.83)
                          <= ln(0.1 / 0.95) THEN -1
                     ELSE 0 END AS BIGINT) AS decision
    FROM cum
    """,
)
def sprt_error_rate_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("k"),
        )
    )
    wd = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = daily.select(
        "day",
        F.sum("n").over(wd).alias("n_cum"),
        F.sum("k").over(wd).alias("k_cum"),
    )
    llr = F.col("k_cum") * F.log(F.lit(0.20) / 0.17) + (
        F.col("n_cum") - F.col("k_cum")
    ) * F.log(F.lit(0.80) / 0.83)
    upper, lower = F.log(F.lit(0.9) / 0.05), F.log(F.lit(0.1) / 0.95)
    return cum.select(
        "day",
        F.col("n_cum").cast("long").alias("n_cum"),
        F.col("k_cum").cast("long").alias("k_cum"),
        f32(llr).alias("llr"),
        F.when(llr >= upper, 1)
        .when(llr <= lower, -1)
        .otherwise(0)
        .cast("long")
        .alias("decision"),
    )


# --------------------------------------------------------------------------
# event_chain_entropy_rate — Markov-chain ENTROPY RATE of user event
# streams per day-of-week: H(next | current) = H(pair) - H(current),
# the conditional entropy of the empirical first-order chain (Shannon
# '48; Cover & Thomas ch.4 — public theory). Complements
# event_transition_matrix (which reports the transition PROBABILITIES;
# this compresses them to the process-predictability scalar) and
# type_dow_mutual_information (STATIC type/dow dependence; this
# measures SEQUENTIAL structure within a day-of-week slice). Low
# h_cond = deterministic flows (sessions replay one path), h_cond near
# log2(|types|) = memoryless traffic — the drift alarm for bot/replay
# contamination in an event pipeline.
#
# Entropies come from the count identity H = log2(N) - sum(c*log2 c)/N
# (the char_bigram_entropy_by_source shape), so every log2 argument is
# an integer-valued double — both engines evaluate the same points.
# Scale shape: ONE shuffle on user_id for the lead() window (the
# transition-matrix exchange), then a map-combinable rollup to the
# bounded (7 x |types|^2) cell table; all entropy algebra runs on
# those cells and the 7-row output frame.
# --------------------------------------------------------------------------
@CATALOG.query(
    "event_chain_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT CAST(date_part('dow', ts) AS BIGINT) AS d,
               event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ), cells AS (
        SELECT d, from_type, to_type, count(*) AS c
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY d, from_type, to_type
    ), fromc AS (
        SELECT d, from_type, sum(c) AS cf
        FROM cells GROUP BY d, from_type
    ), pair_agg AS (
        SELECT d, sum(c) AS n, count(*) AS n_pairs,
               count(DISTINCT to_type) AS n_to_types,
               sum(c * log2(c)) AS s_pair
        FROM cells GROUP BY d
    ), from_agg AS (
        SELECT d, count(*) AS n_from_types, sum(cf * log2(cf)) AS s_from
        FROM fromc GROUP BY d
    )
    SELECT p.d AS dow,
           CAST(p.n AS BIGINT) AS n_transitions,
           CAST(p.n_pairs AS BIGINT) AS n_pairs,
           CAST(f.n_from_types AS BIGINT) AS n_from_types,
           CAST(p.n_to_types AS BIGINT) AS n_to_types,
           CAST(log2(p.n) - p.s_pair / p.n AS REAL) AS h_joint,
           CAST(log2(p.n) - f.s_from / p.n AS REAL) AS h_from,
           CAST((f.s_from - p.s_pair) / p.n AS REAL) AS h_cond,
           CAST(CASE WHEN p.n_to_types > 1 THEN
                    (f.s_from - p.s_pair) / p.n / log2(p.n_to_types)
                END AS REAL) AS h_cond_norm
    FROM pair_agg p JOIN from_agg f USING (d)
    """,
)
def event_chain_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cells = (
        _events(spark, sf_dir)
        .select(
            (F.dayofweek("ts") - 1).cast("long").alias("d"),
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(seq_w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("d", "from_type", "to_type")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # bounded 7 x |types|^2 cells
    )
    fromc = cells.groupBy("d", "from_type").agg(F.sum("c").alias("cf"))
    pair_agg = cells.groupBy("d").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_pairs"),
        F.countDistinct("to_type").alias("n_to_types"),
        F.sum(F.col("c") * F.log2("c")).alias("s_pair"),
    )
    from_agg = fromc.groupBy("d").agg(
        F.count("*").alias("n_from_types"),
        F.sum(F.col("cf") * F.log2("cf")).alias("s_from"),
    )
    h_cond = (F.col("s_from") - F.col("s_pair")) / F.col("n")
    return (
        pair_agg.join(F.broadcast(from_agg), "d")
        .select(
            F.col("d").alias("dow"),
            F.col("n").cast("long").alias("n_transitions"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_from_types").cast("long").alias("n_from_types"),
            F.col("n_to_types").cast("long").alias("n_to_types"),
            f32(F.log2("n") - F.col("s_pair") / F.col("n")).alias("h_joint"),
            f32(F.log2("n") - F.col("s_from") / F.col("n")).alias("h_from"),
            f32(h_cond).alias("h_cond"),
            f32(
                F.when(
                    F.col("n_to_types") > 1,
                    h_cond / F.log2(F.col("n_to_types").cast("double")),
                )
            ).alias("h_cond_norm"),
        )
    )


# --------------------------------------------------------------------------
# cm_sketch_heavy_hitters — Count-Min sketch frequency estimation
# (Cormode & Muthukrishnan, J. Algorithms'05 — public algorithm)
# audited against exact counts: d=4 independent hash rows x w=512
# counters over per-part lineitem volumes, then the top-20 true heavy
# hitters with their CM estimate (min over the 4 row counters) and the
# collision overestimate. The part key is the corpus's high-cardinality
# axis (2k keys at sf0.01, 200k at sf1 — always >> w, so the audit
# exercises real collisions at every driver scale). Completes the
# sketch family's frequency axis: KMV/HLL answer "how many distinct",
# quantile sketches answer "where is the mass", CM answers "how often
# is THIS key" in O(d·w) space — the mergeable per-shard structure a
# 100 TB top-talkers pipeline keeps instead of a full key census.
#
# Replay contract: bucket indices are md5-derived (same trick as the
# KMV twin) so DuckDB replays the EXACT sketch — counters, estimates,
# and overestimates hash-match as integers; nothing is float.
#
# Scale shape: ONE map-combinable part-grain count rollup is the only
# corpus-sized stage; the 4-row hash fan-out runs on the part-grain
# frame and collapses immediately into the 2048-cell counter table
# (map-combinable, constant size), the top-20 side is a TakeOrdered,
# and the estimate join broadcasts the 2048-row counter table. At
# 100 TB the counter table is what ships between stages — the raw key
# census never leaves the first rollup.
# --------------------------------------------------------------------------
CM_DEPTH = 4
CM_WIDTH = 512
CM_TOPK = 20


@CATALOG.query(
    "cm_sketch_heavy_hitters",
    oracle=f"""
    WITH u AS (
        SELECT l_partkey AS key, count(*) AS cnt
        FROM lineitem GROUP BY l_partkey
    ), rows_ AS (
        SELECT u.key, u.cnt, i.i,
               CAST(('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' ||
                    CAST(u.key AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {CM_WIDTH} AS bucket
        FROM u, (SELECT unnest(range({CM_DEPTH})) AS i) i
    ), counters AS (
        SELECT i, bucket, sum(cnt) AS total
        FROM rows_ GROUP BY i, bucket
    ), top AS (
        SELECT key, cnt,
               row_number() OVER (ORDER BY cnt DESC, key) AS rank
        FROM u
    ), est AS (
        SELECT r.key, min(c.total) AS est
        FROM rows_ r JOIN counters c ON c.i = r.i AND c.bucket = r.bucket
        WHERE r.key IN (SELECT key FROM top WHERE rank <= {CM_TOPK})
        GROUP BY r.key
    )
    SELECT CAST(rank AS BIGINT) AS rank,
           CAST(top.key AS BIGINT) AS partkey,
           CAST(cnt AS BIGINT) AS true_count,
           CAST(est AS BIGINT) AS cm_estimate,
           CAST(est - cnt AS BIGINT) AS overestimate
    FROM top JOIN est ON est.key = top.key
    WHERE rank <= {CM_TOPK}
    """,
)
def cm_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # reused: fan-out + top-k
    )
    hashed = u.select(
        "key",
        "cnt",
        F.explode(F.array([F.lit(i) for i in range(CM_DEPTH)])).alias("i"),
    ).withColumn(
        "bucket",
        F.expr(
            "cast(conv(substr(md5(concat(cast(i as string), ':', "
            "cast(key as string))), 1, 15), 16, 10) as bigint)"
        )
        % CM_WIDTH,
    )
    counters = hashed.groupBy("i", "bucket").agg(F.sum("cnt").alias("total"))
    top = u.orderBy(F.col("cnt").desc(), "key").limit(CM_TOPK)
    est = (
        hashed.join(F.broadcast(top.select("key")), "key")
        .join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("key")
        .agg(F.min("total").alias("est"))
    )
    return (
        top.join(est, "key")
        .select(
            F.row_number()
            .over(W.orderBy(F.col("cnt").desc(), "key"))
            .alias("rank"),
            F.col("key").cast("long").alias("partkey"),
            F.col("cnt").cast("long").alias("true_count"),
            F.col("est").cast("long").alias("cm_estimate"),
            (F.col("est") - F.col("cnt")).cast("long").alias("overestimate"),
        )
    )


# --------------------------------------------------------------------------
# dp_noisy_type_histogram — a differential-privacy-style NOISY release
# of the per-event-type activity histogram: true count plus
# Laplace(1/ε) noise (ε = 1.0, sensitivity 1 for a single-event
# change), emitted alongside the true count and the drawn noise so the
# privacy/utility tradeoff is auditable. The privacy axis the catalog
# otherwise lacks: at 100 TB the histogram release — not the raw
# table — is what crosses a trust boundary.
#
# Replay contract: production DP uses a true RNG; this release keeps
# the standard SEEDED-noise variant (reproducible releases, the same
# md5-derivation trick as the KMV/CM twins) so the oracle replays the
# exact draw: u = (52-bit md5(event_type) + ½)/2^52 ∈ (0,1), noise =
# -b·sign(u-½)·ln(1-2|u-½|) — the inverse-CDF Laplace transform, the
# same libm calls on both engines, f32 at the boundary. The +½ offset
# clamps u strictly away from the transform's singular points (u=0 →
# ln(0) overflow; u=½ → signum(0)·ln(0) = NaN; ADVICE r10): the
# numerator k+½ is never an integer, so u is never 0, ½, or 1. Width
# is 52 bits — not the KMV/CM twins' 60 — so k+½ stays EXACT in
# double arithmetic (60-bit k ≥ 2^53 would round the offset away and
# silently re-admit u=½ at k=2^59).
#
# Scale shape: ONE map-combinable type-grain count rollup; the noise
# is a row-local expression over the |types|-row frame. Nothing else.
# --------------------------------------------------------------------------
_DP_EPS = 1.0
_DP_2POW52 = float(1 << 52)


@CATALOG.query(
    "dp_noisy_type_histogram",
    oracle=f"""
    WITH g AS (
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ), seeded AS (
        SELECT event_type, n,
               (CAST(('0x' || substr(md5(event_type), 1, 13)) AS BIGINT)
                    + 0.5) / {_DP_2POW52} AS u
        FROM g
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS true_count,
           CAST(-(1.0 / {_DP_EPS}) * sign(u - 0.5)
                * ln(1 - 2 * abs(u - 0.5)) AS REAL) AS noise_drawn,
           CAST(n - (1.0 / {_DP_EPS}) * sign(u - 0.5)
                * ln(1 - 2 * abs(u - 0.5)) AS REAL) AS noisy_count
    FROM seeded
    """,
)
def dp_noisy_type_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    u = (
        F.expr(
            "cast(conv(substr(md5(event_type), 1, 13), 16, 10) as bigint)"
        )
        + F.lit(0.5)
    ) / F.lit(_DP_2POW52)
    noise = (
        -(F.lit(1.0) / _DP_EPS)
        * F.signum(u - 0.5)
        * F.log(F.lit(1) - 2 * F.abs(u - 0.5))
    )
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("true_count"),
        f32(noise).alias("noise_drawn"),
        f32(F.col("n") + noise).alias("noisy_count"),
    )


# --------------------------------------------------------------------------
# markov_stationary_behavior — the STATIONARY DISTRIBUTION of the
# user-behavior Markov chain: per-user event-type transitions (the
# event_transition_matrix grain) aggregate to a global row-normalized
# transition matrix P, and 20 fixed power-iteration rounds solve
# pi = pi·P. Completes the behavioral-Markov family:
# event_transition_matrix gives the one-step dynamics,
# event_chain_entropy_rate the per-step information — this is the
# long-run occupancy forecast ("where does user attention settle"),
# the steady-state load model a 100 TB event platform capacity-plans
# against.
#
# Replay contract (the pagerank f32-round trick at type grain): states
# are the event types with >= 1 outgoing transition; transitions to a
# non-state dst are dropped and P re-normalized over the kept counts
# (closed chain by construction). P entries are exact integer
# divisions; pi quantizes to f32 at every round boundary, so the
# k-term sums (k = |types|, single digits) cannot drift across
# engines. The Spark side iterates DRIVER-SIDE on the collected k x k
# integer matrix — bounded driver state (k^2 scalars, the kmeans-
# centers contract) — because a k-row distributed join per round would
# be pure scheduling overhead at any scale; the ORACLE replays the
# same rounds as chained CTEs.
#
# Scale shape: ONE corpus-sized stage (the per-user lag + pair count,
# a map-combinable rollup after one user-partitioned window); the
# iteration is O(k^2) driver arithmetic.
# --------------------------------------------------------------------------
MARKOV_ROUNDS = 20

# Each round LEFT-joins the full state list back in (ADVICE r11): a
# state with zero INCOMING kept transitions gets prob 0.0 — matching
# the Spark side's pi @ P, whose zero column yields an exact 0.0 —
# instead of silently vanishing from pi{i} onward (the inner-join form
# dropped it, a row-count mismatch on any data where some type never
# appears as a successor; fine on current fixtures, wrong in general).
_MARKOV_ROUND_CTE = """
    , pi{i} AS MATERIALIZED (
        SELECT s.state,
               COALESCE(CAST(CAST(agg.prob AS REAL) AS DOUBLE), 0.0) AS prob
        FROM states s LEFT JOIN (
            SELECT p.dst AS state, sum(v.prob * p.p) AS prob
            FROM pi{prev} v JOIN pmat p ON p.src = v.state
            GROUP BY p.dst
        ) agg ON agg.state = s.state
    )
"""


@CATALOG.query(
    "markov_stationary_behavior",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), trans AS (
        SELECT prev_type AS src, event_type AS dst, count(*) AS c
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ), states AS (
        SELECT DISTINCT src AS state FROM trans
    ), kept AS (
        SELECT t.src, t.dst, t.c FROM trans t
        JOIN states s ON s.state = t.dst
    ), pmat AS (
        SELECT src, dst,
               CAST(c AS DOUBLE)
               / sum(c) OVER (PARTITION BY src) AS p
        FROM kept
    ), pi0 AS (
        SELECT state, 1.0 / (SELECT count(*) FROM states) AS prob
        FROM states
    )
    """
    + "".join(
        _MARKOV_ROUND_CTE.format(i=i, prev=i - 1)
        for i in range(1, MARKOV_ROUNDS + 1)
    )
    + f"""
    SELECT v.state AS event_type,
           CAST(v.prob AS REAL) AS stationary_prob,
           CAST(o.out_c AS BIGINT) AS n_transitions_out
    FROM pi{MARKOV_ROUNDS} v
    JOIN (SELECT src, sum(c) AS out_c FROM kept GROUP BY src) o
      ON o.src = v.state
    """,
)
def markov_stationary_behavior(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np  # noqa: PLC0415

    ordered = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    trans = (
        ordered.where(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count("*").alias("c"))
    )
    # bounded driver collect: k^2 integer cells, k = |event types|
    cells = trans.collect()
    states = sorted({r["src"] for r in cells})
    idx = {s: i for i, s in enumerate(states)}
    k = len(states)
    C = np.zeros((k, k), dtype=np.int64)
    for r in cells:
        if r["dst"] in idx:  # drop transitions leaving the state set
            C[idx[r["src"]], idx[r["dst"]]] += r["c"]
    rowsum = C.sum(axis=1, keepdims=True)
    if (rowsum == 0).any():
        # a src whose every dst left the state set would make the chain
        # open (NaN row in P) and silently diverge from the oracle's
        # mass-leak form — fail loudly instead; cannot occur on the
        # event fixtures (every type both sends and receives).
        raise ValueError(
            "markov_stationary_behavior: open chain after dst restriction"
        )
    P = C / rowsum
    pi = np.full(k, 1.0 / k)
    for _ in range(MARKOV_ROUNDS):
        pi = (pi @ P).astype(np.float32).astype(np.float64)
    out_c = C.sum(axis=1)
    rows = [
        (states[i], float(np.float32(pi[i])), int(out_c[i])) for i in range(k)
    ]
    return spark.createDataFrame(
        rows,
        "event_type string, stationary_prob float, n_transitions_out long",
    )
