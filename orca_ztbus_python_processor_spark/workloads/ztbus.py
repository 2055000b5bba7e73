"""Reference-shaped telemetry proof (SURVEY.md §2.10 UD2/UD3 + §2.5 W3):
the ACTUAL ZTBus algorithm registry (``plans/algorithms.py`` — the six
active algorithms, reference ``processor/main.py:342-598``) and the
brake-run emission FSM (``operators/sessionize.py``, reference
``processor/main.py:237-338``) executed end-to-end against the DuckDB
oracle.

The driver corpus has no 27-column telemetry table, so one is DERIVED
deterministically from ``events`` — identical arithmetic on both
engines (the SQL twin builds the same frame in a CTE), which turns the
ZTBus plans from golden-test-only coverage into driver-verifiable
oracle rows. The mapping keeps the reference's shape:

  - 1 row per (trip, time) with unique timestamps per trip
    ((user_id, ts) is unique in the corpus — checked);
  - nullable sensor channels (temperature / power are NULLed for two
    event types to exercise the fillna/guarded-division parity paths,
    reference ``processor/main.py:493-514``);
  - boolean status channels (door, halt brake) driving the dwell-time
    conjunction (``:534-536``) and the brake-run FSM.

All floating measures are cast float32 at the output boundary
(functions/stats.f32 rationale) so the cross-engine value hash is
summation-order-proof.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_ztbus_python_processor_spark.operators.sessionize import (
    emitted_run_windows,
)
from orca_ztbus_python_processor_spark.plans.algorithms import proc
from orca_ztbus_python_processor_spark.plans.windows import (
    EVERY_MINUTE,
    EVERY_MINUTE_PER_TRIP_PER_BUS,
)
from orca_ztbus_python_processor_spark.sources.parquet import read_table
from orca_ztbus_python_processor_spark.workloads.base import Catalog

CATALOG = Catalog()

# Deterministic events -> telemetry mapping, kept in ONE place per
# engine. Spark side below; the SQL twin is _TELEMETRY_CTE. Any edit
# must change both in lockstep (the oracle gate enforces it).
_TELEMETRY_CTE = """
    telemetry AS (
        SELECT ts AS time,
               user_id AS trip_id,
               user_id % 2 AS bus_id,
               user_id % 5 AS route_id,
               CASE WHEN event_type = 'signup' THEN NULL
                    ELSE value - 10.0 END AS temperature_ambient,
               CASE WHEN event_type = 'view' THEN NULL
                    ELSE value * 3.5 END AS electric_power_demand,
               abs(value) / 4.0 AS odometry_vehicle_speed,
               CAST(event_id % 80 AS INT) AS itcs_number_of_passengers,
               (event_type = 'click') AS status_door_is_open,
               CAST(event_id % 100 AS DOUBLE) / 10.0 - 5.0 AS odometry_articulation_angle,
               abs(value) * 0.8 AS traction_brake_pressure,
               (event_type = 'error') AS status_halt_brake_is_active
        FROM events
    )
"""


# The telemetry projection's Columns, built once per py4j gateway (a
# relaunched JVM rebuilds them) and rebound by every later call instead
# of rebuilding ~100 Column expressions per trigger.
@lru_cache(maxsize=1)
def _telemetry_projection(gateway: object) -> tuple[Column, ...]:
    return (
        F.col("ts").alias("time"),
        F.col("user_id").alias("trip_id"),
        (F.col("user_id") % 2).alias("bus_id"),
        (F.col("user_id") % 5).alias("route_id"),
        F.when(F.col("event_type") == "signup", F.lit(None).cast("double"))
        .otherwise(F.col("value") - 10.0)
        .alias("temperature_ambient"),
        F.when(F.col("event_type") == "view", F.lit(None).cast("double"))
        .otherwise(F.col("value") * 3.5)
        .alias("electric_power_demand"),
        (F.abs(F.col("value")) / 4.0).alias("odometry_vehicle_speed"),
        (F.col("event_id") % 80).cast("int").alias("itcs_number_of_passengers"),
        (F.col("event_type") == "click").alias("status_door_is_open"),
        ((F.col("event_id") % 100).cast("double") / 10.0 - 5.0).alias(
            "odometry_articulation_angle"
        ),
        (F.abs(F.col("value")) * 0.8).alias("traction_brake_pressure"),
        (F.col("event_type") == "error").alias("status_halt_brake_is_active"),
    )


def telemetry_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ZTBus-shaped telemetry frame (trip/bus/route keys, sensor +
    status channels, 1 row per (trip, time))."""
    return read_table(spark, sf_dir, "events").select(
        *_telemetry_projection(SparkContext._gateway)
    )


# --------------------------------------------------------------------------
# ztbus_fused_minute — the five EveryMinutePerTripPerBus algorithms
# (AmbientTemperature, EnergyEfficiency, ServiceEfficiency,
# ComfortAndSafety incl. the accel/jerk lag prepare, AssetStress)
# compiled by plans/registry.py into ONE fused groupBy — a single
# Exchange for 11 measures that cost the reference 5 rescans per window
# (processor/main.py:449-598).
# --------------------------------------------------------------------------
@CATALOG.query(
    "ztbus_fused_minute",
    oracle=f"""
    WITH {_TELEMETRY_CTE},
    prep AS (
        SELECT *,
               date_trunc('minute', time) AS m,
               coalesce(odometry_vehicle_speed - lag(odometry_vehicle_speed)
                   OVER (PARTITION BY date_trunc('minute', time), trip_id, bus_id, route_id
                         ORDER BY time), 0) AS accel
        FROM telemetry
    ),
    prep2 AS (
        SELECT *,
               coalesce(accel - lag(accel)
                   OVER (PARTITION BY m, trip_id, bus_id, route_id
                         ORDER BY time), 0) AS jerk
        FROM prep
    ),
    agg AS (
        SELECT m, trip_id, bus_id, route_id,
               quantile_cont(temperature_ambient, 0.5) AS t50p,
               sum(coalesce(electric_power_demand, 0) / 3600.0) AS kwh,
               sum(coalesce(odometry_vehicle_speed, 0) * 1.0) / 1000.0 AS km,
               sum(coalesce(CAST(itcs_number_of_passengers AS DOUBLE), 0)
                   * coalesce(odometry_vehicle_speed, 0)) / 1000.0 AS pkm,
               CAST(count(CASE WHEN status_door_is_open
                                AND odometry_vehicle_speed < 0.1 THEN 1 END) AS DOUBLE) AS dwell,
               CAST(count(*) AS DOUBLE) AS n,
               avg(accel) AS mean_accel,
               stddev_samp(accel) AS std_accel,
               quantile_cont(jerk, 0.95) AS jerk_95p,
               var_samp(odometry_articulation_angle) AS articulation_var,
               avg(traction_brake_pressure) AS brake_pressure_mean
        FROM prep2
        GROUP BY m, trip_id, bus_id, route_id
    )
    SELECT m AS time_from,
           m + INTERVAL 1 MINUTE AS time_to,
           trip_id, bus_id, route_id,
           CAST(t50p AS REAL) AS "AmbientTemperature__50p",
           CAST(kwh AS REAL) AS "EnergyEfficiencyPerMinute__kwh",
           CAST(CASE WHEN km > 0 THEN kwh / km END AS REAL)
               AS "EnergyEfficiencyPerMinute__kwh_per_km",
           CAST(CASE WHEN pkm > 0 THEN kwh / pkm END AS REAL)
               AS "EnergyEfficiencyPerMinute__kwh_per_passenger_km",
           CAST(dwell AS REAL) AS "ServiceEfficiencyPerMinute__dwell_time_s",
           CAST(CASE WHEN n > 0 THEN dwell / n END AS REAL)
               AS "ServiceEfficiencyPerMinute__door_open_fraction",
           CAST(mean_accel AS REAL) AS "ComfortAndSafetyPerMinute__mean_accel",
           CAST(std_accel AS REAL) AS "ComfortAndSafetyPerMinute__std_accel",
           CAST(jerk_95p AS REAL) AS "ComfortAndSafetyPerMinute__jerk_95p",
           CAST(articulation_var AS REAL) AS "AssetStressPerMinute__articulation_var",
           CAST(brake_pressure_mean AS REAL) AS "AssetStressPerMinute__brake_pressure_mean"
    FROM agg
    """,
)
def ztbus_fused_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    telem = telemetry_from_events(spark, sf_dir)
    fused = proc.compile_window_type(
        telem, EVERY_MINUTE_PER_TRIP_PER_BUS, "time", "60 seconds"
    )
    keep = ["time_from", "time_to", "trip_id", "bus_id", "route_id"]
    measures = [c for c in fused.columns if c not in keep]
    return fused.select(*keep, *[F.col(c).cast("float").alias(c) for c in measures])


# --------------------------------------------------------------------------
# ztbus_active_busses_minute — the EveryMinute ValueResult algorithm
# (FindActiveBusses, reference processor/main.py:342-371) through the
# same compiler: global minute grain, one fused countDistinct.
# --------------------------------------------------------------------------
@CATALOG.query(
    "ztbus_active_busses_minute",
    oracle=f"""
    WITH {_TELEMETRY_CTE}
    SELECT date_trunc('minute', time) AS time_from,
           date_trunc('minute', time) + INTERVAL 1 MINUTE AS time_to,
           CAST(count(DISTINCT trip_id) AS BIGINT) AS "FindActiveBusses__value"
    FROM telemetry
    GROUP BY 1, 2
    """,
)
def ztbus_active_busses_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    telem = telemetry_from_events(spark, sf_dir)
    return proc.compile_window_type(telem, EVERY_MINUTE, "time", "60 seconds")


# --------------------------------------------------------------------------
# ztbus_brake_run_windows — the brake-run FSM + per-window emission rules
# (operators/sessionize.py emitted_run_windows; reference
# processor/main.py:237-338) under the oracle gate: closed halt-brake
# runs per trip, the minute window that emits each run (inclusive-end
# boundary: a closing sample ON the boundary belongs to the EARLIER
# window), and the 400 s lookback start-truncation.
# --------------------------------------------------------------------------
@CATALOG.query(
    "ztbus_brake_run_windows",
    oracle=f"""
    WITH {_TELEMETRY_CTE},
    flagged AS (
        SELECT trip_id, time, status_halt_brake_is_active AS flag,
               CASE WHEN (status_halt_brake_is_active) IS DISTINCT FROM
                         lag(status_halt_brake_is_active)
                             OVER (PARTITION BY trip_id ORDER BY time)
                    THEN 1 ELSE 0 END AS changed,
               CASE WHEN lead(status_halt_brake_is_active)
                             OVER (PARTITION BY trip_id ORDER BY time) = false
                    THEN lead(time) OVER (PARTITION BY trip_id ORDER BY time)
                    END AS run_close
        FROM telemetry
    ),
    numbered AS (
        SELECT *, sum(changed) OVER (PARTITION BY trip_id ORDER BY time
                                     ROWS UNBOUNDED PRECEDING) AS run_id
        FROM flagged
    ),
    runs AS (
        SELECT trip_id, run_id,
               min(time) AS time_from,
               max(time) AS time_to,
               CAST(count(*) AS BIGINT) AS n_samples,
               max(run_close) AS closing_time
        FROM numbered
        WHERE flag
        GROUP BY trip_id, run_id
    ),
    closed AS (
        SELECT *,
               make_timestamp(
                   (epoch_us(closing_time) - 1)
                   - ((epoch_us(closing_time) - 1) % 60000000)
               ) AS w_start
        FROM runs WHERE closing_time IS NOT NULL
    )
    SELECT trip_id,
           greatest(time_from, w_start - INTERVAL 400 SECONDS) AS time_from,
           time_to,
           w_start AS emitting_window_start,
           n_samples
    FROM closed
    """,
)
def ztbus_brake_run_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    telem = telemetry_from_events(spark, sf_dir)
    return emitted_run_windows(
        telem, "status_halt_brake_is_active", "time", ("trip_id",), "60 seconds"
    )


# --------------------------------------------------------------------------
# ztbus_brake_straddle_windows — the brake FSM's EDGE semantics under the
# oracle gate. The raw events corpus produces short runs, so the plain
# ztbus_brake_run_windows entry rarely exercises the reference's
# window-straddling paths (processor/main.py:246-293). This entry
# respaces each trip's samples onto a 40 s grid, which makes the three
# edge behaviors dense and oracle-checked (tests/test_operator_edges.py
# asserts the fixture actually contains each):
#   * runs STRADDLING a minute boundary (any run of >= 2 samples can) —
#     the lookback re-read in the reference, gap-and-islands here;
#   * runs longer than the 400 s lookback budget (>= 11 samples at 40 s)
#     -> emitted start truncated to window_start - 400 s
#     (processor/main.py:246-247 via max_lookback_iterations);
#   * closing samples exactly ON a minute boundary (every 3rd grid
#     point) -> emitted by the EARLIER window (inclusive-end scan,
#     processor/main.py:137-138).
# The fixture arithmetic (row_number -> 40 s grid, flag = not click,
# p=0.8 so long runs are common) is duplicated in the SQL twin in
# lockstep, like _TELEMETRY_CTE.
# --------------------------------------------------------------------------
_STRADDLE_CTE = """
    straddle AS (
        SELECT user_id AS trip_id,
               TIMESTAMP '2024-01-01' + (
                   CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) - 1 AS BIGINT)
                   * INTERVAL 40 SECONDS
               ) AS time,
               (event_type <> 'click') AS flag
        FROM events
    )
"""


@CATALOG.query(
    "ztbus_brake_straddle_windows",
    oracle=f"""
    WITH {_STRADDLE_CTE},
    flagged AS (
        SELECT trip_id, time, flag,
               CASE WHEN flag IS DISTINCT FROM
                         lag(flag) OVER (PARTITION BY trip_id ORDER BY time)
                    THEN 1 ELSE 0 END AS changed,
               CASE WHEN lead(flag) OVER (PARTITION BY trip_id ORDER BY time) = false
                    THEN lead(time) OVER (PARTITION BY trip_id ORDER BY time)
                    END AS run_close
        FROM straddle
    ),
    numbered AS (
        SELECT *, sum(changed) OVER (PARTITION BY trip_id ORDER BY time
                                     ROWS UNBOUNDED PRECEDING) AS run_id
        FROM flagged
    ),
    runs AS (
        SELECT trip_id, run_id,
               min(time) AS time_from,
               max(time) AS time_to,
               CAST(count(*) AS BIGINT) AS n_samples,
               max(run_close) AS closing_time
        FROM numbered
        WHERE flag
        GROUP BY trip_id, run_id
    ),
    closed AS (
        SELECT *,
               make_timestamp(
                   (epoch_us(closing_time) - 1)
                   - ((epoch_us(closing_time) - 1) % 60000000)
               ) AS w_start
        FROM runs WHERE closing_time IS NOT NULL
    )
    SELECT trip_id,
           greatest(time_from, w_start - INTERVAL 400 SECONDS) AS time_from,
           time_to,
           w_start AS emitting_window_start,
           n_samples
    FROM closed
    """,
)
def ztbus_brake_straddle_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return emitted_run_windows(
        straddle_fixture(spark, sf_dir), "flag", "time", ("trip_id",), "60 seconds"
    )


def straddle_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events respaced onto a per-trip 40 s grid with a p=0.8 flag —
    the window-straddling brake-run fixture (see entry comment)."""
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    ev = read_table(spark, sf_dir, "events")
    idx = F.row_number().over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
    ) - F.lit(1)
    base_us = 1_704_067_200_000_000  # TIMESTAMP '2024-01-01' UTC
    return ev.select(
        F.col("user_id").alias("trip_id"),
        F.timestamp_micros(
            F.lit(base_us) + idx.cast("long") * F.lit(40_000_000)
        ).alias("time"),
        (F.col("event_type") != "click").alias("flag"),
    )
