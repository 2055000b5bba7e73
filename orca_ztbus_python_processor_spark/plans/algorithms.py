"""The reference's algorithm census, re-expressed as fused aggregate
specs (SURVEY.md §2.10 UD2/UD3).

Semantic parity notes (SURVEY.md §7 "semantic decisions"):
  - Keyed semantics: algorithms bound to EveryMinutePerTripPerBus group
    by trip — the window type's meaning — where the reference passes
    ``trip_id=None`` and rescans the whole minute
    (``processor/main.py:481,524,554,584``). The reference's global
    behavior is the EveryMinute grain, available by compiling against
    EVERY_MINUTE.
  - pandas ddof=1 ⇒ stddev_samp/var_samp (``:570,595``).
  - pandas linear-interpolated quantiles ⇒ exact percentile/median
    (``:465,571``).
  - fillna(0) before summing ⇒ explicit coalesce (``:493-503``).
  - diff() within the window frame ⇒ lag partitioned by
    (keys, minute-bucket): the reference re-reads each window so its
    first row's diff is always NaN→0 (``:563-565``); a global lag
    would leak across window boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions.stats import guarded_div
from orca_ztbus_python_processor_spark.plans.registry import Processor
from orca_ztbus_python_processor_spark.plans.windows import (
    EVERY_MINUTE,
    EVERY_MINUTE_PER_TRIP_PER_BUS,
)

proc = Processor("analyser")  # reference processor/main.py:26


def _c0(name: str) -> Column:
    """fillna(0) parity — reference processor/main.py:493,497,503."""
    return F.coalesce(F.col(name), F.lit(0.0))


# --- FindActiveBusses — reference processor/main.py:342-371:
# count of distinct active (trip,bus,route) triples in the minute;
# ValueResult. The J1 join's key triple is functionally determined by
# trip_id, so countDistinct(trip_id) is the fused form.
@proc.algorithm("FindActiveBusses", "1.0.0", EVERY_MINUTE)
def find_active_busses():
    return F.countDistinct("trip_id")


# --- AmbientTemperature — reference processor/main.py:449-470.
@proc.algorithm("AmbientTemperature", "1.0.0", EVERY_MINUTE_PER_TRIP_PER_BUS)
def ambient_temperature():
    return {"50p": F.median("temperature_ambient")}


# --- EnergyEfficiencyPerMinute — reference processor/main.py:474-514.
@proc.algorithm("EnergyEfficiencyPerMinute", "1.0.0", EVERY_MINUTE_PER_TRIP_PER_BUS)
def energy_efficiency():
    kwh = F.sum(_c0("electric_power_demand") / 3600.0)  # kW × 1 s samples → kWh
    km = F.sum(_c0("odometry_vehicle_speed") * 1.0) / 1000.0  # m/s × 1 s → m → km
    passenger_km = (
        F.sum(F.coalesce(F.col("itcs_number_of_passengers").cast("double"), F.lit(0.0))
              * _c0("odometry_vehicle_speed")) / 1000.0
    )
    return {
        "kwh": kwh,
        "kwh_per_km": guarded_div(kwh, km),
        "kwh_per_passenger_km": guarded_div(kwh, passenger_km),
    }


# --- ServiceEfficiencyPerMinute — reference processor/main.py:518-543:
# dwell = rows where door open AND speed < 0.1 (conjunction, :534-536).
@proc.algorithm("ServiceEfficiencyPerMinute", "1.0.0", EVERY_MINUTE_PER_TRIP_PER_BUS)
def service_efficiency():
    dwell = F.sum(
        F.when(F.col("status_door_is_open") & (F.col("odometry_vehicle_speed") < 0.1), 1)
        .otherwise(0)
    )
    total = F.count("*")
    return {
        "dwell_time_s": dwell.cast("double"),
        "door_open_fraction": guarded_div(dwell.cast("double"), total),
    }


# --- ComfortAndSafetyPerMinute — reference processor/main.py:547-573:
# accel = speed.diff().fillna(0); jerk = accel.diff().fillna(0),
# computed inside the window's frame (the reference re-reads each
# window, so diffs reset at window boundaries).
def _prepare_accel_jerk(time_col: str, keys: tuple[str, ...]) -> list[tuple[str, Column]]:
    # partition by the compiler's shared _time_from bucket so the lag
    # shuffle is reused by the final aggregation (one Exchange total)
    w = W.partitionBy("_time_from", *keys).orderBy(time_col)
    accel = F.coalesce(
        F.col("odometry_vehicle_speed") - F.lag("odometry_vehicle_speed").over(w),
        F.lit(0.0),
    )
    jerk = F.coalesce(F.col("accel") - F.lag("accel").over(w), F.lit(0.0))
    return [("accel", accel), ("jerk", jerk)]


@proc.algorithm(
    "ComfortAndSafetyPerMinute",
    "1.0.0",
    EVERY_MINUTE_PER_TRIP_PER_BUS,
    prepare=_prepare_accel_jerk,
)
def comfort_and_safety():
    return {
        "mean_accel": F.avg("accel"),
        "std_accel": F.stddev_samp("accel"),
        "jerk_95p": F.percentile("jerk", F.lit(0.95)),
    }


# --- AssetStressPerMinute — reference processor/main.py:577-598.
@proc.algorithm("AssetStressPerMinute", "1.0.0", EVERY_MINUTE_PER_TRIP_PER_BUS)
def asset_stress():
    return {
        "articulation_var": F.var_samp("odometry_articulation_angle"),
        "brake_pressure_mean": F.avg("traction_brake_pressure"),
    }
