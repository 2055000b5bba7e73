"""Golden algorithm-parity tests: the fused registry plan must
reproduce, per (minute-window, trip), exactly what the reference's
pandas algorithms compute per window event (reference
``processor/main.py:449-598``; formulas re-derived here in pandas as
the independent oracle — SURVEY.md §5 strategy #2/#4).
"""

from __future__ import annotations

import datetime as dt
import math
import warnings
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from orca_ztbus_python_processor_spark.plans.algorithms import proc
from orca_ztbus_python_processor_spark.plans.windows import (
    EVERY_MINUTE,
    EVERY_MINUTE_PER_TRIP_PER_BUS,
)

T0 = dt.datetime(2021, 3, 9, 14, 15, 0)  # reference epoch, simulator/main.py:85-86


@pytest.fixture(scope="module")
def telemetry_fixture():
    """Deterministic 1 Hz micro-fixture: 2 trips × 300 s, exercising
    FIXTURES.md B2 (dwell conjunction cases, odd/even windows, n>=3)."""
    rng = np.random.default_rng(42)
    frames = []
    for trip_id, bus_id, route_id in [(1, 1, 10), (2, 2, 11)]:
        n = 300
        times = [T0 + dt.timedelta(seconds=i) for i in range(n)]
        speed = np.abs(rng.normal(5, 3, n))
        speed[40:70] = 0.05  # dwell-eligible
        speed[100:110] = 0.0
        door = np.zeros(n, dtype=bool)
        door[35:60] = True  # overlaps dwell AND fast rows (conjunction test)
        door[100:105] = True
        frames.append(
            pd.DataFrame(
                {
                    "trip_id": trip_id,
                    "bus_id": bus_id,
                    "route_id": route_id,
                    "time": times,
                    "electric_power_demand": rng.normal(50, 80, n),
                    "temperature_ambient": rng.normal(12, 4, n),
                    "traction_brake_pressure": np.abs(rng.normal(2, 1, n)),
                    "odometry_articulation_angle": rng.normal(0, 8, n),
                    "odometry_vehicle_speed": speed,
                    "itcs_number_of_passengers": rng.integers(0, 120, n),
                    "status_door_is_open": door,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def _minute(ts: pd.Series) -> pd.Series:
    return ts.dt.floor("min")


def reference_results(pdf: pd.DataFrame) -> pd.DataFrame:
    """The reference's per-window pandas math, applied per (minute, trip)
    exactly as if each window event re-read its slice
    (processor/main.py:464-598)."""
    rows = []
    for (w, trip), df in pdf.groupby([_minute(pdf["time"]), "trip_id"]):
        df = df.sort_values("time")
        energy_kwh = (df["electric_power_demand"].fillna(0) / 3600.0).sum()
        dist_m = (df["odometry_vehicle_speed"].fillna(0) * 1.0).sum()
        total_km = dist_m / 1000.0
        passenger_km = (
            df["itcs_number_of_passengers"].fillna(0) * df["odometry_vehicle_speed"].fillna(0)
        ).sum() / 1000.0
        dwell = df[(df["status_door_is_open"]) & (df["odometry_vehicle_speed"] < 0.1)].shape[0]
        total = len(df)
        accel = df["odometry_vehicle_speed"].diff().fillna(0)
        jerk = accel.diff().fillna(0)
        rows.append(
            {
                "time_from": w,
                "trip_id": trip,
                "amb_50p": df["temperature_ambient"].median(),
                "kwh": energy_kwh,
                "kwh_per_km": energy_kwh / total_km if total_km > 0 else None,
                "kwh_per_passenger_km": energy_kwh / passenger_km if passenger_km > 0 else None,
                "dwell_time_s": float(dwell),
                "door_open_fraction": dwell / total if total > 0 else None,
                "mean_accel": accel.mean(),
                "std_accel": accel.std(),
                "jerk_95p": jerk.quantile(0.95),
                "articulation_var": df["odometry_articulation_angle"].var(),
                "brake_pressure_mean": df["traction_brake_pressure"].mean(),
            }
        )
    return pd.DataFrame(rows).sort_values(["time_from", "trip_id"]).reset_index(drop=True)


def test_fused_plan_matches_reference_pandas(spark, telemetry_fixture):
    sdf = spark.createDataFrame(telemetry_fixture)
    fused = (
        proc.compile_window_type(sdf, EVERY_MINUTE_PER_TRIP_PER_BUS, "time", "60 seconds")
        .toPandas()
        .sort_values(["time_from", "trip_id"])
        .reset_index(drop=True)
    )
    expected = reference_results(telemetry_fixture)

    assert len(fused) == len(expected)
    pairs = [
        ("AmbientTemperature__50p", "amb_50p"),
        ("EnergyEfficiencyPerMinute__kwh", "kwh"),
        ("EnergyEfficiencyPerMinute__kwh_per_km", "kwh_per_km"),
        ("EnergyEfficiencyPerMinute__kwh_per_passenger_km", "kwh_per_passenger_km"),
        ("ServiceEfficiencyPerMinute__dwell_time_s", "dwell_time_s"),
        ("ServiceEfficiencyPerMinute__door_open_fraction", "door_open_fraction"),
        ("ComfortAndSafetyPerMinute__mean_accel", "mean_accel"),
        ("ComfortAndSafetyPerMinute__std_accel", "std_accel"),
        ("ComfortAndSafetyPerMinute__jerk_95p", "jerk_95p"),
        ("AssetStressPerMinute__articulation_var", "articulation_var"),
        ("AssetStressPerMinute__brake_pressure_mean", "brake_pressure_mean"),
    ]
    for fused_col, exp_col in pairs:
        got = fused[fused_col].astype(float).to_numpy()
        exp = expected[exp_col].astype(float).to_numpy()
        np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12, err_msg=fused_col)


def test_every_minute_value_result(spark, telemetry_fixture):
    sdf = spark.createDataFrame(telemetry_fixture)
    fused = proc.compile_window_type(sdf, EVERY_MINUTE, "time", "60 seconds").toPandas()
    # both trips active every minute of the fixture
    assert (fused["FindActiveBusses__value"] == 2).all()
    assert len(fused) == 5  # 300 s / 60 s


def test_melt_results_shape(spark, telemetry_fixture):
    sdf = spark.createDataFrame(telemetry_fixture)
    fused = proc.compile_window_type(sdf, EVERY_MINUTE_PER_TRIP_PER_BUS, "time")
    melted = proc.melt_results(fused, EVERY_MINUTE_PER_TRIP_PER_BUS)
    pdf = melted.toPandas()
    # 5 algorithms × 10 (window, trip) groups
    assert len(pdf) == 5 * 10
    assert set(pdf["algorithm"].unique()) == {
        "AmbientTemperature",
        "EnergyEfficiencyPerMinute",
        "ServiceEfficiencyPerMinute",
        "ComfortAndSafetyPerMinute",
        "AssetStressPerMinute",
    }
    row = pdf[pdf["algorithm"] == "AmbientTemperature"].iloc[0]
    assert row["window"]["name"] == "EveryMinutePerTripPerBus"
    assert set(row["window"]["metadata"].keys()) == {"trip_id", "bus_id", "route_id"}
    assert pd.isna(row["value"]) and "50p" in row["payload"]


def test_every_minute_melt_schema_matches_per_trip(spark, telemetry_fixture):
    # FIXTURES.md A4: metadata is map<string,long> for every window type,
    # empty for EveryMinute. An untyped empty map would be map<void,void>,
    # which makes toPandas abandon Arrow for the slow path.
    sdf = spark.createDataFrame(telemetry_fixture)

    def melt(wt):
        return proc.melt_results(proc.compile_window_type(sdf, wt, "time"), wt)

    # Types only: a value result's payload is NULL, so its nullability
    # differs from a struct result's by design (FIXTURES.md A5).
    every_minute = melt(EVERY_MINUTE)
    per_trip = melt(EVERY_MINUTE_PER_TRIP_PER_BUS)
    assert every_minute.schema.simpleString() == per_trip.schema.simpleString()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pdf = every_minute.toPandas()
    assert not [w for w in caught if "arrow" in str(w.message).lower()]
    assert len(pdf) == 5 and all(r["metadata"] == {} for r in pdf["window"])


# --------------------------------------------------------------------------
# Build-once memo: Columns built by the first compile/melt of a window type
# are rebound to every later input frame.
# --------------------------------------------------------------------------


def _fresh_copy(counts=None):
    """A new Processor with ``proc``'s per-trip algorithms; with
    ``counts``, every aggs/prepare call is tallied there by name."""
    from orca_ztbus_python_processor_spark.plans.registry import Processor

    fresh = Processor(proc.name)
    for a in proc.algorithms_for(EVERY_MINUTE_PER_TRIP_PER_BUS):
        aggs, prepare = a.aggs, a.prepare
        if counts is not None:

            def aggs(fn=a.aggs, key=f"aggs:{a.name}"):
                counts[key] = counts.get(key, 0) + 1
                return fn()

            if a.prepare is not None:

                def prepare(time_col, keys, fn=a.prepare, key=f"prepare:{a.name}"):
                    counts[key] = counts.get(key, 0) + 1
                    return fn(time_col, keys)

        fresh.algorithm(a.name, a.version, a.window_type, prepare)(aggs)
    return fresh


def _sorted_pdf(df):
    cols = ["time_from", "trip_id"]
    return df.toPandas().sort_values(cols).reset_index(drop=True)


def test_memo_rebinds_per_duration_and_time_col(spark, telemetry_fixture):
    sdf = spark.createDataFrame(telemetry_fixture)
    renamed = sdf.withColumnRenamed("time", "t")
    wt = EVERY_MINUTE_PER_TRIP_PER_BUS
    for frame, time_col, duration in [
        (sdf, "time", "60 seconds"),
        (sdf, "time", "120 seconds"),
        (renamed, "t", "60 seconds"),
    ]:
        got = _sorted_pdf(proc.compile_window_type(frame, wt, time_col, duration))
        want = _sorted_pdf(_fresh_copy().compile_window_type(frame, wt, time_col, duration))
        pd.testing.assert_frame_equal(got, want)
        if duration == "120 seconds":
            assert len(got) == 2 * 3  # 300 s per trip: buckets at 0, 120, 240 s


def test_algorithm_registered_after_compile_is_compiled(spark, telemetry_fixture):
    from pyspark.sql import functions as F

    from orca_ztbus_python_processor_spark.plans.registry import Processor

    sdf = spark.createDataFrame(telemetry_fixture)
    p = Processor("late")
    p.algorithm("Rows", "1.0.0", EVERY_MINUTE)(lambda: F.count("*"))
    assert "Rows__value" in p.compile_window_type(sdf, EVERY_MINUTE).columns
    p.algorithm("MaxSpeed", "1.0.0", EVERY_MINUTE)(lambda: F.max("odometry_vehicle_speed"))
    fused = p.compile_window_type(sdf, EVERY_MINUTE)
    assert fused.columns[-2:] == ["Rows__value", "MaxSpeed__value"]
    melted = p.melt_results(fused, EVERY_MINUTE).collect()
    assert {r["algorithm"] for r in melted} == {"MaxSpeed", "Rows"}


def test_memoized_compiles_union_to_one_compile(spark, telemetry_fixture):
    """Disjoint inputs compiled through the same memo entry, unioned,
    equal one compile over the union: the shared aliases and window specs
    do not collide when two bindings meet in one plan."""
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(telemetry_fixture)
    cut = T0 + dt.timedelta(seconds=120)  # a window boundary
    wt = EVERY_MINUTE_PER_TRIP_PER_BUS

    def compiled(frame):
        return proc.melt_results(proc.compile_window_type(frame, wt, "time"), wt)

    both = compiled(sdf.where(F.col("time") < F.lit(cut))).union(
        compiled(sdf.where(F.col("time") >= F.lit(cut)))
    )
    whole = compiled(sdf)
    def rows(df):  # map columns rule out exceptAll
        return sorted(repr(r.asDict(recursive=True)) for r in df.collect())

    got, want = rows(both), rows(whole)
    assert len(want) == 5 * 10
    assert got == want


def test_aggs_and_prepare_built_once(spark, telemetry_fixture):
    sdf = spark.createDataFrame(telemetry_fixture)
    counts: dict[str, int] = {}
    p = _fresh_copy(counts=counts)
    wt = EVERY_MINUTE_PER_TRIP_PER_BUS
    for _ in range(3):
        p.melt_results(p.compile_window_type(sdf, wt, "time", "60 seconds"), wt)
    assert counts == {
        "aggs:AmbientTemperature": 1,
        "aggs:EnergyEfficiencyPerMinute": 1,
        "aggs:ServiceEfficiencyPerMinute": 1,
        "prepare:ComfortAndSafetyPerMinute": 1,
        "aggs:ComfortAndSafetyPerMinute": 1,
        "aggs:AssetStressPerMinute": 1,
    }


# --------------------------------------------------------------------------
# One-window trigger: a frame whose root Filter bounds the time column from
# both sides by timestamp literals at most one window apart compiles into a
# single-partition plan with no Exchange; every other input keeps the
# shuffle plan.
# --------------------------------------------------------------------------

WINDOW_TYPES = (EVERY_MINUTE, EVERY_MINUTE_PER_TRIP_PER_BUS)


def _at(seconds: int):
    from pyspark.sql import functions as F

    return F.lit(T0 + dt.timedelta(seconds=seconds))


def _between(frame, lo_s: int, hi_s: int):
    from pyspark.sql import functions as F

    return frame.where((F.col("time") >= _at(lo_s)) & (F.col("time") < _at(hi_s)))


def _melted(frame, wt):
    return proc.melt_results(proc.compile_window_type(frame, wt, "time"), wt)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _canon(value):
    """Hashable form of a melted row; floats to 10 digits, since one
    partition sums in another order than the shuffle's partial merges."""
    if hasattr(value, "asDict"):
        value = value.asDict()
    if isinstance(value, dict):
        return tuple(sorted((k, _canon(v)) for k, v in value.items()))
    if isinstance(value, float):
        return "nan" if math.isnan(value) else float(f"{value:.10g}")
    return value


def _rows(df) -> Counter:
    return Counter(_canon(r) for r in df.collect())


@pytest.fixture(scope="module")
def trigger_frame(spark, telemetry_fixture):
    """The fixture with NULL sensor channels: trip 1's temperature and
    power are NULL for all of minute 2, and both trips' speed is NULL
    for ten seconds of minute 3 (so the lag prepare meets NULLs)."""
    from pyspark.sql import functions as F

    t = F.col("time")
    minute2_trip1 = (t >= _at(120)) & (t < _at(180)) & (F.col("trip_id") == 1)
    speed_gap = (t >= _at(190)) & (t < _at(200))
    frame = spark.createDataFrame(telemetry_fixture)
    for name, cond in [
        ("temperature_ambient", minute2_trip1),
        ("electric_power_demand", minute2_trip1),
        ("odometry_vehicle_speed", speed_gap),
    ]:
        frame = frame.withColumn(name, F.when(cond, F.lit(None)).otherwise(F.col(name)))
    return frame


@pytest.mark.parametrize("wt", WINDOW_TYPES, ids=lambda w: w.name)
def test_one_window_trigger_matches_shuffle_plan(trigger_frame, wt):
    whole = _melted(trigger_frame, wt)
    assert "Exchange" in _executed_plan(whole)
    by_window: dict = {}
    for r in whole.collect():
        by_window.setdefault(r["window"]["time_from"], Counter())[_canon(r)] += 1
    # minute 5 is past the fixture's 300 s: an empty window
    for minute in range(6):
        got = _rows(_melted(_between(trigger_frame, 60 * minute, 60 * minute + 60), wt))
        assert got == by_window.get(T0 + dt.timedelta(minutes=minute), Counter()), minute
    assert not by_window.get(T0 + dt.timedelta(minutes=5))
    # an unaligned 60 s range covers two buckets; ``select("*")`` puts a
    # Project over the Filter, so the same rows take the shuffle plan
    unaligned = _between(trigger_frame, 30, 90)
    shuffled = _melted(unaligned.select("*"), wt)
    assert "Exchange" in _executed_plan(shuffled)
    got = _rows(_melted(unaligned, wt))
    assert got == _rows(shuffled)
    assert len({dict(dict(row)["window"])["time_from"] for row in got}) == 2


@pytest.mark.parametrize("wt", WINDOW_TYPES, ids=lambda w: w.name)
@pytest.mark.parametrize("reversed_sides", [False, True], ids=["time_op_lit", "lit_op_time"])
def test_one_window_collect_is_one_job_without_exchange(spark, trigger_frame, wt, reversed_sides):
    from pyspark.sql import functions as F

    t = F.col("time")
    bounds = ((_at(60) <= t) & (_at(120) > t)) if reversed_sides else ((t >= _at(60)) & (t < _at(120)))
    melted = _melted(trigger_frame.where(bounds), wt)
    sc = spark.sparkContext
    group = f"one-window-{wt.name}-{reversed_sides}"
    sc.setJobGroup(group, group)
    try:
        assert melted.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1
    plan = _executed_plan(melted)
    # Spark still wraps an aggregate in AdaptiveSparkPlan, but with no
    # Exchange its only query stage is the result stage
    assert "Exchange" not in plan and "ShuffleQueryStage" not in plan
    assert "Coalesce 1" in plan


@pytest.mark.parametrize(
    "case", ["two_minutes", "one_sided", "other_column", "column_to_column", "unfiltered"]
)
def test_other_inputs_keep_the_shuffle(trigger_frame, case):
    from pyspark.sql import functions as F

    t = F.col("time")
    with_t2 = trigger_frame.withColumn("t2", t + F.expr("INTERVAL 30 SECONDS"))
    frame = {
        "two_minutes": lambda: _between(trigger_frame, 0, 120),
        "one_sided": lambda: trigger_frame.where(t >= _at(60)),
        "other_column": lambda: with_t2.where((F.col("t2") >= _at(60)) & (F.col("t2") < _at(120))),
        "column_to_column": lambda: with_t2.where((t >= _at(60)) & (t < F.col("t2"))),
        "unfiltered": lambda: trigger_frame,
    }[case]()
    for wt in WINDOW_TYPES:
        assert "Exchange" in _executed_plan(_melted(frame, wt)), wt.name
