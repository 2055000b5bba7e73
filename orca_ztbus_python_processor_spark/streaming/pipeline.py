"""Streaming query pipelines (SURVEY.md §2.8 ST1-ST8).

The reference's processing loop — core delivers a window event, the
bound algorithm re-reads that window's rows and aggregates
(``processor/main.py:342-371,449-598``) — becomes a single incremental
plan: ``readStream -> withWatermark -> groupBy(window, keys).agg(...)``.
The fan-out (one derived window per active key, ST2) is the grouping
key set; the result sink (S9) is the streaming output; the windows
table (S8) is a foreachBatch append.

Watermark policy: the reference bounds lookback state at 400 s
(20 x 20 s, ``processor/main.py:246-247``) — ``withWatermark(ts,
"400 seconds")`` is the native equivalent (ST4): state for a window is
kept exactly until event time passes its end + 400 s.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

DEFAULT_WATERMARK = "400 seconds"

# Streaming state shard count == shuffle partitions at query start: every
# stateful operator opens one state store PER PARTITION PER SIDE, and the
# per-store fixed cost (init, snapshot, commit) dominates small batches —
# measured 3-4x wall-time on local[32] at 32 shards vs 8, and the round-13
# sweep (.benchmarks/stream_click_probe_r13.json: shards x provider, ABBA,
# dedicated sessions) shows the remaining floor is per-store COMMIT cost,
# near-linear in shard count (8 -> 4 cuts the stream-stream join pair 25%,
# 8 -> 2 cuts 32%; RocksDB loses to the HDFS-backed store at every cell;
# the instrumented batch spends ~1.2 s in real state work vs ~4 s summed
# store commits at 8 shards). Default 4 balances that fixed cost against
# keeping real state work parallel. On a cluster, size via
# SPARK_GRAFT_STREAM_SHARDS to executors x cores with state volume per
# shard fitting executor memory; it is a start-time knob, not a code
# change.
STREAM_STATE_SHARDS = int(os.environ.get("SPARK_GRAFT_STREAM_SHARDS", "4"))
# Python-state (applyInPandasWithState) queries invert the trade above:
# their per-batch work is CPU-bound Python (one worker per shard), so
# halving shards halves compute width — measured 1.5x slower at 4 vs 8
# on stream_error_runs while the join/agg queries got 25% faster
# (ABBA, .benchmarks/stream_click_probe_r13.json + the fsm probe in
# OPTIMIZATION_r13.md §8). Those queries keep the wider default via
# run_to_memory(shards=...).
STREAM_FSM_SHARDS = int(os.environ.get("SPARK_GRAFT_STREAM_FSM_SHARDS", "8"))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file stream (one-file parquet source; at scale this
    is the Kafka/Delta ingest edge)."""
    from orca_ztbus_python_processor_spark.session import ensure_engine_confs  # noqa: PLC0415
    from orca_ztbus_python_processor_spark.sources.parquet import (  # noqa: PLC0415
        events_ts_is_nanos,
        normalize_events_ts,
        table_path,
    )

    ensure_engine_confs(spark)
    # Shared footer-level sniff (memoized per path) — no eager batch
    # read per stream construction, and the stream cannot drift from the
    # batch reader's normalization. For the micros generation the
    # declared "ts timestamp" over an NTZ parquet column matches the
    # batch path's instants only under the UTC session timezone pinned
    # by ensure_engine_confs (see normalize_events_ts).
    ts_is_nanos = events_ts_is_nanos(sf_dir)
    ts_decl = "ts long" if ts_is_nanos else "ts timestamp"
    raw_schema = f"event_id long, {ts_decl}, user_id long, event_type string, value double, props string"
    events_file = table_path(sf_dir, "events")
    stream = (
        spark.readStream.schema(raw_schema)
        # glob form: the table is a single parquet file, and the
        # file-stream source requires a directory-rooted glob to derive
        # its basePath
        .parquet(os.path.join(os.path.dirname(events_file), "{" + os.path.basename(events_file) + "}"))
    )
    return normalize_events_ts(stream, ts_is_nanos)


def windowed_agg_stream(
    events: DataFrame,
    agg_cols: list[Column],
    keys: tuple[str, ...] = ("user_id",),
    time_col: str = "ts",
    duration: str = "60 seconds",
    watermark: str = DEFAULT_WATERMARK,
    slide: str | None = None,
    out_cols: tuple[str, str] = ("time_from", "time_to"),
) -> DataFrame:
    """Tumbling (or, with ``slide``, hopping) window keyed aggregation
    over a stream (ST1 + ST2 + EP2 in one incremental plan). One shared
    shape for every windowed stream query so watermark handling cannot
    drift between them; ``out_cols`` names the window-bound columns."""
    win = (
        F.window(F.col(time_col), duration, slide)
        if slide is not None
        else F.window(F.col(time_col), duration)
    )
    agged = (
        events.withWatermark(time_col, watermark)
        .groupBy(win.alias("w"), *keys)
        .agg(*agg_cols)
    )
    rest = [c for c in agged.columns if c != "w"]
    return agged.select(
        F.col("w.start").alias(out_cols[0]), F.col("w.end").alias(out_cols[1]), *rest
    )


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    shards: int | None = None,
) -> StreamingQuery:
    """Drive a streaming frame to completion synchronously into an
    in-memory table (test/driver harness path): availableNow processes
    all existing input then stops — the batch≡stream bridge.

    ``shards`` overrides STREAM_STATE_SHARDS for queries whose per-batch
    work is CPU-bound Python state handling (see STREAM_FSM_SHARDS)."""
    spark = stream_df.sparkSession
    for q in spark.streams.active:
        if q.name == query_name:
            q.stop()
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(STREAM_STATE_SHARDS if shards is None else shards),
    )
    try:
        query = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return query


def windows_table_sink(
    window_events: DataFrame,
    checkpoint_dir: str,
    out_path: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """S8: append window-event rows to a parquet ``windows`` table via
    foreachBatch (the reference's EmitWindow gRPC sink,
    ``simulator/main.py:104-112``, as an exactly-once table append).

    ``output_mode`` follows the usual watermark trade-off: ``append``
    emits a window once, when the watermark finalizes it (the unbounded-
    stream mode — windows still inside the watermark stay in state);
    ``complete`` re-emits the full result each epoch, which with an
    availableNow one-shot drain is exactly one full write — the mode a
    bounded replay/backfill wants.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_path)

    return (
        window_events.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def session_runs_stream(
    events: DataFrame,
    flag_col: str,
    keys: tuple[str, ...] = ("user_id",),
    time_col: str = "ts",
    gap: str = "1500 milliseconds",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """ST3: contiguous-run detection as a streaming session window.

    On 1 Hz data a run of consecutive flag-true samples is exactly a
    session over the flag-true subset with any gap in (1 s, 2 s): a
    false sample creates a 2 s hole between trues, which must CLOSE the
    session — and Spark merges sessions that merely touch
    (last + gap == next), so the gap must be strictly under 2 s;
    1.5 s keeps 1 s cadence merged and 2 s holes split
    (SURVEY.md §7 decision 3, adjusted). State spans micro-batches natively —
    the reference's manual 400 s lookback re-reads (ST4,
    ``processor/main.py:246-293``) disappear into the watermark.
    In append mode a session is emitted once, when finalized (ST5/ST8).
    """
    return (
        events.where(F.col(flag_col))
        .withWatermark(time_col, watermark)
        .groupBy(F.session_window(F.col(time_col), gap).alias("s"), *keys)
        .agg(F.count("*").alias("n_samples"))
        .select(
            F.col("s.start").alias("time_from"),
            F.col("s.end").alias("time_to"),
            *keys,
            "n_samples",
        )
    )
