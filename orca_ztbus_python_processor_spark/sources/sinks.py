"""Table sinks and the 100 TB data layout (SURVEY.md §2.1 S6-S9, §7 M7).

The reference persists progress rows and emits window/result records
into Postgres tables (``simulator/main.py:96-101``,
``processor/main.py:371,466-470``). At Spark scale those become
partitioned columnar tables whose LAYOUT is the optimization:

  - **Partition by low-cardinality time** (``date(ts)``): partition
    pruning turns time-range scans — every reference query is one
    (``processor/main.py:137-142``) — into directory skips.
  - **Sort within partitions by (key, time)**: parquet min/max row-group
    stats then prune key lookups inside each date partition.
  - **Bucket by join key** where a table is repeatedly joined/grouped on
    one key (trip_id/user_id): both sides pre-partitioned => the join
    plans with zero exchanges.

At 100 TB: date partitions keep any single scan bounded (~hundreds of
GB/day), bucket counts are sized so bucket x date ~ 128 MB-1 GB files,
and appends stay exactly-once via the streaming checkpoint
(``streaming/pipeline.windows_table_sink``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_time_partitioned(
    df: DataFrame,
    path: str,
    time_col: str = "ts",
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Write ``df`` date-partitioned on ``time_col`` with row-group
    clustering on ``sort_cols``.

    ``repartition(date)`` before the write gives one task per partition
    directory (no small-file explosion from N tasks x M dates);
    ``sortWithinPartitions`` orders rows so parquet min/max stats prune
    ``sort_cols`` predicates.
    """
    dated = df.withColumn("p_date", F.to_date(F.col(time_col)))
    out = dated.repartition(F.col("p_date"))
    if sort_cols:
        out = out.sortWithinPartitions("p_date", *sort_cols)
    out.write.partitionBy("p_date").mode(mode).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed table: joins/aggregations on
    ``bucket_col`` between co-bucketed tables plan with NO exchange —
    and a groupBy whose keys INCLUDE ``bucket_col`` plans with no
    exchange either (HashPartitioning on a subset of the grouping keys
    satisfies the aggregation's clustered distribution).

    ``path`` makes it an EXTERNAL bucketed table at that location
    (bucketing metadata still lives in the session catalog — Spark's
    bucketed layout is catalog-described, unlike Hive's file-embedded
    one)."""
    writer = df.write.bucketBy(n_buckets, bucket_col)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.mode(mode).format("parquet").saveAsTable(table_name)


def write_results(results: DataFrame, path: str, mode: str = "append") -> None:
    """S9: append algorithm results. Expected shape:
    ``window_start, window_end, algorithm, version, payload...``
    (reference ValueResult/StructResult rows,
    ``processor/main.py:371,466-470``). Partitioned by result date so
    downstream dashboards scan one day, not the history."""
    write_time_partitioned(results, path, time_col="window_start", mode=mode)
