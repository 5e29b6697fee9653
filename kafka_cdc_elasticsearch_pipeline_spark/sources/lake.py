"""Partitioned data-lake layout (the at-rest side of a 100 TB
pipeline): Hive-style directory partitioning so date/tenant predicates
prune entire directories before any IO happens.

The reference's at-rest story is Elasticsearch indexes; a Spark-native
pipeline lands parquet partitioned by event date — `PartitionFilters`
in the scan (asserted in tests) means a one-day query over a 3-year
lake touches 1/1000th of the files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Land a DataFrame Hive-partitioned by ``partition_cols``."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def with_event_date(df: DataFrame, ts_col: str = "ts", out_col: str = "event_date") -> DataFrame:
    """Derive the partition column from event time (day granularity —
    the reference's ES template types ``*_TS`` as date for the same
    dashboard slicing)."""
    return df.withColumn(out_col, F.to_date(F.col(ts_col)))


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned lake path; partition columns come back as
    regular columns and predicates on them prune directories."""
    return spark.read.parquet(path)


def active_rows(table: DataFrame, delete_pred) -> DataFrame:
    """Tombstone-aware read of a CDC lake table: rows matching
    ``delete_pred`` are RETAINED deletes, filtered out of the active
    view here rather than physically removed by the MERGE (they land
    as ordinary rows through ``lakelog.merge_apply_cdc`` with no op
    column).

    Why retain: a delete physically removed at merge time loses its
    (ts, tiebreak) position, so a LATE-arriving older update for the
    same key would resurrect the row on a later merge. Stored as a
    winning tombstone, the delete keeps beating older changes in the
    last-write-wins reduce — exactly Delta/Iceberg/Kafka-compaction
    semantics (tombstones held for a retention horizon, reclaimed by
    vacuum — ``lakelog.vacuum`` on the txn-log path)."""
    return table.filter(~delete_pred)

