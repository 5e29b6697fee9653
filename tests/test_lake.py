"""Partitioned-lake writes: date predicates must prune directories
(PartitionFilters), not just row groups. Plus the CDC lake merge's
batch equivalence and tombstone reads (``lake.active_rows``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.sources.lake import (
    read_partitioned,
    with_event_date,
    write_partitioned,
)
from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table


def test_partition_pruning_on_event_date(spark, sf_dir, tmp_path):
    path = str(tmp_path / "events_lake")
    ev = with_event_date(load_table(spark, sf_dir, "events"))
    write_partitioned(ev, path, ["event_date"])

    lake = read_partitioned(spark, path)
    one_day = lake.filter(F.col("event_date") == "2024-01-03")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # the date predicate must land in PartitionFilters (directory
    # pruning), NOT PushedFilters (row-group skipping)
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_date" in pf
    # and the result matches the unpartitioned filter
    want = ev.filter(F.col("event_date") == "2024-01-03").count()
    assert want > 0 and one_day.count() == want


def test_partitioned_roundtrip_complete(spark, sf_dir, tmp_path):
    path = str(tmp_path / "events_lake2")
    ev = with_event_date(load_table(spark, sf_dir, "events"))
    write_partitioned(ev, path, ["event_date"])
    assert read_partitioned(spark, path).count() == ev.count()


def test_merge_upsert_incremental_equals_batch(spark, sf_dir, tmp_path):
    """Three-batch CDC merge == one-shot latest-per-key (associativity
    of last-write-wins), and a re-merge of an already-applied batch is
    idempotent."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.operators.table import latest_per_key
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    table = str(tmp_path / "events_table")
    for i in range(3):
        lakelog.merge_apply_cdc(
            spark, table, ev.filter(F.pmod("event_id", F.lit(3)) == i),
            ["user_id"], "ts", tiebreak="event_id",
        )
    merged = lakelog.read(spark, table)
    expect = latest_per_key(ev, ["user_id"], "ts", tiebreak="event_id")
    cols = sorted(merged.columns)
    assert sorted(tuple(r) for r in merged.select(*cols).collect()) == sorted(
        tuple(r) for r in expect.select(*cols).collect()
    )
    # idempotent redelivery: re-applying batch 0 changes nothing
    lakelog.merge_apply_cdc(
        spark, table, ev.filter(F.pmod("event_id", F.lit(3)) == 0),
        ["user_id"], "ts", tiebreak="event_id",
    )
    again = lakelog.read(spark, table)
    assert sorted(tuple(r) for r in again.select(*cols).collect()) == sorted(
        tuple(r) for r in expect.select(*cols).collect()
    )


def test_tombstone_survives_late_old_update(spark, tmp_path):
    """Why deletes are stored as tombstones, not removed: after a key
    is deleted (ts=9), a LATE batch delivering an OLDER update (ts=3)
    must not resurrect it — the retained tombstone keeps winning the
    last-write-wins reduce. The batches carry no ``_op`` column, so
    the merge upserts the delete like any other row."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.sources.lake import active_rows

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id bigint, ts timestamp_ntz, op string, v string"
        )

    table = str(tmp_path / "t_tomb")
    import datetime

    t = lambda s: datetime.datetime.fromisoformat(s)  # noqa: E731
    lakelog.merge_apply_cdc(
        spark, table,
        batch([(1, t("2024-01-01T00:05"), "u", "a5"), (2, t("2024-01-01T00:01"), "u", "b1")]),
        ["user_id"], "ts",
    )
    lakelog.merge_apply_cdc(
        spark, table,
        batch([(1, t("2024-01-01T00:09"), "d", None)]),  # delete key 1
        ["user_id"], "ts",
    )
    lakelog.merge_apply_cdc(
        spark, table,
        batch([(1, t("2024-01-01T00:03"), "u", "a3")]),  # LATE older update
        ["user_id"], "ts",
    )
    active = active_rows(
        lakelog.read(spark, table), F.col("op") == "d"
    ).collect()
    assert {r.user_id: r.v for r in active} == {2: "b1"}  # key 1 stays deleted
    # the tombstone itself is still in the table (retention)
    full = lakelog.read(spark, table).collect()
    assert {r.user_id for r in full} == {1, 2}
