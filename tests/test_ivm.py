"""Row-level change data feed (lakelog.merge_apply_cdc /
read_row_changes) and incremental view maintenance (operators/ivm.py):
the feed must record exactly what happened to the TABLE (inserts,
pre/post update pairs, nothing for lost races), and the maintained
aggregate must equal a recompute after every commit."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from kafka_cdc_elasticsearch_pipeline_spark.operators.ivm import (
    delta_aggregate,
    ivm_merge,
)
from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog


def _batch(spark, rows):
    return spark.createDataFrame(
        [Row(user_id=u, ts=t, event_id=e, channel=c, value=float(v))
         for u, t, e, c, v in rows]
    )


def test_first_cdf_commit_is_all_inserts(spark, tmp_path):
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table,
        _batch(spark, [(1, 10, 100, "a", 1.0), (2, 10, 101, "b", 2.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    feed = lakelog.read_row_changes(spark, table, 0).collect()
    assert {r._change_type for r in feed} == {"insert"}
    assert {r._commit_version for r in feed} == {1}
    assert len(feed) == lakelog.read(spark, table).count() == 2


def test_update_emits_pre_post_pair_and_lost_race_emits_nothing(spark, tmp_path):
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table,
        _batch(spark, [(1, 10, 100, "a", 1.0), (2, 50, 101, "b", 2.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    # user 1: newer ts -> real update; user 2: OLDER ts -> loses, no feed
    # user 3: unseen -> insert
    lakelog.merge_apply_cdc(
        spark, table,
        _batch(spark, [(1, 20, 102, "c", 5.0), (2, 40, 103, "b", 9.0),
                       (3, 10, 104, "a", 7.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    feed = {(r._change_type, r.user_id): r
            for r in lakelog.read_row_changes(spark, table, 1, 2).collect()}
    assert set(feed) == {
        ("update_preimage", 1), ("update_postimage", 1), ("insert", 3)
    }
    assert feed[("update_preimage", 1)].value == 1.0
    assert feed[("update_postimage", 1)].value == 5.0
    assert feed[("update_postimage", 1)].channel == "c"
    # the table itself still holds user 2's ORIGINAL row
    snap = {r.user_id: r for r in lakelog.read(spark, table).collect()}
    assert snap[2].value == 2.0


def test_append_commit_synthesizes_insert_feed(spark, tmp_path):
    table = str(tmp_path / "t")
    df1 = _batch(spark, [(1, 10, 100, "a", 1.0)])
    lakelog.append_commit(spark, table, df1)
    lakelog.append_commit(spark, table, _batch(spark, [(2, 20, 101, "b", 2.0)]))
    feed = lakelog.read_row_changes(spark, table, 1, 2).collect()
    assert len(feed) == 1
    assert feed[0]._change_type == "insert" and feed[0].user_id == 2


def test_row_changes_refuses_commits_without_feed(spark, tmp_path):
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table, _batch(spark, [(1, 10, 100, "a", 1.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    # a feed-less rewrite commit in the middle of the range
    lakelog.commit(table, _batch(spark, [(1, 20, 101, "b", 2.0)]), "overwrite")
    with pytest.raises(ValueError, match="without\na change feed|without a change feed"):
        lakelog.read_row_changes(spark, table, 1, 2)


def test_ivm_equals_recompute_after_every_commit(spark, sf_dir, tmp_path):
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    table = str(tmp_path / "events_table")
    view = None
    for i in range(3):
        lakelog.merge_apply_cdc(
            spark, table,
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
            ["user_id"], "ts", tiebreak="event_id",
        )
        feed = lakelog.read_row_changes(spark, table, i, i + 1)
        view = ivm_merge(
            view, delta_aggregate(feed, ["event_type"], ["value"]),
            ["event_type"],
        ).localCheckpoint()
        recomputed = (
            lakelog.read(spark, table)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("decimal(28,2)").alias("sum_value"),
            )
        )
        got = {r.event_type: (r.n_rows, r.sum_value) for r in view.collect()}
        want = {r.event_type: (r.n_rows, r.sum_value) for r in recomputed.collect()}
        assert got == want, f"divergence after version {i + 1}"


def test_ivm_drops_groups_that_reach_zero(spark):
    feed1 = spark.createDataFrame(
        [Row(g="x", value=1.0, _change_type="insert")]
    )
    feed2 = spark.createDataFrame(
        [Row(g="x", value=1.0, _change_type="update_preimage"),
         Row(g="y", value=3.0, _change_type="update_postimage")]
    )
    view = ivm_merge(None, delta_aggregate(feed1, ["g"], ["value"]), ["g"])
    view = ivm_merge(view, delta_aggregate(feed2, ["g"], ["value"]), ["g"])
    rows = {r.g: r.n_rows for r in view.collect()}
    assert rows == {"y": 1}  # x's count hit zero and disappeared


def test_delta_aggregate_rejects_unknown_change_type(spark):
    feed = spark.createDataFrame([Row(g="x", value=1.0, _change_type="bogus")])
    with pytest.raises(Exception, match="unknown _change_type"):
        delta_aggregate(feed, ["g"], ["value"]).collect()


def test_vacuum_keeps_kept_versions_change_dirs(spark, tmp_path):
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table, _batch(spark, [(1, 10, 100, "a", 1.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    lakelog.merge_apply_cdc(
        spark, table, _batch(spark, [(1, 20, 101, "b", 2.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    lakelog.vacuum(table, keep_last=1, min_age_s=0.0)
    # version 2's change dir survived; its feed still reads
    feed = lakelog.read_row_changes(spark, table, 1, 2).collect()
    assert {r._change_type for r in feed} == {
        "update_preimage", "update_postimage"
    }


def test_streaming_ivm_sink_view_follows_stream(spark, sf_dir, tmp_path):
    """End-to-end: a 4-chunk CDC replay through lake_ivm_sink — the
    maintained per-channel view after the stream equals a recompute
    over the final source snapshot, and its watermark names the last
    source version folded."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.lake_sink import (
        lake_ivm_sink,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
        cleanup,
        replay_stream,
    )

    src_table = str(tmp_path / "src")
    view_table = str(tmp_path / "view")
    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=4)
    try:
        q = (
            stream.writeStream.foreachBatch(
                lake_ivm_sink(
                    spark, src_table, view_table,
                    keys=["user_id"], ts_col="ts",
                    group_cols=["event_type"], sum_cols=["value"],
                    tiebreak="event_id",
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        cleanup(tmp)
    view = lakelog.read(spark, view_table)
    recomputed = (
        lakelog.read(spark, src_table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(28,2)").alias("sum_value"),
        )
    )
    got = {r.event_type: (r.n_rows, r.sum_value) for r in view.collect()}
    want = {r.event_type: (r.n_rows, r.sum_value) for r in recomputed.collect()}
    assert got == want
    src_head = lakelog.latest_version(src_table)
    m = lakelog.read_manifest(view_table, lakelog.latest_version(view_table))
    assert m["txns"]["ivm"] == src_head


def test_ivm_sink_catches_up_after_crash_between_commits(spark, tmp_path):
    """Crash simulation: a source version committed WITHOUT its fold
    (merge landed, view commit lost). The next sink invocation folds
    every unapplied version, not just its own."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.lake_sink import (
        lake_ivm_sink,
    )

    src, view_t = str(tmp_path / "src"), str(tmp_path / "view")
    sink = lake_ivm_sink(
        spark, src, view_t, keys=["user_id"], ts_col="ts",
        group_cols=["channel"], sum_cols=["value"], tiebreak="event_id",
    )
    sink(_batch(spark, [(1, 10, 100, "a", 1.0)]), 0)
    # "crash": the merge commits but the fold never runs
    lakelog.merge_apply_cdc(
        spark, src, _batch(spark, [(2, 10, 101, "b", 2.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    # next live batch: must fold BOTH unapplied versions
    sink(_batch(spark, [(3, 10, 102, "b", 4.0)]), 1)
    got = {r.channel: (r.n_rows, float(r.sum_value))
           for r in lakelog.read(spark, view_t).collect()}
    assert got == {"a": (1, 1.0), "b": (2, 6.0)}


def test_ivm_sink_skips_redelivered_batch(spark, tmp_path):
    """Redelivery: the source txn watermark recognizes the replayed
    batch_id BEFORE merging — no new source version is burned and the
    view value is unchanged."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.lake_sink import (
        lake_ivm_sink,
    )

    src, view_t = str(tmp_path / "src"), str(tmp_path / "view")
    sink = lake_ivm_sink(
        spark, src, view_t, keys=["user_id"], ts_col="ts",
        group_cols=["channel"], sum_cols=["value"], tiebreak="event_id",
    )
    batch = _batch(spark, [(1, 10, 100, "a", 1.0), (2, 10, 101, "b", 2.0)])
    sink(batch, 0)
    before = sorted(map(tuple, lakelog.read(spark, view_t).collect()))
    src_head = lakelog.latest_version(src)
    sink(batch, 0)  # redelivered verbatim
    after = sorted(map(tuple, lakelog.read(spark, view_t).collect()))
    assert before == after
    # the replay was skipped at the source watermark — zero versions
    assert lakelog.latest_version(src) == src_head


def test_feed_skips_content_identical_compact(spark, tmp_path):
    """A compact between two CDF merges records content_identical; both
    feed readers skip it — the row feed across the whole range carries
    only the real changes, and a range holding ONLY the compact is a
    zero-row feed, not an error."""
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table, _batch(spark, [(1, 10, 100, "a", 1.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    lakelog.compact(spark, table)  # version 2, layout-only
    lakelog.merge_apply_cdc(
        spark, table, _batch(spark, [(1, 20, 101, "b", 2.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    assert lakelog.read_manifest(table, 2)["content_identical"] is True
    feed = lakelog.read_row_changes(spark, table, 1, 3).collect()
    assert sorted(r._change_type for r in feed) == [
        "update_postimage", "update_preimage"
    ]
    only_compact = lakelog.read_row_changes(spark, table, 1, 2)
    assert only_compact.count() == 0
    assert "_change_type" in only_compact.columns


def test_append_feed_skips_compact_too(spark, tmp_path):
    table = str(tmp_path / "t")
    lakelog.append_commit(spark, table, _batch(spark, [(1, 10, 100, "a", 1.0)]))
    lakelog.compact(spark, table)
    lakelog.append_commit(spark, table, _batch(spark, [(2, 20, 101, "b", 2.0)]))
    rows = lakelog.read_changes(spark, table, 1, 3).collect()
    assert [r.user_id for r in rows] == [2]


def test_app_id_for_checkpoint_is_per_lineage(tmp_path):
    """app_id identifies a checkpoint LINEAGE (module docstring): a new
    checkpoint directory gets a new transaction id, so its batch ids
    restarting at 0 cannot be skipped against a sink-table watermark
    retained for the old lineage; same-path restarts keep the id so
    redelivery skip still works."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.lake_sink import (
        app_id_for_checkpoint,
    )

    a = app_id_for_checkpoint(str(tmp_path / "ckpt_a"))
    assert a == app_id_for_checkpoint(str(tmp_path / "ckpt_a"))  # stable
    assert a != app_id_for_checkpoint(str(tmp_path / "ckpt_b"))
    # relative/absolute spellings of one path are one lineage
    import os

    os.makedirs(tmp_path / "ckpt_a", exist_ok=True)
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        assert app_id_for_checkpoint("ckpt_a") == a
    finally:
        os.chdir(cwd)


# --- merge_apply_cdc: the delete-capable CDC apply ---------------------------


def _cdc(spark, rows):
    return spark.createDataFrame(
        [Row(user_id=u, ts=t, event_id=e, channel=c, value=float(v), _op=o)
         for u, t, e, c, v, o in rows]
    )


def test_merge_apply_cdc_upserts_deletes_and_feed(spark, tmp_path):
    """The Debezium op stream applied: c/u upsert, d removes the key;
    the feed records the full OLD row for a delete (so signed folds
    subtract exactly what the table lost), a delete of an absent key
    is a no-op with no feed row."""
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table,
        _cdc(spark, [(1, 10, 100, "a", 1.0, "c"), (2, 10, 101, "b", 2.0, "c")]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    snap1 = lakelog.read(spark, table)
    assert "_op" not in snap1.columns  # the op never lands in the table
    assert {r.user_id for r in snap1.collect()} == {1, 2}

    lakelog.merge_apply_cdc(
        spark, table,
        _cdc(spark, [
            (1, 20, 102, "c", 5.0, "u"),   # update
            (2, 20, 103, "b", 2.0, "d"),   # delete existing
            (3, 10, 104, "a", 7.0, "c"),   # insert
            (9, 10, 105, "x", 0.0, "d"),   # delete absent: no-op
        ]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    snap = {r.user_id: r for r in lakelog.read(spark, table).collect()}
    assert set(snap) == {1, 3}
    assert snap[1].value == 5.0 and snap[1].channel == "c"

    feed = {(r._change_type, r.user_id): r
            for r in lakelog.read_row_changes(spark, table, 1, 2).collect()}
    assert set(feed) == {
        ("update_preimage", 1), ("update_postimage", 1),
        ("delete", 2), ("insert", 3),
    }
    # the delete row is the SNAPSHOT image, not the tombstone's payload
    assert feed[("delete", 2)].event_id == 101
    assert feed[("delete", 2)].value == 2.0


def test_merge_apply_cdc_delete_losing_race_is_noop(spark, tmp_path):
    """A delete older than the current row loses the (ts, tiebreak)
    race: the table keeps the row and the feed stays empty — the feed
    records what happened to the TABLE."""
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table, _cdc(spark, [(1, 50, 100, "a", 1.0, "c")]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    lakelog.merge_apply_cdc(
        spark, table, _cdc(spark, [(1, 20, 101, "a", 1.0, "d")]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    assert lakelog.read(spark, table).count() == 1
    assert lakelog.read_row_changes(spark, table, 1, 2).count() == 0


def test_merge_apply_cdc_in_batch_order_resolves_by_ts(spark, tmp_path):
    """Insert and delete of one key inside ONE batch resolve by
    (ts, tiebreak): delete-last removes, insert-last lands."""
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table,
        _cdc(spark, [
            (1, 10, 100, "a", 1.0, "c"), (1, 20, 101, "a", 1.0, "d"),
            (2, 10, 102, "b", 2.0, "d"), (2, 20, 103, "b", 3.0, "c"),
        ]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    snap = {r.user_id: r for r in lakelog.read(spark, table).collect()}
    assert set(snap) == {2}
    assert snap[2].value == 3.0
    feed = lakelog.read_row_changes(spark, table, 0, 1).collect()
    assert [(r._change_type, r.user_id) for r in feed] == [("insert", 2)]


def test_merge_apply_cdc_feed_folds_in_ivm(spark, tmp_path):
    """Deletes flow through delta_aggregate as −1 rows: the maintained
    per-channel view equals a recompute after a delete-bearing batch."""
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table,
        _cdc(spark, [(1, 10, 100, "a", 1.0, "c"), (2, 10, 101, "a", 2.0, "c"),
                     (3, 10, 102, "b", 4.0, "c")]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    view = delta_aggregate(
        lakelog.read_row_changes(spark, table, 0, 1), ["channel"], ["value"]
    )
    lakelog.merge_apply_cdc(
        spark, table,
        _cdc(spark, [(2, 20, 103, "a", 2.0, "d"), (3, 20, 104, "b", 9.0, "u")]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    view = ivm_merge(
        view, delta_aggregate(
            lakelog.read_row_changes(spark, table, 1, 2), ["channel"], ["value"]
        ),
        ["channel"],
    )
    got = {r.channel: (r.n_rows, float(r.sum_value)) for r in view.collect()}
    want = {
        r.channel: (r.n_rows, float(r.sum_value))
        for r in lakelog.read(spark, table)
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"))
        .collect()
    }
    assert got == want == {"a": (1, 1.0), "b": (1, 9.0)}


def test_merge_apply_cdc_without_op_column_upserts(spark, tmp_path):
    """A batch without ``_op`` is upsert-only: every row upserts (a
    channel of "d" is data, not a delete) and no ``_op`` column lands
    in the table or its feed."""
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table,
        _batch(spark, [(1, 10, 100, "a", 1.0), (2, 10, 101, "b", 2.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    lakelog.merge_apply_cdc(
        spark, table,
        _batch(spark, [(1, 20, 102, "d", 5.0), (3, 10, 103, "c", 3.0)]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    snap = lakelog.read(spark, table)
    assert "_op" not in snap.columns
    assert {r.user_id: r.channel for r in snap.collect()} == {
        1: "d", 2: "b", 3: "c"
    }
    feed = lakelog.read_row_changes(spark, table, 1, 2)
    assert "_op" not in feed.columns
    assert {(r._change_type, r.user_id) for r in feed.collect()} == {
        ("update_preimage", 1), ("update_postimage", 1), ("insert", 3)
    }


def test_merge_apply_cdc_null_key_is_one_key(spark, tmp_path):
    """A NULL key is ONE key, as ``latest_per_key`` groups it: a second
    merge of the NULL-keyed row replaces it (one row, an update
    pre/post pair in the feed) instead of adding a copy, and a delete
    of the NULL key removes it."""
    table = str(tmp_path / "t")
    schema = "user_id bigint, ts bigint, v string, _op string"

    def merge(rows):
        lakelog.merge_apply_cdc(
            spark, table, spark.createDataFrame(rows, schema), ["user_id"], "ts"
        )

    merge([(None, 10, "n1", "c"), (1, 10, "a", "c")])
    merge([(None, 20, "n2", "u")])
    rows = lakelog.read(spark, table).collect()
    assert sorted((r.user_id is None, r.ts, r.v) for r in rows) == [
        (False, 10, "a"), (True, 20, "n2")
    ]
    feed = lakelog.read_row_changes(spark, table, 1, 2).collect()
    assert sorted((r._change_type, r.user_id, r.v) for r in feed) == [
        ("update_postimage", None, "n2"), ("update_preimage", None, "n1")
    ]

    merge([(None, 30, None, "d")])
    assert [r.user_id for r in lakelog.read(spark, table).collect()] == [1]
    feed = lakelog.read_row_changes(spark, table, 2, 3).collect()
    assert [(r._change_type, r.user_id, r.v) for r in feed] == [
        ("delete", None, "n2")
    ]


def test_merge_apply_cdc_repeated_batch_keys_against_snapshot(spark, tmp_path):
    """Several changes to one key inside a batch that meets an existing
    snapshot reduce to the latest by (ts, tiebreak): one pre/post pair
    for the updated key, nothing for a key inserted then deleted in the
    batch, nothing for a key whose changes all lose to the snapshot."""
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table,
        _cdc(spark, [(1, 10, 100, "a", 1.0, "c"), (2, 50, 101, "b", 2.0, "c")]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    lakelog.merge_apply_cdc(
        spark, table,
        _cdc(spark, [
            (1, 20, 102, "b", 2.0, "u"), (1, 30, 103, "c", 3.0, "u"),
            (1, 25, 104, "d", 4.0, "u"),
            (2, 20, 105, "x", 0.0, "u"), (2, 30, 106, "x", 0.0, "d"),
            (3, 10, 107, "a", 7.0, "c"), (3, 20, 108, "a", 7.0, "d"),
        ]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    snap = {r.user_id: r for r in lakelog.read(spark, table).collect()}
    assert set(snap) == {1, 2}
    assert snap[1].value == 3.0 and snap[1].channel == "c"
    assert snap[2].value == 2.0
    feed = sorted(
        (r._change_type, r.user_id, r.value)
        for r in lakelog.read_row_changes(spark, table, 1, 2).collect()
    )
    assert feed == [("update_postimage", 1, 3.0), ("update_preimage", 1, 1.0)]


def test_merge_apply_cdc_broadcasts_batch_keys(spark, tmp_path, monkeypatch):
    """The snapshot meets the batch only through joins against the
    broadcast batch keys: a batch built from local rows carries no size
    statistics, and a shuffled join would move the whole snapshot."""
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table, _cdc(spark, [(1, 10, 100, "a", 1.0, "c")]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    plans = []
    real_commit = lakelog.commit

    def spying_commit(tbl, df, op, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_commit(tbl, df, op, **kw)

    monkeypatch.setattr(lakelog, "commit", spying_commit)
    lakelog.merge_apply_cdc(
        spark, table, _cdc(spark, [(1, 20, 101, "b", 2.0, "u")]),
        ["user_id"], "ts", tiebreak="event_id",
    )
    (plan,) = plans
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
