from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.operators.table import latest_per_key
from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table
from kafka_cdc_elasticsearch_pipeline_spark.streaming.duality import (
    streaming_latest_per_key,
    streaming_tumbling_agg,
)
from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
    cleanup,
    replay_stream,
    run_to_memory,
)


def test_stream_table_duality_latest_per_key(spark, sf_dir):
    """The streaming TABLE converges to the batch TABLE (SURVEY §7's
    'genuinely non-trivial semantic')."""
    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=4)
    try:
        latest = streaming_latest_per_key(stream, ["user_id"], "ts", tiebreak="event_id")
        run_to_memory(latest, "duality_latest", output_mode="complete")
        got = sorted(map(tuple, spark.table("duality_latest").collect()))
        want_df = latest_per_key(
            load_table(spark, sf_dir, "events"), ["user_id"], "ts", "event_id"
        )
        want = sorted(map(tuple, want_df.select(*spark.table("duality_latest").columns).collect()))
        assert got == want
    finally:
        cleanup(tmp)


def test_append_mode_emits_closed_windows_only(spark, sf_dir):
    """T6 — append mode + watermark: only windows older than the final
    watermark are emitted, and those match the batch aggregation."""
    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=4)
    try:
        agg = streaming_tumbling_agg(
            stream,
            "ts",
            "15 minutes",
            ["user_id"],
            [F.count(F.lit(1)).alias("n")],
            watermark="24 hours",
        )
        run_to_memory(agg, "append_windows", output_mode="append")
        emitted = spark.table("append_windows")
        ev = load_table(spark, sf_dir, "events")
        batch = (
            ev.groupBy(F.window("ts", "15 minutes").start.alias("window_start"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        n_emitted = emitted.count()
        assert 0 < n_emitted < batch.count()  # closed subset, not everything
        # every emitted row agrees with the batch result
        mismatched = emitted.join(batch, ["window_start", "user_id", "n"], "left_anti")
        assert mismatched.count() == 0
    finally:
        cleanup(tmp)


def test_replay_is_multi_batch(spark, sf_dir):
    """The replay source must deliver several micro-batches, or the
    stateful-streaming tests prove nothing."""
    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=4)
    try:
        counts = stream.groupBy().count()
        q = (
            counts.writeStream.format("memory")
            .queryName("replay_batches")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(q.recentProgress) >= 4
    finally:
        cleanup(tmp)


def test_stateful_user_profile_converges_to_batch(spark, sf_dir):
    """applyInPandasWithState profile operator: final state after the
    multi-batch replay equals the batch aggregation of the same data."""
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.stateful import (
        finalize_profiles,
        user_profile_stream,
    )

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=4)
    try:
        updates = user_profile_stream(stream)
        q = (
            updates.writeStream.format("memory")
            .queryName("profile_updates")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r.user_id: r
            for r in finalize_profiles(spark.table("profile_updates")).collect()
        }
        ev = load_table(spark, sf_dir, "events")
        want = {
            r.user_id: r
            for r in ev.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor("value").cast("long")).alias("total_units"),
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for uid, w in want.items():
            g = got[uid]
            assert (g.n_events, g.total_units, g.last_ts) == (
                w.n_events,
                w.total_units,
                w.last_ts,
            )
        # updates log shows incremental emission (more rows than keys)
        assert spark.table("profile_updates").count() > len(want)
    finally:
        cleanup(tmp)


def test_checkpoint_recovery_kill_restart(spark, sf_dir):
    """R2 durability hard signal: a stateful StreamingQuery is
    ``stop()``-killed mid-flight (files still unprocessed), a fresh
    query restarts from the same checkpointLocation, and the compacted
    update log equals the batch aggregation — which requires BOTH
    offset resume (committed files not re-read) and state-store
    recovery (per-user counts keep accumulating, not restart at 0)."""
    import os
    import time

    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.streaming.recovery import (
        last_update_per_key,
        log_sink,
        open_stream,
        reveal,
        stage_replay_files,
    )

    tmp, parts, schema = stage_replay_files(
        spark, sf_dir, "events", chunks=8, order_col="ts"
    )
    try:
        ckpt = os.path.join(tmp, "ckpt")
        log_dir = os.path.join(tmp, "log")
        reveal(tmp, parts)  # all 8 files visible from the start

        def agg(stream):
            return stream.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor("value").cast("long")).alias("units"),
            )

        # Phase 1: unthrottled trigger, killed mid-replay. The sink
        # sleeps per batch so the kill reliably lands with files left.
        q1 = (
            agg(open_stream(spark, tmp, schema))
            .writeStream.foreachBatch(log_sink(log_dir, per_batch_sleep=0.3))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            p = q1.lastProgress
            if p and p["batchId"] >= 2:
                break
            time.sleep(0.02)
        q1.stop()
        q1.awaitTermination()
        done_before = {
            int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()
        }
        assert len(done_before) >= 2, "kill landed before any state was committed"
        assert len(done_before) < len(parts), "query finished before the kill - no resume to test"

        # Phase 2: restart from the same checkpoint, run to completion.
        q2 = (
            agg(open_stream(spark, tmp, schema))
            .writeStream.foreachBatch(log_sink(log_dir))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        resumed_rows = sum(int(p["numInputRows"]) for p in q2.recentProgress)
        ev = load_table(spark, sf_dir, "events")
        total = ev.count()
        assert 0 < resumed_rows < total, "restart reprocessed everything (or nothing)"

        got = {
            r.user_id: (r.n, r.units)
            for r in last_update_per_key(
                spark.read.parquet(log_dir), ["user_id"]
            ).collect()
        }
        want = {
            r.user_id: (r.n, r.units)
            for r in agg(ev).collect()
        }
        assert got == want
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_checkpoint_recovery_rocksdb_state_store(spark, sf_dir):
    """The engine's docs claim RocksDB-provider state at scale (the
    ksqlDB-table twin); prove the claim: the kill/restart recovery flow
    runs under the production RocksDBStateStoreProvider and converges
    to the batch answer, with RocksDB artifacts actually present in
    the checkpoint."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.streaming.recovery import (
        last_update_per_key,
        log_sink,
        open_stream,
        reveal,
        stage_replay_files,
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(provider_key, None)
    tmp, parts, schema = stage_replay_files(
        spark, sf_dir, "events", chunks=6, order_col="ts"
    )
    try:
        spark.conf.set(provider_key, rocksdb)
        ckpt = os.path.join(tmp, "ckpt")
        log_dir = os.path.join(tmp, "log")

        def agg(stream):
            return stream.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor("value").cast("long")).alias("units"),
            )

        for upto in (3, 6):  # run 1 dies caught-up at 3; run 2 resumes
            reveal(tmp, parts[:upto])
            q = (
                agg(open_stream(spark, tmp, schema))
                .writeStream.foreachBatch(log_sink(log_dir))
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # RocksDB leaves .zip snapshots / .changelog files, not the
        # HDFS provider's .delta files
        rocks_files = _glob.glob(os.path.join(ckpt, "state", "**", "*.zip"), recursive=True)
        assert rocks_files, "no RocksDB artifacts in the checkpoint state dir"
        got = {
            r.user_id: (r.n, r.units)
            for r in last_update_per_key(
                spark.read.parquet(log_dir), ["user_id"]
            ).collect()
        }
        ev = load_table(spark, sf_dir, "events")
        want = {r.user_id: (r.n, r.units) for r in agg(ev).collect()}
        assert got == want
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)


def test_stream_stream_interval_join_across_batches(spark, tmp_path):
    """Cross-micro-batch matches must survive: left row buffered in
    batch k matches a right row arriving in batch k+1."""
    import os as _os
    import time as _time

    from kafka_cdc_elasticsearch_pipeline_spark.streaming.join import interval_join

    data_dir = str(tmp_path / "data")
    _os.makedirs(data_dir)
    rows_b0 = [(100, 1, "2024-01-01 10:00:00", "view")]
    rows_b1 = [(101, 1, "2024-01-01 10:20:00", "purchase"),
               (102, 2, "2024-01-01 10:20:00", "purchase")]  # no matching view
    schema = "event_id long, user_id long, ts string, event_type string"
    for i, rows in enumerate([rows_b0, rows_b1]):
        df = spark.createDataFrame(rows, schema).select(
            "event_id", "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type"
        )
        path = f"{data_dir}/b{i}.parquet"
        df.coalesce(1).write.mode("overwrite").parquet(path)
    # one file per batch, mtime-ordered
    files = []
    for i in (0, 1):
        d = f"{data_dir}/b{i}.parquet"
        (part,) = [f for f in _os.listdir(d) if f.endswith(".parquet")]
        dst = f"{data_dir}/f{i}.parquet"
        _os.rename(f"{d}/{part}", dst)
        _os.utime(dst, (_time.time() - 10 + i, _time.time() - 10 + i))
        files.append(dst)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp_ntz, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    joined = interval_join(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "purchase"),
        "user_id",
        within="30 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_unit")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("ssj_unit").collect()
    assert [(r.left_id, r.right_id, r.user_id) for r in got] == [(100, 101, 1)]
    assert got[0].lag_us == 20 * 60 * 1_000_000


def test_image_dedup_index_ttl_bounds_state_and_reenters(spark, sf_dir):
    """The BOUNDED streaming image dedup index: with event time =
    (doc_id+1) hours and a 30-minute TTL, every fingerprint idles past
    its TTL before the run ends, so (a) the final state store holds
    only the not-yet-evicted tail — a fraction of all distinct
    fingerprints — and (b) each planted near-dup pair (adjacent
    doc_ids, 1 h apart > TTL) visibly SPLITS: its final index row is
    the LATER doc re-entering as a fresh keeper with count 1."""
    import tempfile

    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import multimodal as mm
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
        cleanup,
        replay_stream,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.stateful import (
        finalize_image_index,
        image_index_ttl_stream,
    )

    stream, tmp = replay_stream(
        spark, sf_dir, "documents", chunks=6, order_col="doc_id"
    )
    try:
        hashes = mm.image_ahash(mm.attach_texture_png_payload(stream)).select(
            "doc_id",
            "ahash",
            ((F.col("doc_id") + 1) * F.lit(3_600_000_000)).alias("ts_us"),
        )
        updates = image_index_ttl_stream(hashes, ttl="30 minutes")
        ckpt = tempfile.mkdtemp(prefix="ckpt_imgidx_ttl_")
        q = (
            updates.writeStream.format("memory")
            .queryName("imgidx_ttl_state")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        final = finalize_image_index(spark.table("imgidx_ttl_state"))
        rows = {r.keeper_doc_id: r.n_copies for r in final.collect()}
        n_distinct = len(rows)
        # state bound: only the final micro-batch's fingerprints (~1/6
        # of the corpus) can still hold state — never the whole corpus
        assert 0 < state_rows < n_distinct // 2, (state_rows, n_distinct)
        # re-entry: every planted pair's keeper is the LATER doc with
        # a restarted count (the earlier member's session was evicted)
        pair_later = [d for d in rows if d % 50 == 1]
        assert pair_later, "no planted pairs in fixture"
        assert all(rows[d] == 1 for d in pair_later)
        # and the earlier members are NOT keepers of any final row
        assert all(d - 1 not in rows for d in pair_later)
    finally:
        cleanup(tmp)


def test_watermark_late_eviction_drops_stragglers(spark):
    """T6 hard signal, row-level: events arriving beyond the watermark
    are ABSENT from the windowed state — a late-only window never
    materializes, and a mixed window's count excludes the late
    increment (not merely 'totals happen to match')."""
    import datetime
    import os

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.streaming.duality import (
        streaming_tumbling_agg,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.recovery import (
        last_update_per_key,
        open_stream,
        reveal,
        run_until_caught_up,
        stage_frames,
    )

    def ev(i, hh, mm, user=1):
        return Row(
            event_id=i,
            ts=datetime.datetime(2024, 3, 1, hh, mm),
            user_id=user,
            value=1.0,
        )

    # On-time flow: 10:00-12:00 (watermark ends at 12:00 - 30min = 11:30)
    on_time = spark.createDataFrame(
        [ev(1, 10, 0), ev(2, 10, 5), ev(3, 11, 0), ev(4, 12, 0)]
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    # Stragglers, all with window end < 11:30: one lands in the mixed
    # 10:00 window (already has 2 on-time events), one in a window with
    # NO on-time events at all (08:00)
    late = spark.createDataFrame(
        [ev(100, 10, 7), ev(101, 8, 0)]
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    tmp, (head, tail), schema = stage_frames(
        [(on_time, 2, "ts"), (late, 1, "ts")], prefix="t6_unit"
    )
    try:
        ckpt = os.path.join(tmp, "ckpt")
        log_dir = os.path.join(tmp, "log")

        def agg(stream):
            return streaming_tumbling_agg(
                stream,
                "ts",
                "15 minutes",
                ["user_id"],
                [F.count(F.lit(1)).alias("n_events")],
                watermark="30 minutes",
            )

        reveal(tmp, head)
        run_until_caught_up(agg(open_stream(spark, tmp, schema)), ckpt, log_dir)
        reveal(tmp, tail)
        run_until_caught_up(agg(open_stream(spark, tmp, schema)), ckpt, log_dir)

        final = last_update_per_key(
            spark.read.parquet(log_dir), ["window_start", "user_id"]
        )
        rows = {
            r["window_start"].strftime("%H:%M"): r["n_events"]
            for r in final.collect()
        }
        # late-only window (08:00) never materialized
        assert "08:00" not in rows
        # mixed window keeps its on-time count only: 10:00 has events
        # 1,2 on time; the late event 100 (10:07) must NOT bump it to 3
        assert rows["10:00"] == 2
        assert rows["11:00"] == 1
        assert rows["12:00"] == 1
        assert set(rows) == {"10:00", "11:00", "12:00"}
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_latest_per_key_ttl_bounds_state(spark, sf_dir):
    """The TTL latest-per-key claim, observed in the state store: with
    user-DAY keys (keys go permanently cold once their day passes) and
    a 24 h TTL, the final state must hold only the recently-active tail
    of the key space — while the materialized table still equals the
    batch latest-per-key over ALL keys, including the thousands whose
    state was evicted (and sometimes re-created) along the way."""
    import tempfile

    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
        cleanup,
        replay_stream,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.stateful import (
        finalize_latest,
        latest_per_key_ttl_stream,
    )

    def with_user_day(df):
        return df.withColumn(
            "user_day", F.col("user_id") * 100 + F.dayofmonth("ts")
        )

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        batch = with_user_day(load_table(spark, sf_dir, "events"))
        n_keys = batch.select("user_day").distinct().count()
        updates = latest_per_key_ttl_stream(
            with_user_day(stream), ttl="24 hours", key_col="user_day"
        )
        ckpt = tempfile.mkdtemp(prefix="ckpt_latest_ttl_")
        q = (
            updates.writeStream.format("memory")
            .queryName("latest_ttl_state")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        # ~30 days of user-day keys, 24 h TTL: only the last ~2 days of
        # keys may still hold state at the end
        assert 0 < state_rows < n_keys // 4, (state_rows, n_keys)
        # correctness over ALL keys, evicted ones included
        final = finalize_latest(
            spark.table("latest_ttl_state")
        ).withColumnRenamed("user_id", "user_day")
        expect = (
            batch.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_day").orderBy(
                        F.col("ts").desc(), F.col("event_id").desc()
                    )
                ),
            )
            .filter("rn = 1")
            .select("user_day", "event_id")
        )
        got = final.select("user_day", "event_id")
        assert got.count() == n_keys
        assert expect.exceptAll(got).count() == 0
        assert got.exceptAll(expect).count() == 0
    finally:
        cleanup(tmp)


def test_latest_per_key_ttl_keeps_null_strings(spark, tmp_path):
    """A NULL event_type / props on the winning event stays NULL through
    the TTL fold's state and output — it must not become the string
    'None' — so the streamed table equals batch latest-per-key."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.stateful import (
        finalize_latest,
        latest_per_key_ttl_stream,
    )

    events = spark.createDataFrame(
        [(6, "2024-01-01 10:00:00", 1, "view", 0.5, "{}"),
         (7, "2024-01-01 10:30:00", 1, None, 1.5, None)],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    data_dir = str(tmp_path / "events")
    events.coalesce(1).write.parquet(data_dir)
    stream = spark.readStream.schema(events.schema).parquet(data_dir)
    run_to_memory(
        latest_per_key_ttl_stream(stream, ttl="2 hours"),
        "latest_ttl_nulls",
        output_mode="update",
    )
    cols = events.columns
    got = finalize_latest(spark.table("latest_ttl_nulls")).select(*cols).collect()
    want = latest_per_key(events, ["user_id"], "ts", "event_id").select(*cols).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got[0].event_type is None and got[0].props is None


def test_dedup_within_watermark_bounds_state(spark, sf_dir):
    """The bounded-state dedup claim, observed in the state store: a
    doubled replay deduped with dropDuplicatesWithinWatermark must (a)
    reproduce the clean table exactly and (b) finish holding only the
    keys still inside the watermark window — plain dropDuplicates
    holds every key ever seen."""
    import tempfile

    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
        cleanup,
        replay_stream,
    )

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        total = load_table(spark, sf_dir, "events").count()
        doubled = stream.unionByName(stream)
        deduped = (
            doubled.withColumn("_evt", F.col("ts").cast("timestamp"))
            .withWatermark("_evt", "24 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        ckpt = tempfile.mkdtemp(prefix="ckpt_dedup_wm_")
        q = (
            deduped.select("event_id").writeStream.format("memory")
            .queryName("dedup_wm_state")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.lastProgress
        state_rows = progress["stateOperators"][0]["numRowsTotal"]
        out = spark.table("dedup_wm_state")
        assert out.count() == total  # every duplicate suppressed
        assert out.select("event_id").distinct().count() == total
        # the events span ~30 days; a 24 h watermark must have evicted
        # the overwhelming majority of key state by the final batch
        assert 0 < state_rows < total // 2, state_rows
    finally:
        cleanup(tmp)


def test_state_schema_evolution_v2_resumes_exactly(spark, sf_dir):
    """The `t_state_schema_evolution_tws_v2` row (now the profile
    operator's plain kill/restart: state-schema evolution left with the
    v2 stateful API) must resume exactly — the final compacted table
    equals the batch fold."""
    from kafka_cdc_elasticsearch_pipeline_spark.queries import QUERIES
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    got = (
        QUERIES["t_state_schema_evolution_tws_v2"]
        .spark(spark, sf_dir)
        .orderBy("user_id")
        .collect()
    )
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor("value").cast("long")).alias("total_units"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = (
        events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "ts", "value")
    )
    want = (
        agg.join(last, "user_id")
        .select(
            "user_id", "n_events", "total_units",
            F.date_format(
                F.col("ts").cast("timestamp_ntz"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("last_ts"),
            F.round("value", 2).cast("decimal(18,2)").cast("string")
            .alias("last_value"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert len(got) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_liststate_recent_events_matches_batch_topk(spark, sf_dir):
    """The streaming per-user top-3 recent events (state = flattened
    ranked (ts, event_id) pairs) must equal the batch top-3 by
    (ts, event_id) DESC after max_by compaction on the monotone
    flattened sort key."""
    from kafka_cdc_elasticsearch_pipeline_spark.queries import QUERIES
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    # the gate row string-joins its list for the driver canonicalizer
    # (registry.py determinism rules) — split it back for the compare
    got = {
        r.user_id: [int(x) for x in r.recent_event_ids.split(",")]
        for r in QUERIES["stateful_recent_events_tws_v2"]
        .spark(spark, sf_dir)
        .collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        r.user_id: list(r.ids)
        for r in load_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .groupBy("user_id")
        .agg(F.collect_list(F.struct("rn", "event_id")).alias("s"))
        .select(
            "user_id",
            F.expr("transform(array_sort(s), x -> x.event_id)").alias("ids"),
        )
        .collect()
    }
    assert len(got) > 0
    assert got == want


# --- the enrich join of the streaming DAG against a stored CUSTOMERS ---


def _customers_changelog(spark, first: int, n: int, path: str) -> None:
    """CUSTOMERS changelog rows for ids [first, first + n), each id
    written twice (a create, then an update that wins), appended as
    parquet files to ``path``."""
    ids = spark.range(first, first + n)
    rows = ids.crossJoin(spark.range(2).withColumnRenamed("id", "v")).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("First"), F.col("id")).alias("first_name"),
        F.concat(F.lit("Last"), F.col("id"), F.lit("v"), F.col("v")).alias("last_name"),
        F.concat(F.lit("u"), F.col("id"), F.lit("@example.com")).alias("email"),
        F.lit("F").alias("gender"),
        F.element_at(
            F.array(*[F.lit(s) for s in ("bronze", "silver", "gold", "platinum")]),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("club_status"),
        F.lit("seed").alias("comments"),
        F.lit("2020-01-01 00:00:00").cast("timestamp").alias("create_ts"),
        (F.lit("2020-01-01 00:00:00").cast("timestamp") + F.expr("make_interval(0, 0, 0, 0, 0, 0, v)"))
        .alias("update_ts"),
        (F.col("id") * 2 + F.col("v")).alias("op_seq"),
    )
    rows.write.mode("append").parquet(path)


def _ratings_stream(spark, tmp_path, n: int, users: int):
    """One parquet file of ``n`` ratings for user ids 1..users, and a
    file stream over its directory."""
    from kafka_cdc_elasticsearch_pipeline_spark.sources.datagen import ratings_batch

    batch = ratings_batch(spark, n).withColumn(
        "user_id", (F.col("rating_id") * 7 % users + 1).cast("int")
    )
    src = str(tmp_path / "ratings")
    batch.coalesce(1).write.parquet(src)
    return batch, spark.readStream.schema(batch.schema).parquet(src)


def _one_batch(df, tmp_path, name: str):
    """Run ``df`` for one availableNow micro-batch; return the rows it
    delivered and the executed plan of the batch."""
    got = []
    q = (
        df.writeStream.queryName(name)
        .foreachBatch(lambda b, _: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return got, q._jsq.explainInternal(False)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_enrich_micro_batch_reads_stored_customers(spark, tmp_path):
    """TABLE CUSTOMERS is built once, with the DAG: a micro-batch of
    ratings_with_customer_data scans no CUSTOMERS file, reduces
    nothing on the table side, and broadcasts the micro-batch
    against the stored table."""
    from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline

    cust_dir = str(tmp_path / "customers")
    _customers_changelog(spark, 1, 2000, cust_dir)
    customers = spark.read.parquet(cust_dir)
    batch, stream = _ratings_stream(spark, tmp_path, 60, 2100)
    before = _n_persistent(spark)
    dag = ratings_pipeline(stream, customers)
    stored = _n_persistent(spark) - before

    got, plan = _one_batch(dag["ratings_with_customer_data"], tmp_path, "enrich_stored")

    truth = ratings_pipeline(batch, customers)["ratings_with_customer_data"].collect()
    assert sorted(got) == sorted(truth) and truth
    scans = [line for line in plan.splitlines() if "FileScan" in line]
    assert scans and not [s for s in scans if "first_name" in s], plan
    assert "Aggregate" not in plan, plan
    joins = [line for line in plan.splitlines() if "BroadcastHashJoin" in line]
    assert joins and all("Inner, BuildLeft" in j for j in joins), plan
    assert stored == 1


def test_enrich_micro_batch_ignores_customers_files_added_later(spark, tmp_path):
    """The semantics the stored table keeps: Spark lists a parquet path
    when the frame is read, so a CUSTOMERS file added after the DAG is
    built is never joined, stored table or not."""
    from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline

    cust_dir = str(tmp_path / "customers")
    _customers_changelog(spark, 1, 20, cust_dir)
    _, stream = _ratings_stream(spark, tmp_path, 80, 40)
    dag = ratings_pipeline(stream, spark.read.parquet(cust_dir))
    _customers_changelog(spark, 21, 20, cust_dir)

    got, _ = _one_batch(dag["ratings_with_customer_data"], tmp_path, "enrich_late_file")

    users = {r.user_id for r in got}
    assert users and users <= set(range(1, 21))


def _per_batch_plan(plan: str) -> None:
    """Today's per-micro-batch enrich plan: CUSTOMERS reduced and
    broadcast in the batch."""
    assert "Aggregate" in plan, plan
    joins = [line for line in plan.splitlines() if "BroadcastHashJoin" in line]
    assert joins and all("BuildRight" in j for j in joins), plan


def test_enrich_keeps_per_batch_plan_for_a_replanned_table(spark, tmp_path):
    """A Python data source is planned anew in every micro-batch, so its
    answer may move: the join stores nothing and re-reads it per
    batch."""
    import datetime

    from pyspark.sql.datasource import DataSource, DataSourceReader

    from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline

    class Reader(DataSourceReader):
        def read(self, partition):
            ts = datetime.datetime(2020, 1, 1)
            for i in range(1, 21):
                yield (i, f"First{i}", f"Last{i}", f"u{i}@example.com", "F",
                       "platinum", "seed", ts, ts, i)

    class CustomersSource(DataSource):
        @classmethod
        def name(cls):
            return "test_customers_source"

        def schema(self):
            return (
                "id int, first_name string, last_name string, email string, "
                "gender string, club_status string, comments string, "
                "create_ts timestamp, update_ts timestamp, op_seq long"
            )

        def reader(self, schema):
            return Reader()

    spark.dataSource.register(CustomersSource)
    customers = spark.read.format("test_customers_source").load()
    batch, stream = _ratings_stream(spark, tmp_path, 40, 30)
    before = _n_persistent(spark)
    dag = ratings_pipeline(stream, customers)
    got, plan = _one_batch(dag["ratings_with_customer_data"], tmp_path, "enrich_pyds")

    assert _n_persistent(spark) == before
    truth = ratings_pipeline(batch, customers)["ratings_with_customer_data"].collect()
    assert sorted(got) == sorted(truth) and truth
    _per_batch_plan(plan)


def test_enrich_stores_nothing_with_pinning_disabled(spark, tmp_path, monkeypatch):
    """``SPARK_GRAFT_PIN_REUSED=0`` governs the stored table too: a
    fixed CUSTOMERS keeps the per-batch plan."""
    monkeypatch.setenv("SPARK_GRAFT_PIN_REUSED", "0")
    from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline

    cust_dir = str(tmp_path / "customers")
    _customers_changelog(spark, 1, 20, cust_dir)
    customers = spark.read.parquet(cust_dir)
    batch, stream = _ratings_stream(spark, tmp_path, 40, 30)
    before = _n_persistent(spark)
    dag = ratings_pipeline(stream, customers)
    got, plan = _one_batch(dag["ratings_with_customer_data"], tmp_path, "enrich_unpinned")

    assert _n_persistent(spark) == before
    truth = ratings_pipeline(batch, customers)["ratings_with_customer_data"].collect()
    assert sorted(got) == sorted(truth) and truth
    _per_batch_plan(plan)
