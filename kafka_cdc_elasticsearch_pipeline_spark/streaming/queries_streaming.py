"""Correctness-gate entries that run REAL StreamingQuery executions.

Each query replays the ``events`` table as ~8 micro-batches through
the file streaming source, runs the stateful streaming operator, and
returns the final materialization — which must hash-match the *batch*
DuckDB oracle. This is the stream/table duality check (SURVEY §5
golden check 2) wired into the driver's gate.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.registry import query
from kafka_cdc_elasticsearch_pipeline_spark.streaming.duality import (
    streaming_latest_per_key,
    streaming_tumbling_agg,
)
from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
    cleanup,
    replay_stream,
    run_to_memory,
)

_SEQ = itertools.count()

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

#: Batch latest-per-key TABLE over ``events`` — the oracle of every row
#: that materializes last-write-per-key by (ts, event_id).
LATEST_PER_KEY_ORACLE = f"""
    SELECT {', '.join(EVENT_COLS)}
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """

#: Batch per-user profile — the oracle of every row built on
#: ``stateful.user_profile_stream``.
PROFILE_ORACLE = """
    WITH agg AS (
      SELECT user_id, count(*) AS n_events,
             sum(CAST(floor(value) AS BIGINT))::BIGINT AS total_units
      FROM events GROUP BY user_id
    ),
    last AS (
      SELECT user_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
             round(value, 2)::DECIMAL(18,2)::VARCHAR AS last_value
      FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT a.user_id, a.n_events, a.total_units, l.last_ts, l.last_value
    FROM agg a JOIN last l ON a.user_id = l.user_id
    """


def _run(df: DataFrame, spark: SparkSession, base: str) -> DataFrame:
    name = f"{base}_{next(_SEQ)}"
    run_to_memory(df, name, output_mode="complete")
    return spark.table(name)


@query(
    "t1_t3_streaming_tumbling_counts",
    """
    SELECT time_bucket(INTERVAL 15 MINUTES, ts) AS window_start,
           user_id,
           count(*) AS ratings_count,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("T1", "T3", "T4", "T6", "streaming"),
)
def t1_t3_streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T3 — a real streaming tumbling-window aggregation: events
    replayed as ~8 micro-batches (earliest-offset order, R2), stateful
    window state updated per batch, final state returned. Must equal
    the batch/oracle result exactly — Structured Streaming's unified
    semantics, demonstrated rather than asserted."""
    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        agg = streaming_tumbling_agg(
            stream,
            "ts",
            "15 minutes",
            ["user_id"],
            [
                F.count(F.lit(1)).alias("ratings_count"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                    "total_value"
                ),
            ],
        )
        return _run(agg, spark, "strm_tumbling")
    finally:
        cleanup(tmp)


@query(
    "t5_streaming_table_latest_per_key",
    LATEST_PER_KEY_ORACLE,
    tags=("T5", "S2", "streaming"),
)
def t5_streaming_table_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — stream/table duality, streaming side: the TABLE view of the
    events changelog built as stateful last-write-per-key aggregation
    (one state row per key ≙ ksqlDB's RocksDB table). Shares its oracle
    with the batch `s2_a3_table_latest_per_key` — stream and batch
    must converge to the same table."""
    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        latest = streaming_latest_per_key(stream, ["user_id"], "ts", tiebreak="event_id")
        return _run(latest.select(*EVENT_COLS), spark, "strm_latest")
    finally:
        cleanup(tmp)


@query(
    "t5_latest_per_key_ttl_tws_v2",
    LATEST_PER_KEY_ORACLE,
    tags=("T5", "streaming", "bounded-state", "ttl", "applyInPandasWithState"),
)
@query(
    "t5_latest_per_key_ttl_eviction",
    LATEST_PER_KEY_ORACLE,
    tags=("T5", "S2", "streaming", "bounded-state", "ttl"),
)
def t5_latest_per_key_ttl_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 latest-per-key with BOUNDED state (round-5 verdict #6): the
    same table as `t5_streaming_table_latest_per_key`, built by a
    custom applyInPandasWithState operator whose per-key state is
    EVICTED once the watermark passes the key's last event time + a
    2 h TTL. The events span ~30 days with per-user gaps mostly above
    2 h, so every user's state is dropped and re-created MANY times
    during the replay — and the final materialization must still
    hash-match the batch latest-per-key oracle, proving evicted keys
    re-enter without losing or resurrecting updates. The unbounded
    variant holds one state row per key ever seen (state-store death
    at 100 TB of user ids); this is the form that survives.
    State-size bound is pinned in tests/test_streaming.py
    (numRowsTotal over user-day keys).

    Also registered as `t5_latest_per_key_ttl_tws_v2`, the name of its
    former twin on Spark 4's v2 stateful API."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.stateful import (
        finalize_latest,
        latest_per_key_ttl_stream,
    )

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        updates = latest_per_key_ttl_stream(stream, ttl="2 hours")
        name = f"strm_latest_ttl_{next(_SEQ)}"
        run_to_memory(updates, name, output_mode="update")
        return finalize_latest(spark.table(name)).select(*EVENT_COLS)
    finally:
        cleanup(tmp)


@query(
    "stateful_user_profile_tws_v2",
    PROFILE_ORACLE,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
@query(
    "stateful_user_profile_apply_in_pandas",
    PROFILE_ORACLE,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def stateful_user_profile_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    profile state maintained across ~8 replayed micro-batches, update
    log reduced to final state — which must hash-match the batch
    oracle. The pattern for semantics beyond built-in aggregations
    (profiles, CDC merge rules, custom eviction).

    Also registered as `stateful_user_profile_tws_v2`, the name of its
    former twin on Spark 4's v2 stateful API."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.stateful import (
        finalize_profiles,
        user_profile_stream,
    )

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        updates = user_profile_stream(stream)
        name = f"strm_profile_{next(_SEQ)}"
        run_to_memory(updates, name, output_mode="update")
        return finalize_profiles(spark.table(name))
    finally:
        cleanup(tmp)


@query(
    "stateful_event_type_counts_tws_v2",
    """
    SELECT user_id, event_type, count(*)::BIGINT AS n_events
    FROM events GROUP BY user_id, event_type
    """,
    tags=("streaming", "stateful", "groupBy"),
)
def stateful_event_type_counts_tws_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event type) running counts across ~8 replayed
    micro-batches — the state shape ksqlDB gives a `GROUP BY user_id,
    event_type` table. Needs no custom state: the built-in streaming
    aggregation keeps one count per key pair, and the final table must
    equal the batch GROUP BY. (The name is kept from the row's former
    v2-stateful-API MapState implementation.)"""
    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        counts = stream.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events")
        )
        return _run(counts, spark, "strm_etype")
    finally:
        cleanup(tmp)


@query(
    "stateful_recent_events_tws_v2",
    """
    SELECT user_id,
           array_to_string(
             (list(event_id ORDER BY ts DESC, event_id DESC))[1:3], ','
           ) AS recent_event_ids
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def stateful_recent_events_tws_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top-3 recent event ids by (ts, event_id), folded by
    ``stateful.recent_events_stream`` (applyInPandasWithState, state =
    the flattened ranked (ts, eid) pairs). Update-log compaction is
    max_by on that flattened key — lexicographically monotone as
    events arrive — and the final table must equal the batch top-3, so
    a dropped event or a stale state read flips the hash. (The name is
    kept from the row's former v2-stateful-API ListState
    implementation.)"""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.stateful import (
        recent_events_stream,
    )

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        updates = recent_events_stream(stream)
        name = f"strm_recent_{next(_SEQ)}"
        run_to_memory(updates, name, output_mode="update")
        return (
            spark.table(name)
            .groupBy("user_id")
            .agg(
                # String-join the array for the driver canonicalizer
                # (pandas sort_values dies on list cells) — same
                # discipline as a1_a2 / f_array_functions_per_user.
                F.array_join(
                    F.max_by("recent_event_ids", "recent_sort_key").cast(
                        "array<string>"
                    ),
                    ",",
                ).alias("recent_event_ids")
            )
        )
    finally:
        cleanup(tmp)


@query(
    "stream_stream_interval_join_attribution",
    """
    SELECT a.event_id AS left_id, b.event_id AS right_id, a.user_id AS user_id,
           a.ts AS left_ts, b.ts AS right_ts,
           epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTES
    """,
    tags=("streaming", "J", "stream-stream"),
)
def stream_stream_interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream interval join (view→purchase attribution within
    30 min): BOTH sides are the live replayed stream, state bounded by
    watermark + range condition. Beyond the reference's stream–table
    join — the remaining Structured Streaming join capability,
    oracle-checked against the batch range join."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.join import interval_join

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        views = stream.filter(F.col("event_type") == "view")
        purchases = stream.filter(F.col("event_type") == "purchase")
        # Watermark must exceed the max event-time span of a replay
        # micro-batch (~30 h here: ~10 days / 8 chunks), or the head of
        # batch k+1 is "late" vs batch k's watermark and gets dropped —
        # the classic pitfall when replaying history faster than
        # real time.
        joined = interval_join(
            views, purchases, "user_id", within="30 minutes", watermark="72 hours"
        )
        name = f"strm_ssj_{next(_SEQ)}"
        run_to_memory(joined, name, output_mode="append")
        return spark.table(name)
    finally:
        cleanup(tmp)


@query(
    "stream_stream_interval_left_join_funnel_drop",
    """
    SELECT a.event_id AS left_id, b.event_id AS right_id, a.user_id AS user_id,
           a.ts AS left_ts, b.ts AS right_ts,
           epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
    FROM (SELECT * FROM events
          WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-25 00:00:00') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTES
    """,
    tags=("streaming", "J", "stream-stream", "outer"),
)
def stream_stream_interval_left_join_funnel_drop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream–stream LEFT OUTER interval join (funnel drop: views that
    never converted within 30 min surface with a NULL purchase). The
    semantic under test is OUTER-ROW RELEASE: a NULL row may only be
    emitted once the watermark proves no match can still arrive — the
    state store evicts the left row and releases it. The view side is
    bounded to ts < Jan 25 (well inside the final watermark of
    ~Jan 28 given the 72 h grace), so by stream end every view is
    either matched (emitted on arrival of the match) or evicted (NULL
    row emitted) — making the full outer result deterministic and
    batch-oracle-checkable. Views nearer the head than
    watermark+30 min would still be pending, which is why the bound
    exists — that pendingness is the guarantee, not a defect."""
    import shutil

    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.join import (
        interval_left_join,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.recovery import (
        open_stream,
        reveal,
        stage_frames,
    )

    events = load_table(spark, sf_dir, "events")
    # Watermark-flush sentinels, delivered as the two final
    # micro-batches. Three subtleties they solve: (1) the view side is
    # time-bounded to Jan 25, and watermarks are computed per-side
    # AFTER filters — so without a sentinel the LEFT watermark stalls
    # at Jan 25 − 72 h = Jan 22 (the global watermark is the MIN of
    # both sides) and the Jan 22-25 unmatched views are never
    # released; (2) a batch evicts with the watermark computed at the
    # END of the PREVIOUS batch, so the first sentinel's advance only
    # takes effect in a batch after it — hence the second sentinel
    # batch; (3) they ride the VIEW side (pass that filter) and join
    # nothing (user_id −1). They need no output filter: their own
    # event time (Jan 31) stays above the final watermark, so their
    # NULL rows are never released — and an explicit left_id filter
    # would be WORSE than unnecessary: predicates on the preserved
    # side of an outer join push down through it into the scan, which
    # would eliminate the sentinels before the watermark operator ever
    # saw them (found the hard way).
    def _sentinel(eid: int):
        return events.limit(1).select(
            F.lit(eid).cast("long").alias("event_id"),
            F.lit("2024-01-31 00:00:00").cast("timestamp_ntz").alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )

    tmp, (data_parts, flush1, flush2), schema = stage_frames(
        [(events, 8, "ts"), (_sentinel(-1), 1, None), (_sentinel(-2), 1, None)],
        prefix="ssloj",
    )
    try:
        reveal(tmp, data_parts)
        reveal(tmp, flush1)
        reveal(tmp, flush2)
        stream = open_stream(spark, tmp, schema)
        views = stream.filter(
            (F.col("event_type") == "view")
            & (
                (F.col("ts") < F.lit("2024-01-25 00:00:00").cast("timestamp_ntz"))
                | (F.col("event_id") < 0)
            )
        )
        purchases = stream.filter(F.col("event_type") == "purchase")
        joined = interval_left_join(
            views, purchases, "user_id", within="30 minutes", watermark="72 hours"
        )
        name = f"strm_ssloj_{next(_SEQ)}"
        run_to_memory(joined, name, output_mode="append")
        return spark.table(name)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "streaming_dedup_at_least_once",
    f"""
    SELECT {', '.join(EVENT_COLS)} FROM events
    """,
    tags=("streaming", "dedup", "exactly-once"),
)
def streaming_dedup_at_least_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once from at-least-once: the replayed stream is unioned
    with itself (every event delivered twice — Kafka redelivery twin)
    and ``dropDuplicates`` on the event id reduces it back; the result
    must equal the clean batch table. Keyed state per id — with a
    watermark this is ``dropDuplicatesWithinWatermark`` and the state
    is bounded; the ES sink's doc-id idempotence (key.ignore=false) is
    the sink-side half of the same guarantee."""
    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        doubled = stream.unionByName(stream)
        deduped = doubled.dropDuplicates(["event_id"])
        name = f"strm_dedup_{next(_SEQ)}"
        run_to_memory(deduped.select(*EVENT_COLS), name, output_mode="append")
        return spark.table(name)
    finally:
        cleanup(tmp)


@query(
    "streaming_dedup_within_watermark",
    f"""
    SELECT {', '.join(EVENT_COLS)} FROM events
    """,
    tags=("streaming", "dedup", "T6", "exactly-once", "bounded-state"),
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED-STATE form of exactly-once dedup: the doubled
    replay stream deduped with ``dropDuplicatesWithinWatermark`` —
    unlike the plain ``dropDuplicates`` row (whose key state grows
    forever), the watermark evicts each key once event time passes
    it, so state size follows the redelivery window, not the topic's
    lifetime. That is the only form that survives at 100 TB: Kafka
    redelivers within seconds-to-minutes, so a 72 h window bounds
    state at (events within 72 h), while results still equal the
    clean batch table because every duplicate here arrives within the
    window. Complements `t6_watermark_late_eviction` (T6 eviction of
    late DATA) with T6 eviction of dedup STATE."""
    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        doubled = stream.unionByName(stream)
        # NTZ -> LTZ cast as in streaming_tumbling_agg (instant-
        # preserving under the loader's pinned UTC session tz)
        deduped = (
            doubled.withColumn("_evt", F.col("ts").cast("timestamp"))
            .withWatermark("_evt", "72 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        name = f"strm_dedup_wm_{next(_SEQ)}"
        run_to_memory(deduped.select(*EVENT_COLS), name, output_mode="append")
        return spark.table(name)
    finally:
        cleanup(tmp)


@query(
    "t2_streaming_pull_query",
    """
    SELECT * FROM (
      SELECT time_bucket(INTERVAL 15 MINUTES, ts) AS window_start,
             user_id, count(*) AS ratings_count
      FROM events GROUP BY 1, 2
    )
    WHERE window_start >= TIMESTAMP '2024-01-20 00:00:00' AND user_id = 5
    """,
    tags=("T2", "streaming"),
)
def t2_streaming_pull_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — pull query: run the push query to completion, then a
    point-in-time batch read of its materialization with WINDOWSTART
    range + key predicates (ksqldb-statements.sql:104-110)."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.push_pull import pull

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        agg = streaming_tumbling_agg(
            stream,
            "ts",
            "15 minutes",
            ["user_id"],
            [F.count(F.lit(1)).alias("ratings_count")],
        )
        name = f"strm_pull_{next(_SEQ)}"
        run_to_memory(agg, name, output_mode="complete")
        return pull(
            spark,
            name,
            F.col("window_start") >= F.lit("2024-01-20 00:00:00").cast("timestamp_ntz"),
            F.col("user_id") == 5,
        )
    finally:
        cleanup(tmp)


@query(
    "t7_streaming_session_window",
    """
    WITH o AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    i AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTES AS session_end,
           user_id,
           count(*) AS n_events
    FROM i GROUP BY user_id, sess
    """,
    tags=("T7", "streaming"),
)
def t7_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7, streaming side: the SAME session merge as the batch
    `t7_session_window_30m_gap` run as a stateful StreamingQuery —
    events replayed in ~8 micro-batches, per-key session state merged
    incrementally (sessions spanning batch boundaries must fuse), final
    state hash-matched against the batch gaps-and-islands oracle."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.windows import session_agg

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        sess = session_agg(
            stream,
            "ts",
            "30 minutes",
            ["user_id"],
            [F.count(F.lit(1)).alias("n_events")],
        )
        return _run(sess, spark, "strm_session")
    finally:
        cleanup(tmp)


@query(
    "ext_streaming_stratified_sample",
    """
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             ('0x' || substr(md5('samp_' || doc_id::VARCHAR), 1, 7))::BIGINT % 10000
               AS bucket
      FROM documents
    )
    WHERE bucket < CASE WHEN source = 'src0' THEN 1000
                        WHEN source = 'src1' THEN 2500
                        WHEN source = 'src2' THEN 5000
                        WHEN source = 'src3' THEN 7500
                        ELSE 9000 END
    """,
    tags=("ext", "sampling", "streaming"),
)
def ext_streaming_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling is streaming-safe by construction (pure
    function of the row, no state): the documents table replayed as ~6
    micro-batches through the SAME stratified filter must produce
    exactly the batch sample. This is the property that lets a 100 TB
    pipeline sample its backfill (batch) and its live tail (stream)
    with one code path and get one consistent corpus."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions.sampling import (
        stratified_sample,
    )

    stream, tmp = replay_stream(
        spark, sf_dir, "documents", chunks=6, order_col="doc_id"
    )
    try:
        sampled = stratified_sample(
            stream,
            "source",
            "doc_id",
            {"src0": 0.1, "src1": 0.25, "src2": 0.5, "src3": 0.75},
            default_rate=0.9,
        ).select("doc_id", "source")
        name = f"strm_sample_{next(_SEQ)}"
        run_to_memory(sampled, name, output_mode="append")
        return spark.table(name)
    finally:
        cleanup(tmp)


@query(
    "t7_streaming_hopping_window",
    """
    WITH fan AS (
      SELECT time_bucket(INTERVAL 15 MINUTES, ts) AS ws, user_id, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 15 MINUTES, ts) - INTERVAL 15 MINUTES AS ws,
             user_id, value
      FROM events
    )
    SELECT ws AS window_start, user_id, count(*) AS n_events
    FROM fan GROUP BY 1, 2
    """,
    tags=("T7", "streaming"),
)
def t7_streaming_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7, streaming side: 30-minute windows sliding by 15 as a
    stateful StreamingQuery — each event updates TWO window states per
    micro-batch (the in-aggregation fan-out), final state hash-matched
    to the batch UNION-ALL oracle."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.windows import hopping_agg

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        agg = hopping_agg(
            stream,
            "ts",
            "30 minutes",
            "15 minutes",
            ["user_id"],
            [F.count(F.lit(1)).alias("n_events")],
        )
        return _run(agg, spark, "strm_hopping")
    finally:
        cleanup(tmp)


@query(
    "t5_backfill_plus_tail_merge",
    LATEST_PER_KEY_ORACLE,
    tags=("T5", "R2", "streaming", "backfill"),
)
def t5_backfill_plus_tail_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The backfill-consistency property a CDC pipeline lives on: a
    BATCH pass over the history (events before the cutover) plus a
    STREAMING pass over the tail (events after it), merged with the
    same last-write-wins reduce, must equal the one-shot batch table
    over everything — latest(all) == latest(latest(head) ∪
    latest(tail)) because max_by is associative on the (ts, event_id)
    order. This is how a 100 TB deployment bootstraps: parquet backfill
    for history, the live topic from the cutover offset (R2), no
    lambda-architecture double bookkeeping."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.table import latest_per_key
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    cut = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    head = load_table(spark, sf_dir, "events").filter(F.col("ts") < cut)
    backfill = latest_per_key(head, ["user_id"], "ts", tiebreak="event_id")

    stream, tmp = replay_stream(spark, sf_dir, "events", chunks=8)
    try:
        tail = stream.filter(F.col("ts") >= cut)
        tail_latest = streaming_latest_per_key(
            tail, ["user_id"], "ts", tiebreak="event_id"
        )
        name = f"strm_tail_{next(_SEQ)}"
        run_to_memory(tail_latest, name, output_mode="complete")
        tail_tbl = spark.table(name).select(*EVENT_COLS)
    finally:
        cleanup(tmp)

    merged = latest_per_key(
        backfill.select(*EVENT_COLS).unionByName(tail_tbl),
        ["user_id"],
        "ts",
        tiebreak="event_id",
    )
    return merged.select(*EVENT_COLS)


@query(
    "t_checkpoint_recovery_resume",
    """
    SELECT time_bucket(INTERVAL 15 MINUTES, ts) AS window_start,
           user_id,
           count(*) AS ratings_count,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("T3", "T6", "R2", "streaming", "recovery"),
)
def t_checkpoint_recovery_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 + R2 — the reference's restart-and-resume contract
    (readme.md:497-503; offset replay ksqldb-statements.sql:49) as a
    hard signal: the tumbling-count query dies after 3 of 8 replay
    micro-batches, restarts from the same checkpointLocation while the
    tail arrived, and its compacted update log must hash-match the
    one-shot batch oracle. Windows split across the kill boundary are
    the detectors — they come out under-counted unless the restarted
    query reloads the state store AND skips the committed head files."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.recovery import kill_and_resume

    def agg(stream: DataFrame) -> DataFrame:
        return streaming_tumbling_agg(
            stream,
            "ts",
            "15 minutes",
            ["user_id"],
            [
                F.count(F.lit(1)).alias("ratings_count"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
                ).alias("total_value"),
            ],
        )

    return kill_and_resume(
        spark, sf_dir, "events", agg, ["window_start", "user_id"], chunks=8, kill_after=3
    )


@query(
    "t_checkpoint_recovery_latest_per_key",
    LATEST_PER_KEY_ORACLE,
    tags=("T5", "R2", "streaming", "recovery"),
)
def t_checkpoint_recovery_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 + R2 — latest-per-key TABLE state surviving a kill/restart.
    The replay is chunked round-robin (NOT event-time order), so a
    key's newest event often lands in the pre-kill head: if the
    restarted query lost its state, its post-restart updates would
    emit an *older* tail event as a later update, the last-update-wins
    compaction would keep that wrong row, and the hash check against
    the batch latest-per-key oracle would fail. Nearly every key is a
    detector."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.recovery import kill_and_resume

    def agg(stream: DataFrame) -> DataFrame:
        return streaming_latest_per_key(
            stream, ["user_id"], "ts", tiebreak="event_id"
        ).select(*EVENT_COLS)

    return kill_and_resume(
        spark,
        sf_dir,
        "events",
        agg,
        ["user_id"],
        chunks=8,
        kill_after=3,
        order_col=None,
    )


@query(
    "t_state_schema_evolution_tws_v2",
    PROFILE_ORACLE,
    tags=("streaming", "stateful", "applyInPandasWithState", "R2", "recovery"),
)
@query(
    "t_checkpoint_recovery_tws_v2",
    PROFILE_ORACLE,
    tags=("streaming", "stateful", "applyInPandasWithState", "R2", "recovery"),
)
@query(
    "t_checkpoint_recovery_stateful_profile",
    PROFILE_ORACLE,
    tags=("streaming", "stateful", "applyInPandasWithState", "R2", "recovery"),
)
def t_checkpoint_recovery_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator (applyInPandasWithState profiles)
    under the same kill/restart contract as T3/T5: die after 3 of 8
    replay micro-batches, restart from the checkpoint, and the
    compacted update log must hash-match the batch oracle. GroupState
    rows live in the same checkpoint-backed state store as built-in
    aggregations — this row proves the escape-hatch operator keeps the
    reference's restart-and-resume guarantee too. ``n_events`` /
    ``total_units`` are running accumulations, so EVERY key updated
    after the restart under-counts if state was lost.

    Also registered as `t_checkpoint_recovery_tws_v2` and
    `t_state_schema_evolution_tws_v2`, the names of two former rows on
    Spark 4's v2 stateful API. The second one restarted with a WIDENED
    state schema under Avro state encoding. State-schema evolution
    existed only on the v2 API and was removed with it: under this name
    the restart resumes the same state schema, so the row checks plain
    kill/restart recovery."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.recovery import kill_and_resume
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.stateful import (
        project_profile,
        user_profile_stream,
    )

    compacted = kill_and_resume(
        spark, sf_dir, "events", user_profile_stream, ["user_id"], chunks=8, kill_after=3
    )
    return project_profile(compacted)


@query(
    "t6_watermark_late_eviction",
    """
    SELECT time_bucket(INTERVAL 15 MINUTES, ts) AS window_start,
           user_id,
           count(*) AS n_events
    FROM events
    WHERE NOT (event_id % 13 = 0 AND ts < TIMESTAMP '2024-01-15 00:00:00')
    GROUP BY 1, 2
    """,
    tags=("T6", "streaming", "watermark", "late-data"),
)
def t6_watermark_late_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 — watermark late-data EVICTION as a hard signal (the last
    streaming semantic previously taken on faith). The reference
    inherits ksqlDB's grace period (SURVEY §2.9 T6: windows accept late
    events only within grace); Structured Streaming's knob is
    ``withWatermark``. Fixture: the on-time flow (events minus a
    marked straggler subset) replays first and advances the watermark
    to ~max(ts) − 2 h ≈ Jan 30; then the stragglers arrive — all with
    event times before Jan 15, weeks behind the watermark — in a
    second run restarted from the same checkpoint (watermark state is
    restored from the commit log, so the eviction decision also
    survives a restart). The stateful aggregation must DROP every
    straggler: the final compacted state hash-matches the batch oracle
    computed over the on-time rows ONLY. Under-eviction (late rows
    counted) or over-eviction (on-time rows dropped) both flip window
    counts and fail the hash."""
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.recovery import (
        last_update_per_key,
        open_stream,
        reveal,
        run_until_caught_up,
        stage_frames,
    )

    events = load_table(spark, sf_dir, "events")
    late_pred = (F.col("event_id") % 13 == 0) & (
        F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    )
    tmp, (ontime_parts, late_parts), schema = stage_frames(
        [(events.filter(~late_pred), 6, "ts"), (events.filter(late_pred), 1, "ts")],
        prefix="t6_late",
    )
    try:
        import os

        ckpt = os.path.join(tmp, "ckpt")
        log_dir = os.path.join(tmp, "log")

        def agg(stream: DataFrame) -> DataFrame:
            return streaming_tumbling_agg(
                stream,
                "ts",
                "15 minutes",
                ["user_id"],
                [F.count(F.lit(1)).alias("n_events")],
                watermark="2 hours",
            )

        reveal(tmp, ontime_parts)  # on-time flow; watermark → Jan 30 − 2 h
        run_until_caught_up(agg(open_stream(spark, tmp, schema)), ckpt, log_dir)
        reveal(tmp, late_parts)  # stragglers: ts < Jan 15 ≪ watermark
        run_until_caught_up(agg(open_stream(spark, tmp, schema)), ckpt, log_dir)
        final = last_update_per_key(
            spark.read.parquet(log_dir), ["window_start", "user_id"]
        )
        return final.localCheckpoint(eager=True)
    finally:
        cleanup(tmp)


@query(
    "lake_streaming_cdc_merge",
    LATEST_PER_KEY_ORACLE,
    tags=("T5", "S2", "R2", "lake", "streaming", "recovery"),
)
def lake_streaming_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production T5 deployment shape end-to-end: a StreamingQuery
    whose foreachBatch MERGEs each CDC micro-batch into a lake table
    (``lakelog.merge_apply_cdc``, upsert-only: no op column) —
    killed after 3 of 6 micro-batches and restarted from the same
    checkpoint. The final LAKE TABLE must equal the one-shot batch
    latest-per-key. Two guarantees fold together here: offset resume
    (committed batches not re-read) and merge idempotence (a replayed
    uncommitted batch re-MERGEs the same keys; last-write-wins by
    (ts, event_id) makes that a no-op), which is exactly how a 100 TB
    lakehouse absorbs at-least-once delivery."""
    import os
    import shutil

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.recovery import (
        open_stream,
        reveal,
        stage_replay_files,
    )

    tmp, parts, schema = stage_replay_files(
        spark, sf_dir, "events", chunks=6, order_col="ts"
    )
    try:
        ckpt = os.path.join(tmp, "ckpt")
        table = os.path.join(tmp, "lake_table")

        def sink(batch_df, batch_id):
            lakelog.merge_apply_cdc(
                spark, table, batch_df, keys=["user_id"], ts_col="ts",
                tiebreak="event_id",
            )

        def run() -> None:
            q = (
                open_stream(spark, tmp, schema)
                .writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        reveal(tmp, parts[:3])
        run()  # consumer dies caught-up mid-replay
        reveal(tmp, parts[3:])
        run()  # restart: resumes offsets, re-merges idempotently
        return (
            lakelog.read(spark, table)
            .select(*EVENT_COLS)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "lake_streaming_append_exactly_once",
    f"SELECT {', '.join(EVENT_COLS)} FROM events",
    tags=("T5", "S2", "R2", "lake", "txnlog", "streaming", "exactly-once"),
)
def lake_streaming_append_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming ingest into the transaction-log lake:
    an at-least-once stream (every micro-batch is deliberately
    DELIVERED TWICE, and the query is killed after 3 of 6 batches and
    restarted) appends through ``lakelog.txn_append_commit``, which
    records per-app batch watermarks in the SAME manifest link that
    commits the data — the dedup check and the append are one atomic
    filesystem operation, so "wrote the data but lost the marker" has
    no window to happen in. The final table must equal the full events
    table EXACTLY: without the idempotence the doubled deliveries
    would double every row and the value hash would explode. This is
    Delta's txnAppId/txnVersion contract rebuilt on the manifest log
    (the MERGE twin above absorbs redelivery via last-write-wins; this
    absorbs it for pure appends, where rewriting is not a no-op)."""
    import os
    import shutil

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.lake_sink import (
        lake_append_sink,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.recovery import (
        open_stream,
        reveal,
        stage_replay_files,
    )

    tmp, parts, schema = stage_replay_files(
        spark, sf_dir, "events", chunks=6, order_col="ts"
    )
    try:
        ckpt = os.path.join(tmp, "ckpt")
        table = os.path.join(tmp, "lake_table")
        once = lake_append_sink(spark, table, app_id="ingest")

        def sink(batch_df, batch_id):
            first = once(batch_df, batch_id)
            # simulated at-least-once upstream: the same batch arrives
            # again; the table itself must recognize and skip it
            second = once(batch_df, batch_id)
            assert first is not None and second is None

        def run() -> None:
            q = (
                open_stream(spark, tmp, schema)
                .writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        reveal(tmp, parts[:3])
        run()  # dies caught-up after 3 batches (6 deliveries)
        reveal(tmp, parts[3:])
        run()  # restart: offsets resume, doubled deliveries keep skipping
        assert lakelog.read_manifest(table, lakelog.latest_version(table))[
            "txns"
        ] == {"ingest": 5}
        return (
            lakelog.read(spark, table)
            .select(*EVENT_COLS)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "ext_streaming_media_decode",
    """
    SELECT doc_id,
           (8 + doc_id % 16)::INT AS width,
           (8 + (3 * doc_id) % 16)::INT AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'RGB' ELSE 'L' END AS mode,
           ((8 + doc_id % 16) * (8 + (3 * doc_id) % 16)
             * (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END)
             * (doc_id % 251))::BIGINT AS pixel_sum,
           'png-numpy' AS decoder
    FROM documents
    """,
    tags=("ext", "multimodal", "streaming"),
)
def ext_streaming_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode under Structured Streaming: the SAME Arrow
    ``mapInPandas`` build+decode chain as the batch PNG gate row
    (ext_multimodal_png_decode), fed by the documents table replayed
    as ~6 micro-batches. Decode is stateless, so streaming output ≡
    batch output row-for-row — the property that lets one decode
    fleet serve both the backfill scan and the live tail at 100 TB.
    Exercises mapInPandas inside a real StreamingQuery (Arrow batches
    per micro-batch, append mode, memory sink)."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import multimodal as mm

    stream, tmp = replay_stream(
        spark, sf_dir, "documents", chunks=6, order_col="doc_id"
    )
    try:
        decoded = mm.decode_png_stats(mm.attach_png_payload(stream))
        name = f"strm_media_{next(_SEQ)}"
        run_to_memory(decoded, name, output_mode="append")
        return spark.table(name)
    finally:
        cleanup(tmp)


@query(
    "ext_streaming_image_dedup_index",
    """
    WITH px AS (
      SELECT doc_id, p,
             ((seed % 239 + 1) * p * p + (seed % 251 + 3) * p + seed % 241
              + CASE WHEN doc_id % 50 = 1 AND (p = 0 OR p = 16)
                     THEN 128 ELSE 0 END) % 256 AS v
      FROM (
        SELECT d.doc_id, g.p,
               d.doc_id - CASE WHEN d.doc_id % 50 = 1 THEN 1 ELSE 0 END AS seed
        FROM documents d, generate_series(0, 255) AS g(p)
      )
    ),
    cells AS (
      SELECT doc_id, ((p // 16) // 2) * 8 + ((p % 16) // 2) AS cell,
             sum(v)::BIGINT AS cell_sum
      FROM px GROUP BY doc_id, ((p // 16) // 2) * 8 + ((p % 16) // 2)
    ),
    tot AS (SELECT doc_id, sum(cell_sum)::BIGINT AS img_sum FROM cells GROUP BY doc_id),
    hashes AS (
      SELECT c.doc_id,
             string_agg(CASE WHEN c.cell_sum * 64 > t.img_sum THEN '1' ELSE '0' END,
                        '' ORDER BY c.cell) AS ahash
      FROM cells c JOIN tot t USING (doc_id)
      GROUP BY c.doc_id
    )
    SELECT ahash, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
    FROM hashes GROUP BY ahash
    """,
    tags=("ext", "multimodal", "dedup", "streaming"),
)
def ext_streaming_image_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING image dedup: fingerprints from real PNG decode
    (stateless Arrow mapInPandas per micro-batch) feed a stateful
    per-hash aggregation — (ahash, min doc_id keeper, copy count) —
    i.e. the dedup INDEX a live ingest maintains so every new image
    joins against it instead of rescanning the corpus. min/count are
    associative, so the materialization is arrival-order-independent
    (unlike streaming dropDuplicates, whose within-batch winner is
    arbitrary) and must hash-match the batch oracle over the
    closed-form pixel function. State is one row per DISTINCT image —
    the bounded form (`ext_streaming_image_dedup_index_ttl`) adds a
    watermark TTL exactly like t5_latest_per_key_ttl_eviction."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import multimodal as mm

    stream, tmp = replay_stream(
        spark, sf_dir, "documents", chunks=6, order_col="doc_id"
    )
    try:
        hashes = mm.image_ahash(mm.attach_texture_png_payload(stream))
        index = hashes.groupBy("ahash").agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        return _run(index, spark, "strm_imgdedup")
    finally:
        cleanup(tmp)


@query(
    "ext_streaming_image_dedup_index_ttl",
    """
    WITH px AS (
      SELECT doc_id, p,
             ((seed % 239 + 1) * p * p + (seed % 251 + 3) * p + seed % 241
              + CASE WHEN doc_id % 50 = 1 AND (p = 0 OR p = 16)
                     THEN 128 ELSE 0 END) % 256 AS v
      FROM (
        SELECT d.doc_id, g.p,
               d.doc_id - CASE WHEN d.doc_id % 50 = 1 THEN 1 ELSE 0 END AS seed
        FROM documents d, generate_series(0, 255) AS g(p)
      )
    ),
    cells AS (
      SELECT doc_id, ((p // 16) // 2) * 8 + ((p % 16) // 2) AS cell,
             sum(v)::BIGINT AS cell_sum
      FROM px GROUP BY doc_id, ((p // 16) // 2) * 8 + ((p % 16) // 2)
    ),
    tot AS (SELECT doc_id, sum(cell_sum)::BIGINT AS img_sum FROM cells GROUP BY doc_id),
    hashes AS (
      SELECT c.doc_id,
             string_agg(CASE WHEN c.cell_sum * 64 > t.img_sum THEN '1' ELSE '0' END,
                        '' ORDER BY c.cell) AS ahash
      FROM cells c JOIN tot t USING (doc_id)
      GROUP BY c.doc_id
    ),
    ttls AS (SELECT unnest([30, 180]) AS ttl_min),
    marks AS (
      SELECT t.ttl_min, h.ahash, h.doc_id,
             CASE WHEN (h.doc_id - lag(h.doc_id) OVER (
                          PARTITION BY t.ttl_min, h.ahash ORDER BY h.doc_id
                        )) * 60 > t.ttl_min
                  THEN 1 ELSE 0 END AS new_sess
      FROM hashes h CROSS JOIN ttls t
    ),
    sess AS (
      SELECT ttl_min, ahash, doc_id,
             sum(new_sess) OVER (
               PARTITION BY ttl_min, ahash ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS sid
      FROM marks
    ),
    last AS (SELECT ttl_min, ahash, max(sid) AS msid FROM sess GROUP BY 1, 2)
    SELECT s.ttl_min::INT AS ttl_minutes, s.ahash,
           min(s.doc_id)::BIGINT AS keeper_doc_id, count(*)::BIGINT AS n_copies
    FROM sess s JOIN last l
      ON s.ttl_min = l.ttl_min AND s.ahash = l.ahash AND s.sid = l.msid
    GROUP BY s.ttl_min, s.ahash
    """,
    tags=("ext", "multimodal", "dedup", "streaming", "bounded-state", "ttl"),
)
def ext_streaming_image_dedup_index_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED form of the streaming image dedup index (round-6
    verdict #4): per-fingerprint state is evicted once the watermark
    passes its last sighting + TTL, and an evicted fingerprint
    re-enters as a fresh keeper — state follows the ACTIVE window, not
    every distinct image ever seen. Event time is doc_id hours (the
    replay is doc_id-ordered, so arrival is event-time-ordered) and
    the query runs BOTH a 30-minute and a 3-hour TTL: planted
    near-dup pairs are adjacent doc_ids (1 h apart), so the short TTL
    visibly SPLITS every pair into two sessions (keeper = the later
    doc, count 1) while the long TTL keeps them merged (keeper = the
    earlier doc, count 2) — eviction and re-entry are pinned in the
    value hash, not just state-size counters. The session-gap rule
    lives in the fold itself, so the result is micro-batch-
    independent; the oracle replays it as a gap-sessionization window.
    State-size bound asserted in tests/test_streaming.py
    (numRowsTotal <= distinct active fingerprints)."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import multimodal as mm
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.stateful import (
        finalize_image_index,
        image_index_ttl_stream,
    )

    out = None
    for ttl_min in (30, 180):
        stream, tmp = replay_stream(
            spark, sf_dir, "documents", chunks=6, order_col="doc_id"
        )
        try:
            hashes = mm.image_ahash(mm.attach_texture_png_payload(stream)).select(
                "doc_id",
                "ahash",
                # +1: doc 0 at exactly epoch 0 sits ON the initial
                # watermark and is dropped as late data; the oracle's
                # sessionization only sees GAPS, so the offset is free
                ((F.col("doc_id") + 1) * F.lit(3_600_000_000)).alias("ts_us"),
            )
            updates = image_index_ttl_stream(hashes, ttl=f"{ttl_min} minutes")
            name = f"strm_imgdedup_ttl_{next(_SEQ)}"
            run_to_memory(updates, name, output_mode="update")
            final = finalize_image_index(spark.table(name)).select(
                F.lit(ttl_min).cast("int").alias("ttl_minutes"),
                "ahash",
                "keeper_doc_id",
                "n_copies",
            )
            out = final if out is None else out.unionByName(final)
        finally:
            cleanup(tmp)
    return out
