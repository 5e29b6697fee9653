"""Core parity queries: one registry entry per reference operator
(SURVEY §2), expressed on the harness tables with the FIXTURES.md §B
role mapping — ``events`` plays the ``ratings`` stream (event_type ≙
channel, value ≙ stars, ts ≙ ROWTIME), ``customer`` plays the
Debezium-fed ``CUSTOMERS`` dimension (c_custkey ≙ customer_id,
c_mktsegment ≙ club_status).

The "live/test" split predicate uses ``'%err%'`` (the ``error`` event
type plays the reference's ``*test*`` channels — same LCASE/LIKE
shape, ksqldb-statements.sql:13-17).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.functions.scalar import (
    cast_int,
    cast_string,
    lcase,
    str_concat,
    timestamp_to_string,
)
from kafka_cdc_elasticsearch_pipeline_spark.operators.relational import (
    enrich_stream_table,
    point_lookup,
    rekey,
    split_streams,
    topk,
)
from kafka_cdc_elasticsearch_pipeline_spark.operators.table import latest_per_key
from kafka_cdc_elasticsearch_pipeline_spark.operators.windows import (
    collect_sorted,
    hopping_agg,
    session_agg,
    tumbling_agg,
)
from kafka_cdc_elasticsearch_pipeline_spark.registry import query
from kafka_cdc_elasticsearch_pipeline_spark.sources.cdc import (
    extract_key,
    unwrap_envelope,
    wrap_envelope,
)
from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
_EVENT_COLS_SQL = "event_id, ts, user_id, event_type, value, props"

# --- shared building blocks -------------------------------------------------


def _events(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    return load_table(spark, sf_dir, "events", spread=spread)


def _live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATINGS_LIVE twin: LCASE(channel) NOT LIKE pattern.

    spread=False: every consumer (the broadcast enrichment join, the
    windowed aggregations) either never shuffles the stream or brings
    its own hash exchange, with only the LIKE filter between scan and
    exchange — the parallelism round-robin re-shipped 100k rows for
    nothing (r15 A/B: j1 0.42s → 0.32s, a1_a2 0.67s → 0.51s)."""
    live, _ = split_streams(_events(spark, sf_dir, spread=False), "event_type", "%err%")
    return live


def _dec2(c: str):
    return F.col(c).cast("decimal(18,2)")


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATINGS_WITH_CUSTOMER_DATA twin (ksqldb-statements.sql:50-60):
    filter → latest-per-key dim → LEFT equi-join on CAST key →
    concat projection → IS NOT NULL."""
    live = _live(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    return enrich_stream_table(
        live,
        cust,
        live["user_id"].cast("string"),  # F3: CAST(R.USER_ID AS STRING)
        cust["c_custkey"].cast("string"),
        projection=[
            live["event_id"].alias("rating_id"),
            live["user_id"].alias("user_id"),
            live["value"].alias("stars"),
            live["event_type"].alias("channel"),
            live["ts"].alias("rating_ts"),
            cust["c_custkey"].alias("customer_id"),
            str_concat(cust["c_name"], F.lit(" "), cust["c_mktsegment"]).alias("full_name"),
            cust["c_mktsegment"].alias("club_status"),
            cust["c_acctbal"].alias("acctbal"),
        ],
        how="left",
    ).filter(F.col("full_name").isNotNull())


_ENRICHED_SQL = """
SELECT e.event_id AS rating_id,
       e.user_id AS user_id,
       e.value AS stars,
       e.event_type AS channel,
       e.ts AS rating_ts,
       c.c_custkey AS customer_id,
       c.c_name || ' ' || c.c_mktsegment AS full_name,
       c.c_mktsegment AS club_status,
       c.c_acctbal AS acctbal
FROM events e
LEFT JOIN customer c
  ON CAST(e.user_id AS VARCHAR) = CAST(c.c_custkey AS VARCHAR)
WHERE lower(e.event_type) NOT LIKE '%err%'
  AND (c.c_name || ' ' || c.c_mktsegment) IS NOT NULL
"""

# --- §2.1 sources / scans ----------------------------------------------------


@query(
    "s1_p1_scan_projection",
    f"SELECT event_id, user_id, event_type, value FROM events",
    tags=("S1", "P1"),
)
def s1_p1_scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 topic scan + P1 column projection (readme.md:121).

    Narrow projection must reach the parquet reader: `.explain` shows
    ReadSchema with exactly these four columns — at 100 TB the scan
    reads 4 columns, not 6."""
    return _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")


_AVRO_EVENTS_SCHEMA = """
{"type": "record", "name": "rating", "fields": [
  {"name": "event_id", "type": "long"},
  {"name": "user_id", "type": "long"},
  {"name": "event_type", "type": ["null", "string"]},
  {"name": "units", "type": "long"},
  {"name": "value", "type": "double"}
]}
"""


@query(
    "s1_s4_avro_binary_roundtrip",
    """
    SELECT event_id, user_id, event_type,
           CAST(floor(value) AS BIGINT) AS units,
           round(value, 2) AS value
    FROM events
    """,
    tags=("S1", "S4", "avro"),
)
def s1_s4_avro_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S4 — the reference's topics are Avro (VALUE_FORMAT='AVRO',
    ksqldb-statements.sql:36-37,42-43). Real binary decode, gated:
    every event row is Avro-binary ENCODED (with the Schema Registry's
    Confluent wire frame, docker-compose.yml:59-72) and then DECODED by
    the engine's registry-less codec; the oracle checks the decoded
    rows equal the source rows — any varint/zigzag/union/IEEE byte
    error breaks the hash."""
    from kafka_cdc_elasticsearch_pipeline_spark.sources.avro import (
        avro_decode,
        avro_encode,
    )

    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.floor("value").cast("long").alias("units"),
        F.round("value", 2).alias("value"),
    )
    encoded = avro_encode(ev, _AVRO_EVENTS_SCHEMA, schema_id=1)
    return avro_decode(encoded, _AVRO_EVENTS_SCHEMA, confluent=True)


_AVRO_V1_SCHEMA = """
{"type": "record", "name": "event", "fields": [
  {"name": "event_id", "type": "long"},
  {"name": "user_id", "type": "int"},
  {"name": "legacy_flag", "type": "string"}
]}
"""

_AVRO_V2_SCHEMA = """
{"type": "record", "name": "event", "fields": [
  {"name": "event_id", "type": "long"},
  {"name": "user_id", "type": "long"},
  {"name": "event_type", "type": ["null", "string"], "default": null},
  {"name": "units", "type": "long", "default": -1}
]}
"""


@query(
    "s1_avro_schema_evolution_mixed",
    """
    SELECT event_id, user_id,
           CASE WHEN event_id % 2 = 0 THEN NULL ELSE event_type END AS event_type,
           CASE WHEN event_id % 2 = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(value) AS BIGINT) END AS units
    FROM events
    """,
    tags=("S1", "S4", "avro", "evolution"),
)
def s1_avro_schema_evolution_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-Registry EVOLUTION, gated end-to-end: one topic carries
    two producer generations — even event_ids Avro-encoded under the
    v1 schema (schema id 1: int user_id, a legacy field v2 dropped),
    odd ids under v2 (id 2: event_type + units added with defaults,
    user_id widened int→long). The consumer decodes every frame
    against its OWN writer schema resolved to the fixed v2 reader
    (``avro.resolve_schemas`` — field-by-name matching, skipped
    writer-only bytes, reader defaults, int→long promotion), which is
    exactly the backward-compatible upgrade the reference's registry
    enforces (docker-compose.yml:59-72; Confluent compatibility
    checks). Oracle: v1 rows surface defaults, v2 rows their values."""
    from kafka_cdc_elasticsearch_pipeline_spark.sources.avro import (
        avro_decode_evolved,
        avro_encode,
    )

    ev = _events(spark, sf_dir)
    v1_rows = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        F.col("user_id").cast("int").alias("user_id"),
        F.lit("legacy").alias("legacy_flag"),
    )
    v2_rows = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "user_id",
        "event_type",
        F.floor("value").cast("long").alias("units"),
    )
    mixed = avro_encode(v1_rows, _AVRO_V1_SCHEMA, schema_id=1).unionByName(
        avro_encode(v2_rows, _AVRO_V2_SCHEMA, schema_id=2)
    )
    return avro_decode_evolved(
        mixed, {1: _AVRO_V1_SCHEMA, 2: _AVRO_V2_SCHEMA}, _AVRO_V2_SCHEMA
    )


_AVRO_DECIMAL_SCHEMA = """
{"type": "record", "name": "acct", "fields": [
  {"name": "c_custkey", "type": "long"},
  {"name": "acctbal",
   "type": {"type": "bytes", "logicalType": "decimal",
            "precision": 18, "scale": 2}}
]}
"""


@query(
    "s4_avro_decimal_debezium",
    """
    SELECT c_custkey,
           (CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DECIMAL(18,2))
              / 100)::DECIMAL(18,2)::VARCHAR AS acctbal
    FROM customer
    """,
    tags=("S4", "avro", "decimal", "debezium"),
)
def s4_avro_decimal_debezium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium's DECIMAL encoding end-to-end: SQL DECIMAL columns
    arrive as Avro ``bytes`` with logicalType decimal — a
    two's-complement big-endian UNSCALED integer plus a schema-carried
    scale (the default decimal.handling.mode=precise). Every customer
    balance is rounded to exact cents, encoded through that wire shape,
    decoded back to DecimalType(18,2), and emitted as a canonical
    string (representation-stable under the driver's pandas
    canonicalization, which degrades raw DECIMAL columns to float)."""
    from kafka_cdc_elasticsearch_pipeline_spark.sources.avro import (
        avro_decode,
        avro_encode,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.round(F.col("c_acctbal") * 100).cast("long").cast("decimal(18,2)") / 100)
        .cast("decimal(18,2)")
        .alias("acctbal"),
    )
    encoded = avro_encode(cust, _AVRO_DECIMAL_SCHEMA, schema_id=7)
    decoded = avro_decode(encoded, _AVRO_DECIMAL_SCHEMA, confluent=True)
    return decoded.select(
        "c_custkey", F.col("acctbal").cast("string").alias("acctbal")
    )


@query(
    "s4_s10_s11_debezium_unwrap",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           'c' AS op, CAST(c_custkey AS VARCHAR) AS kafka_key
    FROM customer
    """,
    tags=("S4", "S10", "S11"),
)
def s4_s10_s11_debezium_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S10/S11 — Debezium envelope round-trip: wrap each customer row
    in a `{before,after,op,ts_ms,source}` JSON envelope (the CDC topic
    shape, FIXTURES.md §A3), then decode with `from_json` + `after.*`
    (ExtractNewRecordState, ksqldb-statements.sql:31-32) and re-key via
    ExtractField$Key (ksqldb-statements.sql:33-34). Decode is pure
    Catalyst — no Python in the per-record path."""
    cust = load_table(spark, sf_dir, "customer")
    raw = wrap_envelope(cust, op="c")
    flat = unwrap_envelope(raw, cust.schema)
    keyed = extract_key(flat, "c_custkey")
    return keyed.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.col("_op").alias("op"),
        "kafka_key",
    )


@query(
    "p2_s9_select_star_with_ingest_ts",
    f"""
    SELECT {_EVENT_COLS_SQL}, TIMESTAMP '2026-01-01 00:00:00' AS EXTRACT_TS
    FROM events
    """,
    tags=("P2", "S9"),
)
def p2_s9_select_star_with_ingest_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — SELECT * passthrough (ksqldb-statements.sql:14) + S9 the
    InsertField$Value ingest-timestamp SMT (ksqldb-statements.sql:8-10),
    pinned to a fixed instant so the gate can check it."""
    from kafka_cdc_elasticsearch_pipeline_spark.sources.cdc import insert_extract_ts

    ev = _events(spark, sf_dir).select("*")
    return insert_extract_ts(ev, at="2026-01-01 00:00:00")


# --- §2.2 projection / filter ------------------------------------------------


@query(
    "p4_ratings_live_split",
    f"SELECT {_EVENT_COLS_SQL} FROM events WHERE lower(event_type) NOT LIKE '%err%'",
    tags=("P4", "F1", "F6"),
)
def p4_ratings_live_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — RATINGS_LIVE: WHERE LCASE(ch) NOT LIKE (ksqldb-statements.sql:14)."""
    return _live(spark, sf_dir).select(*EVENT_COLS)


@query(
    "p5_ratings_test_split",
    f"SELECT {_EVENT_COLS_SQL} FROM events WHERE lower(event_type) LIKE '%err%'",
    tags=("P5", "F1", "F6"),
)
def p5_ratings_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — RATINGS_TEST: WHERE LCASE(ch) LIKE (ksqldb-statements.sql:17)."""
    _, test = split_streams(_events(spark, sf_dir), "event_type", "%err%")
    return test.select(*EVENT_COLS)


@query(
    "p8_point_lookup",
    f"SELECT {_EVENT_COLS_SQL} FROM events WHERE user_id = 7",
    tags=("P8",),
)
def p8_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — key equality predicate (readme.md:331). Pushed to the scan."""
    return point_lookup(_events(spark, sf_dir), "user_id", 7).select(*EVENT_COLS)


# --- §2.3 the join -----------------------------------------------------------


@query("j1_enrich_stream_table_join", _ENRICHED_SQL, tags=("J1", "P3", "P6", "F2", "F3"), bench=True)
def j1_enrich_stream_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the flagship enrichment join (ksqldb-statements.sql:50-60),
    with P3 computed FULL_NAME, F2 null-propagating concat, F3 key cast
    and P6 IS NOT NULL. Dimension side is broadcast: the fact stream
    never shuffles (ksqlDB's table-lookup ≙ broadcast hash join)."""
    return _enriched(spark, sf_dir)


@query(
    "p7_r1_unhappy_platinum",
    _ENRICHED_SQL.replace(
        "WHERE lower(e.event_type) NOT LIKE '%err%'",
        "WHERE lower(e.event_type) NOT LIKE '%err%' AND e.value < 50 AND c.c_mktsegment = 'AUTOMOBILE'",
    ),
    tags=("P7", "R1"),
)
def p7_r1_unhappy_platinum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/R1 — UNHAPPY_PLATINUM_CUSTOMERS (ksqldb-statements.sql:63-68):
    conjunctive predicate (STARS<3 AND platinum ≙ value<50 AND
    AUTOMOBILE) + PARTITION BY full_name re-key."""
    unhappy = _enriched(spark, sf_dir).filter(
        (F.col("stars") < 50) & (F.col("club_status") == "AUTOMOBILE")
    )
    return rekey(unhappy, "full_name")


# --- §2.1/2.4 TABLE semantics (latest per key) -------------------------------

_LATEST_SQL = f"""
SELECT {_EVENT_COLS_SQL}
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@query("s2_a3_table_latest_per_key", _LATEST_SQL, tags=("S2", "A3", "T5"), bench=True)
def s2_a3_table_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/A3/T5 — CREATE TABLE over a changelog: last write per key
    (ksqldb-statements.sql:42-43; duality demo readme.md:316-374).
    max_by strategy: one hash agg with map-side combine — shuffles
    O(distinct keys), not O(rows)."""
    # spread=False: the scan feeds the agg's own hash exchange
    # directly (r15 A/B: 0.65s → 0.33—0.42s).
    return latest_per_key(
        _events(spark, sf_dir, spread=False),
        ["user_id"],
        "ts",
        tiebreak="event_id",
        method="max_by",
    ).select(*EVENT_COLS)


@query("a3_latest_per_key_window_variant", _LATEST_SQL, tags=("A3",))
def a3_latest_per_key_window_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (alternate physical strategy) — row_number() window dedup;
    must agree row-for-row with the max_by plan (same oracle)."""
    return latest_per_key(
        _events(spark, sf_dir), ["user_id"], "ts", tiebreak="event_id", method="window"
    ).select(*EVENT_COLS)


@query(
    "s3_changelog_stream_all_events",
    f"SELECT {_EVENT_COLS_SQL} FROM events WHERE user_id = 7",
    tags=("S3", "T5"),
)
def s3_changelog_stream_all_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — STREAM over the same changelog topic: *no* reduction; every
    change event for the key is visible (readme.md:346-374 shows 4 rows
    where the TABLE shows 1)."""
    return _events(spark, sf_dir).filter(F.col("user_id") == 7).select(*EVENT_COLS)


# --- §2.4 aggregations --------------------------------------------------------

# The collected array is emitted as a sorted comma-joined STRING, not a
# raw array<int>: the driver's pandas canonicalizer sort_values() on an
# object column of Python lists crashes with "unhashable type: 'list'"
# (observed in CORRECTNESS_r01). The compute is identical — same
# collect_list + sort — only the wire format changes, mirrored exactly
# by array_to_string in the DuckDB oracle.
_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL 15 MINUTES, e.ts) AS window_start,
       e.user_id AS user_id,
       count(*) AS ratings_count,
       array_to_string(list_sort(list(CAST(floor(e.value) AS INTEGER))), ',') AS ratings
FROM events e
WHERE lower(e.event_type) NOT LIKE '%err%'
GROUP BY 1, 2
"""


@query("a1_a2_tumbling_15min_collect", _TUMBLING_SQL, tags=("A1", "A2", "T3", "T4"), bench=True)
def a1_a2_tumbling_15min_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/T3/T4 — RATINGS_PER_CUSTOMER_PER_15MINUTE
    (ksqldb-statements.sql:88-93): tumbling 15-minute window, COUNT(*),
    COLLECT_LIST(stars) (sorted for multiset comparison, string-joined
    for the driver canonicalizer), WINDOWSTART exposed. Epoch-aligned
    exactly like Kafka Streams windows."""
    live = _live(spark, sf_dir)
    out = tumbling_agg(
        live,
        "ts",
        "15 minutes",
        ["user_id"],
        [
            F.count(F.lit(1)).alias("ratings_count"),
            collect_sorted(F.floor(F.col("value")).cast("int"), "ratings"),
        ],
    )
    return out.withColumn("ratings", F.array_join(F.col("ratings").cast("array<string>"), ","))


@query(
    "skew_salted_two_phase_agg",
    """
    SELECT user_id, count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY user_id
    """,
    tags=("skew", "A"),
)
def skew_salted_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient grouped aggregation: salt → partial → combine.
    Must produce exactly the plain groupBy result (the oracle IS the
    unsalted aggregation) — the salt changes the physical data
    movement, never the answer."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.skew import salted_agg

    return salted_agg(
        _events(spark, sf_dir),
        ["user_id"],
        partials=[
            (F.count(F.lit(1)), "pc"),
            (F.sum(_dec2("value")), "ps"),
        ],
        finals=[
            ("n_events", F.sum("pc")),
            ("total_value", F.round(F.sum("ps").cast("double"), 2)),
        ],
    )


@query(
    "j_asof_last_purchase_before_view",
    """
    WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    p0 AS (
      SELECT user_id, ts, max(event_id) AS event_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    p AS (
      SELECT p0.user_id, p0.ts, p0.event_id, e.value
      FROM p0 JOIN events e ON e.event_id = p0.event_id
    )
    SELECT v.event_id AS view_id, v.user_id AS user_id, v.ts AS view_ts,
           p.event_id AS asof_event_id, p.ts AS asof_ts, p.value AS asof_value
    FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
    """,
    tags=("J", "asof", "temporal"),
    bench=True,
)
def j_asof_last_purchase_before_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond the reference; DuckDB's native ASOF JOIN is
    the oracle): each view event enriched with the user's latest
    prior-or-simultaneous purchase. Union + running last() — one
    shuffle + sort over |L|+|R|, never a range explode."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.temporal import asof_join

    # spread=False: both sides go straight into the union's shared
    # (user_id, ts) exchange after pushed-down filters (r15 A/B:
    # 0.92—0.97s → 0.59—0.63s).
    ev = _events(spark, sf_dir, spread=False)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("view_ts")
    )
    purchases = latest_per_key(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id", "value"
        ),
        ["user_id", "ts"],
        "event_id",
    )
    return asof_join(views, purchases, "user_id", left_ts="view_ts", right_ts="ts").select(
        "view_id",
        "user_id",
        "view_ts",
        F.col("asof_event_id"),
        F.col("asof_ts"),
        F.col("asof_value"),
    )


@query(
    "j_range_band_join_value_tiers",
    """
    WITH bands(tier, lo, hi) AS (
      VALUES ('low', 0.0, 100.0), ('mid', 100.0, 500.0), ('high', 500.0, 1e9)
    )
    SELECT b.tier AS tier, count(*) AS n,
           round(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.tier
    """,
    tags=("J", "range"),
)
def j_range_band_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join — the non-equi join class: events matched to
    value tiers by interval containment. The band table is tiny →
    broadcast nested-loop with a 3-row build side, i.e. effectively a
    map-side lookup; the fact side never shuffles before the
    aggregation."""
    bands = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 500.0), ("high", 500.0, 1e9)],
        "tier string, lo double, hi double",
    )
    ev = _events(spark, sf_dir)
    joined = ev.join(
        F.broadcast(bands),
        (ev["value"] >= bands["lo"]) & (ev["value"] < bands["hi"]),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(_dec2("value")).cast("double"), 2).alias("total_value"),
    )


@query(
    "a_rollup_channel_user",
    """
    SELECT event_type AS channel, user_id,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type, user_id), (event_type), ())
    """,
    tags=("A", "rollup"),
)
def a_rollup_channel_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (channel → user → grand total) in ONE pass:
    Spark expands the grouping sets inside a single aggregation — three
    levels of dashboard totals for one scan + one shuffle instead of
    three queries."""
    ev = _events(spark, sf_dir)
    return ev.rollup(F.col("event_type").alias("channel"), "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(_dec2("value")).cast("double"), 2).alias("total_value"),
    )


@query(
    "a_distinct_users_per_channel",
    """
    SELECT event_type AS channel, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    tags=("A", "distinct"),
)
def a_distinct_users_per_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (beyond the reference's surface): exact
    per-channel user cardinality — Spark expands to a two-stage
    partial-distinct plan automatically."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.col("event_type").alias("channel"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "a_approx_distinct_users_per_channel",
    # No oracle: HLL sketches are implementation-specific — Spark's
    # HyperLogLog++ and DuckDB's approx_count_distinct give different
    # estimates by design. The driver records the weaker rows-only
    # check; the unit test bounds the estimate against the exact count.
    None,
    tags=("A", "distinct", "sketch"),
)
def a_approx_distinct_users_per_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregation: HyperLogLog++ approximate cardinality — at
    100 TB the exact distinct's per-key dedup state is the cost center,
    and a fixed-size sketch (mergeable, map-side combinable) replaces
    it. rsd=0.01 → ~1% error bound."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.col("event_type").alias("channel"))
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx"))
    )


@query(
    "a_approx_distinct_error_bound",
    """
    SELECT event_type AS channel,
           count(DISTINCT user_id) AS n_users_exact,
           true AS within_bound
    FROM events GROUP BY event_type
    """,
    tags=("A", "distinct", "sketch"),
)
def a_approx_distinct_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkable contract for the HLL sketch: the estimate itself is
    engine-specific (no cross-engine oracle possible), but the *error
    bound* is assertable inside the gate — emit the exact distinct plus
    a boolean that the HLL++ estimate (rsd=0.01) landed within 5×rsd of
    it. The oracle expects `true` on every row, so a drifting sketch
    turns this row red instead of hiding behind a rows-only check."""
    ev = _events(spark, sf_dir)
    per = ev.groupBy(F.col("event_type").alias("channel")).agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_approx"),
    )
    return per.select(
        "channel",
        "n_users_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_users_exact"))
            <= F.col("n_users_exact") * F.lit(0.05)
        ).alias("within_bound"),
    )


@query(
    "a_cube_channel_user_bucket",
    """
    SELECT event_type AS channel, user_id % 4 AS user_bucket, count(*) AS n
    FROM events
    GROUP BY CUBE (event_type, user_id % 4)
    """,
    tags=("A", "cube"),
)
def a_cube_channel_user_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all four grouping combinations (channel×bucket, channel,
    bucket, grand total) in one Expand + aggregation pass."""
    ev = _events(spark, sf_dir)
    return ev.cube(
        F.col("event_type").alias("channel"),
        (F.col("user_id") % 4).alias("user_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "wf_running_total_per_user",
    """
    SELECT event_id, user_id, ts,
           round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2) AS running_total,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
    FROM events
    """,
    tags=("WF", "analytics"),
)
def wf_running_total_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions (SURVEY §2.5 — beyond the reference's
    surface): per-user running total + event sequence number over
    event time. One shuffle on the partition key, per-key sort, frame
    scan — exact DECIMAL accumulation so every prefix sum is
    reproducible cross-engine."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum(_dec2("value")).over(frame).cast("double"), 2).alias("running_total"),
        F.row_number().over(w).alias("seq"),
    )


@query(
    "a4_median_stars_by_channel",
    """
    SELECT event_type AS channel,
           count(*) AS n,
           round(median(value), 4) AS median_value,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("A4",),
)
def a4_median_stars_by_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — the Kibana dashboard aggregations (docker-compose.yml:346-349):
    median(STARS) by terms, counts by terms. Exact median (Spark
    ``median`` = interpolated 50th percentile, same as DuckDB); total
    via exact DECIMAL sum."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.median("value"), 4).alias("median_value"),
        F.round(F.sum(_dec2("value")).cast("double"), 2).alias("total_value"),
    )


@query(
    "t7_hopping_30m_slide_15m",
    """
    WITH fan AS (
      SELECT time_bucket(INTERVAL 15 MINUTES, ts) AS ws, user_id, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 15 MINUTES, ts) - INTERVAL 15 MINUTES AS ws, user_id, value
      FROM events
    )
    SELECT ws AS window_start, user_id, count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM fan GROUP BY 1, 2
    """,
    tags=("T7", "A1"),
)
def t7_hopping_30m_slide_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — hopping window (ksqlDB WINDOW HOPPING twin; SURVEY §2.9
    notes it as a free extension): 30-minute windows sliding by 15 —
    each event counted in 2 windows, fanned out inside the aggregation
    (no separate explode). Oracle reproduces the fan-out as a 2-way
    UNION ALL of slide-aligned buckets."""
    return hopping_agg(
        _events(spark, sf_dir),
        "ts",
        "30 minutes",
        "15 minutes",
        ["user_id"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(_dec2("value")).cast("double"), 2).alias("total_value"),
        ],
    )


@query(
    "t7_session_window_30m_gap",
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
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM i GROUP BY user_id, sess
    """,
    tags=("T7",),
    bench=True,
)
def t7_session_window_30m_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — session window: per-user activity runs closed by 30 min of
    silence. Spark merges per-event [ts, ts+gap) intervals statefully
    (``session_window``); the oracle is the classic gaps-and-islands
    rewrite (lag → break flag → running sum → island group), with the
    break on diff > gap: Spark merges an event landing EXACTLY at the
    previous session's end (closed-interval merge, verified)."""
    # spread=False: session_window brings its own user_id exchange
    # (r15 A/B: 0.64—0.71s → 0.51—0.63s).
    return session_agg(
        _events(spark, sf_dir, spread=False),
        "ts",
        "30 minutes",
        ["user_id"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(_dec2("value")).cast("double"), 2).alias("total_value"),
        ],
    )


@query(
    "a4_daily_median_by_club_status",
    """
    SELECT time_bucket(INTERVAL 1 DAY, e.ts) AS day,
           c.c_mktsegment AS club_status,
           round(median(e.value), 4) AS median_stars,
           count(*) AS n
    FROM events e
    JOIN customer c ON CAST(e.user_id AS VARCHAR) = CAST(c.c_custkey AS VARCHAR)
    WHERE lower(e.event_type) NOT LIKE '%err%'
    GROUP BY 1, 2
    """,
    tags=("A4",),
)
def a4_daily_median_by_club_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — the Kibana 'median STARS by date_histogram × CLUB_STATUS
    terms' panel (docker-compose.yml:347), panel-for-panel: enrich,
    bucket by day, exact median per (day, status)."""
    enr = _enriched(spark, sf_dir)
    return (
        enr.groupBy(
            F.date_trunc("DAY", F.col("rating_ts")).cast("timestamp_ntz").alias("day"),
            "club_status",
        )
        .agg(
            F.round(F.median("stars"), 4).alias("median_stars"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "a4_count_by_full_name",
    """
    SELECT c.c_name || ' ' || c.c_mktsegment AS full_name, count(*) AS n
    FROM events e
    JOIN customer c ON CAST(e.user_id AS VARCHAR) = CAST(c.c_custkey AS VARCHAR)
    WHERE lower(e.event_type) NOT LIKE '%err%'
    GROUP BY 1
    """,
    tags=("A4",),
)
def a4_count_by_full_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — the Kibana 'count by FULL_NAME terms' panel
    (docker-compose.yml:349)."""
    return _enriched(spark, sf_dir).groupBy("full_name").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "a4_channel_daily_histogram",
    """
    SELECT time_bucket(INTERVAL 1 DAY, ts) AS day, event_type AS channel,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
    tags=("A4",),
)
def a4_channel_daily_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — the Kibana date_histogram × CHANNEL terms panel
    (docker-compose.yml:348) as a grouped daily bucket count."""
    return tumbling_agg(
        _events(spark, sf_dir),
        "ts",
        "1 day",
        ["event_type"],
        [F.count(F.lit(1)).alias("n")],
        window_alias="day",
    ).select("day", F.col("event_type").alias("channel"), "n")


@query(
    "a_stats_per_channel",
    """
    SELECT channel, n,
           round(s1 / nullif(nx, 0), 6) AS mean_value,
           round((s2 - s1 * s1 / nullif(nx, 0)) / nullif(nx - 1, 0), 6) AS var_value,
           round(sqrt((s2 - s1 * s1 / nullif(nx, 0)) / nullif(nx - 1, 0)), 6) AS stddev_value,
           round((np * sxy - sxp * syp)
                 / nullif(sqrt((np * sx2 - sxp * sxp) * (np * sy2 - syp * syp)), 0), 6)
             AS corr_vk
    FROM (
      SELECT event_type AS channel,
             count(*)::DOUBLE AS n,
             count(value)::DOUBLE AS nx,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2,
             count(CASE WHEN value IS NOT NULL
                         AND json_extract_string(props, '$.k') IS NOT NULL THEN 1 END)::DOUBLE AS np,
             CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                           THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sxp,
             CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                           THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END)
                  AS DOUBLE) AS sx2,
             CAST(sum(CASE WHEN value IS NOT NULL
                           THEN CAST(json_extract_string(props, '$.k') AS DECIMAL(18,2)) END)
                  AS DOUBLE) AS syp,
             CAST(sum(CASE WHEN value IS NOT NULL
                           THEN CAST(json_extract_string(props, '$.k') AS DECIMAL(18,2))
                                * CAST(json_extract_string(props, '$.k') AS DECIMAL(18,2)) END)
                  AS DOUBLE) AS sy2,
             CAST(sum(CAST(value AS DECIMAL(18,2))
                      * CAST(json_extract_string(props, '$.k') AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM events GROUP BY event_type
    )
    """,
    tags=("A", "stats"),
)
def a_stats_per_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment statistics with cross-engine
    determinism: every AGGREGATE is an exact DECIMAL sum (map-side
    combinable, order-independent), converted to double ONCE; variance
    / stddev / correlation are then fixed scalar expression trees over
    those doubles — bit-identical in any engine, unlike the built-in
    float accumulators whose result depends on reduction order.

    NULL semantics (matches var_samp/stddev_samp/corr built-ins):
    mean/var/stddev use the null-aware count(value); corr uses
    pairwise-complete sums — every sum in the corr formula is taken
    over rows where BOTH value and props.$.k are non-null (a product
    sum like sum(x*y) is pairwise by construction). 0- and 1-row
    groups yield NULL via nullif, never Inf/NaN (Spark and DuckDB
    disagree on double division by zero — a latent oracle mismatch
    flagged in round-1 advice). Implementation:
    operators/stats.second_moment_stats (unit-tested on planted NULL /
    single-row groups against the Spark built-ins)."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.stats import (
        second_moment_stats,
    )

    ev = _events(spark, sf_dir)
    return second_moment_stats(
        ev,
        F.col("event_type").alias("channel"),
        _dec2("value"),
        F.get_json_object("props", "$.k").cast("decimal(18,2)"),
    )


@query(
    "a_quantiles_per_channel",
    """
    SELECT event_type AS channel,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75,
           round(quantile_cont(value, 0.95), 4) AS p95
    FROM events GROUP BY event_type
    """,
    tags=("A", "quantiles"),
)
def a_quantiles_per_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per channel (Spark ``percentile``
    == DuckDB ``quantile_cont``): the latency-distribution shape every
    dashboard needs beyond the reference's single median panel."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(F.col("event_type").alias("channel")).agg(
        *[
            F.round(F.percentile("value", F.lit(q)), 4).alias(f"p{int(q * 100)}")
            for q in (0.25, 0.50, 0.75, 0.95)
        ]
    )


@query(
    "a_approx_quantile_error_bound",
    """
    SELECT event_type AS channel,
           round(quantile_cont(value, 0.50), 4) AS p50_exact,
           round(quantile_cont(value, 0.95), 4) AS p95_exact,
           true AS within_bound
    FROM events GROUP BY event_type
    """,
    tags=("A", "quantiles", "sketch"),
)
def a_approx_quantile_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkable contract for the mergeable quantile sketch
    (Greenwald-Khanna via ``percentile_approx``), in the same style as
    the HLL row ``a_approx_distinct_error_bound``: the sketch estimate
    itself is engine-specific, so the gate asserts its ERROR BOUND
    instead. ``accuracy=10000`` guarantees rank error ≤ n/10000, far
    inside the ±0.01-quantile envelope asserted here — the boolean
    goes red if the sketch ever drifts outside it.

    Why the sketch matters at 100 TB: exact ``percentile`` holds every
    value of a group in memory to sort; the GK summary is fixed-size
    and map-side combinable, so per-channel p50/p95 over 10¹² events
    aggregates like a count."""
    ev = _events(spark, sf_dir)
    per = ev.groupBy(F.col("event_type").alias("channel")).agg(
        F.round(F.percentile("value", F.lit(0.50)), 4).alias("p50_exact"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95_exact"),
        F.percentile("value", F.lit(0.49)).alias("_p50_lo"),
        F.percentile("value", F.lit(0.51)).alias("_p50_hi"),
        F.percentile("value", F.lit(0.94)).alias("_p95_lo"),
        F.percentile("value", F.lit(0.96)).alias("_p95_hi"),
        F.percentile_approx("value", F.lit(0.50), F.lit(10000)).alias("_a50"),
        F.percentile_approx("value", F.lit(0.95), F.lit(10000)).alias("_a95"),
    )
    within = (
        (F.col("_a50") >= F.col("_p50_lo"))
        & (F.col("_a50") <= F.col("_p50_hi"))
        & (F.col("_a95") >= F.col("_p95_lo"))
        & (F.col("_a95") <= F.col("_p95_hi"))
    )
    return per.select("channel", "p50_exact", "p95_exact", within.alias("within_bound"))


@query(
    "a_cms_heavy_hitters_bound",
    """
    SELECT user_id, n_exact, true AS within_bound
    FROM (
      SELECT user_id, count(*) AS n_exact
      FROM events GROUP BY user_id
      ORDER BY n_exact DESC, user_id LIMIT 20
    ) t
    """,
    tags=("A", "sketch", "heavy-hitters"),
)
def a_cms_heavy_hitters_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters with a gated error contract: sketch the
    per-user event frequency (operators/sketches.py — a d×w counter
    matrix AS a DataFrame, mergeable by union+re-sum), probe it for
    the top-20 exact heavy hitters, and assert the classic CMS bound
    per key: estimate ≥ exact (never undercounts) and
    estimate − exact ≤ ⌈e·N/w⌉. The oracle expects `true` on every
    row, so a broken hash/merge turns the row red.

    100 TB story: exact per-key counts shuffle the key domain; the
    sketch shuffles ≤ d×w rows per partition no matter the input, and
    per-shard sketches merge without rescanning (tests pin
    mergeability: sketch(a∪b) == merge(sketch(a), sketch(b)))."""
    import math

    from kafka_cdc_elasticsearch_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    depth, width = 4, 1024
    ev = _events(spark, sf_dir)
    sketch = cms_build(ev, F.col("user_id"), depth=depth, width=width)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), "user_id")
        .limit(20)
    )
    est = cms_estimate(top, sketch, "user_id", depth=depth, width=width)
    tot = ev.agg(F.count(F.lit(1)).alias("__n_total"))
    slack = F.ceil(F.col("__n_total").cast("double") * F.lit(math.e / width))
    return (
        est.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_exact",
            (
                (F.col("cms_estimate") >= F.col("n_exact"))
                & ((F.col("cms_estimate") - F.col("n_exact")) <= slack)
            ).alias("within_bound"),
        )
    )


@query(
    "a_pivot_channel_by_user_bucket",
    """
    SELECT user_id % 4 AS user_bucket,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY 1
    """,
    tags=("A", "pivot"),
)
def a_pivot_channel_by_user_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user-bucket event counts, one column per
    channel. Spark's ``pivot`` with an explicit value list compiles to
    a single aggregation with FILTERed counts — one scan, one shuffle,
    no per-column passes (the oracle is that same FILTER form)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy((F.col("user_id") % 4).alias("user_bucket"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )


@query(
    "f_scalar_function_suite2",
    """
    SELECT event_id,
           substr(event_type, 2, 3) AS sub,
           replace(event_type, 'e', '_') AS repl,
           lpad(CAST(user_id AS VARCHAR), 6, '0') AS padded,
           strpos(event_type, 'r') AS pos_r,
           reverse(event_type) AS rev,
           repeat(left(event_type, 1), 3) AS rep3,
           coalesce(nullif(event_type, 'error'), 'scrubbed') AS no_error,
           greatest(CAST(value AS DOUBLE), 50.0) AS at_least_50,
           CASE WHEN value < 50 THEN 'low' WHEN value < 200 THEN 'mid' ELSE 'high' END AS tier
    FROM events
    """,
    tags=("F", "scalar"),
)
def f_scalar_function_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended scalar surface (the wider ksqlDB builtin families the
    reference doesn't happen to use): substring/replace/pad/position/
    reverse/repeat string ops, NULLIF/COALESCE, GREATEST, CASE tiers —
    all whole-stage-codegen expressions."""
    ev = _events(spark, sf_dir)
    et = F.col("event_type")
    return ev.select(
        "event_id",
        F.substring(et, 2, 3).alias("sub"),
        F.regexp_replace(et, "e", "_").alias("repl"),
        F.lpad(F.col("user_id").cast("string"), 6, "0").alias("padded"),
        F.instr(et, "r").alias("pos_r"),
        F.reverse(et).alias("rev"),
        F.repeat(F.substring(et, 1, 1), 3).alias("rep3"),
        F.coalesce(F.nullif(et, F.lit("error")), F.lit("scrubbed")).alias("no_error"),
        F.greatest(F.col("value").cast("double"), F.lit(50.0)).alias("at_least_50"),
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 200, "mid")
        .otherwise("high")
        .alias("tier"),
    )


@query(
    "f_json_extract_props",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
           CAST(json_extract_string(props, '$.missing') AS INTEGER) AS prop_missing
    FROM events
    """,
    tags=("F", "json"),
)
def f_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions over the semi-structured ``props`` column (the
    serialization-boundary family — the reference parses JSON only in
    its Debezium envelope; real event streams carry it in-row): path
    extraction with NULL on missing paths, JVM-side."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.get_json_object("props", "$.missing").cast("int").alias("prop_missing"),
    )


@query(
    "a_unpivot_quantile_long",
    """
    WITH q AS (
      SELECT event_type AS channel,
             round(quantile_cont(value, 0.25), 4) AS p25,
             round(quantile_cont(value, 0.50), 4) AS p50,
             round(quantile_cont(value, 0.75), 4) AS p75
      FROM events GROUP BY event_type
    )
    SELECT channel, 'p25' AS quantile, p25 AS v FROM q
    UNION ALL SELECT channel, 'p50', p50 FROM q
    UNION ALL SELECT channel, 'p75', p75 FROM q
    """,
    tags=("A", "unpivot"),
)
def a_unpivot_quantile_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long, the inverse of pivot) via ``unpivot`` —
    a single Expand node over the aggregated frame, not N self-unions
    (the oracle spells out the UNION ALL it is equivalent to)."""
    ev = _events(spark, sf_dir)
    wide = ev.groupBy(F.col("event_type").alias("channel")).agg(
        *[
            F.round(F.percentile("value", F.lit(q)), 4).alias(f"p{int(q * 100)}")
            for q in (0.25, 0.50, 0.75)
        ]
    )
    return wide.unpivot("channel", ["p25", "p50", "p75"], "quantile", "v")


@query(
    "f_array_functions_per_user",
    """
    SELECT user_id,
           len(vs) AS n_vals,
           array_to_string(vs[1:3], ',') AS first3,
           list_contains(vs, 100) AS has_100,
           len(list_distinct(vs)) AS n_distinct,
           list_reduce(list_prepend(0, vs), (a, x) -> a + x) AS total_units
    FROM (
      SELECT user_id, list_sort(list(CAST(floor(value) AS INTEGER))) AS vs
      FROM events GROUP BY user_id
    )
    """,
    tags=("F", "array"),
)
def f_array_functions_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family over collected per-user values (the
    reference's one ARRAY column comes from COLLECT_LIST — this is the
    full toolbox on top): size, slice, contains, distinct, fold — all
    higher-order Catalyst expressions on the sorted array. The slice is
    emitted string-joined: the driver canonicalizer cannot sort raw
    array columns (round-1 red row)."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.floor("value").cast("int"))).alias("vs")
    )
    return per_user.select(
        "user_id",
        F.size("vs").alias("n_vals"),
        F.array_join(F.slice("vs", 1, 3).cast("array<string>"), ",").alias("first3"),
        F.array_contains("vs", 100).alias("has_100"),
        F.size(F.array_distinct("vs")).alias("n_distinct"),
        F.expr("aggregate(vs, 0, (a, x) -> a + x)").alias("total_units"),
    )


# --- §2.5/2.9 pull query on the materialized window ---------------------------


@query(
    "p9_t2_pull_query_window_range",
    """
    SELECT * FROM (
      SELECT time_bucket(INTERVAL 15 MINUTES, ts) AS window_start,
             user_id, count(*) AS ratings_count
      FROM events GROUP BY 1, 2
    )
    WHERE window_start >= TIMESTAMP '2024-01-15 00:00:00' AND user_id = 3
    """,
    tags=("P9", "T2", "T4"),
)
def p9_t2_pull_query_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/T2 — pull query against the materialized windowed table with a
    WINDOWSTART range + key predicate (ksqldb-statements.sql:104-110).
    Batch read of the materialization, then plain filters."""
    agg = tumbling_agg(
        _events(spark, sf_dir),
        "ts",
        "15 minutes",
        ["user_id"],
        [F.count(F.lit(1)).alias("ratings_count")],
    )
    return agg.filter(
        (F.col("window_start") >= F.lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
        & (F.col("user_id") == 3)
    )


# --- §2.6 sorts / limits / set ops --------------------------------------------


@query(
    "l1_limit_push_query",
    f"SELECT {_EVENT_COLS_SQL} FROM events ORDER BY event_id LIMIT 5",
    tags=("L1",),
)
def l1_limit_push_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 — EMIT CHANGES LIMIT 5 (commands.sql:24-25): take the first 5
    records in offset order (event_id ≙ offset). TakeOrderedAndProject:
    no global sort."""
    ev = _events(spark, sf_dir)
    return topk(ev, [F.col("event_id").asc()], 5).select(*EVENT_COLS)


@query(
    "l2_topk_users_by_value",
    """
    SELECT user_id,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY user_id
    ORDER BY total_value DESC, user_id LIMIT 10
    """,
    tags=("L2",),
)
def l2_topk_users_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 — ordered top-k (the Kibana saved-search sort,
    docker-compose.yml:344) with deterministic tiebreak."""
    ev = _events(spark, sf_dir)
    totals = ev.groupBy("user_id").agg(
        F.round(F.sum(_dec2("value")).cast("double"), 2).alias("total_value")
    )
    return topk(totals, [F.col("total_value").desc(), F.col("user_id").asc()], 10)


@query(
    "setop_split_union_roundtrip",
    f"SELECT {_EVENT_COLS_SQL} FROM events WHERE event_type IS NOT NULL",
    tags=("L", "setop"),
)
def setop_split_union_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op golden check (SURVEY §2.6): the live/test split is a
    disjoint partition — live ∪ test ≡ ratings (readme.md:143-144)."""
    live, test = split_streams(_events(spark, sf_dir), "event_type", "%err%")
    return live.select(*EVENT_COLS).unionByName(test.select(*EVENT_COLS))


@query(
    "setop_split_intersect_empty",
    """
    SELECT event_id FROM events WHERE lower(event_type) NOT LIKE '%err%'
    INTERSECT
    SELECT event_id FROM events WHERE lower(event_type) LIKE '%err%'
    """,
    tags=("setop",),
)
def setop_split_intersect_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split is disjoint: live ∩ test = ∅."""
    live, test = split_streams(_events(spark, sf_dir), "event_type", "%err%")
    return live.select("event_id").intersect(test.select("event_id"))


# --- §2.8 scalar functions -----------------------------------------------------


@query(
    "f_scalar_function_suite",
    """
    SELECT event_id,
           lower(event_type) AS channel_lc,
           event_type || '-' || CAST(user_id AS VARCHAR) AS concat_key,
           CAST(user_id AS VARCHAR) AS user_id_str,
           CAST(floor(value) AS INTEGER) AS value_int,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           value < 100 AS is_low
    FROM events
    """,
    tags=("F1", "F2", "F3", "F4", "F5", "F7"),
)
def f_scalar_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F7 in one projection: LCASE, string ``+`` concat, CAST to
    STRING/INT, TIMESTAMPTOSTRING (ksqldb-statements.sql:96 — Java
    pattern 'yyyy-MM-dd HH:mm:ss'), comparison."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        lcase("event_type").alias("channel_lc"),
        str_concat(F.col("event_type"), F.lit("-"), cast_string("user_id")).alias("concat_key"),
        cast_string("user_id").alias("user_id_str"),
        cast_int(F.floor(F.col("value"))).alias("value_int"),
        timestamp_to_string("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        (F.col("value") < 100).alias("is_low"),
    )


# --- scale workloads (TPC-H-shaped; the bench headliners) ----------------------


@query(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                          * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) AS DOUBLE), 2) AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("scale", "A"),
    bench=True,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale workload: TPC-H Q1-shaped pricing summary over lineitem.

    Single scan → single hash agg with map-side partials; the filter is
    pushed into parquet. All money math through exact DECIMAL sums.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    )
    one = F.lit(1).cast("decimal(8,4)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    tax = F.col("l_tax").cast("decimal(8,4)")
    cnt = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(_dec2("l_quantity")).cast("double"), 2).alias("sum_qty"),
        F.round(F.sum(_dec2("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
        F.round(F.sum(_dec2("l_extendedprice") * (one - disc)).cast("double"), 2).alias(
            "sum_disc_price"
        ),
        F.round(
            F.sum(_dec2("l_extendedprice") * (one - disc) * (one + tax)).cast("double"), 2
        ).alias("sum_charge"),
        F.round(F.sum(_dec2("l_quantity")).cast("double") / cnt, 6).alias("avg_qty"),
        F.round(F.sum(_dec2("l_extendedprice")).cast("double") / cnt, 6).alias("avg_price"),
        F.round(F.sum(disc).cast("double") / cnt, 6).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@query(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n.n_name AS n_name,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(8,4)) - CAST(l.l_discount AS DECIMAL(8,4)))) AS DOUBLE), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("scale", "J"),
    bench=True,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale workload: TPC-H Q5-shaped 5-join chain.

    Join strategy at scale: region→nation→supplier collapse to a tiny
    broadcast dim (filter on region first prunes 4/5 of nations before
    the build side ships); customer broadcasts; the only big shuffle is
    lineitem⋈orders on the orderkey. Catalyst/AQE picks this up from
    the declarative plan — no hand-scheduling.
    """
    # spread=False on both big tables: orders lands in a broadcast
    # build (collected anyway) and lineitem's only pre-exchange work is
    # the broadcast-join probes — the parallelism round-robin re-ships
    # 600k rows for nothing (r15 A/B: noop 1.21—1.25s → 0.73s).
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders", spread=False).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    one = F.lit(1).cast("decimal(8,4)")
    dim = supp.join(
        F.broadcast(nat.join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])),
        supp["s_nationkey"] == F.col("n_nationkey"),
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(dim),
            (li["l_suppkey"] == dim["s_suppkey"])
            & (cust["c_nationkey"] == dim["s_nationkey"]),
        )
    )
    return joined.groupBy(F.col("n_name")).agg(
        F.round(
            F.sum(
                _dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(8,4)"))
            ).cast("double"),
            2,
        ).alias("revenue")
    )


@query(
    "tpch_q18_large_volume_customer",
    """
    SELECT c.c_name AS c_name, c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey,
           o.o_orderdate AS o_orderdate,
           round(CAST(o.o_totalprice AS DOUBLE), 2) AS o_totalprice,
           round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    tags=("scale", "J", "A"),
    bench=True,
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale workload: TPC-H Q18-shaped HAVING + semi-join + top-k.

    The qualifying-orderkey set (HAVING over a pre-aggregation) comes
    back as a LEFT SEMI join — at scale the semi side is the small
    aggregated key list, and the heavy lineitem⋈orders shuffle reuses
    the same orderkey partitioning across both aggs (no extra
    exchange).
    """
    # lineitem spread=False: the scan feeds the orderkey aggregation's
    # own hash exchange with nothing but the column projection in
    # between — the parallelism round-robin would ship all 600k rows
    # an extra time before the partial agg (r15 A/B: q18 noop 1.32—
    # 1.56s with it, 0.89—1.01s without; orders keeps its spread, its
    # broadcast build overlaps the single-task partial agg for free).
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # Single lineitem pass: the HAVING pre-aggregate per orderkey IS the
    # output quantity (orderkey is the finest group key — the other
    # group columns are functionally dependent via orders), so aggregate
    # once, filter, then enrich with broadcast dims. Halves the scan +
    # shuffle volume vs the literal agg-join-agg shape; the oracle keeps
    # the textbook formulation and must match.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec2("l_quantity")).alias("q"))
        .filter(F.col("q") > F.lit(150).cast("decimal(18,2)"))
        .select("l_orderkey", F.round(F.col("q").cast("double"), 2).alias("total_qty"))
    )
    # No broadcast hints here: orders/customer fit broadcast at this SF
    # (AQE picks it up from runtime sizes) but not at 100 TB, where the
    # same plan degrades gracefully to shuffle joins on the big keys.
    agg = (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            cust["c_name"].alias("c_name"),
            cust["c_custkey"].alias("c_custkey"),
            orders["o_orderkey"].alias("o_orderkey"),
            orders["o_orderdate"].alias("o_orderdate"),
            F.round(orders["o_totalprice"].cast("double"), 2).alias("o_totalprice"),
            F.col("total_qty"),
        )
    )
    return topk(agg, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 20).select(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty"
    )


@query(
    "tpch_q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(CAST(sum(volume) AS DOUBLE), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(8,4)) - CAST(l.l_discount AS DECIMAL(8,4))) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("scale", "J", "F"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale workload: TPC-H Q7-shaped bidirectional nation-pair trade
    volume by ship year. The nation filters broadcast into supplier
    and customer BEFORE the fact joins, so the big lineitem⋈orders
    shuffle only carries the two qualifying nations' rows; year() on
    the event time groups without any UDF."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    n1 = nat.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = supp.join(F.broadcast(n1), supp["s_nationkey"] == F.col("n1_key"))
    c = cust.join(F.broadcast(n2), cust["c_nationkey"] == F.col("n2_key"))
    one = F.lit(1).cast("decimal(8,4)")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), orders["o_custkey"] == c["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")).agg(
        F.round(
            F.sum(
                _dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(8,4)"))
            ).cast("double"),
            2,
        ).alias("revenue")
    )


@query(
    "tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey AS l_orderkey,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(8,4)) - CAST(l.l_discount AS DECIMAL(8,4)))) AS DOUBLE), 2) AS revenue,
           o.o_orderdate AS o_orderdate,
           o.o_orderpriority AS o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("scale", "J"),
    bench=True,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale workload: TPC-H Q3-shaped two-join + agg + top-k.

    customer is broadcast (small dim); orders⋈lineitem shuffles on the
    orderkey; top-10 via TakeOrderedAndProject with a total order.
    """
    # spread=False on both big tables: same rationale as q5 — orders
    # feeds a broadcast build, lineitem only probes broadcast hashes
    # before its agg exchange (r15 A/B: noop 1.17—1.26s → 0.79s).
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders", spread=False).filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem", spread=False).filter(
        F.col("l_shipdate") > cutoff
    )
    one = F.lit(1).cast("decimal(8,4)")
    joined = li.join(
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]),
        li["l_orderkey"] == orders["o_orderkey"],
    )
    agg = joined.groupBy(
        li["l_orderkey"].alias("l_orderkey"),
        orders["o_orderdate"].alias("o_orderdate"),
        orders["o_orderpriority"].alias("o_orderpriority"),
    ).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (one - F.col("l_discount").cast("decimal(8,4)"))
            ).cast("double"),
            2,
        ).alias("revenue")
    )
    return topk(
        agg,
        [F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc()],
        10,
    ).select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")


def _sql_profile_col(table: str, col: str, canon_min: str, canon_max: str) -> str:
    return f"""
      SELECT '{col}' AS column, count(*) AS n_rows,
             (count(*) - count({col}))::BIGINT AS n_nulls,
             count(DISTINCT {col}) AS n_distinct,
             {canon_min} AS min_value, {canon_max} AS max_value
      FROM {table}
    """


def _sql_profile(table: str, cols: list[tuple[str, str]]) -> str:
    parts = []
    for col, kind in cols:
        if kind == "double":
            cmin = f"round(min({col}), 6)::DECIMAL(18,6)::VARCHAR"
            cmax = f"round(max({col}), 6)::DECIMAL(18,6)::VARCHAR"
        elif kind == "ts":
            cmin = f"strftime(min({col}), '%Y-%m-%d %H:%M:%S')"
            cmax = f"strftime(max({col}), '%Y-%m-%d %H:%M:%S')"
        else:
            cmin, cmax = f"min({col})::VARCHAR", f"max({col})::VARCHAR"
        parts.append(_sql_profile_col(table, col, cmin, cmax))
    return " UNION ALL ".join(parts)


@query(
    "util_profile_orders",
    _sql_profile(
        "orders",
        [
            ("o_orderkey", "int"),
            ("o_custkey", "int"),
            ("o_orderstatus", "str"),
            ("o_totalprice", "double"),
            ("o_orderdate", "ts"),
            ("o_orderpriority", "str"),
        ],
    ),
    tags=("util", "profile"),
)
def util_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table: nulls / exact distinct
    / canonical min-max for every column in ONE aggregation pass
    (operators/profile.py); the oracle recomputes each column's stats
    independently."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"))


@query(
    "s2_scd2_changelog_history",
    """
    SELECT event_id, user_id, ts, value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM events
    """,
    tags=("S2", "A3", "scd2", "cdc"),
)
def s2_scd2_changelog_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 expansion of the changelog (operators/scd.py): every
    version gets (valid_from, valid_to, is_current) via one window
    pass — the as-of-time counterpart of the latest-per-key TABLE;
    its is_current slice equals `s2_a3_table_latest_per_key` by
    construction (same order + tiebreak)."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.scd import scd2_history

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    return scd2_history(ev, ["user_id"], "ts", tiebreak="event_id")


@query(
    "util_heavy_hitters_lineitem",
    """
    SELECT l_suppkey AS key, count(*) AS n,
           round(count(*)::DOUBLE / (SELECT count(*) FROM lineitem), 6) AS share
    FROM lineitem GROUP BY l_suppkey
    ORDER BY n DESC, key LIMIT 10
    """,
    tags=("util", "skew"),
)
def util_heavy_hitters_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic: the top-10 heaviest join/shuffle keys with
    their share of the table — the number you check BEFORE deciding on
    salting/AQE-skew handling for a 100 TB join. One agg + broadcast
    scalar + TakeOrderedAndProject; never sorts the full key set."""
    li = load_table(spark, sf_dir, "lineitem")
    total = li.agg(F.count(F.lit(1)).alias("_total"))
    per_key = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    shared = per_key.crossJoin(F.broadcast(total)).select(
        "key",
        "n",
        F.round(F.col("n").cast("double") / F.col("_total"), 6).alias("share"),
    )
    return topk(shared, [F.col("n").desc(), F.col("key").asc()], 10)


@query(
    "util_profile_documents",
    _sql_profile(
        "documents",
        [
            ("doc_id", "int"),
            ("text", "str"),
            ("lang", "str"),
            ("source", "str"),
            ("n_chars", "int"),
        ],
    ),
    tags=("util", "profile"),
)
def util_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiler over the string-heavy documents table (the corpus a
    curation run lands first) — same one-pass plan as the orders
    profile."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "documents"))


@query(
    "skew_salted_join_lineitem_supplier",
    """
    SELECT l.l_suppkey AS suppkey, s.s_name AS s_name,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(l.l_extendedprice) AS DOUBLE), 2) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
    """,
    tags=("util", "skew", "J"),
    bench=True,
)
def skew_salted_join_lineitem_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end skew-aware join gated against the unsalted oracle:
    the heavy-hitters diagnostic (util_heavy_hitters_lineitem) feeds
    the chooser — its top keys route through the salted path (hot keys
    spread over 8 reducers against a replicated dim slice,
    operators/skew.py:salted_join) while the cold tail takes the plain
    shuffle join; hot ∪ cold must hash-match the ordinary join+agg.
    At 100 TB this is the manual fix when one celebrity key funnels a
    reducer and the dim is too large to broadcast whole; only the
    bounded top-N hot KEY LIST ever reaches the driver.
    """
    from kafka_cdc_elasticsearch_pipeline_spark.operators.skew import (
        hot_keys,
        skew_aware_join,
    )

    # spread=False: both consumers (the hot-keys diagnostic agg and
    # the salted/cold join) bring their own suppkey exchanges; the
    # round-robin re-shipped 600k rows first (r15 A/B: 1.18—1.32s →
    # 0.77—0.91s).
    li = load_table(spark, sf_dir, "lineitem", spread=False).select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    hot = hot_keys(li, "l_suppkey", top_n=10, min_share=0.0001)
    joined = skew_aware_join(li, sup, "l_suppkey", "s_suppkey", hot, salt_buckets=8)
    return joined.groupBy(
        F.col("l_suppkey").alias("suppkey"), F.col("s_name").alias("s_name")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2)
        .alias("revenue"),
    )


@query(
    "lake_versioned_merge_latest",
    _LATEST_SQL,
    tags=("S2", "T5", "lake", "txnlog"),
    # Benched so the txn-log merge commit carries a tracked number
    # (r04 verdict #6).
    bench=True,
)
@query(
    "lake_cdc_upsert_compaction", _LATEST_SQL, tags=("S2", "A3", "T5", "lake"), bench=True
)
def lake_cdc_upsert_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upserts compacted into a lake table (sources/lakelog.py
    ``merge_apply_cdc``; the batches carry no op column, so every row
    upserts): the events changelog applied as three successive MERGE
    commits (snapshot ∪ batch → latest-per-key) must leave the table
    identical to one latest-per-key pass over the full log — the
    associativity that lets a 100 TB lake ingest CDC incrementally
    and still equal the batch rebuild. Same oracle as the TABLE
    materialization (s2_a3_table_latest_per_key).

    Also registered as ``lake_versioned_merge_latest``, the name of
    its former byte-identical twin: each batch is an atomic manifest
    commit over immutable data files (versions 1..3), so a crash
    mid-commit leaves the table at its previous version."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # spread=False: each change batch goes straight into the MERGE's
    # own hash exchange (latest-per-key agg) — the parallelism
    # round-robin would be a third exchange per merge with only a
    # trivial pmod filter between scan and agg (measured r15: the
    # 3-merge chain 1.78s → 1.03s without it).
    ev = _events(spark, sf_dir, spread=False)
    with tempfile.TemporaryDirectory(prefix="lake_upsert_") as tmp:
        table = f"{tmp}/events_table"
        for i in range(3):
            lakelog.merge_apply_cdc(
                spark,
                table,
                ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
                ["user_id"],
                "ts",
                tiebreak="event_id",
            )
        return lakelog.read(spark, table).select(*EVENT_COLS).localCheckpoint()


@query(
    "lake_append_log_compaction",
    f"""
    SELECT {', '.join(EVENT_COLS)} FROM events
    """,
    tags=("S2", "lake", "txnlog", "append", "compaction"),
)
def lake_append_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The append-only ingest shape a 100 TB event log actually runs:
    four micro-batches land as O(delta) APPEND commits (each version
    references the parent's immutable data dirs plus one new delta
    dir — the commit writes the batch, never the table), then
    ``compact`` rewrites the snapshot into one dir (Delta OPTIMIZE
    twin) as version 5. Reading the compacted head must equal the full
    events table — compaction changes layout, never content; versions
    1-4 stay time-travel-readable until vacuum."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # spread=False: the change batches feed the merge/commit's own
    # hash exchange (see lake_cdc_upsert_compaction, r15).
    ev = _events(spark, sf_dir, spread=False)
    with tempfile.TemporaryDirectory(prefix="lake_append_") as tmp:
        table = f"{tmp}/events_log"
        for i in range(4):
            lakelog.append_commit(
                spark, table, ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
            )
        lakelog.compact(spark, table)
        return lakelog.read(spark, table).select(*EVENT_COLS).localCheckpoint()


@query(
    "lake_skipping_pruned_scan",
    f"""
    SELECT {_EVENT_COLS_SQL} FROM events
    WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
    """,
    tags=("S2", "lake", "txnlog", "data-skipping"),
)
def lake_skipping_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level data skipping (lakelog ``stat_cols`` — the
    Delta/Iceberg pattern): four weekly micro-batches land as append
    commits that each record per-FILE [min, max] of ``ts`` in the
    manifest (one O(delta) aggregate per commit, the table is never
    rescanned). A reader asking for the last week prunes every file
    whose recorded ts range cannot match BEFORE Spark lists or
    schedules it — at 100 TB that is the difference between planning
    over millions of files and over one week's worth; parquet
    row-group stats still apply inside survivors. The query asserts
    files were actually skipped (the weekly batches make old files
    provably out of range), and the result must equal a plain filtered
    scan of the full events table."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # spread=False: the change batches feed the merge/commit's own
    # hash exchange (see lake_cdc_upsert_compaction, r15).
    ev = _events(spark, sf_dir, spread=False)
    bounds = ["2024-01-08", "2024-01-15", "2024-01-22"]
    cut = "2024-01-22 00:00:00"
    with tempfile.TemporaryDirectory(prefix="lake_skip_") as tmp:
        table = f"{tmp}/events_log"
        batches = [
            ev.filter(F.col("ts") < bounds[0]),
            ev.filter((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
            ev.filter((F.col("ts") >= bounds[1]) & (F.col("ts") < bounds[2])),
            ev.filter(F.col("ts") >= bounds[2]),
        ]
        for b in batches:
            lakelog.append_commit(spark, table, b, stat_cols=["ts"])
        manifest = lakelog.read_manifest(table, lakelog.latest_version(table))
        kept, skipped = lakelog.plan_scan(table, manifest, [("ts", ">=", cut)])
        assert skipped > 0, "stats should refute every pre-cut file"
        return (
            lakelog.read(spark, table, where=[("ts", ">=", cut)])
            .select(*EVENT_COLS)
            .localCheckpoint()
        )


@query(
    "lake_metadata_only_stats",
    """
    SELECT count(*) AS n_rows, min(ts) AS min_ts, max(ts) AS max_ts FROM events
    """,
    tags=("S2", "lake", "txnlog", "metadata-only"),
)
def lake_metadata_only_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation (lakelog.metadata_stats — Delta's
    COUNT(*)-from-the-log optimization): COUNT/MIN/MAX answered from
    the manifest's per-file stats WITHOUT opening one data file — the
    commits already paid the O(delta) stat aggregates, so 'how many
    rows, what date range?' is a driver-side JSON read at any table
    size. The result must equal the full-scan aggregate over events;
    stat-less snapshots raise instead of guessing (pinned in
    tests/test_lakelog_skipping.py)."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # spread=False: the change batches feed the merge/commit's own
    # hash exchange (see lake_cdc_upsert_compaction, r15).
    ev = _events(spark, sf_dir, spread=False)
    with tempfile.TemporaryDirectory(prefix="lake_meta_") as tmp:
        table = f"{tmp}/events_log"
        for i in range(4):
            lakelog.append_commit(
                spark,
                table,
                ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i),
                stat_cols=["ts"],
            )
        stats = lakelog.metadata_stats(table, cols=["ts"])
        mn, mx = stats["cols"]["ts"]
        return spark.range(1).select(
            F.lit(stats["n_rows"]).cast("bigint").alias("n_rows"),
            F.lit(mn).cast("timestamp").alias("min_ts"),
            F.lit(mx).cast("timestamp").alias("max_ts"),
        )


@query(
    "lake_bloom_point_lookup",
    f"""
    SELECT {_EVENT_COLS_SQL} FROM events WHERE event_id = 4242
    """,
    tags=("S2", "P8", "lake", "bloom"),
)
def lake_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through per-file BLOOM filters: event_id is
    hash-distributed across the four appended batches, so every file's
    [min, max] spans the whole id domain and range stats prune NOTHING
    — the situation every high-cardinality key (doc id, user id) is in
    on an unclustered table. The bloom bitmaps recorded at commit time
    prove absence for the files that cannot hold the key (false
    negatives impossible, false positives just scan); the query
    asserts range stats alone keep everything while bloom pruning
    actually skips files, then returns the looked-up row, which must
    equal the plain filtered scan."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # spread=False: the change batches feed the merge/commit's own
    # hash exchange (see lake_cdc_upsert_compaction, r15).
    ev = _events(spark, sf_dir, spread=False)
    with tempfile.TemporaryDirectory(prefix="lake_bloom_") as tmp:
        table = f"{tmp}/events_log"
        for i in range(4):
            lakelog.append_commit(
                spark,
                table,
                ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i).coalesce(1),
                stat_cols=["event_id"],
                bloom_cols=["event_id"],
                bloom_m=65536,  # ~26 bits/key at sf0.01 batch sizes
            )
        manifest = lakelog.read_manifest(table, lakelog.latest_version(table))
        _, skipped = lakelog.plan_scan(table, manifest, [("event_id", "==", 4242)])
        assert skipped >= 1, "bloom should refute files without the key"
        return (
            lakelog.read(spark, table, where=[("event_id", "==", 4242)])
            .select(*EVENT_COLS)
            .localCheckpoint()
        )


@query(
    "lake_purge_user_rows",
    f"""
    SELECT {_EVENT_COLS_SQL} FROM events WHERE user_id <> 7
    """,
    tags=("S2", "lake", "txnlog", "purge", "gdpr"),
)
def lake_purge_user_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style targeted delete (lakelog.purge_rows): the events log
    lands as four micro-batch appends partitioned by user hash, so
    user 7's rows live in exactly ONE data directory; the purge
    rewrites that directory alone — the per-file bloom index PROVES
    the other three clean and they are inherited by reference
    (asserted). At 100 TB this is the difference between rewriting a
    table and rewriting the few micro-batches a user ever touched.
    Reading the purged head must equal events minus the user;
    deletion completes at vacuum (prior versions still time-travel,
    by design)."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # spread=False: the change batches feed the merge/commit's own
    # hash exchange (see lake_cdc_upsert_compaction, r15).
    ev = _events(spark, sf_dir, spread=False)
    with tempfile.TemporaryDirectory(prefix="lake_purge_") as tmp:
        table = f"{tmp}/events_log"
        for i in range(4):
            lakelog.append_commit(
                spark,
                table,
                ev.filter(F.pmod(F.col("user_id"), F.lit(4)) == i).coalesce(1),
                stat_cols=["user_id"],
                bloom_cols=["user_id"],
                bloom_m=65536,
            )
        _, rewritten, inherited = lakelog.purge_rows(
            spark, table, "user_id", [7],
            stat_cols=["user_id"], bloom_cols=["user_id"], bloom_m=65536,
        )
        assert rewritten == 1 and inherited == 3, (rewritten, inherited)
        return (
            lakelog.read(spark, table).select(*EVENT_COLS).localCheckpoint()
        )


@query(
    "lake_change_feed_incremental",
    f"SELECT {_EVENT_COLS_SQL} FROM events",
    tags=("S2", "S3", "T5", "lake", "txnlog", "change-feed"),
)
def lake_change_feed_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake as a STREAM SOURCE (lakelog.read_changes — Delta's
    change-data-feed reduced to the append case): a consumer polls the
    log by version, reading only the delta directories each commit
    added — (0→1], (1→3], (3→4] here — and the union of its increments
    must equal the full table, with no row seen twice and no rescan
    ever. This closes stream/table duality in the other direction:
    CDC streams INTO the lake, training jobs stream OUT of it by
    checkpointed version. Non-additive commits (merge/compact/purge)
    make the reader refuse rather than guess (unit-pinned)."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # spread=False: the change batches feed the merge/commit's own
    # hash exchange (see lake_cdc_upsert_compaction, r15).
    ev = _events(spark, sf_dir, spread=False)
    with tempfile.TemporaryDirectory(prefix="lake_cdf_") as tmp:
        table = f"{tmp}/events_log"
        for i in range(4):
            lakelog.append_commit(
                spark, table, ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
            )
        feed = (
            lakelog.read_changes(spark, table, 0, 1)
            .unionByName(lakelog.read_changes(spark, table, 1, 3))
            .unionByName(lakelog.read_changes(spark, table, 3, 4))
        )
        return feed.select(*EVENT_COLS).localCheckpoint()


@query(
    "lake_schema_evolution_read",
    f"""
    SELECT event_id, ts, user_id, event_type, value,
           CASE WHEN event_id % 2 = 0 THEN NULL ELSE props END AS props
    FROM events
    """,
    tags=("S2", "lake", "txnlog", "schema-evolution"),
)
def lake_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the lake (Delta mergeSchema parity): the
    first producer generation lands WITHOUT the ``props`` column, a
    later generation adds it; ``read(merge_schema=True)`` resolves the
    union schema across footers and old files surface ``props`` as
    NULL — no rewrite of historical data, which at 100 TB is the only
    acceptable cost for adding a column. The oracle models exactly
    that: even-id rows (generation 1) have NULL props."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # spread=False: the change batches feed the merge/commit's own
    # hash exchange (see lake_cdc_upsert_compaction, r15).
    ev = _events(spark, sf_dir, spread=False)
    with tempfile.TemporaryDirectory(prefix="lake_schevo_") as tmp:
        table = f"{tmp}/events_log"
        gen1 = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0).drop("props")
        gen2 = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
        lakelog.append_commit(spark, table, gen1)
        lakelog.append_commit(spark, table, gen2)
        return (
            lakelog.read(spark, table, merge_schema=True)
            .select(*EVENT_COLS)
            .localCheckpoint()
        )


@query(
    "lake_cdc_deletes_tombstone_read",
    f"""
    SELECT {', '.join(EVENT_COLS)}
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("S2", "S4", "T5", "lake", "cdc-delete"),
)
def lake_cdc_deletes_tombstone_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC DELETES through the lake MERGE: 'error' events stand in for
    Debezium op='d' rows. The batches carry no op column, so
    ``lakelog.merge_apply_cdc`` stores a winning delete as a
    TOMBSTONE (a normal last-write-wins row) rather than physically
    removing the key — physical removal would lose the delete's
    (ts, event_id) position and let a late-arriving OLDER update
    resurrect the row on a later merge (the classic tombstone-
    retention problem; see lake.active_rows). The active view filters
    tombstones at read; the oracle is latest-per-key over the full
    changelog minus keys whose LATEST change is a delete. Batches are
    applied out of key order (pmod split), so cross-batch
    delete-vs-update ordering is genuinely exercised."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.sources.lake import active_rows

    # spread=False: the change batches feed the merge/commit's own
    # hash exchange (see lake_cdc_upsert_compaction, r15).
    ev = _events(spark, sf_dir, spread=False)
    with tempfile.TemporaryDirectory(prefix="lake_del_") as tmp:
        table = f"{tmp}/events_table"
        for i in range(3):
            lakelog.merge_apply_cdc(
                spark,
                table,
                ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
                ["user_id"],
                "ts",
                tiebreak="event_id",
            )
        return (
            active_rows(lakelog.read(spark, table), F.col("event_type") == "error")
            .select(*EVENT_COLS)
            .localCheckpoint()
        )


@query(
    "lake_time_travel_version2",
    f"""
    SELECT {_EVENT_COLS_SQL}
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE event_id % 3 < 2
    )
    WHERE rn = 1
    """,
    tags=("S2", "T5", "lake", "txnlog", "time-travel"),
)
def lake_time_travel_version2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: after three versioned MERGEs, read the table AS OF
    version 2 — exactly the snapshot after the first two change
    batches (the oracle recomputes latest-per-key over events with
    event_id % 3 < 2). This is what makes a training corpus
    reproducible: 'the corpus we trained on' is an addressable
    version, immutable under later ingests."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # spread=False: the change batches feed the merge/commit's own
    # hash exchange (see lake_cdc_upsert_compaction, r15).
    ev = _events(spark, sf_dir, spread=False)
    with tempfile.TemporaryDirectory(prefix="lake_tt_") as tmp:
        table = f"{tmp}/events_table"
        for i in range(3):
            lakelog.merge_apply_cdc(
                spark,
                table,
                ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
                ["user_id"],
                "ts",
                tiebreak="event_id",
            )
        assert lakelog.latest_version(table) == 3
        return (
            lakelog.read(spark, table, version=2)
            .select(*EVENT_COLS)
            .localCheckpoint()
        )


@query(
    "lake_ivm_incremental_agg",
    """
    SELECT event_type AS channel, count(*) AS n_rows,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    GROUP BY event_type
    """,
    tags=("S2", "T5", "lake", "txnlog", "ivm", "cdf"),
)
def lake_ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the row-level CHANGE DATA FEED
    (Delta CDF pattern, sources/lakelog.py `merge_apply_cdc`): three
    CDC merge commits each stage their exact signed row deltas
    (insert / update_preimage / update_postimage) alongside the
    snapshot, and a per-channel count+sum view is maintained by
    folding ONLY those deltas — O(changed rows) per commit, the base
    table is never re-aggregated (operators/ivm.py). The oracle
    recomputes the same aggregate from the final snapshot, so any
    missed/duplicated/missigned delta shows up as a value mismatch.

    At 100 TB: a downstream freshness job reads a commit's change dir
    (batch-sized) instead of the table; updates subtract their exact
    preimage, so the view is right even when a user's latest event
    switches channels."""
    import tempfile

    from kafka_cdc_elasticsearch_pipeline_spark.operators.ivm import (
        delta_aggregate,
        ivm_merge,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # spread=False: the change batches feed the merge/commit's own
    # hash exchange (see lake_cdc_upsert_compaction, r15).
    ev = _events(spark, sf_dir, spread=False)
    with tempfile.TemporaryDirectory(prefix="lake_ivm_") as tmp:
        table = f"{tmp}/events_table"
        view = None
        for i in range(3):
            lakelog.merge_apply_cdc(
                spark,
                table,
                ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
                ["user_id"],
                "ts",
                tiebreak="event_id",
            )
            feed = lakelog.read_row_changes(spark, table, i, i + 1)
            view = ivm_merge(
                view,
                delta_aggregate(feed, ["event_type"], ["value"]),
                ["event_type"],
            )
        return view.select(
            F.col("event_type").alias("channel"),
            F.col("n_rows"),
            F.round(F.col("sum_value").cast("double"), 2).alias("total_value"),
        ).localCheckpoint()
