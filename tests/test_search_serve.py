"""ES aggregations + sort-by-field compiler (extensions/search_serve.py):
one-rollup agg plans, grouping-id null discipline, per-parent terms
truncation with ES ordering, the nested envelope, and metadata sort
ranking — the unit layer under the /search REST surface (the
cross-engine value hashes live in the ext_search_aggs_* /
ext_search_sort_* gate rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
    search_serve as serve,
)


@pytest.fixture(scope="module")
def frame(spark):
    """Hand-built metadata frame with a genuinely-NULL lang doc and a
    doc_count tie, so the ES edge semantics are pinned on knowable
    rows: day1 = 2×en, 1×de, 1×NULL; day2 = 1×en, 1×fr (tie)."""
    rows = [
        (0, "2024-01-01 01:00:00", "en", 10),
        (1, "2024-01-01 02:00:00", "en", 20),
        (2, "2024-01-01 03:00:00", "de", 30),
        (3, "2024-01-01 04:00:00", None, 40),
        (4, "2024-01-02 01:00:00", "en", 50),
        (5, "2024-01-02 02:00:00", "fr", 60),
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, ts_s string, lang string, n_chars bigint"
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "lang", "n_chars")


SPEC = {
    "by_day": {
        "date_histogram": {"field": "ts", "fixed_interval": "1d"},
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang", "size": 1},
                "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}},
            }
        },
    },
    "total_chars": {"sum": {"field": "n_chars"}},
}


def test_flat_levels_null_keys_and_truncation(frame):
    flat = serve.aggs_flat(frame, SPEC)
    rows = {
        (r["depth"], str(r["by_day"]), r["by_lang"]): r.asDict()
        for r in flat.collect()
    }
    # depth 0: whole match set + the top-level metric
    root = rows[(0, "None", None)]
    assert root["doc_count"] == 6 and root["total_chars"] == 210
    # depth 1: the NULL-lang doc still counts in its day bucket
    assert rows[(1, "2024-01-01 00:00:00", None)]["doc_count"] == 4
    assert rows[(1, "2024-01-02 00:00:00", None)]["doc_count"] == 2
    # top-level metric only lives at depth 0
    assert rows[(1, "2024-01-01 00:00:00", None)]["total_chars"] is None
    # depth 2, size=1: day1 keeps en (count 2); day2's 1-1 tie breaks
    # by key asc (ES terms order: doc_count desc, key asc) → en
    d2 = {k: v for k, v in rows.items() if k[0] == 2}
    assert set(d2) == {
        (2, "2024-01-01 00:00:00", "en"),
        (2, "2024-01-02 00:00:00", "en"),
    }
    assert d2[(2, "2024-01-01 00:00:00", "en")]["avg_chars"] == 15.0
    assert d2[(2, "2024-01-02 00:00:00", "en")]["avg_chars"] == 50.0


def test_nested_envelope_and_sum_other(frame):
    out = serve.aggs_nested(frame, SPEC)
    assert out["total_chars"] == {"value": 210}
    days = out["by_day"]["buckets"]
    assert [d["key_as_string"] for d in days] == [
        "2024-01-01T00:00:00.000Z", "2024-01-02T00:00:00.000Z",
    ]
    assert days[0]["key"] == 1704067200000  # epoch ms, ES date key
    d1 = days[0]["by_lang"]
    # day1: en kept (2 docs); de truncated → sum_other 1; the
    # NULL-lang doc is in NO bucket and NOT in sum_other (ES: missing
    # field docs land nowhere) though it counts in the day bucket
    assert days[0]["doc_count"] == 4
    assert [b["key"] for b in d1["buckets"]] == ["en"]
    assert d1["buckets"][0]["doc_count"] == 2
    assert d1["buckets"][0]["avg_chars"] == {"value": 15.0}
    assert d1["sum_other_doc_count"] == 1
    # day2: tie kept en, truncated fr
    assert days[1]["by_lang"]["sum_other_doc_count"] == 1


def test_metrics_only_no_buckets(frame):
    out = serve.aggs_nested(
        frame,
        {
            "mx": {"max": {"field": "n_chars"}},
            "n": {"value_count": {"field": "lang"}},
        },
    )
    # value_count counts NON-NULL values (ES), not rows
    assert out == {"mx": {"value": 60}, "n": {"value": 5}}


def test_empty_match_set(frame):
    out = serve.aggs_nested(frame.filter(F.lit(False)), SPEC)
    assert out["by_day"]["buckets"] == []
    # ES's arithmetic contract (round 14): sum over zero docs serves
    # 0.0, not null — consumers add it
    assert out["total_chars"]["value"] == 0.0


def test_calendar_interval_equals_fixed_day(frame):
    cal = serve.aggs_flat(
        frame,
        {"d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
    )
    fixed = serve.aggs_flat(
        frame,
        {"d": {"date_histogram": {"field": "ts", "fixed_interval": "1d"}}},
    )
    assert sorted(map(str, cal.collect())) == sorted(map(str, fixed.collect()))


def test_histogram_buckets(frame):
    out = serve.aggs_nested(
        frame, {"h": {"histogram": {"field": "n_chars", "interval": 25.0}}}
    )
    assert [(b["key"], b["doc_count"]) for b in out["h"]["buckets"]] == [
        (0.0, 2), (25.0, 2), (50.0, 2),
    ]


def test_percentiles_multi(frame):
    out = serve.aggs_nested(
        frame,
        {"p": {"percentiles": {"field": "n_chars", "percents": [25, 50, 75]}}},
    )
    # exact linear interpolation over 10..60 (DuckDB quantile_cont twin)
    assert out["p"]["values"] == {"25.0": 22.5, "50.0": 35.0, "75.0": 47.5}


@pytest.mark.parametrize(
    "spec,msg",
    [
        ({"a": {"terms": {"field": "lang"}},
          "b": {"terms": {"field": "lang2"}}}, "one bucket aggregation"),
        ({"a": {"terms": {"field": "nope"}}}, "not in the mounted"),
        ({"a": {"bogus": {"field": "lang"}}}, "unsupported agg type"),
        ({"a": {"terms": {"field": "lang"}, "aggs": {
            "m": {"avg": {"field": "n_chars"}, "aggs": {}}}}},
         "cannot have sub-aggs"),
        ({"doc_count": {"terms": {"field": "lang"}}}, "reserved"),
        ({"a": {"terms": {"field": "lang", "size": 0}}}, "positive integer"),
        ({"a": {"date_histogram": {"field": "ts"}}}, "exactly one of"),
        ({"a": {"date_histogram": {"field": "ts",
                                   "fixed_interval": "2w"}}},
         "fixed_interval"),
        ({"a": {"percentiles": {"field": "n_chars", "percents": []}}},
         "percents"),
        ({"lang": {"terms": {"field": "lang"},
                   "aggs": {"n": {"value_count": {"field": "lang"}}}}},
         "collides with a metric field"),
        ({"a": {"terms": {"field": "lang"},
                "aggs": {"a2": {"avg": {"field": "n_chars"}}}},
          "dup": {"avg": {"field": "n_chars"}}},
         None),  # sibling metric next to a bucket at top level is FINE
    ],
)
def test_parse_aggs_validation(frame, spec, msg):
    if msg is None:
        serve.parse_aggs(spec, frame.columns)
        return
    with pytest.raises(ValueError, match=msg):
        serve.parse_aggs(spec, frame.columns)


def test_bucket_cap(frame, monkeypatch):
    monkeypatch.setattr(serve, "MAX_BUCKETS", 3)
    with pytest.raises(ValueError, match="more than 3 buckets"):
        serve.aggs_nested(
            frame, {"t": {"terms": {"field": "doc_id", "size": 100}}}
        )


# --- sorted_rank -------------------------------------------------------------


def test_sorted_rank_nulls_and_missing_meta(spark, frame):
    hits = spark.createDataFrame(
        [(0, 0, 1.0), (0, 3, 2.0), (0, 5, 3.0), (0, 99, 4.0)],
        "query_id bigint, doc_id bigint, _score double",
    )
    # sort by lang asc: de/en sort first, NULL lang (doc 3) sorts
    # last-but-before the hit MISSING from the metadata (doc 99 —
    # left join keeps it, null keys, final doc_id tiebreak)
    ranked = serve.sorted_rank(
        hits, frame, [("lang", True)], k=10
    ).orderBy("rank").collect()
    assert [r.doc_id for r in ranked] == [0, 5, 3, 99]
    assert [r.rank for r in ranked] == [1, 2, 3, 4]
    # desc: nulls STILL last (ES missing:_last), doc_id asc tiebreak
    ranked = serve.sorted_rank(
        hits, frame, [("lang", False)], k=10
    ).orderBy("rank").collect()
    assert [r.doc_id for r in ranked] == [5, 0, 3, 99]


def test_sorted_rank_cut_and_sort_values(spark, frame):
    hits = spark.createDataFrame(
        [(0, i, float(i)) for i in range(6)] + [(1, 0, 9.0)],
        "query_id bigint, doc_id bigint, _score double",
    )
    ranked = serve.sorted_rank(hits, frame, [("ts", False)], k=2)
    rows = ranked.orderBy("query_id", "rank").collect()
    # per-query window: query 0 cut to 2, query 1 keeps its 1
    assert [(r.query_id, r.doc_id) for r in rows] == [(0, 5), (0, 4), (1, 0)]
    # the sort-key values ride along for ES's per-hit "sort" array
    assert str(rows[0]._sort_0) == "2024-01-02 02:00:00"


def test_parse_sort_validation(frame):
    with pytest.raises(ValueError, match="non-empty list"):
        serve.parse_sort({}, frame.columns)
    with pytest.raises(ValueError, match="'field' string"):
        serve.parse_sort([{"order": "asc"}], frame.columns)
    with pytest.raises(ValueError, match="asc.*desc"):
        serve.parse_sort([{"field": "ts", "order": "up"}], frame.columns)
    with pytest.raises(ValueError, match="not in the mounted"):
        serve.parse_sort([{"field": "nope"}], frame.columns)
    assert serve.parse_sort(
        [{"field": "ts", "order": "desc"}, {"field": "lang"}],
        frame.columns,
    ) == [("ts", False), ("lang", True)]


def test_range_buckets_and_cardinality(frame):
    out = serve.aggs_nested(
        frame,
        {
            "r": {
                "range": {
                    "field": "n_chars",
                    "ranges": [
                        {"to": 25},
                        {"from": 25, "to": 55},
                        {"from": 55},
                    ],
                },
                "aggs": {"langs": {"cardinality": {"field": "lang"}}},
            }
        },
    )
    buckets = out["r"]["buckets"]
    # ordered by from asc, ES key grammar, from/to echoed, [from,to)
    assert [b["key"] for b in buckets] == ["*-25.0", "25.0-55.0", "55.0-*"]
    assert buckets[0] == {
        "key": "*-25.0", "to": 25.0, "doc_count": 2,
        "langs": {"value": 1},  # docs 10 & 20 are both en — EXACT distinct
    }
    assert buckets[1]["doc_count"] == 3  # n_chars 30, 40, 50
    assert buckets[1]["langs"]["value"] == 2  # de, en (NULL lang excluded)
    assert buckets[2] == {
        "key": "55.0-*", "from": 55.0, "doc_count": 1,
        "langs": {"value": 1},
    }


def test_range_validation(frame):
    with pytest.raises(ValueError, match="disjoint"):
        serve.parse_aggs(
            {"r": {"range": {"field": "n_chars",
                             "ranges": [{"to": 30}, {"from": 20}]}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="'from' must be <"):
        serve.parse_aggs(
            {"r": {"range": {"field": "n_chars",
                             "ranges": [{"from": 30, "to": 30}]}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="non-empty"):
        serve.parse_aggs(
            {"r": {"range": {"field": "n_chars", "ranges": []}}},
            frame.columns,
        )


def test_docs_outside_every_range_land_nowhere(frame):
    # only one narrow range: the other docs are in NO bucket but the
    # depth-0 row still counts the whole match set (ES)
    flat = serve.aggs_flat(
        frame,
        {"r": {"range": {"field": "n_chars",
                         "ranges": [{"from": 15, "to": 35}]}}},
    ).collect()
    by_depth = {}
    for r in flat:
        by_depth.setdefault(r["depth"], []).append(r)
    assert by_depth[0][0]["doc_count"] == 6
    assert len(by_depth[1]) == 1 and by_depth[1][0]["doc_count"] == 2


def test_top_level_terms_nothing_truncated(frame):
    """Review finding: a depth-1 terms agg whose field has ≤ size
    distinct values crashed on the NULL sum a zero-column groupBy
    emits for empty truncation input — the COMMON case."""
    out = serve.aggs_nested(
        frame, {"t": {"terms": {"field": "lang", "size": 10}}}
    )
    assert out["t"]["sum_other_doc_count"] == 0
    assert [b["key"] for b in out["t"]["buckets"]] == ["en", "de", "fr"]
    # and the empty-match-set flavor of the same shape
    empty = serve.aggs_nested(
        frame.filter(F.lit(False)),
        {"t": {"terms": {"field": "lang", "size": 2}}},
    )
    assert empty["t"] == {"buckets": [], "sum_other_doc_count": 0}


def test_envelope_is_json_safe_for_date_and_decimal(spark):
    """Review finding: DATE bucket keys and DECIMAL metric values
    reached json.dumps raw and 500d the response."""
    import json

    df = spark.createDataFrame(
        [(0, "2024-01-01", "1.50"), (1, "2024-01-01", "2.50"),
         (2, "2024-01-02", "4.00")],
        "doc_id bigint, d_s string, amt_s string",
    ).select(
        "doc_id",
        F.col("d_s").cast("date").alias("d"),
        F.col("amt_s").cast("decimal(18,2)").alias("amt"),
    )
    out = serve.aggs_nested(
        df,
        {"days": {"terms": {"field": "d", "size": 5},
                  "aggs": {"total": {"sum": {"field": "amt"}}}}},
    )
    json.dumps(out)  # the actual contract: survives the wire
    b = out["days"]["buckets"][0]
    assert b["key"] == 1704067200000 and b["key_as_string"].startswith(
        "2024-01-01"
    )
    assert b["total"] == {"value": 4.0}


def test_aggs_nested_with_total(frame):
    _, total = serve.aggs_nested(
        frame, {"t": {"terms": {"field": "lang"}}}, with_total=True
    )
    assert total == 6
    _, total = serve.aggs_nested(
        frame.filter(F.lit(False)),
        {"t": {"terms": {"field": "lang"}}},
        with_total=True,
    )
    assert total == 0


def test_pin_kill_switch_respected(spark, sf_dir, tmp_path, monkeypatch):
    """SPARK_GRAFT_PIN_REUSED=0 must govern every pin site: the
    registry-lifecycle ``reuse()`` list and the REST layer's
    per-request persist of a bm25 match set (review finding: the REST
    path persisted unconditionally). A served aggregation pins
    nothing either way."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_index as si,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.extensions.search_rest import (
        SearchRestServer,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.operators import caching
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import (
        load_table,
    )

    src, bm25_root = str(tmp_path / "src"), str(tmp_path / "bm25")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lakelog.append_commit(
        spark, src, docs.select("doc_id", "text", F.lit(1).alias("_ts_ms"))
    )
    si.bm25_index_maintain(spark, src, bm25_root)
    server = SearchRestServer(
        spark, bm25_root=bm25_root,
        doc_source=docs.select("doc_id", F.length("text").alias("n")),
    )
    seen: list[int] = []
    real = SearchRestServer._search

    def spy(self, req, pins):
        out = real(self, req, pins)
        seen.append(len(pins))
        return out

    monkeypatch.setattr(SearchRestServer, "_search", spy)
    word = docs.first()["text"].split()[0]
    bm25 = {"mode": "bm25", "query": word, "k": 3,
            "aggs": {"n": {"terms": {"field": "n", "size": 2}}}}
    caching.release_pinned()
    for enabled, pinned in (("0", 0), ("1", 1)):
        monkeypatch.setenv("SPARK_GRAFT_PIN_REUSED", enabled)
        assert server.search(bm25)["aggregations"]["n"]["buckets"]
        assert server.search({"aggs": bm25["aggs"]})["aggregations"]
        assert seen == [pinned, 0]
        seen.clear()
        caching.reuse(spark.range(3))
        assert len(caching._PINNED) == pinned
        caching.release_pinned()


# --- terms truncation: reference-fold property -----------------------------


def _ref_terms(docs: list[dict], levels: list[dict]) -> dict:
    """A pure-Python ES fold of a terms chain over raw rows: per parent,
    group by the level's field (NULL keys in no bucket), drop buckets
    under ``min_doc_count``, order (``_count``/``_key``/the level's
    metric as served — an empty sum is 0, an empty max orders last —
    key asc tiebreak), keep ``size``; the rest is
    ``sum_other_doc_count`` and, with ``other_bucket``, one trailing
    ``'__other__'`` bucket over their docs that carries the deeper
    levels folded the same way."""
    lv, deeper = levels[0], levels[1:]
    groups: dict = {}
    for r in docs:
        if r[lv["field"]] is not None:
            groups.setdefault(r[lv["field"]], []).append(r)

    def metric(rows: list[dict]):
        # a bucket with no values: ES serves an empty sum as 0 and
        # orders on it; an empty max has no value and orders last
        vals = [r["v"] for r in rows if r["v"] is not None]
        if not vals:
            return 0.0 if lv["metric"] == "sum" else None
        return sum(vals) if lv["metric"] == "sum" else max(vals)

    def bucket(key, rows: list[dict]) -> dict:
        out = {"key": key, "doc_count": len(rows),
               lv["name"] + "_m": {"value": metric(rows)}}
        if deeper:
            out[deeper[0]["name"]] = _ref_terms(rows, deeper)
        return out

    cands = [
        (k, rows) for k, rows in sorted(groups.items())
        if len(rows) >= lv["min_doc_count"]
    ]
    key, asc = lv["order"]
    if key == "_key":
        cands.sort(key=lambda kr: kr[0], reverse=not asc)
    elif key == "_count":
        cands.sort(key=lambda kr: len(kr[1]), reverse=not asc)
    else:
        valued = [kr for kr in cands if metric(kr[1]) is not None]
        valued.sort(key=lambda kr: metric(kr[1]), reverse=not asc)
        cands = valued + [kr for kr in cands if metric(kr[1]) is None]
    kept = cands[: lv["size"]]
    kept_keys = {k for k, _ in kept}
    rest = [r for k, rows in groups.items() if k not in kept_keys
            for r in rows]
    buckets = [bucket(k, rows) for k, rows in kept]
    if lv["other_bucket"] and rest:
        buckets.append(bucket("__other__", rest))
    return {"buckets": buckets, "sum_other_doc_count": len(rest)}


def _terms_spec(levels: list[dict]) -> dict:
    lv = levels[0]
    key, asc = lv["order"]
    body = {"field": lv["field"], "size": lv["size"],
            "min_doc_count": lv["min_doc_count"],
            "order": {key: "asc" if asc else "desc"}}
    if lv["other_bucket"]:
        body["other_bucket"] = True
    aggs = {lv["name"] + "_m": {lv["metric"]: {"field": "v"}}}
    if levels[1:]:
        aggs.update(_terms_spec(levels[1:]))
    return {lv["name"]: {"terms": body, "aggs": aggs}}


def _level_strategy(name: str, field: str):
    from hypothesis import strategies as st

    return st.fixed_dictionaries({
        "name": st.just(name),
        "field": st.just(field),
        "size": st.integers(1, 3),
        "min_doc_count": st.integers(1, 3),
        "other_bucket": st.booleans(),
        "metric": st.sampled_from(["sum", "max"]),
        "order": st.tuples(
            st.sampled_from(["_count", "_key", name + "_m"]), st.booleans()
        ),
    })


def _tree_strategy():
    from hypothesis import strategies as st

    outer = _level_strategy("t1", "a")
    inner = _level_strategy("t2", "b").map(
        lambda lv: {**lv, "other_bucket": False}
    )
    return st.one_of(
        st.tuples(outer).map(list), st.tuples(outer, inner).map(list)
    )


def _docs_strategy():
    from hypothesis import strategies as st

    return st.lists(
        st.tuples(
            st.sampled_from([None, "p", "q", "r", "s"]),
            st.sampled_from([None, "x", "y", "z"]),
            st.one_of(st.none(), st.integers(0, 9)),
        ),
        max_size=24,
    )


def test_terms_truncation_matches_reference_fold(spark):
    """``aggs_nested`` over random small doc frames and terms → terms
    trees (``_key``/``_count``/metric order either way,
    ``min_doc_count``, ``other_bucket`` on the outer level) equals a
    pure-Python ES fold of the raw rows — the evidence for the
    non-leaf and ``other_bucket`` branches of the one-plan
    truncation, which no reference dashboard panel exercises."""
    from hypothesis import example, given, settings

    def lv(name, field, size, mdc, other, order):
        return {"name": name, "field": field, "size": size,
                "min_doc_count": mdc, "other_bucket": other,
                "metric": "max", "order": order}

    @settings(max_examples=25, deadline=None, database=None)
    @given(rows=_docs_strategy(), levels=_tree_strategy())
    # a bucket under min_doc_count sorts first by key: it must not
    # take a kept slot, and it folds into __other__
    @example(
        rows=[("p", "x", 1), ("q", "x", 2), ("q", "y", 3), ("r", "z", 4),
              ("r", "z", None)],
        levels=[lv("t1", "a", 1, 2, True, ("_key", True)),
                lv("t2", "b", 1, 1, False, ("t2_m", False))],
    )
    def check(rows, levels):
        df = spark.createDataFrame(rows, "a string, b string, v bigint")
        got = serve.aggs_nested(df, _terms_spec(levels))
        docs = [dict(zip("abv", r)) for r in rows]
        assert got == {"t1": _ref_terms(docs, levels)}

    check()


# --- composite aggregation ----------------------------------------------------


COMP = {
    "size": 3,
    "sources": [
        {"day": {"date_histogram": {"field": "ts", "fixed_interval": "1d"}}},
        {"lang": {"terms": {"field": "lang"}}},
    ],
    "aggs": {"mean": {"avg": {"field": "n_chars"}}},
}


def test_composite_pages_tile_the_bucket_space(frame):
    """after_key paging: walking pages with the returned cursor
    enumerates EXACTLY the buckets one big page holds, in key order —
    the scale path for high-cardinality bucket spaces."""
    pages, after = [], None
    while True:
        body = dict(COMP)
        if after is not None:
            body["after"] = after
        out = serve.composite_nested(frame, body)
        pages.append(out["buckets"])
        if "after_key" not in out:
            break
        after = out["after_key"]
    # ES emits after_key on EVERY non-empty page (a partial final
    # page included) — the walk terminates on the first empty page
    assert pages[-1] == [] and all(p for p in pages[:-1])
    walked = [b for p in pages for b in p]
    whole = serve.composite_nested(frame, {**COMP, "size": 100})["buckets"]
    assert walked == whole
    # key order, composite key shape, epoch-ms dates, metrics riding
    assert [b["key"]["lang"] for b in whole] == ["de", "en", "en", "fr"]
    assert whole[0]["key"]["day"] == 1704067200000
    assert whole[1] == {
        "key": {"day": 1704067200000, "lang": "en"},
        "doc_count": 2,
        "mean": {"value": 15.0},
    }
    # the NULL-lang doc is in no composite bucket (missing_bucket
    # default) — day1 buckets count 1 (de) + 2 (en) of its 4 docs
    assert sum(b["doc_count"] for b in whole) == 5
    # a full final page still reports after_key; the page PAST the
    # end is empty without one (the consumer's stop signal)
    out = serve.composite_nested(frame, {**COMP, "size": 4})
    assert "after_key" in out and out["after_key"] == whole[-1]["key"]
    past = serve.composite_nested(
        frame, {**COMP, "after": out["after_key"]}
    )
    assert past == {"buckets": []}


def test_composite_after_mid_day_seek(frame):
    """Lexicographic seek: after (day1, 'en') must surface day2's
    buckets AND nothing from day1 ≤ 'en'."""
    out = serve.composite_nested(
        frame,
        {**COMP, "after": {"day": 1704067200000, "lang": "en"}},
    )
    assert [(b["key"]["day"], b["key"]["lang"]) for b in out["buckets"]] == [
        (1704153600000, "en"), (1704153600000, "fr"),
    ]


def test_composite_validation(frame):
    with pytest.raises(ValueError, match="non-empty 'sources'"):
        serve.parse_composite({"sources": []}, frame.columns)
    with pytest.raises(ValueError, match="'size' belongs on the composite"):
        serve.parse_composite(
            {"sources": [{"l": {"terms": {"field": "lang", "size": 5}}}]},
            frame.columns,
        )
    with pytest.raises(ValueError, match="unsupported type"):
        serve.parse_composite(
            {"sources": [{"r": {"range": {"field": "n_chars",
                                          "ranges": [{"to": 5}]}}}]},
            frame.columns,
        )
    with pytest.raises(ValueError, match="exactly the source keys"):
        serve.parse_composite(
            {"sources": [{"l": {"terms": {"field": "lang"}}}],
             "after": {"bogus": 1}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="must be a metric"):
        serve.parse_composite(
            {"sources": [{"l": {"terms": {"field": "lang"}}}],
             "aggs": {"t": {"terms": {"field": "lang"}}}},
            frame.columns,
        )


def test_composite_plan_is_one_groupby_with_limit(frame):
    """Scale contract: a composite page is groupBy → seek-filter →
    TakeOrderedAndProject — one shuffle, never a window over the
    whole bucket space, LIMIT enforced in the plan."""
    df = serve.composite_flat(
        frame, {**COMP, "after": {"day": 1704067200000, "lang": "en"}}
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan and "Expand" not in plan


def test_stats_metric(frame):
    out = serve.aggs_nested(
        frame, {"s": {"stats": {"field": "n_chars"}}}
    )
    assert out["s"] == {
        "count": 6, "min": 10, "max": 60, "avg": 35.0, "sum": 210,
    }


def test_min_doc_count_zero_fills_gaps(spark):
    """Kibana's dense-timeline contract: a day with no docs renders as
    a ZERO bucket, not a hole; extended_bounds stretches the axis."""
    df = spark.createDataFrame(
        [(0, "2024-01-01 05:00:00", 10), (1, "2024-01-04 09:00:00", 20)],
        "doc_id bigint, ts_s string, v bigint",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    out = serve.aggs_nested(
        df,
        {"d": {"date_histogram": {"field": "ts", "fixed_interval": "1d",
                                  "min_doc_count": 0},
               "aggs": {"mean": {"avg": {"field": "v"}}}}},
    )
    got = [(b["key_as_string"], b["doc_count"], b["mean"]["value"])
           for b in out["d"]["buckets"]]
    assert got == [
        ("2024-01-01T00:00:00.000Z", 1, 10.0),
        ("2024-01-02T00:00:00.000Z", 0, None),   # interior gaps filled
        ("2024-01-03T00:00:00.000Z", 0, None),
        ("2024-01-04T00:00:00.000Z", 1, 20.0),
    ]
    # extended_bounds stretches past the data (epoch ms, aligned)
    out = serve.aggs_nested(
        df.filter("doc_id = 0"),
        {"d": {"date_histogram": {"field": "ts", "fixed_interval": "1d",
                                  "min_doc_count": 0,
                                  "extended_bounds": {
                                      "min": 1704067200000,
                                      "max": 1704240000000}}}},
    )
    assert [b["doc_count"] for b in out["d"]["buckets"]] == [1, 0, 0]
    # min_doc_count > 1 drops thin buckets instead
    out = serve.aggs_nested(
        df,
        {"d": {"date_histogram": {"field": "ts", "fixed_interval": "1d",
                                  "min_doc_count": 2}}},
    )
    assert out["d"]["buckets"] == []


def test_min_doc_count_zero_histogram_and_month(spark):
    df = spark.createDataFrame(
        [(0, "2024-01-15 00:00:00", 5.0), (1, "2024-04-02 00:00:00", 95.0)],
        "doc_id bigint, ts_s string, v double",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    out = serve.aggs_nested(
        df,
        {"h": {"histogram": {"field": "v", "interval": 25.0,
                             "min_doc_count": 0}}},
    )
    assert [(b["key"], b["doc_count"]) for b in out["h"]["buckets"]] == [
        (0.0, 1), (25.0, 0), (50.0, 0), (75.0, 1),
    ]
    out = serve.aggs_nested(
        df,
        {"m": {"date_histogram": {"field": "ts",
                                  "calendar_interval": "month",
                                  "min_doc_count": 0}}},
    )
    assert [b["key_as_string"][:7] for b in out["m"]["buckets"]] == [
        "2024-01", "2024-02", "2024-03", "2024-04",
    ]


def test_gap_fill_capped(frame, monkeypatch):
    monkeypatch.setattr(serve, "MAX_BUCKETS", 10)
    with pytest.raises(ValueError, match="fill more than 10"):
        serve.aggs_nested(
            frame,
            {"d": {"date_histogram": {"field": "ts",
                                      "fixed_interval": "1h",
                                      "min_doc_count": 0,
                                      "extended_bounds": {
                                          "min": 0,
                                          "max": 1704067200000}}}},
        )


def test_min_doc_count_rejected_on_terms(frame):
    # terms takes min_doc_count ≥ 1 since round 13; 0 would need the
    # index term dictionary the match set does not carry
    with pytest.raises(ValueError, match="full term"):
        serve.parse_aggs(
            {"t": {"terms": {"field": "lang", "min_doc_count": 0}}},
            frame.columns,
        )


def test_top_hits_per_bucket(frame):
    """ES top_hits: example docs per bucket (Kibana's data-table
    primitive) — size cut, sort order, _source projection, truncated
    buckets never computed, root-level variant."""
    out = serve.aggs_nested(
        frame,
        {
            "by_lang": {
                "terms": {"field": "lang", "size": 2},
                "aggs": {
                    "sample": {"top_hits": {
                        "size": 2,
                        "sort": [{"field": "ts", "order": "desc"}],
                        "_source": ["n_chars"],
                    }}
                },
            }
        },
    )
    buckets = {b["key"]: b for b in out["by_lang"]["buckets"]}
    # terms size=2 keeps en (3 docs) and de (1); fr truncated
    assert set(buckets) == {"en", "de"}
    en = buckets["en"]["sample"]["hits"]
    assert en["total"] == 3  # the bucket's doc_count, not the cut
    # newest-first by ts: doc 4 (day2), then doc 1 — doc 0 cut by size
    assert [h["_id"] for h in en["hits"]] == [4, 1]
    assert en["hits"][0]["_source"] == {"n_chars": 50}
    assert en["hits"][0]["sort"][0].startswith("2024-01-02")
    assert buckets["de"]["sample"]["hits"]["hits"] == [
        {"_id": 2, "sort": [buckets["de"]["sample"]["hits"]["hits"][0]["sort"][0]],
         "_source": {"n_chars": 30}},
    ]
    # root-level top_hits over the whole match set
    out = serve.aggs_nested(
        frame,
        {"first": {"top_hits": {"size": 2, "_source": ["lang"]}}},
    )
    assert out["first"]["hits"]["total"] == 6
    assert [h["_id"] for h in out["first"]["hits"]["hits"]] == [0, 1]


def test_top_hits_validation(frame):
    with pytest.raises(ValueError, match="flat bucket frame"):
        serve.aggs_flat(
            frame, {"t": {"top_hits": {"size": 2}}}
        )
    with pytest.raises(ValueError, match="'size' must be an integer"):
        serve.parse_aggs(
            {"t": {"top_hits": {"size": 0}}}, frame.columns
        )
    with pytest.raises(ValueError, match="_source fields"):
        serve.parse_aggs(
            {"t": {"top_hits": {"_source": ["nope"]}}}, frame.columns
        )
    with pytest.raises(ValueError, match="not in the mounted"):
        serve.parse_aggs(
            {"t": {"top_hits": {"sort": [{"field": "nope"}]}}},
            frame.columns,
        )


def test_should_is_optional_with_siblings(frame):
    """ES bool semantics: 'should' REQUIRES a match only when the bool
    has no must/filter sibling (minimum_should_match 1 vs 0) — with a
    sibling it is scoring-only and must not shrink the match set."""
    # sibling filter present: should must NOT exclude en docs
    _, _, pred = serve.parse_query_dsl(
        {"bool": {"filter": [{"term": {"lang": "en"}}],
                  "should": [{"term": {"n_chars": 10}}]}},
        frame,
    )
    assert frame.filter(pred).count() == 3  # all en docs, not just n=10
    # no sibling: should is the requirement (msm=1)
    _, _, pred = serve.parse_query_dsl(
        {"bool": {"should": [{"term": {"lang": "en"}},
                             {"term": {"lang": "de"}}]}},
        frame,
    )
    assert frame.filter(pred).count() == 4  # en×3 + de×1
    # a must MATCH also counts as a required sibling
    texts, _, pred = serve.parse_query_dsl(
        {"bool": {"must": {"match": {"text": "x"}},
                  "should": [{"term": {"lang": "en"}}]}},
        frame.withColumn("text", F.lit("t")),
    )
    assert texts == ["x"] and pred is None  # should dropped, not ANDed


def test_match_object_without_query_is_400(frame):
    with pytest.raises(ValueError, match="'query' key"):
        serve.parse_query_dsl(
            {"match": {"text": {"operator": "and"}}},
            frame.withColumn("text", F.lit("t")),
        )


def test_metric_named_doc_count_rejected(frame):
    with pytest.raises(ValueError, match="reserved"):
        serve.parse_aggs(
            {"by": {"terms": {"field": "lang"},
                    "aggs": {"doc_count": {"stats": {"field": "n_chars"}}}}},
            frame.columns,
        )


def test_gap_fill_budget_across_parents(spark, monkeypatch):
    """The per-parent spine cap cannot see across parents: many kept
    parents × an under-cap spine each must still 400, not fabricate
    millions of envelope buckets."""
    rows = []
    for i in range(12):
        rows.append((2 * i, f"p{i:02d}", "2024-01-01 00:00:00"))
        rows.append((2 * i + 1, f"p{i:02d}", "2024-01-10 00:00:00"))
    df = spark.createDataFrame(
        rows, "doc_id bigint, parent string, ts_s string"
    ).select("doc_id", "parent", F.col("ts_s").cast("timestamp").alias("ts"))
    spec = {"p": {"terms": {"field": "parent", "size": 20},
                  "aggs": {"d": {"date_histogram": {
                      "field": "ts", "fixed_interval": "1d",
                      "min_doc_count": 0}}}}}
    monkeypatch.setattr(serve, "MAX_BUCKETS", 40)
    # 12 parents × 10-day spine = 120 fabricated-ish buckets > 40
    with pytest.raises(ValueError, match="across parents"):
        serve.aggs_nested(df, spec)


def test_kibana_unknown_schema_rejected(frame):
    with pytest.raises(ValueError, match="unsupported Kibana agg schema"):
        serve.kibana_vis_aggs(
            {"aggs": [{"id": "1", "type": "terms", "schema": "split",
                       "params": {"field": "lang"}}]},
        )


# --- round-13: advice fixes ---------------------------------------------------


def test_must_not_keeps_docs_missing_the_field(frame):
    """ES ``must_not`` KEEPS docs missing the field (the clause did
    not match them) — a terms/range/nested-bool clause is SQL-NULL on
    a null field, and an un-coalesced ``~NULL`` silently dropped doc 3
    (lang NULL) from every non-term must_not."""
    for clause in (
        {"terms": {"lang": ["en", "de"]}},
        {"range": {"lang": {"gte": "a"}}},
        {"term": {"lang": "en"}},
        {"bool": {"should": [{"term": {"lang": "en"}},
                             {"term": {"lang": "de"}}]}},
    ):
        _, _, pred = serve.parse_query_dsl(
            {"bool": {"must_not": [clause]}}, frame
        )
        kept = {r.doc_id for r in frame.filter(pred).collect()}
        assert 3 in kept, clause
    # and docs the clause DOES match are excluded
    _, _, pred = serve.parse_query_dsl(
        {"bool": {"must_not": [{"terms": {"lang": ["en", "de"]}}]}}, frame
    )
    assert {r.doc_id for r in frame.filter(pred).collect()} == {3, 5}


def test_gap_filled_counts_serve_zero_not_null(spark):
    """ES serves value_count/cardinality as 0 and stats with count: 0,
    sum: 0.0 on empty (gap-filled) buckets — consumers do arithmetic
    on those fields; avg/min/max stay null."""
    df = spark.createDataFrame(
        [(0, "2024-01-01 05:00:00", 10), (1, "2024-01-03 09:00:00", 20)],
        "doc_id bigint, ts_s string, v bigint",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    out = serve.aggs_nested(
        df,
        {"d": {"date_histogram": {"field": "ts", "fixed_interval": "1d",
                                  "min_doc_count": 0},
               "aggs": {"n": {"value_count": {"field": "v"}},
                        "u": {"cardinality": {"field": "v"}},
                        "s": {"stats": {"field": "v"}},
                        "m": {"avg": {"field": "v"}}}}},
    )
    gap = out["d"]["buckets"][1]
    assert gap["doc_count"] == 0
    assert gap["n"] == {"value": 0}
    assert gap["u"] == {"value": 0}
    assert gap["s"]["count"] == 0 and gap["s"]["sum"] == 0.0
    assert gap["s"]["min"] is None and gap["s"]["avg"] is None
    assert gap["m"]["value"] is None
    # real buckets unaffected
    assert out["d"]["buckets"][0]["n"] == {"value": 1}
    assert out["d"]["buckets"][0]["s"]["sum"] == 10


def test_envelope_fold_is_linear_on_deep_trees(spark):
    """The nested-envelope fold pre-groups the flat rows by (depth,
    parent prefix) once — the per-bucket full-row-list filter it
    replaced was O(|rows|²) driver time, minutes at this size (~1.3e4
    bucket rows across 3 levels). Values are pinned against the
    product construction."""
    import time

    n_a, n_b, n_c = 30, 25, 16  # 30 + 750 + 12000 bucket rows + root
    df = spark.range(n_a * n_b * n_c).select(
        (F.col("id") % n_a).alias("a"),
        ((F.col("id") / n_a).cast("long") % n_b).alias("b"),
        (F.col("id") / (n_a * n_b)).cast("long").alias("c"),
    )
    spec = {"A": {"terms": {"field": "a", "size": n_a}, "aggs": {
        "B": {"terms": {"field": "b", "size": n_b}, "aggs": {
            "C": {"terms": {"field": "c", "size": n_c}}}}}}}
    t0 = time.perf_counter()
    out = serve.aggs_nested(df, spec)
    elapsed = time.perf_counter() - t0
    assert len(out["A"]["buckets"]) == n_a
    a0 = out["A"]["buckets"][0]
    assert a0["doc_count"] == n_b * n_c
    assert all(len(a["B"]["buckets"]) == n_b for a in out["A"]["buckets"])
    c_buckets = a0["B"]["buckets"][0]["C"]["buckets"]
    assert len(c_buckets) == n_c
    assert all(b["doc_count"] == 1 for b in c_buckets)
    assert elapsed < 90, f"envelope fold took {elapsed:.1f}s"


# --- round-13: terms `order` + strict body keys -------------------------------


def test_terms_order_by_key(frame):
    """order {"_key": desc} changes WHICH bucket survives size
    truncation, not just display order (keys de/en/fr → fr wins)."""
    out = serve.aggs_nested(
        frame,
        {"l": {"terms": {"field": "lang", "size": 1,
                         "order": {"_key": "desc"}}}},
    )
    assert [(b["key"], b["doc_count"]) for b in out["l"]["buckets"]] == [
        ("fr", 1)
    ]
    # sum_other covers the truncated en (3) + de (1)
    assert out["l"]["sum_other_doc_count"] == 4
    out = serve.aggs_nested(
        frame,
        {"l": {"terms": {"field": "lang", "size": 2,
                         "order": {"_key": "asc"}}}},
    )
    assert [b["key"] for b in out["l"]["buckets"]] == ["de", "en"]


def test_terms_order_by_count_asc(frame):
    """_count asc surfaces the RAREST terms; count ties break key
    asc (ES)."""
    out = serve.aggs_nested(
        frame,
        {"l": {"terms": {"field": "lang", "size": 2,
                         "order": {"_count": "asc"}}}},
    )
    assert [(b["key"], b["doc_count"]) for b in out["l"]["buckets"]] == [
        ("de", 1), ("fr", 1)
    ]


def test_terms_order_by_metric(frame):
    """Order by a metric sub-agg: avg(n_chars) desc picks fr (60) over
    the count winner en (~26.7) — a different surviving bucket SET
    under size 1; the envelope order mirrors the truncation window."""
    spec = {"l": {"terms": {"field": "lang", "size": 1,
                            "order": {"m": "desc"}},
                  "aggs": {"m": {"avg": {"field": "n_chars"}}}}}
    out = serve.aggs_nested(frame, spec)
    (b,) = out["l"]["buckets"]
    assert b["key"] == "fr" and b["m"]["value"] == 60.0
    assert out["l"]["sum_other_doc_count"] == 4
    # asc keeps the smallest-average bucket instead
    spec["l"]["terms"]["order"] = {"m": "asc"}
    out = serve.aggs_nested(frame, spec)
    (b,) = out["l"]["buckets"]
    assert b["key"] == "en"
    # multi-valued metrics take a dotted component path
    spec = {"l": {"terms": {"field": "lang", "size": 1,
                            "order": {"p.50": "desc"}},
                  "aggs": {"p": {"percentiles": {"field": "n_chars",
                                                 "percents": [50]}}}}}
    out = serve.aggs_nested(frame, spec)
    assert out["l"]["buckets"][0]["key"] == "fr"
    spec = {"l": {"terms": {"field": "lang", "size": 1,
                            "order": {"s.sum": "desc"}},
                  "aggs": {"s": {"stats": {"field": "n_chars"}}}}}
    out = serve.aggs_nested(frame, spec)
    assert out["l"]["buckets"][0]["key"] == "en"  # sum 80 beats fr 60


def test_terms_order_by_empty_sum_uses_the_served_zero(spark):
    """A bucket whose field has no values serves sum 0.0, and orders on
    that 0.0: p (v NULL) and q (v 0) tie at 0, so key asc keeps p,
    as ES does. Ordering the NULL sum last kept q."""
    df = spark.createDataFrame([("p", None), ("q", 0)], "a string, v bigint")
    spec = {"t": {"terms": {"field": "a", "size": 1,
                            "order": {"sum_m": "desc"}},
                  "aggs": {"sum_m": {"sum": {"field": "v"}}}}}
    out = serve.aggs_nested(df, spec)
    assert out["t"]["buckets"] == [
        {"key": "p", "doc_count": 1, "sum_m": {"value": 0.0}}
    ]
    assert out["t"]["sum_other_doc_count"] == 1
    # a stats sum is served the same way
    spec = {"t": {"terms": {"field": "a", "size": 1,
                            "order": {"s.sum": "desc"}},
                  "aggs": {"s": {"stats": {"field": "v"}}}}}
    out = serve.aggs_nested(df, spec)
    assert [b["key"] for b in out["t"]["buckets"]] == ["p"]


def test_terms_order_nested_per_parent(frame):
    """Metric order applies PER PARENT inside a chain: each day keeps
    its own max-avg lang."""
    spec = {"d": {"date_histogram": {"field": "ts", "fixed_interval": "1d"},
                  "aggs": {"l": {"terms": {"field": "lang", "size": 1,
                                           "order": {"m": "desc"}},
                                 "aggs": {"m": {"avg": {
                                     "field": "n_chars"}}}}}}}
    out = serve.aggs_nested(frame, spec)
    per_day = [
        (d["key_as_string"][:10], d["l"]["buckets"][0]["key"])
        for d in out["d"]["buckets"]
    ]
    # day1: de avg 30 > en avg 15; day2: fr 60 > en 50
    assert per_day == [("2024-01-01", "de"), ("2024-01-02", "fr")]


def test_terms_order_validation(frame):
    with pytest.raises(ValueError, match="not .*_key.*_count.*or a metric"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang", "order": {"nope": "desc"}}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="component path"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang", "order": {"s": "desc"}},
                   "aggs": {"s": {"stats": {"field": "n_chars"}}}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="single-valued"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang", "order": {"m.50": "desc"}},
                   "aggs": {"m": {"avg": {"field": "n_chars"}}}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="computed percent path"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang", "order": {"p.99": "desc"}},
                   "aggs": {"p": {"percentiles": {"field": "n_chars",
                                                  "percents": [50]}}}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="'asc' or 'desc'"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang", "order": {"_key": "down"}}}},
            frame.columns,
        )
    # order by a metric at a DIFFERENT level is not a sub-agg
    with pytest.raises(ValueError, match="of this terms agg"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang", "order": {"m": "desc"}}},
             "m": {"avg": {"field": "n_chars"}}},
            frame.columns,
        )


def test_unknown_body_keys_are_400_not_ignored(frame):
    """ES body keys this compiler does not serve (shard_size, missing,
    ...) must 400 naming the key — swallowing them would serve
    DIFFERENT results than ES for the same request."""
    for spec in (
        {"l": {"terms": {"field": "lang", "shard_size": 100}}},
        {"l": {"terms": {"field": "lang", "include": "en.*"}}},
        {"d": {"date_histogram": {"field": "ts", "fixed_interval": "1d",
                                  "order": {"_key": "asc"}}}},
        {"m": {"avg": {"field": "n_chars", "missing": 0}}},
        {"m": {"avg": {"field": "n_chars", "percents": [50]}}},
        {"t": {"top_hits": {"size": 2, "from": 1}}},
    ):
        with pytest.raises(ValueError, match="unsupported body keys"):
            serve.parse_aggs(spec, frame.columns)
    # composite: body-level and source-level strictness
    with pytest.raises(ValueError, match="unsupported body keys"):
        serve.parse_composite(
            {"sources": [{"l": {"terms": {"field": "lang"}}}],
             "after_key": {"l": "en"}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="unsupported body keys"):
        serve.parse_composite(
            {"sources": [{"d": {"date_histogram": {
                "field": "ts", "fixed_interval": "1d",
                "min_doc_count": 0}}}]},
            frame.columns,
        )
    with pytest.raises(ValueError, match="unsupported body keys"):
        serve.parse_composite(
            {"sources": [{"l": {"terms": {"field": "lang",
                                          "order": {"_key": "desc"}}}}]},
            frame.columns,
        )


def test_kibana_orderby_translation():
    """Kibana orderBy/order → the compiler's terms order: '_term' →
    key order, a metric agg id → that metric (dotted for percentiles),
    the count id → _count; an unresolvable orderBy raises instead of
    silently serving a different top-N set."""
    vis = {"aggs": [
        {"id": "1", "type": "median", "schema": "metric",
         "params": {"field": "STARS", "percents": [50]}},
        {"id": "2", "type": "terms", "schema": "segment",
         "params": {"field": "CLUB_STATUS.keyword", "size": 3,
                    "order": "desc", "orderBy": "1"}},
    ]}
    spec = serve.kibana_vis_aggs(
        vis, {"STARS": "n_chars", "CLUB_STATUS": "lang"}
    )
    assert spec["k2"]["terms"]["order"] == {"k1.50.0": "desc"}
    vis["aggs"][1]["params"]["orderBy"] = "_term"
    spec = serve.kibana_vis_aggs(
        vis, {"STARS": "n_chars", "CLUB_STATUS": "lang"}
    )
    assert spec["k2"]["terms"]["order"] == {"_key": "desc"}
    count_vis = {"aggs": [
        {"id": "1", "type": "count", "schema": "metric", "params": {}},
        {"id": "2", "type": "terms", "schema": "segment",
         "params": {"field": "lang", "size": 5,
                    "order": "desc", "orderBy": "1"}},
    ]}
    spec = serve.kibana_vis_aggs(count_vis)
    assert spec["k2"]["terms"]["order"] == {"_count": "desc"}
    count_vis["aggs"][1]["params"]["orderBy"] = "7"
    with pytest.raises(ValueError, match="references no metric"):
        serve.kibana_vis_aggs(count_vis)
    count_vis["aggs"][1]["params"]["orderBy"] = "1"
    count_vis["aggs"][1]["params"]["otherBucket"] = True
    spec = serve.kibana_vis_aggs(count_vis)
    assert spec["k2"]["terms"]["other_bucket"] is True


# --- round-13: composite missing_bucket ---------------------------------------


def test_composite_missing_bucket(frame):
    """ES ``missing_bucket: true``: null-keyed docs form an explicit
    null bucket ordered FIRST; the after cursor round-trips through
    the null key; the default still excludes them."""
    body = {
        "size": 10,
        "sources": [{"lang": {"terms": {"field": "lang",
                                        "missing_bucket": True}}}],
        "aggs": {"mean": {"avg": {"field": "n_chars"}}},
    }
    out = serve.composite_nested(frame, body)
    got = [(b["key"]["lang"], b["doc_count"]) for b in out["buckets"]]
    # doc 3 (lang NULL) leads; every doc is in exactly one bucket
    assert got == [(None, 1), ("de", 1), ("en", 3), ("fr", 1)]
    assert out["buckets"][0]["mean"] == {"value": 40.0}
    # paging: a size-1 walk tiles the same list, null cursor included
    walked, after = [], None
    while True:
        page = dict(body, size=1)
        if after is not None:
            page["after"] = after
        o = serve.composite_nested(frame, page)
        walked.extend(o["buckets"])
        if not o["buckets"]:
            break
        after = o["after_key"]
    assert [(b["key"]["lang"], b["doc_count"]) for b in walked] == got
    # default (false): the null bucket is excluded, null after is 400
    out = serve.composite_nested(
        frame,
        {"size": 10,
         "sources": [{"lang": {"terms": {"field": "lang"}}}]},
    )
    assert [b["key"]["lang"] for b in out["buckets"]] == ["de", "en", "fr"]
    with pytest.raises(ValueError, match="missing_bucket: false"):
        serve.parse_composite(
            {"sources": [{"lang": {"terms": {"field": "lang"}}}],
             "after": {"lang": None}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="must be a boolean"):
        serve.parse_composite(
            {"sources": [{"lang": {"terms": {"field": "lang",
                                             "missing_bucket": 1}}}]},
            frame.columns,
        )


def test_composite_missing_bucket_multi_source_seek(frame):
    """The lexicographic seek through a null cursor component: after
    (null, X) must surface the rest of the null bucket's children and
    then every non-null key — and a non-null cursor must never
    resurface the null bucket."""
    body = {
        "size": 10,
        "sources": [
            {"lang": {"terms": {"field": "lang",
                                "missing_bucket": True}}},
            {"day": {"date_histogram": {"field": "ts",
                                        "fixed_interval": "1d"}}},
        ],
    }
    whole = serve.composite_nested(frame, body)["buckets"]
    keys = [(b["key"]["lang"], b["key"]["day"]) for b in whole]
    day1 = 1704067200000
    assert keys[0] == (None, day1)  # the null bucket leads
    # after the null bucket's last child: only non-null langs remain
    after_null = serve.composite_nested(
        frame, {**body, "after": {"lang": None, "day": day1}}
    )["buckets"]
    assert [(b["key"]["lang"], b["key"]["day"]) for b in after_null] == keys[1:]
    assert all(b["key"]["lang"] is not None for b in after_null)
    # after a non-null cursor the null bucket never reappears
    after_de = serve.composite_nested(
        frame, {**body, "after": {"lang": "de", "day": day1}}
    )["buckets"]
    assert all(b["key"]["lang"] is not None for b in after_de)
    assert [(b["key"]["lang"], b["key"]["day"]) for b in after_de] == keys[2:]


def test_array_typed_bucket_keys_fold(spark):
    """Review finding: the pre-grouped envelope fold hashes parent-key
    tuples, and an array-typed bucket field collects as an unhashable
    Python list — keys normalize through ``_hashable`` so the shape
    the old equality-filter fold served keeps working."""
    df = spark.createDataFrame(
        [
            (0, ["a", "b"], "2024-01-01 01:00:00"),
            (1, ["a", "b"], "2024-01-02 01:00:00"),
            (2, ["c"], "2024-01-01 02:00:00"),
        ],
        "doc_id bigint, tags array<string>, ts_s string",
    ).select("doc_id", "tags", F.col("ts_s").cast("timestamp").alias("ts"))
    out = serve.aggs_nested(
        df,
        {"t": {"terms": {"field": "tags", "size": 5},
               "aggs": {"d": {"date_histogram": {
                   "field": "ts", "fixed_interval": "1d"}}}}},
    )
    got = {
        tuple(b["key"]): (
            b["doc_count"],
            [c["doc_count"] for c in b["d"]["buckets"]],
        )
        for b in out["t"]["buckets"]
    }
    assert got == {("a", "b"): (2, [1, 1]), ("c",): (1, [1])}


# --- round-13: terms missing + min_doc_count ----------------------------------


def test_terms_missing_param(frame):
    """ES terms 'missing': null-field docs take the substituted key —
    they form a real bucket (children included) instead of landing
    nowhere; sum_other and the day doc_counts are unchanged."""
    out = serve.aggs_nested(
        frame,
        {"l": {"terms": {"field": "lang", "size": 10, "missing": "N/A"},
               "aggs": {"m": {"avg": {"field": "n_chars"}}}}},
    )
    got = {b["key"]: (b["doc_count"], b["m"]["value"])
           for b in out["l"]["buckets"]}
    assert got == {
        "en": (3, 80 / 3), "N/A": (1, 40.0), "de": (1, 30.0),
        "fr": (1, 60.0),
    }
    assert out["l"]["sum_other_doc_count"] == 0
    # nested: the substituted doc's children compute normally
    out = serve.aggs_nested(
        frame,
        {"d": {"date_histogram": {"field": "ts", "fixed_interval": "1d"},
               "aggs": {"l": {"terms": {"field": "lang", "size": 10,
                                        "missing": "N/A"}}}}},
    )
    day1 = out["d"]["buckets"][0]["l"]["buckets"]
    assert {b["key"]: b["doc_count"] for b in day1} == {
        "en": 2, "de": 1, "N/A": 1,
    }
    with pytest.raises(ValueError, match="'missing' must be a scalar"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang", "missing": ["x"]}}},
            frame.columns,
        )


def test_terms_min_doc_count_prunes_before_size(frame):
    """ES reduce order: min_doc_count prunes the bucket list BEFORE
    size selection, and pruned buckets count in sum_other."""
    out = serve.aggs_nested(
        frame,
        {"l": {"terms": {"field": "lang", "size": 10,
                         "min_doc_count": 2}}},
    )
    assert [(b["key"], b["doc_count"]) for b in out["l"]["buckets"]] == [
        ("en", 3)
    ]
    # de (1) + fr (1) pruned → counted as other docs
    assert out["l"]["sum_other_doc_count"] == 2
    # with key-desc order and size 1: fr/de pruned first, en survives
    out = serve.aggs_nested(
        frame,
        {"l": {"terms": {"field": "lang", "size": 1, "min_doc_count": 2,
                         "order": {"_key": "desc"}}}},
    )
    assert [b["key"] for b in out["l"]["buckets"]] == ["en"]


# --- round-13: sibling pipeline aggs ------------------------------------------


def test_pipeline_bucket_aggs_root(frame):
    """avg/sum/min/max_bucket — ES computes them at reduce time over
    the RETURNED buckets; here driver-side over the bucket frame.
    day1 mean n_chars = 25, day2 = 55."""
    out = serve.aggs_nested(frame, {
        "d": {"date_histogram": {"field": "ts", "fixed_interval": "1d"},
              "aggs": {"mean": {"avg": {"field": "n_chars"}}}},
        "avg_daily_mean": {"avg_bucket": {"buckets_path": "d>mean"}},
        "total_docs": {"sum_bucket": {"buckets_path": "d>_count"}},
        "max_daily": {"max_bucket": {"buckets_path": "d>mean"}},
        "min_daily": {"min_bucket": {"buckets_path": "d>mean"}},
    })
    assert out["avg_daily_mean"] == {"value": 40.0}
    assert out["total_docs"] == {"value": 6}
    # min/max_bucket carry ES's 'keys' array — the bucket(s) holding
    # the extreme (key_as_string form for date buckets)
    assert out["max_daily"] == {
        "value": 55.0, "keys": ["2024-01-02T00:00:00.000Z"],
    }
    assert out["min_daily"] == {
        "value": 25.0, "keys": ["2024-01-01T00:00:00.000Z"],
    }
    # empty match set: sum_bucket 0.0, the rest null (ES)
    empty = serve.aggs_nested(frame.filter(F.lit(False)), {
        "d": {"date_histogram": {"field": "ts", "fixed_interval": "1d"},
              "aggs": {"mean": {"avg": {"field": "n_chars"}}}},
        "avg_daily_mean": {"avg_bucket": {"buckets_path": "d>mean"}},
        "total_docs": {"sum_bucket": {"buckets_path": "d>_count"}},
    })
    assert empty["total_docs"] == {"value": 0.0}
    assert empty["avg_daily_mean"] == {"value": None}


def test_pipeline_bucket_aggs_nested_and_deep_path(frame):
    """A pipeline INSIDE a bucket consumes that bucket's children; a
    multi-segment path from the root spans every leaf bucket. Both
    respect terms truncation (returned buckets only)."""
    out = serve.aggs_nested(frame, {
        "d": {"date_histogram": {"field": "ts", "fixed_interval": "1d"},
              "aggs": {
                  "l": {"terms": {"field": "lang", "size": 10},
                        "aggs": {"m": {"avg": {"field": "n_chars"}}}},
                  "avg_lang_mean": {"avg_bucket": {"buckets_path": "l>m"}},
              }},
        "avg_all_leaves": {"avg_bucket": {"buckets_path": "d>l>m"}},
    })
    days = out["d"]["buckets"]
    # day1 langs: en 15, de 30 → 22.5; day2: en 50, fr 60 → 55
    assert days[0]["avg_lang_mean"] == {"value": 22.5}
    assert days[1]["avg_lang_mean"] == {"value": 55.0}
    assert out["avg_all_leaves"] == {"value": (15 + 30 + 50 + 60) / 4}
    # truncation: size 1 keeps only the top lang per day — the
    # pipeline sees the RETURNED buckets (en 15 / en 50)
    out = serve.aggs_nested(frame, {
        "d": {"date_histogram": {"field": "ts", "fixed_interval": "1d"},
              "aggs": {
                  "l": {"terms": {"field": "lang", "size": 1},
                        "aggs": {"m": {"avg": {"field": "n_chars"}}}},
                  "avg_lang_mean": {"avg_bucket": {"buckets_path": "l>m"}},
              }},
    })
    assert [d["avg_lang_mean"]["value"] for d in out["d"]["buckets"]] == [
        15.0, 50.0,
    ]


def test_pipeline_bucket_aggs_validation(frame):
    with pytest.raises(ValueError, match="buckets_path"):
        serve.parse_aggs(
            {"p": {"avg_bucket": {"buckets_path": "nope"}}}, frame.columns
        )
    with pytest.raises(ValueError, match="sibling bucket chain"):
        serve.parse_aggs(
            {"d": {"date_histogram": {"field": "ts",
                                      "fixed_interval": "1d"}},
             "p": {"avg_bucket": {"buckets_path": "x>_count"}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="names no metric"):
        serve.parse_aggs(
            {"d": {"date_histogram": {"field": "ts",
                                      "fixed_interval": "1d"}},
             "p": {"avg_bucket": {"buckets_path": "d>nope"}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="gap_policy"):
        serve.parse_aggs(
            {"d": {"date_histogram": {"field": "ts",
                                      "fixed_interval": "1d"}},
             "p": {"avg_bucket": {"buckets_path": "d>_count",
                                  "gap_policy": "insert_zeros"}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="served by aggs_nested"):
        serve.aggs_flat(
            frame,
            {"d": {"date_histogram": {"field": "ts",
                                      "fixed_interval": "1d"}},
             "p": {"avg_bucket": {"buckets_path": "d>_count"}}},
        )


def test_pipeline_reduces_over_final_buckets(spark):
    """Review finding: pipelines must reduce over the FINAL bucket
    list — min_doc_count-pruned buckets excluded, min_doc_count=0
    gap-filled buckets included (their _count is a real 0)."""
    df = spark.createDataFrame(
        [(0, "2024-01-01 05:00:00"), (1, "2024-01-01 06:00:00"),
         (2, "2024-01-03 09:00:00")],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    # min_doc_count=2 prunes the 1-doc day: avg over RETURNED = 2.0
    out = serve.aggs_nested(df, {
        "d": {"date_histogram": {"field": "ts", "fixed_interval": "1d",
                                 "min_doc_count": 2}},
        "p": {"avg_bucket": {"buckets_path": "d>_count"}},
    })
    assert [b["doc_count"] for b in out["d"]["buckets"]] == [2]
    assert out["p"] == {"value": 2.0}
    # min_doc_count=0 fills the gap day: avg over (2, 0, 1) = 1.0
    out = serve.aggs_nested(df, {
        "d": {"date_histogram": {"field": "ts", "fixed_interval": "1d",
                                 "min_doc_count": 0}},
        "p": {"avg_bucket": {"buckets_path": "d>_count"}},
    })
    assert [b["doc_count"] for b in out["d"]["buckets"]] == [2, 0, 1]
    assert out["p"] == {"value": 1.0}


def test_pipeline_date_metric_guards(frame):
    """avg/sum_bucket over a date metric is a named 400 (not a
    TypeError 500); min/max_bucket serve it (ISO strings compare
    chronologically)."""
    spec = {"d": {"date_histogram": {"field": "ts",
                                     "fixed_interval": "1d"},
                  "aggs": {"first": {"min": {"field": "ts"}}}}}
    with pytest.raises(ValueError, match="numeric bucket values"):
        serve.aggs_nested(frame, {
            **spec, "p": {"avg_bucket": {"buckets_path": "d>first"}},
        })
    out = serve.aggs_nested(frame, {
        **spec, "p": {"max_bucket": {"buckets_path": "d>first"}},
    })
    assert out["p"]["value"].startswith("2024-01-02")


def test_operator_and_inside_should_is_400(frame):
    """Review finding: operator=and inside should silently served OR
    membership (the split terms re-joined into one union clause)."""
    with pytest.raises(ValueError, match="operator 'and' inside"):
        serve.parse_query_dsl(
            {"bool": {"should": [
                {"match": {"text": {"query": "alpha beta",
                                    "operator": "and"}}},
            ]}},
            frame.withColumn("text", F.lit("t")),
        )
    with pytest.raises(ValueError, match="operator 'and' inside"):
        serve.parse_query_dsl(
            {"bool": {"must": [{"match": {"text": "x"}}],
                      "should": [
                          {"match": {"text": {"query": "a b",
                                              "operator": "and"}}},
                      ]}},
            frame.withColumn("text", F.lit("t")),
        )


# --- round-13: date_range -----------------------------------------------------


def test_date_range_buckets(frame):
    """ES date_range: bounds as epoch millis or ISO strings, bucket
    key 'from-to' with ISO forms, epoch-ms from/to + *_as_string
    echoed; docs outside every range land in no bucket but count at
    the parent level."""
    day2 = 1704153600000  # 2024-01-02 epoch ms
    out = serve.aggs_nested(
        frame,
        {"r": {"date_range": {"field": "ts", "ranges": [
            {"to": day2},
            {"from": day2, "to": "2024-01-02T02:00:00"},
        ]},
            "aggs": {"m": {"avg": {"field": "n_chars"}}}},
         "n": {"value_count": {"field": "doc_id"}}},
    )
    b1, b2 = out["r"]["buckets"]
    assert b1["key"] == "*-2024-01-02T00:00:00.000Z"
    assert "from" not in b1
    assert b1["to"] == day2 and b1["to_as_string"] == "2024-01-02T00:00:00.000Z"
    assert b1["doc_count"] == 4 and b1["m"]["value"] == 25.0
    assert b2["key"] == "2024-01-02T00:00:00.000Z-2024-01-02T02:00:00.000Z"
    assert b2["from"] == day2
    assert b2["doc_count"] == 1 and b2["m"]["value"] == 50.0
    # doc 5 (02:00) is outside both ranges: no bucket, still counted
    assert out["n"] == {"value": 6}
    # overlap and bad bounds are 400s
    with pytest.raises(ValueError, match="disjoint"):
        serve.parse_aggs(
            {"r": {"date_range": {"field": "ts", "ranges": [
                {"to": day2}, {"from": 0},
            ]}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="neither epoch millis"):
        serve.parse_aggs(
            {"r": {"date_range": {"field": "ts", "ranges": [
                {"from": "not-a-date"},
            ]}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="unsupported body keys"):
        serve.parse_aggs(
            {"r": {"date_range": {"field": "ts", "format": "yyyy",
                                  "ranges": [{"from": 0}]}}},
            frame.columns,
        )


def test_kibana_range_format_and_missing_bucket(frame):
    """Kibana request realities: the time picker sends a 'format' key
    inside range bounds (must validate, not 400 a real request), and
    terms missingBucket translates to ES's 'missing' param with the
    panel's display label as the key."""
    _, _, pred = serve.parse_query_dsl(
        {"bool": {"filter": [{"range": {"ts": {
            "gte": "2024-01-02 00:00:00",
            "format": "strict_date_optional_time",
        }}}]}},
        frame,
    )
    assert frame.filter(pred).count() == 2  # the two day-2 docs
    with pytest.raises(ValueError, match="format .* is not served"):
        serve.parse_query_dsl(
            {"range": {"ts": {"gte": 0, "format": "basic_date"}}}, frame
        )
    with pytest.raises(ValueError, match="gte/gt/lte/lt"):
        serve.parse_query_dsl(
            {"range": {"ts": {"format": "epoch_millis"}}}, frame
        )
    spec = serve.kibana_vis_aggs({"aggs": [
        {"id": "1", "type": "count", "schema": "metric", "params": {}},
        {"id": "2", "type": "terms", "schema": "segment",
         "params": {"field": "lang", "size": 10, "missingBucket": True,
                    "missingBucketLabel": "N/A"}},
    ]})
    # Kibana sends the sentinel and relabels client-side — using the
    # display label as the key would merge null-field docs into a
    # real bucket carrying the label text (third-review finding)
    assert spec["k2"]["terms"]["missing"] == "__missing__"
    # otherBucket translates to the engine's served '__other__'
    # sentinel bucket (round 14) — same relabel-client-side contract
    spec = serve.kibana_vis_aggs({"aggs": [
        {"id": "2", "type": "terms", "schema": "segment",
         "params": {"field": "lang", "otherBucket": True,
                    "otherBucketLabel": "Other"}},
    ]})
    assert spec["k2"]["terms"]["other_bucket"] is True


def test_date_range_tz_bounds_custom_keys_and_overflow(frame):
    """Third-review findings: tz-suffixed ISO bounds (ES's 'Z' form)
    convert to UTC instead of crashing naive-vs-aware comparisons;
    per-range custom 'key' names the bucket like ES; out-of-range
    epoch bounds and unknown per-range keys are 400s."""
    day2 = 1704153600000
    out = serve.aggs_nested(
        frame,
        {"r": {"date_range": {"field": "ts", "ranges": [
            {"to": "2024-01-02T00:00:00Z", "key": "early"},
            {"from": "2024-01-02T00:00:00+00:00", "key": "late"},
        ]}}},
    )
    got = {b["key"]: b["doc_count"] for b in out["r"]["buckets"]}
    assert got == {"early": 4, "late": 2}
    late = out["r"]["buckets"][1]
    assert late["from"] == day2
    with pytest.raises(ValueError, match="out of range"):
        serve.parse_aggs(
            {"r": {"date_range": {"field": "ts", "ranges": [
                {"from": 10**18},
            ]}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="unsupported range keys"):
        serve.parse_aggs(
            {"r": {"range": {"field": "n_chars", "ranges": [
                {"to": 30, "label": "small"},
            ]}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="duplicate bucket keys"):
        serve.parse_aggs(
            {"r": {"range": {"field": "n_chars", "ranges": [
                {"to": 30, "key": "x"}, {"from": 30, "key": "x"},
            ]}}},
            frame.columns,
        )
    # numeric range custom keys flow through metrics + sum_other-free
    out = serve.aggs_nested(
        frame,
        {"r": {"range": {"field": "n_chars", "ranges": [
            {"to": 35, "key": "small"}, {"from": 35, "key": "big"},
        ]}, "aggs": {"m": {"avg": {"field": "n_chars"}}}}},
    )
    assert [(b["key"], b["doc_count"], b["m"]["value"])
            for b in out["r"]["buckets"]] == [
        ("small", 3, 20.0), ("big", 3, 50.0),
    ]


# --- round-13: filters agg ----------------------------------------------------


def test_filters_agg(frame):
    """ES named filters — overlapping metadata predicates, each with
    its own doc_count and conditional metrics, in ONE pass; filters
    may overlap (a doc counts in each it matches), which is exactly
    why this is a conditional aggregate and not a rollup level."""
    body = {
        "filters": {
            "english": {"term": {"lang": "en"}},
            "big": {"range": {"n_chars": {"gte": 30}}},
            "everything": {"match_all": {}},
        },
        "aggs": {
            "mean": {"avg": {"field": "n_chars"}},
            "p50": {"percentiles": {"field": "n_chars",
                                    "percents": [50]}},
            "langs": {"cardinality": {"field": "lang"}},
        },
    }
    out = serve.filters_nested(frame, body)
    b = out["buckets"]
    assert set(b) == {"english", "big", "everything"}
    assert b["english"]["doc_count"] == 3
    assert b["english"]["mean"]["value"] == 80 / 3
    assert b["big"]["doc_count"] == 4  # 30,40,50,60 — overlaps english
    assert b["big"]["p50"]["values"]["50.0"] == 45.0
    assert b["everything"]["doc_count"] == 6
    assert b["everything"]["langs"]["value"] == 3
    # an empty filter: count 0, avg null, cardinality 0
    out = serve.filters_nested(frame, {
        "filters": {"none": {"term": {"lang": "xx"}}},
        "aggs": {"mean": {"avg": {"field": "n_chars"}},
                 "langs": {"cardinality": {"field": "lang"}}},
    })
    nb = out["buckets"]["none"]
    assert nb["doc_count"] == 0
    assert nb["mean"]["value"] is None
    assert nb["langs"]["value"] == 0
    # the flat frame mirrors the envelope, one row per filter in order
    flat = serve.filters_flat(frame, body).collect()
    assert [(r["filter"], r["doc_count"]) for r in flat] == [
        ("english", 3), ("big", 4), ("everything", 6),
    ]


def test_filters_agg_validation(frame):
    with pytest.raises(ValueError, match="non-empty"):
        serve.parse_filters({"filters": {}}, frame)
    with pytest.raises(ValueError, match="metadata predicates"):
        serve.parse_filters(
            {"filters": {"t": {"match": {"text": "x"}}}},
            frame.withColumn("text", F.lit("t")),
        )
    with pytest.raises(ValueError, match="unsupported body keys"):
        serve.parse_filters(
            {"filters": {"t": {"term": {"lang": "en"}}},
             "other_bucket": True},
            frame,
        )
    with pytest.raises(ValueError, match="must be a metric"):
        serve.parse_filters(
            {"filters": {"t": {"term": {"lang": "en"}}},
             "aggs": {"b": {"terms": {"field": "lang"}}}},
            frame,
        )


def test_filters_agg_empty_match_set(frame):
    """A global sum over an EMPTY frame is SQL-NULL — the filters
    envelope must serve doc_count 0, not crash on int(None)."""
    out = serve.filters_nested(
        frame.filter(F.lit(False)),
        {"filters": {"e": {"term": {"lang": "en"}}},
         "aggs": {"mean": {"avg": {"field": "n_chars"}}}},
    )
    assert out["buckets"]["e"] == {
        "doc_count": 0, "mean": {"value": None},
    }
    flat = serve.filters_flat(
        frame.filter(F.lit(False)),
        {"filters": {"e": {"term": {"lang": "en"}}}},
    ).collect()
    assert [(r["filter"], r["doc_count"]) for r in flat] == [("e", 0)]


# --- round-14: advice fixes ---------------------------------------------------


def test_non_dict_sub_aggs_are_400_not_500(frame):
    """Advice: a truthy non-dict 'aggs' (a string, a list) hit
    `.items()` and AttributeError'd into the 500 taxonomy — it is the
    caller's malformed body, so both parsers must raise the
    caller-fixable ValueError."""
    with pytest.raises(ValueError, match="'aggs' must be an object"):
        serve.parse_filters(
            {"filters": {"t": {"term": {"lang": "en"}}},
             "aggs": "mean"},
            frame,
        )
    with pytest.raises(ValueError, match="'aggs' must be an object"):
        serve.parse_composite(
            {"sources": [{"l": {"terms": {"field": "lang"}}}],
             "aggs": ["mean"]},
            frame.columns,
        )


def test_operator_and_split_mirrors_index_tokenizer(frame):
    """Advice: the operator=and split must mirror the index
    tokenizer's Java-regex \\s+ (ASCII whitespace only). Python
    str.split() also breaks on NBSP — which would mint a conjunction
    clause ('foo') the index never tokenized ('foo\\xa0bar' is ONE
    indexed term) and silently empty the match set."""
    texts, _, _ = serve.parse_query_dsl(
        {"match": {"text": {"query": "foo\xa0bar baz",
                            "operator": "and"}}},
        frame.withColumn("text", F.lit("t")),
    )
    # NBSP stays inside its token, exactly like the indexed term
    assert texts == ["baz", "foo\xa0bar"]


# --- round-14: date_histogram time_zone / format -------------------------------


@pytest.fixture(scope="module")
def dst_frame(spark):
    """12 docs, 7 h apart, spanning the 2024-03-10 US DST transition:
    UTC instants 2024-03-09T12:00 .. 2024-03-12T17:00. New-York local
    days split 3/3/4/2 (the 23-hour transition day included); plain
    UTC days would split 2/3/3/4 — so any tz mistake changes
    membership, not just labels."""
    import datetime

    base = datetime.datetime(2024, 3, 9, 12, 0, 0)
    rows = [
        (i, (base + datetime.timedelta(hours=7 * i)).strftime(
            "%Y-%m-%d %H:%M:%S"), i * 10)
        for i in range(12)
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, ts_s string, n bigint"
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "n")


def test_date_histogram_time_zone_dst_membership(dst_frame):
    """ES time_zone: day boundaries land on the caller's LOCAL
    midnight — whose UTC instant moves from 05:00 to 04:00 across the
    DST transition (a fixed-offset shift would misbucket everything
    after it)."""
    import datetime

    flat = serve.aggs_flat(dst_frame, {
        "by_day": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d",
            "time_zone": "America/New_York"}}})
    got = sorted(
        (r["by_day"], r["doc_count"])
        for r in flat.filter(F.col("depth") == 1).collect()
    )
    assert got == [
        (datetime.datetime(2024, 3, 9, 5, 0), 3),
        (datetime.datetime(2024, 3, 10, 5, 0), 3),   # EST midnight
        (datetime.datetime(2024, 3, 11, 4, 0), 4),   # EDT midnight
        (datetime.datetime(2024, 3, 12, 4, 0), 2),
    ]


def test_date_histogram_fixed_offset_and_fixed_interval(dst_frame):
    """±HH:MM offset zones (here the half-hour +05:30) shift the
    fixed_interval floor into wall space: 12h buckets start at local
    00:00/12:00 = 18:30/06:30 UTC."""
    flat = serve.aggs_flat(dst_frame, {
        "by_half": {"date_histogram": {
            "field": "ts", "fixed_interval": "12h",
            "time_zone": "+05:30"}}})
    keys = sorted(
        r["by_half"] for r in flat.filter(F.col("depth") == 1).collect()
    )
    assert all(k.strftime("%H:%M") in ("06:30", "18:30") for k in keys)
    # and the doc memberships tile the corpus
    assert flat.filter(F.col("depth") == 1).agg(
        F.sum("doc_count")
    ).collect()[0][0] == 12


def test_date_histogram_time_zone_key_as_string_and_format(dst_frame):
    """key stays the UTC instant's epoch millis; key_as_string renders
    the LOCAL boundary (offset-suffixed, DST-correct), and 'format'
    runs the java pattern over the local reading."""
    env = serve.aggs_nested(dst_frame, {
        "by_day": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d",
            "time_zone": "America/New_York"}}})
    strs = [b["key_as_string"] for b in env["by_day"]["buckets"]]
    assert strs == [
        "2024-03-09T00:00:00.000-05:00", "2024-03-10T00:00:00.000-05:00",
        "2024-03-11T00:00:00.000-04:00", "2024-03-12T00:00:00.000-04:00",
    ]
    assert env["by_day"]["buckets"][0]["key"] == 1709960400000
    env = serve.aggs_nested(dst_frame, {
        "by_day": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d",
            "time_zone": "America/New_York",
            "format": "yyyy-MM-dd HH:mm"}}})
    assert [b["key_as_string"] for b in env["by_day"]["buckets"]] == [
        "2024-03-09 00:00", "2024-03-10 00:00",
        "2024-03-11 00:00", "2024-03-12 00:00",
    ]


def test_date_histogram_time_zone_gap_fill_walks_wall_space(spark):
    """min_doc_count=0 under time_zone: the fabricated spine steps in
    LOCAL wall space, so interior keys cross the DST transition at
    the moving local-midnight instants (05:00 → 04:00 UTC) instead of
    drifting off the data keys."""
    import datetime

    df = spark.createDataFrame(
        [(0, "2024-03-09 12:00:00"), (1, "2024-03-12 12:00:00")],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    env = serve.aggs_nested(df, {
        "by_day": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d",
            "time_zone": "America/New_York", "min_doc_count": 0}}})
    got = [(b["key_as_string"], b["doc_count"])
           for b in env["by_day"]["buckets"]]
    assert got == [
        ("2024-03-09T00:00:00.000-05:00", 1),
        ("2024-03-10T00:00:00.000-05:00", 0),
        ("2024-03-11T00:00:00.000-04:00", 0),
        ("2024-03-12T00:00:00.000-04:00", 1),
    ]


def test_date_histogram_time_zone_validation(dst_frame):
    with pytest.raises(ValueError, match="unknown time_zone"):
        serve.aggs_flat(dst_frame, {
            "d": {"date_histogram": {
                "field": "ts", "calendar_interval": "1d",
                "time_zone": "Mars/Olympus_Mons"}}})
    with pytest.raises(ValueError, match="time_zone"):
        serve.aggs_flat(dst_frame, {
            "d": {"date_histogram": {
                "field": "ts", "calendar_interval": "1d",
                "time_zone": 5}}})
    with pytest.raises(ValueError, match="unsupported 'format' token"):
        serve.aggs_flat(dst_frame, {
            "d": {"date_histogram": {
                "field": "ts", "calendar_interval": "1d",
                "format": "yyyy-ww"}}})
    # UTC normalizes to the no-shift plan (no identity conversions)
    flat = serve.aggs_flat(dst_frame, {
        "d": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d",
            "time_zone": "UTC"}}})
    assert "to_utc_timestamp" not in flat._jdf.queryExecution().analyzed().toString()


def test_kibana_vis_aggs_time_zone_passthrough():
    """A LIVE Kibana attaches the browser zone to every
    date_histogram; the translator forwards the panel's own
    params.time_zone, falling back to the caller's session zone."""
    vis = {"aggs": [
        {"id": "1", "type": "count", "schema": "metric", "params": {}},
        {"id": "2", "type": "date_histogram", "schema": "segment",
         "params": {"field": "EXTRACT_TS", "interval": "auto",
                    "time_zone": "America/New_York"}},
    ]}
    spec = serve.kibana_vis_aggs(vis, fixed_interval="3h")
    assert spec["k2"]["date_histogram"]["time_zone"] == "America/New_York"
    vis["aggs"][1]["params"].pop("time_zone")
    spec = serve.kibana_vis_aggs(vis, fixed_interval="3h",
                                 time_zone="Europe/Berlin")
    assert spec["k2"]["date_histogram"]["time_zone"] == "Europe/Berlin"
    spec = serve.kibana_vis_aggs(vis, fixed_interval="3h")
    assert "time_zone" not in spec["k2"]["date_histogram"]


# --- round-14: parent pipeline aggs (derivative / cumulative_sum) --------------


@pytest.fixture(scope="module")
def gap_frame(spark):
    """Docs on days 1, 2 and 4 of Jan 2024 (day 3 empty): counts
    2/5/0/3 under min_doc_count=0 — the TSVB shape where a derivative
    must cross a gap-filled zero bucket."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows, did = [], 0
    for d, n in [(0, 2), (1, 5), (3, 3)]:
        for j in range(n):
            rows.append((
                did,
                (base + datetime.timedelta(days=d, hours=j)).strftime(
                    "%Y-%m-%d %H:%M:%S"),
                (did % 4) * 10,
            ))
            did += 1
    return spark.createDataFrame(
        rows, "doc_id bigint, ts_s string, n bigint"
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "n")


def test_parent_pipelines_walk_the_returned_list(gap_frame):
    """derivative/cumulative_sum compute over the FINAL bucket list —
    gap-filled zero buckets included: _count derivatives see the 0,
    and so do SUM derivatives (ES serves sum 0.0 on empty buckets, so
    there is no gap to skip); an AVG metric serves null there, which
    gap_policy skip jumps — the next valued bucket derives against
    the last valued one. cumulative_sum serves the running total on
    EVERY bucket; the first bucket carries no derivative entry at all
    (ES omits, not null)."""
    env = serve.aggs_nested(gap_frame, {
        "by_day": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d",
            "min_doc_count": 0},
            "aggs": {"s": {"sum": {"field": "n"}},
                     "m": {"avg": {"field": "n"}},
                     "cum": {"cumulative_sum": {"buckets_path": "_count"}},
                     "dc": {"derivative": {"buckets_path": "_count"}},
                     "ds": {"derivative": {"buckets_path": "s"}},
                     "dm": {"derivative": {"buckets_path": "m"}}}}})
    got = [
        (b["doc_count"], b["cum"]["value"],
         b.get("dc", {}).get("value"), b.get("ds", {}).get("value"),
         b.get("dm", {}).get("value"))
        for b in env["by_day"]["buckets"]
    ]
    # n per day: day1 (0,10)=10, day2 (20,30,0,10,20)=80, day3 gap,
    # day4 (30,0,10)=40; means 5.0, 16.0, null, 40/3
    assert got == [
        (2, 2.0, None, None, None),
        (5, 7.0, 3.0, 70.0, 11.0),
        (0, 7.0, -5.0, -80.0, None),   # sum 0.0 derives; avg gap-skips
        (3, 10.0, 3.0, 40.0, 40.0 / 3 - 16.0),  # avg derives vs day 2
    ]
    assert "dc" not in env["by_day"]["buckets"][0]  # omitted, not null


def test_parent_pipelines_are_per_parent(gap_frame):
    """Under a terms parent, each bucket's own date series derives
    independently — series never bleed across parents."""
    df = gap_frame.withColumn(
        "grp", F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b")
    )
    env = serve.aggs_nested(df, {
        "g": {"terms": {"field": "grp"},
              "aggs": {"by_day": {"date_histogram": {
                  "field": "ts", "calendar_interval": "1d"},
                  "aggs": {"cum": {"cumulative_sum": {
                      "buckets_path": "_count"}}}}}}})
    for gb in env["g"]["buckets"]:
        days = gb["by_day"]["buckets"]
        assert days[0]["cum"]["value"] == float(days[0]["doc_count"])
        assert days[-1]["cum"]["value"] == float(gb["doc_count"])


def test_parent_pipeline_contract_400s(gap_frame, frame):
    # inside terms: ES's parent contract is histogram/date_histogram
    with pytest.raises(ValueError, match="parent-pipeline contract"):
        serve.parse_aggs(
            {"g": {"terms": {"field": "lang"},
                   "aggs": {"d": {"derivative": {
                       "buckets_path": "_count"}}}}},
            frame.columns,
        )
    # at the request top there is no parent bucket list at all
    with pytest.raises(ValueError, match="parent-pipeline contract"):
        serve.parse_aggs(
            {"d": {"derivative": {"buckets_path": "_count"}}},
            frame.columns,
        )
    # multi-segment paths belong to the sibling family
    with pytest.raises(ValueError, match="walk their OWN bucket list"):
        serve.parse_aggs(
            {"by": {"date_histogram": {"field": "ts",
                                       "fixed_interval": "1d"},
                    "aggs": {"d": {"derivative": {
                        "buckets_path": "by>_count"}}}}},
            frame.columns,
        )
    # a date-typed metric under cumulative_sum: 400 naming the fix
    with pytest.raises(ValueError, match="needs numeric bucket"):
        serve.aggs_nested(frame, {
            "by": {"date_histogram": {"field": "ts",
                                      "fixed_interval": "1d"},
                   "aggs": {"latest": {"max": {"field": "ts"}},
                            "c": {"cumulative_sum": {
                                "buckets_path": "latest"}}}}})


# --- round-14: terms other_bucket ----------------------------------------------


def test_other_bucket_merges_metrics_and_tiles_parent(frame):
    """Kibana's "group remaining as Other" in ONE request: the
    truncated-away terms merge into a '__other__' bucket whose
    doc_count AND metrics re-aggregate from the bucket frame — kept +
    other doc_counts tile the parent exactly, and the merged avg is
    the true mean over the other docs (hidden sum/count companions,
    never avg-of-avgs)."""
    env = serve.aggs_nested(frame, {
        "by_lang": {"terms": {"field": "lang", "size": 1,
                              "other_bucket": True},
                    "aggs": {"mean": {"avg": {"field": "n_chars"}},
                             "tot": {"sum": {"field": "n_chars"}}}}})
    buckets = env["by_lang"]["buckets"]
    assert [b["key"] for b in buckets] == ["en", "__other__"]  # other LAST
    en, other = buckets
    # lang frame: en×3 (10,20,50), de 30, fr 60; null-lang 40 in NO bucket
    assert (en["doc_count"], other["doc_count"]) == (3, 2)
    assert other["mean"]["value"] == 45.0      # (30+60)/2, not avg-of-avgs
    assert other["tot"]["value"] == 90
    assert env["by_lang"]["sum_other_doc_count"] == 2
    # hidden companions never reach the envelope
    assert set(other) == {"key", "doc_count", "mean", "tot"}
    # flat surface: the same row, hidden columns dropped
    flat = serve.aggs_flat(frame, {
        "by_lang": {"terms": {"field": "lang", "size": 1,
                              "other_bucket": True},
                    "aggs": {"mean": {"avg": {"field": "n_chars"}}}}})
    assert "mean__obs" not in flat.columns
    rows = {r["by_lang"]: r["doc_count"]
            for r in flat.filter(F.col("depth") == 1).collect()}
    assert rows == {"en": 3, "__other__": 2}


def test_other_bucket_nothing_truncated_serves_no_row(frame):
    """size ≥ cardinality: no __other__ bucket is fabricated (the
    parentless anti-join's one NULL-sum row must not survive)."""
    env = serve.aggs_nested(frame, {
        "by_lang": {"terms": {"field": "lang", "size": 10,
                              "other_bucket": True}}})
    assert [b["key"] for b in env["by_lang"]["buckets"]] == [
        "en", "de", "fr"
    ]


def test_other_bucket_per_parent(frame):
    """Under a parent level the merge groups by the parent keys —
    each day's own truncated terms form that day's __other__."""
    env = serve.aggs_nested(frame, {
        "by_day": {"date_histogram": {"field": "ts",
                                      "fixed_interval": "1d"},
                   "aggs": {"by_lang": {"terms": {
                       "field": "lang", "size": 1,
                       "other_bucket": True}}}}})
    d1, d2 = env["by_day"]["buckets"]
    assert [(b["key"], b["doc_count"]) for b in d1["by_lang"]["buckets"]] \
        == [("en", 2), ("__other__", 1)]
    # day 2: en 1, fr 1 (tie → en kept by key asc); fr becomes other
    assert [(b["key"], b["doc_count"]) for b in d2["by_lang"]["buckets"]] \
        == [("en", 1), ("__other__", 1)]


def test_other_bucket_contract_400s(frame):
    with pytest.raises(ValueError, match="cannot be merged"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang", "other_bucket": True},
                   "aggs": {"u": {"cardinality": {"field": "lang"}}}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="top_hits at or below"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang", "other_bucket": True},
                   "aggs": {"t": {"top_hits": {"size": 1}}}}},
            frame.columns,
        )
    with pytest.raises(ValueError, match="string-keyed"):
        serve.aggs_flat(frame, {
            "l": {"terms": {"field": "n_chars", "other_bucket": True}}})
    with pytest.raises(ValueError, match="must be a boolean"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang", "other_bucket": "yes"}}},
            frame.columns,
        )


# --- round-14: filters agg with a bucket chain ----------------------------------


def test_filters_bucket_chain_envelope(frame):
    """Kibana's split-by-filters × date-axis panel in ONE request: the
    matched-filter explode makes the filter name a regular top bucket
    level, so each filter carries its own date chain; docs in several
    filters count in each (ES multi-membership); a filter nothing
    matched zero-fills with an EMPTY child list and ES's empty-metric
    envelope (sum 0.0)."""
    body = {"filters": {"english": {"term": {"lang": "en"}},
                        "early": {"range": {"ts": {
                            "lt": "2024-01-02 00:00:00"}}},
                        "never": {"term": {"lang": "xx"}}},
            "aggs": {"tot": {"sum": {"field": "n_chars"}},
                     "by_day": {"date_histogram": {
                         "field": "ts", "fixed_interval": "1d"},
                         "aggs": {"mean": {"avg": {"field": "n_chars"}}}}}}
    env = serve.filters_nested(frame, body)
    b = env["buckets"]
    assert list(b) == ["english", "early", "never"]  # request order
    # english: en×3 (days 1,1,2); early: day-1 docs ×4 — doc 0/1 in BOTH
    assert b["english"]["doc_count"] == 3
    assert b["early"]["doc_count"] == 4
    days = {d["key_as_string"][:10]: d["doc_count"]
            for d in b["english"]["by_day"]["buckets"]}
    assert days == {"2024-01-01": 2, "2024-01-02": 1}
    assert b["english"]["tot"]["value"] == 80
    assert b["early"]["by_day"]["buckets"][0]["mean"]["value"] == 25.0
    assert b["never"] == {
        "doc_count": 0, "tot": {"value": 0.0},
        "by_day": {"buckets": []},
    }


def test_filters_chain_flat_surface(frame):
    """The gate surface: depth-1 per-filter totals + depth-2 chain
    rows, no depth-0 row (it would count doc-filter PAIRS under
    multi-membership)."""
    body = {"filters": {"english": {"term": {"lang": "en"}},
                        "early": {"range": {"ts": {
                            "lt": "2024-01-02 00:00:00"}}}},
            "aggs": {"by_lang": {"terms": {"field": "lang", "size": 5}}}}
    flat = serve.filters_chain_flat(frame, body)
    assert flat.filter(F.col("depth") == 0).count() == 0
    rows = {(r["depth"], r["filter"], r["by_lang"]): r["doc_count"]
            for r in flat.collect()}
    assert rows[(1, "english", None)] == 3
    assert rows[(1, "early", None)] == 4
    assert rows[(2, "early", "en")] == 2
    assert rows[(2, "early", "de")] == 1
    # the null-lang day-1 doc: counted at the filter level, in no
    # lang bucket (genuinely-null key discipline carries over)
    assert (2, "early", None) not in rows
    # metrics-only bodies stay on the one-pass path
    with pytest.raises(ValueError, match="one-pass"):
        serve.filters_chain_flat(frame, {
            "filters": {"e": {"term": {"lang": "en"}}},
            "aggs": {"m": {"avg": {"field": "n_chars"}}}})


# --- round-14: script pipelines (bucket_script / bucket_selector / moving_fn) --


def test_bucket_script_and_selector_and_moving_fn(gap_frame):
    """The TSVB script family at ES's reduce point: bucket_script is
    per-bucket arithmetic over named paths (params.-prefixed or bare,
    both Painless spellings); moving_fn (shift 0) folds the window of
    values BEFORE each bucket; bucket_selector drops buckets from the
    RESPONSE only — after the series walkers saw the full list."""
    env = serve.aggs_nested(gap_frame, {
        "by_day": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d"},
            "aggs": {"s": {"sum": {"field": "n"}},
                     "per_doc": {"bucket_script": {
                         "buckets_path": {"t": "s", "c": "_count"},
                         "script": "params.t / c"}},
                     "mavg": {"moving_fn": {
                         "buckets_path": "_count", "window": 2,
                         "script":
                             "MovingFunctions.unweightedAvg(values)"}},
                     "big": {"bucket_selector": {
                         "buckets_path": {"c": "_count"},
                         "script": "c >= 3"}}}}})
    buckets = env["by_day"]["buckets"]
    # days 1/2/4 have counts 2/5/3 — the selector drops day 1, but
    # moving_fn already saw it: day 2's window is [2]; day 4's window
    # is the two RETURNED-list predecessors [2, 5] (no gap fill under
    # min_doc_count=1, so the window is positional, exactly ES)
    assert [(b["doc_count"], b["per_doc"]["value"],
             b["mavg"]["value"]) for b in buckets] == [
        (5, 16.0, 2.0),
        (3, 40.0 / 3, 3.5),
    ]
    # selector never minted an envelope entry of its own
    assert all("big" not in b for b in buckets)


def test_bucket_script_gap_skip_and_div_by_zero(gap_frame, frame):
    # a null input (avg over a gap-filled bucket) skips the entry
    env = serve.aggs_nested(gap_frame, {
        "by_day": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d",
            "min_doc_count": 0},
            "aggs": {"m": {"avg": {"field": "n"}},
                     "r": {"bucket_script": {
                         "buckets_path": {"m": "m"},
                         "script": "m * 2"}}}}})
    got = [("r" in b) for b in env["by_day"]["buckets"]]
    assert got == [True, True, False, True]  # the gap bucket skips
    # dividing by a zero path is the caller's 400, not a 500
    with pytest.raises(ValueError, match="divided by zero"):
        serve.aggs_nested(gap_frame, {
            "by_day": {"date_histogram": {
                "field": "ts", "calendar_interval": "1d",
                "min_doc_count": 0},
                "aggs": {"r": {"bucket_script": {
                    "buckets_path": {"c": "_count"},
                    "script": "1 / c"}}}}})
    # bucket_script runs under terms too (per-bucket, order-free)
    env = serve.aggs_nested(frame, {
        "l": {"terms": {"field": "lang"},
              "aggs": {"s": {"sum": {"field": "n_chars"}},
                       "r": {"bucket_script": {
                           "buckets_path": {"s": "s", "c": "_count"},
                           "script": "s / c"}}}}})
    for b in env["l"]["buckets"]:
        assert b["r"]["value"] == b["s"]["value"] / b["doc_count"]


def test_script_pipeline_400s(frame):
    # arbitrary constructs never evaluate — whitelisted AST only
    for script in ("__import__('os')", "c ** 2", "f(c)", "c if c else 1",
                   "[c for c in []]", "'x' + 'y'"):
        with pytest.raises(ValueError, match="script"):
            serve.parse_aggs(
                {"by": {"date_histogram": {"field": "ts",
                                           "fixed_interval": "1d"},
                        "aggs": {"r": {"bucket_script": {
                            "buckets_path": {"c": "_count"},
                            "script": script}}}}},
                frame.columns,
            )
    # comparisons are selector-only
    with pytest.raises(ValueError, match="unsupported 'script'"):
        serve.parse_aggs(
            {"by": {"date_histogram": {"field": "ts",
                                       "fixed_interval": "1d"},
                    "aggs": {"r": {"bucket_script": {
                        "buckets_path": {"c": "_count"},
                        "script": "c > 1"}}}}},
            frame.columns,
        )
    # an undeclared variable names the declared set
    with pytest.raises(ValueError, match="not in buckets_path"):
        serve.parse_aggs(
            {"by": {"date_histogram": {"field": "ts",
                                       "fixed_interval": "1d"},
                    "aggs": {"r": {"bucket_script": {
                        "buckets_path": {"c": "_count"},
                        "script": "c + d"}}}}},
            frame.columns,
        )
    # moving_fn needs an ORDERED parent; terms is not one
    with pytest.raises(ValueError, match="parent-pipeline contract"):
        serve.parse_aggs(
            {"l": {"terms": {"field": "lang"},
                   "aggs": {"m": {"moving_fn": {
                       "buckets_path": "_count", "window": 2,
                       "script":
                           "MovingFunctions.unweightedAvg(values)"}}}}},
            frame.columns,
        )
    # only the MovingFunctions builtins are served
    with pytest.raises(ValueError, match="MovingFunctions"):
        serve.parse_aggs(
            {"by": {"date_histogram": {"field": "ts",
                                       "fixed_interval": "1d"},
                    "aggs": {"m": {"moving_fn": {
                        "buckets_path": "_count", "window": 2,
                        "script": "values.sum()"}}}}},
            frame.columns,
        )
    # shift must be an integer — a float/string never silently floors
    for bad_shift in (1.5, "1", True):
        with pytest.raises(ValueError, match="'shift' must be"):
            serve.parse_aggs(
                {"by": {"date_histogram": {"field": "ts",
                                           "fixed_interval": "1d"},
                        "aggs": {"m": {"moving_fn": {
                            "buckets_path": "_count", "window": 2,
                            "shift": bad_shift,
                            "script":
                                "MovingFunctions.unweightedAvg(values)"
                        }}}}},
                frame.columns,
            )
    # holt/holtWinters: refused by name (Lucene-internal seeding)
    with pytest.raises(ValueError, match="holt"):
        serve.parse_aggs(
            {"by": {"date_histogram": {"field": "ts",
                                       "fixed_interval": "1d"},
                    "aggs": {"m": {"moving_fn": {
                        "buckets_path": "_count", "window": 2,
                        "script":
                            "MovingFunctions.holt(values, 0.3, 0.1)"
                    }}}}},
            frame.columns,
        )


def test_moving_fn_shift_and_weighted(gap_frame):
    """ES moving_fn window placement [i − window + shift, i + shift)
    and the weighted builtins: shift 1 slides the window right to
    include the current bucket; linearWeightedAvg weights
    oldest→newest 1..n; ewma seeds with the window's first value;
    stdDev deviates around the window mean. Counts on the returned
    day list are [2, 5, 3]."""
    import math

    env = serve.aggs_nested(gap_frame, {
        "by_day": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d"},
            "aggs": {
                "m1": {"moving_fn": {
                    "buckets_path": "_count", "window": 2, "shift": 1,
                    "script": "MovingFunctions.sum(values)"}},
                "lwa": {"moving_fn": {
                    "buckets_path": "_count", "window": 3,
                    "script":
                        "MovingFunctions.linearWeightedAvg(values)"}},
                "ew": {"moving_fn": {
                    "buckets_path": "_count", "window": 3,
                    "script": "MovingFunctions.ewma(values, 0.5)"}},
                "sd": {"moving_fn": {
                    "buckets_path": "_count", "window": 3, "shift": 1,
                    "script": "MovingFunctions.stdDev(values, "
                              "MovingFunctions.unweightedAvg(values))"
                }}}}})
    buckets = env["by_day"]["buckets"]
    # shift 1 includes the current bucket: [2], [2,5], [5,3]
    assert [b["m1"]["value"] for b in buckets] == [2.0, 7.0, 8.0]
    # shift 0 stays exclusive: lwa windows [], [2], [2,5]
    assert [b["lwa"]["value"] for b in buckets] == [None, 2.0, 4.0]
    # ewma over [2,5]: 2 → 5*.5 + 2*.5 = 3.5
    assert [b["ew"]["value"] for b in buckets] == [None, 2.0, 3.5]
    got = [b["sd"]["value"] for b in buckets]
    assert got[0] == 0.0 and got[1] == 1.5
    assert math.isclose(got[2], math.sqrt(14.0 / 9.0))


def test_filter_level_bucket_selector_is_400(frame):
    """Self-review finding: a selector at the FILTERS level would drop
    filter buckets the zero-fill re-adds as doc_count 0 — ambiguity
    the named envelope cannot express, so it is a 400 naming the
    client-side remediation."""
    body = {"filters": {"e": {"term": {"lang": "en"}}},
            "aggs": {"by_day": {"date_histogram": {
                         "field": "ts", "fixed_interval": "1d"}},
                     "k": {"bucket_selector": {
                         "buckets_path": {"c": "_count"},
                         "script": "c >= 1"}}}}
    with pytest.raises(ValueError, match="filters level"):
        serve.filters_nested(frame, body)
    with pytest.raises(ValueError, match="filters level"):
        serve.validate_filters(body, frame)
    # nested under the chain it serves fine
    ok = serve.filters_nested(frame, {
        "filters": {"e": {"term": {"lang": "en"}}},
        "aggs": {"by_day": {"date_histogram": {
                     "field": "ts", "fixed_interval": "1d"},
                 "aggs": {"k": {"bucket_selector": {
                     "buckets_path": {"c": "_count"},
                     "script": "c >= 2"}}}}}})
    assert [d["doc_count"] for d
            in ok["buckets"]["e"]["by_day"]["buckets"]] == [2]


def test_derivative_unit_normalized_value(gap_frame):
    """ES derivative 'unit': normalized_value = diff / (key spacing /
    unit) — the per-unit rate, spacing from the ACTUAL epoch keys so
    a skipped gap normalizes over real elapsed time; unit needs a
    date_histogram parent (keys are time)."""
    env = serve.aggs_nested(gap_frame, {
        "by_day": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d"},
            "aggs": {"d": {"derivative": {
                "buckets_path": "_count", "unit": "12h"}}}}})
    buckets = env["by_day"]["buckets"]
    # counts 2/5/3 on days 1, 2, 4: day2 diff 3 over 1d = 1.5 per 12h;
    # day4 diff -2 over the 2-day hole = -0.5 per 12h
    assert "d" not in buckets[0]
    assert buckets[1]["d"] == {"value": 3.0, "normalized_value": 1.5}
    assert buckets[2]["d"] == {"value": -2.0, "normalized_value": -0.5}
    with pytest.raises(ValueError, match="date_histogram parent"):
        serve.parse_aggs(
            {"h": {"histogram": {"field": "n", "interval": 10.0},
                   "aggs": {"d": {"derivative": {
                       "buckets_path": "_count", "unit": "1h"}}}}},
            gap_frame.columns,
        )


# --- round-14: match_phrase -----------------------------------------------------


@pytest.fixture(scope="module")
def phrase_frame(spark):
    return spark.createDataFrame(
        [(0, "The Quick brown fox", "en"),
         (1, "quick\tBROWN dog", "en"),
         (2, "brown quick fox", "de"),
         (3, "entirely other text", "fr")],
        "doc_id bigint, text string, lang string",
    )


def test_match_phrase_token_exact_adjacency(phrase_frame):
    """A quoted phrase: token-exact adjacency via the SHARED
    tokenizer's normalization on BOTH sides (case, ASCII-whitespace
    runs), order-sensitive, composable with metadata filters; the
    phrase tokens also join `texts` as one required scoring clause."""
    texts, opt, pred = serve.parse_query_dsl(
        {"bool": {"must": [{"match_phrase": {"text": "Quick  BROWN"}}],
                  "filter": [{"term": {"lang": "en"}}]}},
        phrase_frame,
    )
    assert texts == ["quick brown"] and not opt
    assert sorted(
        r.doc_id for r in phrase_frame.filter(pred).collect()
    ) == [0, 1]  # doc 2 has the tokens REVERSED — no phrase match
    # object form, single-token phrase
    _, _, pred = serve.parse_query_dsl(
        {"match_phrase": {"text": {"query": "FOX"}}}, phrase_frame
    )
    assert sorted(
        r.doc_id for r in phrase_frame.filter(pred).collect()
    ) == [0, 2]


def test_match_phrase_slop_two_token_proximity(phrase_frame):
    """``slop`` over a two-token phrase: Lucene's move cost as JVM
    position arithmetic — in-order pairs cost the gap, reversed pairs
    the transposition (+1, so adjacent transposed terms need slop 2,
    ES's documented example)."""
    def ids(query, slop):
        _, _, pred = serve.parse_query_dsl(
            {"match_phrase": {"text": {"query": query, "slop": slop}}},
            phrase_frame,
        )
        return sorted(r.doc_id for r in phrase_frame.filter(pred).collect())

    # 'quick fox': doc 0 has one word between (cost 1), doc 2 adjacent
    assert ids("quick fox", 1) == [0, 2]
    assert ids("quick fox", 0) == [2]  # slop 0 = exact adjacency path
    # reversed adjacent ('brown quick' in doc 2) costs exactly 2
    assert ids("quick brown", 1) == [0, 1]
    assert ids("quick brown", 2) == [0, 1, 2]
    # a one-token phrase ignores slop (term semantics)
    assert ids("fox", 3) == [0, 2]


def test_match_phrase_400s(phrase_frame, frame):
    # slop over 3+ tokens: Lucene's n-term alignment is not pinned —
    # refused, never silently served as a near-miss subset
    with pytest.raises(ValueError, match="two-token"):
        serve.parse_query_dsl(
            {"match_phrase": {"text": {"query": "a b c", "slop": 2}}},
            phrase_frame,
        )
    for bad in (-1, 1.5, "2", True):
        with pytest.raises(ValueError, match="slop"):
            serve.parse_query_dsl(
                {"match_phrase": {"text": {"query": "a b",
                                           "slop": bad}}},
                phrase_frame,
            )
    # adjacency verifies against the MOUNTED text
    with pytest.raises(ValueError, match="not in the mounted"):
        serve.parse_query_dsl(
            {"match_phrase": {"text": "a b"}}, frame
        )
    with pytest.raises(ValueError, match="verified against"):
        serve.parse_query_dsl(
            {"match_phrase": {"lang": "en"}}, phrase_frame
        )
    with pytest.raises(ValueError, match="must_not"):
        serve.parse_query_dsl(
            {"bool": {"must_not": [{"match_phrase": {"text": "a b"}}]}},
            phrase_frame,
        )
    with pytest.raises(ValueError, match="'should'"):
        serve.parse_query_dsl(
            {"bool": {"must": [{"term": {"lang": "en"}}],
                      "should": [{"match_phrase": {"text": "a b"}}]}},
            phrase_frame,
        )


# --- round-14: Kibana filters split + KQL subset --------------------------------


def test_kql_node_subset():
    assert serve.kql_node("lang: en") == {"term": {"lang": "en"}}
    assert serve.kql_node('lang: "en gb"') == {"term": {"lang": "en gb"}}
    assert serve.kql_node("n_chars >= 300") == {
        "range": {"n_chars": {"gte": 300}}}
    assert serve.kql_node("lang: *") == {"exists": {"field": "lang"}}
    assert serve.kql_node("") == {"match_all": {}}
    assert serve.kql_node("CLUB_STATUS.keyword: gold",
                          {"CLUB_STATUS": "lang"}) == {
        "term": {"lang": "gold"}}
    assert serve.kql_node("lang: en and n_chars < 10") == {
        "bool": {"filter": [{"term": {"lang": "en"}},
                            {"range": {"n_chars": {"lt": 10}}}]}}
    for bad in ("bare free text", "lang: en or", "and lang: en",
                "f: (a or b)"):
        with pytest.raises(ValueError, match="KQL filter input"):
            serve.kql_node(bad)


def test_kql_node_or_not_parens():
    """Round 15: the boolean connectives a real Kibana filter row
    routinely carries, at KQL's precedence (not > and > or)."""
    assert serve.kql_node("lang: en or lang: de") == {
        "bool": {"should": [{"term": {"lang": "en"}},
                            {"term": {"lang": "de"}}]}}
    assert serve.kql_node("not lang: en") == {
        "bool": {"must_not": [{"term": {"lang": "en"}}]}}
    assert serve.kql_node("(lang: en)") == {"term": {"lang": "en"}}
    # precedence: a and b or c == (a AND b) OR c
    assert serve.kql_node("a: 1 and b: 2 or c: 3") == {
        "bool": {"should": [
            {"bool": {"filter": [{"term": {"a": 1}},
                                 {"term": {"b": 2}}]}},
            {"term": {"c": 3}}]}}
    # parens override it
    assert serve.kql_node("a: 1 and (b: 2 or c: 3)") == {
        "bool": {"filter": [
            {"term": {"a": 1}},
            {"bool": {"should": [{"term": {"b": 2}},
                                 {"term": {"c": 3}}]}}]}}
    assert serve.kql_node("not (a: 1 or b: 2) and c: 3") == {
        "bool": {"filter": [
            {"bool": {"must_not": [{"bool": {"should": [
                {"term": {"a": 1}}, {"term": {"b": 2}}]}}]}},
            {"term": {"c": 3}}]}}
    # keywords only stand alone — prefixes stay atom text
    assert serve.kql_node("brand: android") == {
        "term": {"brand": "android"}}
    assert serve.kql_node("f: note") == {"term": {"f": "note"}}
    with pytest.raises(ValueError, match="unbalanced parenthesis"):
        serve.kql_node("(a: 1 or b: 2")


def test_kibana_filters_split_translation(frame):
    """The "Split series by Filters" control: each row's KQL input
    becomes a named filter, nested OUTSIDE the date chain (Kibana's
    group-outside-segment), and the whole spec serves through the
    filters+chain path."""
    vis = {"aggs": [
        {"id": "1", "type": "count", "schema": "metric", "params": {}},
        {"id": "2", "type": "date_histogram", "schema": "segment",
         "params": {"field": "TS", "interval": "auto"}},
        {"id": "3", "type": "filters", "schema": "group",
         "params": {"filters": [
             {"input": {"query": "LANG: en", "language": "kuery"},
              "label": "English"},
             {"input": {"query": "N_CHARS >= 30", "language": "kuery"}},
         ]}},
    ]}
    spec = serve.kibana_vis_aggs(
        vis, {"TS": "ts", "LANG": "lang", "N_CHARS": "n_chars"},
        fixed_interval="1d",
    )
    node = spec["k3"]
    assert node["filters"]["filters"] == {
        "English": {"term": {"lang": "en"}},
        "N_CHARS >= 30": {"range": {"n_chars": {"gte": 30}}},
    }
    assert "k2" in node["aggs"]
    # and it SERVES through the filters+chain path
    env = serve.filters_nested(
        frame, {"filters": node["filters"]["filters"],
                "aggs": node["aggs"]},
    )
    assert env["buckets"]["English"]["doc_count"] == 3
    assert sum(
        d["doc_count"]
        for d in env["buckets"]["N_CHARS >= 30"]["k2"]["buckets"]
    ) == env["buckets"]["N_CHARS >= 30"]["doc_count"] == 4
    # duplicate labels and unsupported languages are 400s
    vis["aggs"][2]["params"]["filters"].append(
        {"input": {"query": "x: 1"}, "label": "English"})
    with pytest.raises(ValueError, match="duplicate filter label"):
        serve.kibana_vis_aggs(vis, {})
    vis["aggs"][2]["params"]["filters"] = [
        {"input": {"query": "x: 1", "language": "sql"}}]
    with pytest.raises(ValueError, match="language"):
        serve.kibana_vis_aggs(vis, {})


# --- round-14 review pass: DST sub-day, other chain, KQL quotes ------------------


def test_time_zone_subday_intervals_survive_dst(spark):
    """Review findings: hourly NY buckets merged the repeated
    fall-back hour, and spring-forward gap fill emitted one key
    twice. Sub-hour/hourly grids under an IANA zone now keep PLAIN
    UTC keys — ES's own bucket set there — with key_as_string's
    offset suffix keeping the repeated local hour's two buckets
    distinct; ≥-day calendars and >1h fixed grids keep the wall
    arithmetic."""
    df = spark.createDataFrame(
        [(0, "2024-11-03 05:30:00"), (1, "2024-11-03 06:30:00"),
         (2, "2024-11-03 07:30:00")],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    env = serve.aggs_nested(df, {"h": {"date_histogram": {
        "field": "ts", "calendar_interval": "1h",
        "time_zone": "America/New_York"}}})
    got = [(b["key_as_string"], b["doc_count"])
           for b in env["h"]["buckets"]]
    # the local 01:00 hour happens TWICE — two buckets, two offsets
    assert got == [
        ("2024-11-03T01:00:00.000-04:00", 1),
        ("2024-11-03T01:00:00.000-05:00", 1),
        ("2024-11-03T02:00:00.000-05:00", 1),
    ]
    # spring-forward gap fill: keys strictly distinct, the
    # nonexistent local 02:00 never appears
    df2 = spark.createDataFrame(
        [(0, "2024-03-10 05:30:00"), (1, "2024-03-10 08:30:00")],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    env2 = serve.aggs_nested(df2, {"h": {"date_histogram": {
        "field": "ts", "calendar_interval": "1h",
        "time_zone": "America/New_York", "min_doc_count": 0}}})
    keys = [b["key"] for b in env2["h"]["buckets"]]
    assert sorted(set(keys)) == keys and len(keys) == 4
    strs = [b["key_as_string"] for b in env2["h"]["buckets"]]
    assert "2024-03-10T02:00:00" not in " ".join(strs)
    # a fixed ±HH:MM offset has no transitions: hourly wall
    # arithmetic stays — buckets anchor at LOCAL whole hours, whose
    # UTC instants carry the half-hour phase
    env3 = serve.aggs_nested(df2, {"h": {"date_histogram": {
        "field": "ts", "fixed_interval": "1h",
        "time_zone": "+05:30"}}})
    for b in env3["h"]["buckets"]:
        assert b["key_as_string"].endswith(":00:00.000+05:30")
        assert b["key"] % 3_600_000 == 1_800_000  # :30 UTC phase
    # 12h fixed under the DST zone keeps LOCAL noon/midnight anchors
    env4 = serve.aggs_nested(df2, {"t": {"date_histogram": {
        "field": "ts", "fixed_interval": "12h",
        "time_zone": "America/New_York"}}})
    assert [b["key_as_string"] for b in env4["t"]["buckets"]] == [
        "2024-03-10T00:00:00.000-05:00"
    ]


def test_time_zone_offset_cap(dst_frame):
    """Review finding: +18:30 sailed past an hours-only check into a
    JVM DateTimeException 500 — Java caps ZoneOffset at ±18:00."""
    with pytest.raises(ValueError, match="18:00 max"):
        serve.aggs_flat(dst_frame, {"d": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d",
            "time_zone": "+18:30"}}})
    flat = serve.aggs_flat(dst_frame, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "1d",
        "time_zone": "+18:00"}}})
    assert flat.filter(F.col("depth") == 1).count() > 0


def test_other_bucket_carries_its_sub_chain(frame):
    """Review finding: an other_bucket terms level with a DEEPER
    chain served __other__ with silently EMPTY children. The merge
    now spans every deeper level: the __other__ bucket carries its
    own per-day chain and the chain doc_counts tile the bucket."""
    env = serve.aggs_nested(frame, {
        "g": {"terms": {"field": "lang", "size": 1,
                        "other_bucket": True},
              "aggs": {"m": {"avg": {"field": "n_chars"}},
                       "by_day": {"date_histogram": {
                           "field": "ts", "fixed_interval": "1d"},
                           "aggs": {"s": {"sum": {"field": "n_chars"}}}}}}})
    other = env["g"]["buckets"][-1]
    assert other["key"] == "__other__"
    # de 30 (day 1) + fr 60 (day 2)
    days = [(d["key_as_string"][:10], d["doc_count"], d["s"]["value"])
            for d in other["by_day"]["buckets"]]
    assert days == [("2024-01-01", 1, 30), ("2024-01-02", 1, 60)]
    assert sum(d for _, d, _ in days) == other["doc_count"] == 2
    assert other["m"]["value"] == 45.0
    # deeper-level mergeability rules apply too
    with pytest.raises(ValueError, match="cannot be merged"):
        serve.parse_aggs(
            {"g": {"terms": {"field": "lang", "other_bucket": True},
                   "aggs": {"by_day": {"date_histogram": {
                       "field": "ts", "fixed_interval": "1d"},
                       "aggs": {"u": {"cardinality": {
                           "field": "lang"}}}}}}},
            frame.columns,
        )


def test_other_bucket_sentinel_collision_is_400(spark):
    """Review finding: a kept REAL '__other__' term colliding with
    the fabricated merge row served two same-key buckets silently."""
    df = spark.createDataFrame(
        [(0, "__other__"), (1, "__other__"), (2, "en"), (3, "de")],
        "doc_id bigint, lang string",
    )
    with pytest.raises(ValueError, match="reserved '__other__'"):
        serve.aggs_nested(df, {"l": {"terms": {
            "field": "lang", "size": 1, "other_bucket": True}}})


def test_kql_quotes_protect_operators():
    """Review finding: a quoted value containing ' and ' split inside
    the quotes; quoted or/not falsely 400ed."""
    assert serve.kql_node('title: "a and note: b"') == {
        "term": {"title": "a and note: b"}}
    assert serve.kql_node('genre: "rock or pop"') == {
        "term": {"genre": "rock or pop"}}
    assert serve.kql_node('t: "(x)" or u: "not y"') == {
        "bool": {"should": [{"term": {"t": "(x)"}},
                            {"term": {"u": "not y"}}]}}
    with pytest.raises(ValueError, match="unbalanced"):
        serve.kql_node('t: "open')


# --- round-15: week/quarter intervals, offset, fractional-offset zones,
# --- stacked other_bucket, KQL connectives --------------------------------------


@pytest.fixture(scope="module")
def year_edge_frame(spark):
    """200 docs, 7 h apart, crossing the 2023→2024 year boundary —
    the ISO week-1 edge (2024-01-01 is a Monday, so the week
    containing New Year starts ON it; 2023-12-25's week is the prior
    Monday)."""
    import datetime

    base = datetime.datetime(2023, 12, 20, 5, 0, 0)
    rows = [
        (i, (base + datetime.timedelta(hours=7 * i)).strftime(
            "%Y-%m-%d %H:%M:%S"), float(i % 13))
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, ts_s string, v double"
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "v")


def test_date_histogram_week_iso_monday(year_edge_frame):
    """calendar_interval week/1w: ISO Monday-start weeks (ES, Spark
    date_trunc('week'), DuckDB all agree) — every key a Monday
    midnight, memberships tiling the corpus across the year edge."""
    flat = serve.aggs_flat(year_edge_frame, {
        "w": {"date_histogram": {
            "field": "ts", "calendar_interval": "1w"}}})
    keys = sorted(
        r["w"] for r in flat.filter(F.col("depth") == 1).collect()
    )
    assert all(
        k.weekday() == 0 and (k.hour, k.minute) == (0, 0) for k in keys
    )
    import datetime

    assert keys[0] == datetime.datetime(2023, 12, 18)  # Mon before base
    assert datetime.datetime(2024, 1, 1) in keys       # ISO week 1
    assert flat.filter(F.col("depth") == 1).agg(
        F.sum("doc_count")).collect()[0][0] == 200
    # "week" spells the same unit
    flat2 = serve.aggs_flat(year_edge_frame, {
        "w": {"date_histogram": {
            "field": "ts", "calendar_interval": "week"}}})
    assert sorted(
        r["w"] for r in flat2.filter(F.col("depth") == 1).collect()
    ) == keys


def test_date_histogram_quarter(year_edge_frame):
    """calendar_interval quarter/1q: quarter-start keys."""
    import datetime

    flat = serve.aggs_flat(year_edge_frame, {
        "q": {"date_histogram": {
            "field": "ts", "calendar_interval": "quarter"}}})
    got = sorted(
        (r["q"], r["doc_count"])
        for r in flat.filter(F.col("depth") == 1).collect()
    )
    assert got == [
        (datetime.datetime(2023, 10, 1), 41),
        (datetime.datetime(2024, 1, 1), 159),
    ]


def test_date_histogram_week_time_zone_gap_fill(spark):
    """Weeks under an IANA zone start at LOCAL Monday midnight (the
    same wall-space rule days use), and the min_doc_count=0 spine
    steps 7 WALL-days — across the 2024-03-10 US DST transition one
    UTC inter-key gap is a 167-hour week, which epoch-multiple
    stepping would miss."""
    df = spark.createDataFrame(
        [(0, "2024-02-20 12:00:00"), (1, "2024-03-20 12:00:00")],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    env = serve.aggs_nested(df, {"w": {"date_histogram": {
        "field": "ts", "calendar_interval": "1w",
        "time_zone": "America/New_York", "min_doc_count": 0}}})
    bs = env["w"]["buckets"]
    # local Mondays: first = 2024-02-19T00:00 EST
    assert bs[0]["key_as_string"] == "2024-02-19T00:00:00.000-05:00"
    assert [b["doc_count"] for b in bs] == [1, 0, 0, 0, 1]
    deltas = [bs[i + 1]["key"] - bs[i]["key"] for i in range(len(bs) - 1)]
    week_ms = 7 * 86_400_000
    assert week_ms - 3_600_000 in deltas          # the 167 h DST week
    assert all(d in (week_ms, week_ms - 3_600_000) for d in deltas)


def test_date_histogram_offset(dst_frame):
    """ES 'offset': every bucket start shifted by a fixed duration —
    floor(t − off) + off, the 'day starting at 06:00' panel."""
    import datetime

    flat = serve.aggs_flat(dst_frame, {
        "d": {"date_histogram": {
            "field": "ts", "fixed_interval": "1d", "offset": "+6h"}}})
    got = sorted(
        (r["d"], r["doc_count"])
        for r in flat.filter(F.col("depth") == 1).collect()
    )
    assert got == [
        (datetime.datetime(2024, 3, 9, 6, 0), 3),
        (datetime.datetime(2024, 3, 10, 6, 0), 3),
        (datetime.datetime(2024, 3, 11, 6, 0), 4),
        (datetime.datetime(2024, 3, 12, 6, 0), 2),
    ]
    # under a time_zone the offset applies in WALL space (ES's order):
    # local 06:00 anchors, whose UTC instants move across the DST step
    env = serve.aggs_nested(dst_frame, {
        "d": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d", "offset": "+6h",
            "time_zone": "America/New_York"}}})
    strs = [b["key_as_string"] for b in env["d"]["buckets"]]
    assert all("T06:00:00.000" in s for s in strs)
    assert strs[0].endswith("-05:00") and strs[-1].endswith("-04:00")
    # gap fill steps the offset grid, not the plain one
    env2 = serve.aggs_nested(dst_frame.limit(1).unionByName(
        dst_frame.orderBy(F.desc("doc_id")).limit(1)
    ), {"d": {"date_histogram": {
        "field": "ts", "fixed_interval": "1d", "offset": "+6h",
        "min_doc_count": 0}}})
    keys = [b["key"] for b in env2["d"]["buckets"]]
    assert all(k % 86_400_000 == 6 * 3_600_000 for k in keys)
    assert len(keys) == 4
    for bad in ("6h", "+1w", "-", 6, "+6.5h"):
        with pytest.raises(ValueError, match="offset"):
            serve.aggs_flat(dst_frame, {"d": {"date_histogram": {
                "field": "ts", "fixed_interval": "1d",
                "offset": bad}}})
    # a well-formed but absurd offset is a 400 naming the bound, not
    # an int64 overflow 500 deep in plan construction (review finding)
    with pytest.raises(ValueError, match="366d"):
        serve.aggs_flat(dst_frame, {"d": {"date_histogram": {
            "field": "ts", "fixed_interval": "1d",
            "offset": "+200000000d"}}})


def test_transition_free_fractional_zone_is_wall_sound(spark):
    """Round 15 (review finding): Asia/Kolkata (+05:30, no
    transitions since tzdata's era) is as DST-sound as a literal
    ±HH:MM — hourly buckets anchor at :30-phase UTC instants like ES,
    instead of silently serving plain UTC hours."""
    df = spark.createDataFrame(
        [(0, "2024-03-10 05:45:00"), (1, "2024-03-10 06:15:00")],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    env = serve.aggs_nested(df, {"h": {"date_histogram": {
        "field": "ts", "fixed_interval": "1h",
        "time_zone": "Asia/Kolkata"}}})
    bs = env["h"]["buckets"]
    # 05:45Z = 11:15 local, 06:15Z = 11:45 local — SAME local hour
    assert len(bs) == 1 and bs[0]["doc_count"] == 2
    assert bs[0]["key"] % 3_600_000 == 1_800_000  # :30 UTC phase
    assert bs[0]["key_as_string"] == "2024-03-10T11:00:00.000+05:30"
    # a >1h grid under a transitioning fractional zone is wall-sound
    env2 = serve.aggs_nested(df, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "1d",
        "time_zone": "Australia/Adelaide"}}})
    assert env2["d"]["buckets"][0]["key_as_string"].endswith("+10:30")


def test_congruent_transitioning_zone_serves_aligned_hours(spark):
    """Round 15 (second review pass): Australia/Adelaide's offsets
    (+09:30/+10:30) are CONGRUENT mod 1h, so hourly buckets sit on
    the :30 UTC phase at EVERY instant — DST steps included — and
    serve as a fixed grid shift (ES's own bucket set), where the
    first draft 400ed. A zone whose offsets changed ALIGNMENT at a
    historical instant (Asia/Singapore's 1982 +07:30→+08:00) still
    refuses, naming the modern fixed-offset remediation."""
    # 2024-04-07 03:00 ACDT → 02:00 ACST (fall-back) = 16:30Z on the
    # 6th; both docs read local 02:xx on the 7th — two DISTINCT
    # buckets, the rendered offsets disambiguating the repeated hour
    adf = spark.createDataFrame(
        [(0, "2024-04-06 15:45:00"), (1, "2024-04-06 16:45:00")],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    env = serve.aggs_nested(adf, {"h": {"date_histogram": {
        "field": "ts", "fixed_interval": "1h",
        "time_zone": "Australia/Adelaide"}}})
    bs = env["h"]["buckets"]
    assert [b["key"] % 3_600_000 for b in bs] == [1_800_000, 1_800_000]
    assert [b["key_as_string"] for b in bs] == [
        "2024-04-07T02:00:00.000+10:30",
        "2024-04-07T02:00:00.000+09:30",
    ]
    # sub-hour grids where the remainder is 0 serve plain UTC: both
    # Adelaide offsets are whole multiples of 15 minutes
    env15 = serve.aggs_nested(adf, {"h": {"date_histogram": {
        "field": "ts", "fixed_interval": "15m",
        "time_zone": "Australia/Adelaide"}}})
    assert all(
        b["key"] % 900_000 == 0 for b in env15["h"]["buckets"]
    )
    with pytest.raises(ValueError, match="differently-aligned"):
        serve.aggs_flat(adf, {"h": {"date_histogram": {
            "field": "ts", "fixed_interval": "1h",
            "time_zone": "Asia/Singapore"}}})
    # congruence composes with a user offset as one grid shift:
    # local floor + 15m under +09:30/+10:30 = UTC :45 phase
    env_off = serve.aggs_nested(adf, {"h": {"date_histogram": {
        "field": "ts", "fixed_interval": "1h", "offset": "+15m",
        "time_zone": "Australia/Adelaide"}}})
    assert all(
        b["key"] % 3_600_000 == 2_700_000
        for b in env_off["h"]["buckets"]
    )


def test_other_bucket_stacked_avg_merges_companions(spark):
    """Round 15 (review finding): with TWO stacked other_bucket terms
    levels and an avg metric, the deeper merge must re-aggregate the
    hidden sum/count companions — NULLed companions summed to a NULL
    avg for __other__-under-__other__ while doc_count stayed right."""
    df = spark.createDataFrame(
        [
            ("x", "p", 1.0), ("x", "p", 3.0), ("x", "q", 5.0),
            ("x", "r", 7.0),
            ("y", "p", 10.0), ("y", "q", 20.0),
            ("z", "p", 40.0),
        ],
        "a string, b string, v double",
    )
    env = serve.aggs_nested(df, {
        "A": {"terms": {"field": "a", "size": 1, "other_bucket": True},
              "aggs": {
                  "B": {"terms": {"field": "b", "size": 1,
                                  "other_bucket": True},
                        "aggs": {"m": {"avg": {"field": "v"}}}}}}})
    outer = {b["key"]: b for b in env["A"]["buckets"]}
    assert set(outer) == {"x", "__other__"}
    # under kept x: p kept (avg 2), q+r merged (true mean 6)
    xb = {b["key"]: b for b in outer["x"]["B"]["buckets"]}
    assert xb["p"]["m"]["value"] == 2.0
    assert xb["__other__"]["doc_count"] == 2
    assert xb["__other__"]["m"]["value"] == 6.0
    # under outer __other__ (y+z merged): p kept (10+40 → 25),
    # q merged into the INNER __other__ — the stacked case
    ob = {b["key"]: b for b in outer["__other__"]["B"]["buckets"]}
    assert ob["p"]["doc_count"] == 2 and ob["p"]["m"]["value"] == 25.0
    assert ob["__other__"]["doc_count"] == 1
    assert ob["__other__"]["m"]["value"] == 20.0


def test_other_bucket_real_sentinel_without_truncation_400(spark):
    """Round 15 (review finding): a REAL kept '__other__'-valued term
    with NOTHING truncated used to be silently re-ordered into the
    Other slot — now the same reserved-sentinel 400 as the collision
    case (sum_other 0 ⇔ no fabricated row exists, so a lone sentinel
    row must be the real term)."""
    df = spark.createDataFrame(
        [(0, "__other__"), (1, "en"), (2, "de")],
        "doc_id bigint, lang string",
    )
    with pytest.raises(ValueError, match="reserved '__other__'"):
        serve.aggs_nested(df, {"l": {"terms": {
            "field": "lang", "size": 5, "other_bucket": True}}})


def test_kibana_week_interval_translates_to_calendar(frame):
    """Kibana's auto-interval sends '1w' for any 1–3-month zoom — it
    must reach the compiler as calendar_interval (a week is not a
    fixed seconds count once time_zone applies), and the legacy
    'w'/'M'/'y' spellings with it."""
    for iv, cal in (("1w", "1w"), ("w", "1w"), ("week", "1w"),
                    ("M", "1M"), ("1M", "1M"), ("q", "1q"),
                    ("y", "1y")):
        spec = serve.kibana_vis_aggs({"aggs": [
            {"id": "1", "type": "count", "schema": "metric",
             "params": {}},
            {"id": "2", "type": "date_histogram", "schema": "segment",
             "params": {"field": "ts", "interval": iv}},
        ]})
        body = spec["k2"]["date_histogram"]
        assert body == {"field": "ts", "calendar_interval": cal}, iv
    # sub-day tokens stay fixed_interval
    spec = serve.kibana_vis_aggs({"aggs": [
        {"id": "2", "type": "date_histogram", "schema": "segment",
         "params": {"field": "ts", "interval": "15m"}},
    ]})
    assert spec["k2"]["date_histogram"] == {
        "field": "ts", "fixed_interval": "15m"}
    # and the translated week serves end-to-end
    spec = serve.kibana_vis_aggs({"aggs": [
        {"id": "2", "type": "date_histogram", "schema": "segment",
         "params": {"field": "TS", "interval": "1w"}},
    ]}, {"TS": "ts"})
    out = serve.aggs_nested(frame, spec)
    assert all(
        b["key"] % 1000 == 0 and b["doc_count"] > 0
        for b in out["k2"]["buckets"]
    )


# --- round-15: filters × filters product ----------------------------------------


def test_filters_product_nested_and_flat(frame):
    """Kibana's TWO filters splits: a nested filters agg inside the
    outer's sub-aggs serves as ONE conditional-aggregation pass over
    the pair grid — outer doc_count/metric siblings over the outer
    filter's docs, inner cells over the intersection, empty cells at
    doc_count 0 (ES enumerates named filters regardless of
    matches)."""
    body = {"filters": {"en": {"term": {"lang": "en"}},
                        "all": {"match_all": {}}},
            "aggs": {"oc": {"avg": {"field": "n_chars"}},
                     "by_size": {"filters": {"filters": {
                         "big": {"range": {"n_chars": {"gte": 40}}},
                         "small": {"range": {"n_chars": {"lt": 40}}}}},
                         "aggs": {"mx": {"max": {"field": "n_chars"}}}}}}
    env = serve.filters_nested(frame, body)
    en = env["buckets"]["en"]
    assert en["doc_count"] == 3
    assert en["oc"]["value"] == pytest.approx(80 / 3)
    assert en["by_size"]["buckets"]["big"] == {
        "doc_count": 1, "mx": {"value": 50}}
    assert en["by_size"]["buckets"]["small"] == {
        "doc_count": 2, "mx": {"value": 20}}
    alle = env["buckets"]["all"]
    assert alle["doc_count"] == 6
    assert alle["by_size"]["buckets"]["big"]["mx"]["value"] == 60
    # flat gate surface: outer rows (filter2 null) + pair rows
    flat = serve.filters_product_flat(frame, body)
    rows = {(r["filter"], r["filter2"]): r for r in flat.collect()}
    assert len(rows) == 6
    assert rows[("en", None)]["doc_count"] == 3
    assert rows[("en", "big")]["mx"] == 50
    assert rows[("all", "small")]["doc_count"] == 3
    assert rows[("all", None)]["oc"] == pytest.approx(210 / 6)
    # an empty pair cell serves doc_count 0, never a missing bucket
    env0 = serve.filters_nested(frame, {
        "filters": {"fr": {"term": {"lang": "fr"}}},
        "aggs": {"g": {"filters": {"filters": {
            "tiny": {"range": {"n_chars": {"lt": 5}}}}}}}})
    assert env0["buckets"]["fr"]["g"]["buckets"]["tiny"] == {
        "doc_count": 0}
    # validate_filters covers the product form (REST fail-fast)
    serve.validate_filters(body, frame)


def test_filters_product_400s(frame):
    base = {"filters": {"a": {"match_all": {}}}}
    # a third filters level would cube the pair grid
    with pytest.raises(ValueError, match="two levels deep"):
        serve.validate_filters({**base, "aggs": {
            "x": {"filters": {"filters": {"b": {"match_all": {}}}},
                  "aggs": {"y": {"filters": {"filters": {
                      "c": {"match_all": {}}}}}}}}}, frame)
    # a bucket chain under the INNER level is refused with remediation
    with pytest.raises(ValueError, match="INNER filters level"):
        serve.validate_filters({**base, "aggs": {
            "x": {"filters": {"filters": {"b": {"match_all": {}}}},
                  "aggs": {"d": {"date_histogram": {
                      "field": "ts", "fixed_interval": "1d"}}}}}}, frame)
    # two nested filters at ONE level is ambiguous in the named shape
    with pytest.raises(ValueError, match="at most one nested"):
        serve.validate_filters({**base, "aggs": {
            "x": {"filters": {"filters": {"b": {"match_all": {}}}}},
            "y": {"filters": {"filters": {"c": {"match_all": {}}}}}}},
            frame)
    # the pair grid is capped at 64
    many = {f"f{i}": {"match_all": {}} for i in range(9)}
    with pytest.raises(ValueError, match="64 pairs"):
        serve.validate_filters({
            "filters": many,
            "aggs": {"x": {"filters": {"filters": dict(many)}}}}, frame)
    # the inner node takes ES's named form
    with pytest.raises(ValueError, match="named"):
        serve.validate_filters({**base, "aggs": {
            "x": {"filters": [{"term": {"lang": "en"}}]}}}, frame)


def test_kibana_two_filters_splits_translation(frame):
    """Two filters controls (split series + x-axis) translate to the
    nested filters×filters body — group nests OUTSIDE segment even
    when the panel lists segment first — and serve through the
    product path; a third dimension (date axis) stays a 400."""
    seg = {"id": "2", "type": "filters", "schema": "segment",
           "params": {"filters": [
               {"input": {"query": "N_CHARS >= 40"}, "label": "big"},
               {"input": {"query": "N_CHARS < 40"}, "label": "small"},
           ]}}
    grp = {"id": "3", "type": "filters", "schema": "group",
           "params": {"filters": [
               {"input": {"query": "LANG: en"}, "label": "English"},
           ]}}
    vis = {"aggs": [
        {"id": "1", "type": "count", "schema": "metric", "params": {}},
        seg, grp,
    ]}
    fm = {"LANG": "lang", "N_CHARS": "n_chars"}
    spec = serve.kibana_vis_aggs(vis, fm)
    assert set(spec) == {"k3"}  # the GROUP split is the outer level
    inner_node = spec["k3"]["aggs"]["k2"]
    assert set(inner_node["filters"]["filters"]) == {"big", "small"}
    env = serve.filters_nested(
        frame,
        {"filters": spec["k3"]["filters"]["filters"],
         "aggs": spec["k3"]["aggs"]},
    )
    cells = env["buckets"]["English"]["k2"]["buckets"]
    assert cells["big"]["doc_count"] == 1
    assert cells["small"]["doc_count"] == 2
    # two splits + a date axis = a cube the serve does not express
    vis3 = {"aggs": [
        {"id": "1", "type": "count", "schema": "metric", "params": {}},
        {"id": "4", "type": "date_histogram", "schema": "segment",
         "params": {"field": "ts", "interval": "auto"}},
        seg, grp,
    ]}
    with pytest.raises(ValueError, match="cube"):
        serve.kibana_vis_aggs(vis3, fm, fixed_interval="1d")
    # and a THIRD filters control is past the product's depth
    vis4 = {"aggs": [seg, grp,
                     {"id": "5", "type": "filters", "schema": "group",
                      "params": {"filters": [
                          {"input": {"query": "LANG: de"}}]}}]}
    with pytest.raises(ValueError, match="at most two filters"):
        serve.kibana_vis_aggs(vis4, fm)


def test_kibana_legacy_subday_interval_tokens():
    """Round 15 (second review pass): the legacy bare tokens
    'd'/'h'/'m'/'s' — the same spelling family as the 'w'/'M'/'q'/'y'
    calendar tokens — normalize to fixed_interval spellings instead
    of 400ing inside _fixed_interval_seconds."""
    for tok, want in (("d", "1d"), ("h", "1h"), ("m", "1m"),
                      ("s", "1s"), ("15m", "15m")):
        spec = serve.kibana_vis_aggs({"aggs": [
            {"id": "1", "type": "count", "schema": "metric",
             "params": {}},
            {"id": "2", "type": "date_histogram", "schema": "segment",
             "params": {"field": "ts", "interval": tok}},
        ]})
        assert spec["k2"]["date_histogram"]["fixed_interval"] == want


def test_filters_product_reserves_columns_across_levels(frame):
    """Round 15 (second review pass): the flat product surface lays
    both levels' metric columns side by side — a same-named metric at
    the two levels, or one named 'filter'/'filter2', would mint a
    duplicate StructType field (ambiguous select, silently-wrong
    Row-by-name access) and is a 400 instead."""
    def body(outer_metric, inner_metric):
        return {"filters": {"a": {"match_all": {}}},
                "aggs": {outer_metric: {"max": {"field": "n_chars"}},
                         "g": {"filters": {"filters": {
                             "b": {"match_all": {}}}},
                             "aggs": {inner_metric: {
                                 "max": {"field": "n_chars"}}}}}}
    with pytest.raises(ValueError, match="reserved"):
        serve.validate_filters(body("mx", "mx"), frame)
    with pytest.raises(ValueError, match="reserved"):
        serve.validate_filters(body("filter", "mx"), frame)
    with pytest.raises(ValueError, match="reserved"):
        serve.validate_filters(body("mx", "filter2"), frame)
    serve.validate_filters(body("mx_outer", "mx_inner"), frame)  # ok


def test_kql_quote_is_token_boundary():
    """Round 15 (second review pass): a closing quote is a token
    boundary — 't: "x"or u: y' is valid KQL that Kibana parses as an
    OR; the space-only boundary set swallowed the operator into the
    atom and served a single never-matching term filter."""
    assert serve.kql_node('t: "x"or u: y') == {
        "bool": {"should": [{"term": {"t": "x"}},
                            {"term": {"u": "y"}}]}}
    assert serve.kql_node('t: "a and b"and u: y') == {
        "bool": {"filter": [{"term": {"t": "a and b"}},
                            {"term": {"u": "y"}}]}}
    # an operator glued to an OPENING quote is a boundary too — the
    # bare quoted atom is then free text, an explicit 400 (never a
    # silent never-matching term)
    with pytest.raises(ValueError, match="free text"):
        serve.kql_node('f: a or"b c"')


def test_extended_stats_metric(frame):
    """Round 15: extended_stats — Kibana's "Standard Deviation"
    metric. The flat frame carries the eight components computed from
    the exact integer sums (never var_pop, whose central-moment merge
    is partition-order-sensitive); the envelope derives the
    population/sampling split and the sigma bounds at reduce time."""
    env = serve.aggs_nested(frame, {"s": {
        "extended_stats": {"field": "n_chars", "sigma": 1.5}}})
    s = env["s"]
    # n_chars = 10,20,30,40,50,60: mean 35, sos 9100,
    # var_pop = 9100/6 - 35² = 291.666..
    assert s["count"] == 6 and s["min"] == 10 and s["max"] == 60
    assert s["avg"] == 35.0 and s["sum"] == 210
    assert s["sum_of_squares"] == 9100
    assert round(s["variance"], 6) == 291.666667
    assert s["variance_population"] == s["variance"]
    assert round(s["variance_sampling"], 6) == 350.0
    assert round(s["std_deviation"], 6) == 17.078251
    assert s["std_deviation_population"] == s["std_deviation"]
    assert round(s["std_deviation_sampling"], 6) == 18.708287
    b = s["std_deviation_bounds"]
    assert round(b["upper"], 6) == round(35 + 1.5 * s["std_deviation"], 6)
    assert round(b["lower"], 6) == round(35 - 1.5 * s["std_deviation"], 6)
    assert b["upper_population"] == b["upper"]
    assert round(b["upper_sampling"], 6) == round(
        35 + 1.5 * s["std_deviation_sampling"], 6)
    # empty match set: counts/sums serve 0, derived stats null
    empty = serve.aggs_nested(
        frame.filter(F.lit(False)),
        {"s": {"extended_stats": {"field": "n_chars"}}},
    )["s"]
    assert empty["count"] == 0 and empty["sum"] == 0.0
    assert empty["sum_of_squares"] == 0.0
    assert empty["avg"] is None and empty["variance"] is None
    assert empty["std_deviation_bounds"]["upper"] is None
    # single-value bucket: population variance 0, sampling null (n<2)
    one = serve.aggs_nested(
        frame.filter(F.col("doc_id") == 0),
        {"s": {"extended_stats": {"field": "n_chars"}}},
    )["s"]
    assert one["variance"] == 0.0 and one["variance_sampling"] is None
    # validation: sigma must be a non-negative number; strict keys
    with pytest.raises(ValueError, match="sigma"):
        serve.aggs_flat(frame, {"s": {"extended_stats": {
            "field": "n_chars", "sigma": -1}}})
    with pytest.raises(ValueError, match="unsupported"):
        serve.aggs_flat(frame, {"s": {"extended_stats": {
            "field": "n_chars", "missing": 0}}})


def test_extended_stats_pipeline_and_order_paths(frame):
    """extended_stats components address like stats components — a
    terms order key or a buckets_path terminal reaches any of the
    eight parts by dotted path."""
    env = serve.aggs_nested(frame, {
        "d": {"date_histogram": {"field": "ts", "fixed_interval": "1d"},
              "aggs": {"es": {"extended_stats": {"field": "n_chars"}}}},
        "max_sd": {"max_bucket": {"buckets_path": "d>es.std_deviation"}},
    })
    sds = [b["es"]["std_deviation"] for b in env["d"]["buckets"]]
    assert env["max_sd"]["value"] == max(sds)
    # terms ordered by the std_deviation component
    env2 = serve.aggs_nested(frame, {"by_lang": {
        "terms": {"field": "lang", "size": 1,
                  "order": {"es.std_deviation": "desc"}},
        "aggs": {"es": {"extended_stats": {"field": "n_chars"}}}}})
    # en: values 10,20,50 (sd ≈ 17.0) beats de/fr singletons (sd 0)
    assert [b["key"] for b in env2["by_lang"]["buckets"]] == ["en"]
    with pytest.raises(ValueError, match="component path"):
        serve.aggs_nested(frame, {
            "d": {"date_histogram": {"field": "ts",
                                     "fixed_interval": "1d"},
                  "aggs": {"es": {"extended_stats": {
                      "field": "n_chars"}}}},
            "m": {"max_bucket": {"buckets_path": "d>es.bogus"}},
        })


def test_percentile_ranks_metric(frame):
    """Round 15: percentile_ranks — Kibana's "Percentile Rank"
    metric as the exact empirical CDF (percent of non-null values ≤
    each probe), the same exact-vs-TDigest divergence the percentiles
    metric documents."""
    env = serve.aggs_nested(frame, {"pr": {
        "percentile_ranks": {"field": "n_chars",
                             "values": [10, 35.5, 60, 1000]}}})
    vals = env["pr"]["values"]
    # 10,20,30,40,50,60: ≤10 → 1/6; ≤35.5 → 3/6; ≤60 → 6/6
    assert round(vals["10.0"], 6) == round(100 / 6, 6)
    assert vals["35.5"] == 50.0
    assert vals["60.0"] == 100.0 and vals["1000.0"] == 100.0
    # empty bucket: null ranks (never a ZeroDivision 500)
    empty = serve.aggs_nested(
        frame.filter(F.lit(False)),
        {"pr": {"percentile_ranks": {"field": "n_chars",
                                     "values": [10]}}},
    )["pr"]
    assert empty["values"]["10.0"] is None
    # validation: values required, numbers only; strict keys
    with pytest.raises(ValueError, match="values"):
        serve.aggs_flat(frame, {"pr": {"percentile_ranks": {
            "field": "n_chars"}}})
    with pytest.raises(ValueError, match="values"):
        serve.aggs_flat(frame, {"pr": {"percentile_ranks": {
            "field": "n_chars", "values": ["a"]}}})
    with pytest.raises(ValueError, match="unsupported"):
        serve.aggs_flat(frame, {"pr": {"percentile_ranks": {
            "field": "n_chars", "values": [1], "keyed": False}}})
    # not mergeable from the bucket frame → refused under other_bucket
    with pytest.raises(ValueError, match="percentile_ranks"):
        serve.aggs_flat(frame, {"by_lang": {
            "terms": {"field": "lang", "size": 1, "other_bucket": True},
            "aggs": {"pr": {"percentile_ranks": {
                "field": "n_chars", "values": [10]}}}}})


def test_serial_diff_walk(frame):
    """Round 15: serial_diff (TSVB's "Serial Difference") — diff
    against the value ``lag`` VALUED buckets earlier; gap_policy skip
    keeps nulls out of the lag window; the first ``lag`` valued
    buckets carry no entry."""
    # day grid with min_doc_count 0 over a 2-day hole: mean is null
    # on filled buckets (skipped), _count is 0 there (a VALUE)
    df = frame.union(frame.sparkSession.createDataFrame(
        [(9, "2024-01-05 01:00:00", "en", 90)],
        "doc_id bigint, ts_s string, lang string, n_chars bigint",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "lang", "n_chars"))
    env = serve.aggs_nested(df, {"d": {
        "date_histogram": {"field": "ts", "fixed_interval": "1d",
                           "min_doc_count": 0},
        "aggs": {
            "mean": {"avg": {"field": "n_chars"}},
            "sd_mean": {"serial_diff": {"buckets_path": "mean"}},
            "sd_cnt": {"serial_diff": {"buckets_path": "_count",
                                       "lag": 2}},
        }}})
    bs = env["d"]["buckets"]
    # days: 01(mean 25, n 4) 02(55, 2) 03(null, 0) 04(null, 0)
    # 05(90, 1)
    assert [b["doc_count"] for b in bs] == [4, 2, 0, 0, 1]
    # mean series skips the filled days: diffs 55-25, then 90-55
    # ACROSS the hole (lag window holds valued entries only)
    assert "sd_mean" not in bs[0]
    assert bs[1]["sd_mean"]["value"] == 30.0
    assert "sd_mean" not in bs[2] and "sd_mean" not in bs[3]
    assert bs[4]["sd_mean"]["value"] == 35.0
    # _count series: 0 is a value — lag-2 diffs over 4,2,0,0,1
    assert "sd_cnt" not in bs[0] and "sd_cnt" not in bs[1]
    assert [bs[i]["sd_cnt"]["value"] for i in (2, 3, 4)] == [
        -4.0, -2.0, 1.0]
    # validation: ordered parent required; lag a positive integer;
    # strict keys
    with pytest.raises(ValueError, match="histogram"):
        serve.aggs_flat(frame, {"t": {
            "terms": {"field": "lang"},
            "aggs": {"s": {"serial_diff": {"buckets_path": "_count"}}}}})
    with pytest.raises(ValueError, match="lag"):
        serve.aggs_flat(frame, {"d": {
            "date_histogram": {"field": "ts", "fixed_interval": "1d"},
            "aggs": {"s": {"serial_diff": {"buckets_path": "_count",
                                           "lag": 0}}}}})
    with pytest.raises(ValueError, match="unsupported"):
        serve.aggs_flat(frame, {"d": {
            "date_histogram": {"field": "ts", "fixed_interval": "1d"},
            "aggs": {"s": {"serial_diff": {"buckets_path": "_count",
                                           "unit": "1h"}}}}})


def test_kibana_std_dev_and_percentile_ranks_translation():
    """Round 15: the classic Kibana metric dropdown's last two types
    — std_dev (ES extended_stats) and percentile_ranks — translate;
    orderBy over them resolves to the right dotted component."""
    spec = serve.kibana_vis_aggs({"aggs": [
        {"id": "1", "type": "std_dev", "schema": "metric",
         "params": {"field": "RATING"}},
        {"id": "2", "type": "percentile_ranks", "schema": "metric",
         "params": {"field": "RATING", "values": [3, 4.5]}},
        {"id": "3", "type": "percentiles", "schema": "metric",
         "params": {"field": "RATING", "percents": [25, 75]}},
        {"id": "4", "type": "terms", "schema": "segment",
         "params": {"field": "CHANNEL", "size": 5,
                    "orderBy": "1", "order": "desc"}},
    ]})
    assert spec["k4"]["terms"]["order"] == {"k1.std_deviation": "desc"}
    sub = spec["k4"]["aggs"]
    assert sub["k1"] == {"extended_stats": {"field": "RATING"}}
    assert sub["k2"] == {"percentile_ranks": {
        "field": "RATING", "values": [3.0, 4.5]}}
    assert sub["k3"] == {"percentiles": {
        "field": "RATING", "percents": [25.0, 75.0]}}
    spec2 = serve.kibana_vis_aggs({"aggs": [
        {"id": "2", "type": "percentile_ranks", "schema": "metric",
         "params": {"field": "RATING", "values": [3]}},
        {"id": "4", "type": "terms", "schema": "segment",
         "params": {"field": "CHANNEL", "size": 2,
                    "orderBy": "2", "order": "asc"}},
    ]})
    assert spec2["k4"]["terms"]["order"] == {"k2.3.0": "asc"}


def test_default_key_as_string_is_es_millis_z(frame):
    """Round 15 (review follow-through): the r15 draft's "default
    key_as_string renders millis + Z" fix landed in _dh_key_string's
    unreachable no-tz branch — the path every default key actually
    takes is _key_json, now rendering ES's strict_date_optional_time
    form there (and range_label for date_range keys)."""
    env = serve.aggs_nested(frame, {"d": {"date_histogram": {
        "field": "ts", "fixed_interval": "1d"}}})
    assert [b["key_as_string"] for b in env["d"]["buckets"]] == [
        "2024-01-01T00:00:00.000Z", "2024-01-02T00:00:00.000Z"]
    day2 = 1704153600000
    env2 = serve.aggs_nested(frame, {"r": {"date_range": {
        "field": "ts", "ranges": [{"to": day2}]}}})
    b = env2["r"]["buckets"][0]
    assert b["key"] == "*-2024-01-02T00:00:00.000Z"
    assert b["to_as_string"] == "2024-01-02T00:00:00.000Z"


def test_extended_stats_under_other_bucket_merges_true_stats(frame):
    """extended_stats is MERGEABLE (count/sum/sum_of_squares re-sum;
    avg/variance/std recompute from the merged sums), so an
    other_bucket merge serves the TRUE statistics of the truncated-
    away terms — never stat-of-stats."""
    env = serve.aggs_nested(frame, {"by_lang": {
        "terms": {"field": "lang", "size": 1, "other_bucket": True},
        "aggs": {"es": {"extended_stats": {"field": "n_chars"}}}}})
    other = env["by_lang"]["buckets"][-1]
    assert other["key"] == "__other__"
    # de(30) + fr(60): sum 90, sos 4500, var = 2250 − 45² = 225
    s = other["es"]
    assert s["count"] == 2 and s["sum"] == 90
    assert s["sum_of_squares"] == 4500
    assert s["avg"] == 45.0 and s["variance"] == 225.0
    assert s["std_deviation"] == 15.0


def test_numeric_histogram_offset(frame):
    """Round 15: ES numeric histogram 'offset' — bucket start =
    floor((v − off) / interval) · interval + off, the same grid-shift
    contract as date_histogram's offset; min_doc_count=0 spines walk
    the shifted grid with bit-identical keys."""
    env = serve.aggs_nested(frame, {"h": {"histogram": {
        "field": "n_chars", "interval": 20, "offset": 5}}})
    got = [(b["key"], b["doc_count"]) for b in env["h"]["buckets"]]
    # 10,20 → 5; 30,40 → 25; 50,60 → 45
    assert got == [(5.0, 2), (25.0, 2), (45.0, 2)]
    # gap fill steps the shifted grid (drop the middle bucket's docs)
    env2 = serve.aggs_nested(
        frame.filter(~F.col("n_chars").isin(30, 40)),
        {"h": {"histogram": {"field": "n_chars", "interval": 20,
                             "offset": 5, "min_doc_count": 0}}},
    )
    assert [(b["key"], b["doc_count"]) for b in env2["h"]["buckets"]] \
        == [(5.0, 2), (25.0, 0), (45.0, 2)]
    # ES's own bound: 0 ≤ offset < interval
    for bad in (-5, 20, "5"):
        with pytest.raises(ValueError, match="offset"):
            serve.aggs_flat(frame, {"h": {"histogram": {
                "field": "n_chars", "interval": 20, "offset": bad}}})


@pytest.fixture(scope="module")
def hourly_frame(spark):
    """Docs every 2 hours across a 22-hour span: the auto ladder's
    1h rung gives 23 contiguous buckets, 3h gives 8."""
    rows = [(i, f"2024-01-01 {i:02d}:10:00", 10 * i)
            for i in range(0, 24, 2)]
    return spark.createDataFrame(
        rows, "doc_id bigint, ts_s string, v bigint"
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "v")


def test_auto_date_histogram_selection_and_fill(hourly_frame):
    """Round 15: auto_date_histogram — one min/max pass picks the
    smallest ladder rung whose CONTIGUOUS bucket count stays ≤ the
    target (ES's reduce fills interior gaps, so the dense list is
    what the target bounds); the envelope carries ES's chosen
    'interval'."""
    env = serve.aggs_nested(hourly_frame, {"a": {
        "auto_date_histogram": {"field": "ts"},
        "aggs": {"mx": {"max": {"field": "v"}}}}})
    a = env["a"]
    # 22h span: 1h → 23 > 10; 3h → 8 ≤ 10
    assert a["interval"] == "3h" and len(a["buckets"]) == 8
    assert a["buckets"][0]["mx"]["value"] == 20  # 00:10 + 02:10
    # a larger target picks the finer rung — and the bucket list is
    # CONTIGUOUS (every-2h docs gap-fill the odd hours)
    env2 = serve.aggs_nested(hourly_frame, {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 30}}})
    assert env2["a"]["interval"] == "1h"
    assert len(env2["a"]["buckets"]) == 23
    assert [b["doc_count"] for b in env2["a"]["buckets"][:4]] \
        == [1, 0, 1, 0]
    # minimum_interval skips finer rungs
    env3 = serve.aggs_nested(hourly_frame, {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 30,
                                "minimum_interval": "hour"}}})
    assert env3["a"]["interval"] == "1h"
    env4 = serve.aggs_nested(hourly_frame, {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 3,
                                "minimum_interval": "day"}}})
    assert env4["a"]["interval"] == "1d"
    # empty match set: no buckets, finest-allowed interval
    env5 = serve.aggs_nested(
        hourly_frame.filter(F.lit(False)),
        {"a": {"auto_date_histogram": {"field": "ts"}}})
    assert env5["a"] == {"buckets": [], "interval": "1s"}


def test_auto_date_histogram_calendar_and_refusals(spark, frame):
    """The month/quarter/year rungs are calendar truncs (3M = ES's
    month-multiple-of-3 = the quarter trunc); the two UNPINNABLE
    rungs — '7d' and the multi-year family — refuse by name instead
    of silently serving a neighboring rung."""
    months = spark.createDataFrame(
        [(i, f"2024-{1 + i:02d}-15 00:00:00") for i in range(10)],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    env = serve.aggs_nested(months, {"a": {
        "auto_date_histogram": {"field": "ts",
                                "minimum_interval": "month"}}})
    assert env["a"]["interval"] == "1M"
    assert env["a"]["buckets"][0]["key_as_string"] \
        == "2024-01-01T00:00:00.000Z"
    env2 = serve.aggs_nested(months, {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 4,
                                "minimum_interval": "month"}}})
    assert env2["a"]["interval"] == "3M"
    assert [b["key_as_string"][:7] for b in env2["a"]["buckets"]] \
        == ["2024-01", "2024-04", "2024-07", "2024-10"]
    # a ~40-day span at the default target lands on ES's 7d rung
    days = spark.createDataFrame(
        [(i, f"2024-{1 + i // 28:02d}-{1 + i % 28:02d} 00:00:00")
         for i in range(40)],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    with pytest.raises(ValueError, match="'7d' rung"):
        serve.aggs_nested(days, {"a": {
            "auto_date_histogram": {"field": "ts"}}})
    # beyond 1y at the target → the multi-year rungs refuse
    years = spark.createDataFrame(
        [(i, f"{2000 + i}-06-01 00:00:00") for i in range(15)],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    with pytest.raises(ValueError, match="multi-year"):
        serve.aggs_nested(years, {"a": {
            "auto_date_histogram": {"field": "ts", "buckets": 10}}})
    # validation: buckets bound, minimum_interval grammar, strict
    # keys, field typing; the caller's spec is NOT mutated
    for bad, pat in ((0, "buckets"), (True, "buckets")):
        with pytest.raises(ValueError, match=pat):
            serve.aggs_nested(frame, {"a": {"auto_date_histogram": {
                "field": "ts", "buckets": bad}}})
    with pytest.raises(ValueError, match="minimum_interval"):
        serve.aggs_nested(frame, {"a": {"auto_date_histogram": {
            "field": "ts", "minimum_interval": "week"}}})
    with pytest.raises(ValueError, match="unsupported"):
        serve.aggs_nested(frame, {"a": {"auto_date_histogram": {
            "field": "ts", "offset": "+6h"}}})
    with pytest.raises(ValueError, match="timestamp"):
        serve.aggs_nested(frame, {"a": {"auto_date_histogram": {
            "field": "n_chars"}}})
    spec = {"a": {"auto_date_histogram": {"field": "ts"}}}
    serve.aggs_nested(frame, spec)
    assert "auto_date_histogram" in spec["a"]  # caller's dict intact


def test_auto_date_histogram_time_zone(spark):
    """time_zone on auto: fixed offsets and transition-free IANA
    zones shift the selection's wall space AND the served buckets (one
    uniform rule for every rung); transitioning zones refuse naming
    the explicit-date_histogram remediation."""
    df = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i} 23:00:00") for i in range(3)],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    # 23:00 UTC = 04:30 next day in Kolkata: 3 local DAYS span 3
    # wall-days (Jan 2-4); under UTC the same docs span Jan 1-3
    env = serve.aggs_nested(df, {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 3,
                                "time_zone": "Asia/Kolkata"}}})
    assert env["a"]["interval"] == "1d"
    assert [b["key_as_string"] for b in env["a"]["buckets"]] == [
        "2024-01-02T00:00:00.000+05:30",
        "2024-01-03T00:00:00.000+05:30",
        "2024-01-04T00:00:00.000+05:30",
    ]
    with pytest.raises(ValueError, match="transitions"):
        serve.aggs_nested(df, {"a": {"auto_date_histogram": {
            "field": "ts", "time_zone": "America/New_York"}}})


def test_auto_date_histogram_review_findings(spark, frame):
    """Round 15 review pass over the round's own additions: a bad
    IANA name is the caller's 400 through the shared time_zone
    validator (it leaked ZoneInfoNotFoundError — a 500); a non-dict
    auto body 400s naming the object contract (it fell through to
    the misleading 'unsupported agg type'); two auto nodes over the
    SAME field share one deduped min/max pass (duplicate aliases made
    the Row's by-name reads ambiguous)."""
    with pytest.raises(ValueError, match="unknown time_zone"):
        serve.aggs_nested(frame, {"a": {"auto_date_histogram": {
            "field": "ts", "time_zone": "Mars/Olympus"}}})
    with pytest.raises(ValueError, match="must be an"):
        serve.aggs_nested(frame, {"a": {"auto_date_histogram": "1h"}})
    env = serve.aggs_nested(frame, {
        "by_lang": {"terms": {"field": "lang", "size": 1},
                    "aggs": {"inner": {"auto_date_histogram": {
                        "field": "ts", "buckets": 40}}}},
    })
    kept = env["by_lang"]["buckets"][0]
    assert kept["inner"]["interval"] == "1h"
    env2 = serve.aggs_nested(frame, {"outer": {
        "auto_date_histogram": {"field": "ts", "buckets": 3},
        "aggs": {"n": {"value_count": {"field": "ts"}}}}})
    assert env2["outer"]["interval"] == "12h"


def test_kibana_auto_interval_translates_to_auto_dh():
    """Round 15: a Kibana date_histogram whose interval is 'auto'
    and the caller opts out of the override (fixed_interval=None)
    now translates to ES's own
    resolution — an auto_date_histogram resolved against the matched
    span at serve time — instead of a confusing parse 400."""
    spec = serve.kibana_vis_aggs({"aggs": [
        {"id": "1", "type": "count", "schema": "metric", "params": {}},
        {"id": "2", "type": "date_histogram", "schema": "segment",
         "params": {"field": "EXTRACT_TS", "interval": "auto",
                    "time_zone": "+05:30"}},
    ]}, fixed_interval=None)
    assert spec == {"k2": {"auto_date_histogram": {
        "field": "EXTRACT_TS", "time_zone": "+05:30"}}}
    # an explicit caller override still wins (the UI zoom contract)
    spec2 = serve.kibana_vis_aggs({"aggs": [
        {"id": "1", "type": "count", "schema": "metric", "params": {}},
        {"id": "2", "type": "date_histogram", "schema": "segment",
         "params": {"field": "EXTRACT_TS", "interval": "auto"}},
    ]}, fixed_interval="1m")
    assert spec2 == {"k2": {"date_histogram": {
        "field": "EXTRACT_TS", "fixed_interval": "1m"}}}


def test_congruent_tz_offset_and_gap_fill_compose(spark):
    """Round 15 hardening: the congruent-zone alignment r composes
    with a user 'offset' AND min_doc_count=0 gap fill as one grid
    shift — fabricated spine keys land on the same :45 UTC phase as
    Spark-computed ones across Adelaide's fall-back step (the two
    local-02:15 buckets disambiguated by the rendered offset)."""
    df = spark.createDataFrame(
        [(0, "2024-04-06 15:50:00"), (1, "2024-04-06 20:50:00")],
        "doc_id bigint, ts_s string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"))
    env = serve.aggs_nested(df, {"h": {"date_histogram": {
        "field": "ts", "fixed_interval": "1h", "offset": "+15m",
        "time_zone": "Australia/Adelaide", "min_doc_count": 0}}})
    bs = env["h"]["buckets"]
    assert [b["doc_count"] for b in bs] == [1, 0, 0, 0, 0, 1]
    assert all(b["key"] % 3_600_000 == 2_700_000 for b in bs)
    assert [b["key_as_string"] for b in bs[:2]] == [
        "2024-04-07T02:15:00.000+10:30",
        "2024-04-07T02:15:00.000+09:30",
    ]


def test_new_metrics_compose_through_filters_product(spark):
    """Round 15 hardening: extended_stats and percentile_ranks ride
    the filters×filters product's conditional-prefix path like any
    metric — per-cell component sums stay correct (de = 10,30,50,70
    → var_pop 500; the 'small' cell {10,30} ranks 45 at 100%)."""
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", 10 * (i + 1)) for i in range(8)],
        "doc_id bigint, lang string, n bigint")
    flat = serve.filters_product_flat(df, {
        "filters": {"en": {"term": {"lang": "en"}},
                    "de": {"term": {"lang": "de"}}},
        "aggs": {"spread": {"extended_stats": {"field": "n"}},
                 "g": {"filters": {"filters": {
                     "big": {"range": {"n": {"gte": 50}}},
                     "small": {"range": {"n": {"lt": 50}}}}},
                     "aggs": {"pr": {"percentile_ranks": {
                         "field": "n", "values": [45]}}}}}})
    rows = {(r["filter"], r["filter2"]): r.asDict()
            for r in flat.collect()}
    assert rows[("de", None)]["spread_variance"] == 500.0
    assert rows[("de", "small")]["pr_45_0"] == 100.0
    assert rows[("de", "big")]["pr_45_0"] == 0.0


def test_duplicate_probe_values_are_a_400(frame):
    """Round 15 review pass: [100, 100.0] coerces to ONE float, so a
    duplicate probe list would mint duplicate flat columns (the
    set-based reserved check can't see it) — 400 for both
    percentile_ranks values and percentiles percents."""
    with pytest.raises(ValueError, match="distinct"):
        serve.aggs_flat(frame, {"pr": {"percentile_ranks": {
            "field": "n_chars", "values": [100, 100.0]}}})
    with pytest.raises(ValueError, match="distinct"):
        serve.aggs_flat(frame, {"p": {"percentiles": {
            "field": "n_chars", "percents": [50, 50.0]}}})


def test_filter_and_missing_single_bucket_aggs(frame):
    """Round 15: the singular filter agg (TSVB's Filter Ratio shape)
    and the missing agg (the null-field bucket) serve by NARROWING
    the frame — the envelope is {doc_count, **sub_aggs}, no buckets
    list; nesting recurses; siblings/nested placement 400 naming the
    query-level remediation."""
    env = serve.aggs_nested(frame, {"en_docs": {
        "filter": {"term": {"lang": "en"}},
        "aggs": {"m": {"avg": {"field": "n_chars"}},
                 "by_day": {"date_histogram": {
                     "field": "ts", "fixed_interval": "1d"}}}}})
    node = env["en_docs"]
    assert node["doc_count"] == 3 and node["m"]["value"] == pytest.approx(
        (10 + 20 + 50) / 3)
    assert [b["doc_count"] for b in node["by_day"]["buckets"]] == [2, 1]
    # missing: the NULL-lang doc's bucket, sub-metrics included
    env2 = serve.aggs_nested(frame, {"nolang": {
        "missing": {"field": "lang"},
        "aggs": {"mx": {"max": {"field": "n_chars"}}}}})
    assert env2["nolang"] == {"doc_count": 1, "mx": {"value": 40}}
    # nesting unwraps one layer per recursion; match_all filter works
    env3, total = serve.aggs_nested(frame, {"a": {
        "filter": {"match_all": {}},
        "aggs": {"b": {"missing": {"field": "lang"}}}}},
        with_total=True)
    assert env3["a"]["doc_count"] == 6 and total == 6
    assert env3["a"]["b"]["doc_count"] == 1
    # flat surface = the sub-tree over the narrowed docs
    flat = serve.aggs_flat(frame, {"en_docs": {
        "filter": {"term": {"lang": "en"}},
        "aggs": {"by_lang": {"terms": {"field": "lang"}}}}})
    rows = {(r["depth"], r["by_lang"]): r["doc_count"]
            for r in flat.collect()}
    assert rows == {(0, None): 3, (1, "en"): 3}
    # refusals: siblings, nested placement, bare-bucket flat, text
    with pytest.raises(ValueError, match="ONLY top-level"):
        serve.aggs_flat(frame, {"f": {"filter": {"match_all": {}}},
                                "m": {"avg": {"field": "n_chars"}}})
    with pytest.raises(ValueError, match="ONLY top-level"):
        serve.aggs_nested(frame, {"d": {
            "date_histogram": {"field": "ts", "fixed_interval": "1d"},
            "aggs": {"f": {"filter": {"match_all": {}}}}}})
    with pytest.raises(ValueError, match="no flat frame"):
        serve.aggs_flat(frame, {"f": {"filter": {"match_all": {}}}})
    with pytest.raises(ValueError, match="match"):
        serve.aggs_nested(frame, {"f": {"filter": {
            "match": {"text": "hello"}}}})
    with pytest.raises(ValueError, match="not in the mounted"):
        serve.aggs_nested(frame, {"f": {"missing": {"field": "bogus"}}})


def test_bucket_sort_and_stats_pipelines(frame):
    """Round 15: bucket_sort (the Kibana data-table primitive —
    re-sort and/or page the parent's bucket list at reduce time,
    after walkers and selectors saw the full list) plus the
    stats_bucket / extended_stats_bucket sibling reduces;
    percentiles_bucket refuses by name (its exact index convention is
    not pinned)."""
    env = serve.aggs_nested(frame, {
        "by": {"terms": {"field": "lang", "size": 10},
               "aggs": {"m": {"avg": {"field": "n_chars"}},
                        "top": {"bucket_sort": {
                            "sort": [{"m": "desc"}], "size": 2}}}},
        "overall": {"stats_bucket": {"buckets_path": "by>m"}},
        "spread": {"extended_stats_bucket": {
            "buckets_path": "by>m", "sigma": 1}},
    })
    # en 26.67, de 30, fr 60 → sorted desc, top 2: fr, de
    assert [b["key"] for b in env["by"]["buckets"]] == ["fr", "de"]
    # siblings reduce over the RETURNED (sorted+paged) list: fr 60,
    # de 30
    assert env["overall"] == {"count": 2, "min": 30.0, "max": 60.0,
                              "avg": 45.0, "sum": 90.0}
    s = env["spread"]
    assert s["variance"] == 225.0 and s["std_deviation"] == 15.0
    assert s["std_deviation_bounds"]["upper"] == 60.0  # 45 + 1·15
    assert s["variance_sampling"] == 450.0
    # _key sort + from-only paging; empty-body refusal; top-level
    # refusal; sort-entry grammar
    env2 = serve.aggs_nested(frame, {"by": {
        "terms": {"field": "lang", "size": 10},
        "aggs": {"pg": {"bucket_sort": {
            "sort": [{"_key": "asc"}], "from": 2}}}}})
    assert [b["key"] for b in env2["by"]["buckets"]] == ["fr"]
    with pytest.raises(ValueError, match="no-op"):
        serve.aggs_nested(frame, {"by": {
            "terms": {"field": "lang"},
            "aggs": {"s": {"bucket_sort": {}}}}})
    with pytest.raises(ValueError, match="must sit inside"):
        serve.aggs_nested(frame, {"s": {"bucket_sort": {"size": 1}}})
    with pytest.raises(ValueError, match="sort entry"):
        serve.aggs_nested(frame, {"by": {
            "terms": {"field": "lang"},
            "aggs": {"s": {"bucket_sort": {"sort": [7]}}}}})
    with pytest.raises(ValueError, match="percentiles_bucket"):
        serve.aggs_nested(frame, {"p": {"percentiles_bucket": {
            "buckets_path": "by>m"}}})
    # gap skip: a bucket whose sort metric is null drops from the
    # sorted result (ES's documented gap rule for bucket_sort)
    env3 = serve.aggs_nested(frame, {"d": {
        "date_histogram": {"field": "ts", "fixed_interval": "1d",
                           "min_doc_count": 0},
        "aggs": {"mean": {"avg": {"field": "n_chars"}},
                 "s": {"bucket_sort": {"sort": [{"mean": "asc"}]}}}}})
    assert all(b["mean"]["value"] is not None
               for b in env3["d"]["buckets"])


def test_multi_terms_compound_buckets(spark, frame):
    """Round 15: multi_terms (the Lens multi-field split) — compound
    keys as a CONDITIONAL struct, so a doc missing ANY field rides
    the existing genuinely-NULL-key discipline (no bucket, no
    children, still counted in the parent's doc_count); truncation /
    order / sum_other / min_doc_count reuse the terms machinery over
    the struct column; the envelope serves ES's member-list key +
    '|'-joined key_as_string."""
    df = spark.createDataFrame(
        [(0, "en", "web", 10), (1, "en", "web", 20),
         (2, "en", "book", 30), (3, "de", "web", 40),
         (4, None, "web", 50), (5, "de", None, 60)],
        "doc_id bigint, lang string, source string, n bigint")
    env = serve.aggs_nested(df, {"ls": {
        "multi_terms": {"terms": [{"field": "lang"},
                                  {"field": "source"}], "size": 2},
        "aggs": {"m": {"avg": {"field": "n"}}}}})
    node = env["ls"]
    # en|web (2 docs) first; the 1-1 tie breaks by compound key asc
    # (de|web < en|book); doc 4/5 (a null member) land nowhere and
    # never join sum_other
    assert [(b["key"], b["key_as_string"], b["doc_count"])
            for b in node["buckets"]] == [
        (["en", "web"], "en|web", 2), (["de", "web"], "de|web", 1)]
    assert node["sum_other_doc_count"] == 1
    assert node["buckets"][0]["m"]["value"] == 15.0
    # metric order changes WHICH bucket survives
    env2 = serve.aggs_nested(df, {"ls": {
        "multi_terms": {"terms": [{"field": "lang"},
                                  {"field": "source"}],
                        "size": 1, "order": {"m": "desc"}},
        "aggs": {"m": {"max": {"field": "n"}}}}})
    assert env2["ls"]["buckets"][0]["key"] == ["de", "web"]
    assert env2["ls"]["sum_other_doc_count"] == 3
    # chains compose: multi_terms under a date_histogram
    env3 = serve.aggs_nested(frame, {"d": {
        "date_histogram": {"field": "ts", "fixed_interval": "1d"},
        "aggs": {"ll": {"multi_terms": {"terms": [
            {"field": "lang"}, {"field": "lang"}]}}}}})
    d1 = env3["d"]["buckets"][0]["ll"]["buckets"]
    assert [b["key_as_string"] for b in d1] == ["en|en", "de|de"]
    # validation: ≥2 terms, per-term strict keys, unknown body keys,
    # bad field
    with pytest.raises(ValueError, match="two or more"):
        serve.aggs_flat(df, {"ls": {"multi_terms": {
            "terms": [{"field": "lang"}]}}})
    with pytest.raises(ValueError, match="unsupported body keys"):
        serve.aggs_flat(df, {"ls": {"multi_terms": {
            "terms": [{"field": "lang", "missing": "x"},
                      {"field": "source"}]}}})
    with pytest.raises(ValueError, match="unsupported body keys"):
        serve.aggs_flat(df, {"ls": {"multi_terms": {
            "terms": [{"field": "lang"}, {"field": "source"}],
            "other_bucket": True}}})
    with pytest.raises(ValueError, match="not in the mounted"):
        serve.aggs_flat(df, {"ls": {"multi_terms": {
            "terms": [{"field": "lang"}, {"field": "bogus"}]}}})
