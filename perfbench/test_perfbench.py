"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

import harness as H
from esstub import EsBulkStub, parse_bulk_body


# --- tail percentile -----------------------------------------------------


def test_tail_is_the_order_statistic_with_ten_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = H.tail(reversed(xs))
    assert value == 90.0  # 91..100 are the ten beyond it
    assert pct == 90.0
    assert n == 100


def test_tail_percentile_rises_with_sample_count():
    _, pct, _ = H.tail(range(10_000))
    assert pct == pytest.approx(99.9)
    value, pct, _ = H.tail(range(11))
    assert (value, pct) == (0.0, pytest.approx(100 / 11))


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        H.tail(range(10))


def test_p50_of_empty_is_zero():
    assert H.p50([]) == 0.0
    assert H.p50([3, 1, 2]) == 2.0


# --- span self time ------------------------------------------------------


def _span(sid, name, start, end, parent=None):
    return H.Span(name, start, end, "t", parent, sid)


def test_self_time_subtracts_children():
    spans = [_span(0, "root", 0.0, 1.0), _span(1, "child", 0.2, 0.5, parent=0)]
    st = H.self_times(spans)
    assert st["root"] == pytest.approx(700.0)
    assert st["child"] == pytest.approx(300.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        _span(0, "root", 0.0, 1.0),
        _span(1, "a", 0.1, 0.4, parent=0),
        _span(2, "b", 0.3, 0.6, parent=0),    # overlaps a
        _span(3, "c", 0.9, 1.5, parent=0),    # runs past the parent
    ]
    st = H.self_times(spans)
    # covered: [0.1, 0.6] + [0.9, 1.0] = 0.6
    assert st["root"] == pytest.approx(400.0)


def test_self_time_sums_spans_of_one_name():
    spans = [_span(0, "x", 0.0, 0.1), _span(1, "x", 1.0, 1.3)]
    assert H.self_times(spans)["x"] == pytest.approx(400.0)


def test_tracer_nests_by_thread_and_is_free_when_off():
    tr = H.Tracer(True)
    with tr.span("outer", trace="req-1"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.sid and inner.trace == "req-1"
    off = H.Tracer(False)
    with off.span("outer") as sp:
        assert sp is None
    assert off.spans == []


# --- bulk body parsing ---------------------------------------------------


def test_parse_bulk_body_index_and_delete():
    body = (
        b'{"index": {"_index": "ratings-enriched", "_id": "7"}}\n'
        b'{"rating_id": 7, "stars": 2}\n'
        b'{"delete": {"_index": "ratings-enriched", "_id": "8"}}\n'
        b'{"index": {"_index": "u"}}\n'
        b'{"a": 1}\n'
    )
    items = parse_bulk_body(body)
    assert [(i.action, i.index, i.doc_id) for i in items] == [
        ("index", "ratings-enriched", "7"),
        ("delete", "ratings-enriched", "8"),
        ("index", "u", None),
    ]
    assert items[0].nbytes == len(body.split(b"\n")[0]) + len(body.split(b"\n")[1]) + 2
    assert sum(i.nbytes for i in items) == len(body)


def test_parse_bulk_body_rejects_missing_source():
    with pytest.raises(ValueError):
        parse_bulk_body(b'{"index": {"_index": "x", "_id": "1"}}\n')
    with pytest.raises(ValueError):
        parse_bulk_body(b'{"frob": {}}\n')


def test_stub_acks_what_the_sink_renders():
    from kafka_cdc_elasticsearch_pipeline_spark.sources.elasticsearch import (
        _http_transport,
        bulk_payload,
        classify_bulk_response,
    )

    rows = [{"rating_id": i, "stars": i % 5} for i in range(3)]
    body = bulk_payload(rows, "ratings-enriched", "rating_id")
    with EsBulkStub() as stub:
        status, resp = _http_transport(f"{stub.url}/_bulk", body)
        with pytest.raises(urllib.error.HTTPError, match="404"):
            urllib.request.urlopen(stub.url + "/other", data=b"{}")
    assert status == 200
    assert classify_bulk_response(status, resp, len(rows)) == ([], [])
    assert [(a[0], a[1]) for a in stub.acks] == [("ratings-enriched", str(i)) for i in range(3)]
    assert stub.requests == 1 and json.loads(resp)["errors"] is False
