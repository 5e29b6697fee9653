"""The Elasticsearch-role REST shim (extensions/search_rest.py): real
HTTP round-trips against the maintained indexes — every mode's hits
must equal the direct serve call, errors surface as 400s with a
reason, and /status exposes the maintenance picture."""

from __future__ import annotations

import json
import os
import urllib.request

import pytest
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.extensions import search_index as si
from kafka_cdc_elasticsearch_pipeline_spark.extensions.search_rest import (
    SearchRestServer,
)
from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table


def _post(url: str, path: str, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        url + path,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _get(url: str, path: str) -> tuple[int, dict]:
    with urllib.request.urlopen(url + path) as resp:
        return resp.status, json.loads(resp.read())


@pytest.fixture(scope="module")
def stack(spark, sf_dir, tmp_path_factory):
    """One maintained dual-index stack + a running server."""
    root = tmp_path_factory.mktemp("search_rest")
    src = str(root / "src")
    bm25_root = str(root / "bm25")
    ivfpq_root = str(root / "ivfpq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(
        embs.select(F.col("vec_id").alias("doc_id"), "embedding", "label"),
        "doc_id",
    )
    lakelog.append_commit(
        spark, src,
        corpus.drop("label").select(
            "doc_id", "text", "embedding", F.lit(1).alias("_ts_ms")
        ),
    )
    si.ivfpq_index_build(
        spark,
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        ivfpq_root,
        source_watermark=1,
    )
    si.bm25_index_maintain(spark, src, bm25_root)
    si.ivfpq_index_maintain(spark, src, ivfpq_root, id_col="doc_id")
    server = SearchRestServer(
        spark,
        bm25_root=bm25_root,
        ivfpq_root=ivfpq_root,
        query_source=embs,
    ).start()
    yield server, bm25_root, ivfpq_root, embs
    server.stop()


def test_info_and_status(stack):
    server, bm25_root, ivfpq_root, _ = stack
    code, info = _get(server.url, "/info")
    assert code == 200 and info["bm25_root"] == bm25_root
    code, status = _get(server.url, "/status")
    assert code == 200
    assert status["bm25"]["read_amplification"]["bm25_tf"]["n_segments"] >= 1
    assert status["ivfpq"]["read_amplification"]["pq_codes"]["n_segments"] >= 1


def test_search_modes_match_direct_calls(spark, stack):
    server, bm25_root, ivfpq_root, embs = stack
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )

    code, rrf = _post(
        server.url, "/search",
        {"mode": "rrf", "query_ids": [0, 1, 2], "k": 5, "pool": 20},
    )
    assert code == 200 and rrf["hits"]["total"] == 15
    want = {
        (r.query_id, r.rank): (r.doc_id, r.rrf)
        for r in si.hybrid_search_rrf_from_cdc_indexes(
            spark, bm25_root, ivfpq_root, queries,
            query_ids=(0, 1, 2), pool=20, k=5,
        ).collect()
    }
    got = {
        (h["query_id"], h["rank"]): (h["_id"], h["_score"])
        for h in rrf["hits"]["hits"]
    }
    assert got == want

    code, ann = _post(
        server.url, "/search",
        {"mode": "ann", "query_ids": [0, 1], "k": 4, "nprobe": 2},
    )
    assert code == 200 and ann["hits"]["total"] == 8
    code, bm = _post(
        server.url, "/search", {"mode": "bm25", "query_ids": [0, 1, 2], "k": 3}
    )
    # bm25 total = the match-set size (relation "eq"), not the page
    assert code == 200 and len(bm["hits"]["hits"]) == 9
    assert bm["hits"]["total"] >= 9 and bm["hits"]["relation"] == "eq"
    code, rr = _post(
        server.url, "/search",
        {"mode": "rerank", "query_ids": [0], "k": 5},
    )
    assert code == 200 and rr["hits"]["total"] == 5
    # ranked within each query, rank starts at 1
    ranks = [h["rank"] for h in rr["hits"]["hits"]]
    assert ranks == [1, 2, 3, 4, 5]


def test_search_inline_vectors_and_filtered_ann(spark, stack):
    server, _, _, embs = stack
    vec = embs.filter(F.col("vec_id") == 0).collect()[0].embedding
    code, out = _post(
        server.url, "/search",
        {
            "mode": "ann",
            "queries": [{"query_id": 0, "embedding": list(vec)}],
            "k": 5,
            "allowed_ids": [int(v) for v in range(0, 400, 3)],
        },
    )
    assert code == 200
    hits = out["hits"]["hits"]
    assert len(hits) == 5
    assert all(h["_id"] % 3 == 0 for h in hits)


def test_search_errors_are_400_with_reason(stack):
    server, _, _, _ = stack
    code, out = _post(server.url, "/search", {"mode": "nope"})
    assert code == 400 and "unknown mode" in out["error"]["reason"]
    code, out = _post(server.url, "/search", {"mode": "ann"})
    assert code == 400 and "query" in out["error"]["reason"]
    code, out = _post(server.url, "/nope", {})
    assert code == 404


def test_search_rejects_modes_for_unmounted_roots(spark, stack):
    _, bm25_root, _, embs = stack
    solo = SearchRestServer(spark, bm25_root=bm25_root).start()
    try:
        code, out = _post(
            solo.url, "/search", {"mode": "rrf", "query_ids": [0]}
        )
        assert code == 400 and "both indexes" in out["error"]["reason"]
        code, out = _post(
            solo.url, "/search", {"mode": "bm25", "query_ids": [0], "k": 3}
        )
        assert code == 200 and len(out["hits"]["hits"]) == 3
        # ann needs the (unmounted) vector index — explicit 400
        code, out = _post(
            solo.url, "/search", {"mode": "ann", "query_ids": [0]}
        )
        assert code == 400 and "no ivfpq index" in out["error"]["reason"]
    finally:
        solo.stop()


def test_query_ids_without_query_source_is_explicit(spark, stack):
    _, _, ivfpq_root, _ = stack
    noq = SearchRestServer(spark, ivfpq_root=ivfpq_root).start()
    try:
        code, out = _post(
            noq.url, "/search", {"mode": "ann", "query_ids": [0]}
        )
        assert code == 400 and "query_source" in out["error"]["reason"]
    finally:
        noq.stop()


def test_pointer_mounted_server_survives_blue_green_swap(
    spark, sf_dir, tmp_path
):
    """THE application-side contract, end to end over HTTP: a server
    mounted through the serving pointer answers before, during-ish,
    and after a blue/green retrain swap with no restart and no config
    change — the swap shows up only as fresher answers (a doc deleted
    mid-retrain stops being served; /info's resolved root flips)."""
    src = str(tmp_path / "src")
    blue = str(tmp_path / "blue")
    green = str(tmp_path / "green")
    ptr = str(tmp_path / "ptr")
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = embs.filter(F.col("vec_id") < 240)
    lakelog.append_commit(
        spark, src,
        corpus.select("vec_id", "embedding", F.lit(1).alias("_ts_ms")),
    )
    si.ivfpq_index_build(spark, corpus, blue, source_watermark=1)
    si.serving_pointer_set(ptr, blue)
    server = SearchRestServer(spark, ivfpq_pointer=ptr, query_source=embs).start()
    try:
        code, before = _post(
            server.url, "/search", {"mode": "ann", "query_ids": [0], "k": 10}
        )
        assert code == 200 and before["hits"]["total"] == 10
        victim = before["hits"]["hits"][0]["_id"]
        code, info = _get(server.url, "/info")
        assert info["ivfpq_root"] == os.path.abspath(blue)
        # retrain, then the victim is CDC-deleted DURING the window
        si.ivfpq_index_retrain(spark, src, green, old_root=blue, iterations=1)
        lakelog.merge_apply_cdc(
            spark, src,
            embs.filter(F.col("vec_id") == victim).select(
                "vec_id", "embedding",
                F.lit(2).alias("_ts_ms"), F.lit("d").alias("_op"),
            ),
            ["vec_id"], "_ts_ms",
        )
        si.ivfpq_index_swap(spark, src, green, ptr, expect_root=blue)
        # same server, same request: now the green index answers
        code, after = _post(
            server.url, "/search", {"mode": "ann", "query_ids": [0], "k": 10}
        )
        assert code == 200 and after["hits"]["total"] == 10
        assert all(h["_id"] != victim for h in after["hits"]["hits"])
        code, info = _get(server.url, "/info")
        assert info["ivfpq_root"] == os.path.abspath(green)
    finally:
        server.stop()


def test_free_text_query_matches_member_ids(spark, sf_dir, stack):
    """Round-10 verdict #1 (REST side): posting TEXT ranks identically
    to posting the equivalent corpus-member query_ids — the only
    difference is self-inclusion (a free-text query is its own id
    space, so the query doc itself is an ordinary candidate)."""
    server, bm25_root, _, _ = stack
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 3)
        .collect()
    }
    code, by_ids = _post(
        server.url, "/search", {"mode": "bm25", "query_ids": [0, 1, 2], "k": 5}
    )
    assert code == 200
    code, by_text = _post(
        server.url, "/search",
        {
            "mode": "bm25",
            "queries_text": [
                {"query_id": q, "text": t} for q, t in docs.items()
            ],
            "k": 6,
        },
    )
    assert code == 200
    for q in (0, 1, 2):
        ids_hits = [
            (h["_id"], h["_score"])
            for h in by_ids["hits"]["hits"]
            if h["query_id"] == q
        ]
        text_hits = [
            (h["_id"], h["_score"])
            for h in by_text["hits"]["hits"]
            if h["query_id"] == q and h["_id"] != q  # drop the self-hit
        ][: len(ids_hits)]
        assert text_hits == ids_hits


def test_bm25_single_query_sugar_and_normalization(spark, sf_dir, stack):
    """The `"query": "..."` sugar serves as query_id 0, and the query
    string normalizes through the SAME tokenizer as the index (case,
    repeated whitespace)."""
    server, _, _, _ = stack
    text = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") == 0
    ).collect()[0].text
    code, plain = _post(
        server.url, "/search", {"mode": "bm25", "query": text, "k": 5}
    )
    assert code == 200 and len(plain["hits"]["hits"]) == 5
    assert all(h["query_id"] == 0 for h in plain["hits"]["hits"])
    mangled = "  " + text.upper().replace(" ", "   \t") + " "
    code, shouty = _post(
        server.url, "/search", {"mode": "bm25", "query": mangled, "k": 5}
    )
    assert code == 200
    assert shouty["hits"]["hits"] == plain["hits"]["hits"]
    # both sugar and list form rejected together
    code, out = _post(
        server.url, "/search",
        {"mode": "bm25", "query": "x",
         "queries_text": [{"query_id": 0, "text": "x"}]},
    )
    assert code == 400 and "not both" in out["error"]["reason"]


def test_filtered_bm25_and_rrf_modes(spark, stack):
    """allowed_ids now filters EVERY mode pre-rank (round-10 verdict
    #3): bm25 and rrf hits stay inside the keep-set, and the rrf
    response equals the direct filtered serve call."""
    server, bm25_root, ivfpq_root, embs = stack
    allowed = [int(v) for v in range(0, 600, 3)]
    code, bm = _post(
        server.url, "/search",
        {"mode": "bm25", "query_ids": [0, 1, 2], "k": 5,
         "allowed_ids": allowed},
    )
    assert code == 200 and bm["hits"]["total"] > 0
    assert all(h["_id"] % 3 == 0 for h in bm["hits"]["hits"])
    code, rrf = _post(
        server.url, "/search",
        {"mode": "rrf", "query_ids": [0, 1, 2], "k": 5, "pool": 20,
         "allowed_ids": allowed},
    )
    assert code == 200 and rrf["hits"]["total"] == 15
    assert all(h["_id"] % 3 == 0 for h in rrf["hits"]["hits"])
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    adf = spark.createDataFrame([(v,) for v in allowed], "vec_id bigint")
    want = {
        (r.query_id, r.rank): (r.doc_id, r.rrf)
        for r in si.hybrid_search_rrf_from_cdc_indexes(
            spark, bm25_root, ivfpq_root, queries,
            query_ids=(0, 1, 2), pool=20, k=5, allowed_ids=adf,
        ).collect()
    }
    got = {
        (h["query_id"], h["rank"]): (h["_id"], h["_score"])
        for h in rrf["hits"]["hits"]
    }
    assert got == want
    # rerank mode too: keep-set only
    code, rr = _post(
        server.url, "/search",
        {"mode": "rerank", "query_ids": [0], "k": 5, "allowed_ids": allowed},
    )
    assert code == 200
    assert all(h["_id"] % 3 == 0 for h in rr["hits"]["hits"])


def test_fill_reported_and_nprobe_escalation(spark, stack):
    """Fill honesty (round-10 verdict #4): every response reports
    per-query hits-vs-k; an underfilled filtered-ANN query is retried
    once at 4× nprobe (and the retry is skippable with escalate:
    false)."""
    server, _, _, embs = stack
    vec = embs.filter(F.col("vec_id") == 0).collect()[0].embedding
    q = {"query_id": 0, "embedding": list(vec)}
    # healthy query: filled, no escalation fired
    code, out = _post(
        server.url, "/search", {"mode": "ann", "queries": [q], "k": 5}
    )
    assert code == 200
    assert out["fill"] == [
        {"query_id": 0, "hits": 5, "k": 5, "filled": True}
    ]
    assert "escalated" not in out
    # a filter so selective no nprobe can fill k=10: fill is honest
    code, out = _post(
        server.url, "/search",
        {"mode": "ann", "queries": [q], "k": 10, "nprobe": 1,
         "allowed_ids": [3, 6, 9]},
    )
    assert code == 200
    assert out["escalated"]["nprobe"] == 4
    assert out["escalated"]["query_ids"] == [0]
    fill = out["fill"][0]
    assert fill["k"] == 10 and fill["filled"] is False
    assert fill["hits"] == out["hits"]["total"] <= 3
    # escalation recovers hits a too-small nprobe missed
    code, noesc = _post(
        server.url, "/search",
        {"mode": "ann", "queries": [q], "k": 10, "nprobe": 1,
         "allowed_ids": [3, 6, 9], "escalate": False},
    )
    assert code == 200 and "escalated" not in noesc
    assert noesc["hits"]["total"] <= out["hits"]["total"]
    # bm25/rrf responses carry fill too (zero-hit queries included)
    code, bm = _post(
        server.url, "/search",
        {"mode": "bm25", "query": "zqxj nonexistent gibberish", "k": 3},
    )
    assert code == 200
    assert bm["fill"] == [
        {"query_id": 0, "hits": 0, "k": 3, "filled": False}
    ]


def test_escalation_skipped_when_hopeless(spark, stack, monkeypatch):
    """round-11 verdict #6 / advice #2: the 4× nprobe retry must not
    fire when it provably cannot help — (a) a query that already
    received every live allowed vector (corpus smaller than k) pays
    exactly ONE serve; (b) a first pass that probed every bucket is
    never retried. Both report a `skipped` reason in `escalated`."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_rest as sr,
    )

    server, _, _, embs = stack
    vec = embs.filter(F.col("vec_id") == 0).collect()[0].embedding
    q = {"query_id": 0, "embedding": list(vec)}

    calls = []
    real = sr.si.ivfpq_search_from_index

    def counting(*a, **kw):
        calls.append(kw.get("nprobe"))
        return real(*a, **kw)

    monkeypatch.setattr(sr.si, "ivfpq_search_from_index", counting)

    # (a) allowed-set = the query itself: self-exclusion makes the
    # ceiling ZERO — deterministically exhausted on the first pass
    code, out = _post(
        server.url, "/search",
        {"mode": "ann", "queries": [q], "k": 10, "nprobe": 1,
         "allowed_ids": [0]},
    )
    assert code == 200
    assert len(calls) == 1, "exhausted query must pay exactly one serve"
    assert out["hits"]["total"] == 0
    assert out["escalated"]["exhausted_query_ids"] == [0]
    assert "skipped" in out["escalated"]
    assert "query_ids" not in out["escalated"]  # nothing was retried
    assert out["fill"] == [
        {"query_id": 0, "hits": 0, "k": 10, "filled": False}
    ]

    # (b) nprobe past the bucket count: underfilled but all buckets
    # probed — skip without even counting live vectors
    calls.clear()
    code, out = _post(
        server.url, "/search",
        {"mode": "ann", "queries": [q], "k": 10000, "nprobe": 10000},
    )
    assert code == 200
    assert len(calls) == 1, "all-buckets-probed must pay exactly one serve"
    assert out["escalated"]["skipped"].startswith("all buckets")
    assert out["escalated"]["query_ids"] == [0]

    # a recoverable underfill still escalates (the round-10 behavior)
    calls.clear()
    code, out = _post(
        server.url, "/search",
        {"mode": "ann", "queries": [q], "k": 10, "nprobe": 1,
         "allowed_ids": [3, 6, 9]},
    )
    assert code == 200 and len(calls) == 2
    assert out["escalated"]["nprobe"] == 4


def test_validation_rejects_hostile_knobs(stack):
    """round-10 advice: k/pool/nprobe are clamped at the door — a
    hostile k must not turn the bounded collect into a corpus dump."""
    server, _, _, _ = stack
    for body in (
        {"mode": "bm25", "query_ids": [0], "k": 10**9},
        {"mode": "bm25", "query_ids": [0], "k": -1},
        {"mode": "bm25", "query_ids": [0], "k": 0},
        {"mode": "ann", "query_ids": [0], "nprobe": 0},
        {"mode": "rrf", "query_ids": [0], "pool": "twenty"},
        {"mode": "bm25", "query_ids": [0], "k": 2.5},
        # round-11 advice: _knob must mirror the 'from' validator —
        # booleans and numeric strings are same-class malformed input
        {"mode": "bm25", "query_ids": [0], "k": True},
        {"mode": "bm25", "query_ids": [0], "k": "5"},
        {"mode": "rrf", "query_ids": [0], "pool": False},
        {"mode": "ann", "query_ids": [0], "nprobe": "2"},
    ):
        code, out = _post(server.url, "/search", body)
        assert code == 400, body
        assert "must be" in out["error"]["reason"], body


def test_unresolvable_query_ids_are_an_error(stack):
    """round-10 advice: a query_id missing from the mounted
    query_source must error naming the id, not silently degrade that
    query to lexical-only fusion."""
    server, _, _, _ = stack
    code, out = _post(
        server.url, "/search",
        {"mode": "rrf", "query_ids": [0, 999999999], "k": 3},
    )
    assert code == 400
    assert "999999999" in out["error"]["reason"]


def test_get_endpoints_alive_before_first_pointer_set(spark, tmp_path):
    """round-10 advice: a pointer-mounted server must answer /info and
    /status BEFORE the first serving_pointer_set instead of dropping
    the connection — /info is the liveness probe. A search against the
    unpointed vector side is a 500 (server state), not a 400."""
    ptr = str(tmp_path / "never_set_ptr")
    server = SearchRestServer(spark, ivfpq_pointer=ptr).start()
    try:
        code, info = _get(server.url, "/info")
        assert code == 200
        assert info["ivfpq_root"] is None
        assert info["ivfpq_pointer"] == ptr
        code, status = _get(server.url, "/status")
        assert code == 200
        assert status["ivfpq"] == {"state": "not yet pointed"}
        code, out = _post(
            server.url, "/search",
            {"mode": "ann",
             "queries": [{"query_id": 0, "embedding": [0.0] * 64}]},
        )
        assert code == 500
        assert out["error"]["type"] == "FileNotFoundError"
    finally:
        server.stop()


def test_status_convergence_block(spark, sf_dir, tmp_path):
    """/status surfaces the dual-sink serving gate (round-10 verdict
    #7): per-index applied watermark vs source head. A freshly
    maintained pair reports converged; a source commit nobody folded
    yet flips it false; re-maintaining restores it."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    ivfpq_root = str(tmp_path / "ivfpq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(
        embs.select(F.col("vec_id").alias("doc_id"), "embedding", "label"),
        "doc_id",
    ).filter(F.col("doc_id") < 200)
    lakelog.append_commit(
        spark, src,
        corpus.drop("label").select(
            "doc_id", "text", "embedding", F.lit(1).alias("_ts_ms")
        ),
    )
    si.ivfpq_index_build(
        spark,
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        ivfpq_root,
        source_watermark=1,
    )
    si.bm25_index_maintain(spark, src, bm25_root)
    si.ivfpq_index_maintain(spark, src, ivfpq_root, id_col="doc_id")
    server = SearchRestServer(
        spark,
        bm25_root=bm25_root,
        ivfpq_root=ivfpq_root,
        source_table=src,
        bm25_app_id="bm25",
        ivfpq_app_id="ivfpq-idx",
    )
    conv = server.status()["convergence"]
    assert conv["converged"] is True
    assert conv["indexes"] == {bm25_root: 1, ivfpq_root: 1}
    # a source commit lands with nobody folding it: unconverged —
    # exactly the mid-replay/mid-crash window the dual sink documents
    lakelog.merge_apply_cdc(
        spark, src,
        corpus.filter(F.col("doc_id") < 3).select(
            "doc_id", "text", "embedding",
            F.lit(2).alias("_ts_ms"), F.lit("u").alias("_op"),
        ),
        ["doc_id"], "_ts_ms",
    )
    conv = server.status()["convergence"]
    assert conv["converged"] is False
    assert conv["source_head"] == 2
    assert conv["indexes"][bm25_root] == 1
    # ONE index catches up: still unconverged (the mixed-result window)
    si.bm25_index_maintain(spark, src, bm25_root)
    conv = server.status()["convergence"]
    assert conv["converged"] is False
    assert conv["indexes"][bm25_root] == 2
    assert conv["indexes"][ivfpq_root] == 1
    # both folded: converged again
    si.ivfpq_index_maintain(spark, src, ivfpq_root, id_col="doc_id")
    conv = server.status()["convergence"]
    assert conv["converged"] is True


def test_rrf_pinned_serving_over_rest(spark, sf_dir, tmp_path):
    """`"pinned": true` in rrf mode serves BOTH signals at one source
    watermark over HTTP — with the pair diverged (bm25 folded v2,
    ivfpq still at v1), the pinned response equals the pre-divergence
    serve, an explicit watermark pins reproducibly, and a server
    without mounted lineages rejects the request."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    ivfpq_root = str(tmp_path / "ivfpq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(
        embs.select(F.col("vec_id").alias("doc_id"), "embedding", "label"),
        "doc_id",
    ).filter(F.col("doc_id") < 300)
    lakelog.append_commit(
        spark, src,
        corpus.drop("label").select(
            "doc_id", "text", "embedding", F.lit(1).alias("_ts_ms")
        ),
    )
    si.ivfpq_index_build(
        spark,
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        ivfpq_root,
        source_watermark=1,
    )
    si.bm25_index_maintain(spark, src, bm25_root)
    si.ivfpq_index_maintain(spark, src, ivfpq_root, id_col="doc_id")
    server = SearchRestServer(
        spark,
        bm25_root=bm25_root,
        ivfpq_root=ivfpq_root,
        query_source=embs,
        source_table=src,
        bm25_app_id="bm25",
        ivfpq_app_id="ivfpq-idx",
    ).start()
    try:
        code, before = _post(
            server.url, "/search",
            {"mode": "rrf", "query_ids": [0, 1], "k": 5},
        )
        assert code == 200
        code, rerank_before = _post(
            server.url, "/search",
            {"mode": "rerank", "query_ids": [0, 1], "k": 5},
        )
        assert code == 200
        # round 14: multi-clause match conjunction under pinned hybrid
        # serving — the keep-set is computed AT the joint watermark
        # (same bm25 manifest versions as the scoring side), so with
        # head == watermark the pinned serve equals the unpinned one
        # and the old refusal is gone
        conj_req = {
            "mode": "rrf", "query_ids": [0], "k": 5,
            "query": {"bool": {"must": [
                {"match": {"text": "dup"}},
                {"match": {"text": "merge"}},
            ]}},
        }
        code, conj_plain = _post(server.url, "/search", conj_req)
        assert code == 200 and conj_plain["hits"]["hits"]
        code, conj_pinned = _post(
            server.url, "/search", {**conj_req, "pinned": True}
        )
        assert code == 200
        assert conj_pinned["hits"]["hits"] == conj_plain["hits"]["hits"]
        victim = before["hits"]["hits"][0]["_id"]
        lakelog.merge_apply_cdc(
            spark, src,
            corpus.filter(F.col("doc_id") == victim).select(
                "doc_id", "text", "embedding",
                F.lit(2).alias("_ts_ms"), F.lit("d").alias("_op"),
            ),
            ["doc_id"], "_ts_ms",
        )
        si.bm25_index_maintain(spark, src, bm25_root)
        assert server.status()["convergence"]["converged"] is False
        code, pinned = _post(
            server.url, "/search",
            {"mode": "rrf", "query_ids": [0, 1], "k": 5, "pinned": True},
        )
        assert code == 200
        assert pinned["hits"] == before["hits"]
        code, explicit = _post(
            server.url, "/search",
            {"mode": "rrf", "query_ids": [0, 1], "k": 5, "pinned": True,
             "watermark": 1},
        )
        assert code == 200 and explicit["hits"] == before["hits"]
        # a boundary nobody folded: 400, names the problem
        code, out = _post(
            server.url, "/search",
            {"mode": "rrf", "query_ids": [0], "pinned": True,
             "watermark": 9},
        )
        assert code == 400 and "no committed state" in out["error"]["reason"]
        code, out = _post(
            server.url, "/search",
            {"mode": "rrf", "query_ids": [0], "pinned": True,
             "watermark": 0},
        )
        assert code == 400 and "watermark" in out["error"]["reason"]
        # rerank pins too (the mode where divergence yields a MIXED
        # single answer), and bm25 takes a bare watermark: both serve
        # the pre-divergence state
        code, rr1 = _post(
            server.url, "/search",
            {"mode": "rerank", "query_ids": [0, 1], "k": 5, "pinned": True},
        )
        assert code == 200
        assert rr1["hits"] == rerank_before["hits"]
        code, bm1 = _post(
            server.url, "/search",
            {"mode": "bm25", "query_ids": [0, 1], "k": 5, "watermark": 1},
        )
        code2, bm2 = _post(
            server.url, "/search",
            {"mode": "bm25", "query_ids": [0, 1], "k": 5},
        )
        assert code == 200 and code2 == 200
        # head already folded the delete; the wm=1 pin still sees it
        pinned_ids = {h["_id"] for h in bm1["hits"]["hits"]}
        head_ids = {h["_id"] for h in bm2["hits"]["hits"]}
        assert victim not in head_ids
        if victim in pinned_ids:
            assert pinned_ids != head_ids
    finally:
        server.stop()
    # lineages not mounted: explicit refusal
    bare = SearchRestServer(
        spark, bm25_root=bm25_root, ivfpq_root=ivfpq_root, query_source=embs
    )
    try:
        bare.search({"mode": "rrf", "query_ids": [0], "pinned": True})
        raise AssertionError("expected ValueError")
    except ValueError as exc:
        assert "pinned serving needs" in str(exc)


def test_rrf_with_free_text_lexical_side(spark, sf_dir, stack):
    """rerank/rrf accept `queries_text` for the lexical signal while
    the dense signal still comes from the query vectors — ids must
    match across the two, and mismatches are a named 400."""
    server, bm25_root, ivfpq_root, embs = stack
    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 2)
        .collect()
    }
    body = {
        "mode": "rrf",
        "query_ids": [0, 1],
        "queries_text": [
            {"query_id": q, "text": t} for q, t in texts.items()
        ],
        "k": 5,
    }
    code, out = _post(server.url, "/search", body)
    assert code == 200 and out["hits"]["total"] == 10
    # equals the direct call with the same text driving the lexical side
    queries = embs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    qtext = spark.createDataFrame(
        list(texts.items()), "query_id bigint, text string"
    )
    want = {
        (r.query_id, r.rank): (r.doc_id, r.rrf)
        for r in si.hybrid_search_rrf_from_cdc_indexes(
            spark, bm25_root, ivfpq_root, queries,
            query_ids=(0, 1), pool=20, k=5, queries_text=qtext,
        ).collect()
    }
    got = {
        (h["query_id"], h["rank"]): (h["_id"], h["_score"])
        for h in out["hits"]["hits"]
    }
    assert got == want
    # id mismatch between the text and vector sides: named 400
    bad = dict(body, queries_text=[{"query_id": 7, "text": "x"}])
    code, out = _post(server.url, "/search", bad)
    assert code == 400 and "must match" in out["error"]["reason"]


def test_malformed_payload_shapes_are_400_not_500(spark, stack, tmp_path):
    """round-11 review finding: payload-shape mistakes (missing keys,
    wrong types, non-object bodies) are the CALLER's to fix — they
    must land as 400 with a reason, never as a 500 'server fault'."""
    server, _, _, _ = stack
    for body in (
        {"mode": "ann", "queries": [{"text": "no id or embedding"}]},
        {"mode": "ann", "queries": [{"query_id": 0}]},
        {"mode": "bm25", "queries_text": [{"text": "no id"}]},
        {"mode": "bm25", "query_ids": [0], "allowed_ids": 5},
        {"mode": "ann", "query_ids": [0], "pinned": True},
    ):
        code, out = _post(server.url, "/search", body)
        assert code == 400, (body, out)
        assert "reason" in out["error"], body
    # a non-object body is a 400 too
    import urllib.request as _rq

    req = _rq.Request(
        server.url + "/search", data=b"[1, 2]",
        headers={"Content-Type": "application/json"}, method="POST",
    )
    try:
        with _rq.urlopen(req) as resp:
            code = resp.status
    except urllib.error.HTTPError as err:
        code, out = err.code, json.loads(err.read())
    assert code == 400 and "JSON object" in out["error"]["reason"]
    # validation 400s win over pointer-resolution 500s on a
    # not-yet-pointed server (round-11 review finding)
    unset = SearchRestServer(
        spark, ivfpq_pointer=str(tmp_path / "nope")
    ).start()
    try:
        code, out = _post(unset.url, "/search", {"mode": "bogus"})
        assert code == 400 and "unknown mode" in out["error"]["reason"]
        code, out = _post(unset.url, "/search", {"mode": "rrf"})
        assert code == 400 and "both indexes" in out["error"]["reason"]
    finally:
        unset.stop()


def test_pagination_and_took(stack):
    """ES-style paging: `from` skips ranks with ABSOLUTE rank values
    preserved, pages tile the unpaged list exactly, a page past the
    end is empty-but-valid, and every response carries `took` ms."""
    server, _, _, _ = stack
    code, full = _post(
        server.url, "/search", {"mode": "bm25", "query_ids": [0], "k": 10}
    )
    assert code == 200 and isinstance(full["took"], int)
    code, p1 = _post(
        server.url, "/search", {"mode": "bm25", "query_ids": [0], "k": 5}
    )
    code2, p2 = _post(
        server.url, "/search",
        {"mode": "bm25", "query_ids": [0], "k": 5, "from": 5},
    )
    assert code == 200 and code2 == 200
    tiled = p1["hits"]["hits"] + p2["hits"]["hits"]
    assert tiled == full["hits"]["hits"]
    assert [h["rank"] for h in p2["hits"]["hits"]] == [6, 7, 8, 9, 10]
    # a page past the end: empty hits, honest fill — and total stays
    # the MATCH count on every page, so the consumer can tell "past
    # the end" from "no matches" (round-12 advice #3)
    code, far = _post(
        server.url, "/search",
        {"mode": "bm25", "query_ids": [0], "k": 5, "from": 9000},
    )
    assert code == 200 and far["hits"]["hits"] == []
    assert far["hits"]["total"] == full["hits"]["total"] > 0
    assert far["fill"][0]["hits"] == 0
    # rrf pages too
    code, r1 = _post(
        server.url, "/search", {"mode": "rrf", "query_ids": [0], "k": 6}
    )
    code2, r2 = _post(
        server.url, "/search",
        {"mode": "rrf", "query_ids": [0], "k": 3, "from": 3},
    )
    assert code == 200 and code2 == 200
    assert r1["hits"]["hits"][3:6] == r2["hits"]["hits"]
    # validation
    code, out = _post(
        server.url, "/search",
        {"mode": "bm25", "query_ids": [0], "from": -1},
    )
    assert code == 400 and "'from'" in out["error"]["reason"]


def test_bm25_highlight_matched_terms(spark, sf_dir, stack):
    """`"highlight": true` in bm25 mode adds matched_terms per hit —
    ES highlighting's data: each hit's terms are a non-empty subset of
    the query's tokenized terms, word-sorted; pagination tiles equal
    hits with and without highlighting."""
    server, _, _, _ = stack
    text = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") == 0
    ).collect()[0].text
    qterms = set(text.lower().split())
    code, out = _post(
        server.url, "/search",
        {"mode": "bm25", "query": text, "k": 5, "highlight": True},
    )
    assert code == 200
    for h in out["hits"]["hits"]:
        terms = h["matched_terms"].split(" ")
        assert terms and set(terms) <= qterms
        assert terms == sorted(terms)
    # off by default: no matched_terms key, hits otherwise identical
    code, plain = _post(
        server.url, "/search", {"mode": "bm25", "query": text, "k": 5}
    )
    assert code == 200
    assert all("matched_terms" not in h for h in plain["hits"]["hits"])
    stripped = [
        {k: v for k, v in h.items() if k != "matched_terms"}
        for h in out["hits"]["hits"]
    ]
    assert stripped == plain["hits"]["hits"]


def test_hybrid_pagination_clamps_pool_to_page_depth(stack):
    """round-11 advice: k_page grew with `from` but pool did not, so a
    rerank/rrf page past the pool depth (from=30 with pool=20)
    silently served empty while deeper matches existed. The pool now
    clamps to max(pool, from + k): deep pages tile the deep-pool
    unpaged list exactly, in both fused modes."""
    server, _, _, _ = stack
    for mode in ("rrf", "rerank"):
        code, deep = _post(
            server.url, "/search",
            {"mode": mode, "query_ids": [0], "k": 36, "pool": 8},
        )
        assert code == 200 and deep["hits"]["total"] > 30, mode
        code, page = _post(
            server.url, "/search",
            {"mode": mode, "query_ids": [0], "k": 6, "from": 30, "pool": 8},
        )
        assert code == 200, mode
        # the page is NOT empty (the pre-fix failure) and tiles the
        # deep list at absolute ranks 31-36
        assert page["hits"]["hits"] == deep["hits"]["hits"][30:36], mode


def test_rest_fill_matches_search_fill_gauge(spark, stack):
    """round-11 verdict #1: the REST layer's inline fill and the
    DataFrame gauge (search_fill) must agree forever — both now route
    through fill_counts, and this test serves one request with a
    zero-hit query and asserts the two faces produce identical rows."""
    server, _, _, _ = stack
    body = {
        "mode": "bm25",
        "queries_text": [
            {"query_id": 0, "text": "zqxj gibberish nohit"},
            {"query_id": 7, "text": "the"},
        ],
        "k": 5,
    }
    code, out = _post(server.url, "/search", body)
    assert code == 200
    # rebuild the served hits as a DataFrame and run the gauge on it
    hits = out["hits"]["hits"]
    if hits:
        hdf = spark.createDataFrame(
            [(h["query_id"], h["_id"], h["rank"]) for h in hits],
            "query_id bigint, doc_id bigint, rank int",
        )
    else:
        hdf = spark.createDataFrame([], "query_id bigint, doc_id bigint, rank int")
    gauge = {
        r.query_id: (r.n_hits, r.k, r.filled)
        for r in si.search_fill(hdf, (0, 7), 5).collect()
    }
    rest = {
        f["query_id"]: (f["hits"], f["k"], f["filled"]) for f in out["fill"]
    }
    assert rest == gauge
    assert rest[0] == (0, 5, False)  # the zero-hit query is REPORTED


# --- ES aggregations + sort-by-field over /search ----------------------------


@pytest.fixture(scope="module")
def meta_server(spark, sf_dir, stack):
    """The same maintained stack mounted WITH a doc-metadata source —
    the sort/aggs surfaces need the mapped fields of the ES role.
    Direct-call server (the HTTP layer is exercised once below)."""
    _, bm25_root, ivfpq_root, embs = stack
    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, doc_id % 72, 0, 0)"
        ).alias("ts"),
        "lang",
        "n_chars",
    )
    server = SearchRestServer(
        spark,
        bm25_root=bm25_root,
        ivfpq_root=ivfpq_root,
        query_source=embs,
        doc_source=meta,
    )
    return server, meta


_AGGS = {
    "by_day": {
        "date_histogram": {"field": "ts", "fixed_interval": "1d"},
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 2}}},
    }
}


def test_aggs_match_all_over_rest(spark, meta_server):
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )

    server, meta = meta_server
    out = server.search({"aggs": _AGGS})
    # match_all: every doc in the mounted metadata, no hits, no fill
    assert out["hits"]["hits"] == [] and out["fill"] == []
    assert out["hits"]["total"] == meta.count()
    assert out["aggregations"] == serve.aggs_nested(meta, _AGGS)
    # allowed_ids scopes match_all too
    scoped = server.search({"aggs": _AGGS, "allowed_ids": [0, 1, 2]})
    assert scoped["hits"]["total"] == 3
    days = scoped["aggregations"]["by_day"]["buckets"]
    assert sum(d["doc_count"] for d in days) == 3


def test_aggs_over_all_matches_not_the_hit_page(meta_server):
    server, _ = meta_server
    # a common word matches far more docs than one page holds
    base = {"mode": "bm25", "query": "table value", "k": 3, "aggs": _AGGS}
    page1 = server.search(base)
    page2 = server.search({**base, "from": 3})
    # pages differ; the aggregations are over the MATCH SET and
    # identical across pages (ES: aggs ignore from/size)
    assert [h["_id"] for h in page1["hits"]["hits"]] != [
        h["_id"] for h in page2["hits"]["hits"]
    ]
    assert page1["aggregations"] == page2["aggregations"]
    matched = sum(
        d["doc_count"]
        for d in page1["aggregations"]["by_day"]["buckets"]
    )
    assert matched > 3  # all matches, not the k-sized page


def test_aggs_vector_mode_over_retrieved_set(meta_server):
    server, _ = meta_server
    out = server.search(
        {"mode": "ann", "query_ids": [0], "k": 5, "nprobe": 2,
         "aggs": _AGGS, "escalate": False}
    )
    # ES kNN: aggregations run over the k retrieved docs
    agg_docs = sum(
        d["doc_count"] for d in out["aggregations"]["by_day"]["buckets"]
    )
    assert agg_docs == len(out["hits"]["hits"])


def test_aggs_validation_errors(stack, meta_server):
    server_nometa = stack[0]
    code, body = _post(
        server_nometa.url, "/search", {"query": "table", "aggs": _AGGS}
    )
    assert code == 400 and "doc_source" in body["error"]["reason"]
    server, _ = meta_server
    with pytest.raises(ValueError, match="exactly one query"):
        server.search(
            {"mode": "bm25", "query_ids": [0, 1], "aggs": _AGGS}
        )
    with pytest.raises(ValueError, match="not in the mounted"):
        server.search({"aggs": {"t": {"terms": {"field": "nope"}}}})


def test_sort_pages_tile_and_match_batch_order(spark, meta_server):
    server, meta = meta_server
    sort = [{"field": "ts", "order": "desc"}]
    base = {"mode": "bm25", "query": "table value", "k": 5, "sort": sort}
    pages = [
        server.search({**base, "from": frm})["hits"]["hits"]
        for frm in (0, 5, 10)
    ]
    tiled = [h["_id"] for p in pages for h in p]
    whole = server.search({**base, "k": 15})["hits"]["hits"]
    # absolute ranks tile exactly across sorted pages
    assert tiled == [h["_id"] for h in whole]
    assert [h["rank"] for p in pages for h in p] == list(range(1, 16))
    # and the order equals a batch orderBy over the joined metadata
    got_ts = [h["sort"][0] for h in whole]
    assert got_ts == sorted(got_ts, reverse=True)
    rows = {r.doc_id: r.ts for r in meta.collect()}
    assert got_ts == [rows[h["_id"]].isoformat() for h in whole]
    # ties broken by doc_id asc within equal timestamps
    for a, b in zip(whole, whole[1:]):
        if a["sort"][0] == b["sort"][0]:
            assert a["_id"] < b["_id"]


def test_sort_fill_and_scores_unchanged(meta_server):
    server, _ = meta_server
    req = {"mode": "bm25", "query": "table value", "k": 5}
    plain = server.search(req)
    srt = server.search({**req, "sort": [{"field": "n_chars"}]})
    # fill reports the same counts (sorting re-orders, never drops)
    assert srt["fill"] == plain["fill"]
    # scores still carried (rank follows the sort, _score stays bm25)
    by_id = {h["_id"]: h["_score"] for h in plain["hits"]["hits"]}
    for h in srt["hits"]["hits"]:
        if h["_id"] in by_id:
            assert h["_score"] == by_id[h["_id"]]


def test_sort_vector_mode_reorders_within_retrieved(meta_server):
    server, _ = meta_server
    plain = server.search(
        {"mode": "rrf", "query_ids": [0], "k": 6, "pool": 20}
    )
    srt = server.search(
        {"mode": "rrf", "query_ids": [0], "k": 6, "pool": 20,
         "sort": [{"field": "n_chars", "order": "desc"}]}
    )
    # same retrieved set (ES kNN+sort re-orders within the top-k)…
    assert {h["_id"] for h in srt["hits"]["hits"]} == {
        h["_id"] for h in plain["hits"]["hits"]
    }
    # …ordered by the metadata field
    vals = [h["sort"][0] for h in srt["hits"]["hits"]]
    assert vals == sorted(vals, reverse=True)


def test_sort_validation_errors(stack, meta_server):
    server_nometa = stack[0]
    code, body = _post(
        server_nometa.url, "/search",
        {"mode": "bm25", "query": "table",
         "sort": [{"field": "ts", "order": "desc"}]},
    )
    assert code == 400 and "doc_source" in body["error"]["reason"]
    server, _ = meta_server
    with pytest.raises(ValueError, match="not in the mounted"):
        server.search(
            {"mode": "bm25", "query": "table", "sort": [{"field": "no"}]}
        )
    with pytest.raises(ValueError, match="asc.*desc"):
        server.search(
            {"mode": "bm25", "query": "table",
             "sort": [{"field": "ts", "order": "up"}]}
        )


def test_aggs_and_sort_over_http(spark, meta_server):
    """One real HTTP round-trip for the new surfaces (the rest of the
    coverage direct-calls the handler): the envelope is JSON-clean —
    timestamps serialized, nested buckets intact."""
    server, _ = meta_server
    srv = server.start()
    try:
        code, out = _post(
            srv.url, "/search",
            {"mode": "bm25", "query": "table value", "k": 3,
             "sort": [{"field": "ts", "order": "desc"}], "aggs": _AGGS},
        )
        assert code == 200
        assert out["aggregations"]["by_day"]["buckets"]
        hit = out["hits"]["hits"][0]
        assert hit["sort"][0].startswith("2024-01-")
        assert hit["rank"] == 1
    finally:
        srv.stop()


def test_match_all_validates_like_any_request(meta_server):
    """Review findings: the match_all shortcut must not exempt a
    request from the mode/knob 400 discipline, must not silently drop
    a validated 'sort', must stamp took AFTER the Spark work, and
    must not pay a second count() scan for hits.total."""
    server, meta = meta_server
    with pytest.raises(ValueError, match="unknown mode"):
        server.search({"aggs": _AGGS, "mode": "bogus"})
    with pytest.raises(ValueError, match="'k' must be"):
        server.search({"aggs": _AGGS, "k": "ten"})
    out = server.search({"aggs": _AGGS})
    assert out["hits"]["total"] == meta.count()
    assert out["took"] >= 1  # stamped after the rollup ran, not before
    # the point-in-time fields are validated on match_all too: a
    # malformed one is the same 400 as on a query, and a well-formed
    # one is a 400 as well — the doc_source has no version to pin
    aggs = {"by_lang": {"terms": {"field": "lang"}}}
    for extra, msg in (
        ({"watermark": "bogus"}, "'watermark' must be"),
        ({"watermark": -3}, "'watermark' must be"),
        # a JSON true is no watermark, and "pinned" takes a JSON
        # boolean only ("false" is a truthy string)
        ({"watermark": True}, "'watermark' must be"),
        ({"pinned": "false"}, "'pinned' must be a boolean"),
        ({"pinned": 1}, "'pinned' must be a boolean"),
        ({"pinned": True, "mode": "bm25"}, "'pinned' applies to"),
        ({"watermark": 3}, "no index version to pin"),
        ({"pinned": True}, "no index version to pin"),
    ):
        with pytest.raises(ValueError, match=msg):
            server.search({"aggs": aggs, **extra})
    with pytest.raises(ValueError, match="no index version to pin"):
        server.search({"sort": [{"field": "ts"}], "watermark": 3})
    with pytest.raises(ValueError, match="'watermark' must be"):
        server.search({"mode": "bm25", "query": "dup", "watermark": True})


def test_served_shapes_count_passes(meta_server, monkeypatch):
    """hits.total costs at most one count() pass per request, and none
    when an aggs tree rides along (its depth-0 rollup row holds the
    match-set size): the count() calls each served shape makes."""
    server, meta = meta_server
    frame_cls = type(meta)  # the concrete DataFrame class in use
    calls = []
    real_count = frame_cls.count

    def counting(self):
        calls.append(1)
        return real_count(self)

    monkeypatch.setattr(frame_cls, "count", counting)
    comp = {"pages": {"composite": {
        "size": 4, "sources": [{"lang": {"terms": {"field": "lang"}}}],
    }}}
    srt = [{"field": "ts", "order": "desc"}]
    shapes = {
        "aggs-only tree match_all": ({"aggs": _AGGS}, 0),
        "sorted match_all": ({"sort": srt}, 1),
        "sorted match_all + tree": ({"sort": srt, "aggs": _AGGS}, 0),
        "composite match_all": ({"aggs": comp}, 1),
        "composite match_all, untracked total": (
            {"aggs": comp, "track_total_hits": False}, 0,
        ),
        "bm25 + tree": ({"mode": "bm25", "query": "dup", "aggs": _AGGS}, 0),
    }
    got = {}
    for name, (body, _) in shapes.items():
        calls.clear()
        server.search(body)
        got[name] = len(calls)
    assert got == {name: n for name, (_, n) in shapes.items()}


def test_served_terms_panel_runs_three_jobs(spark):
    """A served date_histogram × terms panel (the dashboard's "Ratings
    by Channel" shape) runs at most 3 Spark jobs once warm: the
    rollup's shuffle, the rank window's shuffle and the collect. The
    terms truncation reads the rollup's output once, so no job fills
    or re-reads a cached bucket frame. Counted with the status
    tracker under a job group set around the call."""
    chans = ("web", "ios", "android", "kiosk")
    rows = [
        (i, f"2024-01-0{1 + i % 3} 0{i % 9}:00:00", chans[i * i % 7 % 4])
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, ts_s string, channel string"
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "channel")
    server = SearchRestServer(spark, doc_source=docs)
    body = {"aggs": {"k2": {
        "date_histogram": {"field": "ts", "fixed_interval": "1d",
                           "min_doc_count": 1},
        "aggs": {"k3": {"terms": {"field": "channel", "size": 2,
                                  "order": {"_count": "desc"}}}},
    }}}
    warm = server.search(body)
    sc, group = spark.sparkContext, "served-terms-panel-jobs"
    sc.setJobGroup(group, group)
    try:
        out = server.search(body)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    days = out["aggregations"]["k2"]["buckets"]
    assert len(days) == 3 and all(len(d["k3"]["buckets"]) == 2 for d in days)
    assert out["aggregations"] == warm["aggregations"]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_composite_aggs_over_rest(meta_server):
    """The composite paging cursor over /search: match_all pages tile
    the bucket space, after_key round-trips through the JSON envelope,
    and a query-scoped composite runs over the match set."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )

    server, meta = meta_server
    comp = {
        "size": 4,
        "sources": [
            {"day": {"date_histogram": {"field": "ts",
                                        "fixed_interval": "1d"}}},
            {"lang": {"terms": {"field": "lang"}}},
        ],
        "aggs": {"mean": {"avg": {"field": "n_chars"}}},
    }
    walked, after = [], None
    for _ in range(20):
        body = {"composite": dict(comp)}
        if after is not None:
            body["composite"]["after"] = after
        out = server.search({"aggs": {"pages": body}})
        assert out["hits"]["hits"] == []
        assert out["hits"]["total"] == meta.count()
        walked.extend(out["aggregations"]["pages"]["buckets"])
        if "after_key" not in out["aggregations"]["pages"]:
            break
        after = out["aggregations"]["pages"]["after_key"]
    whole = serve.composite_nested(meta, {**comp, "size": 10000})["buckets"]
    assert walked == whole
    # composite must be the only agg in the request
    with pytest.raises(ValueError, match="only aggregation"):
        server.search({"aggs": {
            "pages": {"composite": comp},
            "extra": {"terms": {"field": "lang"}},
        }})
    # query-scoped composite runs over the MATCH SET
    scoped = server.search(
        {"mode": "bm25", "query": "dup", "k": 3,
         "aggs": {"pages": {"composite": comp}}}
    )
    n_docs = sum(
        b["doc_count"] for b in scoped["aggregations"]["pages"]["buckets"]
    )
    assert 0 < n_docs < meta.count()


def test_match_all_sorted_listing(meta_server):
    """The Kibana saved-search shape: empty query + sort = a sorted
    page of the doc_source (the reference's 'Unhappy Platinum
    Customers' panel sorts EXTRACT_TS desc with no query). Pages tile,
    ranks absolute, _score null (ES's sorted-match_all contract)."""
    server, meta = meta_server
    sort = [{"field": "ts", "order": "desc"}]
    p1 = server.search({"sort": sort, "k": 5})
    p2 = server.search({"sort": sort, "k": 5, "from": 5})
    whole = server.search({"sort": sort, "k": 10})
    assert [h["_id"] for h in p1["hits"]["hits"]] + [
        h["_id"] for h in p2["hits"]["hits"]
    ] == [h["_id"] for h in whole["hits"]["hits"]]
    assert [h["rank"] for h in p2["hits"]["hits"]] == list(range(6, 11))
    assert all(h["_score"] is None for h in whole["hits"]["hits"])
    vals = [h["sort"][0] for h in whole["hits"]["hits"]]
    assert vals == sorted(vals, reverse=True)
    # aggs ride along on the sorted listing (one dashboard request)
    both = server.search({"sort": sort, "k": 3, "aggs": _AGGS})
    assert both["aggregations"]["by_day"]["buckets"]
    assert len(both["hits"]["hits"]) == 3


def test_query_dsl_filters_and_match(spark, meta_server):
    """ES query DSL — the request shape Kibana sends: bool.filter
    time-range/term pills around a search-bar match. The match text
    equals the plain free-text serve; the filters equal the same
    request with a caller-computed allowed_ids keep-set."""
    server, meta = meta_server
    dsl = {
        "bool": {
            "must": {"match": {"text": "table value"}},
            "filter": [
                {"term": {"lang": "en"}},
                {"range": {"n_chars": {"gte": 200, "lt": 400}}},
            ],
        }
    }
    got = server.search({"mode": "bm25", "query": dsl, "k": 8})
    allowed = [
        r["doc_id"]
        for r in meta.filter(
            (F.col("lang") == "en")
            & (F.col("n_chars") >= 200) & (F.col("n_chars") < 400)
        ).collect()
    ]
    want = server.search({
        "mode": "bm25", "query": "table value", "k": 8,
        "allowed_ids": allowed,
    })
    assert got["hits"]["hits"] == want["hits"]["hits"]
    assert got["fill"] == want["fill"]
    # every hit satisfies the filters
    assert {h["_id"] for h in got["hits"]["hits"]} <= set(allowed)
    # DSL composes with caller allowed_ids (intersection)
    half = [i for i in allowed if i % 2 == 0]
    both = server.search({
        "mode": "bm25", "query": dsl, "k": 8, "allowed_ids": half,
    })
    assert {h["_id"] for h in both["hits"]["hits"]} <= set(half)


def test_query_dsl_match_all_and_filter_only_aggs(meta_server):
    server, meta = meta_server
    # match_all DSL ≡ no query: the aggs-over-everything path
    plain = server.search({"aggs": _AGGS})
    dsl = server.search({"aggs": _AGGS, "query": {"match_all": {}}})
    assert dsl["aggregations"] == plain["aggregations"]
    assert dsl["hits"]["total"] == plain["hits"]["total"]
    # filter-only DSL (the time-range picker): aggs over the filtered
    # doc_source — the Kibana dashboard steady state
    lo = "2024-01-02 00:00:00"
    filtered = server.search({
        "aggs": _AGGS,
        "query": {"bool": {"filter": [{"range": {"ts": {"gte": lo}}}]}},
    })
    days = filtered["aggregations"]["by_day"]["buckets"]
    assert all(d["key_as_string"] >= "2024-01-02" for d in days)
    assert filtered["hits"]["total"] == meta.filter(
        F.col("ts") >= F.lit(lo).cast("timestamp")
    ).count()


def test_query_dsl_validation(meta_server, stack):
    server, _ = meta_server
    with pytest.raises(ValueError, match="indexes 'text'"):
        server.search(
            {"mode": "bm25", "k": 3,
             "query": {"match": {"lang": "en"}}}
        )
    with pytest.raises(ValueError, match="unsupported query DSL type"):
        server.search({"mode": "bm25", "query": {"fuzzy": {"text": "x"}}})
    with pytest.raises(ValueError, match="inside must_not"):
        server.search(
            {"mode": "bm25",
             "query": {"bool": {"must_not": [{"match": {"text": "x"}}]}}}
        )
    with pytest.raises(ValueError, match="gte/gt/lte/lt"):
        server.search(
            {"mode": "bm25", "query": {
                "bool": {"must": {"match": {"text": "x"}},
                         "filter": [{"range": {"n_chars": {"eq": 3}}}]}}}
        )
    # metadata filters need the doc_source mount
    server_nometa = stack[0]
    code, body = _post(
        server_nometa.url, "/search",
        {"mode": "bm25", "k": 3,
         "query": {"bool": {"must": {"match": {"text": "table"}},
                            "filter": [{"term": {"lang": "en"}}]}}},
    )
    assert code == 400 and "doc_source" in body["error"]["reason"]


def test_info_exposes_doc_fields(meta_server):
    """ES _mapping's role: /info lists the mounted metadata fields and
    types so a consumer discovers what sort/aggs/DSL filters may
    target."""
    server, meta = meta_server
    info = server.info()
    assert info["doc_fields"] == dict(meta.dtypes)
    assert info["text_field"] == "text"


def test_sorted_match_all_total_is_match_count(meta_server):
    """Review finding: the sorted listing's total was the PAGE size —
    a saved-search consumer would stop paging one page in. Total is
    the match count, same as the aggs-only path."""
    server, meta = meta_server
    out = server.search({"sort": [{"field": "ts"}], "k": 3})
    assert out["hits"]["total"] == meta.count()
    assert len(out["hits"]["hits"]) == 3
    # and with an aggs tree riding along, the total comes from the
    # depth-0 rollup row (no second count scan)
    both = server.search({"sort": [{"field": "ts"}], "k": 3, "aggs": _AGGS})
    assert both["hits"]["total"] == meta.count()


def test_composite_sibling_aggs_honored(meta_server):
    """ES's actual composite shape: sub-aggs as a SIBLING of
    'composite' (review finding: they were silently dropped)."""
    server, _ = meta_server
    sources = [{"lang": {"terms": {"field": "lang"}}}]
    sibling = server.search({"aggs": {"p": {
        "composite": {"size": 10, "sources": sources},
        "aggs": {"mean": {"avg": {"field": "n_chars"}}},
    }}})
    inside = server.search({"aggs": {"p": {
        "composite": {"size": 10, "sources": sources,
                      "aggs": {"mean": {"avg": {"field": "n_chars"}}}},
    }}})
    assert sibling["aggregations"] == inside["aggregations"]
    assert all(
        "mean" in b for b in sibling["aggregations"]["p"]["buckets"]
    )
    with pytest.raises(ValueError, match="unknown keys"):
        server.search({"aggs": {"p": {
            "composite": {"size": 5, "sources": sources},
            "bogus": 1,
        }}})


# --- round-13: hits.total semantics + ann free-text ---------------------------


def test_bm25_total_is_match_count_on_every_page(meta_server):
    """round-12 advice #3: bm25 hits.total was the post-from page size
    — the same field meant two different things across one endpoint,
    and a pager-sizing consumer stopped one page in. It is now the
    MATCH-SET size (relation "eq") on every page, free from the aggs
    depth-0 row when a tree rides along."""
    server, _ = meta_server
    full = server.search({"mode": "bm25", "query": "dup", "k": 10_000})
    # k past the match set: total == served hits == the match count
    want = full["hits"]["total"]
    assert want == len(full["hits"]["hits"]) > 0
    assert full["hits"]["relation"] == "eq"
    page1 = server.search({"mode": "bm25", "query": "dup", "k": 3})
    page2 = server.search(
        {"mode": "bm25", "query": "dup", "k": 3, "from": 3}
    )
    assert page1["hits"]["total"] == page2["hits"]["total"] == want
    assert len(page1["hits"]["hits"]) == 3
    # with an aggs tree the total reads off the depth-0 rollup row —
    # and must agree with the standalone count
    both = server.search({
        "mode": "bm25", "query": "dup", "k": 3,
        "aggs": {"l": {"terms": {"field": "lang"}}},
    })
    assert both["hits"]["total"] == want
    assert both["hits"]["relation"] == "eq"
    # vector modes keep retrieved-set semantics and SAY so
    knn = server.search({"mode": "rrf", "query_ids": [0], "k": 5})
    assert knn["hits"]["relation"] == "retrieved"
    assert knn["hits"]["total"] == 5
    # ... pre-pagination: page 2 still reports the 8 minted ranks
    knn2 = server.search(
        {"mode": "rrf", "query_ids": [0], "k": 3, "from": 5}
    )
    assert knn2["hits"]["total"] == 8
    assert [h["rank"] for h in knn2["hits"]["hits"]] == [6, 7, 8]


def test_ann_rejects_free_text(meta_server, stack):
    """round-12 advice #2: in ann mode a DSL match clause (or plain
    'query' text) was silently dropped — filters applied, text did
    not. It is now a 400; filter-only DSL still works."""
    server, meta = meta_server
    _, _, _, embs = stack
    vec = list(embs.filter(F.col("vec_id") == 0).collect()[0].embedding)
    q = {"query_id": 0, "embedding": vec}
    with pytest.raises(ValueError, match="no dense encoding"):
        server.search({"mode": "ann", "queries": [q], "query": "brown fox"})
    with pytest.raises(ValueError, match="no dense encoding"):
        server.search({
            "mode": "ann", "queries": [q],
            "queries_text": [{"query_id": 0, "text": "brown fox"}],
        })
    # a Kibana-shaped DSL query whose match clause would have been
    # silently dropped is the exact advice scenario
    with pytest.raises(ValueError, match="no dense encoding"):
        server.search({
            "mode": "ann", "queries": [q],
            "query": {"bool": {
                "must": {"match": {"text": "brown fox"}},
                "filter": [{"term": {"lang": "en"}}],
            }},
        })
    # filter-only DSL (no text) still applies in ann mode
    out = server.search({
        "mode": "ann", "queries": [q], "k": 5,
        "query": {"bool": {"filter": [{"term": {"lang": "en"}}]}},
    })
    en_ids = {
        r.doc_id for r in meta.filter("lang = 'en'").collect()
    }
    assert out["hits"]["hits"] and all(
        h["_id"] in en_ids for h in out["hits"]["hits"]
    )


def test_query_dsl_multi_match_conjunction(spark, meta_server, stack):
    """round-12 verdict #4: N match clauses now require a doc to match
    EVERY clause (ES bool.must conjunction), scored on the term union
    — previously they merged into one term-union query and docs
    matching only one clause could rank."""
    server, _ = meta_server
    _, bm25_root, _, _ = stack
    dsl = {"bool": {"must": [
        {"match": {"text": "dup"}},
        {"match": {"text": "merge"}},
    ]}}
    got = server.search({"mode": "bm25", "query": dsl, "k": 500})
    # the conjunction set, computed independently per clause
    sets = []
    for t in ("dup", "merge"):
        qdf = spark.createDataFrame(
            [(0, t)], "query_id bigint, text string"
        )
        sets.append({
            r.doc_id
            for r in si.bm25_score_from_text(spark, bm25_root, qdf)
            .select("doc_id").collect()
        })
    both = sets[0] & sets[1]
    one_only = (sets[0] | sets[1]) - both
    assert both and one_only  # the corpus exercises both sides
    assert got["hits"]["total"] == len(both)  # match-count semantics
    got_ids = {h["_id"] for h in got["hits"]["hits"]}
    assert got_ids == both and not (got_ids & one_only)
    # ranked exactly like union-text scoring restricted to the set
    want = server.search({
        "mode": "bm25", "query": "dup merge", "k": 500,
        "allowed_ids": sorted(both),
    })
    assert got["hits"]["hits"] == want["hits"]["hits"]
    # conjunction composes with DSL filters (pills) and allowed_ids
    en = server.search({
        "mode": "bm25", "k": 500,
        "query": {"bool": {"must": [
            {"match": {"text": "dup"}},
            {"match": {"text": "merge"}},
        ], "filter": [{"term": {"lang": "en"}}]}},
    })
    assert {h["_id"] for h in en["hits"]["hits"]} <= both
    assert en["hits"]["total"] <= len(both)
    # hybrid pinned conjunction needs the maintenance lineages to
    # resolve the joint watermark — this server mounts none (the
    # served positive case lives in test_rrf_pinned_serving_over_rest)
    with pytest.raises(ValueError, match="pinned serving needs"):
        server.search({
            "mode": "rrf", "query_ids": [0], "pinned": True,
            "query": dsl,
        })


def test_match_operator_and(spark, meta_server, stack):
    """ES ``"operator": "and"``: every term of the clause must match
    (default "or" needs any one). Served through the per-clause
    conjunction — one clause per distinct term — and scored on the
    union; unknown match-object keys are a 400, not a silent ignore."""
    server, _ = meta_server
    _, bm25_root, _, _ = stack
    anded = server.search({
        "mode": "bm25", "k": 500,
        "query": {"match": {"text": {"query": "DUP merge",
                                     "operator": "and"}}},
    })
    explicit = server.search({
        "mode": "bm25", "k": 500,
        "query": {"bool": {"must": [
            {"match": {"text": "dup"}},
            {"match": {"text": "merge"}},
        ]}},
    })
    assert anded["hits"]["hits"] == explicit["hits"]["hits"]
    assert anded["hits"]["total"] == explicit["hits"]["total"] > 0
    # default or-semantics matches strictly more docs
    ored = server.search({
        "mode": "bm25", "k": 500, "query": {"match": {"text": "dup merge"}},
    })
    assert ored["hits"]["total"] > anded["hits"]["total"]
    with pytest.raises(ValueError, match="unsupported keys"):
        server.search({
            "mode": "bm25",
            "query": {"match": {"text": {"query": "x", "fuzziness": 2}}},
        })
    with pytest.raises(ValueError, match="'or' or 'and'"):
        server.search({
            "mode": "bm25",
            "query": {"match": {"text": {"query": "x",
                                         "operator": "not"}}},
        })


def test_should_text_is_scoring_only_with_siblings(meta_server):
    """ES minimum_should_match: a should MATCH clause with a
    must/filter sibling is scoring-only — the match SET stays the
    required clause's set (docs matching only the should text are
    excluded), but the should terms join the scoring union."""
    server, _ = meta_server
    plain = server.search({
        "mode": "bm25", "k": 500,
        "query": {"bool": {"must": [{"match": {"text": "dup"}}]}},
    })
    boosted = server.search({
        "mode": "bm25", "k": 500,
        "query": {"bool": {"must": [{"match": {"text": "dup"}}],
                           "should": [{"match": {"text": "merge"}}]}},
    })
    must_ids = {h["_id"] for h in plain["hits"]["hits"]}
    assert {h["_id"] for h in boosted["hits"]["hits"]} == must_ids
    assert boosted["hits"]["total"] == plain["hits"]["total"]
    # scores equal union-text scoring restricted to the must set
    want = server.search({
        "mode": "bm25", "query": "dup merge", "k": 500,
        "allowed_ids": sorted(must_ids),
    })
    assert boosted["hits"]["hits"] == want["hits"]["hits"]
    # and the boost genuinely reranks: docs carrying both terms lead
    assert boosted["hits"]["hits"] != plain["hits"]["hits"]


def test_should_only_matches_are_msm1_union(meta_server):
    """A sibling-less should over match clauses IS the requirement
    (msm=1): any-of = the term union BM25 already performs."""
    server, _ = meta_server
    only = server.search({
        "mode": "bm25", "k": 500,
        "query": {"bool": {"should": [{"match": {"text": "dup"}},
                                      {"match": {"text": "merge"}}]}},
    })
    union = server.search({"mode": "bm25", "query": "dup merge", "k": 500})
    assert only["hits"]["hits"] == union["hits"]["hits"]
    assert only["hits"]["total"] == union["hits"]["total"]
    # nested: must [match a, bool(should [b, c])] = a AND (b OR c)
    nested = server.search({
        "mode": "bm25", "k": 500,
        "query": {"bool": {"must": [
            {"match": {"text": "dup"}},
            {"bool": {"should": [{"match": {"text": "merge"}},
                                 {"match": {"text": "window"}}]}},
        ]}},
    })
    got = {h["_id"] for h in nested["hits"]["hits"]}
    per = {}
    for t in ("dup", "merge", "window"):
        r = server.search({"mode": "bm25", "query": t, "k": 10_000})
        per[t] = {h["_id"] for h in r["hits"]["hits"]}
    assert got == per["dup"] & (per["merge"] | per["window"])
    # a sibling-less should MIXING match and metadata clauses is the
    # or-of-match-or-filter the serve cannot express — explicit 400
    with pytest.raises(ValueError, match="mixing match and metadata"):
        server.search({
            "mode": "bm25",
            "query": {"bool": {"should": [
                {"match": {"text": "dup"}},
                {"term": {"lang": "en"}},
            ]}},
        })
    # a nested bool inside should carrying text: refused, not
    # silently flattened
    with pytest.raises(ValueError, match="nested 'bool'"):
        server.search({
            "mode": "bm25",
            "query": {"bool": {
                "must": [{"match": {"text": "dup"}}],
                "should": [{"bool": {
                    "must": [{"match": {"text": "merge"}}]}}],
            }},
        })


def test_should_text_with_filter_only_siblings_is_400(meta_server):
    """Review finding: should-text whose only required siblings are
    metadata filters silently shrank the match set to the text
    matches (ES serves the WHOLE filter set, text as a boost —
    zero-score membership a ranked serve cannot mint). Explicit 400."""
    server, _ = meta_server
    with pytest.raises(ValueError, match="zero-score membership"):
        server.search({
            "mode": "bm25",
            "query": {"bool": {
                "filter": [{"term": {"lang": "en"}}],
                "should": [{"match": {"text": "dup"}}],
            }},
        })


def test_ann_multi_match_gets_dense_encoding_400(spark, stack):
    """Review finding: in ann mode a multi-match DSL on a server with
    no bm25 index got the misleading 'mount the bm25 index' 400; the
    actionable answer is 'use a lexical mode'."""
    _, _, ivfpq_root, embs = stack
    solo = SearchRestServer(spark, ivfpq_root=ivfpq_root,
                            query_source=embs)
    vec = list(embs.filter(F.col("vec_id") == 0).collect()[0].embedding)
    with pytest.raises(ValueError, match="no dense encoding"):
        solo.search({
            "mode": "ann",
            "queries": [{"query_id": 0, "embedding": vec}],
            "query": {"bool": {"must": [
                {"match": {"text": "a"}}, {"match": {"text": "b"}},
            ]}},
        })


def test_track_total_hits_false_omits_total(meta_server):
    """ES's track_total_hits: false — total/relation omitted from the
    envelope and the match-count pass skipped (the pre-count serve
    cost back for consumers that page blindly); hits identical."""
    server, _ = meta_server
    on = server.search({"mode": "bm25", "query": "dup", "k": 5})
    off = server.search({
        "mode": "bm25", "query": "dup", "k": 5,
        "track_total_hits": False,
    })
    assert "total" in on["hits"] and "relation" in on["hits"]
    assert "total" not in off["hits"] and "relation" not in off["hits"]
    assert off["hits"]["hits"] == on["hits"]["hits"]
    assert off["fill"] == on["fill"]
    # match_all sorted listing: the count pass is skipped there too
    s_on = server.search({"sort": [{"field": "ts"}], "k": 3})
    s_off = server.search({
        "sort": [{"field": "ts"}], "k": 3, "track_total_hits": False,
    })
    assert "total" not in s_off["hits"]
    assert s_off["hits"]["hits"] == s_on["hits"]["hits"]
    # aggs-only: aggregations unchanged, envelope total omitted
    a_off = server.search({"aggs": _AGGS, "track_total_hits": False})
    a_on = server.search({"aggs": _AGGS})
    assert "total" not in a_off["hits"]
    assert a_off["aggregations"] == a_on["aggregations"]
    with pytest.raises(ValueError, match="track_total_hits"):
        server.search({"mode": "bm25", "query": "dup",
                       "track_total_hits": 10000})


def test_filters_agg_over_rest(meta_server):
    """The filters agg over /search: match_all and query-scoped, the
    named buckets object, and the only-aggregation rule."""
    server, meta = meta_server
    body = {"aggs": {"splits": {
        "filters": {"filters": {
            "english": {"term": {"lang": "en"}},
            "big": {"range": {"n_chars": {"gte": 300}}},
        }},
        "aggs": {"mean": {"avg": {"field": "n_chars"}}},
    }}}
    out = server.search(body)
    b = out["aggregations"]["splits"]["buckets"]
    assert b["english"]["doc_count"] == meta.filter(
        "lang = 'en'").count()
    assert b["big"]["doc_count"] == meta.filter(
        "n_chars >= 300").count()
    assert out["hits"]["total"] == meta.count()
    # query-scoped: the filters run over the MATCH SET
    scoped = server.search({"mode": "bm25", "query": "dup", **body})
    sb = scoped["aggregations"]["splits"]["buckets"]
    assert sb["english"]["doc_count"] < b["english"]["doc_count"]
    assert scoped["hits"]["total"] > 0
    with pytest.raises(ValueError, match="only aggregation"):
        server.search({"aggs": {
            "splits": {"filters": {"filters": {
                "e": {"term": {"lang": "en"}}}}},
            "extra": {"terms": {"field": "lang"}},
        }})


def test_filters_agg_with_bucket_chain_over_rest(meta_server):
    """Round 14: the split-by-filters × date-axis Kibana panel in ONE
    request — each named filter carries its own date_histogram chain;
    overlap counts in both; the chain doc_counts tile the filter's
    own doc_count."""
    server, meta = meta_server
    out = server.search({"aggs": {"splits": {
        "filters": {"filters": {
            "english": {"term": {"lang": "en"}},
            "big": {"range": {"n_chars": {"gte": 300}}},
        }},
        "aggs": {"by_day": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d"},
            "aggs": {"mean": {"avg": {"field": "n_chars"}}}}},
    }}})
    b = out["aggregations"]["splits"]["buckets"]
    assert b["english"]["doc_count"] == meta.filter("lang = 'en'").count()
    for name in ("english", "big"):
        assert sum(
            d["doc_count"] for d in b[name]["by_day"]["buckets"]
        ) == b[name]["doc_count"]
        for d in b[name]["by_day"]["buckets"]:
            assert d["mean"]["value"] is not None


def test_filters_product_over_rest(meta_server):
    """Round 15: two filters splits (filters×filters) in ONE request —
    each outer named bucket carries the inner named envelope over the
    intersection, inner cells tile the outer count when the inner
    partitions, and the query-scoped form runs the grid over the
    MATCH SET."""
    server, meta = meta_server
    body = {"aggs": {"splits": {
        "filters": {"filters": {
            "english": {"term": {"lang": "en"}},
            "all": {"match_all": {}},
        }},
        "aggs": {"by_size": {
            "filters": {"filters": {
                "big": {"range": {"n_chars": {"gte": 300}}},
                "small": {"range": {"n_chars": {"lt": 300}}},
            }},
            "aggs": {"mx": {"max": {"field": "n_chars"}}}}},
    }}}
    out = server.search(body)
    b = out["aggregations"]["splits"]["buckets"]
    cells = b["english"]["by_size"]["buckets"]
    assert cells["big"]["doc_count"] == meta.filter(
        "lang = 'en' AND n_chars >= 300").count()
    assert (cells["big"]["doc_count"] + cells["small"]["doc_count"]
            ) == b["english"]["doc_count"]
    assert b["all"]["doc_count"] == meta.count()
    assert cells["big"]["mx"]["value"] >= cells["small"]["mx"]["value"]
    # query-scoped: the whole grid runs over the match set
    scoped = server.search({"mode": "bm25", "query": "dup", **body})
    sb = scoped["aggregations"]["splits"]["buckets"]
    assert sb["all"]["doc_count"] <= b["all"]["doc_count"]
    s_cells = sb["all"]["by_size"]["buckets"]
    assert (s_cells["big"]["doc_count"] + s_cells["small"]["doc_count"]
            ) == sb["all"]["doc_count"]


def test_other_bucket_tiles_parent_over_rest(meta_server):
    """Round 14: a Kibana panel with otherBucket translated through
    kibana_vis_aggs and served over /search — kept + __other__
    doc_counts tile the parent exactly, and the merged avg rides
    along."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )

    server, meta = meta_server
    spec = serve.kibana_vis_aggs({"aggs": [
        {"id": "1", "type": "avg", "schema": "metric",
         "params": {"field": "n_chars"}},
        {"id": "2", "type": "terms", "schema": "segment",
         "params": {"field": "lang", "size": 2, "otherBucket": True,
                    "otherBucketLabel": "Other"}},
    ]})
    out = server.search({"aggs": spec})
    node = out["aggregations"]["k2"]
    keys = [b["key"] for b in node["buckets"]]
    assert keys[-1] == "__other__" and len(keys) == 3
    assert sum(b["doc_count"] for b in node["buckets"]) == meta.filter(
        "lang IS NOT NULL").count()
    other = node["buckets"][-1]
    assert node["sum_other_doc_count"] == other["doc_count"] > 0
    kept = {b["key"] for b in node["buckets"][:-1]}
    rest = meta.filter(~F.col("lang").isin(*kept))
    assert abs(
        other["k1"]["value"]
        - rest.agg(F.avg("n_chars")).collect()[0][0]
    ) < 1e-9


def test_match_phrase_over_rest(spark, sf_dir, stack):
    """Round 14: a quoted search-bar phrase end to end — membership is
    the token-exact adjacency set (verified against the mounted text,
    candidate-bounded), scoring is BM25 over the phrase's term union
    restricted to that set (equals the union query + allowed_ids
    oracle), and the phrase composes with filter pills."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )

    _, bm25_root, ivfpq_root, embs = stack
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    server = SearchRestServer(
        spark, bm25_root=bm25_root, ivfpq_root=ivfpq_root,
        query_source=embs, doc_source=docs,
    )
    got = server.search({
        "mode": "bm25", "k": 500,
        "query": {"match_phrase": {"text": "order fast"}},
    })
    members = {
        r.doc_id
        for r in docs.filter(
            serve.phrase_predicate(F.col("text"), "order fast")
        ).collect()
    }
    got_ids = {h["_id"] for h in got["hits"]["hits"]}
    assert got_ids == members and members
    assert got["hits"]["total"] == len(members)
    # adjacency is strictly smaller than the term conjunction
    both = server.search({
        "mode": "bm25", "k": 500,
        "query": {"bool": {"must": [{"match": {"text": "order"}},
                                    {"match": {"text": "fast"}}]}},
    })
    assert members < {h["_id"] for h in both["hits"]["hits"]}
    # ranked exactly like the union text restricted to the phrase set
    want = server.search({
        "mode": "bm25", "k": 500, "query": "order fast",
        "allowed_ids": sorted(members),
    })
    assert got["hits"]["hits"] == want["hits"]["hits"]
    # composes with filter pills
    en = server.search({
        "mode": "bm25", "k": 500,
        "query": {"bool": {
            "must": [{"match_phrase": {"text": "order fast"}}],
            "filter": [{"term": {"lang": "en"}}]}},
    })
    en_ids = {r.doc_id for r in docs.filter("lang = 'en'").collect()}
    assert {h["_id"] for h in en["hits"]["hits"]} == members & en_ids


def test_match_phrase_composes_with_match_conjunction(spark, sf_dir, stack):
    """A phrase AND a separate match clause: two required clauses
    through the per-clause conjunction, adjacency still enforced by
    the keep-set — membership is (phrase set) ∩ (clause match set)."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )

    _, bm25_root, ivfpq_root, embs = stack
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    server = SearchRestServer(
        spark, bm25_root=bm25_root, ivfpq_root=ivfpq_root,
        query_source=embs, doc_source=docs,
    )
    got = server.search({
        "mode": "bm25", "k": 500,
        "query": {"bool": {"must": [
            {"match_phrase": {"text": "order fast"}},
            {"match": {"text": "merge"}},
        ]}},
    })
    phrase = {
        r.doc_id
        for r in docs.filter(
            serve.phrase_predicate(F.col("text"), "order fast")
        ).collect()
    }
    merge_docs = {
        h["_id"]
        for h in server.search(
            {"mode": "bm25", "k": 5000, "query": "merge"}
        )["hits"]["hits"]
    }
    want = phrase & merge_docs
    assert want and want < phrase  # both constraints bite
    assert {h["_id"] for h in got["hits"]["hits"]} == want
    assert got["hits"]["total"] == len(want)


def test_kibana_filters_split_panel_over_rest(meta_server):
    """Round 14: a filters-split Kibana panel translated and served in
    ONE request — per-filter date chains whose doc_counts tile each
    filter's own count, zero-row filters zero-filled."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )

    server, meta = meta_server
    spec = serve.kibana_vis_aggs({"aggs": [
        {"id": "1", "type": "count", "schema": "metric", "params": {}},
        {"id": "2", "type": "date_histogram", "schema": "segment",
         "params": {"field": "ts", "interval": "auto"}},
        {"id": "3", "type": "filters", "schema": "group",
         "params": {"filters": [
             {"input": {"query": "lang: en"}, "label": "English"},
             {"input": {"query": "n_chars >= 300 and lang: de"}},
             {"input": {"query": "lang: xx"}, "label": "Nobody"},
         ]}},
    ]}, fixed_interval="1d")
    out = server.search({"aggs": spec})
    b = out["aggregations"]["k3"]["buckets"]
    assert b["English"]["doc_count"] == meta.filter("lang = 'en'").count()
    assert b["n_chars >= 300 and lang: de"]["doc_count"] == meta.filter(
        "n_chars >= 300 AND lang = 'de'").count()
    for name in ("English", "n_chars >= 300 and lang: de"):
        assert sum(
            d["doc_count"] for d in b[name]["k2"]["buckets"]
        ) == b[name]["doc_count"]
    assert b["Nobody"] == {"doc_count": 0, "k2": {"buckets": []}}


def test_classic_kibana_metrics_over_rest(meta_server):
    """Round 15: the classic Kibana metric dropdown's last two types
    — extended_stats (std_dev) and percentile_ranks — end-to-end over
    /search, riding the generic aggs route with the ES envelope."""
    server, meta = meta_server
    body = {"by_lang": {
        "terms": {"field": "lang", "size": 3},
        "aggs": {
            "spread": {"extended_stats": {"field": "n_chars"}},
            "ranks": {"percentile_ranks": {
                "field": "n_chars", "values": [250]}},
        },
    }}
    out = server.search({"aggs": body})
    b0 = out["aggregations"]["by_lang"]["buckets"][0]
    s = b0["spread"]
    # the full ES extended_stats envelope shape
    assert set(s) >= {"count", "avg", "sum_of_squares", "variance",
                      "variance_sampling", "std_deviation",
                      "std_deviation_bounds"}
    assert s["std_deviation"] >= 0
    assert s["std_deviation_bounds"]["upper"] >= s["avg"]
    assert 0 <= b0["ranks"]["values"]["250.0"] <= 100
    # unknown body keys stay the strict-400 contract through REST
    with pytest.raises(ValueError, match="sigma"):
        server.search({"aggs": {"s": {"extended_stats": {
            "field": "n_chars", "sigma": "two"}}}})


def test_auto_date_histogram_over_rest(meta_server):
    """Round 15: auto_date_histogram end-to-end — the door validates
    job-free (stub mode), the serve runs the min/max selection over
    the MATCHED frame, and the envelope carries ES's chosen
    interval."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )

    server, meta = meta_server
    body = {"a": {"auto_date_histogram": {"field": "ts"},
                  "aggs": {"m": {"avg": {"field": "n_chars"}}}}}
    out = server.search({"aggs": body})
    a = out["aggregations"]["a"]
    # the 72-derived-hour span selects 12h → 6 contiguous buckets
    assert a["interval"] == "12h" and len(a["buckets"]) == 6
    assert sum(b["doc_count"] for b in a["buckets"]) == meta.count()
    assert out["aggregations"] == serve.aggs_nested(meta, body)
    # door-level validation stays a clean 400, no job
    with pytest.raises(ValueError, match="buckets"):
        server.search({"aggs": {"a": {"auto_date_histogram": {
            "field": "ts", "buckets": 0}}}})
    # the selection follows the MATCH SET, not the corpus: a narrow
    # allowed_ids span (hours 0-3 → 7 half-hour buckets ≤ 10) picks
    # a finer rung
    scoped = server.search({
        "aggs": body, "allowed_ids": [0, 1, 2, 3],
    })
    assert scoped["aggregations"]["a"]["interval"] == "30m"


def test_filter_agg_over_rest(meta_server):
    """Round 15: the singular filter agg end-to-end — hits.total
    stays the MATCH-SET size while the bucket's doc_count is the
    narrowed count; composite inside a filter 400s at the door."""
    server, meta = meta_server
    out = server.search({"aggs": {"big": {
        "filter": {"range": {"n_chars": {"gte": 250}}},
        "aggs": {"m": {"avg": {"field": "n_chars"}}}}}})
    big = out["aggregations"]["big"]
    assert out["hits"]["total"] == meta.count()
    assert 0 < big["doc_count"] < meta.count()
    assert big["m"]["value"] >= 250
    with pytest.raises(ValueError, match="query.bool.filter"):
        server.search({"aggs": {"f": {
            "filter": {"match_all": {}},
            "aggs": {"c": {"composite": {"sources": [
                {"l": {"terms": {"field": "lang"}}}]}}}}}})
