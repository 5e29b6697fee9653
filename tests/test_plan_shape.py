"""Physical-plan shape tests: lock in the scale-critical properties
(broadcast joins, pushdown, pruning, map-side partials, no cartesian
blowups) so a regression that silently de-optimizes a plan fails CI,
not the 100 TB run."""

from __future__ import annotations

import pytest

from kafka_cdc_elasticsearch_pipeline_spark.queries import QUERIES


def final_plan(df) -> str:
    # Execute first so AQE settles on the final physical plan.
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _col(line: str) -> int:
    """Where a printed plan line's node starts, past the tree art."""
    return len(line) - len(line.lstrip(" :+-|"))


def live_plan(p: str) -> str:
    """``p`` without the definitions printed under each
    InMemoryRelation: the operators this query runs, not the plan
    that filled a cache it reads. A definition is every line indented
    deeper than its InMemoryRelation line."""
    out, skip = [], None
    for line in p.splitlines():
        if skip is not None and _col(line) > skip:
            continue
        skip = None
        out.append(line)
        if "InMemoryRelation" in line:
            skip = _col(line)
    return "\n".join(out)


def cached(p: str) -> bool:
    """Whether plan ``p`` reads or defines a cached relation."""
    return "InMemoryRelation" in p or "InMemoryTableScan" in p


def doc_scans(p: str) -> int:
    """How often the executed plan ``p`` scans a file: its live
    FileScans plus one per DISTINCT cached relation whose definition
    holds one (every reference prints the same definition, and the
    cache fills once). Only the final plan counts: an adaptive root
    prints its initial plan after it."""
    final = p.split("\n+- == Initial Plan ==")[0].splitlines()
    defs = set()
    for i, line in enumerate(final):
        if "InMemoryRelation" in line:
            block = []
            for nxt in final[i + 1:]:
                if _col(nxt) <= _col(line):
                    break
                block.append(nxt.strip(" :+-|"))
            defs.add("\n".join(block))
    live = live_plan("\n".join(final))
    return live.count("FileScan") + sum("FileScan" in d for d in defs)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    cache: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in cache:
            cache[name] = final_plan(QUERIES[name].spark(spark, sf_dir))
        return cache[name]

    return get


def test_enrich_join_broadcasts_dimension(plans):
    """J1: the stream-table enrichment must be a broadcast hash join —
    the fact side never shuffles (ksqlDB's local table lookup twin)."""
    p = plans("j1_enrich_stream_table_join")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_scan_projection_prunes_columns(plans):
    """P1: a 4-column projection must reach the parquet ReadSchema —
    at 100 TB reading 6 columns for a 4-column query is a regression."""
    p = plans("s1_p1_scan_projection")
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    assert "props" not in read and "ts" not in read.split("ReadSchema")[1]


def test_point_lookup_pushes_filter(plans):
    """P8: the key-equality predicate must be pushed into the scan."""
    p = plans("p8_point_lookup")
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "EqualTo(user_id,7)" in pushed


def test_q1_map_side_partial_aggregation(plans):
    """TPC-H Q1: partial (map-side) aggregation before the exchange —
    the shuffle carries one row per (group × partition), not 600k."""
    p = plans("tpch_q1_pricing_summary")
    assert "partial_sum" in p
    # shipdate filter pushed into the scan
    assert "LessThanOrEqual(l_shipdate" in p


def test_q3_broadcasts_customer_dimension(plans):
    p = plans("tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in p
    # top-k must not be a global sort
    assert "TakeOrderedAndProject" in p


def test_minhash_no_cartesian_blowup(plans):
    """LSH candidate generation must stay an equi-join on band keys —
    a cartesian/NLJ here is O(n²) and unrunnable at corpus scale."""
    p = plans("ext_dedup_minhash_lsh")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ngram_prefix_join_no_cartesian(plans):
    p = plans("ext_dedup_ngram_jaccard")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ngram_df_is_window_not_broadcast_join(plans):
    """The shingle document-frequency must come from a window over the
    exploded rows, never a (s → df) aggregate joined back: Spark
    broadcast that corpus-sized aggregate (4.6M entries at 80k docs,
    rebuilt per join side) — the super-linear term SCALING.md r04
    measured. A BroadcastHashJoin keyed on the shingle hash reappearing
    is that regression."""
    p = plans("ext_dedup_ngram_jaccard")
    assert "Window" in p
    # At fixture scale AQE may broadcast the (small) candidate
    # self-join — fine. The regression signature is a df AGGREGATE
    # keyed on the shingle hash (it only exists to be joined back,
    # and Spark broadcasts it): no such node may exist.
    import re

    bad = re.search(r"HashAggregate\(keys=\[s#\d+L?\], functions=\[(partial_)?count", p)
    assert bad is None, f"(s -> df) aggregate join-back is back: {bad.group(0)}"


def test_topk_uses_take_ordered(plans):
    """L2: ordered top-k must compile to TakeOrderedAndProject (per-
    partition heaps + driver merge), never a full global Sort."""
    p = plans("l2_topk_users_by_value")
    assert "TakeOrderedAndProject" in p


def test_latest_per_key_is_single_aggregate(plans):
    """A3 (max_by strategy): one hash aggregate, shuffling only
    (key, packed-row) pairs — not a window sort of the full stream."""
    p = plans("s2_a3_table_latest_per_key")
    assert "max_by" in p or "HashAggregate" in p
    assert "Window" not in p


def test_asof_join_single_shuffle_no_range_explode(plans):
    """As-of join must be union + window (one hash exchange on the
    key), never a range-condition nested-loop join."""
    p = plans("j_asof_last_purchase_before_view")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p  # running last() formulation


def test_band_join_is_broadcast_nlj(plans):
    """Range containment vs a 3-row band table: broadcast nested loop
    is the CORRECT strategy (build side is tiny); a cartesian isn't."""
    p = plans("j_range_band_join_value_tiers")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_simhash_pairs_equi_join_only(plans):
    p = plans("ext_dedup_simhash_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_rollup_single_expand_single_aggregate_pass(plans):
    """Grouping sets = one Expand + aggregation, not three queries."""
    p = plans("a_rollup_channel_user")
    assert "Expand" in p


def test_q6_full_pushdown_and_pruning(plans):
    """TPC-H Q6: all three filters reach the parquet scan and the
    ReadSchema carries only the columns the query touches — at 100 TB
    the scan IS this query's runtime."""
    p = plans("tpch_q6_forecast_revenue")
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    schema = read.split("ReadSchema")[1]
    assert "l_orderkey" not in schema and "l_returnflag" not in schema


def test_q2_single_lineitem_aggregation(plans):
    """TPC-H Q2: the correlated per-part MIN is a window over the
    derived catalog, NOT a second aggregation of lineitem — exactly one
    lineitem partial-agg pair in the plan."""
    p = plans("tpch_q2_min_cost_supplier")
    assert p.count("partial_min(round((l_extendedprice") == 1
    assert "Window" in p


def test_q17_one_scan_via_window(plans):
    """TPC-H Q17: the per-part average comes from a window over the
    brand-filtered join output — lineitem is scanned once."""
    p = plans("tpch_q17_small_quantity_revenue")
    li_scans = [
        line for line in p.splitlines()
        if "FileScan parquet" in line and "l_quantity" in line
    ]
    assert len(li_scans) == 1
    assert "Window" in p


def test_q21_one_scan_via_window(plans):
    """TPC-H Q21: per-order max-shipdate + distinct-supplier stats as
    ONE windowed pass over the semi-filtered lineitem."""
    p = plans("tpch_q21_waiting_suppliers")
    li_scans = [
        line for line in p.splitlines()
        if "FileScan parquet" in line and "l_shipdate" in line
    ]
    assert len(li_scans) == 1
    assert "TakeOrderedAndProject" in p


def test_q19_factored_predicates_push_to_scans(plans):
    """TPC-H Q19: the branch-common conjuncts (returnflag, quantity
    envelope, brand set) must push into the scans so the OR residual
    evaluates on a reduced join input."""
    p = plans("tpch_q19_discounted_revenue")
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_returnflag" in pushed and "l_quantity" in pushed
    assert "BroadcastHashJoin" in p


def test_q22_anti_join_and_scalar_broadcast(plans):
    """TPC-H Q22: NOT IN as a broadcast anti-join; the global average
    as a 1-row broadcast, never a per-row subquery."""
    p = plans("tpch_q22_sales_opportunity")
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_rhp_lsh_no_cartesian(plans):
    """RHP-LSH: candidate generation must be an equi-join on the band
    key — a cartesian/NL join here is the O(n^2) failure mode."""
    p = plans("ext_emb_rhp_lsh_neardup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_salted_skew_join_no_cartesian_union_of_paths(plans):
    """Round 3: the skew-routed join is hot(salted equi-join) ∪
    cold(plain equi-join) — equi-joins only (salt key is part of the
    hot join condition), never a cartesian, and the reassembling Union
    is present."""
    p = plans("skew_salted_join_lineitem_supplier")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Union" in p


def test_tfidf_topk_has_no_window_sort(plans):
    """Round 4: the per-doc top-k is a hash aggregation over per-doc
    arrays — the row_number window (whose per-partition sort grew with
    corpus size; 4.7× wall at 16× rows in r03) must stay gone."""
    p = plans("ext_text_tfidf_top_terms")
    assert "Window" not in p
    assert "HashAggregate" in p or "ObjectHashAggregate" in p


def test_rhp_candidates_shuffle_ids_not_embeddings(plans):
    """Round 4: the band-bucket self-join carries only (vec_id, band)
    — the 64-float embedding arrays must not cross the candidate
    shuffle; they are re-read for candidate ids only (broadcast-ids
    verify)."""
    p = plans("ext_emb_rhp_lsh_neardup")
    # the distinct() over candidates must aggregate id pairs, not
    # embedding payloads
    distinct_lines = [
        line for line in p.splitlines()
        if "HashAggregate" in line and "vec_a" in line and "vec_b" in line
    ]
    assert distinct_lines, "candidate distinct() not found"
    assert all("emb" not in line for line in distinct_lines)
    # verify stage rescans via a broadcast of the candidate-id set
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_ivf_recall_no_cartesian_on_corpus(plans):
    """Round 4: the recall query's probe join and hit join are
    equi-joins / broadcasts; the only cross joins are against the
    bounded centroid table (n_clusters rows), never corpus × corpus."""
    p = plans("ext_sim_ivf_recall")
    assert "CartesianProduct" not in p


def test_png_decode_single_python_chain_no_shuffle_between_stages(plans):
    """Round 3: build → decode are back-to-back mapInPandas stages —
    no exchange between them (payloads never shuffle; only the initial
    spread repartition appears)."""
    p = plans("ext_multimodal_png_decode")
    assert p.count("Exchange") <= 1  # the spread() repartition only
    assert "ArrowEvalPython" in p or "MapInPandas" in p


def test_substring_span_dedup_no_cartesian(plans):
    """Substring-span dedup is a token explode + gram-hash equi-joins;
    any cartesian/NLJ would be O(corpus²) token pairs."""
    p = plans("ext_dedup_substring_spans")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_semdedup_no_cartesian_label_blocked(plans):
    """SemDeDup candidates come from the label equi-join (same policy
    as the pair query); centroids and the drop-set join stay broadcast
    — corpus × corpus never appears."""
    p = plans("ext_dedup_semdedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_video_neardup_band_equijoin_single_decode_chain(plans):
    """Video near-dup: container walk + frame decode + majority hash
    must be ONE Python chain with no shuffle between Python stages
    (pixels never leave the stage), and the pairing must be the band
    equi-join — corpus × corpus never appears."""
    p = plans("ext_multimodal_video_neardup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # real decode present; build → fingerprint are back-to-back Python
    # stages (the same chain shape the png single-chain guard pins) —
    # the self-join prints the chain twice, so just require the Python
    # stage and the equi-join markers
    assert "MapInPandas" in p or "ArrowEvalPython" in p


def test_target_overlap_broadcasts_dictionary(plans):
    """DSIR-style selection: the target bigram dictionary must
    BROADCAST (the raw corpus streams past it map-side); a shuffled
    join here would move the whole corpus's bigrams for a
    dictionary-sized build side."""
    p = plans("ext_curation_target_overlap_selection")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_hybrid_search_rerank_stays_candidate_sized(plans):
    """Retrieve-then-rerank: candidate generation is the word
    equi-join, the rerank joins broadcast query embeddings onto the
    candidate set — corpus × corpus never appears and no
    nested-loop join of embeddings exists."""
    p = plans("ext_search_hybrid_lexical_rerank")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_semdedup_capped_blocked_equijoin_no_cartesian(plans):
    """The cluster-size-capped SemDeDup still candidates through an
    equi-join — now on (label, sub) blocks — with broadcast centroids;
    the cap must never be implemented as a post-filter on an
    unblocked (cartesian) pairing. (The rank window carries the
    embedding through its one label shuffle on purpose — the pair
    join needs the vectors anyway; see cap_cluster_sizes.)"""
    p = plans("ext_dedup_semdedup_capped")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pq_refinement_assign_broadcasts_codebook_every_iteration(plans):
    """Each Lloyd iteration re-scores the corpus against a BROADCAST
    codebook (the codebook stays KB-sized no matter the corpus); no
    iteration may degrade to a cartesian or shuffle the subvectors for
    scoring."""
    p = plans("ext_sim_pq_refined_distortion")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_image_neardup_band_equijoin_no_cartesian(plans):
    """Image aHash pairing: candidates come from the 16-bit band
    equi-join (pigeonhole), pixels never leave the decode stage —
    no cartesian, no nested-loop join of fingerprints."""
    p = plans("ext_multimodal_image_neardup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "MapInPandas" in p or "ArrowEvalPython" in p


def test_audio_neardup_band_equijoin_no_cartesian(plans):
    """Audio fingerprint pairing: same band equi-join policy as the
    image/SimHash dedups — no cartesian, samples never leave the
    decode stage."""
    p = plans("ext_multimodal_audio_neardup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "MapInPandas" in p or "ArrowEvalPython" in p


def test_pq_encode_broadcasts_codebook(plans):
    """PQ encode: the corpus scans once against a BROADCAST codebook
    (KB-sized at any corpus size — the point of PQ); the corpus side
    must never shuffle for the scoring join. r16 strengthens the
    shape: the codec is a deliberate ONE-ROW broadcast (per-subspace
    codebook arrays) + a vector-level array_min fold — a pure map
    pass. The regressions to catch: the corpus shuffling for a
    sort-merge join, or the old per-(vec_id, m) argmin reappearing as
    a window/aggregate exchange keyed on vec_id."""
    import re

    p = plans("ext_sim_pq_codes")
    assert "BroadcastNestedLoopJoin" in p  # the bounded 1-row codebook cross
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    # no vec_id-keyed argmin shuffle: encode must stay map-only
    bad = re.search(r"(Window|HashAggregate|SortAggregate).*vec_id#\d+", p)
    assert bad is None, f"vec_id-keyed argmin shuffle is back: {bad.group(0)[:80]}"


def test_cms_probe_broadcasts_sketch(plans):
    """Count-min estimate: the sketch side is ≤ d×w rows BY
    CONSTRUCTION and must broadcast — shuffling probe keys to meet a
    fixed-size sketch would move the whole probe set for nothing. No
    cartesian anywhere (the only crossJoin is the scalar N_total)."""
    p = plans("a_cms_heavy_hitters_bound")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_reservoir_plans_map_side_window_group_limit(plans):
    """Reservoir top-k: the row_number()<=k shape must keep Catalyst's
    Partial WindowGroupLimit (map-side per-partition top-k BEFORE the
    exchange) — lose it and a planted giant group becomes one
    straggler task sorting the whole group."""
    p = plans("ext_sample_reservoir_per_group")
    assert "CartesianProduct" not in p
    assert p.count("WindowGroupLimit") >= 2  # Partial + Final
    assert "Partial" in p.split("WindowGroupLimit")[2]


def test_cluster_canonical_no_cartesian_window_on_component(plans):
    """Canonical keeper selection: the quality join is doc-keyed, the
    keeper pick is a component-partitioned window — corpus × corpus
    never appears anywhere in the composed plan."""
    p = plans("ext_dedup_cluster_canonical")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p


def test_bigram_lm_joins_are_equi_no_cartesian(plans):
    """LM scoring: bigram and unigram lookups are hash equi-joins; the
    only nested-loop is the broadcast 1-row vocabulary scalar."""
    p = plans("ext_text_bigram_lm_score")
    assert "CartesianProduct" not in p
    # the V scalar is the single permitted nested-loop (1-row build)
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_corpus_overlap_exact_path_is_hash_equijoin(plans):
    """Corpus overlap: the exact-intersection self-join meets on the
    shingle hash (equi), never corpus × corpus; the one nested-loop is
    the 20-row source-dim pairing (a catalog, not data)."""
    p = plans("ext_dedup_corpus_overlap_matrix")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_bm25_rerank_broadcasts_terms_and_stats(plans):
    """BM25 three-way recall: candidate generation must be the
    postings equi-join against BROADCAST query terms, df is computed
    over — and broadcast at — QUERY-TERM size (the LeftSemi prune
    below; a vocabulary-sized df broadcast is 10⁸⁺ terms at web
    scale, round-8 verdict nit), and the only nested-loop/cross
    shapes allowed are the 1-row (n_docs, sum_dl) scalar attach —
    corpus × corpus never appears."""
    p = plans("ext_search_bm25_rerank")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # the df build side is pruned to query terms BEFORE aggregating:
    # a broadcast LEFT-SEMI join must sit under the df groupBy
    assert "LeftSemi" in p


def test_bm25_index_scoring_plan_is_pruned(spark, tmp_path, sf_dir):
    """Scoring from the MAINTAINED index: persisted df semi-joins to
    the broadcast query-term set before its broadcast (never
    vocabulary-sized), candidates stay the postings equi-join, no
    cartesian shapes. Built directly (the gate row materializes via
    collect, so its registered plan is a LocalTableScan)."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_index as si,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lakelog.append_commit(spark, source, docs)
    si.bm25_index_maintain(spark, source, index)
    p = final_plan(si.bm25_score_from_index(spark, index, (0, 1, 2)))
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p
    assert "BroadcastHashJoin" in p


def test_pq_append_assign_broadcasts_codebook(spark, tmp_path, sf_dir):
    """The append-assign path must keep pq_encode's shape (r16:
    vector-level map pass after a bounded 1-row broadcast of the
    per-subspace codebook arrays) — appending may never introduce a
    corpus-sized join or a vec_id-keyed argmin shuffle."""
    import re

    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_index as si,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import similarity as sim
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    index = str(tmp_path / "pq")
    embs = load_table(spark, sf_dir, "embeddings")
    si.pq_index_build(spark, embs.filter(F.col("vec_id") < 64), index)
    cb = lakelog.read(spark, f"{index}/pq_codebook")
    p = final_plan(sim.pq_encode(embs.filter(F.col("vec_id") >= 64), cb))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the bounded 1-row codebook cross
    assert "SortMergeJoin" not in p
    bad = re.search(r"(Window|HashAggregate|SortAggregate).*vec_id#\d+", p)
    assert bad is None, f"vec_id-keyed argmin shuffle is back: {bad.group(0)[:80]}"


def test_ivfpq_serving_from_index_probe_shape(spark, tmp_path, sf_dir):
    """Serving from the PERSISTED IVF-PQ index must keep ivfpq_topk's
    shape: codebook/bucket joins are hash equi-joins, centroids and
    probes broadcast (the only nested-loop is the few-queries × few-
    centroids probe scoring), and no CartesianProduct — the float
    corpus never shuffles."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_index as si,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    index = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings")
    si.ivfpq_index_build(spark, embs.filter(F.col("vec_id") < 100), index)
    si.ivfpq_index_append(spark, index, embs.filter(F.col("vec_id") >= 100))
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    p = final_plan(si.ivfpq_search_from_index(spark, index, queries))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p  # queries x centroids only
    # the probe side reaching the candidate join is broadcast, so the
    # corpus-sized recon never shuffles for the join
    assert "BroadcastExchange" in p

    # with tombstones present the live-row filter must stay a BROADCAST
    # left join (delta-sized deletes side) — never a shuffle of the
    # corpus-sized codes/buckets for the filter
    si.ivfpq_index_delete(spark, index, [50, 60])
    p2 = final_plan(si.ivfpq_search_from_index(spark, index, queries))
    assert "CartesianProduct" not in p2
    assert "SortMergeJoin" not in p2
    assert "BroadcastHashJoin" in p2
    assert p2.count("LeftOuter") == 2  # buckets + codes tombstone joins


def test_hybrid_index_only_decode_is_candidate_sized(spark, tmp_path, sf_dir):
    """The no-floats hybrid serve must decode ONLY candidates: the
    codes table is semi-joined (broadcast) to the candidate ids before
    reconstruction, the codebook and queries broadcast, and nothing
    cartesian-joins or sort-merge-joins a corpus-sized side."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_index as si,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    src = str(tmp_path / "docs")
    bm25_root = str(tmp_path / "bm25")
    pq_root = str(tmp_path / "pq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lakelog.append_commit(spark, src, docs)
    si.bm25_index_maintain(spark, src, bm25_root)
    embs = load_table(spark, sf_dir, "embeddings")
    si.pq_index_build(spark, embs, pq_root)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    p = final_plan(
        si.hybrid_search_index_only(spark, bm25_root, pq_root, queries)
    )
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    # the candidate prune on the codes table is the broadcast LeftSemi
    assert "LeftSemi" in p


def test_rrf_fusion_plan_is_pool_sized(spark, tmp_path, sf_dir):
    """RRF serving: both lists are top-pool windows, the fusion is a
    group-fold over their union — no cartesian shapes anywhere, the
    dense stage keeps pq_encode/reconstruct's broadcast-codebook
    shape, and the BM25 stage keeps the query-term semi-join prune
    (the round-8 df guard must survive under fusion)."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_index as si,
    )
    from pyspark.sql import functions as F
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    source = str(tmp_path / "docs")
    bm25_root = str(tmp_path / "bm25")
    pq_root = str(tmp_path / "pq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lakelog.append_commit(spark, source, docs)
    si.bm25_index_maintain(spark, source, bm25_root)
    embs = load_table(spark, sf_dir, "embeddings")
    si.pq_index_build(spark, embs, pq_root)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    p = final_plan(
        si.hybrid_search_rrf_index_only(
            spark, bm25_root, pq_root, queries, query_ids=(0, 1, 2)
        )
    )
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p  # df pruned to query terms before broadcast
    assert "BroadcastHashJoin" in p  # codebook / query-side broadcasts


def test_aggs_rollup_is_one_pass_with_linear_truncation(spark, sf_dir):
    """The ES-aggs compiler's scale contract: the whole bucket tree is
    ONE rollup over the match set (Expand → partial agg → ONE shuffle
    on the grouping keys → final agg — grouping sets, never a
    per-level re-aggregation of the documents), and the terms
    truncation is one linear plan over that rollup's output: a
    rank-limited window (WindowGroupLimit) and filters, with no
    cached relation, no self-join and no union — nothing references
    the bucket frame twice, so nothing re-runs the match-set pass."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, doc_id % 72, 0, 0)"
        ).alias("ts"),
        "lang",
        "n_chars",
    )
    spec = {
        "by_day": {
            "date_histogram": {"field": "ts", "fixed_interval": "1d"},
            "aggs": {
                "by_lang": {
                    "terms": {"field": "lang", "size": 2},
                    "aggs": {"mean": {"avg": {"field": "n_chars"}}},
                }
            },
        }
    }
    flat = serve.aggs_flat(meta, spec)
    p = final_plan(flat).split("+- == Initial Plan ==")[0]
    # no per-level re-aggregation of the DOCUMENTS: one Expand
    # (grouping sets), and the bucket-frame work after it is a
    # rank-limited window and filters
    assert p.count("Expand") == 1
    assert "WindowGroupLimit" in p  # rank-limit pushed into window
    assert not cached(p)
    assert "Join" not in p and "Union" not in p

    # without a truncating terms level: exactly one Expand, one
    # exchange pair, zero joins, no window
    flat2 = serve.aggs_flat(
        meta,
        {"by_day": {"date_histogram": {"field": "ts",
                                       "fixed_interval": "1d"}}},
    )
    p2 = final_plan(flat2)
    assert p2.count("Expand") == 1
    assert "Join" not in p2 and "Union" not in p2


def test_served_tree_scans_the_docs_once(spark, sf_dir, monkeypatch):
    """A terms-bearing tree over a parquet-backed frame scans the docs
    ONCE: the truncation is one linear plan over the rollup's output,
    so no branch reads the bucket frame again and nothing is cached.
    The served envelope (``aggs_nested``) is one Spark action,
    sum_other_doc_count included; the lazy gate frame (``aggs_flat``)
    shows the same one scan when run."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, doc_id % 72, 0, 0)"
        ).alias("ts"),
        "lang",
        "n_chars",
    )
    spec = {
        "by_day": {
            "date_histogram": {"field": "ts", "fixed_interval": "1d"},
            "aggs": {
                "by_lang": {
                    "terms": {"field": "lang", "size": 2},
                    "aggs": {"mean": {"avg": {"field": "n_chars"}}},
                }
            },
        }
    }
    frame_cls = type(meta)
    real_collect = frame_cls.collect
    actions: list[str] = []

    def recording(self):
        out = real_collect(self)
        actions.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(frame_cls, "collect", recording)
    env = serve.aggs_nested(meta, spec)
    monkeypatch.undo()
    assert env["by_day"]["buckets"]
    assert len(actions) == 1
    assert doc_scans(actions[0]) == 1
    assert not cached(actions[0])
    assert doc_scans(final_plan(serve.aggs_flat(meta, spec))) == 1


def test_metric_ordered_truncation_keeps_window_group_limit(spark, sf_dir):
    """terms `order` by a metric only parameterizes the truncation
    window's sort — the rank-limit pushdown (WindowGroupLimit), the
    one-Expand rollup, and the linear truncation (no cached relation,
    no self-join, no union) must all survive the
    re-parameterization (a lost WindowGroupLimit would sort every
    bucket of a giant parent in one task)."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, doc_id % 72, 0, 0)"
        ).alias("ts"),
        "lang",
        "n_chars",
    )
    spec = {
        "by_day": {
            "date_histogram": {"field": "ts", "fixed_interval": "1d"},
            "aggs": {
                "by_lang": {
                    "terms": {"field": "lang", "size": 2,
                              "order": {"mean": "desc"}},
                    "aggs": {"mean": {"avg": {"field": "n_chars"}}},
                }
            },
        }
    }
    flat = serve.aggs_flat(meta, spec)
    p = final_plan(flat).split("+- == Initial Plan ==")[0]
    assert "WindowGroupLimit" in p  # rank-limit still pushed down
    assert p.count("Expand") == 1
    assert not cached(p)  # nothing cached, nothing re-read
    assert "Join" not in p and "Union" not in p
    assert "CartesianProduct" not in p
    # the window orders by the metric column (not doc_count)
    assert "mean" in p.split("WindowGroupLimit")[1].split("\n")[0]


def _partial_limits_below_exchange(p: str) -> int:
    """How many Partial WindowGroupLimits in plan ``p`` sit directly
    below an Exchange: the map-side top-k that bounds what a rank
    window's shuffle ships."""
    lines = p.split("+- == Initial Plan ==")[0].splitlines()
    n = 0
    for i, line in enumerate(lines):
        if "WindowGroupLimit" in line and "Partial" in line:
            parent = next(
                up for up in reversed(lines[:i]) if _col(up) < _col(line)
            )
            n += "Exchange" in parent
    return n


def test_terms_truncation_ships_map_side_top_k(spark, sf_dir):
    """A depth-1 terms level (every bucket ranks in ONE partition) and
    a non-leaf terms level (terms → terms: its descendants rank with
    their bucket) each keep a Partial WindowGroupLimit below the rank
    window's Exchange, so a high-cardinality field ships about
    size × partitions rows to the rank, not every bucket."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    depth1 = {"t": {"terms": {"field": "doc_id", "size": 3}}}
    p = final_plan(serve.aggs_flat(meta, depth1))
    assert _partial_limits_below_exchange(p) == 1
    nested = {"t": {"terms": {"field": "lang", "size": 2},
                    "aggs": {"u": {"terms": {"field": "source",
                                             "size": 2}}}}}
    p = final_plan(serve.aggs_flat(meta, nested))
    assert _partial_limits_below_exchange(p) == 2
    assert not cached(p)
    assert "Join" not in p and "Union" not in p


def test_filters_chain_explode_rollup_shape(plans):
    """Round 14: the filters+chain agg compiles to the matched-filter
    EXPLODE feeding ONE shared rollup (Generate → Expand →
    HashAggregate with map-side partials) — never N per-filter
    aggregation plans unioned. The synthetic terms level truncates in
    the same linear plan (a rank-limited window over the rollup's
    output: no cached relation, no join, no union), so the metric
    columns are aggregated by that one rollup and never again per
    filter."""
    p = plans("ext_search_aggs_filters_chain")
    p = p.split("+- == Initial Plan ==")[0]
    assert "Generate explode" in p      # the multi-membership explode
    assert p.count("Expand") == 1       # the shared rollup
    assert "WindowGroupLimit" in p      # the rank-limited truncation
    assert not cached(p)
    assert "Join" not in p and "Union" not in p
    # the avg of the metric field: the rollup's partial + final only
    agg_lines = [
        line for line in p.splitlines()
        if "HashAggregate" in line and "avg(" in line
    ]
    assert len(agg_lines) == 2


def test_dh_timezone_is_key_expression_not_extra_pass(plans):
    """Round 14: time_zone compiles to from_utc_timestamp →
    date_trunc → to_utc_timestamp INSIDE the rollup key column — the
    same one-rollup plan, no extra exchange, join, or pass relative
    to the no-tz chain."""
    p = plans("ext_search_aggs_dh_timezone")
    assert "from_utc_timestamp" in p and "to_utc_timestamp" in p
    assert "Expand" in p
    # one shuffle total: the rollup's ENSURE_REQUIREMENTS exchange
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_dh_week_tz_is_key_expression_not_extra_pass(plans):
    """Round 15: calendar week under time_zone compiles to the same
    one-rollup plan as every chain — the wall shift and the week
    trunc are expressions inside the key column, no extra exchange
    or join."""
    p = plans("ext_search_aggs_dh_week_tz")
    assert "from_utc_timestamp" in p and "to_utc_timestamp" in p
    assert "Expand" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_dh_offset_is_key_expression_not_extra_pass(plans):
    """Round 15: 'offset' is two epoch-micros adds around the floor —
    still ONE rollup, one exchange, no join."""
    p = plans("ext_search_aggs_dh_offset")
    assert "Expand" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_filters_product_is_one_conditional_pass(spark, sf_dir):
    """Round 15: the filters×filters product compiles to ONE global
    conditional aggregate over the corpus — partial + final
    HashAggregate with a SinglePartition exchange between them; no
    explode, no join, no per-filter or per-pair re-scan. Where Kibana
    fires one request per outer filter, this is one scan whose column
    count is the pair grid — flat in the data size. (The served flat
    frame collects its ONE row, so the guard pins the uncollected
    aggregate the serve runs.)"""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    *_, agg_df = serve.filters_product_agg_df(docs, {
        "filters": {"en": {"term": {"lang": "en"}},
                    "all": {"match_all": {}}},
        "aggs": {"oc": {"avg": {"field": "n_chars"}},
                 "g": {"filters": {"filters": {
                     "big": {"range": {"n_chars": {"gte": 250}}},
                     "small": {"range": {"n_chars": {"lt": 250}}}}},
                     "aggs": {"mx": {"max": {"field": "n_chars"}}}}}})
    p = final_plan(agg_df)
    assert "Generate" not in p          # never the explode path
    assert "Join" not in p
    assert "Exchange hashpartitioning" not in p
    assert p.count("Exchange SinglePartition") == 1
    # exactly one partial/final aggregate pair over the one scan
    assert sum(
        1 for line in p.splitlines() if "HashAggregate" in line
    ) == 2


def test_extended_stats_ranks_are_jvm_aggregate_expressions(plans):
    """Round 15: extended_stats' component-sum variance and
    percentile_ranks' conditional counts are plain aggregate
    EXPRESSIONS inside the shared rollup — whole-stage-codegen JVM
    work (no Python eval node anywhere), the truncation one
    rank-limited window over the rollup's output — no cached
    relation, no join, no union, never a second corpus pass."""
    p = plans("ext_search_aggs_extended_stats")
    p = p.split("+- == Initial Plan ==")[0]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Expand") == 1             # the one rollup
    assert "WindowGroupLimit" in p
    assert not cached(p)
    assert "Join" not in p and "Union" not in p


def test_auto_dh_serves_as_one_plain_rollup(spark, sf_dir):
    """Round 15: after the min/max selection pass (a separate
    single-row job), auto_date_histogram's SERVED plan is exactly the
    date_histogram plan the chosen rung implies — one Expand, one
    exchange, no join, no Python eval."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        search_serve as serve,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import (
        load_table,
    )

    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, doc_id % 72, 0, 0)"
        ).alias("ts"),
        "n_chars",
    )
    flat = serve.aggs_flat(meta, {"a": {
        "auto_date_histogram": {"field": "ts"},
        "aggs": {"mean": {"avg": {"field": "n_chars"}}}}})
    p = final_plan(flat)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Expand") == 1
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_filter_bucket_predicate_reaches_the_scan(plans):
    """Round 15: the singular filter agg's narrowing predicate is a
    plain DataFrame filter BEFORE any agg plan builds — so it reaches
    the parquet scan as a pushed data filter (at 100 TB the filter
    bucket reads only its own rows), and the scan's column list is
    pruned to the two columns the sub-tree touches."""
    p = plans("ext_search_aggs_filter_bucket")
    scan = next(l for l in p.splitlines() if "PushedFilters" in l
                or ("FileScan" in l and "n_chars" in l))
    assert "n_chars" in scan and "GreaterThanOrEqual" in p
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "text" not in read.split("ReadSchema")[1]


def test_multi_terms_is_the_same_one_rollup(plans):
    """Round 15: the compound-key struct is an EXPRESSION inside the
    shared rollup key column — multi_terms pays exactly the terms
    plan (one rollup, one rank-limited window, nothing cached, no
    join, no union), no extra pass, no Python eval."""
    p = plans("ext_search_aggs_multi_terms")
    p = p.split("+- == Initial Plan ==")[0]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Expand") == 1 and "WindowGroupLimit" in p
    assert not cached(p)
    assert "Join" not in p and "Union" not in p


def test_banded_hamming_fingerprints_computed_once(plans):
    """r15 optimization: the fingerprint table feeds BOTH sides of the
    band self-join; the broadcast side gets a different exchange type,
    so ReusedExchange can never dedupe it — the pin must. Signature of
    the regression: the Python fingerprint pipeline (MapInPandas
    encode+decode) planned outside an InMemoryRelation twice, i.e. the
    whole image decode pass running once per join side (measured r15:
    1.93s → 1.36s at sf0.1 with the pin)."""
    p = plans("ext_multimodal_image_neardup")
    assert "InMemoryTableScan" in p
    # The executed plan must read the fingerprint cache on both sides;
    # the MapInPandas chain may appear only inside the cached
    # relation's definition, never as a live operator in the join.
    live = p.split("InMemoryRelation")[0]
    assert "MapInPandas" not in live


def test_ngram_set_size_rides_the_explode(plans):
    """r15 optimization: the per-doc shingle-set size ``n`` is
    size(hs) computed BEFORE the explode and carried as a column —
    recounting it downstream costs a second doc_id window pass (plan:
    3 Window nodes → 2). The remaining windows are df over s and
    row_number over doc_id."""
    p = plans("ext_dedup_ngram_jaccard")
    import re

    bad = re.search(
        r"Window \[count\(1\) windowspecdefinition\(doc_id#\d+L?,\s*specifiedwindowframe",
        p,
    )
    assert bad is None, f"doc-count window reappeared: {bad.group(0)}"


# --- r16: fused single-Python-stage media paths (guide §4) -------------------
#
# Every synthetic-media row whose payload is BUILT in-stage must run
# build → codec round trip → stats/fingerprint as ONE MapInPandas
# operator: a second Python stage means the payload bytes round-trip
# the JVM↔Python Arrow boundary for nothing. A revert to the two-stage
# composition fails these on the executed plan.

_FUSED_SINGLE_STAGE = [
    "ext_multimodal_png_decode",    # png_roundtrip_stats (r15)
    "ext_multimodal_gif_decode",    # gif_roundtrip_stats (r15)
    "ext_multimodal_jpeg_decode",   # jpeg_roundtrip_stats (r15)
    "ext_multimodal_wav_decode",    # wav_roundtrip_stats (r16)
    "ext_multimodal_mp4_metadata",  # mp4_roundtrip_stats (r16)
    "ext_multimodal_audio_features",  # tone_roundtrip_features (r16)
    "ext_multimodal_image_features",  # gradient_roundtrip_features (r16)
    "ext_multimodal_format_sniff",  # mixed_roundtrip_metadata (r16)
]


@pytest.mark.parametrize("name", _FUSED_SINGLE_STAGE)
def test_media_build_decode_is_one_python_stage(plans, name):
    p = plans(name)
    assert p.count("MapInPandas") == 1, (
        f"{name}: expected ONE fused MapInPandas stage, plan has "
        f"{p.count('MapInPandas')}"
    )


@pytest.mark.parametrize(
    "name",
    [
        "ext_multimodal_audio_neardup",   # texture_energy_fingerprint (r15)
        "ext_multimodal_video_neardup",   # texture_video_fingerprint (r15)
    ],
)
def test_neardup_fingerprint_pipeline_fused_and_pinned(plans, name):
    """The audio/video near-dup fingerprint pipeline must be (a) ONE
    fused MapInPandas stage and (b) pinned so the band self-join reads
    it from cache on both sides (r15's banded-Hamming fix). The
    two-stage regression signature is a SECOND distinct Python
    function (attach builder feeding a separate fingerprint stage);
    an InMemoryRelation's textual plan prints its cached subtree
    twice, so we assert on distinct function names, not node count."""
    import re

    p = plans(name)
    live = p.split("InMemoryRelation")[0]
    assert "MapInPandas" not in live, f"{name}: fingerprint pass ran live"
    names = set(re.findall(r"MapInPandas (\w+)\(", p))
    assert names == {"build_and_fp"}, (
        f"{name}: expected the single fused build_and_fp stage, plan "
        f"has Python stages {sorted(names)}"
    )


def test_semdedup_scoring_pinned_once(plans):
    """r16: the semdedup verdict reads the centroid-cosine table three
    times (mine/theirs/final) and the pair set twice (sym union) — all
    four reads must come from reuse() pins. Regression signature: the
    centroids subtree (posexplode + positional means) planned LIVE,
    i.e. outside every InMemoryRelation."""
    p = plans("ext_dedup_semdedup")
    assert "InMemoryTableScan" in p
    live = p.split("InMemoryRelation")[0]
    assert "posexplode" not in live, "centroids re-evaluated outside the pin"


def test_decontamination_grams_pinned_once(plans):
    """r16: the exploded n-gram rows feed BOTH sides of the train ×
    holdout join; the md5 gram pass must run once into a pin, never
    once per side."""
    p = plans("ext_dedup_decontamination")
    assert "InMemoryTableScan" in p
    live = p.split("InMemoryRelation")[0]
    assert "md5" not in live, "gram digest pass re-evaluated outside the pin"


# --- r16: multi-consumer subtrees must stay pinned ---------------------------
#
# These queries read an expensive subtree from 2+ plan sites; without a
# reuse() pin the subtree re-evaluates once per site (broadcast
# conversion defeats ReusedExchange). Guards assert the pin exists and
# the scan/Python-stage inflation of the unpinned plan stays gone.
# (Counts are over the full plan text, which prints each cached
# relation's subtree twice — thresholds sit between the pinned and
# unpinned shapes.)

def test_bm25_rerank_truth_and_ranking_pinned(plans):
    """truth feeds 3 method branches, the BM25 ranking feeds 2 —
    unpinned, the plan re-derived the brute-force cosine pass per
    method and the whole BM25 scoring per consumer (14 live document
    scans / 8 live embeddings scans). With the pins the live plan
    (everything above the first cached relation) holds at most the
    lexical branch's scans."""
    p = plans("ext_search_bm25_rerank")
    assert "InMemoryTableScan" in p
    live = p.split("InMemoryRelation")[0]
    assert live.count("documents.parquet") <= 2
    assert live.count("embeddings.parquet") == 0


def test_rhp_signature_pass_pinned(plans):
    """The Arrow RHP signature pass feeds both self-join sides —
    unpinned, it ran once per side (8 live embeddings scans, 12 live
    Python stages)."""
    p = plans("ext_emb_rhp_lsh_neardup")
    assert "InMemoryTableScan" in p
    live = p.split("InMemoryRelation")[0]
    assert live.count("embeddings.parquet") == 0
    assert "ArrowEvalPython" not in live and "MapInPandas" not in live


def test_image_decontamination_fingerprints_pinned(plans):
    """The fused build_and_hash Python pass feeds both sides of the
    cross-split band join — unpinned it ran twice (4 live Python
    stages)."""
    import re

    p = plans("ext_multimodal_image_decontamination")
    assert "InMemoryTableScan" in p
    names = set(re.findall(r"MapInPandas (\w+)\(", p))
    assert names == {"build_and_hash"}
    live = p.split("InMemoryRelation")[0]
    assert "MapInPandas" not in live


def test_temperature_rate_table_pinned(plans):
    """The per-source count table feeds the total, weights, w_sum and
    cutoffs — unpinned, one rate table cost 5 corpus scans; pinned,
    the live plan holds only the final keep-filter's scan."""
    p = plans("ext_curation_temperature_mix")
    assert "InMemoryTableScan" in p
    live = p.split("InMemoryRelation")[0]
    assert live.count("documents.parquet") <= 1
