"""Semantic tests for the training-data extension operators
(dedup / similarity / text / multimodal) on planted fixtures —
the oracle gate checks sf0.01 parity; these check the *semantics*
on inputs with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.extensions import dedup as dd
from kafka_cdc_elasticsearch_pipeline_spark.extensions import multimodal as mm
from kafka_cdc_elasticsearch_pipeline_spark.extensions import similarity as sim
from kafka_cdc_elasticsearch_pipeline_spark.extensions import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
        (2, "The  quick Brown fox jumps over the lazy dog near the river bank", "en"),  # ws/case dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river bend", "en"),  # near-dup of 1
        (4, "der hund ist nicht mit der katze und das ist gut so heute", "de"),
        (5, "el gato no es un perro que vive por la casa de los abuelos", "es"),
        (6, "completely unrelated text about quantum chromodynamics lattice simulations", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_exact_dedup_groups_normalized_duplicates(spark, docs):
    out = dd.exact_dedup(docs).collect()
    by_keep = {r.keep_doc_id: r.n_dups for r in out}
    assert by_keep[1] == 2  # docs 1 and 2 normalize identically
    assert sum(by_keep.values()) == 6
    assert len(out) == 5


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dd.minhash_lsh_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0  # identical after normalization
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5  # one-word change
    assert all(6 not in p for p in pairs)  # unrelated doc never pairs


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dd.ngram_jaccard_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert all(6 not in p for p in pairs)


def test_ngram_df_cap_routes_hot_docs_without_losing_dups(spark):
    """df-cap recall contract: with a cap small enough that a
    templated corpus's shared shingles all go hot, (a) pairs that
    share a NON-hot prefix token are still found by the exact join,
    and (b) fully-templated duplicate pairs (whose every shared token
    is hot) are recovered via the MinHash fallback — identical docs
    collide in every LSH band, so exact duplicates can never be lost
    to the cap."""
    template = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, template) for i in range(1, 7)]  # 6 identical docs: df=6 > cap
    rows += [
        (10, "unique snow leopard prowls frozen ridge line at dawn quietly"),
        (11, "unique snow leopard prowls frozen ridge line at dusk quietly"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, df_cap=3).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, df_cap=None).collect()
    }
    # the near-dup pair shares rare (df=2) prefix tokens -> exact path
    assert capped[(10, 11)] == uncapped[(10, 11)] > 0.4
    # all 15 templated duplicate pairs recovered through the fallback
    assert all(capped[(a, b)] == 1.0 for a in range(1, 7) for b in range(a + 1, 7))
    assert capped == uncapped


def test_simhash_identical_docs_hamming_zero(spark, docs):
    sh = {r.doc_id: r.simhash for r in dd.simhash_table(docs).collect()}
    assert sh[1] == sh[2]
    assert all(0 <= v < (1 << 60) for v in sh.values())
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dd.simhash_pairs(docs).collect()}
    assert pairs[(1, 2)] == 0


@pytest.fixture(scope="module")
def vectors(spark):
    # Orthogonal-ish planted vectors: 0≈1 (same direction), 2 orthogonal,
    # 3 is 0 negated. Labels split {0,1} vs {2,3}.
    dim = 4
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0, 0.0], 1),
    ]
    assert all(len(r[1]) == dim for r in rows)
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")


def test_brute_force_topk_ordering(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    got = sim.brute_force_topk(vectors, queries, k=3).orderBy("rank").collect()
    assert [r.neighbor_id for r in got] == [1, 2, 3]  # cos ≈ 0.994, 0, -1
    assert got[0].cosine > 0.99
    assert got[-1].cosine == -1.0


def test_ivf_topk_probes_only_own_bucket(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("label").alias("q_label"),
    )
    got = sim.ivf_topk(vectors, queries, k=3).collect()
    assert [r.neighbor_id for r in got] == [1]  # only label-0 bucket probed


def test_centroids_positional_mean(spark, vectors):
    cents = {r.label: r.centroid for r in sim.centroids(vectors).collect()}
    assert cents[0] == [0.95, 0.05, 0.0, 0.0]
    assert cents[1] == [-0.5, 0.5, 0.0, 0.0]


def test_embedding_neardup_blocked_by_label(spark, vectors):
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in sim.embedding_neardup_pairs(vectors).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    # 2 vs 3 share a label but are orthogonal → below threshold; cross-label never scored
    assert (2, 3) not in pairs and (0, 3) not in pairs


def test_lang_id_on_marker_sentences(spark, docs):
    pred = {r.doc_id: r.lang_pred for r in tx.lang_id(docs).collect()}
    assert pred[1] == "en" and pred[4] == "de" and pred[5] == "es"
    assert pred[6] == "und"  # no marker words at all → undetermined


def test_quality_and_tokens(spark, docs):
    q = {r.doc_id: r for r in tx.quality_score(docs).collect()}
    assert q[1].n_words == 13 and q[1].punct_ratio == 0.0
    assert 0.0 <= q[1].quality <= 1.0
    t = {r.doc_id: r for r in tx.token_counts(docs).collect()}
    assert t[1].ws_tokens == 13
    assert t[1].bpe_ish_tokens == 13  # pure words, no digits/punct
    assert t[1].est_llm_tokens == (q[1].n_chars + 3) // 4


def test_fingerprints_normalization(spark, docs):
    fp = {r.doc_id: r for r in tx.fingerprints(docs).collect()}
    assert fp[1].md5_fp == fp[2].md5_fp  # case/ws-insensitive
    assert fp[1].poly_fp == fp[2].poly_fp
    assert fp[1].md5_fp != fp[3].md5_fp


def test_multimodal_decode_contract(spark, docs):
    decoded = mm.decode_image_metadata(mm.attach_payload(docs))
    assert decoded.schema.simpleString() == (
        "struct<doc_id:bigint,byte_len:int,width:int,height:int,mode:string,decoder:string>"
    )
    rows = {r.doc_id: r for r in decoded.collect()}
    assert len(rows) == 6
    r = rows[1]
    assert r.byte_len == 63
    assert r.width == 64 + 63 % 577 and r.height == 64 + (63 * 31) % 433
    assert r.decoder == "fake-deterministic"


def test_image_neardup_finds_planted_pairs_via_real_decode(spark):
    """The aHash near-dup chain on 100 synthetic docs: every planted
    near-duplicate (doc_id % 50 == 1, two pixels shifted) pairs with
    its predecessor at small Hamming distance; the fingerprints come
    from REALLY decoded PNGs, pinned by cross-checking one fingerprint
    against the closed-form pixel formula."""
    import numpy as np

    docs = spark.createDataFrame(
        [(i,) for i in range(100)], "doc_id bigint"
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in mm.image_neardup_pairs(docs).collect()}
    for d in (1, 51):
        assert (d - 1, d) in pairs and pairs[(d - 1, d)] <= 3
    # fingerprint cross-check: doc 7's hash equals the formula's
    got = {
        r.doc_id: r.ahash
        for r in mm.image_ahash(mm.attach_texture_png_payload(docs)).collect()
    }
    y, x = np.mgrid[0:16, 0:16]
    p = (x + 16 * y).astype(np.int64)
    seed = 7
    px = ((seed % 239 + 1) * p * p + (seed % 251 + 3) * p + seed % 241) % 256
    cells = px.reshape(8, 2, 8, 2).sum(axis=(1, 3))
    want = "".join(
        "1" if b else "0" for b in (cells * 64 > px.sum()).ravel()
    )
    assert got[7] == want


def test_audio_neardup_finds_planted_pairs_via_real_decode(spark):
    """The audio fingerprint chain on 100 synthetic docs: planted
    near-dup clips (two samples shifted) pair with their predecessor
    at small Hamming; one fingerprint cross-checked against the
    closed-form sample formula."""
    import numpy as np

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import audio

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id bigint")
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in audio.audio_neardup_pairs(docs).collect()}
    for d in (1, 51):
        assert (d - 1, d) in pairs and pairs[(d - 1, d)] <= 3
    got = {
        r.doc_id: r.fp
        for r in audio.audio_energy_fingerprint(
            audio.attach_texture_wav_payload(docs)
        ).collect()
    }
    t = np.arange(256, dtype=np.int64)
    seed = 7
    s = ((seed % 239 + 1) * t * t + (seed % 251 + 3) * t + seed % 241) % 2048 - 1024
    e = (s * s).reshape(64, 4).sum(axis=1)
    want = "".join("1" if b else "0" for b in (e * 64 > e.sum()))
    assert got[7] == want


def test_fingerprint_guards_reject_degenerate_inputs(spark):
    """Sub-grid media must fail loudly, not hash to all-zeros (where
    every degenerate payload 'matches' every other): images <8x8 and
    clips <64 samples raise; bad TTL duration strings raise."""
    import numpy as np
    import pytest

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import audio
    from kafka_cdc_elasticsearch_pipeline_spark.extensions.png import png_encode
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.stateful import _duration_ms

    tiny_img = spark.createDataFrame(
        [(1, bytearray(png_encode(np.zeros((4, 4), dtype=np.uint8))))],
        "doc_id bigint, payload binary",
    )
    with pytest.raises(Exception, match="8.8|8×8"):
        mm.image_ahash(tiny_img).collect()
    tiny_wav = spark.createDataFrame(
        [(1, bytearray(audio.wav_encode(np.zeros(16, dtype=np.int16), 8000)))],
        "doc_id bigint, payload binary",
    )
    with pytest.raises(Exception, match="64 samples"):
        audio.audio_energy_fingerprint(tiny_wav).collect()
    with pytest.raises(ValueError, match="unsupported duration"):
        _duration_ms("5 fortnights")
    with pytest.raises(ValueError, match="unsupported duration"):
        _duration_ms("soon")


def test_curation_multimodal_stage_precedence(spark):
    """The 6-stage pipeline's image stage: docs whose synthetic image
    is a planted near-dup (doc_id % 50 == 1) get reason image_dup —
    unless an earlier text stage already dropped them — and verdict
    reasons stay a partition of the corpus."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions.curation import curate

    rows = []
    for i in range(100):
        tag = "".join(chr(97 + int(d)) for d in str(i))  # letters only
        body = " ".join(f"{tag}{c}{tag}" for c in "abcdefghijkl")
        text = f"{body} the and of this that keeps quality rules happy"
        if i == 3:
            text = rows[2][2]  # exact text dup: stage 1 must win
        rows.append((i, f"s{i % 4}", text))
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = {r.doc_id: r for r in curate(
        docs, rates={}, default_rate=1.0, image_neardup=True
    ).collect()}
    assert len(out) == 100
    assert out[1].reason == "image_dup" and not out[1].kept
    assert out[51].reason == "image_dup"
    assert out[3].reason == "exact_dup"  # text stage outranks image
    assert out[0].kept and out[50].kept  # keep-lowest-id side survives
    assert {r.reason for r in out.values()} <= {
        "exact_dup", "near_dup", "image_dup", "low_quality",
        "sampled_out", "kept",
    }


def test_frame_sample_explode(spark, docs):
    decoded = mm.decode_image_metadata(mm.attach_payload(docs))
    frames = mm.frame_sample(decoded, every_nth=10)
    got = frames.filter(F.col("doc_id") == 1).orderBy("frame_idx").collect()
    # byte_len 63 → frames 0..63 step 10
    assert [r.frame_idx for r in got] == [0, 10, 20, 30, 40, 50, 60]


def test_pii_scrub_counts_and_redaction(spark):
    docs = spark.createDataFrame(
        [
            (1, "contact me at alice@example.com or https://example.com/x?q=1 ref 123456"),
            (2, "no pii here at all"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in tx.pii_scrub(docs).collect()}
    assert out[1].n_emails == 1 and out[1].n_urls == 1 and out[1].n_long_nums == 1
    assert out[2].n_emails == 0 and out[2].n_urls == 0 and out[2].n_long_nums == 0
    assert out[2].scrubbed_len == len("no pii here at all")


def test_centroid_assignment_recovers_clusters(spark, vectors):
    cents = sim.centroids(vectors)
    got = {r.vec_id: r for r in sim.assign_centroids(vectors, cents).collect()}
    # vec 0 and 1 point along +x -> label-0 centroid (0.95, 0.05, ...)
    assert got[0].assigned_label == 0 and got[1].assigned_label == 0
    # vec 3 = -x: closer (cosine) to the label-1 centroid (-0.5, 0.5)
    assert got[3].assigned_label == 1


def test_connected_components_chain_and_singleton(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a bigint, doc_b bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], "doc_id bigint")
    got = {r.doc_id: r.component_id for r in dd.connected_components(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 9: 7}


def test_chunking_overlap_and_tail(spark):
    text = " ".join(f"w{i}" for i in range(1, 36))  # 35 words
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    got = {r.chunk_idx: r for r in tx.chunk_documents(docs, chunk_size=20, stride=15).collect()}
    assert sorted(got) == [0, 1, 2]
    assert got[0].chunk_text.startswith("w1 w2") and got[0].n_words == 20
    assert got[1].chunk_text.startswith("w16")  # 5-word overlap with chunk 0
    assert got[2].n_words == 5  # tail chunk: words 31..35


def test_ivf_nprobe_widens_recall(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    cents = sim.centroids(vectors)
    n1 = {r.neighbor_id for r in sim.ivf_topk_nprobe(vectors, queries, cents, nprobe=1).collect()}
    n2 = {r.neighbor_id for r in sim.ivf_topk_nprobe(vectors, queries, cents, nprobe=2).collect()}
    assert n1 <= n2  # more probes never lose neighbors
    assert n1 == {1}  # own bucket only
    assert n2 == {1, 2, 3}  # both buckets -> full corpus here


def test_ivf_recall_curve_monotone_and_bounded(spark, sf_dir):
    """The recall gate row's structural invariants: hits@10 ∈ [0, 10],
    every (query, nprobe) pair present, and per-query recall
    non-decreasing in nprobe (more probes never lose true
    neighbors)."""
    from kafka_cdc_elasticsearch_pipeline_spark.queries import QUERIES

    rows = QUERIES["ext_sim_ivf_recall"].spark(spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        assert 0 <= r.hits_at_10 <= 10
        by_q.setdefault(r.query_id, {})[r.nprobe] = r.hits_at_10
    assert len(by_q) == 5
    for q, curve in by_q.items():
        assert sorted(curve) == [1, 2, 4]
        assert curve[1] <= curve[2] <= curve[4], f"recall regressed for {q}"


def test_train_holdout_split_stable_and_partitioned(spark, docs):
    s1 = {r.doc_id: (r.bucket, r.split) for r in tx.train_holdout_split(docs).collect()}
    s2 = {r.doc_id: (r.bucket, r.split) for r in tx.train_holdout_split(docs).collect()}
    assert s1 == s2  # rerun-stable
    assert all(0 <= b < 100 for b, _ in s1.values())
    assert all(s == ("train" if b < 80 else "holdout") for b, s in s1.values())


def test_vocab_topk_counts_and_order(spark, docs):
    got = tx.vocab_top_shingles(docs, k=20).collect()
    assert len(got) == 20
    freqs = [r.doc_freq for r in got]
    assert freqs == sorted(freqs, reverse=True)
    # "the quick brown" appears in docs 1, 2 (normalized) and 3
    top = {r.shingle: r.doc_freq for r in got}
    assert top.get("the quick brown") == 3


def test_feature_histogram_sums_to_length(spark, docs):
    feats = {r.doc_id: r.hist for r in mm.extract_features(mm.attach_payload(docs)).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for did, hist in feats.items():
        assert len(hist) == 16
        assert sum(hist) == len(texts[did].encode())
    # 'a'-'o' (0x61-0x6f) land in bin 6: lowercase-heavy docs dominate there
    assert feats[1][6] > 0


def test_resize_metadata_half_scale(spark, docs):
    decoded = mm.decode_image_metadata(mm.attach_payload(docs))
    out = {r.doc_id: r for r in mm.resize_metadata(decoded).collect()}
    for r in out.values():
        assert r.out_width == -(-r.width // 2) and r.out_height == -(-r.height // 2)


def test_repetition_detects_duplicated_ngrams(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),
            (2, "each word here is different from every other one"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in tx.repetition_stats(docs).collect()}
    assert out[1].dup_shingle_ratio > 0.8  # "spam spam spam" repeated
    assert out[2].dup_shingle_ratio == 0.0
    assert out[2].dup_word_ratio == 0.0


def test_gopher_rules_flags(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog are in the old house near the big green tree today"),
            (2, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in tx.gopher_rules(docs).collect()}
    assert out[1].keep  # normal English sentence passes all rules
    assert not out[2].ok_repetition and not out[2].keep


def test_video_neardup_finds_planted_pairs_via_real_decode(spark):
    """The video chain on 100 synthetic docs: every planted near-dup
    video (doc_id % 50 == 1: same frame stream, frame 0 edited) pairs
    with its predecessor through REAL container walk + frame PNG
    decode + majority aHash, and no cross-content false pair
    appears."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import video as vid

    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in vid.video_neardup_pairs(docs).collect()}
    planted = {(d - 1, d) for d in range(100) if d % 50 == 1 and d > 0}
    assert planted <= set(pairs), (planted, set(pairs))
    # the edit touches one frame of >=4 sampled: majority bits barely
    # move, so planted pairs sit well inside the Hamming budget
    assert all(pairs[p] <= 3 for p in planted)
    # distinct-content videos must not collide
    assert all((a, b) in planted or b - a == 1 for (a, b) in pairs), pairs


def test_mp4_frame_roundtrip_and_truncation_fails_loudly(spark):
    """mdat frame extraction: length-prefixed frames round-trip, and a
    truncated stream raises instead of yielding garbage frames."""
    import struct

    import pytest as _pytest

    from kafka_cdc_elasticsearch_pipeline_spark.extensions import video as vid

    head = vid.mp4_build_minimal(1000, 400, 16, 16)
    frames = [b"abc", b"defgh", b""]
    mdat = b"".join(struct.pack(">I", len(f)) + f for f in frames)
    data = head + vid._box(b"mdat", mdat)
    assert vid.mp4_extract_frames(data) == frames
    with _pytest.raises(ValueError, match="truncated"):
        vid.mp4_extract_frames(head + vid._box(b"mdat", mdat[:-2]))


def test_cross_modal_union_flags_planted_media_pairs(spark, sf_dir):
    """The cross-modal verdict table: every planted media near-dup
    pair (doc_id % 50 == 1 with its predecessor) must be flagged by
    ALL THREE media modalities at once (image + audio + video share
    the planting), and each row's n_modalities must equal the sum of
    its flags."""
    from kafka_cdc_elasticsearch_pipeline_spark.queries import QUERIES

    rows = QUERIES["ext_dedup_cross_modal"].spark(spark, sf_dir).collect()
    by_pair = {(r.doc_a, r.doc_b): r for r in rows}
    n_docs = 500
    planted = [(d - 1, d) for d in range(1, n_docs) if d % 50 == 1]
    assert planted
    for p in planted:
        r = by_pair[p]
        assert (r.in_image, r.in_audio, r.in_video) == (1, 1, 1), (p, r)
    for r in rows:
        assert r.n_modalities == r.in_text + r.in_image + r.in_audio + r.in_video


def test_decontamination_finds_planted_overlap(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "xx alpha beta gamma delta epsilon zeta eta theta yy"),  # shares 8-gram with 1
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id bigint, text string",
    )
    split = spark.createDataFrame(
        [(1, "holdout"), (2, "train"), (3, "train")], "doc_id bigint, split string"
    )
    got = {(r.train_doc_id, r.eval_doc_id) for r in dd.decontamination_flags(docs, split).collect()}
    assert got == {(2, 1)}  # doc 3 shares nothing with the eval doc


def test_stratified_sample_rates_and_determinism(spark):
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions.sampling import (
        stratified_sample,
    )

    sdocs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    rates = {"src0": 0.0, "src1": 1.0}
    out = stratified_sample(sdocs, "source", "doc_id", rates, default_rate=0.5)
    by_src = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    assert by_src.get("src0", 0) == 0  # rate 0 drops everything
    assert by_src.get("src1", 0) == 100  # rate 1 keeps everything
    assert 20 <= by_src.get("src2", 0) <= 80  # ~50% of 100
    # deterministic: second run returns the identical id set
    ids1 = {r.doc_id for r in out.select("doc_id").collect()}
    ids2 = {r.doc_id for r in out.select("doc_id").collect()}
    assert ids1 == ids2


def test_quantize_int8_bounds_and_reconstruction(spark, vectors):
    out = sim.quantize_int8(vectors).collect()
    assert len(out) > 0
    for r in out:
        codes = [int(c) for c in r.q8.split(",")]
        assert all(-127 <= c <= 127 for c in codes)
        assert r.mse < (r.scale**2) / 4 + 1e-12  # error <= (scale/2)^2 per dim


def test_rhp_lsh_subset_of_bruteforce_neardups(spark, vectors):
    """Every RHP-LSH pair must be a true near-dup (verified exact
    cosine) — LSH trades recall, never precision."""
    lsh = {
        (r.vec_a, r.vec_b): r.cosine
        for r in sim.rhp_lsh_neardup(vectors, threshold=0.2).collect()
    }
    brute = {
        (r.vec_a, r.vec_b): r.cosine
        for r in sim.embedding_neardup_pairs(vectors, threshold=0.2).collect()
    }
    # brute is IVF-blocked (same-label pairs only); LSH is label-free, so
    # compare only on pairs brute can see
    for pair, cos in lsh.items():
        if pair in brute:
            assert abs(brute[pair] - cos) < 1e-9
    assert all(c >= 0.2 for c in lsh.values())


def test_tfidf_rare_term_outranks_common(spark):
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import text as tx2

    docs = spark.createDataFrame(
        [
            (1, "common common zebra zebra"),
            (2, "common words here again"),
            (3, "more common words too"),
        ],
        "doc_id bigint, text string",
    )
    top = tx2.tfidf_top_terms(docs, k=1).collect()
    doc1 = next(r for r in top if r.doc_id == 1)
    # zebra: tf=2, df=1 -> 2*3/1 = 6; common: tf=2, df=3 -> 2*3/3 = 2
    assert doc1.term == "zebra" and doc1.tfidf == 6.0


def test_simhash_arrow_equals_catalyst_spec(spark, docs):
    """The Arrow-vectorized simhash (hot path) must produce the exact
    integer signature of the Catalyst expression in textops.simhash60
    (the executable spec the DuckDB oracle mirrors), doc for doc —
    including empty/degenerate word lists."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions.textops import (
        simhash60,
        spread,
        word_hashes60,
        words,
    )

    extra = spark.createDataFrame(
        [(100, ""), (101, "one"), (102, "x " * 200)], "doc_id bigint, text string"
    )
    sample = docs.select("doc_id", "text").unionByName(extra)
    hashed = (
        spread(sample)
        .select("doc_id", words("text").alias("w"))
        .select("doc_id", word_hashes60("w").alias("hs"))
    )
    spec = {r.doc_id: r.s for r in hashed.select("doc_id", simhash60("hs").alias("s")).collect()}
    got = {r.doc_id: r.simhash for r in dd.simhash_table(sample).collect()}
    assert got == spec


def test_rhp_signature_arrow_equals_catalyst_spec(spark):
    """The Arrow RHP signature (hot path) must equal the Catalyst
    fold in similarity.rhp_signature bit for bit — the strict
    left-fold (cumsum) ordering matters: pairwise summation could flip
    sign bits for dots near zero."""
    import numpy as np
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions.similarity import (
        _rhp_signature_arrow,
        rhp_planes,
        rhp_signature,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 64).astype(np.float32)])
            for i in range(200)]
    # near-zero-dot stressor: tiny vectors whose partial sums hover at 0
    rows += [(1000 + i, [((-1.0) ** j) * 1e-7 for j in range(64)]) for i in range(5)]
    # dim-mismatch: zip_with null-pads -> fold poisoned -> signature 0
    rows += [(2000, [1.0, -2.0, 3.0, -4.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    planes = rhp_planes(bits=32)
    spec = {
        r.vec_id: r.s
        for r in df.select(
            "vec_id", rhp_signature("embedding", planes).alias("s")
        ).collect()
    }
    got = {
        r.vec_id: r.s
        for r in df.select(
            "vec_id", _rhp_signature_arrow(planes)(F.col("embedding")).alias("s")
        ).collect()
    }
    assert got == spec


def test_containment_finds_embedded_doc_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: containment
    1.0 even though Jaccard is far below any dedup threshold — and the
    direction is (contained -> container), never reversed."""
    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"filler{i:03d} word{i:03d} token{i:03d}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, quote),
            (2, filler + " " + quote + " " + filler),
            (3, "entirely different content about lattice quantum chromodynamics"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r.contained, r.container): r.containment
        for r in dd.containment_pairs(docs, threshold=0.8).collect()
    }
    assert got[(1, 2)] == 1.0
    assert (2, 1) not in got  # the big doc is not contained in the quote
    assert all(3 not in p for p in got)
    jacc = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.05).collect()
    }
    assert jacc.get((1, 2), 0.0) < 0.2  # Jaccard can't see it


def test_minhash_cross_corpus_directed_and_no_self_pairs(spark):
    """Cross-corpus dedup only pairs NEW docs against CORPUS docs —
    near-dups WITHIN either side never surface (that is the self-join's
    job, already paid for the corpus), and exact duplicates across the
    boundary always collide."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    corpus = spark.createDataFrame(
        [(2, base), (4, base)],  # internal corpus dup: must NOT pair
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(1, base), (3, "completely unrelated text about lattice gauge theory today")],
        "doc_id bigint, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.minhash_cross_pairs(new, corpus).collect()
    }
    assert got[(1, 2)] == 1.0 and got[(1, 4)] == 1.0
    assert (2, 4) not in got and (4, 2) not in got  # corpus-internal
    assert all(p[0] in (1, 3) and p[1] in (2, 4) for p in got)
    assert not any(p[0] == 3 for p in got)  # unrelated new doc pairs nothing


# --- product quantization ----------------------------------------------------


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_pq_codebook_shape(spark, embs):
    cb = sim.pq_codebook(embs).collect()
    assert len(cb) == sim.PQ_M * sim.PQ_KS
    assert all(len(r.sub) == sim.EMB_DIM // sim.PQ_M for r in cb)
    assert {r.m for r in cb} == set(range(sim.PQ_M))
    assert {r.code for r in cb} == set(range(sim.PQ_KS))


def test_semdedup_keeps_least_prototypical(spark):
    """The SemDeDup keep policy on a crafted cluster: two near-identical
    vectors plus one outlier. The near-dup pair member MORE similar to
    the centroid is dropped; the other member and the outlier are
    kept."""
    import numpy as np

    def vec(*head):
        v = np.zeros(sim.EMB_DIM, dtype=float)
        v[: len(head)] = head
        return [float(x) for x in v]

    rows = [
        (0, vec(1.0, 0.0), 7),        # near-dup pair member
        (1, vec(0.98, 0.02), 7),      # near-dup pair member
        (2, vec(0.0, 1.0), 7),        # outlier, dissimilar to both
    ]
    embs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label bigint"
    )
    out = {r.vec_id: r for r in sim.semdedup(embs, threshold=0.9).collect()}
    assert len(out) == 3
    assert out[2].kept  # the outlier never pairs above threshold
    pair = [out[0], out[1]]
    kept = [r for r in pair if r.kept]
    dropped = [r for r in pair if not r.kept]
    assert len(kept) == 1 and len(dropped) == 1
    # the dropped one is the MORE prototypical (higher centroid cosine)
    assert dropped[0].centroid_cosine >= kept[0].centroid_cosine


def test_semdedup_cap_bounds_planted_skewed_label(spark):
    """The cluster-size cap under WORST-CASE skew — every vector in ONE
    coarse label (the scenario where 'label-blocked' stops bounding
    anything). With 120 vectors and cap 10, candidate volume must drop
    from C(120,2)=7140 to exactly 12 blocks × C(10,2)=540 — linear in
    cluster size — while the verdict still covers every vector and a
    planted near-identical pair (adjacent centroid-cosine ranks →
    same block) is still caught and deduped."""
    import math

    n, cap = 120, 10
    rows = []
    for i in range(n):
        theta = i * 0.01
        rows.append(
            (i, [math.cos(theta), math.sin(theta), 0.0, 0.0], 0)
        )
    # planted near-dup: vec 120 ≈ vec 0 (tiny angle off) — same label,
    # near-equal centroid cosine → adjacent ranks → same block
    embs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label bigint"
    )

    # candidate volume: threshold -1 keeps EVERY candidate pair
    uncapped = sim.embedding_neardup_pairs(embs, threshold=-1.0).count()
    capped = sim.embedding_neardup_pairs_capped(
        embs, threshold=-1.0, max_cluster_size=cap
    ).count()
    assert uncapped == n * (n - 1) // 2  # 7140: the O(n²) cliff
    assert capped == (n // cap) * cap * (cap - 1) // 2  # 540: bounded

    # the verdict still covers every vector; the cap's only effect is
    # MISSING some cross-block pairs, so its drop set is a subset of
    # the uncapped drop set (kept_uncapped ⊆ kept_capped) — and real
    # dedup still happens (near-identical angle neighbors share a
    # centroid-cosine neighborhood, hence usually a block)
    capped_v = {
        r.vec_id: r.kept
        for r in sim.semdedup(embs, threshold=0.999, max_cluster_size=cap).collect()
    }
    uncapped_v = {
        r.vec_id: r.kept for r in sim.semdedup(embs, threshold=0.999).collect()
    }
    assert len(capped_v) == n
    assert sum(1 for k in capped_v.values() if not k) > 0  # still dedupes
    assert all(capped_v[v] for v, k in uncapped_v.items() if k)  # monotone


def test_cap_cluster_sizes_noop_below_cap_and_validates(spark):
    """Labels at-or-under the cap stay whole (sub == 0 for all), and a
    nonsensical cap fails loudly instead of silently degenerating."""
    rows = [(i, [1.0, float(i), 0.0, 0.0], i % 2) for i in range(6)]
    embs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label bigint"
    )
    out = sim.cap_cluster_sizes(embs, 3).collect()
    assert len(out) == 6 and all(r.sub == 0 for r in out)
    with pytest.raises(ValueError, match="max_size"):
        sim.cap_cluster_sizes(embs, 0)


def test_semdedup_threshold_curve_is_monotone(spark, embs):
    """Looser cosine thresholds can only drop MORE documents."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.caching import reuse

    pairs = reuse(sim.embedding_neardup_pairs(embs, threshold=0.3))
    dropped = {}
    for thr in (0.3, 0.4, 0.5):
        v = sim.semdedup_from_pairs(
            embs, pairs.filter(F.col("cosine") >= thr)
        )
        dropped[thr] = v.filter(~F.col("kept")).count()
    assert dropped[0.3] >= dropped[0.4] >= dropped[0.5]
    assert dropped[0.3] > 0


def test_pq_refinement_distortion_is_nonincreasing(spark, embs):
    """Lloyd's guarantee: each refinement iteration can only lower the
    total quantization distortion (ties allowed if assignment is
    already a fixed point)."""
    rows = sim.pq_refinement_distortion(embs, iterations=3).collect()
    by_iter = {r.iteration: r.total_distortion for r in rows}
    assert sorted(by_iter) == [0, 1, 2, 3]
    for i in range(3):
        assert by_iter[i + 1] <= by_iter[i], by_iter
    assert by_iter[3] < by_iter[0]  # some progress over 3 iterations


def test_pq_refined_codebook_shape_and_fallback(spark, embs):
    """Refined codebooks keep the (m, code) grid intact: every
    subspace still has all ks entries (empty codes fall back to the
    previous entry instead of vanishing)."""
    cb = sim.pq_codebook_refined(embs, iterations=2).collect()
    assert len(cb) == sim.PQ_M * sim.PQ_KS
    assert all(len(r.sub) == sim.EMB_DIM // sim.PQ_M for r in cb)


def test_pq_rejects_nondivisor_m(spark, embs):
    # r05 advice item: m that does not divide EMB_DIM used to silently
    # truncate codes/reconstruction and NULL out ADC scores.
    import pytest

    for bad_m in (3, 7, 0, -2):
        with pytest.raises(ValueError, match="divide"):
            sim.pq_codebook(embs, m=bad_m)
        with pytest.raises(ValueError, match="divide"):
            sim.pq_encode(embs, sim.pq_codebook(embs), m=bad_m)


def test_pq_self_encoding_is_lossless(spark, embs):
    """Sampled codebook vectors reconstruct EXACTLY: their own
    subvectors sit in the codebook at distance 0 (a tie only happens on
    an identical subvector, which reconstructs identically anyway)."""
    cb = sim.pq_codebook(embs)
    recon = sim.pq_reconstruct(sim.pq_encode(embs, cb), cb)
    joined = (
        recon.filter(F.col("vec_id") < sim.PQ_KS)
        .join(embs.select("vec_id", "embedding"), "vec_id")
        .collect()
    )
    assert len(joined) == sim.PQ_KS
    for r in joined:
        assert list(r.recon) == list(r.embedding)


def test_pq_codes_table_is_m_codes_per_vector(spark, embs):
    rows = sim.pq_codes_table(embs).collect()
    assert len(rows) == embs.count()
    for r in rows[:50]:
        codes = [int(c) for c in r.pq_codes.split(",")]
        assert len(codes) == sim.PQ_M
        assert all(0 <= c < sim.PQ_KS for c in codes)


def test_pq_adc_topk_bounds_and_determinism(spark, embs):
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    a = sim.pq_adc_topk(embs, queries).collect()
    b = sim.pq_adc_topk(embs, queries).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_q = {}
    for r in a:
        per_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
    assert all(len(v) == sim.TOPK for v in per_q.values())


# --- substring-span dedup ----------------------------------------------------


def test_substring_span_dedup_removes_shared_span_from_non_keeper(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words
    rows = [
        (1, f"intro one {shared} outro one"),
        (2, f"other beginning {shared} different ending here"),
        (3, "totally unrelated text with fewer than eight shared words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in dd.substring_span_dedup(docs).collect()}

    # keeper (lowest doc_id) keeps the span intact
    assert got[1].n_removed == 0
    assert got[1].cleaned_text == rows[0][1].lower()
    # non-keeper loses exactly the 8 shared tokens
    assert got[2].n_removed == 8
    assert got[2].cleaned_text == "other beginning different ending here"
    # untouched doc round-trips
    assert got[3].n_removed == 0
    assert got[3].cleaned_text == rows[2][1].lower()
    assert got[3].n_tokens == 9


def test_substring_span_dedup_overlapping_spans_merge(spark):
    # 10 shared words => three overlapping dup 8-grams in doc 2; the
    # covered set must merge to exactly 10 removed tokens, not 24.
    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [(1, f"keeper text {shared}"), (2, f"{shared} trailing words")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in dd.substring_span_dedup(docs).collect()}
    assert got[2].n_removed == 10
    assert got[2].cleaned_text == "trailing words"


def test_substring_span_dedup_ignores_within_doc_repeats(spark):
    span = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame(
        [(1, f"{span} middle {span}"), (2, "nothing in common with that")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in dd.substring_span_dedup(docs).collect()}
    # the repeat is intra-doc only: nd counts distinct docs, nothing removed
    assert got[1].n_removed == 0
    assert got[1].n_tokens == 17


def test_ivfpq_full_probe_equals_adc_bruteforce(spark, embs):
    """nprobe = n_clusters degenerates IVF-PQ to plain ADC brute force
    — the composed index's bucket stage must add no other effect."""
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    cents = sim.centroids(embs)
    n_clusters = cents.count()
    full = sim.ivfpq_topk(embs, queries, cents, nprobe=n_clusters).collect()
    adc = sim.pq_adc_topk(embs, queries).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, adc))


def test_ivfpq_probe_restricts_candidates(spark, embs):
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    got = sim.ivfpq_topk(embs, queries, sim.centroids(embs), nprobe=1).collect()
    labels = {r.vec_id: r.label for r in embs.select("vec_id", "label").collect()}
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, set()).add(labels[r.neighbor_id])
    # with nprobe=1 every neighbor comes from ONE bucket per query
    assert all(len(ls) == 1 for ls in per_q.values())


def test_index_persist_roundtrip_equals_in_memory(spark, sf_dir):
    """The lake-persisted PQ index must answer identically to the
    in-memory build: same codebook, same codes, same ADC ranking —
    parquet serialization of the float32 subvector arrays is
    bit-exact."""
    from kafka_cdc_elasticsearch_pipeline_spark.queries import QUERIES

    persisted = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in QUERIES["ext_sim_index_persist_roundtrip"].spark(spark, sf_dir).collect()
    }
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    embs2 = load_table(spark, sf_dir, "embeddings")
    queries = embs2.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    mem = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in sim.pq_adc_topk(embs2, queries, k=10).collect()
    }
    assert persisted == mem


def test_pq_residual_distortion_residual_never_worse(spark, embs):
    """Residual encoding quantizes vec − coarse-centroid: the residual
    corpus has ≤ the raw corpus's variance (centroids explain the
    between-cluster part), so at the same bit budget its total
    distortion must be ≤ raw — at iteration 0 AND after a Lloyd step.
    On this near-isotropic fixture the margin is small (~2%), which is
    exactly what the operator's docstring claims; the ORDERING is the
    invariant."""
    rows = sim.pq_residual_distortion(embs, iterations=1).collect()
    tot = {(r.variant, r.iteration): r.total_distortion for r in rows}
    assert len(tot) == 4
    for it in (0, 1):
        assert tot[("residual", it)] <= tot[("raw", it)], (it, tot)


def test_ivfpq_residual_returns_valid_ranked_topk(spark, embs):
    """The composed residual path (encode residuals, add the centroid
    back at scoring) must produce the same ranked-output contract as
    the raw path: k rows per query, ranks 1..k, neighbors drawn from
    the probed buckets only."""
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    cents = sim.centroids(embs)
    got = sim.ivfpq_topk(embs, queries, cents, nprobe=2, residual=True).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert len(per_q) == 3
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    labels = {r.vec_id: r.label for r in embs.select("vec_id", "label").collect()}
    probed = {}
    for r in got:
        probed.setdefault(r.query_id, set()).add(labels[r.neighbor_id])
    assert all(len(ls) <= 2 for ls in probed.values())


def test_target_overlap_selection_splits_and_bounds(spark, sf_dir):
    """Target-domain selection must produce a real split (both kept
    and dropped docs), exclude the target source itself, and keep
    hits <= bigrams with overlap = hits/bigrams exactly."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions.curation import (
        target_overlap_scores,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = target_overlap_scores(docs, target_source="src0").collect()
    target_ids = {
        r.doc_id for r in docs.filter(F.col("source") == "src0").collect()
    }
    assert target_ids.isdisjoint({r.doc_id for r in out})
    assert any(r.selected for r in out) and any(not r.selected for r in out)
    for r in out:
        assert 0 <= r.n_hits <= r.n_bigrams
        assert abs(r.target_overlap - round(r.n_hits / r.n_bigrams, 6)) < 1e-9


def test_target_overlap_bloom_path_is_conservative(spark, sf_dir):
    """The Bloom scale path may only INFLATE overlap (false positives
    add hits, never remove them): per-doc bloom hits >= exact hits,
    so bloom-selected ⊇ exact-selected — the conservative direction
    for selection."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions.curation import (
        target_overlap_scores,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {r.doc_id: r for r in target_overlap_scores(docs).collect()}
    bloom = {
        r.doc_id: r
        for r in target_overlap_scores(docs, use_bloom=True).collect()
    }
    assert set(bloom) == set(exact)
    for d, b in bloom.items():
        e = exact[d]
        assert b.n_bigrams == e.n_bigrams
        assert b.n_hits >= e.n_hits
        if e.selected:
            assert b.selected


# --- temperature source mixing ----------------------------------------------


def test_temperature_resample_flattens_skew(spark):
    from kafka_cdc_elasticsearch_pipeline_spark.extensions.sampling import (
        temperature_resample,
    )

    # two sources, 10:1 skew
    rows = [(i, "big" if i < 1000 else "small") for i in range(1100)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    kept = temperature_resample(df, "source", "doc_id", alpha=0.5,
                                budget_frac=0.5).collect()
    by_src = {}
    for r in kept:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    # alpha=0.5: w_big=sqrt(10/11), w_small=sqrt(1/11); budget 550.
    # big target ≈ 550*0.76=418 of 1000 (rate .42); small ≈ 132 of 100
    # -> capped at keeping ALL 100.
    assert by_src["small"] == 100  # rate capped at 1: everything kept
    assert 0.35 <= by_src["big"] / 1000 <= 0.49  # ~0.42 ± hash noise
    # alpha=1 is proportional sampling: both sources keep ~budget_frac
    kept1 = temperature_resample(df, "source", "doc_id", alpha=1.0,
                                 budget_frac=0.5).collect()
    by1 = {}
    for r in kept1:
        by1[r.source] = by1.get(r.source, 0) + 1
    assert 0.42 <= by1["big"] / 1000 <= 0.58
    assert 0.38 <= by1["small"] / 100 <= 0.62


def test_temperature_resample_is_deterministic_and_validates_alpha(spark):
    from kafka_cdc_elasticsearch_pipeline_spark.extensions.sampling import (
        temperature_resample,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "doc_id bigint, source string"
    )
    a = sorted(r.doc_id for r in
               temperature_resample(df, "source", "doc_id").collect())
    b = sorted(r.doc_id for r in
               temperature_resample(df, "source", "doc_id").collect())
    assert a == b and len(a) > 0
    with pytest.raises(ValueError, match="alpha"):
        temperature_resample(df, "source", "doc_id", alpha=0.7)


def test_temperature_resample_survives_caller_cutoff_column(spark):
    # r05 advice item: internal rate-table columns must not collide
    # with caller columns — a pre-existing `cutoff` column used to make
    # the post-join filter ambiguous at analysis time.
    from kafka_cdc_elasticsearch_pipeline_spark.extensions.sampling import (
        temperature_resample,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", i * 10) for i in range(300)],
        "doc_id bigint, source string, cutoff bigint",
    )
    kept = temperature_resample(df, "source", "doc_id").collect()
    assert len(kept) > 0
    assert {c for c in df.columns} == set(kept[0].asDict())  # cutoff preserved
    with pytest.raises(ValueError, match="reserved"):
        temperature_resample(
            df.withColumnRenamed("cutoff", "__tr_cutoff"), "source", "doc_id"
        )


# --- round-7 second wave: canonical keepers, LM scoring, corpus audit --------


def test_cluster_canonical_keeps_highest_quality_not_min_id(spark):
    """Two near-dups where the HIGHER id is the cleaner copy: doc 11
    carries doubled whitespace (same word sequence, so Jaccard = 1.0,
    but more chars → lower alpha_ratio → lower quality). Min-id would
    keep 11; the quality policy must keep 12."""
    clean = "the quick brown fox jumps over the lazy dog near the river bank"
    noisy = clean.replace(" ", "  ")  # same words, lower quality
    rows = [
        (11, noisy, "en"),
        (12, clean, "en"),
        (30, "completely unrelated text about quantum chromodynamics lattice", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {r.doc_id: r for r in dd.cluster_canonical(docs).collect()}
    assert len(out) == 3
    assert out[11].component_id == 11 and out[12].component_id == 11
    assert out[11].keeper_id == 12 and out[12].keeper_id == 12
    assert not out[11].is_keeper and out[12].is_keeper
    # singleton is its own keeper
    assert out[30].keeper_id == 30 and out[30].is_keeper


def test_cluster_canonical_one_keeper_per_component(spark, docs):
    out = dd.cluster_canonical(docs)
    per_comp = (
        out.groupBy("component_id")
        .agg(F.sum(F.col("is_keeper").cast("int")).alias("nk"))
        .collect()
    )
    assert all(r.nk == 1 for r in per_comp)
    assert out.count() == docs.count()


def test_corpus_overlap_matrix_identical_and_disjoint_sources(spark):
    """Sources A and B hold identical text, C is disjoint: the exact
    Jaccard must be 1.0 / 0.0 and the MinHash estimate must agree on
    the identical pair (identical shingle sets → identical sigs)."""
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten eleven"
    rows = [
        (1, t1, "A"), (2, t2, "A"),
        (3, t1, "B"), (4, t2, "B"),
        (5, "red orange yellow green blue indigo violet ultraviolet", "C"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {(r.src_a, r.src_b): r for r in dd.corpus_overlap_matrix(docs).collect()}
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert ab.n_a == ab.n_b == ab.n_inter and ab.jaccard == 1.0
    assert ab.mh_agree == 8 and ab.jaccard_est == 1.0
    ac = out[("A", "C")]
    assert ac.n_inter == 0 and ac.jaccard == 0.0


def _lm_reference(rows, train_pct=80):
    """Plain-python replica of bigram_lm_score for planted fixtures."""
    import hashlib
    import re

    def split_of(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:7], 16) % 100
        return "train" if b < train_pct else "holdout"

    toks = {
        d: [t for t in re.split(r"\s+", txt.lower()) if t != ""]
        for d, txt in rows
    }
    toks = {d: w for d, w in toks.items() if len(w) >= 2}
    uni: dict = {}
    big: dict = {}
    for d, w in toks.items():
        if split_of(d) != "train":
            continue
        for t in w:
            uni[t] = uni.get(t, 0) + 1
        for a, b in zip(w, w[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    v = len(uni)
    exp = {}
    for d, w in toks.items():
        ps, oov = [], 0
        for a, b in zip(w, w[1:]):
            c_ab = big.get((a, b))
            if c_ab is None:
                oov += 1
            ps.append(((c_ab or 0) + 1) / (uni.get(a, 0) + v))
        s = 0.0
        for p in ps:  # ordered fold, same as both engines
            s += p
        n = len(ps)
        exp[d] = (split_of(d), n, oov, round(oov / n, 6), round(s / n, 6))
    return exp


def test_bigram_lm_score_matches_python_reference(spark):
    rows = [
        (i, txt)
        for i, txt in enumerate(
            [
                "the cat sat on the mat",
                "the cat sat on the hat",
                "the dog sat on the mat",
                "a cat and a dog sat",
                "zzz qqq www vvv uuu",
                "the cat",
                "single",
            ]
            * 3
        )
    ]
    # *3 re-uses texts under fresh ids so both splits are populated
    docs = spark.createDataFrame(
        [(d, t, "en") for d, t in rows], "doc_id bigint, text string, lang string"
    )
    got = {
        r.doc_id: (r.split, r.n_bigrams, r.n_oov, r.oov_rate, r.lm_score)
        for r in tx.bigram_lm_score(docs).collect()
    }
    exp = _lm_reference(rows)
    assert got == exp
    # both splits must actually be exercised by the fixture
    assert {s for s, *_ in got.values()} == {"train", "holdout"}


def test_bigram_lm_score_oov_doc_scores_below_in_vocab_doc(spark):
    """The filter's point: a holdout doc made of train-vocabulary
    bigrams outscores gibberish the LM never saw."""
    rows = [(i, "the cat sat on the mat and the dog sat on the mat") for i in range(30)]
    # 104 and 113 hash into the holdout bucket (md5 % 100 >= 80)
    rows += [(104, "the cat sat on the mat"), (113, "zzz qqq www vvv uuu ttt")]
    docs = spark.createDataFrame(
        [(d, t, "en") for d, t in rows], "doc_id bigint, text string, lang string"
    )
    out = {r.doc_id: r for r in tx.bigram_lm_score(docs).collect()}
    assert out[104].split == "holdout" and out[113].split == "holdout"
    assert out[104].lm_score > out[113].lm_score
    assert out[113].oov_rate == 1.0


def test_lsh_plan_recovers_engine_default_shape():
    """At the engine's own operating point (t=0.4, k=8) the planner
    must land on a low-r high-recall shape; its implied threshold must
    sit below the target (candidates err toward recall)."""
    plan = dd.lsh_plan(0.4, k_max=8)
    assert plan["b"] * plan["r"] == plan["k"] <= 8
    assert plan["r"] <= 2
    assert plan["implied_threshold"] <= 0.4 + 0.1


def test_lsh_plan_higher_threshold_means_more_rows_per_band():
    """Raising the target similarity must (weakly) raise r — the
    S-curve steepens to reject the now-larger dissimilar mass."""
    rs = [dd.lsh_plan(t, k_max=16)["r"] for t in (0.2, 0.5, 0.8)]
    assert rs == sorted(rs)
    assert rs[-1] > rs[0]


def test_lsh_plan_validates_inputs():
    import pytest as _pt

    with _pt.raises(ValueError):
        dd.lsh_plan(0.0)
    with _pt.raises(ValueError):
        dd.lsh_plan(1.2)
    with _pt.raises(ValueError):
        dd.lsh_plan(0.5, k_max=0)


def test_bm25_ranking_effects_on_planted_corpus(spark):
    """BM25's three defining behaviors, pinned where they're real
    (the gate row's synthetic corpus has no text↔embedding alignment,
    so it pins arithmetic, not ranking quality):
    - a near-duplicate of the query outranks a doc sharing one word;
    - a RARE shared term outranks a COMMON shared term (idf);
    - equal tf in a longer doc scores lower (length normalization)."""
    rows = [
        (0, "rust ownership borrow checker lifetimes"),          # query
        (1, "rust ownership borrow checker lifetimes traits"),   # near-dup
        (2, "checker game board"),       # shares the COMMON term, 3 tokens
        (3, "lifetimes in gardening"),   # shares the RARE term, 3 tokens
        (4, "lifetimes in gardening with many extra words about soil "
            "compost watering sunlight pruning mulching and weeds"),  # same tf, longer
        (5, "the the the the the the"),                          # no overlap signal
        (6, "checker checker pattern fabric"),
        (7, "unrelated text entirely different topic"),
        (8, "checker pieces boxed set"),   # pads df('checker') to 5 vs 4
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.query_id, r.doc_id): r.bm25
        for r in sim.bm25_scored_candidates(docs, query_ids=(0,)).collect()
    }
    # near-duplicate dominates everything
    assert got[(0, 1)] == max(got.values())
    # idf: docs 2 and 3 are the same length with tf=1 on their one
    # shared term, so ONLY df separates them — 'lifetimes' (df=4)
    # must beat 'checker' (df=5)
    assert got[(0, 3)] > got[(0, 2)]
    # length normalization: same shared term, same tf=1, longer doc lower
    assert got[(0, 3)] > got[(0, 4)]
    # no-overlap docs produce no candidate row at all (postings join)
    assert (0, 5) not in got and (0, 7) not in got


def test_bpe_batched_k1_equals_sequential(spark, docs):
    """merges_per_step=1 degenerates the batched trainer to the
    sequential one — identical merge table on any corpus (the
    provable-agreement case of round-7 verdict #5)."""
    seq = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in tx.bpe_train(docs, n_merges=4).collect()
    ]
    bat = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in tx.bpe_train_batched(
            docs, n_steps=4, merges_per_step=1
        ).collect()
    ]
    assert seq == bat


def test_bpe_batched_agrees_with_sequential_on_disjoint_words(spark):
    """When each frequent pair lives in its own words (applying one
    rule cannot change another's count), one batched step of K rules
    must equal K sequential steps — the other provable-agreement
    class. Word weights force a strict count order."""
    rows = (
        [("ab",)] * 50 + [("cd",)] * 40 + [("ef",)] * 30 + [("gh",)] * 20
    )
    docs = spark.createDataFrame(
        [(i, t[0]) for i, t in enumerate(rows)], "doc_id bigint, text string"
    )
    seq = [
        (r.left_sym, r.right_sym, r.pair_count)
        for r in tx.bpe_train(docs, n_merges=4).collect()
    ]
    bat = [
        (r.left_sym, r.right_sym, r.pair_count)
        for r in tx.bpe_train_batched(
            docs, n_steps=1, merges_per_step=4
        ).collect()
    ]
    assert seq == bat == [
        ("a", "b", 50), ("c", "d", 40), ("e", "f", 30), ("g", "h", 20)
    ]


def test_bpe_batched_skips_conflicting_rules_within_step(spark):
    """A candidate sharing a symbol with an already-selected rule is
    skipped THIS step (one-pass apply would be ambiguous) and becomes
    eligible next step once the symbols have moved on."""
    rows = [("er",)] * 50 + [("or",)] * 40 + [("in",)] * 30
    docs = spark.createDataFrame(
        [(i, t[0]) for i, t in enumerate(rows)], "doc_id bigint, text string"
    )
    got = [
        (r.step, r.sel, r.left_sym, r.right_sym)
        for r in tx.bpe_train_batched(
            docs, n_steps=2, merges_per_step=2
        ).collect()
    ]
    # step 1: (e,r) wins; (o,r) conflicts on 'r' -> (i,n) takes sel 2;
    # step 2: (o,r) is the only remaining pair
    assert got == [(1, 1, "e", "r"), (1, 2, "i", "n"), (2, 1, "o", "r")]


def test_bpe_batched_one_pass_apply_matches_rule_by_rule(spark):
    """The combined one-pass apply must produce the same final vocab
    as applying the step's disjoint rules one at a time (order
    irrelevant by disjointness) — including the (a,a) self-overlap
    run rule inside a batch."""
    rows = [("aabb",)] * 10 + [("aaab",)] * 5 + [("ccdd",)] * 3
    docs = spark.createDataFrame(
        [(i, t[0]) for i, t in enumerate(rows)], "doc_id bigint, text string"
    )
    _, vocab = tx._bpe_learn_batched(docs, n_steps=1, merges_per_step=2)
    got = {r.word: list(r.syms) for r in vocab.collect()}
    # top pairs: (a,a) c=20 (aabb:10 + aaab:5 every-other counts once each...
    # counts: aabb contributes 1 (a,a); aaab contributes 2 -> c=20? verify
    # via the invariant instead: whatever was learned, one-pass == seq
    rules = tx.bpe_train_batched(docs, n_steps=1, merges_per_step=2).collect()
    assert len(rules) == 2
    # replay rule-by-rule in python (greedy left-to-right with skip)
    def apply_rule(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    for word in ("aabb", "aaab", "ccdd"):
        syms = list(word)
        for r in rules:
            syms = apply_rule(syms, r.left_sym, r.right_sym)
        assert got[word] == syms, (word, got[word], syms)


def test_search_recall_separates_methods_on_aligned_corpus(spark):
    """The gate row's recall comparison runs on unaligned synthetic
    tables (recall ~0 by construction — documented). Here embeddings
    DERIVE from the text (hashed bag-of-words vectors), so cosine
    truth and lexical relevance agree and the machinery must show it:
    every method's recall is far above zero, and the text-based
    methods rank genuinely shared-vocabulary docs into the truth set."""
    import numpy as np

    rng_words = [f"w{i:03d}" for i in range(40)]
    rows = []
    for d in range(60):
        # doc d uses a sliding vocabulary window -> nearby ids share
        # most words, distant ids share none
        ws = [rng_words[(d + j) % 40] for j in range(8)]
        rows.append((d, " ".join(ws)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    def embed(text):
        import zlib

        v = np.zeros(16)
        for w in text.split():
            v[zlib.crc32(w.encode()) % 16] += 1.0  # stable across runs
        n = np.linalg.norm(v)
        return (v / n).tolist()

    embs = spark.createDataFrame(
        [(d, embed(t)) for d, t in rows],
        "vec_id bigint, embedding array<double>",
    )
    out = sim.search_method_recall(docs, embs, query_ids=(0, 1, 2), k=10)
    rec = {}
    for r in out.collect():
        rec.setdefault(r.method, []).append(r.recall)
    means = {m: sum(v) / len(v) for m, v in rec.items()}
    # alignment makes every method work: well above the unaligned ~0
    assert all(v >= 0.5 for v in means.values()), means
    # hybrid dominance is a THEOREM here, not a hope: hybrid keeps the
    # k best-by-cosine from the bm25 top-(pool>k), and the truth set
    # is the global best-by-cosine — so every truth member inside
    # bm25's pool survives the rerank, making hybrid's hits a superset
    # of bm25-top-k's. A rerank stage that silently became a no-op
    # copy of bm25 ordering would break this on any corpus where the
    # pool's cosine order disagrees with bm25 order.
    assert means["hybrid"] >= means["bm25"], means
