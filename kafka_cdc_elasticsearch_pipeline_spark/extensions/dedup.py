"""Deduplication operators over the ``documents`` table.

Five strategies, each with a different recall/cost point, all built as
shuffle-conscious DataFrame plans (no cross joins — every pairwise
stage goes through a *blocking* key so candidate generation is an
equi-join):

- exact            : hash-groupBy on a normalized fingerprint. One
                     shuffle of (hash, doc_id) pairs — the 100 TB plan
                     is the same plan.
- minhash_lsh      : shingle → k MinHash components → band keys →
                     equi-self-join on (band, key) → verify true
                     Jaccard on candidates only. Candidates are
                     O(collisions), never O(n²).
- simhash          : 60-bit SimHash per doc + near-pair search blocked
                     on 15-bit signature quarters (pigeonhole: ≤3
                     differing bits ⇒ one quarter exact ⇒ full recall).
- ngram_jaccard    : EXACT similarity join via prefix filtering
                     (AllPairs): each doc indexes only its rarest-first
                     prefix, which provably covers every pair with
                     J ≥ t — full recall, no quadratic hot buckets.
- embedding cosine : see ``queries_ext`` — IVF-blocked on the cluster
                     label, exact cosine within the bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.extensions.textops import (
    LSH_ROWS_PER_BAND,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_MINHASH,
    explode_expensive,
    minhash_signature,
    reuse,
    shingles,
    spread,
    word_hashes60,
    words,
)

JACCARD_THRESHOLD = 0.4


def normalized(text_col: str = "text") -> F.Column:
    """Canonical text: lowercase, whitespace collapsed, trimmed."""
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup via normalized-md5 fingerprint: one row per distinct
    content, keeping the smallest doc_id (deterministic representative)
    plus the duplicate count."""
    return (
        docs.select(F.md5(normalized()).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


#: 60-bit shingle hash (15 hex chars of md5): the shingle identity used
#: for candidate generation AND Jaccard verification — 8-byte shuffle
#: keys instead of ~25-char strings, identical in DuckDB via
#: ('0x' || substr(md5(s), 1, 15))::BIGINT. Sets are exact up to
#: 60-bit collisions (P ≈ n²/2^61 — negligible at any corpus size that
#: fits an engine).
_SHINGLE_HASH60 = "cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)"


def _doc_shingles(docs: DataFrame) -> DataFrame:
    return (
        spread(docs)
        .select("doc_id", words("text").alias("w"))
        .filter(F.size("w") >= 3)
        .select("doc_id", shingles("w").alias("sh"))
    )


def _doc_shingle_hashsets(docs: DataFrame) -> DataFrame:
    """(doc_id, hs: array<bigint>) — the 60-bit hashed shingle set."""
    return _doc_shingles(docs).select(
        "doc_id", F.expr(f"transform(sh, s -> {_SHINGLE_HASH60})").alias("hs")
    )


def _verify_jaccard(sh60: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Verify candidate pairs with exact Jaccard over the hashed
    shingle sets. ``sh60`` is the query's ONE pinned (doc_id, hs)
    hashset table — the same pass that fed candidate generation — so
    verification is a broadcast-semi-join read of that pin, never a
    second shingle+digest pass over the corpus (r16: the old
    docs-rescan recomputed md5 for every candidate doc, and at sf0.1
    the candidate set covered 98% of the corpus — a full second scan).
    The candidate-id broadcast keeps the pin read pruned to docs that
    appear in a pair, so verify cost still follows candidate volume."""
    # Pin the candidate pairs: the verify plan reads them TWICE (the
    # id-set derivation below and the final join), and without a pin
    # the whole candidate-generation join re-runs per read (r15
    # decomposition: the verify stage dominated the ngram query at
    # ~1.8s, half of it the doubled candidate join).
    cand = reuse(cand)
    ids = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    rsh = reuse(sh60.join(F.broadcast(ids), "doc_id"))
    x = rsh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a"))
    y = rsh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b"))
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", _jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _jaccard(a_sh: str, b_sh: str) -> F.Column:
    # int/int division: a single IEEE op, binary-identical across
    # engines — no rounding needed for the oracle comparison.
    inter = F.size(F.array_intersect(F.col(a_sh), F.col(b_sh)))
    union = F.size(F.col(a_sh)) + F.size(F.col(b_sh)) - inter
    return inter.cast("double") / union


def _minhash_candidates_from(
    sh60: DataFrame,
    k: int = NUM_MINHASH,
    rows_per_band: int = LSH_ROWS_PER_BAND,
) -> DataFrame:
    """Candidate generation over a prebuilt (doc_id, hs) 60-bit hashset
    table, so callers that already paid the shingle+digest pass (the
    verify stage shares it, pinned) never pay it twice. The 28-bit
    MinHash base hash is the TOP 28 bits of the 60-bit shingle hash —
    substr(md5,1,7) vs substr(md5,1,15) — so ``shiftright(h, 32)``
    reproduces ``base_hashes`` exactly (bit-equality tested) with no
    second digest."""
    hashed = sh60.select(
        "doc_id", F.expr("transform(hs, h -> shiftright(h, 32))").alias("hs")
    )
    sigs = hashed.select("doc_id", *minhash_signature("hs", k))
    n_bands = k // rows_per_band
    # r=2 band key packed into one BIGINT (sig < p, so lo*p + hi is
    # collision-free and < 2^62): a fixed-width shuffle key instead of
    # a concatenated string.
    assert rows_per_band == 2, "band packing assumes r=2"
    band_vals = [
        (
            F.col(f"sig{b * rows_per_band}") * F.lit(MINHASH_P).cast("long")
            + F.col(f"sig{b * rows_per_band + 1}")
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    banded = sigs.select("doc_id", *band_vals)
    # reuse(): 1 + n_bands longs per doc — the full-corpus
    # shingle+digest pass lands here and both self-join sides read it
    # (lazy locally, pinnable via SPARK_GRAFT_PIN_REUSED at scale —
    # see textops.reuse for the measured tradeoff).
    exploded = reuse(
        explode_expensive(
            banded.select(
                "doc_id",
                F.array(*[F.col(f"band{b}") for b in range(n_bands)]).alias("bands"),
            ),
            "bands",
            "band_val",
            pos_col="band_idx",
        )
    )
    left = exploded.alias("a")
    right = exploded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return cand


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    k: int = NUM_MINHASH,
    rows_per_band: int = LSH_ROWS_PER_BAND,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified with true Jaccard.

    Plan shape (the part that matters at 100 TB):
      1. narrow map: shingle + k MinHash mins per doc (no shuffle);
      2. explode b band keys per doc → ONE shuffle on (band, key);
      3. self-join within identical band buckets only — candidate
         volume is governed by collision probability (s^r per band),
         not by n²;
      4. verify candidates with exact Jaccard (array ops) and filter.

    Probability a pair with true Jaccard s collides: 1-(1-s^r)^(k/r);
    with k=8, r=2: s=0.4 → ~46%, s=0.8 → ~92%. Raise k for recall —
    cost stays linear in k.

    The shingle+digest pass runs ONCE: the pinned 60-bit hashset table
    feeds both the signature pipeline (top-28-bit derivation) and the
    exact-Jaccard verify (r16 — previously verify re-shingled every
    candidate doc from text).
    """
    sh60 = reuse(_doc_shingle_hashsets(docs))
    cand = _minhash_candidates_from(sh60, k, rows_per_band)
    return _verify_jaccard(sh60, cand, threshold)


#: Document-frequency cap for the AllPairs prefix index: an index
#: bucket holds at most DF_CAP entries, so main-join candidate volume
#: is bounded by DF_CAP × |index| — linear in the corpus for a fixed
#: cap. Docs whose PREFIX contains a hotter token (only low-entropy /
#: templated docs — rarest-first ordering pushes hot shingles out of
#: natural docs' prefixes) are additionally routed through the MinHash
#: candidate generator, which is flat-cost on exactly such corpora.
DF_CAP_DEFAULT = 256


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    df_cap: int | None = DF_CAP_DEFAULT,
) -> DataFrame:
    """EXACT n-gram-Jaccard similarity join via prefix filtering
    (AllPairs-style: Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW'07): full recall — returns every pair with
    Jaccard ≥ t, unlike the probabilistic LSH path.

    Why it scales: J(a,b) ≥ t implies the overlap o ≥ t·|a∪b| ≥
    t·max(|a|,|b|), and under ANY global token order a pair with
    overlap ≥ α must share a token within each side's first
    |x| − α + 1 tokens. So each doc indexes only its *prefix* —
    rarest-first ordering (df asc, then lexicographic) pushes hot
    shingles to the suffix where they are never indexed, which is
    what kills the quadratic hot-bucket blowup. Candidate generation
    stays an equi-self-join on the indexed token.

    Everything before the self-join is WINDOW functions over the
    narrow (doc_id, shingle-hash) rows — df = count over (s), prefix
    membership = row_number over (doc_id ORDER BY df, s) — so the plan
    is exactly three hash shuffles (by s, by doc_id, join by s) with
    no corpus-sized build sides. The previous formulation joined a
    (s → df) aggregate back onto the exploded rows; Spark chose to
    BROADCAST that corpus-sized aggregate (4.6M entries at 80k docs,
    rebuilt per join side), which was the measured super-linear term
    in SCALING.md r04 — a window cannot be broadcast, so the failure
    mode is gone by construction (plan-guarded in test_plan_shape).

    ``df_cap`` bounds the index: entries whose token df exceeds the
    cap are dropped from the equi-join (bucket size ≤ cap ⇒ candidate
    volume ≤ cap × |index|, linear). Recall contract: every pair
    sharing at least one NON-hot prefix token is still found exactly;
    docs whose prefix contains a hot token (possible only for
    low-entropy/templated docs) are ADDITIONALLY routed through the
    MinHash-LSH candidate generator, so pairs whose only shared
    prefix evidence is hot tokens degrade to LSH's probabilistic
    recall — precisely the "use MinHash on low-entropy corpora"
    advice from SCALING.md, now enforced by the operator itself
    instead of left to the caller. ``df_cap=None`` restores the
    unconditionally-exact (and unboundedly hot-bucketed) join.
    """
    from pyspark.sql import Window

    # ONE full-corpus shingle+digest pass, pinned: the explode below,
    # the hot-doc LSH fallback, and the exact-Jaccard verify all read
    # this table (r16 — previously the verify re-shingled candidate
    # docs from text, a second full md5 pass when candidates cover
    # most of the corpus, as they do at sf0.1).
    sh60 = reuse(_doc_shingle_hashsets(docs))
    # Narrow (doc_id, n, hash) rows — 8-byte keys, not shingle
    # strings. The set size ``n`` is known BEFORE the explode (size of
    # the hashed shingle array), so it rides along as a column instead
    # of being recounted by a second doc_id window downstream — one
    # less Sort+Window pass over the exploded corpus (r15 plan diff:
    # 3 Window nodes → 2). No pin on the exploded rows: they feed
    # exactly one consumer (the prefix build).
    ex = explode_expensive(sh60.withColumn("n", F.size("hs")), "hs", "s")
    w_s = Window.partitionBy("s")
    w_doc_ord = Window.partitionBy("doc_id").orderBy("df_", "s")
    # Global rarest-first order = (df, hash); per-doc prefix = the
    # first |hs| - ceil(t*|hs|) + 1 entries under that order. (pos, n)
    # per indexed token feed the PPJoin positional filter below.
    pref = (
        ex.withColumn("df_", F.count(F.lit(1)).over(w_s))
        .withColumn("pos", F.row_number().over(w_doc_ord))
        .filter(
            F.col("pos")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")).cast("int") + 1
        )
        .transform(reuse)
    )
    idx = pref.filter(F.col("df_") <= df_cap) if df_cap is not None else pref
    # PPJoin filters on each index hit:
    # - length: J >= t forces t*|a| <= |b| <= |a|/t;
    # - positional: overlap upper bound via the hit positions,
    #   1 + min(n_a - pos_a, n_b - pos_b), must reach the equivalent
    #   overlap alpha = ceil(t/(1+t) * (n_a + n_b)).
    # The bound is loosest at the pair's FIRST shared token, so a pair
    # whose every hit fails cannot reach alpha — pruning is lossless.
    a, b = idx.alias("a"), idx.alias("b")
    t_frac = threshold / (1.0 + threshold)
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") * threshold <= F.col("a.n"))
            & (F.col("a.n") * threshold <= F.col("b.n"))
            & (
                1
                + F.least(
                    F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
                )
                >= F.ceil(t_frac * (F.col("a.n") + F.col("b.n")))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    if df_cap is not None:
        # Hot-prefix docs: prefixes that reach into tokens with
        # df > cap. Natural corpora have none (the isEmpty probe is a
        # LIMIT-1 scan of the pinned prefix table); templated corpora
        # route them through the flat-cost LSH generator.
        hot_ids = pref.filter(F.col("df_") > df_cap).select("doc_id").distinct()
        if not hot_ids.isEmpty():
            hot_sh = sh60.join(F.broadcast(hot_ids), "doc_id")
            cand = cand.unionByName(
                _minhash_candidates_from(hot_sh)
            ).distinct()
    return _verify_jaccard(sh60, cand, threshold)


def minhash_cross_pairs(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    k: int = NUM_MINHASH,
    rows_per_band: int = LSH_ROWS_PER_BAND,
) -> DataFrame:
    """CROSS-corpus MinHash near-dedup: which NEW documents near-
    duplicate something already in the CORPUS — the shape every crawl
    refresh runs (dedup the increment against the accumulated corpus,
    never the corpus against itself again). Plan: band signatures for
    both sides, equi-join new-bands × corpus-bands on (band, key) —
    candidate volume follows collisions, the corpus side is scanned
    once and never self-joined — then exact-Jaccard verification over
    candidate ids only. Returns (doc_a=new id, doc_b=corpus id,
    jaccard). At 100 TB the corpus band table is the persisted
    artifact: each increment joins against it and appends its own
    bands, so marginal cost follows the increment, not the corpus."""

    def bands_for(sh60: DataFrame, side: str) -> DataFrame:
        hashed = sh60.select(
            "doc_id", F.expr("transform(hs, h -> shiftright(h, 32))").alias("hs")
        )
        sigs = hashed.select("doc_id", *minhash_signature("hs", k))
        n_bands = k // rows_per_band
        assert rows_per_band == 2, "band packing assumes r=2"
        band_vals = [
            (
                F.col(f"sig{b * rows_per_band}") * F.lit(MINHASH_P).cast("long")
                + F.col(f"sig{b * rows_per_band + 1}")
            ).alias(f"band{b}")
            for b in range(n_bands)
        ]
        banded = sigs.select("doc_id", *band_vals)
        return reuse(
            explode_expensive(
                banded.select(
                    "doc_id",
                    F.array(*[F.col(f"band{b}") for b in range(n_bands)]).alias(
                        "bands"
                    ),
                ),
                "bands",
                "band_val",
                pos_col="band_idx",
            )
        ).select(
            F.col("doc_id").alias(f"{side}_id"), "band_idx", "band_val"
        )

    # One shingle+digest pass per side, pinned: bands AND verify read
    # it (r16 — the verify previously re-shingled candidate docs from
    # both sides' text).
    sh_new = reuse(_doc_shingle_hashsets(new_docs))
    sh_old = reuse(_doc_shingle_hashsets(corpus))
    a = bands_for(sh_new, "new")
    b = bands_for(sh_old, "old")
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .select(F.col("new_id").alias("doc_a"), F.col("old_id").alias("doc_b"))
        .distinct()
    )
    # verify over the union of both sides' candidate docs
    ids = cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    both = sh_new.unionByName(sh_old)
    rsh = reuse(both.join(F.broadcast(ids), "doc_id"))
    x = rsh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a"))
    y = rsh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b"))
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", _jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    df_cap: int | None = DF_CAP_DEFAULT,
) -> DataFrame:
    """EXACT shingle-CONTAINMENT join: directed pairs where
    C(A→B) = |A∩B| / |A| ≥ t — the "document quoted/wrapped inside a
    bigger document" detector that symmetric Jaccard structurally
    misses (a 50-shingle doc fully embedded in a 5000-shingle doc has
    J ≈ 0.01 but C = 1.0). Training-corpus use: boilerplate wrappers,
    quote-chains, README-embedded licenses.

    Prefix filter, containment form: C(A→B) ≥ t forces overlap ≥
    ⌈t·|A|⌉, so under any global token order A must share one of its
    first |A| − ⌈t·|A|⌉ + 1 tokens with B — the CONTAINED side probes
    with its rarest-first prefix. The container side has no such
    shrinking bound (its matching token can sit anywhere), so it
    indexes every token — candidate generation is still an equi-join
    on the token, with per-token fan-out = df. ``df_cap`` bounds that
    fan-out by dropping hot tokens from BOTH sides; unlike the Jaccard
    join there is no LSH fallback (MinHash bands estimate resemblance,
    not containment), so the capped mode's documented trade is: pairs
    whose contained doc's prefix is entirely hot tokens may be missed
    — on natural corpora a prefix is hot-only for templated docs.
    ``df_cap=None`` restores unconditional exactness.
    Verification recomputes shingle sets only for candidate docs
    (broadcast-ids rescan, as the Jaccard paths do)."""
    from pyspark.sql import Window

    # One pinned shingle+digest pass: the token explode and the
    # containment verify both read it (r16, same fix as the Jaccard
    # paths — verify previously re-shingled candidate docs from text).
    sh60 = reuse(_doc_shingle_hashsets(docs))
    # Same r15 shape fixes as ngram_jaccard_pairs: the set size ``n``
    # rides the explode (size(hs) — no second doc_id window pass), and
    # the exploded rows are NOT pinned (single consumer: ``tok``); the
    # token table pin stays — probe and index both read it.
    ex = explode_expensive(sh60.withColumn("n", F.size("hs")), "hs", "s")
    w_s = Window.partitionBy("s")
    w_doc_ord = Window.partitionBy("doc_id").orderBy("df_", "s")
    tok = reuse(
        ex.withColumn("df_", F.count(F.lit(1)).over(w_s))
        .withColumn("pos", F.row_number().over(w_doc_ord))
    )
    probe = tok.filter(
        F.col("pos")
        <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")).cast("int") + 1
    )
    idx = tok
    if df_cap is not None:
        probe = probe.filter(F.col("df_") <= df_cap)
        idx = idx.filter(F.col("df_") <= df_cap)
    a, b = probe.alias("a"), idx.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("contained"), F.col("b.doc_id").alias("container")
        )
        .distinct()
    )
    # Pin the candidates: the verify plan reads them twice (id-set
    # derivation + final join) — same fix as _verify_jaccard (r15).
    cand = reuse(cand)
    ids = cand.select(
        F.explode(F.array("contained", "container")).alias("doc_id")
    ).distinct()
    rsh = reuse(sh60.join(F.broadcast(ids), "doc_id"))
    x = rsh.select(F.col("doc_id").alias("contained"), F.col("hs").alias("sh_a"))
    y = rsh.select(F.col("doc_id").alias("container"), F.col("hs").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(x, "contained")
        .join(y, "container")
        .select(
            "contained",
            "container",
            (inter.cast("double") / F.size("sh_a")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


DECONTAM_NGRAM = 8  # industry practice is 8-13 word overlap


def decontamination_flags(
    docs: DataFrame,
    split: DataFrame,
    n: int = DECONTAM_NGRAM,
) -> DataFrame:
    """Benchmark decontamination: flag TRAIN documents sharing any
    ``n``-word n-gram with a HOLDOUT/eval document (the standard
    contamination test run before training on scraped corpora).

    ``split`` is (doc_id, split) with values 'train'/'holdout'. Plan:
    one n-gram-hash pass over the corpus, explode, equi-join train
    hashes against (broadcastable, small) eval hashes, distinct flags —
    candidate volume follows true overlap, never |train|×|eval|.
    Returns (train_doc_id, eval_doc_id) overlap pairs.
    """
    tagged = docs.join(split.select("doc_id", "split"), "doc_id")
    gram_text = "concat_ws(' ', " + ", ".join(
        f"element_at(w, i + {j})" for j in range(n)
    ) + ")"
    gram_hash = f"cast(conv(substr(md5({gram_text}), 1, 15), 16, 10) as bigint)"
    grams = (
        spread(tagged)
        .select("doc_id", "split", words("text").alias("w"))
        .filter(F.size("w") >= n)
        .select(
            "doc_id",
            "split",
            F.expr(
                f"array_distinct(transform(sequence(1, size(w) - {n - 1}), i -> {gram_hash}))"
            ).alias("gh"),
        )
    )
    # reuse(): the exploded gram rows feed BOTH join sides (train
    # probe, holdout index) — without the pin the md5 n-gram pass over
    # the corpus runs once per side (r16; the same two-consumer pattern
    # as the banded-Hamming fingerprint fix in r15).
    ex = reuse(explode_expensive(grams, "gh", "g"))
    train = ex.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc_id"), "g"
    )
    ev = ex.filter(F.col("split") == "holdout").select(
        F.col("doc_id").alias("eval_doc_id"), "g"
    )
    return train.join(ev, "g").select("train_doc_id", "eval_doc_id").distinct()


SUBSTR_NGRAM = 8


def substring_span_dedup(docs: DataFrame, n: int = SUBSTR_NGRAM) -> DataFrame:
    """Exact substring-span dedup (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" policy, word-gram
    granularity): any ``n``-word span appearing in MORE THAN ONE
    document is removed from every document except its lowest-doc_id
    occurrence; the surviving tokens re-join in position order. This
    catches shared boilerplate/quotes INSIDE otherwise-distinct
    documents — the duplication mode doc-level MinHash/SimHash can't
    see and line-level dedup only catches at line boundaries.

    Plan at 100 TB: one token-level pass builds (doc, position,
    gram-hash) occurrences — linear, the same row volume as the tfidf
    pipeline; a single hash shuffle on the gram elects keepers
    (min doc_id, map-side combinable); removal volume then follows
    TRUE duplication, never corpus². No all-pairs join exists
    anywhere: a span shared by k docs costs k rows, not k².

    Within-doc repeats are NOT removed (nd counts distinct docs) —
    intra-doc repetition is the repetition filter's job. Overlapping
    removed spans merge naturally via the distinct covered-position
    set. Returns (doc_id, n_tokens, n_removed, cleaned_text) for every
    input document (short or fully-deduped docs included)."""
    base = spread(docs).select("doc_id", words("text").alias("w"))
    gram_text = "concat_ws(' ', " + ", ".join(
        f"element_at(w, i + {j})" for j in range(n)
    ) + ")"
    gram_hash = f"cast(conv(substr(md5({gram_text}), 1, 15), 16, 10) as bigint)"
    grams = base.filter(F.size("w") >= n).select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(w) - {n - 1}),"
            f" i -> struct(i AS i, {gram_hash} AS g))"
        ).alias("gs"),
    )
    # reuse(): occ feeds BOTH the keeper election and the removal join —
    # without the pin Spark re-evaluates the md5 gram explode (the
    # dominant token-level cost) once per consumer
    occ = reuse(
        explode_expensive(grams, "gs", "o").select(
            "doc_id", F.col("o.i").alias("i"), F.col("o.g").alias("g")
        )
    )
    keepers = (
        occ.groupBy("g")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.countDistinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("g", "keeper")
    )
    removal = (
        occ.join(keepers, "g")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id", "i")
    )
    covered = removal.select(
        "doc_id", F.explode(F.expr(f"sequence(i, i + {n - 1})")).alias("pos")
    ).distinct()
    toks = base.select(
        "doc_id", F.posexplode("w").alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.struct("pos", "word"))).getField("word"),
            " ",
        ).alias("cleaned_text")
    )
    removed_counts = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    return (
        base.select("doc_id", F.size("w").cast("bigint").alias("n_tokens"))
        .join(removed_counts, "doc_id", "left")
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Dedup clustering: connected components over a near-dup pair list
    by iterative min-label propagation (what you DO with pair output —
    pick one representative per duplicate cluster).

    Driver-coordinated convergence loop where each iteration is fully
    distributed (join + min-aggregate, two shuffles); converges in
    ≤ graph-diameter iterations — near-dup clusters are shallow, so a
    handful. The only driver-side value per iteration is the 1-row
    "did anything change" check. At 100 TB you'd add periodic
    checkpointing to truncate lineage; structure is otherwise
    identical (GraphFrames-style).

    Returns (id_col, component_id): component = min doc_id reachable;
    singletons map to themselves.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .persist()
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).persist()
    for _ in range(max_iters):
        prop = edges.join(labels, edges["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("label")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("component_id"))


def _simhash60_arrow():
    """Arrow-vectorized twin of ``textops.simhash60`` (same integer
    result, pinned equal in tests): per-bit majority vote of ±1
    contributions over the doc's word hashes, sign bits reassembled.

    Why not the Catalyst expression in the hot path: the nested
    ``aggregate(sequence(0,59), aggregate(hs, ...))`` HOF falls out of
    whole-stage codegen into interpreted evaluation — 60 re-folds of
    the hash array per document, measured ~150 µs/doc wall at 80k docs
    (the slowest dedup family in SCALING.md r04/r05). The numpy form
    is one bit-unpack + one segmented reduce — the same work at memory
    bandwidth. Row-chunked so peak memory stays ~30 MB per worker
    regardless of Arrow batch size."""
    import pandas as pd  # noqa: F401 — resolves the UDF's type hints
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash60_np(hs):
        # (pd.Series of list<int64>) -> pd.Series[int64]; hints omitted
        # because `from __future__ import annotations` stringifies them
        # out of pandas_udf's reach — returnType carries the contract.
        import numpy as np
        import pandas as pd

        bit_idx = np.arange(60, dtype=np.int64)
        out = np.zeros(len(hs), dtype=np.int64)
        vals = hs.to_numpy()
        chunk = 2000
        for lo in range(0, len(vals), chunk):
            rows = vals[lo : lo + chunk]
            lens = np.array([len(r) for r in rows], dtype=np.int64)
            nz = np.flatnonzero(lens)
            if len(nz) == 0:
                continue
            flat = np.concatenate([np.asarray(rows[i], dtype=np.int64) for i in nz])
            # ±1 contribution per (hash, bit); int32 headroom for docs
            # up to 2^31 words (reduceat keeps the input dtype)
            contrib = (
                ((flat[:, None] >> bit_idx) & 1).astype(np.int32) * 2 - 1
            )
            starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
            counts = np.add.reduceat(contrib, starts, axis=0)
            sigs = ((counts > 0).astype(np.int64) << bit_idx).sum(axis=1)
            out[lo + nz] = sigs
        return pd.Series(out)

    return simhash60_np


def simhash_table(docs: DataFrame) -> DataFrame:
    """Per-document 60-bit SimHash over md5-derived word hashes.

    60 bits (not 16): the scaling bench measured 16-bit signatures
    concentrating so hard that Hamming ≤ 3 held for a QUADRATIC number
    of pairs as the corpus grew — the signature space must dwarf the
    corpus for near-pair output to track true near-duplicates.

    The word hashes stay JVM-side (md5 digests inside codegen); the
    60-bit majority fold runs as an Arrow pandas_udf — see
    ``_simhash60_arrow`` for why, and ``textops.simhash60`` for the
    Catalyst executable spec it must (and is tested to) agree with."""
    return (
        spread(docs)
        .select("doc_id", words("text").alias("w"))
        .select("doc_id", word_hashes60("w").alias("hs"))
        .select("doc_id", _simhash60_arrow()(F.col("hs")).alias("simhash"))
    )


SIMHASH_BANDS = 4  # 4 x 15-bit blocks
_BAND_MASK = (1 << 15) - 1


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-pairs (Hamming ≤ 3) blocked on 15-bit signature
    quarters: with 4 blocks and ≤ 3 differing bits, at least one block
    is error-free on any qualifying pair (pigeonhole ⇒ FULL recall for
    the radius), and candidate generation stays an equi-join on
    (block index, 15-bit value)."""
    t = simhash_table(docs)
    # reuse(): (doc_id, simhash, band_idx, band_val) — 4 rows of
    # 4 longs per doc; both self-join sides read this.
    banded = reuse(
        explode_expensive(
            t.select(
                "doc_id",
                "simhash",
                F.expr(
                    f"transform(sequence(0, {SIMHASH_BANDS - 1}),"
                    f" b -> struct(b AS band_idx,"
                    f" shiftright(simhash, 15 * b) & {_BAND_MASK} AS band_val))"
                ).alias("bands"),
            ),
            "bands",
            "bv",
        ).select(
            "doc_id",
            "simhash",
            F.col("bv.band_idx").alias("band_idx"),
            F.col("bv.band_val").alias("band_val"),
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.expr("bit_count(sim_a ^ sim_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def cluster_canonical(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Quality-aware canonical selection over duplicate clusters: the
    stage after pair-finding and clustering where a curation pipeline
    decides WHICH copy of each near-duplicate group survives. Keeper =
    highest :func:`text.quality_score` in the component, ties broken by
    the smaller doc_id (min-id alone — what ``exact_dedup`` uses — is
    the wrong policy for near-dups, where copies differ and one is
    usually cleaner).

    Plan shape: the pair graph and components come from the existing
    linear-cost stages (banded LSH candidates, iterative min-label
    propagation); this adds one doc-keyed equi-join (quality is a
    map-side projection) and one component-keyed window. The window
    partitions by component_id, so its sort is bounded by the largest
    duplicate cluster — bounded in turn by the LSH band df behavior,
    never by the corpus.

    Returns (doc_id, component_id, keeper_id, is_keeper) for every
    document; singletons are their own keeper.
    """
    from pyspark.sql import Window

    from kafka_cdc_elasticsearch_pipeline_spark.extensions.text import quality_score

    pairs = minhash_lsh_pairs(docs, threshold)
    comp = connected_components(pairs, docs)
    q = quality_score(docs).select("doc_id", "quality")
    wnd = (
        Window.partitionBy("component_id")
        .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        comp.join(q, "doc_id")
        .select(
            "doc_id",
            "component_id",
            F.first("doc_id").over(wnd).alias("keeper_id"),
        )
        .withColumn("is_keeper", F.col("doc_id") == F.col("keeper_id"))
    )


def corpus_overlap_matrix(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Corpus-level overlap audit: for every pair of sources, the exact
    shingle-set Jaccard AND its mergeable-MinHash estimate — the
    dataset-composition table a pipeline publishes before mixing
    corpora (the Pile/Dolma-style overlap matrix).

    Two paths on purpose:
    - EXACT: distinct (source, shingle-hash) pairs, self equi-join on
      the hash (sources sharing a shingle meet; never all-pairs), count
      per source pair. One corpus-wide shuffle of 8-byte keys — the
      audit you can afford occasionally.
    - ESTIMATE: per-source MinHash signature, sig_i = min over the
      source's shingles of perm_i — a MERGEABLE fold (min), so at
      100 TB it comes out of per-partition partial aggregates with no
      distinct materialization; pair agreement / k estimates Jaccard.
      The always-on path; the exact column is here to show its error.

    The pairwise stage joins the 20-row per-source dim table with
    itself under ``src_a < src_b`` — a broadcast nested-loop over a
    dim×dim domain, same bounded-crossJoin discipline as the scalar
    broadcasts (sources are a catalog, not data).
    """
    sh = (
        spread(docs)
        .select(group_col, words("text").alias("w"))
        .filter(F.size("w") >= 3)
        .select(group_col, shingles("w").alias("sh"))
    )
    # Pin the 60-bit hashed shingles, not the shingle strings: the
    # exact path (distinct + self-join) and the MinHash path both
    # derive from the one digest pass (r16 — previously the two paths
    # each ran their own md5 over the pinned strings: 15-hex here,
    # 7-hex in base_hashes; the 28-bit base hash is the top 28 bits of
    # the 60-bit hash, so shiftright(h, 32) replaces the second pass).
    # The string-shingle pin moves here too: ``sh`` now has exactly
    # one consumer, so pinning it would pay a cache write for nothing.
    hs60 = reuse(
        sh.select(
            group_col, F.expr(f"transform(sh, s -> {_SHINGLE_HASH60})").alias("hs")
        )
    )
    ex60 = (
        explode_expensive(hs60, "hs", "h")
        .select(group_col, "h")
        .distinct()
    )
    ex60 = reuse(ex60)
    sizes = ex60.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        ex60.alias("a")
        .join(
            ex60.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{group_col}") < F.col(f"b.{group_col}")),
        )
        .groupBy(
            F.col(f"a.{group_col}").alias("src_a"),
            F.col(f"b.{group_col}").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    base = explode_expensive(
        hs60.select(
            group_col, F.expr("transform(hs, h -> shiftright(h, 32))").alias("hs")
        ),
        "hs",
        "h",
    )
    sigs = base.groupBy(group_col).agg(
        *[
            F.min(
                (F.col("h") * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i]))
                % F.lit(MINHASH_P)
            ).alias(f"sig{i}")
            for i in range(NUM_MINHASH)
        ]
    )
    dims = sizes.join(sigs, group_col)
    agree = None
    for i in range(NUM_MINHASH):
        term = F.when(F.col(f"a.sig{i}") == F.col(f"b.sig{i}"), 1).otherwise(0)
        agree = term if agree is None else (agree + term)
    pairs = (
        dims.alias("a")
        .join(
            F.broadcast(dims.alias("b")),
            F.col(f"a.{group_col}") < F.col(f"b.{group_col}"),
        )
        .select(
            F.col(f"a.{group_col}").alias("src_a"),
            F.col(f"b.{group_col}").alias("src_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            agree.cast("int").alias("mh_agree"),
        )
    )
    out = pairs.join(inter, ["src_a", "src_b"], "left")
    n_inter = F.coalesce(F.col("n_inter"), F.lit(0))
    return out.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        n_inter.alias("n_inter"),
        (
            n_inter.cast("double")
            / (F.col("n_a") + F.col("n_b") - n_inter)
        ).alias("jaccard"),
        "mh_agree",
        (F.col("mh_agree") / F.lit(float(NUM_MINHASH))).alias("jaccard_est"),
    )


def lsh_plan(
    threshold: float,
    k_max: int = NUM_MINHASH,
    fn_weight: float = 10.0,
) -> dict:
    """Pick (b bands × r rows) for a MinHash-LSH run targeting a
    Jaccard threshold — the sizing calculation an operator otherwise
    does by folklore. For every factorization b·r ≤ k_max, integrate
    the S-curve p(s) = 1 − (1 − s^r)^b: false-negative mass above the
    threshold (pairs we OWE the caller — weighted ``fn_weight``×,
    since the verify stage removes false positives but nothing
    recovers a missed candidate) plus false-positive mass below it
    (wasted verify work). Deterministic: fixed 1000-point midpoint
    grid, ties broken toward more bands (recall) then smaller k.

    Returns {b, r, k, implied_threshold, fn_area, fp_area, cost}:
    ``implied_threshold`` is the classic (1/b)^(1/r) S-curve midpoint.
    Driver-side planning only — nothing here touches data."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if k_max < 1:
        raise ValueError(f"k_max must be >= 1, got {k_max}")
    best = None
    n_grid = 1000
    for r in range(1, k_max + 1):
        for b in range(1, k_max // r + 1):
            fn = fp = 0.0
            for i in range(n_grid):
                s = (i + 0.5) / n_grid
                p = 1.0 - (1.0 - s**r) ** b
                if s >= threshold:
                    fn += (1.0 - p) / n_grid
                else:
                    fp += p / n_grid
            cost = fn_weight * fn + fp
            key = (cost, -b, b * r)
            if best is None or key < best[0]:
                best = (key, {
                    "b": b,
                    "r": r,
                    "k": b * r,
                    "implied_threshold": round((1.0 / b) ** (1.0 / r), 6),
                    "fn_area": round(fn, 6),
                    "fp_area": round(fp, 6),
                    "cost": round(cost, 6),
                })
    return best[1]
