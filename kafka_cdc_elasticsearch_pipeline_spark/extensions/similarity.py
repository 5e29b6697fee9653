"""Similarity search over the ``embeddings`` table (array<float>).

Two paths, as a real vector pipeline would ship them:

- ``brute_force_topk``: the exactness baseline. Query set × corpus
  with the small side broadcast — the corpus side NEVER shuffles, so
  at 100 TB this is a single pass: scan, score, per-partition top-k
  heap, driver merges k·P rows. Works for query batches up to the
  broadcast limit.
- ``ivf_topk``: the scale path — Inverted-File (IVF) search. The
  corpus is bucketed by a coarse quantizer (here the harness's
  ``label`` column ≙ cluster assignment; ``centroids`` shows the
  quantizer itself is a one-shuffle aggregation). A query probes only
  its bucket: candidate volume drops by ~n_clusters× at the cost of
  recall at bucket borders — the standard IVF trade (nprobe > 1
  re-adds neighbors by unioning more buckets).

Scoring is an exact left-fold dot product (``textops.dot64``) —
JVM-side codegen over the arrays; no Python, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.extensions.textops import cosine

TOPK = 10


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k per query: rank on (rounded score desc, id).

    Rounding before ranking makes the order — not just the values —
    reproducible across engines (ties broken by vec_id both places).
    """
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = TOPK
) -> DataFrame:
    """Exact cosine top-k: broadcast the query batch, scan the corpus
    once. ``queries`` must have (query_id, q_embedding)."""
    scored = embeddings.join(F.broadcast(queries)).select(
        F.col("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("embedding"), F.col("q_embedding")), 6).alias("cosine"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return _ranked_topk(scored, k)


def ivf_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = TOPK
) -> DataFrame:
    """IVF top-k: probe only the query's bucket. ``queries`` must have
    (query_id, q_embedding, q_label). The join on the bucket key is an
    equi-join — at scale both sides partition on label and only
    bucket-local pairs are scored."""
    scored = embeddings.join(
        F.broadcast(queries), embeddings["label"] == queries["q_label"]
    ).select(
        F.col("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("embedding"), F.col("q_embedding")), 6).alias("cosine"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return _ranked_topk(scored, k)


def ivf_topk_nprobe(
    embeddings: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    k: int = TOPK,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search with multi-bucket probing: each query scores the
    (broadcast) centroid table, probes its ``nprobe`` best buckets, and
    exact-scores only those candidates — the standard recall knob
    (nprobe=1 is ``ivf_topk``; nprobe=n_clusters is brute force).

    ``queries`` needs (query_id, q_embedding). Candidate volume is
    nprobe/n_clusters of the corpus per query; everything is equi-joins
    on the bucket key."""
    scored_cents = queries.join(
        F.broadcast(cents.select(F.col("label").alias("probe_label"), "centroid"))
    ).select(
        "query_id",
        "q_embedding",
        "probe_label",
        F.round(cosine(F.col("q_embedding"), F.col("centroid")), 6).alias("cos_c"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("probe_label").asc()
    )
    probes = (
        scored_cents.withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "q_embedding", "probe_label")
    )
    scored = embeddings.join(
        F.broadcast(probes), embeddings["label"] == probes["probe_label"]
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("embedding"), F.col("q_embedding")), 6).alias("cosine"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return _ranked_topk(scored, k)


def centroids(embeddings: DataFrame) -> DataFrame:
    """The IVF coarse quantizer: per-label centroid as a one-shuffle
    positional aggregation (posexplode → per-(label, pos) mean →
    reassemble ordered array).

    Determinism: the per-position float sum is folded in vec_id order
    (array_sort of (vec_id, v) structs, then an ordered aggregate fold)
    so the mean is bit-identical on every run AND in the DuckDB oracle
    — naive float avg() depends on reduction order. Rounded to 6
    decimals; downstream cosine ranking is stable on the rounded
    values."""
    exploded = embeddings.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos0", "v")
    )
    per_pos = exploded.groupBy("label", (F.col("pos0") + 1).alias("pos")).agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("vs")
    ).select(
        "label",
        "pos",
        F.round(
            F.expr("aggregate(vs, 0.0d, (a, x) -> a + cast(x.v as double))") / F.size("vs"),
            6,
        ).alias("c"),
    )
    return per_pos.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("pos", "c"))).getField("c").alias("centroid")
    )


def assign_centroids(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """Apply the coarse quantizer: nearest centroid per vector by
    cosine (the k-means assignment step every IVF build runs).

    The centroid table is tiny (n_clusters rows) → broadcast nested
    scoring: corpus scans once, never shuffles; deterministic argmax
    via (rounded cosine DESC, centroid label ASC)."""
    scored = embeddings.join(
        F.broadcast(cents.select(F.col("label").alias("c_label"), "centroid"))
    ).select(
        "vec_id",
        "label",
        "c_label",
        F.round(cosine(F.col("embedding"), F.col("centroid")), 6).alias("cos_c"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), F.col("c_label").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.col("c_label").alias("assigned_label"),
            F.col("cos_c").alias("cosine"),
        )
    )


RHP_BITS = 16
EMB_DIM = 64


def rhp_planes(dim: int = EMB_DIM, bits: int = RHP_BITS) -> list[list[float]]:
    """Deterministic random-hyperplane set for cosine LSH (Charikar
    SimHash for vectors): component (b, j) is an md5-derived integer
    mapped to [-1, 1] at 1e-6 resolution. Pure-Python constants — the
    same doubles are embedded as literals in the Spark expression and
    the DuckDB oracle, so both engines fold identical values."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"rhp_{b}_{j}".encode()).hexdigest()[:15], 16) % 2000001
             - 1000000)
            / 1e6
            for j in range(dim)
        ]
        for b in range(bits)
    ]


def rhp_signature(vec_sql: str, planes: list[list[float]]) -> Column:
    """LSH signature: bit b = sign(dot(vec, plane_b)). One nested
    JVM-side fold over a single 2-D array literal (16 separate
    zip_with expressions made whole-stage codegen quadratically large
    — one array<array<double>> keeps the tree small). Index-order
    folds — bit-reproducible, no UDF.

    This is the EXECUTABLE SPEC (the shape the DuckDB oracle mirrors);
    the hot path uses the Arrow twin ``_rhp_signature_arrow`` — the
    nested HOF here evaluates interpreted, bits × dim re-folds per
    vector. A unit test pins the two equal."""
    planes_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in row) + ")" for row in planes
        )
        + ")"
    )
    return F.expr(
        f"""aggregate(sequence(0, {len(planes) - 1}), 0L, (acc, b) -> acc +
              IF(aggregate(zip_with({vec_sql}, element_at({planes_sql}, cast(b as int) + 1),
                             (x, y) -> cast(x as double) * y),
                           cast(0.0 as double), (a, v) -> a + v) > 0,
                 shiftleft(1L, cast(b as int)), 0L))"""
    )


def _rhp_signature_arrow(planes: list[list[float]]):
    """Arrow-vectorized twin of ``rhp_signature`` (same integer result,
    pinned equal in tests): one (rows × bits × dim) product tensor per
    chunk, summed along dim with STRICT left-fold order (``cumsum`` is
    sequential accumulation, so every partial sum — and therefore every
    sign near zero — is bit-identical to the Catalyst/DuckDB folds).

    Why: the nested ``aggregate(zip_with(...))`` HOF evaluates
    interpreted — bits × dim re-folds per vector; the numpy tensor is
    the same arithmetic at memory bandwidth (measured ~3× end-to-end
    on the 80k-vector scaling corpus). Chunked to ~32 MB peak."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def rhp_np(emb):
        # (pd.Series of list<float>) -> pd.Series[int64]; hints omitted
        # (future-annotations stringification, as in dedup's twin)
        import numpy as np
        import pandas as pd

        p = np.asarray(planes, dtype=np.float64)  # (bits, dim)
        dim = p.shape[1]
        bit_idx = np.arange(len(p), dtype=np.int64)
        out = np.zeros(len(emb), dtype=np.int64)
        vals = emb.to_numpy()
        chunk = 2000
        for lo in range(0, len(vals), chunk):
            rows = vals[lo : lo + chunk]
            # dim-mismatched vectors: the Catalyst spec's zip_with pads
            # with NULL, which poisons the fold -> every bit 0; mirror
            # that by leaving their signature at 0
            keep = [i for i, r in enumerate(rows) if r is not None and len(r) == dim]
            if not keep:
                continue
            m = np.stack(
                [np.asarray(rows[i], dtype=np.float64) for i in keep]
            )  # (n, dim)
            prods = m[:, None, :] * p[None, :, :]  # (n, bits, dim)
            sums = np.cumsum(prods, axis=2)[:, :, -1]  # strict left fold
            sigs = ((sums > 0).astype(np.int64) << bit_idx).sum(axis=1)
            out[lo + np.asarray(keep)] = sigs
        return pd.Series(out)

    return rhp_np


RHP_BANDS = 2  # 2 bands x 8 bits: collision prob (1-θ/π)^8 per band


def rhp_lsh_neardup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    bits: int = RHP_BITS,
    bands: int = RHP_BANDS,
) -> DataFrame:
    """Near-duplicate pairs by random-hyperplane LSH: the ``bits``-bit
    signature splits into ``bands`` bands; vectors colliding in ANY
    band become candidates (banding trades precision for recall exactly
    as MinHash-LSH does), then exact cosine verifies.

    The scale story mirrors MinHash-LSH for text: one signature pass
    over the corpus (never shuffles the vectors), an equi-self-join on
    (band_idx, band_val) — candidates only, no all-pairs — exact
    verification on the collision set. Complements IVF blocking: no
    clustering step, data-independent planes, recall tunable via
    bits-per-band.

    SIZE THE BAND TO THE CORPUS: random collisions per band ≈
    n²/2^(bits/bands+1), so 8-bit bands degenerate to ~quadratic
    candidates beyond ~20k vectors (measured 73s @ 80k — SCALING.md);
    16-bit bands (bits=32, bands=2) keep the candidate set linear into
    the millions, at lower recall for merely-similar (non-duplicate)
    vectors — exact copies always collide at any width."""
    planes = rhp_planes(bits=bits)
    band_bits = bits // bands
    # Candidate generation carries ONLY (vec_id, band) — 16-byte rows.
    # The old shape dragged the full embedding array through the
    # band-bucket shuffle AND a distinct() over (ids, embeddings);
    # measured 4.8× wall at 16× rows (SCALING.md r03). Now the
    # embeddings are rescanned for candidate ids only, the same
    # broadcast-ids verify trick as dedup._verify_jaccard — verify
    # cost follows candidate volume, not corpus volume.
    # Arrow signature pass (see _rhp_signature_arrow; rhp_signature in
    # this module stays as the Catalyst executable spec, tested equal)
    sigs = embeddings.select(
        "vec_id", _rhp_signature_arrow(planes)(F.col("embedding")).alias("sig")
    )
    from kafka_cdc_elasticsearch_pipeline_spark.operators.caching import reuse

    # reuse(): the band table feeds BOTH self-join sides — without the
    # pin the Arrow signature pass over the corpus ran once per side
    # (r16; the same two-consumer pattern as the MinHash/SimHash band
    # pins — the executed plan showed 8 embeddings scans).
    banded = reuse(
        sigs.select(
            "vec_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}),"
                    f" i -> struct(i as band_idx,"
                    f" shiftright(sig, {band_bits} * i) & {(1 << band_bits) - 1} as band_val))"
                )
            ).alias("bv"),
        ).select("vec_id", "bv.band_idx", "bv.band_val")
    )
    a = banded.select(
        F.col("vec_id").alias("vec_a"), "band_idx", "band_val"
    )
    b = banded.select(
        F.col("vec_id").alias("vec_b"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_val").alias("band_val_b"),
    )
    # Pin the candidates: the verify plan reads them twice (id-set
    # derivation + final join) — same fix as dedup._verify_jaccard.
    cand = reuse(
        a.join(
            b,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_val") == F.col("band_val_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b")
        .distinct()
    )
    ids = cand.select(
        F.explode(F.array("vec_a", "vec_b")).alias("vec_id")
    ).distinct()
    emb = embeddings.join(F.broadcast(ids), "vec_id")
    x = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    y = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization per vector (the memory layout ANN
    serving uses: 4x smaller than float32, SIMD-friendly): scale =
    max|v|/127, q_i = round(v_i * 127 / max|v|), plus the
    reconstruction MSE so drift is observable. Emits the codes
    comma-joined (driver canonicalizer cannot sort raw arrays).

    All arithmetic is per-row JVM fold in index order; at 100 TB this
    is a map-only pass — no shuffle at all."""
    maxabs = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )
    with_scale = embeddings.select(
        "vec_id", "embedding", maxabs.alias("maxabs")
    ).filter(F.col("maxabs") > 0)
    q = F.expr(
        "transform(embedding,"
        " v -> cast(round(cast(v as double) * 127.0 / maxabs) as int))"
    )
    recon_err = F.expr(
        """aggregate(
             zip_with(embedding,
                      transform(embedding,
                        v -> cast(round(cast(v as double) * 127.0 / maxabs) as int)),
                      (v, qv) -> pow(cast(v as double) - qv * maxabs / 127.0, 2)),
             cast(0.0 as double), (acc, e) -> acc + e)"""
    )
    return with_scale.select(
        "vec_id",
        F.round(F.col("maxabs") / 127.0, 9).alias("scale"),
        F.array_join(q.cast("array<string>"), ",").alias("q8"),
        F.round(recon_err / F.size("embedding"), 9).alias("mse"),
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.4
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-blocked: only pairs
    within the same coarse bucket are scored (exactly the candidate
    policy a 100 TB near-dup sweep uses; cross-bucket near-dups are
    the documented recall trade)."""
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "label"
    )
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        F.col("label").alias("label_b"),
    )
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cap_cluster_sizes(embeddings: DataFrame, max_size: int) -> DataFrame:
    """The SemDeDup paper's cluster-size cap (Abbas et al. 2023 §3:
    oversized clusters are re-clustered before pairing): any coarse
    label with more than ``max_size`` members is re-split into
    contiguous runs of at most ``max_size`` vectors ranked by
    (centroid_cosine ASC, vec_id ASC) — a deterministic 1-D split
    along the similarity-to-centroid axis, which keeps mutually-similar
    vectors in the same block far better than a random salt (near-dups
    have near-equal centroid cosine, so they land in the same run
    unless they straddle a boundary — the documented recall trade).

    Why this matters at 100 TB: without the cap, a skewed or
    low-entropy embedding space can put millions of vectors under one
    coarse label and the within-label pair join degenerates to
    O(|cluster|²) — the same failure class as the r04 ngram
    df-degeneracy. With the cap, candidate volume per label is bounded
    by ceil(n/max_size) · C(max_size, 2) ≈ n·(max_size−1)/2 — LINEAR
    in cluster size. The rank window partitions by label and carries
    the embedding through that ONE shuffle — deliberately: the pair
    join needs the vectors anyway, and shipping them once through the
    window is cheaper than a second ids-to-payload join shuffle.

    Output: (vec_id, label, sub, centroid_cosine, embedding); ``sub``
    is 0 for every label at-or-under the cap."""
    from pyspark.sql import Window

    if max_size < 1:
        raise ValueError(f"max_size must be >= 1, got {max_size}")
    ccos = embeddings.join(F.broadcast(centroids(embeddings)), "label").select(
        "vec_id",
        "label",
        "embedding",
        F.round(cosine(F.col("embedding"), F.col("centroid")), 6).alias(
            "centroid_cosine"
        ),
    )
    rn = F.row_number().over(
        Window.partitionBy("label").orderBy(
            F.col("centroid_cosine").asc(), F.col("vec_id").asc()
        )
    )
    return ccos.withColumn(
        "sub", ((rn - F.lit(1)) / F.lit(max_size)).cast("int")
    )


def embedding_neardup_pairs_capped(
    embeddings: DataFrame, threshold: float = 0.4, max_cluster_size: int = 100
) -> DataFrame:
    """:func:`embedding_neardup_pairs` with bounded per-block candidate
    volume: pairs are generated within (label, sub) blocks from
    :func:`cap_cluster_sizes` instead of raw labels, so a degenerate
    cluster can never re-create the all-pairs blowup the blocking
    exists to prevent."""
    capped = cap_cluster_sizes(embeddings, max_cluster_size)
    a = capped.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        "label", "sub",
    )
    b = capped.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        F.col("label").alias("label_b"), F.col("sub").alias("sub_b"),
    )
    return (
        a.join(
            b,
            (F.col("label") == F.col("label_b"))
            & (F.col("sub") == F.col("sub_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding — cluster the corpus (the IVF coarse
    labels here), score near-duplicate pairs ONLY within clusters, and
    among mutually-similar examples keep the one with the LOWEST
    cosine to its cluster centroid (the paper's diversity-preserving
    policy: prototypical members are redundant with the cluster,
    outliers carry information).

    Drop rule, deterministic and transitivity-free (the paper's
    sorted-scan formulation): example x is dropped iff some same-
    cluster y with cosine(x, y) ≥ threshold ranks AHEAD of x by
    (centroid_cosine ASC, vec_id ASC). One ranked verdict per input
    vector: (vec_id, label, centroid_cosine, kept).

    At 100 TB: candidate generation is the same label-blocked
    equi-join as :func:`embedding_neardup_pairs` (never all-pairs),
    the centroid table is broadcast, and the verdict join carries
    (vec_id, rank) pairs only. Pass ``max_cluster_size`` to apply the
    paper's cluster-size cap (:func:`cap_cluster_sizes`) so a skewed
    label can't degenerate the within-label pairing to O(n²); the
    keep-ranking still uses the ORIGINAL cluster centroid — the cap
    bounds candidate generation, not the diversity policy."""
    pairs = (
        embedding_neardup_pairs(embeddings, threshold)
        if max_cluster_size is None
        else embedding_neardup_pairs_capped(embeddings, threshold, max_cluster_size)
    )
    return semdedup_from_pairs(embeddings, pairs)


def semdedup_from_pairs(embeddings: DataFrame, pairs: DataFrame) -> DataFrame:
    """The SemDeDup verdict given an already-computed near-dup pair
    set (vec_a, vec_b[, cosine]) — lets threshold sweeps reuse one
    candidate join across curve points."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.caching import reuse

    # reuse() pins (r16): the verdict plan reads ``ccos`` THREE times
    # (my-rank side, partner side, final left join) and ``pairs``
    # twice (both directions of the sym union) — without the pins the
    # centroid aggregation + per-vector cosine scoring ran 3× and the
    # label-blocked pair join (the operator's dominant cost) 2× per
    # action (measured in the executed plan: 3 posexplode centroid
    # subtrees, 10 parquet scans, 0 cached relations).
    ccos = reuse(
        embeddings.join(F.broadcast(centroids(embeddings)), "label").select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("centroid")), 6).alias(
                "centroid_cosine"
            ),
        )
    )
    pairs = reuse(pairs)
    sym = pairs.select(
        F.col("vec_a").alias("vec_id"), F.col("vec_b").alias("partner")
    ).unionByName(
        pairs.select(F.col("vec_b").alias("vec_id"), F.col("vec_a").alias("partner"))
    )
    mine = ccos.select(
        "vec_id",
        F.col("centroid_cosine").alias("my_c"),
    )
    theirs = ccos.select(
        F.col("vec_id").alias("partner"),
        F.col("centroid_cosine").alias("their_c"),
    )
    dropped = (
        sym.join(mine, "vec_id")
        .join(theirs, "partner")
        .filter(
            (F.col("their_c") < F.col("my_c"))
            | ((F.col("their_c") == F.col("my_c")) & (F.col("partner") < F.col("vec_id")))
        )
        .select("vec_id")
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        ccos.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "centroid_cosine",
            F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("kept"),
        )
    )


PQ_M = 8  # subspaces (64-dim embedding -> 8 x 8-dim subvectors)
PQ_KS = 16  # codes per subspace codebook


def _pq_subdim(m: int) -> int:
    """Subspace width, failing loudly on a non-divisor ``m``: EMB_DIM
    // m would silently drop the trailing dimensions from codes and
    reconstruction, and pq_adc_topk's zip_with over unequal-length
    arrays yields NULL scores instead of an error."""
    if m <= 0 or EMB_DIM % m:
        raise ValueError(
            f"PQ subspace count m={m} must evenly divide the embedding "
            f"dimension {EMB_DIM}; got remainder {EMB_DIM % m if m > 0 else m}"
        )
    return EMB_DIM // m


def pq_codebook(embeddings: DataFrame, m: int = PQ_M, ks: int = PQ_KS) -> DataFrame:
    """Product-quantization codebooks by corpus sampling: subspace
    ``mi``'s codebook is the ``mi``-th subvector of the first ``ks``
    vectors (exactly k-means++-style init without the iterations —
    deterministic, so both engines derive identical codebooks; a
    production build would Lloyd-refine each subspace with
    :func:`kmeans_refine`'s loop discipline, which changes the
    codebook quality, not any plan shape below).

    Output: (m, code, sub) — m*ks rows, broadcastable always (a
    codebook is KB-sized regardless of corpus size: that is the whole
    point of PQ)."""
    sub = _pq_subdim(m)
    return (
        embeddings.filter(F.col("vec_id") < ks)
        .select(F.col("vec_id").alias("code"), "embedding")
        .select(
            "code",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {m - 1}), mi -> struct(mi AS m,"
                    f" slice(embedding, mi * {sub} + 1, {sub}) AS sub))"
                )
            ).alias("s"),
        )
        .select(F.col("s.m").alias("m"), "code", F.col("s.sub").alias("sub"))
    )


def _subvectors(embeddings: DataFrame, m: int) -> DataFrame:
    """(vec_id, m, sub): every vector split into its m subvectors —
    the map-only explode both the encoder and the codebook refiner
    scan (one corpus pass each, never shuffled for scoring)."""
    sub = _pq_subdim(m)
    return embeddings.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}), mi -> struct(mi AS m,"
                f" slice(embedding, mi * {sub} + 1, {sub}) AS sub))"
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("v_sub"))


def pq_codebook_refined(
    embeddings: DataFrame, m: int = PQ_M, ks: int = PQ_KS, iterations: int = 2
) -> DataFrame:
    """Lloyd-refine each subspace codebook: starting from the sampled
    :func:`pq_codebook`, alternate (assign subvectors to nearest code
    → recompute each code as the mean of its assigned subvectors)
    ``iterations`` times — per-subspace k-means, the step every
    production PQ build runs and the sampled codebook deliberately
    skips. Plan shape per iteration: one broadcast-codebook argmin
    (identical to :func:`pq_encode`) plus one positional-mean shuffle
    carrying (m, code, pos) rows — centroid recompute cost follows the
    corpus, never pairs.

    Determinism mirrors :func:`centroids`: position sums fold in
    vec_id order and round to 6 decimals; a code that attracts no
    subvectors keeps its previous entry (both engines agree via the
    same LEFT JOIN + COALESCE)."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.caching import reuse

    cb = pq_codebook(embeddings, m, ks)
    sv = _subvectors(embeddings, m)
    for _ in range(iterations):
        # pin each iteration's codebook (m×ks rows — KB-sized at any
        # corpus scale): without the pin, iteration i's plan re-derives
        # every earlier iteration's corpus-wide assign wherever cb is
        # referenced, and the lineage grows multiplicatively
        cb = reuse(_pq_refine_step(sv, cb, m))
    return cb


def _pq_assign(sv: DataFrame, cb: DataFrame) -> DataFrame:
    """Argmin code per (vec_id, m) against a broadcast codebook,
    KEEPING the winning rounded distance (the k-means objective term):
    (vec_id, m, code, d).

    Shape (r16): the codebook is folded PER SUBVECTOR ROW —
    ``array_min`` over a (d, code) struct array, whose lexicographic
    ordering is exactly the old ``row_number() OVER (ORDER BY d, code)``
    pick — instead of materializing a (subvectors × codes) row blowup
    through a shuffle and window-sorting it for the argmin. The assign
    is now map-only after a KB-sized broadcast (one 8-row array-typed
    codebook per subspace): no exchange, no per-pair row handling —
    A/B'd equal-output and faster at sf0.1, and at 100 TB it removes a
    (ks × corpus)-row shuffle from every encode."""
    cb_arr = cb.groupBy("m").agg(
        F.array_sort(F.collect_list(F.struct("code", "sub"))).alias("entries")
    )
    d_expr = (
        "round(aggregate(zip_with(v_sub, e.sub,"
        " (x, y) -> (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " 0.0d, (acc, v) -> acc + v), 6)"
    )
    return (
        sv.join(F.broadcast(cb_arr), "m")
        .select(
            "vec_id",
            "m",
            F.expr(
                f"array_min(transform(entries,"
                f" e -> struct({d_expr} AS d, e.code AS code)))"
            ).alias("s"),
        )
        .select("vec_id", "m", F.col("s.code").alias("code"), F.col("s.d").alias("d"))
    )


def _pq_refine_step(sv: DataFrame, cb: DataFrame, m: int) -> DataFrame:
    """One Lloyd iteration over every subspace: assign, then positional
    means in vec_id fold order; empty codes keep their previous entry."""
    assigned = _pq_assign(sv, cb).join(sv, ["vec_id", "m"])
    per_pos = (
        assigned.select(
            "m", "code", "vec_id", F.posexplode("v_sub").alias("pos0", "v")
        )
        .groupBy("m", "code", (F.col("pos0") + 1).alias("pos"))
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("vs"))
        .select(
            "m",
            "code",
            "pos",
            F.round(
                F.expr("aggregate(vs, 0.0d, (a, x) -> a + cast(x.v as double))")
                / F.size("vs"),
                6,
            ).alias("c"),
        )
    )
    new_subs = per_pos.groupBy("m", "code").agg(
        F.array_sort(F.collect_list(F.struct("pos", "c")))
        .getField("c")
        .alias("new_sub")
    )
    return cb.join(new_subs, ["m", "code"], "left").select(
        "m", "code",
        F.coalesce(F.col("new_sub"), F.col("sub")).alias("sub"),
    )


def pq_refinement_distortion(
    embeddings: DataFrame, m: int = PQ_M, ks: int = PQ_KS, iterations: int = 2
) -> DataFrame:
    """The k-means objective of the PQ build, per refinement iteration:
    total quantization distortion Σ min-code L2² over every (vector,
    subspace), for the sampled codebook (iteration 0) and after each
    Lloyd step. Lloyd's algorithm guarantees this is NON-INCREASING —
    a provable cross-engine fact even on uniform-random embeddings,
    where recall@k barely moves (measured: 0.32 sampled → 0.34-0.36
    after 1-3 iterations at sf0.01) because there is no cluster
    structure for better codebooks to exploit. Distortions are sums of
    6-decimal-rounded terms accumulated in DECIMAL, so the totals are
    exact integers-in-disguise on both engines.

    Output: (iteration, total_distortion) — one row per iteration in
    0..``iterations``. One corpus-sized assign per iteration (broadcast
    codebook, shuffle carries (vec_id, m) argmin rows only); the loop
    composes plans like :func:`kmeans_refine`, no driver data moves."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.caching import reuse

    cb = pq_codebook(embeddings, m, ks)
    sv = _subvectors(embeddings, m)
    out = None
    for it in range(iterations + 1):
        total = _pq_assign(sv, cb).agg(
            F.round(F.sum(F.col("d").cast("decimal(28,6)")).cast("double"), 6).alias(
                "total_distortion"
            ),
        ).select(F.lit(it).cast("int").alias("iteration"), "total_distortion")
        out = total if out is None else out.unionByName(total)
        if it < iterations:
            # pin the KB-sized codebook between iterations: otherwise
            # iteration i's distortion plan re-derives every earlier
            # corpus-wide assign (measured 2.9× the single-assign cost
            # at 80k vectors for ONE iteration, growing with depth)
            cb = reuse(_pq_refine_step(sv, cb, m))
    return out


def pq_residual_distortion(
    embeddings: DataFrame, m: int = PQ_M, ks: int = PQ_KS, iterations: int = 1
) -> DataFrame:
    """Raw vs RESIDUAL product quantization, measured by the
    quantization objective (round-6 verdict #5): total min-code L2²
    distortion for codes built over raw vectors vs over residuals
    (vec − coarse centroid, :func:`residuals`), each with the sampled
    codebook (iteration 0) and after ``iterations`` Lloyd steps.

    Residual encoding wins exactly as much variance as the coarse
    quantizer explains. On a corpus with REAL cluster structure that
    is most of it (why FAISS IVFPQ encodes residuals by default, for
    L2); on this harness's near-isotropic embeddings the coarse
    centroids explain ~2% of ||v||² (measured), so the residual totals
    sit consistently but only slightly below raw — and recall@10 at 5
    queries is within noise, which is why the GATE target is the
    objective, not recall (same honesty rule as
    ``ext_sim_pq_refined_distortion``; see README). Output: (variant,
    iteration, total_distortion)."""
    cents = centroids(embeddings)
    out = None
    for variant, src in (
        ("raw", embeddings),
        ("residual", residuals(embeddings, cents)),
    ):
        rows = pq_refinement_distortion(src, m, ks, iterations).select(
            F.lit(variant).alias("variant"), "iteration", "total_distortion"
        )
        out = rows if out is None else out.unionByName(rows)
    return out


def _pq_vec_encoded(embeddings: DataFrame, codebook: DataFrame, m: int) -> DataFrame:
    """One VECTOR-LEVEL map pass that both encodes and reconstructs:
    adds a ``_pq_w`` column — per subspace, the winning
    (d, code, sub) struct from an ``array_min`` fold over the
    broadcast codebook (lexicographic struct ordering = the
    rounded-distance argmin with code-ascending ties, the same
    cross-engine fact :func:`_pq_assign` pins; ``sub`` rides along so
    reconstruction is a field read, never a second codebook lookup).

    Why this shape (guide §2.4/§8): the sv-explode composition
    materialized m rows per vector, joined codes back to the codebook,
    and re-grouped by vec_id to reassemble the reconstruction — two
    shuffles of corpus-order rows that exist only to undo the explode.
    Here the whole codec is ONE projection after a 1-row broadcast
    (the per-subspace codebook arrays — KB-sized at any corpus scale,
    a deliberate bounded cross join, not an accidental cartesian):
    encode/reconstruct never shuffle, and every passthrough column
    (label for the IVF probe join) stays on the row for free."""
    sub = _pq_subdim(m)
    ent_all = (
        codebook.groupBy("m")
        .agg(F.array_sort(F.collect_list(F.struct("code", "sub"))).alias("entries"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("m", "entries"))).alias("es"))
    )
    d_expr = (
        f"round(aggregate(zip_with(slice(embedding, mi * {sub} + 1, {sub}), e.sub,"
        f" (x, y) -> (cast(x as double) - cast(y as double))"
        f" * (cast(x as double) - cast(y as double))),"
        f" 0.0d, (acc, v) -> acc + v), 6)"
    )
    win_expr = (
        f"transform(sequence(0, {m - 1}), mi ->"
        f" array_min(transform(element_at(es, mi + 1).entries, e ->"
        f" struct({d_expr} AS d, e.code AS code, e.sub AS sub))))"
    )
    return (
        embeddings.join(F.broadcast(ent_all))
        .withColumn("_pq_w", F.expr(win_expr))
        .drop("es")
    )


def pq_encode(
    embeddings: DataFrame, codebook: DataFrame, m: int = PQ_M
) -> DataFrame:
    """Encode every vector as ``m`` one-byte codes: per subspace,
    argmin squared-L2 against the (broadcast) codebook — ties break on
    code ascending over rounded distances, so the assignment is a
    cross-engine fact. The corpus scans ONCE and, since r16, NEVER
    shuffles: the argmin is a vector-level ``array_min`` fold over the
    broadcast codebook (:func:`_pq_vec_encoded`) and the (vec_id, m,
    code) rows fan out partition-locally — at 100 TB the old
    per-(vec_id, m) argmin exchange carried ks × corpus rows.

    Output: (vec_id, m, code)."""
    return _pq_vec_encoded(embeddings, codebook, m).select(
        "vec_id",
        F.posexplode(F.expr("transform(_pq_w, x -> x.code)")).alias("m", "code"),
    ).select("vec_id", F.col("m").cast("int").alias("m"), "code")


def pq_codes_table(embeddings: DataFrame, m: int = PQ_M, ks: int = PQ_KS) -> DataFrame:
    """The stored PQ index: (vec_id, pq_codes) with codes comma-joined
    in subspace order — 8 bytes of code per vector standing in for 256
    bytes of float32: the 32× compression that lets a 100 TB corpus's
    index live in cluster RAM."""
    # r16: the vector-level codec keeps all m codes on one row, so the
    # stored index is a map-side array_join — the old explode → groupBy
    # reassembly shuffled the whole code table to undo its own explode.
    return _pq_vec_encoded(embeddings, pq_codebook(embeddings, m, ks), m).select(
        "vec_id",
        F.expr("array_join(transform(_pq_w, x -> cast(x.code as string)), ',')").alias(
            "pq_codes"
        ),
    )


def pq_reconstruct(codes: DataFrame, codebook: DataFrame) -> DataFrame:
    """Decode: concatenate each vector's codebook entries in subspace
    order. Reconstruction copies codebook floats verbatim (no
    arithmetic), so both engines rebuild bit-identical vectors."""
    return (
        codes.join(F.broadcast(codebook), ["m", "code"])
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.array_sort(F.collect_list(F.struct("m", "sub"))).getField("sub")
            ).alias("recon")
        )
    )


def pq_adc_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = TOPK,
    m: int = PQ_M, ks: int = PQ_KS, codebook: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: the EXACT query scores RECONSTRUCTED
    corpus vectors — after encoding, the ranking touches only codes +
    codebook, never the original embeddings (the serving memory
    story; with a transposed layout this becomes the classic
    lookup-table ADC scan, same result). Recall loss vs brute force is
    quantization error, measured by ``ext_sim_pq_recall``; pass a
    Lloyd-refined ``codebook`` to measure how much of it refinement
    recovers (distortion drop pinned by
    ``ext_sim_pq_refined_distortion``)."""
    cb = codebook if codebook is not None else pq_codebook(embeddings, m, ks)
    # r16: vector-level fused encode+reconstruct — one map pass, no
    # codes explode, no reconstruct join/groupBy (see _pq_vec_encoded).
    recon = _pq_vec_encoded(embeddings, cb, m).select(
        "vec_id", F.expr("flatten(transform(_pq_w, x -> x.sub))").alias("recon")
    )
    scored = recon.join(F.broadcast(queries)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("recon"), F.col("q_embedding")), 6).alias("cosine"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return _ranked_topk(scored, k)


def residuals(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """Residual vectors for IVF-PQ: vec − its coarse centroid,
    component-rounded to 6 decimals so both engines derive the
    identical residual corpus. Residuals concentrate around the origin
    (the centroid explains the between-cluster variance), so the same
    PQ bit budget quantizes them with far less error than raw vectors
    — why FAISS's IVFPQ encodes residuals by default. Output keeps the
    ``embedding`` column name so every PQ builder accepts it
    unchanged; centroids are broadcast (KB-sized), the corpus never
    shuffles."""
    return embeddings.join(F.broadcast(cents), "label").select(
        "vec_id",
        "label",
        F.expr(
            "zip_with(embedding, centroid,"
            " (v, c) -> round(cast(v as double) - c, 6))"
        ).alias("embedding"),
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    k: int = TOPK,
    nprobe: int = 2,
    m: int = PQ_M,
    ks: int = PQ_KS,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ — the industry-standard ANN index composed from this
    module's two halves: the COARSE quantizer picks each query's
    ``nprobe`` best buckets (candidate volume = nprobe/n_clusters of
    the corpus), and PRODUCT-quantized codes score the candidates
    (memory touched per candidate = m bytes + the broadcast codebook,
    never the float vectors). At 100 TB: bucket probing bounds compute,
    PQ bounds memory — which is exactly why FAISS/SCaNN-class systems
    ship this composition. Both error sources (bucket misses,
    quantization) are measured separately by ``ext_sim_ivf_recall``
    and ``ext_sim_pq_recall``; this operator's ranked output is the
    composed index's answer.

    ``residual=True`` switches to residual encoding (round-6 verdict
    #5): codes quantize vec − coarse-centroid (:func:`residuals`) and
    reconstruction adds the centroid back — same bit budget, less
    quantization error, measured by ``ext_sim_ivfpq_residual_recall``.
    Plan shape is unchanged: one extra broadcast-centroid zip_with on
    each side of the codec, still no shuffle of float payloads."""
    # r16: vector-level fused encode+reconstruct (_pq_vec_encoded) —
    # one map pass; ``label`` rides the row, so the old join back to
    # embeddings (which existed only to reattach it) is gone too.
    if residual:
        res = residuals(embeddings, cents)
        cb = pq_codebook(res, m, ks)
        recon = (
            _pq_vec_encoded(res, cb, m)
            .select(
                "vec_id",
                "label",
                F.expr("flatten(transform(_pq_w, x -> x.sub))").alias("recon"),
            )
            .join(F.broadcast(cents), "label")
            .select(
                "vec_id",
                "label",
                F.expr(
                    "zip_with(recon, centroid, (r, c) -> round(r + c, 6))"
                ).alias("recon"),
            )
        )
    else:
        cb = pq_codebook(embeddings, m, ks)
        recon = _pq_vec_encoded(embeddings, cb, m).select(
            "vec_id",
            "label",
            F.expr("flatten(transform(_pq_w, x -> x.sub))").alias("recon"),
        )
    scored_cents = queries.join(
        F.broadcast(cents.select(F.col("label").alias("probe_label"), "centroid"))
    ).select(
        "query_id",
        "q_embedding",
        "probe_label",
        F.round(cosine(F.col("q_embedding"), F.col("centroid")), 6).alias("cos_c"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("probe_label").asc()
    )
    probes = (
        scored_cents.withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "q_embedding", "probe_label")
    )
    scored = recon.join(
        F.broadcast(probes), recon["label"] == probes["probe_label"]
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("recon"), F.col("q_embedding")), 6).alias("cosine"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return _ranked_topk(scored, k)


def kmeans_refine(embeddings: DataFrame, iterations: int = 2) -> DataFrame:
    """Lloyd's k-means refinement of the coarse IVF quantizer: starting
    from the existing ``label`` assignment, alternate (centroid
    recompute → nearest-centroid reassign) ``iterations`` times.

    Each iteration is the two one-shuffle steps the IVF build already
    exercises (positional centroid aggregation; broadcast-centroid
    argmax assignment) — the loop composes them with NO driver-side
    data movement: the only thing that iterates is the plan. Vectors
    whose cluster empties simply reassign to surviving centroids (both
    engines agree — no special casing).

    Determinism end-to-end: centroid component sums fold in vec_id
    order, assignment ties break on (rounded cosine DESC, label ASC).
    Returns (vec_id, final_label, cosine) after the last reassign.

    Each iteration's assignment is ``reuse()``-pinned (r16): iteration
    i's result is read by iteration i+1's centroid recompute, its
    reassign scan, AND the final cosine join — without the pin the
    composed plan re-derives the whole earlier history per reference
    (the old scale-note caveat; ``reuse``'s registry lifecycle already
    guarantees pins never leak into later gate queries, the concern
    that originally kept this lazy)."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.caching import reuse

    assigned = embeddings.select("vec_id", "embedding", "label")
    last = None
    for _ in range(iterations):
        cents = centroids(assigned)
        last = reuse(assign_centroids(assigned, cents))
        assigned = assigned.select("vec_id", "embedding").join(
            last.select("vec_id", F.col("assigned_label").alias("label")), "vec_id"
        )
    return assigned.join(
        last.select("vec_id", "cosine"), "vec_id"
    ).select("vec_id", F.col("label").alias("final_label"), "cosine")


def _query_embeddings(embeddings, query_ids):
    """(query_id, q_embedding) rows for the query batch — broadcast by
    every caller (queries are few)."""
    return embeddings.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )


def _lexical_overlap(docs: DataFrame, query_ids) -> DataFrame:
    """(query_id, doc_id, lex_overlap): distinct-word overlap with each
    query document — the inverted-index equi-join both the hybrid row
    and the recall comparison retrieve with (one implementation so the
    tokenization, self-exclusion and tie semantics can't diverge)."""
    dw = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(r"filter(split(lower(text), '\\s+'), x -> x != '')")
            )
        ).alias("word"),
    )
    qw = (
        dw.filter(F.col("doc_id").isin(list(query_ids)))
        .select(F.col("doc_id").alias("query_id"), "word")
    )
    return (
        dw.join(F.broadcast(qw), "word")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("lex_overlap"))
    )


def _cosine_rerank_topk(
    cands: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Rerank a (query_id, doc_id, ...) candidate set by embedding
    cosine against the broadcast query batch; keep top-``k`` per query
    with (cosine DESC, doc_id ASC) ties. Carries every extra candidate
    column through and appends (cosine, rank)."""
    from pyspark.sql import Window as W

    carry = [c for c in cands.columns if c not in ("query_id", "doc_id")]
    reranked = (
        cands.join(
            embeddings.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "doc_id",
            *carry,
            F.round(cosine(F.col("embedding"), F.col("q_embedding")), 6).alias(
                "cosine"
            ),
        )
    )
    wr = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    return (
        reranked.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
    )


def hybrid_search_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_ids: tuple[int, ...] = (0, 1, 2),
    lexical_k: int = 20,
    k: int = 10,
) -> DataFrame:
    """Retrieve-then-rerank hybrid search — the two-stage shape every
    RAG data pipeline runs: a CHEAP lexical stage proposes candidates
    (distinct-word overlap with the query document, the integer
    skeleton of BM25 — exact cross-engine), then the EXPENSIVE vector
    stage reranks only those ``lexical_k`` candidates by embedding
    cosine. Output: (query_id, doc_id, lex_overlap, cosine, rank),
    top-``k`` per query with deterministic (cosine DESC, doc_id) ties.

    At 100 TB: the query-side word sets and embeddings broadcast
    (queries are few); candidate generation is a word equi-join
    against the corpus (an inverted index in relational form — never
    all-pairs); the vector join touches lexical_k × |queries| rows, so
    the expensive cosine never scans the corpus. Recall is bounded by
    the lexical stage — the documented trade the two-stage design
    makes on purpose."""
    from pyspark.sql import Window as W

    wl = W.partitionBy("query_id").orderBy(
        F.col("lex_overlap").desc(), F.col("doc_id").asc()
    )
    cands = (
        _lexical_overlap(docs, query_ids)
        .withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= lexical_k)
        .drop("lex_rank")
    )
    return _cosine_rerank_topk(
        cands, embeddings, _query_embeddings(embeddings, query_ids), k
    )


def bm25_tokenize(text) -> "F.Column":
    """THE BM25 tokenizer, as a column expression: whitespace-split
    lowercased text, empties dropped. One function — not kept-in-sync
    copies — feeds every BM25 path: from-scratch scoring
    (:func:`bm25_tokens`), the maintained index's change-feed fold
    (``search_index._signed_tokens``), and free-text QUERY
    tokenization at serve time (``search_index.bm25_score_from_text``)
    — the ES ``/_search`` shape where consumers post text, which is
    only correct if query terms normalize exactly like indexed terms."""
    return F.filter(
        F.split(F.lower(text), r"\s+"), lambda x: x != F.lit("")
    )


def bm25_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, word) token stream of :func:`bm25_tokenize` — the
    from-scratch build/score side of the shared tokenizer."""
    return docs.select(
        "doc_id", F.explode(bm25_tokenize(F.col("text"))).alias("word")
    )


def bm25_index_components(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two BM25 index tables: per-(doc, word) term frequency
    ``tf`` and per-doc length ``dl``. Everything else BM25 needs is
    derivable — df is a word-grouped count over tf (query-term-pruned
    at score time, full-vocab when persisted as an index table) and
    (n_docs, sum_dl) is a 1-row fold of dl. Both are map-side-
    combinable counts, which is what makes the index MAINTAINABLE
    under a change feed via signed deltas (``search_index.py``)."""
    toks = bm25_tokens(docs)
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # dl = total tokens per doc = sum of tf — derived from tf instead
    # of a SECOND pass over the token stream (r16): same doc set (a
    # doc with ≥1 token has ≥1 tf row), same bigint counts.
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return tf, dl


def bm25_score_components(
    tf: DataFrame,
    dl: DataFrame,
    query_ids: tuple[int, ...] = (),
    df: DataFrame | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    query_terms: DataFrame | None = None,
    with_terms: bool = False,
) -> DataFrame:
    """BM25 scoring against prebuilt (tf, dl) index components —
    shared by the from-scratch path (:func:`bm25_scored_candidates`)
    and the lake-persisted incremental index
    (``search_index.bm25_score_from_index``), so a maintained index
    provably scores identically to a fresh build.

    ``df`` is the (word, df) document-frequency table — pass the
    PERSISTED one when scoring from an index; ``None`` derives it from
    ``tf``. Either way it is pruned to the query's terms BEFORE the
    broadcast: only query-term words can survive the candidate join,
    and at web scale the full vocabulary is 10⁸⁺ terms — a
    query-term-sized broadcast instead of a vocabulary-sized one
    (round-8 verdict nit).

    Query terms come from ONE of two places:

    - ``query_ids`` — corpus-member queries (the demo shape): each
      query's terms are its own doc's distinct tf words, and the query
      doc EXCLUDES ITSELF from the candidates (it would trivially top
      its own ranking).
    - ``query_terms`` — a (query_id, word) DataFrame of already-
      tokenized FREE-TEXT queries (the ES ``/_search`` shape,
      ``search_index.bm25_score_from_text``): query ids live in their
      own id space, so NO self-exclusion applies — a doc whose id
      happens to equal a query id is an ordinary candidate."""
    if (query_terms is None) == (not query_ids):
        raise ValueError("pass exactly one of query_ids / query_terms")
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    if query_terms is not None:
        qw = query_terms.select("query_id", "word").distinct()
        exclude_self = False
    else:
        qw = (
            tf.filter(F.col("doc_id").isin(list(query_ids)))
            .select(F.col("doc_id").alias("query_id"), "word")
        )
        exclude_self = True
    qwords = qw.select("word").distinct()
    if df is None:
        # df only over query-term postings: the groupBy input is
        # pre-filtered by the broadcast semi-join, so both the
        # aggregate and the later broadcast are query-term-sized
        df = (
            tf.join(F.broadcast(qwords), "word", "left_semi")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("df"))
        )
    else:
        df = df.join(F.broadcast(qwords), "word", "left_semi")
    cand = tf.join(F.broadcast(qw), "word")
    if exclude_self:
        cand = cand.filter(F.col("doc_id") != F.col("query_id"))
    cand = (
        cand.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))  # 1-row scalar
    )
    # Constants folded in PYTHON so the oracle can inline the same
    # doubles; every sub-expression parenthesized to pin eval order.
    one_minus_b = 1.0 - b
    k1_plus_1 = k1 + 1.0
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(one_minus_b) + (F.lit(b) * F.col("dl").cast("double")) / avgdl
    )
    s = idf * ((F.col("tf").cast("double") * F.lit(k1_plus_1)) / denom)
    per = (
        cand.select("query_id", "doc_id", "word", s.alias("s"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.array_sort(F.collect_list(F.struct("word", "s"))).alias("ws"),
        )
    )
    fold = F.aggregate(F.col("ws"), F.lit(0.0), lambda acc, x: acc + x["s"])
    cols = ["query_id", "doc_id", "n_terms", fold.alias("bm25")]
    if with_terms:
        # ES-highlighting's data: which query terms this doc matched.
        # ws is already word-sorted (the ordered fold's array_sort), so
        # the joined string is deterministic; a STRING, not an array —
        # the driver canonicalizer cannot hash array cells.
        cols.append(
            F.array_join(F.col("ws").getField("word"), " ").alias(
                "matched_terms"
            )
        )
    return per.select(*cols)


def bm25_scored_candidates(
    docs: DataFrame,
    query_ids: tuple[int, ...] = (0, 1, 2),
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 (Robertson-Sparck Jones) scores for every document sharing
    at least one term with a query document — the real weighting the
    hybrid row's raw word-overlap stage is the integer skeleton of:

        score(q,d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*|d|/avgdl))

    with ratio-idf ``(N-df+0.5)/(df+0.5)`` instead of its logarithm —
    ln is libm territory (not correctly rounded, engine-dependent),
    while this form is a handful of IEEE ops in a FIXED order, so both
    engines produce bit-identical doubles (the engine-wide ratio-idf /
    one-division discipline; same trade as the bigram LM's arithmetic
    mean). The per-(query,doc) term sum folds in word order — an
    ordered, doc-bounded fold, never an unordered double sum.

    Plan shape at 100 TB: tf/dl are map-side-combinable aggregates
    over the token stream; candidate generation is the postings-list
    equi-join on word against the BROADCAST query term set (an
    inverted index in relational form — never all-pairs); df is
    computed over — and broadcast at — QUERY-TERM size, and the
    (N, sum_dl) scalar is 1 row. Output:
    (query_id, doc_id, n_terms, bm25)."""
    tf, dl = bm25_index_components(docs)
    # NOT pinned: tf has four consumers (query words, df, candidates,
    # dl), but a reuse() pin was measured SLOWER at sf0.1 AND at 80k
    # docs (2.06 → 2.64 interleaved) — caching the corpus-token-sized
    # tf table costs more than the extra map-side passes, the same
    # receipt as tfidf's tf (r16). The pins that do pay here are the
    # doc-level ones in search_method_recall.
    return bm25_score_components(tf, dl, query_ids, df=None, k1=k1, b=b)


def search_method_recall(
    docs: DataFrame,
    embeddings: DataFrame,
    query_ids: tuple[int, ...] = (0, 1, 2),
    k: int = 10,
    pool: int = 20,
) -> DataFrame:
    """Lexical-overlap vs BM25 vs hybrid (BM25 retrieve → cosine
    rerank), each scored as recall@k against the brute-force cosine
    truth set — the side-by-side a retrieval stack is actually chosen
    by. One row per (query_id, method): (n_hits, recall).

    Hybrid's candidate pool is ``pool`` (> k): the rerank stage can
    recover cosine-relevant docs the pure-BM25 top-k ordering missed,
    which is exactly the effect this row makes measurable. All three
    method top-k sets and the truth set use deterministic (score DESC,
    doc_id ASC) ties, so membership — and therefore every recall value
    — is exact cross-engine."""
    from pyspark.sql import Window as W

    from kafka_cdc_elasticsearch_pipeline_spark.operators.caching import reuse

    queries = _query_embeddings(embeddings, query_ids)
    # reuse() pins (r16): ``truth`` is joined by all THREE method
    # branches — without the pin the brute-force cosine pass over the
    # corpus ran once per method; ``bm_ranked`` feeds both the bm25
    # top-k and the hybrid candidate pool — without the pin the whole
    # BM25 scoring ran twice (the executed plan showed 14 document
    # scans / 8 embeddings scans for this one query).
    truth = reuse(
        brute_force_topk(embeddings, queries, k=k).select(
            "query_id", F.col("neighbor_id").alias("doc_id"), F.lit(1).alias("hit")
        )
    )

    w_lex = W.partitionBy("query_id").orderBy(
        F.col("lex_overlap").desc(), F.col("doc_id").asc()
    )
    lex_k = (
        _lexical_overlap(docs, query_ids)
        .withColumn("r", F.row_number().over(w_lex))
        .filter(F.col("r") <= k)
        .select("query_id", "doc_id")
    )

    bm = bm25_scored_candidates(docs, query_ids)
    w_bm = W.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    bm_ranked = reuse(bm.withColumn("r", F.row_number().over(w_bm)))
    bm_k = bm_ranked.filter(F.col("r") <= k).select("query_id", "doc_id")

    cand = bm_ranked.filter(F.col("r") <= pool).select("query_id", "doc_id")
    hyb_k = _cosine_rerank_topk(cand, embeddings, queries, k).select(
        "query_id", "doc_id"
    )

    def method_recall(topk: DataFrame, name: str) -> DataFrame:
        return (
            topk.join(truth, ["query_id", "doc_id"], "left")
            .groupBy("query_id")
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"))
            .select(
                "query_id",
                F.lit(name).alias("method"),
                "n_hits",
                F.round(F.col("n_hits").cast("double") / F.lit(float(k)), 6).alias(
                    "recall"
                ),
            )
        )

    return (
        method_recall(lex_k, "lexical")
        .unionByName(method_recall(bm_k, "bm25"))
        .unionByName(method_recall(hyb_k, "hybrid"))
    )
