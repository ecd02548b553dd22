"""LLM-data-pipeline queries — SURVEY.md §2 B60-B69 + driver mandate:
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search
(brute-force + IVF), multimodal columns, text analysis (token stats,
TF-IDF, quality, language-ID, fingerprints, sentiment, time-series
profiles).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from lambda_arc_events_filter_spark.cache import session_artifact
from lambda_arc_events_filter_spark.catalog import load, values_relation
from lambda_arc_events_filter_spark.functions.exact import (
    round_int_ratio,
    round_int_ratio_sql,
)
from lambda_arc_events_filter_spark.operators import dedup as D
from lambda_arc_events_filter_spark.operators import similarity as S
from lambda_arc_events_filter_spark.operators import text as T
from lambda_arc_events_filter_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    synthesize_bmp,
    synthesize_wav,
)
from lambda_arc_events_filter_spark.queries.text_index import (
    tf_index,
    vocab_stats,
)
from lambda_arc_events_filter_spark.registry import register

# ---------------------------------------------------------------------------
# Dedup family (B60, B61)
# ---------------------------------------------------------------------------

#: Shared corpus postings index: localCheckpointed (_id, _blk, sk, _n)
#: shingle-postings relation per (applicationId, sf_dir).  The inverted
#: index is a CORPUS ARTIFACT every shingle-dedup query probes (exact
#: Jaccard, MinHash LSH, capped LSH) — build-once/probe-many, the same
#: split ``_ivf_index`` uses on the embedding side and what a resident
#: engine amortizes across its dedup passes.
def _postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_arc_events_filter_spark.queries.postings import (
        build_postings_index,
    )

    return session_artifact(
        spark,
        sf_dir,
        "postings_by_lang",
        lambda: build_postings_index(spark, sf_dir, F.col("lang")),
    )


#: LocalCheckpointed uncapped (_id, _n, minhash) signature relation — the
#: second stored half of the MinHash index (the capped variant filters
#: the signature INPUT, so it builds its own).
def _minhash_signature_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_artifact(
        spark,
        sf_dir,
        "minhash_signatures",
        lambda: D.minhash_signatures(
            _postings_index(spark, sf_dir).drop("_blk")
        ).localCheckpoint(),
    )


#: The IVF index (centroids, cell-partitioned unit corpus) over the
#: embeddings table, built once per session (``S.ivf_build_index``).
def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    return session_artifact(
        spark,
        sf_dir,
        "ivf",
        lambda: S.ivf_build_index(load(spark, sf_dir, "embeddings")),
    )


@register(
    "dedup_exact_docs",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("llm", "dedup"),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B60 exact dedup: content-hash grouping with a deterministic keeper
    (min doc_id).  One map-side-combinable aggregate — the 100 TB baseline
    dedup pass."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_JACCARD_ORACLE = """
    WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') t FROM documents),
    pos AS (SELECT doc_id, lang, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
    sh AS (SELECT DISTINCT a.doc_id, a.lang, a.w || ' ' || b.w || ' ' || c.w AS s
           FROM pos a
           JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
    n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
    pair AS (SELECT x.doc_id id_a, y.doc_id id_b, count(*) c
             FROM sh x JOIN sh y ON x.s = y.s AND x.lang = y.lang
                                AND x.doc_id < y.doc_id
             GROUP BY 1, 2)
    SELECT id_a, id_b, round(c * 1.0 / (nx.n + ny.n - c), 6) AS jaccard
    FROM pair
    JOIN n nx ON id_a = nx.doc_id
    JOIN n ny ON id_b = ny.doc_id
    WHERE c * 1.0 / (nx.n + ny.n - c) >= 0.5
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_ORACLE,
    tags=("llm", "dedup"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.5), blocked
    by lang, via the codegen shingle-postings inverted index
    (operators/dedup.py::shingle_postings).  The fixture corpus contains
    planted near-dups at J≈0.98 — this finds exactly those."""
    post = _postings_index(spark, sf_dir)
    return D.exact_jaccard_pairs(
        None, id_col="doc_id", block_col="lang", threshold=0.5, postings=post
    )


_JACCARD_ORACLE_UNBLOCKED = """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
    pos AS (SELECT doc_id, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
    sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
           FROM pos a
           JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
    n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
    pair AS (SELECT x.doc_id id_a, y.doc_id id_b, count(*) c
             FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
             GROUP BY 1, 2)
    SELECT id_a, id_b, round(c * 1.0 / (nx.n + ny.n - c), 6) AS jaccard
    FROM pair
    JOIN n nx ON id_a = nx.doc_id
    JOIN n ny ON id_b = ny.doc_id
    WHERE c * 1.0 / (nx.n + ny.n - c) >= 0.5
"""


@register(
    "dedup_minhash_lsh",
    oracle=_JACCARD_ORACLE_UNBLOCKED,
    tags=("llm", "dedup"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B61 MinHash+LSH near-dup detection, exact-verified.

    96 hash permutations → 16 bands × 6 rows → bucket equi-join candidates
    → exact-Jaccard filter ≥ 0.5.  Oracle = UNBLOCKED exact all-pairs
    Jaccard: unlike the exact variant no lang blocking is needed — LSH
    buckets replace blocking, which is what scales to an unblocked 100 TB
    corpus.  Sound because at the fixture's planted-dup similarity (J≥0.89)
    b=16/r=6 recall is ≈1 (P[miss] = (1-J^6)^16 ≈ 1e-5 at J=0.89, <1e-12
    at J=0.98) — verified exactly on both gate SFs by tests + tools/check.

    Uncapped: a 5000-doc fixture corpus has no stop-shingles (max df
    25/5000), so the posting-frequency cap would be a pure no-op pass here
    (measured +1.0 s at sf0.1: one extra full-postings aggregate + a
    broadcast barrier before the signature stage).  The capped path — the
    100 TB skew lever — is driver-verified separately as
    ``dedup_minhash_lsh_capped`` below; pytest pins capped == uncapped.
    """
    post = _postings_index(spark, sf_dir).drop("_blk")
    sig = _minhash_signature_index(spark, sf_dir)
    return D.minhash_lsh_pairs(
        None, id_col="doc_id", threshold=0.5, postings=post, signatures=sig
    )


@register(
    "dedup_minhash_lsh_capped",
    oracle=_JACCARD_ORACLE_UNBLOCKED,
    tags=("llm", "dedup"),
    # The CAPPED signature set is rebuilt + checkpointed per call (the
    # cap filters the signature input, so it cannot share the uncapped
    # index) — not a resident index, so its plan is never cached.
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the posting-frequency cap engaged (max_doc_freq=500):
    stop-shingles above the cap are anti-joined out of the signature input
    before the permutation mins (operators/dedup.py::minhash_lsh_pairs).

    On a real corpus this is THE residual-skew lever — a "the end of"
    shingle floods every signature and its posting list melts one reducer;
    here it is semantics-neutral (fixture max df 25 < 500, so output ==
    ``dedup_minhash_lsh`` == the exact all-pairs oracle), which is exactly
    what makes it driver-verifiable: same oracle, same rows, cap engaged.
    Verification always counts over full postings, so emitted jaccard
    values stay exact even when the cap does bite.
    """
    post = _postings_index(spark, sf_dir).drop("_blk")
    return D.minhash_lsh_pairs(
        None, id_col="doc_id", threshold=0.5, max_doc_freq=500, postings=post
    )


_JACCARD_ORACLE_APPEND = _JACCARD_ORACLE_UNBLOCKED.replace(
    "WHERE c * 1.0 / (nx.n + ny.n - c) >= 0.5",
    "WHERE c * 1.0 / (nx.n + ny.n - c) >= 0.5"
    " AND (id_a % 5 = 0 OR id_b % 5 = 0)",
)


@register(
    "dedup_minhash_incremental",
    oracle=_JACCARD_ORACLE_APPEND,
    tags=("llm", "dedup", "incremental"),
    # snapshot index artifacts are rebuilt + localCheckpointed per call
    # (not resident indexes), so the prepared plan is never cached.
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup on corpus APPEND — the dedup twin
    of ``ann_ivf_incremental_refresh``'s steady-state discipline: 80% of
    the corpus plays the already-deduplicated snapshot (its postings +
    signature index localCheckpointed, the persisted-artifact stand-in),
    the doc_id % 5 == 0 docs arrive as the new shard, and the query
    emits exactly the near-dup pairs the append INTRODUCES — delta ×
    snapshot and delta × delta — without ever generating the snapshot ×
    snapshot quadrant, which is the overwhelming candidate mass on a
    100 TB corpus that re-runs dedup per ingest batch.

    The oracle is the one-shot full-corpus exact all-pairs Jaccard
    RESTRICTED to pairs touching the delta: hash-equality proves
    append-time dedup finds precisely the pairs a full re-run would
    (LSH recall ≈ 1 at the fixture's planted-dup similarity, same
    b=16/r=6 argument as ``dedup_minhash_lsh``); the snapshot-only
    complement is pinned Spark-side in tests/test_llm.py
    (snapshot-pairs ∪ append-pairs == one-shot pairs).  Per-append cost
    is O(|delta| + band collisions) independent of snapshot size: delta
    signatures derive from delta docs alone, and at scale the delta's
    band keys broadcast-probe the band-bucketed snapshot index.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    snap = d.filter(F.col("doc_id") % 5 != 0)
    delta = d.filter(F.col("doc_id") % 5 == 0)
    snap_post = D.shingle_postings(
        snap, "doc_id", with_sizes=True
    ).localCheckpoint()
    snap_sig = D.minhash_signatures(snap_post).localCheckpoint()
    return D.minhash_lsh_pairs_append(
        snap_post, snap_sig, delta, id_col="doc_id", threshold=0.5
    )


@register("dedup_simhash_pairs", oracle=None, tags=("llm", "dedup"))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 6 of 64 bits), candidate-blocked
    by sub-block COMBINATION keys (operators/dedup.simhash_near_pairs:
    s = 8 sub-blocks, every pair of sub-blocks is a key — pigeonhole
    guarantees recall at the radius; the old single-quarter scheme only
    guaranteed Hamming ≤ 3).  Rows-only check: xxhash64 isn't
    reproducible in the DuckDB oracle; tests/test_llm.py pins guaranteed
    recall on constructed Hamming-4..6 pairs, fingerprint determinism,
    and the constructed near/far separation instead."""
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    sh = D.with_simhash(d, id_col="doc_id")
    return D.simhash_near_pairs(sh, id_col="doc_id", max_hamming=6)


# ---------------------------------------------------------------------------
# Similarity search (B62, B63)
# ---------------------------------------------------------------------------


@register(
    "embedding_topk_cosine",
    oracle="""
    WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id nid, embedding::DOUBLE[] cv FROM embeddings),
    s AS (SELECT qid AS query_id, nid AS neighbor_id,
                 round(list_cosine_similarity(qv, cv), 6) AS score
          FROM q JOIN c ON nid <> qid),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rank
          FROM s)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
    """,
    tags=("llm", "similarity"),
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B62 exact ANN baseline: brute-force cosine top-5 for 5 query vectors.
    Query side broadcast; corpus never shuffled; HOF dot products in
    codegen."""
    e = load(spark, sf_dir, "embeddings")
    return S.brute_force_topk(e.filter(F.col("vec_id") < 5), e, k=5)


@register(
    "vector_norms",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_reduce(list_transform(embedding::DOUBLE[],
                 x -> x * x), (a, b) -> a + b)), 6)                AS l2_norm,
           round(embedding[1]::DOUBLE
                 / sqrt(list_reduce(list_transform(embedding::DOUBLE[],
                   x -> x * x), (a, b) -> a + b)), 6)              AS first_normed,
           round(list_reduce(embedding::DOUBLE[], (a, b) -> a + b)
                 / len(embedding), 6)                              AS mean_comp,
           round(list_reduce(list_transform(embedding::DOUBLE[],
                 x -> abs(x)), (a, b) -> a + b), 6)                AS l1_norm
    FROM embeddings
    """,
    tags=("llm", "similarity"),
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B63 vector ops as columns: L2/L1 norms, normalization, mean — pure
    Catalyst HOFs, the building blocks of the similarity operators."""
    e = load(spark, sf_dir, "embeddings")
    l2 = S.norm_expr("embedding")
    return e.select(
        "vec_id",
        F.round(l2, 6).alias("l2_norm"),
        F.round(F.element_at("embedding", 1).cast("double") / l2, 6).alias(
            "first_normed"
        ),
        F.round(
            F.expr(
                "aggregate(transform(embedding, x -> cast(x as double)), 0D,"
                " (a, b) -> a + b)"
            )
            / F.size("embedding"),
            6,
        ).alias("mean_comp"),
        F.round(
            F.expr(
                "aggregate(transform(embedding, x -> abs(cast(x as double))),"
                " 0D, (a, b) -> a + b)"
            ),
            6,
        ).alias("l1_norm"),
    )


@register(
    "ann_ivf_topk",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
    ex AS (SELECT label, unnest(v) val, generate_subscripts(v, 1) pos FROM e),
    cent AS (SELECT label AS cell, list(m ORDER BY pos) AS centroid
             FROM (SELECT label, pos, round(avg(val), 6) AS m
                   FROM ex GROUP BY 1, 2)
             GROUP BY label),
    q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 5),
    probe AS (SELECT qid, cell FROM (
        SELECT qid, cell,
               row_number() OVER (PARTITION BY qid
                 ORDER BY round(list_cosine_similarity(qv, centroid), 6) DESC,
                          cell) AS pr
        FROM q CROSS JOIN cent) WHERE pr <= 2),
    cand AS (SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                    round(list_cosine_similarity(q.qv, e.v), 6) AS score
             FROM probe
             JOIN e ON e.label = probe.cell
             JOIN q ON q.qid = probe.qid
             WHERE e.vec_id <> q.qid),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rank
          FROM cand)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
    """,
    tags=("llm", "similarity"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B62 scale path: IVF-style ANN — probe the 2 nearest of 10 centroid
    cells, exact-score only within them (~5× less scoring than brute force
    here; ncells/nprobe× in general).  Centroid components round to 6
    decimals on both engines so cell ranking is drift-free.

    The index (centroids + unit-vector corpus partitioned by cell) is
    built once per session and cached — the query itself is probe-only,
    as it must be at 100 TB where the index is a persisted artifact."""
    e = load(spark, sf_dir, "embeddings")
    idx = _ivf_index(spark, sf_dir)
    return S.ivf_topk(e.filter(F.col("vec_id") < 5), k=5, nprobe=2, index=idx)


@register(
    "ann_ivf_incremental_refresh",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
    ex AS (SELECT label, unnest(v) val, generate_subscripts(v, 1) pos FROM e),
    cent AS (SELECT label AS cell, list(m ORDER BY pos) AS centroid
             FROM (SELECT label, pos, round(avg(val), 6) AS m
                   FROM ex GROUP BY 1, 2)
             GROUP BY label),
    q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 5),
    probe AS (SELECT qid, cell FROM (
        SELECT qid, cell,
               row_number() OVER (PARTITION BY qid
                 ORDER BY round(list_cosine_similarity(qv, centroid), 6) DESC,
                          cell) AS pr
        FROM q CROSS JOIN cent) WHERE pr <= 2),
    cand AS (SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                    round(list_cosine_similarity(q.qv, e.v), 6) AS score
             FROM probe
             JOIN e ON e.label = probe.cell
             JOIN q ON q.qid = probe.qid
             WHERE e.vec_id <> q.qid),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rank
          FROM cand)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
    """,
    tags=("llm", "similarity", "incremental"),
)
def ann_ivf_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance on corpus APPEND — the
    steady-state story for a 100 TB retrieval corpus, which is
    append-mostly: 80% of the embeddings play the persisted snapshot
    (its per-(cell, pos) sufficient statistics and cell-partitioned unit
    vectors localCheckpointed — the local stand-in for the persisted
    index artifacts, exactly ``ivf_build_index``'s convention), the
    vec_id % 5 == 0 rows arrive as the append, and the refresh path
    scans ONLY the delta: stats-merge over the tiny (cell, pos) relation
    re-derives the centroids, delta unit vectors append as new cell
    partitions, and the snapshot corpus is never rescanned, reshuffled,
    or rewritten.  The DuckDB oracle is the ONE-SHOT FULL REBUILD
    running the same nprobe=2 / k=5 probe — hash-equality of the probe
    results IS the proof that snapshot ⊎ delta ≡ rebuild (the D117/H5
    incremental discipline applied to the ANN index).

    Persisting (sum, count) rather than the rounded centroid is the
    design point: rounded means cannot absorb an append, while
    sufficient statistics merge associatively with any number of deltas
    and re-derive exactly the rebuild's rounded means.  The fn
    materializes the snapshot artifacts via localCheckpoint, so its plan
    is never cached.
    """
    e = load(spark, sf_dir, "embeddings")
    snap = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    snap_stats = S.ivf_cell_stats(snap).localCheckpoint()
    snap_units = S.corpus_units(snap).localCheckpoint()
    cents, units = S.ivf_refresh_append(snap_stats, snap_units, delta)
    return S.ivf_topk(
        e.filter(F.col("vec_id") < 5), k=5, nprobe=2, index=(cents, units)
    )


@register(
    "ann_ivfpq_topk",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
    ex AS (SELECT vec_id, label, unnest(v) val, generate_subscripts(v, 1) pos
           FROM e),
    cm AS (SELECT label AS cell, pos, round(avg(val), 6) AS m
           FROM ex GROUP BY 1, 2),
    cent AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cm
             GROUP BY cell),
    -- residuals vs own-cell centroid; PQ codebook = residual slices of
    -- vec_id 0..15 (the deterministic fixture codebook convention)
    r AS (SELECT ex.vec_id, ex.label AS cell, ex.pos, ex.val - cm.m AS rv
          FROM ex JOIN cm ON cm.cell = ex.label AND cm.pos = ex.pos),
    cb AS (SELECT CAST(vec_id AS INTEGER) AS code, pos, rv AS cv
           FROM r WHERE vec_id < 16),
    -- per-(vector, subspace) scaled-integer distance to each code;
    -- argmin with (d, code) tie order
    dist AS (SELECT r.vec_id, (r.pos - 1) // 16 AS sv, cb.code,
                    CAST(round(round(sum((r.rv - cb.cv) * (r.rv - cb.cv)), 6)
                         * 1000000) AS BIGINT) AS d
             FROM r JOIN cb ON cb.pos = r.pos
             GROUP BY 1, 2, 3),
    assign AS (SELECT vec_id, sv, code FROM (
        SELECT vec_id, sv, code,
               row_number() OVER (PARTITION BY vec_id, sv
                                  ORDER BY d, code) AS rn
        FROM dist) WHERE rn = 1),
    q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 5),
    probe AS (SELECT qid, cell FROM (
        SELECT q.qid, cent.cell,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(q.qv, cent.centroid),
                                6) DESC, cent.cell) AS pr
        FROM q CROSS JOIN cent) WHERE pr <= 2),
    -- query residual vs EACH probed cell's centroid → 4x4 ADC LUT
    qr AS (SELECT p.qid, p.cell, qx.pos, qx.val - cm.m AS qrv
           FROM probe p
           JOIN ex qx ON qx.vec_id = p.qid
           JOIN cm ON cm.cell = p.cell AND cm.pos = qx.pos),
    lut AS (SELECT qr.qid, qr.cell, (qr.pos - 1) // 16 AS sv, cb.code,
                   CAST(round(round(sum((qr.qrv - cb.cv) * (qr.qrv - cb.cv)),
                        6) * 1000000) AS BIGINT) AS d
            FROM qr JOIN cb ON cb.pos = qr.pos
            GROUP BY 1, 2, 3, 4),
    adc AS (SELECT l.qid AS query_id, c.vec_id AS neighbor_id, l.cell,
                   CAST(sum(l.d) AS BIGINT) AS adc_int
            FROM e c
            JOIN assign a ON a.vec_id = c.vec_id
            JOIN lut l ON l.cell = c.label AND l.sv = a.sv
                      AND l.code = a.code
            WHERE c.vec_id <> l.qid
            GROUP BY 1, 2, 3),
    short AS (SELECT query_id, neighbor_id, adc_int FROM (
        SELECT query_id, neighbor_id, adc_int,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_int, neighbor_id) AS rn
        FROM adc) WHERE rn <= 50),
    rr AS (SELECT s.query_id, s.neighbor_id,
                  round(s.adc_int / 1000000.0, 6) AS adc_dist,
                  round(list_cosine_similarity(q.qv, c.v), 6) AS score
           FROM short s
           JOIN q ON q.qid = s.query_id
           JOIN e c ON c.vec_id = s.neighbor_id),
    fin AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, neighbor_id)
                      AS rank
            FROM rr)
    SELECT query_id, neighbor_id, adc_dist, score, rank
    FROM fin WHERE rank <= 5
    """,
    tags=("llm", "similarity"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (r12 verdict ask #4): PQ-coded residuals probed per IVF
    cell with ADC scoring, exact cosine re-rank of the 50-candidate
    shortlist, top-5 out — the composition billion-scale ANN serving
    uses (Jégou et al. TPAMI 2011; FAISS IVF-PQ — public).  The engine
    already shipped IVF (`ann_ivf_topk`) and PQ encode
    (`embedding_pq_assign`) separately; this stitches them: residual
    encoding (vector − own-cell centroid), a per-(query, probed-cell)
    4×16 lookup table of scaled-integer subspace distances, and corpus
    scoring that is 4 positional array lookups + integer adds per row —
    no vector math on the corpus side until the shortlist re-rank.

    Scale shape: index built once per session (centroids + coded corpus
    cell-partitioned, `ivfpq_build_index`); probes and shortlist
    broadcast; no corpus shuffle in the probe path.  ADC terms are
    6-decimal fixed-point BIGINTs so the 4-term sum is order-free on
    both engines (a double sum can flip a shortlist tie).  Recall vs
    brute force is pinned in tests/test_llm.py."""
    e = load(spark, sf_dir, "embeddings")
    idx = session_artifact(
        spark, sf_dir, "ivfpq", lambda: S.ivfpq_build_index(e)
    )
    return S.ivfpq_topk(
        e.filter(F.col("vec_id") < 5), idx, k=5, nprobe=2, shortlist=50
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    """,
    tags=("llm", "dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (driver mandate), exact all-pairs at
    fixture scale — the quadratic reference implementation whose output
    contract the RP-LSH variant below reproduces approximately at scale."""
    e = load(spark, sf_dir, "embeddings")
    return S.cosine_pairs_exact(e, threshold=0.4)


@register("dedup_embedding_cosine_lsh", oracle=None, tags=("llm", "dedup"))
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane LSH candidates
    (24 bands × 3 bits), exact-verified — precision 1.0 by construction,
    recall measured against the exact operator in tests/test_llm.py.
    Rows-only driver check (LSH recall is probabilistic, so no exact SQL
    oracle is sound)."""
    e = load(spark, sf_dir, "embeddings")
    return S.cosine_pairs_rp_lsh(e, threshold=0.4)


# ---------------------------------------------------------------------------
# Text analysis (B64-B67)
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle="""
    WITH t AS (SELECT lang, unnest(string_split(text, ' ')) tok FROM documents),
    c AS (SELECT lang, tok, count(*) cnt FROM t GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                       ORDER BY cnt DESC, tok) rn FROM c)
    SELECT lang, tok, cnt, rn FROM r WHERE rn <= 5
    """,
    tags=("llm", "text"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B64: tokenize → per-language token counts → top-5 tokens.  The
    token count aggregate is map-side combinable; WindowGroupLimit caps the
    per-lang sort."""
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    counts = (
        d.select("lang", F.explode("tokens").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("tok"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "tok", "cnt", "rn")
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) term
                 FROM documents),
    tf AS (SELECT doc_id, term, count(*) tf FROM tok GROUP BY 1, 2),
    dfc AS (SELECT term, count(DISTINCT doc_id) df FROM tf GROUP BY 1),
    tot AS (SELECT count(DISTINCT doc_id) n_total FROM documents),
    s AS (SELECT doc_id, term, tf, df,
                 round(tf * (ln((1 + n_total) * 1.0 / (1 + df)) + 1), 6) tfidf
          FROM tf JOIN dfc USING (term) CROSS JOIN tot),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) rn
          FROM s WHERE doc_id < 30)
    SELECT doc_id, term, tf, df, tfidf, rn FROM r WHERE rn <= 3
    """,
    tags=("llm", "text"),
    # Prepared-plan cached since round 8 (VERDICT r7 ask #7): the
    # plan pins the checkpointed tf-index lineage, but Dataset.ofRows
    # re-plans physically and RE-EXECUTES every probe stage per call —
    # verified same-session at sf0.1: prepared+collect 0.122 s ≈
    # collect-only 0.106 s + replan, vs 0.171 s paying the py4j fn()
    # rebuild per rep.  Reusing a deliberately-resident index is the
    # engine's architecture, not result caching; only the client-side
    # plan construction is skipped, which is exactly the
    # prepared-statement protocol the cache documents.
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B65 TF-IDF via explicit DataFrame math (operators/text.py) — chosen
    over HashingTF precisely so the result is oracle-able; top-3 terms for
    the first 30 docs.  tf/df/idf all come from the session corpus index
    (queries/text_index.py — build-once/probe-many across the text
    family): idf is a materialized per-term lexicon column (the Lucene
    shape), so the warm path is ONE broadcast join of the doc_id<30 index
    slice against the lexicon plus the per-doc rank window."""
    scored = (
        tf_index(spark, sf_dir)
        .filter(F.col("doc_id") < 30)
        .join(
            F.broadcast(vocab_stats(spark, sf_dir).select("term", "df", "idf")),
            "term",
        )
        .withColumn("tfidf", F.round(F.col("tf") * F.col("idf"), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rn")
    )


@register(
    "text_quality_scores",
    oracle="""
    WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') sp
               FROM documents)
    SELECT doc_id, lang,
           len(sp)                                     AS n_tokens,
           len(regexp_extract_all(text, '[a-z]+'))     AS n_regex_tokens,
           ((2 * len(list_distinct(sp)) * 1000000 + len(sp))
               // (2 * len(sp))) / 1000000.0           AS type_token_ratio,
           ((2 * list_reduce(list_transform(sp, x -> length(x)),
                 (a, b) -> a + b) * 1000000 + len(sp))
               // (2 * len(sp))) / 1000000.0           AS mean_token_len,
           ((2 * len(list_filter(sp, x -> list_contains(
                 ['a', 'the', 'and', 'of', 'to'], x))) * 1000000 + len(sp))
               // (2 * len(sp))) / 1000000.0           AS stopword_ratio,
           ((2 * (500 * len(list_distinct(sp))
                  + 300 * (len(sp) - len(list_filter(sp, x -> list_contains(
                        ['a', 'the', 'and', 'of', 'to'], x))))
                  + 2 * len(sp) * least(len(sp), 100)) * 1000000
             + 1000 * len(sp)) // (2 * 1000 * len(sp))) / 1000000.0
                                                       AS quality
    FROM t
    """,
    tags=("llm", "text"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (driver mandate): token counts (whitespace + regex),
    lexical diversity, stopword ratio, length — combined into one [0,1]
    score.  All per-row HOFs: a pure map stage at any scale."""
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    nd = T.distinct_count_expr()
    s_cnt = T.stopword_count_expr()
    n_tok = T.token_count_expr()
    # Every ratio is integer/integer, so each is rounded in INTEGER
    # space (functions/exact.py) — a doc with exactly 128 tokens and an
    # odd numerator is a true 7th-decimal half where the engines'
    # double-rounding mechanisms split.  The composite quality score is
    # one exact rational: q = (500·d + 300·(n−s) + 2·n·min(n,100)) / 1000n.
    q_num = (
        F.lit(500) * nd
        + F.lit(300) * (n_tok - s_cnt)
        + F.lit(2) * n_tok * F.least(n_tok, F.lit(100))
    )
    return d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        T.regex_token_count_expr().alias("n_regex_tokens"),
        round_int_ratio(nd, n_tok, 6).alias("type_token_ratio"),
        round_int_ratio(T.total_token_len_expr(), n_tok, 6).alias(
            "mean_token_len"
        ),
        round_int_ratio(s_cnt, n_tok, 6).alias("stopword_ratio"),
        round_int_ratio(q_num, F.lit(1000) * n_tok, 6).alias("quality"),
    )


@register(
    "text_langid_heuristic",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') sp FROM documents),
    hits AS (SELECT doc_id, lang,
             len(list_filter(sp, x -> list_contains(['the','a','and','of'], x)))
               AS en_hits,
             len(list_filter(sp, x -> list_contains(['le','la','et','de'], x)))
               AS fr_hits,
             len(list_filter(sp, x -> list_contains(['el','la','y','de'], x)))
               AS es_hits,
             len(list_filter(sp, x -> list_contains(['der','die','und','von'], x)))
               AS de_hits
             FROM t)
    SELECT doc_id, lang, en_hits, fr_hits, es_hits, de_hits,
           CASE WHEN greatest(en_hits, fr_hits, es_hits, de_hits) = 0
                THEN 'und'
                WHEN en_hits >= greatest(fr_hits, es_hits, de_hits) THEN 'en'
                WHEN fr_hits >= greatest(es_hits, de_hits) THEN 'fr'
                WHEN es_hits >= de_hits THEN 'es'
                ELSE 'de' END AS predicted_lang
    FROM hits
    """,
    tags=("llm", "text"),
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID (driver mandate): marker-stopword scoring with a
    deterministic argmax tie-break.  Honest caveat: the fixture corpus is
    synthetic English-ish word soup, so non-en markers never fire and the
    prediction degenerates to en/und — the operator and its plumbing are
    still fully exercised; on real multilingual text the same expression
    discriminates."""
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    hits = {
        lang: T.lang_marker_hits_expr(lang).alias(f"{lang}_hits")
        for lang in ("en", "fr", "es", "de")
    }
    scored = d.select("doc_id", "lang", *hits.values())
    en, fr, es, de = (F.col(f"{k}_hits") for k in ("en", "fr", "es", "de"))
    pred = (
        F.when(F.greatest(en, fr, es, de) == 0, "und")
        .when(en >= F.greatest(fr, es, de), "en")
        .when(fr >= F.greatest(es, de), "fr")
        .when(es >= de, "es")
        .otherwise("de")
    )
    return scored.withColumn("predicted_lang", pred)


@register(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(text, ''), c -> ascii(c))),
               (a, b) -> (a * {T.FINGERPRINT_BASE} + b) % {T.FINGERPRINT_P})
             AS fingerprint
    FROM documents
    """,
    tags=("llm", "text"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (driver mandate): polynomial rolling hash
    over characters mod 2^31-1 — identical arithmetic on both engines, so
    unlike md5-of-text it doubles as a cross-engine content checksum."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint_expr().alias("fingerprint"))


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003 — the MOSS algorithm)
# ---------------------------------------------------------------------------

_WIN_K = 4  # token k-gram width
_WIN_W = 5  # winnowing window (selection guarantee: runs >= k + w - 1 = 8)
_WIN_POSPACK = 1_048_576  # 2^20: (hash, pos) packed into one BIGINT key

_WINNOW_SELECTED_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') sp FROM documents),
    g AS (SELECT doc_id, len(sp) - {_WIN_K - 1} AS n_grams, i AS pos,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split_regex(
                array_to_string(sp[i:i+{_WIN_K - 1}], ' '), ''),
                c -> ascii(c))),
              (a, b) -> (a * {T.FINGERPRINT_BASE} + b)
                        % {T.FINGERPRINT_P}) AS h
          FROM t, LATERAL (SELECT unnest(range(1, len(sp) - {_WIN_K - 2}))
                           AS i)),
    k AS (SELECT doc_id, n_grams, pos,
                 h * {_WIN_POSPACK} + ({_WIN_POSPACK - 1} - pos) AS key
          FROM g),
    w AS (SELECT doc_id, n_grams, pos,
                 min(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW)
                   AS sel
          FROM k),
    s AS (SELECT DISTINCT doc_id, n_grams, sel
          FROM w WHERE pos >= {_WIN_W})
"""


def _winnowing_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selected winnowing fingerprints per doc: (doc_id, n_grams, sel)
    where sel packs (k-gram rolling hash, rightmost-tie position) into
    one BIGINT so a single frame-min implements winnowing's
    min-with-rightmost-tie selection rule.  Position packing caps docs
    at 2^20 k-grams — beyond that, widen the pack constant (the key
    stays < 2^52, exact in doubles and BIGINTs everywhere)."""
    k, wlen = _WIN_K, _WIN_W
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    g = d.select(
        "doc_id",
        (F.size("tokens") - (k - 1)).alias("n_grams"),
        F.posexplode(
            F.expr(
                f"if(size(tokens) < {k}, array(),"
                f" transform(sequence(1, size(tokens) - {k} + 1),"
                f" i -> aggregate(split(array_join(slice(tokens, i, {k}),"
                f" ' '), ''), 0L,"
                f" (h, c) -> pmod(h * {T.FINGERPRINT_BASE} + ascii(c),"
                f" {T.FINGERPRINT_P}))))"
            )
        ).alias("p0", "h"),
    )
    keyed = g.select(
        "doc_id",
        "n_grams",
        (F.col("p0") + 1).alias("pos"),
        (
            F.col("h") * _WIN_POSPACK
            + (F.lit(_WIN_POSPACK - 1) - (F.col("p0") + 1))
        ).alias("key"),
    )
    wd = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(wlen - 1), 0)
    )
    return (
        keyed.withColumn("sel", F.min("key").over(wd))
        .filter(F.col("pos") >= wlen)
        .select("doc_id", "n_grams", "sel")
        .distinct()
    )


@register(
    "text_winnowing_fingerprints",
    oracle=_WINNOW_SELECTED_SQL
    + f"""
    SELECT doc_id,
           CAST(min(n_grams) AS BIGINT) AS n_grams,
           CAST(min(n_grams) - {_WIN_W - 1} AS BIGINT) AS n_windows,
           CAST(count(*) AS BIGINT) AS n_fps,
           {round_int_ratio_sql(f'count(*)', f'min(n_grams) - {_WIN_W - 1}', 6)}
             AS fp_density
    FROM s GROUP BY doc_id
    """,
    tags=("llm", "text", "dedup"),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    local fingerprinting algorithm): hash every k=4-token gram with the
    engine's cross-exact polynomial rolling hash, slide a w=5 window
    over the hash sequence, and select each window's minimum (rightmost
    tie-break) — giving the winnowing GUARANTEE that any verbatim run of
    >= k + w - 1 = 8 tokens shared between documents shares at least one
    selected fingerprint, at an expected density of 2/(w+1) of
    positions.  The (hash, rightmost-pos) selection rule is ONE integer
    frame-min: the hash packs with the negated position into a single
    BIGINT, so min(key) IS argmin-with-rightmost-tie — no struct
    comparison, identical arithmetic in both engines.

    Per doc: gram count, window count, selected-fingerprint count, and
    selection density.  Plan: guarded gram posexplode -> ONE doc-keyed
    exchange serving the bounded 5-row frame window, the distinct, and
    the per-doc aggregate — a document never leaves its partition, so
    the operator scales with corpus size like any doc-keyed pass.
    """
    fps = _winnowing_selected(spark, sf_dir)
    return fps.groupBy("doc_id").agg(
        F.min("n_grams").cast("bigint").alias("n_grams"),
        (F.min("n_grams") - (_WIN_W - 1)).cast("bigint").alias("n_windows"),
        F.count(F.lit(1)).cast("bigint").alias("n_fps"),
        round_int_ratio(
            F.count(F.lit(1)), F.min("n_grams") - (_WIN_W - 1), 6
        ).alias("fp_density"),
    )


@register(
    "dedup_winnowing_pairs",
    oracle=_WINNOW_SELECTED_SQL
    + f"""
    , fp AS (SELECT DISTINCT doc_id, sel // {_WIN_POSPACK} AS fph FROM s)
    SELECT id_a, id_b, n_shared FROM (
      SELECT a.doc_id id_a, b.doc_id id_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM fp a JOIN fp b ON a.fph = b.fph AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    WHERE n_shared >= 2
    """,
    tags=("llm", "dedup"),
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-sharing candidate pairs over the winnowing selection —
    MOSS's match step: docs sharing >= 2 selected fingerprint hashes,
    with the shared count.  The winnowing guarantee makes this a
    RECALL-complete candidate set for verbatim overlaps of >= 8 tokens
    (each such run contributes a shared fingerprint) at ~2/(w+1) the
    index size of full k-gram postings — the classic
    cheaper-index/bounded-recall point between exact shingle Jaccard
    (full postings) and MinHash (fixed-size signatures).

    Inverted-index equi-join on the fingerprint hash: cost Σ df² over
    SELECTED hashes only; a hot boilerplate fingerprint takes the same
    posting-frequency cap lever as the shingle family
    (operators/dedup.py).  On the fixture the top shared counts land
    exactly on the planted near-dup pairs.
    """
    fps = (
        _winnowing_selected(spark, sf_dir)
        .select("doc_id", F.expr(f"sel div {_WIN_POSPACK}").alias("fph"))
        .distinct()
    )
    pairs = (
        fps.select(F.col("doc_id").alias("id_a"), "fph")
        .join(fps.select(F.col("doc_id").alias("id_b"), "fph"), "fph")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    return pairs


@register(
    "text_sentiment_lexicon",
    oracle="""
    WITH lex(word, weight) AS (VALUES ('fast', 1.0), ('slow', -1.0),
                                      ('big', 0.5), ('small', -0.5),
                                      ('merge', 0.25)),
    t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
    s AS (SELECT doc_id, sum(weight) sw, count(*) nw
          FROM t JOIN lex ON tok = word GROUP BY doc_id)
    SELECT d.doc_id,
           round(coalesce(sw, 0) / len(string_split(d.text, ' ')), 6)
             AS sentiment,
           coalesce(nw, 0) AS n_sentiment_tokens
    FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
    tags=("llm", "text"),
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B67 lexicon-scored sentiment (EDBT'16 Spark-sentiment pattern):
    explode tokens ⋈ broadcast lexicon → per-doc length-normalized score.
    Lexicon weights are binary fractions (1, 0.5, 0.25) so the sum is
    order-exact across engines — 0.2-style weights would drift by an ulp
    and trip the rounding boundary (observed on doc 363 at sf0.01)."""
    lex = F.broadcast(
        values_relation(
            spark,
            [("fast", 1.0), ("slow", -1.0), ("big", 0.5), ("small", -0.5),
             ("merge", 0.25)],
            "word string, weight double",
        )
    )
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    scores = (
        d.select("doc_id", F.explode("tokens").alias("tok"))
        .join(lex, F.col("tok") == F.col("word"))
        .groupBy("doc_id")
        .agg(F.sum("weight").alias("sw"), F.count(F.lit(1)).alias("nw"))
    )
    return (
        d.join(scores, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.col("sw"), F.lit(0.0)) / F.size("tokens"), 6
            ).alias("sentiment"),
            F.coalesce(F.col("nw"), F.lit(0)).alias("n_sentiment_tokens"),
        )
    )


@register(
    "text_lang_profile",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars,
           round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
    tags=("llm", "text"),
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B66: per-language corpus profile."""
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size("tokens")), 6).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


# ---------------------------------------------------------------------------
# Multimodal (B68) + time-series similarity (B69)
# ---------------------------------------------------------------------------


@register(
    "multimodal_join",
    oracle="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           len(string_split(d.text, ' ')) AS n_tokens,
           e.label,
           round(sqrt(list_reduce(list_transform(e.embedding::DOUBLE[],
                 x -> x * x), (a, b) -> a + b)), 6) AS vec_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    tags=("llm", "multimodal"),
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B68: one row carrying text + vector + scalar metadata jointly
    (documents ⋈ embeddings on id) with per-modality features computed in
    the same plan."""
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    e = load(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.size("tokens").alias("n_tokens"),
            "label",
            F.round(S.norm_expr("embedding"), 6).alias("vec_norm"),
        )
    )


@register(
    "multimodal_binary_features",
    oracle="""
    SELECT doc_id,
           'text/plain' AS media_type,
           length(text) AS n_bytes,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(text, ''), c -> ascii(c))),
               (a, b) -> a + b) % 997 AS byte_checksum,
           lower(hex(substring(text, 1, 8)::BLOB)) AS head_hex
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload pipeline: text bytes as a stand-in media column →
    Arrow-batched mapInPandas feature extraction (stubbed decode; see
    operators/multimodal.py).  The oracle reproduces the stub's byte math
    in SQL (corpus is ASCII, so chars == bytes)."""
    d = load(spark, sf_dir, "documents")
    media = attach_binary_payload(d)
    return extract_features(media, decode="stub").select(
        "doc_id", "media_type", "n_bytes", "byte_checksum", "head_hex"
    )


@register(
    "multimodal_bmp_decode",
    oracle="""
    WITH d AS (SELECT doc_id, 1 + doc_id % 13 AS w, 1 + doc_id % 7 AS h
               FROM documents),
    ex AS (SELECT doc_id, unnest(range(0, w * h)) AS i FROM d),
    px AS (SELECT ex.doc_id, CAST(sum((ex.doc_id + ex.i) % 256) AS BIGINT)
                  AS s1
           FROM ex GROUP BY 1)
    SELECT d.doc_id,
           CAST(d.w AS BIGINT) AS width,
           CAST(d.h AS BIGINT) AS height,
           CAST(24 AS BIGINT) AS bpp,
           CAST(54 + (d.w * 3 + (4 - (d.w * 3) % 4) % 4) * d.h AS BIGINT)
               AS file_size,
           CAST(3 * px.s1 AS BIGINT) AS pixel_sum
    FROM d JOIN px USING (doc_id)
    """,
    tags=("llm", "multimodal"),
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the multimodal pipeline (r12 verdict ask
    #5): per-doc spec-valid 24-bit BMP payloads are synthesized with
    closed-form dimensions/pixels, then ``extract_features(decode='bmp')``
    parses the actual bytes back — ``struct``-level BITMAPFILEHEADER +
    BITMAPINFOHEADER decode plus a padded-row-aware pixel walk, no codec
    library.  The DuckDB oracle computes the same integers from the
    closed forms, so hash equality proves encode → decode is lossless
    end-to-end (width, height, bpp, file size, pixel sum).

    Scale shape: synth and decode are one Arrow-batched ``mapInPandas``
    stage each over the same partitioning — no shuffle, no driver
    collect; payload bytes never leave the executor that built them.
    ``decode='real'`` (compressed codecs) stays documented-env-gated in
    operators/multimodal.py."""
    d = load(spark, sf_dir, "documents")
    media = synthesize_bmp(d)
    return extract_features(media, decode="bmp")


@register(
    "multimodal_wav_decode",
    oracle="""
    WITH d AS (SELECT doc_id, 8000 + (doc_id % 4) * 4000 AS rate,
                      16 + doc_id % 32 AS n
               FROM documents),
    ex AS (SELECT doc_id, unnest(range(0, n)) AS i FROM d),
    sm AS (SELECT ex.doc_id,
                  CAST(sum(((ex.doc_id * 7 + ex.i * 3) % 65536) - 32768)
                       AS BIGINT) AS ssum
           FROM ex GROUP BY 1)
    SELECT d.doc_id,
           CAST(d.rate AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(16 AS BIGINT) AS bits,
           CAST(d.n AS BIGINT) AS n_samples,
           sm.ssum AS sample_sum
    FROM d JOIN sm USING (doc_id)
    """,
    tags=("llm", "multimodal"),
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode twin of ``multimodal_bmp_decode``: mono 16-bit
    PCM RIFF/WAVE payloads synthesized per doc with closed-form rate /
    sample count / samples, then ``decode='wav'`` walks the RIFF chunk
    list (fmt may sit anywhere), unpacks the PCM frames, and emits
    sample_rate / channels / bits / n_samples / sample_sum — matched by
    the oracle's closed forms."""
    d = load(spark, sf_dir, "documents")
    media = synthesize_wav(d)
    return extract_features(media, decode="wav")


@register(
    "ts_user_similarity",
    oracle="""
    WITH p AS (SELECT user_id, hour(ts) h, round(avg(value), 6) v
               FROM events GROUP BY 1, 2),
    nrm AS (SELECT user_id, sqrt(sum(v * v)) n FROM p GROUP BY 1),
    dots AS (SELECT a.user_id ua, b.user_id ub, sum(a.v * b.v) d
             FROM p a JOIN p b ON a.h = b.h AND a.user_id <> b.user_id
             WHERE a.user_id < 50
             GROUP BY 1, 2),
    cos AS (SELECT ua, ub, round(d / (na.n * nb.n), 6) sim
            FROM dots
            JOIN nrm na ON ua = na.user_id
            JOIN nrm nb ON ub = nb.user_id),
    r AS (SELECT ua AS user_a, ub AS user_b, sim,
                 row_number() OVER (PARTITION BY ua
                                    ORDER BY sim DESC, ub) AS rank
          FROM cos)
    SELECT user_a, user_b, sim, rank FROM r WHERE rank <= 3
    """,
    tags=("llm", "timeseries"),
)
def ts_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B69 time-series similarity (EDBT'19 pattern): hour-of-day activity
    profiles per user, sparse cosine via a join on the hour key (missing
    hours are implicit zeros — no dense pivot); top-3 most-similar users
    for each of a 50-user query set.

    The query-set shape is the scale-honest one: all-pairs user similarity
    is inherently quadratic, so the engine's contract is top-k for a
    bounded query set against the full population (the broadcast side),
    exactly like the embedding ANN operators; full all-pairs at scale goes
    through LSH (see dedup_minhash_lsh).  Profile values round to 6 first
    so both engines rank identical numbers.

    Plan-shape notes:

    - r14 (guide §2.4, the percentile-core lesson): the query-set side
      selects its 50 users with a broadcast join against a 50-row
      ``spark.range`` relation instead of a ``user_id < 50`` filter.
      The filter pushed below the window and aggregate into its own
      events scan (user_id is the partition/grouping key), so the a
      side paid a SECOND full pass over events — predicate pushdown
      reads every row group at fixture scale, and at 100 TB still
      re-scans the fact.  A join cannot be pushed below the profile
      aggregate, so both sides now canonicalize to the SAME profile
      subtree and ReuseExchange shares it: events scanned ONCE
      (executed plan: FileScan 2 → 1, ReusedExchange 0 → 1,
      plans/r14/ts_user_similarity_*).  Value-identical because
      user_id is non-negative in every fixture (range(50) ≡ < 50;
      oracle parity re-proven at sf0.01/sf0.1).  Measured interleaved
      prepared-plan A/B (sf0.1, 14 pairs): new wins 14/14, median
      0.415 → 0.336 s.  The duplicated work left above the shared
      exchange is the profile window over |users|×24 rows — scale-thin
      vs the fact pass it replaces.
    - The remaining full-population pass is semantically irreducible —
      norms span ALL of a user's hours, so no pre-aggregate pruning is
      sound.
    - Hour-pruning the b side after the profile aggregate is already
      performed by the broadcast-hash join on h itself; an explicit
      semi-join duplicates the join's own filter (measured r7: no gain).
    - Materializing the profile once (localCheckpoint) to share it
      across the sides LOSES: the eager barrier serializes what the
      diamond runs as concurrent stages of one job (0.65 → 0.80 s), and
      a dense 24-column profile-vector variant (one groupBy, broadcast
      nested-loop pair scoring) measured 2.0 s — the sparse join's
      map-side-combined partial aggregate is the better plan at every
      scale where hours-per-user ≪ population.
    """
    e = load(spark, sf_dir, "events")
    # per-user norm rides each profile row via a window over the profile
    # aggregate (one exchange on user_id) instead of a separate norms
    # aggregate + two post-join lookups — that diamond re-ran the events
    # scan+groupBy three times; this shape runs it ONCE, shared by both
    # sides (r14: the query-set side joins a 50-row range relation
    # instead of filtering, so nothing pushes below the profile subtree
    # and ReuseExchange dedupes it — see docstring)
    p = (
        e.groupBy("user_id", F.hour("ts").alias("h"))
        .agg(F.round(F.avg("value"), 6).alias("v"))
        .withColumn(
            "n",
            F.sqrt(
                F.sum(F.col("v") * F.col("v")).over(
                    Window.partitionBy("user_id")
                )
            ),
        )
    )
    qset = spark.range(50).select(F.col("id").alias("user_id"))
    a = F.broadcast(
        p.join(F.broadcast(qset), "user_id").select(
            F.col("user_id").alias("ua"),
            "h",
            F.col("v").alias("va"),
            F.col("n").alias("na"),
        )
    )
    b = p.select(
        F.col("user_id").alias("ub"),
        "h",
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    cos = (
        a.join(b, "h")
        .filter(F.col("ua") != F.col("ub"))
        .groupBy("ua", "ub", "na", "nb")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("d"))
        .select(
            "ua",
            "ub",
            F.round(F.col("d") / (F.col("na") * F.col("nb")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("ua").orderBy(F.col("sim").desc(), F.col("ub"))
    return (
        cos.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("ua").alias("user_a"),
            F.col("ub").alias("user_b"),
            "sim",
            "rank",
        )
    )


@register(
    "corpus_curation_pipeline",
    oracle="""
    WITH t AS (SELECT doc_id, lang, source, text, string_split(text, ' ') sp
               FROM documents),
    q AS (SELECT doc_id, lang, source,
                 len(sp) AS n_tokens,
                 ((2 * (500 * len(list_distinct(sp))
                        + 300 * (len(sp) - len(list_filter(sp,
                              x -> list_contains(
                                ['a', 'the', 'and', 'of', 'to'], x))))
                        + 2 * len(sp) * least(len(sp), 100)) * 1000000
                   + 1000 * len(sp)) // (2 * 1000 * len(sp))) / 1000000.0
                     AS quality,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
          FROM t)
    SELECT lang, source,
           count(*)                AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(quality), 4)  AS avg_quality
    FROM q
    WHERE doc_id = keep_id AND quality >= 0.5 AND n_tokens BETWEEN 5 AND 10000
    GROUP BY 1, 2
    """,
    tags=("llm", "pipeline"),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation slice — the operators composed the
    way a 100 TB corpus pass actually runs: exact dedup (deterministic
    min-id keeper per content hash) → quality gate (lexical diversity,
    stopword ratio, length — the text_quality_scores formula) → per
    (lang, source) corpus accounting.

    One shuffle for the dedup window (hash of content), one for the final
    aggregate; the quality gate is a pure map stage.  At scale the dedup
    window is the same shape as dedup_exact_docs' groupBy — both
    map-side-combinable on the content hash.

    Measured-and-rejected (round 8, VERDICT r7 ask #4): feeding the token
    stats from ``text_index.tf_index`` instead of the in-row HOF
    expressions.  Same-session A/B at sf0.1, identical results: index-fed
    0.504 s vs 0.276 s here — the per-doc stats need a postings
    ``groupBy(doc_id)`` plus a corpus×corpus join back to the documents
    scan (which this query must read anyway for lang/source/md5(text)),
    and those two extra shuffles cost more than the single-pass in-row
    tokenize they replace.  The index wins only for consumers that DON'T
    need the raw document row (tfidf/unigram/vocab probe term-keyed
    slices); a consumer that scans the corpus anyway should compute
    row-local stats in-row.

    Accepted ~1.9-2.1× vs DuckDB at sf0.1, decomposed (r10, noop-sink
    staged timing, min-of-8 warm): documents scan→noop 0.044 s; + md5
    window dedup 0.101 s; full query 0.166 s under the resident
    full-headline bench (0.256 s in an isolated probe session — the
    residency delta is JIT/shuffle-file warm state, not plan).
    Re-measured r12 (solo probe, min-of-8): scan→noop 0.055 s, + dedup
    window 0.125 s, full 0.303 s — every stage within the known
    solo-vs-resident envelope of its r10 number; the stage split is
    unchanged and no stage grew relative to the others.  The
    remaining ~0.06-0.15 s over the dedup stage is the in-row HOF
    tokenize/quality arithmetic plus the final (lang, source) aggregate
    — both map-side work that scales with bytes, not with stage count,
    while the two shuffles (content-hash window, final agg) are already
    the 100 TB-minimum for this semantics.  DuckDB's 0.099 s runs the
    same two hash passes fused in-process; the gap is the two-stage
    scheduling floor, which amortizes with corpus size.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    nd = T.distinct_count_expr()
    s_cnt = T.stopword_count_expr()
    n_tok = T.token_count_expr()
    # Exact integer-space quality (same rational as text_quality_scores)
    # — this query FILTERS on quality >= 0.5, so a single diverging
    # rounding would change row membership, not just a cell value.
    quality = round_int_ratio(
        F.lit(500) * nd
        + F.lit(300) * (n_tok - s_cnt)
        + F.lit(2) * n_tok * F.least(n_tok, F.lit(100)),
        F.lit(1000) * n_tok,
        6,
    )
    keep = d.withColumn(
        "_keep_id", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    ).filter(F.col("doc_id") == F.col("_keep_id"))
    filtered = (
        keep.withColumn("n_tokens", n_tok)
        .withColumn("quality", quality)
        .filter((F.col("quality") >= 0.5) & F.col("n_tokens").between(5, 10000))
    )
    return filtered.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


@register(
    "dedup_levenshtein_blocked",
    oracle="""
    WITH d AS (SELECT doc_id, text, n_chars,
                      split_part(text, ' ', 1) AS first_tok,
                      CAST(floor(n_chars / 64) AS INT) AS len_b
               FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM d a JOIN d b
      ON a.first_tok = b.first_tok AND a.len_b = b.len_b
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= 0.1 * greatest(a.n_chars, b.n_chars)
    """,
    tags=("llm", "dedup"),
)
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection with entity-resolution blocking —
    the character-level complement to the token-level MinHash/Jaccard
    family (catches single-character edits that shift every shingle).

    Scale shape: the quadratic levenshtein verification runs only WITHIN
    blocks — the block key (first token, length bucket) is a plain equi-join
    that shuffles each block to one partition, never all-pairs across the
    corpus.  Recall trade-off is explicit and standard for blocking: a
    near-dup pair differing in its first token or straddling a length
    boundary is missed; at 100 TB you widen recall with a second blocking
    pass on a different key (e.g. last token), each pass staying an
    equi-join.  Both engines block identically, so the oracle is exact.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "n_chars",
        F.element_at(F.split("text", " "), 1).alias("first_tok"),
        F.floor(F.col("n_chars") / 64).cast("int").alias("len_b"),
    )
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.first_tok") == F.col("b.first_tok"))
            & (F.col("a.len_b") == F.col("b.len_b"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("edit_dist", F.levenshtein(F.col("a.text"), F.col("b.text")))
        .filter(
            F.col("edit_dist")
            <= 0.1 * F.greatest(F.col("a.n_chars"), F.col("b.n_chars"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "edit_dist",
        )
    )


#: Chunking geometry: 32-token windows advancing 24 tokens (8-token overlap)
#: — the standard pretraining-tokenizer feed shape, scaled to the ~30-60
#: token fixture docs.
_CHUNK, _STRIDE = 32, 24


@register(
    "doc_chunk_token_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, toks,
                      unnest(range(0, len(toks), {_STRIDE})) AS start
               FROM t)
    SELECT doc_id,
           CAST(start // {_STRIDE} AS INT)            AS chunk_id,
           array_to_string(toks[start + 1 : start + {_CHUNK}], ' ')
                                                      AS chunk_text,
           CAST(least({_CHUNK}, len(toks) - start) AS INT) AS n_tokens
    FROM c
    """,
    tags=("llm", "chunk"),
)
def doc_chunk_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking into overlapping fixed-token windows — the step
    that turns a curated corpus into training sequences (every pretraining
    pipeline runs it between dedup and tokenization).

    Pure narrow plan: split → sequence of window starts → explode → slice.
    No shuffle at all — chunking parallelizes embarrassingly over document
    partitions, and the 8-token overlap means ~33% output inflation, which
    the plan pays in the explode, never in an exchange.  At 100 TB this is
    a map-only pass whose output is written partitioned by shard.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    return (
        d.withColumn(
            "start",
            F.explode(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_STRIDE))
            ),
        )
        .select(
            "doc_id",
            (F.col("start") / _STRIDE).cast("int").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("start") + 1, _CHUNK)
            ).alias("chunk_text"),
            F.size(F.slice(F.col("toks"), F.col("start") + 1, _CHUNK)).alias(
                "n_tokens"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round 3: BPE-ish tokenization, shard assignment, int8 quantization
# ---------------------------------------------------------------------------

_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "text_bpe_token_counts",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, n_chars,
                      regexp_extract_all(text, '{_BPE_PATTERN}') AS toks
               FROM documents)
    SELECT doc_id, lang,
           len(toks)                                    AS n_tokens,
           len(list_distinct(toks))                     AS n_unique,
           ((2 * n_chars * 1000000 + len(toks))
               // nullif(2 * len(toks), 0)) / 1000000.0 AS chars_per_token
    FROM t
    """,
    tags=("llm", "text"),
)
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B64 regex-class tokenization: the BPE-pretokenizer split (letter
    runs | digit runs | single punctuation, the GPT-2 pattern family)
    rather than whitespace — the count that actually predicts trained
    token budgets, vs ``text_token_stats``'s whitespace estimate.
    Emits per-doc token count, unique-token count, and chars-per-token
    (the compression-ratio proxy quality filters threshold on).

    Pure narrow plan: regexp_extract_all + array functions, all codegen,
    no shuffle — a 100 TB corpus pass is embarrassingly parallel and the
    regex runs JVM-side, never in Python.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)")
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        round_int_ratio(F.col("n_chars"), F.size(toks), 6).alias(
            "chars_per_token"
        ),
    )


@register(
    "corpus_shard_assignment",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             (ascii(substr(md5(text), 1, 1)) * 31
              + ascii(substr(md5(text), 2, 1))) % 16 AS shard,
             len(string_split(text, ' '))            AS n_toks
      FROM documents)
    SELECT shard,
           count(*)                       AS n_docs,
           CAST(sum(n_toks) AS BIGINT)    AS total_tokens,
           min(doc_id)                    AS first_doc
    FROM s
    GROUP BY shard
    """,
    tags=("llm", "pipeline"),
)
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: every document routes to
    one of 16 shards by a content hash (md5 — stable across engines,
    re-runs, and cluster topologies, unlike partition-id-based
    assignment), with per-shard document and token accounting — the
    manifest a data loader consumes.

    Content-hash sharding is the 100 TB posture: adding executors or
    re-running after failure cannot move a document between shards, so
    shard outputs are reproducible and resumable.  One map-side-combinable
    aggregate over 16 groups; the write (not benched) would be
    ``partitionBy(shard)``.
    """
    d = load(spark, sf_dir, "documents")
    h = F.md5("text")
    shard = (
        F.ascii(F.substring(h, 1, 1)) * 31 + F.ascii(F.substring(h, 2, 1))
    ) % 16
    return (
        d.select(
            "doc_id",
            shard.alias("shard"),
            F.size(F.split("text", " ")).alias("n_toks"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS scale,
             embedding
      FROM embeddings
      WHERE vec_id < 200)
    SELECT vec_id,
           round(scale, 6) AS scale,
           generate_subscripts(embedding, 1) - 1 AS i,
           CASE WHEN scale = 0 THEN 0
                ELSE CAST(round(127.0 * CAST(unnest(embedding) AS DOUBLE)
                                / scale) AS INTEGER)
           END AS q
    FROM s
    """,
    tags=("llm", "vector"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the serving-side compression step before an ANN index ships (4×
    smaller vectors, SIMD int8 dot products): scale = max|x|, q =
    round(127·x/scale), zero-vectors quantize to zeros.

    All in-row codegen (transform/array_max; the explode is for the
    oracle's sake — production keeps the quantized ARRAY column and
    writes it next to the scale).  Emitted exploded to scalar rows so
    the driver gate hashes element values exactly; both engines cast
    float→double before the scale division so they round identical
    doubles.  Bounded to the first 200 vectors to keep the gate output
    proportionate (the plan is identical unbounded).
    """
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    scaled = emb.select(
        "vec_id",
        F.expr(
            "array_max(transform(embedding, x -> abs(cast(x as double))))"
        ).alias("scale"),
        "embedding",
    )
    return scaled.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CASE WHEN scale = 0D THEN 0"
                " ELSE cast(round(127.0D * cast(x as double) / scale) as int)"
                " END)"
            )
        ).alias("i", "q"),
    )


# ---------------------------------------------------------------------------
# H2: prefix-filtered cosine set-similarity self-join (AllPairs family)
# ---------------------------------------------------------------------------


@register(
    "dedup_prefix_cosine_pairs",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
    pos AS (SELECT doc_id, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
    sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
           FROM pos a
           JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
    n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
    pair AS (SELECT x.doc_id id_a, y.doc_id id_b, count(*) c
             FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
             GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(c / sqrt(1.0 * nx.n * ny.n), 6) AS cosine
    FROM pair
    JOIN n nx ON id_a = nx.doc_id
    JOIN n ny ON id_b = ny.doc_id
    WHERE 10000 * c * c >= 6400 * nx.n * ny.n
    """,
    tags=("llm", "dedup"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def dedup_prefix_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: exact cosine ≥ 0.8 near-dup pairs over 3-gram shingle SETS via
    prefix filtering (operators/dedup.py::prefix_cosine_pairs) — the
    third candidate-generation strategy in the dedup family, next to LSH
    banding (probabilistic) and full postings (exact, Σdf² cost): exact
    like postings, but only each document's rarest ⌈(1−t²)·|X|⌉+1
    shingles ever enter the candidate join.  The oracle brute-forces all
    co-occurring pairs and must produce the identical pair set — that IS
    the completeness proof of the prefix bound, re-run every round.
    """
    post = _postings_index(spark, sf_dir).drop("_blk")
    return D.prefix_cosine_pairs(post, threshold_pct=80)


# ---------------------------------------------------------------------------
# H1: reciprocal rank fusion of two retrieval rankings
# ---------------------------------------------------------------------------


@register(
    "retrieval_rrf_fusion",
    oracle="""
    WITH r1 AS (SELECT doc_id,
                       row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
                FROM documents),
    r2 AS (SELECT doc_id,
                  row_number() OVER
                    (ORDER BY (doc_id * 2654435761) % 1000 DESC, doc_id) AS r
           FROM documents),
    fused AS (
      SELECT r1.doc_id, r1.r AS rank_length, r2.r AS rank_score,
             round(1.0 / (60 + r1.r) + 1.0 / (60 + r2.r), 6) AS rrf
      FROM r1 JOIN r2 USING (doc_id)
    )
    SELECT doc_id, rank_length, rank_score, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    tags=("llm", "retrieval", "topk"),
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: reciprocal rank fusion (Cormack et al. SIGIR'09, public) of two
    document rankings — the standard way a retrieval stack merges a
    lexical and a semantic ranking without score calibration:
    RRF(d) = Σ 1/(k + rank_i(d)), k = 60.  Rankings here are the length
    prior (n_chars desc) and the deterministic hash score the evaluation
    family uses as its model stand-in; both are part of the query
    definition.

    Both global ranks ride the banded helper (numeric leading order —
    one fact shuffle each, never a single-partition window); the fusion
    is a key join and the top-20 is TakeOrderedAndProject.  1/(60+r) is
    a per-row IEEE division of exact integers — no accumulation, so the
    engines agree bit-for-bit.
    """
    from lambda_arc_events_filter_spark.functions.rank import (
        global_order_stats,
    )

    d = load(spark, sf_dir, "documents")
    r1 = global_order_stats(
        d.select("doc_id", "n_chars"),
        [("n_chars", "desc"), "doc_id"],
        rank="rank_length",
        key=["doc_id"],
    ).select("doc_id", "rank_length")
    scored = d.select(
        "doc_id", ((F.col("doc_id") * 2654435761) % 1000).alias("s")
    )
    r2 = global_order_stats(
        scored,
        [("s", "desc"), "doc_id"],
        rank="rank_score",
        key=["doc_id"],
    ).select("doc_id", "rank_score")
    fused = r1.join(r2, "doc_id").select(
        "doc_id",
        "rank_length",
        "rank_score",
        F.round(
            F.lit(1.0) / (F.lit(60) + F.col("rank_length"))
            + F.lit(1.0) / (F.lit(60) + F.col("rank_score")),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# J1: BPE merge learning (two unrolled merge rounds over the token stream)
# ---------------------------------------------------------------------------

_BPE_ROUND_SQL = """
  pairs{r} AS (
    SELECT tok, lead(tok) OVER w AS nxt
    FROM toks{r} WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ),
  top{r} AS (
    SELECT tok AS a, nxt AS b, CAST(count(*) AS BIGINT) AS c
    FROM pairs{r} WHERE nxt IS NOT NULL
    GROUP BY tok, nxt ORDER BY c DESC, a, b LIMIT 1
  ),
  flag{r} AS (
    SELECT t.doc_id, t.pos, t.tok, top{r}.a, top{r}.b,
           CASE WHEN t.tok = top{r}.a
                 AND lead(t.tok) OVER w = top{r}.b
                THEN 1 ELSE 0 END AS m
    FROM toks{r} t CROSS JOIN top{r}
    WINDOW w AS (PARTITION BY t.doc_id ORDER BY t.pos)
  ),
  isl{r} AS (
    SELECT *, pos - sum(m) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
    FROM flag{r}
  ),
  dec{r} AS (
    SELECT *, CASE WHEN m = 1 AND (row_number() OVER
                 (PARTITION BY doc_id, island, m ORDER BY pos) - 1) % 2 = 0
              THEN 1 ELSE 0 END AS merged
    FROM isl{r}
  ),
  toks{r1} AS (
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
           CASE WHEN merged = 1 THEN tok || ' ' || b ELSE tok END AS tok
    FROM (SELECT *, lag(merged) OVER (PARTITION BY doc_id ORDER BY pos)
                      AS consumed
          FROM dec{r})
    WHERE consumed IS NULL OR consumed = 0
  )
"""


@register(
    "tokens_bpe_merge_rounds",
    oracle="WITH toks1 AS (\n"
    "  SELECT doc_id, t.i AS pos, t.w AS tok\n"
    "  FROM documents,\n"
    "       LATERAL (SELECT unnest(string_split(text, ' ')) AS w,\n"
    "                generate_subscripts(string_split(text, ' '), 1) AS i) t\n"
    "),"
    + _BPE_ROUND_SQL.format(r=1, r1=2)
    + ","
    + _BPE_ROUND_SQL.format(r=2, r1=3)
    + """
    SELECT 1 AS round, (SELECT a || ' ' || b FROM top1) AS merged_pair,
           (SELECT c FROM top1) AS pair_count,
           (SELECT CAST(count(*) AS BIGINT) FROM toks2) AS tokens_after
    UNION ALL
    SELECT 2, (SELECT a || ' ' || b FROM top2),
           (SELECT c FROM top2),
           (SELECT CAST(count(*) AS BIGINT) FROM toks3)
    """,
    tags=("llm", "text", "iterative"),
)
def tokens_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the BPE/WordPiece TRAINING step (Sennrich et al. 2016, public),
    two merge rounds unrolled over the word stream: count adjacent token
    pairs, merge the most frequent pair corpus-wide (greedy leftmost,
    ties by pair), re-segment, repeat with the merged symbol now a
    first-class token.  Reports each round's chosen merge, its count at
    merge time, and the corpus token count after — the actual inner loop
    of tokenizer training, expressed relationally.

    Greedy-leftmost application is exact without any sequential
    recurrence: two matches can overlap ONLY when the pair is (a, a)
    (m_i and m_{i+1} both matching forces t_{i+1} = a = b), so maximal
    runs of consecutive matches are same-token runs and greedy = "merge
    at even offset within the match island".  Islands fall out of the
    classic gaps-and-islands subtraction (pos − running match count);
    every window is doc-keyed, so nothing single-partitions, and each
    round is one pair count (map-combinable) + a 1-row broadcast merge
    + one re-segmentation pass.

    The unrolled 2-round plan runs CHECKPOINT-FREE (round 8): each
    round's token stream feeds its pair count and apply pass as a
    concurrent plan diamond, so the full query is declarative and rides
    the prepared-plan cache — measured at sf0.1: 2.20 s prepared vs
    2.55 s with per-round lazy checkpoints rebuilt per execution (the
    plan-cache guard forbids reusing a private checkpoint across
    executions).  Subtree duplication grows with unroll depth, so a
    REAL multi-round training loop (10s of merges) should checkpoint
    per round — the honest cost of iteration, paid per execution; at
    the query's fixed r=2 the diamond is the better trade.

    Round 10 (r8 ask #7, merge-delta reuse): each round's
    ``tokens_after`` is now DERIVED from the merge delta instead of
    re-counting the re-segmented stream — every greedy merge removes
    exactly one token (merges are non-overlapping by construction), so
    ``tokens_after_r = count(stream_r) − sum(merged_r)``, both read off
    the already-needed decision relation.  That deletes one full
    re-segmentation (filter + re-position + window) per summary branch.
    The dense re-position ``row_number`` after each merge pass is gone
    too, and greedy selection itself is STREAK PARITY — ``merged ⇔
    streak odd``, with ``streak = sum(m) − sum(m)@(last non-match)``,
    every term a running expression over the single (doc_id, pos)
    window — so a decision pass plans as ONE exchange + ONE sort (the
    earlier (doc_id, island, m) row_number needed no exchange but
    forced two extra fact-scale SortExecs per pass).  Measured at sf0.1
    (2026-08-15): bench solo 1.837 s → 0.883-1.125 s across runs; the
    streak-vs-island step alone, interleaved same-session prepared-plan
    A/B min-of-8: 1.654 → 1.428 s (−14%), identical output.  Full
    incremental PAIR-count maintenance (top2 from top1's
    counts + a ±delta around merge sites) was prototyped on paper and
    rejected: it still needs one full windowed pass over the stream for
    the new adjacencies, saves only the second pair groupBy (map-side
    combined, ~15 ms here), and triples the correctness surface around
    overlapping (a,a) islands.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    t2, s1 = bpe_merge_round(toks, 1)
    _, s2 = bpe_merge_round(t2, 2)
    return s1.unionByName(s2)


def _bpe_decide(
    t: DataFrame, precomputed_nxt: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Greedy-leftmost merge decision + re-segmentation for a
    ``(doc_id, pos, tok, a, b)`` stream (``a``/``b`` = the pair to merge,
    attached either as a broadcast 1-row join — training — or as
    literals — applying a fixed merge table).  Returns ``(dec,
    next_tokens)``: the per-row decision relation (column ``merged``) and
    the re-segmented stream.  ``precomputed_nxt=True`` says the caller
    already carries ``lead(tok)`` as column ``nxt`` (an explicit contract
    — ADVICE r13: sniffing ``'nxt' in t.columns`` would silently trust an
    unrelated column on a caller-supplied stream)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Greedy-leftmost selection by STREAK PARITY, one window spec for
    # the whole decision pass: merged = "odd position within the run
    # of consecutive matches".  streak_i = cum1_i − cum1@(last m=0
    # row) — both terms are running expressions over the SAME
    # (doc_id, pos) window, so the physical plan needs ONE exchange +
    # ONE sort per pass.  The previous (doc_id, island, m) row_number
    # partition was exchange-free (doc_id hash satisfies the finer
    # clustering) but forced TWO extra fact-scale SortExecs per pass
    # (into island order and back to pos order for the lag); streak
    # parity deletes both.  Correct over non-consecutive positions.
    # Use the caller's precomputed ``nxt`` column when declared (r13):
    # bpe_merge_round computes lead(tok) ONCE on the raw stream and
    # feeds both the pair-count branch and this decision pass, so the
    # two branches canonicalize to the SAME doc_id exchange and
    # ReuseExchange dedupes the token explode+shuffle (before, the
    # broadcast top-pair join sat BELOW this pass's copy of the
    # exchange, splitting it from the pair-count branch's — two full
    # explode+shuffle passes per training round, read off the r12
    # executed plan, plans/r13/tokens_bpe_merge_rounds_before.txt).
    nxt = F.col("nxt") if precomputed_nxt else F.lead("tok").over(w)
    flag = t.withColumn(
        "m",
        F.when(
            (F.col("tok") == F.col("a")) & (nxt == F.col("b")),
            1,
        ).otherwise(0),
    ).withColumn("cum1", F.sum("m").over(wr))
    anchor = F.last(
        F.when(F.col("m") == 0, F.col("cum1")), ignorenulls=True
    ).over(wr)
    dec = flag.withColumn(
        "merged",
        (F.col("m") == 1)
        & ((F.col("cum1") - F.coalesce(anchor, F.lit(0))) % 2 == 1),
    )
    nxt_toks = (
        dec.withColumn(
            "consumed", F.lag("merged", 1, False).over(w)
        )
        .filter(~F.col("consumed"))
        .select(
            "doc_id",
            "pos",
            F.when(
                F.col("merged"),
                F.concat_ws(" ", "tok", "b"),
            )
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
    )
    return dec, nxt_toks


def bpe_merge_round(t: DataFrame, rnd: int) -> tuple[DataFrame, DataFrame]:
    """One BPE TRAINING round over a ``(doc_id, pos, tok)`` stream:
    returns ``(next_tokens, summary)`` — the re-segmented stream and the
    1-row (round, merged_pair, pair_count, tokens_after) summary.  Greedy
    leftmost, ties by (count desc, a, b); positions need only be ordered
    per doc, not dense.  Module-level so the property test
    (tests/test_properties.py) drives the exact shipped logic against a
    pure-Python greedy reference on generated corpora.

    ``lead(tok)`` is computed ONCE on the raw stream and shared by the
    pair-count branch and the decision pass (r13): both branches then
    canonicalize to the same doc_id exchange, so the round's input
    stream is exploded and shuffled ONCE (before, the broadcast
    top-pair join planted itself below the decision pass's copy of the
    exchange, splitting it from the pair-count branch's — two full
    explode+shuffle passes per training round; with the split healed
    the whole 2-round query reads the corpus exactly once, pinned by
    tests/test_round13.py).  A repartition of the re-segmented stream
    between rounds (to also share the decide-chain re-execution across
    round 2's two consumers) was tried and is ELIDED by the optimizer —
    the stream is already hash-partitioned on doc_id, so
    RepartitionByExpression(doc_id) plans to nothing and the consumers
    keep their own copies of the chain above the shared exchange."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    base = t.withColumn("nxt", F.lead("tok").over(w))
    pairs = base.filter(F.col("nxt").isNotNull())
    top = (
        pairs.groupBy(F.col("tok").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "a", "b")
        .limit(1)
    )
    dec, nxt_toks = _bpe_decide(
        base.crossJoin(F.broadcast(top)), precomputed_nxt=True
    )
    # merge-delta identity: every selected merge removes exactly one
    # token (non-overlapping by construction), so the post-round
    # count is derivable from the decision relation — no second
    # evaluation of the re-segmented stream just to count it.
    summary = top.crossJoin(
        F.broadcast(
            dec.agg(
                (
                    F.count(F.lit(1)) - F.sum(F.col("merged").cast("long"))
                ).alias("tokens_after")
            )
        )
    ).select(
        F.lit(rnd).alias("round"),
        F.concat_ws(" ", "a", "b").alias("merged_pair"),
        F.col("c").alias("pair_count"),
        "tokens_after",
    )
    return nxt_toks, summary


#: Fixed merge table for the APPLY (inference) half of the tokenizer —
#: configuration baked as literals, like ``_ring_points``: an ordered
#: merge list a trained tokenizer ships with.  Pair 2 is an (x, x) pair
#: so overlap islands are exercised on organic data.
_BPE_MERGES = (("table", "hash"), ("a", "a"), ("value", "table"))


def bpe_apply_pair(t: DataFrame, a: str, b: str, rnd: int):
    """Apply ONE fixed merge (a, b) to a ``(doc_id, pos, tok)`` stream:
    returns ``(next_tokens, summary)`` with summary columns (round,
    merged_pair, n_merges, tokens_after).  Same greedy-leftmost decision
    kernel as training (``_bpe_decide``), but the pair arrives as plan
    LITERALS — no pair-count aggregate, no broadcast, fully codegen."""
    dec, nxt_toks = _bpe_decide(
        t.withColumn("a", F.lit(a)).withColumn("b", F.lit(b))
    )
    summary = dec.agg(
        F.sum(F.col("merged").cast("long")).alias("n_merges"),
        (F.count(F.lit(1)) - F.sum(F.col("merged").cast("long"))).alias(
            "tokens_after"
        ),
    ).select(
        F.lit(rnd).alias("round"),
        F.lit(f"{a} {b}").alias("merged_pair"),
        "n_merges",
        "tokens_after",
    )
    return nxt_toks, summary


# ---------------------------------------------------------------------------
# O1: consistent-hash ring rebalance audit (vs naive mod resharding)
# ---------------------------------------------------------------------------


def _ring_points(n_shards: int, vnodes: int = 8) -> list[tuple[int, int]]:
    """Deterministic 32-bit ring points for ``n_shards`` × ``vnodes`` —
    md5-derived at query-construction time, baked into both engines'
    plans as literals (the ring IS configuration, not data)."""
    import hashlib

    pts = []
    for j in range(n_shards):
        for v in range(vnodes):
            h = int(
                hashlib.md5(f"s{j}:v{v}".encode()).hexdigest()[:8], 16
            )
            pts.append((h, j))
    return sorted(pts)


def _ring_case_sql(pts: list[tuple[int, int]], h_expr: str) -> str:
    clauses = " ".join(
        f"WHEN {h_expr} <= {h} THEN {s}" for h, s in pts
    )
    return f"CASE {clauses} ELSE {pts[0][1]} END"


def _ring_case_col(pts: list[tuple[int, int]], h) -> "F.Column":
    out = F.lit(pts[0][1])  # wrap-around: past the last point → first point
    for hh, s in reversed(pts):
        out = F.when(h <= F.lit(hh), F.lit(s)).otherwise(out)
    return out


@register(
    "corpus_shard_rebalance_audit",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             (doc_id * 2654435761 + 12345) % 4294967296 AS h
      FROM documents
    ),
    assigned AS (
      SELECT doc_id,
             {_ring_case_sql(_ring_points(16), "h")} AS ring16,
             {_ring_case_sql(_ring_points(17), "h")} AS ring17,
             doc_id % 16 AS mod16,
             doc_id % 17 AS mod17
      FROM d
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE ring16 <> ring17) AS BIGINT)
             AS n_moved_ring,
           ((2 * count(*) FILTER (WHERE ring16 <> ring17) * 1000000
               + count(*)) // (2 * count(*))) / 1000000.0 AS moved_ring_frac,
           CAST(count(*) FILTER (WHERE mod16 <> mod17) AS BIGINT)
             AS n_moved_mod,
           ((2 * count(*) FILTER (WHERE mod16 <> mod17) * 1000000
               + count(*)) // (2 * count(*))) / 1000000.0 AS moved_mod_frac
    FROM assigned
    """,
    tags=("llm", "curation", "maintenance"),
)
def corpus_shard_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: what fraction of the corpus MOVES when a 16-shard layout grows
    to 17 — consistent-hash ring (128 virtual nodes per ring, md5-point
    literals) versus naive ``id mod N``.  The systems question behind
    every reshard: the ring moves ~1/17 of documents (only keys between
    the new shard's points and their predecessors), while mod-rehashing
    moves ~16/17 — this query measures both exactly, and is the audit a
    storage team runs before committing a topology change.

    Ring lookup is a codegen'd 128-arm comparison chain over plan
    literals (binary-search semantics, branch-predictable); document
    hashes are portable integer arithmetic, so the oracle reproduces
    both assignments bit-for-bit.  One scan, one global aggregate —
    map-combinable at any corpus size.
    """
    d = load(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761) + F.lit(12345)) % F.lit(
        4294967296
    )
    assigned = d.select(
        _ring_case_col(_ring_points(16), h).alias("ring16"),
        _ring_case_col(_ring_points(17), h).alias("ring17"),
        (F.col("doc_id") % 16).alias("mod16"),
        (F.col("doc_id") % 17).alias("mod17"),
    )
    moved_r = F.count(F.when(F.col("ring16") != F.col("ring17"), 1))
    moved_m = F.count(F.when(F.col("mod16") != F.col("mod17"), 1))
    n = F.count(F.lit(1))
    return assigned.agg(
        n.alias("n_docs"),
        moved_r.alias("n_moved_ring"),
        round_int_ratio(moved_r, n, 6).alias("moved_ring_frac"),
        moved_m.alias("n_moved_mod"),
        round_int_ratio(moved_m, n, 6).alias("moved_mod_frac"),
    )


# ---------------------------------------------------------------------------
# P1: phrase search over a positional inverted index
# ---------------------------------------------------------------------------

_PHRASE = ("slow", "hash", "batch")  # query phrase — part of the definition


@register(
    "text_phrase_search",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, t.w, t.i
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
                    generate_subscripts(string_split(text, ' '), 1) AS i) t
    ),
    hits AS (
      SELECT a.doc_id, a.i AS start_pos
      FROM pos a
      JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN pos c ON c.doc_id = a.doc_id AND c.i = a.i + 2
      WHERE a.w = '{_PHRASE[0]}' AND b.w = '{_PHRASE[1]}'
        AND c.w = '{_PHRASE[2]}'
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)  AS n_occurrences,
           CAST(min(start_pos) AS BIGINT) AS first_pos
    FROM hits GROUP BY doc_id
    """,
    tags=("llm", "text", "retrieval"),
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: exact phrase search ("slow hash batch") via POSITIONAL
    postings — the operator behind quoted queries in every full-text
    engine: per-term posting lists carry token positions, and a phrase
    match is an equi-join of the terms' postings on (doc, consecutive
    positions).  Returns matching docs with occurrence counts and first
    position.

    Scale shape: each join leg filters its postings to ONE term before
    joining (predicate pushed to the scan of the exploded relation), so
    cost tracks the query terms' posting lists — never the corpus.  The
    first term anchors; subsequent terms join on (doc_id, pos + k).  At
    index-backed scale the same joins run against a stored postings
    table; here the postings derive in-plan from the fixture corpus.
    """
    d = load(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    )
    legs = [
        pos.filter(F.col("w") == term).select(
            "doc_id", (F.col("i") - k).alias("anchor")
        )
        for k, term in enumerate(_PHRASE)
    ]
    hits = legs[0]
    for leg in legs[1:]:
        hits = hits.join(leg, ["doc_id", "anchor"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        (F.min("anchor") + 1).alias("first_pos"),
    )


# ---------------------------------------------------------------------------
# R2: dedup threshold sweep (pair/document removal curve)
# ---------------------------------------------------------------------------


@register(
    "dedup_threshold_sweep",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
    pos AS (SELECT doc_id, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
    sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
           FROM pos a
           JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
    n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
    pair AS (SELECT x.doc_id id_a, y.doc_id id_b, count(*) c
             FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
             GROUP BY 1, 2),
    scored AS (
      SELECT id_a, id_b, c, nx.n AS na, ny.n AS nb
      FROM pair JOIN n nx ON id_a = nx.doc_id JOIN n ny ON id_b = ny.doc_id
      WHERE 10000 * c * c >= 2500 * nx.n * ny.n
    ),
    th AS (SELECT unnest([50, 60, 70, 80, 90]) AS t),
    hit AS (
      -- threshold test on the ROUNDED cosine, mirroring the engine side
      -- exactly (both engines compare the identical rounded double; the
      -- exact integer form would disagree when a true cosine sits within
      -- 5e-7 below a threshold and rounds onto it)
      SELECT th.t, s.id_a, s.id_b FROM scored s JOIN th
        ON round(s.c / sqrt(1.0 * s.na * s.nb), 6) * 100 >= th.t
    ),
    docs AS (
      SELECT t, doc_id FROM (
        SELECT t, id_a AS doc_id FROM hit
        UNION SELECT t, id_b FROM hit)
    )
    SELECT t / 100.0 AS threshold,
           (SELECT CAST(count(*) AS BIGINT) FROM hit h WHERE h.t = th.t)
             AS n_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM docs d WHERE d.t = th.t)
             AS n_docs_affected
    FROM th
    """,
    tags=("llm", "dedup", "curation"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: the dedup TUNING curve — near-dup pair counts and affected
    document counts at cosine thresholds 0.5..0.9, from ONE candidate
    generation pass at the loosest threshold (prefix filtering at
    t = 0.5; every tighter threshold is a filter over the same scored
    pairs).  This is the graph a curation review reads before picking
    the production threshold: where does the pair count elbow, and how
    much corpus is at stake at each setting.

    One prefix-filtered pass (operators/dedup.py::prefix_cosine_pairs)
    + a 5-way threshold explode over the scored pair relation — the
    sweep costs one candidate join regardless of how many thresholds it
    reports.  Integer accept tests per threshold (t²·10⁴ vs 10⁴·cos²),
    so every cut is engine-exact.
    """
    post = _postings_index(spark, sf_dir).drop("_blk")
    pairs = D.prefix_cosine_pairs(post, threshold_pct=50)
    # per-threshold cut on the ROUNDED cosine (the operator's output
    # column), with the oracle mirroring the same rounded comparison —
    # both engines compare the identical rounded double, so the cut is
    # engine-exact even when a true cosine sits within 5e-7 of a
    # threshold
    pairs = pairs.localCheckpoint(eager=False)  # one pass, 5 filters
    th = spark.range(5).select(
        (F.lit(50) + F.col("id") * 10).cast("int").alias("t")
    )
    hit = pairs.crossJoin(F.broadcast(th)).filter(
        F.col("cosine") * 100 >= F.col("t")
    )
    hit = hit.localCheckpoint(eager=False)  # feeds pair + doc counts
    n_pairs = hit.groupBy("t").agg(F.count(F.lit(1)).alias("n_pairs"))
    docs = (
        hit.select("t", F.col("id_a").alias("doc_id"))
        .unionByName(hit.select("t", F.col("id_b").alias("doc_id")))
        .distinct()
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n_docs_affected"))
    )
    return (
        n_pairs.join(docs, "t")
        .select(
            (F.col("t") / 100.0).alias("threshold"),
            "n_pairs",
            "n_docs_affected",
        )
    )


# ---------------------------------------------------------------------------
# Trigram novelty attribution (which doc introduced each n-gram?)
# ---------------------------------------------------------------------------


@register(
    "text_novelty_rate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts
      FROM documents
    ),
    tri AS (
      SELECT DISTINCT doc_id, source,
             unnest(list_transform(range(1, len(ts) - 1),
                    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
      FROM toks WHERE len(ts) >= 3
    ),
    intro AS (
      SELECT g, min(doc_id) AS first_doc FROM tri GROUP BY g
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(count(*) FILTER (WHERE i.first_doc = t.doc_id)
                AS BIGINT) AS n_introduced,
           round(count(*) FILTER (WHERE i.first_doc = t.doc_id)
                 * 1.0 / count(*), 6) AS novelty_rate
    FROM tri t JOIN intro i USING (g)
    GROUP BY t.source ORDER BY t.source
    """,
    tags=("llm", "text", "dedup"),
)
def text_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty attribution: every distinct (doc, trigram) pair
    joins the trigram's INTRODUCING doc (minimum doc_id over the corpus
    — ingestion order), and each source is scored by the fraction of its
    trigram mass it introduced — the provenance flip side of
    contamination/dup-rate screening: low novelty means a source mostly
    re-treads n-grams the corpus already has.

    Scale shape: the trigram explode is ~|tokens| rows (window of 3,
    built by one in-row ``transform`` over the token array — no
    self-join on position); the introducer table is one min-aggregate
    keyed by trigram (map-side combinable), and the attribution is an
    equi-join on trigram — the exact inverted-postings shape of the
    dedup family, with the same skew lever available if a trigram's
    posting list runs hot.  Docs under 3 tokens drop out by definition.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("ts")
    ).filter(F.size("ts") >= 3)
    tri = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 3),"
                " i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))"
            )
        ).alias("g"),
    ).distinct()
    intro = tri.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        tri.join(intro, "g")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.count(
                F.when(F.col("first_doc") == F.col("doc_id"), 1)
            ).alias("n_introduced"),
            F.round(
                F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
                / (F.lit(1.0) * F.count(F.lit(1))),
                6,
            ).alias("novelty_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# C4-style line-level dedup (keep first occurrence corpus-wide)
# ---------------------------------------------------------------------------


@register(
    "corpus_line_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
    ),
    lines AS (
      SELECT doc_id, source, i AS line_idx,
             array_to_string(ts[(i * 10 + 1):(i * 10 + 10)], ' ') AS line,
             least(10, len(ts) - i * 10) AS n_toks
      FROM toks,
           unnest(range(0, CAST(ceil(len(ts) / 10.0) AS BIGINT))) AS t(i)
    ),
    firsts AS (
      SELECT line,
             CAST(count(*) AS BIGINT) AS occ,
             min(struct_pack(d := doc_id, i := line_idx)) AS keeper
      FROM lines GROUP BY line
    )
    SELECT l.source,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (WHERE f.occ = 1
                 OR (f.keeper.d = l.doc_id AND f.keeper.i = l.line_idx))
                AS BIGINT) AS n_lines_kept,
           CAST(coalesce(sum(l.n_toks) FILTER (WHERE f.occ > 1
                 AND NOT (f.keeper.d = l.doc_id AND f.keeper.i = l.line_idx)),
                0) AS BIGINT) AS tokens_removed
    FROM lines l JOIN firsts f USING (line)
    GROUP BY l.source ORDER BY l.source
    """,
    tags=("llm", "dedup", "text"),
)
def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style LINE-level deduplication: every document splits into
    fixed 10-token lines, any line occurring more than once CORPUS-WIDE
    is removed everywhere except its first occurrence (min (doc, idx)
    — ingestion order), with per-source kept/removed token accounting —
    the sub-document dedup pass (C4 §2.2 ran it on real newlines) that
    doc-level and near-dup passes both miss (boilerplate repeated
    across otherwise-unique pages).

    Scale shape: the line explode is an in-row ``transform`` over the
    token array (|tokens|/10 rows); the first-occurrence election is ONE
    min-struct aggregate keyed by line text (map-side combinable — no
    window, no sort), and the verdict joins back on the line key — the
    same postings shape as the dedup family, hot-line skew capped by the
    same posting-frequency lever if needed.
    """
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("ts")
    )
    lines = toks.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                """
                transform(sequence(0, cast(ceil(size(ts) / 10.0) as int) - 1),
                  i -> named_struct(
                    'line', concat_ws(' ', slice(ts, i * 10 + 1, 10)),
                    'n_toks', least(10, size(ts) - i * 10)))
                """
            )
        ).alias("line_idx", "l"),
    ).select(
        "doc_id",
        "source",
        "line_idx",
        F.col("l.line").alias("line"),
        F.col("l.n_toks").alias("n_toks"),
    )
    firsts = lines.groupBy("line").agg(
        F.count(F.lit(1)).alias("occ"),
        F.min(F.struct(F.col("doc_id").alias("d"), F.col("line_idx").alias("i"))).alias(
            "keeper"
        ),
    )
    j = lines.join(firsts, "line")
    is_keeper = (F.col("keeper.d") == F.col("doc_id")) & (
        F.col("keeper.i") == F.col("line_idx")
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(
                F.when((F.col("occ") == 1) | is_keeper, 1)
            ).alias("n_lines_kept"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("occ") > 1) & ~is_keeper, F.col("n_toks")
                    )
                ),
                F.lit(0),
            ).alias("tokens_removed"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation fidelity (full-dim vs half-dim cosine agreement)
# ---------------------------------------------------------------------------


@register(
    "embedding_matryoshka_fidelity",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e
      FROM embeddings WHERE vec_id < 60
    ),
    pairs AS (
      SELECT CAST(round(list_cosine_similarity(a.e, b.e) * 1000000)
                  AS BIGINT) AS c64,
             CAST(round(list_cosine_similarity(a.e[1:32], b.e[1:32])
                        * 1000000) AS BIGINT) AS c32
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c64) AS BIGINT) AS sx,
             CAST(sum(c32) AS BIGINT) AS sy,
             CAST(sum(c64 * c64) AS BIGINT) AS sxx,
             CAST(sum(c32 * c32) AS BIGINT) AS syy,
             CAST(sum(c64 * c32) AS BIGINT) AS sxy,
             CAST(sum(abs(c64 - c32)) AS BIGINT) AS sad,
             CAST(count(*) FILTER (WHERE abs(c64 - c32) <= 100000)
                  AS BIGINT) AS n_close
      FROM pairs
    )
    SELECT n AS n_pairs,
           round((n * sxy - sx * sy)
                 / sqrt((1.0 * n * sxx - 1.0 * sx * sx)
                        * (1.0 * n * syy - 1.0 * sy * sy)), 6) AS pearson_r,
           round(CAST(sad AS DOUBLE) / n / 1000000, 6) AS mean_abs_gap,
           n_close
    FROM m
    """,
    tags=("llm", "similarity"),
)
def embedding_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: how faithfully do HALF-dimension
    (32 of 64) cosines reproduce the full-dimension similarity
    structure?  Pearson r between the two cosines over all sample
    pairs, mean absolute gap, and the within-0.1 agreement count — the
    measurement behind the store-half-the-vector cost decision MRL-style
    embeddings promise (truncation ≈ free if r stays near 1).

    Exactness: each pair's two cosines round to 6 and SCALE TO INTEGERS
    (×10⁶) before any cross-pair aggregation, so the correlation's five
    moments are exact int64 (|c|≤10⁶ ⇒ Σc² ≤ n·10¹²) and both engines
    divide identical integers — the ACF/Spearman trick, immune to the
    1770-term float-sum order.  Scale shape: the pair fanout is the
    SAMPLE's square (quadratic-by-contract audit over ≤60 ids, the
    SemDeDup posture); per-pair cosines are codegen HOF folds.
    """
    from lambda_arc_events_filter_spark.operators.similarity import (
        cosine_expr,
    )

    v = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 60)
        .select("vec_id", F.col("embedding").alias("e"))
    )
    a = v.select(F.col("vec_id").alias("ia"), F.col("e").alias("ea"))
    b = v.select(F.col("vec_id").alias("ib"), F.col("e").alias("eb"))
    pairs = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .withColumn("ha", F.expr("slice(ea, 1, 32)"))
        .withColumn("hb", F.expr("slice(eb, 1, 32)"))
        .select(
            F.round(cosine_expr("ea", "eb") * 1_000_000)
            .cast("long")
            .alias("c64"),
            F.round(cosine_expr("ha", "hb") * 1_000_000)
            .cast("long")
            .alias("c32"),
        )
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c64").alias("sx"),
        F.sum("c32").alias("sy"),
        F.sum(F.col("c64") * F.col("c64")).alias("sxx"),
        F.sum(F.col("c32") * F.col("c32")).alias("syy"),
        F.sum(F.col("c64") * F.col("c32")).alias("sxy"),
        F.sum(F.abs(F.col("c64") - F.col("c32"))).alias("sad"),
        F.count(
            F.when(F.abs(F.col("c64") - F.col("c32")) <= 100_000, 1)
        ).alias("n_close"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt(
        (F.lit(1.0) * n * F.col("sxx") - F.lit(1.0) * sx * sx)
        * (F.lit(1.0) * n * F.col("syy") - F.lit(1.0) * sy * sy)
    )
    return m.select(
        F.col("n").alias("n_pairs"),
        F.round(num / den, 6).alias("pearson_r"),
        F.round(F.col("sad").cast("double") / n / 1_000_000, 6).alias(
            "mean_abs_gap"
        ),
        "n_close",
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality filter (zlib proxy, Arrow boundary)
# ---------------------------------------------------------------------------


@register(
    "text_compressibility_filter",
    oracle=None,  # zlib is not expressible in DuckDB SQL — rows-only;
    # exact per-doc ratios are pinned by
    # tests/test_llm.py::test_compressibility_matches_direct_zlib
    tags=("llm", "text", "udf"),
)
def text_compressibility_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality screening (the Gopher/MassiveText
    repetition proxy): documents whose UTF-8 bytes compress too WELL are
    boilerplate/template/repetitive (low information density), ones that
    barely compress are noise — the cheap single-pass filter production
    curation runs before any model-based scorer.  Per source: docs
    below/above the [0.35, 0.95] zlib-ratio keep-band and mean ratio.

    zlib runs inside ``mapInPandas`` — a DELIBERATE Python boundary
    (Arrow-batched, like the multimodal decoders; no row-at-a-time UDF),
    because no SQL engine ships DEFLATE: this is rows-only by nature,
    with exact per-doc ratios pinned against direct zlib in pytest.
    Scale shape: embarrassingly parallel per-batch compression, one
    map-side-combinable rollup; compression level pinned (6) so results
    are reproducible across zlib builds at the same level.
    """
    import pandas as pd

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def batches(it):
        import zlib

        for pdf in it:
            # NULL text → empty; empty text → raw length clamps to 1 so
            # the integer ratio is defined (zlib's empty output is 8
            # bytes → ratio 8e6, far above the keep band, i.e. an empty
            # doc classifies as incompressible noise rather than
            # crashing the task on int(inf) — round-8 review; the
            # fixture has no empty docs, so only robustness changes)
            raw = pdf["text"].fillna("").map(lambda t: t.encode("utf-8"))
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "ratio_ppm": (
                        comp * 1_000_000 // raw.map(len).clip(lower=1)
                    ).astype("int64"),
                }
            )

    scored = d.mapInPandas(
        batches, schema="doc_id long, source string, ratio_ppm long"
    )
    keep_lo, keep_hi = 350_000, 950_000
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.col("ratio_ppm") < keep_lo, 1)
            ).alias("n_too_compressible"),
            F.count(
                F.when(F.col("ratio_ppm") > keep_hi, 1)
            ).alias("n_incompressible"),
            # exact floored integer mean (a double avg cast to long can
            # cross an integer boundary by one ulp)
            F.call_function(
                "div",
                F.sum("ratio_ppm").cast("decimal(38,0)"),
                F.count(F.lit(1)).cast("decimal(38,0)"),
            ).alias("mean_ratio_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# J1b: BPE merge APPLICATION (tokenizer inference over a fixed merge table)
# ---------------------------------------------------------------------------

_BPE_APPLY_SQL = """
  flag{r} AS (
    SELECT doc_id, pos, tok,
           CASE WHEN tok = '{a}'
                 AND lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) = '{b}'
                THEN 1 ELSE 0 END AS m
    FROM toks{r}
  ),
  isl{r} AS (
    SELECT *, pos - sum(m) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
    FROM flag{r}
  ),
  dec{r} AS (
    SELECT *, CASE WHEN m = 1 AND (row_number() OVER
                 (PARTITION BY doc_id, island, m ORDER BY pos) - 1) % 2 = 0
              THEN 1 ELSE 0 END AS merged
    FROM isl{r}
  ),
  toks{r1} AS (
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
           CASE WHEN merged = 1 THEN tok || ' ' || '{b}' ELSE tok END AS tok
    FROM (SELECT *, lag(merged) OVER (PARTITION BY doc_id ORDER BY pos)
                      AS consumed
          FROM dec{r})
    WHERE consumed IS NULL OR consumed = 0
  )
"""


def _bpe_apply_oracle() -> str:
    parts = [
        "WITH toks1 AS (\n"
        "  SELECT doc_id, t.i AS pos, t.w AS tok\n"
        "  FROM documents,\n"
        "       LATERAL (SELECT unnest(string_split(text, ' ')) AS w,\n"
        "                generate_subscripts(string_split(text, ' '), 1) AS i) t\n"
        ")"
    ]
    for r, (a, b) in enumerate(_BPE_MERGES, start=1):
        parts.append(_BPE_APPLY_SQL.format(r=r, r1=r + 1, a=a, b=b))
    selects = []
    for r, (a, b) in enumerate(_BPE_MERGES, start=1):
        selects.append(
            f"SELECT {r} AS round, '{a} {b}' AS merged_pair,\n"
            f"  (SELECT CAST(count(*) AS BIGINT) FROM toks{r})\n"
            f"  - (SELECT CAST(count(*) AS BIGINT) FROM toks{r + 1}) AS n_merges,\n"
            f"  (SELECT CAST(count(*) AS BIGINT) FROM toks{r + 1}) AS tokens_after"
        )
    return ",".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "tokens_bpe_apply_merges",
    oracle=_bpe_apply_oracle(),
    tags=("llm", "text", "iterative"),
)
def tokens_bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1b: the INFERENCE half of the tokenizer — apply a fixed, ordered
    merge table (``_BPE_MERGES``, configuration baked as literals) to the
    corpus word stream, the way a trained BPE tokenizer encodes text:
    round r greedy-leftmost-merges pair r in the stream produced by
    rounds < r.  Reports per round the merge count and the corpus token
    count after — the accounting a tokenization pass emits per shard.

    Shares the training kernel (``_bpe_decide``: streak-parity greedy
    selection, one exchange + one sort per round) but with the pair as
    plan LITERALS: no pair-count aggregate, no broadcast join, each
    round's decision fully inside WholeStageCodegen.  Order matters and
    the oracle proves it: round 1 consumes 'table hash' occurrences, so
    round 3's 'value table' only matches 'table' tokens that survived —
    and the engine's n_merges comes from ``sum(merged)`` while the
    oracle's comes from the stream-length DELTA, so oracle equality
    re-proves the merge-delta identity per round on organic data.  The
    (a, a) round exercises overlap islands (odd-streak selection) on the
    real corpus.  At 100 TB this is a per-doc map + window pipeline with
    no corpus-global state at all — the ideal shard-parallel shape; a
    real K-merge table unrolls K rounds or checkpoints every ~10 (the
    measured diamond-vs-checkpoint polarity in
    ``tokens_bpe_merge_rounds``).
    """
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    summaries = []
    for r, (a, b) in enumerate(_BPE_MERGES, start=1):
        t, s = bpe_apply_pair(t, a, b, r)
        summaries.append(s)
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the IVF path vs exact ground truth
# ---------------------------------------------------------------------------


@register(
    "ann_recall_at_k",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
    q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 20),
    bf AS (SELECT qid, nid FROM (
        SELECT q.qid, e.vec_id nid,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                          e.vec_id) AS rk
        FROM q CROSS JOIN e WHERE e.vec_id <> q.qid) WHERE rk <= 5),
    ex AS (SELECT label, unnest(v) val, generate_subscripts(v, 1) pos FROM e),
    cent AS (SELECT label AS cell, list(m ORDER BY pos) AS centroid
             FROM (SELECT label, pos, round(avg(val), 6) AS m
                   FROM ex GROUP BY 1, 2)
             GROUP BY label),
    probe AS (SELECT qid, cell FROM (
        SELECT qid, cell,
               row_number() OVER (PARTITION BY qid
                 ORDER BY round(list_cosine_similarity(qv, centroid), 6) DESC,
                          cell) AS pr
        FROM q CROSS JOIN cent) WHERE pr <= 2),
    iv AS (SELECT qid, nid FROM (
        SELECT probe.qid, e.vec_id nid,
               row_number() OVER (PARTITION BY probe.qid
                 ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                          e.vec_id) AS rk
        FROM probe
        JOIN e ON e.label = probe.cell
        JOIN q ON q.qid = probe.qid
        WHERE e.vec_id <> probe.qid) WHERE rk <= 5)
    SELECT bf.qid AS query_id,
           CAST(count(iv.nid) AS BIGINT) AS n_hits,
           (CAST((2 * CAST(count(iv.nid) AS HUGEINT) * 1000000 + 5)
                 AS HUGEINT) // 10) / 1000000.0 AS recall_at_5
    FROM bf LEFT JOIN iv ON iv.qid = bf.qid AND iv.nid = bf.nid
    GROUP BY 1
    """,
    tags=("llm", "similarity", "evaluation"),
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@5 of the IVF approximate path
    against exact brute-force ground truth, per query point: the
    acceptance metric every production ANN deployment tracks before
    trading exactness for the nprobe/ncells scan reduction.  The driver
    oracle replays BOTH paths in SQL, so the evaluation itself (not just
    each path) is value-checked.

    Both paths share the probe set (vec_id < 20) and the session-cached
    IVF index ``ann_ivf_topk`` builds (build-once/probe-many).  Exact
    side: corpus never shuffles, query side broadcasts, WindowGroupLimit
    caps per-query candidates (operators/similarity.brute_force_topk).
    Approx side: centroid table broadcasts, only probed cells score.
    The recall join is per-(query, neighbor) over 5·|Q| rows — broadcast
    scale by construction.  At 100 TB the exact side is the expensive
    leg, which is WHY it's the ground-truth harness (run on a sampled
    query set, as here) rather than the serving path; recall rounds via
    the engine-wide integer half-up discipline, so the cut is
    engine-exact.
    """
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = S.brute_force_topk(q, e, k=5)
    approx = S.ivf_topk(q, k=5, nprobe=2, index=_ivf_index(spark, sf_dir))
    hits = exact.select("query_id", "neighbor_id").join(
        approx.select(
            "query_id", "neighbor_id", F.lit(1).alias("hit")
        ),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias(
            "n_hits"
        ),
        round_int_ratio(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))), F.lit(5), 6
        ).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + dense cosine fused by Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

#: RRF smoothing constant (Cormack/Clarke/Buettcher 2009's k=60) and the
#: per-retriever list depth — part of the query definition.
_RRF_K = 60
_RRF_DEPTH = 50


@register(
    "retrieval_hybrid_rrf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY 1),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, avg(len) AS avglen FROM dl
    ),
    tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok
      WHERE w IN ('join', 'filter', 'scan') GROUP BY 1, 2
    ),
    dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    bm AS (
      SELECT t.doc_id,
             round(sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
                 * (t.tf * (1.2 + 1))
                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.len / s.avglen))), 6)
               AS score
      FROM tf t JOIN dfq d USING (w) JOIN dl l USING (doc_id)
      CROSS JOIN stats s GROUP BY t.doc_id
    ),
    lex AS (
      SELECT doc_id, rn AS lex_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM bm) WHERE rn <= 50
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    sem0 AS (
      SELECT vec_id AS doc_id,
             round(list_cosine_similarity(qv, embedding::DOUBLE[]), 6)
               AS score
      FROM embeddings, q WHERE vec_id <> 0
    ),
    sem AS (
      SELECT doc_id, rn AS sem_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM sem0) WHERE rn <= 50
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             round(coalesce(1.0 / (60 + l.lex_rank), 0)
                   + coalesce(1.0 / (60 + s.sem_rank), 0), 9) AS rrf_score
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank,
           rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
    tags=("llm", "text", "similarity", "topk"),
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end hybrid retrieval — the standard RAG serving
    composition, assembled from operators this engine already ships:
    a LEXICAL ranking (BM25 over the document corpus, the
    ``text_bm25_search`` scorer against its fixed 3-term query) and a
    DENSE ranking (exact cosine of embedding 0 against the corpus,
    ``operators.similarity.brute_force_topk``) fused by Reciprocal Rank
    Fusion: ``rrf(d) = Σ_lists 1/(k₀ + rank_d)`` with the
    Cormack-Clarke-Buettcher k₀ = 60, each retriever contributing its
    top-50.  RRF needs only RANKS — no score calibration between
    retrievers — which is exactly why it is the production default for
    fusing heterogeneous lists.

    A doc missing from one list contributes only the other's term
    (coalesce(·, 0)); ranks come from round-6 scores with doc_id
    tie-break, so both engines enumerate identical lists; the fused
    score sums the two divisions in the same order and rounds to 9
    before the final (rrf DESC, doc_id) top-10.

    Scale shape: each leg keeps its own 100 TB discipline — the BM25
    leg prunes the token stream to query-term hits before its shuffle
    and broadcasts df/corpus stats; the dense leg broadcasts the query
    vector and never shuffles the corpus (WindowGroupLimit caps per
    partition).  The fusion itself joins two ≤depth-row relations —
    driver-scale work no matter the corpus size, the reason RRF
    composes without a new heavy operator.
    """
    from lambda_arc_events_filter_spark.queries.round4_q import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("len").alias("avglen"))
    tf = (
        tok.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term = idf * (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("len") / F.col("avglen"))
    )
    bm = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term), 6).alias("score"))
    )
    # top-depth FIRST via TakeOrderedAndProject (scale-safe: no global
    # window over the full hit list), then the rank is a row_number over
    # the ≤depth-row result — the only unpartitioned window in the plan
    # runs on at most 50 rows by construction.
    wl = Window.orderBy(F.col("score").desc(), "doc_id")
    lex = (
        bm.orderBy(F.col("score").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("lex_rank", F.row_number().over(wl))
        .select("doc_id", F.col("lex_rank").cast("long").alias("lex_rank"))
    )
    e = load(spark, sf_dir, "embeddings")
    sem = (
        S.brute_force_topk(e.filter(F.col("vec_id") == 0), e, k=_RRF_DEPTH)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").cast("long").alias("sem_rank"),
        )
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.round(
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(
                1.0 / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)
            ),
            9,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(10)


@register(
    "retrieval_rerank_pipeline",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY 1),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, avg(len) AS avglen FROM dl
    ),
    tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok
      WHERE w IN ('join', 'filter', 'scan') GROUP BY 1, 2
    ),
    dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    bm AS (
      SELECT t.doc_id,
             round(sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
                 * (t.tf * (1.2 + 1))
                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.len / s.avglen))), 6)
               AS score
      FROM tf t JOIN dfq d USING (w) JOIN dl l USING (doc_id)
      CROSS JOIN stats s GROUP BY t.doc_id
    ),
    lex AS (
      SELECT doc_id, rn AS lex_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM bm) WHERE rn <= 50
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    sem0 AS (
      SELECT vec_id AS doc_id,
             round(list_cosine_similarity(qv, embedding::DOUBLE[]), 6)
               AS score
      FROM embeddings, q WHERE vec_id <> 0
    ),
    sem AS (
      SELECT doc_id, rn AS sem_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM sem0) WHERE rn <= 50
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             round(coalesce(1.0 / (60 + l.lex_rank), 0)
                   + coalesce(1.0 / (60 + s.sem_rank), 0), 9) AS rrf_score
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    ),
    top10 AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id, rrf_score
      FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    ),
    -- per-pair feature scoring over the shortlist only: full token
    -- array + embedding re-read for <=10 docs
    feat AS (
      SELECT t.doc_id, t.rrf_score,
             string_split(d.text, ' ') AS sp,
             len(string_split(d.text, ' ')) AS dlen
      FROM top10 t JOIN documents d USING (doc_id)
    ),
    tfeat AS (
      SELECT doc_id, rrf_score,
             (CASE WHEN list_contains(sp, 'join') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(sp, 'filter') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(sp, 'scan') THEN 1 ELSE 0 END)
               AS cov,
             coalesce(least(nullif(list_position(sp, 'join'), 0),
                            nullif(list_position(sp, 'filter'), 0),
                            nullif(list_position(sp, 'scan'), 0)),
                      dlen + 1) AS fpos
      FROM feat
    ),
    withcos AS (
      SELECT f.doc_id, f.rrf_score, f.cov, f.fpos,
             coalesce(round(list_cosine_similarity(
                 q.qv, e.embedding::DOUBLE[]), 6), 0) AS cosine
      FROM tfeat f
      LEFT JOIN embeddings e ON e.vec_id = f.doc_id
      CROSS JOIN q
    ),
    -- blend in EXACT integer space (see the Spark docstring): c6 is the
    -- 6-dec cosine as a scaled int, shifted +1 so the numerator stays
    -- non-negative for negative cosines; the +0.5 shift cancels after
    -- the integer half-up round
    scored AS (
      SELECT doc_id, rrf_score, cosine,
             CAST(cov AS BIGINT) AS cov_terms,
             CAST(fpos AS BIGINT) AS first_pos,
             {rerank} - 0.5 AS rerank_score
      FROM (SELECT *,
                   CAST(round(cosine * 1000000) AS BIGINT) AS c6
            FROM withcos)
    )
    SELECT doc_id, rrf_score, cosine, cov_terms, first_pos, rerank_score,
           CAST(row_number() OVER (ORDER BY rerank_score DESC, doc_id)
                AS BIGINT) AS final_rank
    FROM scored
    QUALIFY final_rank <= 5
    """.format(
        rerank=round_int_ratio_sql(
            "(15 * (c6 + 1000000) + 2000000 * cov) * (10 + fpos) + 90000000",
            "30000000 * (10 + fpos)",
            6,
        )
    ),
    tags=("llm", "text", "similarity", "topk"),
)
def retrieval_rerank_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes BB1's retrieval pipeline with the missing fourth stage —
    lexical → dense → fuse → RERANK (r12 verdict ask #8, option b): the
    fused RRF top-10 is re-scored by a cross-encoder-STYLE per-pair
    scorer that, unlike the rank-only fusion, reads the FULL content of
    each (query, candidate) pair — exact query-embedding cosine, query-
    term coverage, and earliest-term-position over the candidate's whole
    token array — blended as 0.5·cos + 0.2·cov/3 + 0.3/(1 + fpos/10),
    and the top-5 emit with their feature breakdown.  (A production
    system swaps the blend for a transformer forward pass per pair; the
    dataflow — cheap retrievers over the corpus, expensive scorer over a
    broadcast shortlist — is identical, which is the design point.)

    Scale shape: the shortlist (≤10 rows) BROADCASTS into a hash join
    against documents and embeddings, so full-content feature extraction
    touches ~shortlist rows regardless of corpus size; features are
    in-row HOFs (list_contains/array_position — no explode, no shuffle);
    the final rank is a window over ≤10 rows.  The two corpus-scale legs
    keep BB1's discipline (term-pruned BM25 shuffle, never-shuffled
    dense leg).  The blend is computed in EXACT integer arithmetic
    (round_int_ratio over a common denominator — see the inline
    derivation; a float blend hit a .5 rounding boundary between
    DuckDB's DECIMAL literals and Spark's doubles); absent-term
    positions coalesce to len+1 (both engines' position functions map
    0/NULL-for-absent through nullif, and both least() skip NULLs)."""
    from lambda_arc_events_filter_spark.queries.round4_q import _BM25_TERMS

    fused = retrieval_hybrid_rrf(spark, sf_dir).select("doc_id", "rrf_score")
    d = load(spark, sf_dir, "documents")
    toks = F.expr("split(text, ' ')")
    cov = sum(
        F.when(F.array_contains(toks, t), 1).otherwise(0)
        for t in _BM25_TERMS
    )
    fpos = F.coalesce(
        F.least(
            *[
                F.nullif(F.array_position(toks, F.lit(t)), F.lit(0))
                for t in _BM25_TERMS
            ]
        ),
        F.size(toks).cast("long") + 1,
    )
    feat = d.join(F.broadcast(fused), "doc_id").select(
        "doc_id", "rrf_score", cov.alias("cov"), fpos.alias("fpos")
    )
    e = load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(
        F.expr(
            "transform(embedding, x -> cast(x as double))"
        ).alias("qv")
    )
    withcos = (
        feat.join(
            e.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
            "left",
        )
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "rrf_score",
            "cov",
            "fpos",
            F.coalesce(
                F.round(S.cosine_expr("qv", "embedding"), 6), F.lit(0.0)
            ).alias("cosine"),
        )
    )
    # exact-integer blend: 0.5·cos + 0.2·cov/3 + 0.3/(1+fpos/10) =
    # N/D with c6 = round(cos·1e6), D = 3e7·(10+fpos),
    # N = (15·(c6+1e6) + 2e6·cov)·(10+fpos) + 9e7 — the +1e6 shift keeps
    # N non-negative for negative cosines (adds exactly 0.5, an integral
    # multiple of 1e-6, so it cannot move a rounding boundary and
    # subtracts back out after the half-up round).  A float blend hit a
    # .5 boundary at sf0.001 (0.5743325 → 0.574333 vs 0.574332: DuckDB
    # parses 0.2/0.3 literals as DECIMAL, Spark as double).
    c6 = F.round(F.col("cosine") * 1000000).cast("long")
    num = (15 * (c6 + 1000000) + 2000000 * F.col("cov")) * (
        10 + F.col("fpos")
    ) + 90000000
    den = 30000000 * (10 + F.col("fpos"))
    scored = withcos.select(
        "doc_id",
        "rrf_score",
        "cosine",
        F.col("cov").cast("bigint").alias("cov_terms"),
        F.col("fpos").cast("bigint").alias("first_pos"),
        (round_int_ratio(num, den, 6) - 0.5).alias("rerank_score"),
    )
    w = Window.orderBy(F.col("rerank_score").desc(), "doc_id")
    return (
        scored.withColumn(
            "final_rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("final_rank") <= 5)
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation: graded-relevance nDCG@10 (BB7)
# ---------------------------------------------------------------------------


@register(
    "retrieval_ndcg_eval",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
    q AS (SELECT vec_id qid, label lq, v qv FROM e WHERE vec_id < 10),
    top10 AS (SELECT qid, lq, nl, rk FROM (
        SELECT q.qid, q.lq, e.label nl,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                          e.vec_id) AS rk
        FROM q CROSS JOIN e WHERE e.vec_id <> q.qid) WHERE rk <= 10),
    dcg AS (SELECT qid,
               sum((pow(2, greatest(0, 3 - abs(lq - nl))) - 1)
                   / log2(rk + 1)) AS dcg_raw
            FROM top10 GROUP BY 1),
    hist AS (SELECT label, CAST(count(*) AS BIGINT) cnt FROM e GROUP BY 1),
    pools AS (
      SELECT q.qid,
             h0.cnt - 1 AS p3,
             coalesce(hm1.cnt, 0) + coalesce(hp1.cnt, 0) AS p2,
             coalesce(hm2.cnt, 0) + coalesce(hp2.cnt, 0) AS p1
      FROM q
      JOIN hist h0 ON h0.label = q.lq
      LEFT JOIN hist hm1 ON hm1.label = q.lq - 1
      LEFT JOIN hist hp1 ON hp1.label = q.lq + 1
      LEFT JOIN hist hm2 ON hm2.label = q.lq - 2
      LEFT JOIN hist hp2 ON hp2.label = q.lq + 2),
    ideal AS (SELECT qid,
                sum((pow(2, CASE WHEN r <= p3 THEN 3
                                 WHEN r <= p3 + p2 THEN 2
                                 WHEN r <= p3 + p2 + p1 THEN 1
                                 ELSE 0 END) - 1) / log2(r + 1)) AS idcg_raw
              FROM pools CROSS JOIN generate_series(1, 10) AS gs(r)
              GROUP BY 1)
    SELECT CAST(d.qid AS BIGINT) AS query_id,
           round(d.dcg_raw, 6) AS dcg_at_10,
           round(i.idcg_raw, 6) AS idcg_at_10,
           round(d.dcg_raw / i.idcg_raw, 6) AS ndcg_at_10
    FROM dcg d JOIN ideal i USING (qid)
    """,
    tags=("llm", "similarity", "evaluation"),
)
def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded-relevance nDCG@10 of the exact dense retriever — completes
    the retrieval-evaluation pair (binary recall@5 in ``ann_recall_at_k``
    → graded-position-discounted nDCG here), the metric IR evaluations
    standardize on when relevance is not binary (Järvelin & Kekäläinen
    TOIS 2002).  Relevance grade of candidate c for query q is derived
    deterministically from the fixtures' cluster labels:
    rel = max(0, 3 − |label_q − label_c|) ∈ {0..3}; gain = 2^rel − 1;
    DCG@10 = Σ gain_r / log2(r+1) over the retrieved ranking.

    The scale trick is the IDEAL side: ideal DCG needs the corpus sorted
    by relevance PER QUERY — a second full corpus pass at 100 TB.  But
    rel depends only on (label_q, label_c), so the ideal grade sequence
    is derivable from the corpus LABEL HISTOGRAM (10 rows): the rel-3
    pool is cnt[label_q]−1 (self excluded), rel-2 is cnt[label_q±1],
    rel-1 is cnt[label_q±2], and rank r's ideal grade is a running-total
    threshold over those pools.  The retrieved leg reuses
    ``brute_force_topk``'s discipline (corpus never shuffles, queries
    broadcast, WindowGroupLimit per-partition cap); the histogram and
    the ≤100-row top-k relation broadcast into every later join, and the
    rank spine is a 10-row ``spark.range`` cross join — nothing past the
    scorer touches corpus-scale data.  nDCG = DCG/IDCG rounded at 6 only
    after the division (float sums of 10 log-discounted terms agree
    cross-engine well inside 1e-6, the engine-wide float discipline)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    top = S.brute_force_topk(q, e, k=10)
    qlab = q.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("lq")
    )
    nlab = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
    )
    graded = nlab.join(
        F.broadcast(top.join(F.broadcast(qlab), "query_id")), "neighbor_id"
    )
    rel = F.greatest(F.lit(0), 3 - F.abs(F.col("lq") - F.col("nl")))
    dcg = graded.groupBy("query_id").agg(
        F.sum(
            (F.pow(F.lit(2.0), rel) - 1) / F.log2(F.col("rank") + 1)
        ).alias("dcg_raw")
    )
    hist = e.groupBy("label").agg(F.count("*").cast("bigint").alias("cnt"))
    pools = qlab
    for name, delta in (("h0", 0), ("hm1", -1), ("hp1", 1),
                        ("hm2", -2), ("hp2", 2)):
        h = hist.select(
            F.col("label").alias(f"{name}_l"), F.col("cnt").alias(name)
        )
        pools = pools.join(
            F.broadcast(h),
            F.col(f"{name}_l") == F.col("lq") + delta,
            "inner" if delta == 0 else "left",
        )
    pools = pools.select(
        "query_id",
        (F.col("h0") - 1).alias("p3"),
        (F.coalesce(F.col("hm1"), F.lit(0))
         + F.coalesce(F.col("hp1"), F.lit(0))).alias("p2"),
        (F.coalesce(F.col("hm2"), F.lit(0))
         + F.coalesce(F.col("hp2"), F.lit(0))).alias("p1"),
    )
    ranks = spark.range(1, 11).select(F.col("id").alias("r"))
    irel = (
        F.when(F.col("r") <= F.col("p3"), 3)
        .when(F.col("r") <= F.col("p3") + F.col("p2"), 2)
        .when(F.col("r") <= F.col("p3") + F.col("p2") + F.col("p1"), 1)
        .otherwise(0)
    )
    ideal = pools.crossJoin(F.broadcast(ranks)).groupBy("query_id").agg(
        F.sum(
            (F.pow(F.lit(2.0), irel) - 1) / F.log2(F.col("r") + 1)
        ).alias("idcg_raw")
    )
    return dcg.join(ideal, "query_id").select(
        F.col("query_id").cast("bigint"),
        F.round("dcg_raw", 6).alias("dcg_at_10"),
        F.round("idcg_raw", 6).alias("idcg_at_10"),
        F.round(F.col("dcg_raw") / F.col("idcg_raw"), 6).alias("ndcg_at_10"),
    )


# ---------------------------------------------------------------------------
# Late-interaction MaxSim retrieval (BB18)
# ---------------------------------------------------------------------------


@register(
    "retrieval_maxsim_late_interaction",
    oracle="""
    WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id nid, embedding::DOUBLE[] cv FROM embeddings),
    pairs AS (SELECT qid, nid, qv, cv FROM q JOIN c ON nid <> qid),
    sub AS (
      SELECT qid, nid, qi.i AS i,
             max(CAST(round(round(list_reduce(
                   list_transform(generate_series(1, 8),
                                  t -> qv[qi.i * 8 + t] * cv[dj.j * 8 + t]),
                   (a, b) -> a + b), 6) * 1000000) AS BIGINT)) AS m
      FROM pairs,
           unnest(generate_series(0, 7)) AS qi(i),
           unnest(generate_series(0, 7)) AS dj(j)
      GROUP BY qid, nid, qi.i
    ),
    sc AS (SELECT qid AS query_id, nid AS neighbor_id,
                  CAST(sum(m) AS BIGINT) AS maxsim_e6
           FROM sub GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY maxsim_e6 DESC, neighbor_id)
                     AS rank
          FROM sc)
    SELECT query_id, neighbor_id, maxsim_e6, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """,
    tags=("llm", "similarity"),
)
def retrieval_maxsim_late_interaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Late-interaction MaxSim retrieval (the ColBERT scoring rule,
    Khattab & Zaharia SIGIR 2020): query and candidate are MULTI-vector
    representations — here the 64-dim embedding decomposed into 8×8-dim
    sub-vectors standing in for per-token vectors — and the score is
    Σ over query sub-vectors of the MAX dot product against any
    candidate sub-vector.  MaxSim rewards the best local match per
    query facet instead of one pooled similarity, which is why
    late-interaction retrievers out-rank single-vector bi-encoders; the
    operator shape (sum-of-max over vector sets, then top-k) is exactly
    what a ColBERT serving stack runs per query.

    Scale shape: the 5-query side BROADCASTS into the corpus scan
    (corpus never shuffles); all 64 sub-vector dot products, the
    per-facet max, and the sum run IN-ROW as nested HOF folds inside
    whole-stage codegen — no explode, so the pair relation stays
    |corpus|×|queries| with one bigint score column; the only window is
    the per-query top-5 rank (WindowGroupLimit-capped).  Exactness:
    each dot rounds to 6dp then scales to BIGINT micro-units BEFORE
    max/sum, so facet maxima and their sum are order-free integer
    arithmetic in both engines."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("cv")
    )
    pairs = c.join(F.broadcast(q), F.col("nid") != F.col("qid"))
    score = F.expr(
        "aggregate(sequence(0, 7), 0L, (acc, i) -> acc + array_max("
        " transform(sequence(0, 7), j ->"
        "  cast(round(round(aggregate(sequence(1, 8), 0D, (a, t) ->"
        "    a + cast(element_at(qv, i * 8 + t) as double)"
        "      * cast(element_at(cv, j * 8 + t) as double)), 6)"
        "   * 1000000) as bigint))))"
    )
    sc = pairs.select(
        F.col("qid").alias("query_id"),
        F.col("nid").alias("neighbor_id"),
        score.alias("maxsim_e6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim_e6").desc(), F.col("neighbor_id")
    )
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap between two rankings (BB19)
# ---------------------------------------------------------------------------

#: (1-p)·p^(d-1) for p = 0.9, d = 1..10, bound as e-notation double
#: literals in BOTH engines (DuckDB parses plain decimals as DECIMAL,
#: which rounds differently from the double path).
_RBO_W = [
    "1e-1", "9e-2", "8.1e-2", "7.29e-2", "6.561e-2",
    "5.9049e-2", "5.31441e-2", "4.782969e-2", "4.3046721e-2",
    "3.87420489e-2",
]


@register(
    "retrieval_rank_rbo",
    oracle=f"""
    WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id nid, embedding::DOUBLE[] cv FROM embeddings),
    pairs AS (SELECT qid, nid, qv, cv FROM q JOIN c ON nid <> qid),
    coss AS (
      SELECT qid, nid,
             CAST(round(round(list_reduce(list_transform(
                    generate_series(1, 64), t -> qv[t] * cv[t]),
                    (a, b) -> a + b)
                  / sqrt(list_reduce(list_transform(qv, x -> x * x),
                         (a, b) -> a + b))
                  / sqrt(list_reduce(list_transform(cv, x -> x * x),
                         (a, b) -> a + b)), 6) * 1000000) AS BIGINT)
                 AS cos_e6
      FROM pairs),
    fac AS (
      SELECT qid, nid, qi.i AS i,
             max(CAST(round(round(list_reduce(
                   list_transform(generate_series(1, 8),
                                  t -> qv[qi.i * 8 + t] * cv[dj.j * 8 + t]),
                   (a, b) -> a + b), 6) * 1000000) AS BIGINT)) AS mx
      FROM pairs,
           unnest(generate_series(0, 7)) AS qi(i),
           unnest(generate_series(0, 7)) AS dj(j)
      GROUP BY qid, nid, qi.i),
    ms AS (SELECT qid, nid, CAST(sum(mx) AS BIGINT) AS maxsim_e6
           FROM fac GROUP BY 1, 2),
    s AS (
      SELECT coss.qid, coss.nid, coss.cos_e6, ms.maxsim_e6
      FROM coss JOIN ms ON coss.qid = ms.qid AND coss.nid = ms.nid),
    r AS (
      SELECT qid, nid,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_e6 DESC, nid) AS ra,
             row_number() OVER (PARTITION BY qid
                                ORDER BY maxsim_e6 DESC, nid) AS rb
      FROM s),
    both10 AS (
      SELECT qid, nid, greatest(ra, rb) AS mr
      FROM r WHERE ra <= 10 AND rb <= 10),
    grid AS (
      SELECT DISTINCT q.qid, d.d
      FROM q, unnest(generate_series(1, 10)) AS d(d)),
    ov AS (
      SELECT g.qid, g.d,
             CAST(count(b.nid) AS BIGINT) AS overlap_d
      FROM grid g LEFT JOIN both10 b
        ON b.qid = g.qid AND b.mr <= g.d
      GROUP BY g.qid, g.d),
    terms AS (
      SELECT qid, d, overlap_d,
             [{', '.join(_RBO_W)}][d]
               * CAST(overlap_d AS DOUBLE) / CAST(d AS DOUBLE) AS t
      FROM ov),
    f AS (
      SELECT qid, list(t ORDER BY d) AS ts,
             max(CASE WHEN d = 10 THEN overlap_d END) AS overlap_at_10
      FROM terms GROUP BY qid)
    SELECT qid AS query_id, CAST(overlap_at_10 AS BIGINT) AS overlap_at_10,
           list_reduce(ts, (a, b) -> a + b) AS rbo_trunc10
    FROM f
    """,
    tags=("llm", "similarity"),
)
def retrieval_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel TOIS 2010) between two
    retrieval runs over the same corpus — the top-weighted agreement
    metric an eval harness reports when comparing rankers (here: pooled
    exact cosine vs the BB18 late-interaction MaxSim, the comparison a
    retrieval engineer actually runs when deciding whether multi-vector
    scoring is worth serving; the fixture's embeddings are normalized,
    so cosine-vs-L2 would agree perfectly and was rejected as the run
    pair).  RBO@10 with persistence p=0.9: Σ_d (1−p)p^(d−1)·
    overlap(d)/d over prefix depths d=1..10, truncated (the standard
    reported form); overlap(d) counts items in BOTH prefixes, i.e. items
    whose max(rank_A, rank_B) ≤ d.

    Scale shape: queries broadcast, corpus never shuffles; both rankings
    come from the same pair relation with two integer-rounded score
    columns (cos and d2 in BIGINT micro-units — ties break on id, so
    both permutations are deterministic); only the per-query top-10
    windows rank anything, everything downstream (overlap grid, weights,
    fold) is ≤10 rows per query.  The geometric weights are e-notation
    double LITERALS in both engines (never pow() — libm may differ in
    the last ulp), overlap counts are integers, and the 10-term RBO sum
    is an ORDERED fold, so the emitted double is bit-identical."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("cv")
    )
    dot = (
        "aggregate(sequence(1, 64), 0D, (a, t) ->"
        " a + cast(element_at(qv, t) as double)"
        "   * cast(element_at(cv, t) as double))"
    )
    nrm = (
        "sqrt(aggregate(transform({v}, x -> cast(x as double) *"
        " cast(x as double)), 0D, (a, b) -> a + b))"
    )
    maxsim = (
        "aggregate(sequence(0, 7), 0L, (acc, i) -> acc + array_max("
        " transform(sequence(0, 7), j ->"
        "  cast(round(round(aggregate(sequence(1, 8), 0D, (a, t) ->"
        "    a + cast(element_at(qv, i * 8 + t) as double)"
        "      * cast(element_at(cv, j * 8 + t) as double)), 6)"
        "   * 1000000) as bigint))))"
    )
    s = c.join(F.broadcast(q), F.col("nid") != F.col("qid")).select(
        "qid",
        "nid",
        F.expr(
            f"cast(round(round({dot} / {nrm.format(v='qv')}"
            f" / {nrm.format(v='cv')}, 6) * 1000000) as bigint)"
        ).alias("cos_e6"),
        F.expr(maxsim).alias("maxsim_e6"),
    )
    wa = Window.partitionBy("qid").orderBy(F.col("cos_e6").desc(), "nid")
    wb = Window.partitionBy("qid").orderBy(F.col("maxsim_e6").desc(), "nid")
    r = s.select(
        "qid",
        "nid",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    both10 = r.filter((F.col("ra") <= 10) & (F.col("rb") <= 10)).select(
        "qid", "nid", F.greatest("ra", "rb").alias("mr")
    )
    grid = q.select("qid").crossJoin(
        F.broadcast(
            q.sparkSession.range(1, 11).select(
                F.col("id").cast("int").alias("d")
            )
        )
    )
    ov = (
        grid.join(
            both10,
            (grid["qid"] == both10["qid"]) & (both10["mr"] <= grid["d"]),
            "left",
        )
        .groupBy(grid["qid"].alias("qid"), "d")
        .agg(F.count(both10["nid"]).cast("long").alias("overlap_d"))
    )
    warr = "array({})".format(", ".join(w + "D" for w in _RBO_W))
    terms = ov.select(
        "qid",
        "d",
        "overlap_d",
        F.expr(
            f"element_at({warr}, d)"
            " * cast(overlap_d as double) / cast(d as double)"
        ).alias("t"),
    )
    f = terms.groupBy("qid").agg(
        F.array_sort(F.collect_list(F.struct("d", "t"))).alias("arr"),
        F.max(F.when(F.col("d") == 10, F.col("overlap_d"))).alias(
            "overlap_at_10"
        ),
    )
    return f.select(
        F.col("qid").alias("query_id"),
        F.col("overlap_at_10").cast("long").alias("overlap_at_10"),
        F.expr(
            "aggregate(transform(arr, s -> s.t), 0D, (a, b) -> a + b)"
        ).alias("rbo_trunc10"),
    )
