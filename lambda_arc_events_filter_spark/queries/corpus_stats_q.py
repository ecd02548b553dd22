"""Corpus-level statistical mining — round-3 wave: distribution drift
(KL divergence), collocation mining (PMI bigrams), nearest-centroid
label evaluation, and deterministic weighted sampling.

The training-data-pipeline measurement layer (driver mandate "text
analysis" widened): these are the queries a data-curation team runs to
DECIDE — is source X drifting from the corpus mix, which phrases are
over-represented, how separable are the labels in embedding space, and
which documents make the weighted cut.  All pure DataFrame plans: token
distributions are explode→groupBy aggregates with broadcast marginals,
the centroid pass is the broadcast-k×dim shape of the k-means family,
and the weighted sample is integer hash arithmetic — no Python on any
data path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.functions.exact import round_int_ratio
from lambda_arc_events_filter_spark.functions.rank import (
    global_order_stats,
    ntile_from_rank,
)
from lambda_arc_events_filter_spark.operators import dedup as D
from lambda_arc_events_filter_spark.registry import register

# ---------------------------------------------------------------------------
# KL divergence: per-source token distribution vs the corpus distribution
# ---------------------------------------------------------------------------


@register(
    "corpus_kl_divergence",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    st AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    s_tot AS (SELECT source, sum(c) AS n_s FROM st GROUP BY 1),
    ct AS (SELECT tok, sum(c) AS cc FROM st GROUP BY 1),
    c_tot AS (SELECT sum(cc) AS n_c FROM ct)
    SELECT st.source,
           CAST(s_tot.n_s AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT)  AS n_terms,
           round(sum((st.c * 1.0 / s_tot.n_s)
                 * ln((st.c * 1.0 / s_tot.n_s)
                      / (ct.cc * 1.0 / c_tot.n_c))), 6) AS kl_vs_corpus
    FROM st
    JOIN s_tot USING (source)
    JOIN ct USING (tok), c_tot
    GROUP BY st.source, s_tot.n_s
    """,
    tags=("llm", "text", "stats"),
)
def corpus_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per source: KL(source token distribution ‖
    corpus token distribution) — the drift detector for training-data
    mixture monitoring (a source whose KL jumps between snapshots changed
    its content mix; sources are ranked by how far they sit from the
    blend they feed).  KL is finite by construction here because every
    source term is also a corpus term (the corpus marginal is the sum
    over sources).

    Shape: one explode → (source, token) count aggregate — the only
    corpus-width shuffle — then the token marginal re-aggregates FROM
    those counts (never re-scanning text), joins back on the hashed token
    key, and the divergence is a per-source sum.  Corpus marginals are
    |vocab| rows; per-source sums are |sources| rows.  At 100 TB the
    (source, token) relation is the same postings matrix TF-IDF builds —
    one pipeline can feed both.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    st = (
        d.select("source", F.explode("tokens").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s_tot = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    ct = st.groupBy("tok").agg(F.sum("c").alias("cc"))
    n_c = st.agg(F.sum("c").alias("n_c"))
    p_s = F.col("c") * 1.0 / F.col("n_s")
    p_c = F.col("cc") * 1.0 / F.col("n_c")
    return (
        st.join(F.broadcast(s_tot), "source")
        .join(ct, "tok")
        .join(F.broadcast(n_c))
        .groupBy("source", "n_s")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(p_s * F.log(p_s / p_c)), 6).alias("kl_vs_corpus"),
        )
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            "n_terms",
            "kl_vs_corpus",
        )
    )


# ---------------------------------------------------------------------------
# PMI collocations: adjacent-bigram pointwise mutual information
# ---------------------------------------------------------------------------


@register(
    "text_pmi_bigrams",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    big AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM tok, unnest(generate_series(1, len(ts) - 1)) AS t(i)
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
    tot AS (SELECT sum(c12) AS n FROM bc),
    uni1 AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY 1),
    uni2 AS (SELECT w2, sum(c12) AS c2 FROM bc GROUP BY 1),
    pmi AS (
      SELECT bc.w1, bc.w2, CAST(bc.c12 AS BIGINT) AS c12,
             round(ln((bc.c12 * 1.0 / tot.n)
                   / ((uni1.c1 * 1.0 / tot.n)
                      * (uni2.c2 * 1.0 / tot.n))), 6) AS pmi
      FROM bc JOIN uni1 USING (w1) JOIN uni2 USING (w2), tot
      WHERE bc.c12 >= 20
    )
    SELECT w1, w2, c12, pmi FROM pmi
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
    tags=("llm", "text", "stats"),
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of ADJACENT token
    bigrams, top-20 by PMI among bigrams seen ≥ 20 times — the phrase
    detector (word2vec-phrases / tokenizer-merge precursor): high-PMI
    pairs co-occur far above chance and deserve a single vocabulary slot.

    Adjacent pairs keep the pair relation LINEAR in corpus size (a
    within-window co-occurrence blows up quadratically with window
    width); the unigram marginals re-aggregate from the bigram counts
    (c1 = Σ_w2 c12), so text is scanned once, and the count floor both
    stabilizes the statistic and caps the join's skew.  Final order is
    pinned on (rounded pmi, w1, w2) so the top-20 is cross-engine
    deterministic; TakeOrderedAndProject keeps the global sort a heap.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    big = d.select(
        F.explode(
            F.expr(
                "if(size(tokens) < 2, array(),"
                " transform(sequence(1, size(tokens) - 1),"
                " i -> struct(tokens[i-1] as w1, tokens[i] as w2)))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    tot = bc.agg(F.sum("c12").alias("n"))
    uni1 = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni2 = bc.groupBy("w2").agg(F.sum("c12").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c12") * 1.0 / F.col("n"))
            / (
                (F.col("c1") * 1.0 / F.col("n"))
                * (F.col("c2") * 1.0 / F.col("n"))
            )
        ),
        6,
    )
    return (
        bc.filter(F.col("c12") >= 20)
        .join(uni1, "w1")
        .join(uni2, "w2")
        .join(F.broadcast(tot))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Nearest-centroid label evaluation (embedding-space separability)
# ---------------------------------------------------------------------------


def _label_centroids(e: DataFrame) -> DataFrame:
    """ONE row, ``cs``: the per-label mean embeddings, unrounded, as an
    array of ``(clabel, cvec)`` structs sorted by label.  Means aggregate
    via posexplode → (label, pos) (k·dim rows), so the corpus is
    scanned once and only k·dim rows shuffle.  Unlike
    ``similarity.label_centroids`` nothing is rounded here: the callers
    round the distances they compare."""
    dims = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    cent = dims.groupBy("label", "pos").agg(
        F.avg(F.col("val").cast("double")).alias("cv")
    )
    packed = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
        .select(
            F.col("label").alias("clabel"),
            F.expr("transform(pc, s -> s.cv)").alias("cvec"),
        )
    )
    return packed.agg(
        F.array_sort(F.collect_list(F.struct("clabel", "cvec"))).alias("cs")
    )


@register(
    "embedding_centroid_eval",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
    ex AS (SELECT label, unnest(v) val, generate_subscripts(v, 1) pos FROM e),
    cent AS (
      SELECT label AS clabel, pos, avg(val) AS cv
      FROM ex GROUP BY 1, 2
    ),
    ev AS (
      SELECT vec_id, label, unnest(v) AS val,
             generate_subscripts(v, 1) AS pos
      FROM e
    ),
    dist AS (
      SELECT ev.vec_id, ev.label, c.clabel,
             round(sum((ev.val - c.cv) * (ev.val - c.cv)), 6) AS d2
      FROM ev JOIN cent c ON c.pos = ev.pos
      GROUP BY ev.vec_id, ev.label, c.clabel
    ),
    best AS (
      SELECT vec_id, label, clabel AS assigned,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, clabel) AS rk
      FROM dist
    )
    SELECT label, assigned, CAST(count(*) AS BIGINT) AS n
    FROM best WHERE rk = 1
    GROUP BY label, assigned
    """,
    tags=("llm", "similarity", "stats"),
)
def embedding_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid evaluation: per-label mean vectors, every
    embedding assigned to its nearest centroid (squared L2, ties pinned
    by label), confusion counts (true label × assigned) — the
    separability probe run before trusting labels for filtering or
    stratification, and the evaluation half of the k-means family.

    Centroids aggregate via posexplode → (label, pos) means (k·dim rows),
    come back as ONE broadcast array-struct row, and assignment is an
    in-row argmin over the k candidates — the corpus is scanned once and
    never shuffled (the confusion aggregate moves k² result rows).
    Distances round to 6 BEFORE the argmin on both engines so near-ties
    break on the label, not on last-ulp float drift (the kmeans lesson,
    COVERAGE.md).
    """
    e = load(spark, sf_dir, "embeddings")
    scored = e.join(F.broadcast(_label_centroids(e))).select(
        "vec_id",
        "label",
        F.expr(
            "array_min(transform(cs, c -> struct("
            " round(aggregate(zip_with(embedding, c.cvec,"
            "   (x, y) -> (cast(x as double) - y)"
            "           * (cast(x as double) - y)),"
            "   0D, (a, b) -> a + b), 6) as d2,"
            " c.clabel as assigned)))"
        ).alias("best"),
    )
    return scored.groupBy(
        "label", F.col("best.assigned").alias("assigned")
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (A-ES exponential-keys, hash-seeded)
# ---------------------------------------------------------------------------


@register(
    "corpus_weighted_sample",
    oracle="""
    WITH k AS (
      SELECT doc_id, source, n_chars,
             ((doc_id * 2654435761) % 2147483647 + 1) / 2147483648.0 AS u
      FROM documents
    ),
    sk AS (
      SELECT doc_id, source, n_chars,
             round(-ln(u) / n_chars, 12) AS ekey
      FROM k
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY ekey, doc_id) AS rk
      FROM sk
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
    """,
    tags=("llm", "sampling"),
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, 3 docs per source, inclusion
    probability ∝ n_chars: the Efraimidis-Spirakis exponential-key method
    (key = −ln(u)/w; smallest k keys = a weighted sample) with the
    uniform drawn from a Knuth multiplicative hash of doc_id — fully
    deterministic, so the "sample" is reproducible across runs AND
    engines, which is what makes a sampled eval set auditable.

    One window per source (WindowGroupLimit caps the sort at k per key);
    the key arithmetic is integer-exact cross-engine (modular multiply,
    then one float ln), rounded to 12 to absorb last-ulp ln drift.  This
    is the scale answer to "give me a weighted 1 % of 100 TB": no global
    sort, no second pass, no rejection loop — score and take-k per group.
    """
    d = load(spark, sf_dir, "documents")
    u = (
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647) + 1
    ) / F.lit(2147483648.0)
    sk = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(-F.log(u) / F.col("n_chars"), 12).alias("ekey"),
    )
    w = Window.partitionBy("source").orderBy("ekey", "doc_id")
    return (
        sk.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram language-model quality score (backoff-smoothed, CCNet-style)
# ---------------------------------------------------------------------------


@register(
    "text_bigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    big AS (
      SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      FROM tok, unnest(generate_series(1, len(ts) - 1)) AS t(i)
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
    uc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY 1),
    v AS (SELECT count(DISTINCT w2) AS vocab FROM bc)
    SELECT big.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((bc.c12 + 0.5) / (uc.c1 + 0.5 * v.vocab))), 6)
             AS mean_logprob
    FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1), v
    GROUP BY big.doc_id
    """,
    tags=("llm", "text", "stats"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score: per document, the mean
    log-probability of its adjacent token bigrams under an add-k-smoothed
    (k = 0.5) corpus bigram LM — the second-order refinement of the
    unigram perplexity gate (``text_unigram_logprob``); repetitive or
    out-of-distribution text scores low and gets filtered before
    training.

    The LM is the (w1, w2) count relation the PMI query also builds; the
    conditional P(w2|w1) needs only the bigram count, the left-unigram
    marginal (re-aggregated from bigram counts — one text scan total) and
    the vocabulary size (one scalar, broadcast).  Scoring joins each
    document bigram to the LM on the hashed pair key — at 100 TB both
    sides cluster on (w1, w2), and the per-doc mean is one
    map-side-combinable aggregate.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    big = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "if(size(tokens) < 2, array(),"
                " transform(sequence(1, size(tokens) - 1),"
                " i -> struct(tokens[i-1] as w1, tokens[i] as w2)))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = bc.agg(F.countDistinct("w2").alias("vocab"))
    logp = F.log(
        (F.col("c12") + 0.5) / (F.col("c1") + 0.5 * F.col("vocab"))
    )
    return (
        big.join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .join(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("mean_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Shannon entropy of the per-source token distribution
# ---------------------------------------------------------------------------


@register(
    "corpus_token_entropy",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    st AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    s_tot AS (SELECT source, sum(c) AS n_s FROM st GROUP BY 1)
    SELECT st.source,
           CAST(s_tot.n_s AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT)  AS n_terms,
           round(-sum((st.c * 1.0 / s_tot.n_s)
                      * ln(st.c * 1.0 / s_tot.n_s)), 6) AS entropy,
           round(-sum((st.c * 1.0 / s_tot.n_s)
                      * ln(st.c * 1.0 / s_tot.n_s)) / ln(count(*)), 6)
             AS norm_entropy
    FROM st JOIN s_tot USING (source)
    GROUP BY st.source, s_tot.n_s
    """,
    tags=("llm", "text", "stats"),
)
def corpus_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution, plus the
    vocabulary-normalized variant (÷ ln |vocab|, so 1.0 = uniform): the
    diversity gauge of corpus curation — templated or boilerplate-heavy
    sources score low-normalized-entropy and get down-weighted in the
    training mixture; the companion to [[corpus_kl_divergence]]'s drift
    measure on the same (source, token) count relation.

    Same plan family as KL: explode→two-level count aggregate, broadcast
    per-source totals; p·ln p sums are map-side combinable, so at 100 TB
    the corpus crosses the wire once as (source, token) partial counts.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    st = (
        d.select("source", F.explode("tokens").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s_tot = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    p = F.col("c") / F.col("n_s")
    plogp = -F.sum(p * F.log(p))
    return (
        st.join(F.broadcast(s_tot), "source")
        .groupBy("source", "n_s")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(plogp, 6).alias("entropy"),
            F.round(plogp / F.log(F.count(F.lit(1)).cast("double")), 6).alias(
                "norm_entropy"
            ),
        )
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            F.col("n_terms").cast("long").alias("n_terms"),
            "entropy",
            "norm_entropy",
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary growth curve (Heaps' law empirics)
# ---------------------------------------------------------------------------


@register(
    "vocab_growth_curve",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    first_use AS (SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY 1),
    doc_new AS (
      SELECT first_doc AS doc_id, count(*) AS new_terms
      FROM first_use GROUP BY 1
    ),
    doc_tok AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
    per_doc AS (
      SELECT doc_tok.doc_id, doc_tok.n_tok,
             coalesce(doc_new.new_terms, 0) AS new_terms
      FROM doc_tok LEFT JOIN doc_new USING (doc_id)
    ),
    dec AS (
      SELECT CAST(floor(ntile(10) OVER (ORDER BY doc_id)) AS INT) AS decile,
             n_tok, new_terms
      FROM per_doc
    ),
    per_dec AS (
      SELECT decile, sum(n_tok) AS toks, sum(new_terms) AS news
      FROM dec GROUP BY 1
    )
    SELECT decile,
           CAST(sum(toks) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
           CAST(sum(news) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
    FROM per_dec
    """,
    tags=("llm", "text", "stats"),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps'-law empirics): scanning documents
    in doc_id order, the cumulative distinct-vocabulary size vs the
    cumulative token count at each corpus decile.  A corpus whose curve
    flattens early is repetitive (bounded vocabulary); sub-linear but
    unbounded growth (V ≈ K·nᵝ) is the healthy-text signature — the
    standard collection-level health check before tokenizer training.

    The cumulative-distinct is NOT computed as a distinct-over-window
    (quadratic state): each term contributes exactly once at its FIRST
    document (min(doc_id) per term — one explode→min aggregate), so
    cumulative vocabulary = running sum of per-doc first-use counts.
    The decile label reproduces ntile(10) ARITHMETICALLY from the
    value-banded global rank (``functions/rank.py``) and the doc
    count n: with q = n div 10, r = n mod 10, the first r buckets hold
    q+1 rows — bucket(i) = ceil(i/(q+1)) while i ≤ r(q+1), else
    r + ceil((i − r(q+1))/q); integer-exact, identical to both engines'
    ntile convention, and free of any single-partition window.  The
    final cumsum over the 10-row decile frame is a triangular self-join
    (≤ 100 pairs) — window-free.  Both engines order by the identical
    unique doc_id — deterministic.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode("tokens").alias("tok"))
    first_use = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    doc_new = first_use.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    doc_tok = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    per_doc = doc_tok.join(doc_new, "doc_id", "left").select(
        "doc_id", "n_tok", F.coalesce("new_terms", F.lit(0)).alias("new_terms")
    )
    n_row = per_doc.agg(F.count(F.lit(1)).alias("_n"))
    ranked = global_order_stats(
        per_doc, ["doc_id"], rank="_i", key=["doc_id"]
    ).join(F.broadcast(n_row))
    dec = ranked.withColumn(
        "decile", ntile_from_rank(F.col("_i"), F.col("_n"), 10)
    )
    per_dec = dec.groupBy("decile").agg(
        F.sum("n_tok").alias("toks"), F.sum("new_terms").alias("news")
    )
    # 10-row cumulative sums via a triangular self-join — window-free
    a, b = per_dec.alias("a"), per_dec.alias("b")
    return (
        a.join(b, F.col("b.decile") <= F.col("a.decile"))
        .groupBy(F.col("a.decile").alias("decile"))
        .agg(
            F.sum("b.toks").cast("long").alias("cum_tokens"),
            F.sum("b.news").cast("long").alias("cum_vocab"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source shingle overlap (UpSet-style corpus contamination matrix)
# ---------------------------------------------------------------------------


@register(
    "corpus_source_overlap",
    oracle="""
    WITH tok AS (SELECT doc_id, source, string_split(text, ' ') t
                 FROM documents),
    pos AS (SELECT doc_id, source, unnest(t) w, generate_subscripts(t, 1) i
            FROM tok),
    sh AS (SELECT DISTINCT a.source, a.w || ' ' || b.w || ' ' || c.w AS s
           FROM pos a
           JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
    n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    pair AS (SELECT x.source AS source_a, y.source AS source_b,
                    CAST(count(*) AS BIGINT) AS shared_shingles
             FROM sh x JOIN sh y ON x.s = y.s AND x.source < y.source
             GROUP BY 1, 2)
    SELECT source_a, source_b, shared_shingles,
           na.n AS n_a, nb.n AS n_b,
           round(shared_shingles * 1.0
                 / (na.n + nb.n - shared_shingles), 6) AS jaccard
    FROM pair
    JOIN n na ON source_a = na.source
    JOIN n nb ON source_b = nb.source
    """,
    tags=("llm", "dedup", "corpus"),
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between corpus sources: each source's
    distinct 3-gram shingle set, then shared-shingle counts and Jaccard
    for every source pair — the UpSet-style contamination matrix that
    tells a pretraining pipeline which crawls duplicate each other
    BEFORE doc-level dedup spends compute on them.

    Scale shape: identical to the dedup inverted index — shingles via
    the codegen window path (``operators/dedup.py::shingle_postings``,
    8-byte hashed keys), distinct per source, then pairs GENERATED
    THROUGH the shingle-key equi-join (each shingle emits only the
    source pairs that actually share it) — never a |sources|² × set
    comparison.  The final aggregate is ≤ C(|sources|, 2) rows.  The
    oracle forms the same pairs from string shingles; counts agree up
    to the documented 64-bit xxhash collision bound (~1e-9/corpus).
    """
    from lambda_arc_events_filter_spark.operators.dedup import (
        shingle_postings,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("tokens")
    )
    post = shingle_postings(d, "doc_id", n=3, extra_cols=("source",))
    src_sh = post.select("source", "sk").distinct()
    sizes = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    x = src_sh.select(F.col("source").alias("source_a"), "sk")
    y = src_sh.select(F.col("source").alias("source_b"), "sk")
    pairs = (
        x.join(y, "sk")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    na = F.broadcast(
        sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    )
    nb = F.broadcast(
        sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    )
    shared = F.col("shared_shingles")
    return (
        pairs.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            "n_a",
            "n_b",
            F.round(
                shared * 1.0 / (F.col("n_a") + F.col("n_b") - shared), 6
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate against the corpus's own head vocabulary
# ---------------------------------------------------------------------------


@register(
    "corpus_oov_rate",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, count(*) AS c FROM tok GROUP BY term
        ORDER BY c DESC, term LIMIT 30)
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT)                       AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           ((2 * sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1000000
             + count(*)) // (2 * count(*))) / 1000000.0   AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.term = v.term
    GROUP BY t.doc_id
    """,
    tags=("llm", "corpus"),
)
def corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's top-30
    head vocabulary — the coverage check run before freezing a tokenizer
    vocab (a doc full of OOV tokens will fragment into garbage pieces).

    The vocabulary is a TakeOrdered head (deterministic c-then-term
    cut) broadcast into a left join against the exploded token stream;
    OOV-ness is the null side of that join, counted per doc in the same
    aggregate that counts tokens.  At 100 TB the vocab stays
    Zipf-bounded and broadcast-able; the token stream shuffles once, on
    doc_id.  The rate divides two integers — no float drift.
    """
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(30)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).cast("long").alias("n_oov"),
            round_int_ratio(F.sum(oov), F.count(F.lit(1)), 6).alias(
                "oov_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Shard balance audit (skew forecast for the training-shard writer)
# ---------------------------------------------------------------------------


@register(
    "corpus_shard_balance",
    oracle="""
    WITH s AS (
      SELECT (doc_id * 2654435761) % 16 AS shard, n_chars
      FROM documents
    ),
    per AS (
      SELECT CAST(shard AS BIGINT) AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM s GROUP BY 1
    ),
    tot AS (SELECT sum(n_docs) AS nd, sum(total_chars) AS nc,
                   count(*) AS k FROM per)
    SELECT per.shard, per.n_docs, per.total_chars,
           ((2 * per.n_docs * tot.k * 1000000 + tot.nd) // (2 * tot.nd))
               / 1000000.0                                  AS doc_skew,
           ((2 * per.total_chars * tot.k * 1000000 + tot.nc)
               // (2 * tot.nc)) / 1000000.0                 AS char_skew
    FROM per, tot
    """,
    tags=("llm", "corpus", "maintenance"),
)
def corpus_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit for the 16-way content-hash shard assignment
    (``corpus_shard_assignment``'s Knuth multiplicative hash): per-shard
    document and character mass, each as a ratio to the uniform
    expectation — the skew forecast a shard writer checks BEFORE a
    100 TB write, because a 1.5× hot shard becomes the straggler task
    of every epoch that reads the shards.

    One map + one 16-group aggregate; the expectation denominators are
    a 1-row aggregate OF the shard table, broadcast back.  All ratios
    divide integers — cross-engine exact.
    """
    d = load(spark, sf_dir, "documents")
    per = (
        d.select(
            ((F.col("doc_id") * 2654435761) % 16).alias("shard"), "n_chars"
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    tot = per.agg(
        F.sum("n_docs").alias("nd"),
        F.sum("total_chars").alias("nc"),
        F.count(F.lit(1)).alias("k"),
    )
    return per.join(F.broadcast(tot)).select(
        F.col("shard").cast("long").alias("shard"),
        "n_docs",
        "total_chars",
        round_int_ratio(
            F.col("n_docs") * F.col("k"), F.col("nd"), 6
        ).alias("doc_skew"),
        round_int_ratio(
            F.col("total_chars") * F.col("k"), F.col("nc"), 6
        ).alias("char_skew"),
    )


# ---------------------------------------------------------------------------
# Keyword-in-context concordance (KWIC)
# ---------------------------------------------------------------------------


@register(
    "text_kwic_concordance",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents
    ),
    ctx AS (
      SELECT doc_id, i, w,
             lag(w, 2)  OVER win AS l2,
             lag(w, 1)  OVER win AS l1,
             lead(w, 1) OVER win AS r1,
             lead(w, 2) OVER win AS r2
      FROM tok
      WINDOW win AS (PARTITION BY doc_id ORDER BY i)
    )
    SELECT doc_id, CAST(i AS BIGINT) AS position,
           coalesce(l2, '') || ' ' || coalesce(l1, '') AS left_ctx,
           w AS keyword,
           coalesce(r1, '') || ' ' || coalesce(r2, '') AS right_ctx
    FROM ctx
    WHERE w = 'merge' AND doc_id < 50
    """,
    tags=("llm", "text"),
)
def text_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance: every occurrence of a target term
    with its ±2-token context window — the corpus-linguistics KWIC view,
    and operationally the snippet extractor behind search-result
    highlighting and targeted-term auditing (how is this word actually
    used across the corpus?).

    Positional explode + one lag/lead window per doc (the shingling
    exchange); the keyword filter lands AFTER the window so context
    tokens survive, but Spark still prunes everything else about the
    row.  Missing context at document edges renders as empty string via
    coalesce, deterministically in both engines.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "w")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "w")
    win = Window.partitionBy("doc_id").orderBy("i")
    ctx = tok.select(
        "doc_id",
        "i",
        "w",
        F.lag("w", 2).over(win).alias("l2"),
        F.lag("w", 1).over(win).alias("l1"),
        F.lead("w", 1).over(win).alias("r1"),
        F.lead("w", 2).over(win).alias("r2"),
    )
    return ctx.filter((F.col("w") == "merge") & (F.col("doc_id") < 50)).select(
        "doc_id",
        F.col("i").cast("long").alias("position"),
        F.concat_ws(
            " ", F.coalesce("l2", F.lit("")), F.coalesce("l1", F.lit(""))
        ).alias("left_ctx"),
        F.col("w").alias("keyword"),
        F.concat_ws(
            " ", F.coalesce("r1", F.lit("")), F.coalesce("r2", F.lit(""))
        ).alias("right_ctx"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters with Misra-Gries candidates + exact verification
# ---------------------------------------------------------------------------


@register(
    "tokens_heavy_hitters_mg",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
    SELECT term,
           CAST(count(*) AS BIGINT)           AS freq,
           ((2 * count(*) * 1000000 + tot.n) // (2 * tot.n))
               / 1000000.0                    AS frac
    FROM tok, tot
    GROUP BY term, tot.n
    HAVING count(*) * 1.0 / tot.n > 0.02
    """,
    tags=("llm", "corpus", "udf"),
)
def tokens_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters above a 2 % frequency threshold, found the
    DISTRIBUTED-SKETCH way with an EXACT answer: per-partition
    Misra-Gries summaries (k counters, Arrow-batched) nominate
    candidates, then only the candidates are exactly recounted and
    threshold-filtered.

    Why this is more than a groupBy: the MG guarantee (any term with
    true frequency > n/k survives every partition summary and the
    merge) means the candidate set provably contains every true heavy
    hitter, while the EXACT recount discards false nominees — so the
    output equals the plain-aggregation oracle bit-for-bit even though
    no full-vocabulary aggregate ever materializes.  At 100 TB that is
    the difference between shuffling k counters per partition and
    shuffling a web-scale vocabulary; the recount join touches only
    |candidates| keys.  Candidate sets vary with partitioning; the
    VERIFIED output does not — the determinism lives in the exact
    phase, exactly like the LSH-then-verify dedup contract.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("term"))
    k = 128  # counters per partition: guarantees recall above n/128

    def mg_partition(batches):  # closure (worker-importable)
        counters: dict = {}
        for pdf in batches:
            for t in pdf["term"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < k:
                    counters[t] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        import pandas as pd

        yield pd.DataFrame({"term": list(counters.keys())})

    candidates = (
        tok.mapInPandas(mg_partition, schema="term string")
        .distinct()
    )
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        tok.join(F.broadcast(candidates), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.join(F.broadcast(tot))
        .filter(F.col("freq") * 1.0 / F.col("n") > 0.02)
        .select(
            "term",
            "freq",
            round_int_ratio(F.col("freq"), F.col("n"), 6).alias("frac"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive-pair generation)
# ---------------------------------------------------------------------------


@register(
    "corpus_negative_sample",
    oracle="""
    WITH anchors AS (
      SELECT doc_id, source FROM documents WHERE doc_id < 60
    ),
    ranked AS (
      SELECT a.doc_id AS anchor_id,
             d.doc_id AS negative_id,
             d.source AS negative_source,
             row_number() OVER (
               PARTITION BY a.doc_id
               ORDER BY (a.doc_id * 2654435761 + d.doc_id * 40503) % 9973,
                        d.doc_id) AS rk
      FROM anchors a
      JOIN documents d
        ON d.source <> a.source
    )
    SELECT anchor_id, negative_id, negative_source,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 4
    """,
    tags=("llm", "corpus", "ml"),
)
def corpus_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic cross-source negative sampling: each anchor document
    draws 4 negatives from OTHER sources, ranked by a pair hash — the
    contrastive-pair generator behind embedding training (in-batch
    negatives leak same-source shortcuts; cross-source draws force the
    model to learn content, not provenance).

    Hash-ranked rather than rand()-sampled for the same reason as every
    sample in this suite: reproducible epochs, engine-agnostic, and
    retry-safe.  The candidate join blocks on source inequality and the
    per-anchor rank is a WindowGroupLimit-style top-k — at corpus scale
    the anchor set is the small side and negatives draw from a
    per-shard sample, never the full cross join (the documented scale
    path for a 4-per-anchor draw is hashing into ~16 candidate buckets
    first; the fixture-scale plan keeps the exact semantics the oracle
    can verify).
    """
    d = load(spark, sf_dir, "documents")
    anchors = d.filter(F.col("doc_id") < 60).select(
        F.col("doc_id").alias("anchor_id"), F.col("source").alias("a_src")
    )
    cand = d.select(
        F.col("doc_id").alias("negative_id"),
        F.col("source").alias("negative_source"),
    )
    pair_hash = (
        F.col("anchor_id") * 2654435761 + F.col("negative_id") * 40503
    ) % 9973
    w = Window.partitionBy("anchor_id").orderBy(
        pair_hash, F.col("negative_id")
    )
    return (
        anchors.join(
            cand, F.col("negative_source") != F.col("a_src")
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 4)
        .select(
            "anchor_id",
            "negative_id",
            "negative_source",
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# G2: Zipf rank-frequency slope (power-law fit of the vocabulary)
# ---------------------------------------------------------------------------


@register(
    "tokens_zipf_slope",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    freq AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1),
    top AS (
      SELECT term, f FROM freq ORDER BY f DESC, term LIMIT 1000
    ),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r FROM top
    ),
    pts AS (SELECT ln(r) AS u, ln(f) AS v FROM ranked),
    fit AS (
      SELECT count(*) AS m, sum(u) AS su, sum(v) AS sv,
             sum(u * u) AS suu, sum(u * v) AS suv
      FROM pts
    )
    SELECT CAST(m AS BIGINT) AS n_terms,
           round((m * suv - su * sv) / (m * suu - su * su), 6) AS zipf_slope,
           round((sv - (m * suv - su * sv) / (m * suu - su * su) * su) / m,
                 6) AS zipf_intercept
    FROM fit
    """,
    tags=("llm", "text", "stats"),
)
def tokens_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 terms: OLS slope of ln(frequency)
    against ln(rank) — the corpus-health scalar every tokenizer team
    tracks (natural text sits near −1; a slope collapsing toward 0 means
    boilerplate/duplication flattened the distribution, a steep tail
    means vocabulary starvation).

    Frequencies are one explode→groupBy aggregate; the top-1000 cut is
    TakeOrderedAndProject (per-partition heaps, never a vocabulary-wide
    sort), and ranks 1..1000 ride the banded global-order helper on the
    BOUNDED 1000-row relation.  The OLS sums run over exactly 1000
    doubles produced from identical integers in both engines; the ±1-ulp
    association caveat is shared with the regression-aggregate family
    (D23) and absorbed by round(·, 6).
    """
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    top = freq.orderBy(F.col("f").desc(), "term").limit(1000)
    ranked = global_order_stats(
        top, [("f", "desc"), "term"], rank="r"
    )
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("u"),
        F.log(F.col("f").cast("double")).alias("v"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
    )
    m, su, sv = F.col("m"), F.col("su"), F.col("sv")
    slope = (m * F.col("suv") - su * sv) / (m * F.col("suu") - su * su)
    return fit.select(
        m.cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sv - slope * su) / m, 6).alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------------
# I3: tokenizer fertility audit (whitespace vs BPE-ish segmentation)
# ---------------------------------------------------------------------------


@register(
    "text_tokenizer_fertility",
    oracle="""
    WITH per AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT)  AS n_words,
             CAST(len(regexp_extract_all(text,
                  '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)  AS n_bpe,
             CAST(length(text) AS BIGINT)                  AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)  AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_bpe) AS BIGINT)   AS total_bpe,
           ((2 * sum(n_bpe) * 1000000 + sum(n_words))
               // (2 * sum(n_words))) / 1000000.0   AS fertility,
           ((2 * sum(n_chars) * 1000000 + sum(n_bpe))
               // (2 * sum(n_bpe))) / 1000000.0     AS chars_per_token
    FROM per GROUP BY lang
    """,
    tags=("llm", "text"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: tokenizer fertility per language — BPE-ish tokens emitted per
    whitespace word, plus characters per token: the two numbers a
    tokenizer team compares across languages before committing a vocab
    (fertility ≫ 1 for a language means its text costs proportionally
    more sequence length per word — the classic multilingual-tokenizer
    imbalance metric).

    One projection computes both segmentations per document (JVM regexp,
    no explode — only the COUNTS aggregate), then a map-side-combinable
    group-by per language; both ratios are integer-rounded in integer
    space so the engines agree bit-for-bit.
    """
    d = load(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.size(
            F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        )
        .cast("long")
        .alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )
    g = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_bpe").alias("total_bpe"),
        F.sum("n_chars").alias("_chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "total_words",
        "total_bpe",
        round_int_ratio(F.col("total_bpe"), F.col("total_words"), 6).alias(
            "fertility"
        ),
        round_int_ratio(F.col("_chars"), F.col("total_bpe"), 6).alias(
            "chars_per_token"
        ),
    )


# ---------------------------------------------------------------------------
# I5: temperature-scaled mixture weights (multilingual/source resampling)
# ---------------------------------------------------------------------------


@register(
    "corpus_temperature_mixture",
    oracle="""
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens) AS t FROM per),
    pw AS (
      SELECT source, n_docs, n_tokens,
             pow(n_tokens, 0.7) AS w
      FROM per
    ),
    wt AS (SELECT sum(w) AS sw FROM pw)
    SELECT source, n_docs, n_tokens,
           round(n_tokens / (SELECT 1.0 * t FROM tot), 6)    AS p_raw,
           round(w / (SELECT sw FROM wt), 6)                 AS p_temp,
           round((w / (SELECT sw FROM wt))
                 / (n_tokens / (SELECT 1.0 * t FROM tot)), 6) AS epoch_factor
    FROM pw
    """,
    tags=("llm", "curation"),
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: temperature-scaled sampling weights per source — the standard
    multilingual/source rebalancing rule (sample ∝ n^α, α = 0.7):
    raw token share, temperature share, and the epoch factor
    p_temp/p_raw — how many times over (or under) one natural epoch each
    source is drawn at these weights.  >1 means the sampler UP-samples a
    small source (and will repeat it); the factor is exactly the
    repetition-risk number a data-mixture review reads.

    One map-combinable aggregate to per-source token counts (a
    sources-sized relation), then in-row pow/shares against two 1-row
    broadcast totals.  pow(int, 0.7) on identical integers is identical
    in both engines; the only cross-row float sum spans the handful of
    sources (bounded by the catalog, not the corpus).
    """
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    per = per.localCheckpoint(eager=False)  # feeds both totals + output
    pw = per.withColumn("w", F.pow(F.col("n_tokens").cast("double"), 0.7))
    tot = per.agg(F.sum("n_tokens").alias("t"))
    wt = pw.agg(F.sum("w").alias("sw"))
    p_raw = F.col("n_tokens") / (F.lit(1.0) * F.col("t"))
    p_temp = F.col("w") / F.col("sw")
    return (
        pw.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(wt))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(p_raw, 6).alias("p_raw"),
            F.round(p_temp, 6).alias("p_temp"),
            F.round(p_temp / p_raw, 6).alias("epoch_factor"),
        )
    )


# ---------------------------------------------------------------------------
# S1: inter-labeler agreement (Cohen's kappa) between two weak labelers
# ---------------------------------------------------------------------------


@register(
    "labels_cohen_kappa",
    oracle="""
    WITH lab AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 260 THEN 1 ELSE 0 END            AS la,
             CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1
                  ELSE 0 END                                       AS lb
      FROM documents
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE la = 1 AND lb = 1) AS BIGINT) AS n11,
             CAST(count(*) FILTER (WHERE la = 1 AND lb = 0) AS BIGINT) AS n10,
             CAST(count(*) FILTER (WHERE la = 0 AND lb = 1) AS BIGINT) AS n01,
             CAST(count(*) FILTER (WHERE la = 0 AND lb = 0) AS BIGINT) AS n00
      FROM lab
    )
    SELECT n, n11, n10, n01, n00,
           round((n11 + n00) / (1.0 * n), 6) AS observed_agreement,
           round(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                 / (1.0 * n * n), 6)         AS expected_agreement,
           round(((n11 + n00) * 1.0 * n
                  - ((n11 + n10) * 1.0 * (n11 + n01)
                     + (n01 + n00) * 1.0 * (n10 + n00)))
                 / (n * 1.0 * n
                    - ((n11 + n10) * 1.0 * (n11 + n01)
                       + (n01 + n00) * 1.0 * (n10 + n00))), 6) AS kappa
    FROM m
    """,
    tags=("llm", "stats", "curation"),
)
def labels_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: Cohen's kappa between two weak labelers — the
    chance-corrected agreement behind every weak-supervision audit: a
    length-prior labeler (n_chars ≥ 260) vs a token-count labeler
    (≥50 whitespace tokens), κ = (p_o − p_e)/(1 − p_e) from the 2×2
    confusion counts.  High raw agreement with low κ means the labelers
    mostly agree by CHANCE — the failure mode kappa exists to expose.

    One map-combinable pass builds the confusion matrix (four
    conditional counts); κ is assembled from exact int64 cell counts
    with single IEEE divisions, so both engines agree bit-for-bit.
    """
    d = load(spark, sf_dir, "documents")
    lab = d.select(
        F.when(F.col("n_chars") >= 260, 1).otherwise(0).alias("la"),
        F.when(F.size(F.split("text", " ")) >= 50, 1)
        .otherwise(0)
        .alias("lb"),
    )
    m = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when((F.col("la") == 1) & (F.col("lb") == 1), 1)).alias(
            "n11"
        ),
        F.count(F.when((F.col("la") == 1) & (F.col("lb") == 0), 1)).alias(
            "n10"
        ),
        F.count(F.when((F.col("la") == 0) & (F.col("lb") == 1), 1)).alias(
            "n01"
        ),
        F.count(F.when((F.col("la") == 0) & (F.col("lb") == 0), 1)).alias(
            "n00"
        ),
    )
    n, n11, n10, n01, n00 = (
        F.col("n"),
        F.col("n11"),
        F.col("n10"),
        F.col("n01"),
        F.col("n00"),
    )
    chance = (n11 + n10) * F.lit(1.0) * (n11 + n01) + (n01 + n00) * F.lit(
        1.0
    ) * (n10 + n00)
    return m.select(
        n,
        n11,
        n10,
        n01,
        n00,
        F.round((n11 + n00) / (F.lit(1.0) * n), 6).alias(
            "observed_agreement"
        ),
        F.round(chance / (F.lit(1.0) * n * n), 6).alias(
            "expected_agreement"
        ),
        F.round(
            ((n11 + n00) * F.lit(1.0) * n - chance)
            / (n * F.lit(1.0) * n - chance),
            6,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Sparse matrix multiply: doc-term TF × term-topic weights
# ---------------------------------------------------------------------------


@register(
    "docs_topic_scores_spmm",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ),
    tm AS (
      SELECT term,
             (ascii(substr(md5(term), 1, 1)) * 31
              + ascii(substr(md5(term), 2, 1))) % 8 AS topic,
             1 + ascii(substr(md5(term), 3, 1)) % 5 AS w
      FROM (SELECT DISTINCT term FROM tf)
    ),
    scores AS (
      SELECT doc_id, topic, CAST(sum(tf * w) AS BIGINT) AS score
      FROM tf JOIN tm USING (term)
      GROUP BY 1, 2
    ),
    top AS (
      SELECT doc_id, topic, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, topic) AS rk
      FROM scores
    )
    SELECT topic,
           CAST(count(*) AS BIGINT) AS n_doc_topic_pairs,
           CAST(sum(score) AS BIGINT) AS total_score,
           CAST(count(*) FILTER (WHERE rk = 1) AS BIGINT) AS n_top_docs
    FROM top GROUP BY topic ORDER BY topic
    """,
    tags=("spmm", "text", "agg"),
)
def docs_topic_scores_spmm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse matrix multiply (SpMM) as relational algebra: the doc×term
    TF matrix times a term×topic weight matrix — postings ⋈ weights on
    ``term``, then a hash aggregate on (doc, topic) — followed by a
    per-doc argmax.  The weight matrix here is synthesized from a
    portable content hash (md5 byte arithmetic, identical in both
    engines); in production it is a trained model's term-topic table
    joined the exact same way.

    This join-aggregate IS how every distributed SpMM runs (GraphX,
    MLlib): never materialize dense vectors — co-partition the sparse
    triples on the contraction key.  Scale shape: one exchange on
    ``term`` for the multiply, one on ``doc_id`` for the argmax window
    (partitioned — no global window), integer arithmetic throughout.
    Output folds to 8 topic rows with doc/score accounting.
    """
    tf = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    h = F.md5("term")
    tm = tf.select("term").distinct().select(
        "term",
        (
            (F.ascii(F.substring(h, 1, 1)) * 31 + F.ascii(F.substring(h, 2, 1)))
            % 8
        ).alias("topic"),
        (F.lit(1) + F.ascii(F.substring(h, 3, 1)) % 5).alias("w"),
    )
    scores = (
        tf.join(tm, "term")
        .groupBy("doc_id", "topic")
        .agg(F.sum(F.col("tf") * F.col("w")).alias("score"))
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("topic"))
    )
    return (
        scores.withColumn("rk", rk)
        .groupBy("topic")
        .agg(
            F.count(F.lit(1)).alias("n_doc_topic_pairs"),
            F.sum("score").alias("total_score"),
            F.count(F.when(F.col("rk") == 1, 1)).alias("n_top_docs"),
        )
        .orderBy("topic")
    )


# ---------------------------------------------------------------------------
# Pairwise source similarity over sparse TF vectors (inverted-index join)
# ---------------------------------------------------------------------------


@register(
    "source_term_cosine",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ),
    norms AS (
      SELECT source, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY 1
    ),
    dots AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
      FROM tf a JOIN tf b ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, dot,
           round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cosine
    FROM dots
    JOIN norms na ON na.source = source_a
    JOIN norms nb ON nb.source = source_b
    ORDER BY source_a, source_b
    """,
    tags=("similarity", "text", "join"),
)
def source_term_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between SOURCES over their sparse
    term-frequency vectors — stylistic/topical affinity between corpus
    slices, the aggregate-level sibling of the document-level dedup
    family.  The pair dot products come from an inverted-index self-join
    on ``term`` (only terms the two sources SHARE produce join rows —
    the sparse-vector contraction), never from materializing
    |vocab|-wide dense vectors.

    Scale shape: one exchange on term for the self-join (cost tracks
    Σ_term df², the postings-skew quantity the dedup family already
    caps), norms broadcast (|sources| rows).  Integer dot products are
    exact; the final cosine is one sqrt+divide on doubles, identical
    ops on both engines, rounded to 6.
    """
    tf = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    norms = tf.groupBy("source").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    a = tf.select(
        F.col("source").alias("source_a"),
        F.col("term").alias("term"),
        F.col("tf").alias("tf_a"),
    )
    b = tf.select(
        F.col("source").alias("source_b"),
        F.col("term").alias("term"),
        F.col("tf").alias("tf_b"),
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(
        F.col("source").alias("source_a"), F.col("n2").alias("na2")
    )
    nb = norms.select(
        F.col("source").alias("source_b"), F.col("n2").alias("nb2")
    )
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "dot",
            F.round(
                F.col("dot")
                / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))),
                6,
            ).alias("cosine"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Source influence: entropy delta under leave-one-source-out
# ---------------------------------------------------------------------------


@register(
    "corpus_source_influence",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    st AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    gt AS (SELECT term, CAST(sum(c) AS BIGINT) AS g FROM st GROUP BY 1),
    tot AS (SELECT CAST(sum(g) AS BIGINT) AS n FROM gt),
    h_full AS (
      SELECT sum(-(CAST(g AS DOUBLE) / n) * ln(CAST(g AS DOUBLE) / n))
               AS h
      FROM gt, tot
    ),
    src_tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS sn FROM st
                GROUP BY 1),
    loo AS (
      SELECT s.source,
             sum(CASE WHEN gt.g - coalesce(st.c, 0) > 0
                      THEN -(CAST(gt.g - coalesce(st.c, 0) AS DOUBLE)
                             / (t.n - s.sn))
                           * ln(CAST(gt.g - coalesce(st.c, 0) AS DOUBLE)
                                / (t.n - s.sn))
                      ELSE 0 END) AS h_without
      FROM src_tot s
      CROSS JOIN tot t
      CROSS JOIN gt
      LEFT JOIN st ON st.term = gt.term AND st.source = s.source
      GROUP BY s.source, t.n, s.sn
    )
    SELECT l.source, s.sn AS n_tokens,
           round(f.h, 6) AS entropy_full,
           round(l.h_without, 6) AS entropy_without,
           round(l.h_without - f.h, 6) AS entropy_delta
    FROM loo l
    JOIN src_tot s ON s.source = l.source
    CROSS JOIN h_full f
    ORDER BY l.source
    """,
    tags=("llm", "text", "agg"),
)
def corpus_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out influence: the corpus token-distribution
    entropy recomputed WITHOUT each source — a negative delta means the
    source was adding diversity, a positive one means it was flattening
    the distribution toward its own head — the data-valuation screen
    behind mixture re-weighting decisions (which slice is pulling the
    corpus narrower?).

    Scale shape: one (source, term) count pass, one term rollup, then
    the leave-one-out recombination is a LEFT JOIN of the global term
    relation against each source's counts — |sources|·|vocab| work, an
    inverted-postings-scale join, never a re-scan of the corpus per
    source.  Counts are exact integers; each entropy term is an
    identical-op float expression rounded to 6.
    """
    tok = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    st = st.localCheckpoint(eager=False)
    gt = st.groupBy("term").agg(F.sum("c").alias("g"))
    gt = gt.localCheckpoint(eager=False)
    tot = gt.agg(F.sum("g").alias("n"))
    pg = F.col("g").cast("double") / F.col("n")
    h_full = gt.crossJoin(F.broadcast(tot)).agg(
        F.sum(-pg * F.log(pg)).alias("h")
    )
    src_tot = st.groupBy("source").agg(F.sum("c").alias("sn"))
    pairs = (
        src_tot.crossJoin(F.broadcast(tot))
        .crossJoin(gt)
        .join(
            st.select(
                F.col("source").alias("source"),
                F.col("term").alias("term"),
                F.col("c").alias("c"),
            ),
            ["source", "term"],
            "left",
        )
    )
    rem = F.col("g") - F.coalesce(F.col("c"), F.lit(0))
    prem = rem.cast("double") / (F.col("n") - F.col("sn"))
    loo = pairs.groupBy("source", "n", "sn").agg(
        F.sum(
            F.when(rem > 0, -prem * F.log(prem)).otherwise(F.lit(0.0))
        ).alias("h_without")
    )
    return (
        loo.crossJoin(F.broadcast(h_full))
        .select(
            "source",
            F.col("sn").alias("n_tokens"),
            F.round("h", 6).alias("entropy_full"),
            F.round("h_without", 6).alias("entropy_without"),
            F.round(F.col("h_without") - F.col("h"), 6).alias(
                "entropy_delta"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between source term distributions
# ---------------------------------------------------------------------------


@register(
    "corpus_js_divergence",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    st AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY 1),
    pairs AS (
      SELECT sp.sa AS source_a, sp.sb AS source_b,
             coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb,
             na.n AS na, nb.n AS nb
      FROM (SELECT DISTINCT a.source AS sa, b.source AS sb
            FROM tot a JOIN tot b ON a.source < b.source) sp
      JOIN tot na ON na.source = sp.sa
      JOIN tot nb ON nb.source = sp.sb
      JOIN (SELECT DISTINCT term FROM st) t ON TRUE
      LEFT JOIN st a ON a.source = sp.sa AND a.term = t.term
      LEFT JOIN st b ON b.source = sp.sb AND b.term = t.term
      WHERE coalesce(a.c, 0) + coalesce(b.c, 0) > 0
    ),
    terms AS (
      SELECT source_a, source_b,
             CAST(ca AS DOUBLE) / na AS p,
             CAST(cb AS DOUBLE) / nb AS q
      FROM pairs
    )
    SELECT source_a, source_b,
           round(sum(
             CASE WHEN p > 0 THEN 0.5 * p * ln(p / (0.5 * (p + q)))
                  ELSE 0 END
             + CASE WHEN q > 0 THEN 0.5 * q * ln(q / (0.5 * (p + q)))
                    ELSE 0 END), 6) AS jsd
    FROM terms
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("llm", "text", "agg"),
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every source PAIR's term
    distribution — the symmetric, bounded (≤ ln 2) corpus-drift measure
    that KL (D51) isn't: JSD treats both sides evenly and never blows
    up on one-sided terms, which is why mixture-design work quotes it.

    Scale shape: one (source, term) count pass; the pair expansion is
    an OUTER postings alignment — distinct terms × bounded source pairs
    via two left joins against the per-source counts — never a corpus
    re-scan per pair.  Counts exact; each term's contribution is one
    identical-op float expression; zero-sided terms contribute only
    their present side (0·ln0 = 0 convention), and the final sum rounds
    to 6.
    """
    tok = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    st = st.localCheckpoint(eager=False)
    tot = st.groupBy("source").agg(F.sum("c").alias("n"))
    sp = (
        tot.select(F.col("source").alias("sa"), F.col("n").alias("na"))
        .crossJoin(
            tot.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
        )
        .filter(F.col("sa") < F.col("sb"))
    )
    terms = st.select("term").distinct()
    a = st.select(
        F.col("source").alias("sa"),
        F.col("term").alias("term"),
        F.col("c").alias("ca"),
    )
    b = st.select(
        F.col("source").alias("sb"),
        F.col("term").alias("term"),
        F.col("c").alias("cb"),
    )
    grid = sp.crossJoin(terms).join(a, ["sa", "term"], "left").join(
        b, ["sb", "term"], "left"
    )
    ca = F.coalesce("ca", F.lit(0))
    cb = F.coalesce("cb", F.lit(0))
    p = ca.cast("double") / F.col("na")
    q = cb.cast("double") / F.col("nb")
    m = F.lit(0.5) * (p + q)
    contrib = F.when(p > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(q > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(F.lit(0.0))
    return (
        grid.filter(ca + cb > 0)
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            contrib.alias("j"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.round(F.sum("j"), 6).alias("jsd"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Keyness: log-likelihood G² of terms, each source vs the rest
# ---------------------------------------------------------------------------


@register(
    "text_keyness_llr",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    st AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS a
      FROM tok GROUP BY 1, 2
    ),
    gt AS (SELECT term, CAST(sum(a) AS BIGINT) AS g FROM st GROUP BY 1),
    srct AS (SELECT source, CAST(sum(a) AS BIGINT) AS n1 FROM st GROUP BY 1),
    tot AS (SELECT CAST(sum(g) AS BIGINT) AS nn FROM gt),
    scored AS (
      SELECT st.source, st.term, st.a, gt.g - st.a AS b,
             2 * (
               CASE WHEN st.a > 0 THEN st.a * ln(
                 st.a / (s.n1 * (CAST(gt.g AS DOUBLE) / t.nn))) ELSE 0 END
               + CASE WHEN gt.g - st.a > 0 THEN (gt.g - st.a) * ln(
                 (gt.g - st.a) / ((t.nn - s.n1)
                                  * (CAST(gt.g AS DOUBLE) / t.nn)))
                 ELSE 0 END
             ) AS g2,
             CASE WHEN CAST(st.a AS DOUBLE) / s.n1
                       > CAST(gt.g - st.a AS DOUBLE) / (t.nn - s.n1)
                  THEN 1 ELSE -1 END AS direction
      FROM st
      JOIN gt USING (term)
      JOIN srct s USING (source)
      CROSS JOIN tot t
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY g2 DESC, term) AS rk
      FROM scored
    )
    SELECT source, CAST(rk AS INT) AS rank, term, a AS n_in_source,
           b AS n_elsewhere, round(g2, 6) AS g2_keyness, direction
    FROM ranked WHERE rk <= 3 ORDER BY source, rank
    """,
    tags=("llm", "text", "rank"),
)
def text_keyness_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness screening (Rayson-Garside log-likelihood G²): for every
    source, the 3 terms whose frequency deviates most from the
    rest-of-corpus expectation under the 2×2 contingency — "what words
    make this slice sound like itself", the corpus-linguistics
    complement of TF-IDF (which scores terms per DOCUMENT, not per
    population split) and of the JSD/KL distribution-level measures.

    Counts are exact integers; each G² is one identical-op float
    expression (0·ln0 handled by the zero-branch convention), and the
    per-source top-3 rides a source-partitioned rank window (Spark
    plans the rk ≤ 3 filter as WindowGroupLimit — bounded per-partition
    state).  ``direction`` flags over- vs under-use.
    """
    tok = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("a"))
    st = st.localCheckpoint(eager=False)
    gt = st.groupBy("term").agg(F.sum("a").alias("g"))
    srct = st.groupBy("source").agg(F.sum("a").alias("n1"))
    tot = gt.agg(F.sum("g").alias("nn"))
    j = (
        st.join(gt, "term")
        .join(F.broadcast(srct), "source")
        .crossJoin(F.broadcast(tot))
    )
    a = F.col("a")
    b = F.col("g") - F.col("a")
    p = F.col("g").cast("double") / F.col("nn")
    n1, n2 = F.col("n1"), F.col("nn") - F.col("n1")
    g2 = F.lit(2.0) * (
        F.when(a > 0, a * F.log(a / (n1 * p))).otherwise(F.lit(0.0))
        + F.when(b > 0, b * F.log(b / (n2 * p))).otherwise(F.lit(0.0))
    )
    direction = F.when(
        a.cast("double") / n1 > b.cast("double") / n2, 1
    ).otherwise(-1)
    scored = j.select(
        "source",
        "term",
        a.alias("n_in_source"),
        b.alias("n_elsewhere"),
        g2.alias("g2"),
        direction.alias("direction"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("g2"), F.asc("term"))
    )
    return (
        scored.withColumn("rank", rk.cast("int"))
        .filter(F.col("rank") <= 3)
        .select(
            "source",
            "rank",
            "term",
            "n_in_source",
            "n_elsewhere",
            F.round("g2", 6).alias("g2_keyness"),
            "direction",
        )
        .orderBy("source", "rank")
    )


# ---------------------------------------------------------------------------
# Term burstiness (Church-Gale: within-doc clumping of term occurrences)
# ---------------------------------------------------------------------------


@register(
    "text_term_burstiness",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dt AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ),
    ndocs AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
    agg AS (
      SELECT term,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS cf,
             CAST(sum(tf * tf) AS BIGINT) AS cf2
      FROM dt GROUP BY term
    )
    SELECT term, df, cf,
           round(CAST(cf AS DOUBLE) / df, 6) AS burstiness,
           round((CAST(cf2 AS DOUBLE) - CAST(cf AS DOUBLE) * cf / nd)
                 / (nd - 1)
                 / (CAST(cf AS DOUBLE) / nd), 6) AS vmr
    FROM agg, ndocs
    ORDER BY cf DESC, term
    LIMIT 50
    """,
    tags=("llm", "text", "agg"),
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church-Gale): for the 50 highest-frequency
    terms, (a) occurrences per CONTAINING document (cf/df — a bursty
    term clumps: high repeats in few docs) and (b) the variance-to-mean
    ratio of per-document counts over the whole corpus (zeros included
    via the moment identity — Poisson terms sit near 1, topical terms
    far above) — the statistic separating function words from content
    words that plain frequency can't, used by stop-list builders and
    the repetition-quality gates.

    One (term, doc) rollup then one term rollup, both map-side
    combinable; the VMR assembles from exact integer moments with the
    zero-docs correction folded into the identity (Σ over all docs of
    tf² and tf equal the present-docs sums), so no per-doc zero rows
    ever materialize.  Deterministic top-50 by (cf, term).
    """
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    dt = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    nd = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("nd")
    )
    agg = dt.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.sum(F.col("tf") * F.col("tf")).alias("cf2"),
    )
    j = agg.crossJoin(F.broadcast(nd))
    cf, df_, cf2, ndc = F.col("cf"), F.col("df"), F.col("cf2"), F.col("nd")
    vmr = (
        (cf2.cast("double") - cf.cast("double") * cf / ndc)
        / (ndc - 1)
        / (cf.cast("double") / ndc)
    )
    return (
        j.select(
            "term",
            "df",
            "cf",
            F.round(cf.cast("double") / df_, 6).alias("burstiness"),
            F.round(vmr, 6).alias("vmr"),
        )
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Krippendorff's alpha (3 raters, missing ratings — beyond Cohen's kappa)
# ---------------------------------------------------------------------------


@register(
    "labels_krippendorff_alpha",
    oracle="""
    WITH lab AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 260 THEN 1 ELSE 0 END AS la,
             CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1
                  ELSE 0 END                            AS lb,
             CASE WHEN len(string_split(text, ' ')) >= 20 THEN
                    CASE WHEN len(list_distinct(string_split(text, ' ')))
                              * 10 >= 7 * len(string_split(text, ' '))
                         THEN 1 ELSE 0 END
                  ELSE NULL END                         AS lc
      FROM documents
    ),
    r AS (
      SELECT doc_id, v FROM (
        SELECT doc_id, la AS v FROM lab
        UNION ALL SELECT doc_id, lb FROM lab
        UNION ALL SELECT doc_id, lc FROM lab
      ) WHERE v IS NOT NULL
    ),
    u AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(v) AS BIGINT) AS o1,
             CAST(count(*) - sum(v) AS BIGINT) AS o0
      FROM r GROUP BY 1 HAVING count(*) >= 2
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(m) AS BIGINT) AS n_ratings,
             CAST(sum(o1) AS BIGINT) AS n_pos,
             CAST(sum(o0) AS BIGINT) AS n_neg,
             sum(o1 * o0 * 1.0 / (m - 1)) AS dsum
      FROM u
    )
    SELECT n_units, n_ratings, n_pos, n_neg,
           round(1.0 - (n_ratings - 1) * dsum / (1.0 * n_pos * n_neg), 6)
             AS alpha
    FROM t
    """,
    tags=("llm", "stats", "curation"),
)
def labels_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) across THREE weak labelers with
    MISSING ratings — the two cases Cohen's kappa (``labels_cohen_kappa``)
    structurally cannot express: kappa is pairwise-complete-only, while
    annotation audits routinely have >2 raters and abstentions.  Raters:
    the kappa pair (length prior, token-count prior) plus a
    type-token-ratio rater that ABSTAINS on short docs (<20 tokens) —
    alpha counts such units with whatever ratings exist (units need >=2).
    alpha = 1 − (n−1)·Σ_u o1_u·o0_u/(m_u−1) / (n1·n0), the standard
    nominal coincidence form.

    One map stage computes all three labels per doc (no joins — the
    raters are column expressions), an unpivot (Expand, C14 machinery)
    makes the (unit, rating) relation, one map-combinable groupBy builds
    per-unit coincidence counts, and the 1-row total assembles alpha
    from exact int64 sums and halves (m_u−1 ∈ {1,2}, so every per-unit
    term is an exact binary rational) — bit-for-bit cross-engine, same
    discipline as kappa.  Scale: one fact-width shuffle on doc_id (3×
    fan-out from the unpivot), then a scalar aggregate.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    n_tok = F.size("tokens")
    nd = F.size(F.array_distinct("tokens"))
    lab = d.select(
        "doc_id",
        F.when(F.col("n_chars") >= 260, 1).otherwise(0).alias("la"),
        F.when(n_tok >= 50, 1).otherwise(0).alias("lb"),
        F.when(
            n_tok >= 20,
            F.when(nd * 10 >= 7 * n_tok, 1).otherwise(0),
        ).alias("lc"),
    )
    r = lab.selectExpr(
        "doc_id", "stack(3, la, lb, lc) AS v"
    ).filter(F.col("v").isNotNull())
    u = (
        r.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("v").alias("o1"),
            (F.count(F.lit(1)) - F.sum("v")).alias("o0"),
        )
        .filter(F.col("m") >= 2)
    )
    return u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("m").cast("bigint").alias("n_ratings"),
        F.sum("o1").cast("bigint").alias("n_pos"),
        F.sum("o0").cast("bigint").alias("n_neg"),
        F.round(
            F.lit(1.0)
            - (F.sum("m") - 1)
            * F.sum(F.col("o1") * F.col("o0") * 1.0 / (F.col("m") - 1))
            / (F.sum("o1") * 1.0 * F.sum("o0")),
            6,
        ).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (PageRank over the co-occurrence graph)
# ---------------------------------------------------------------------------


@register(
    "text_textrank_keywords",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    co AS (
      SELECT least(ts[i], ts[i + 1]) AS a, greatest(ts[i], ts[i + 1]) AS b
      FROM tok, unnest(generate_series(1, len(ts) - 1)) AS t(i)
      WHERE ts[i] <> ts[i + 1]
      UNION ALL
      SELECT least(ts[i], ts[i + 2]) AS a, greatest(ts[i], ts[i + 2]) AS b
      FROM tok, unnest(generate_series(1, len(ts) - 2)) AS t(i)
      WHERE ts[i] <> ts[i + 2]
    ),
    edges AS MATERIALIZED (
      -- MATERIALIZED: five downstream CTEs (nodes, n, outw, pr1, pr2)
      -- reference this; inlined, the fact-scale pair extraction would
      -- re-evaluate once per expansion path (the BT-oracle lesson)
      SELECT a, b, CAST(count(*) AS BIGINT) AS w
      FROM co GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (SELECT a AS src, b AS dst, w FROM edges
            UNION ALL SELECT b, a, w FROM edges),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    n AS (SELECT count(*) AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS ow FROM sym GROUP BY 1),
    pr1 AS (
      SELECT nd.node,
             round(0.15 / n.n + 0.85 * sum((1.0 / n.n) * e.w / o.ow),
                   9) AS pr
      FROM nodes nd CROSS JOIN n
      JOIN sym e ON e.dst = nd.node
      JOIN outw o ON o.src = e.src
      GROUP BY nd.node, n.n
    ),
    pr2 AS (
      SELECT nd.node,
             round(0.15 / n.n + 0.85 * sum(p.pr * e.w / o.ow), 9) AS pr
      FROM nodes nd CROSS JOIN n
      JOIN sym e ON e.dst = nd.node
      JOIN pr1 p ON p.node = e.src
      JOIN outw o ON o.src = e.src
      GROUP BY nd.node, n.n
    )
    SELECT node AS word, round(pr, 6) AS textrank FROM pr2
    ORDER BY textrank DESC, word LIMIT 50
    """,
    tags=("llm", "text", "iterative"),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    (damping 0.85, two synchronous rounds from uniform) over the word
    co-occurrence graph — an undirected edge per word pair within a
    2-token window, weighted by corpus co-occurrence count, pruned at
    weight ≥ 2 (the paper's graph, corpus-level) — the unsupervised
    keyword ranker that beats raw frequency by rewarding CENTRALITY.

    Scale shape: pair extraction is the only fact-scale stage (in-row
    transform HOFs over the token array — gap-1 and gap-2 pairs, no
    self-join — then one canonical-pair count).  The edge relation is
    Heaps-bounded (distinct co-occurring pairs, pruned); it
    localCheckpoints because nodes/n/outw and both PR rounds re-read
    it (the BT lesson: without the barrier the explode re-executes per
    consumer).  Each PR round is a join-aggregate on EDGES with the
    rank vector broadcast — rank mass never touches fact rows.  Ranks
    round to 9 between rounds, 6 at the end; the top-50 order is
    pinned on (rounded rank DESC, word) so both engines cut the same
    list.  No dangling mass exists: symmetric edges give every node
    out-weight.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    pairs = d.select(
        F.explode(
            F.expr(
                """
                if(size(tokens) < 2, array(),
                   filter(transform(sequence(1, size(tokens) - 1),
                     i -> IF(tokens[i-1] <> tokens[i],
                             named_struct(
                               'a', least(tokens[i-1], tokens[i]),
                               'b', greatest(tokens[i-1], tokens[i])),
                             CAST(NULL AS struct<a: string, b: string>))),
                     x -> x IS NOT NULL))
                ||
                if(size(tokens) < 3, array(),
                   filter(transform(sequence(1, size(tokens) - 2),
                     i -> IF(tokens[i-1] <> tokens[i+1],
                             named_struct(
                               'a', least(tokens[i-1], tokens[i+1]),
                               'b', greatest(tokens[i-1], tokens[i+1])),
                             CAST(NULL AS struct<a: string, b: string>))),
                     x -> x IS NOT NULL))
                """
            )
        ).alias("p")
    )
    edges = (
        pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .localCheckpoint(eager=False)
    )
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w"))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    n_row = nodes.agg(F.count(F.lit(1)).alias("n"))
    outw = sym.groupBy("src").agg(F.sum("w").alias("ow"))
    # round 1 from the uniform vector 1/n (inlined, like the oracle)
    pr = (
        sym.join(F.broadcast(outw), "src")
        .crossJoin(F.broadcast(n_row))
        .groupBy(F.col("dst").alias("node"), F.col("n"))
        .agg(
            F.sum((1.0 / F.col("n")) * F.col("w") / F.col("ow")).alias("mass")
        )
        .select(
            "node",
            F.round(0.15 / F.col("n") + 0.85 * F.col("mass"), 9).alias("pr"),
        )
    )
    # round 2 folds the round-1 vector back over the same edges
    pr = (
        sym.join(
            F.broadcast(pr.select(F.col("node").alias("src"), "pr")), "src"
        )
        .join(F.broadcast(outw), "src")
        .crossJoin(F.broadcast(n_row))
        .groupBy(F.col("dst").alias("node"), F.col("n"))
        .agg(F.sum(F.col("pr") * F.col("w") / F.col("ow")).alias("mass"))
        .select(
            "node",
            F.round(0.15 / F.col("n") + 0.85 * F.col("mass"), 9).alias("pr"),
        )
    )
    return (
        pr.select(F.col("node").alias("word"), F.round("pr", 6).alias("textrank"))
        .orderBy(F.col("textrank").desc(), "word")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Unseen-vocabulary estimation (Chao1 / Good-Turing coverage)
# ---------------------------------------------------------------------------


@register(
    "corpus_unseen_vocab_estimate",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
    f AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM tc GROUP BY 1
    )
    SELECT source, n_tokens, vocab, f1, f2,
           round(vocab + f1 * (f1 - 1) / (2.0 * (f2 + 1)), 6) AS chao1_est,
           round(1.0 - f1 * 1.0 / n_tokens, 6) AS gt_coverage
    FROM f ORDER BY source
    """,
    tags=("llm", "text", "stats"),
)
def corpus_unseen_vocab_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Species-richness estimation per source: the bias-corrected Chao1
    lower bound on TOTAL vocabulary ``V + f₁(f₁−1)/(2(f₂+1))`` and the
    Good-Turing coverage estimate ``1 − f₁/N`` (the probability the
    next token is already known) from the frequency-of-frequencies —
    "how much vocabulary has this source NOT shown yet", the curation
    answer to whether more crawl of a source buys new tokens or
    repeats (complements Heaps' law D72, which fits growth ON the
    observed prefix; Chao1 extrapolates past it).

    Scale shape: token explode → (source, token) count → per-source
    frequency-of-frequencies — two map-side-combinable aggregates; the
    f-vector per source is at most max-count rows and the estimate is
    row-local arithmetic.  The bias-corrected Chao1 form is defined
    even when f₂=0; integers stay BIGINT until the final two divisions
    (both engines divide in the same order), round-6.
    """
    d = load(spark, sf_dir, "documents").select("source", "text")
    tok = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    tc = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    f = tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    return f.select(
        "source",
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        F.round(
            F.col("vocab")
            + F.col("f1") * (F.col("f1") - 1) / (2.0 * (F.col("f2") + 1)),
            6,
        ).alias("chao1_est"),
        F.round(1.0 - F.col("f1") * 1.0 / F.col("n_tokens"), 6).alias(
            "gt_coverage"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Confident-learning label-noise screen (BB15)
# ---------------------------------------------------------------------------


@register(
    "labels_confident_learning",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
    ex AS (SELECT label, unnest(v) val, generate_subscripts(v, 1) pos FROM e),
    cent AS (SELECT label AS clabel, pos, avg(val) AS cv FROM ex GROUP BY 1, 2),
    ev AS (SELECT vec_id, label, unnest(v) AS val,
                  generate_subscripts(v, 1) AS pos
           FROM e),
    dist AS (
      SELECT ev.vec_id, ev.label, c.clabel,
             CAST(round(round(sum((ev.val - c.cv) * (ev.val - c.cv)), 6)
                        * 1000000) AS BIGINT) AS d2e6
      FROM ev JOIN cent c ON c.pos = ev.pos
      GROUP BY ev.vec_id, ev.label, c.clabel
    ),
    thr AS (
      SELECT label AS tlabel, CAST(count(*) AS BIGINT) AS nj,
             CAST(sum(d2e6) AS BIGINT) AS sumj
      FROM dist WHERE clabel = label GROUP BY 1
    ),
    conf AS (
      SELECT d.vec_id, d.label, d.clabel, d.d2e6
      FROM dist d JOIN thr t ON t.tlabel = d.clabel
      WHERE d.d2e6 * t.nj <= t.sumj
    ),
    best AS (
      SELECT vec_id, clabel,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2e6, clabel) AS rk
      FROM conf
    ),
    pred AS (
      SELECT i.vec_id, i.label,
             CAST(coalesce(b.clabel, -1) AS INT) AS predicted
      FROM (SELECT DISTINCT vec_id, label FROM dist) i
      LEFT JOIN (SELECT vec_id, clabel FROM best WHERE rk = 1) b
        ON b.vec_id = i.vec_id
    )
    SELECT label, predicted, CAST(count(*) AS BIGINT) AS n,
           predicted <> label AND predicted <> -1 AS suspected_error
    FROM pred GROUP BY 1, 2
    """,
    tags=("llm", "similarity", "curation"),
)
def labels_confident_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen by confident learning (Northcutt, Jiang & Chuang
    JAIR 2021, the cleanlab recipe): class j's confidence threshold is the
    class's AVERAGE self-score; an item is confidently a member of every
    class whose centroid it beats that class's threshold for, its
    predicted class is the best such candidate, and the off-diagonal
    (given, predicted) cells of the resulting confident-joint matrix are
    the suspected label errors (predicted = -1 → below every threshold,
    abstain).  Scores are nearest-centroid squared-L2 (the
    embedding_centroid_eval probe), so the screen needs no trained model.

    Scale shape: centroids and per-class thresholds reduce to k and k
    rows (k=10) and BROADCAST; both corpus passes (self-score, then
    candidate/argmin) are in-row array folds over the broadcast structs
    — the corpus is scanned twice, never shuffled, and the only shuffled
    relations are the k-row threshold aggregate and the ≤(k+1)² output
    matrix.  Exactness: d2 rounds to 6dp (the kmeans near-tie lesson)
    then scales to BIGINT micro-units, so every threshold comparison is
    the integer cross-multiplication d2e6·n_j <= Σ_j — no division
    anywhere in the decision path, and the argmin breaks ties on the
    label."""
    e = load(spark, sf_dir, "embeddings")
    darr_expr = (
        "transform(cs, c -> struct("
        " c.clabel as clabel,"
        " cast(round(round(aggregate(zip_with(embedding, c.cvec,"
        "   (x, y) -> (cast(x as double) - y)"
        "           * (cast(x as double) - y)),"
        "   0D, (a, b) -> a + b), 6) * 1000000) as bigint) as d2e6))"
    )
    scored = e.join(F.broadcast(_label_centroids(e))).select(
        "vec_id", "label", F.expr(darr_expr).alias("darr")
    )
    thr = (
        scored.select(
            "label",
            F.expr("filter(darr, c -> c.clabel = label)[0].d2e6").alias("sd"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nj"),
            F.sum("sd").cast("long").alias("sumj"),
        )
    )
    thr_row = thr.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("label").alias("tlabel"), "nj", "sumj")
            )
        ).alias("thr")
    )
    pred = scored.join(F.broadcast(thr_row)).select(
        "label",
        F.coalesce(
            F.expr(
                "array_min(transform("
                " filter(darr, c -> c.d2e6 *"
                "   filter(thr, t -> t.tlabel = c.clabel)[0].nj <="
                "   filter(thr, t -> t.tlabel = c.clabel)[0].sumj),"
                " c -> struct(c.d2e6 as d2e6, c.clabel as clabel))).clabel"
            ),
            F.lit(-1),
        )
        .cast("int")
        .alias("predicted"),
    )
    return pred.groupBy("label", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            (F.col("predicted") != F.col("label"))
            & (F.col("predicted") != -1)
        ).alias("suspected_error"),
    )
