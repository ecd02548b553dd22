"""Training-data curation queries beyond the core dedup/text family:
Gopher-style repetition rules, PII redaction, deterministic stratified
sampling (domain mixing), benchmark-contamination screening, and
connected-components dedup clustering (pairs → transitive closure).

Each is driver-mandate surface (SURVEY.md §2 addendum: "operations a
large-scale training-data pipeline would need") with a full DuckDB oracle.
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
from lambda_arc_events_filter_spark.operators.graph import connected_components
from lambda_arc_events_filter_spark.registry import register

# ---------------------------------------------------------------------------
# Repetition rules (Gopher/MassiveText-style quality filtering)
# ---------------------------------------------------------------------------


@register(
    "text_repetition_rules",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') sp FROM documents),
    pos AS (SELECT doc_id, unnest(sp) w, generate_subscripts(sp, 1) i FROM t),
    wc AS (SELECT doc_id, w, count(*) c FROM pos GROUP BY 1, 2),
    ws AS (SELECT doc_id, max(c) top_cnt, CAST(sum(c) AS BIGINT) n_tokens
           FROM wc GROUP BY 1),
    bg0 AS (SELECT doc_id,
                   w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS bg,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL AS ok
            FROM pos),
    bgc AS (SELECT doc_id, bg, count(*) c FROM bg0 WHERE ok GROUP BY 1, 2),
    bgs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_bg, count(*) n_dist
            FROM bgc GROUP BY 1)
    SELECT ws.doc_id,
           n_tokens,
           ((2 * top_cnt * 1000000 + n_tokens) // (2 * n_tokens))
               / 1000000.0                           AS top_word_frac,
           ((2 * (n_bg - n_dist) * 1000000 + n_bg) // (2 * n_bg))
               / 1000000.0                           AS dup_bigram_frac,
           (n_tokens >= 20
            AND top_cnt * 1.0 / n_tokens <= 0.15
            AND (n_bg - n_dist) * 1.0 / n_bg <= 0.10) AS keep
    FROM ws JOIN bgs ON ws.doc_id = bgs.doc_id
    """,
    tags=("llm", "curation"),
)
def text_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics + keep/drop gate, the
    Gopher-rules shape: most-frequent-word fraction and duplicate-bigram
    fraction per document, thresholded alongside a length floor.

    Both metrics derive from one posexplode of the token array: word
    counts aggregate it directly; bigrams come from a window ``lead`` over
    (doc, position) — the same codegen-only shingling strategy as
    ``operators/dedup.shingle_postings`` (array-lambda HOFs are
    interpreted; see that docstring).  Two aggregation branches over the
    exploded relation, each map-side combinable; at 100 TB this is two
    shuffles of (doc, term) pairs, no row ever wider than a few tokens.
    """
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("sp")
    )
    pos = toks.repartition(8, "doc_id").select(
        "doc_id", F.posexplode("sp").alias("i", "w")
    )
    ws = (
        pos.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_cnt"),
            F.sum("c").alias("n_tokens"),
        )
    )
    wspec = Window.partitionBy("doc_id").orderBy("i")
    nxt = F.lead("w", 1).over(wspec)
    bgs = (
        pos.select(
            "doc_id", F.concat_ws(" ", F.col("w"), nxt).alias("bg"), nxt.alias("_nx")
        )
        .filter(F.col("_nx").isNotNull())
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bg"), F.count(F.lit(1)).alias("n_dist"))
    )
    top_frac = F.col("top_cnt") / F.col("n_tokens")
    dup_frac = (F.col("n_bg") - F.col("n_dist")) / F.col("n_bg")
    return (
        ws.join(bgs, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens"),
            round_int_ratio(F.col("top_cnt"), F.col("n_tokens"), 6).alias(
                "top_word_frac"
            ),
            round_int_ratio(
                F.col("n_bg") - F.col("n_dist"), F.col("n_bg"), 6
            ).alias("dup_bigram_frac"),
            (
                (F.col("n_tokens") >= 20)
                & (top_frac <= 0.15)
                & (dup_frac <= 0.10)
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------


@register(
    "pii_redaction_scan",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, '[0-9]+', '[ID]', 'g') AS masked_name,
           CAST(length(c_name)
                - length(regexp_replace(c_name, '[0-9]', '', 'g'))
             AS BIGINT)                                   AS n_digits,
           CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT)
                                                          AS extracted_id,
           regexp_matches(c_name, '[0-9]{6,}')            AS has_long_digit_run
    FROM customer
    """,
    tags=("llm", "curation"),
)
def pii_redaction_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style detect/extract/redact over an identifier-bearing column:
    mask digit runs, count digit characters, extract the numeric id, flag
    long runs.  The regex machinery (replace-all, char-class count,
    capture-group extract, run-length detect) is exactly what an email /
    phone / SSN scrubber runs per document at corpus scale — pure
    codegen'd string expressions in one map stage, no shuffle at all.
    Patterns stay within the regex subset where Java (Spark) and RE2
    (DuckDB oracle) agree.
    """
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]+", "[ID]").alias("masked_name"),
        (
            F.length("c_name") - F.length(F.regexp_replace("c_name", "[0-9]", ""))
        ).cast("long").alias("n_digits"),
        F.regexp_extract("c_name", "([0-9]+)", 1).cast("long").alias("extracted_id"),
        F.col("c_name").rlike("[0-9]{6,}").alias("has_long_digit_run"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (domain mixing)
# ---------------------------------------------------------------------------


@register(
    "corpus_sample_stratified",
    oracle="""
    WITH k AS (
      SELECT lang, source,
             CASE WHEN (doc_id * 2654435761) % 100 <
                       (CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 50
                                  ELSE 20 END)
                  THEN 1 ELSE 0 END AS kept
      FROM documents)
    SELECT lang, source,
           count(*)                       AS n_total,
           CAST(sum(kept) AS BIGINT)      AS n_kept,
           ((2 * sum(kept) * 1000000 + count(*)) // (2 * count(*)))
               / 1000000.0                AS kept_frac
    FROM k GROUP BY 1, 2
    """,
    tags=("llm", "curation"),
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling — the domain-mixing primitive: a
    target rate per language (en 80%, zh 50%, rest 20%), membership decided
    by an arithmetic hash of the stable doc id (Knuth multiplicative), so
    the sample is reproducible run-to-run and engine-to-engine (no rand()).
    One map stage + one aggregate; at 100 TB the filter form
    (``WHERE hash < rate``) feeds the writer directly with zero shuffles,
    this accounting form adds one.
    """
    d = load(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 80)
        .when(F.col("lang") == "zh", 50)
        .otherwise(20)
    )
    kept = (
        F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(100)) < rate
    ).cast("int")
    return (
        d.select("lang", "source", kept.alias("kept"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            round_int_ratio(F.sum("kept"), F.count(F.lit(1)), 6).alias(
                "kept_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination screen
# ---------------------------------------------------------------------------


@register(
    "contamination_ngram_screen",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
    pos AS (SELECT doc_id, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
    sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
           FROM pos a
           JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
    n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
    shared AS (SELECT doc_id, count(*) c FROM sh
               WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM bench)
               GROUP BY 1)
    SELECT shared.doc_id,
           n.n                      AS n_shingles,
           shared.c                 AS n_shared,
           ((2 * shared.c * 1000000 + n.n) // (2 * n.n)) / 1000000.0
                                    AS overlap_frac,
           shared.c * 1.0 / n.n >= 0.5    AS contaminated
    FROM shared JOIN n ON shared.doc_id = n.doc_id
    """,
    tags=("llm", "curation"),
)
def contamination_ngram_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: fraction of each corpus document's
    distinct 3-gram shingles that appear anywhere in a held-out benchmark
    set (here: every 97th document), flagged at ≥50% overlap.

    Same inverted-index shape as the dedup family: hashed shingle postings
    (``shingle_postings``, codegen window form), benchmark key set
    broadcast, LEFT SEMI join + per-doc count — the benchmark side of a
    contamination check is always broadcast-small (eval suites are MBs,
    corpora are TBs), so the corpus is never shuffled at all.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    post = D.shingle_postings(d, "doc_id", with_sizes=True)
    bench_keys = (
        post.filter(F.col("_id") % 97 == 0).select("sk").distinct()
    )
    return (
        post.filter(F.col("_id") % 97 != 0)
        .join(F.broadcast(bench_keys), "sk", "left_semi")
        .groupBy("_id", "_n")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            F.col("_id").alias("doc_id"),
            F.col("_n").alias("n_shingles"),
            "n_shared",
            round_int_ratio(F.col("n_shared"), F.col("_n"), 6).alias(
                "overlap_frac"
            ),
            (F.col("n_shared") / F.col("_n") >= 0.5).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Connected-components dedup clustering
# ---------------------------------------------------------------------------

#: Exact unblocked 3-gram Jaccard pairs at ≥0.5 — the edge relation.  Kept
#: as a CTE fragment so the recursive-closure oracle below builds on the
#: exact pair set the Spark side also starts from (same set
#: ``dedup_minhash_lsh`` verifies against).
#: Session index: UNBLOCKED shingle postings (block key = constant 1),
#: the corpus artifact behind every whole-corpus near-dup pair build
#: (_PAIR_CTE family: connected components, representatives, degree /
#: triangle / two-hop graph stats, dup-rate by source).  The lang-blocked
#: twin lives in llm_q._postings_index; the UNBLOCKED pair set is a
#: different artifact (cross-lang pairs included), hence its own store
#: entry.  A resident session artifact (cache.session_artifact), so
#: pure-probe consumers ride the prepared-plan cache.
def _postings_unblocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_arc_events_filter_spark.queries.postings import (
        build_postings_index,
    )

    return session_artifact(
        spark,
        sf_dir,
        "postings_unblocked",
        lambda: build_postings_index(spark, sf_dir, F.lit(1)),
    )


_PAIR_CTE = """
    tok AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
    pos AS (SELECT doc_id, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
    sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
           FROM pos a
           JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
    n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
    pair AS (SELECT x.doc_id id_a, y.doc_id id_b, count(*) c
             FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
             GROUP BY 1, 2),
    edge AS (SELECT id_a, id_b
             FROM pair
             JOIN n nx ON id_a = nx.doc_id
             JOIN n ny ON id_b = ny.doc_id
             WHERE c * 1.0 / (nx.n + ny.n - c) >= 0.5)
"""


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE
    {_PAIR_CTE},
    sym AS (SELECT id_a a, id_b b FROM edge
            UNION ALL SELECT id_b, id_a FROM edge),
    reach(src, dst) AS (
        SELECT a, a FROM sym
        UNION
        SELECT r.src, e.b FROM reach r JOIN sym e ON r.dst = e.a
    )
    SELECT src AS doc_id, min(dst) AS cluster_id
    FROM reach GROUP BY src
    """,
    tags=("llm", "curation", "dedup"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: transitive closure over the exact
    unblocked Jaccard ≥0.5 pair set via iterative min-label propagation
    (``operators/graph.connected_components``).  ``cluster_id`` is the
    minimum doc id of the component — the deterministic keeper a dedup
    writer would retain.  The oracle computes the same closure with a
    recursive CTE over the identical pair set.
    """
    pairs = D.exact_jaccard_pairs(
        None,
        id_col="doc_id",
        block_col="_one",
        threshold=0.5,
        postings=_postings_unblocked(spark, sf_dir),
    )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Per-source document cap (domain capping)
# ---------------------------------------------------------------------------


@register(
    "corpus_source_cap",
    oracle="""
    WITH rk AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents)
    SELECT doc_id, source, n_chars, rk
    FROM rk WHERE rk <= 40
    """,
    tags=("llm", "curation"),
)
def corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the over-represented-source limiter every
    web-scale mix applies (keep the best N documents per domain, drop the
    tail): rank within source by length desc (doc_id tiebreak, so the
    keeper set is deterministic), keep rank ≤ 40.

    The rank≤N filter sits directly on the row_number, which Spark rewrites
    to WindowGroupLimit: each map task keeps only its local top-40 per
    source BEFORE the shuffle, so the exchange moves O(sources × 40) rows,
    not the corpus — the same plan shape ``window_topk_per_group``'s plan
    test pins.  At 100 TB a mega-domain (wikipedia.org) is the classic
    window skew; the group-limit pushdown is exactly the mitigation, and
    ranking by a precomputed quality column keeps the sort cheap.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", "n_chars", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 40)
    )


# ---------------------------------------------------------------------------
# Token-budget sequence packing
# ---------------------------------------------------------------------------


@register(
    "corpus_pack_token_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM t)
    SELECT lang,
           (cum - n_tok) // 2048     AS chunk_id,
           count(*)                  AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS chunk_tokens,
           min(doc_id)               AS first_doc,
           max(doc_id)               AS last_doc
    FROM c
    GROUP BY 1, 2
    """,
    tags=("llm", "curation"),
)
def corpus_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining shards: concatenate documents in a
    stable order (doc_id within lang) and cut every 2048 tokens — each
    document joins the chunk where its first token lands.  This is the
    concat-and-split packing GPT-style pipelines run before tokenized
    shards are written; the output is the chunk manifest (doc count, token
    count, doc-id span per chunk).

    One running-sum window per lang partition and one aggregate — a single
    shuffle by lang.  The integer chunk arithmetic ((cum − n_tok) div 2048)
    is BIGINT in both engines (no floor(): Spark floor returns LONG while
    DuckDB's returns DOUBLE — the fn_math_suite type-drift lesson).  At
    100 TB packing runs within (lang, shard) boundaries so the window never
    sees a skewed mega-partition; the manifest shape is unchanged.
    """
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    ).withColumn("cum", F.sum("n_tok").over(w))
    return (
        t.select(
            "lang",
            F.expr("(cum - n_tok) div 2048").alias("chunk_id"),
            "doc_id",
            "n_tok",
        )
        .groupBy("lang", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("chunk_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Quantile outlier filter (winsorized accounting)
# ---------------------------------------------------------------------------


@register(
    "events_quantile_outlier_filter",
    oracle="""
    WITH b AS (
      SELECT event_type,
             round(quantile_cont(value, 0.05), 4) AS lo,
             round(quantile_cont(value, 0.95), 4) AS hi
      FROM events WHERE value IS NOT NULL GROUP BY 1)
    SELECT e.event_type,
           count(*) AS n_total,
           count(*) FILTER (WHERE value >= lo AND value <= hi) AS n_kept,
           ((2 * count(*) FILTER (WHERE value >= lo AND value <= hi)
                 * 1000000 + count(*)) // (2 * count(*))) / 1000000.0
               AS kept_frac,
           ((2 * CAST(sum(CAST(value AS DECIMAL(18,6)))
                      FILTER (WHERE value >= lo AND value <= hi)
                      * 1000000 AS BIGINT)
             + count(*) FILTER (WHERE value >= lo AND value <= hi) * 100)
            // nullif(2 * count(*) FILTER (WHERE value >= lo AND value <= hi)
                      * 100, 0)) / 10000.0 AS avg_kept
    FROM events e JOIN b ON e.event_type = b.event_type
    WHERE value IS NOT NULL
    GROUP BY 1
    """,
    tags=("llm", "curation"),
)
def events_quantile_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile outlier filter — the numeric-feature winsorizer of a
    data-quality pass: per-group exact p05/p95 bounds (sort-based
    ``group_percentile_cont``, the no-OOM percentile from agg_stats),
    broadcast back onto the stream, and per-group kept/total accounting.

    Bounds round to 4 before comparison so both engines filter on
    identical numbers; the kept-value average aggregates DECIMAL(18,6)
    (order-insensitive exact, the corpus_curation_pipeline lesson) and
    divides in double only at the end.  Plan: one window pass for bounds
    over groups, a broadcast hash join (bounds relation = one row per
    group), one aggregate — the corpus scans twice, shuffles once.
    """
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = group_percentile_cont(
        e, ["event_type"], "value", {"lo": 0.05, "hi": 0.95}
    ).select(
        "event_type",
        F.round("lo", 4).alias("lo"),
        F.round("hi", 4).alias("hi"),
    )
    kept = (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi"))
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            round_int_ratio(
                F.count(F.when(kept, 1)), F.count(F.lit(1)), 6
            ).alias("kept_frac"),
            round_int_ratio(
                F.sum(F.when(kept, F.col("value").cast("decimal(18,6)")))
                * 1000000,
                F.count(F.when(kept, 1)),
                4,
                a_scale=6,
            ).alias("avg_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental snapshot dedup (new-batch ingestion)
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental_snapshot",
    oracle="""
    WITH snap AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 4),
    batch AS (
      SELECT doc_id, lang, md5(text) AS h,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM documents WHERE doc_id % 5 = 4),
    f AS (
      SELECT b.doc_id, b.lang,
             s.h IS NOT NULL            AS in_snap,
             b.doc_id = b.keeper        AS is_keeper
      FROM batch b LEFT JOIN snap s ON b.h = s.h)
    SELECT lang,
           count(*) AS n_batch,
           count(*) FILTER (WHERE NOT in_snap AND is_keeper) AS n_kept,
           count(*) FILTER (WHERE in_snap)                   AS n_drop_snapshot,
           count(*) FILTER (WHERE NOT in_snap AND NOT is_keeper)
                                                             AS n_drop_within
    FROM f GROUP BY 1
    """,
    tags=("llm", "dedup", "curation"),
)
def dedup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup at ingestion time — the shape of every
    continuously-crawled corpus: an arriving batch (docs with
    doc_id % 5 = 4) is deduplicated against the already-ingested snapshot
    (the other 80%) AND within itself.  A batch row survives iff its
    content hash is absent from the snapshot and it is the lowest-id
    holder of that hash inside the batch; the result is per-lang ingestion
    accounting (kept / dropped-vs-snapshot / dropped-within).

    Content identity is md5 (cross-engine-reproducible, unlike xxhash64 —
    the doc_fingerprints lesson).  Plan: the snapshot collapses to its
    distinct hash set BEFORE the join (map-side combinable distinct), the
    batch joins it on the hash key, the within-batch keeper is a min-window
    on the same key — one shuffle each side, both on h.  At 100 TB the
    snapshot key set lives as a sorted/bucketed hash table keyed by h
    (or a bloom filter in front of it: a miss — the common case for fresh
    crawl — then skips the join probe entirely); the batch side is always
    the small one, exactly this join orientation.
    """
    d = load(spark, sf_dir, "documents")
    snap = (
        d.filter(F.col("doc_id") % 5 != 4)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
        .withColumn("_in_snap", F.lit(True))
    )
    batch = d.filter(F.col("doc_id") % 5 == 4).select(
        "doc_id", "lang", F.md5(F.col("text").cast("binary")).alias("h")
    )
    batch = batch.withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("h"))
    )
    f = batch.join(snap, "h", "left").select(
        "lang",
        F.coalesce(F.col("_in_snap"), F.lit(False)).alias("in_snap"),
        (F.col("doc_id") == F.col("keeper")).alias("is_keeper"),
    )
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.count(F.when(~F.col("in_snap") & F.col("is_keeper"), 1)).alias("n_kept"),
        F.count(F.when(F.col("in_snap"), 1)).alias("n_drop_snapshot"),
        F.count(F.when(~F.col("in_snap") & ~F.col("is_keeper"), 1)).alias(
            "n_drop_within"
        ),
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: cluster, then prune within clusters
# ---------------------------------------------------------------------------


#: SemDeDup cluster index, built once per (session, sf_dir): the k-means
#: assignment and the unit-vector corpus are the INDEX artifact of
#: semantic dedup (cluster once, prune many times / incrementally —
#: Abbas et al. run exactly this split), so they localCheckpoint like the
#: IVF index and the dedup postings; the per-run phase is the pair scan.
#: Kept with cache.session_artifact, so its RDD scans are resident and
#: consumers may ride the prepared-plan cache.
_SEMDEDUP_DIM = 64


def _semdedup_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    from lambda_arc_events_filter_spark.operators import similarity as S

    def build() -> tuple[DataFrame, DataFrame, DataFrame]:
        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        assign = (
            S.kmeans_lloyd(emb, "vec_id", "embedding", k=8, iters=2)
            .select("vec_id", "cluster")
            .localCheckpoint()
        )
        # unit vectors flattened to scalar columns AFTER the checkpoint:
        # extracting v[i] from a live transform() expression re-evaluates
        # the whole normalization per component (CollapseProject inlining
        # — measured 4.5 s), while post-checkpoint extraction reads a
        # materialized array, and the flat layout lets the pair dot run
        # as straight codegen arithmetic instead of an interpreted
        # zip_with/aggregate lambda (A/B at sf0.1: 1.59 → 1.29 s).
        ev = emb.select(
            "vec_id", S.unit_vector_expr("embedding").alias("v")
        ).localCheckpoint()
        flat = ev.select(
            "vec_id",
            *[F.col("v")[i].alias(f"c{i}") for i in range(_SEMDEDUP_DIM)],
        )
        # the joined (cluster ⋈ flat-unit-vector) relation IS the index
        # artifact the pair scan probes — checkpoint it joined and already
        # spread across the cores, so a probe run starts at the pair join
        # instead of re-executing the id join on both sides every run
        # (measured r4: per-run wall 0.65 → ~0.25 s; execution itself was
        # only ~0.07 s — the rest was re-building this input twice).
        width = spark.sparkContext.defaultParallelism
        m = (
            assign.join(flat, "vec_id").repartition(width).localCheckpoint()
        )
        dim = _SEMDEDUP_DIM
        a_side = m.select(
            F.col("cluster"),
            F.col("vec_id").alias("ia"),
            *[F.col(f"c{i}").alias(f"a{i}") for i in range(dim)],
        )
        b_side = m.select(
            F.col("cluster"),
            F.col("vec_id").alias("ib"),
            *[F.col(f"c{i}").alias(f"b{i}") for i in range(dim)],
        )
        return assign, a_side, b_side

    return session_artifact(spark, sf_dir, "semdedup", build)


@register(
    "semdedup_cluster_prune",
    oracle="""
    WITH ed AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cluster, i, v AS cv
      FROM ed WHERE vec_id < 8
    ),
    d1 AS (
      SELECT e.vec_id, c.cluster, sum((e.v - c.cv) * (e.v - c.cv)) AS d
      FROM ed e JOIN c0 c USING (i) GROUP BY 1, 2
    ),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY round(d, 6), cluster) rn
        FROM d1) WHERE rn = 1
    ),
    c1 AS (
      SELECT a.cluster, e.i, round(avg(e.v), 6) AS cv
      FROM ed e JOIN a1 a USING (vec_id) GROUP BY 1, 2
    ),
    d2 AS (
      SELECT e.vec_id, c.cluster, sum((e.v - c.cv) * (e.v - c.cv)) AS d
      FROM ed e JOIN c1 c USING (i) GROUP BY 1, 2
    ),
    a2 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY round(d, 6), cluster) rn
        FROM d2) WHERE rn = 1
    ),
    ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
      SELECT x.cluster, a.vec_id AS ia, b.vec_id AS ib
      FROM a2 x
      JOIN a2 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN ev a ON a.vec_id = x.vec_id
      JOIN ev b ON b.vec_id = y.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
    ),
    acc AS (
      SELECT cluster,
             CAST(count(*) AS BIGINT)            AS n_dup_pairs,
             CAST(count(DISTINCT ib) AS BIGINT)  AS n_pruned
      FROM p GROUP BY cluster
    )
    SELECT m.cluster,
           CAST(count(*) AS BIGINT)        AS n_members,
           coalesce(acc.n_dup_pairs, 0)    AS n_dup_pairs,
           coalesce(acc.n_pruned, 0)       AS n_pruned
    FROM a2 m LEFT JOIN acc ON m.cluster = acc.cluster
    GROUP BY m.cluster, acc.n_dup_pairs, acc.n_pruned
    """,
    tags=("llm", "vector", "dedup"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    k-means-cluster the embedding corpus, then search for near-duplicate
    pairs ONLY within each cluster and prune the higher-id member of
    every pair — per-cluster accounting (members, dup pairs, pruned).

    The clustering is what makes semantic dedup feasible at corpus
    scale: all-pairs cosine is quadratic in the corpus, but
    cluster-scoped pairs are quadratic only in the CELL population (the
    same cell-partition move IVF uses for search).  The cluster
    assignment + unit-vector corpus build once per session
    (``_semdedup_index`` — the reusable index artifact, exactly the
    IVF/postings protocol BASELINE.md documents); the per-run phase is
    the cluster-keyed self-join with a codegen flat-column dot, cosine
    rounded to 6 BEFORE the threshold compare so the cut line is
    engine-exact.  Summation order (left-to-right over components)
    matches both the HOF form and the oracle's sequential
    list_cosine_similarity.  At 100 TB the cluster id is the shuffle key
    and skewed cells get the salting/cap levers the LSH dedup family
    already carries.
    """
    assign, a, b = _semdedup_index(spark, sf_dir)
    dim = _SEMDEDUP_DIM
    # Pair generation: PROBE side pre-spread across the cores inside the
    # index checkpoint (a 1-partition probe evaluated every pair on one
    # task: measured 0.87 s → 0.45 s), BUILD side broadcast (the whole
    # index is ~1 MB; a shuffle join on 8 cluster keys would both move
    # the 65-column rows and cap parallelism at 8).  At corpus scale this
    # becomes the IVF shape: cell-partition the corpus and broadcast
    # per-cell blocks, never a global wide shuffle.
    cos = F.expr(" + ".join(f"a{i} * b{i}" for i in range(dim)))
    pairs = (
        a.join(F.broadcast(b), "cluster")
        .filter(F.col("ia") < F.col("ib"))
        .withColumn("_cos", F.round(cos, 6))
        .filter(F.col("_cos") >= 0.35)
        .select("cluster", "ia", "ib")
    )
    acc = pairs.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("ib").alias("n_pruned"),
    )
    members = assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return members.join(acc, "cluster", "left").select(
        "cluster",
        "n_members",
        F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
        F.coalesce("n_pruned", F.lit(0)).cast("long").alias("n_pruned"),
    )


# ---------------------------------------------------------------------------
# Mixture rebalancing: data-driven per-source keep rates toward a target mix
# ---------------------------------------------------------------------------


@register(
    "corpus_mixture_rebalance",
    oracle="""
    WITH cnt AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_total FROM documents
      GROUP BY lang
    ),
    tot AS (SELECT sum(n_total) AS n FROM cnt),
    tgt AS (
      SELECT lang, n_total,
             CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2
                       ELSE 0.1 END AS target_frac
      FROM cnt
    ),
    rate AS (
      SELECT lang, n_total,
             CAST(floor(least(1.0,
                  target_frac * tot.n / n_total) * 10000) AS INTEGER)
               AS rate_bp
      FROM tgt, tot
    )
    SELECT d.lang, r.n_total, r.rate_bp,
           CAST(sum(CASE WHEN (d.doc_id * 2654435761) % 10000 < r.rate_bp
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN rate r USING (lang)
    GROUP BY 1, 2, 3
    """,
    tags=("llm", "curation"),
)
def corpus_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing toward target language proportions (en 50%,
    zh 20%, other 10% of the CURRENT corpus size): per-language keep
    rates are COMPUTED FROM THE DATA (target share × total ÷ actual
    count, capped at 1), then membership is decided by the same
    deterministic Knuth-hash threshold the stratified sampler uses — the
    difference from ``corpus_sample_stratified`` is that rates there are
    constants, here they are a data-dependent control signal (the "mix
    to spec" step that precedes every pretraining run).

    Rates quantize to integer basis points before the threshold compare,
    so the keep decision is pure integer arithmetic — bit-identical
    across engines and runs.  Plan: tiny per-lang aggregate → broadcast
    back over the corpus scan → per-lang accounting; the corpus shuffles
    zero times in the filter form (WHERE hash < rate feeds the writer).
    """
    d = load(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    tot = cnt.agg(F.sum("n_total").alias("_n"))
    target = (
        F.when(F.col("lang") == "en", 0.5)
        .when(F.col("lang") == "zh", 0.2)
        .otherwise(0.1)
    )
    rate = (
        cnt.join(F.broadcast(tot))
        .select(
            "lang",
            "n_total",
            F.floor(
                F.least(
                    F.lit(1.0), target * F.col("_n") / F.col("n_total")
                )
                * 10000
            )
            .cast("int")
            .alias("rate_bp"),
        )
    )
    kept = (
        F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(10000))
        < F.col("rate_bp")
    ).cast("int")
    return (
        d.join(F.broadcast(rate), "lang")
        .select("lang", "n_total", "rate_bp", kept.alias("_k"))
        .groupBy("lang", "n_total", "rate_bp")
        .agg(F.sum("_k").cast("long").alias("n_kept"))
    )


# ---------------------------------------------------------------------------
# Pipeline accounting via observed metrics (zero-extra-pass telemetry)
# ---------------------------------------------------------------------------


def filter_with_accounting(d: DataFrame):
    """Quality-gate filter instrumented with ``df.observe``: returns the
    filtered frame plus an Observation whose metrics (rows seen, rows
    kept, chars seen) materialize as a side effect of whatever action
    the caller runs — ZERO extra passes over the data.

    This is the accounting contract of a 100 TB curation pipeline: every
    stage must report what it dropped (SCALE.md "no silent caps"), and a
    separate count() per stage would double the scan bill.  CollectMetrics
    rides the existing task stream (the same mechanism Structured
    Streaming uses for per-batch metrics).
    """
    import uuid as _uuid

    from pyspark.sql import Observation

    keep = (F.col("n_chars") >= 100) & (F.col("n_chars") <= 400)
    obs = Observation(f"acct_{_uuid.uuid4().hex[:8]}")
    observed = d.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.count_if(keep).alias("rows_kept"),
        F.sum("n_chars").alias("chars_seen"),
    )
    return observed.filter(keep), obs


@register(
    "corpus_filter_observed",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT)       AS n_kept,
           CAST(sum(n_chars) AS BIGINT)   AS chars_kept
    FROM documents
    WHERE n_chars BETWEEN 100 AND 400
    GROUP BY source
    """,
    tags=("llm", "curation"),
)
def corpus_filter_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-gate curation filter instrumented with observed metrics
    (``filter_with_accounting``): the result is the ordinary filtered
    aggregate the oracle verifies; the drop accounting (rows seen / kept
    / chars) is collected BY THE SAME ACTION through CollectMetrics —
    pinned separately in tests/test_round3c.py, since the observation is
    telemetry, not part of the relational result.
    """
    d = load(spark, sf_dir, "documents")
    kept, _obs = filter_with_accounting(d)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("chars_kept"),
    )


# ---------------------------------------------------------------------------
# Near-dup cluster representative selection (the dedup WRITER's keep list)
# ---------------------------------------------------------------------------


@register(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE
    {_PAIR_CTE},
    sym AS (SELECT id_a a, id_b b FROM edge
            UNION ALL SELECT id_b, id_a FROM edge),
    reach(src, dst) AS (
        SELECT a, a FROM sym
        UNION
        SELECT r.src, e.b FROM reach r JOIN sym e ON r.dst = e.a
    ),
    cc AS (SELECT src AS doc_id, min(dst) AS cluster_id
           FROM reach GROUP BY src),
    ranked AS (
      SELECT cc.cluster_id, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY cc.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rk
      FROM cc JOIN documents d ON cc.doc_id = d.doc_id
    )
    SELECT cluster_id,
           min(CASE WHEN rk = 1 THEN doc_id END)  AS rep_doc_id,
           CAST(count(*) AS BIGINT)               AS cluster_size,
           CAST(count(*) - 1 AS BIGINT)           AS n_dropped,
           max(n_chars)                           AS rep_chars,
           CAST(sum(n_chars) AS BIGINT)           AS total_chars
    FROM ranked
    GROUP BY cluster_id
    """,
    tags=("llm", "curation", "dedup"),
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step after clustering that an actual dedup WRITER executes:
    for each near-dup cluster (transitive closure over exact Jaccard
    ≥0.5 pairs, ``dedup_connected_components``), elect one surviving
    representative — longest document wins, doc_id breaks ties — and
    account for what the merge drops (cluster size, discarded docs,
    retained vs total characters).

    Representative election is a single ``max_by`` over a
    (n_chars, -doc_id) struct in the same hash aggregate that counts
    the cluster — no second window pass, no join-back; the only
    corpus-scale exchange is the one the clustering already paid.  The
    deterministic quality key is what makes the keep-list reproducible
    run-over-run — the property a 100 TB dedup rewrite needs so a
    resumed job doesn't flip representatives mid-corpus.
    """
    pairs = D.exact_jaccard_pairs(
        None,
        id_col="doc_id",
        block_col="_one",
        threshold=0.5,
        postings=_postings_unblocked(spark, sf_dir),
    )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    member = cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).join(docs, "doc_id")
    quality = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_nid"))
    return member.groupBy("cluster_id").agg(
        F.max_by("doc_id", quality).alias("rep_doc_id"),
        F.count(F.lit(1)).alias("cluster_size"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
        F.max("n_chars").alias("rep_chars"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Shingle containment pairs (subset-duplication the Jaccard gate misses)
# ---------------------------------------------------------------------------


@register(
    "dedup_shingle_containment",
    oracle=f"""
    WITH
    {_PAIR_CTE.replace("edge AS", "_edge_unused AS")}
    SELECT id_a, id_b,
           CAST(c AS BIGINT) AS shared_shingles,
           ((2 * c * 1000000 + least(nx.n, ny.n))
               // (2 * least(nx.n, ny.n))) / 1000000.0 AS containment
    FROM pair
    JOIN n nx ON id_a = nx.doc_id
    JOIN n ny ON id_b = ny.doc_id
    WHERE c * 1.0 / least(nx.n, ny.n) >= 0.9
    """,
    tags=("llm", "curation", "dedup"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT pairs: shared-shingle count normalized by the
    SMALLER document's shingle set (≥0.9), catching the
    quote/wrapper/excerpt duplication that symmetric Jaccard dilutes
    away — a short doc fully embedded in a long one scores
    containment ≈ 1 but Jaccard ≈ |short|/|long| and sails through a
    0.5 gate.  The standard companion gate in web-corpus dedup
    (Broder's containment coefficient).

    Identical machinery to ``dedup_ngram_jaccard`` — the same inverted
    shingle-postings index generates candidates through the posting-key
    equi-join (never all-pairs), only the normalization differs.  Same
    100 TB posture: cost tracks posting-list mass; hot postings get the
    ``max_doc_freq`` cap.
    """
    # probe the session unblocked-postings index (round 8) — identical
    # (_id, sk, _n) relation, built once per session instead of
    # re-shingling the corpus per execution
    post = _postings_unblocked(spark, sf_dir).drop("_blk")
    a = post.select(
        F.col("_id").alias("id_a"), "sk", F.col("_n").alias("na")
    )
    b = post.select(
        F.col("_id").alias("id_b"), "sk", F.col("_n").alias("nb")
    )
    pairs = (
        a.join(b, "sk")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    containment = F.col("shared_shingles") * 1.0 / F.least("na", "nb")
    return (
        pairs.filter(containment >= 0.9)
        .select(
            "id_a",
            "id_b",
            "shared_shingles",
            round_int_ratio(
                F.col("shared_shingles"), F.least("na", "nb"), 6
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup graph degree distribution (dedup blast-radius accounting)
# ---------------------------------------------------------------------------


@register(
    "dedup_graph_degree_stats",
    oracle=f"""
    WITH
    {_PAIR_CTE},
    sym AS (SELECT id_a AS node FROM edge
            UNION ALL SELECT id_b FROM edge),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
            FROM sym GROUP BY node)
    SELECT degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM deg GROUP BY degree
    """,
    tags=("llm", "curation", "dedup"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def dedup_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup pair graph (Jaccard ≥ 0.5
    edges): how many documents have k near-duplicates — the
    blast-radius histogram a dedup rollout reads BEFORE deleting
    (a fat tail means template families where transitive clustering
    will merge far more than pairwise counts suggest; it is also the
    skew forecast for the connected-components iterations).

    After the pair build (shared inverted-index machinery), degrees are
    one symmetric projection + two tiny aggregates — the graph summary
    costs nothing beyond the edges.  min/max node per degree pin the
    histogram deterministically for the value-hash.
    """
    from lambda_arc_events_filter_spark.operators import dedup as D

    pairs = D.exact_jaccard_pairs(
        None,
        id_col="doc_id",
        block_col="_one",
        threshold=0.5,
        postings=_postings_unblocked(spark, sf_dir),
    )
    sym = pairs.select(F.col("id_a").alias("node")).unionAll(
        pairs.select(F.col("id_b").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


# ---------------------------------------------------------------------------
# Near-dup graph triangle census (cluster-density diagnostic)
# ---------------------------------------------------------------------------


@register(
    "dedup_graph_triangles",
    oracle=f"""
    WITH
    {_PAIR_CTE},
    tri AS (
      SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      FROM edge e1
      JOIN edge e2 ON e2.id_a = e1.id_b
      JOIN edge e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    )
    SELECT CAST(count(*) AS BIGINT)            AS n_triangles,
           CAST(count(DISTINCT a) AS BIGINT)   AS n_apex_nodes,
           CAST(coalesce(min(a), -1) AS BIGINT) AS min_apex,
           CAST(coalesce(max(c), -1) AS BIGINT) AS max_closer
    FROM tri
    """,
    tags=("llm", "curation", "dedup"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph: counts a<b<c node triples
    with all three Jaccard ≥0.5 edges present — the cluster-density
    diagnostic separating tight duplicate FAMILIES (template farms,
    mirrored sites: triangle-rich) from incidental pairwise matches
    (triangle-free chains), which predicts how aggressively transitive
    CC merging will behave before running it.

    The canonical two-join triangle enumeration on the ordered edge
    list (a<b guaranteed by the pair build): edges ⋈ edges on the
    shared middle node, closed by a membership join — each join keys on
    a node id, so at scale it shuffles the edge list (≪ corpus) and
    never touches documents.  Ordering kills the 6× double-count.
    """
    from lambda_arc_events_filter_spark.operators import dedup as D

    edge = D.exact_jaccard_pairs(
        None,
        id_col="doc_id",
        block_col="_one",
        threshold=0.5,
        postings=_postings_unblocked(spark, sf_dir),
    ).select("id_a", "id_b")
    e1 = edge.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = edge.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = edge.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return tri.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        F.count_distinct("a").cast("long").alias("n_apex_nodes"),
        F.coalesce(F.min("a"), F.lit(-1)).cast("long").alias("min_apex"),
        F.coalesce(F.max("c"), F.lit(-1)).cast("long").alias("max_closer"),
    )


# ---------------------------------------------------------------------------
# Near-dup rate per source (within- vs cross-source duplication)
# ---------------------------------------------------------------------------


@register(
    "corpus_dup_rate_by_source",
    oracle=f"""
    WITH
    {_PAIR_CTE},
    src AS (SELECT doc_id, source FROM documents),
    lab AS (
      SELECT e.id_a, e.id_b, sa.source AS src_a, sb.source AS src_b
      FROM edge e
      JOIN src sa ON e.id_a = sa.doc_id
      JOIN src sb ON e.id_b = sb.doc_id
    ),
    touched AS (
      SELECT src_a AS source, id_a AS doc_id FROM lab
      UNION
      SELECT src_b, id_b FROM lab
    ),
    per_src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_dup_docs
      FROM touched GROUP BY source
    ),
    pair_mix AS (
      SELECT src_a AS source,
             CAST(sum(CASE WHEN src_a = src_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within,
             CAST(sum(CASE WHEN src_a <> src_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cross
      FROM lab GROUP BY src_a
    ),
    tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source)
    SELECT t.source, t.n_docs,
           coalesce(p.n_dup_docs, 0)  AS n_dup_docs,
           ((2 * coalesce(p.n_dup_docs, 0) * 1000000 + t.n_docs)
               // (2 * t.n_docs)) / 1000000.0 AS dup_rate,
           coalesce(m.n_within, 0)    AS n_within_pairs,
           coalesce(m.n_cross, 0)     AS n_cross_pairs
    FROM tot t
    LEFT JOIN per_src p USING (source)
    LEFT JOIN pair_mix m USING (source)
    """,
    tags=("llm", "curation", "dedup"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication accountability per source: what fraction of each
    source's documents sit in a near-dup pair, split into within-source
    pairs (a crawler re-fetching itself — fix the crawler) and
    cross-source pairs (genuine syndication — fix the mix) — the
    attribution view that turns a dedup report into an actionable one.

    One label join of the pair set against the (doc, source) dimension,
    then three tiny aggregates left-joined onto the per-source totals
    (sources with zero dups surface with rate 0, not silently missing).
    Pair-side attribution follows id_a's source, matching the oracle.
    """
    from lambda_arc_events_filter_spark.operators import dedup as D2

    edge = D2.exact_jaccard_pairs(
        None,
        id_col="doc_id",
        block_col="_one",
        threshold=0.5,
        postings=_postings_unblocked(spark, sf_dir),
    ).select("id_a", "id_b")
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    lab = edge.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
    touched = (
        lab.select(F.col("src_a").alias("source"), F.col("id_a").alias("doc_id"))
        .unionByName(
            lab.select(
                F.col("src_b").alias("source"), F.col("id_b").alias("doc_id")
            )
        )
        .distinct()
    )
    per_src = touched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_dup_docs")
    )
    pair_mix = lab.groupBy(F.col("src_a").alias("source")).agg(
        F.sum(F.when(F.col("src_a") == F.col("src_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_within"),
        F.sum(F.when(F.col("src_a") != F.col("src_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_cross"),
    )
    tot = load(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        tot.join(per_src, "source", "left")
        .join(pair_mix, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_dup_docs", F.lit(0)).cast("long").alias("n_dup_docs"),
            round_int_ratio(
                F.coalesce("n_dup_docs", F.lit(0)), F.col("n_docs"), 6
            ).alias("dup_rate"),
            F.coalesce("n_within", F.lit(0)).cast("long").alias(
                "n_within_pairs"
            ),
            F.coalesce("n_cross", F.lit(0)).cast("long").alias("n_cross_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# Two-hop neighborhood size (dedup-graph influence radius)
# ---------------------------------------------------------------------------


@register(
    "dedup_graph_two_hop",
    oracle=f"""
    WITH
    {_PAIR_CTE},
    sym AS (SELECT id_a AS a, id_b AS b FROM edge
            UNION ALL SELECT id_b, id_a FROM edge),
    two_hop AS (
      SELECT s1.a AS node, s2.b AS nb
      FROM sym s1 JOIN sym s2 ON s1.b = s2.a
      WHERE s2.b <> s1.a
      UNION
      SELECT a, b FROM sym
    )
    SELECT node AS doc_id,
           CAST(count(DISTINCT nb) AS BIGINT) AS n_within_two_hops
    FROM two_hop
    GROUP BY node
    """,
    tags=("llm", "curation", "dedup"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def dedup_graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop neighborhood size per document in the near-dup graph: how
    many documents are reachable within two similarity edges — the
    influence-radius metric that predicts each document's transitive
    merge set BEFORE running full connected components (degree counts
    direct edges; two-hop counts the friends-of-friends a CC merge will
    actually pull in).

    One symmetric self-join of the edge list on the shared middle node
    (the same adjacency composition the triangle census uses), deduped
    against direct neighbors via UNION-distinct, then a distinct count
    per node — all edge-list-sized relations, never touching documents.
    """
    from lambda_arc_events_filter_spark.operators import dedup as D3

    edge = D3.exact_jaccard_pairs(
        None,
        id_col="doc_id",
        block_col="_one",
        threshold=0.5,
        postings=_postings_unblocked(spark, sf_dir),
    ).select("id_a", "id_b")
    sym = edge.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).unionAll(edge.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
    s2 = sym.select(F.col("a").alias("mid"), F.col("b").alias("nb"))
    two_hop = (
        sym.join(s2, F.col("b") == F.col("mid"))
        .filter(F.col("nb") != F.col("a"))
        .select("a", "nb")
        .union(sym.select("a", F.col("b").alias("nb")))
        .distinct()
    )
    return two_hop.groupBy(F.col("a").alias("doc_id")).agg(
        F.count_distinct("nb").cast("long").alias("n_within_two_hops")
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter record linkage (multi-pass blocking + agreement weights)
# ---------------------------------------------------------------------------


@register(
    "customers_record_linkage",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             c_mktsegment AS seg
      FROM customer
    ),
    replica AS (
      SELECT id,
             CASE WHEN id % 7 = 0
                  THEN substr(name, 1, length(name) - 1) || 'X'
                  ELSE name END AS name,
             nat,
             CASE WHEN id % 5 = 0 THEN cents + 77 ELSE cents END AS cents,
             CASE WHEN id % 11 = 0 THEN 'UNKNOWN' ELSE seg END AS seg
      FROM base
    ),
    cand AS (
      SELECT DISTINCT a.id AS a_id, b.id AS b_id
      FROM base a JOIN replica b ON a.nat = b.nat AND a.name = b.name
      UNION
      SELECT DISTINCT a.id, b.id
      FROM base a JOIN replica b ON a.nat = b.nat AND a.cents = b.cents
    ),
    scored AS (
      SELECT a_id, b_id,
             CASE WHEN a.name = b.name THEN 28 ELSE -15 END
             + CASE WHEN a.cents = b.cents THEN 22 ELSE -8 END
             + CASE WHEN a.seg = b.seg THEN 10 ELSE -12 END AS score,
             CASE WHEN a_id = b_id THEN 1 ELSE 0 END AS is_true
      FROM cand
      JOIN base a ON a.id = a_id
      JOIN replica b ON b.id = b_id
    ),
    cls AS (
      SELECT CASE WHEN score >= 40 THEN 'link'
                  WHEN score >= 0 THEN 'possible'
                  ELSE 'nonlink' END AS decision,
             score, is_true
      FROM scored
    )
    SELECT decision,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(is_true) AS BIGINT) AS n_true_matches,
           min(score) AS min_score, max(score) AS max_score
    FROM cls GROUP BY decision ORDER BY decision
    """,
    tags=("linkage", "dedup", "join"),
)
def customers_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record linkage against a deterministically-perturbed
    replica of the customer table (name tail mangled for id%7, balance
    shifted 77 cents for id%5, segment blanked for id%11 — the classic
    dirty-copy profile): multi-pass BLOCKING (pass 1 on (nation, name),
    pass 2 on (nation, balance-cents)) generates candidate pairs, then
    integer agreement weights (+28/−15 name, +22/−8 balance, +10/−12
    segment — log-likelihood ratios scaled ×~10) score each pair into
    link / possible / nonlink, with ground-truth accounting.

    Scale shape: entity resolution at 100 TB lives or dies on blocking —
    every pass is an equi-join on a bounded-selectivity key (never a
    cross product), union'd and deduped; records both passes miss
    (doubly-perturbed, ~1/35) are the recall cost the accounting makes
    visible.  All-integer scoring, one hash aggregate to the 3-class
    summary.
    """
    base = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    replica = base.select(
        "id",
        F.when(
            F.col("id") % 7 == 0,
            F.concat(
                F.expr("substring(name, 1, length(name) - 1)"), F.lit("X")
            ),
        )
        .otherwise(F.col("name"))
        .alias("name"),
        "nat",
        F.when(F.col("id") % 5 == 0, F.col("cents") + 77)
        .otherwise(F.col("cents"))
        .alias("cents"),
        F.when(F.col("id") % 11 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("seg"))
        .alias("seg"),
    )
    a = base.select(
        F.col("id").alias("a_id"),
        F.col("name").alias("a_name"),
        F.col("nat").alias("a_nat"),
        F.col("cents").alias("a_cents"),
        F.col("seg").alias("a_seg"),
    )
    b = replica.select(
        F.col("id").alias("b_id"),
        F.col("name").alias("b_name"),
        F.col("nat").alias("b_nat"),
        F.col("cents").alias("b_cents"),
        F.col("seg").alias("b_seg"),
    )
    p1 = a.join(
        b,
        (F.col("a_nat") == F.col("b_nat")) & (F.col("a_name") == F.col("b_name")),
    ).select("a_id", "b_id")
    p2 = a.join(
        b,
        (F.col("a_nat") == F.col("b_nat"))
        & (F.col("a_cents") == F.col("b_cents")),
    ).select("a_id", "b_id")
    cand = p1.union(p2).distinct()
    scored = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            (
                F.when(F.col("a_name") == F.col("b_name"), 28).otherwise(-15)
                + F.when(F.col("a_cents") == F.col("b_cents"), 22).otherwise(-8)
                + F.when(F.col("a_seg") == F.col("b_seg"), 10).otherwise(-12)
            ).alias("score"),
            F.when(F.col("a_id") == F.col("b_id"), 1).otherwise(0).alias(
                "is_true"
            ),
        )
    )
    decision = (
        F.when(F.col("score") >= 40, "link")
        .when(F.col("score") >= 0, "possible")
        .otherwise("nonlink")
    )
    return (
        scored.select(decision.alias("decision"), "score", "is_true")
        .groupBy("decision")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("is_true").alias("n_true_matches"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("decision")
    )


# ---------------------------------------------------------------------------
# Randomized response: privacy-noised rate estimation + debiasing
# ---------------------------------------------------------------------------


@register(
    "users_randomized_response",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS INT) AS true_bit
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT user_id % 5 AS cohort, true_bit,
             CASE WHEN (ascii(substr(md5(CAST(user_id AS VARCHAR)), 5, 1))
                        * 31
                        + ascii(substr(md5(CAST(user_id AS VARCHAR)), 6, 1)))
                       % 4 = 0
                  THEN 1 - true_bit ELSE true_bit END AS obs_bit
      FROM u
    )
    SELECT cohort,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(obs_bit) AS BIGINT) AS obs_positive,
           CAST(sum(true_bit) AS BIGINT) AS true_positive,
           round(CAST(sum(true_bit) AS DOUBLE) / count(*), 6) AS true_rate,
           round((4.0 * sum(obs_bit) - count(*)) / (2.0 * count(*)), 6)
             AS est_rate
    FROM r GROUP BY cohort ORDER BY cohort
    """,
    tags=("privacy", "agg"),
)
def users_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized response (Warner's mechanism): each user's sensitive
    bit ("is a purchaser") is flipped with probability f=1/4 before
    aggregation, and the collector debiases the observed rate back with
    ``π̂ = (obs − f)/(1 − 2f)`` — local-differential-privacy's oldest
    estimator, run per cohort with the TRUE rate alongside so the
    estimator error is visible.  The flip coin is the repo's portable
    content hash (deterministic ⇒ oracle-exact; a production deployment
    draws real randomness client-side and only the estimator survives).

    Scale shape: one keyed aggregate to user bits, one map-side-
    combinable cohort rollup; the debias is in-row arithmetic on exact
    integer counts (single IEEE expression, identical both engines).
    """
    e = load(spark, sf_dir, "events").select("user_id", "event_type")
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("true_bit")
    )
    h = F.md5(F.col("user_id").cast("string"))
    flip = (
        (F.ascii(F.substring(h, 5, 1)) * 31 + F.ascii(F.substring(h, 6, 1)))
        % 4
        == 0
    )
    r = u.select(
        (F.col("user_id") % 5).alias("cohort"),
        "true_bit",
        F.when(flip, 1 - F.col("true_bit"))
        .otherwise(F.col("true_bit"))
        .alias("obs_bit"),
    )
    n = F.count(F.lit(1))
    return (
        r.groupBy("cohort")
        .agg(
            n.alias("n_users"),
            F.sum("obs_bit").alias("obs_positive"),
            F.sum("true_bit").alias("true_positive"),
            F.round(
                F.sum("true_bit").cast("double") / n, 6
            ).alias("true_rate"),
            F.round(
                (F.lit(4.0) * F.sum("obs_bit") - n) / (F.lit(2.0) * n), 6
            ).alias("est_rate"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# Golden-record survivorship (field-wise merge after linkage)
# ---------------------------------------------------------------------------


@register(
    "customers_golden_record",
    oracle="""
    WITH crm AS (
      SELECT c_custkey AS id, c_name AS name, c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             1 AS src_rank
      FROM customer
    ),
    web AS (
      SELECT c_custkey AS id,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS name,
             CASE WHEN c_custkey % 11 = 0 THEN NULL
                  ELSE c_mktsegment END AS seg,
             CASE WHEN c_custkey % 5 = 0
                  THEN CAST(round(c_acctbal * 100) AS BIGINT) + 77
                  ELSE NULL END AS cents,
             2 AS src_rank
      FROM customer
    ),
    stacked AS (
      SELECT * FROM crm UNION ALL SELECT * FROM web
    ),
    golden AS (
      SELECT id,
             max_by(name, -src_rank) FILTER (WHERE name IS NOT NULL)
               AS g_name,
             max_by(seg, -src_rank) FILTER (WHERE seg IS NOT NULL)
               AS g_seg,
             max_by(cents, src_rank) FILTER (WHERE cents IS NOT NULL)
               AS g_cents,
             CAST(max(CASE WHEN src_rank = 2 AND cents IS NOT NULL
                           THEN 1 ELSE 0 END) AS INT) AS balance_from_web
      FROM stacked GROUP BY id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_entities,
           CAST(count(g_name) AS BIGINT) AS n_with_name,
           CAST(count(g_seg) AS BIGINT) AS n_with_segment,
           CAST(sum(balance_from_web) AS BIGINT) AS n_balance_from_web,
           CAST(sum(g_cents) AS BIGINT) AS total_cents
    FROM golden
    """,
    tags=("linkage", "mdm", "agg"),
)
def customers_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the merge half of master-data
    management that follows record linkage: two sources stack (CRM =
    authoritative names/segments; WEB = fresher balances but gappy
    fields, synthesized deterministically), and each FIELD survives
    independently by its own rule — name/segment from the
    lowest-ranked source that has one, balance from the HIGHEST rank
    (freshness wins) — so one entity's golden row can mix sources.

    The survivorship rules compile to ``max_by(field, ±src_rank)`` over
    non-null candidates: one hash aggregate per entity, no window, no
    join — the field-priority coalesce pattern at corpus scale.  The
    audit rollup exposes which-source-won accounting.
    """
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    crm = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        cents.alias("cents"),
        F.lit(1).alias("src_rank"),
    )
    web = c.select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("c_name")
        ).alias("name"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ).alias("seg"),
        F.when(F.col("c_custkey") % 5 == 0, cents + 77).alias("cents"),
        F.lit(2).alias("src_rank"),
    )
    stacked = crm.unionAll(web)
    golden = stacked.groupBy("id").agg(
        F.max_by(
            "name", F.when(F.col("name").isNotNull(), -F.col("src_rank"))
        ).alias("g_name"),
        F.max_by(
            "seg", F.when(F.col("seg").isNotNull(), -F.col("src_rank"))
        ).alias("g_seg"),
        F.max_by(
            "cents", F.when(F.col("cents").isNotNull(), F.col("src_rank"))
        ).alias("g_cents"),
        F.max(
            F.when(
                (F.col("src_rank") == 2) & F.col("cents").isNotNull(), 1
            ).otherwise(0)
        ).cast("int").alias("balance_from_web"),
    )
    return golden.agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.count("g_name").alias("n_with_name"),
        F.count("g_seg").alias("n_with_segment"),
        F.sum("balance_from_web").alias("n_balance_from_web"),
        F.sum("g_cents").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Cross-corpus duplicated-n-gram fraction (RefinedWeb/MassiveText signal)
# ---------------------------------------------------------------------------


@register(
    "text_dup_ngram_fraction",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    g AS (SELECT doc_id, array_to_string(sp[i:i+4], ' ') AS gram
          FROM t, LATERAL (SELECT unnest(range(1, len(sp) - 3)) AS i)),
    d AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
    per AS (SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dup
            FROM g JOIN d USING (gram) GROUP BY 1)
    SELECT doc_id, n_grams, n_dup,
           {round_int_ratio_sql('n_dup', 'n_grams', 6)} AS dup_frac
    FROM per
    """,
    tags=("llm", "curation", "text"),
)
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CROSS-CORPUS duplicated-5-gram fraction — the
    RefinedWeb/MassiveText boilerplate signal: what share of a document's
    5-gram positions also occur in at least one OTHER document.  Complements
    the intra-doc Gopher repetition gate (``text_repetition_rules``) and the
    pairwise similarity family (``dedup_ngram_jaccard``): this one is a
    corpus-global per-doc score, the quantity curation pipelines threshold
    to strip template/boilerplate-heavy pages before training.

    Scale shape: gram construction is a pure MAP (HOF ``transform`` over a
    position ``sequence`` — no per-gram shuffle to build), and the
    "appears in ≥2 documents" test is ``min(doc_id) ≠ max(doc_id)`` over a
    gram-partitioned window — CONSTANT-memory per gram (no
    ``collect_set``/count-distinct state), one hash exchange on the gram,
    then one map-combinable per-doc aggregate.  Two shuffles total at any
    corpus size; a pathologically hot gram ("the the the...") costs one
    skewed min/max partition, the standard salting lever.  Docs shorter
    than 5 tokens have no grams and are absent from the output in both
    engines (the oracle's inner join, the engine's explode of an empty
    array).  The fraction rounds via the engine-wide integer half-up
    discipline (``round_int_ratio``), so the cut line is engine-exact.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(tokens) >= 5 THEN "
                "  transform(sequence(1, size(tokens) - 4), "
                "            i -> array_join(slice(tokens, i, 5), ' ')) "
                "ELSE array() END"
            )
        ).alias("gram"),
    )
    wg = Window.partitionBy("gram")
    flagged = grams.withColumn(
        "dup",
        (F.min("doc_id").over(wg) != F.max("doc_id").over(wg)).cast("long"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("dup").alias("n_dup"),
        round_int_ratio(F.sum("dup"), F.count(F.lit(1)), 6).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# DSIR importance-resampling weights (hashed n-gram log-likelihood ratio)
# ---------------------------------------------------------------------------

#: hashed-feature width for the DSIR estimator.  64 buckets keeps the
#: per-bucket statistics relation broadcast-sized at ANY corpus scale —
#: the whole point of the hashed estimator is that model size is fixed
#: while the corpus grows.
_DSIR_BUCKETS = 64


@register(
    "corpus_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents
    ),
    big AS (
      SELECT doc_id, lang, ts[i] || ' ' || ts[i + 1] AS bg
      FROM tok, unnest(generate_series(1, len(ts) - 1)) AS t(i)
    ),
    hb AS (
      SELECT doc_id, lang,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split_regex(bg, ''),
                   c -> ascii(c))),
                 (a, b) -> (a * 31 + b) % 2147483647) % {_DSIR_BUCKETS}
               AS b
      FROM big
    ),
    dc AS (
      SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS c
      FROM hb GROUP BY 1, 2, 3
    ),
    bs AS (
      SELECT b, sum(c) AS r_b,
             sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS t_b
      FROM dc GROUP BY 1
    ),
    tot AS (SELECT sum(r_b) AS rr, sum(t_b) AS tt FROM bs)
    SELECT dc.doc_id, dc.lang,
           CAST(sum(dc.c) AS BIGINT) AS n_bigrams,
           round(sum(dc.c * (ln(bs.t_b + 1) - ln(tot.tt + {_DSIR_BUCKETS})
                             - ln(bs.r_b + 1)
                             + ln(tot.rr + {_DSIR_BUCKETS}))), 6)
             AS dsir_logweight
    FROM dc JOIN bs USING (b), tot
    GROUP BY 1, 2
    """,
    tags=("llm", "curation"),
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every raw document by how target-like its hashed-bigram distribution
    is.  Adjacent-token bigrams hash into a fixed 64-bucket feature
    space (the repo's cross-engine rolling hash); the TARGET distribution
    is estimated from the 'en' slice (the stand-in for a curated
    high-quality domain), the RAW distribution from the whole corpus,
    both with add-1 smoothing; a document's log importance weight is
    sum_g log(p_target(g) / p_raw(g)) over its bigram occurrences.
    Sampling proportionally to these weights is the DSIR recipe for
    domain-matched pretraining selection.

    One fact-scale shuffle total: explode bigrams -> hash -> one
    (doc_id, lang, bucket) count (map-side combinable).  Both bucket
    marginals DERIVE from that relation (r_b = sum over docs, t_b = the
    lang='en' conditional sum), so the corpus is scanned and shuffled
    once; the 64-row stats and 1-row totals broadcast back (scalar-
    subquery shape).  Model size is FIXED at 64 buckets regardless of
    corpus size — the hashed estimator's contract — so at 100 TB the
    plan is one map-combinable shuffle plus two broadcasts, and a hot
    bucket ("the the" mass) skews only the 64-row re-aggregate, not the
    doc-keyed pass.  ln() on integer-valued doubles differs across
    libms by <=1 ulp; the summed weight rounds at 6 decimals, ~8 orders
    of magnitude above that noise.  Docs with fewer than 2 tokens have
    no bigrams and are absent in both engines.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    bg = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "if(size(tokens) < 2, array(),"
                " transform(sequence(1, size(tokens) - 1),"
                " i -> concat(tokens[i-1], ' ', tokens[i])))"
            )
        ).alias("bg"),
    )
    # coalesce(-1) makes the bucket key NON-NULLABLE (bg is never null —
    # it concatenates non-null array cells — so -1 never occurs): without
    # it the self-join's isnotnull() pushes to DIFFERENT depths on the
    # probe and build branches (below the (doc,lang,b) aggregate on one,
    # above it on the other), the two fact exchanges stop canonicalizing
    # equal, and ReuseExchange plans a second full corpus scan (measured
    # on the r10 open tree: 2 FileScans -> 1 with this line).
    bucket = F.coalesce(
        F.expr(
            "pmod(aggregate(split(bg, ''), 0L,"
            f" (a, c) -> pmod(a * 31 + ascii(c), 2147483647)),"
            f" {_DSIR_BUCKETS})"
        ),
        F.lit(-1),
    )
    dc = (
        bg.select("doc_id", "lang", bucket.alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Grand totals attach to the bucket stats via a single-partition
    # window: the relation is 64 rows BY CONSTRUCTION (the hashed model's
    # fixed width), so the unbounded-window rule doesn't apply, and the
    # alternative — a separate 1-row aggregate crossJoined back — planned
    # as a second full fact scan (ReuseExchange did not unify the two
    # bucket-stats subtrees under AQE; measured on the r10 open tree).
    w_all = Window.partitionBy()
    bs = (
        dc.groupBy("b")
        .agg(
            F.sum("c").alias("r_b"),
            F.sum(
                F.when(F.col("lang") == "en", F.col("c")).otherwise(0)
            ).alias("t_b"),
        )
        .withColumn("rr", F.sum("r_b").over(w_all))
        .withColumn("tt", F.sum("t_b").over(w_all))
    )
    lr = (
        F.log(F.col("t_b") + 1)
        - F.log(F.col("tt") + _DSIR_BUCKETS)
        - F.log(F.col("r_b") + 1)
        + F.log(F.col("rr") + _DSIR_BUCKETS)
    )
    return (
        dc.join(F.broadcast(bs), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.col("c") * lr), 6).alias("dsir_logweight"),
        )
    )


# ---------------------------------------------------------------------------
# Span-corruption mask manifest (T5/UL2 denoising-objective data prep)
# ---------------------------------------------------------------------------


@register(
    "corpus_span_corruption_masks",
    oracle="""
    WITH t AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        FROM documents
      )
    ),
    st AS (
      SELECT doc_id, pos,
             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split_regex(
                      doc_id || ':' || pos, ''), c -> ascii(c))),
                    (a, b) -> (a * 31 + b) % 2147483647) % 10 = 0
                  THEN 1 ELSE 0 END AS is_start
      FROM t
    ),
    mk AS (
      SELECT doc_id, pos,
             max(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN 2 PRECEDING
                                 AND CURRENT ROW) AS masked
      FROM st
    ),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS isle
      FROM mk WHERE masked = 1
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY min(pos)) AS BIGINT) AS span_id,
           CAST(min(pos) AS BIGINT) AS start_pos,
           CAST(max(pos) AS BIGINT) AS end_pos,
           CAST(count(*) AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, isle
    """,
    tags=("llm", "curation"),
)
def corpus_span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption manifest: deterministically select
    ~10% of token positions as span starts (content-stable hash of
    (doc_id, pos) — reproducible across re-runs and topologies, the same
    discipline as ``corpus_shard_assignment``), extend each start 3
    tokens, and MERGE overlapping/adjacent selections into maximal mask
    spans — the (doc, span) manifest a denoising-objective data loader
    consumes (mask these, predict them).  Completes the training-prep
    family: chunking (``doc_chunk_token_windows``) → packing
    (``corpus_pack_token_budget``) → masking (this).

    One doc-keyed shuffle drives everything: position explode → hash
    start flags (map) → a 3-row running max marks covered positions →
    gaps-and-islands (pos − row_number, the D22 kernel) merges overlaps
    exactly — no self-join, no interval logic; span assembly is one
    (doc, island) aggregate on the SAME partitioning (no second
    exchange).  At 100 TB the plan is explode + one window + one
    aggregate, all keyed by doc_id; skew equals the document-length
    distribution, the lever the dedup family already documents.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id",
        F.posexplode("tokens").alias("pos", "_tok"),
    ).drop("_tok")
    h = F.expr(
        "pmod(aggregate(split(concat(cast(doc_id as string), ':',"
        " cast(pos as string)), ''), 0L,"
        " (a, c) -> pmod(a * 31 + ascii(c), 2147483647)), 10)"
    )
    st = t.withColumn("is_start", F.when(h == 0, 1).otherwise(0))
    w_cover = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-2, Window.currentRow)
    )
    mk = st.withColumn("masked", F.max("is_start").over(w_cover)).filter(
        F.col("masked") == 1
    )
    w_rn = Window.partitionBy("doc_id").orderBy("pos")
    isl = mk.withColumn("isle", F.col("pos") - F.row_number().over(w_rn))
    spans = isl.groupBy("doc_id", "isle").agg(
        F.min("pos").cast("bigint").alias("start_pos"),
        F.max("pos").cast("bigint").alias("end_pos"),
        F.count(F.lit(1)).cast("bigint").alias("span_len"),
    )
    w_span = Window.partitionBy("doc_id").orderBy("start_pos")
    return spans.select(
        "doc_id",
        F.row_number().over(w_span).cast("bigint").alias("span_id"),
        "start_pos",
        "end_pos",
        "span_len",
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (suffix-array family, Lee et al. 2022)
# ---------------------------------------------------------------------------

_ESS_K = 15  # anchor width in tokens (Lee et al. use 50; fixture docs are 10-99)


def _exact_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-doc duplicated spans (doc_id, n_tokens, isle, s, e2)
    — the suffix-array-sweep reconstruction shared by the measurement
    (``dedup_exact_substring``) and the cut manifest
    (``dedup_exact_substring_cut``).  See the former's docstring for the
    anchor/window/islands derivation."""
    k = _ESS_K
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    g = d.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.posexplode(
            F.expr(
                f"if(size(tokens) < {k}, array(),"
                f" transform(sequence(1, size(tokens) - {k} + 1),"
                f" i -> md5(array_join(slice(tokens, i, {k}), ' '))))"
            )
        ).alias("p0", "gk"),
    )
    wg = Window.partitionBy("gk")
    dup = (
        g.withColumn("d_min", F.min("doc_id").over(wg))
        .withColumn("d_max", F.max("doc_id").over(wg))
        .filter(F.col("d_min") != F.col("d_max"))
        .select(
            "doc_id",
            "n_tokens",
            (F.col("p0") + 1).alias("pos"),
            (F.col("p0") + k).alias("e"),
        )
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    prev_e = F.max("e").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    isl = dup.withColumn(
        "nf",
        F.when(prev_e.isNull() | (F.col("pos") > prev_e + 1), 1).otherwise(0),
    ).withColumn(
        "isle",
        F.sum("nf").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("doc_id", "isle").agg(
        F.min("n_tokens").alias("n_tokens"),
        F.min("pos").alias("s"),
        F.max("e").alias("e2"),
    )


@register(
    "dedup_exact_substring",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    g AS (SELECT doc_id, len(sp) AS n_tokens, i AS pos, i + {_ESS_K} - 1 AS e,
                 md5(array_to_string(sp[i:i+{_ESS_K}-1], ' ')) AS gk
          FROM t, LATERAL (SELECT unnest(range(1, len(sp) - {_ESS_K} + 2)) AS i)),
    p AS (SELECT doc_id, n_tokens, pos, e,
                 min(doc_id) OVER (PARTITION BY gk) AS d_min,
                 max(doc_id) OVER (PARTITION BY gk) AS d_max
          FROM g),
    dup AS (SELECT doc_id, n_tokens, pos, e FROM p WHERE d_min <> d_max),
    m AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
          FROM dup),
    f AS (SELECT *, CASE WHEN prev_e IS NULL OR pos > prev_e + 1
                         THEN 1 ELSE 0 END AS nf
          FROM m),
    isl AS (SELECT *, sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
            FROM f),
    sp2 AS (SELECT doc_id, isle, min(n_tokens) AS n_tokens,
                   min(pos) AS s, max(e) AS e2
            FROM isl GROUP BY 1, 2)
    SELECT doc_id,
           CAST(min(n_tokens) AS BIGINT)       AS n_tokens,
           CAST(count(*) AS BIGINT)            AS n_spans,
           CAST(sum(e2 - s + 1) AS BIGINT)     AS dup_tokens,
           CAST(max(e2 - s + 1) AS BIGINT)     AS max_span_len,
           {{dup_frac}} AS dup_frac
    FROM sp2 GROUP BY doc_id
    """.format(
        dup_frac=round_int_ratio_sql("sum(e2 - s + 1)", "min(n_tokens)", 6)
    ),
    tags=("llm", "curation", "dedup"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, the suffix-array family of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): find
    MAXIMAL runs of tokens that occur verbatim in at least one other
    document, per document — the cross-document boilerplate (licenses,
    navigation chrome, templated headers) that n-gram Jaccard dilutes
    and MinHash cannot localize.  Relational reconstruction of the
    suffix-array sweep: a position is "covered" iff the k-token anchor
    starting there also occurs in another doc, and a maximal duplicated
    run of length L >= k is exactly a maximal island of covered
    positions (its anchors cover [s, s+L-1] contiguously), so
    gaps-and-islands interval union over covered anchors recovers the
    same spans the suffix-array scan emits, k-approximated at the run
    boundaries like the original (runs shorter than k are invisible by
    construction there too).

    Plan: anchor posexplode (guarded for sub-k docs) -> ONE shuffle on
    the 128-bit md5 anchor digest (the shuffle never carries the k-token
    text, only the fixed-width key — at 100 TB that is the difference
    between moving the corpus and moving ~3x its row count in digests)
    with a min/max-doc window marking cross-doc positions (no join-back:
    the postings relation IS the window input) -> ONE doc-keyed shuffle
    for the island merge (running-max window + prefix-sum island ids,
    the gaps-and-islands discipline shared with ``events_sessionize``)
    -> per-doc aggregate.  Cost is Sigma df per anchor — linear in
    corpus size, never n²; a pathologically hot anchor ("the the ...")
    skews one window partition and takes the standard posting-cap /
    salting lever documented in operators/dedup.py.  Docs shorter than
    k tokens or with no cross-doc anchor are absent in both engines.
    """
    spans = _exact_dup_spans(spark, sf_dir)
    span_len = F.col("e2") - F.col("s") + 1
    return spans.groupBy("doc_id").agg(
        F.min("n_tokens").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(span_len).cast("bigint").alias("dup_tokens"),
        F.max(span_len).cast("bigint").alias("max_span_len"),
        round_int_ratio(F.sum(span_len), F.min("n_tokens"), 6).alias(
            "dup_frac"
        ),
    )


@register(
    "dedup_exact_substring_cut",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    g AS (SELECT doc_id, len(sp) AS n_tokens, i AS pos, i + {_ESS_K} - 1 AS e,
                 md5(array_to_string(sp[i:i+{_ESS_K}-1], ' ')) AS gk
          FROM t, LATERAL (SELECT unnest(range(1, len(sp) - {_ESS_K} + 2)) AS i)),
    p AS (SELECT doc_id, n_tokens, pos, e,
                 min(doc_id) OVER (PARTITION BY gk) AS d_min,
                 max(doc_id) OVER (PARTITION BY gk) AS d_max
          FROM g),
    dup AS (SELECT doc_id, n_tokens, pos, e FROM p WHERE d_min <> d_max),
    m AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
          FROM dup),
    f AS (SELECT *, CASE WHEN prev_e IS NULL OR pos > prev_e + 1
                         THEN 1 ELSE 0 END AS nf
          FROM m),
    isl AS (SELECT *, sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
            FROM f),
    sp2 AS (SELECT doc_id, isle, min(n_tokens) AS n_tokens,
                   min(pos) AS s, max(e) AS e2
            FROM isl GROUP BY 1, 2),
    sq AS (SELECT doc_id, n_tokens, s, e2,
                  lag(e2) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e,
                  row_number() OVER (PARTITION BY doc_id ORDER BY s) AS rn,
                  count(*) OVER (PARTITION BY doc_id) AS nspans
           FROM sp2),
    keep AS (
      SELECT doc_id, coalesce(prev_e, 0) + 1 AS ks, s - 1 AS ke FROM sq
      WHERE s - 1 >= coalesce(prev_e, 0) + 1
      UNION ALL
      SELECT doc_id, e2 + 1 AS ks, n_tokens AS ke FROM sq
      WHERE rn = nspans AND e2 < n_tokens)
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ks)
                AS BIGINT) AS seg_id,
           CAST(ks AS BIGINT) AS keep_start,
           CAST(ke AS BIGINT) AS keep_end,
           CAST(ke - ks + 1 AS BIGINT) AS seg_len
    FROM keep
    """,
    tags=("llm", "curation", "dedup"),
)
def dedup_exact_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE half of exact-substring dedup — Lee et al. 2022's
    cut step as a rewrite manifest: for every document with duplicated
    runs, the ordered keep-intervals (token positions) remaining after
    cutting every maximal cross-doc duplicated span.  This is what the
    pipeline's rewrite job consumes: each (doc_id, keep_start, keep_end)
    row is one ``slice(tokens, ...)`` of the cleaned output, so the cut
    itself is a narrow per-doc map over the manifest join — no second
    dedup pass.  Cut policy: remove duplicated spans from EVERY holder
    (the conservative all-copies policy; keeper election composes via
    the ``dedup_cluster_representatives`` machinery when one copy should
    survive).  A doc whose every token is covered emits NO keep rows —
    fully-boilerplate docs drop entirely; docs with no duplicated runs
    are absent (nothing to rewrite) — both facts hold in both engines.

    Plan: the shared span relation (see ``_exact_dup_spans``: one anchor
    shuffle + one doc-keyed islands pass), then the interval COMPLEMENT
    entirely inside the same doc partitioning: lag(prev span end) gives
    head/middle gaps, the rn = nspans row contributes the tail, one
    union, one row_number — no new exchange beyond the span relation's
    own (plan-tested).
    """
    spans = _exact_dup_spans(spark, sf_dir)
    wd = Window.partitionBy("doc_id").orderBy("s")
    sq = (
        spans.withColumn("prev_e", F.lag("e2").over(wd))
        .withColumn("rn", F.row_number().over(wd))
        .withColumn(
            "nspans", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    )
    # Each span row yields up to TWO keep candidates — the gap before it
    # and (on the last span only) the tail — via one explode, NOT a
    # union: a union's two branches re-derive the whole span subtree and
    # their differing pushed predicates break ReuseExchange (measured: 2
    # FileScans / 4 exchanges as a union, 1 scan / 2 exchanges this way).
    gap_ks = F.coalesce(F.col("prev_e"), F.lit(0)) + 1
    tail_ok = (F.col("rn") == F.col("nspans")) & (
        F.col("e2") < F.col("n_tokens")
    )
    cand = sq.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    gap_ks.cast("long").alias("ks"),
                    (F.col("s") - 1).cast("long").alias("ke"),
                ),
                F.struct(
                    F.when(tail_ok, F.col("e2") + 1).cast("long").alias("ks"),
                    F.col("n_tokens").cast("long").alias("ke"),
                ),
            )
        ).alias("seg"),
    )
    keep = cand.filter(
        F.col("seg.ks").isNotNull() & (F.col("seg.ke") >= F.col("seg.ks"))
    ).select("doc_id", F.col("seg.ks").alias("ks"), F.col("seg.ke").alias("ke"))
    wk = Window.partitionBy("doc_id").orderBy("ks")
    return keep.select(
        "doc_id",
        F.row_number().over(wk).cast("bigint").alias("seg_id"),
        F.col("ks").cast("bigint").alias("keep_start"),
        F.col("ke").cast("bigint").alias("keep_end"),
        (F.col("ke") - F.col("ks") + 1).cast("bigint").alias("seg_len"),
    )


# ---------------------------------------------------------------------------
# Incremental exact-substring dedup on corpus append (BB2)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_substring_incremental",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    g AS (SELECT doc_id, len(sp) AS n_tokens, i AS pos, i + {_ESS_K} - 1 AS e,
                 md5(array_to_string(sp[i:i+{_ESS_K}-1], ' ')) AS gk
          FROM t, LATERAL (SELECT unnest(range(1, len(sp) - {_ESS_K} + 2)) AS i)),
    p AS (SELECT doc_id, n_tokens, pos, e,
                 min(doc_id) OVER (PARTITION BY gk) AS d_min,
                 max(doc_id) OVER (PARTITION BY gk) AS d_max
          FROM g),
    dup AS (SELECT doc_id, n_tokens, pos, e FROM p
            WHERE d_min <> d_max AND doc_id % 5 = 0),
    m AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
          FROM dup),
    f AS (SELECT *, CASE WHEN prev_e IS NULL OR pos > prev_e + 1
                         THEN 1 ELSE 0 END AS nf
          FROM m),
    isl AS (SELECT *, sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
            FROM f),
    sp2 AS (SELECT doc_id, isle, min(n_tokens) AS n_tokens,
                   min(pos) AS s, max(e) AS e2
            FROM isl GROUP BY 1, 2)
    SELECT doc_id,
           CAST(min(n_tokens) AS BIGINT)       AS n_tokens,
           CAST(count(*) AS BIGINT)            AS n_spans,
           CAST(sum(e2 - s + 1) AS BIGINT)     AS dup_tokens,
           CAST(max(e2 - s + 1) AS BIGINT)     AS max_span_len,
           {{dup_frac}} AS dup_frac
    FROM sp2 GROUP BY doc_id
    """.format(
        dup_frac=round_int_ratio_sql("sum(e2 - s + 1)", "min(n_tokens)", 6)
    ),
    tags=("llm", "curation", "dedup"),
)
def dedup_exact_substring_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental exact-substring dedup on corpus APPEND — the third
    member of the incremental trilogy (``dedup_minhash_incremental``,
    ``ann_ivf_incremental_refresh``), applied to the Lee et al. 2022
    family: 80% of the corpus plays the already-swept snapshot, whose
    DISTINCT anchor-digest set is the persisted index artifact
    (localCheckpointed stand-in); the doc_id % 5 == 0 docs arrive as the
    new shard, and the query emits each DELTA doc's maximal cross-doc
    duplicated spans — against snapshot AND delta alike — without ever
    re-anchoring or re-windowing the snapshot.

    The dup test factorizes exactly because snapshot and delta partition
    the corpus: a delta anchor in doc d is cross-doc duplicated iff its
    digest exists in the SNAPSHOT digest set (any snapshot holder is a
    different doc by construction) OR two distinct DELTA docs share it
    (delta-internal min ≠ max).  So the per-append plan is: delta
    anchors (posexplode, |delta| work) → ONE digest-keyed window over
    DELTA anchors only (min/max doc) → one equi-join probe of the
    snapshot digest index on the fixed-width md5 key → the same
    doc-keyed gaps-and-islands merge as ``dedup_exact_substring``.
    Per-append cost is O(|delta anchors| + probe matches), independent
    of snapshot size beyond the index equi-join (bucket-partitioned by
    digest at scale, a co-located probe).  The oracle is the ONE-SHOT
    full-corpus sweep restricted to delta docs — hash-equality proves
    append-time spans ≡ a full re-run's spans for the new shard.
    """
    k = _ESS_K
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    anchors = F.expr(
        f"if(size(tokens) < {k}, array(),"
        f" transform(sequence(1, size(tokens) - {k} + 1),"
        f" i -> md5(array_join(slice(tokens, i, {k}), ' '))))"
    )
    snap = d.filter(F.col("doc_id") % 5 != 0)
    delta = d.filter(F.col("doc_id") % 5 == 0)
    # persisted snapshot artifact: the distinct anchor-digest set
    snap_idx = (
        snap.select(F.explode(anchors).alias("gk"))
        .distinct()
        .localCheckpoint()
    )
    g = delta.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.posexplode(anchors).alias("p0", "gk"),
    )
    wg = Window.partitionBy("gk")
    marked = (
        g.withColumn("d_min", F.min("doc_id").over(wg))
        .withColumn("d_max", F.max("doc_id").over(wg))
        .join(
            snap_idx.withColumn("snap_hit", F.lit(1)), "gk", "left"
        )
        .filter(
            (F.col("d_min") != F.col("d_max")) | F.col("snap_hit").isNotNull()
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("p0") + 1).alias("pos"),
            (F.col("p0") + k).alias("e"),
        )
    )
    return _ess_islands_report(marked)


def _ess_islands_report(marked: DataFrame) -> DataFrame:
    """Shared tail of the exact-substring family: merge a doc's dup
    anchors (doc_id, n_tokens, pos, e) into maximal islands
    (gaps-and-islands over the anchor intervals) and report per-doc span
    stats.  Used by the one-shot, incremental, and streaming variants."""
    wd = Window.partitionBy("doc_id").orderBy("pos")
    prev_e = F.max("e").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    isl = marked.withColumn(
        "nf",
        F.when(prev_e.isNull() | (F.col("pos") > prev_e + 1), 1).otherwise(0),
    ).withColumn(
        "isle",
        F.sum("nf").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy("doc_id", "isle").agg(
        F.min("n_tokens").alias("n_tokens"),
        F.min("pos").alias("s"),
        F.max("e").alias("e2"),
    )
    span_len = F.col("e2") - F.col("s") + 1
    return spans.groupBy("doc_id").agg(
        F.min("n_tokens").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(span_len).cast("bigint").alias("dup_tokens"),
        F.max(span_len).cast("bigint").alias("max_span_len"),
        round_int_ratio(F.sum(span_len), F.min("n_tokens"), 6).alias(
            "dup_frac"
        ),
    )


# ---------------------------------------------------------------------------
# BB5: streaming incremental exact-substring dedup (foreachBatch serving)
# ---------------------------------------------------------------------------


@register(
    "stream_dedup_exact_substring",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    g AS (SELECT doc_id, len(sp) AS n_tokens, i AS pos, i + {_ESS_K} - 1 AS e,
                 md5(array_to_string(sp[i:i+{_ESS_K}-1], ' ')) AS gk
          FROM t, LATERAL (SELECT unnest(range(1, len(sp) - {_ESS_K} + 2)) AS i)),
    -- distinct holders per digest, with arrival batch: snapshot = -1,
    -- delta doc d arrives in batch (d // 5) %% 3
    h AS (SELECT DISTINCT gk, doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN (doc_id // 5) % 3
                      ELSE -1 END AS b
          FROM g),
    -- streaming-order dup test: a delta anchor is dup iff ANOTHER holder
    -- arrived no later — strictly-earlier holder (snapshot counts, b=-1)
    -- or a second distinct doc in the SAME batch (the within-batch
    -- min<>max window)
    hh AS (SELECT gk, doc_id, b,
                  count(*) OVER (PARTITION BY gk ORDER BY b
                                 RANGE BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS cnt_lt,
                  count(*) OVER (PARTITION BY gk, b) AS cnt_same
           FROM h),
    hit AS (SELECT gk, doc_id FROM hh
            WHERE b >= 0 AND (cnt_lt >= 1 OR cnt_same >= 2)),
    dup AS (SELECT g.doc_id, g.n_tokens, g.pos, g.e
            FROM g JOIN hit ON hit.gk = g.gk AND hit.doc_id = g.doc_id),
    m AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
          FROM dup),
    f AS (SELECT *, CASE WHEN prev_e IS NULL OR pos > prev_e + 1
                         THEN 1 ELSE 0 END AS nf
          FROM m),
    isl AS (SELECT *, sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
            FROM f),
    sp2 AS (SELECT doc_id, isle, min(n_tokens) AS n_tokens,
                   min(pos) AS s, max(e) AS e2
            FROM isl GROUP BY 1, 2)
    SELECT doc_id,
           CAST(min(n_tokens) AS BIGINT)       AS n_tokens,
           CAST(count(*) AS BIGINT)            AS n_spans,
           CAST(sum(e2 - s + 1) AS BIGINT)     AS dup_tokens,
           CAST(max(e2 - s + 1) AS BIGINT)     AS max_span_len,
           {{dup_frac}} AS dup_frac
    FROM sp2 GROUP BY doc_id
    """.format(
        dup_frac=round_int_ratio_sql("sum(e2 - s + 1)", "min(n_tokens)", 6)
    ),
    tags=("llm", "curation", "dedup", "streaming"),
)
def stream_dedup_exact_substring(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING incremental exact-substring dedup — BB2's append path
    served through Structured Streaming (r12 verdict ask #8, option a):
    the delta corpus arrives as a 3-micro-batch file stream
    (``availableNow`` + ``maxFilesPerTrigger=1`` — the bounded replay of
    a continuous ingest), and every batch runs the SAME delta plan as
    ``dedup_exact_substring_incremental`` inside ``foreachBatch``: batch
    anchors (posexplode) → within-batch digest window (min≠max doc) →
    equi-join probe of the PERSISTED digest index → islands merge →
    append sink.  After each batch the index absorbs the batch's
    distinct digests (probe BEFORE absorb, so a doc never self-hits) —
    the index is the only state that crosses batches, exactly the
    posture of a 100 TB ingest pipeline where the digest index is a
    bucket-partitioned table and each arriving shard is one job.

    Streaming-order semantics, pinned by the oracle: doc d's spans are
    judged against snapshot ∪ every delta doc that arrived NO LATER
    (strictly-earlier batches via the growing index; same-batch peers
    via the window).  A doc sharing a run only with a LATER arrival is
    NOT re-marked — streaming emits once, append-only; the oracle
    encodes arrival order as batch index (doc_id DIV 5) % 3 and
    re-derives the identical marks with one RANGE window, so
    hash-equality proves the foreachBatch loop ≡ the declarative
    arrival-order semantics (and pins that the 3 batches really ran
    separately: a collapsed single batch would mark later-arrival pairs
    symmetrically and diverge).

    Cites the reference's stream-consume→filter→forward shape
    (`/root/reference/README.md:2`) composed with Lee et al. 2022
    exact-substring semantics; per-batch cost is O(batch anchors +
    probe matches), snapshot never re-anchored.
    """
    import os
    import shutil
    import uuid

    k = _ESS_K
    anchors = F.expr(
        f"if(size(tokens) < {k}, array(),"
        f" transform(sequence(1, size(tokens) - {k} + 1),"
        f" i -> md5(array_join(slice(tokens, i, {k}), ' '))))"
    )
    docs = load(spark, sf_dir, "documents")
    d = D.with_tokens(docs)
    snap = d.filter(F.col("doc_id") % 5 != 0)
    snap_idx = (
        snap.select(F.explode(anchors).alias("gk")).distinct().localCheckpoint()
    )

    base = os.path.join("/tmp", f"ess_stream_{uuid.uuid4().hex}")
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir)
    os.makedirs(out_dir)
    # three append shards as one file each, mtimes strictly increasing so
    # the file source's (timestamp, path) order IS the arrival order
    delta_raw = docs.filter(F.col("doc_id") % 5 == 0)
    t0 = 1_700_000_000
    for b in range(3):
        stage = os.path.join(base, f"w{b}")
        delta_raw.filter(F.expr("(doc_id div 5) % 3") == b).coalesce(
            1
        ).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and f.startswith("part-")
        )
        dst = os.path.join(in_dir, f"b{b:03d}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (t0 + b * 60, t0 + b * 60))

    state = {"idx": snap_idx}

    def process(bdf: DataFrame, batch_id: int) -> None:
        toks = D.with_tokens(bdf)
        g = toks.select(
            "doc_id",
            F.size("tokens").alias("n_tokens"),
            F.posexplode(anchors).alias("p0", "gk"),
        )
        wg = Window.partitionBy("gk")
        marked = (
            g.withColumn("d_min", F.min("doc_id").over(wg))
            .withColumn("d_max", F.max("doc_id").over(wg))
            .join(state["idx"].withColumn("idx_hit", F.lit(1)), "gk", "left")
            .filter(
                (F.col("d_min") != F.col("d_max"))
                | F.col("idx_hit").isNotNull()
            )
            .select(
                "doc_id",
                "n_tokens",
                (F.col("p0") + 1).alias("pos"),
                (F.col("p0") + k).alias("e"),
            )
        )
        _ess_islands_report(marked).write.mode("append").parquet(out_dir)
        # absorb AFTER the probe: the index a batch sees never contains
        # its own digests (a doc must not self-hit)
        state["idx"] = (
            state["idx"]
            .unionByName(toks.select(F.explode(anchors).alias("gk")))
            .distinct()
            .localCheckpoint()
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    out_schema = (
        "doc_id bigint, n_tokens bigint, n_spans bigint,"
        " dup_tokens bigint, max_span_len bigint, dup_frac double"
    )
    return spark.read.schema(out_schema).parquet(out_dir)


# ---------------------------------------------------------------------------
# Sinkhorn/IPF optimal-transport mixture rebalancing (BB8)
# ---------------------------------------------------------------------------

#: Length-bucket boundaries (chars) and the TARGET bucket mixture the
#: curated corpus should hit — part of the query definition.  Three
#: buckets: short [0,200), medium [200,400), long [400,∞); fixtures
#: occupy every (source, bucket) cell at every SF.
_IPF_TARGET_BUCKET = (0.25, 0.35, 0.40)
_IPF_ITERS = 3


@register(
    "corpus_sinkhorn_rebalance",
    oracle="""
    WITH m AS (
      SELECT source,
             CASE WHEN n_chars < 200 THEN 0
                  WHEN n_chars < 400 THEN 1 ELSE 2 END AS bucket,
             CAST(sum(n_chars) AS BIGINT) AS mass
      FROM documents GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(mass) AS DOUBLE) t FROM m),
    p0 AS (SELECT source, bucket, mass, CAST(mass AS DOUBLE) AS p FROM m),
    r1 AS (SELECT source, sum(p) rsum FROM p0 GROUP BY 1),
    q1 AS (SELECT source, bucket, mass, p / rsum * 5e-2 AS p
           FROM p0 JOIN r1 USING (source)),
    c1 AS (SELECT bucket, sum(p) csum FROM q1 GROUP BY 1),
    p1 AS (SELECT source, bucket, mass,
                  p / csum * (CASE bucket WHEN 0 THEN 25e-2
                              WHEN 1 THEN 35e-2 ELSE 40e-2 END) AS p
           FROM q1 JOIN c1 USING (bucket)),
    r2 AS (SELECT source, sum(p) rsum FROM p1 GROUP BY 1),
    q2 AS (SELECT source, bucket, mass, p / rsum * 5e-2 AS p
           FROM p1 JOIN r2 USING (source)),
    c2 AS (SELECT bucket, sum(p) csum FROM q2 GROUP BY 1),
    p2 AS (SELECT source, bucket, mass,
                  p / csum * (CASE bucket WHEN 0 THEN 25e-2
                              WHEN 1 THEN 35e-2 ELSE 40e-2 END) AS p
           FROM q2 JOIN c2 USING (bucket)),
    r3 AS (SELECT source, sum(p) rsum FROM p2 GROUP BY 1),
    q3 AS (SELECT source, bucket, mass, p / rsum * 5e-2 AS p
           FROM p2 JOIN r3 USING (source)),
    c3 AS (SELECT bucket, sum(p) csum FROM q3 GROUP BY 1),
    p3 AS (SELECT source, bucket, mass,
                  p / csum * (CASE bucket WHEN 0 THEN 25e-2
                              WHEN 1 THEN 35e-2 ELSE 40e-2 END) AS p
           FROM q3 JOIN c3 USING (bucket))
    SELECT source, CAST(bucket AS INT) AS bucket,
           round(CAST(mass AS DOUBLE) / t, 6) AS observed_share,
           round(p, 6) AS plan_share,
           round(p / (CAST(mass AS DOUBLE) / t), 6) AS resample_weight
    FROM p3 CROSS JOIN tot
    """,
    tags=("llm", "curation"),
)
def corpus_sinkhorn_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal-transport mixture rebalancing by Sinkhorn/IPF projection —
    the distribution-matching step of mixture design: given the OBSERVED
    joint char-mass M[source, length-bucket] and independent TARGET
    marginals (uniform 1/20 over sources × the fixed bucket mixture
    0.25/0.35/0.40), find the transport plan P = diag(u)·M·diag(v)
    closest to M in KL subject to both marginals.  Iterative proportional
    fitting (Deming & Stephan 1940) IS Sinkhorn's algorithm with the
    observed joint as the kernel (Benamou et al. 2015, iterative Bregman
    projections) — 3 fixed alternating row/column scalings, unrolled so
    the plan is deterministic and oracle-replayable.  Output per cell:
    observed share, fitted plan share, and the per-doc resample weight
    plan/observed a sampler downstream would apply.

    Scale shape: ONE fact scan aggregates the corpus to the K×B cell
    relation (20×3 rows at any corpus size — the 100 TB invariant); all
    six scaling passes are groupBy/join over those 60 rows, so the
    iteration cost is independent of data volume.  The grand total for
    observed shares is the allowlisted 1-row crossJoin broadcast.  All
    scalings stay in double with the literal targets bound as doubles in
    BOTH engines (e-notation in the oracle — DuckDB parses plain decimal
    literals as DECIMAL, which rounds differently from Spark's double
    path); rounding to 6dp happens only at emission."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 400, 1)
        .otherwise(2)
    )
    m = d.groupBy(F.col("source"), bucket.alias("bucket")).agg(
        F.sum("n_chars").cast("bigint").alias("mass")
    )
    tot = m.agg(F.sum("mass").cast("double").alias("t"))
    ctarget = (
        F.when(F.col("bucket") == 0, F.lit(0.25))
        .when(F.col("bucket") == 1, F.lit(0.35))
        .otherwise(F.lit(0.40))
    )
    p = m.withColumn("p", F.col("mass").cast("double"))
    for _ in range(_IPF_ITERS):
        rs = p.groupBy("source").agg(F.sum("p").alias("rsum"))
        p = (
            p.join(F.broadcast(rs), "source")
            .withColumn("p", F.col("p") / F.col("rsum") * F.lit(0.05))
            .drop("rsum")
        )
        cs = p.groupBy("bucket").agg(F.sum("p").alias("csum"))
        p = (
            p.join(F.broadcast(cs), "bucket")
            .withColumn("p", F.col("p") / F.col("csum") * ctarget)
            .drop("csum")
        )
    return p.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("bucket").cast("int").alias("bucket"),
        F.round(F.col("mass").cast("double") / F.col("t"), 6).alias(
            "observed_share"
        ),
        F.round("p", 6).alias("plan_share"),
        F.round(
            F.col("p") / (F.col("mass").cast("double") / F.col("t")), 6
        ).alias("resample_weight"),
    )


# ---------------------------------------------------------------------------
# SFT conversation assembly + loss-mask accounting (BB9)
# ---------------------------------------------------------------------------


@register(
    "sft_conversation_assembly",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type,
             CAST(props->>'$.k' AS INT) % 4 + 1 AS km,
             event_type IN ('view', 'click') AS is_user
      FROM events),
    turns AS (
      SELECT user_id, day, ts, event_id,
             (CASE WHEN is_user THEN '<|user|>' ELSE '<|assistant|>' END)
               || ' ' || event_type || repeat(' x', km) || ' <|eot|>'
               AS turn,
             km + 3 AS tt,
             CASE WHEN is_user THEN 0 ELSE km + 2 END AS lt,
             CASE WHEN is_user THEN 0 ELSE 1 END AS is_asst
      FROM ev),
    agg AS (
      SELECT user_id, day,
             CAST(count(*) AS BIGINT) AS n_turns,
             CAST(sum(is_asst) AS BIGINT) AS n_assistant_turns,
             CAST(sum(tt) AS BIGINT) AS total_tokens,
             CAST(sum(lt) AS BIGINT) AS loss_tokens,
             string_agg(turn, ' ' ORDER BY ts, event_id) AS conversation
      FROM turns GROUP BY 1, 2)
    SELECT user_id, day, n_turns, n_assistant_turns, total_tokens,
           loss_tokens,
           {mask} AS mask_fraction,
           (total_tokens + 63) // 64 AS packed_seqs,
           conversation
    FROM agg
    """.format(mask=round_int_ratio_sql("loss_tokens", "total_tokens", 6)),
    tags=("llm", "curation", "text"),
)
def sft_conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT data prep — assemble per-(user, day) event streams into chat-
    template conversations and account for the loss mask: the step that
    turns raw interaction logs into supervised fine-tuning examples.
    Role mapping is deterministic (view/click → user turn, everything
    else → assistant); each turn renders as
    ``<role> <event_type> x…x <|eot|>`` with the content width driven by
    the event's payload (k mod 4 + 1 filler tokens), so token counts
    vary per turn.  Loss-mask accounting follows the standard SFT recipe:
    only assistant CONTENT + its end-of-turn token train (role headers
    and user turns are masked); ``mask_fraction`` is the trained-token
    share, ``packed_seqs`` the 64-token-budget sequence count after
    greedy concat-and-chunk packing.

    Scale shape: one fact scan; the only shuffle is the groupBy on the
    conversation key (user_id, day) — the natural partitioning for this
    workload at any scale.  The template string is assembled INSIDE the
    aggregate (sort_array over collected per-turn structs, the
    agg_listagg_ordered discipline — input-order independence is what
    makes the assembly reproducible run-to-run); per-conversation arrays
    are O(turns per user-day), never O(rows).  Token accounting is pure
    integer arithmetic and the mask fraction rounds through
    round_int_ratio, so every value is engine-exact."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        "event_type",
        (F.get_json_object("props", "$.k").cast("int") % 4 + 1).alias("km"),
        F.col("event_type").isin("view", "click").alias("is_user"),
    )
    turns = ev.select(
        "user_id",
        "day",
        "ts",
        "event_id",
        F.concat(
            F.when(F.col("is_user"), F.lit("<|user|>")).otherwise(
                F.lit("<|assistant|>")
            ),
            F.lit(" "),
            F.col("event_type"),
            F.expr("repeat(' x', km)"),
            F.lit(" <|eot|>"),
        ).alias("turn"),
        (F.col("km") + 3).alias("tt"),
        F.when(F.col("is_user"), 0).otherwise(F.col("km") + 2).alias("lt"),
        F.when(F.col("is_user"), 0).otherwise(1).alias("is_asst"),
    )
    agg = turns.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
        F.sum("is_asst").cast("bigint").alias("n_assistant_turns"),
        F.sum("tt").cast("bigint").alias("total_tokens"),
        F.sum("lt").cast("bigint").alias("loss_tokens"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "turn"))
                ),
                lambda s: s["turn"],
            ),
            " ",
        ).alias("conversation"),
    )
    return agg.select(
        "user_id",
        "day",
        "n_turns",
        "n_assistant_turns",
        "total_tokens",
        "loss_tokens",
        round_int_ratio(
            F.col("loss_tokens"), F.col("total_tokens"), 6
        ).alias("mask_fraction"),
        F.expr("(total_tokens + 63) DIV 64").alias("packed_seqs"),
        "conversation",
    )


# ---------------------------------------------------------------------------
# DPO preference-pair construction (BB10)
# ---------------------------------------------------------------------------


@register(
    "events_preference_pairs",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS day, event_id, event_type, value,
             event_type IN ('view', 'click') AS is_user
      FROM events),
    p AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_prompt_turns
          FROM ev WHERE is_user GROUP BY 1, 2),
    a AS (SELECT user_id, day, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id, day
                                    ORDER BY value DESC, event_id DESC) AS rd,
                 row_number() OVER (PARTITION BY user_id, day
                                    ORDER BY value ASC, event_id ASC) AS ra,
                 count(*) OVER (PARTITION BY user_id, day) AS nc
          FROM ev WHERE NOT is_user),
    ch AS (SELECT user_id, day, nc, event_id AS ceid, event_type AS cet,
                  value AS cv
           FROM a WHERE rd = 1),
    rj AS (SELECT user_id, day, event_id AS reid, event_type AS ret,
                  value AS rv
           FROM a WHERE ra = 1)
    SELECT ch.user_id, ch.day, p.n_prompt_turns,
           CAST(ch.nc AS BIGINT) AS n_candidates,
           ceid AS chosen_event_id, cet AS chosen_type, cv AS chosen_value,
           reid AS rejected_event_id, ret AS rejected_type,
           rv AS rejected_value,
           round(cv - rv, 6) AS margin
    FROM ch
    JOIN rj ON ch.user_id = rj.user_id AND ch.day = rj.day
    JOIN p  ON p.user_id = ch.user_id AND p.day = ch.day
    WHERE ch.nc >= 2
    """,
    tags=("llm", "curation"),
)
def events_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction — the step that turns raw
    interaction logs into (prompt, chosen, rejected) training pairs
    (Rafailov et al. 2023 direct preference optimization; the pairing
    recipe every preference-tuning pipeline runs upstream).  Role mapping
    matches the SFT assembly (BB9): view/click are the user/prompt side,
    everything else is an assistant-side candidate response.  Per
    (user_id, day) prompt context with at least one prompt turn and >= 2
    candidates: chosen = the candidate maximal by (value, event_id),
    rejected = minimal by the same key (the event_id tiebreak makes the
    pair deterministic under value ties), margin = chosen - rejected
    value, with candidate-count accounting for pair-quality filtering
    downstream.

    Scale shape: ONE fact scan, one shuffle on the natural pair key
    (user_id, day); chosen/rejected are struct min/max INSIDE the
    aggregate (no window over the fact table, no self-join), so state per
    key is O(1) and map-side partial aggregation applies.  The oracle
    takes the independent window-function route (two row_numbers + a
    count) so the two engines cross-check different plans for the same
    semantics.  Margin arithmetic is double-exact (same IEEE subtract in
    both engines) rounded at emission only."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_id",
        "event_type",
        "value",
        F.col("event_type").isin("view", "click").alias("is_user"),
    )
    cand = F.when(
        ~F.col("is_user"),
        F.struct(
            F.col("value").alias("v"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
        ),
    )
    agg = (
        ev.groupBy("user_id", "day")
        .agg(
            F.sum(F.when(F.col("is_user"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_prompt_turns"),
            F.sum(F.when(~F.col("is_user"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.max(cand).alias("ch"),
            F.min(cand).alias("rj"),
        )
        .filter(
            (F.col("n_prompt_turns") >= 1) & (F.col("n_candidates") >= 2)
        )
    )
    return agg.select(
        "user_id",
        "day",
        "n_prompt_turns",
        "n_candidates",
        F.col("ch.eid").alias("chosen_event_id"),
        F.col("ch.et").alias("chosen_type"),
        F.col("ch.v").alias("chosen_value"),
        F.col("rj.eid").alias("rejected_event_id"),
        F.col("rj.et").alias("rejected_type"),
        F.col("rj.v").alias("rejected_value"),
        F.round(F.col("ch.v") - F.col("rj.v"), 6).alias("margin"),
    )


# ---------------------------------------------------------------------------
# Per-shard length-curriculum interleave (BB11)
# ---------------------------------------------------------------------------


@register(
    "corpus_curriculum_interleave",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    b AS (SELECT doc_id, shard, n_tokens,
                 ntile(3) OVER (PARTITION BY shard
                                ORDER BY n_tokens, doc_id) AS bucket
          FROM d),
    r AS (SELECT doc_id, shard, n_tokens, bucket,
                 row_number() OVER (PARTITION BY shard, bucket
                                    ORDER BY n_tokens, doc_id) AS rib
          FROM b)
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(bucket AS INT) AS curriculum_bucket,
           CAST(rib AS BIGINT) AS round_in_shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY rib, bucket) AS BIGINT)
               AS shard_pos,
           n_tokens
    FROM r
    """,
    tags=("llm", "curation"),
)
def corpus_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum data scheduling with difficulty-stratified
    round-robin interleave — the data-ordering step of curriculum
    training (Bengio et al. 2009): documents are bucketed easy/medium/
    hard by token count (ntile terciles, doc_id tiebreak), then emitted
    round-robin across buckets so every training window sees the full
    difficulty mix while earlier rounds still skew shorter (position =
    (round, bucket) rank).  Output per doc: shard, bucket, round index,
    and the interleaved in-shard position a loader would seek to.

    Scale shape: the global order is deliberately factorized per SHARD
    (doc_id mod 8 here; shard count scales with the cluster) — a true
    global round-robin needs a global sort, while the per-shard form is
    embarrassingly parallel and is what a multi-host loader consumes
    anyway.  Every window is PARTITIONED BY shard (or shard, bucket):
    no single-partition window, one shuffle on shard, per-shard state
    bounded by shard size.  ntile's uneven-remainder semantics (earlier
    buckets get the extra row) are identical in both engines and the
    full (n_tokens, doc_id) ordering makes every rank deterministic."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w_shard = Window.partitionBy("shard").orderBy("n_tokens", "doc_id")
    b = d.withColumn("bucket", F.ntile(3).over(w_shard))
    w_bucket = Window.partitionBy("shard", "bucket").orderBy(
        "n_tokens", "doc_id"
    )
    r = b.withColumn("rib", F.row_number().over(w_bucket))
    w_pos = Window.partitionBy("shard").orderBy("rib", "bucket")
    return r.select(
        "doc_id",
        F.col("shard").cast("bigint").alias("shard"),
        F.col("bucket").cast("int").alias("curriculum_bucket"),
        F.col("rib").cast("bigint").alias("round_in_shard"),
        F.row_number().over(w_pos).cast("bigint").alias("shard_pos"),
        "n_tokens",
    )


# ---------------------------------------------------------------------------
# Greedy max-coverage coreset selection (BB17)
# ---------------------------------------------------------------------------


@register(
    "corpus_greedy_coverage_pick",
    oracle="""
    WITH sp AS (
      SELECT doc_id, string_split(text, ' ') AS s FROM documents),
    tok AS (
      SELECT DISTINCT doc_id,
             s[i] || ' ' || s[i + 1] || ' ' || s[i + 2] AS w
      FROM sp, unnest(generate_series(1, len(s) - 2)) AS u(i)
      WHERE len(s) >= 3),
    tot AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS u FROM tok),
    c1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS g FROM tok GROUP BY 1),
    w1 AS (SELECT doc_id, g FROM c1 ORDER BY g DESC, doc_id LIMIT 1),
    cov1 AS (SELECT DISTINCT t.w FROM tok t JOIN w1 ON t.doc_id = w1.doc_id),
    r2 AS (SELECT t.doc_id, t.w FROM tok t
           WHERE t.doc_id NOT IN (SELECT doc_id FROM w1)
             AND NOT EXISTS (SELECT 1 FROM cov1 WHERE cov1.w = t.w)),
    c2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS g FROM r2 GROUP BY 1),
    w2 AS (SELECT doc_id, g FROM c2 ORDER BY g DESC, doc_id LIMIT 1),
    cov2 AS (SELECT w FROM cov1 UNION
             SELECT DISTINCT t.w FROM tok t JOIN w2 ON t.doc_id = w2.doc_id),
    r3 AS (SELECT t.doc_id, t.w FROM tok t
           WHERE t.doc_id NOT IN (SELECT doc_id FROM w1
                                  UNION SELECT doc_id FROM w2)
             AND NOT EXISTS (SELECT 1 FROM cov2 WHERE cov2.w = t.w)),
    c3 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS g FROM r3 GROUP BY 1),
    w3 AS (SELECT doc_id, g FROM c3 ORDER BY g DESC, doc_id LIMIT 1),
    picks AS (
      SELECT 1 AS round, w1.doc_id, w1.g AS marginal_gain,
             w1.g AS cum_coverage FROM w1
      UNION ALL
      SELECT 2, w2.doc_id, w2.g, w1.g + w2.g FROM w2, w1
      UNION ALL
      SELECT 3, w3.doc_id, w3.g, w1.g + w2.g + w3.g FROM w3, w2, w1)
    SELECT CAST(round AS INT) AS round, doc_id, marginal_gain, cum_coverage,
           ((2 * cum_coverage * 1000000 + u) // (2 * u)) / 1000000.0
               AS coverage_frac
    FROM picks, tot
    """,
    tags=("llm", "curation"),
)
def corpus_greedy_coverage_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage coreset selection — the classic (1−1/e)
    submodular-greedy step (Nemhauser/Wolsey/Fisher 1978) that diversity-
    oriented data selection runs: pick the document covering the most
    vocabulary, remove its tokens from the universe, repeat.  Three
    unrolled rounds (the kmeans/Sinkhorn fixed-unroll discipline), each
    reporting the winner, its marginal gain, and cumulative coverage of
    the corpus vocabulary — the curve a curation pipeline reads to size
    its coreset.

    Scale shape: the (doc, distinct-token) relation is built once
    (per-doc array_distinct before the explode, so no corpus-wide
    distinct shuffle); each round is a map-combinable count + a 1-row
    global argmax (struct max — no sort), and the covered-token set is
    the tokens of ≤r picked docs, BROADCAST into the anti-join — so the
    per-round cost is one pass over the shrinking postings relation and
    the driver never sees data.  Tiebreaks on doc_id make the greedy
    path deterministic; all gains/coverages are integers, the final
    fraction is a round_int_ratio."""
    d = load(spark, sf_dir, "documents")
    # word TRIGRAMS as the coverage universe: the fixture's unigram
    # vocabulary is 31 words and one doc covers it all, so word-level
    # greedy saturates in one round; trigrams give a ~16k universe with
    # genuine multi-round competition.  sequence() is guarded by the
    # size filter — Spark's sequence(1, 0) is DESCENDING, not empty.
    tok = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("s"))
        .filter(F.size("s") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(s) - 2),"
                        " i -> concat_ws(' ', slice(s, i, 3)))"
                    )
                )
            ).alias("w"),
        )
    )
    tot = tok.agg(F.countDistinct("w").cast("long").alias("u"))

    def pick(rel: DataFrame) -> DataFrame:
        cnt = rel.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("g")
        )
        return cnt.agg(
            F.max(
                F.struct(
                    F.col("g"),
                    (-F.col("doc_id")).alias("nd"),
                    F.col("doc_id").alias("doc_id"),
                )
            ).alias("b")
        ).select(
            F.col("b.doc_id").alias("doc_id"), F.col("b.g").alias("g")
        )

    w1 = pick(tok)
    cov1 = tok.join(F.broadcast(w1), "doc_id").select("w").distinct()
    r2 = tok.join(
        F.broadcast(w1.select("doc_id")), "doc_id", "left_anti"
    ).join(F.broadcast(cov1), "w", "left_anti")
    w2 = pick(r2)
    cov2 = cov1.union(
        tok.join(F.broadcast(w2), "doc_id").select("w")
    ).distinct()
    picked12 = w1.select("doc_id").union(w2.select("doc_id"))
    r3 = tok.join(F.broadcast(picked12), "doc_id", "left_anti").join(
        F.broadcast(cov2), "w", "left_anti"
    )
    w3 = pick(r3)
    g1 = w1.select(F.col("g").alias("g1"))
    g2 = w2.select(F.col("g").alias("g2"))
    picks = (
        w1.select(
            F.lit(1).alias("round"),
            "doc_id",
            F.col("g").alias("marginal_gain"),
            F.col("g").alias("cum_coverage"),
        )
        .union(
            w2.crossJoin(F.broadcast(g1)).select(
                F.lit(2).alias("round"),
                "doc_id",
                F.col("g").alias("marginal_gain"),
                (F.col("g1") + F.col("g")).alias("cum_coverage"),
            )
        )
        .union(
            w3.crossJoin(F.broadcast(g1))
            .crossJoin(F.broadcast(g2))
            .select(
                F.lit(3).alias("round"),
                "doc_id",
                F.col("g").alias("marginal_gain"),
                (F.col("g1") + F.col("g2") + F.col("g")).alias(
                    "cum_coverage"
                ),
            )
        )
    )
    return picks.crossJoin(F.broadcast(tot)).select(
        "round",
        "doc_id",
        "marginal_gain",
        "cum_coverage",
        round_int_ratio(F.col("cum_coverage"), F.col("u"), 6).alias(
            "coverage_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Best-of-N reward scaling curve (BB27)
# ---------------------------------------------------------------------------


@register(
    "events_best_of_n_curve",
    oracle="""
    WITH a AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(round(value * 100) AS BIGINT) AS vc,
             row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS nc
      FROM events WHERE event_type NOT IN ('view', 'click')),
    ns AS (SELECT unnest([1, 2, 4, 8]) AS n),
    best AS (
      SELECT ns.n, a.user_id, a.day, max(a.vc) AS best_vc
      FROM a JOIN ns ON a.rn <= ns.n AND a.nc >= ns.n
      GROUP BY ns.n, a.user_id, a.day)
    SELECT CAST(n AS INT) AS n,
           CAST(count(*) AS BIGINT) AS n_prompts,
           ((2 * CAST(sum(best_vc) AS BIGINT) * 1000000 + count(*) * 100)
            // (2 * count(*) * 100)) / 1000000.0 AS mean_best_reward
    FROM best GROUP BY n
    """,
    tags=("llm", "curation"),
)
def events_best_of_n_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-N reward scaling curve — the inference-scaling readout
    every RLHF/verifier paper plots (how much does reward improve as N
    samples are drawn per prompt?): per (user, day) prompt context
    (BB10's pairing domain), candidates in deterministic arrival order
    (event_id), and for N ∈ {1,2,4,8} the mean over prompts of the best
    reward among the FIRST N candidates, restricted to prompts with ≥ N
    candidates so each point averages a fair population.  Read with
    BB10: the N=1 vs N=8 gap is the headroom preference optimization
    can extract.

    Scale shape: one fact scan; rank/count windows partition on the
    natural (user, day) prompt key; the ×4 N-explosion joins a 4-row
    broadcast; best-of and the curve are two map-combinable aggregates.
    Rewards are cent-exact BIGINTs end-to-end and each curve point is
    one integer-ratio rounding — no float accumulation."""
    a = (
        load(spark, sf_dir, "events")
        .filter(~F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("vc"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id", "day")
    a = a.select(
        "user_id",
        "day",
        "vc",
        F.row_number().over(w.orderBy("event_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("nc"),
    )
    ns = values_relation(a.sparkSession, [(1,), (2,), (4,), (8,)], "n bigint")
    best = (
        a.join(
            F.broadcast(ns),
            (F.col("rn") <= F.col("n")) & (F.col("nc") >= F.col("n")),
        )
        .groupBy("n", "user_id", "day")
        .agg(F.max("vc").alias("best_vc"))
    )
    return best.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("n_prompts"),
        round_int_ratio(
            F.sum("best_vc"), F.count(F.lit(1)) * 100, 6
        ).alias("mean_best_reward"),
    ).select(
        F.col("n").cast("int").alias("n"), "n_prompts", "mean_best_reward"
    )
