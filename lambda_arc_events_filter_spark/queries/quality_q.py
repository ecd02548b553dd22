"""Corpus-quality and accounting queries rounding out the curation family:
vocabulary building, unigram-LM quality scoring (perplexity proxy), text
normalization, sequence-length accounting, and batch sessionization.

Each is driver-mandate surface (SURVEY.md §2 addendum: "operations a
large-scale training-data pipeline would need") with a full DuckDB oracle.
Float-valued outputs are rounded and integer aggregates BIGINT-cast on
both sides (round-1 lesson: DuckDB HUGEINT / result-type drift breaks the
driver's value-hash even when values are equal).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from lambda_arc_events_filter_spark.catalog import load, values_relation
from lambda_arc_events_filter_spark.functions.exact import round_int_ratio
from lambda_arc_events_filter_spark.functions.rank import global_order_neighbors
from lambda_arc_events_filter_spark.queries.text_index import (
    tf_index,
    vocab_stats,
)
from lambda_arc_events_filter_spark.registry import register

# ---------------------------------------------------------------------------
# Vocabulary build (tokenizer/BPE precursor)
# ---------------------------------------------------------------------------


@register(
    "vocab_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    )
    SELECT term,
           CAST(count(*) AS BIGINT)              AS tf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM tok
    GROUP BY term
    ORDER BY tf DESC, term
    LIMIT 100
    """,
    tags=("llm", "curation"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 terms by total frequency, with
    document frequency — the counting pass every tokenizer build (BPE,
    unigram-LM) and stop-word list starts from.

    Shape at 100 TB: one partial-aggregated groupBy(term) over the session
    tf index (queries/text_index.py — (doc, term) rows, so tf = Σ tf and
    df = row count, no re-tokenize and no two-level distinct), then a
    global top-k which Spark executes as TakeOrderedAndProject — each
    partition keeps only its local top-100, so the ordered collect moves
    O(partitions x 100) rows, never the vocabulary.  Ties broken by term
    so the LIMIT cut is deterministic cross-engine.
    """
    return (
        vocab_stats(spark, sf_dir)
        .select("term", F.col("cf").alias("tf"), "df")
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality score (perplexity proxy)
# ---------------------------------------------------------------------------


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    vocab AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT)               AS n_tokens,
           round(avg(ln(v.c * 1.0 / tot.n)), 6)   AS avg_logprob,
           avg(ln(v.c * 1.0 / tot.n)) >= -7.0     AS keep
    FROM tok t JOIN vocab v USING (term) CROSS JOIN tot
    GROUP BY t.doc_id
    """,
    tags=("llm", "curation"),
    # The probed index is a resident session artifact
    # (cache.session_artifact), so the prepared plan is cached; every
    # probe stage still re-executes per call — only the client-side
    # plan rebuild is skipped (prepared-statement protocol).
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the classic cheap perplexity proxy (CCNet-style) used to
    gate low-quality documents before an expensive model-based filter.

    Both passes run over the session tf index (queries/text_index.py) —
    the corpus is tokenized once per session, and the LM join lands on
    per-document VOCABULARIES ((doc, term) rows), not token streams:
    (1) groupBy(term) over tf builds the LM (map-side combinable);
    (2) tf rows re-join the LM on term and tf-weight the per-doc average
    (Σ tf·lp / Σ tf — exact same token multiset the oracle averages; the
    weighted sum groups identical doubles, which both engines' avg order
    already doesn't pin).  The LM itself is the materialized ``lp``
    column of the session lexicon — vocabulary-sized (Zipf), so the join
    broadcasts at any corpus scale and the index side never reshuffles.
    Threshold gate (keep) evaluates on the unrounded average in both
    engines.
    """
    tf = tf_index(spark, sf_dir)
    vocab = vocab_stats(spark, sf_dir).select("term", "lp")
    wsum = F.sum(F.col("tf") * F.col("lp"))
    ntok = F.sum("tf")
    return (
        tf.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(
            ntok.alias("n_tokens"),
            F.round(wsum / ntok, 6).alias("avg_logprob"),
            (wsum / ntok >= -7.0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Text normalization (pre-dedup canonical form)
# ---------------------------------------------------------------------------


@register(
    "text_normalize_clean",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
                regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                ' +', ' ', 'g'))                                  AS clean_text,
           CAST(length(trim(regexp_replace(
                regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                ' +', ' ', 'g'))) AS BIGINT)                      AS n_chars_clean,
           trim(regexp_replace(
                regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                ' +', ' ', 'g')) <> text                          AS changed
    FROM documents
    """,
    tags=("llm", "curation"),
)
def text_normalize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization ahead of exact/near dedup: lowercase,
    strip non-alphanumerics, collapse whitespace runs, trim.  Exact-dedup
    recall depends on this pass (casing/punctuation variants hash apart
    without it), which is why curation pipelines normalize before
    fingerprinting.

    Pure codegen'd string expressions in one map stage — no shuffle, no
    Python; at 100 TB this fuses into the scan.  Regexes stay in the
    ASCII subset where Java (Spark) and RE2 (DuckDB) semantics agree.
    """
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        cleaned.alias("clean_text"),
        F.length(cleaned).cast("bigint").alias("n_chars_clean"),
        (cleaned != F.col("text")).alias("changed"),
    )


# ---------------------------------------------------------------------------
# Sequence-length accounting
# ---------------------------------------------------------------------------


@register(
    "doc_length_histogram",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT CAST(n_tokens // 16 AS BIGINT)        AS bucket,
           CAST((n_tokens // 16) * 16 AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT)              AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)         AS total_tokens
    FROM t
    GROUP BY 1, 2
    """,
    tags=("llm", "curation"),
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram (16-token-wide buckets) with per-bucket
    token mass — the accounting view behind packing-efficiency and
    truncation-loss decisions when fixing a training context length.

    Integer bucket arithmetic on purpose: a log2-based bucket would hinge
    on float ``ln(n)/ln(2)`` landing on the same side of an integer in
    both engines — a cross-engine flakiness class this repo avoids by
    construction.  One map + one tiny groupBy; the aggregate output is
    O(max_len/16) rows regardless of corpus size.
    """
    n = F.size(F.split("text", " ")).cast("bigint")
    return (
        load(spark, sf_dir, "documents")
        .select((n / 16).cast("bigint").alias("bucket"), n.alias("n_tokens"))
        .groupBy("bucket")
        .agg(
            (F.col("bucket") * 16).alias("bucket_lo"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select("bucket", "bucket_lo", "n_docs", "total_tokens")
    )


# ---------------------------------------------------------------------------
# Batch sessionization (gap-based)
# ---------------------------------------------------------------------------


@register(
    "events_sessionize_gaps",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts, value,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM g
    )
    SELECT user_id, session_seq,
           min(ts)                      AS session_start,
           max(ts)                      AS session_end,
           CAST(count(*) AS BIGINT)     AS n_events,
           round(sum(value), 6)         AS total_value
    FROM s
    GROUP BY user_id, session_seq
    """,
    tags=("events",),
)
def events_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream on ≥30-minute
    gaps (lag + running sum of session-start flags), then aggregate per
    session — the offline twin of ``stream_session_windows``, with the
    same ≥-gap boundary as Spark's exclusive ``session_window`` end.

    One shuffle on user_id serves both window passes AND the final
    groupBy (hash(user_id) clustering satisfies all three), so the whole
    query is scan → exchange → sort-within-partition → aggregate.  Per-key
    state is a sort of that user's events — bounded, spill-safe, and the
    standard plan shape at 100 TB.  Same-timestamp ties are safe: tied
    rows produce gap 0, landing in the same session under any tie order.
    """
    e = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts")
    # unix_micros, not cast("long"): casting a timestamp to long truncates
    # to epoch SECONDS, which would misclassify sub-second-accurate gaps
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us >= 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        # two select steps: a window expression cannot nest inside another
        # window's aggregate, so materialize the flag column first (same
        # exchange serves both passes — no extra shuffle)
        e.withColumn("_new_sess", new_sess)
        .withColumn(
            "session_seq", F.sum("_new_sess").over(run).cast("bigint")
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Iterative clustering (Lloyd k-means) over embeddings
# ---------------------------------------------------------------------------


@register(
    "embedding_kmeans_assign",
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
    )
    SELECT vec_id, cluster, round(d, 6) AS dist FROM (
      SELECT vec_id, cluster, d,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY round(d, 6), cluster) rn
      FROM d2) WHERE rn = 1
    """,
    tags=("llm", "vector"),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic Lloyd rounds over the embedding corpus (k=8,
    seeds = vec_id 0..7), emitting each vector's final cluster and
    squared-L2 distance — the clustering pass behind IVF cell
    construction, corpus diversity accounting, and semantic sharding.

    See ``operators.similarity.kmeans_lloyd`` for the iteration shape
    (broadcast centroids + in-row codegen distance; corpus never
    shuffles).  The oracle unrolls the same two rounds as CTEs with the
    identical argmin tie-break (order by round(dist, 6), then cluster —
    rounding BEFORE the argmin bounds the cross-engine float-tie surface,
    ADVICE r2) and the same round-to-6 centroid refresh, so both engines
    run the exact recurrence.

    Accepted ~1.9× vs DuckDB at sf0.1, decomposed (r12 solo probe,
    min-of-6/8 warm): per-call cost splits as DataFrame-from-cached-plan
    ~0.002 s + physical planning ~0.05 s + fresh execution 0.71-1.0 s.
    A same-Dataset re-collect measures only 0.20 s — but that path
    silently REUSES the first execution's shuffle map outputs and
    broadcast relations (same-DAG job reuse), i.e. the refresh
    aggregates never re-run: exactly the round-8 result-caching leak
    class, so the prepared-plan protocol deliberately re-plans per call
    and the honest per-call number is the 0.71-1.0 s fresh execution.
    That cost is the ~6-stage dispatch + codegen floor of the unrolled
    2-round recurrence over a 2,000-row fixture, not data work — it
    amortizes with corpus size while DuckDB's 0.24 s is the same
    recurrence fused in-process.  Measured-and-rejected (r12): a
    flat per-component centroid refresh (64 ``avg(embedding[i])``
    aggregates, no posexplode, one shuffle instead of two) — identical
    results, 0.95 vs 1.02 s per honest ofRows call, inside probe noise,
    while costing a 64-expression analysis tree on every cache-miss
    build (1.94 vs 0.94 s un-cached); the explode-based refresh stays.
    """
    from lambda_arc_events_filter_spark.operators.similarity import kmeans_lloyd

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # materialize=False at fixture scale: the corpus parquet is ~2 MB, so
    # a per-round re-scan is cheaper than trading away the prepared-plan
    # cache (localCheckpoint forbids it, register() docstring).  A real
    # cluster run with many iterations sets materialize=True — measured
    # A/B at sf0.1 shows the two within noise here (±0.05 s).
    return kmeans_lloyd(
        emb, "vec_id", "embedding", k=8, iters=2, materialize=False
    )


# ---------------------------------------------------------------------------
# Multimodal frame manifest (1-to-N Arrow boundary)
# ---------------------------------------------------------------------------


@register(
    "multimodal_frame_manifest",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
    ),
    f AS (
      SELECT doc_id, text, n,
             unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT))) AS frame_idx
      FROM d
    )
    SELECT doc_id,
           'text/plain'                         AS media_type,
           CAST(frame_idx AS BIGINT)            AS frame_idx,
           CAST(frame_idx * 256 AS BIGINT)      AS frame_offset,
           CAST(least(256, n - frame_idx * 256) AS BIGINT) AS frame_len,
           lower(substr(hex(encode(text)),
                        CAST(frame_idx * 512 + 1 AS BIGINT), 8)) AS head_hex
    FROM f
    """,
    tags=("llm", "multimodal"),
)
def multimodal_frame_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame/window manifest over binary payloads (B68 family): each
    payload explodes into 256-byte frame rows with offset, length, and
    head bytes — the 1-to-N ``mapInPandas`` shape of a video frame
    sampler or audio chunker (``operators.multimodal.frame_manifest``).

    The oracle recomputes the manifest from the text the payload encodes,
    entirely in BYTE space: frame math on ``octet_length(encode(text))``
    and head bytes sliced out of ``hex(encode(text))`` (2 hex chars per
    byte, so byte offset k → hex offset 2k).  No character/byte ASCII
    assumption — a fixture regeneration with non-ASCII text still
    compares the same frames on both sides.
    """
    from lambda_arc_events_filter_spark.operators.multimodal import (
        attach_binary_payload,
        frame_manifest,
    )

    docs = load(spark, sf_dir, "documents")
    return frame_manifest(attach_binary_payload(docs))


# ---------------------------------------------------------------------------
# Markov transition analysis (power iteration over event-type graph)
# ---------------------------------------------------------------------------


@register(
    "events_markov_stationary",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    tc AS (SELECT cur, nxt, count(*) AS c FROM seq
           WHERE nxt IS NOT NULL GROUP BY 1, 2),
    tp AS (SELECT cur, nxt, c * 1.0 / sum(c) OVER (PARTITION BY cur) AS p
           FROM tc),
    v0 AS (SELECT DISTINCT cur AS t, 0.2 AS prob FROM tc),
    v1 AS (SELECT tp.nxt AS t, round(sum(v0.prob * tp.p), 6) AS prob
           FROM v0 JOIN tp ON tp.cur = v0.t GROUP BY 1),
    v2 AS (SELECT tp.nxt AS t, round(sum(v1.prob * tp.p), 6) AS prob
           FROM v1 JOIN tp ON tp.cur = v1.t GROUP BY 1),
    v3 AS (SELECT tp.nxt AS t, round(sum(v2.prob * tp.p), 6) AS prob
           FROM v2 JOIN tp ON tp.cur = v2.t GROUP BY 1)
    SELECT t AS event_type, prob FROM v3
    """,
    tags=("events", "iterative"),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain analysis of user behavior: per-user event-type
    transition counts → row-normalized transition matrix → three power
    -iteration steps from the uniform vector, approaching the stationary
    distribution (the PageRank mechanic on the behavior graph).

    The distributed work is the TRANSITION BUILD — one window pass per
    user over the full event stream (lag/lead with an event_id
    tiebreaker, same exchange-reuse shape as sessionization).  The
    iteration itself runs on the aggregated |types|² matrix — a few rows
    broadcast each round, exactly like kmeans' centroids: corpus-scale
    scan once, iterate on the summary.  Vector entries round to 6 between
    rounds so both engines replay the identical recurrence.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tc = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    tp = tc.withColumn(
        "p", F.col("c") * 1.0 / F.sum("c").over(Window.partitionBy("cur"))
    )
    v = tp.select("cur").distinct().select(
        F.col("cur").alias("t"), F.lit(0.2).alias("prob")
    )
    for _ in range(3):
        v = (
            v.join(tp, v.t == tp.cur)
            .groupBy("nxt")
            .agg(F.round(F.sum(F.col("prob") * F.col("p")), 6).alias("prob"))
            .select(F.col("nxt").alias("t"), "prob")
        )
    return v.select(F.col("t").alias("event_type"), "prob")


# ---------------------------------------------------------------------------
# Round 3: product analytics over the event stream — funnel + retention
# ---------------------------------------------------------------------------


@register(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS t_purch
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
    SELECT step, stage, n_users FROM (
      SELECT 1 AS step, 'view' AS stage, count(*) AS n_users FROM v
      UNION ALL
      SELECT 2, 'click', count(*) FROM c
      UNION ALL
      SELECT 3, 'purchase', count(*) FROM p)
    """,
    tags=("events", "analytics"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    at step k only if the step-k event happened strictly AFTER their
    step-(k-1) entry time — the sequence-sensitive funnel (a click before
    the first view doesn't count), not a bag-of-events intersection.

    Plan shape: each stage is one filtered aggregate joined back on
    user_id; every stage's output is one row per qualifying user, so the
    joins shrink monotonically down the funnel.  At 100 TB all three
    stage relations hash-cluster on user_id — one exchange each, reused
    by the next stage's join — and the final counts are scalar
    aggregates.  The event scan is shared via one cached filter pass per
    stage type (predicate pushed to the scan).
    """
    e = load(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purch"))
    )
    counts = [
        v.agg(
            F.lit(1).alias("step"),
            F.lit("view").alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        ),
        c.agg(
            F.lit(2).alias("step"),
            F.lit("click").alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        ),
        p.agg(
            F.lit(3).alias("step"),
            F.lit("purchase").alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        ),
    ]
    out = counts[0]
    for df in counts[1:]:
        out = out.unionByName(df)
    return out


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firstday AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort
      FROM events GROUP BY 1),
    act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
      FROM events),
    j AS (
      SELECT f.cohort, CAST(date_diff('day', f.cohort, a.d) AS INT) AS day_offset
      FROM firstday f JOIN act a USING (user_id))
    SELECT cohort, day_offset, count(*) AS n_users
    FROM j WHERE day_offset <= 7 GROUP BY 1, 2
    """,
    tags=("events", "analytics"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active day, and
    for each cohort the count of users active again k days later
    (k ≤ 7) — THE product-analytics rollup behind every retention curve.

    Two aggregates over one events scan (first-day per user, distinct
    active days per user) joined on user_id, then a tiny (cohort, offset)
    count.  Both aggregates and the join share hash(user_id) clustering,
    so the corpus crosses the wire once; the output is |cohorts|×8 rows
    regardless of input volume — the 100 TB shape (shuffle shrinks to
    per-user rows immediately, never widens).
    """
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    firstday = e.groupBy("user_id").agg(F.min(day).alias("cohort"))
    act = e.select("user_id", day.alias("d")).distinct()
    return (
        firstday.join(act, "user_id")
        .select(
            "cohort",
            F.datediff(F.col("d"), F.col("cohort")).cast("int").alias(
                "day_offset"
            ),
        )
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "events_gaps_and_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events),
    g AS (
      SELECT user_id, day,
             CAST(date_diff('day', TIMESTAMP '2024-01-01', day) AS BIGINT)
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM d)
    SELECT user_id,
           min(day)                 AS streak_start,
           max(day)                 AS streak_end,
           CAST(count(*) AS BIGINT) AS streak_days
    FROM g
    GROUP BY user_id, grp
    HAVING count(*) >= 3
    """,
    tags=("events", "analytics"),
)
def events_gaps_and_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per user
    (streaks ≥ 3) — the sequence-break pattern behind streak badges,
    uptime spans, and contiguous-coverage audits.  The classic trick:
    day-ordinal minus row_number is constant within a consecutive run,
    so one window pass turns island detection into a plain groupBy.

    Distinct-days, the window, and the final rollup all cluster on
    user_id — one exchange serves all three at any scale.  Unlike
    ``events_sessionize_gaps`` (time-gap splits inside a day) this finds
    calendar-consecutive structure across days.
    """
    e = load(spark, sf_dir, "events")
    d = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn(
        "grp",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("timestamp")).cast(
            "bigint"
        )
        - F.row_number().over(w),
    )
    return (
        g.groupBy("user_id", "grp")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        )
        .filter(F.col("streak_days") >= 3)
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# Behavioral path mining: top event-type trigrams
# ---------------------------------------------------------------------------


@register(
    "events_path_trigrams",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e3
      FROM events
    ),
    t AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS path
      FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    ),
    c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY path)
    SELECT path, n FROM c ORDER BY n DESC, path LIMIT 20
    """,
    tags=("events", "window", "topk"),
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the 20 most frequent 3-step event-type
    sequences across all users (lead×2 over each user's time-ordered
    stream, then count) — the n-gram-over-sessions primitive behind
    funnel discovery and next-action models.

    One hash(user_id) exchange feeds both lead windows (same sort), the
    trigram concat is codegen, and the count + top-20 collapses to a
    partial agg + TakeOrderedAndProject — at 100 TB the only wide data
    movement is the |distinct paths| aggregate, which is bounded by the
    event-type alphabet cubed, not the corpus.  ``event_id`` breaks
    same-timestamp ties so both engines see identical sequences; the
    final (count desc, path) order pins the cut line.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        s.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Growth accounting: new / retained / resurrected / churned per week
# ---------------------------------------------------------------------------


@register(
    "events_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS wk
      FROM events
    ),
    seq AS (
      SELECT user_id, wk,
             min(wk) OVER (PARTITION BY user_id)              AS first_wk,
             lag(wk)  OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM uw
    ),
    mx AS (SELECT max(wk) AS max_wk FROM uw),
    act AS (
      SELECT wk,
             CASE WHEN wk = first_wk        THEN 'new'
                  WHEN prev_wk = wk - 1     THEN 'retained'
                  ELSE 'resurrected' END AS status
      FROM seq
    ),
    churn AS (
      SELECT seq.wk + 1 AS wk, count(*) AS n_churned
      FROM seq, mx
      WHERE (seq.next_wk IS NULL OR seq.next_wk > seq.wk + 1)
        AND seq.wk + 1 <= mx.max_wk
      GROUP BY 1
    ),
    acts AS (
      SELECT wk,
             CAST(count(*) FILTER (WHERE status = 'new')         AS BIGINT) AS n_new,
             CAST(count(*) FILTER (WHERE status = 'retained')    AS BIGINT) AS n_retained,
             CAST(count(*) FILTER (WHERE status = 'resurrected') AS BIGINT) AS n_resurrected
      FROM act GROUP BY wk
    )
    SELECT coalesce(acts.wk, churn.wk) AS wk,
           coalesce(n_new, 0)          AS n_new,
           coalesce(n_retained, 0)     AS n_retained,
           coalesce(n_resurrected, 0)  AS n_resurrected,
           CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
    FROM acts FULL OUTER JOIN churn ON acts.wk = churn.wk
    """,
    tags=("events", "analytics"),
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the startup-metrics standard): every active
    (user, week) classified as NEW (first-ever week), RETAINED (also
    active the prior week) or RESURRECTED (returning after a gap), plus
    CHURNED counts (active last week, absent this week) — the four-way
    ledger whose identity actives(w) = new + retained + resurrected and
    actives(w) − churned(w+1) = retained(w+1) audits itself.

    Weeks are integer epoch-weeks (floor(sec/604800)) so both engines
    bucket identically with zero calendar semantics.  One exchange on
    user_id serves first/lag/lead in a single window pass over the
    DISTINCT (user, week) relation — which is the corpus compressed to
    at most |users|·|weeks| rows; the weekly rollup is k rows.  The
    churn ledger is derived from ``lead`` gaps, not an anti-join — no
    second corpus pass.
    """
    e = load(spark, sf_dir, "events")
    wk = F.floor(F.floor(F.unix_timestamp("ts")) / 604800).cast("long")
    uw = e.select("user_id", wk.alias("wk")).distinct()
    w_user = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.min("wk").over(Window.partitionBy("user_id")).alias("first_wk"),
        F.lag("wk").over(w_user).alias("prev_wk"),
        F.lead("wk").over(w_user).alias("next_wk"),
    )
    status = (
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
    )
    acts = seq.groupBy("wk").agg(
        F.count_if(status == "new").alias("n_new"),
        F.count_if(status == "retained").alias("n_retained"),
        F.count_if(status == "resurrected").alias("n_resurrected"),
    )
    max_wk = uw.agg(F.max("wk").alias("max_wk"))
    churn = (
        seq.join(F.broadcast(max_wk))
        .filter(
            (F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1))
            & (F.col("wk") + 1 <= F.col("max_wk"))
        )
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        acts.join(churn, "wk", "full")
        .select(
            "wk",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).cast("long").alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0))
            .cast("long")
            .alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence-pattern matching over sessions (CEP-lite via regex)
# ---------------------------------------------------------------------------


@register(
    "events_sequence_pattern",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    ),
    agg AS (
      SELECT user_id, session_seq,
             min(ts) AS session_start,
             CAST(count(*) AS BIGINT) AS n_events,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, session_start, n_events,
           CAST(CASE WHEN regexp_matches(path, 'view.*click.*purchase')
                THEN 1 ELSE 0 END AS INTEGER) AS funnel_hit,
           CAST(CASE WHEN regexp_matches(path, 'error>error')
                THEN 1 ELSE 0 END AS INTEGER) AS double_error
    FROM agg
    """,
    tags=("events", "sequence"),
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-lite sequence matching: each user session's ordered event path
    is rendered as a '>'-joined string and matched against regex
    patterns — the ordered-subsequence funnel (view…click…purchase, any
    gaps) and the immediate-repetition alarm (error>error).  Regex over
    a serialized path is the pragmatic complement to the join-based
    funnel (``events_funnel_conversion``) and the stateful CEP operator
    (B55): arbitrary patterns, zero state machinery.

    One hash(user_id) exchange carries sessionization AND the per-session
    path aggregate (sort_array inside the aggregate pins event order
    deterministically — ties by event_id); pattern evaluation is
    row-level codegen on the session relation.  Path length is bounded
    by session length — the same bound any per-session aggregate
    carries; a pathological never-idle key would need the session cap
    lever before this query, not because of it.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(
        F.unix_micros(F.col("ts"))
    ).over(Window.partitionBy("user_id").orderBy("ts"))
    new_sess = F.when(
        gap_us.isNull() | (gap_us >= 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    s = e.select("user_id", "ts", "event_id", "event_type").withColumn(
        "session_seq",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    path = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda x: x["event_type"],
        ),
        ">",
    )
    agg = s.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        path.alias("path"),
    )
    return agg.select(
        "user_id",
        "session_start",
        "n_events",
        F.when(
            F.col("path").rlike("view.*click.*purchase"), 1
        ).otherwise(0).cast("int").alias("funnel_hit"),
        F.when(F.col("path").rlike("error>error"), 1)
        .otherwise(0)
        .cast("int")
        .alias("double_error"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves (cumulative revenue by cohort age)
# ---------------------------------------------------------------------------


@register(
    "events_cohort_ltv",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
      FROM events GROUP BY 1
    ),
    cohort_n AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
                 FROM first_seen GROUP BY 1),
    rev AS (
      SELECT f.cohort_day,
             date_diff('day', f.cohort_day, date_trunc('day', e.ts))
               AS age_days,
             e.value
      FROM events e JOIN first_seen f USING (user_id)
      WHERE e.event_type = 'purchase'
    ),
    daily AS (
      SELECT cohort_day, CAST(age_days AS BIGINT) AS age_days,
             round(sum(value), 6) AS rev_day
      FROM rev GROUP BY 1, 2
    )
    SELECT d.cohort_day, d.age_days, n.cohort_size,
           round(sum(d.rev_day) OVER (PARTITION BY d.cohort_day
                                      ORDER BY d.age_days), 2)
             AS cum_revenue,
           round(sum(d.rev_day) OVER (PARTITION BY d.cohort_day
                                      ORDER BY d.age_days)
                 / n.cohort_size, 6) AS cum_ltv_per_user
    FROM daily d JOIN cohort_n n USING (cohort_day)
    """,
    tags=("events", "window", "agg"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-seen day,
    purchase revenue accumulated along cohort age — the cum-LTV surface
    (cohort × age) growth teams read payback periods off, and the
    companion to ``events_retention_cohorts``'s activity view.

    Three map-side-combinable aggregates (first-seen, cohort size, daily
    revenue) then ONE running window over the tiny (cohort × age) grid —
    the corpus-scale work never touches a window.  Daily revenue rounds
    to 6 BEFORE the cumulative sum so both engines accumulate identical
    operands in identical frame order.
    """
    e = load(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    cohort_n = first_seen.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day"))
            .cast("long")
            .alias("age_days"),
        )
        .agg(F.round(F.sum("value"), 6).alias("rev_day"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("rev_day").over(w)
    return (
        daily.join(F.broadcast(cohort_n), "cohort_day")
        .select(
            "cohort_day",
            "age_days",
            "cohort_size",
            F.round(cum, 2).alias("cum_revenue"),
            F.round(cum / F.col("cohort_size"), 6).alias("cum_ltv_per_user"),
        )
    )


# ---------------------------------------------------------------------------
# Funnel attribution (first-touch / last-touch)
# ---------------------------------------------------------------------------


@register(
    "events_attribution_touch",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type, value,
             first_value(event_type) OVER w          AS first_touch,
             sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
               OVER w                                AS np_seen
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    attributed AS (
      SELECT user_id, ts, event_id, event_type, value, first_touch,
             coalesce(max(CASE WHEN event_type <> 'purchase'
                               THEN event_type END)
                        OVER (PARTITION BY user_id, np_seen
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 'none')
               AS last_touch
      FROM seq
    )
    SELECT first_touch, last_touch,
           CAST(count(*) AS BIGINT)  AS n_purchases,
           round(sum(value), 2)      AS attributed_revenue
    FROM attributed
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
    tags=("events", "window"),
)
def events_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style conversion attribution: each purchase credited to
    the user's FIRST-ever touch (channel that acquired them) and to the
    LAST non-purchase touch preceding it (channel that converted them),
    revenue rolled up per (first, last) pair.

    Last-touch without IGNORE NULLS (which DuckDB windows lack): a
    running count of non-purchase events buckets each row with the most
    recent non-purchase event (the counter increments ON it), so a
    max-over-(user, bucket) window recovers that event's type — the same
    carry-by-grouping trick ``events_resample_ffill`` uses.  Both window
    passes share the (user_id) exchange; purchases with no prior touch
    attribute to 'none'.
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    np_mark = F.when(F.col("event_type") != "purchase", 1).otherwise(0)
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.first("event_type").over(w).alias("first_touch"),
        F.sum(np_mark).over(w).alias("np_seen"),
    )
    w2 = (
        Window.partitionBy("user_id", "np_seen")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_touch = F.coalesce(
        F.max(
            F.when(F.col("event_type") != "purchase", F.col("event_type"))
        ).over(w2),
        F.lit("none"),
    )
    return (
        seq.withColumn("last_touch", last_touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy("first_touch", "last_touch")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Capped running balance (order-dependent state — the applyInPandas case)
# ---------------------------------------------------------------------------


@register(
    "events_capped_running_balance",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN value
                  WHEN event_type = 'error'    THEN -value
                  ELSE 0 END AS delta,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    bal(user_id, rn, b, floored) AS (
      SELECT user_id, rn, greatest(0, delta),
             CASE WHEN delta < 0 THEN 1 ELSE 0 END
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, greatest(0, bal.b + s.delta),
             bal.floored + CASE WHEN bal.b + s.delta < 0 THEN 1 ELSE 0 END
      FROM bal JOIN seq s ON s.user_id = bal.user_id
                         AND s.rn = bal.rn + 1
    ),
    last AS (SELECT user_id, max(rn) AS mr FROM bal GROUP BY 1)
    SELECT b.user_id,
           CAST(l.mr AS BIGINT)                                 AS n_events,
           round(max(CASE WHEN b.rn = l.mr THEN b.b END), 6)    AS final_balance,
           round(max(b.b), 6)                                   AS max_balance,
           CAST(max(CASE WHEN b.rn = l.mr THEN b.floored END) AS BIGINT)
             AS n_floored
    FROM bal b JOIN last l USING (user_id)
    GROUP BY b.user_id, l.mr
    """,
    tags=("events", "udf", "stateful"),
)
def events_capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-capped running balance per user (purchases credit, errors
    debit, balance clamps at zero): final balance, peak balance, and how
    often the floor hit — the inventory/credit-ledger recurrence whose
    clamp makes each step depend on the PREVIOUS step's clamped value.

    This is the honest ``applyInPandas`` case: the clamp breaks the
    prefix-sum algebra (max(0, ·) does not distribute over +), so no
    window/scan composition expresses it — the reference point for when
    the repo's "built-ins first" rule yields to a grouped-map UDF
    (SURVEY.md §2 B71; the streaming twin is
    ``stream_stateful_conversions``).  Arrow moves each user's rows into
    pandas once, the fold runs in numpy, and only the 5-column per-user
    summary returns.  Keys partition the work exactly like any
    groupBy — at 100 TB the shuffle is the same one sessionization pays,
    and state is O(1) per key.  The oracle replays the identical fold as
    a recursive CTE; both engines add the same doubles in the same
    order, so the floats agree bit-for-bit (rounding happens JVM-side
    with Spark's HALF_UP — matching DuckDB's round — not in numpy).
    """
    e = load(spark, sf_dir, "events")
    delta = (
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .when(F.col("event_type") == "error", -F.col("value"))
        .otherwise(F.lit(0.0))
    )
    src = e.select("user_id", "ts", "event_id", delta.alias("delta"))

    def fold_balance(pdf):  # closure: workers can't import the repo pkg
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"])
        b = 0.0
        mx = 0.0
        floored = 0
        for d in pdf["delta"].to_numpy():
            nb = b + float(d)
            if nb < 0.0:
                nb = 0.0
                floored += 1
            if nb > mx:
                mx = nb
            b = nb
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "final_balance": [b],
                "max_balance": [mx],
                "n_floored": [floored],
            }
        )

    out = src.groupBy("user_id").applyInPandas(
        fold_balance,
        schema=(
            "user_id long, n_events long, final_balance double,"
            " max_balance double, n_floored long"
        ),
    )
    return out.select(
        "user_id",
        "n_events",
        F.round("final_balance", 6).alias("final_balance"),
        F.round("max_balance", 6).alias("max_balance"),
        "n_floored",
    )


# ---------------------------------------------------------------------------
# Bounce rate per day (single-event sessions)
# ---------------------------------------------------------------------------


@register(
    "events_bounce_rate",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ),
    per_sess AS (
      SELECT user_id, session_id,
             min(date_trunc('day', ts)) AS day,
             count(*) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           ((2 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
             + count(*)) // (2 * count(*))) / 1000000.0 AS bounce_rate
    FROM per_sess
    GROUP BY day
    """,
    tags=("events", "window"),
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: sessions (30-minute inactivity gaps, the
    ``events_sessionize_gaps`` segmentation) that contain exactly one
    event, as a share of all sessions starting that day — the
    engagement-quality headline metric on every web dashboard.

    Same gaps-and-islands machinery as sessionization (lag + running
    sum on one user_id exchange), then two tiny aggregates; day
    attribution is the session's FIRST event day, so a midnight-
    spanning session counts once.  The rate divides integers.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1
    ).otherwise(0)
    sess = e.select(
        "user_id",
        "ts",
        F.sum(new_session)
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("session_id"),
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return per_sess.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(bounce).cast("long").alias("n_bounces"),
        round_int_ratio(F.sum(bounce), F.count(F.lit(1)), 6).alias(
            "bounce_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Hierarchy rollup (recursive-CTE replacement via pointer doubling)
# ---------------------------------------------------------------------------


@register(
    "hierarchy_doc_rollup",
    oracle="""
    WITH RECURSIVE h AS (
      SELECT doc_id,
             CASE WHEN doc_id < 10 THEN NULL ELSE doc_id // 2 END AS parent,
             n_chars
      FROM documents
    ),
    walk(doc_id, cur, root_id, depth, path_value) AS (
      SELECT doc_id, parent,
             CASE WHEN parent IS NULL THEN doc_id END,
             0, n_chars
      FROM h
      UNION ALL
      SELECT w.doc_id, h2.parent,
             CASE WHEN h2.parent IS NULL THEN w.cur END,
             w.depth + 1, w.path_value + h2.n_chars
      FROM walk w JOIN h h2 ON h2.doc_id = w.cur
      WHERE w.root_id IS NULL
    )
    SELECT doc_id,
           CAST(root_id AS BIGINT)    AS root_id,
           CAST(depth AS BIGINT)      AS depth,
           CAST(path_value AS BIGINT) AS path_value
    FROM walk WHERE root_id IS NOT NULL
    """,
    tags=("graph", "iterative"),
)
def hierarchy_doc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy closure without a recursive CTE: documents arranged in a
    synthetic forest (parent = doc_id/2; ids under 10 are roots), each
    node resolved to its root, depth, and ancestor-path character rollup
    — the BOM-explosion / org-chart query class, solved with the
    pointer-doubling operator (``operators/graph.py::ancestor_rollup``,
    O(log depth) self-join rounds — the reason a 1M-level chain is 20
    shuffles, not 1M).

    The oracle IS a recursive CTE (DuckDB has one; Spark does not) —
    exactly the feature-gap this operator closes, checked value-exact.
    """
    from lambda_arc_events_filter_spark.operators.graph import ancestor_rollup

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") < 10, F.lit(None).cast("long"))
        .otherwise(F.expr("doc_id div 2"))
        .alias("parent"),
        "n_chars",
    )
    return ancestor_rollup(d, "doc_id", "parent", "n_chars")


# ---------------------------------------------------------------------------
# Peak detection over the hourly event-rate series
# ---------------------------------------------------------------------------


@register(
    "events_peak_detection",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    flagged AS (
      SELECT hr, n,
             lag(n)  OVER (ORDER BY hr) AS prev_n,
             lead(n) OVER (ORDER BY hr) AS next_n
      FROM hourly
    )
    SELECT hr, n,
           prev_n, next_n,
           CASE WHEN n > prev_n AND n >= next_n THEN 'peak'
                WHEN n < prev_n AND n <= next_n THEN 'valley'
                ELSE 'slope' END AS shape
    FROM flagged
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
    """,
    tags=("events", "window", "timeseries"),
)
def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peak/valley detection over the hourly event-rate series: an
    hour is a peak when it beats its predecessor and at-least-ties its
    successor (the asymmetric tie rule makes plateau edges
    deterministic) — the traffic-burst detector behind alerting
    thresholds and capacity planning.

    The corpus-scale work is the hourly rollup (map-side combinable);
    the lag/lead classification runs over the tiny hourly series — a few
    hundred rows at any corpus size, because the series length is
    bounded by the TIME RANGE, not the event count — via the
    range-partitioned ghost-row frame, so no single-partition window
    appears anywhere in the plan.  All comparisons are integer counts.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    # lag/lead over the range-partitioned global hour rank (rank-shifted
    # equi-joins, functions/rank.py) — the series is time-bounded, but
    # the plan stays free of single-partition windows either way
    flagged = global_order_neighbors(
        hourly,
        ["hr"],
        key=["hr"],
        lags={"prev_n": ("n", 1)},
        leads={"next_n": ("n", 1)},
    )
    shape = (
        F.when(
            (F.col("n") > F.col("prev_n")) & (F.col("n") >= F.col("next_n")),
            "peak",
        )
        .when(
            (F.col("n") < F.col("prev_n")) & (F.col("n") <= F.col("next_n")),
            "valley",
        )
        .otherwise("slope")
    )
    return flagged.filter(
        F.col("prev_n").isNotNull() & F.col("next_n").isNotNull()
    ).select("hr", "n", "prev_n", "next_n", shape.alias("shape"))


# ---------------------------------------------------------------------------
# Batch-mode session_window (the declarative API, no stream required)
# ---------------------------------------------------------------------------


@register(
    "batch_session_window_agg",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM gaps
    )
    SELECT user_id,
           min(ts)                      AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT)     AS n_events,
           round(sum(value), 4)         AS total_value
    FROM sess
    GROUP BY user_id, sess_id
    """,
    tags=("window", "session", "events"),
)
def batch_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``session_window`` in BATCH mode: the same declarative gap-session
    aggregate the streaming query uses (B53), over a static DataFrame —
    no stream, no watermark, no state store.  This is the API surface
    that makes backfill trivially consistent with the live pipeline:
    identical session semantics from identical code, which the manual
    gaps-and-islands twin (``events_sessionize_gaps``) can only promise
    by convention.

    Batch session_window plans as a partial/final session-merge
    aggregate on one user_id exchange — same cost envelope as the
    islands construction, with the merge logic engine-maintained.  The
    oracle is the islands SQL; end = last event + gap, end-exclusive,
    matching ``session_window.end``.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# H5: incremental sessionization (batch-boundary session merge)
# ---------------------------------------------------------------------------


@register(
    "events_incremental_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS s
      FROM flagged
    )
    SELECT user_id,
           min(ts)                  AS session_start,
           max(ts)                  AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sid GROUP BY user_id, s
    """,
    tags=("quality", "window", "lakehouse"),
)
def events_incremental_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5: INCREMENTAL sessionization — the daily-batch production shape:
    history and the new batch are sessionized INDEPENDENTLY (here: the
    fixture split at its timestamp midpoint stands in for
    yesterday/today), then stitched by merging each user's last history
    session with their first new-batch session when the boundary gap is
    within the 30-minute threshold.  The output must equal one-shot
    sessionization of the full table — the oracle IS that one-shot
    computation, so every driver round re-proves the merge's
    associativity (only the boundary-adjacent session pair per user can
    ever merge: sessions are maximal runs, so any earlier session ends
    >30 min before the next one starts).

    Per-user keyed windows throughout (no global ordering anywhere); the
    merge is a per-user equi-join between two session-level relations —
    at any scale the expensive passes are the two batch sessionizations,
    each one exchange keyed by user.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    bounds = e.agg(
        ((F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2)
        .cast("long")
        .alias("t_split")
    )
    e = e.crossJoin(F.broadcast(bounds)).withColumn(
        "us", F.unix_micros("ts")
    )
    gap_us = 1800 * 1_000_000

    def sessionize(part: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        flagged = part.withColumn(
            "new_s",
            F.when(
                F.lag("us").over(w).isNull()
                | (F.col("us") - F.lag("us").over(w) > gap_us),
                1,
            ).otherwise(0),
        ).withColumn("s", F.sum("new_s").over(wr))
        return flagged.groupBy("user_id", "s").agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
        )
    s1 = sessionize(e.filter(F.col("us") < F.col("t_split")))
    s2 = sessionize(e.filter(F.col("us") >= F.col("t_split")))

    w_u = Window.partitionBy("user_id")
    s1 = s1.withColumn("_is_last", F.col("end_us") == F.max("end_us").over(w_u))
    s2 = s2.withColumn(
        "_is_first", F.col("start_us") == F.min("start_us").over(w_u)
    )
    last1 = s1.filter("_is_last").select(
        "user_id",
        F.col("session_start").alias("st1"),
        F.col("end_us").alias("end1"),
        F.col("n_events").alias("n1"),
    )
    first2 = s2.filter("_is_first").select(
        "user_id",
        F.col("start_us").alias("start2"),
        F.col("session_end").alias("en2"),
        F.col("n_events").alias("n2"),
    )
    joined = last1.join(first2, "user_id", "full_outer").withColumn(
        "_merge",
        F.col("end1").isNotNull()
        & F.col("start2").isNotNull()
        & (F.col("start2") - F.col("end1") <= F.lit(gap_us)),
    )
    merged = joined.filter("_merge").select(
        "user_id",
        F.col("st1").alias("session_start"),
        F.col("en2").alias("session_end"),
        (F.col("n1") + F.col("n2")).alias("n_events"),
    )
    merged_users = joined.filter("_merge").select("user_id")
    keep1 = s1.join(
        merged_users.withColumn("_m", F.lit(1)), "user_id", "left"
    ).filter(~(F.col("_is_last") & F.col("_m").isNotNull()))
    keep2 = s2.join(
        merged_users.withColumn("_m", F.lit(1)), "user_id", "left"
    ).filter(~(F.col("_is_first") & F.col("_m").isNotNull()))
    cols = ["user_id", "session_start", "session_end", "n_events"]
    return (
        keep1.select(*cols)
        .unionByName(keep2.select(*cols))
        .unionByName(merged.select(*cols))
        .withColumn("n_events", F.col("n_events").cast("long"))
    )


# ---------------------------------------------------------------------------
# L1: time-bounded funnel with stage latency
# ---------------------------------------------------------------------------


@register(
    "events_funnel_time_bounded",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t1, min(v.t0) AS t0
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t0
            AND epoch_us(e.ts) - epoch_us(v.t0) <= 7200000000
          GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS t2, min(c.t1) AS t1
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t1
            AND epoch_us(e.ts) - epoch_us(c.t1) <= 86400000000
          GROUP BY 1)
    SELECT stage, n_users, avg_latency_s FROM (
      SELECT 1 AS step, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users,
             CAST(NULL AS DOUBLE) AS avg_latency_s
      FROM v
      UNION ALL
      SELECT 2, 'click_2h', CAST(count(*) AS BIGINT),
             CASE WHEN count(*) = 0 THEN NULL ELSE
               ((2 * sum(epoch_us(t1) - epoch_us(t0)) + count(*) * 10000)
                  // (2 * count(*) * 10000)) / 100.0 END
      FROM c
      UNION ALL
      SELECT 3, 'purchase_24h', CAST(count(*) AS BIGINT),
             CASE WHEN count(*) = 0 THEN NULL ELSE
               ((2 * sum(epoch_us(t2) - epoch_us(t1)) + count(*) * 10000)
                  // (2 * count(*) * 10000)) / 100.0 END
      FROM p) ORDER BY step
    """,
    tags=("events", "analytics"),
)
def events_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: the TIME-BOUNDED funnel — view → click within 2 h → purchase
    within 24 h of the click — plus each stage's average conversion
    latency in seconds.  The unbounded funnel (`events_funnel_conversion`)
    answers "did they ever"; campaign analysis needs "did they within the
    attribution window", and the latency column is the number an
    activation team actually tunes against.

    Same monotone-shrinking join shape as the unbounded funnel (every
    stage one filtered aggregate hash-clustered on user_id); latencies
    accumulate as exact integer microseconds and the average rounds in
    integer space (scaled-unit round_int_ratio, a_scale=6 → 2 decimals
    of seconds), so the engines agree bit-for-bit.
    """
    e = load(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c))  # noqa: E731
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t0"))
            & (us("ts") - us("t0") <= 7_200_000_000)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"), F.min("t0").alias("t0"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (us("ts") - us("t1") <= 86_400_000_000)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )

    def stage(df, step, name, lat_from, lat_to):
        lat = (
            round_int_ratio(
                F.sum(us(lat_to) - us(lat_from)),
                F.count(F.lit(1)),
                2,
                a_scale=6,
            )
            if lat_from
            else F.lit(None).cast("double")
        )
        return df.agg(
            F.lit(step).alias("step"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
            lat.alias("avg_latency_s"),
        )

    out = (
        stage(v, 1, "view", None, None)
        .unionByName(stage(c, 2, "click_2h", "t0", "t1"))
        .unionByName(stage(p, 3, "purchase_24h", "t1", "t2"))
    )
    return out.orderBy("step").select("stage", "n_users", "avg_latency_s")


# ---------------------------------------------------------------------------
# P2: DAU / trailing-28-day MAU stickiness
# ---------------------------------------------------------------------------


@register(
    "events_dau_mau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d),
    mau AS (
      SELECT days.d, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS mau
      FROM days JOIN ud
        ON ud.d <= days.d AND ud.d > days.d - 28
      GROUP BY days.d
    )
    SELECT dau.d AS day, dau.dau, mau.mau,
           ((2 * dau.dau * 1000000 + mau.mau) // (2 * mau.mau)) / 1000000.0
             AS stickiness
    FROM dau JOIN mau ON dau.d = mau.d
    """,
    tags=("events", "analytics"),
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: the DAU/MAU stickiness curve — per day, distinct daily actives
    over distinct trailing-28-day actives: the engagement ratio every
    consumer product reports (≈1 means the monthly base shows up daily).

    The rolling DISTINCT is the interesting part: distinct counts don't
    merge across days (a user active twice is one MAU), so the trailing
    window re-counts from the (user, day) DISTINCT relation — which is
    the CORRECT input at any scale because it is bounded by
    |users|·|days|, collapsed from the fact by one map-combinable
    distinct. The 28-day membership is a banded date-range join against
    the calendar-bounded day spine (28× fanout of user-days, never the
    fact), then an exact distinct per day. Stickiness rounds in integer
    space.
    """
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    ud = ud.localCheckpoint(eager=False)  # user·day relation, 3 consumers
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    # fan each user-day into the ≤28 spine days it supports, then
    # exact-distinct per day — an equi-join on the fanned day key
    mau = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(27))
            ).alias("k"),
            "d",
        )
        .select("user_id", F.date_add("d", F.col("k")).alias("day"))
        .join(days.withColumnRenamed("d", "day"), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.withColumnRenamed("d", "day")
        .join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            round_int_ratio(F.col("dau"), F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Interval sweep-line: peak session concurrency per day
# ---------------------------------------------------------------------------


@register(
    "sessions_concurrency_profile",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS seq
      FROM g
    ),
    sess AS (
      SELECT min(ts) AS s_start,
             max(ts) + INTERVAL 30 MINUTE AS s_end
      FROM s GROUP BY user_id, seq
    ),
    seg AS (
      SELECT CAST(unnest(generate_series(
               CAST(s_start AS DATE),
               CAST(s_end - INTERVAL 1 MICROSECOND AS DATE),
               INTERVAL 1 DAY)) AS DATE) AS day,
             s_start, s_end
      FROM sess
    ),
    ep AS (
      SELECT day, greatest(s_start, CAST(day AS TIMESTAMP)) AS ts,
             1 AS delta
      FROM seg
      UNION ALL
      SELECT day, least(s_end, CAST(day + INTERVAL 1 DAY AS TIMESTAMP)),
             -1
      FROM seg
    ),
    run AS (
      SELECT day, delta,
             sum(delta) OVER (PARTITION BY day ORDER BY ts, delta
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM ep
    )
    SELECT day,
           CAST(count(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_sessions,
           CAST(max(conc) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY day ORDER BY day
    """,
    tags=("sessionize", "sweepline", "window"),
)
def sessions_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by endpoint sweep-line: sessionize
    (≥30-min gap, same boundary as ``events_sessionize_gaps``), keep each
    session active for its gap timeout (half-open ``[first_event,
    last_event + 30 min)``), split the active interval at midnight, then
    per day emit +1/-1 endpoint deltas and take the max of the running
    sum — the capacity-planning operator (Little's-law numerator) that a
    naive per-minute explode would compute at 1440× the row volume.

    Ordering at tied timestamps is pinned ``(ts, delta)``: an interval
    that ends exactly when another starts never overlaps it (half-open
    semantics), and among equal deltas the prefix-sum MULTISET — hence
    the max — is permutation-invariant, so the result is deterministic
    on both engines.

    Scale shape: sessionization is one exchange on ``user_id`` (window +
    groupBy share it); the sweep is one exchange on ``day`` with a
    within-partition sort.  Midnight splitting bounds every partition's
    sweep state, and a hot day would sub-partition by hour + rebase, the
    same offset trick as the banded rank.  Output is one row per
    calendar day.
    """
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us >= 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        e.withColumn("_new", new_sess)
        .withColumn("seq", F.sum("_new").over(run_w))
        .groupBy("user_id", "seq")
        .agg(
            F.min("ts").alias("s_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTE")).alias("s_end"),
        )
    )
    seg = sess.select(
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.to_date("s_start"),
                F.to_date(F.col("s_end") - F.expr("INTERVAL 1 MICROSECOND")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    starts = seg.select(
        "day",
        F.greatest(F.col("s_start"), F.col("day").cast("timestamp")).alias("ts"),
        F.lit(1).alias("delta"),
    )
    ends = seg.select(
        "day",
        F.least(
            F.col("s_end"),
            F.date_add(F.col("day"), 1).cast("timestamp"),
        ).alias("ts"),
        F.lit(-1).alias("delta"),
    )
    sweep = Window.partitionBy("day").orderBy("ts", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        starts.unionAll(ends)
        .withColumn("conc", F.sum("delta").over(sweep))
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("delta") == 1, 1)).alias("n_sessions"),
            F.max("conc").alias("peak_concurrency"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# IPv4 parse + CIDR classification profile
# ---------------------------------------------------------------------------


@register(
    "events_ip_cidr_profile",
    oracle="""
    WITH ip AS (
      SELECT user_id, event_id,
             (ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) * 31
              + ascii(substr(md5(CAST(user_id AS VARCHAR)), 2, 1))) % 256
               AS o1,
             (ascii(substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) * 31
              + ascii(substr(md5(CAST(user_id AS VARCHAR)), 4, 1))) % 256
               AS o2
      FROM events
    ),
    cls AS (
      SELECT *,
             CASE WHEN o1 = 10 THEN 'private-10/8'
                  WHEN o1 = 172 AND o2 BETWEEN 16 AND 31
                       THEN 'private-172.16/12'
                  WHEN o1 = 192 AND o2 = 168 THEN 'private-192.168/16'
                  WHEN o1 = 127 THEN 'loopback'
                  WHEN o1 BETWEEN 224 AND 239 THEN 'multicast'
                  ELSE 'public' END AS ip_class
      FROM ip
    )
    SELECT ip_class,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT o1 * 256 + o2) AS BIGINT) AS n_blocks16
    FROM cls GROUP BY ip_class ORDER BY ip_class
    """,
    tags=("network", "agg"),
)
def events_ip_cidr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 origin profiling: classify each event's source address into
    RFC-1918 private ranges / loopback / multicast / public by pure
    octet arithmetic, with per-class event, user, and /16-block
    accounting — the traffic-hygiene screen (NAT'd vs public clients,
    multicast leakage) a network-adjacent event pipeline runs.

    The fixture carries no IP column, so octets derive from the repo's
    portable content hash (md5-byte arithmetic, identical in both
    engines — same trick as shard assignment); production swaps in the
    real column and the classification/rollup is unchanged.  CIDR
    membership is integer compare on octets (no string parsing on the
    hot path — o1=10, o1·256+o2 banding), one map-side-combinable
    aggregate over 6 classes.
    """
    e = load(spark, sf_dir, "events").select("user_id", "event_id")
    h = F.md5(F.col("user_id").cast("string"))

    def octet(k: int):
        return (
            F.ascii(F.substring(h, 2 * k - 1, 1)) * 31
            + F.ascii(F.substring(h, 2 * k, 1))
        ) % 256

    ip = e.select("user_id", octet(1).alias("o1"), octet(2).alias("o2"))
    ip_class = (
        F.when(F.col("o1") == 10, "private-10/8")
        .when(
            (F.col("o1") == 172) & F.col("o2").between(16, 31),
            "private-172.16/12",
        )
        .when((F.col("o1") == 192) & (F.col("o2") == 168), "private-192.168/16")
        .when(F.col("o1") == 127, "loopback")
        .when(F.col("o1").between(224, 239), "multicast")
        .otherwise("public")
    )
    return (
        ip.select(
            ip_class.alias("ip_class"),
            "user_id",
            (F.col("o1") * 256 + F.col("o2")).alias("b16"),
        )
        .groupBy("ip_class")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("b16").alias("n_blocks16"),
        )
        .orderBy("ip_class")
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (absorbing-chain conversion prob)
# ---------------------------------------------------------------------------

_MARKOV_CHANNELS = ("click", "error", "signup", "view")
_MARKOV_ITERS = 12


@register(
    "events_attribution_markov_removal",
    oracle=f"""
    WITH RECURSIVE ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS st,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, st,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    rn AS (
      SELECT user_id, sid, st,
             row_number() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS rn
      FROM sess
    ),
    cut AS (
      SELECT user_id, sid,
             min(CASE WHEN st = 'CONV' THEN rn END) AS conv_rn,
             max(rn) AS last_rn
      FROM rn GROUP BY 1, 2
    ),
    kept AS (
      SELECT r.user_id, r.sid, r.st, r.rn, c.conv_rn, c.last_rn
      FROM rn r JOIN cut c USING (user_id, sid)
      WHERE c.conv_rn IS NULL OR r.rn <= c.conv_rn
    ),
    base_edges AS (
      SELECT coalesce(lag(st) OVER (PARTITION BY user_id, sid ORDER BY rn),
                      'START') AS src,
             st AS dst
      FROM kept
      UNION ALL
      SELECT st, 'NULL'
      FROM kept WHERE conv_rn IS NULL AND rn = last_rn
    ),
    scen AS (
      SELECT unnest(['full', 'click', 'error', 'signup', 'view'])
               AS scenario
    ),
    mod_edges AS (
      SELECT s.scenario, b.src,
             CASE WHEN b.dst = s.scenario THEN 'NULL' ELSE b.dst END AS dst,
             CAST(count(*) AS BIGINT) AS cnt
      FROM base_edges b CROSS JOIN scen s
      WHERE b.src <> s.scenario
      GROUP BY 1, 2, 3
    ),
    probs AS (
      SELECT scenario, src, dst,
             CAST(cnt AS DOUBLE)
               / sum(cnt) OVER (PARTITION BY scenario, src) AS p
      FROM mod_edges
    ),
    states AS (
      -- explicit-distinct over UNION ALL: inside WITH RECURSIVE, DuckDB
      -- parses a bare A UNION B CTE body with recursive-union machinery
      -- and does NOT dedup — duplicated absorbing rows then double-count
      -- v=1 contributions (found here: full-scenario p_conv inflated
      -- 0.2114 → 0.2207)
      SELECT DISTINCT scenario, st FROM (
        SELECT scenario, src AS st FROM probs
        UNION ALL SELECT scenario, dst FROM probs
      )
    ),
    it AS (
      -- CAST to DOUBLE: bare 1.0/0.0 literals type the recursion at
      -- DECIMAL(2,1), quantizing every iterate to one decimal place
      SELECT 0 AS k, scenario, st,
             CAST(CASE WHEN st = 'CONV' THEN 1.0 ELSE 0.0 END AS DOUBLE)
               AS v
      FROM states
      UNION ALL
      SELECT * FROM (
        SELECT i.k + 1 AS k, s.scenario, s.st,
               CAST(CASE WHEN s.st = 'CONV' THEN 1.0
                    WHEN s.st = 'NULL' THEN 0.0
                    ELSE round(coalesce(sum(e.p * i.v), 0), 9) END
                    AS DOUBLE) AS v
        FROM states s
        JOIN it i ON i.scenario = s.scenario
        LEFT JOIN probs e ON e.scenario = s.scenario
                         AND e.src = s.st AND e.dst = i.st
        GROUP BY i.k, s.scenario, s.st
      ) WHERE k <= {_MARKOV_ITERS}
    ),
    final AS (
      SELECT scenario, v FROM it
      WHERE k = {_MARKOV_ITERS} AND st = 'START'
    )
    SELECT c.scenario AS channel,
           round(f.v, 6) AS p_conv_full,
           round(c.v, 6) AS p_conv_without,
           round(1 - c.v / f.v, 6) AS removal_effect
    FROM final c, final f
    WHERE f.scenario = 'full' AND c.scenario <> 'full'
    ORDER BY channel
    """,
    tags=("events", "graph", "iterative"),
)
def events_attribution_markov_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov-chain attribution with REMOVAL EFFECTS: sessions become
    first-order paths (START → channels → CONV at the first purchase, or
    NULL on abandonment), and each channel's credit is how much the
    absorbing-chain conversion probability DROPS when that channel's
    node is deleted (in-edges rerouted to NULL, out-edges removed) — the
    data-driven alternative to last-touch heuristics
    (``events_attribution_touch``), which by construction credits
    channels for paths they actually carry.

    Absorption probabilities come from {_MARKOV_ITERS} SYNCHRONIZED
    value-iteration rounds (v ← T·v with CONV pinned 1, NULL pinned 0),
    every round rounded to 9 — both engines run the identical iteration,
    so parity holds by construction whether or not the chain has fully
    converged (it has: spectral radius of the transient block ≪ 1 at
    session path lengths).  All 5 removal scenarios iterate TOGETHER as
    one scenario-keyed relation — one plan, not 5.

    Scale shape: path/edge extraction is the sessionize machinery (one
    user-keyed exchange); everything after is a ≤(7 states × 5
    scenarios) relation — iteration cost is independent of data volume,
    which is exactly why Markov attribution runs daily on ad-platform
    fact tables.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us >= 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        e.withColumn(
            "st",
            F.when(F.col("event_type") == "purchase", "CONV").otherwise(
                F.col("event_type")
            ),
        )
        .withColumn("_new", new_sess)
        .withColumn("sid", F.sum("_new").over(run_w))
    )
    w_s = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    rn = sess.withColumn("rn", F.row_number().over(w_s))
    cut = rn.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("st") == "CONV", F.col("rn"))).alias("conv_rn"),
        F.max("rn").alias("last_rn"),
    )
    kept = rn.join(cut, ["user_id", "sid"]).filter(
        F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn"))
    )
    w_k = Window.partitionBy("user_id", "sid").orderBy("rn")
    inner = kept.select(
        F.coalesce(F.lag("st").over(w_k), F.lit("START")).alias("src"),
        F.col("st").alias("dst"),
    )
    terminal = kept.filter(
        F.col("conv_rn").isNull() & (F.col("rn") == F.col("last_rn"))
    ).select(F.col("st").alias("src"), F.lit("NULL").alias("dst"))
    base_edges = inner.unionAll(terminal)
    scen = values_relation(
        spark, [("full",)] + [(c,) for c in _MARKOV_CHANNELS], "scenario string"
    )
    mod = (
        base_edges.crossJoin(F.broadcast(scen))
        .filter(F.col("src") != F.col("scenario"))
        .select(
            "scenario",
            "src",
            F.when(F.col("dst") == F.col("scenario"), "NULL")
            .otherwise(F.col("dst"))
            .alias("dst"),
        )
        .groupBy("scenario", "src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_src = Window.partitionBy("scenario", "src")
    probs = mod.select(
        "scenario",
        "src",
        "dst",
        (F.col("cnt").cast("double") / F.sum("cnt").over(w_src)).alias("p"),
    ).localCheckpoint(eager=False)
    states = (
        probs.select("scenario", F.col("src").alias("st"))
        .union(probs.select("scenario", F.col("dst").alias("st")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    v = states.select(
        "scenario",
        "st",
        F.when(F.col("st") == "CONV", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("v"),
    )
    for _ in range(_MARKOV_ITERS):
        contrib = (
            probs.join(
                v.select(
                    "scenario", F.col("st").alias("dst"), F.col("v").alias("pv")
                ),
                ["scenario", "dst"],
            )
            .groupBy("scenario", F.col("src").alias("st"))
            .agg(F.round(F.sum(F.col("p") * F.col("pv")), 9).alias("nv"))
        )
        v = states.join(contrib, ["scenario", "st"], "left").select(
            "scenario",
            "st",
            F.when(F.col("st") == "CONV", F.lit(1.0))
            .when(F.col("st") == "NULL", F.lit(0.0))
            .otherwise(F.coalesce("nv", F.lit(0.0)))
            .alias("v"),
        )
    final = v.filter(F.col("st") == "START").select("scenario", "v")
    full = final.filter(F.col("scenario") == "full").select(
        F.col("v").alias("v_full")
    )
    return (
        final.filter(F.col("scenario") != "full")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("scenario").alias("channel"),
            F.round("v_full", 6).alias("p_conv_full"),
            F.round("v", 6).alias("p_conv_without"),
            F.round(
                F.lit(1.0) - F.col("v") / F.col("v_full"), 6
            ).alias("removal_effect"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (exact integer coalition sums)
# ---------------------------------------------------------------------------


@register(
    "events_attribution_shapley",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS st,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, st,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    rn AS (
      SELECT user_id, sid, st,
             row_number() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS rn
      FROM sess
    ),
    cut AS (
      SELECT user_id, sid,
             min(CASE WHEN st = 'CONV' THEN rn END) AS conv_rn
      FROM rn GROUP BY 1, 2
    ),
    kept AS (
      SELECT r.user_id, r.sid, r.st, c.conv_rn
      FROM rn r JOIN cut c USING (user_id, sid)
      WHERE c.conv_rn IS NULL OR r.rn <= c.conv_rn
    ),
    per_sess AS (
      SELECT user_id, sid,
             max(CASE WHEN st = 'CONV' THEN 1 ELSE 0 END) AS conv,
             max(CASE WHEN st = 'click'  THEN 1 ELSE 0 END)
             + 2 * max(CASE WHEN st = 'error'  THEN 1 ELSE 0 END)
             + 4 * max(CASE WHEN st = 'signup' THEN 1 ELSE 0 END)
             + 8 * max(CASE WHEN st = 'view'   THEN 1 ELSE 0 END) AS mask
      FROM kept GROUP BY 1, 2
    ),
    convs AS (
      SELECT mask, CAST(count(*) AS BIGINT) AS c
      FROM per_sess WHERE conv = 1 GROUP BY mask
    ),
    subsets AS (SELECT unnest(range(0, 16)) AS s),
    v AS (
      SELECT s.s, CAST(coalesce(sum(c.c), 0) AS BIGINT) AS v
      FROM subsets s LEFT JOIN convs c ON (c.mask & ~s.s) = 0
      GROUP BY s.s
    ),
    ch AS (
      SELECT unnest(['click', 'error', 'signup', 'view']) AS channel,
             unnest([1, 2, 4, 8]) AS bit
    ),
    phi AS (
      SELECT ch.channel,
             CAST(sum(
               CASE bit_count(CAST(vs.s AS BIGINT))
                    WHEN 0 THEN 6 WHEN 1 THEN 2
                    WHEN 2 THEN 2 ELSE 6 END
               * (vc.v - vs.v)) AS BIGINT) AS phi24
      FROM ch
      JOIN v vs ON (vs.s & ch.bit) = 0
      JOIN v vc ON vc.s = (vs.s | ch.bit)
      GROUP BY ch.channel
    )
    SELECT channel, phi24,
           round(CAST(phi24 AS DOUBLE) / 24, 6) AS shapley_conversions
    FROM phi ORDER BY channel
    """,
    tags=("events", "graph"),
)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value attribution — the coalition-game companion to the
    Markov removal effects: the characteristic function v(S) counts
    conversions whose pre-purchase touched-channel SET fits inside
    coalition S, and each channel's credit is its exact Shapley value
    over the 4-channel game.  Order-free by construction (it credits
    presence, where Markov credits transition structure — the two
    standard data-driven attribution models, now both in the suite).

    EXACT INTEGER throughout: per-session masks → conversion counts per
    mask (16 cells) → v(S) by subset-containment join (``mask & ~S =
    0``) → Shapley sums scaled by 4! = 24, where the coefficient
    |S|!(3−|S|)! ∈ {6,2,2,6} makes φ·24 a pure integer combination of
    counts; the ONLY division is the final /24 display ratio.
    Efficiency (Σφ = v(full) − v(∅)) and monotonicity (φ ≥ 0, since
    v is ⊆-monotone) hold exactly.  Scale shape: one sessionize
    exchange collapses the fact table to per-session masks; everything
    after is a 16-row lattice.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us >= 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        e.withColumn(
            "st",
            F.when(F.col("event_type") == "purchase", "CONV").otherwise(
                F.col("event_type")
            ),
        )
        .withColumn("_new", new_sess)
        .withColumn("sid", F.sum("_new").over(run_w))
    )
    w_s = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    rn = sess.withColumn("rn", F.row_number().over(w_s))
    cut = rn.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("st") == "CONV", F.col("rn"))).alias("conv_rn")
    )
    kept = rn.join(cut, ["user_id", "sid"]).filter(
        F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn"))
    )

    def touched(ch):
        return F.max(F.when(F.col("st") == ch, 1).otherwise(0))

    per_sess = kept.groupBy("user_id", "sid").agg(
        F.max(F.when(F.col("st") == "CONV", 1).otherwise(0)).alias("conv"),
        (
            touched("click")
            + 2 * touched("error")
            + 4 * touched("signup")
            + 8 * touched("view")
        ).alias("mask"),
    )
    convs = (
        per_sess.filter(F.col("conv") == 1)
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    subsets = spark.range(0, 16).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(convs),
            (F.col("mask").bitwiseAND(F.bitwise_not(F.col("s")))) == 0,
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("v"))
    )
    ch = values_relation(
        spark,
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, bit int",
    )
    weight = (
        F.when(F.bit_count(F.col("s").cast("long")) == 0, 6)
        .when(F.bit_count(F.col("s").cast("long")) == 1, 2)
        .when(F.bit_count(F.col("s").cast("long")) == 2, 2)
        .otherwise(6)
    )
    vs = v.select(F.col("s"), F.col("v").alias("v_s"))
    vc = v.select(F.col("s").alias("s_c"), F.col("v").alias("v_sc"))
    phi = (
        F.broadcast(ch)
        .join(F.broadcast(vs), (F.col("s").bitwiseAND(F.col("bit"))) == 0)
        .join(
            F.broadcast(vc),
            F.col("s_c") == (F.col("s").bitwiseOR(F.col("bit"))),
        )
        .groupBy("channel")
        .agg(
            F.sum(weight * (F.col("v_sc") - F.col("v_s"))).alias("phi24")
        )
    )
    return phi.select(
        "channel",
        "phi24",
        F.round(F.col("phi24").cast("double") / 24, 6).alias(
            "shapley_conversions"
        ),
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# Semi-additive measure: last balance per period, additive across users
# ---------------------------------------------------------------------------


@register(
    "users_semiadditive_balance",
    oracle="""
    WITH led AS (
      SELECT user_id, ts, event_id,
             CAST(round(CASE WHEN event_type = 'purchase' THEN -value
                             ELSE value END * 100) AS BIGINT) AS delta_c
      FROM events
    ),
    bal AS (
      SELECT user_id, ts, event_id,
             CAST(date_trunc('week', ts) AS DATE) AS week,
             CAST(sum(delta_c) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS balance_c
      FROM led
    ),
    lastb AS (
      SELECT user_id, week, balance_c AS eow_balance_c
      FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, week
                                     ORDER BY ts DESC, event_id DESC) AS rr
        FROM bal
      ) WHERE rr = 1
    )
    SELECT week,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(eow_balance_c) AS BIGINT) AS total_eow_balance_c,
           CAST(max(eow_balance_c) AS BIGINT) AS max_user_balance_c
    FROM lastb GROUP BY week ORDER BY week
    """,
    tags=("events", "window", "agg"),
)
def users_semiadditive_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-additive aggregation — the BI measure class a plain GROUP BY
    gets wrong: a BALANCE (running ledger: purchases debit, everything
    else credits, in cents) is additive ACROSS users but NOT across
    time — each week takes the user's LAST observed balance (max_by on
    the (ts, event_id) order key), and only then sums across users.
    Summing balances over time would double-count every carried cent;
    this is the closing-balance semantics every finance cube implements.

    Scale shape: the ledger is one user-keyed running-sum window
    (exact integer cents); last-per-period is a (user, week)-keyed
    row_number over the same composite order key (deterministic under
    timestamp ties), and the weekly rollup is map-side combinable.  Users who skip a week simply
    have no row (no carry-forward spine here; ``events_resample_ffill``
    covers gap-filling).
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    delta = F.round(
        F.when(
            F.col("event_type") == "purchase", -F.col("value")
        ).otherwise(F.col("value"))
        * 100
    ).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bal = e.select(
        "user_id",
        "ts",
        "event_id",
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.sum(delta).over(w).alias("balance_c"),
    )
    w_last = Window.partitionBy("user_id", "week").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    lastb = (
        bal.withColumn("rr", F.row_number().over(w_last))
        .filter(F.col("rr") == 1)
        .select("user_id", "week", F.col("balance_c").alias("eow_balance_c"))
    )
    return (
        lastb.groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("eow_balance_c").alias("total_eow_balance_c"),
            F.max("eow_balance_c").alias("max_user_balance_c"),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# Off-policy replay evaluation (bandit arms = first session channel)
# ---------------------------------------------------------------------------


@register(
    "events_policy_replay_eval",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    firsts AS (
      SELECT user_id, sid, event_type AS arm
      FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, sid
                                     ORDER BY ts, event_id) AS rr
        FROM sess
      ) WHERE rr = 1
    ),
    rewards AS (
      SELECT user_id, sid,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS reward
      FROM sess GROUP BY 1, 2
    ),
    per AS (
      SELECT f.user_id, f.sid, f.arm, r.reward
      FROM firsts f JOIN rewards r USING (user_id, sid)
    ),
    logged AS (SELECT arm, reward FROM per WHERE arm <> 'purchase'),
    arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(reward) AS BIGINT) AS r
      FROM logged GROUP BY arm
    ),
    best AS (
      SELECT arm AS best_arm FROM arms
      ORDER BY CAST(r AS DOUBLE) / n DESC, arm LIMIT 1
    )
    SELECT a.arm,
           a.n AS n_logged,
           a.r AS n_rewards,
           round(CAST(a.r AS DOUBLE) / a.n, 6) AS logged_value,
           CASE WHEN a.arm = b.best_arm THEN 1 ELSE 0 END AS policy_arm
    FROM arms a CROSS JOIN best b
    ORDER BY a.arm
    """,
    tags=("events", "evaluation"),
)
def events_policy_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy replay evaluation (the Li-et-al. bandit-replay
    method's counting core): sessions are bandit rounds, the logged ARM
    is the session's first event type, the REWARD is eventual purchase;
    the greedy policy picks the empirically-best arm, and replay
    evaluates it on exactly the logged rounds where the policy agrees
    with the log — the unbiased-under-uniform-logging estimator every
    recommender team runs before an online test.

    Scale shape: one sessionize exchange; first-event election via
    ``min_by`` over the composite (ts, event_id) order key (an
    aggregate, not a second window); arm statistics are a ≤5-row
    relation and the argmax is a deterministic top-1 with arm
    tie-break.  Exact integer counts; the only float is the displayed
    rate.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us >= 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.withColumn("_new", new_sess).withColumn(
        "sid", F.sum("_new").over(run_w)
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.min_by("event_type", F.struct("ts", "event_id")).alias("arm"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("reward"),
    )
    arms = (
        per.filter(F.col("arm") != "purchase")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_logged"),
            F.sum("reward").alias("n_rewards"),
        )
    )
    arms = arms.localCheckpoint(eager=False)
    best = (
        arms.orderBy(
            (F.col("n_rewards").cast("double") / F.col("n_logged")).desc(),
            F.asc("arm"),
        )
        .limit(1)
        .select(F.col("arm").alias("best_arm"))
    )
    return (
        arms.crossJoin(F.broadcast(best))
        .select(
            "arm",
            "n_logged",
            "n_rewards",
            F.round(
                F.col("n_rewards").cast("double") / F.col("n_logged"), 6
            ).alias("logged_value"),
            F.when(F.col("arm") == F.col("best_arm"), 1)
            .otherwise(0)
            .alias("policy_arm"),
        )
        .orderBy("arm")
    )


# ---------------------------------------------------------------------------
# Per-document character entropy (gibberish / encoding-noise signal)
# ---------------------------------------------------------------------------


@register(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS c
      FROM documents
    ),
    f AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS f
      FROM ch GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(f) AS BIGINT)    AS n_chars_total,
           CAST(count(*) AS BIGINT)  AS n_distinct_chars,
           round((ln(sum(f)) - sum(f * ln(f)) / sum(f)) / ln(2), 6)
             AS char_entropy_bits
    FROM f GROUP BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the CHARACTER distribution, in
    bits — the cheap gibberish/encoding-noise detector every quality
    stack runs before tokenization: natural text sits in a narrow
    entropy band (~3.5-4.5 bits for English), while base64 blobs, binary
    spills, and aaaa-runs land far outside it.  Uses the factored form
    H = log2(L) − (Σ f·ln f)/(L·ln 2), so only integer-valued ln() terms
    appear (f and L are exact counts — the same libm-noise class every
    ln-based query in this engine rounds through at 6 decimals).

    One explode → (doc_id, char) count — map-side combinable, the
    fan-out is bytes-proportional exactly like tokenization — then a
    doc-keyed re-aggregate.  Both shuffles are keyed by doc_id(+char):
    at 100 TB this is the token-count plan with a finer unit, no skew
    beyond the per-doc length distribution itself.
    """
    d = load(spark, sf_dir, "documents")
    f = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    L = F.sum("f")
    return f.groupBy("doc_id").agg(
        L.cast("bigint").alias("n_chars_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
        F.round(
            (F.log(L) - F.sum(F.col("f") * F.log("f")) / L)
            / F.log(F.lit(2.0)),
            6,
        ).alias("char_entropy_bits"),
    )


# ---------------------------------------------------------------------------
# Hopping window TVF in batch mode (backfill twin of stream_sliding_avg)
# ---------------------------------------------------------------------------


@register(
    "batch_hopping_window_agg",
    oracle="""
    WITH w AS (
      SELECT event_type, value,
             CAST(date_trunc('hour', ts) AS TIMESTAMP)
               - k * INTERVAL 1 HOUR AS ws
      FROM events, unnest([0, 1]) AS t(k)
    )
    SELECT ws AS window_start,
           ws + INTERVAL 2 HOUR AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM w GROUP BY 1, 2, 3
    """,
    tags=("events", "window", "timeseries"),
)
def batch_hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hopping/sliding ``window()`` TVF in BATCH mode (2-hour windows
    hopping every hour): the same declarative windowed aggregate the
    streaming pipeline runs (B52, ``stream_sliding_avg``) over a static
    DataFrame — the backfill path that is consistent with the live
    pipeline BY API, not by convention, completing the batch/streaming
    symmetry ``batch_session_window_agg`` establishes for session
    windows.  Each event lands in exactly size/slide = 2 windows; the
    oracle replays Spark's epoch-aligned window assignment as
    date_trunc('hour') − k·1h for k ∈ {0,1}.

    Plans as Expand (2× fan-out — the TVF's multi-window assignment)
    feeding one map-side-combinable hash aggregate on (window,
    event_type): fan-out is fixed at size/slide regardless of volume, so
    the 100 TB cost envelope is one keyed shuffle of 2× the input —
    identical to the manual unnest form but with the window arithmetic
    owned by the engine.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Bot-score heuristics per user
# ---------------------------------------------------------------------------


@register(
    "events_bot_score_heuristics",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us,
             CASE WHEN extract(hour FROM ts) < 6 THEN 1 ELSE 0 END AS night,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
      FROM events
    ),
    g AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             coalesce(stddev_samp(gap_us) / nullif(avg(gap_us), 0),
                      0) AS iat_cv,
             avg(night) AS night_share,
             avg(err) AS error_share
      FROM seq GROUP BY 1 HAVING count(*) >= 5
    )
    SELECT user_id, n_events,
           round(iat_cv, 6) AS iat_cv,
           round(night_share, 6) AS night_share,
           round(error_share, 6) AS error_share,
           round(0.4 * exp(-iat_cv) + 0.3 * night_share
                 + 0.3 * error_share, 6) AS bot_score,
           (round(0.4 * exp(-iat_cv) + 0.3 * night_share
                  + 0.3 * error_share, 6) > 0.35) AS is_bot
    FROM g ORDER BY user_id
    """,
    tags=("events", "quality"),
)
def events_bot_score_heuristics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot screening — the heuristic trio every traffic-
    quality pipeline computes per actor: inter-arrival-time REGULARITY
    (a machine's timer gives a low coefficient of variation; humans are
    bursty, cv ≳ 1), night-hours share, and error-rate share, combined
    into ``0.4·e^(−cv) + 0.3·night + 0.3·error`` with a fixed 0.35 flag
    threshold (lexicon-style dyadic-ish constants, the sentiment-scorer
    discipline).  Users with < 5 events are excluded — no stable cv.

    Scale shape: ONE user-keyed exchange serves both the lag window and
    the per-user aggregate (same-key window→groupBy reuses the
    partitioning); gaps are exact µs BIGINTs (unix_micros — no float
    timestamp arithmetic), ties broken by event_id so the lag sequence
    is deterministic, and the variance/mean ratio is computed from the
    same sums in both engines.  The cv is 0/0 for a user whose ≥5
    events share ONE timestamp (Spark NULL vs DuckDB float semantics —
    ADVICE r11): both sides clamp it to cv = 0 via
    ``coalesce(σ/nullif(µ,0), 0)`` — zero gap variation IS perfect
    regularity, the maximally bot-like reading, so the e^−cv term
    contributes its full 0.4 instead of a NULL score (constructed-case
    pytest pins the parity).  Output is per-user (bounded by the
    actor population, not events), round-6.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
        F.when(F.hour("ts") < 6, 1).otherwise(0).alias("night"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("err"),
    )
    g = (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.coalesce(
                F.stddev_samp("gap_us")
                / F.nullif(F.avg("gap_us"), F.lit(0)),
                F.lit(0.0),
            ).alias("iat_cv"),
            F.avg("night").alias("night_share"),
            F.avg("err").alias("error_share"),
        )
        .filter(F.col("n_events") >= 5)
    )
    score = F.round(
        0.4 * F.exp(-F.col("iat_cv"))
        + 0.3 * F.col("night_share")
        + 0.3 * F.col("error_share"),
        6,
    )
    return g.select(
        "user_id",
        "n_events",
        F.round("iat_cv", 6).alias("iat_cv"),
        F.round("night_share", 6).alias("night_share"),
        F.round("error_share", 6).alias("error_share"),
        score.alias("bot_score"),
        (score > 0.35).alias("is_bot"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Markov next-event model: temporal hold-out accuracy
# ---------------------------------------------------------------------------


@register(
    "events_markov_holdout_accuracy",
    oracle="""
    WITH lagged AS (
      SELECT user_id, event_type AS cur,
             CASE WHEN ts < TIMESTAMP '2024-01-21' THEN 0 ELSE 1 END AS era,
             lag(event_type) OVER (
               PARTITION BY user_id,
                 CASE WHEN ts < TIMESTAMP '2024-01-21' THEN 0 ELSE 1 END
               ORDER BY ts, event_id) AS prev
      FROM events
    ),
    train AS (
      SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
      FROM lagged WHERE era = 0 AND prev IS NOT NULL GROUP BY 1, 2
    ),
    pred AS (
      SELECT prev, cur AS predicted FROM (
        SELECT prev, cur,
               row_number() OVER (PARTITION BY prev
                                  ORDER BY c DESC, cur) AS rk
        FROM train) WHERE rk = 1
    ),
    test AS (
      SELECT prev, cur FROM lagged WHERE era = 1 AND prev IS NOT NULL
    )
    SELECT t.prev, p.predicted,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN t.cur = p.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(avg(CASE WHEN t.cur = p.predicted
                          THEN 1.0 ELSE 0.0 END), 6) AS accuracy
    FROM test t JOIN pred p ON p.prev = t.prev
    GROUP BY t.prev, p.predicted ORDER BY t.prev
    """,
    tags=("events", "quality", "evaluation"),
)
def events_markov_holdout_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temporal hold-out evaluation of the first-order Markov
    next-event model: fit argmax transition predictions on days 1-20,
    score top-1 accuracy on days 21-30 — the train/test discipline
    behind every "does yesterday's behavior model predict tomorrow"
    check (the stationary-distribution query C15 describes the chain;
    this one MEASURES its forward skill, the evaluation-family pattern
    of N2/F3 applied to sequences).

    Transitions never cross the split boundary (lag partitions on
    (user, era)), so train pairs are wholly pre-split and test pairs
    wholly post-split.  Scale shape: ONE user/era-keyed exchange for
    the lag window, a ≤k² transition aggregate, argmax via a
    row_number window over the BOUNDED transition table (deterministic
    tie: count DESC, type ASC), then the test pairs join the 5-row
    prediction table by broadcast.  No fact-scale window beyond the
    lag; no Python.
    """
    e = load(spark, sf_dir, "events")
    era = F.when(
        F.col("ts") < F.lit("2024-01-21").cast("timestamp"), 0
    ).otherwise(1)
    w = Window.partitionBy("user_id", "era").orderBy("ts", "event_id")
    lagged = e.withColumn("era", era).select(
        "era",
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    )
    train = (
        lagged.filter((F.col("era") == 0) & F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rk = Window.partitionBy("prev").orderBy(F.col("c").desc(), F.col("cur"))
    pred = (
        train.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("prev", F.col("cur").alias("predicted"))
    )
    test = lagged.filter((F.col("era") == 1) & F.col("prev").isNotNull())
    hit = F.when(F.col("cur") == F.col("predicted"), 1).otherwise(0)
    return (
        test.join(F.broadcast(pred), "prev")
        .groupBy("prev", "predicted")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            F.round(F.avg(hit * 1.0), 6).alias("accuracy"),
        )
        .orderBy("prev")
    )


# ---------------------------------------------------------------------------
# TextTiling-style topic segmentation (BB20)
# ---------------------------------------------------------------------------


@register(
    "text_topic_segmentation",
    oracle="""
    WITH tok AS (
      SELECT doc_id, (generate_subscripts(s, 1) - 1) // 10 AS block,
             unnest(s) AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) d),
    tf AS (SELECT doc_id, block, w, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2, 3),
    nrm AS (SELECT doc_id, block, CAST(sum(tf * tf) AS BIGINT) AS q
            FROM tf GROUP BY 1, 2),
    nb AS (SELECT doc_id, CAST(max(block) + 1 AS BIGINT) AS n_blocks
           FROM tf GROUP BY 1),
    dots AS (
      SELECT a.doc_id, a.block AS g, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
      FROM tf a JOIN tf b
        ON a.doc_id = b.doc_id AND b.block = a.block + 1 AND a.w = b.w
      GROUP BY 1, 2),
    gaps AS (
      SELECT n1.doc_id, n1.block AS g,
             CAST(round(round(
               CAST(coalesce(d.dot, 0) AS DOUBLE)
                 / sqrt(CAST(n1.q AS DOUBLE)) / sqrt(CAST(n2.q AS DOUBLE)),
               6) * 1000000) AS BIGINT) AS sim_e6
      FROM nrm n1
      JOIN nrm n2 ON n2.doc_id = n1.doc_id AND n2.block = n1.block + 1
      LEFT JOIN dots d ON d.doc_id = n1.doc_id AND d.g = n1.block),
    st AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(sim_e6) AS BIGINT) AS s1,
             CAST(sum(sim_e6 * sim_e6) AS BIGINT) AS s2
      FROM gaps GROUP BY 1 HAVING count(*) >= 2),
    marked AS (
      SELECT g.doc_id, g.g, st.n_gaps,
             CAST(g.sim_e6 AS DOUBLE) * st.n_gaps
               < CAST(st.s1 AS DOUBLE)
                 - sqrt(CAST(st.n_gaps * st.s2 - st.s1 * st.s1 AS DOUBLE))
               AS is_boundary
      FROM gaps g JOIN st ON st.doc_id = g.doc_id)
    SELECT m.doc_id, nb.n_blocks, m.n_gaps,
           CAST(sum(CASE WHEN m.is_boundary THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boundaries,
           CAST(coalesce(min(CASE WHEN m.is_boundary THEN m.g END), -1)
                AS BIGINT) AS first_boundary
    FROM marked m JOIN nb ON nb.doc_id = m.doc_id
    GROUP BY m.doc_id, nb.n_blocks, m.n_gaps
    """,
    tags=("llm", "text", "curation"),
)
def text_topic_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling-style topic segmentation (Hearst CL 1997) — the
    content-AWARE chunking step of a RAG ingestion pipeline (the fixed-
    stride twin is doc_chunk_token_windows): documents are cut into
    10-token blocks, lexical cohesion at each gap is the cosine of the
    adjacent blocks' term-frequency vectors, and a gap is a topic
    boundary when its cohesion dips below mean − stddev of that
    document's gap series (the depth-score criterion reduced to its
    z-threshold core).  Output per document (≥2 gaps): block count, gap
    count, boundary count, and the first boundary offset (−1 = none).

    Scale shape: every relation is keyed by (doc, block[, term]) — tf,
    norms, and the adjacent-gap dot are groupBys/joins on those natural
    keys (the b↔b+1 join is co-partitioned on (doc, term)), the final
    stats are a per-doc aggregate, and NOTHING is windowed or global, so
    the operator partitions perfectly by document at any corpus size.
    Gaps whose blocks share no term are kept at cosine 0 via the
    norms-spine LEFT JOIN (an inner join on terms would silently drop
    exactly the strongest boundaries).  Exactness: tf dots and norms are
    pure BIGINTs; each cosine rounds to 6dp into BIGINT micro-units; the
    boundary test compares sim·n < S₁ − √(n·S₂ − S₁²) — integers
    everywhere except one deterministic sqrt."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    ).select(
        "doc_id", (F.col("pos") / 10).cast("long").alias("block"), "w"
    )
    tf = tok.groupBy("doc_id", "block", "w").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    nrm = tf.groupBy("doc_id", "block").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("q")
    )
    nb = tf.groupBy("doc_id").agg(
        (F.max("block") + 1).cast("long").alias("n_blocks")
    )
    a, b = tf.alias("a"), tf.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.block") == F.col("a.block") + 1)
            & (F.col("a.w") == F.col("b.w")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"), F.col("a.block").alias("g")
        )
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).cast("long").alias("dot"))
    )
    n1, n2 = nrm.alias("n1"), nrm.alias("n2")
    gaps = (
        n1.join(
            n2,
            (F.col("n2.doc_id") == F.col("n1.doc_id"))
            & (F.col("n2.block") == F.col("n1.block") + 1),
        )
        .join(
            dots,
            (dots["doc_id"] == F.col("n1.doc_id"))
            & (dots["g"] == F.col("n1.block")),
            "left",
        )
        .select(
            F.col("n1.doc_id").alias("doc_id"),
            F.col("n1.block").alias("g"),
            F.expr(
                "cast(round(round(cast(coalesce(dot, 0) as double)"
                " / sqrt(cast(n1.q as double)) / sqrt(cast(n2.q as double)),"
                " 6) * 1000000) as bigint)"
            ).alias("sim_e6"),
        )
    )
    st = (
        gaps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("sim_e6").cast("long").alias("s1"),
            F.sum(F.col("sim_e6") * F.col("sim_e6"))
            .cast("long")
            .alias("s2"),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    marked = gaps.join(st, "doc_id").select(
        "doc_id",
        "g",
        "n_gaps",
        (
            F.col("sim_e6").cast("double") * F.col("n_gaps")
            < F.col("s1").cast("double")
            - F.sqrt(
                (
                    F.col("n_gaps") * F.col("s2") - F.col("s1") * F.col("s1")
                ).cast("double")
            )
        ).alias("is_boundary"),
    )
    return (
        marked.groupBy("doc_id", "n_gaps")
        .agg(
            F.sum(F.when(F.col("is_boundary"), 1).otherwise(0))
            .cast("long")
            .alias("n_boundaries"),
            F.coalesce(
                F.min(F.when(F.col("is_boundary"), F.col("g"))), F.lit(-1)
            )
            .cast("long")
            .alias("first_boundary"),
        )
        .join(nb, "doc_id")
        .select(
            "doc_id",
            "n_blocks",
            "n_gaps",
            "n_boundaries",
            "first_boundary",
        )
    )


# ---------------------------------------------------------------------------
# Position-based (U-shaped) attribution (BB28)
# ---------------------------------------------------------------------------


@register(
    "events_attribution_position",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             event_type = 'purchase' AS is_conv,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_p
      FROM events),
    touches AS (
      SELECT user_id, event_type, cum_p AS episode,
             row_number() OVER (PARTITION BY user_id, cum_p
                                ORDER BY ts, event_id) AS pos,
             count(*) OVER (PARTITION BY user_id, cum_p) AS k
      FROM seq WHERE NOT is_conv),
    convs AS (
      SELECT DISTINCT user_id, cum_p - 1 AS episode
      FROM seq WHERE is_conv),
    credited AS (
      SELECT t.event_type,
             CASE
               WHEN t.k = 1 THEN 1000000
               WHEN t.k = 2 THEN 500000
               WHEN t.pos = 1 THEN 400000
               WHEN t.pos = t.k THEN 400000 + 200000 % (t.k - 2)
               ELSE 200000 // (t.k - 2)
             END AS credit_e6
      FROM touches t JOIN convs c
        ON c.user_id = t.user_id AND c.episode = t.episode),
    per AS (
      SELECT event_type,
             CAST(sum(credit_e6) AS BIGINT) AS credit_e6,
             CAST(count(*) AS BIGINT) AS n_credited_touches
      FROM credited GROUP BY 1),
    tot AS (SELECT CAST(sum(credit_e6) AS BIGINT) AS t FROM per)
    SELECT event_type, credit_e6, n_credited_touches,
           ((2 * credit_e6 * 1000000 + t) // (2 * t)) / 1000000.0
               AS credit_share
    FROM per, tot
    """,
    tags=("stats", "window"),
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) conversion attribution — the fourth
    standard model next to the engine's first/last-touch
    (events_attribution_touch), Markov removal-effect, and Shapley
    models: each purchase's preceding touch path earns 40% for the
    acquiring first touch, 40% for the converting last touch, and 20%
    split across the middle (k=1 → 100%, k=2 → 50/50).  Credit is
    integer MICRO-UNITS with the middle-split remainder assigned to the
    last touch, so every conversion distributes exactly 1,000,000 units
    — conservation is an integer identity, not a float hope, and the
    pytest pins Σcredit = 10⁶ × conversions-with-touches.

    Scale shape: episodes (the stream segments between purchases) come
    from ONE running-count window on the natural user key; position/k
    are windows on (user, episode); the episode→conversion match is an
    equi-join on that same key (no interval join, no per-conversion
    explode).  Everything shuffles at most twice on user-rooted keys,
    and the output is the channel-level rollup."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (F.col("event_type") == "purchase").alias("is_conv"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w)
        .alias("cum_p"),
    )
    we = Window.partitionBy("user_id", "episode")
    touches = seq.filter(~F.col("is_conv")).select(
        "user_id",
        "event_type",
        F.col("cum_p").alias("episode"),
        "ts",
        "event_id",
    )
    touches = touches.select(
        "user_id",
        "event_type",
        "episode",
        F.row_number().over(we.orderBy("ts", "event_id")).alias("pos"),
        F.count(F.lit(1)).over(we).alias("k"),
    )
    convs = (
        seq.filter(F.col("is_conv"))
        .select("user_id", (F.col("cum_p") - 1).alias("episode"))
        .distinct()
    )
    credit = (
        F.when(F.col("k") == 1, 1000000)
        .when(F.col("k") == 2, 500000)
        .when(F.col("pos") == 1, 400000)
        .when(
            F.col("pos") == F.col("k"),
            400000 + 200000 % (F.col("k") - 2),
        )
        .otherwise(F.expr("200000 div (k - 2)"))
    )
    credited = touches.join(convs, ["user_id", "episode"]).select(
        "event_type", credit.alias("credit_e6")
    )
    per = credited.groupBy("event_type").agg(
        F.sum("credit_e6").cast("long").alias("credit_e6"),
        F.count(F.lit(1)).cast("long").alias("n_credited_touches"),
    )
    tot = per.agg(F.sum("credit_e6").cast("long").alias("t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "credit_e6",
        "n_credited_touches",
        round_int_ratio(F.col("credit_e6"), F.col("t"), 6).alias(
            "credit_share"
        ),
    )
