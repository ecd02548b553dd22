"""Feature-engineering queries — the ML-prep surface between the corpus
operators and a training job: null imputation, categorical one-hot
encoding, and fixed-width hashed bag-of-words vectors.

Each stays pure-Catalyst (arrays built with sequence/transform, hashes
via the repo's cross-engine rolling hash) so the same feature definitions
run batch and streaming, and each carries a full DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.functions.exact import (
    round_half_up,
    round_int_ratio,
)
from lambda_arc_events_filter_spark.functions.stats import group_percentile_cont
from lambda_arc_events_filter_spark.operators import dedup as D
from lambda_arc_events_filter_spark.operators import text as T
from lambda_arc_events_filter_spark.registry import register

# ---------------------------------------------------------------------------
# Null imputation (group statistics fill)
# ---------------------------------------------------------------------------


@register(
    "impute_missing_values",
    oracle="""
    WITH holes AS (
      SELECT event_id, event_type, user_id,
             CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value
      FROM events
    ),
    stats AS (
      SELECT event_type,
             round(avg(value), 6)           AS mean_v,
             round(quantile_cont(value, 0.5), 6) AS median_v
      FROM holes GROUP BY event_type
    )
    SELECT h.event_id, h.event_type,
           h.value IS NULL                       AS was_missing,
           round(coalesce(h.value, s.mean_v), 6)   AS value_mean_filled,
           round(coalesce(h.value, s.median_v), 6) AS value_median_filled
    FROM holes h JOIN stats s USING (event_type)
    """,
    tags=("ml", "agg"),
)
def impute_missing_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-statistic null imputation — the first transform of almost
    every feature pipeline: a deterministic 1-in-13 slice of values is
    nulled (simulating sensor dropouts), then filled with the event
    type's mean and median computed over the SURVIVING values.

    Means/medians aggregate per group (the median via the same exact
    sort-based operator family as ``agg_stats``) and broadcast back —
    never a window over the corpus; the fill itself is a coalesce in
    the join projection.  Both fill statistics round to 6 BEFORE the
    coalesce so filled and original values share one precision story.
    """
    e = load(spark, sf_dir, "events")
    holes = e.select(
        "event_id",
        "event_type",
        "user_id",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("value"),
    )
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    stats = group_percentile_cont(
        holes,
        ["event_type"],
        "value",
        {"median_v": 0.5},
        extra_aggs=[F.round(F.avg("value"), 6).alias("mean_v")],
    ).select(
        "event_type", "mean_v", F.round("median_v", 6).alias("median_v")
    )
    return (
        holes.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.col("value").isNull().alias("was_missing"),
            F.round(F.coalesce("value", "mean_v"), 6).alias(
                "value_mean_filled"
            ),
            F.round(F.coalesce("value", "median_v"), 6).alias(
                "value_median_filled"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Categorical one-hot encoding
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "features_onehot_encode",
    oracle="""
    SELECT event_id,
           CASE WHEN event_type = 'click'    THEN '1' ELSE '0' END ||
           CASE WHEN event_type = 'error'    THEN '1' ELSE '0' END ||
           CASE WHEN event_type = 'purchase' THEN '1' ELSE '0' END ||
           CASE WHEN event_type = 'signup'   THEN '1' ELSE '0' END ||
           CASE WHEN event_type = 'view'     THEN '1' ELSE '0' END
             AS type_onehot,
           CAST(date_part('dow', ts) AS BIGINT) AS dow,
           CASE WHEN value > 100 THEN 1 ELSE 0 END AS label_high_value
    FROM events
    WHERE event_id < 2000
    """,
    tags=("ml",),
)
def features_onehot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical one-hot encoding against a FIXED vocabulary (the five
    event types, ordered) plus a weekday ordinal and a binarized label —
    the feature row a GBDT/logreg trainer consumes.

    The fixed vocabulary is the production-correct choice (an inferred
    one re-orders features between runs and silently breaks a serving
    model); encoding is a pure projection — arrays of CASE indicators,
    zero shuffles, fused into the scan.  StringIndexer/OneHotEncoder in
    MLlib fit-then-transform; this is the transform half with the fit
    pinned, which is what a feature STORE materializes.
    """
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    # the indicator vector travels as a bit STRING: the driver's
    # canonicalizer cannot hash array cells, and a '10010' string is the
    # same fixed-vocabulary contract (position = category)
    onehot = F.concat(
        *[
            F.when(F.col("event_type") == t, "1").otherwise("0")
            for t in _EVENT_TYPES
        ]
    )
    return e.select(
        "event_id",
        onehot.alias("type_onehot"),
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.when(F.col("value") > 100, 1).otherwise(0).alias(
            "label_high_value"
        ),
    )


# ---------------------------------------------------------------------------
# Hashed bag-of-words (fixed-width feature hashing)
# ---------------------------------------------------------------------------

_HASH_BUCKETS = 32


@register(
    "features_hashed_bow",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE doc_id < 100
    ),
    hashed AS (
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split_regex(term, ''),
                   c -> ascii(c))),
                 (a, b) -> (a * 31 + b) % 2147483647) % {_HASH_BUCKETS}
               AS bucket
      FROM tok
    ),
    counts AS (
      SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c
      FROM hashed GROUP BY 1, 2
    ),
    packed AS (
      SELECT doc_id, list(bucket) AS bs, list(c) AS cs,
             CAST(sum(c) AS BIGINT) AS n_tokens
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id,
           array_to_string(
             list_transform(range(0, {_HASH_BUCKETS}),
               b -> CAST(coalesce(cs[list_position(bs, b)], 0) AS VARCHAR)),
             ',') AS bow,
           n_tokens
    FROM packed
    """,
    tags=("ml", "llm"),
)
def features_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width hashed bag-of-words (HashingTF's trick, done in pure
    Catalyst so it is oracle-able): each token hashes into one of 32
    buckets via the repo's cross-engine rolling hash, per-document
    bucket counts densify into a fixed-length array — the
    vocabulary-free text featurization that needs no fitted dictionary
    and never changes width when the corpus grows.

    Explode → (doc, bucket) count (map-side combinable) → one
    sequence/transform projection rebuilds the dense vector from the
    sparse counts — no UDF, no MLlib fit state.  MLlib's HashingTF uses
    murmur3, which DuckDB cannot replay; the rolling hash keeps the
    whole feature definition engine-portable (the distribution property
    is the same: deterministic, roughly uniform).
    """
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    bucket = F.expr(
        "pmod(aggregate(split(term, ''), 0L,"
        f" (a, c) -> pmod(a * 31 + ascii(c), 2147483647)), {_HASH_BUCKETS})"
    )
    counts = (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # dense vector serialized as a comma string (the driver canonicalizer
    # cannot hash array cells; the fixed width keeps position = bucket)
    dense = F.expr(
        f"concat_ws(',', transform(sequence(0, {_HASH_BUCKETS - 1}),"
        " b -> cast(coalesce(element_at(m, cast(b as bigint)), 0L)"
        " as string)))"
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket"), F.col("c")))
            ).alias("m"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
        .select("doc_id", dense.alias("bow"), "n_tokens")
    )


# ---------------------------------------------------------------------------
# Min-max / z-score feature scaling per group
# ---------------------------------------------------------------------------


@register(
    "features_minmax_scale",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             min(value) AS lo, max(value) AS hi,
             round(avg(value), 6) AS mu,
             round(stddev_samp(value), 6) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.lo) / nullif(s.hi - s.lo, 0), 6)
             AS value_minmax,
           round((e.value - s.mu) / nullif(s.sigma, 0), 6)
             AS value_zscore
    FROM events e JOIN stats s USING (event_type)
    """,
    tags=("ml", "agg"),
)
def features_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling, both standard recipes in one pass:
    min-max to [0,1] and the z-score — the normalization step between
    raw measures and any distance-based or gradient-based model
    (unscaled features let one column dominate the loss surface).

    Group statistics aggregate once and broadcast back (k rows — never
    a window over the corpus, the same two-scan shape as the anomaly
    z-score query); constant groups yield NULL via nullif rather than a
    division error.  μ and σ round to 6 BEFORE the scaling arithmetic
    so both engines transform with identical operands.
    """
    e = load(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sigma"),
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                (F.col("value") - F.col("lo"))
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0)),
                6,
            ).alias("value_minmax"),
            F.round(
                (F.col("value") - F.col("mu"))
                / F.nullif(F.col("sigma"), F.lit(0)),
                6,
            ).alias("value_zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified k-fold assignment (leakage-safe cross-validation splits)
# ---------------------------------------------------------------------------


@register(
    "features_kfold_assign",
    oracle="""
    WITH assigned AS (
      SELECT event_id, user_id, event_type, value,
             (user_id * 2654435761) % 5 AS fold
      FROM events
    )
    SELECT CAST(fold AS BIGINT)          AS fold,
           CAST(count(*) AS BIGINT)      AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(avg(CASE WHEN value > 100 THEN 1.0 ELSE 0.0 END), 6)
             AS label_rate
    FROM assigned
    GROUP BY fold
    """,
    tags=("ml", "agg"),
)
def features_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment keyed by USER
    (Knuth multiplicative hash), with per-fold size and label-rate
    checks — the split every evaluation depends on, made leakage-safe
    by construction: hashing the user id (not the event id) guarantees
    all of a user's events land in ONE fold, so no user straddles
    train and validation.

    Hash-based folds are the production-correct choice over rand():
    reproducible across runs, engines, and re-partitions (the same
    reason ``corpus_sample_stratified`` hashes).  The label-rate column
    is the stratification audit — folds should agree to within
    sampling noise.
    """
    e = load(spark, sf_dir, "events")
    assigned = e.select(
        "event_id",
        "user_id",
        "value",
        ((F.col("user_id") * 2654435761) % 5).alias("fold"),
    )
    return assigned.groupBy(F.col("fold").cast("long").alias("fold")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.round(
            F.avg(F.when(F.col("value") > 100, 1.0).otherwise(0.0)), 6
        ).alias("label_rate"),
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------------


@register(
    "features_target_encode",
    oracle="""
    WITH lab AS (
      SELECT event_id, event_type,
             CASE WHEN value > 100 THEN 1.0 ELSE 0.0 END AS y
      FROM events
    ),
    g AS (
      SELECT event_type, sum(y) AS sy, count(*) AS n
      FROM lab GROUP BY event_type
    )
    SELECT l.event_id, l.event_type,
           ((2 * CAST(g.sy - l.y AS BIGINT) * 1000000 + (g.n - 1))
               // nullif(2 * (g.n - 1), 0)) / 1000000.0 AS te_loo,
           ((2 * CAST(g.sy AS BIGINT) * 1000000 + g.n) // (2 * g.n))
               / 1000000.0                              AS te_naive
    FROM lab l JOIN g USING (event_type)
    """,
    tags=("ml", "agg"),
)
def features_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's categorical feature
    replaced by the mean label of its category EXCLUDING the row itself
    ((Σy − y)/(n−1)) — the standard high-cardinality-categorical
    encoding, with the self-exclusion that separates it from naive mean
    encoding (naive leaks each row's own label into its feature; the
    naive column is emitted alongside to show the delta).

    One group aggregate broadcast back, the exclusion algebraic in the
    join projection — no window, no second pass; y sums are exact (0/1
    indicators), so the LOO ratio divides identical operands in both
    engines.
    """
    e = load(spark, sf_dir, "events")
    y = F.when(F.col("value") > 100, 1.0).otherwise(0.0)
    lab = e.select("event_id", "event_type", y.alias("y"))
    g = lab.groupBy("event_type").agg(
        F.sum("y").alias("sy"), F.count(F.lit(1)).alias("n")
    )
    return (
        lab.join(F.broadcast(g), "event_type")
        .select(
            "event_id",
            "event_type",
            round_int_ratio(
                F.col("sy") - F.col("y"), F.col("n") - 1, 6
            ).alias("te_loo"),
            round_int_ratio(F.col("sy"), F.col("n"), 6).alias("te_naive"),
        )
    )


# ---------------------------------------------------------------------------
# Quantile normalization (per-source → pooled distribution mapping)
# ---------------------------------------------------------------------------


@register(
    "features_quantile_normalize",
    oracle="""
    WITH src AS (
      SELECT source,
             round(quantile_cont(n_chars, 0.1), 6) AS q1,
             round(quantile_cont(n_chars, 0.2), 6) AS q2,
             round(quantile_cont(n_chars, 0.3), 6) AS q3,
             round(quantile_cont(n_chars, 0.4), 6) AS q4,
             round(quantile_cont(n_chars, 0.5), 6) AS q5,
             round(quantile_cont(n_chars, 0.6), 6) AS q6,
             round(quantile_cont(n_chars, 0.7), 6) AS q7,
             round(quantile_cont(n_chars, 0.8), 6) AS q8,
             round(quantile_cont(n_chars, 0.9), 6) AS q9
      FROM documents GROUP BY source
    ),
    pool AS (
      SELECT round(quantile_cont(n_chars, 0.1), 6) AS q1,
             round(quantile_cont(n_chars, 0.2), 6) AS q2,
             round(quantile_cont(n_chars, 0.3), 6) AS q3,
             round(quantile_cont(n_chars, 0.4), 6) AS q4,
             round(quantile_cont(n_chars, 0.5), 6) AS q5,
             round(quantile_cont(n_chars, 0.6), 6) AS q6,
             round(quantile_cont(n_chars, 0.7), 6) AS q7,
             round(quantile_cont(n_chars, 0.8), 6) AS q8,
             round(quantile_cont(n_chars, 0.9), 6) AS q9
      FROM documents
    ),
    srcl AS (
      SELECT source, CAST(substr(k, 2) AS INT) AS decile, v AS src_value
      FROM (UNPIVOT src ON q1, q2, q3, q4, q5, q6, q7, q8, q9
            INTO NAME k VALUE v)
    ),
    pooll AS (
      SELECT CAST(substr(k, 2) AS INT) AS decile, v AS pooled_value
      FROM (UNPIVOT pool ON q1, q2, q3, q4, q5, q6, q7, q8, q9
            INTO NAME k VALUE v)
    )
    SELECT s.source, s.decile, s.src_value, p.pooled_value,
           round(p.pooled_value - s.src_value, 6) AS shift
    FROM srcl s JOIN pooll p USING (decile)
    ORDER BY source, decile
    """,
    tags=("features", "percentile"),
)
def features_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization mapping table: for each source, its decile
    grid over document length next to the POOLED corpus decile at the
    same rank fraction — the lookup a quantile-normalizing featurizer
    applies so every source's feature distribution matches the pooled
    one (the microarray-normalization trick, repurposed for corpus
    features).  ``shift`` is the additive correction at each decile.

    Scale shape: both grids ride ``group_percentile_cont`` — the
    value-banded exact-quantile plan (no per-group sort cliff, no
    partition-less window); the 9-decile widening is a ``stack`` over the
    per-source aggregate (|sources| rows), and the pooled grid broadcasts
    into the join.  Interpolation arithmetic is the same
    ``v_lo + frac·(v_hi−v_lo)`` both engines compute from identical
    doubles, rounded to 6.
    """
    d = load(spark, sf_dir, "documents").select("source", "n_chars")
    qs = {f"q{i}": i / 10.0 for i in range(1, 10)}
    src = group_percentile_cont(d, ["source"], "n_chars", qs)
    # pooled grid = the same helper with ONE group.  The group key must
    # not be a literal: Catalyst constant-folds a lit() partition key out
    # of the helper's (bounded, |bands|-row) offset window, which would
    # read as an empty partition spec to the registry-wide plan lint.
    # n_chars*0 is runtime-constant but not foldable, so the window keeps
    # its (single-valued) partition key and the lint keeps its teeth.
    pool = group_percentile_cont(
        d.withColumn("_g", F.col("n_chars") * 0), ["_g"], "n_chars", qs
    ).drop("_g")
    stack_expr = "stack(9, " + ", ".join(
        f"{i}, round(q{i}, 6)" for i in range(1, 10)
    ) + ") as (decile, v)"
    src_l = src.select("source", F.expr(stack_expr)).withColumnRenamed(
        "v", "src_value"
    )
    pool_l = pool.select(F.expr(stack_expr)).withColumnRenamed(
        "v", "pooled_value"
    )
    return (
        src_l.join(F.broadcast(pool_l), "decile")
        .select(
            "source",
            "decile",
            "src_value",
            "pooled_value",
            F.round(F.col("pooled_value") - F.col("src_value"), 6).alias(
                "shift"
            ),
        )
        .orderBy("source", "decile")
    )


# ---------------------------------------------------------------------------
# Point-in-time churn label + feature construction
# ---------------------------------------------------------------------------


@register(
    "features_churn_labels",
    oracle="""
    WITH bounds AS (
      SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM events
    ),
    feat AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events_7d,
             CAST(count(*) FILTER (WHERE event_type = 'purchase')
                  AS BIGINT) AS n_purchases_7d,
             CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                           FILTER (WHERE event_type = 'purchase'), 0)
                  AS BIGINT) AS purchase_cents_7d
      FROM events, bounds
      WHERE ts > cutoff - INTERVAL 7 DAY AND ts <= cutoff
      GROUP BY user_id
    ),
    future AS (
      SELECT DISTINCT user_id FROM events, bounds WHERE ts > cutoff
    )
    SELECT f.user_id, f.n_events_7d, f.n_purchases_7d, f.purchase_cents_7d,
           CASE WHEN fu.user_id IS NULL THEN 1 ELSE 0 END AS churned
    FROM feat f LEFT JOIN future fu ON fu.user_id = f.user_id
    ORDER BY f.user_id
    """,
    tags=("features", "labels", "join"),
)
def features_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct churn label construction: features from the
    7 days BEFORE the cutoff (event counts, purchase cents), label from
    the 7 days AFTER (churned = zero future events) — the
    leakage-discipline pattern every supervised training-set build
    needs: no feature reads past the cutoff, no label reads before it.

    Scale shape: the cutoff is a 1-row broadcast (max(ts) − 7d); both
    windows are pushed-down timestamp range filters on the fact scan;
    features are one map-side-combinable aggregate on ``user_id``; the
    label attaches via a left join against the distinct future-active
    keys (Spark plans the aggregated small side as broadcast).  Money in
    integer cents.
    """
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_type", "value")
    cutoff = e.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("cutoff")
    )
    feat = (
        e.crossJoin(F.broadcast(cutoff))
        .filter(
            (F.col("ts") > F.col("cutoff") - F.expr("INTERVAL 7 DAY"))
            & (F.col("ts") <= F.col("cutoff"))
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_7d"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_purchases_7d"
            ),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        round_half_up(F.col("value") * 100).cast("long"),
                    )
                ),
                F.lit(0),
            ).alias("purchase_cents_7d"),
        )
    )
    future = (
        e.crossJoin(F.broadcast(cutoff))
        .filter(F.col("ts") > F.col("cutoff"))
        .select("user_id")
        .distinct()
        .withColumn("_active", F.lit(1))
    )
    return (
        feat.join(future, "user_id", "left")
        .select(
            "user_id",
            "n_events_7d",
            "n_purchases_7d",
            "purchase_cents_7d",
            F.when(F.col("_active").isNull(), 1).otherwise(0).alias("churned"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Decision-stump split search (weighted Gini over candidate thresholds)
# ---------------------------------------------------------------------------


@register(
    "events_best_split_gini",
    oracle="""
    WITH pts AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS x,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    cand AS (
      SELECT DISTINCT CAST(unnest(quantile_cont(x,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]))
               AS BIGINT) AS thr
      FROM pts
    ),
    split AS (
      SELECT c.thr,
             CAST(count(*) FILTER (WHERE p.x <= c.thr) AS BIGINT) AS nl,
             CAST(sum(p.y) FILTER (WHERE p.x <= c.thr) AS BIGINT) AS pl,
             CAST(count(*) FILTER (WHERE p.x > c.thr) AS BIGINT) AS nr,
             CAST(sum(p.y) FILTER (WHERE p.x > c.thr) AS BIGINT) AS pr
      FROM pts p CROSS JOIN cand c
      GROUP BY c.thr
    ),
    scored AS (
      SELECT thr, nl, nr,
             (nl * (1.0 - (CAST(pl AS DOUBLE) / nl) * (CAST(pl AS DOUBLE) / nl)
                        - (1.0 - CAST(pl AS DOUBLE) / nl)
                          * (1.0 - CAST(pl AS DOUBLE) / nl))
              + nr * (1.0 - (CAST(pr AS DOUBLE) / nr) * (CAST(pr AS DOUBLE) / nr)
                          - (1.0 - CAST(pr AS DOUBLE) / nr)
                            * (1.0 - CAST(pr AS DOUBLE) / nr)))
               / (nl + nr) AS gini
      FROM split WHERE nl > 0 AND nr > 0
    )
    SELECT thr AS threshold_cents, nl AS n_left, nr AS n_right,
           round(gini, 6) AS weighted_gini,
           CASE WHEN thr = (SELECT thr FROM scored
                            ORDER BY gini, thr LIMIT 1)
                THEN 1 ELSE 0 END AS is_best
    FROM scored ORDER BY thr
    """,
    tags=("ml", "agg"),
)
def events_best_split_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split search — the inner loop of every tree
    learner (CART/GBDT): score each candidate threshold on the value
    feature by the weighted Gini impurity of the (purchase / not)
    label split, and flag the argmin — done as ONE pass over the fact
    per the histogram-split trick (the cross join against ≤9 broadcast
    candidate thresholds evaluates every split's four counts in a
    single aggregate, exactly how LightGBM's histogram method avoids
    re-scanning per threshold).

    Candidates are value deciles (the quantile machinery), counts are
    exact integers, and each Gini is an identical-op float expression —
    the argmin is deterministic with a threshold tie-break.  Scale
    shape: fact × 9 broadcast rows → map-side-combinable aggregate;
    no sort, no window over the fact.
    """
    pts = load(spark, sf_dir, "events").select(
        round_half_up(F.col("value") * 100).cast("long").alias("x"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    qs = {f"q{i}": i / 10.0 for i in range(1, 10)}
    grid = group_percentile_cont(
        pts.withColumn("_g", F.col("x") * 0), ["_g"], "x", qs
    ).drop("_g")
    cand = (
        grid.select(
            F.explode(
                F.array(
                    *[round_half_up(F.col(f"q{i}")).cast("long") for i in range(1, 10)]
                )
            ).alias("thr")
        )
        .distinct()
    )
    split = (
        pts.crossJoin(F.broadcast(cand))
        .groupBy("thr")
        .agg(
            F.count(F.when(F.col("x") <= F.col("thr"), 1)).alias("nl"),
            F.coalesce(
                F.sum(F.when(F.col("x") <= F.col("thr"), F.col("y"))),
                F.lit(0),
            ).alias("pl"),
            F.count(F.when(F.col("x") > F.col("thr"), 1)).alias("nr"),
            F.coalesce(
                F.sum(F.when(F.col("x") > F.col("thr"), F.col("y"))),
                F.lit(0),
            ).alias("pr"),
        )
        .filter((F.col("nl") > 0) & (F.col("nr") > 0))
    )

    def gini_side(p, n):
        rate = p.cast("double") / n
        return n * (
            F.lit(1.0) - rate * rate - (F.lit(1.0) - rate) * (F.lit(1.0) - rate)
        )

    scored = split.select(
        "thr",
        "nl",
        "nr",
        (
            (gini_side(F.col("pl"), F.col("nl"))
             + gini_side(F.col("pr"), F.col("nr")))
            / (F.col("nl") + F.col("nr"))
        ).alias("gini"),
    )
    scored = scored.localCheckpoint(eager=False)
    best = scored.orderBy("gini", "thr").limit(1).select(
        F.col("thr").alias("best_thr")
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            F.col("thr").alias("threshold_cents"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            F.round("gini", 6).alias("weighted_gini"),
            F.when(F.col("thr") == F.col("best_thr"), 1)
            .otherwise(0)
            .alias("is_best"),
        )
        .orderBy("threshold_cents")
    )


# ---------------------------------------------------------------------------
# Trained quality classifier: full-batch gradient-descent logistic
# regression as ONE declarative plan (no driver-side parameter loop)
# ---------------------------------------------------------------------------


@register(
    "docs_quality_logreg_gd",
    oracle="""
    WITH feat AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             len(sp) / 100.0                              AS x1,
             len(list_distinct(sp)) * 1.0 / len(sp)       AS x2,
             len(list_filter(sp, t -> list_contains(
                 ['a', 'the', 'and', 'of', 'to'], t)))
               * 1.0 / len(sp)                            AS x3
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS sp
            FROM documents)
    ),
    it1 AS (
      SELECT sum(y - 0.5) / count(*)        AS b0,
             sum(x1 * (y - 0.5)) / count(*) AS b1,
             sum(x2 * (y - 0.5)) / count(*) AS b2,
             sum(x3 * (y - 0.5)) / count(*) AS b3
      FROM feat
    ),
    p1 AS (
      SELECT f.*,
             1.0 / (1.0 + exp(-(it1.b0 + it1.b1 * f.x1
                                + it1.b2 * f.x2 + it1.b3 * f.x3))) AS p
      FROM feat f, it1
    ),
    delta AS (
      SELECT sum(y - p) / count(*)        AS d0,
             sum(x1 * (y - p)) / count(*) AS d1,
             sum(x2 * (y - p)) / count(*) AS d2,
             sum(x3 * (y - p)) / count(*) AS d3
      FROM p1
    ),
    it2 AS (
      SELECT it1.b0 + delta.d0 AS b0, it1.b1 + delta.d1 AS b1,
             it1.b2 + delta.d2 AS b2, it1.b3 + delta.d3 AS b3
      FROM it1, delta
    )
    SELECT f.doc_id, f.lang, CAST(f.y AS BIGINT) AS label,
           round(1.0 / (1.0 + exp(-(it2.b0 + it2.b1 * f.x1
                 + it2.b2 * f.x2 + it2.b3 * f.x3))), 6) AS prob,
           round(1.0 / (1.0 + exp(-(it2.b0 + it2.b1 * f.x1
                 + it2.b2 * f.x2 + it2.b3 * f.x3))), 6) >= 0.5 AS pred
    FROM feat f, it2
    """,
    tags=("ml", "llm"),
)
def docs_quality_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed model TRAINING as a declarative plan: a logistic-
    regression quality classifier (label = the 'en' slice, features =
    token count / type-token ratio / stopword ratio + intercept) fit by
    TWO full-batch gradient-descent steps (eta = 1, w_0 = 0) and scored
    back over every document — the data-side twin of the quality-
    classifier gate (GPT-3/LLaMA-style "looks like the reference
    corpus" filtering) that most curation stacks train offline.

    The whole fit is ONE lazy plan — no driver-side parameter loop, no
    collect: step 1's sigmoid at w=0 is the constant 0.5, so the first
    gradient is a plain 4-component aggregate; it broadcasts back
    (scalar-subquery shape) to score step 2's residuals, whose gradient
    aggregate broadcasts back again for the final projection.  Each GD
    step is sum(x_j * residual)/N — map-side combinable, one 4-double
    row moving between stages; at 100 TB each step is one scan + one
    partial-agg tree, the textbook distributed-GD shape (the feature
    relation recomputes per consumer as a plan diamond; a cluster run
    of MANY steps would persist it once — the engine-wide materialize
    lever).  Gradient sums are order-sensitive doubles: cross-engine
    noise is ~1e-13 against a round-6 emit, and ``pred`` compares the
    ROUNDED probability so the hashed cell and the decision can never
    disagree between engines.
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    n_tok = T.token_count_expr()
    feat = d.select(
        "doc_id",
        "lang",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        (n_tok / F.lit(100.0)).alias("x1"),
        (T.distinct_count_expr() * 1.0 / n_tok).alias("x2"),
        (T.stopword_count_expr() * 1.0 / n_tok).alias("x3"),
    )

    def grad(scored: DataFrame, resid: F.Column, names: tuple[str, ...]):
        cnt = F.count(F.lit(1))
        return scored.agg(
            (F.sum(resid) / cnt).alias(names[0]),
            *[
                (F.sum(F.col(f"x{j}") * resid) / cnt).alias(names[j])
                for j in (1, 2, 3)
            ],
        )

    def logit(b: str) -> F.Column:
        return (
            F.col(f"{b}0")
            + F.col(f"{b}1") * F.col("x1")
            + F.col(f"{b}2") * F.col("x2")
            + F.col(f"{b}3") * F.col("x3")
        )

    sigmoid = lambda z: F.lit(1.0) / (F.lit(1.0) + F.exp(-z))  # noqa: E731
    it1 = grad(feat, F.col("y") - 0.5, ("b0", "b1", "b2", "b3"))
    p1 = feat.join(F.broadcast(it1)).withColumn("p", sigmoid(logit("b")))
    delta = grad(p1, F.col("y") - F.col("p"), ("d0", "d1", "d2", "d3"))
    it2 = (
        it1.join(F.broadcast(delta))
        .select(
            *[
                (F.col(f"b{j}") + F.col(f"d{j}")).alias(f"w{j}")
                for j in range(4)
            ]
        )
    )
    prob = F.round(sigmoid(logit("w")), 6)
    return (
        feat.join(F.broadcast(it2))
        .select(
            "doc_id",
            "lang",
            F.col("y").cast("bigint").alias("label"),
            prob.alias("prob"),
            (prob >= 0.5).alias("pred"),
        )
    )


# ---------------------------------------------------------------------------
# Top principal component via power iteration (distributed linear algebra)
# ---------------------------------------------------------------------------


@register(
    "features_pca_power_iteration",
    oracle="""
    WITH ed AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    mu AS (SELECT i, round(avg(v), 6) AS mu FROM ed GROUP BY i),
    cnt AS (SELECT count(*) AS n FROM embeddings),
    edc AS (
      SELECT ed.vec_id, ed.i, ed.v - mu.mu AS xc
      FROM ed JOIN mu USING (i)
    ),
    y1 AS (SELECT vec_id, sum(xc * 0.125) AS y FROM edc GROUP BY vec_id),
    w1 AS (
      SELECT edc.i, sum(edc.xc * y1.y) / cnt.n AS w
      FROM edc JOIN y1 USING (vec_id), cnt
      GROUP BY edc.i, cnt.n
    ),
    n1 AS (SELECT sqrt(sum(w * w)) AS nor FROM w1),
    v1 AS (SELECT i, round(w / nor, 6) AS vl FROM w1, n1),
    y2 AS (
      SELECT edc.vec_id, sum(edc.xc * v1.vl) AS y
      FROM edc JOIN v1 USING (i) GROUP BY edc.vec_id
    ),
    w2 AS (
      SELECT edc.i, sum(edc.xc * y2.y) / cnt.n AS w
      FROM edc JOIN y2 USING (vec_id), cnt
      GROUP BY edc.i, cnt.n
    ),
    n2 AS (SELECT sqrt(sum(w * w)) AS nor FROM w2)
    SELECT w2.i AS dim,
           round(w2.w / n2.nor, 6) AS loading,
           round(n2.nor, 6) AS eigenvalue_est
    FROM w2, n2
    """,
    tags=("ml", "llm", "similarity"),
)
def features_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by POWER ITERATION
    — distributed linear algebra as pure aggregates, the PCA/spectral
    building block (dominant direction for whitened retrieval, drift
    monitoring, low-rank compression).  Two iterations from the exact
    dyadic start v0 = 1/8 per dim (dim = 64, so 1/sqrt(64) is exactly
    representable): each step computes C·v WITHOUT materializing the
    covariance — y_r = (x_r − mu)·v per row (one vec-keyed aggregate),
    then w_i = Σ_r y_r (x_r − mu)_i / n (one dim-keyed aggregate) — the
    matvec factorization that keeps work linear in nnz at any corpus
    size, vs the O(d²) covariance build PCA-via-Gram would need.

    Cross-engine discipline: the per-dim means round at 6 BEFORE
    centering (the ``embedding_whitening_stats`` precedent) and the
    iterate re-normalizes AND ROUNDS to 6 between iterations, so both
    engines feed bit-identical vectors into step 2 — float drift cannot
    compound across iterations.  ``eigenvalue_est`` = ‖C·v1‖ (v1 unit),
    the Rayleigh-style top-eigenvalue estimate.  The centered relation
    is a 4-consumer plan diamond at fixture scale; a many-iteration
    production run would persist it once (the engine-wide materialize
    lever) and broadcast the d-row iterate exactly as here.  Honest
    convergence note: isolation of the top direction needs
    (lambda2/lambda1)^k separation; the near-isotropic fixture corpus has
    ratios ~1, so 2 iterations demonstrate the distributed kernel (and
    are exactly replayed by the NumPy reference test) without claiming a
    converged eigenvector there — on real embedding corpora, whose
    spectra are sharply peaked, the same plan converges in a handful of
    rounds.
    """
    emb = load(spark, sf_dir, "embeddings")
    ed = emb.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("i0", "v"),
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "v")
    mu = ed.groupBy("i").agg(F.round(F.avg("v"), 6).alias("mu"))
    cnt = emb.agg(F.count(F.lit(1)).alias("n"))
    edc = ed.join(F.broadcast(mu), "i").withColumn(
        "xc", F.col("v") - F.col("mu")
    )

    def matvec(v_rel: DataFrame | None) -> DataFrame:
        if v_rel is None:  # v0 = 1/8 in every dimension (exact dyadic)
            y = edc.groupBy("vec_id").agg(
                F.sum(F.col("xc") * 0.125).alias("y")
            )
        else:
            y = (
                edc.join(F.broadcast(v_rel), "i")
                .groupBy("vec_id")
                .agg(F.sum(F.col("xc") * F.col("vl")).alias("y"))
            )
        return (
            edc.join(y, "vec_id")
            .groupBy("i")
            .agg(F.sum(F.col("xc") * F.col("y")).alias("wraw"))
            .join(F.broadcast(cnt))
            .select("i", (F.col("wraw") / F.col("n")).alias("w"))
        )

    w1 = matvec(None)
    n1 = w1.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nor"))
    v1 = w1.join(F.broadcast(n1)).select(
        "i", F.round(F.col("w") / F.col("nor"), 6).alias("vl")
    )
    w2 = matvec(v1)
    n2 = w2.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nor"))
    return w2.join(F.broadcast(n2)).select(
        F.col("i").alias("dim"),
        F.round(F.col("w") / F.col("nor"), 6).alias("loading"),
        F.round(F.col("nor"), 6).alias("eigenvalue_est"),
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence / information-value categorical encoding
# ---------------------------------------------------------------------------


@register(
    "features_woe_iv",
    oracle="""
    WITH lab AS (
      SELECT o_orderpriority AS category,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
      FROM orders
    ),
    g AS (
      SELECT category,
             CAST(sum(1 - bad) AS BIGINT) AS n_good,
             CAST(sum(bad) AS BIGINT) AS n_bad
      FROM lab GROUP BY 1
    ),
    t AS (SELECT sum(n_good) AS tg, sum(n_bad) AS tb FROM g),
    w AS (
      SELECT g.category, g.n_good, g.n_bad,
             ((g.n_good + 0.5) / (t.tg + 0.5)) AS pg,
             ((g.n_bad + 0.5) / (t.tb + 0.5)) AS pb
      FROM g, t
    )
    SELECT category, n_good, n_bad,
           round(ln(pg / pb), 6) AS woe,
           round((pg - pb) * ln(pg / pb), 6) AS iv_contrib
    FROM w ORDER BY category
    """,
    tags=("features", "agg"),
)
def features_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding with per-category information-value
    contributions (Siddiqi 2006, the credit-scorecard standard): for
    each order priority, ``WOE = ln(%good / %bad)`` against the
    order-failed label, with the +0.5 Laplace cell smoothing that keeps
    empty cells finite; ``IV = Σ (%good − %bad)·WOE`` ranks the
    feature's predictive power (the supervised counterpart to the
    leave-one-out target encoder, D130, which produces per-ROW codes —
    WOE produces per-CATEGORY codes with a power audit).

    Scale shape: ONE map-side-combinable fact aggregate to the
    |categories|-row table, then the totals ride a broadcast cross
    join — the same two-step every encoder here uses.  Smoothed
    proportions divide BEFORE the log in both engines (identical op
    sequence), round-6.
    """
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    )
    g = o.groupBy("category").agg(
        F.sum(1 - F.col("bad")).cast("bigint").alias("n_good"),
        F.sum("bad").cast("bigint").alias("n_bad"),
    )
    t = g.agg(F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb"))
    pg = (F.col("n_good") + 0.5) / (F.col("tg") + 0.5)
    pb = (F.col("n_bad") + 0.5) / (F.col("tb") + 0.5)
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "category",
            "n_good",
            "n_bad",
            F.round(F.log(pg / pb), 6).alias("woe"),
            F.round((pg - pb) * F.log(pg / pb), 6).alias("iv_contrib"),
        )
        .orderBy("category")
    )
