"""Model-evaluation analytics — the offline scoring loop of an ML platform
(SURVEY.md §2 F-wave): ranking quality (AUC), calibration by score decile,
and threshold operating points, all computed over the ``events`` fact with
a deterministic hash score so both engines see the identical model.

Scale shape shared by all three: ONE map-side-combinable aggregate over
the fact table (group by the 1000-bucket score key), then all ordering /
cumulation happens on the ≤1000-row grouped relation — rank arithmetic
rides ``functions/rank.py`` (value-banded, no single-partition
window over anything that grows), and every reported ratio is
integer/integer rounded in integer space (``functions/exact.py``), so a
fixture regeneration can never land on a cross-engine half-boundary.
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
from lambda_arc_events_filter_spark.registry import register

#: Deterministic pseudo-model: score bucket k in [0, 1000) from the event
#: id, label = high-value event.  Part of the query definitions.
_SCORE_SQL = "(event_id * 2654435761) % 1000"
_LABEL_SQL = "CASE WHEN value > 100 THEN 1 ELSE 0 END"


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        ((F.col("event_id") * 2654435761) % 1000).alias("k"),
        F.when(F.col("value") > 100, 1).otherwise(0).alias("y"),
    )


# ---------------------------------------------------------------------------
# F1: ROC AUC via tie-corrected rank sums
# ---------------------------------------------------------------------------


@register(
    "score_auc_rank",
    oracle=f"""
    WITH s AS (
      SELECT {_SCORE_SQL} AS k, {_LABEL_SQL} AS y FROM events
    ),
    g AS (SELECT k, count(*) AS cnt, sum(y) AS pos FROM s GROUP BY k),
    r AS (SELECT k, cnt, pos, cnt - pos AS neg,
                 sum(cnt) OVER (ORDER BY k) AS cum_cnt,
                 sum(pos) OVER (ORDER BY k) AS cum_pos
          FROM g),
    t AS (SELECT sum((cum_cnt - cum_pos - (cnt - pos)) * pos) AS a,
                 sum((cnt - pos) * pos)                       AS b,
                 sum(pos)                                     AS n1,
                 sum(cnt - pos)                               AS n0
          FROM r)
    SELECT CAST(n1 AS BIGINT) AS n_pos,
           CAST(n0 AS BIGINT) AS n_neg,
           ((2 * (2 * a + b) * 1000000 + 2 * n1 * n0)
               // (2 * 2 * n1 * n0)) / 1000000.0 AS auc
    FROM t
    """,
    tags=("ml", "stats", "scale"),
)
def score_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the hash score against the high-value label, by the
    rank-sum identity with exact tie correction:
    AUC = (Σ neg_below·pos_at + ½·Σ neg_at·pos_at) / (n₁·n₀) — the
    probability a random positive outscores a random negative, ties at
    half credit (the Mann-Whitney estimator ``events_mann_whitney_u``
    tests; here it is the ranking metric).

    No per-row ranks: one fact-scale group-by on the score bucket, the
    cumulative counts via the value-banded running sum, and the
    final AUC as ONE integer ratio (2A+B over 2n₁n₀) rounded in integer
    space — every intermediate is an exact integer, so the engines agree
    bit-for-bit at any scale.
    """
    g = _scored(spark, sf_dir).groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    run = global_order_stats(
        g,
        ["k"],
        running={"cum_cnt": ("cnt", "sum"), "cum_pos": ("pos", "sum")},
        key=["k"],
    )
    neg_at = F.col("cnt") - F.col("pos")
    neg_below = (F.col("cum_cnt") - F.col("cum_pos")) - neg_at
    t = run.agg(
        F.sum(neg_below * F.col("pos")).alias("a"),
        F.sum(neg_at * F.col("pos")).alias("b"),
        F.sum("pos").alias("n1"),
        F.sum(neg_at).alias("n0"),
    )
    return t.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        round_int_ratio(
            F.lit(2) * F.col("a") + F.col("b"),
            F.lit(2) * F.col("n1") * F.col("n0"),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# F2: calibration / lift table by score decile
# ---------------------------------------------------------------------------


@register(
    "score_calibration_deciles",
    oracle=f"""
    WITH s AS (
      SELECT event_id, {_SCORE_SQL} AS k, {_LABEL_SQL} AS y FROM events
    ),
    dec AS (
      SELECT k, y, ntile(10) OVER (ORDER BY k, event_id) AS decile FROM s
    ),
    per AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(y) AS BIGINT)   AS n_pos,
             CAST(sum(k) AS BIGINT)   AS sum_k
      FROM dec GROUP BY decile
    ),
    tot AS (SELECT sum(n_pos) AS total_pos FROM per)
    SELECT CAST(per.decile AS INTEGER) AS decile, n_events, n_pos,
           ((2 * sum_k * 1000 + n_events) // (2 * n_events)) / 1000000.0
               AS avg_score,
           ((2 * n_pos * 1000000 + n_events) // (2 * n_events))
               / 1000000.0 AS pos_rate,
           ((2 * (SELECT sum(p2.n_pos) FROM per p2
                  WHERE p2.decile >= per.decile) * 1000000 + tot.total_pos)
               // (2 * tot.total_pos)) / 1000000.0 AS cum_gain_from_top
    FROM per, tot
    """,
    tags=("ml", "stats"),
)
def score_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / cumulative-gain table: events cut into score deciles
    (decile 10 = highest scores), each decile's positive rate vs its
    average score (calibration), plus the share of ALL positives captured
    from the top down to this decile (the gains chart a targeting
    campaign reads).

    Deciles via the arithmetic ntile on the value-banded global rank
    (``ntile_from_rank`` — never a single-partition ntile window over the
    fact), per-decile stats in one aggregate, the 10-row cumulative gain
    via a triangular self-join.  avg_score is the exact integer ratio
    Σk / (1000·n); all ratios integer-rounded.
    """
    s = _scored(spark, sf_dir)
    n_row = s.agg(F.count(F.lit(1)).alias("_n"))
    ranked = global_order_stats(
        s, ["k", "event_id"], rank="_i", key=["event_id"]
    ).join(F.broadcast(n_row))
    per = (
        ranked.withColumn(
            "decile", ntile_from_rank(F.col("_i"), F.col("_n"), 10)
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )
    tot = per.agg(F.sum("n_pos").alias("total_pos"))
    a, b = per.alias("a"), per.alias("b")
    cum = (
        a.join(b, F.col("b.decile") >= F.col("a.decile"))
        .groupBy(F.col("a.decile").alias("decile"))
        .agg(F.sum("b.n_pos").alias("cum_pos_top"))
    )
    return (
        per.join(cum, "decile")
        .join(F.broadcast(tot))
        .select(
            "decile",
            "n_events",
            "n_pos",
            round_int_ratio(
                F.col("sum_k"), F.col("n_events"), 6, a_scale=3
            ).alias("avg_score"),
            round_int_ratio(F.col("n_pos"), F.col("n_events"), 6).alias(
                "pos_rate"
            ),
            round_int_ratio(
                F.col("cum_pos_top"), F.col("total_pos"), 6
            ).alias("cum_gain_from_top"),
        )
    )


# ---------------------------------------------------------------------------
# F3: threshold operating points (confusion matrix sweep)
# ---------------------------------------------------------------------------


@register(
    "score_threshold_metrics",
    oracle=f"""
    WITH s AS (
      SELECT {_SCORE_SQL} AS k, {_LABEL_SQL} AS y FROM events
    ),
    g AS (SELECT k, count(*) AS cnt, sum(y) AS pos FROM s GROUP BY k),
    tot AS (SELECT sum(pos) AS all_pos, sum(cnt - pos) AS all_neg FROM g),
    th AS (SELECT unnest(generate_series(100, 900, 100)) AS thr),
    cm AS (
      SELECT th.thr,
             sum(CASE WHEN g.k >= th.thr THEN g.pos ELSE 0 END) AS tp,
             sum(CASE WHEN g.k >= th.thr THEN g.cnt - g.pos ELSE 0 END) AS fp
      FROM g CROSS JOIN th GROUP BY th.thr
    )
    SELECT CAST(cm.thr AS BIGINT)                 AS threshold,
           CAST(tp AS BIGINT)                     AS tp,
           CAST(fp AS BIGINT)                     AS fp,
           CAST(tot.all_pos - tp AS BIGINT)       AS fn,
           CAST(tot.all_neg - fp AS BIGINT)       AS tn,
           ((2 * tp * 1000000 + (tp + fp)) // nullif(2 * (tp + fp), 0))
               / 1000000.0                        AS precision,
           ((2 * tp * 1000000 + tot.all_pos) // nullif(2 * tot.all_pos, 0))
               / 1000000.0                        AS recall,
           ((2 * (2 * tp) * 1000000 + (2 * tp + fp + tot.all_pos - tp))
               // nullif(2 * (2 * tp + fp + tot.all_pos - tp), 0))
               / 1000000.0                        AS f1
    FROM cm, tot
    """,
    tags=("ml", "stats"),
)
def score_threshold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep: confusion matrix + precision/recall/F1 at
    nine score thresholds (0.1 … 0.9) — the table behind a
    precision-recall tradeoff decision.

    The fact table is aggregated ONCE (score-bucket group-by, ≤1000
    rows); the 9-threshold sweep is a broadcast cross join against that
    tiny grouped relation, so adding thresholds costs nothing at corpus
    scale.  F1 = 2TP/(2TP+FP+FN) as a single integer ratio.
    """
    g = _scored(spark, sf_dir).groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    tot = g.agg(
        F.sum("pos").alias("all_pos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("all_neg"),
    )
    th = F.explode(
        F.array(*[F.lit(t) for t in range(100, 1000, 100)])
    ).alias("thr")
    cm = (
        g.select("k", "cnt", "pos", th)
        .groupBy("thr")
        .agg(
            F.sum(F.when(F.col("k") >= F.col("thr"), F.col("pos")).otherwise(0))
            .alias("tp"),
            F.sum(
                F.when(
                    F.col("k") >= F.col("thr"), F.col("cnt") - F.col("pos")
                ).otherwise(0)
            ).alias("fp"),
        )
    )
    tp, fp = F.col("tp"), F.col("fp")
    all_pos, all_neg = F.col("all_pos"), F.col("all_neg")
    fn = all_pos - tp
    return cm.join(F.broadcast(tot)).select(
        F.col("thr").cast("long").alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        (all_neg - fp).cast("long").alias("tn"),
        round_int_ratio(tp, tp + fp, 6).alias("precision"),
        round_int_ratio(tp, all_pos, 6).alias("recall"),
        round_int_ratio(F.lit(2) * tp, F.lit(2) * tp + fp + fn, 6).alias(
            "f1"
        ),
    )


# ---------------------------------------------------------------------------
# G3: Spearman rank correlation between model score and outcome value
# ---------------------------------------------------------------------------


@register(
    "score_spearman_rank_corr",
    oracle=f"""
    WITH s AS (
      SELECT {_SCORE_SQL} AS ka,
             least(999, greatest(0, CAST(floor(value) AS INT))) AS kb
      FROM events WHERE value IS NOT NULL
    ),
    n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
    ma AS (SELECT ka, CAST(count(*) AS BIGINT) AS ca FROM s GROUP BY ka),
    mb AS (SELECT kb, CAST(count(*) AS BIGINT) AS cb FROM s GROUP BY kb),
    ra AS (SELECT ka, ca,
                  2 * sum(ca) OVER (ORDER BY ka) - ca + 1
                    - (SELECT n + 1 FROM n_tot) AS xa
           FROM ma),
    rb AS (SELECT kb, cb,
                  2 * sum(cb) OVER (ORDER BY kb) - cb + 1
                    - (SELECT n + 1 FROM n_tot) AS yb
           FROM mb),
    joint AS (SELECT ka, kb, CAST(count(*) AS BIGINT) AS c
              FROM s GROUP BY ka, kb),
    sums AS (
      SELECT (SELECT sum(c * ra.xa * rb.yb)
              FROM joint JOIN ra USING (ka) JOIN rb USING (kb)) AS sxy,
             (SELECT sum(ca * xa * xa) FROM ra) AS sxx,
             (SELECT sum(cb * yb * yb) FROM rb) AS syy
    )
    SELECT (SELECT n FROM n_tot) AS n_events,
           round(sxy / sqrt(1.0 * sxx * syy), 6) AS spearman_rho
    FROM sums
    """,
    tags=("ml", "stats", "scale"),
)
def score_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the hash model score and the
    observed event value (bucketed to integer units) — the monotone-
    association metric a ranking team reads when Pearson is distorted by
    heavy tails: does a higher score RANK with a higher outcome, ties
    handled by the exact fractional-rank convention.

    No per-row ranks ever materialize: both variables are bucketed (≤1000
    distinct each — part of the query definition), so each row's
    fractional rank is a BUCKET attribute.  Doubled centered ranks
    x̃ = 2·cum − c + 1 − (n+1) keep everything integer (Σx̃ = 0 exactly, so
    the covariance has no mean-correction term), the cross moment rides
    the joint (ka, kb) contingency aggregate (≤10⁶ cells), and
    ρ = Σcx̃ỹ / √(Σcx̃²·Σcỹ²) is one deterministic double expression from
    exact int64 sums (≤4n³ ≈ 8.6×10¹⁷ at sf0.1 — inside int64; the final
    int→double conversions round identically in both engines).
    Cumulative bucket counts ride the value-banded running sum, so
    nothing single-partitions — at any corpus size the heavy relations
    are the fact scan and the bounded contingency table.
    """
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        ((F.col("event_id") * 2654435761) % 1000).alias("ka"),
        F.least(
            F.lit(999),
            F.greatest(F.lit(0), F.floor("value").cast("int")),
        ).alias("kb"),
    )
    # NOTE deliberately NOT checkpointed: s is a 2-column projection of
    # the FACT relation — its three aggregate consumers each re-scan the
    # pruned parquet (cheap, map-combinable) rather than pinning a
    # fact-sized intermediate to executor storage.
    n_tot = s.agg(F.count(F.lit(1)).alias("n"))

    def centered(marg: DataFrame, k: str, c: str, out: str) -> DataFrame:
        run = global_order_stats(
            marg, [k], running={"cum": (c, "sum")}, key=[k]
        )
        return run.join(F.broadcast(n_tot)).select(
            k,
            F.col(c).alias(f"_c_{out}"),
            (
                F.lit(2) * F.col("cum")
                - F.col(c)
                + F.lit(1)
                - (F.col("n") + F.lit(1))
            ).alias(out),
        )

    ma = centered(
        s.groupBy("ka").agg(F.count(F.lit(1)).alias("ca")), "ka", "ca", "xa"
    )
    mb = centered(
        s.groupBy("kb").agg(F.count(F.lit(1)).alias("cb")), "kb", "cb", "yb"
    )
    joint = s.groupBy("ka", "kb").agg(F.count(F.lit(1)).alias("c"))
    sxy = (
        joint.join(F.broadcast(ma.select("ka", "xa")), "ka")
        .join(F.broadcast(mb.select("kb", "yb")), "kb")
        .agg(F.sum(F.col("c") * F.col("xa") * F.col("yb")).alias("sxy"))
    )
    sxx = ma.agg(
        F.sum(F.col("_c_xa") * F.col("xa") * F.col("xa")).alias("sxx")
    )
    syy = mb.agg(
        F.sum(F.col("_c_yb") * F.col("yb") * F.col("yb")).alias("syy")
    )
    return (
        sxy.crossJoin(F.broadcast(sxx))
        .crossJoin(F.broadcast(syy))
        .crossJoin(F.broadcast(n_tot))
        .select(
            F.col("n").alias("n_events"),
            F.round(
                F.col("sxy")
                / F.sqrt(F.lit(1.0) * F.col("sxx") * F.col("syy")),
                6,
            ).alias("spearman_rho"),
        )
    )


# ---------------------------------------------------------------------------
# N2: cross-validated AUC — per-fold ranking quality + exact fold spread
# ---------------------------------------------------------------------------


@register(
    "score_auc_by_fold",
    oracle=f"""
    WITH s AS (
      SELECT (event_id * 7919) % 5 AS fold, {_SCORE_SQL} AS k,
             {_LABEL_SQL} AS y
      FROM events
    ),
    g AS (SELECT fold, k, count(*) AS cnt, sum(y) AS pos
          FROM s GROUP BY fold, k),
    r AS (SELECT fold, k, cnt, pos, cnt - pos AS neg,
                 sum(cnt) OVER w AS cum_cnt,
                 sum(pos) OVER w AS cum_pos
          FROM g WINDOW w AS (PARTITION BY fold ORDER BY k)),
    t AS (SELECT fold,
                 sum((cum_cnt - cum_pos - (cnt - pos)) * pos) AS a,
                 sum((cnt - pos) * pos)                       AS b,
                 sum(pos)                                     AS n1,
                 sum(cnt - pos)                               AS n0
          FROM r GROUP BY fold),
    f AS (SELECT CAST(fold AS BIGINT) AS fold,
                 CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
                 ((2 * (2 * a + b) * 1000000 + 2 * n1 * n0)
                     // (2 * 2 * n1 * n0)) AS auc_e6
          FROM t),
    x AS (SELECT CAST(count(*) AS BIGINT) AS nf,
                 CAST(sum(auc_e6) AS BIGINT) AS sa,
                 CAST(sum(auc_e6 * auc_e6) AS BIGINT) AS saa
          FROM f)
    SELECT fold, n_pos, n_neg, auc_e6 / 1000000.0 AS auc,
           ((2 * sa * 1000000 + nf * 1000000)
               // (2 * nf * 1000000)) / 1000000.0 AS mean_auc,
           round(sqrt(CAST(nf * saa - sa * sa AS DOUBLE))
                 / (nf * 1000000.0), 6) AS std_auc
    FROM f, x
    """,
    tags=("ml", "stats", "scale"),
)
def score_auc_by_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2: cross-validated ranking quality — the tie-corrected rank-sum
    AUC (F1) computed PER deterministic 5-fold split, with the
    cross-fold mean and population spread: the variance-of-the-metric
    number a model report quotes next to the point estimate.

    The per-fold machinery is the same bucket aggregation as
    ``score_auc_rank`` with fold as one more group key — cumulative
    counts ride a fold-KEYED window over the ≤5·1000-row bucket
    relation (bounded by construction, never the fact).  Fold AUCs are
    exact integers scaled by 10⁶, so the cross-fold mean rounds in
    integer space and the spread is √(n·Σx²−(Σx)²)/n — one deterministic
    sqrt of an exact integer in both engines.
    """
    s = _scored(spark, sf_dir).withColumn(
        "fold", (F.col("event_id") * 7919) % 5
    )
    g = s.groupBy("fold", "k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    w = Window.partitionBy("fold").orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = g.select(
        "fold",
        "cnt",
        "pos",
        (F.col("cnt") - F.col("pos")).alias("neg"),
        F.sum("cnt").over(w).alias("cum_cnt"),
        F.sum("pos").over(w).alias("cum_pos"),
    )
    t = r.groupBy("fold").agg(
        F.sum(
            (F.col("cum_cnt") - F.col("cum_pos") - F.col("neg"))
            * F.col("pos")
        ).alias("a"),
        F.sum(F.col("neg") * F.col("pos")).alias("b"),
        F.sum("pos").alias("n1"),
        F.sum("neg").alias("n0"),
    )
    fold_auc = t.select(
        "fold",
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.call_function(
            "div",
            (F.lit(2) * (F.lit(2) * F.col("a") + F.col("b")) * 1_000_000
             + F.lit(2) * F.col("n1") * F.col("n0")),
            F.lit(2) * F.lit(2) * F.col("n1") * F.col("n0"),
        ).alias("auc_e6"),
    )
    fold_auc = fold_auc.localCheckpoint(eager=False)  # feeds rows + spread
    x = fold_auc.agg(
        F.count(F.lit(1)).alias("nf"),
        F.sum("auc_e6").alias("sa"),
        F.sum(F.col("auc_e6") * F.col("auc_e6")).alias("saa"),
    )
    mean_auc = (
        F.call_function(
            "div",
            F.lit(2) * F.col("sa") * 1_000_000 + F.col("nf") * 1_000_000,
            F.lit(2) * F.col("nf") * 1_000_000,
        )
        / F.lit(1_000_000.0)
    )
    return fold_auc.crossJoin(F.broadcast(x)).select(
        "fold",
        "n_pos",
        "n_neg",
        (F.col("auc_e6") / F.lit(1_000_000.0)).alias("auc"),
        mean_auc.alias("mean_auc"),
        F.round(
            F.sqrt(
                (
                    F.col("nf") * F.col("saa") - F.col("sa") * F.col("sa")
                ).cast("double")
            )
            / (F.col("nf") * F.lit(1_000_000.0)),
            6,
        ).alias("std_auc"),
    )


# ---------------------------------------------------------------------------
# F6 / BB14: isotonic score calibration via the PAV minimax closed form
# ---------------------------------------------------------------------------


@register(
    "score_isotonic_calibration",
    oracle=f"""
    WITH s AS (
      SELECT {_SCORE_SQL} AS k, {_LABEL_SQL} AS y FROM events
    ),
    bins AS (
      SELECT CAST(k // 50 AS INT) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM s GROUP BY 1
    ),
    pre AS (
      SELECT a.bin, a.n, a.pos,
             CAST(sum(b.n) AS BIGINT) AS cn,
             CAST(sum(b.pos) AS BIGINT) AS cp
      FROM bins a JOIN bins b ON b.bin <= a.bin
      GROUP BY a.bin, a.n, a.pos
    ),
    iv AS (
      SELECT lo.bin AS j, hi.bin AS kk,
             CAST(hi.cp - lo.cp + lo.pos AS DOUBLE)
               / CAST(hi.cn - lo.cn + lo.n AS DOUBLE) AS m
      FROM pre lo JOIN pre hi ON hi.bin >= lo.bin
    ),
    inner_min AS (
      SELECT iv.j, b.bin, min(iv.m) AS mn
      FROM iv JOIN bins b ON iv.j <= b.bin AND iv.kk >= b.bin
      GROUP BY iv.j, b.bin
    ),
    fit AS (
      SELECT bin, max(mn) AS fitted FROM inner_min GROUP BY bin
    )
    SELECT bins.bin, bins.n, bins.pos,
           CAST(bins.pos AS DOUBLE) / CAST(bins.n AS DOUBLE) AS raw_rate,
           fit.fitted AS isotonic_rate,
           fit.fitted <> CAST(bins.pos AS DOUBLE) / CAST(bins.n AS DOUBLE)
               AS pooled
    FROM bins JOIN fit ON bins.bin = fit.bin
    """,
    tags=("ml", "stats"),
)
def score_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) score calibration — the PAV fit every
    calibration library (sklearn IsotonicRegression, Zadrozny & Elkan
    2002) runs, computed NOT by the sequential pool-adjacent-violators
    loop but by its minimax closed form (Robertson, Wright & Dykstra
    1988): fitted(i) = max_{{j<=i}} min_{{k>=i}} mean(y over bins j..k).
    The sequential algorithm is order-dependent and unexpressible
    declaratively; the closed form is pure joins/aggregates and provably
    the same least-squares monotone fit.  Output per score bin: raw
    positive rate, isotonic rate (non-decreasing in the bin), and
    whether PAV pooled the bin with neighbors.

    Scale shape: ONE fact scan reduces the corpus to the 20-bin
    relation (map-side combinable groupBy); every minimax pass
    (prefix sums, the 210-interval relation, the min-then-max folds)
    is a triangular join over <= 20x20x20 broadcast-scale rows — no
    window at all, so no single-partition operator anywhere and the
    calibration cost is independent of corpus size.  Interval means are
    BIGINT/BIGINT IEEE divisions (identical doubles in both engines);
    min/max select among those exact doubles, and the result is emitted
    UNROUNDED so the hash compares the doubles bit-for-bit."""
    s = _scored(spark, sf_dir)
    bins = s.groupBy(
        (F.col("k") / 50).cast("int").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    a, b = bins.alias("a"), bins.alias("b")
    pre = (
        a.join(F.broadcast(b), F.col("b.bin") <= F.col("a.bin"))
        .groupBy(
            F.col("a.bin").alias("bin"),
            F.col("a.n").alias("n"),
            F.col("a.pos").alias("pos"),
        )
        .agg(
            F.sum("b.n").cast("long").alias("cn"),
            F.sum("b.pos").cast("long").alias("cp"),
        )
    )
    lo, hi = pre.alias("lo"), pre.alias("hi")
    iv = lo.join(F.broadcast(hi), F.col("hi.bin") >= F.col("lo.bin")).select(
        F.col("lo.bin").alias("j"),
        F.col("hi.bin").alias("kk"),
        (
            (F.col("hi.cp") - F.col("lo.cp") + F.col("lo.pos")).cast("double")
            / (F.col("hi.cn") - F.col("lo.cn") + F.col("lo.n")).cast("double")
        ).alias("m"),
    )
    inner_min = (
        iv.join(
            F.broadcast(bins.select(F.col("bin").alias("i"))),
            (F.col("j") <= F.col("i")) & (F.col("kk") >= F.col("i")),
        )
        .groupBy("j", "i")
        .agg(F.min("m").alias("mn"))
    )
    fit = inner_min.groupBy(F.col("i").alias("bin")).agg(
        F.max("mn").alias("fitted")
    )
    raw = F.col("pos").cast("double") / F.col("n").cast("double")
    return bins.join(F.broadcast(fit), "bin").select(
        "bin",
        "n",
        "pos",
        raw.alias("raw_rate"),
        F.col("fitted").alias("isotonic_rate"),
        (F.col("fitted") != raw).alias("pooled"),
    )


# ---------------------------------------------------------------------------
# F7 / BB16: Brier score + Murphy decomposition
# ---------------------------------------------------------------------------


@register(
    "score_brier_decomposition",
    oracle=f"""
    WITH s AS (
      SELECT {_SCORE_SQL} AS k, {_LABEL_SQL} AS y FROM events
    ),
    g AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM s GROUP BY k
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(pos) AS BIGINT) AS ppos,
             CAST(sum(n * k * k - 2000 * k * pos + 1000000 * pos) AS BIGINT)
                 AS bnum
      FROM g
    ),
    terms AS (
      SELECT g.k,
             CAST(g.k * g.n - 1000 * g.pos AS DOUBLE)
               * CAST(g.k * g.n - 1000 * g.pos AS DOUBLE)
               / (1000000.0 * CAST(g.n AS DOUBLE)) AS rel_t,
             CAST(g.pos * t.nn - g.n * t.ppos AS DOUBLE)
               * CAST(g.pos * t.nn - g.n * t.ppos AS DOUBLE)
               / (CAST(g.n AS DOUBLE) * CAST(t.nn AS DOUBLE)
                  * CAST(t.nn AS DOUBLE)) AS res_t
      FROM g, tot t
    ),
    f AS (
      SELECT list(rel_t ORDER BY k) AS rl, list(res_t ORDER BY k) AS sl
      FROM terms
    )
    SELECT t.nn AS n, t.ppos AS n_pos,
           CAST(t.bnum AS DOUBLE) / (1000000.0 * CAST(t.nn AS DOUBLE))
               AS brier,
           list_reduce(f.rl, (a, b) -> a + b) / CAST(t.nn AS DOUBLE)
               AS reliability,
           list_reduce(f.sl, (a, b) -> a + b) / CAST(t.nn AS DOUBLE)
               AS resolution,
           CAST(t.ppos * (t.nn - t.ppos) AS DOUBLE)
               / (CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE))
               AS uncertainty
    FROM f, tot t
    """,
    tags=("ml", "stats"),
)
def score_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy (1973) decomposition — the standard
    probabilistic-forecast audit: BS = REL − RES + UNC, where
    reliability is the calibration gap Σ n_k(p_k−ȳ_k)²/N over score
    groups, resolution the discrimination Σ n_k(ȳ_k−ȳ)²/N, and
    uncertainty the label variance ȳ(1−ȳ).  The hash score k/1000 is
    read as the predicted probability (same pseudo-model as the rest of
    the F-wave), so the engines see an identical forecaster.

    Exactness strategy, three tiers: the raw Brier numerator
    Σ(k²n − 2000·k·pos + 10⁶·pos) is pure BIGINT (order-free); the
    REL/RES terms are integer-numerator divisions (deterministic IEEE
    doubles) summed by an ORDERED left-to-right fold over the ≤1000-row
    grouped relation (the events_ewma_daily discipline — identical
    float sequence in both engines, immune to aggregation order); the
    single division by N happens after the fold.  Scale shape: ONE
    map-combinable fact scan to ≤1000 groups; everything after is
    broadcast-scale; output is one row."""
    s = _scored(spark, sf_dir)
    g = s.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("pos").cast("long").alias("ppos"),
        F.sum(
            F.col("n") * F.col("k") * F.col("k")
            - 2000 * F.col("k") * F.col("pos")
            + 1000000 * F.col("pos")
        )
        .cast("long")
        .alias("bnum"),
    )
    reln = (F.col("k") * F.col("n") - 1000 * F.col("pos")).cast("double")
    resn = (F.col("pos") * F.col("nn") - F.col("n") * F.col("ppos")).cast(
        "double"
    )
    terms = g.crossJoin(F.broadcast(tot)).select(
        "k",
        (reln * reln / (F.lit(1000000.0) * F.col("n").cast("double"))).alias(
            "rel_t"
        ),
        (
            resn
            * resn
            / (
                F.col("n").cast("double")
                * F.col("nn").cast("double")
                * F.col("nn").cast("double")
            )
        ).alias("res_t"),
    )
    f = terms.agg(
        F.array_sort(
            F.collect_list(F.struct("k", "rel_t", "res_t"))
        ).alias("arr")
    )
    nn_d = F.col("nn").cast("double")
    return f.crossJoin(F.broadcast(tot)).select(
        F.col("nn").alias("n"),
        F.col("ppos").alias("n_pos"),
        (F.col("bnum").cast("double") / (F.lit(1000000.0) * nn_d)).alias(
            "brier"
        ),
        (
            F.expr(
                "aggregate(transform(arr, s -> s.rel_t), 0D, (a, b) -> a + b)"
            )
            / nn_d
        ).alias("reliability"),
        (
            F.expr(
                "aggregate(transform(arr, s -> s.res_t), 0D, (a, b) -> a + b)"
            )
            / nn_d
        ).alias("resolution"),
        (
            (F.col("ppos") * (F.col("nn") - F.col("ppos"))).cast("double")
            / (nn_d * nn_d)
        ).alias("uncertainty"),
    )
