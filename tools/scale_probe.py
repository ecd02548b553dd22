"""Candidate-mass scale proof (VERDICT r11 ask #5): measure, at 1x and
10x corpus scale, the candidate counts and shuffle bytes of the four
operators whose 100 TB claims rest on candidate-mass arguments —

  dedup_minhash_incremental   O(|delta| + band collisions), snapshot
                              quadrant never generated
  dedup_prefix_cosine_pairs   candidate mass = sum_k pdf_k * (fdf_k - 1)
                              (prefix x full), NOT sum df^2
  dedup_exact_substring       anchor mass linear in corpus tokens;
                              shuffle key is the fixed-width digest
  ann_ivf_incremental_refresh refresh touches only |delta| vectors +
                              the (cell,pos) stats relation

— and compare each against its ANALYTIC prediction computed from
histogram-level aggregates (per-key counts + arithmetic; never a pair
join), so predicted == measured is a non-circular implementation check:
it proves the operator generates exactly the modeled mass and nothing
hidden (duplicate band emission, un-deduped orientations, a stray
rescan).

Corpora: the 1x/10x pair from tools/scale_fixtures.py (same generator,
same dup rates — self-consistent scaling), with the driver's sf0.1 as
an anchor row.  Shuffle bytes come from the JVM AppStatusStore stage
metrics, diffed around each measured phase (index-build phases are
excluded — the claims are about the per-run/per-append phase).

Usage: python tools/scale_probe.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "16")
os.environ.setdefault("SPARK_GRAFT_AQE", "false")

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.operators import dedup as D
from lambda_arc_events_filter_spark.operators import similarity as S
from lambda_arc_events_filter_spark.session import fixture_conf, get_spark


def shuffle_totals(spark: SparkSession) -> tuple[int, int]:
    """Cumulative (write, read) shuffle bytes across all stages so far."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    darr = sc._gateway.new_array(jvm.double, 0)
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False, darr, jvm.java.util.ArrayList()
    )
    w = r = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        w += s.shuffleWriteBytes()
        r += s.shuffleReadBytes()
    return w, r


class Phase:
    """Measure wall + shuffle bytes of one phase."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.w0, self.r0 = shuffle_totals(self.spark)
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.wall = round(time.time() - self.t0, 3)
        w1, r1 = shuffle_totals(self.spark)
        self.shuffle_write = w1 - self.w0
        self.shuffle_read = r1 - self.r0


def probe_minhash_incremental(spark: SparkSession, sf_dir: str) -> dict:
    """dedup_minhash_incremental's candidate stage, predicted vs measured.

    Prediction (histogram arithmetic, no pair join): per (band_idx,
    band_hash) key with d delta docs and s snapshot docs,
      join rows (pre-distinct, both orientations) = d*(d-1) + d*s
      distinct pairs (upper bound; multi-band pairs collapse) =
        sum_k [C(d_k,2) + d_k*s_k]
    The claim under test: no s*s term — the snapshot quadrant is never
    generated, so candidate mass is O(|delta| + collisions).
    """
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    snap = d.filter(F.col("doc_id") % 5 != 0)
    delta = d.filter(F.col("doc_id") % 5 == 0)
    n_snap, n_delta = snap.count(), delta.count()
    snap_post = D.shingle_postings(snap, "doc_id", with_sizes=True).localCheckpoint()
    snap_sig = D.minhash_signatures(snap_post).localCheckpoint()
    # --- prediction from band-key histograms (aggregate, not a join) ---
    delta_post = D.shingle_postings(delta, "doc_id", with_sizes=True).localCheckpoint()
    delta_sig = D.minhash_signatures(delta_post).localCheckpoint()
    db = D.band_relation(delta_sig)
    sb = D.band_relation(snap_sig)
    hist = (
        db.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("d"))
        .join(
            sb.groupBy("band_idx", "band_hash").agg(F.count(F.lit(1)).alias("s")),
            ["band_idx", "band_hash"],
            "left",
        )
        .fillna(0, subset=["s"])
        .agg(
            F.sum(F.col("d") * (F.col("d") - 1) + F.col("d") * F.col("s")).alias(
                "join_rows"
            ),
            F.sum(
                (F.col("d") * (F.col("d") - 1)) / 2 + F.col("d") * F.col("s")
            ).alias("distinct_ub"),
            # the quadrant the operator must NOT generate:
            F.sum((F.col("s") * (F.col("s") - 1)) / 2).alias("snap_quadrant"),
        )
        .collect()[0]
    )
    # --- measured: the operator's own candidate derivation ---
    all_bands = sb.unionByName(db)
    joined = db.select(
        F.col("_id").alias("_ida"), "band_idx", "band_hash"
    ).join(
        all_bands.select(F.col("_id").alias("_idb"), "band_idx", "band_hash"),
        ["band_idx", "band_hash"],
    ).filter(F.col("_ida") != F.col("_idb"))
    with Phase(spark) as ph_join:
        measured_join_rows = joined.count()
    cand = joined.select(
        F.least("_ida", "_idb").alias("id_a"), F.greatest("_ida", "_idb").alias("id_b")
    ).distinct()
    measured_distinct = cand.count()
    # full operator (per-append phase; snapshot artifacts pre-built above)
    with Phase(spark) as ph_full:
        n_pairs = D.minhash_lsh_pairs_append(
            snap_post, snap_sig, delta, id_col="doc_id", threshold=0.5
        ).count()
    return {
        "n_snap": n_snap,
        "n_delta": n_delta,
        "predicted_join_rows": int(hist["join_rows"]),
        "measured_join_rows": int(measured_join_rows),
        "predicted_distinct_ub": int(hist["distinct_ub"]),
        "measured_distinct_candidates": int(measured_distinct),
        "snap_quadrant_never_generated": int(hist["snap_quadrant"]),
        "verified_pairs": int(n_pairs),
        "append_phase_wall_s": ph_full.wall,
        "append_phase_shuffle_write": ph_full.shuffle_write,
        "candidate_join_shuffle_write": ph_join.shuffle_write,
    }


def probe_prefix_cosine(spark: SparkSession, sf_dir: str) -> dict:
    """dedup_prefix_cosine_pairs candidate stage.

    Prediction: join rows (pre pair-size filter) = sum_k pdf_k*(fdf_k-1)
    where pdf is the prefix posting df and fdf the full posting df per
    hashed shingle (each prefix entry self-matches exactly once, since
    prefix subset-of full).  The lever under test: this mass vs the
    naive sum_k fdf_k*(fdf_k-1) an un-prefixed inverted-index join pays.
    """
    post = D.shingle_postings(
        D.with_tokens(load(spark, sf_dir, "documents")), "doc_id", with_sizes=True
    ).localCheckpoint()
    # imported from the operator (r12 ADVICE): the prediction must track
    # dedup.prefix_cosine_pairs's actual threshold/prefix definition, not
    # an inline copy that could go stale.
    p2 = D.prefix_p2(D.PREFIX_COSINE_DEFAULT_THRESHOLD_PCT)
    dfreq = D.posting_dfreq(post)
    prefix = D.prefix_postings(post, p2, dfreq=dfreq)
    # histogram prediction (no pair join)
    pred = (
        prefix.groupBy("sk")
        .agg(F.count(F.lit(1)).alias("pdf"))
        .join(dfreq, "sk")
        .agg(
            F.sum(F.col("pdf") * (F.col("_df") - 1)).alias("pred_join_rows"),
            F.sum(F.col("_df") * (F.col("_df") - 1)).alias("naive_join_rows"),
        )
        .collect()[0]
    )
    full = post.select(F.col("_id").alias("_fid"), "sk", F.col("_n").alias("_fn"))
    raw = prefix.join(full, "sk").filter(F.col("_pid") != F.col("_fid"))
    with Phase(spark) as ph_join:
        measured_join_rows = raw.count()
    cand = (
        raw.filter(D.prefix_size_compatible(F.col("_pn"), F.col("_fn"), p2))
        .select(F.least("_pid", "_fid").alias("id_a"), F.greatest("_pid", "_fid").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    measured_distinct = cand.count()
    with Phase(spark) as ph_full:
        n_pairs = D.prefix_cosine_pairs(
            post, threshold_pct=D.PREFIX_COSINE_DEFAULT_THRESHOLD_PCT
        ).count()
    return {
        "n_postings": post.count(),
        "n_prefix_postings": prefix.count(),
        "predicted_join_rows": int(pred["pred_join_rows"]),
        "measured_join_rows": int(measured_join_rows),
        "naive_join_rows_sum_df2": int(pred["naive_join_rows"]),
        "measured_distinct_candidates": int(measured_distinct),
        "verified_pairs": int(n_pairs),
        "pair_phase_wall_s": ph_full.wall,
        "pair_phase_shuffle_write": ph_full.shuffle_write,
        "candidate_join_shuffle_write": ph_join.shuffle_write,
    }


def probe_exact_substring(spark: SparkSession, sf_dir: str) -> dict:
    """dedup_exact_substring anchor mass.

    Prediction: anchor rows = sum_docs max(0, n_tokens - k + 1) — linear
    in corpus tokens (computed from doc lengths alone); dup-anchor rows
    and the shuffle mass of the single digest-keyed exchange measured.
    """
    k = 15
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    pred = (
        d.select(F.greatest(F.size("tokens") - k + 1, F.lit(0)).alias("a"))
        .agg(F.sum("a").alias("anchors"))
        .collect()[0]["anchors"]
    )
    g = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"if(size(tokens) < {k}, array(),"
                f" transform(sequence(1, size(tokens) - {k} + 1),"
                f" i -> md5(array_join(slice(tokens, i, {k}), ' '))))"
            )
        ).alias("p0", "gk"),
    )
    measured_anchors = g.count()
    wg = Window.partitionBy("gk")
    dup = (
        g.withColumn("d_min", F.min("doc_id").over(wg))
        .withColumn("d_max", F.max("doc_id").over(wg))
        .filter(F.col("d_min") != F.col("d_max"))
    )
    with Phase(spark) as ph:
        dup_rows = dup.count()
    return {
        "predicted_anchor_rows": int(pred),
        "measured_anchor_rows": int(measured_anchors),
        "dup_anchor_rows": int(dup_rows),
        "digest_window_shuffle_write": ph.shuffle_write,
        "digest_window_wall_s": ph.wall,
    }


def probe_ivf_refresh(spark: SparkSession, sf_dir: str, fixed_delta: int = 400) -> dict:
    """ann_ivf_incremental_refresh: hold |delta| FIXED while the snapshot
    grows 10x — the refresh phase's row counts, shuffle bytes, and wall
    must track |delta| (plus the tiny (cell,pos) stats relation), not
    the snapshot.  Delta = the first `fixed_delta` vec_ids at EVERY
    scale, snapshot = the rest."""
    e = load(spark, sf_dir, "embeddings")
    snap = e.filter(F.col("vec_id") >= fixed_delta)
    delta = e.filter(F.col("vec_id") < fixed_delta)
    n_snap = snap.count()
    snap_stats = S.ivf_cell_stats(snap).localCheckpoint()
    snap_units = S.corpus_units(snap).localCheckpoint()
    stats_rows = snap_stats.count()
    with Phase(spark) as ph:
        cents, units = S.ivf_refresh_append(snap_stats, snap_units, delta)
        # materialize the refreshed centroid table and the APPENDED part
        # of the unit relation (the snapshot partitions are the untouched
        # checkpoint blocks; counting only the delta-side materialization
        # mirrors what an append job writes)
        n_cents = cents.count()
        n_units = units.count()
    return {
        "n_snapshot": int(n_snap),
        "n_delta_fixed": int(fixed_delta),
        "stats_relation_rows": int(stats_rows),
        "refreshed_centroid_rows": int(n_cents),
        "refreshed_unit_rows": int(n_units),
        "refresh_wall_s": ph.wall,
        "refresh_shuffle_write": ph.shuffle_write,
        "refresh_shuffle_read": ph.shuffle_read,
    }


def probe_ivfpq(spark: SparkSession, sf_dir: str, n_queries: int = 20) -> dict:
    """ann_ivfpq_topk's ADC candidate stage, predicted vs measured.

    Prediction (cell-histogram arithmetic, no join): ADC-scored rows =
    sum over (query, probed cell) of |cell| minus the self-hits (a query
    whose own cell is probed excludes its own coded row) — probe mass
    tracks nprobe/ncells of the corpus, never all of it; the exact
    re-rank is capped at queries x shortlist rows REGARDLESS of corpus
    size.  The probe relation and coded corpus come from the operator's
    own builders (ivfpq_probes / ivfpq_build_index) per the r12 ADVICE
    non-circularity discipline."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < n_queries)
    cents, units, cb, coded = S.ivfpq_build_index(e)
    probes = S.ivfpq_probes(q, cents, cb, nprobe=2).localCheckpoint()
    hist = coded.groupBy("cell").agg(F.count(F.lit(1)).alias("csize"))
    own_cell = coded.select(
        F.col("neighbor_id").alias("query_id"), "cell"
    ).join(probes.select("query_id", "cell"), ["query_id", "cell"])
    pred = (
        probes.select("query_id", "cell")
        .join(hist, "cell")
        .agg(F.sum("csize").alias("rows"))
        .collect()[0]["rows"]
        - own_cell.count()
    )
    adc = coded.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    with Phase(spark) as ph_adc:
        measured_adc = adc.count()
    with Phase(spark) as ph_full:
        n_out = S.ivfpq_topk(q, (cents, units, cb, coded), k=5, nprobe=2,
                             shortlist=50).count()
    return {
        "n_corpus": int(e.count()),
        "n_queries": int(n_queries),
        "predicted_adc_rows": int(pred),
        "measured_adc_rows": int(measured_adc),
        "rerank_rows_cap": int(n_queries * 50),
        "topk_rows": int(n_out),
        "adc_phase_wall_s": ph_adc.wall,
        "full_phase_wall_s": ph_full.wall,
        "full_phase_shuffle_write": ph_full.shuffle_write,
    }


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_probe.json"
    from tools.scale_fixtures import generate

    one_x = "/tmp/scale_sf01clone"
    ten_x = "/tmp/scale_sf1"
    if not os.path.exists(os.path.join(one_x, "documents.parquet")):
        generate(one_x, n_docs=5000, n_vecs=2000)
    if not os.path.exists(os.path.join(ten_x, "documents.parquet")):
        generate(ten_x, n_docs=50000, n_vecs=20000)

    spark = get_spark("scale-probe", extra_conf=fixture_conf())
    results: dict[str, dict] = {}
    dirs = [("anchor_sf0.1", "/root/testdata/sf0.1"), ("1x", one_x), ("10x", ten_x)]
    for label, sf_dir in dirs:
        results[label] = {
            "minhash_incremental": probe_minhash_incremental(spark, sf_dir),
            "prefix_cosine": probe_prefix_cosine(spark, sf_dir),
            "exact_substring": probe_exact_substring(spark, sf_dir),
            "ivf_refresh": probe_ivf_refresh(spark, sf_dir),
            "ivfpq": probe_ivfpq(spark, sf_dir),
        }
        print(label, json.dumps(results[label], indent=1))
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print("wrote", out_path)
    spark.stop()


if __name__ == "__main__":
    main()
