"""LLM-pipeline operator tests beyond the oracle gate: LSH recall vs exact,
SimHash sanity on planted dups, IVF correctness relative to brute force,
multimodal batch plumbing."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.operators import dedup as D
from lambda_arc_events_filter_spark.operators import similarity as S
from lambda_arc_events_filter_spark.registry import specs
from lambda_arc_events_filter_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_minhash_lsh_equals_exact_unblocked(spark, sf_dir):
    """At the fixtures' planted-dup similarity (J≥0.89), b=16/r=8 LSH
    recall is ≈1 — the verified LSH output must equal exact all-pairs."""
    d = D.with_shingles(D.with_tokens(load(spark, sf_dir, "documents")))
    lsh = D.minhash_lsh_pairs(d, id_col="doc_id", threshold=0.5)
    # unblocked exact: same-pair space as LSH
    exact = D.exact_jaccard_pairs(
        d.withColumn("_all", F.lit(1)), id_col="doc_id", block_col="_all",
        threshold=0.5,
    )
    assert _pairs(lsh) == _pairs(exact)
    assert len(_pairs(lsh)) > 0, "fixtures contain planted near-dups"


def test_posting_frequency_cap_is_semantics_neutral_below_cap(spark, sf_dir):
    """With the cap above the fixture's max shingle document-frequency the
    capped operator must return EXACTLY the uncapped results (values
    included — verification always recounts over full postings)."""
    d = D.with_tokens(load(spark, sf_dir, "documents"))

    def rows(df):
        return sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect())

    lsh_un = D.minhash_lsh_pairs(d, id_col="doc_id", threshold=0.5)
    lsh_cap = D.minhash_lsh_pairs(
        d, id_col="doc_id", threshold=0.5, max_doc_freq=500
    )
    assert rows(lsh_cap) == rows(lsh_un)


def test_posting_frequency_cap_drops_hot_shingle_candidates(spark):
    """A tiny cap must exclude pairs whose ONLY shared shingles are hot:
    docs sharing a long boilerplate phrase present in every doc are
    near-duplicates uncapped, but once that phrase's shingles exceed the
    cap they leave the signature input and no pair surfaces as a
    candidate."""
    boiler = " ".join(f"clause{i}" for i in range(30))
    rows = [(i, f"{boiler} unique{i}") for i in range(8)]
    d = D.with_tokens(spark.createDataFrame(rows, "doc_id int, text string"))
    un = D.minhash_lsh_pairs(d, id_col="doc_id", threshold=0.5)
    capped = D.minhash_lsh_pairs(
        d, id_col="doc_id", threshold=0.5, max_doc_freq=3
    )
    assert len(_pairs(un)) > 0, "boilerplate shingles create pairs uncapped"
    assert _pairs(capped) == set(), "capped shingles generate no candidates"


def test_simhash_separates_constructed_dups(spark):
    """On controlled data — two long docs differing in one token vs a
    disjoint-vocabulary doc — the near-dup pair must have a small Hamming
    distance and the disjoint pairs a large one.  (The fixture corpus's
    40-word shared vocabulary makes SimHash TF-profiles similar across ALL
    docs, so discrimination there is a data property, not an operator
    property — covered by determinism below.)"""
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (1, base),
        (2, base.replace("tok7", "tok7x")),
        (3, " ".join(f"zz{i}" for i in range(60))),
    ]
    df = D.with_tokens(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    sh = D.with_simhash(df, id_col="doc_id")
    h = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    # mask to 64 bits BEFORE popcount: simhash is a signed long, and
    # bin() of a negative XOR renders sign-magnitude, not two's
    # complement (bit 63 set on one side made this count garbage)
    mask = (1 << 64) - 1
    ham = lambda a, b: bin((h[a] ^ h[b]) & mask).count("1")  # noqa: E731
    assert ham(1, 2) <= 8, f"near-dup pair too far: {ham(1, 2)}"
    assert ham(1, 3) > 16 and ham(2, 3) > 16
    # combination blocking GUARANTEES recall at the configured radius:
    # call at the measured distance, not a hopeful larger one
    near = D.simhash_near_pairs(sh, id_col="doc_id", max_hamming=ham(1, 2))
    assert (1, 2) in _pairs(near)


def test_simhash_blocking_recall_guaranteed_at_radius(spark):
    """Adversarial recall pin for the combination blocking: fingerprints
    differing in exactly 4/5/6 bits SPREAD ONE PER 16-BIT QUARTER — the
    inputs the old single-quarter scheme silently dropped (round-8
    review) — must all surface as candidates and pairs."""
    base = 0x0123456789ABCDEF
    rows = [(0, base)]
    # flip bit k*16 + k for k in 0..d-1: one flipped bit per old quarter
    for d in (4, 5, 6):
        flipped = base
        for k in range(d):
            flipped ^= 1 << ((k * 16 + k) % 64)
        rows.append((d, flipped))
    sh = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = _pairs(D.simhash_near_pairs(sh, id_col="doc_id", max_hamming=6))
    assert {(0, 4), (0, 5), (0, 6)} <= got


def test_simhash_deterministic_on_fixtures(spark, sf_dir):
    d = D.with_tokens(load(spark, sf_dir, "documents"))
    sh = D.with_simhash(d, id_col="doc_id")
    a = sorted((r["doc_id"], r["simhash"]) for r in sh.collect())
    b = sorted((r["doc_id"], r["simhash"]) for r in sh.collect())
    assert a == b and len(a) == 500


def test_ivf_is_bruteforce_restricted_to_probed_cells(spark, sf_dir):
    """IVF isn't just 'approximately right': it must EXACTLY equal brute
    force restricted to the probed cells — the algorithm's defining
    property, testable without any recall hand-waving."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    # nprobe = all 10 cells
    ivf = S.ivf_topk(q, k=5, nprobe=10, index=S.ivf_build_index(e))
    bf = S.brute_force_topk(q, e, k=5)
    ivf_rows = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ivf.collect()}
    bf_rows = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in bf.collect()}
    # probing every cell makes IVF exhaustive → identical to brute force
    assert ivf_rows == bf_rows


def test_rp_lsh_cosine_pairs_match_exact(spark, sf_dir):
    """Random-hyperplane LSH near-dup pairs: precision 1.0 by construction
    (candidates re-scored exactly); recall vs the exact operator must be
    total on the fixtures (verified, not assumed)."""
    e = load(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_pairs_exact(e, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_pairs_rp_lsh(e, threshold=0.4).collect()
    }
    assert lsh <= exact  # precision 1.0
    assert lsh == exact, f"missed {len(exact - lsh)} of {len(exact)} pairs"


def test_multimodal_batch_plumbing(spark, sf_dir):
    """mapInPandas path: schema, row preservation, deterministic features,
    and Arrow batch shape (bounded batches)."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    d = load(spark, sf_dir, "documents")
    media = attach_binary_payload(d)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media, decode="stub")
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert len(rows) == d.count()
    sample = d.filter(F.col("doc_id") == 0).collect()[0]
    got = rows[0]
    raw = sample["text"].encode()
    assert got["n_bytes"] == len(raw)
    assert got["byte_checksum"] == sum(raw) % 997
    assert got["head_hex"] == raw[:8].hex()


def test_multimodal_real_decode_is_marked_stub(spark, sf_dir):
    import pytest

    d = attach_binary_payload(load(spark, sf_dir, "documents"))
    with pytest.raises(NotImplementedError):
        extract_features(d, decode="real")


def test_compressibility_matches_direct_zlib(spark, sf_dir):
    """The mapInPandas zlib boundary computes exactly len(zlib.compress
    (utf8, 6))·1e6 // len(utf8) per document — checked against direct
    zlib on a sample, and the rollup reconciles to the doc count."""
    import zlib

    import pyspark.sql.functions as FF

    from lambda_arc_events_filter_spark.queries.llm_q import (
        text_compressibility_filter,
    )

    out = {
        r["source"]: r
        for r in text_compressibility_filter(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n_docs"] for r in out.values()) == docs.count()

    def direct_ratio(text: str) -> int:
        raw = text.encode("utf-8")
        return len(zlib.compress(raw, 6)) * 1_000_000 // max(len(raw), 1)

    # recompute EVERY per-source rollup cell through an independent
    # driver-side zlib pass: the keep-band counters, not just the mean —
    # a swapped/inverted band comparison must fail loudly here (the old
    # sample loop asserted only 0 < ratio < 2e6 against nothing)
    for src, row in out.items():
        direct = [
            direct_ratio(r["text"])
            for r in docs.filter(FF.col("source") == src).collect()
        ]
        assert row["n_docs"] == len(direct)
        assert row["n_too_compressible"] == sum(
            1 for x in direct if x < 350_000
        ), src
        assert row["n_incompressible"] == sum(
            1 for x in direct if x > 950_000
        ), src
        assert row["mean_ratio_ppm"] == sum(direct) // len(direct), src


# ---------------------------------------------------------------------------
# ANN recall@k evaluation
# ---------------------------------------------------------------------------


def test_ann_recall_matches_operator_intersection(spark, sf_dir):
    """recall@5 must equal |exact_top5 ∩ ivf_top5| / 5 recomputed from
    the two underlying operators directly, for every probe query."""
    from lambda_arc_events_filter_spark.catalog import load
    from lambda_arc_events_filter_spark.operators import similarity as S

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = {}
    for r in S.brute_force_topk(q, e, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    from lambda_arc_events_filter_spark.queries.llm_q import _ivf_index

    idx = _ivf_index(spark, sf_dir)
    approx = {}
    for r in S.ivf_topk(q, k=5, nprobe=2, index=idx).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    out = specs()["ann_recall_at_k"].fn(spark, sf_dir).collect()
    assert {r["query_id"] for r in out} == set(exact)
    for r in out:
        inter = len(exact[r["query_id"]] & approx.get(r["query_id"], set()))
        assert r["n_hits"] == inter
        assert abs(r["recall_at_5"] - inter / 5) < 1e-9
        assert 0.0 <= r["recall_at_5"] <= 1.0


def test_exact_substring_spans_on_constructed_duplication(spark, tmp_path):
    """dedup_exact_substring must recover the EXACT maximal shared runs:
    two docs share a 40-token verbatim run (one island covering all 26
    of its 15-token anchors) and a separate pair of 20-token runs split
    by unique filler (two islands); sub-k docs and fully unique docs are
    absent."""
    import pandas as pd

    common = [f"c{i}" for i in range(40)]
    run1 = [f"r{i}" for i in range(20)]
    run2 = [f"s{i}" for i in range(20)]
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                " ".join([f"a{i}" for i in range(10)] + common
                         + [f"z{i}" for i in range(5)]),
                " ".join([f"b{i}" for i in range(5)] + common),
                " ".join(run1 + [f"g{i}" for i in range(7)] + run2),
                " ".join(run2 + [f"h{i}" for i in range(9)] + run1),
                "tiny doc under fifteen tokens stays invisible here ok",
            ],
            "lang": ["en"] * 5,
            "source": ["s"] * 5,
            "n_chars": [0] * 5,
        }
    )
    docs.to_parquet(str(tmp_path / "documents.parquet"))
    from lambda_arc_events_filter_spark.queries.curation_q import (
        dedup_exact_substring,
    )

    out = {
        r["doc_id"]: r
        for r in dedup_exact_substring(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # docs 1/2: one maximal span, exactly the 40 shared tokens
    for did, n_toks in ((1, 55), (2, 45)):
        r = out[did]
        assert (r["n_spans"], r["dup_tokens"], r["max_span_len"]) == (1, 40, 40)
        assert r["n_tokens"] == n_toks
    # docs 3/4: TWO 20-token runs separated by unique filler -> 2 islands
    for did in (3, 4):
        r = out[did]
        assert (r["n_spans"], r["dup_tokens"], r["max_span_len"]) == (2, 40, 20)


def test_ivf_refresh_append_equals_full_rebuild(spark, sf_dir):
    """snapshot ⊎ delta ≡ rebuild, Spark-vs-Spark and exactly: the merged
    centroid table must equal label_centroids over the full corpus, and
    the refreshed index's probe results must equal probing a one-shot
    ivf_build_index."""
    from lambda_arc_events_filter_spark.operators import similarity as S

    e = load(spark, sf_dir, "embeddings")
    snap = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    cents, units = S.ivf_refresh_append(
        S.ivf_cell_stats(snap).localCheckpoint(),
        S.corpus_units(snap).localCheckpoint(),
        delta,
    )
    rebuilt = {
        r["cell"]: r["centroid"]
        for r in S.label_centroids(e).collect()
    }
    merged = {r["cell"]: r["centroid"] for r in cents.collect()}
    assert merged == rebuilt
    q = e.filter(F.col("vec_id") < 5)
    got = {
        tuple(r)
        for r in S.ivf_topk(q, k=5, nprobe=2, index=(cents, units)).collect()
    }
    want = {
        tuple(r)
        for r in S.ivf_topk(
            q, k=5, nprobe=2, index=S.ivf_build_index(e)
        ).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_refresh_delta_with_new_cell(spark):
    """An append introducing a brand-new cell must surface that cell in
    the merged centroids (exactly the delta's mean) and leave snapshot
    cells' centroids untouched."""
    from lambda_arc_events_filter_spark.operators import similarity as S

    snap = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 2.0], 0), (3, [3.0, 3.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    delta = spark.createDataFrame(
        [(4, [5.0, 7.0], 2), (5, [6.0, 8.0], 2)],
        "vec_id long, embedding array<float>, label int",
    )
    cents, units = S.ivf_refresh_append(
        S.ivf_cell_stats(snap), S.corpus_units(snap), delta
    )
    got = {r["cell"]: r["centroid"] for r in cents.collect()}
    assert got == {0: [0.5, 1.0], 1: [3.0, 3.0], 2: [5.5, 7.5]}
    assert units.count() == 5


def test_minhash_append_pairs_complete_the_one_shot_set(spark, sf_dir):
    """snapshot-internal pairs ∪ append pairs must equal the one-shot
    full-corpus pair set exactly — i.e. incremental dedup misses nothing
    a full re-run would find, and invents nothing it wouldn't."""
    from lambda_arc_events_filter_spark.operators import dedup as D

    d = D.with_tokens(load(spark, sf_dir, "documents"))
    one_shot = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.minhash_lsh_pairs(d, "doc_id", 0.5).collect()
    }
    snap = d.filter(F.col("doc_id") % 5 != 0)
    delta = d.filter(F.col("doc_id") % 5 == 0)
    snap_pairs = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.minhash_lsh_pairs(snap, "doc_id", 0.5).collect()
    }
    snap_post = D.shingle_postings(
        snap, "doc_id", with_sizes=True
    ).localCheckpoint()
    snap_sig = D.minhash_signatures(snap_post).localCheckpoint()
    append_pairs = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.minhash_lsh_pairs_append(
            snap_post, snap_sig, delta, id_col="doc_id", threshold=0.5
        ).collect()
    }
    assert append_pairs and snap_pairs
    assert snap_pairs.isdisjoint(append_pairs)
    assert snap_pairs | append_pairs == one_shot


def test_winnowing_guarantee_on_constructed_overlap(spark, tmp_path):
    """The winnowing (k=4, w=5) guarantee: any shared verbatim run of
    >= k + w - 1 = 8 tokens must share at least one selected
    fingerprint; disjoint-vocabulary docs share none."""
    import pandas as pd

    shared8 = [f"q{i}" for i in range(8)]
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                " ".join([f"a{i}" for i in range(12)] + shared8
                         + [f"b{i}" for i in range(12)]),
                " ".join([f"c{i}" for i in range(9)] + shared8
                         + [f"d{i}" for i in range(9)]),
                " ".join([f"e{i}" for i in range(30)]),
            ],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [0] * 3,
        }
    )
    docs.to_parquet(str(tmp_path / "documents.parquet"))
    from lambda_arc_events_filter_spark.queries.llm_q import (
        _WIN_POSPACK,
        _winnowing_selected,
    )

    fps = _winnowing_selected(spark, str(tmp_path)).select(
        "doc_id", F.expr(f"sel div {_WIN_POSPACK}").alias("fph")
    )
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fph"])
    assert by_doc[1] & by_doc[2], "8-token shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_winnowing_density_near_expected(spark, sf_dir):
    """Winnowing selects ~2/(w+1) = 1/3 of window positions in expectation
    on random-ish text; the fixture's corpus-mean density must land in a
    generous band around it (repetition pulls it down, short docs up)."""
    rows = specs()["text_winnowing_fingerprints"].fn(spark, sf_dir).collect()
    assert rows
    mean_density = sum(r["fp_density"] for r in rows) / len(rows)
    assert 0.15 < mean_density < 0.55, mean_density


def test_winnowing_pairs_recover_planted_near_dups(spark, sf_dir):
    """The highest shared-fingerprint pairs must be exactly near-dup pairs
    the exact-Jaccard operator confirms (winnowing is their cheap
    candidate generator)."""
    from lambda_arc_events_filter_spark.operators import dedup as D

    d = D.with_tokens(load(spark, sf_dir, "documents"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(d, "doc_id", 0.5).collect()
    }
    win = sorted(
        specs()["dedup_winnowing_pairs"].fn(spark, sf_dir).collect(),
        key=lambda r: -r["n_shared"],
    )
    assert win
    top = [(r["id_a"], r["id_b"]) for r in win[: len(exact)]]
    hits = sum(1 for p in top if p in exact)
    assert hits >= len(exact) * 0.8, (hits, len(exact))


def test_exact_substring_cut_manifest_complements_spans(spark, tmp_path):
    """The cut manifest must emit exactly the interval complement of the
    duplicated spans: head/middle/tail keep segments with correct
    boundaries, fully-duplicated docs dropping entirely (no keep rows),
    and clean docs absent."""
    import pandas as pd

    common = [f"c{i}" for i in range(40)]
    run1 = [f"r{i}" for i in range(20)]
    run2 = [f"s{i}" for i in range(20)]
    clone = [f"x{i}" for i in range(20)]
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6, 7],
            "text": [
                " ".join([f"a{i}" for i in range(10)] + common
                         + [f"z{i}" for i in range(5)]),
                " ".join([f"b{i}" for i in range(5)] + common),
                " ".join(run1 + [f"g{i}" for i in range(7)] + run2),
                " ".join(run2 + [f"h{i}" for i in range(9)] + run1),
                "clean doc with nothing shared at all in this text ok",
                " ".join(clone),
                " ".join(clone),
            ],
            "lang": ["en"] * 7,
            "source": ["s"] * 7,
            "n_chars": [0] * 7,
        }
    )
    docs.to_parquet(str(tmp_path / "documents.parquet"))
    from lambda_arc_events_filter_spark.queries.curation_q import (
        dedup_exact_substring_cut,
    )

    segs = {}
    for r in dedup_exact_substring_cut(spark, str(tmp_path)).collect():
        segs.setdefault(r["doc_id"], []).append(
            (r["seg_id"], r["keep_start"], r["keep_end"], r["seg_len"])
        )
    for v in segs.values():
        v.sort()
    # doc 1: span [11,50] of 55 -> keep [1,10] + [51,55]
    assert segs[1] == [(1, 1, 10, 10), (2, 51, 55, 5)]
    # doc 2: span [6,45] of 45 -> head keep only
    assert segs[2] == [(1, 1, 5, 5)]
    # docs 3/4: two runs, middle filler survives
    assert segs[3] == [(1, 21, 27, 7)]
    assert segs[4] == [(1, 21, 29, 9)]
    # clean doc absent; fully-duplicated clones drop entirely
    assert 5 not in segs and 6 not in segs and 7 not in segs


# ---------------------------------------------------------------------------
# IVF-PQ: ADC shortlist + exact re-rank
# ---------------------------------------------------------------------------


def test_ivfpq_equals_ivf_when_shortlist_unbounded(spark, sf_dir):
    """Structural identity, fixture-independent: with shortlist ≥ the
    probed-cell candidate count, the exact re-rank sees every candidate
    IVF sees, so IVF-PQ must equal ivf_topk EXACTLY (same cells probed,
    same exact scores, same tie order).  This pins that the PQ stage is
    a pure candidate pruner — it can lose recall, never corrupt the
    surviving ranking."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    n = e.count()
    iv = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in S.ivf_topk(
            q, k=5, nprobe=2, index=S.ivf_build_index(e)
        ).collect()
    }
    pq = S.ivfpq_topk(
        q, S.ivfpq_build_index(e), k=5, nprobe=2, shortlist=int(n)
    ).collect()
    got = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["score"]) for r in pq}
    assert got == iv


def test_ivfpq_recall_and_adc_consistency(spark, sf_dir):
    """At the registered config (16 codes, shortlist 50, nprobe 2) the
    PQ stage must keep ≥ 60% of IVF's top-5 (measured 0.93 at sf0.01,
    floor loose against fixture regeneration), and every emitted row's
    exact score can never exceed its query's IVF score at the same rank
    (the re-rank is a restriction of IVF's candidate set)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    iv = {}
    for r in S.ivf_topk(q, k=5, nprobe=2, index=S.ivf_build_index(e)).collect():
        iv.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    idx = S.ivfpq_build_index(e)
    rows = S.ivfpq_topk(q, idx, k=5, nprobe=2, shortlist=50).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert r["adc_dist"] >= 0.0
        assert -1.0 <= r["score"] <= 1.0
    recall = sum(len(iv[k_] & got.get(k_, set())) for k_ in iv) / (
        5 * len(iv)
    )
    assert recall >= 0.6, recall
    assert set(got) == set(iv)


# ---------------------------------------------------------------------------
# Real BMP/WAV decode (struct-level, no codec library)
# ---------------------------------------------------------------------------


def test_wav_payload_readable_by_stdlib_wave(spark, sf_dir):
    """The synthesized WAV payloads must be REAL files: python's stdlib
    `wave` reader (an independent third-party decoder w.r.t. our
    operator) must open them and agree on rate / channels / width /
    frame count and the raw PCM bytes' sample sum."""
    import io
    import struct
    import wave

    from lambda_arc_events_filter_spark.catalog import load
    from lambda_arc_events_filter_spark.operators.multimodal import (
        synthesize_wav,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    for r in synthesize_wav(d).collect():
        with wave.open(io.BytesIO(bytes(r["payload"]))) as w:
            did = r["doc_id"]
            assert w.getframerate() == 8000 + (did % 4) * 4000
            assert w.getnchannels() == 1 and w.getsampwidth() == 2
            n = 16 + did % 32
            assert w.getnframes() == n
            pcm = w.readframes(n)
            got = sum(struct.unpack(f"<{n}h", pcm))
            want = sum(((did * 7 + i * 3) % 65536) - 32768 for i in range(n))
            assert got == want


def test_bmp_decode_known_bytes_and_real_gate(spark):
    """Hand-check one BMP end-to-end (doc_id=5: 6x6, stride 20, file
    54+120 bytes) and pin that decode='real' stays an explicit
    NotImplementedError gate while 'bmp'/'wav' are live."""
    import pytest

    from lambda_arc_events_filter_spark.operators.multimodal import (
        extract_features,
        synthesize_bmp,
    )

    d = spark.createDataFrame([(5,)], "doc_id long")
    media = synthesize_bmp(d)
    payload = bytes(media.collect()[0]["payload"])
    assert payload[:2] == b"BM"
    row = extract_features(media, decode="bmp").collect()[0]
    assert (row["width"], row["height"], row["bpp"]) == (6, 6, 24)
    assert row["file_size"] == 54 + 20 * 6 == len(payload)
    assert row["pixel_sum"] == 3 * sum((5 + i) % 256 for i in range(36))
    with pytest.raises(NotImplementedError):
        extract_features(media, decode="real")
    with pytest.raises(ValueError):
        extract_features(media, decode="gif")


def test_ndcg_histogram_idcg_equals_corpus_sort(spark, sf_dir):
    """retrieval_ndcg_eval derives ideal DCG from the label HISTOGRAM
    (so the ideal ordering never sorts the corpus — the scale trick).
    Pin: it must equal the naive per-query ideal (sort ALL candidates by
    grade desc, take 10) computed directly; and basic nDCG invariants
    hold (0 <= dcg <= idcg, 0 < ndcg <= 1)."""
    import math

    from lambda_arc_events_filter_spark.registry import specs

    rows = specs()["retrieval_ndcg_eval"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    labels = {r["vec_id"]: r["label"] for r in emb}
    for r in rows:
        assert 0.0 <= r["dcg_at_10"] <= r["idcg_at_10"] + 1e-9
        assert 0.0 < r["ndcg_at_10"] <= 1.0 + 1e-9
        lq = labels[r["query_id"]]
        grades = sorted(
            (
                max(0, 3 - abs(lq - lc))
                for vid, lc in labels.items()
                if vid != r["query_id"]
            ),
            reverse=True,
        )[:10]
        idcg = sum(
            (2 ** g - 1) / math.log2(i + 2) for i, g in enumerate(grades)
        )
        assert abs(round(idcg, 6) - r["idcg_at_10"]) <= 1e-6, (
            r["query_id"],
            idcg,
            r["idcg_at_10"],
        )


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_events_user_id_non_negative(sf_dir, scale):
    """Fixture contract behind ts_user_similarity: its query set joins
    ``range(50)`` in place of the oracle's ``user_id < 50`` filter, which
    is the same set only while no user_id is negative (FIXTURES.md)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = os.path.join(os.path.dirname(sf_dir), scale, "events.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no {scale} fixture")
    user_id = pq.read_table(path, columns=["user_id"]).column("user_id")
    assert pc.min(user_id).as_py() >= 0
