"""Deduplication operators — SURVEY.md §2 B60-B61 + driver mandate
(exact, MinHash+LSH, SimHash, n-gram Jaccard).

All candidate-generation math is Catalyst-native (HOFs + xxhash64): no
Python touches the data path, so whole-stage codegen applies end-to-end.

Scale design:
- shingling/minhash are per-row HOF expressions — embarrassingly parallel,
  zero shuffle;
- LSH banding turns the quadratic all-pairs problem into an equi-join on
  (band_index, band_hash) — shuffle-partitionable, skew handled by AQE;
- exact-Jaccard verification runs only on LSH candidates (or within an
  explicit blocking key for the exact variant), never all-pairs.
"""

from __future__ import annotations

import os
import random
import uuid

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

#: Mersenne prime 2^31-1: (a·x + b) mod P stays within int64 when
#: a, b, x < P (product < 2^62).
MINHASH_P = 2_147_483_647


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("tokens", F.split(F.col(text_col), " "))


def with_shingles(df: DataFrame, n: int = 3, tokens_col: str = "tokens") -> DataFrame:
    """Distinct word n-gram shingles as an array column — pure HOF, no
    explode: ``slice`` over a position sequence, then ``array_distinct``.

    Repartitions to the cluster's parallelism FIRST: lambda HOFs are
    interpreted (not codegen'd), making shingling the CPU-heaviest narrow
    stage of every dedup pipeline — and the fixture corpus arrives as a
    single parquet row-group, which would otherwise pin it to one core.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    # guard: sequence(1, 0) in Spark is DESCENDING [1, 0], so a doc shorter
    # than n tokens must short-circuit to an empty shingle set explicitly
    expr = (
        f"if(size({tokens_col}) < {n}, array(),"
        f" array_distinct(transform(sequence(1, size({tokens_col}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({tokens_col}, i, {n})))))"
    )
    return df.repartition(par).withColumn("shingles", F.expr(expr))


def minhash_params(num_hashes: int = 128, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def shingle_postings(
    df: DataFrame,
    id_col: str,
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
    tokens_col: str = "tokens",
    with_sizes: bool = False,
) -> DataFrame:
    """Distinct hashed word-n-gram postings: one row per (doc, distinct
    shingle), the shingle as a 64-bit ``xxhash64`` key ``sk``.

    Codegen-first shingling: posexplode the tokens, form each n-gram with
    window ``lead`` over (doc, position).  Every expression here is
    JVM-evaluated (WindowExec + whole-stage codegen), unlike the
    array-lambda ``transform`` form, whose INTERPRETED evaluation dominated
    this pipeline's profile — and which Catalyst's InferFiltersFromGenerate
    additionally inlines into the scan filter, tripling the per-row cost.
    Measured at sf0.1: postings via window = ~0.4s vs ~6s via the HOF.

    Scale shape: one shuffle of the tokenized corpus (window, partitioned
    per doc) + one map-side-combinable distinct of the hashed postings.
    An 8-byte posting key shuffles ~5× cheaper than 3-word shingle
    strings; a 64-bit collision between distinct shingles of one corpus is
    ~1e-9-improbable (and deterministic — the oracle gate would surface
    it).  Docs shorter than n tokens emit no postings.
    """
    w = Window.partitionBy("_id").orderBy("_pos")
    # Pipeline width: every downstream stage (signature agg, cap agg,
    # verification joins) inherits this partitioning, and on local[32] each
    # 32-task stage pays ~0.2 s of pure dispatch over single-digit-MB data.
    # Measured at sf0.1 (minhash+jaccard wall): 32 ≈ 3-4× slower than 8;
    # 8 → 5.0 s, 4 → 4.0-4.3 s, 2 → 5.1 s (compute-starved).  4 is the
    # sweet spot at FIXTURE scale — and only there, so it is an explicit
    # harness opt-in (bench.py / tools / tests set the env var), never the
    # default: a bare cluster session that forgot the knob gets cluster
    # parallelism, which is the right width when the corpus is real (the
    # shape is unchanged: one shuffle by doc id, then map-side work).
    par = int(
        os.environ.get("SPARK_GRAFT_DEDUP_PARTITIONS", "0")
    ) or max(4, df.sparkSession.sparkContext.defaultParallelism)
    # Repartition the NARROW (id, tokens) relation by id before exploding:
    # the fixture corpus is one parquet row-group, so without this the
    # posexplode (the heaviest map) runs on a single task; partitioning by
    # _id also satisfies the window's clustering requirement, so no second
    # exchange is inserted.
    # Hash each token ONCE before the window, then combine the n token
    # hashes with one multi-column xxhash64: the sort under the window
    # carries an 8-byte long instead of the token string, and the hot
    # stage never allocates concat'd shingle strings (measured at sf0.1:
    # postings build 0.48 s → 0.33 s).  Distinct (h1..hn) tuples ≡
    # distinct token n-grams up to a 64-bit collision (~1e-9 per corpus,
    # deterministic — the oracle gate would surface it).
    toks = (
        df.select(
            F.col(id_col).alias("_id"),
            *[F.col(c) for c in extra_cols],
            F.col(tokens_col).alias("_toks"),
        )
        .repartition(par, "_id")
        .select(
            "_id",
            *extra_cols,
            F.posexplode(F.col("_toks")).alias("_pos", "_tok"),
        )
        .withColumn("_h", F.xxhash64("_tok"))
        .drop("_tok")
    )
    grams = [F.col("_h")] + [F.lead("_h", i).over(w) for i in range(1, n)]
    post = (
        toks.select(
            "_id",
            *extra_cols,
            F.xxhash64(*grams).alias("sk"),
            F.lead("_h", n - 1).over(w).alias("_h_last"),
        )
        .filter(F.col("_h_last").isNotNull())
        .select("_id", *extra_cols, "sk")
        .dropDuplicates(["_id", "sk"])
    )
    if with_sizes:
        # Distinct-shingle set size per doc, carried ON the postings rows.
        # hash(_id) partitioning satisfies both the dedup above and this
        # window, so neither inserts a shuffle — consumers get sizes for
        # free instead of a separate aggregate + join-back pass.
        post = post.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("_id"))
        )
    return post


def _hot_posting_keys(post: DataFrame, max_doc_freq: int) -> DataFrame:
    """Posting keys whose document frequency exceeds ``max_doc_freq``.

    Map-side-combinable count per key → the hot set is tiny (stop-shingles
    like "the end of"), so consumers remove it with a BROADCAST anti-join —
    the postings themselves are never reshuffled.  This is the standard
    skew lever for inverted-index candidate generation at corpus scale: a
    shingle appearing in d docs contributes d² candidate pairs, so one
    100 TB-corpus stop-shingle would dominate the whole join.
    """
    return (
        post.groupBy("sk")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("sk")
    )


def exact_jaccard_pairs(
    shingled: DataFrame | None,
    id_col: str,
    block_col: str,
    threshold: float,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs WITHIN a blocking key (e.g. lang), via a
    shingle INVERTED-INDEX join rather than all-pairs array intersection.

    Input needs a ``tokens`` array column (``with_tokens``); shingle
    postings are built internally via ``shingle_postings`` (codegen window
    form).  explode shingles → self-equi-join on (shingle, block) →
    per-pair common count → jaccard from set sizes (joined back from a
    tiny per-doc size relation — pair counts and doc counts are both ≪
    posting counts, so both joins broadcast).  Only pairs sharing ≥1
    shingle are ever materialized, so cost tracks the posting-list mass
    (Σ bucket²) instead of |block|² — the difference between 65s and 2s at
    sf0.1, and between feasible and not at 100 TB.  (The naive form scored
    every same-block pair with a 50-element array_intersect.)

    ``postings``: a prebuilt postings-index relation (from
    ``postings_index``-style sharing at the query layer) with columns
    (_id, _blk, sk, _n); when given, the internal shingle build is
    skipped (``shingled`` may then be None) — the inverted index is a
    corpus artifact all the dedup family probes, exactly like the IVF
    index on the embedding side.
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    if postings is not None:
        post = postings
    else:
        base = shingled.withColumnRenamed(block_col, "_blk")
        # localCheckpoint: the postings relation feeds both sides of the
        # self-join, and Spark re-executes diamond branches from the source
        # otherwise (exchange reuse does not survive AQE's broadcast-join
        # conversion at this scale).  Eagerly materializing the narrow
        # (id, block, key) postings — the standard multi-pass-algorithm
        # move, MLlib does the same internally — halves the pipeline; blocks
        # are executor-local and GC-cleaned with the DataFrame.  At prod
        # scale, a reliable checkpoint dir
        # (spark.sparkContext.setCheckpointDir + .checkpoint()) is the
        # fault-tolerant variant.
        post = shingle_postings(
            base, id_col, extra_cols=("_blk",), with_sizes=True
        ).localCheckpoint()
    # set sizes ride the postings rows (with_sizes) and the join keys, so
    # the final Jaccard needs no separate size relation or join-back
    a = post.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"), "_blk", "sk")
    b = post.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"), "_blk", "sk")
    pairs = (
        a.join(b, ["_blk", "sk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    post: DataFrame, num_hashes: int = 96, seed: int = 42
) -> DataFrame:
    """(_id, _n, minhash) signature relation from a hashed-postings
    relation — the stored artifact of a MinHash index (what a resident
    dedup service persists and probes; postings + signatures together ARE
    the index).

    The k permutation mins are emitted as ONE spark.sql string rather
    than k Column objects: building 96 ``F.min(F.expr(...)).alias()``
    aggregates costs ~300 py4j round-trips ≈ 0.7 s of pure client-side
    plan construction per call (a third of the LSH query's wall at
    sf0.1).  The SQL text parses JVM-side in one call and analyzes to the
    identical aggregate plan.  ``pmod`` reduces the raw 64-bit posting
    key to 31 bits for the permutation arithmetic.
    """
    params = minhash_params(num_hashes, seed)
    spark = post.sparkSession
    view = f"_mh_post_{uuid.uuid4().hex[:8]}"
    post.createOrReplaceTempView(view)
    mins = ", ".join(
        f"min(pmod({a}L * pmod(sk, {MINHASH_P}) + {b}L, {MINHASH_P}))"
        f" AS _m{j}"
        for j, (a, b) in enumerate(params)
    )
    arr = ", ".join(f"_m{j}" for j in range(num_hashes))
    sig = spark.sql(
        f"SELECT _id, _n, array({arr}) AS minhash FROM"
        f" (SELECT _id, first(_n) AS _n, {mins} FROM {view} GROUP BY _id)"
    )
    spark.catalog.dropTempView(view)
    return sig


def band_relation(sig: DataFrame, bands: int = 16, rows: int = 6) -> DataFrame:
    """LSH band keys of a (_id, _n, minhash) signature relation: one row
    per (doc, band) with the band's xxhash64 bucket key — the join side
    of candidate generation, shared by the one-shot and append paths."""
    band_expr = (
        f"transform(sequence(0, {bands - 1}), b -> struct(b as band_idx,"
        f" xxhash64(slice(minhash, b * {rows} + 1, {rows})) as band_hash))"
    )
    return sig.select(
        "_id", "_n", F.explode(F.expr(band_expr)).alias("band")
    ).select("_id", "_n", "band.band_idx", "band.band_hash")


def minhash_lsh_pairs_append(
    snap_post: DataFrame,
    snap_sig: DataFrame,
    delta_shingled: DataFrame,
    id_col: str,
    threshold: float,
    num_hashes: int = 96,
    bands: int = 16,
    rows: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Incremental MinHash-LSH dedup on corpus APPEND: the near-dup pairs
    a new shard introduces — (delta × snapshot) ∪ (delta × delta) —
    WITHOUT re-pairing the snapshot against itself.

    MinHash signatures are per-document, so the delta's postings and
    signatures derive from the delta alone; the snapshot contributes
    only its PERSISTED index artifacts (postings + signatures — exactly
    what ``minhash_signatures`` documents as the stored index).  The
    band join probes delta bands against snapshot ∪ delta bands, so
    every candidate involves a delta doc by construction and the
    snapshot×snapshot quadrant — the overwhelming mass at 100 TB — is
    never generated.  Verification counts over snapshot ∪ delta
    postings, so emitted jaccard values are exact.  Together with the
    snapshot's own pair set this reproduces the one-shot pair set
    exactly (pinned in tests/test_llm.py); the per-append cost is
    O(|delta| + band collisions), independent of snapshot size.
    """
    delta_post = shingle_postings(
        delta_shingled, id_col, with_sizes=True
    ).localCheckpoint()
    delta_sig = minhash_signatures(
        delta_post, num_hashes, seed
    ).localCheckpoint()
    db = band_relation(delta_sig, bands, rows)
    all_bands = band_relation(snap_sig, bands, rows).unionByName(db)
    joined = db.select(
        F.col("_id").alias("_ida"),
        F.col("_n").alias("_na"),
        "band_idx",
        "band_hash",
    ).join(
        all_bands.select(
            F.col("_id").alias("_idb"),
            F.col("_n").alias("_nb"),
            "band_idx",
            "band_hash",
        ),
        ["band_idx", "band_hash"],
    )
    # normalize (id_a < id_b) AFTER the join: delta×delta pairs arrive in
    # both orientations, delta×snapshot in one — least/greatest + distinct
    # collapses both cases
    candidates = (
        joined.filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            F.when(F.col("_ida") < F.col("_idb"), F.col("_na"))
            .otherwise(F.col("_nb"))
            .alias("n_a"),
            F.when(F.col("_ida") < F.col("_idb"), F.col("_nb"))
            .otherwise(F.col("_na"))
            .alias("n_b"),
        )
        .distinct()
    )
    post = snap_post.unionByName(delta_post)
    pa = post.select(F.col("_id").alias("id_a"), "sk").join(
        F.broadcast(candidates), "id_a"
    )
    pb = post.select(F.col("_id").alias("id_b"), "sk")
    return (
        pa.join(pb, ["id_b", "sk"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    shingled: DataFrame,
    id_col: str,
    threshold: float,
    num_hashes: int = 96,
    bands: int = 16,
    rows: int = 6,
    seed: int = 42,
    max_doc_freq: int | None = None,
    postings: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, exact-verified.

    candidate generation (LSH bucket equi-join) -> distinct pairs ->
    exact-Jaccard verification >= threshold.  Output matches
    ``exact_jaccard_pairs`` whenever LSH recall covers every pair above
    threshold (P[miss] = (1-J^r)^b ~ 1e-5 at J=0.89 with b=16,r=6; tests
    verify it exactly on the fixtures).  k=96 on purpose: a 128-buffer
    aggregate exceeds spark.sql.codegen.maxFields (100) and silently drops
    the signature stage out of whole-stage codegen.

    Input needs a ``tokens`` array column (``with_tokens``).  Everything
    derives from the codegen postings relation (``shingle_postings``):
    signatures AND set sizes come from one groupBy over it (the k
    permutation mins are codegen'd aggregate expressions over the posting
    hash, and count == distinct set size), set sizes ride the candidate
    pairs through the band join, and verification is an inverted-index
    count over the same postings — shingle arrays never exist at all.

    ``max_doc_freq``: posting-frequency cap on the SIGNATURE input —
    stop-shingles above the cap are removed via broadcast anti-join before
    the permutation mins (a hot shingle adds no discriminating power and
    its minhash floods every signature).  Verification always counts over
    the full postings, so emitted jaccard values stay exact; a document
    whose every shingle is capped falls out of candidate generation
    (boilerplate-only docs — exact dedup's job, not near-dup's).

    ``signatures``: a prebuilt (_id, _n, minhash) relation (see
    ``minhash_signatures``) skips the permutation-min aggregate — the
    probe side of the build-once/probe-many split.
    """
    # hashed postings: feed (i) the signature/size aggregate and (ii) both
    # sides of the verification join.  Docs with no postings (shorter than
    # the shingle width) get no signature, so no identity-signature
    # pairing.  sk: raw 64-bit posting key for the verification join;
    # pmod reduces it to 31 bits for the permutation arithmetic.
    # localCheckpoint both multi-consumer relations (see the note in
    # exact_jaccard_pairs): postings feed the signature aggregate AND both
    # verification sides; signatures feed both sides of the band join.
    # with_sizes: TRUE distinct-set size rides on every posting row (zero
    # extra shuffles), so the capped path below needs no separate sizes
    # aggregate + join-back, and the uncapped path's first(_n) is free.
    # ``postings``: a prebuilt (_id, sk, _n) index skips the shingle build —
    # the corpus-index build/probe split shared across the dedup family.
    if postings is not None:
        post = postings
    else:
        post = shingle_postings(
            shingled, id_col, with_sizes=True
        ).localCheckpoint()
    if signatures is not None:
        sig = signatures
    else:
        sig_input = post
        if max_doc_freq is not None:
            sig_input = post.join(
                F.broadcast(_hot_posting_keys(post, max_doc_freq)),
                "sk",
                "left_anti",
            )
        sig = minhash_signatures(sig_input, num_hashes, seed).localCheckpoint()
    # band-explode carrying _n, so the final Jaccard needs no size joins:
    # candidate pairs leave the band join already knowing both set sizes.
    # xxhash64 over the sliced long array directly — no per-band string
    # building (xxhash64 over the sliced signature array).  (A bucket-collect_list + pair
    # explode variant was measured ~25% slower here: collect_list drops
    # the aggregate off the codegen path, while this self-join of the
    # checkpointed signatures is AQE-broadcast with no shuffle.)
    bands_df = band_relation(sig, bands, rows)
    candidates = (
        bands_df.select(
            F.col("_id").alias("id_a"),
            F.col("_n").alias("n_a"),
            "band_idx",
            "band_hash",
        )
        .join(
            bands_df.select(
                F.col("_id").alias("id_b"),
                F.col("_n").alias("n_b"),
                "band_idx",
                "band_hash",
            ),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    # exact verification from the same postings: |A ∩ B| = count of matching
    # hashed shingles per candidate pair; candidates are few, so broadcast
    # them into the postings scan
    pa = post.select(F.col("_id").alias("id_a"), "sk").join(
        F.broadcast(candidates), "id_a"
    )
    pb = post.select(F.col("_id").alias("id_b"), "sk")
    return (
        pa.join(pb, ["id_b", "sk"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def with_simhash(
    df: DataFrame, id_col: str, tokens_col: str = "tokens"
) -> DataFrame:
    """64-bit SimHash over term frequencies, fully columnar.

    Per (doc, token): contribution cnt·(±1) to each of 64 bit positions by
    the bits of xxhash64(token); bit k of the fingerprint is the sign of the
    summed contribution.  Implemented as explode → bit explode → two-level
    aggregate; at 100 TB the first aggregate is map-side combinable and the
    second is 64 rows per doc.
    """
    toks = (
        df.select(id_col, F.explode(F.col(tokens_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.xxhash64("tok"))
    )
    bits = toks.select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(0, 63), k -> struct(k as k,"
                " cnt * (cast(shiftright(h, k) & 1 as int) * 2 - 1) as contrib))"
            )
        ).alias("b"),
    ).select(id_col, "b.k", "b.contrib")
    return (
        bits.groupBy(id_col, "k")
        .agg(F.sum("contrib").alias("s"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(1L, k)")).otherwise(
                    F.lit(0)
                )
            ).alias("simhash")
        )
    )


def simhash_near_pairs(
    simhashed: DataFrame, id_col: str, max_hamming: int = 6
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance.

    Candidate blocking is COMBINATION blocking (Manku et al. WWW'07
    family): the 64-bit fingerprint splits into ``s = max_hamming + 2``
    sub-blocks, and every pair of sub-blocks (i < j) forms one candidate
    key.  Soundness is pigeonhole: ``max_hamming`` differing bits touch
    at most that many sub-blocks, leaving ≥ 2 intact, so at least one
    (i, j) key matches exactly — RECALL IS GUARANTEED at the configured
    radius.  (The previous 4×16-bit single-quarter scheme guaranteed
    only d ≤ 3 and silently dropped true pairs at Hamming 4-6 — round-8
    review.)  Keys stay wide (two sub-blocks concatenated, ~16 bits at
    the default), so buckets stay near-singleton and the join is equi on
    (pair_id, value_pair), never all-pairs; the candidate fan-out is
    C(s, 2) rows per doc — 28 at the default — the explicit price of
    sound recall, still a constant per row at any corpus scale.
    """
    if not 0 <= max_hamming <= 62:
        raise ValueError(
            f"simhash_near_pairs: max_hamming must be in [0, 62], got "
            f"{max_hamming} (s = max_hamming + 2 sub-blocks must each "
            "hold >= 1 of the 64 fingerprint bits)"
        )
    s = max_hamming + 2
    base, rem = divmod(64, s)
    widths = [base + 1 if i < rem else base for i in range(s)]
    offs = [sum(widths[:i]) for i in range(s)]

    def sub(i: int):
        return F.expr(f"shiftright(simhash, {offs[i]})").bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    key_structs = []
    pair_id = 0
    for i in range(s):
        for j in range(i + 1, s):
            key_structs.append(
                F.struct(
                    F.lit(pair_id).alias("q"),
                    # 2^32 separator: sub-block widths are ≤ 22 bits for
                    # any s ≥ 3, so the (i, j) value pair packs into one
                    # collision-free long
                    (sub(i) * F.lit(1 << 32) + sub(j)).alias("qv"),
                )
            )
            pair_id += 1
    quarters = simhashed.select(
        id_col, "simhash", F.explode(F.array(*key_structs)).alias("b")
    ).select(id_col, "simhash", "b.q", "b.qv")
    a = quarters.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "q", "qv"
    )
    b = quarters.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "q", "qv"
    )
    return (
        a.join(b, ["q", "qv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# Default cosine threshold (integer percent) used by the registered
# dedup_prefix_cosine_pairs query.  The prefix-filter formulas below are
# one small function each so that prefix_cosine_pairs reads as the
# AllPairs steps it implements: t², prefix cutoff, prefix, size filter.
PREFIX_COSINE_DEFAULT_THRESHOLD_PCT = 80


def prefix_p2(threshold_pct: int) -> int:
    """t² in integer basis-10000 arithmetic: cos ≥ p/100 ⇔
    100²·ov² ≥ p²·A·B, so every comparison uses p² against ×10000."""
    return threshold_pct * threshold_pct


def prefix_keep_rank(n: Column, p2: int) -> Column:
    """Prefix-length cutoff |X| − ⌈t²|X|⌉ + 1 with an all-integer ceil
    (⌈n·p2/10000⌉ = ⌊(n·p2 + 9999)/10000⌋)."""
    m = F.floor((n * p2 + F.lit(9999)) / F.lit(10000)).cast("long")
    return n - m + 1


def prefix_postings(post: DataFrame, p2: int) -> DataFrame:
    """Rarest-df-first prefix of each posting list (ranks ≤
    ``prefix_keep_rank``), as (_pid, sk, _pn).  The global document
    frequency per hashed shingle is the rarity order that makes prefixes
    the least-joinable tokens."""
    dfreq = post.groupBy("sk").agg(F.count(F.lit(1)).alias("_df"))
    ranked = post.join(dfreq, "sk").withColumn(
        "_r",
        F.row_number().over(Window.partitionBy("_id").orderBy("_df", "sk")),
    )
    return ranked.filter(
        F.col("_r") <= prefix_keep_rank(F.col("_n"), p2)
    ).select(F.col("_id").alias("_pid"), "sk", F.col("_n").alias("_pn"))


def prefix_size_compatible(pn: Column, fn: Column, p2: int) -> Column:
    """Per-pair size filter: both directions of ov ≥ t²·|X| are only
    satisfiable when t²·|A| ≤ |B| and t²·|B| ≤ |A| (integer basis)."""
    return (pn * p2 <= fn * 10000) & (fn * p2 <= pn * 10000)


def prefix_cosine_pairs(
    postings: DataFrame,
    threshold_pct: int = PREFIX_COSINE_DEFAULT_THRESHOLD_PCT,
) -> DataFrame:
    """Set-similarity self-join at cosine ≥ t via PREFIX FILTERING
    (Bayardo/Chaudhuri AllPairs family, WWW'07 / ICDE'06 — public):
    candidates come from joining each document's rarest-token PREFIX
    against full postings, exact verification only on candidates.

    The filter that makes this the 100 TB shape: any pair with
    cos = ov/√(AB) ≥ t has ov ≥ t²·|X| for BOTH sets (ov ≤ min ⇒
    min ≥ t²·max, so t√(AB) ≥ t²·max ≥ t²·|X|), hence at least one
    common token sits inside each set's first |X| − ⌈t²|X|⌉ + 1 tokens
    under ANY fixed global token order (pigeonhole: a suffix of
    ⌈t²|X|⌉ − 1 tokens cannot hold all ≥⌈t²|X|⌉ common ones).  Ordering
    tokens rarest-df-first makes those prefixes the least-joinable
    tokens, so candidate mass tracks the rare-token posting lists, not
    Σ df² — the same lever as the MinHash band join, but exact.
    NOTE the guarantee is prefix-of-one ⋈ FULL-postings-of-other (a
    symmetric prefix⋈prefix join is NOT sufficient for cosine — with
    t = 0.8, A = 100, B = 64, ov = 64 every common token can hide in one
    side's suffix); pairs emit as (min, max) and dedupe.

    ``postings``: (_id, sk, _n) distinct hashed shingles with set sizes
    (``shingle_postings(with_sizes=True)``).  ``threshold_pct``: integer
    percent so the accept test is EXACT integer arithmetic:
    cos ≥ p/100 ⇔ 100²·ov² ≥ p²·A·B.  Output: (id_a, id_b, cosine),
    cosine the one IEEE division of exact ints, rounded to 6.
    """
    p2 = prefix_p2(threshold_pct)
    post = postings.select("_id", "sk", "_n")
    prefix = prefix_postings(post, p2)
    full = post.select(F.col("_id").alias("_fid"), "sk", F.col("_n").alias("_fn"))
    cand = (
        prefix.join(full, "sk")
        .filter(F.col("_pid") != F.col("_fid"))
        # per-pair size filter: both directions of ov ≥ t²·|X|
        .filter(prefix_size_compatible(F.col("_pn"), F.col("_fn"), p2))
        .select(
            F.least("_pid", "_fid").alias("id_a"),
            F.greatest("_pid", "_fid").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = post.groupBy("_id").agg(
        F.collect_list("sk").alias("_arr"), F.max("_n").alias("_sz")
    )
    a = sets.select(
        F.col("_id").alias("id_a"),
        F.col("_arr").alias("_arr_a"),
        F.col("_sz").alias("_sz_a"),
    )
    b = sets.select(
        F.col("_id").alias("id_b"),
        F.col("_arr").alias("_arr_b"),
        F.col("_sz").alias("_sz_b"),
    )
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "_ov", F.size(F.array_intersect("_arr_a", "_arr_b")).cast("long")
        )
        .filter(
            F.lit(10000) * F.col("_ov") * F.col("_ov")
            >= F.lit(p2) * F.col("_sz_a") * F.col("_sz_b")
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        F.round(
            F.col("_ov")
            / F.sqrt(F.lit(1.0) * F.col("_sz_a") * F.col("_sz_b")),
            6,
        ).alias("cosine"),
    )
