"""Connected components over candidate-pair edges (dedup clustering).

Pair generators (MinHash-LSH, SimHash, n-gram Jaccard) emit EDGES; actual
deduplication needs the transitive closure — if A~B and B~C, one keeper
should survive for {A,B,C} even though A~C was never emitted.  This module
closes that gap with iterative min-label propagation, the standard
large-graph connected-components formulation (hash-join label exchange per
round, a.k.a. "hash-to-min"): every node starts labeled with itself and
repeatedly takes the minimum label over {self} ∪ neighbors until a
fixpoint.  Rounds needed ≤ graph diameter; near-dup components are
shallow (dup clusters are cliques-ish), so 2-4 rounds in practice.

Scale notes (100 TB): each round is one shuffle of the edge list joined
against the (node, label) relation — both keyed by node id, AQE-coalesced.
A giant component (e.g. boilerplate connecting millions of docs) makes the
label relation skew toward its minimum id only at the final aggregate,
which is map-side combinable; the posting-frequency cap upstream
(operators/dedup.py) is what prevents such components from forming out of
stop-shingles in the first place.  For web-scale graphs the
large-star/small-star variant halves round count; diameter-2 dup clusters
do not need it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of ``edges`` with the minimum node id reachable
    from it (undirected).  Returns (node, label); ``label`` is the
    component representative — the deterministic dedup keeper.

    Each iteration localCheckpoints the label relation: it feeds both the
    next join and the convergence check, and lineage would otherwise grow
    by one join per round (the classic iterative-algorithm lineage
    blow-up; MLlib checkpoints the same way).
    """
    sym = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    # Convergence test: Σ labels strictly decreases every round that
    # changes anything (labels only ever take minima), so one cheap global
    # aggregate per round replaces a per-node change join.
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # cap expired while labels were still moving: the result would be
        # silently UNDER-MERGED (distinct labels inside one true
        # component — seen as 9 clusters vs the true 1 when a saturated
        # grid's diameter outgrew the cap).  Propagation needs O(graph
        # diameter) rounds; fail loudly so the caller raises max_iter.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(label propagation needs at least the graph diameter); "
            "raise max_iter"
        )
    return labels


def ancestor_rollup(
    nodes: DataFrame,
    id_col: str,
    parent_col: str,
    value_col: str,
    max_depth: int = 64,
) -> DataFrame:
    """Hierarchy closure by POINTER DOUBLING: for every node, its root,
    depth, and the sum of ``value_col`` along the ancestor path
    (inclusive of self and root) — the BOM-explosion / org-rollup
    primitive Spark has no recursive CTE for.

    Naive upward iteration walks one level per round (O(depth) shuffles
    — a 1M-deep chain means 1M rounds).  Pointer doubling composes the
    ancestor relation WITH ITSELF each round, so after round k every
    jump entry spans 2^k hops: O(log depth) shuffles total regardless
    of fan-out — the exponentiation-by-squaring trick, with per-hop
    accumulators (hops, values) carried through the composition.  Each
    round is two self-joins keyed by node id; relations never exceed
    |nodes| rows.

    Jump-table invariant (entry for node j): "standing at j (unvisited),
    visit j and the next (hops−1) ancestors, accumulate their values
    (val), and land at ptr" — saturated entries (ptr NULL) instead carry
    the chain's ROOT in ``rt`` and their accumulators cover j..root
    inclusive.  State invariant per node: val covers self and all
    visited ancestors below the current pointer.  Convergence is an
    O(1) driver probe per round, like the CC fixpoint.

    Output: (id_col, root_id, depth, path_value); a root has depth 0
    and path_value = its own value.

    Nodes still unresolved when the doubling cap expires — a chain
    deeper than ``max_depth``, a CYCLE, or a dangling parent pointer —
    raise a ``ValueError`` naming the count instead of passing through as
    root_id=NULL rows with partial accumulators (silent wrong data).
    """
    val = F.col(value_col).cast("long")
    # jump1: one-hop entries.  Roots saturate immediately.
    jump = nodes.select(
        F.col(id_col).alias("_j"),
        F.col(parent_col).alias("_jptr"),
        F.when(F.col(parent_col).isNull(), F.col(id_col)).alias("_jrt"),
        F.lit(1).cast("long").alias("_jd"),
        val.alias("_jv"),
    )
    # state: pointer starts ON self (self unvisited), so the first
    # advance consumes the self entry — uniform for roots and non-roots.
    st = nodes.select(
        F.col(id_col).alias("_n"),
        F.col(id_col).alias("_ptr"),
        F.lit(None).cast(nodes.schema[id_col].dataType).alias("_root"),
        F.lit(0).cast("long").alias("_depth"),
        F.lit(0).cast("long").alias("_val"),
    )
    rounds_cap = max(2, max_depth.bit_length() + 2)
    for _ in range(rounds_cap):
        adv = (
            st.join(jump, st["_ptr"] == jump["_j"], "left")
            .select(
                "_n",
                F.when(st["_root"].isNull(), jump["_jptr"]).alias("_ptr2"),
                F.coalesce(st["_root"], jump["_jrt"]).alias("_root2"),
                (
                    st["_depth"]
                    + F.when(
                        st["_root"].isNull(), F.coalesce(jump["_jd"], F.lit(0))
                    ).otherwise(0)
                ).alias("_depth2"),
                (
                    st["_val"]
                    + F.when(
                        st["_root"].isNull(), F.coalesce(jump["_jv"], F.lit(0))
                    ).otherwise(0)
                ).alias("_val2"),
            )
            .select(
                "_n",
                F.col("_ptr2").alias("_ptr"),
                F.col("_root2").alias("_root"),
                F.col("_depth2").alias("_depth"),
                F.col("_val2").alias("_val"),
            )
        )
        st = adv.localCheckpoint()
        if st.filter(F.col("_root").isNull()).limit(1).count() == 0:
            break
        # square the jump table: entry(j) ∘ entry(entry(j).ptr)
        j2 = jump.select(
            F.col("_j").alias("_a"),
            F.col("_jptr").alias("_ap"),
            F.col("_jrt").alias("_art"),
            F.col("_jd").alias("_ad"),
            F.col("_jv").alias("_av"),
        )
        jump = (
            jump.join(j2, jump["_jptr"] == j2["_a"], "left")
            .select(
                "_j",
                F.when(jump["_jptr"].isNotNull(), j2["_ap"]).alias("_p2"),
                F.coalesce(jump["_jrt"], j2["_art"]).alias("_rt2"),
                (jump["_jd"] + F.coalesce(j2["_ad"], F.lit(0))).alias("_d2"),
                (jump["_jv"] + F.coalesce(j2["_av"], F.lit(0))).alias("_v2"),
            )
            .select(
                "_j",
                F.col("_p2").alias("_jptr"),
                F.col("_rt2").alias("_jrt"),
                F.col("_d2").alias("_jd"),
                F.col("_v2").alias("_jv"),
            )
            .localCheckpoint()
        )
    else:
        # cap expired without the convergence break: unresolved nodes
        # remain (chain deeper than max_depth, a cycle, or a dangling
        # parent).  The clean path pays nothing — convergence already
        # proved zero stragglers via the O(1) probe.
        n_stuck = st.filter(F.col("_root").isNull()).count()
        if n_stuck:
            raise ValueError(
                f"ancestor_rollup: {n_stuck} node(s) unresolved after "
                f"{rounds_cap} doubling rounds (max_depth={max_depth}) "
                "— chain too deep, cycle, or dangling parent pointer; "
                "raise max_depth or fix the hierarchy"
            )
    # depth counts VISITED nodes including self; hops/edges = depth − 1
    return st.select(
        F.col("_n").alias(id_col),
        F.col("_root").alias("root_id"),
        (F.col("_depth") - 1).alias("depth"),
        F.col("_val").alias("path_value"),
    )
