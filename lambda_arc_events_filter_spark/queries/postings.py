"""Shared shingle-postings session-index builder.

Two corpus artifacts share this build: the lang-BLOCKED postings
(llm_q._postings_index — candidates never cross a language block) and
the UNBLOCKED postings (curation_q._postings_unblocked — the _PAIR_CTE
whole-corpus family).  They differ only in the blocking expression, so
the build lives here once (round-8 review: the two hand-copies had to
be kept in sync manually); each caller keeps its result as its own
``cache.session_artifact``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.operators import dedup as D


def build_postings_index(
    spark: SparkSession, sf_dir: str, blk_col: Column
) -> DataFrame:
    """Build the (doc, block, shingle-key, set-size) index, checkpointed.

    ``blk_col`` produces the blocking key (``F.col("lang")`` or
    ``F.lit(1)``).
    """
    d = D.with_tokens(load(spark, sf_dir, "documents")).withColumn(
        "_blk", blk_col
    )
    return D.shingle_postings(
        d, "doc_id", extra_cols=("_blk",), with_sizes=True
    ).localCheckpoint()
