"""Shared corpus term-statistics index.

``tf_index`` is the text-family sibling of llm_q's ``_postings_index``:
one localCheckpointed ``(doc_id, term, tf)`` relation per
(applicationId, sf_dir), built once and probed by every term-statistics
query (TF-IDF, unigram LM, vocabulary build).  Each of those queries
previously re-ran tokenize + explode + per-(doc, term) count from the raw
corpus — the single heaviest stage of the family.

On top of it sit the two corpus-global artifacts a resident text engine
materializes alongside the postings (Lucene/ES keep exactly these):

- ``vocab_stats`` — the lexicon: per-term document frequency, collection
  frequency, and the derived per-term scores (idf, unigram log-prob).
  Vocabulary-sized (Zipf/Heaps), broadcastable at any corpus scale.
- ``corpus_totals`` — the 1-row collection-statistics header
  (n_docs, n_tokens).

Derivations stay exact: ``tf`` is an exact integer, so ``sum(tf)``
reproduces token-level counts bit-for-bit, and the derived doubles
(idf = ln((1+n_docs)/(1+df))+1, lp = ln(cf/n_tokens)) are the same
single-expression doubles the per-query formulas produced inline.

Consumer boundary (measured, round 8): the index serves queries that
probe term-keyed or doc-sliced statistics WITHOUT needing the raw
document row (tfidf, unigram LM, vocab).  A query that must scan the
documents table anyway (corpus_curation_pipeline needs lang/source/
md5(text)) computes row-local token stats in-row instead: routing them
through the index costs a postings groupBy + a corpus×corpus join back —
same-session A/B at sf0.1: 0.504 s index-fed vs 0.276 s in-row (see the
pipeline's docstring).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from lambda_arc_events_filter_spark.cache import session_artifact
from lambda_arc_events_filter_spark.catalog import load


def tf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached ``(doc_id, term, tf)`` over the documents corpus
    (whitespace tokenization, identical to operators/dedup.with_tokens)."""

    def build() -> DataFrame:
        return (
            load(spark, sf_dir, "documents")
            .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .localCheckpoint()
        )

    return session_artifact(spark, sf_dir, "tf_index", build)


def corpus_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached 1-row ``(n_docs, n_tokens)`` corpus totals
    (n_docs over the documents table itself, so docs that tokenize to
    nothing still count — matching ``count(DISTINCT doc_id)`` oracles)."""

    def build() -> DataFrame:
        n_docs = (
            load(spark, sf_dir, "documents")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
        )
        n_tokens = tf_index(spark, sf_dir).agg(
            F.sum("tf").cast("bigint").alias("n_tokens")
        )
        return n_docs.crossJoin(n_tokens).localCheckpoint()

    return session_artifact(spark, sf_dir, "corpus_totals", build)


def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached lexicon ``(term, df, cf, idf, lp)``:

    - ``df``  — document frequency (docs containing the term)
    - ``cf``  — collection frequency (total occurrences)
    - ``idf`` — ln((1 + n_docs) / (1 + df)) + 1 (smoothed, sklearn form)
    - ``lp``  — ln(cf / n_tokens), the corpus unigram-LM log-probability
    """

    def build() -> DataFrame:
        base = (
            tf_index(spark, sf_dir)
            .groupBy("term")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.sum("tf").alias("cf"),
            )
        )
        return (
            base.crossJoin(F.broadcast(corpus_totals(spark, sf_dir)))
            .select(
                "term",
                "df",
                "cf",
                (
                    F.log((1 + F.col("n_docs")) / (1 + F.col("df")))
                    + F.lit(1.0)
                ).alias("idf"),
                F.log(F.col("cf") * 1.0 / F.col("n_tokens")).alias("lp"),
            )
            .localCheckpoint()
        )

    return session_artifact(spark, sf_dir, "vocab_stats", build)
