"""Ranked text retrieval over the document corpus: BM25 scoring.

The reference engine answers *membership* questions ("was this key
seen?" — honas_search); a training-data pipeline additionally needs
*ranked relevance* ("which documents match this probe query best?")
for eval-set mining, targeted corpus slicing, and quality-by-relevance
filters.  This operator scores every document against a small bag of
query terms with Okapi BM25 (Robertson & Walker; the Lucene
`BM25Similarity` idf variant: ln(1 + (N - df + 0.5)/(df + 0.5))).

Scale shape (the part that matters at 100 TB):

* Per-document term frequencies for the query terms and the document
  length are computed as ONE codegen projection over the corpus —
  ``size(filter(tokens(text), t -> t = term))`` per query term — no
  explode, no (doc, term) shuffle, no join.  A query of q terms costs
  q array scans of each row, all JVM-side.
* The only aggregations are two scalar/one-row reductions (corpus
  stats N + avgdl, and per-term document frequencies), both map-side
  combined; their results return to the driver as literals and are
  folded into the final scoring projection.  Nothing wide ever
  shuffles, so the plan is scan -> project -> (tiny agg) -> project.
* Contrast with the classic inverted-index plan (explode + groupBy +
  join): that shuffles every (doc, term) posting.  For ad-hoc scoring
  of a handful of terms, the projection form is strictly better; for
  thousands of query terms, build postings once (salient_terms'
  tf/df shape) and join instead.

Determinism: tf, dl, df and N are exact integers; avgdl and idf are
doubles derived from them with a fixed expression tree, and the final
score sums the per-term contributions in query-term list order, so a
DuckDB oracle evaluating the same tree reproduces the rounded score
bit-for-bit (scores are reported rounded to 4 decimals; selection
uses the integer n_hit_terms, never the float).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from honas_spark.functions.text import tokens
from honas_spark.operators.common import duckdb_round

__all__ = ["bm25_scores"]


def _tf(tok: Column, term: str) -> Column:
    return F.size(F.filter(tok, lambda t: t == F.lit(term)))


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """-> (id, n_hit_terms, dl, score): BM25 score of every document
    that contains at least one query term.

    ``score`` is rounded to 4 decimals for reporting; a top-k that must
    be deterministic orders by (score desc, id asc) so ties break on the
    id.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError(f"query_terms must be distinct: {query_terms}")
    if k1 < 0 or not (0.0 <= b <= 1.0):
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1: k1={k1} b={b}")

    tok = tokens(F.col(text_col))
    # one projection: document length + one tf column per query term.
    # localCheckpoint: per_doc feeds TWO actions (the stats reduction
    # below and the final scoring projection) — without it the
    # tokenize-and-count pass over the corpus runs twice; the
    # materialized form is (id, dl, q ints), a few bytes per document
    # instead of the text.
    per_doc = df.select(
        F.col(id_col),
        F.size(tok).alias("dl"),
        *[_tf(tok, t).alias(f"_tf_{i}") for i, t in enumerate(query_terms)],
    ).localCheckpoint()

    # two one-row reductions; results become driver literals
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("total"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
            for i in range(len(query_terms))
        ],
    ).first()
    n_docs = stats["n"]
    avgdl = float(stats["total"]) / n_docs if n_docs else 0.0

    import math

    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        dfreq = stats[f"_df_{i}"]
        idf = math.log(1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
        tf = F.col(f"_tf_{i}")
        score = score + F.lit(idf) * tf * F.lit(k1 + 1.0) / (tf + norm)

    n_hits = sum(
        ((F.col(f"_tf_{i}") > 0).cast("int"))
        for i in range(len(query_terms))
    )
    return (
        per_doc.withColumn("n_hit_terms", n_hits)
        .filter(F.col("n_hit_terms") > 0)
        .select(
            id_col,
            "n_hit_terms",
            F.col("dl").cast("long").alias("dl"),
            duckdb_round(score, 4).alias("score"),
        )
    )

