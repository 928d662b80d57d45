"""Distributed BPE tokenizer training (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

Tokenizer induction is the canonical *iterative* corpus job in an LLM
data pipeline (the batch sibling of our connected-components loop):
repeatedly count adjacent symbol pairs and merge the most frequent
one.  The distributed shape matters more than the loop body:

* **The corpus is scanned exactly once** — pass 1 collapses it to the
  word-frequency vocabulary (``word_frequencies``).  Every merge round
  then aggregates over the *vocabulary* (|V| distinct words, millions
  at web scale) weighted by frequency, never over the 100 TB corpus.
  This is the classic trick from the reference implementation
  (learn_bpe trains on a word-count dict), re-expressed as: corpus ->
  one groupBy -> small DataFrame -> iterate on that.
* Each round is ONE map-side-combined aggregation over the vocab
  (explode adjacent pairs, sum freq) + a 1-row driver argmax + ONE
  codegen projection applying the merge as an array fold
  (``F.aggregate``; no UDF, no shuffle).  ``localCheckpoint``
  truncates the lineage each round so round R's plan never replays
  rounds 1..R-1.
* Ties break deterministically (count desc, then pair lexicographic),
  so the learned merge table is reproducible across partitionings and
  cluster sizes — required for the cross-engine gate and for
  restartable training.

``bpe_encode_words`` applies a learned merge table to a vocabulary by
replaying merges in rank order (the reference apply_bpe semantics);
encoding the training corpus therefore reproduces the trainer's final
symbol state exactly — property-tested against a pure-Python reference
implementation in tests/test_bpetrain.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from honas_spark.functions.text import tokens

__all__ = [
    "EOW",
    "word_frequencies",
    "bpe_pair_counts",
    "bpe_train",
    "bpe_encode_words",
    "bpe_encode_docs",
]

EOW = "</w>"


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus -> (word, freq).  The ONLY full-corpus pass in BPE
    training; everything after iterates on this vocabulary table."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    # characters + an end-of-word marker, the Sennrich initial alphabet
    return F.concat(F.split(word, ""), F.array(F.lit(EOW)))


def _adjacent_pairs(vocab: DataFrame) -> DataFrame:
    """(symbols, freq) -> (left_sym, right_sym, pair_count): adjacent
    pair frequencies, weighted by word frequency.  One explode + one
    map-side-combined agg over the vocabulary."""
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("symbols") - 1),
            lambda i: F.struct(
                F.element_at("symbols", i).alias("l"),
                F.element_at("symbols", i + 1).alias("r"),
            ),
        )
    )
    return (
        vocab.filter(F.size("symbols") >= 2)
        .select(pair.alias("p"), "freq")
        .groupBy(
            F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
        )
        .agg(F.sum("freq").alias("pair_count"))
    )


def bpe_pair_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Round-0 BPE pair statistics straight from a corpus:
    (left_sym, right_sym, pair_count) over initial char+EOW symbols.
    This is the exact aggregation every training round repeats (on
    merged symbols), exposed separately because it is SQL-expressible
    and carries the cross-engine gate for the trainer's inner loop."""
    vocab = word_frequencies(df, text_col).select(
        _initial_symbols(F.col("word")).alias("symbols"), "freq"
    )
    return _adjacent_pairs(vocab)


def _merge_symbols(col: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) into one
    symbol, as a pure array fold — JVM codegen, no UDF."""
    merged = left + right
    return F.aggregate(
        col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    min_count: int = 2,
    init_merges: "DataFrame | None" = None,
) -> DataFrame:
    """Learn a BPE merge table -> (rank, left_sym, right_sym, merged,
    pair_count), rank 0 first.  Stops early when no pair reaches
    min_count.  Deterministic under any partitioning (tie-break:
    pair_count desc, left_sym asc, right_sym asc).

    init_merges resumes an interrupted training: the prior merge table
    (any prefix of a previous run's output) is replayed onto the fresh
    vocabulary as pure projections — no pair counting — and learning
    continues at the next rank until the table holds num_merges rows
    TOTAL.  Because every round is deterministic, resume(k) + train to
    n reproduces train(n) exactly (tested in tests/test_bpetrain.py);
    persist the merge table each round and a days-long training
    survives any restart."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1: {num_merges}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1: {min_count}")
    spark = df.sparkSession
    vocab = (
        word_frequencies(df, text_col)
        .select(_initial_symbols(F.col("word")).alias("symbols"), "freq")
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, str, int]] = []
    if init_merges is not None:
        prior = init_merges.orderBy("rank").collect()
        if [r["rank"] for r in prior] != list(range(len(prior))):
            raise ValueError(
                "init_merges ranks must be contiguous from 0"
            )
        if len(prior) > num_merges:
            raise ValueError(
                f"init_merges has {len(prior)} rows > num_merges"
                f" {num_merges}"
            )
        for i, r in enumerate(prior):
            merges.append(
                (
                    r["rank"], r["left_sym"], r["right_sym"],
                    r["merged"], r["pair_count"],
                )
            )
            vocab = vocab.select(
                _merge_symbols(
                    F.col("symbols"), r["left_sym"], r["right_sym"]
                ).alias("symbols"),
                "freq",
            )
            # flatten the replay every few folds (plans nest otherwise)
            if (i + 1) % 8 == 0:
                vocab = vocab.localCheckpoint()
        vocab = vocab.localCheckpoint()
    for rank in range(len(merges), num_merges):
        best = (
            _adjacent_pairs(vocab)
            .orderBy(
                F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")
            )
            .first()
        )
        if best is None or best["pair_count"] < min_count:
            break
        left, right = best["left_sym"], best["right_sym"]
        merges.append((rank, left, right, left + right, best["pair_count"]))
        # one projection + eager localCheckpoint: round R+1 plans
        # against a flat in-memory vocab, not R nested folds
        vocab = vocab.select(
            _merge_symbols(F.col("symbols"), left, right).alias("symbols"),
            "freq",
        ).localCheckpoint()
    schema = T.StructType(
        [
            T.StructField("rank", T.LongType(), False),
            T.StructField("left_sym", T.StringType(), False),
            T.StructField("right_sym", T.StringType(), False),
            T.StructField("merged", T.StringType(), False),
            T.StructField("pair_count", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(merges, schema)


def _encode_word(word: str, merge_list: list[tuple[str, str]]) -> list[str]:
    symbols = list(word) + [EOW]
    for left, right in merge_list:
        if len(symbols) < 2:
            break
        out: list[str] = []
        i = 0
        while i < len(symbols):
            if (
                i + 1 < len(symbols)
                and symbols[i] == left
                and symbols[i + 1] == right
            ):
                out.append(left + right)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        symbols = out
    return symbols


def bpe_encode_words(
    words: DataFrame, merges: DataFrame, word_col: str = "word"
) -> DataFrame:
    """Apply a learned merge table to a vocabulary: (word, ...) ->
    (word, ..., pieces array<string>).  Merges replay in rank order
    (reference apply_bpe semantics), so encoding the training words
    reproduces the trainer's final symbol state.

    The merge table collects to the driver (it is num_merges rows —
    32k for GPT-2-class vocabularies) and broadcasts into an
    Arrow-batched pandas iterator; the per-word loop touches only the
    vocabulary, never the corpus."""
    merge_rows = merges.orderBy("rank").select(
        "left_sym", "right_sym"
    ).collect()
    merge_list = [(r["left_sym"], r["right_sym"]) for r in merge_rows]
    bc = words.sparkSession.sparkContext.broadcast(merge_list)
    out_schema = T.StructType(
        list(words.schema.fields)
        + [T.StructField("pieces", T.ArrayType(T.StringType()), False)]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ml = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.copy()
            pdf["pieces"] = [
                _encode_word(w, ml) for w in pdf[word_col].astype(str)
            ]
            yield pdf

    return words.mapInPandas(encode, out_schema)


def bpe_encode_docs(
    df: DataFrame, id_col: str, text_col: str, merges: DataFrame
) -> DataFrame:
    """Encode documents -> (id, pieces, n_pieces).  The pandas encoder
    runs over DISTINCT words only (vocabulary-sized work); documents
    then rebuild their piece sequence by position via one
    posexplode -> broadcast-eligible join -> ordered re-collect."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "word"),
    )
    vocab = toks.select("word").distinct()
    pieces = bpe_encode_words(vocab, merges)
    joined = toks.join(pieces, "word")
    per_doc = (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "pieces"))
            ).alias("ordered")
        )
        .select(
            id_col,
            F.flatten(F.col("ordered.pieces")).alias("pieces"),
        )
    )
    return per_doc.withColumn("n_pieces", F.size("pieces"))
