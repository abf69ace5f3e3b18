"""Corpus frequency-spectrum operators: exact heavy hitters via a
Misra-Gries candidate sketch, and the frequency-of-frequencies
spectrum (Good-Turing smoothing input).

Extension scope: the reference's reduce is an opaque string fold
(/root/reference/src/mapreduce/common_reduce.go:78-87); word counting
is its flagship demo (wc.go). These are the frequency statistics a
tokenizer / LM-data pipeline derives from the same token stream at
corpus scale, where the FULL vocabulary no longer fits a reduce-side
hash table and a bounded-state candidate pass has to come first.

Sketch background (public): Misra & Gries 1982 "Finding repeated
elements"; the batched merge rule (sum summaries, subtract the
(K+1)-th largest count, drop non-positives) is the mergeable-summaries
formulation of Agarwal/Cormode/Huang/Phillips/Wei/Yi (PODS 2012).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.functions.text import tokens
from simplemapreduce_spark.oracle_sql import SQL_TOKENS
from simplemapreduce_spark.sources.tables import ensure_parallelism, load_table


# Report tokens with frequency > n/_HH_K; the sketch keeps _MG_CAP
# counters per partition. The candidate superset guarantee needs
# _MG_CAP + 1 >= _HH_K: an item with global count > n/_HH_K exceeds
# n_p/_HH_K of at least one partition's n_p tokens (pigeonhole), and a
# capacity-C Misra-Gries summary retains every item with partition
# frequency > n_p/(C+1).
_HH_K = 200
_MG_CAP = 512


def _mg_sketch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition Misra-Gries summary over token arrays.

    Each Arrow batch is counted exactly (a Counter IS a Misra-Gries
    summary with zero error), then merged into the running summary
    with the mergeable-summaries rule: add counts; if more than
    _MG_CAP survive, subtract the (_MG_CAP+1)-th largest count and
    drop non-positives. State is O(_MG_CAP) regardless of partition
    size — the property that lets the pass run map-only at 100 TB."""
    summary: Counter = Counter()
    for pdf in batches:
        batch: Counter = Counter()
        for toks in pdf["toks"]:
            batch.update(toks)
        summary.update(batch)
        if len(summary) > _MG_CAP:
            kth = sorted(summary.values(), reverse=True)[_MG_CAP]
            summary = Counter({t: c - kth for t, c in summary.items() if c > kth})
    yield pd.DataFrame({"token": pd.Series(list(summary.keys()), dtype=object)})


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKENS}) AS token FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_total FROM toks)
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST((COUNT(*) * 1000000) // MAX(n_total) AS BIGINT) AS ppm
    FROM toks CROSS JOIN n
    GROUP BY token
    HAVING COUNT(*) * {_HH_K} > MAX(n_total)
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with frequency > n/200) via a
    two-pass sketch-then-verify plan.

    Pass 1 is a map-only Misra-Gries candidate sketch: each partition
    emits at most _MG_CAP tokens, guaranteed (Misra-Gries 1982 +
    pigeonhole across partitions) to be a superset of every token
    above the global threshold. Pass 2 broadcast-semi-joins the token
    stream against that candidate set before the groupBy, so the
    reduce-side hash state is bounded by |candidates| — NOT by corpus
    vocabulary. That is the 100 TB point: a full-vocab groupBy would
    shuffle and hash billions of distinct keys to find a few hundred
    frequent ones; here the shuffle carries only candidate tokens and
    the exact filter makes the output independent of sketch internals
    (deterministic, hence SQL-oracle-able). The second tokenization
    scan is map-only; at production scale it reads the same columnar
    bytes with the candidate filter applied pre-shuffle."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = d.select(tokens("text").alias("toks"))
    candidates = toks.mapInPandas(_mg_sketch_partition, "token string").distinct()
    total = d.select(F.sum(F.size(tokens("text"))).cast("long").alias("n_total"))
    counts = (
        d.select(F.explode(tokens("text")).alias("token"))
        .join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * _HH_K > F.col("n_total"))
        .select(
            "token",
            "cnt",
            F.expr("CAST(cnt * 1000000 DIV n_total AS BIGINT)").alias("ppm"),
        )
    )


@query(
    "q_token_freq_spectrum",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKENS}) AS token FROM documents
    ),
    tf AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token)
    SELECT CAST(cnt AS BIGINT) AS freq,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(CAST(COUNT(*) AS DOUBLE)
                / (SELECT COUNT(*) FROM tf) AS DOUBLE) AS type_share
    FROM tf GROUP BY cnt
    """,
)
def q_token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum N_r = |{types seen r times}|
    — the input table for Good-Turing smoothing and the standard
    vocabulary-health diagnostic (N_1/|V| = hapax share; a corpus of
    boilerplate has a collapsed spectrum).

    Scale shape: first groupBy shuffles the token stream once with
    map-side partial aggregation; the second groupBy and the scalar
    type-count run over the ALREADY-AGGREGATED vocabulary table
    (|V| rows, orders of magnitude smaller than the corpus). No
    Python, no holistic aggregate — both levels are partial/final
    counts."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    n_types_total = tf.select(F.count("*").cast("double").alias("n_types_total"))
    return (
        tf.groupBy(F.col("cnt").alias("freq"))
        .agg(F.count("*").cast("long").alias("n_types"))
        .crossJoin(F.broadcast(n_types_total))
        .select(
            "freq",
            "n_types",
            (F.col("n_types") / F.col("n_types_total")).alias("type_share"),
        )
    )
