"""Deterministic sampling / splitting / pipeline-composition operators
for training-data curation.

All selection decisions are content-hash based (md5 prefix compare) —
no RNG, no global count, no coordination: every executor decides each
row locally, the property that makes sampling free at 100 TB and
reproducible across engines (the DuckDB oracle computes the identical
predicate). Spark's df.sample() is seeded-RNG per partition — fine for
statistics, wrong for reproducible pipeline runs where membership must
be stable under repartitioning, retries, and engine changes.

Extension scope: the reference has no sampling/splitting surface —
input selection is the fixed file list passed to Sequential/Distributed
(/root/reference/src/mapreduce/master_sequential.go:6-14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.functions.text import tokens
from simplemapreduce_spark.oracle_sql import SQL_TOKENS
from simplemapreduce_spark.sources.tables import load_table


def hash_bucket(col: F.Column, prefix_len: int = 2) -> F.Column:
    """First hex chars of md5 — a uniform, engine-portable bucket key."""
    return F.substring(F.md5(col.cast("string")), 1, prefix_len)


@query(
    "q_sample_hash",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample (md5 prefix < '1a' = 26/256): stable
    under repartitioning/retries, identical on every engine — the
    reproducible alternative to seeded-RNG df.sample()."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(hash_bucket(F.col("doc_id")) < "1a").select("doc_id", "lang", "source")


@query(
    "q_split_train_test",
    oracle="""
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id
    FROM documents GROUP BY 1
    """,
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test assignment from the
    doc-id hash — membership is a pure function of the row, so the
    split never leaks across reruns or engines."""
    d = load_table(spark, sf_dir, "documents")
    h = hash_bucket(F.col("doc_id"), 1)
    split = (
        F.when(h < "c", "train").when(h < "e", "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


@query(
    "q_pipeline_training_data",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {SQL_TOKENS} AS t,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    ),
    quality AS (
      SELECT doc_id, lang, fp, len(t) AS n_tokens FROM toks WHERE len(t) >= 5
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM quality
      ) WHERE rn = 1
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM deduped GROUP BY lang
    """,
)
def q_pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline composition: quality filter (min
    token count) → exact dedup (normalized-content fingerprint,
    deterministic keeper) → per-language corpus stats. One scan, two
    shuffles (dedup window + final agg) — the composed operators fuse
    into a single declarative plan Catalyst optimizes as a whole."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).alias("n_tokens"),
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("fp"),
    ).filter(F.col("n_tokens") >= 5)
    w = W.partitionBy("fp").orderBy("doc_id")
    deduped = base.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return deduped.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )


SHUFFLE_SEED = "epoch0"
SHUFFLE_HEAD = 20


@query(
    "q_shuffle_deterministic",
    oracle=f"""
    SELECT doc_id, shuffle_key, CAST(rank AS INTEGER) AS rank FROM (
      SELECT doc_id,
             md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
             ROW_NUMBER() OVER (ORDER BY md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR))) AS rank
      FROM documents
    ) WHERE rank <= {SHUFFLE_HEAD}
    """,
)
def q_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: order the corpus by
    md5(seed || doc_id) — a new seed is a new epoch permutation, and
    the order is identical across engines, reruns, and partitionings
    (seeded-RNG shuffles are not). The head-k probe compiles to
    TakeOrderedAndProject: per-partition top-k heaps, no global sort
    materialization. The full-epoch variant is the same expression via
    orderBy (range-partitioned total sort) or repartitionByRange on
    the key when only per-shard order matters. The unpartitioned
    row_number (and its WindowExec single-partition warning) applies
    to the k-row head AFTER the TakeOrdered limit — a constant-size
    input by construction, never the corpus."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(f"{SHUFFLE_SEED}:"), F.col("doc_id").cast("string")))
    from pyspark.sql import Window as W

    head = (
        d.select("doc_id", key.alias("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(SHUFFLE_HEAD)
    )
    return head.select(
        "doc_id",
        "shuffle_key",
        F.row_number().over(W.orderBy("shuffle_key")).alias("rank"),
    )


@query(
    "q_sample_weighted",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
               AS DOUBLE) / 65536.0
          < LEAST(1.0, CAST(n_chars AS DOUBLE) / 1000.0)
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED Bernoulli sample: accept a document with
    probability proportional to its length (capped at 1), using an
    md5-derived uniform instead of a seeded RNG — the reproducible
    form of importance sampling a curation pipeline uses to upweight
    long documents. Membership is a pure function of the row (hash ->
    [0,1) uniform vs the row's own weight), so the sample is stable
    under retries, repartitioning, and engine choice, and composes
    with the unweighted hash sample / split above."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("double")
        / 65536.0
    )
    p = F.least(F.lit(1.0), F.col("n_chars").cast("double") / 1000.0)
    return d.filter(u < p).select("doc_id", "n_chars")


N_SHARDS = 8


@query(
    "q_shard_assignment",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % {N_SHARDS} AS shard,
             len({SQL_TOKENS}) AS n_tokens
      FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM assigned GROUP BY shard
    """,
)
def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data output sharding: assign every document to one of
    {N} shards by content hash (the data-loader file layout for a
    tokenized corpus) and report per-shard balance — doc and token
    counts plus the id range. Hash assignment (not round-robin) is
    what survives at scale: membership is a pure row function, stable
    under repartitioning, retries, and incremental appends, and the
    balance report is the check that no shard will straggle a training
    epoch.

    Scale shape: row-local md5 assignment, one {N}-group aggregate
    with map-side partials; the actual write is
    ``df.write.partitionBy('shard')`` (exercised for the compaction op
    in tests/test_quality_ops.py with the same layout machinery)."""
    d = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % N_SHARDS
    )
    n_tokens = F.size(tokens("text"))
    return (
        d.select("doc_id", shard.alias("shard"), n_tokens.alias("n_tokens"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


q_shard_assignment.__doc__ = q_shard_assignment.__doc__.format(N=N_SHARDS)


@query(
    "q_split_kfold",
    oracle="""
    WITH f AS (
      SELECT lang,
             ((instr('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + instr('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 5 AS fold,
             doc_id
      FROM documents
    )
    SELECT CAST(fold AS INTEGER) AS fold, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM f GROUP BY 1, 2
    """,
)
def q_split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment with a
    per-(fold, language) stratification audit — the fold id is a pure
    function of the doc id (first md5 byte mod 5), so folds are stable
    across reruns, engines, and partitioning, and every worker can
    compute membership locally with zero shuffle (the same
    content-hash discipline as q_split_train_test). The fold x lang
    count matrix is what a pipeline owner checks before trusting the
    folds for per-language eval.

    The hex-digit positions are decoded with instr over a literal
    alphabet — portable integer math identical on both engines (no
    engine-specific hex-parse builtin). 256 % 5 leaves folds 0-1 a
    ~4% hair larger than 2-4: documented bias of byte-mod folding,
    irrelevant for CV.

    Scale shape: map-side fold/lang projection, one hash agg to a
    5 x |langs| result. No join, no window, no sort."""
    d = load_table(spark, sf_dir, "documents")

    def digit(pos: int) -> F.Column:
        return (
            F.expr(
                f"instr('0123456789abcdef', substr(md5(cast(doc_id as string)), {pos}, 1))"
            )
            - 1
        )

    fold = ((digit(1) * 16 + digit(2)) % 5).cast("int")
    return d.groupBy(fold.alias("fold"), "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )
