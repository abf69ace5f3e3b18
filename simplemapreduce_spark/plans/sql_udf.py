"""SQL-defined functions and observed metrics (Spark 4 surface).

Two late additions to the declarative surface:

* ``CREATE FUNCTION ... RETURN <expr>`` — SQL scalar UDFs. Unlike
  Python UDFs these inline into the plan as Catalyst expressions
  (whole-stage codegen, pushdown-transparent): the user-extensibility
  of a UDF with none of the serialization cost. The reference's only
  extensibility is Go closures (common_map.go:64) — opaque to any
  optimizer.
* ``df.observe(...)`` — CollectMetrics: accumulator-backed aggregates
  computed DURING an action with zero extra passes, the idiomatic way
  to get the reference's per-job statistics report
  (/root/reference/src/mapreduce/master.go:152-167) without a second
  scan; complements the session-level task_stats API (session.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.oracle_sql import SQL_TOKENS
from simplemapreduce_spark.sources.tables import load_table


@query(
    "q_sql_udf",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens,
           CAST(MAX(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS INT) AS max_tokens
    FROM documents GROUP BY source
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token totals through a SQL-defined scalar function:
    ``tok_count`` is created with CREATE FUNCTION ... RETURN <expr> and
    inlines into the aggregation as a plain Catalyst expression — the
    plan is identical to writing the expression by hand (no Python
    worker, codegen intact), which the paired no-python-udf plan test
    asserts."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tok_count(s STRING) RETURNS INT "
        "RETURN size(filter(split(s, '\\\\s+'), x -> x <> ''))"
    )
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("smr_docs_sqludf")
    return spark.sql(
        """
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(tok_count(text)) AS BIGINT) AS total_tokens,
               MAX(tok_count(text)) AS max_tokens
        FROM smr_docs_sqludf GROUP BY source
        """
    )


@query(
    "q_observe_metrics",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation with an observe() tap on the filtered input: the
    CollectMetrics node records row count and sum as accumulators
    while the action runs — the result rows are untouched (the oracle
    is the plain aggregation), which is exactly the contract observe
    promises. tests/test_plans.py asserts the metrics values match the
    aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    observed = o.observe(
        "q_observe_metrics_tap",
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("price_seen"),
    )
    return observed.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


_ARROW_OUT = "event_type string, n bigint, total_cents bigint"


@query(
    "q_arrow_group_stats",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY event_type
    """,
)
def q_arrow_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event stats via groupBy().applyInArrow — the zero-copy
    sibling of applyInPandas: the user function receives a
    pyarrow.Table per key (no pandas conversion at all), the natural
    surface when the per-group logic is itself Arrow-native
    (pyarrow.compute, or handoff to DataFusion/Polars-style kernels).
    Cents math mirrors the stateful operators' half-away-from-zero
    convention."""
    from simplemapreduce_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)

    def stats(key, table):  # no annotations: let Spark infer from usage
        import pyarrow as pa

        from simplemapreduce_spark.functions.money import cents_i64

        cents = cents_i64(table.column("value").to_numpy(zero_copy_only=False))
        return pa.table(
            {
                "event_type": [key[0].as_py() if hasattr(key[0], "as_py") else key[0]],
                "n": [table.num_rows],
                "total_cents": [cents],
            }
        )

    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    return e.groupBy("event_type").applyInArrow(stats, _ARROW_OUT)


@query(
    "q_pandas_udaf_weighted_mean",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT))
             / (100.0 * SUM(CAST(ROUND(l_quantity) AS BIGINT))), 6)
                AS DOUBLE) AS weighted_avg_price,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS total_weight
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pandas_udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE via a grouped-agg pandas UDF (Arrow
    series in, scalar out) — the UDAF surface, complementing the
    scalar UDF (q_sql_udf), table UDTF (q_udtf_token_runs) and
    applyInArrow (q_arrow_group_stats) coverage: quantity-weighted
    mean price per return flag.

    Scale note: a grouped-agg pandas UDF is a HOLISTIC aggregate —
    Spark ships each group's full columns to Python (no partial
    aggregation), which is exactly the documented contract of the
    reference's reduceF (common_reduce.go:78-87) but 10-100x the cost
    of the equivalent built-in SUM ratio; the docstring-level guidance
    stands: use this surface only for logic the built-ins cannot
    express.

    Exactness (ADVICE r3): the UDF accumulates in integer cents
    (prices are fixed-2dp, quantities integer-valued), so the
    numerator is order-independent — a float64 sum's pairwise-vs-
    sequential ordering difference between pandas and DuckDB could
    otherwise flip the 6-decimal rounding boundary. The single
    division happens once at the end; the 6-decimal ROUND is applied
    OUTSIDE the UDF (plain F.round on the result column), mirrored by
    the oracle's ROUND over the identical integer arithmetic.
    int64 headroom: ~1e7 cents x 50 qty per row leaves ~1.8e10 rows
    per group before the per-group sum could wrap."""
    from pyspark.sql.functions import pandas_udf

    from simplemapreduce_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)

    @pandas_udf("double")
    def wmean(price: pd.Series, qty: pd.Series) -> float:
        cents = (price * 100).round().astype("int64")
        q = qty.round().astype("int64")
        return float(int((cents * q).sum()) / (100.0 * int(q.sum())))

    @pandas_udf("double")
    def wsum(qty: pd.Series) -> float:
        return float(int(qty.round().astype("int64").sum()))

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wmean("l_extendedprice", "l_quantity"), 6).alias("weighted_avg_price"),
        wsum("l_quantity").alias("total_weight"),
    )


_CHUNK_SZ = 40


@query(
    "q_sql_table_function",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len({SQL_TOKENS})
               AS n_toks
      FROM documents
    ), chunks AS (
      SELECT doc_id, n_toks,
             unnest(range(0, CAST(ceil(CAST(n_toks AS DOUBLE) / {_CHUNK_SZ})
                                  AS BIGINT))) AS chunk_idx
      FROM d WHERE n_toks > 0
    )
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(chunk_idx * {_CHUNK_SZ} AS INTEGER) AS start_tok,
           CAST(LEAST({_CHUNK_SZ}, n_toks - chunk_idx * {_CHUNK_SZ}) AS INTEGER)
             AS chunk_len
    FROM chunks
    """,
)
def q_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-declared TABLE function (CREATE FUNCTION ... RETURNS TABLE
    ... RETURN SELECT) consumed via LATERAL — the declarative cousin of
    the Python UDTF surface (operators/py_udtf.py): chunk_bounds(n, sz)
    expands each document into its context-window chunk plan (index,
    start offset, length), entirely as an inlined Catalyst subquery —
    no Python worker, whole-stage codegen intact, unlike any
    imperative chunker. Complements q_text_chunks (which materializes
    chunk TEXT); this one emits the bounds plan a reader can apply
    zero-copy.

    Scale shape: the expansion factor is ceil(n_toks/40) per row —
    data-proportional, no shuffle at all until a consumer aggregates;
    the whole query is map-side."""
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION chunk_bounds(n INT, sz INT) "
        f"RETURNS TABLE (chunk_idx INT, start_tok INT, chunk_len INT) RETURN "
        f"SELECT i AS chunk_idx, i * sz AS start_tok, "
        f"least(sz, n - i * sz) AS chunk_len "
        f"FROM (SELECT explode(sequence(0, CAST(ceil(n / CAST(sz AS DOUBLE)) AS INT) - 1)) AS i)"
    )
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("smr_docs_tf")
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx, c.start_tok, c.chunk_len
        FROM (
          SELECT doc_id,
                 size(filter(split(text, '\\\\s+'), x -> x <> '')) AS n_toks
          FROM smr_docs_tf
        ) d, LATERAL chunk_bounds(d.n_toks, {_CHUNK_SZ}) c
        WHERE d.n_toks > 0
        """
    )
