"""Spark 4 SQL-surface operators: SQL scripting (BEGIN/END control
flow), exact distinct via bitmap aggregates, ANSI LISTAGG, and the
mergeable approx_top_k sketch lifecycle.

Extension scope: the reference exposes exactly one entry point — a
string-pair MapReduce job (/root/reference/src/mapreduce/master.go:
60-88). A user switching to this engine gets the current Spark SQL
surface on the same tables; this module covers the Spark-4 additions
that the rest of the catalog doesn't already exercise, each with the
pattern that makes it scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.session import scoped_conf
from simplemapreduce_spark.sources.tables import load_table, register_tables


@query(
    "q_sql_scripting",
    oracle="""
    WITH big AS (SELECT COUNT(*) > 5000 AS b FROM orders),
    cutoff AS (SELECT MAX(o_totalprice) * 0.5 AS c FROM orders),
    by_priority AS (
      SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n_above
      FROM orders WHERE o_totalprice > (SELECT c FROM cutoff)
      GROUP BY o_orderpriority
    ),
    by_status AS (
      SELECT o_orderstatus AS grp, CAST(COUNT(*) AS BIGINT) AS n_above
      FROM orders WHERE o_totalprice > (SELECT c FROM cutoff)
      GROUP BY o_orderstatus
    )
    SELECT grp, n_above FROM by_priority WHERE (SELECT b FROM big)
    UNION ALL
    SELECT grp, n_above FROM by_status WHERE NOT (SELECT b FROM big)
    """,
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4): DECLARE/SET variables + IF/ELSE control
    flow inside one BEGIN..END block — procedural orchestration that
    previously needed driver-side Python glue.

    The script derives a cutoff (half the max order price — exact
    double arithmetic on both engines, no summation-order ambiguity),
    then branches on table size: large tables aggregate by priority,
    small ones by status. The oracle mirrors the branch with pure SQL
    (both branches computed, one selected), so the driver verifies the
    control flow took the same path at every scale factor. Each
    statement inside the block is still a full Catalyst plan —
    scripting changes orchestration, not execution."""
    register_tables(spark, sf_dir, ("orders",))
    # spark.sql runs a script eagerly and returns its last result as a
    # local relation, so the conf is needed only during this call.
    with scoped_conf(spark, "spark.sql.scripting.enabled", "true"):
        return spark.sql(
            """
            BEGIN
              DECLARE cutoff DOUBLE;
              DECLARE is_big BOOLEAN;
              SET cutoff = (SELECT MAX(o_totalprice) * 0.5 FROM orders);
              SET is_big = (SELECT COUNT(*) > 5000 FROM orders);
              IF is_big THEN
                SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n_above
                FROM orders WHERE o_totalprice > cutoff
                GROUP BY o_orderpriority;
              ELSE
                SELECT o_orderstatus AS grp, CAST(COUNT(*) AS BIGINT) AS n_above
                FROM orders WHERE o_totalprice > cutoff
                GROUP BY o_orderstatus;
              END IF;
            END
            """
        )


@query(
    "q_agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-user counts per event type via two-level bitmap
    aggregation (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_count) instead of COUNT(DISTINCT).

    Scale shape: COUNT(DISTINCT) over a high-cardinality key forces
    Catalyst to shuffle the full (group, key) distinct expansion. The
    bitmap formulation shuffles CONSTANT-SIZE state instead: stage 1
    groups by (event_type, bucket) — each bucket covers 32768 ids and
    aggregates to one ≤4 KB bitmap via bitwise OR, mergeable and
    partial/final like SUM — and stage 2 sums per-bucket popcounts.
    State is O(id-range / 32768) bitmaps per group, independent of row
    count: the standard exact-distinct production pattern when HLL
    (q_agg_hll_merge) is not allowed to be approximate."""
    e = load_table(spark, sf_dir, "events")
    per_bucket = (
        e.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return (
        per_bucket.withColumn("cnt", F.expr("bitmap_count(bm)"))
        .groupBy("event_type")
        .agg(F.sum("cnt").cast("long").alias("n_users"))
    )


@query(
    "q_agg_listagg",
    oracle="""
    WITH ranked AS (
      SELECT c_nationkey, c_name, c_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey
             ) AS rk
      FROM customer
    )
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY rk) AS top_names,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ranked WHERE rk <= 3
    GROUP BY c_nationkey
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LISTAGG ... WITHIN GROUP (ORDER BY ...) — Spark 4's
    ordered string aggregation — rendering each nation's top-3
    customers by balance as one comma-joined field.

    Scale shape: the top-3 cut runs as WindowGroupLimit (per-partition
    top-k before the window shuffle), so LISTAGG only ever aggregates
    3 rows per group — the guard that keeps ordered string aggregation
    bounded when a group has millions of rows. Rank ties broken by
    unique c_custkey, so the string is deterministic."""
    c = load_table(spark, sf_dir, "customer")
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    )
    ranked = c.withColumn("rk", rk).filter(F.col("rk") <= 3)
    return ranked.groupBy("c_nationkey").agg(
        F.expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY rk)").alias("top_names"),
        F.count("*").cast("long").alias("n"),
    )


@query(
    "q_approx_top_k_lifecycle",
    oracle="""
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
)
def q_approx_top_k_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items sketch lifecycle: accumulate partial
    approx_top_k sketches per day bucket, combine them into one, then
    estimate — the accumulate/combine/estimate trio Spark 4 exposes
    for reusable sketch columns (same lifecycle as q_agg_hll_merge's
    HLL union, here for item frequencies).

    Oracled EXACTLY by the same contract as the catalog's
    percentile_approx and HLL entries: with maxItemsTracked (10000) at
    least the true cardinality (event types are a small closed set)
    the sketch degenerates to exact counts, and k (50) above the
    cardinality means no tie-at-boundary ambiguity — so the DuckDB
    GROUP BY is an exact oracle while the Spark side still exercises
    the real sketch accumulate/combine/estimate path a 1000-executor
    rollup would run per partition/day/merge level."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("approx_top_k_accumulate(event_type, 10000)").alias("sk")
    )
    # repartition(1) before the global combine: Spark's ApproxTopKCombine
    # crashes (scala.MatchError: null in genSketchSerDe) when a partial-
    # aggregation task sees an EMPTY partition — the item-type field of
    # the never-initialized buffer is null at serialize time. AQE's
    # partition coalescing usually masks it (found by the AQE-off
    # invariance sweep). repartition, not coalesce: coalesce(1) would
    # propagate up through the per-day groupBy and serialize the daily
    # sketch aggregation itself to one task at scale, while the extra
    # tiny shuffle of |days| sketch rows keeps it parallel and still
    # guarantees the combine's partial aggregation never sees an empty
    # partition.
    combined = daily.repartition(1).agg(
        F.expr("approx_top_k_combine(sk, 10000)").alias("sk")
    )
    est = combined.select(F.explode(F.expr("approx_top_k_estimate(sk, 50)")).alias("r"))
    return est.select(
        F.col("r.item").alias("item"), F.col("r.count").cast("long").alias("cnt")
    )


@query(
    "q_sql_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY ALL
    """,
)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+/Spark 4 ANSI surface): the analyzer
    derives the grouping keys from the non-aggregate select items —
    the ergonomic form analysts reach for first. Resolves at analysis
    time to the identical partial+final hash aggregate as an explicit
    GROUP BY 1, 2, so the physical plan (and its 100 TB behavior) is
    unchanged; DuckDB supports the same syntax, so the oracle is
    byte-identical SQL. Sum in exact decimal, surfaced as double."""
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY ALL
        """
    )


@query(
    "q_set_except_all",
    oracle="""
    SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS multiplicity
    FROM (
      SELECT o_custkey AS c_custkey FROM orders
      EXCEPT ALL
      SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY c_custkey
    HAVING COUNT(*) > 1
    """,
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL — bag-semantics difference, keeping
    per-element multiplicity (each customer's order count minus their
    'F'-status order count), surfaced as customers with more than one
    surviving order. Complements q_set_except, whose trailing
    .distinct() verifies only set semantics.

    Spark compiles exceptAll to a generate-and-sum rewrite (+1/-1
    multiplicity counters, one hash aggregate, replicate) — no sort,
    no join: the same shape DuckDB uses, and a single shuffle on the
    value at 100 TB. The trailing count-per-key collapses the bag so
    the oracle hash compares a bounded result."""
    o = load_table(spark, sf_dir, "orders")
    all_orders = o.select(F.col("o_custkey").alias("c_custkey"))
    f_orders = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        all_orders.exceptAll(f_orders)
        .groupBy("c_custkey")
        .agg(F.count("*").cast("long").alias("multiplicity"))
        .filter(F.col("multiplicity") > 1)
    )


@query(
    "q_set_intersect_all",
    oracle="""
    SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS multiplicity
    FROM (
      SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus <> 'F'
      INTERSECT ALL
      SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000
    )
    GROUP BY c_custkey
    """,
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL — bag intersection keeping min(m_left,
    m_right) copies per value: customers counted by how many orders
    they have in BOTH the open-status and the high-value populations
    (the overlap cardinality a segmentation report wants, which the
    DISTINCT variant collapses to 0/1). Same generate-and-sum rewrite
    and single-shuffle scale shape as q_set_except_all."""
    o = load_table(spark, sf_dir, "orders")
    open_orders = o.filter(F.col("o_orderstatus") != "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    big_orders = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        open_orders.intersectAll(big_orders)
        .groupBy("c_custkey")
        .agg(F.count("*").cast("long").alias("multiplicity"))
    )


@query(
    "q_sql_execute_immediate",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag
    """,
)
def q_sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4 dynamic SQL): the statement text
    lives in a SQL-scripting variable and parameters bind via USING —
    the session-variable + dynamic-execution surface procedural
    migrations rely on, complementing q_sql_scripting (control flow)
    and q_sql_parameterized (API-level binding). The oracle is the
    equivalent static statement; parameters bind AFTER parsing, so
    the pushed predicate reaches the scan exactly like a literal."""
    from simplemapreduce_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, ("lineitem",))
    spark.sql("DECLARE OR REPLACE VARIABLE stmt STRING")
    spark.sql(
        """SET VARIABLE stmt =
           'SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS price_cents
            FROM lineitem WHERE l_quantity >= ? GROUP BY l_returnflag'"""
    )
    return spark.sql("EXECUTE IMMEDIATE stmt USING 30")


@query(
    "q_sql_join_hints",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS acctbal_cents
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def q_sql_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL optimizer HINTS — BROADCAST on the join plus
    REPARTITION(8, c_nationkey) on the probe side: the escape hatch for when statistics mislead Catalyst (a
    misestimated dimension spilling to sort-merge is a classic 100 TB
    incident). Hints must change the PHYSICAL plan without touching
    results: the oracle is the unhinted semantic statement, and
    tests/test_plans.py asserts the broadcast actually happened. The
    repartition hint doubles as the explicit pre-shuffle surface
    (SQL's equivalent of df.repartition(n, key))."""
    from simplemapreduce_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, ("customer", "nation"))
    return spark.sql(
        """
        SELECT /*+ BROADCAST(n) */
               n.n_name,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS acctbal_cents
        FROM (SELECT /*+ REPARTITION(8, c_nationkey) */ * FROM customer) c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
        """
    )
