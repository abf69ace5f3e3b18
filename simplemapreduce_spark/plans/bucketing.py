"""Bucketed-table co-located join — the layout strategy that removes
the shuffle from repeated big-big joins at 100 TB.

The reference's only co-location mechanism is its FNV hash partition
of intermediate files (/root/reference/src/common/common.go:61-66,
common_map.go:72-77): every job re-partitions from scratch. Spark's
persistent bucketing does that partitioning ONCE at write time and
every subsequent join/aggregation on the bucket key reads the layout
instead of shuffling — the difference between an O(data) exchange per
query and zero.

Shape proven here (and asserted in tests/test_plans.py):
  write orders + lineitem bucketed by order key into 8 buckets
  -> SortMergeJoin with NO Exchange on either side (bucketed scans
     satisfy the join's distribution requirement)
  -> the follow-up groupBy on the same key also runs exchange-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.scratch import scratch_dir, staged_once
from simplemapreduce_spark.sources.tables import load_table

N_BUCKETS = 8


def _bucketed_table(
    spark: SparkSession, sf_dir: str, table: str, key: str, cols: list[str]
) -> DataFrame:
    """Write `table` bucketed+sorted by `key` (idempotent per sf tag)
    and return it via the catalog so scans carry bucket metadata."""
    import os

    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    name = f"smr_bucketed_{table}_{sf_tag}"
    path = scratch_dir(f"bucketed_{table}", sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        load_table(spark, sf_dir, table)
        .select(*cols)
        .write.bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(name)
    )
    return spark.table(name)


@query(
    "q_join_bucketed",
    oracle="""
    SELECT l.l_orderkey,
           ANY_VALUE(o.o_orderpriority) AS o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_orderkey
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free big-big join via persistent bucketing: both sides
    written bucketed by the order key, then joined (merge hint keeps
    Catalyst from broadcasting the locally-small side — at 100 TB
    neither side broadcasts) and aggregated on the same key. The whole
    pipeline runs without a single Exchange: bucketed scans already
    satisfy the join's and the aggregation's distribution requirement,
    and the sortBy metadata satisfies the merge join's ordering
    requirement. This is the layout investment a recurring 100 TB join
    amortizes across every downstream query."""
    bo = _bucketed_table(
        spark, sf_dir, "orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]
    )
    bl = _bucketed_table(
        spark, sf_dir, "lineitem", "l_orderkey", ["l_orderkey", "l_quantity"]
    )
    return (
        bl.join(bo.hint("merge"), bl["l_orderkey"] == bo["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            F.first("o_orderpriority").alias("o_orderpriority"),
            F.count("*").alias("n_lines"),
            F.sum("l_quantity").cast("double").alias("total_qty"),
        )
    )


_RANGE_MICROS = 72 * 3600 * 1_000_000  # 72-hour lookback window


@query(
    "q_join_range_binned",
    oracle="""
    SELECT e.event_id, COUNT(*) AS n_recent,
           MAX(p.value) AS max_recent_value
    FROM events e
    JOIN events p
      ON p.user_id = e.user_id
     AND p.ts <= e.ts
     AND p.ts >= e.ts - INTERVAL 72 HOURS
    GROUP BY e.event_id
    """,
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join rewritten as a binned equi-join — the formulation
    that scales where a raw theta join cannot.

    Semantics: each event counts the same user's events in the 72
    hours up to and including it (a lookback activity window). The
    probe is deliberately events-to-events: round 2's events-to-orders
    version had disjoint time domains (events 2024, orders 1995-2001),
    so the rewrite was only ever verified on an empty result
    (ADVICE r2). Self-overlap guarantees every event matches at least
    itself and that bucket-boundary pairs are exercised.

    A plain `BETWEEN` join is a broadcast-nested-loop (or, keyed on
    user alone, a per-user cross product that blows up on hot users).
    Binning quantizes time into window-width buckets: a probe row at
    bucket b can only satisfy events in buckets {b, b+1}, so
    replicating the probe side 2x and equi-joining on (user, bucket)
    bounds the candidate set, then the exact predicate filters — a
    hash join with a 2x replication factor instead of an unbounded
    theta join. Each pair meets exactly once because the event's
    bucket is unique and the two probe replicas carry distinct bucket
    keys, so no dedup pass is needed. This is the standard
    interval-join binning used by stream processors for time-bounded
    joins.

    No reference equivalent (no join operator exists in
    /root/reference; SURVEY.md §2.2 Joins)."""
    from simplemapreduce_spark.functions.time import epoch_micros

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        epoch_micros("ts").alias("eu"),
    )
    p = load_table(spark, sf_dir, "events").select(
        "user_id",
        epoch_micros("ts").alias("pu"),
        "value",
    )
    e_binned = e.withColumn("bin", (F.col("eu") / _RANGE_MICROS).cast("bigint"))
    p_binned = p.withColumn(
        "bin",
        F.explode(
            F.array(
                (F.col("pu") / _RANGE_MICROS).cast("bigint"),
                (F.col("pu") / _RANGE_MICROS).cast("bigint") + 1,
            )
        ),
    )
    joined = e_binned.join(p_binned, ["user_id", "bin"]).filter(
        (F.col("pu") <= F.col("eu")) & (F.col("pu") >= F.col("eu") - _RANGE_MICROS)
    )
    return joined.groupBy("event_id").agg(
        F.count("*").alias("n_recent"),
        F.max("value").alias("max_recent_value"),
    )


def zorder_value(a, b, bits: int = 16):
    """Morton (Z-order) interleaving of two min-max-normalized
    dimensions into one sort key. Writing a table range-partitioned
    and sorted by this key clusters rows so that parquet row-group
    min/max stats are selective on EITHER dimension — linear sort
    orders perfectly on one column and not at all on the second;
    Z-order trades a little of each for pruning power on both (the
    multi-dimensional clustering lever behind Delta/Iceberg OPTIMIZE
    ZORDER, built here from plain built-in expressions).

    ``a`` and ``b`` must already be normalized to [0, 2^bits).
    The interleave is a static 2*bits-term expression — JVM-side,
    codegen-friendly, no UDF."""
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(one), 2 * i + 1)
        ).bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(one), 2 * i))
    return z


def normalize_to_bits(col, lo, hi, bits: int = 16):
    """Min-max scale a numeric column to integer [0, 2^bits) (bounds
    passed in, computed once per write job)."""
    span = max(hi - lo, 1e-12)
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(span) * ((1 << bits) - 1)
    return F.least(F.lit((1 << bits) - 1), F.greatest(F.lit(0), scaled.cast("long")))


_Z_BITS = 8
# DuckDB mirror of zorder_value for 8-bit dims: 16 arithmetic terms.
_Z_SQL = " + ".join(
    f"(((za // {1 << i}) % 2) * {1 << (2 * i + 1)}) + (((zb // {1 << i}) % 2) * {1 << (2 * i)})"
    for i in range(_Z_BITS)
)


@query(
    "q_layout_zorder",
    oracle=f"""
    WITH dims AS (
      SELECT (o_custkey % 256) AS za,
             (((date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256) + 256) % 256) AS zb
      FROM orders
    ),
    z AS (SELECT za, zb, ({_Z_SQL}) AS zval FROM dims)
    SELECT CAST(zval // 1024 AS BIGINT) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(za) AS BIGINT) AS min_cust, CAST(MAX(za) AS BIGINT) AS max_cust,
           CAST(MIN(zb) AS BIGINT) AS min_day, CAST(MAX(zb) AS BIGINT) AS max_day
    FROM z GROUP BY 1
    """,
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout summary: interleave customer and
    order-day into one clustering key, bucket the keyspace, and report
    each bucket's span on BOTH source dimensions — the min/max stats a
    parquet writer would persist per row group after an OPTIMIZE
    ZORDER-style rewrite.

    The point the output makes: every z-bucket covers a narrow range
    of customer AND day simultaneously (max_cust - min_cust and
    max_day - min_day are both ~1/8 of the domain for 64 buckets),
    which is exactly why row-group min/max pruning works on either
    predicate after a z-order write — a plain sort gets one dimension
    tight and the other spanning the full domain.

    Scale shape: the interleave is a static 16-term bitwise expression
    (zorder_value above — JVM codegen, no UDF), the normalization is
    row-local modular arithmetic, and the summary is one partial/final
    groupBy on the bucket key. The actual production write is
    repartitionByRange(zval) + sortWithinPartitions(zval) — asserted
    to prune on both dimensions in tests/test_storage_layout.py."""
    o = load_table(spark, sf_dir, "orders")
    dims = o.select(
        F.pmod(F.col("o_custkey"), F.lit(256)).cast("long").alias("za"),
        F.pmod(F.datediff("o_orderdate", F.lit("1992-01-01")), F.lit(256))
        .cast("long")
        .alias("zb"),
    )
    z = dims.withColumn("zval", zorder_value(F.col("za"), F.col("zb"), bits=_Z_BITS))
    return (
        z.groupBy((F.col("zval") / 1024).cast("long").alias("zbucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("za").cast("long").alias("min_cust"),
            F.max("za").cast("long").alias("max_cust"),
            F.min("zb").cast("long").alias("min_day"),
            F.max("zb").cast("long").alias("max_day"),
        )
    )


@query(
    "q_join_dpp",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT strftime(date_trunc('month', o_orderdate), '%Y-%m')
               AS ship_month
      FROM orders
      WHERE year(o_orderdate) = 1996 AND o_orderpriority = '1-URGENT'
    ), fact AS (
      SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
             CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
               AS rev_cents
      FROM lineitem
    )
    SELECT f.ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(rev_cents) AS BIGINT) AS revenue_cents
    FROM fact f JOIN dim d ON d.ship_month = f.ship_month
    GROUP BY 1
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    Hive-partitioned by ship month (staged once per lineitem version
    by scratch.staged_once, reused across calls), and the join
    against a SELECTIVE derived dimension (urgent-order months of
    1996 — inside the fixture's 1995-2001 span; the round-4 vacuity
    audit caught the original 1992 predicate matching nothing, which
    made the whole join 0 = 0 trivially green) lets Spark inject a
    runtime `dynamicpruning` subquery into the fact scan — only the
    matching month directories are read. At 100 TB this is the
    difference between scanning 12/84 months and scanning everything:
    partition pruning driven by JOIN results, not just static
    predicates (complement of q_join_bucketed's shuffle elimination
    and q_layout_zorder's intra-file min/max pruning; plan asserted in
    tests/test_plans.py).

    The oracle computes the identical join on the raw parquet —
    layout is an execution concern, the answer must not change.
    Revenue accumulates as exact integer cents (_rcents)."""

    def write_fact(p: str) -> None:
        load_table(spark, sf_dir, "lineitem").select(
            "l_extendedprice",
            "l_discount",
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        ).write.mode("overwrite").partitionBy("ship_month").parquet(p)

    path = staged_once("dpp_lineitem_by_month", sf_dir, "lineitem", write_fact)
    fact = spark.read.parquet(path)
    o = load_table(spark, sf_dir, "orders")
    dim = (
        o.filter(
            (F.year("o_orderdate") == 1996)
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"))
        .distinct()
    )
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        fact.join(dim, "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(rev_cents).cast("long").alias("revenue_cents"),
        )
    )


_GRID_QX = 8  # grid cell width on the quantity axis
_GRID_PY = 20000  # grid cell height on the price axis (dollars)


@query(
    "q_join_spatial_grid",
    oracle=f"""
    WITH rects AS (
      SELECT CAST(i AS INTEGER) AS rect_id,
             (i % 6) * 8 + 1 + CASE WHEN i >= 24 THEN 60 ELSE 0 END AS q_lo,
             (i % 6) * 8 + 13 + CASE WHEN i >= 24 THEN 60 ELSE 0 END AS q_hi,
             (i // 6) * 20000 + 500 AS p_lo, (i // 6) * 20000 + 30500 AS p_hi
      FROM (SELECT unnest(range(26)) AS i)
    ), pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS x, l_extendedprice AS y,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT r.rect_id,
           CAST(COUNT(p.x) AS BIGINT) AS n_points,
           CAST(COALESCE(SUM(p.cents), 0) AS BIGINT) AS sum_cents
    FROM rects r
    LEFT JOIN pts p
      ON p.x >= r.q_lo AND p.x < r.q_hi
     AND p.y >= r.p_lo AND p.y < r.p_hi
    GROUP BY 1
    """,
)
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed 2-D containment join (points-in-rectangles) by GRID
    BINNING — the spatial-join shape (GeoSpark/Sedona's partitioning
    idea, same algebra as q_join_range_binned in one dimension more):
    each rectangle expands ROW-LOCALLY to the grid cells it covers,
    each point maps to exactly one cell, candidates come from an
    equi-join on the cell coordinate pair, and an exact containment
    filter refines. The oracle runs the naive theta join — at fixture
    scale the two must agree bit-for-bit; at 100 TB only the grid
    form survives (the theta join is |points| x |rects| with no hash
    key; the grid join touches each point once per covering cell of
    its OWN cell's rectangles — candidate work proportional to
    overlap density, not to the cross product).

    26 query rectangles derive from a deterministic range() formula
    (identical text on both engines): 24 overlapping in-range boxes
    plus two shifted past the quantity domain, so the left join's
    zero-count empty-box branch is exercised non-vacuously, and points inside multiple
    overlapping boxes count once per box (multiset semantics pinned).
    Exact integer cents; half-open [lo, hi) bounds on both axes avoid
    double-counting grid-aligned edges."""
    off = F.when(F.col("id") >= 24, F.lit(60)).otherwise(F.lit(0))
    rects = spark.range(26).select(
        F.col("id").cast("int").alias("rect_id"),
        ((F.col("id") % 6) * 8 + 1 + off).cast("long").alias("q_lo"),
        ((F.col("id") % 6) * 8 + 13 + off).cast("long").alias("q_hi"),
        ((F.col("id") / 6).cast("long") * 20000 + 500).alias("p_lo"),
        ((F.col("id") / 6).cast("long") * 20000 + 30500).alias("p_hi"),
    )
    # Row-local cell cover: every (cx, cy) grid cell the rectangle
    # touches. Half-open bounds: hi-edge cell included only when the
    # rectangle extends past the cell's lower edge.
    cover = rects.select(
        "rect_id",
        "q_lo",
        "q_hi",
        "p_lo",
        "p_hi",
        F.explode(
            F.expr(f"sequence(q_lo div {_GRID_QX}, (q_hi - 1) div {_GRID_QX})")
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.expr(f"sequence(p_lo div {_GRID_PY}, CAST((p_hi - 1) div {_GRID_PY} AS BIGINT))")
        ).alias("cy"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.col("l_extendedprice").alias("y"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    ).select(
        "x",
        "y",
        "cents",
        (F.col("x") / _GRID_QX).cast("long").alias("cx"),
        (F.col("y") / _GRID_PY).cast("long").alias("cy"),
    )
    hits = (
        pts.join(F.broadcast(cover), ["cx", "cy"])
        .filter(
            (F.col("x") >= F.col("q_lo"))
            & (F.col("x") < F.col("q_hi"))
            & (F.col("y") >= F.col("p_lo"))
            & (F.col("y") < F.col("p_hi"))
        )
        .groupBy("rect_id")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )
    return (
        rects.select("rect_id")
        .join(hits, "rect_id", "left")
        .select(
            "rect_id",
            F.coalesce("n_points", F.lit(0)).cast("long").alias("n_points"),
            F.coalesce("sum_cents", F.lit(0)).cast("long").alias("sum_cents"),
        )
    )
