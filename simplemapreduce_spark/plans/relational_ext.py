"""Second relational catalog slice: full outer join, array/map scalar
functions, unpivot, range-frame windows, and file-format round-trips
(CSV/JSON sources+sinks exercised end-to-end).

Same determinism rules as plans/relational.py: money in decimals,
unique tie-breaks, float folds evaluated in identical order on both
engines (left fold, no engine-chosen summation order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.scratch import scratch_dir
from simplemapreduce_spark.sources.tables import load_table


@query(
    "q_join_full_outer",
    oracle="""
    WITH oa AS (
      SELECT o_custkey, COUNT(*) AS n_1996 FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY o_custkey
    ), ob AS (
      SELECT o_custkey, COUNT(*) AS n_1999 FROM orders
      WHERE o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '2000-01-01'
      GROUP BY o_custkey
    )
    SELECT COALESCE(oa.o_custkey, ob.o_custkey) AS custkey,
           COALESCE(oa.n_1996, 0) AS n_1996, COALESCE(ob.n_1999, 0) AS n_1999
    FROM oa FULL OUTER JOIN ob ON oa.o_custkey = ob.o_custkey
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: customers active in 1996 vs 1999 — both
    unmatched sides surface as NULL counts and BOTH actually occur
    (round-4 audit: the original 1994 side predated the fixture's
    1995-2001 span entirely, so every row came from one branch and
    the full-outer semantics were untested). Shuffle-hash/sort-merge
    on the key; both inputs pre-aggregated so the join input is one
    row per key (the scalable shape — join after reduce, not
    before)."""
    o = load_table(spark, sf_dir, "orders")

    def year(yr: int, alias: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{yr}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{yr + 1}-01-01").cast("timestamp"))
            )
            .groupBy("o_custkey")
            .agg(F.count("*").alias(alias))
        )

    a = year(1996, "n_1996").alias("a")
    b = year(1999, "n_1999").alias("b")
    # coalesce the counts: a nullable BIGINT output renders as None on
    # the Spark side but NaN on the DuckDB side of the driver's compare
    return a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey"), "full_outer").select(
        F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("custkey"),
        F.coalesce(F.col("n_1996"), F.lit(0)).alias("n_1996"),
        F.coalesce(F.col("n_1999"), F.lit(0)).alias("n_1999"),
    )


@query(
    "q_scalar_array",
    oracle="""
    SELECT vec_id,
           CAST(len(e) AS INTEGER) AS arr_len,
           list_reduce(e[1:4], (a, b) -> a + b) AS head4_sum,
           list_max(e) AS max_val,
           CAST(len(list_filter(e, x -> x > 0)) AS INTEGER) AS n_pos,
           list_sort(e)[len(e)] AS sorted_last
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    """,
)
def q_scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar functions over the embedding column: size, slice +
    left-fold sum (identical evaluation order on both engines, so the
    doubles are bit-equal), max, filtered count, sort. All JVM-side
    higher-order functions — no UDF."""
    e = load_table(spark, sf_dir, "embeddings")
    # float32 source → double BEFORE any arithmetic, so both engines
    # fold in float64 (a float32 fold rounds differently per step).
    arr = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size(arr).alias("arr_len"),
        F.aggregate(F.slice(arr, 1, 4), F.lit(0.0), lambda acc, x: acc + x).alias("head4_sum"),
        F.array_max(arr).alias("max_val"),
        F.size(F.filter(arr, lambda x: x > 0)).alias("n_pos"),
        F.element_at(F.array_sort(arr), F.size(arr)).alias("sorted_last"),
    )


@query(
    "q_scalar_map",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10
    FROM events WHERE event_type = 'click'
    """,
)
def q_scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column path: parse props JSON into map<string,long>,
    then element_at lookups (the map type is the engine surface; output
    stays scalar so both engines hash identically)."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", T.MapType(T.StringType(), T.LongType()))
    return (
        e.filter(F.col("event_type") == "click")
        .withColumn("m", m)
        .select(
            "event_id",
            F.element_at("m", "k").alias("k_value"),
            (F.element_at("m", "k") % 10).alias("k_mod10"),
        )
    )


@query(
    "q_unpivot",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS metric_value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): the inverse of q_pivot, via DataFrame
    unpivot — one pass, no self-union of the input."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL '30 days' PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_30d
    FROM orders WHERE o_custkey < 100
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, not row-based): trailing-30-day
    spend per customer. Spark's rangeBetween needs a numeric ordering
    key, so the frame runs over epoch MICROseconds — exactly the SQL
    INTERVAL '30 days' frame (a seconds floor could flip membership at
    sub-second edges). Epoch extraction is the NTZ wall-clock helper
    (functions/time.py), not unix_timestamp, which would route the
    naive value through the session timezone and shift frame edges
    across DST transitions on a non-UTC driver."""
    from simplemapreduce_spark.functions.time import epoch_micros

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        W.partitionBy("o_custkey")
        .orderBy(epoch_micros("o_orderdate"))
        .rangeBetween(-30 * 86400 * 1_000_000, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("spend_30d"),
    )


@query(
    "q_source_csv_roundtrip",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, COUNT(*) AS n_nations,
           MIN(n_name) AS first_nation
    FROM nation GROUP BY n_regionkey
    """,
)
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip: write the nation table as CSV with
    a header, read it back with an explicit schema, aggregate. Proves
    the csv connector preserves values exactly (int/string columns)."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = scratch_dir("nation_csv", sf_dir)
    n.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    back = spark.read.option("header", True).schema(schema).csv(path)
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"), F.min("n_name").alias("first_nation")
    )


@query(
    "q_source_json_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
    GROUP BY o_orderpriority
    """,
)
def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-JSON sink + source round-trip (the reference's intermediate
    file format, common_map.go:89-95): write a filtered orders slice as
    JSON lines, read it back, aggregate."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    path = scratch_dir("orders_json", sf_dir)
    o.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    return back.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@query(
    "q_sql_api",
    oracle="""
    SELECT n.n_name AS nation, COUNT(DISTINCT c.c_custkey) AS n_customers,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY n.n_name
    """,
)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's raw-SQL entry point: the same catalog the DataFrame
    API uses, registered as temp views and queried with spark.sql —
    Catalyst compiles both surfaces to identical plans, so everything
    the catalog verifies for DataFrames holds for SQL users too."""
    from simplemapreduce_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, ("customer", "nation", "orders"))
    return spark.sql(
        """
        SELECT n.n_name AS nation, COUNT(DISTINCT c.c_custkey) AS n_customers,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
        """
    )


@query(
    "q_agg_collect_sorted",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list(DISTINCT o_orderstatus ORDER BY o_orderstatus), ',') AS statuses,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation with deterministic order: collect_set sorted
    post-hoc (collect order is partition-dependent; the sort pins it).
    Output is the joined string, not the array — array-typed catalog
    outputs crash the driver's pandas canonicalizer (VERDICT round 1)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.count("*").alias("n"),
    )


@query(
    "q_agg_median_mode",
    oracle="""
    WITH m AS (
      SELECT o_orderstatus, median(o_totalprice) AS median_price FROM orders GROUP BY 1
    ),
    cnt AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c FROM orders GROUP BY 1, 2
    ),
    md AS (
      SELECT o_orderstatus, o_orderpriority AS mode_priority
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                         ORDER BY c DESC, o_orderpriority) AS rk FROM cnt)
      WHERE rk = 1
    )
    SELECT m.o_orderstatus, m.median_price, md.mode_priority
    FROM m JOIN md ON md.o_orderstatus = m.o_orderstatus
    """,
)
def q_agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated, Spark median == DuckDB median on the
    same doubles) plus a DETERMINISTIC mode: built from counts with an
    explicit tie-break rather than engine mode() (whose tie behavior is
    unspecified)."""
    from pyspark.sql import Window as MW

    o = load_table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderstatus").agg(F.median("o_totalprice").alias("median_price"))
    cnt = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("c"))
    w = MW.partitionBy("o_orderstatus").orderBy(F.col("c").desc(), F.col("o_orderpriority"))
    mode = (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )
    return med.join(mode, "o_orderstatus")


@query(
    "q_scalar_variant",
    # The VARIANT round-trip is lossless for these types, so the oracle
    # is the identity projection — the Spark side is what exercises the
    # semi-structured machinery (same proof strategy as the injected
    # PII/URL queries: both engines must land on identical values).
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status,
           CAST(o_totalprice AS DOUBLE) AS price,
           o_custkey AS second_party
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def q_scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): encode each order row as
    JSON, parse_json into a VARIANT, extract typed fields back with
    variant_get path expressions (object keys + array index). VARIANT
    keeps the binary-encoded open schema a real ingest pipeline gets
    from heterogeneous JSON, while predicate pushdown on the typed
    outer column (the modulo filter) still prunes the scan. The
    reference's untyped string values (common.go KeyValue) are the
    degenerate ancestor of exactly this capability."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    v = F.parse_json(
        F.to_json(
            F.struct(
                "o_orderkey",
                "o_orderstatus",
                "o_totalprice",
                F.array("o_orderkey", "o_custkey").alias("parties"),
            )
        )
    )
    return o.select(
        "o_orderkey",
        F.variant_get(v.alias("v"), "$.o_orderstatus", "string").alias("status"),
        F.variant_get(v.alias("v"), "$.o_totalprice", "double").alias("price"),
        F.variant_get(v.alias("v"), "$.parties[1]", "bigint").alias("second_party"),
    )


@query(
    "q_source_xml_roundtrip",
    oracle="""
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, MIN(r_name) AS region_name
    FROM region GROUP BY r_regionkey
    """,
)
def q_source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip (built-in connector since Spark 4):
    write the region table as XML row elements, read it back with an
    explicit schema, aggregate. XML scans are row-tag splittable, so
    the source parallelizes like any file format."""
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    path = scratch_dir("region_xml", sf_dir)
    r.write.mode("overwrite").option("rootTag", "regions").option("rowTag", "region").format(
        "xml"
    ).save(path)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.LongType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    back = spark.read.option("rowTag", "region").schema(schema).format("xml").load(path)
    return back.groupBy("r_regionkey").agg(F.min("r_name").alias("region_name"))


@query(
    "q_join_null_safe",
    oracle="""
    WITH e AS (
      SELECT event_id, NULLIF(event_type, 'error') AS etype FROM events
    ), d AS (
      SELECT NULLIF(event_type, 'error') AS etype, COUNT(*) AS n_of_type
      FROM events GROUP BY 1
    )
    SELECT e.etype, COUNT(*) AS n_events, MIN(d.n_of_type) AS n_of_type
    FROM e JOIN d ON e.etype IS NOT DISTINCT FROM d.etype
    GROUP BY e.etype
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing, so the NULL-keyed group
    (events whose type was nulled out) survives the join — the
    semantic a plain equi-join silently drops. Catalyst still plans a
    hash join (null-safe equality is a valid equi-key), not a
    nested-loop."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.nullif(F.col("event_type"), F.lit("error")).alias("etype")
    )
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.nullif(F.col("event_type"), F.lit("error")).alias("etype"))
        .agg(F.count("*").alias("n_of_type"))
    )
    joined = e.join(d, e.etype.eqNullSafe(d.etype)).select(
        e.etype.alias("etype"), "n_of_type"
    )
    return joined.groupBy("etype").agg(
        F.count("*").alias("n_events"), F.min("n_of_type").alias("n_of_type")
    )


@query(
    "q_scalar_parse_url",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://host' || CAST(doc_id % 20 AS VARCHAR)
               || '.example/path/' || CAST(doc_id AS VARCHAR)
               || '?uid=' || CAST(doc_id % 7 AS VARCHAR) || '&ref=feed' AS url
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]uid=([^&]*)', 1) AS uid,
           regexp_extract(url, '^([a-z]+):', 1) AS protocol
    FROM u
    """,
)
def q_scalar_parse_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction via the parse_url built-in family
    (HOST / PATH / QUERY-parameter / PROTOCOL) — JVM-side, codegen'd.
    The fixture has no URL column, so a deterministic URL is
    synthesized per document (same proof strategy as the PII and
    url-extract queries); the oracle re-derives each component with
    regexes, so Spark's dedicated parser is cross-checked against a
    from-scratch implementation rather than itself."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://host"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example/path/"),
        F.col("doc_id").cast("string"),
        F.lit("?uid="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&ref=feed"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("uid")).alias("uid"),
        F.parse_url(url, F.lit("PROTOCOL")).alias("protocol"),
    )


@query(
    "q_scalar_try",
    oracle="""
    WITH t AS (
      SELECT o_orderpriority,
             TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_num,
             TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast,
             TRY_CAST(o_orderpriority AS TIMESTAMP) AS bad_ts,
             o_totalprice / NULLIF(TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) - 1, 0)
               AS safe_div
      FROM orders
    )
    SELECT o_orderpriority,
           MAX(prio_num) AS prio_num,
           COUNT(bad_cast) AS n_bad_cast_ok,
           COUNT(bad_ts) AS n_bad_ts_ok,
           COUNT(*) - COUNT(safe_div) AS n_div_null,
           MAX(safe_div) AS max_safe_div
    FROM t GROUP BY o_orderpriority
    """,
)
def q_scalar_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar family (try_cast / try_divide /
    try_to_timestamp): malformed input yields NULL instead of a task
    failure — the semantics a 100 TB ingest needs, where one bad row
    must not kill a stage. Spark's try_* are the ANSI-mode-safe forms;
    DuckDB mirrors them with TRY_CAST and NULLIF-guarded division
    (division by zero nulls on both engines under this rewrite).
    Priority '1-URGENT' exercises the divide-by-zero arm (1-1=0), the
    full string exercises failed int/timestamp casts."""
    from simplemapreduce_spark.sources.tables import ensure_parallelism

    # try_to_timestamp over a non-timestamp string walks the full
    # parse-failure path PER ROW — CPU-bound scalar work the
    # single-row-group fixture pinned to one scan task (round 10;
    # measured 1.35 s -> 0.43 s with the guard, production no-op).
    o = ensure_parallelism(
        load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    )
    prio_num = F.substring("o_orderpriority", 1, 1).try_cast("int")
    t = o.select(
        "o_orderpriority",
        prio_num.alias("prio_num"),
        F.col("o_orderpriority").try_cast("int").alias("bad_cast"),
        F.col("o_orderpriority").try_cast("timestamp").alias("bad_ts"),
        F.try_divide("o_totalprice", prio_num - 1).alias("safe_div"),
    )
    return t.groupBy("o_orderpriority").agg(
        F.max("prio_num").alias("prio_num"),
        F.count("bad_cast").alias("n_bad_cast_ok"),
        F.count("bad_ts").alias("n_bad_ts_ok"),
        (F.count("*") - F.count("safe_div")).alias("n_div_null"),
        F.max("safe_div").alias("max_safe_div"),
    )


@query(
    "q_sql_parameterized",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    WHERE o_totalprice >= 50000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql named-parameter binding): values
    bind as literals AFTER parsing, so user input can never splice
    into the query text — the injection-safe API a service exposes.
    Catalyst still constant-folds and pushes the bound predicates to
    the scan like hand-written literals."""
    from simplemapreduce_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        FROM orders
        WHERE o_totalprice >= :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 50000.0, "status": "F"},
    )


@query(
    "q_sql_pipe_syntax",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    WHERE o_totalprice > 100000
    GROUP BY o_orderstatus
    HAVING COUNT(*) > 5
    """,
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (|>, Spark 4): the linear FROM -> WHERE ->
    AGGREGATE -> WHERE dataflow form of a filter + group + having
    query. Same Catalyst plan as the nested form — the feature under
    test is the parser surface, so the oracle is the equivalent
    classic SQL on DuckDB."""
    from simplemapreduce_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        FROM orders
        |> WHERE o_totalprice > 100000
        |> AGGREGATE COUNT(*) AS n,
                     CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
           GROUP BY o_orderstatus
        |> WHERE n > 5
        """
    )


@query(
    "q_scalar_collation",
    oracle="""
    WITH m AS (
      SELECT CASE WHEN event_id % 3 = 0 THEN upper(event_type)
                  ELSE event_type END AS et
      FROM events
    )
    SELECT lower(et) AS event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT et) AS n_variants
    FROM m GROUP BY lower(et)
    """,
)
def q_scalar_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION semantics: group case-variant strings under
    the UTF8_LCASE collation — comparison/grouping behavior lives in
    the TYPE, not in lower() call sites. A third of the rows are
    deterministically upper-cased in-query so the case-insensitive
    merge is exercised non-vacuously (n_variants = 2 per surviving
    group); the group key is re-rendered through lower() + a cast back
    to UTF8_BINARY so the output representative is deterministic and
    the schema is a plain string for the oracle compare. DuckDB's
    default VARCHAR is case-sensitive, so its oracle groups by
    lower(et) — the rewrite collations make unnecessary on the Spark
    side. Plan: a plain hash aggregate on the collated key (collation
    participates in hashing/equality inside codegen — no UDF, no
    double-pass)."""
    e = load_table(spark, sf_dir, "events")
    et = F.when(F.col("event_id") % 3 == 0, F.upper("event_type")).otherwise(
        F.col("event_type")
    )
    m = e.select(et.alias("et"))
    return (
        m.groupBy(F.expr("collate(et, 'UTF8_LCASE')").alias("et_ci"))
        .agg(F.count("*").alias("n"), F.count_distinct("et").alias("n_variants"))
        .select(
            F.expr("collate(lower(et_ci), 'UTF8_BINARY')").alias("event_type"),
            "n",
            "n_variants",
        )
    )


@query(
    "q_join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    """,
)
def q_join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join with per-row LIMIT — "each
    customer's two priciest orders" written as the SQL-standard
    lateral form (identical text on both engines). The plan is the
    interesting part: Catalyst DECORRELATES the per-customer limit
    into a WindowGroupLimit with a PARTIAL pass before the exchange —
    map-side top-k per key, so the shuffle carries at most 2 rows per
    (customer, partition) instead of every order. Customers with no
    orders drop out (inner lateral), deterministically on both
    engines; ties cannot occur (o_orderkey ends the sort).

    Scale shape: one hash exchange on the correlation key with
    partial group-limits on both sides of it — strictly less data
    moved than the join+window formulation it replaces
    (q_topk_per_group), and no driver-side anything."""
    from simplemapreduce_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        """
    )


@query(
    "q_lateral_explode_outer",
    oracle=r"""
    WITH enriched AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN 'ref https://site' || CAST(doc_id % 20 AS VARCHAR)
                       || '.example/p ' || text
                  ELSE text END AS raw
      FROM documents
    ),
    with_urls AS (
      SELECT doc_id, regexp_extract_all(raw, 'https?://[A-Za-z0-9.-]+/[A-Za-z0-9]*') AS urls
      FROM enriched
    )
    SELECT w.doc_id, u.url
    FROM with_urls w
    LEFT JOIN LATERAL (SELECT unnest(urls) AS url) u ON TRUE
    """,
)
def q_lateral_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER lateral explode: rows whose generator array is EMPTY
    survive with a NULL element instead of vanishing — the semantics
    that keeps zero-match parents in link/tag extraction (an inner
    explode silently drops them, the classic row-loss bug in
    enrichment pipelines). One third of documents get an injected URL
    (the q_text_url_extract proof strategy), the rest have none, so
    BOTH branches are exercised non-vacuously: matched docs fan out,
    unmatched docs keep exactly one NULL row.

    Scale shape: explode_outer is the same row-local Generate as
    explode (outer=true), zero shuffles; the oracle mirrors it with
    DuckDB's LEFT JOIN LATERAL unnest."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("ref https://site"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".example/p "),
            F.col("text"),
        ),
    ).otherwise(F.col("text"))
    urls = F.regexp_extract_all(raw, F.lit(r"https?://[A-Za-z0-9.-]+/[A-Za-z0-9]*"), 0)
    return d.select("doc_id", urls.alias("urls")).select(
        "doc_id", F.explode_outer("urls").alias("url")
    )


@query(
    "q_scalar_csv_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(COUNT(*) AS BIGINT) AS n_quoted_ok
    FROM orders
    GROUP BY 1
    """,
)
def q_scalar_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar CSV codec surface (to_csv / from_csv): each order row is
    serialized to one CSV line — including a synthesized
    comma-carrying field, so the quoting path actually runs — then
    parsed back with an explicit schema, and the parsed columns drive
    the aggregate. The oracle computes the same aggregate from the
    BASE columns: the roundtrip must be the identity, so any quoting /
    escaping / type-coercion defect in either codec direction surfaces
    as a value mismatch (n_quoted_ok counts rows whose comma field
    survived verbatim — it must equal n).

    Only integer and string fields ride the codec: float formatting
    is representation-lossy across engines and belongs to the parquet
    path, not a text codec check.

    Scale shape: both codecs are row-local JVM expressions inside
    whole-stage codegen — one scan, one final hash agg."""
    o = load_table(spark, sf_dir, "orders")
    payload = F.concat_ws(",", "o_orderstatus", "o_orderpriority")
    line = F.to_csv(
        F.struct(
            F.col("o_orderkey").alias("k"),
            payload.alias("p"),
            F.col("o_orderpriority").alias("pr"),
        )
    )
    parsed = F.from_csv(line, "k BIGINT, p STRING, pr STRING")
    d = o.select(
        payload.alias("expect_p"), parsed.alias("r")
    ).select(
        F.col("r.pr").alias("o_orderpriority"),
        F.col("r.k").alias("k"),
        (F.col("r.p") == F.col("expect_p")).cast("int").alias("quoted_ok"),
    )
    return d.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.min("k").cast("long").alias("min_key"),
        F.max("k").cast("long").alias("max_key"),
        F.sum("quoted_ok").cast("long").alias("n_quoted_ok"),
    )


@query(
    "q_scalar_map_hof",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(n * n) AS BIGINT) AS sum_sq_counts,
           CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_frequent_types
    FROM c GROUP BY 1
    """,
)
def q_scalar_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order-function family over a per-user event-type
    count map: map_from_entries builds the map, transform_values
    squares the counts, map_filter keeps frequent types, and
    aggregate folds the values — the MapType column algebra a feature
    store uses for per-entity sparse features. The oracle computes the
    identical scalars RELATIONALLY (no maps), so the whole map
    pipeline is value-checked against plain SQL: any defect in map
    construction, HOF evaluation, or fold order shows as a mismatch.

    Scale shape: one (user, type) hash agg, then map construction +
    HOFs are row-local over |users| rows (maps bounded by |types|).
    The map column never shuffles — it is built AFTER the aggregate,
    which is the layout that survives hot users."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    m = c.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    sq = F.transform_values(F.col("m"), lambda k, v: v * v)
    freq = F.map_filter(F.col("m"), lambda k, v: v >= 3)
    total_sq = F.aggregate(
        F.map_values(sq), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return m.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        total_sq.alias("sum_sq_counts"),
        F.size(freq).cast("long").alias("n_frequent_types"),
    )


@query(
    "q_scalar_regexp",
    oracle=r"""
    SELECT doc_id,
           regexp_extract(text, '^([a-z]+)', 1) AS first_word,
           CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INTEGER)
             AS n_vowel_runs,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER)
             AS n_words,
           regexp_replace(substr(text, 1, 40), '\s+', '_', 'g') AS squeezed,
           regexp_matches(text, '^[a-m]') AS starts_a_to_m
    FROM documents
    """,
)
def q_scalar_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The regexp scalar-function family in one pass: group extract
    (regexp_extract), match enumeration (regexp_extract_all + size),
    global substitution (regexp_replace — Spark replaces all
    occurrences natively; the DuckDB twin needs the explicit 'g'
    option), and boolean match (rlike / regexp_matches — anchored class, chosen
    because the fixture text contains no digits: a digit test was
    constant False, the round-4 vacuity audit's exact trap; the
    first-letter split varies at every SF). Siblings
    q_text_url_extract / q_text_token_count_regex use regexps inside
    larger pipelines; this query pins the per-function semantics
    contract itself — return '' on no match, leftmost-longest runs,
    count of non-overlapping matches.

    Patterns stay in the character-class + anchor subset where Java
    regex (Spark, codegen'd JVM-side) and RE2 (DuckDB) agree; the
    squeeze runs on a 40-char prefix so the output column stays
    narrow. Row-local projection, zero shuffles, pushed 3-column
    scan — at 100 TB this is a pure map stage at scan speed."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"^([a-z]+)", 1).alias("first_word"),
        F.size(F.expr("regexp_extract_all(text, '[aeiou]+', 0)")).alias("n_vowel_runs"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).alias("n_words"),
        F.regexp_replace(F.substring("text", 1, 40), r"\s+", "_").alias("squeezed"),
        F.col("text").rlike("^[a-m]").alias("starts_a_to_m"),
    )


@query(
    "q_scalar_interval",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 100 DAY AS TIMESTAMP) AS due_100d,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3_months,
           CAST(last_day(o_orderdate) AS DATE) AS month_end,
           CAST(isodow(o_orderdate) AS INTEGER) AS dow_iso,
           CAST(date_diff('day', o_orderdate,
                          TIMESTAMP '1998-12-31') AS INTEGER) AS days_to_close
    FROM orders
    """,
)
def q_scalar_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval ARITHMETIC contract (sibling of q_scalar_date's
    field extraction): timestamp + day interval, month addition with
    end-of-month clamping (Jan 31 + 1 month = Feb 28 — Spark
    add_months and DuckDB's month interval both clamp, and this query
    pins that they clamp IDENTICALLY), last_day, ISO day-of-week
    (Spark's default dayofweek is 1=Sunday; the portable spelling is
    weekday()+1 = isodow — the off-by-one every cross-engine port
    hits), and a day count against a fixed anchor (never now(): wall
    clock would break both the oracle and reproducibility).

    Engine quirk pinned while building this query: DuckDB compares
    interval constants by a months~30-days approximation, so INTERVAL
    90 DAY == INTERVAL 3 MONTH and its common-subexpression
    elimination MERGES the two additions when both appear in one
    SELECT (observed on 1.0.0: both columns silently became +90
    days). The day offset here is 100 precisely so the two interval
    constants are unequal under that rule.

    Row-local projection, zero shuffles, codegen'd date arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS")).alias("due_100d"),
        F.add_months("o_orderdate", 3).alias("plus_3_months"),
        F.last_day("o_orderdate").alias("month_end"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("dow_iso"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate"))
        .cast("int")
        .alias("days_to_close"),
    )


@query(
    "q_scalar_binary_codec",
    oracle="""
    SELECT doc_id,
           lower(hex(substr(text, 1, 12))) AS hex12,
           to_base64(CAST(substr(text, 1, 12) AS BLOB)) AS b64_12,
           sha256(text) AS sha256_hex,
           md5(text) AS md5_hex,
           CAST(unhex(lower(hex(substr(text, 1, 12)))) AS VARCHAR)
             AS hex_roundtrip,
           octet_length(CAST(text AS BLOB)) AS n_bytes
    FROM documents
    """,
)
def q_scalar_binary_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec + cryptographic-hash scalar family: hex/unhex
    round-trip, base64, SHA-256, MD5, and byte length — the
    fingerprinting toolbox every content-addressed pipeline leans on
    (the dedup stack uses md5 internally; this pins the full codec
    surface as user-facing functions). Case contract made explicit:
    Spark hex() emits uppercase and DuckDB lowercase, so the portable
    spelling is lower(hex(..)) — exactly the off-by-case trap a
    cross-engine port hits; digests (sha2/md5) are lowercase on both.
    The text fixture is ASCII, so byte length equals char length and
    the BLOB casts are loss-free on both engines.

    Row-local projection, zero shuffles — a pure map stage."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.substring("text", 1, 12)
    return d.select(
        "doc_id",
        F.lower(F.hex(prefix)).alias("hex12"),
        F.base64(prefix.cast("binary")).alias("b64_12"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        F.md5(F.col("text")).alias("md5_hex"),
        F.unhex(F.lower(F.hex(prefix))).cast("string").alias("hex_roundtrip"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
