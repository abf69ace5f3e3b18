"""Time-series / event-stream catalog over ``events`` (SURVEY.md §7.1
M4): tumbling/sliding/session windows, as-of join, downsampling, gap
filling. Absent from the reference (strictly batch, §2.2); here they
are batch queries whose shapes are Structured-Streaming-ready (the
streaming module reuses the same windowed aggregations).

Determinism: all bucket edges are integer-microsecond arithmetic;
session boundaries compare integer micros; value sums use decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.functions.time import SESSION_GAP_MICROS, date_trunc_ntz, epoch_micros
from simplemapreduce_spark.sources.tables import load_table

_GAP_MICROS = SESSION_GAP_MICROS  # 30-minute session gap (shared constant)


@query(
    "q_ts_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_ts_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling window per event type — F.window() in batch mode
    (same operator Structured Streaming uses with a watermark)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@query(
    "q_ts_sliding",
    oracle="""
    WITH halves AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS half_start, value FROM events
    ), assigned AS (
      SELECT half_start AS window_start, value FROM halves
      UNION ALL
      SELECT half_start - INTERVAL '30 minutes' AS window_start, value FROM halves
    )
    SELECT window_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM assigned GROUP BY window_start
    """,
)
def q_ts_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 min — each event lands in two
    overlapping windows (oracle: explicit two-bucket assignment)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@query(
    "q_ts_session_window",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {_GAP_MICROS}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sess
    """,
)
def q_ts_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap). Spark merges events whose
    [ts, ts+gap) intervals touch, so a new session starts only when the
    gap is STRICTLY exceeded — the oracle's gaps-and-islands encodes
    exactly that; session_end = last event + gap on both sides."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_ts_sessionize_stats",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {_GAP_MICROS}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM marked
    )
    SELECT user_id, COUNT(DISTINCT sess) AS n_sessions, COUNT(*) AS n_events,
           CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT sess) AS events_per_session
    FROM numbered GROUP BY user_id
    """,
)
def q_ts_sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization via pure window functions (the portable
    gaps-and-islands formulation, identical plan on both engines)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    micros = epoch_micros("ts")
    is_new = F.when(
        F.lag("ts").over(w).isNull()
        | ((micros - F.lag(micros).over(w)) > F.lit(_GAP_MICROS)),
        1,
    ).otherwise(0)
    sess = F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        e.select("user_id", "ts", "event_id", sess.alias("sess"))
        .groupBy("user_id")
        .agg(
            F.countDistinct("sess").alias("n_sessions"),
            F.count("*").alias("n_events"),
            (F.count("*").cast("double") / F.countDistinct("sess")).alias("events_per_session"),
        )
    )


@query(
    "q_ts_asof_join",
    oracle="""
    WITH merged AS (
      SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS okey, 1 AS kind FROM events
      UNION ALL
      SELECT o_custkey AS user_id, o_orderdate AS ts, CAST(NULL AS BIGINT) AS event_id,
             o_orderkey AS okey, 0 AS kind
      FROM orders
    ), filled AS (
      SELECT *, LAST_VALUE(okey IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, kind, COALESCE(okey, 0), COALESCE(event_id, 0)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_orderkey
      FROM merged
    )
    SELECT event_id, user_id, ts, asof_orderkey
    FROM filled WHERE kind = 1
    """,
)
def q_ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event gets the most recent order (<= ts) of the
    same customer, via the union-merge technique — one shuffle, one
    sort, NO per-event probe join. This is the formulation that scales:
    a join+filter+rank approach re-reads the orders side per event and
    skews on hot users; the merged-stream window is O(n log n) total.
    Ties at equal ts: orders sort before events (kind 0 < 1) so an
    event exactly at order time sees that order; among same-instant
    orders the largest o_orderkey wins (last in frame)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.lit(None).cast("long").alias("okey"), F.lit(1).alias("kind")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("okey"),
        F.lit(0).alias("kind"),
    )
    merged = e.unionByName(o)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("okey", F.lit(0)), F.coalesce("event_id", F.lit(0)))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        merged.withColumn("asof_orderkey", F.last("okey", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select("event_id", "user_id", "ts", "asof_orderkey")
    )


@query(
    "q_ts_downsample",
    # avg computed in exact integer cents (value is 2-decimal data):
    # round_half_up(cents/n, 4dp) = (2*cents*100 + n) // (2*n) scaled
    # back — double division rounds differently in Spark (exact binary
    # HALF_UP) vs DuckDB (string-repr path) exactly at half boundaries.
    oracle="""
    WITH d AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS day, event_type,
             COUNT(*) AS n,
             SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents,
             MIN(value) AS min_value, MAX(value) AS max_value
      FROM events GROUP BY 1, 2
    )
    SELECT day, event_type, n,
           CAST(CAST(CAST((2 * cents * 100 + n) // (2 * n) AS DECIMAL(22,0))
                * CAST(0.0001 AS DECIMAL(5,4)) AS DECIMAL(18,4)) AS DOUBLE) AS avg_value,
           min_value, max_value
    FROM d
    """,
)
def q_ts_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC-style downsample per event type. The average is exact
    integer-cents arithmetic so the rounding is engine-independent."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long")).alias("cents"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("day"),
            "event_type",
            "n",
            F.expr(
                "CAST(CAST(CAST((2 * cents * 100 + n) div (2 * n) AS DECIMAL(22,0))"
                " * CAST(0.0001 AS DECIMAL(5,4)) AS DECIMAL(18,4)) AS DOUBLE)"
            ).alias("avg_value"),
            "min_value",
            "max_value",
        )
    )


@query(
    "q_ts_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(time_bucket(INTERVAL '1 day', MIN(ts)) AS TIMESTAMP) AS lo,
             CAST(time_bucket(INTERVAL '1 day', MAX(ts)) AS TIMESTAMP) AS hi
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 day')) AS day FROM bounds
    ), daily AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS day, COUNT(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT spine.day, COALESCE(daily.n, 0) AS n_purchases
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def q_ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling: generate the full day range, left
    join daily counts, zero-fill missing days (the spine is built with
    sequence()+explode — no driver-side loop)."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        date_trunc_ntz("day", F.min("ts")).alias("lo"), date_trunc_ntz("day", F.max("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(date_trunc_ntz("day", "ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    return (
        spine.join(daily, "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).alias("n_purchases"))
    )


@query(
    "q_ts_asof_forward",
    oracle="""
    WITH merged AS (
      SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS pkey, 0 AS kind FROM events
      UNION ALL
      SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id,
             event_id AS pkey, 1 AS kind
      FROM events WHERE event_type = 'purchase'
    ), filled AS (
      SELECT *, FIRST_VALUE(pkey IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, kind, COALESCE(pkey, 0), COALESCE(event_id, 0)
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_id
      FROM merged
    )
    SELECT event_id, user_id, ts, next_purchase_id
    FROM filled WHERE kind = 0
    """,
)
def q_ts_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event gets the same user's NEXT
    purchase event at or after the event time — the mirror of
    q_ts_asof_join's backward lookup, same union-merge shape (one
    shuffle + one sort, no per-event probe join).

    The probe and target both come from `events` on purpose: round 2
    paired events (2024) with orders (1995-2001), whose disjoint time
    domains made every forward match NULL, verifying the scan and tie
    rules only vacuously (ADVICE r2). Self-pairing guarantees non-NULL
    matches and exercises the flipped tie rules: probes sort before
    same-instant targets (kind 0 < 1) so a purchase event's next
    purchase is itself, and the smallest purchase event_id wins among
    same-instant targets (first in ascending frame)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.lit(None).cast("long").alias("pkey"), F.lit(0).alias("kind")
    )
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            F.lit(None).cast("long").alias("event_id"),
            F.col("event_id").alias("pkey"),
            F.lit(1).alias("kind"),
        )
    )
    merged = e.unionByName(p)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("pkey", F.lit(0)), F.coalesce("event_id", F.lit(0)))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    return (
        merged.withColumn("next_purchase_id", F.first("pkey", ignorenulls=True).over(w))
        .filter(F.col("kind") == 0)
        .select("event_id", "user_id", "ts", "next_purchase_id")
    )


@query(
    "q_ts_percentiles",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE)::VARCHAR AS day,
           CAST(round(quantile_cont(value, 0.5), 6) AS DOUBLE) AS p50,
           CAST(round(quantile_cont(value, 0.95), 6) AS DOUBLE) AS p95,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def q_ts_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p50/p95 latency-style bands over the event values — exact
    linear-interpolation percentiles per day bucket (Spark percentile ≡
    DuckDB quantile_cont), rounded to 6 decimals because interpolation
    arithmetic can differ in the last ulp. At scale, exact percentile
    sorts each group; the documented cheap path is approx_percentile
    (q_approx_quantiles) — this query is the exact twin."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_format(date_trunc_ntz("day", F.col("ts")), "yyyy-MM-dd")
    return (
        e.groupBy(day.alias("day"))
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q_ts_interpolate",
    oracle="""
    WITH bounds AS (
      SELECT CAST(time_bucket(INTERVAL '1 hour', MIN(ts)) AS TIMESTAMP) AS lo,
             CAST(time_bucket(INTERVAL '1 hour', MAX(ts)) AS TIMESTAMP) AS hi
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket FROM bounds
    ), hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), joined AS (
      SELECT spine.bucket, hourly.avg_value FROM spine
      LEFT JOIN hourly ON spine.bucket = hourly.bucket
    ), ctx AS (
      SELECT bucket, avg_value,
             LAST_VALUE(avg_value IGNORE NULLS) OVER
               (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_v,
             LAST_VALUE(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_d,
             FIRST_VALUE(avg_value IGNORE NULLS) OVER
               (ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_v,
             FIRST_VALUE(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER (ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_d
      FROM joined
    )
    SELECT bucket,
           CASE WHEN avg_value IS NOT NULL THEN 0 ELSE 1 END AS interpolated,
           CAST(ROUND(CASE
             WHEN avg_value IS NOT NULL THEN avg_value
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
               prev_v + (next_v - prev_v)
                 * (CAST(epoch_us(bucket) - epoch_us(prev_d) AS DOUBLE)
                    / CAST(epoch_us(next_d) - epoch_us(prev_d) AS DOUBLE))
             ELSE COALESCE(prev_v, next_v) END, 6) AS DOUBLE) AS avg_value_filled
    FROM ctx
    """,
)
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling with LINEAR INTERPOLATION: missing
    hourly buckets get prev + (next - prev) * elapsed/gap between the
    nearest real observations (edges fall back to the nearest
    one-sided value) — the time-series resampling step zero-fill
    (q_ts_gap_fill) cannot express. Hourly buckets keep the probe
    non-vacuous at the gate scales (47 empty hours at sf0.01 — the
    ADVICE r2 lesson: a fill operator verified only on gap-free data
    proves nothing); distances are integer epoch-microseconds on both
    engines, and the interpolation expression tree is written
    identically, so the doubles agree to rounding.

    Scale shape: the hourly aggregate is one row per bucket, so the
    unpartitioned ignore-nulls window scan runs over an AGGREGATE, not
    the raw events — same justification as the Pareto sweep
    (plans/stats.py). Per-series interpolation at scale partitions the
    same windows by series key."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        date_trunc_ntz("hour", F.min("ts")).alias("lo"),
        date_trunc_ntz("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    hourly = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(date_trunc_ntz("hour", "ts").alias("bucket"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("avg_value")
        )
    )
    joined = spine.join(hourly, "bucket", "left")
    w_back = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_fwd = W.orderBy("bucket").rowsBetween(W.currentRow, W.unboundedFollowing)
    bucket_if_val = F.when(F.col("avg_value").isNotNull(), F.col("bucket"))
    ctx = joined.select(
        "bucket",
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(w_back).alias("prev_v"),
        F.last(bucket_if_val, ignorenulls=True).over(w_back).alias("prev_d"),
        F.first("avg_value", ignorenulls=True).over(w_fwd).alias("next_v"),
        F.first(bucket_if_val, ignorenulls=True).over(w_fwd).alias("next_d"),
    )
    frac = (epoch_micros("bucket") - epoch_micros("prev_d")).cast("double") / (
        epoch_micros("next_d") - epoch_micros("prev_d")
    ).cast("double")
    filled = (
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac,
        )
        .otherwise(F.coalesce("prev_v", "next_v"))
    )
    return ctx.select(
        "bucket",
        F.when(F.col("avg_value").isNotNull(), 0).otherwise(1).alias("interpolated"),
        F.round(filled, 6).alias("avg_value_filled"),
    )


@query(
    "q_ts_trend_forecast",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(epoch_us(time_bucket(INTERVAL '1 hour', ts)) / 3600000000 AS BIGINT)
               AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      FROM events GROUP BY 1, 2
    ), fit AS (
      SELECT event_type,
             regr_slope(avg_value, h) AS slope,
             regr_intercept(avg_value, h) AS intercept,
             MAX(h) AS last_h,
             COUNT(*) AS n_buckets
      FROM hourly GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(ROUND(slope, 6) AS DOUBLE) AS slope_per_hour,
           CAST(ROUND(intercept + slope * (last_h + 1), 4) AS DOUBLE)
             AS next_hour_forecast
    FROM fit
    """,
)
def q_ts_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear trend forecast: hourly averages per event type,
    an OLS fit of average-vs-hour-index with the algebraic REGR_*
    aggregates, extrapolated one bucket past the last observation —
    the grouped trend-line primitive behind capacity planning and
    drift alerts. Two partial/final aggregations (bucketize, then fit —
    the fit consumes the vocabulary-sized hourly table), so millions of
    per-key models fit in one scan + one tiny shuffle at 100 TB. Hour
    indices are integer epoch-hours on both engines; the forecast
    expression tree is written identically."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            "event_type",
            (epoch_micros(date_trunc_ntz("hour", "ts")) / 3_600_000_000)
            .cast("bigint")
            .alias("h"),
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("avg_value")
        )
    )
    fit = hourly.groupBy("event_type").agg(
        F.regr_slope("avg_value", "h").alias("slope"),
        F.regr_intercept("avg_value", "h").alias("intercept"),
        F.max("h").alias("last_h"),
        F.count("*").alias("n_buckets"),
    )
    return fit.select(
        "event_type",
        F.col("n_buckets").cast("long"),
        F.round("slope", 6).alias("slope_per_hour"),
        F.round(
            F.col("intercept") + F.col("slope") * (F.col("last_h") + 1), 4
        ).alias("next_hour_forecast"),
    )


@query(
    "q_ts_ohlc",
    oracle="""
    WITH rk AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS rf,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM events
    )
    SELECT event_type, day,
           MAX(CASE WHEN rf = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rl = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM rk GROUP BY event_type, day
    """,
)
def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick downsample: per (series, day) the opening
    value (earliest event, ties by event_id), high, low, closing value
    (latest event), and volume — the canonical time-series rollup of
    every metrics/market hypertable.

    Determinism: open/close are selected by ROW_NUMBER over the full
    (ts, event_id) order, so same-timestamp events can never flip the
    result between engines or reruns. Values are raw stored doubles —
    no arithmetic, bit-exact on both engines.

    Scale shape: one hash exchange on the (series, day) grain serves
    both window sorts AND the final aggregate (same partition keys —
    Catalyst reuses the exchange; the windows add per-partition sorts,
    not shuffles). At 100 TB with many events per day-grain this is
    the map-side-combinable alternative to collecting events per
    group."""
    e = load_table(spark, sf_dir, "events")
    day = date_trunc_ntz("day", F.col("ts"))
    base = e.select("event_type", day.alias("day"), "ts", "event_id", "value")
    wf = W.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wl = W.partitionBy("event_type", "day").orderBy(F.desc("ts"), F.desc("event_id"))
    rk = base.select(
        "event_type",
        "day",
        "value",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    return rk.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rf") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rl") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_events"),
    )


@query(
    "q_ts_asof_nearest",
    oracle="""
    WITH m AS (
      SELECT user_id, ts, event_id AS cid, CAST(NULL AS BIGINT) AS pid,
             CAST(NULL AS TIMESTAMP) AS pts, 1 AS kind
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, CAST(NULL AS BIGINT) AS cid, event_id AS pid,
             ts AS pts, 0 AS kind
      FROM events WHERE event_type = 'purchase'
    ), f AS (
      SELECT *,
        LAST_VALUE(pid IGNORE NULLS) OVER (
          PARTITION BY user_id
          ORDER BY ts, kind, COALESCE(pid, 0), COALESCE(cid, 0)
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_pid,
        LAST_VALUE(pts IGNORE NULLS) OVER (
          PARTITION BY user_id
          ORDER BY ts, kind, COALESCE(pid, 0), COALESCE(cid, 0)
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
        FIRST_VALUE(pid IGNORE NULLS) OVER (
          PARTITION BY user_id
          ORDER BY ts, kind, COALESCE(pid, 0), COALESCE(cid, 0)
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_pid,
        FIRST_VALUE(pts IGNORE NULLS) OVER (
          PARTITION BY user_id
          ORDER BY ts, kind, COALESCE(pid, 0), COALESCE(cid, 0)
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_ts
      FROM m
    )
    SELECT cid AS click_id, user_id, ts,
           CASE WHEN back_pid IS NULL THEN fwd_pid
                WHEN fwd_pid IS NULL THEN back_pid
                WHEN ts - back_ts <= fwd_ts - ts THEN back_pid
                ELSE fwd_pid END AS nearest_purchase_id,
           CASE WHEN back_pid IS NULL AND fwd_pid IS NULL THEN NULL
                WHEN back_pid IS NULL THEN date_diff('second', ts, fwd_ts)
                WHEN fwd_pid IS NULL THEN date_diff('second', back_ts, ts)
                WHEN ts - back_ts <= fwd_ts - ts THEN date_diff('second', back_ts, ts)
                ELSE date_diff('second', ts, fwd_ts) END AS secs_to_nearest
    FROM f WHERE kind = 1
    """,
)
def q_ts_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of NEAREST join (pandas merge_asof direction='nearest'):
    each click gets the same user's purchase with the smallest
    absolute time distance, in either direction; equidistant ties
    resolve to the EARLIER (backward) purchase, and same-instant
    purchases count as distance zero via the backward leg (kind
    orders purchases before clicks at equal ts). Distance comparison
    is on raw microsecond timestamps; only the reported seconds are
    truncated.

    Scale shape: the union-merge formulation again — one shuffle on
    user_id, one per-partition sort serving BOTH directional window
    passes (backward last-non-null and forward first-non-null share
    the exchange AND the sort); no per-click probe join, no skew
    amplification on hot users."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("cid"),
        F.lit(None).cast("long").alias("pid"),
        F.lit(None).cast("timestamp_ntz").alias("pts"),
        F.lit(1).alias("kind"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("cid"),
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        F.lit(0).alias("kind"),
    )
    order = [
        F.col("ts"),
        F.col("kind"),
        F.coalesce("pid", F.lit(0)),
        F.coalesce("cid", F.lit(0)),
    ]
    back = W.partitionBy("user_id").orderBy(*order).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    fwd = W.partitionBy("user_id").orderBy(*order).rowsBetween(
        W.currentRow, W.unboundedFollowing
    )
    f = clicks.unionByName(purchases).select(
        "*",
        F.last("pid", ignorenulls=True).over(back).alias("back_pid"),
        F.last("pts", ignorenulls=True).over(back).alias("back_ts"),
        F.first("pid", ignorenulls=True).over(fwd).alias("fwd_pid"),
        F.first("pts", ignorenulls=True).over(fwd).alias("fwd_ts"),
    )
    back_closer = epoch_micros(F.col("ts")) - epoch_micros(F.col("back_ts")) <= epoch_micros(
        F.col("fwd_ts")
    ) - epoch_micros(F.col("ts"))

    def secs(c):
        # floor-of-epoch-seconds difference == DuckDB date_diff('second')
        # (both count whole-second boundary crossings; epochs positive)
        return F.floor(epoch_micros(F.col(c)) / F.lit(1000000)).cast("long")
    return f.filter(F.col("kind") == 1).select(
        F.col("cid").alias("click_id"),
        "user_id",
        "ts",
        F.when(F.col("back_pid").isNull(), F.col("fwd_pid"))
        .when(F.col("fwd_pid").isNull(), F.col("back_pid"))
        .when(back_closer, F.col("back_pid"))
        .otherwise(F.col("fwd_pid"))
        .alias("nearest_purchase_id"),
        F.when(F.col("back_pid").isNull() & F.col("fwd_pid").isNull(), F.lit(None))
        .when(F.col("back_pid").isNull(), secs("fwd_ts") - secs("ts"))
        .when(F.col("fwd_pid").isNull(), secs("ts") - secs("back_ts"))
        .when(back_closer, secs("ts") - secs("back_ts"))
        .otherwise(secs("fwd_ts") - secs("ts"))
        .alias("secs_to_nearest"),
    )


@query(
    "q_ts_rollup_distinct",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(DISTINCT user_id) AS exact_distinct_users,
           TRUE AS merged_within_5pct
    FROM events GROUP BY 1
    """,
)
def q_ts_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed mergeable-sketch rollup: 10-minute HLL partial
    sketches of distinct users, union-merged up to the day grain —
    the continuous-aggregate pattern of every metrics hypertable
    (partials maintained incrementally at fine grain; any coarser
    window is a cheap sketch merge, never a raw re-scan). Oracled via
    the exact-count + bounds-witness contract (see q_agg_hll_merge):
    the output carries the exact per-day distinct count plus a boolean
    asserting the MERGED estimate landed within 5% (lgConfigK=14,
    ~6 sigma).

    Scale shape: the fine-grain aggregate shuffles (bucket, user)
    partials once; the day rollup moves only KB-sized sketches per
    bucket. At 100 TB the 10-minute sketch table is the materialized
    continuous aggregate and this query reads ONLY it — the exact
    column here exists for the verification contract."""
    e = load_table(spark, sf_dir, "events")
    day = date_trunc_ntz("day", F.col("ts"))
    ten = F.window("ts", "10 minutes")
    partial = e.groupBy(day.alias("day"), ten.alias("w")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    merged = partial.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx")
    )
    exact = e.groupBy(day.alias("day")).agg(
        F.count_distinct("user_id").alias("exact_distinct_users")
    )
    return merged.join(exact, "day").select(
        "day",
        "exact_distinct_users",
        (
            F.abs(F.col("approx") - F.col("exact_distinct_users"))
            <= 0.05 * F.col("exact_distinct_users")
        ).alias("merged_within_5pct"),
    )


@query(
    "q_ts_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), framed AS (
      SELECT event_type, day, cents,
             CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS prev3,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS prev_n,
             CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS BIGINT) AS next3,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS next_n
      FROM daily
    )
    SELECT event_type, day, prev3, next3,
           ABS(next3 - prev3) AS shift_cents
    FROM framed
    WHERE prev_n = 3 AND next_n = 3
      AND 16 * ABS(next3 - prev3) > prev3 + next3
    """,
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift (changepoint) detection: for every day, compare the
    trailing 3-day revenue window against the leading 3-day window per
    series and flag RELATIVE shifts above 1/16th of the combined
    window mass (16·|Δ| > prev3+next3) — the windowed CUSUM-style
    detector behind metric alerting. A relative rule, not an absolute
    one, so the probe stays non-vacuous at every scale factor (daily
    sums grow ~linearly with SF while relative noise shrinks; an
    absolute threshold is either silent at small SF or fires on
    everything at large). Sums and the threshold comparison are exact
    integer cents over full windows only — bit-exact on both engines,
    no rounding contract needed at all.

    Scale shape: the corpus-sized work is the daily pre-aggregate (one
    partial+final groupBy); the window frames then slide over the
    series×day table — orders of magnitude smaller — with one hash
    exchange on the series key serving both frames and the final
    filter."""
    e = load_table(spark, sf_dir, "events")
    day = date_trunc_ntz("day", F.col("ts"))
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    daily = e.groupBy("event_type", day.alias("day")).agg(
        F.sum(cents).cast("long").alias("cents")
    )
    prev_f = W.partitionBy("event_type").orderBy("day").rowsBetween(-3, -1)
    next_f = W.partitionBy("event_type").orderBy("day").rowsBetween(0, 2)
    framed = daily.select(
        "event_type",
        "day",
        F.sum("cents").over(prev_f).cast("long").alias("prev3"),
        F.count("*").over(prev_f).alias("prev_n"),
        F.sum("cents").over(next_f).cast("long").alias("next3"),
        F.count("*").over(next_f).alias("next_n"),
    )
    shift = F.abs(F.col("next3") - F.col("prev3"))
    return (
        framed.filter((F.col("prev_n") == 3) & (F.col("next_n") == 3))
        .filter(16 * shift > F.col("prev3") + F.col("next3"))
        .select("event_type", "day", "prev3", "next3", shift.alias("shift_cents"))
    )


@query(
    "q_join_interval_overlap",
    oracle="""
    WITH spans AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             MIN(ts) AS s, MAX(ts) AS e
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT a.day, a.user_id AS user_a, b.user_id AS user_b,
           (epoch_us(LEAST(a.e, b.e)) - epoch_us(GREATEST(a.s, b.s))) // 1000000
             AS overlap_secs
    FROM spans a JOIN spans b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP join: pairs of users whose purchase-activity
    spans intersect, with the exact overlap duration — the interval
    sibling of the point-in-range join (q_join_range). Closed-interval
    predicate (touching endpoints count, overlap 0s); durations are
    integer epoch-microsecond arithmetic floored to seconds, exact on
    both engines.

    Scale shape: the day bucket IS the equi-join key (each activity
    span lives inside one day by construction), so the quadratic
    overlap predicate runs only WITHIN buckets — the standard interval
    binning that keeps overlap joins linear in bucket occupancy at
    100 TB. Spans that crossed bucket boundaries would be replicated
    into each touched bucket with a dedup on emit, exactly as
    q_join_range_binned does for lookback windows."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    spans = e.groupBy(
        "user_id", date_trunc_ntz("day", F.col("ts")).alias("day")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    a, b = spans.alias("a"), spans.alias("b")
    overlap_us = epoch_micros(F.least(F.col("a.e"), F.col("b.e"))) - epoch_micros(
        F.greatest(F.col("a.s"), F.col("b.s"))
    )
    return a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e")),
    ).select(
        F.col("a.day").alias("day"),
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
        F.floor(overlap_us / F.lit(1000000)).cast("long").alias("overlap_secs"),
    )


@query(
    "q_reaggregate_rollup",
    oracle="""
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(value) AS min_v,
           MAX(value) AS max_v
    FROM events GROUP BY 1
    """,
)
def q_reaggregate_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregation correctness: the Spark side answers the MONTHLY
    question from a DAILY pre-aggregate (two-level rollup — count of
    counts, sum of sums, min of mins, max of maxes) while the oracle
    aggregates the raw events directly. Hash-equality between them is
    the proof that the daily materialized rollup is lossless for the
    re-aggregable measures — the pattern that lets a 100 TB pipeline
    answer month/quarter/year queries from a table 4-5 orders of
    magnitude smaller instead of rescanning raw data.

    Sums are integer cents (decimal-cast recipe, functions/money.py
    convention) so the two aggregation orders cannot differ in float
    ulps; avg deliberately ships as (sum, n) — the re-aggregable
    decomposition — not as a pre-averaged double, which would NOT
    re-aggregate. Scale shape: both levels are partial/final hash
    aggregates; the second runs over the day-domain-sized rollup."""
    e = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("sum_cents"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    return daily.groupBy(F.trunc("day", "month").alias("month")).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_cents").cast("long").alias("sum_cents"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


@query(
    "q_ts_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    anchored AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INT)
               AS anchor
      FROM days
    )
    SELECT user_id,
           MIN(day) AS island_start,
           MAX(day) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM anchored
    GROUP BY user_id, anchor
    """,
)
def q_ts_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's active DAYS into maximal
    runs of consecutive dates (islands) — the classic streak/uptime
    shape (login streaks, sensor coverage, outage spans). Uses the
    canonical anchor trick: day minus the user-ordered row number is
    constant exactly within a consecutive run, so one window pass plus
    one hash aggregate finds every island without self-joins or
    iteration.

    Scale shape: the distinct (user, day) table is activity-bounded
    (|users| x |days|, far below raw events); the row-number window
    partitions BY USER (bounded per-partition work, no global sort),
    and islands aggregate on (user, anchor). Dates stay dates — no
    epoch arithmetic to disagree on across engines."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    anchored = days.select("user_id", "day", F.date_sub("day", rn).alias("anchor"))
    return anchored.groupBy("user_id", "anchor").agg(
        F.min("day").alias("island_start"),
        F.max("day").alias("island_end"),
        F.count("*").cast("long").alias("n_days"),
    ).select("user_id", "island_start", "island_end", "n_days")


@query(
    "q_ts_interval_union",
    oracle="""
    WITH pts AS (
      SELECT user_id, epoch_us(ts) AS t, 1 AS delta FROM events
      UNION ALL
      SELECT user_id, epoch_us(ts) + 1800000000 AS t, -1 AS delta FROM events
    ),
    swept AS (
      SELECT user_id, t, delta,
             SUM(delta) OVER w AS cum_after,
             LEAD(t) OVER w AS next_t
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY t, delta DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN cum_after > 0 THEN next_t - t ELSE 0 END) AS BIGINT)
             AS active_micros,
           CAST(SUM(CASE WHEN cum_after = delta AND delta = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_merged_spans
    FROM swept
    GROUP BY user_id
    """,
)
def q_ts_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION length per user (sweep-line): every event opens
    a 30-minute activity span; overlapping spans merge, and the query
    reports each user's total active time plus how many merged spans
    it collapses to — the union-of-intervals primitive behind
    billable-time, uptime, and co-activity metrics, which a naive
    SUM of span lengths double-counts.

    The sweep is the classic +1/-1 endpoint encoding: a running
    per-user counter over endpoints ordered by (time, starts-first)
    — starts sort before ends at the same instant so back-to-back
    spans merge seamlessly; segment time accrues wherever the
    counter is positive, and a 0 -> 1 transition (cum == delta == 1)
    marks a new merged span. Integer microseconds end-to-end.

    Scale shape: endpoints double the event count (map-only), then
    ONE per-user window sort — bounded by per-user activity, no
    global sort, no self-join of spans (the O(n^2) overlap-join trap
    this formulation replaces)."""
    e = load_table(spark, sf_dir, "events")
    t = epoch_micros(F.col("ts"))
    starts = e.select("user_id", t.alias("t"), F.lit(1).alias("delta"))
    ends = e.select("user_id", (t + 1800000000).alias("t"), F.lit(-1).alias("delta"))
    pts = starts.unionByName(ends)
    w = W.partitionBy("user_id").orderBy(F.col("t"), F.col("delta").desc())
    swept = pts.select(
        "user_id",
        "t",
        "delta",
        F.sum("delta").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum_after"),
        F.lead("t").over(w).alias("next_t"),
    )
    return swept.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("cum_after") > 0, F.col("next_t") - F.col("t")).otherwise(0)
        ).cast("long").alias("active_micros"),
        F.sum(
            ((F.col("cum_after") == F.col("delta")) & (F.col("delta") == 1)).cast("int")
        ).cast("long").alias("n_merged_spans"),
    )


# Shared DuckDB CTE for the daily net-revenue series in whole dollars —
# exact 4-dp fixed-point line revenue, daily totals re-rounded to
# dollars with pure integer arithmetic (consumed by q_ts_autocorr and
# q_ts_ewma; the Spark twin is _daily_revenue_dollars).
_DAILY_SQL = """
    daily AS (
      SELECT CAST(floor(epoch(date_trunc('day', l_shipdate)) / 86400) AS BIGINT)
               AS day,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)
                      AS BIGINT)) AS u
      FROM lineitem GROUP BY 1
    ), d AS (
      SELECT day, CAST(FLOOR((u + 5000) / 10000) AS BIGINT) AS x FROM daily
    )
"""


def _daily_revenue_dollars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memo-persisted (day, x) daily net-revenue table in whole dollars.

    Persisted because consumers branch over it (the autocorr lag
    self-join reads it on both sides; EWMA reuses the same rollup) —
    without the persist Spark recomputes the subtree, i.e. scans the
    corpus once per branch. The table itself is calendar-bounded
    (|days| rows), so everything downstream of the persist is tiny."""
    from simplemapreduce_spark.cache import memo_persist

    li = load_table(spark, sf_dir, "lineitem")
    day = F.floor(
        epoch_micros(date_trunc_ntz("day", "l_shipdate")) / F.lit(86_400_000_000)
    ).cast("long")
    units = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast(
        "long"
    )
    return memo_persist(
        li.groupBy(day.alias("day"))
        .agg(F.sum(units).alias("u"))
        .select("day", F.floor((F.col("u") + 5000) / 10000).cast("long").alias("x")),
        "ts_daily_revenue",
        sf_dir,
    )


@query(
    "q_ts_autocorr",
    oracle=f"""
    WITH {_DAILY_SQL}, pairs AS (
      SELECT l.lag, a.x AS x, b.x AS y
      FROM (VALUES (1), (2), (3)) l(lag)
      CROSS JOIN d a
      JOIN d b ON b.day = a.day + l.lag
    ), s AS (
      SELECT lag, COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM pairs GROUP BY 1
    )
    SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CAST(ROUND(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS DOUBLE)
             AS acf
    FROM s
    """,
)
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/2/3 autocorrelation of the daily net-revenue series — the
    seasonality/persistence screen a forecasting pipeline runs before
    choosing a model (complements q_ts_trend_forecast's fitted trend
    and q_events_burstiness' dispersion). ACF here is the Pearson
    correlation over true CALENDAR-lag pairs (join on day+L, not row
    offset), so date gaps never misalign the series.

    Determinism recipe: revenue is exact 4-dp fixed-point
    (round(price*(1-disc)*1e4) — the _rcents discipline), daily totals
    re-round to whole dollars with pure integer arithmetic, and the
    per-lag correlation runs the same exact-integer-moments -> one
    shared double formula pipeline as q_rank_corr_spearman. Moment
    products are accumulated in 128-bit-capable types (decimal(38,0) /
    HUGEINT): daily-dollar squares pass 5e19 at extreme scale, beyond
    int64.

    Scale shape: one partial/final hash agg to the calendar grain
    (|days| rows — bounded by time, not data volume), then the lag
    join and moment agg run on that tiny table (broadcast); the
    corpus-sized scan happens exactly once."""
    d = _daily_revenue_dollars(spark, sf_dir)
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.col("b.day") == F.col("a.day") + F.col("lag"),
        )
        .select("lag", F.col("a.x").alias("x"), F.col("b.x").alias("y"))
    )
    dec = lambda c: F.col(c).cast("decimal(18,0)")
    s = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("y") * dec("y")).alias("syy"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    acf = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return s.select(
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(acf, 6).alias("acf"),
    )


# Integer EWMA weights: alpha = 0.8 over the last 10 observations.
# alpha^i scaled by 5^9 gives w_i = 4^i * 5^(9-i) — EXACT integers, so
# the weighted numerator/denominator are exact integer sums on both
# engines and the smoothed value is one identical double division.
_EWMA_W = [4**i * 5 ** (9 - i) for i in range(10)]
_EWMA_NUM_SQL = " + ".join(
    f"COALESCE(LAG(x, {i}) OVER w * {wt}, 0)" for i, wt in enumerate(_EWMA_W)
)
_EWMA_DEN_SQL = " + ".join(
    f"CASE WHEN LAG(x, {i}) OVER w IS NOT NULL THEN {wt} ELSE 0 END"
    for i, wt in enumerate(_EWMA_W)
)


@query(
    "q_ts_ewma",
    oracle=f"""
    WITH {_DAILY_SQL}, e AS (
      SELECT day, x, ({_EWMA_NUM_SQL}) AS num, ({_EWMA_DEN_SQL}) AS den
      FROM d WINDOW w AS (ORDER BY day)
    )
    SELECT day, x,
           CAST(FLOOR(CAST(num AS DOUBLE) / den * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS ewma
    FROM e
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha=0.8, 10-tap) of the
    daily net-revenue series — the classic smoothing companion to
    q_ts_autocorr's persistence check and q_ts_trend_forecast's OLS
    line. The leading edge renormalizes over the available taps (a
    partial-window EWMA, not a NULL ramp-in).

    Determinism recipe: alpha^i over 10 taps scales to EXACT integer
    weights (4^i * 5^(9-i)), so numerator and denominator are exact
    integer window sums and the smoothed value is a single identical
    double division on both engines — no float power, no recursive
    state. The 6-decimal rounding is floor(v*1e6 + 0.5)/1e6 spelled
    identically on both sides, NOT each engine's ROUND(double, 6):
    Spark rounds the shortest-decimal rendering of the double via
    BigDecimal while DuckDB rounds in pure double arithmetic, and a
    quotient near a 6th-decimal tie diverges in the last printed digit
    (caught by the round-7 sf0.1 gate replay — one of ~2,900 days
    straddled; invisible at sf0.01). floor/multiply/add are each
    IEEE-correctly-rounded, so the rewritten expression is
    bit-identical cross-engine at any scale. int64 headroom: max weight 5^9~2e6 x 10 taps leaves ~4.6e11
    daily dollars before the numerator could wrap.

    Scale shape: consumes the memo-persisted calendar-bounded daily
    table (corpus scanned once, shared with q_ts_autocorr); the
    10-lag window then runs over |days| rows. The ORDER BY day window
    is globally ordered — fine ONLY because the input is
    calendar-bounded; per-entity series would partition by key."""
    d = _daily_revenue_dollars(spark, sf_dir)
    w = W.orderBy("day")
    num = sum(
        (
            F.coalesce(F.lag("x", i).over(w) * F.lit(wt), F.lit(0))
            for i, wt in enumerate(_EWMA_W)
        ),
        start=F.lit(0),
    )
    den = sum(
        (
            F.when(F.lag("x", i).over(w).isNotNull(), F.lit(wt)).otherwise(0)
            for i, wt in enumerate(_EWMA_W)
        ),
        start=F.lit(0),
    )
    return d.select(
        "day",
        "x",
        (F.floor(num.cast("double") / den * 1000000.0 + 0.5) / F.lit(1000000.0)).alias(
            "ewma"
        ),
    )


_ASOF_TOL_SECS = 3600  # 1-hour staleness bound


@query(
    "q_ts_asof_tolerance",
    oracle=f"""
    WITH merged AS (
      SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS ckey, 1 AS kind
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id, event_id AS ckey, 0 AS kind
      FROM events WHERE event_type = 'click'
    ), filled AS (
      SELECT *,
             LAST_VALUE(ckey IGNORE NULLS) OVER w AS ak,
             LAST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER w AS ats
      FROM merged
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY ts, kind, COALESCE(ckey, 0), COALESCE(event_id, 0)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts,
           CASE WHEN ak IS NOT NULL
                 AND date_diff('second', ats, ts) <= {_ASOF_TOL_SECS}
                THEN ak END AS asof_click_id,
           CASE WHEN ak IS NOT NULL
                 AND date_diff('second', ats, ts) <= {_ASOF_TOL_SECS}
                THEN date_diff('second', ats, ts) END AS staleness_secs
    FROM filled WHERE kind = 1
    """,
)
def q_ts_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness TOLERANCE (merge_asof's tolerance
    parameter, completing the as-of family: backward, forward,
    nearest, and now bounded-staleness backward): each purchase gets
    the user's most recent click, but only when that click is at most
    1 hour old — an older one is masked to NULL rather than silently
    joined, the semantics risk models need ("was there a RECENT
    signal", not "was there ever a signal"). The fixture exercises all
    three outcomes (no prior click / fresh / stale-masked).

    Same single-shuffle union-merge as q_ts_asof_join — the tolerance
    is a row-local mask AFTER the window fill (carrying the matched
    timestamp through the same last_value), never a second join, so
    the cost is identical to the unbounded as-of at any scale. Integer
    second arithmetic on both engines."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("long").alias("ckey"), F.lit(1).alias("kind"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.col("event_id").alias("ckey"), F.lit(0).alias("kind"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("ckey", F.lit(0)), F.coalesce("event_id", F.lit(0)))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = (
        p.unionByName(c)
        .withColumn("ak", F.last("ckey", ignorenulls=True).over(w))
        .withColumn(
            "ats",
            F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w),
        )
        .filter(F.col("kind") == 1)
    )
    # Per-timestamp second floors via wall-clock epoch arithmetic
    # (functions/time.py): unix_timestamp on an NTZ column routes
    # through the session timezone, and the DIFFERENCE of two such
    # casts shifts by the offset delta across a DST transition — the
    # round-5 advice hazard. DuckDB date_diff('second', a, b) is
    # floor(epoch(b)) - floor(epoch(a)); mirror it exactly.
    stale_secs = F.floor(epoch_micros("ts") / 1_000_000) - F.floor(
        epoch_micros("ats") / 1_000_000
    )
    ok = F.col("ak").isNotNull() & (stale_secs <= _ASOF_TOL_SECS)
    return filled.select(
        "event_id",
        "user_id",
        "ts",
        F.when(ok, F.col("ak")).alias("asof_click_id"),
        F.when(ok, stale_secs).alias("staleness_secs"),
    )


@query(
    "q_ts_interarrival",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS DOUBLE)
             AS p50_secs,
           CAST(round(quantile_cont(gap_us, 0.95) / 1000000.0, 6) AS DOUBLE)
             AS p95_secs,
           CAST(MAX(gap_us) / 1000000.0 AS DOUBLE) AS max_secs
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY 1
    """,
)
def q_ts_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type (p50 / p95 / max
    gap) — the stream-health profile behind alerting thresholds and
    watermark tuning: the p95 gap is what you set a streaming
    watermark delay against, and a max gap far above p95 flags an
    outage window. Complements q_events_burstiness (dispersion of
    counts) with the dual view (distribution of gaps).

    Determinism: gaps are exact integer microseconds from the total
    (ts, event_id) ordering; the exact interpolated percentile over
    integers rounds at 6 dp on both engines (the q_ts_percentiles
    recipe), and max is exact.

    Scale shape: one sort window per event type for the LAG, then a
    per-type exact-percentile aggregate — the percentile's group sort
    rides the same shuffle as the window. Per-type streams sort
    independently; no global ordering anywhere."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    micros = epoch_micros("ts")
    gaps = e.select(
        "event_type", (micros - F.lag(micros).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").cast("long").alias("n_gaps"),
        F.round(F.expr("percentile(gap_us, 0.5)") / 1000000.0, 6).alias("p50_secs"),
        F.round(F.expr("percentile(gap_us, 0.95)") / 1000000.0, 6).alias("p95_secs"),
        (F.max("gap_us") / 1000000.0).alias("max_secs"),
    )


@query(
    "q_ts_vwap",
    oracle="""
    WITH px AS (
      SELECT l_returnflag,
             CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    )
    SELECT month, l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(qty) AS BIGINT) AS total_qty,
           CAST(ROUND(CAST(SUM(CAST(price_cents AS HUGEINT) * qty) AS DOUBLE)
                      / CAST(SUM(qty) AS DOUBLE) / 100.0, 4) AS DOUBLE)
             AS vwap
    FROM px GROUP BY 1, 2
    """,
)
def q_ts_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly volume-weighted average price per return flag — the
    canonical VWAP downsample a market/telemetry pipeline computes per
    bar (complements q_ts_ohlc, which keeps first/last/extremes of the
    same bars: VWAP is the size-aware center the open/close ignores).

    Determinism recipe: prices become exact integer cents
    (ROUND(p*100) — the _rcents discipline), quantities are exact
    integers, so the price*volume numerator and volume denominator
    accumulate exactly (decimal(28,0) / HUGEINT: cents*qty reaches
    ~5e8 per line, int64 sums would still hold to ~2e10 lines, but
    128-bit headroom makes the 100 TB case unconditional); the single
    double division + round(4) is textually identical on both engines.

    Scale shape: one partial/final hash agg to the (month, flag)
    grain, pushed projection of 5 columns. Output is calendar-bounded
    (|months| x 3 flags), so whatever reads it next broadcasts. The
    reference would need its entire two-phase job for this one
    aggregate (map: bucket; reduce: holistic sum) and would still
    sort-merge string keys through its global merge
    (/root/reference/src/mapreduce/master.go:89-128)."""
    li = load_table(spark, sf_dir, "lineitem")
    price_cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    qty = F.col("l_quantity").cast("long")
    px = li.select(
        "l_returnflag",
        F.to_date(date_trunc_ntz("month", "l_shipdate")).alias("month"),
        price_cents.alias("price_cents"),
        qty.alias("qty"),
    )
    dec = lambda c: F.col(c).cast("decimal(28,0)")
    return (
        px.groupBy("month", "l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("qty").cast("long").alias("total_qty"),
            F.sum(dec("price_cents") * dec("qty")).alias("pv"),
        )
        .select(
            "month",
            "l_returnflag",
            "n_lines",
            "total_qty",
            F.round(
                F.col("pv").cast("double")
                / F.col("total_qty").cast("double")
                / 100.0,
                4,
            ).alias("vwap"),
        )
    )


@query(
    "q_ts_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT event_type, day, cents,
             MAX(cents) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS peak
      FROM daily
    ), dd AS (
      SELECT event_type, day, peak, peak - cents AS dd,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY peak - cents DESC, day) AS rn
      FROM r
    )
    SELECT event_type,
           CAST(dd AS BIGINT) AS max_drawdown_cents,
           day AS trough_day,
           CAST(peak AS BIGINT) AS peak_cents,
           CAST(CASE WHEN peak > 0
                     THEN ROUND(CAST(dd AS DOUBLE) / CAST(peak AS DOUBLE), 6)
                     ELSE 0.0 END AS DOUBLE) AS drawdown_frac
    FROM dd WHERE rn = 1
    """,
)
def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily value series per event type:
    running peak (cumulative max) minus current value, reported at its
    worst day — the risk/health metric a revenue or engagement series
    is monitored by (how far below the best-ever day did we fall, and
    when). Composes two window passes the siblings exercise separately
    (q_window_running_sum's cumulative frame, q_window_row_number's
    dedup-latest): cumulative MAX, then argmax-with-tie-break.

    Determinism: daily sums are exact integer cents (the stats-module
    discipline for the 2-dp event values), the running peak and
    drawdown stay in integers end-to-end, and the single report row
    per type is picked by ROW_NUMBER with a total (dd DESC, day)
    ordering — ties fall to the earliest day on both engines. The
    only float op is the final round(dd/peak, 6).

    Scale shape: partial/final hash agg to the (type, day) grain
    bounds everything downstream by the calendar, not the corpus; the
    two windows and the rn=1 filter run on |types| x |days| rows and
    share one partition-by-type exchange (Spark plans both window
    functions plus the row_number in a single Window chain over the
    same sort)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.to_date(date_trunc_ntz("day", "ts")).alias("day"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("cents"))
    )
    w_peak = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    r = daily.select(
        "event_type",
        "day",
        "cents",
        F.max("cents").over(w_peak).alias("peak"),
    ).select(
        "event_type",
        "day",
        "peak",
        (F.col("peak") - F.col("cents")).alias("dd"),
    )
    w_pick = W.partitionBy("event_type").orderBy(F.col("dd").desc(), "day")
    return (
        r.select("*", F.row_number().over(w_pick).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("dd").cast("long").alias("max_drawdown_cents"),
            F.col("day").alias("trough_day"),
            F.col("peak").cast("long").alias("peak_cents"),
            F.when(
                F.col("peak") > 0,
                F.round(F.col("dd").cast("double") / F.col("peak").cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("drawdown_frac"),
        )
    )


_DECOMP_HALF = 12  # centered trend window: +-12 hours (25-tap)


@query(
    "q_ts_seasonal_decompose",
    oracle=f"""
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS h,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    trended AS (
      SELECT h, cents,
             AVG(CAST(cents AS DOUBLE)) OVER (
               ORDER BY h ROWS BETWEEN {_DECOMP_HALF} PRECEDING
                              AND {_DECOMP_HALF} FOLLOWING) AS trend
      FROM hourly
    ),
    detr AS (
      SELECT h % 24 AS hod,
             CAST(ROUND((cents - trend) * 100, 0) AS BIGINT) AS d6
      FROM trended
    ),
    seas AS (
      SELECT hod, CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(d6) AS BIGINT) AS sd6,
             CAST(ROUND(CAST(SUM(d6) AS DOUBLE) / COUNT(*), 0) AS BIGINT)
               AS seasonal6
      FROM detr GROUP BY hod
    )
    SELECT d.hod, s.n_hours,
           CAST(ROUND(s.seasonal6 / 10000.0, 4) AS DOUBLE) AS seasonal_dollars,
           CAST(ROUND(CAST(SUM(ABS(d.d6 - s.seasonal6)) AS DOUBLE)
                      / s.n_hours / 10000.0, 4) AS DOUBLE) AS mad_residual_dollars
    FROM detr d JOIN seas s USING (hod)
    GROUP BY d.hod, s.n_hours, s.seasonal6
    """,
)
def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical SEASONAL DECOMPOSITION of the hourly value series —
    trend (centered {T}-tap moving average), hour-of-day seasonal
    profile (mean of the detrended series per hour slot), and the
    mean-absolute residual left over per slot: the additive
    decomposition behind every 'is this spike seasonal or anomalous'
    triage, complementing the de-seasonalized z-score detector
    (q_events_anomaly_seasonal) with the decomposition itself.

    Exactness: hourly sums are integer cents; the trend is one double
    division of exact sums per row; every cross-row aggregation after
    that works on 1e-2-scaled-cent BIGINTs (detrended values, the
    per-slot seasonal effect, residual absolute deviations) — no
    float sum ever, so engine summation order cannot move a digit.

    Scale shape: the series grain is bounded (hours over the data's
    span), so the unpartitioned centered window runs over a
    vocabulary-sized table — the production variant over millions of
    series partitions the identical window by series key. Everything
    else is two hash aggregates and one 24-row join."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        (epoch_micros("ts") / 3_600_000_000).cast("bigint").alias("h")
    ).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long")).alias(
            "cents"
        )
    )
    wt = W.orderBy("h").rowsBetween(-_DECOMP_HALF, _DECOMP_HALF)
    trended = hourly.select(
        "h", "cents", F.avg(F.col("cents").cast("double")).over(wt).alias("trend")
    )
    detr = trended.select(
        (F.col("h") % 24).alias("hod"),
        F.round((F.col("cents") - F.col("trend")) * 100, 0).cast("long").alias("d6"),
    )
    seas = detr.groupBy("hod").agg(
        F.count("*").alias("n_hours"),
        F.round(F.sum("d6").cast("double") / F.count("*"), 0)
        .cast("long")
        .alias("seasonal6"),
    )
    return (
        detr.join(seas, "hod")
        .groupBy("hod", "n_hours", "seasonal6")
        .agg(
            F.round(
                F.sum(F.abs(F.col("d6") - F.col("seasonal6"))).cast("double")
                / F.col("n_hours")
                / 10000.0,
                4,
            ).alias("mad_residual_dollars")
        )
        .select(
            "hod",
            F.col("n_hours").cast("long").alias("n_hours"),
            F.round(F.col("seasonal6") / 10000.0, 4).alias("seasonal_dollars"),
            "mad_residual_dollars",
        )
    )


q_ts_seasonal_decompose.__doc__ = q_ts_seasonal_decompose.__doc__.replace(
    "{T}", str(2 * _DECOMP_HALF + 1)
)
