"""Product-analytics operators over the event stream: funnel
conversion and cohort retention — the two workhorse OLAP shapes of
behavioral analytics, absent from the reference (which has no notion
of ordering or time at all; SURVEY.md §2.2).

Scale notes: both are single-shuffle aggregations keyed on user_id
(funnel) or cohort keys (retention); the funnel's per-user sequence
test is a conditional MIN over event times — no per-user sort, no
collect_list of the raw stream. At 100 TB both reduce to partial+final
hash aggregation over the events scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from simplemapreduce_spark.cache import memo_local_checkpoint, memo_persist
from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.functions.time import SESSION_GAP_MICROS, date_trunc_ntz, epoch_micros
from simplemapreduce_spark.functions.vectors import array_pairs
from simplemapreduce_spark.sources.tables import load_table


@query(
    "q_funnel_conversion",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      COUNT(*) AS n_users,
      CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage_signup,
      CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
      CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                     AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
    FROM per_user
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase: a user converts a
    stage only if their FIRST event of that stage happens strictly
    after their first event of the previous stage. The sequence test
    compiles to three conditional MINs per user — one hash aggregation
    over the scan, no per-user ordering or array materialization (the
    formulation that survives hot users with millions of events)."""
    e = load_table(spark, sf_dir, "events")

    def first_ts(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    signup = F.col("t_signup").isNotNull()
    click = signup & (F.col("t_click") > F.col("t_signup"))
    purchase = click & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(signup.cast("int")).cast("long").alias("stage_signup"),
        F.sum(click.cast("int")).cast("long").alias("stage_click"),
        F.sum(purchase.cast("int")).cast("long").alias("stage_purchase"),
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('week', f.cohort_week, CAST(date_trunc('week', e.ts) AS DATE)) AS week_offset
      FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
           COUNT(*) AS n_active_users
    FROM activity WHERE week_offset <= 4
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted as active in each subsequent week (offsets 0..4). The
    cohort table is user-level (small relative to events) and joins
    back broadcast-style; distinct-per-(user, week) bounds the
    aggregation input at |users| × |weeks|. Week bucketing is
    date_trunc on both engines — identical Monday-start ISO weeks;
    the cohort label renders as a yyyy-MM-dd string on both sides
    (pandas would widen a DATE to a midnight timestamp otherwise)."""
    e = load_table(spark, sf_dir, "events")
    week = date_trunc_ntz("week", F.col("ts")).cast("date")
    firsts = e.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = (
        e.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(week, F.col("cohort_week")) / 7).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_offset") <= 4)
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count("*").alias("n_active_users"))
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ), pairs AS (
      SELECT from_type, to_type FROM seq WHERE to_type IS NOT NULL
    ), counted AS (
      SELECT from_type, to_type, COUNT(*) AS n FROM pairs GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
    FROM counted
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix (Markov chain estimate):
    adjacent event pairs per user via LEAD over the per-user stream,
    then counts and per-source transition probabilities. One window
    pass + one aggregation; the probability normalizer is a window sum
    over the (tiny) |types|² matrix. The division is the same integer
    ratio on both engines, so no rounding is needed."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counted = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    return counted.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(W.partitionBy("from_type"))).alias("p"),
    )


MIN_PAIR_SUPPORT = 2
TOP_PAIRS = 20


def order_baskets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The co-purchase basket tables: ``(order_parts, baskets)``.

    ``order_parts`` is the distinct (l_orderkey, l_partkey) table,
    memoized under ``basket.order_parts`` — the one builder of that
    key. It feeds four branches of q_market_basket_pairs (baskets,
    both marginals, the order count) and the co-purchase edge table of
    plans/graph.py; Spark has no cross-branch subtree reuse, so it is
    persisted once — at 100 TB this is the materialized basket table
    every itemset pass starts from. ``baskets`` is each order's sorted
    distinct part array ``parts``."""
    li = load_table(spark, sf_dir, "lineitem")
    op = memo_persist(
        li.select("l_orderkey", "l_partkey").distinct(),
        "basket.order_parts",
        sf_dir,
    )
    baskets = op.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    return op, baskets


@query(
    "q_market_basket_pairs",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    pc AS (SELECT l_partkey, COUNT(*) AS n_with FROM op GROUP BY 1),
    ab AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {MIN_PAIR_SUPPORT}
    )
    SELECT part_a, part_b, support,
           CAST(ROUND(CAST(support * n.n_orders AS DOUBLE)
                      / (pa.n_with * pb.n_with), 6) AS DOUBLE) AS lift
    FROM ab, n
    JOIN pc pa ON pa.l_partkey = ab.part_a
    JOIN pc pb ON pb.l_partkey = ab.part_b
    ORDER BY support DESC, part_a, part_b
    LIMIT {TOP_PAIRS}
    """,
)
def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: part pairs co-ordered in the same
    order, with support and lift — the frequent-itemset statistic
    behind recommendations and assortment analytics.

    Scale shape: pair candidates come from ROW-LOCAL combination
    expansion over per-order part sets (one groupBy on the order key,
    then explode of C(k,2) pairs inside the row) — the same
    bucket-grouping pattern as the LSH candidate stage, NOT the
    quadratic self-join the oracle uses (fine in SQL at gate scale,
    hot-key-quadratic at 100 TB). Baskets are naturally capped (an
    order has bounded lines), so the expansion is bounded per row;
    part marginals and the order count are tiny aggregates AQE
    broadcasts into the lift join. Deterministic top-{TOP} on
    (support DESC, part_a, part_b) compiles to TakeOrderedAndProject."""
    op, baskets = order_baskets(spark, sf_dir)
    n_orders = op.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    pc = op.groupBy("l_partkey").agg(F.count("*").alias("n_with"))
    ab = (
        baskets.select(array_pairs("parts", "x AS part_a, y AS part_b").alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= MIN_PAIR_SUPPORT)
    )
    pa = pc.select(F.col("l_partkey").alias("part_a"), F.col("n_with").alias("na"))
    pb = pc.select(F.col("l_partkey").alias("part_b"), F.col("n_with").alias("nb"))
    lift = F.round(
        (F.col("support") * F.col("n_orders")).cast("double")
        / (F.col("na") * F.col("nb")),
        6,
    )
    return (
        ab.join(pa, "part_a")
        .join(pb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select("part_a", "part_b", "support", lift.alias("lift"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(TOP_PAIRS)
    )


q_market_basket_pairs.__doc__ = q_market_basket_pairs.__doc__.format(TOP=TOP_PAIRS)


@query(
    "q_survival_hazard",
    oracle="""
    WITH p AS (
      SELECT user_id, ts,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events WHERE event_type = 'purchase'
    ),
    mx AS (SELECT MAX(ts) AS mts FROM events),
    g AS (
      SELECT CASE WHEN nxt IS NULL
                  THEN date_diff('day', CAST(ts AS DATE),
                                 CAST((SELECT mts FROM mx) AS DATE))
                  ELSE date_diff('day', CAST(ts AS DATE), CAST(nxt AS DATE))
             END AS gap,
             (nxt IS NULL) AS censored
      FROM p
    ),
    allg AS (SELECT gap, COUNT(*) AS n_all FROM g GROUP BY gap),
    d AS (SELECT gap, COUNT(*) AS died FROM g WHERE NOT censored GROUP BY gap),
    risk AS (
      SELECT gap, SUM(n_all) OVER (ORDER BY gap DESC) AS at_risk FROM allg
    )
    SELECT CAST(d.gap AS BIGINT) AS gap_days,
           CAST(d.died AS BIGINT) AS died,
           CAST(r.at_risk AS BIGINT) AS at_risk,
           CAST(ROUND(CAST(d.died AS DOUBLE) / r.at_risk, 6) AS DOUBLE) AS hazard
    FROM d JOIN risk r ON r.gap = d.gap
    """,
)
def q_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival (life-table) estimate of repurchase
    behavior: for each inter-purchase gap of d days, how many users
    repurchased exactly then (died), how many were still at risk
    (gap >= d, INCLUDING right-censored last purchases, censored at
    the observation-window end), and the hazard died/at_risk — the
    actuarial estimator churn models start from; censoring handled
    the standard way rather than dropped.

    Scale shape: one window pass over purchases per user computes the
    next-purchase lead; gaps aggregate to a DAY-DOMAIN-sized table
    (bounded by the observation span, not the corpus), and the
    at-risk tail-cumulative runs as a single-partition window over
    that tiny aggregated table — the one place a global window is
    correct because its input is already vocabulary-sized. Every
    count is an exact integer; the hazard division is the only float,
    rounded at the boundary."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    nxt = F.lead("ts").over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    mx = e.agg(F.max("ts").alias("mts"))
    g = (
        p.withColumn("nxt", nxt)
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("nxt").isNull(),
                F.datediff(F.col("mts").cast("date"), F.col("ts").cast("date")),
            )
            .otherwise(F.datediff(F.col("nxt").cast("date"), F.col("ts").cast("date")))
            .cast("long")
            .alias("gap"),
            F.col("nxt").isNull().alias("censored"),
        )
    )
    allg = g.groupBy("gap").agg(F.count("*").alias("n_all"))
    died = g.filter(~F.col("censored")).groupBy("gap").agg(F.count("*").alias("died"))
    at_risk = F.sum("n_all").over(
        W.orderBy(F.col("gap").desc()).rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    risk = allg.select("gap", at_risk.alias("at_risk"))
    return died.join(risk, "gap").select(
        F.col("gap").alias("gap_days"),
        F.col("died").cast("long").alias("died"),
        F.col("at_risk").cast("long").alias("at_risk"),
        F.round(F.col("died").cast("double") / F.col("at_risk"), 6).alias("hazard"),
    )


@query(
    "q_attribution_touch",
    oracle="""
    WITH merged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('click', 'view') THEN event_type END AS channel,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind
      FROM events WHERE event_type IN ('click', 'view', 'purchase')
    ),
    attributed AS (
      SELECT kind, cents,
             last_value(channel IGNORE NULLS) OVER w AS last_ch,
             first_value(channel IGNORE NULLS) OVER w AS first_ch
      FROM merged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT model, channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM (
      SELECT 'last_touch' AS model, COALESCE(last_ch, 'direct') AS channel, cents
      FROM attributed WHERE kind = 1
      UNION ALL
      SELECT 'first_touch' AS model, COALESCE(first_ch, 'direct') AS channel, cents
      FROM attributed WHERE kind = 1
    ) GROUP BY model, channel
    """,
)
def q_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase credits the same user's
    most recent (last-touch) and earliest (first-touch) click/view
    touchpoint at or before the purchase; purchases with no prior
    touch go to 'direct'. Both models reported as rows, revenue in
    exact integer cents.

    Built on the union-merge shape shared with the as-of joins
    (timeseries.py): touches and purchases merge into ONE per-user
    stream, and a running first/last-ignore-nulls window resolves the
    attribution — one shuffle + one sort, no per-purchase probe join,
    no collect_list of the touch history. At equal timestamps touches
    sort before purchases (kind ordering) so a same-instant touch is
    attributable; event_id breaks remaining ties deterministically.
    At 100 TB this is the only attribution shape that holds: cost is
    a single sort within user partitions, independent of how many
    touches precede each purchase."""
    e = load_table(spark, sf_dir, "events")
    merged = e.filter(F.col("event_type").isin("click", "view", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")).alias("channel"),
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        ).alias("cents"),
        (F.col("event_type") == "purchase").cast("int").alias("kind"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    attributed = merged.select(
        "kind",
        "cents",
        F.last("channel", ignorenulls=True).over(w).alias("last_ch"),
        F.first("channel", ignorenulls=True).over(w).alias("first_ch"),
    ).filter(F.col("kind") == 1)
    last = attributed.select(
        F.lit("last_touch").alias("model"),
        F.coalesce("last_ch", F.lit("direct")).alias("channel"),
        "cents",
    )
    first = attributed.select(
        F.lit("first_touch").alias("model"),
        F.coalesce("first_ch", F.lit("direct")).alias("channel"),
        "cents",
    )
    return (
        last.unionByName(first)
        .groupBy("model", "channel")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


@query(
    "q_rfm_segments",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS mts FROM events),
    rfm AS (
      SELECT user_id,
             date_diff('day', CAST(MAX(ts) AS DATE),
                       CAST((SELECT mts FROM mx) AS DATE)) AS recency,
             COUNT(*) AS frequency,
             SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    cuts AS (
      SELECT CAST(quantile_cont(recency, 0.5) AS DOUBLE) AS r_med,
             CAST(quantile_cont(frequency, 0.5) AS DOUBLE) AS f_med,
             CAST(quantile_cont(monetary, 0.5) AS DOUBLE) AS m_med
      FROM rfm
    )
    SELECT CASE WHEN recency <= r_med THEN 2 ELSE 1 END AS r_score,
           CASE WHEN frequency > f_med THEN 2 ELSE 1 END AS f_score,
           CASE WHEN monetary > m_med THEN 2 ELSE 1 END AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(monetary) AS BIGINT) AS segment_revenue_cents
    FROM rfm, cuts
    GROUP BY r_score, f_score, m_score
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation:
    per-user purchase recency in days (vs the observation-window end),
    purchase count, and exact integer-cents spend, each split at its
    population median into a binary score — 8 segments, with user
    count and revenue per segment.

    Scale shape: one hash aggregation builds the user-level RFM table;
    the three medians are ONE tiny exact-percentile aggregate over it,
    broadcast back for the scoring comparison (no global NTILE window
    — a single-partition sort over every user is the anti-pattern this
    formulation exists to avoid); the final rollup groups 8 keys.
    Median split (not quintiles) keeps the score function a pure
    broadcast comparison; at production scale the same plan holds with
    approx percentiles swapped in."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase")
    mx = e.agg(F.max("ts").alias("mts"))
    rfm = (
        p.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("frequency"),
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long")).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff(F.col("mts").cast("date"), F.col("last_ts").cast("date")).alias("recency"),
            "frequency",
            "monetary",
        )
    )
    cuts = rfm.agg(
        F.expr("percentile(recency, 0.5)").alias("r_med"),
        F.expr("percentile(frequency, 0.5)").alias("f_med"),
        F.expr("percentile(monetary, 0.5)").alias("m_med"),
    )
    return (
        rfm.crossJoin(F.broadcast(cuts))
        .select(
            F.when(F.col("recency") <= F.col("r_med"), 2).otherwise(1).alias("r_score"),
            F.when(F.col("frequency") > F.col("f_med"), 2).otherwise(1).alias("f_score"),
            F.when(F.col("monetary") > F.col("m_med"), 2).otherwise(1).alias("m_score"),
            "monetary",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("monetary").cast("long").alias("segment_revenue_cents"),
        )
    )


@query(
    "q_revenue_contribution",
    oracle="""
    WITH rev AS (
      SELECT n.n_name,
             SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT))
               AS revenue_e4
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    t AS (SELECT SUM(revenue_e4) AS tot FROM rev)
    SELECT n_name,
           CAST(revenue_e4 AS BIGINT) AS revenue_e4,
           CAST(ROUND(CAST(revenue_e4 AS DOUBLE) / t.tot, 6) AS DOUBLE) AS share,
           CAST(ROUND(CAST(SUM(revenue_e4) OVER (ORDER BY revenue_e4 DESC, n_name
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                      / t.tot, 6) AS DOUBLE) AS cum_share
    FROM rev, t
    """,
)
def q_revenue_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total contribution analysis: each nation's share of
    global discounted revenue plus the cumulative (Pareto) share in
    descending-revenue order — the 80/20 concentration readout.

    Scale shape: the star join (broadcast customer->nation dims onto
    the lineitem scan) and ONE hash aggregation produce a
    nation-grain table; the grand total broadcasts back, and the
    cumulative window runs over that 25-row aggregate only (the
    vocabulary-sized-input justification for a partition-free
    window). Revenue is exact integer 1e-4-dollar units end-to-end
    (decimal(12,2) price x decimal(4,2) discount factor is an exact
    scale-4 decimal — the tpch_ext recipe); the two
    shares are single divisions rounded at the boundary, and the
    descending order is made total by the n_name tie-break so the
    cumulative sum is deterministic on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (1 - F.col("l_discount").cast("decimal(4,2)"))
                    * 10000
                ).cast("long")
            ).alias("revenue_e4")
        )
    )
    t = rev.agg(F.sum("revenue_e4").alias("tot"))
    cum = F.sum("revenue_e4").over(
        W.orderBy(F.col("revenue_e4").desc(), "n_name").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
    )
    return rev.crossJoin(F.broadcast(t)).select(
        "n_name",
        F.col("revenue_e4").cast("long").alias("revenue_e4"),
        F.round(F.col("revenue_e4").cast("double") / F.col("tot"), 6).alias("share"),
        F.round(cum.cast("double") / F.col("tot"), 6).alias("cum_share"),
    )


@query(
    "q_event_sequence_pattern",
    oracle="""
    WITH ch AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
                             WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p'
                             ELSE 'e' END AS ch
      FROM events
    ),
    seq AS (
      SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS s
      FROM ch GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(s, 's[cv]*p')) AS BIGINT) AS n_conversions
    FROM seq
    """,
)
def q_event_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over each user's ordered event
    stream (the MATCH_RECOGNIZE workload): encode events as
    characters, then count non-overlapping occurrences of
    signup -> (click|view)* -> purchase with one regex — strict
    contiguous funnels, which the conditional-MIN funnel
    (q_funnel_conversion) deliberately does not require.

    Scale shape: one groupBy(user) builds the ordered event string
    via a row-local sort of the user's own collected events (bounded
    by per-user activity — the same contract as session stats; a hot
    user with millions of events would hit the same wall in any
    MATCH_RECOGNIZE engine and gets time-windowed upstream); the
    regex then runs row-locally per user. The pattern is strictly
    regular (no backtracking blowup) and means the same thing to
    Java regex and RE2, so both engines count identical matches."""
    e = load_table(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("e")
    )
    seq = (
        e.select("user_id", "ts", "event_id", ch.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
                    lambda x: x["ch"],
                ),
                "",
            ).alias("s")
        )
    )
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        F.regexp_count("s", F.lit("s[cv]*p")).cast("long").alias("n_conversions"),
    )


@query(
    "q_funnel_deadline",
    oracle="""
    WITH su AS (
      SELECT user_id, MIN(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
      SELECT su.user_id,
             MAX(CASE WHEN p.ts > su.t_signup
                       AND p.ts <= su.t_signup + INTERVAL 24 HOUR
                      THEN 1 ELSE 0 END) AS converted
      FROM su LEFT JOIN events p
        ON p.user_id = su.user_id AND p.event_type = 'purchase'
      GROUP BY su.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_signup_users,
           CAST(SUM(converted) AS BIGINT) AS n_converted_24h,
           CAST(ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
             AS conversion_rate
    FROM conv
    """,
)
def q_funnel_deadline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline-bound conversion: of users who signed up, how many
    purchased within 24 HOURS of their FIRST signup — the
    time-to-convert business metric that q_funnel_conversion's
    order-only test and q_event_sequence_pattern's contiguity test
    both deliberately do not impose.

    Scale shape: the signup anchor is one per-user aggregate; the
    deadline test joins purchases back on user_id (partial-agg'd
    MAX of a boolean, so the join output collapses immediately), and
    the final rate is a 1-row reduction. Two shuffles total, both on
    user_id — AQE reuses the partitioning."""
    e = load_table(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("p_ts")
    )
    conv = (
        su.join(p, "user_id", "left")
        .groupBy("user_id")
        .agg(
            # when(...).otherwise(0), not a bare cast: a signup user
            # with NO purchases has only NULL p_ts rows, and MAX over
            # NULL-from-NULL-comparison would stay NULL where the
            # oracle's CASE yields 0.
            F.max(
                F.when(
                    (F.col("p_ts") > F.col("t_signup"))
                    & (F.col("p_ts") <= F.col("t_signup") + F.expr("INTERVAL 24 HOURS")),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    return conv.agg(
        F.count("*").cast("long").alias("n_signup_users"),
        F.sum("converted").cast("long").alias("n_converted_24h"),
        F.round(F.sum("converted").cast("double") / F.count("*"), 6).alias(
            "conversion_rate"
        ),
    )


@query(
    "q_events_dau_wau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS day,
             user_id
      FROM events
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1
    ), contrib AS (
      SELECT ud.day + o.off AS wday, ud.user_id
      FROM ud CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) o(off)
    ), wau AS (
      SELECT wday AS day, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY 1
    )
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
           CAST(ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS DOUBLE) AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
)
def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the
    engagement-ratio report every product pipeline runs. The sliding
    DISTINCT is the interesting operator: a user active on day d
    counts toward the WAU of days d..d+6, expressed by exploding each
    (user, day) into its 7 contribution windows and re-aggregating —
    the standard shuffle-friendly rewrite of COUNT(DISTINCT) OVER a
    RANGE frame, which Spark does not support directly (and which
    q_window_cumulative_distinct handles for the UNBOUNDED case).

    Scale shape: the corpus collapses to distinct (user, day) FIRST
    (map-side partial distinct), so the 7x expansion applies to the
    activity grain, never raw events; both aggregates are plain hash
    aggs. Days joined back to DAU so only observed days report (a
    trailing window past the last day is meaningless). All exact
    integers; one rounded ratio."""
    e = load_table(spark, sf_dir, "events")
    day = F.floor(
        epoch_micros(date_trunc_ntz("day", "ts")) / F.lit(86_400_000_000)
    ).cast("long")
    ud = e.select(day.alias("day"), "user_id").distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    offs = spark.range(0, 7).select(F.col("id").cast("long").alias("off"))
    wau = (
        ud.crossJoin(F.broadcast(offs))
        .select((F.col("day") + F.col("off")).alias("day"), "user_id")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
    )


_BOUNCE_GAP_US = SESSION_GAP_MICROS


@query(
    "q_sessions_bounce_rate",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {_BOUNCE_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    ), sessions AS (
      SELECT user_id, sess,
             CAST(date_trunc('day', MIN(ts)) AS DATE)::VARCHAR AS day,
             COUNT(*) AS n_events
      FROM numbered GROUP BY 1, 2
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                           AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS bounce_rate
    FROM sessions GROUP BY 1
    """,
)
def q_sessions_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of 30-min-gap sessions containing
    exactly one event, keyed by the day the session STARTED — the
    engagement-quality metric product dashboards pair with
    q_events_dau_wau's stickiness. Built on the same gaps-and-islands
    sessionization as q_ts_sessionize_stats, rolled one level higher
    (session -> day) instead of per user.

    Scale shape: one per-user sort window for session numbering (the
    sessionize shuffle), one hash agg to sessions, one tiny agg to
    |days| rows. Exact integers until the single rounded ratio; the
    ordering tie-break (ts, event_id) totalizes the window."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    micros = epoch_micros("ts")
    is_new = F.when(
        F.lag("ts").over(w).isNull()
        | ((micros - F.lag(micros).over(w)) > F.lit(_BOUNCE_GAP_US)),
        1,
    ).otherwise(0)
    sess = F.sum(is_new).over(
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sessions = (
        e.select("user_id", "ts", sess.alias("sess"))
        .groupBy("user_id", "sess")
        .agg(
            F.date_format(date_trunc_ntz("day", F.min("ts")), "yyyy-MM-dd").alias("day"),
            F.count("*").alias("n_events"),
        )
    )
    bounce = (F.col("n_events") == 1).cast("int")
    return sessions.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(bounce).cast("long").alias("n_bounces"),
        F.round(F.sum(bounce).cast("double") / F.count("*"), 6).alias("bounce_rate"),
    )


@query(
    "q_events_calendar_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def q_events_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap (events + distinct
    users per cell) — the load-profile matrix capacity planning and
    the seasonal-anomaly baseline (q_events_anomaly_seasonal) read
    from. ISO day numbering (Mon=1..Sun=7) on both engines: Spark's
    dayofweek is Sun=1-based, so the plan maps it explicitly rather
    than trusting engine defaults to agree.

    Scale shape: one partial/final hash agg to a fixed 7x24 grid; the
    distinct-user count shuffles (dow, hod, user) partials — still
    grid-bounded x |users|. No window, no join."""
    e = load_table(spark, sf_dir, "events")
    # Spark: dayofweek = 1 (Sunday) .. 7 (Saturday); ISO wants Mon=1.
    iso_dow = ((F.dayofweek("ts") + 5) % 7) + 1
    return e.groupBy(
        iso_dow.cast("int").alias("dow"), F.hour("ts").cast("int").alias("hod")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "q_events_top_movers",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), delta AS (
      SELECT event_type, day, n,
             LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n,
             LAG(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day
      FROM daily
    )
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           CAST(prev_n AS BIGINT) AS prev_n,
           CAST(n - prev_n AS BIGINT) AS abs_change,
           CAST(ROUND(CAST(n - prev_n AS DOUBLE) / prev_n, 6) AS DOUBLE)
             AS pct_change
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY ABS(n - prev_n) DESC, day) AS rk
      FROM delta WHERE prev_n IS NOT NULL AND prev_day = day - 1
    ) WHERE rk <= 3
    """,
)
def q_events_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top day-over-day movers: for each event type, the 3 days with
    the largest absolute change vs the PREVIOUS CALENDAR day — the
    "what spiked" screen an on-call reads before drilling into
    q_events_anomaly's z-scores. Non-adjacent days (a gap in the
    series) are excluded rather than treated as consecutive — the
    prev_day = day - 1 guard — because a change across a gap is a
    data-coverage artifact, not a mover.

    Determinism: counts and changes are exact integers; the argmax
    window breaks |change| ties by day; the single pct division
    rounds at 6 dp. Scale shape: one hash agg to the calendar grain,
    then LAG + top-k windows over |types| x |days| rows — everything
    after the first agg is calendar-bounded."""
    e = load_table(spark, sf_dir, "events")
    day = F.floor(
        epoch_micros(date_trunc_ntz("day", "ts")) / F.lit(86_400_000_000)
    ).cast("long")
    daily = e.groupBy("event_type", day.alias("day")).agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy("day")
    delta = daily.select(
        "event_type",
        "day",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lag("day").over(w).alias("prev_day"),
    ).filter(F.col("prev_n").isNotNull() & (F.col("prev_day") == F.col("day") - 1))
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(
            F.abs(F.col("n") - F.col("prev_n")).desc(), "day"
        )
    )
    return (
        delta.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select(
            "event_type",
            "day",
            F.col("n").cast("long").alias("n"),
            F.col("prev_n").cast("long").alias("prev_n"),
            (F.col("n") - F.col("prev_n")).cast("long").alias("abs_change"),
            F.round(
                (F.col("n") - F.col("prev_n")).cast("double") / F.col("prev_n"), 6
            ).alias("pct_change"),
        )
    )


@query(
    "q_events_new_vs_returning",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ), first_seen AS (
      SELECT user_id, MIN(day) AS first_day FROM du GROUP BY 1
    ), tagged AS (
      SELECT d.day, d.user_id, (d.day = f.first_day) AS is_new
      FROM du d JOIN first_seen f ON f.user_id = d.user_id
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS dau,
           CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
             AS returning_users,
           CAST(ROUND(CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS new_frac
    FROM tagged GROUP BY 1
    """,
)
def q_events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: DAU decomposed into first-ever-seen
    (new) vs returning users — the acquisition/retention split product
    analytics reads before anything else, and the complement of
    q_events_dau_wau (stickiness) and q_cohort_retention (cohort
    decay): same active-user base, different cut.

    A user is "new" only on their global first active day, computed as
    MIN(day) over the whole history — not a bounded lookback — so the
    decomposition is exact. day = calendar date truncation; everything
    is exact integers but the final rounded ratio.

    Scale shape: distinct (day, user) collapses map-side first; the
    first-seen table is one hash agg BY USER (the high-cardinality
    key, so it parallelizes with the data); the tag join is
    user-keyed — co-partitioned with the agg that produced it, and AQE
    picks broadcast if |users| is small. Final rollup is |days| rows.
    A self-window over user history would do one sort per user
    instead; the two-agg shape avoids any sort."""
    e = load_table(spark, sf_dir, "events")
    du = (
        e.select(F.to_date(date_trunc_ntz("day", "ts")).alias("day"), "user_id")
        .distinct()
    )
    first_seen = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    tagged = du.join(first_seen, "user_id").select(
        "day", (F.col("day") == F.col("first_day")).cast("int").alias("is_new")
    )
    return tagged.groupBy("day").agg(
        F.count("*").cast("long").alias("dau"),
        F.sum("is_new").cast("long").alias("new_users"),
        (F.count("*") - F.sum("is_new")).cast("long").alias("returning_users"),
        F.round(
            F.sum("is_new").cast("double") / F.count("*").cast("double"), 6
        ).alias("new_frac"),
    )


_MARKOV_ITERS = 3
_PI_SCALE = 1_000_000_000  # stationary mass in 1e-9 units (exact BIGINT)


def _markov_oracle() -> str:
    parts = [
        """seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    counted AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
               FROM counted GROUP BY from_type),
    states AS (SELECT DISTINCT from_type AS s FROM counted)""",
        f"""pi0 AS (
      SELECT s, CAST({_PI_SCALE} // (SELECT COUNT(*) FROM states) AS BIGINT)
               AS mass
      FROM states)""",
    ]
    for k in range(1, _MARKOV_ITERS + 1):
        parts.append(
            f"""pi{k} AS (
      SELECT c.to_type AS s,
             CAST(SUM(CAST(ROUND(CAST(p.mass AS DOUBLE) * c.n / t.tot, 0)
                           AS BIGINT)) AS BIGINT) AS mass
      FROM pi{k - 1} p
      JOIN counted c ON c.from_type = p.s
      JOIN totals t ON t.from_type = p.s
      GROUP BY c.to_type)"""
        )
    sel = " UNION ALL ".join(
        f"SELECT {k} AS step, s AS event_type, "
        f"CAST(ROUND(CAST(mass AS DOUBLE) / {_PI_SCALE}, 6) AS DOUBLE) AS prob "
        f"FROM pi{k}"
        for k in range(_MARKOV_ITERS + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + sel


@query("q_markov_stationary", oracle=_markov_oracle())
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain by
    {R} unrolled POWER ITERATIONS over the transition matrix
    (q_event_transitions' estimate) from a uniform start — where does
    a user's session settle long-run, the quantity behind
    PageRank-style engagement weighting of event types (and the fifth
    member of the unrolled-iteration family: PageRank, Bellman-Ford,
    k-core, LPA). Every intermediate distribution is emitted
    (step 0..{R}), pinning the whole trajectory, not one fixed point.

    Exactness: the distribution lives in exact 1e-9-unit BIGINT mass;
    each propagation term rounds ONE double product (mass * n / tot of
    exact integers) back to integer before the sum, so cross-engine
    float-summation order cannot move a digit — the scaled-integer
    recursion idiom of the EWMA/jackknife family.

    Scale shape: the chain state is |event types| rows; each round is
    one broadcast-sized join against the |types|^2 transition matrix.
    The only corpus-sized work is the one LEAD window that estimates
    the matrix — shared shape with q_event_transitions."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    counted = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    # |types|^2 rows; three rounds + totals all read it — clip the
    # corpus-window lineage once.
    counted = memo_local_checkpoint(counted, "analytics.markov_matrix", sf_dir)
    totals = counted.groupBy("from_type").agg(F.sum("n").alias("tot"))
    matrix = counted.join(totals, "from_type")
    states = counted.select(F.col("from_type").alias("s")).distinct()
    n_states = states.count()  # |event types| — driver-side by design
    pi = states.select("s", F.lit(_PI_SCALE // n_states).cast("long").alias("mass"))
    out = pi.select(F.lit(0).alias("step"), F.col("s").alias("event_type"),
                    F.round(F.col("mass").cast("double") / _PI_SCALE, 6).alias("prob"))
    for k in range(1, _MARKOV_ITERS + 1):
        term = F.round(
            F.col("mass").cast("double") * F.col("n") / F.col("tot"), 0
        ).cast("long")
        pi = (
            pi.join(matrix, pi.s == matrix.from_type)
            .select(F.col("to_type").alias("s"), term.alias("m"))
            .groupBy("s")
            .agg(F.sum("m").alias("mass"))
        )
        out = out.unionByName(
            pi.select(
                F.lit(k).alias("step"),
                F.col("s").alias("event_type"),
                F.round(F.col("mass").cast("double") / _PI_SCALE, 6).alias("prob"),
            )
        )
    return out


q_markov_stationary.__doc__ = q_markov_stationary.__doc__.replace(
    "{R}", str(_MARKOV_ITERS)
)
