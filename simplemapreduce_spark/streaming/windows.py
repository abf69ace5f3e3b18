"""Structured Streaming surface over the ``events`` table.

The reference is strictly batch — a hard map→reduce phase barrier
(/root/reference/src/mapreduce/master.go:77-78) — so this module is
pure extension scope (SURVEY.md §2.2 "Streaming"): the same windowed
aggregations the batch catalog exposes, expressed as incremental
streaming plans with watermarks for late data.

Test/driver strategy: the parquet fixture directory is replayed as a
finite file stream; each query runs the stream to completion into a
memory sink and returns the resulting batch DataFrame. In *complete*
output mode the final table equals the batch answer, so these entries
are fully DuckDB-oracle-checkable — the strongest check available for
a streaming plan.

The drain rule: ``_drain`` is the only code that runs a stream to
completion (unique query name, availableNow trigger, a 300 s wait that
raises on timeout, stop in ``finally``). Memory-sink queries reach it
through ``run_stream_to_table``, which also sizes the stream's state
partitions from the source (``stream_state_partitions``); the
foreachBatch sink passes its own writer. The one exception is
``q_source_python_stream``: Python streaming sources cannot use
availableNow, so it polls its committed aggregate instead.

Scale design: watermark + windowed agg is incremental state (one row
per open window per key in the state store), not a re-scan; the same
plan runs unchanged against a Kafka/file stream on a cluster with
checkpointed, partitioned state.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.functions.time import event_time_to_ntz, ntz_as_event_time
from simplemapreduce_spark.oracle_sql import SQL_SESSION_WINDOW
from simplemapreduce_spark.session import scoped_conf


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture replayed as a file stream (finite).

    ``ts`` is converted NTZ→LTZ through epoch arithmetic
    (functions/time.py) because Structured Streaming only accepts
    TIMESTAMP_LTZ event time; queries that *return* window bounds
    convert back with :func:`event_time_to_ntz` so rendered values
    match the naive timestamps DuckDB sees, on any session timezone.

    File streams need their schema up front: the stream reads with the
    batch loader's cached parquet schema and normalization
    (``sources.tables.table_schema`` / ``normalize_table``), so batch
    and stream agree on either ``ts`` encoding (TIMESTAMP(MICROS) or
    the round-1 TIMESTAMP(NANOS)).
    """
    from simplemapreduce_spark.sources.tables import normalize_table, table_schema

    # Layout-aware source: the driver fixtures store events as a single
    # FILE (streaming's basePath must be a directory, hence parent dir
    # + pathGlobFilter), but any produced dataset — a partitioned
    # write, the scale-probe replica — is a DIRECTORY of part files,
    # which the glob on leaf names would silently match as ZERO files
    # (caught when the 10x probe streamed 0 rows). Branch on the
    # actual layout so both read the same rows their batch twin sees.
    events_path = os.path.join(sf_dir, "events.parquet")

    def reader(schema):
        r = spark.readStream.schema(schema)
        if os.path.isdir(events_path):
            return r.parquet(events_path)
        return r.option("pathGlobFilter", "events.parquet").parquet(sf_dir)

    raw = normalize_table(reader(table_schema(spark, sf_dir, "events")), "events")
    return raw.withColumn("ts", ntz_as_event_time("ts"))


def stream_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Scale-adaptive state/shuffle partition count for a finite
    availableNow drain (round 10, guide §2.2/§2.4 applied to the one
    exchange AQE cannot touch): Spark disables AQE for stateful
    streaming, so the stream's shuffle — and with it the number of
    state stores created, checkpointed and committed per micro-batch —
    is pinned to the static ``spark.sql.shuffle.partitions``, which is
    sized for batch parallelism. On the bench fixture that meant 32
    HDFS-backed state stores per batch over ~2 MB of input, pure
    fixed cost (measured: the tumbling drain's steady state drops
    ~30% when the state shuffle matches the input size). Derive the
    count from the source size exactly the way AQE's partition
    coalescing would — one partition per ~512 KB of source, clamped
    to [2, defaultParallelism] — so a production-sized replay still
    fans out to full parallelism while a small one stops paying for
    empty state stores. Result-invariant by construction (the
    shuffle-partition invariance axis re-proved all 364 queries at
    sf0.1 under a different partition count, BASELINE.md)."""
    from simplemapreduce_spark.sources.tables import dataset_size_bytes, table_path

    # Layout-aware sizing (ADVICE r10 #1): ``os.path.getsize`` on a
    # DIRECTORY returns the inode size (~4 KB) without raising, so the
    # previous OSError-fallback walk was dead code and a directory-backed
    # (multi-file production) events dataset would have been sized at
    # ~4 KB and serialized onto 2 state stores — the opposite of the
    # documented fan-out. dataset_size_bytes branches on isdir first.
    size = dataset_size_bytes(table_path(sf_dir, "events"))
    target = -(-size // (512 * 1024)) if size else 2
    return max(2, min(int(target), spark.sparkContext.defaultParallelism))


def _drain(
    spark: SparkSession, writer: DataStreamWriter, state_partitions: int | None = None
) -> str:
    """Run the configured ``writer`` to completion under a fresh query
    name with an availableNow trigger; return the query name.

    ``state_partitions`` (see :func:`stream_state_partitions`) sets the
    stream's shuffle/state partition count for THIS query only: the
    session conf is modified before ``start()`` and restored right
    after — safe because StreamExecution clones the session (and its
    conf) synchronously inside ``start()`` on Spark 4.x, verified
    empirically (a drain started at 4 with the conf restored to 32
    immediately after start() wrote a 4-partition state store; pinned
    by tests/test_optimization_r10.py). The override goes through
    ``session.scoped_conf``, whose process-wide lock keeps drains
    started from different driver threads from leaking the wrong
    count into the session."""
    name = f"smr_stream_{int(time.monotonic_ns())}"
    with scoped_conf(spark, "spark.sql.shuffle.partitions", state_partitions):
        q = writer.queryName(name).trigger(availableNow=True).start()
    try:
        # availableNow terminates once drained; a False return means the
        # drain timed out and the sink is PARTIAL — fail loudly rather
        # than hand a silently-wrong result to the oracle compare.
        # RuntimeError, not assert: asserts vanish under `python -O`.
        if not q.awaitTermination(300):
            raise RuntimeError("stream drain timed out after 300s")
    finally:
        q.stop()
    return name


def run_stream_to_table(df: DataFrame, output_mode: str, sf_dir: str) -> DataFrame:
    """Execute a (finite) streaming DataFrame over the ``sf_dir``
    fixtures to completion into a memory sink, with its state
    partitions sized to the source; return the materialized result as
    a batch DataFrame.

    The returned frame holds the sink's rows itself, so the sink's
    temporary view is dropped: the session keeps no table per drain."""
    spark = df.sparkSession
    name = _drain(
        spark,
        df.writeStream.format("memory").outputMode(output_mode),
        stream_state_partitions(spark, sf_dir),
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation with a 1-hour watermark,
    run to completion (complete mode ⇒ equals the batch answer)."""
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    out = run_stream_to_table(agg, "complete", sf_dir)
    return out.select(
        event_time_to_ntz(F.col("w.start")).alias("window_start"), "event_type", "n", "sum_value"
    )


@query(
    "q_stream_global_agg",
    oracle="""
    SELECT COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS users_within_5pct
    FROM events
    """,
)
def q_stream_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNGROUPED streaming aggregate (complete mode): the single
    running-totals row every monitoring dashboard keeps — count,
    distinct users, total value — maintained incrementally with no
    grouping key. Exact COUNT(DISTINCT) is UNSUPPORTED on streams
    (Spark raises, pointing at approx_count_distinct) — so the stream
    maintains the HLL++ sketch, the constant-memory state a streaming
    distinct must be, and the result is verified with the
    exact-count + bounds-witness contract (q_agg_hll_merge): a batch
    pass supplies the exact count and the witness asserts the
    streaming sketch landed within 5% (rsd=0.01, 5 sigma)."""
    agg = stream_events(spark, sf_dir).agg(
        F.count("*").alias("n_events"),
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    out = run_stream_to_table(agg, "complete", sf_dir)
    from simplemapreduce_spark.sources.tables import load_table

    exact = load_table(spark, sf_dir, "events").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return out.crossJoin(F.broadcast(exact)).select(
        "n_events",
        "total_value",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("users_within_5pct"),
    )


@query(
    "q_stream_chained_agg",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
    ten AS (
      SELECT event_type,
             time_bucket(INTERVAL '10 minutes', ts) AS wstart,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    fin AS (
      SELECT * FROM ten, wm
      WHERE wstart + INTERVAL 10 MINUTE <= wm.w
    )
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', wstart) AS hour_start,
           MAX(n) AS max_10min_n,
           CAST(SUM(n) AS BIGINT) AS hour_n
    FROM fin, wm
    WHERE time_bucket(INTERVAL '1 hour', wstart) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    """,
)
def q_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregations in one streaming query (Spark
    3.4+ time-window re-aggregation): tumbling 10-minute counts per
    event type, re-windowed into hourly MAX/SUM of those counts —
    the streaming rollup pyramid (fine grain feeding coarse grain)
    without an intermediate sink. Append mode is what makes chaining
    legal: the hourly agg consumes only FINALIZED 10-minute windows.

    The oracle replays the append-mode emission rule: a 10-minute
    window reaches the second agg only once the watermark (max event
    time − 1h) passes its end, and an hourly result row emits only
    once the watermark passes the HOUR's end — so trailing windows
    still pending at drain are absent, deterministically. Window
    boundaries are 10-min/hour-aligned while the watermark carries
    the max event's microseconds, so boundary-equality ambiguity
    cannot arise on these fixtures.

    Scale shape: both aggs are keyed streaming state with partial
    merge; the second operates on window-count rows (orders of
    magnitude smaller), exactly like a batch rollup tree."""
    ten = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    hourly = ten.groupBy(F.window(F.col("w"), "1 hour").alias("h"), "event_type").agg(
        F.max("n").alias("max_10min_n"), F.sum("n").alias("hour_n")
    )
    out = run_stream_to_table(hourly, "append", sf_dir)
    return out.select(
        "event_type",
        event_time_to_ntz(F.col("h.start")).alias("hour_start"),
        "max_10min_n",
        "hour_n",
    )


@query(
    "q_stream_sliding",
    oracle="""
    WITH offsets AS (SELECT unnest([0, 15]) AS off_min),
    slid AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts - to_minutes(off_min)) + to_minutes(off_min) AS window_start,
             event_id
      FROM events CROSS JOIN offsets
    )
    SELECT window_start, COUNT(event_id) AS n FROM slid GROUP BY 1
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (30 min window, 15 min slide): each
    event lands in 2 overlapping windows."""
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    out = run_stream_to_table(agg, "complete", sf_dir)
    return out.select(event_time_to_ntz(F.col("w.start")).alias("window_start"), "n")


@query(
    "q_stream_session_window",
    oracle=SQL_SESSION_WINDOW,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-minute inactivity gap) per user.
    Complete-mode availableNow replay: the state store keeps merging
    adjacent sessions as batches arrive, so the FINAL state is the
    same fully-merged gaps-and-islands result the batch twin
    (plans/timeseries.py q_ts_session_window) computes — which makes
    the stateful merge itself oracle-checkable, not just rows-only."""
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_stream_to_table(agg, "complete", sf_dir)
    return out.select(
        "user_id",
        event_time_to_ntz(F.col("w.start")).alias("session_start"),
        event_time_to_ntz(F.col("w.end")).alias("session_end"),
        "n_events",
    )


@query(
    "q_stream_static_join",
    oracle="""
    WITH dim AS (
      SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type) AS type_rank
      FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT CAST(d.type_rank AS INTEGER) AS type_rank, e.event_type, COUNT(*) AS n
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY 1, 2
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-to-static join: the event stream enriches against a
    batch dimension (computed once, broadcast per micro-batch), then
    aggregates. The standard streaming-ETL enrichment shape."""
    from pyspark.sql import Window as BW

    from simplemapreduce_spark.sources.tables import load_table

    dim = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn("type_rank", F.row_number().over(BW.orderBy("event_type")))
    )
    enriched = stream_events(spark, sf_dir).join(dim, "event_type")
    agg = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy("type_rank", "event_type")
        .agg(F.count("*").alias("n"))
    )
    return run_stream_to_table(agg, "complete", sf_dir)


def _click_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The stream-stream join family's shared plan, drained to a table:
    the click stream ``(c_user, click_id, c_ts)`` joined (``how``) to
    the purchase stream ``(p_user, purchase_id, p_ts)`` on the same
    user and a purchase within 30 minutes after the click. Both sides
    carry a 1-hour watermark, which, together with the time bound,
    lets the state store evict a click once no qualifying purchase can
    still arrive. Used by the inner, left-outer, left-semi and
    full-outer queries, which differ only in ``how`` and their final
    projection."""
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    )
    return run_stream_to_table(joined, "append", sf_dir)


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id, p.event_id AS purchase_id,
           date_diff('second', c.ts, p.ts) AS secs_to_purchase
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: clicks joined
    to purchases by the same user within 30 minutes. Watermarks on both
    sides bound the join state (clicks can be dropped once no purchase
    within the window can still arrive) — the canonical funnel join,
    running incrementally."""
    out = _click_purchase_join(spark, sf_dir, "inner")
    return out.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("secs_to_purchase"),
    )


# Every click, with each purchase of its user within the next 30 minutes
# (``matched``), plus the clicks left unmatched once the final global
# watermark ``wm`` has passed their window: the batch answer of the
# left-outer stream-stream join and the first half of the full-outer one.
_SQL_CLICKS_LEFT_OUTER = """
    WITH wm AS (
      SELECT LEAST(
        (SELECT max(ts) FROM events WHERE event_type = 'click'),
        (SELECT max(ts) FROM events WHERE event_type = 'purchase')
      ) - INTERVAL 1 HOUR AS w
    ),
    matched AS (
      SELECT c.user_id,
             c.event_id AS click_id, p.event_id AS purchase_id,
             date_diff('second', c.ts, p.ts) AS secs_to_purchase
      FROM events c JOIN events p
        ON p.user_id = c.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    )
    SELECT user_id, click_id, purchase_id, secs_to_purchase FROM matched
    UNION ALL
    SELECT c.user_id, c.event_id, NULL, NULL
    FROM events c, wm
    WHERE c.event_type = 'click'
      AND c.ts + INTERVAL 30 MINUTE < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
          AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      )
    """


@query(
    "q_stream_stream_left_outer",
    oracle=_SQL_CLICKS_LEFT_OUTER,
)
def q_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, with its purchase
    when one lands within 30 minutes, and a null-extended row when the
    watermark PROVES none can still arrive. The outer semantics are
    what make streaming joins subtle: an unmatched click is emitted
    only at state eviction — when the purchase-side watermark passes
    click_ts + 30min — never speculatively. The oracle mirrors that
    exactly: matched pairs, plus unmatched clicks whose join window
    closed before the final GLOBAL watermark — the MIN over both
    sides' per-operator watermarks, i.e. least(max click ts, max
    purchase ts) − 1h delay; unmatched clicks in the trailing window
    are correctly ABSENT (still pending when the finite replay
    drains).
    The fixtures have no click whose window boundary falls within 1 ms
    of the final watermark, so millisecond watermark truncation cannot
    flip a row.

    Scale shape: identical to the inner join — state bounded by the
    watermark on both sides, keyed-state symmetric hash join; the
    outer variant only adds the eviction-time null emission."""
    out = _click_purchase_join(spark, sf_dir, "left_outer")
    return out.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("secs_to_purchase"),
    )


# Both dedup streams keep every distinct (user, event type) pair, so the
# per-type count of the sink equals this batch count.
_SQL_DISTINCT_USERS_PER_TYPE = """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
    FROM events GROUP BY event_type
    """


@query(
    "q_stream_dedup",
    oracle=_SQL_DISTINCT_USERS_PER_TYPE,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates on (user_id, event_type)
    keeps the first occurrence of each pair across the whole stream
    (exact, state holds one entry per distinct key — the contract that
    makes the post-hoc distinct-count equal the batch answer). The
    bounded-state production variant is dropDuplicatesWithinWatermark,
    which trades exactness across far-apart duplicates for state
    eviction; its result is not batch-equal, so the exact form is the
    oracled one. The deduped APPEND stream lands in the sink; the
    per-type count is batch post-processing of the sink table."""
    deduped = (
        stream_events(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    out = run_stream_to_table(deduped, "append", sf_dir)
    return out.groupBy("event_type").agg(
        F.count("user_id").alias("n_distinct_users")
    )


@query(
    "q_stream_foreach_batch_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom streaming sink via foreachBatch: each micro-batch lands
    as an append into a parquet directory (the escape hatch for sinks
    Spark has no native writer for — upserts, JDBC, external indexes).
    The availableNow replay delivers every source row exactly once
    across the batches, so the re-read of the sink directory aggregates
    to the batch answer — the exactly-once-per-trigger contract made
    checkable. Batch-id-keyed subdirectories would make the write
    idempotent under retries at production scale; append mode keeps the
    local check honest (a duplicated batch would fail the count)."""
    import shutil

    from simplemapreduce_spark.scratch import scratch_dir

    out = scratch_dir("foreach_batch", sf_dir)
    shutil.rmtree(out, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select("event_id", "event_type", "value").write.mode("append").parquet(out)

    _drain(
        spark,
        stream_events(spark, sf_dir).writeStream.foreachBatch(write_batch).outputMode("append"),
    )
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


_LATE_DELAY_MS = 599_999  # ~10 min, deliberately never second-aligned


def _stage_late_batches(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events fixture as THREE parquet files with
    forced modification-time order: even event_ids, then an EMPTY
    file, then odd event_ids. A maxFilesPerTrigger=1 file stream
    replays them as three deterministic micro-batches.

    The empty middle batch matters: Spark filters late input with the
    PREVIOUS batch's eviction watermark (two-version watermark
    semantics, SPARK-24634 lineage), so in a two-batch replay the odd
    rows would never be filtered — the watermark derived from the even
    batch only becomes the late-event filter one batch later. The
    empty file advances the batch counter without touching data, so
    the odd batch is filtered against max(even ts) - delay exactly.

    Staged through scratch.staged_once, so it re-stages automatically
    when the events fixture changes."""
    import glob
    import shutil

    from simplemapreduce_spark.scratch import staged_once
    from simplemapreduce_spark.sources.tables import load_table

    def write_batches(out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)
        e = load_table(spark, sf_dir, "events")
        halves = {
            1: e.filter(F.col("event_id") % 2 == 0),
            2: e.filter(F.lit(False)),
            3: e.filter(F.col("event_id") % 2 == 1),
        }
        os.makedirs(out, exist_ok=True)
        now = time.time()
        for i, df in halves.items():
            tmp = f"{out}_b{i}"
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(tmp + "/part-*.parquet")[0]
            dst = os.path.join(out, f"batch{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (now - 1000 * (3 - i), now - 1000 * (3 - i)))
            shutil.rmtree(tmp)

    return staged_once("stream_late", sf_dir, "events", write_batches)


def _late_replay_counts(spark: SparkSession, sf_dir: str, output_mode: str) -> DataFrame:
    """The three-batch late-data replay (:func:`_stage_late_batches`)
    under a ~10-minute watermark, counted per (hour window, event
    type) and drained in ``output_mode``. Shared by
    q_stream_late_drop (append) and q_stream_update_mode (update)."""
    from simplemapreduce_spark.sources.tables import load_table

    # The staged batches are Spark-written from the batch load, so they
    # carry its (normalized) schema.
    raw = (
        spark.readStream.schema(load_table(spark, sf_dir, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stage_late_batches(spark, sf_dir))
    )
    agg = (
        raw.withColumn("ts", ntz_as_event_time("ts"))
        .withWatermark("ts", f"{_LATE_DELAY_MS} milliseconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = run_stream_to_table(agg, output_mode, sf_dir)
    return out.select(
        event_time_to_ntz(F.col("w.start")).alias("window_start"), "event_type", "n"
    )


@query(
    "q_stream_late_drop",
    oracle="""
    WITH wm_late AS (
      SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 599999 MILLISECONDS AS w
      FROM events WHERE event_id % 2 = 0
    ), wm_final AS (
      SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 599999 MILLISECONDS AS w
      FROM events
    ), kept AS (
      SELECT * FROM events
      WHERE event_id % 2 = 0
         OR date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm_late)
    )
    SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
    FROM kept GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm_final)
    """,
)
def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP — the one watermark behavior the
    complete-mode siblings cannot show. The fixture replays as three
    micro-batches (even event_ids / empty / odd event_ids). The even
    batch advances the watermark to max(even ts) - delay; one batch
    later that value becomes the late-event filter, so odd rows whose
    hour window closed below it are DROPPED; append mode then emits
    only windows finalized by the final watermark (max event ts over
    the whole stream - delay). Both effects are deterministic
    functions of the fixture and are mirrored exactly in the oracle:
    late filter = max(even ts) - delay (ms-truncated, as the engine
    tracks event time in milliseconds), emission = windows whose end
    cleared the final watermark. Verified value-exact at sf0.001 and
    sf0.01; the strict/inclusive boundary choice is unobservable on
    microsecond-granular fixtures (window ends are hour-aligned)."""
    return _late_replay_counts(spark, sf_dir, "append")


@query(
    "q_stream_update_mode",
    oracle="""
    WITH wm_late AS (
      SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 599999 MILLISECONDS AS w
      FROM events WHERE event_id % 2 = 0
    ), evens AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
      FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
    ), surviving_odds AS (
      SELECT * FROM events
      WHERE event_id % 2 = 1
        AND date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm_late)
    ), merged AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
      FROM (SELECT ts, event_type FROM events WHERE event_id % 2 = 0
            UNION ALL SELECT ts, event_type FROM surviving_odds)
      GROUP BY 1, 2
    )
    SELECT window_start, event_type, n FROM evens
    UNION ALL
    SELECT m.window_start, m.event_type, m.n
    FROM merged m
    WHERE EXISTS (
      SELECT 1 FROM surviving_odds o
      WHERE date_trunc('hour', o.ts) = m.window_start
        AND o.event_type = m.event_type
    )
    """,
)
def q_stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode over the same three-batch late-data replay as
    q_stream_late_drop: each micro-batch emits only the groups whose
    aggregate CHANGED in that batch, so the sink accumulates a history
    of partial results — (window, type) groups touched by the even
    batch appear once with even-only counts, groups also touched by a
    surviving (non-late) odd row appear AGAIN with the merged count,
    and late-dropped odds update nothing. That whole multiset is a
    deterministic function of the fixture, mirrored row-for-row
    (including the duplicates) in the oracle."""
    return _late_replay_counts(spark, sf_dir, "update")


@query(
    "q_stream_dedup_watermarked",
    oracle=_SQL_DISTINCT_USERS_PER_TYPE,
)
def q_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark
    holds a (key -> first event time) entry only until the watermark
    passes it plus the delay, then evicts — the production form whose
    state is O(keys active in the window), not O(all keys ever). With
    the delay set beyond the fixture's 30-day span nothing evicts, so
    the result is exactly the unbounded dedup (and oracle-checkable);
    shrinking the delay is purely a state-size/recall dial — the
    mechanics under test (per-key state, event-time tracking,
    watermark-driven eviction) are the same ones running at scale.
    Note the API REQUIRES withWatermark upstream, unlike plain
    dropDuplicates."""
    deduped = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "45 days")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    out = run_stream_to_table(deduped, "append", sf_dir)
    return out.groupBy("event_type").agg(
        F.count("user_id").alias("n_distinct_users")
    )


@query(
    "q_source_python_stream",
    oracle="""
    SELECT i % 5 AS key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM((i * i) % 97) AS BIGINT) AS sum_value
    FROM range(0, 100) t(i)
    GROUP BY i % 5
    """,
)
def q_source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python DataSource (Spark 4 simpleStreamReader
    API): a deterministic counter source replayed through micro-batch
    execution into a complete-mode grouped aggregate, verified
    exactly against the closed-form SQL of the full sequence. The
    batch Python DataSource (q_source_python_datasource) covers the
    reader API; this covers offset management (initialOffset / read /
    readBetweenOffsets) and stateful recomputation across batches.

    Python streaming sources do not support Trigger.AvailableNow
    (the engine falls back to a single micro-batch and would drain
    only the first 30-row batch), so the drain loop runs a
    processing-time trigger and watches the COMMITTED aggregate until
    it covers the whole sequence, then stops — failing loudly on
    timeout rather than handing a partial table to the oracle
    (ADVICE r2 convention).

    Scale design: offsets are tiny JSON dicts; each micro-batch is
    produced and consumed incrementally (state store carries the
    running counts), the same topology a Kafka-backed deployment has;
    nothing about the drain loop is data-size-dependent."""
    import time as _time

    from simplemapreduce_spark.sources.pyds import (
        N_STREAM_TOTAL,
        make_counter_stream_datasource,
    )

    spark.dataSource.register(make_counter_stream_datasource())
    raw = spark.readStream.format("smr_counter_stream").load()
    agg = raw.groupBy((F.col("i") % 5).alias("key")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum((F.col("i") * F.col("i")) % 97).cast("long").alias("sum_value"),
    )
    name = f"smr_pyds_stream_{int(_time.monotonic_ns())}"
    # Size the stateful aggregate's shuffle/state stores to the source
    # (round 11, same diagnosis as the drains' kept-#1 fix in r10: AQE
    # is off for stateful streaming, so every micro-batch committed 32
    # HDFS state stores over a 30-row batch — pure fixed cost, times
    # ~5 micro-batches). One state partition per 50k source rows,
    # floor 2: the 100-row counter gets 2; a production-sized stream
    # fans out to full parallelism.
    n_state = max(
        2,
        min(
            -(-N_STREAM_TOTAL // 50_000),
            spark.sparkContext.defaultParallelism,
        ),
    )
    with scoped_conf(spark, "spark.sql.shuffle.partitions", n_state):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .start()
        )
    try:
        deadline = _time.monotonic() + 300
        while True:
            done = (
                spark.table(name).agg(F.sum("n_rows").alias("n")).collect()[0]["n"]
                or 0
            ) >= N_STREAM_TOTAL
            if done:
                break
            if _time.monotonic() > deadline:
                raise RuntimeError("python stream drain timed out after 300s")
            _time.sleep(0.2)
    finally:
        q.stop()
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


@query(
    "q_stream_stream_semi",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      )
    """,
)
def q_stream_stream_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join: clicks that converted (a same-
    user purchase followed within 30 minutes), each click emitted at
    most ONCE no matter how many purchases matched — the streaming
    EXISTS, completing the stream-join family (inner:
    q_stream_stream_join, left outer: q_stream_stream_left_outer).
    Semi-join state is cheaper than inner-join state: a matched click
    needs only a boolean, never the matched rows.

    Same watermark/time-bound discipline as the inner join (state
    evicted once no qualifying purchase can still arrive); the batch
    oracle is the literal EXISTS subquery."""
    out = _click_purchase_join(spark, sf_dir, "left_semi")
    return out.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        F.col("c_ts").alias("click_ts"),
    )


@query(
    "q_stream_stream_full_outer",
    oracle=_SQL_CLICKS_LEFT_OUTER + """UNION ALL
    SELECT p.user_id, NULL, p.event_id, NULL
    FROM events p, wm
    WHERE p.event_type = 'purchase'
      AND p.ts < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click'
          AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
      )
    """,
)
def q_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join, completing the stream-join
    family (inner / left-outer / semi siblings above): click-purchase
    pairs within 30 minutes, plus null-extended rows for BOTH
    never-matched sides, each emitted only when the watermark proves
    no counterpart can still arrive. The eviction horizons are
    asymmetric, which is the instructive part: an unmatched click
    waits until the watermark passes click_ts + 30min (its last
    possible partner timestamp), while an unmatched purchase waits
    only until the watermark passes purchase_ts (its partners precede
    it) — the oracle encodes exactly those two horizons against the
    final global watermark, least(max click ts, max purchase ts) - 1h;
    unmatched rows in the trailing windows are correctly ABSENT (still
    pending when the finite replay drains). Boundary safety, verified
    against all three shipped fixtures: no purchase ts lies within 84 s
    of the final watermark and no click's window edge within 3.5 s, so
    neither millisecond truncation nor an inclusive-vs-exclusive
    eviction boundary in Spark's state store can flip a row (the same
    pinned-fixture argument as the left-outer sibling).

    Scale shape: same keyed-state symmetric hash join as the inner
    variant — state on both sides bounded by the watermark and the
    30-minute interval condition; full-outer adds only the
    eviction-time null emission on each side."""
    out = _click_purchase_join(spark, sf_dir, "full_outer")
    return out.select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("secs_to_purchase"),
    )
