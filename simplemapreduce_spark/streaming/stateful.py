"""Custom stateful streaming operators (applyInPandasWithState).

This is the streaming analogue of the reference's holistic
``reduceF(key, values)`` contract (/root/reference/src/common/
common_reduce.go:56,85): arbitrary per-key user logic — but
*incremental*, carrying state across micro-batches instead of
requiring all values at once.

Closures are defined inside the query functions so cloudpickle ships
them by value (driver worker processes don't import this package).

Scale design: state lives in the partitioned state store (one entry
per key), checkpointed; throughput is Arrow-batched. No driver-side
loops, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.oracle_sql import SQL_SESSION_MARKS
from simplemapreduce_spark.streaming.windows import run_stream_to_table, stream_events


_COUNT_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("total_value_cents", T.LongType(), True),
    ]
)
_COUNT_STATE = T.StructType(
    [
        T.StructField("n", T.LongType(), True),
        T.StructField("cents", T.LongType(), True),
    ]
)


@query(
    "q_stream_stateful_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_value_cents
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via a custom stateful operator
    (applyInPandasWithState): each micro-batch updates per-key state
    and emits the cumulative row. Over the finite fixture stream the
    last emission per user equals the batch aggregate — exactly
    oracle-checkable. Value summed in integer cents (2-decimal data)
    so no float-accumulation drift across engines."""
    import pandas as pd

    from simplemapreduce_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)

    def update(key, pdfs, state: GroupState):
        from simplemapreduce_spark.functions.money import cents_i64

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                cents += cents_i64(pdf["value"].to_numpy())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value_cents": [cents]})

    updates = (
        stream_events(spark, sf_dir)
        # Only the key and the summed column cross the Python boundary
        # (guide §4.1 — the opaque stateful operator otherwise ships
        # every event column, props included, per micro-batch).
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, _COUNT_OUT, _COUNT_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )
    # The last emission per user is the one with the largest count; over
    # the finite replay it equals the batch aggregate.
    out = run_stream_to_table(updates, "append", sf_dir)
    last = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(last))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value_cents")
    )


_SESS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("start_us", T.LongType(), True),
        T.StructField("last_us", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("closed_by", T.StringType(), True),
    ]
)
_SESS_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType(), True),
        T.StructField("last_us", T.LongType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)

_SESS_DELAY_US = 30 * 60 * 1_000_000  # watermark delay (= the gap here)


@query(
    "q_stream_sessionize_stateful",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    {SQL_SESSION_MARKS}
                                  ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    ), s AS (
      SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(epoch_us(ts)) AS l_us,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY MIN(ts) DESC) AS rn_last
      FROM numbered GROUP BY user_id, sess
    ), mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events)
    SELECT user_id, session_start, session_end, n_events,
           CASE WHEN rn_last > 1 THEN 'gap' ELSE 'timeout' END AS closed_by
    FROM s, mx
    WHERE rn_last > 1                            -- closed by a later event
       OR l_us + 1800000000 < m - 1800000000     -- closed by the watermark
    """,
)
def q_stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME STATE EVICTION —
    the applyInPandasWithState surface q_stream_stateful_counts leaves
    untested: per-user open-session state carries across micro-batches
    and is closed two ways, (a) by a later event arriving past the
    30-minute gap ('gap' — emitted from the update path), or (b) by
    the watermark passing the session's timeout timestamp ('timeout' —
    emitted from the hasTimedOut path after state.remove()). Eviction
    is what makes arbitrary stateful streaming viable at scale: without
    timeouts, one state entry per ever-seen user lives forever.

    The oracle mirrors BOTH rules exactly: gap sessions are every
    non-final session of the batch gaps-and-islands decomposition, and
    a user's final session is emitted iff last_ts + gap < max_ts -
    delay — the final event-time watermark of the availableNow replay
    (Spark fires an event-time timeout strictly when the watermark
    exceeds the set timestamp, pinned empirically; fixture timestamps
    carry microsecond entropy, so the strict-< boundary cannot
    collide). Sessions still open at the final watermark are withheld
    on both sides — the honest append-mode semantics, NOT a flush hack.

    Scale shape: state is one (start, last, n) triple per ACTIVE user
    (timeouts bound it by the gap, not by history); each batch sorts
    only its own per-user Arrow slice. The sibling
    q_stream_session_window gets merging from the built-in
    session_window; this one owns the state machine, which is what a
    pipeline needs the moment session state is richer than an
    aggregate (e.g. carrying the session's first referrer)."""
    from simplemapreduce_spark.functions.time import micros_to_ntz
    from simplemapreduce_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    sess = sessionize_stateful_stream(stream_events(spark, sf_dir))
    out = run_stream_to_table(sess, "append", sf_dir)
    return out.select(
        "user_id",
        micros_to_ntz(F.col("start_us")).alias("session_start"),
        micros_to_ntz(F.col("last_us")).alias("session_end"),
        "n_events",
        "closed_by",
    )


def sessionize_advance(
    cur: list | None, ts_us: list, gap_us: int
) -> tuple[list[tuple[int, int, int]], list | None]:
    """The sessionize state-machine core, pure and driver-side testable
    (property-fuzzed in tests/test_sessionize_property.py): advance one
    open-session state ``[start_us, last_us, n]`` (or None) through a
    batch of SORTED event timestamps; return (closed sessions as
    (start, last, n) triples, new open state — None iff both the input
    state and the batch are empty).

    The session span is a min/max ENVELOPE, not last-write-wins: a
    within-watermark late event OLDER than the open session's max but
    within the gap of its start must never move last_us backward (it
    would shrink the span and break the start<=last invariant every
    downstream consumer may assume). A late event older than the open
    session's START by MORE than the gap is not part of that session
    at all: it accumulates into a separate late island (merging with
    adjacent late events under the same gap rule) that closes either
    against the next late event or at batch end — unless its tail
    lands within the gap of the open session's start, in which case
    the two are one session by the gap semantics and the envelopes
    merge. Pre-round-8 behavior absorbed such events into the open
    envelope, silently widening sessions across a super-gap hole
    (ADVICE r7 #1). For in-order sources — the catalog replay and the
    range-partitioned kill-and-resume fixture, where each batch's min
    is >= the previous batch's max — the late path is unreachable and
    the machine is exactly last-write-wins gaps-and-islands."""
    closed: list[tuple[int, int, int]] = []
    late: list | None = None  # open island strictly older than cur

    def settle_late(cur_now: list | None) -> list | None:
        # Resolve the pending island against cur: merge the envelopes
        # when the island's tail lands within the gap of cur's start
        # (one session by the gap rule — absorption can shrink cur's
        # start down to within gap of the island), close the island on
        # its own otherwise. Must run BEFORE cur is gap-closed, not
        # only at batch end: deferring it past a mid-batch close would
        # compare the island against the NEW session and split
        # within-gap events into two sessions (caught by round-8
        # review; regression-pinned in tests/test_sessionize_property).
        nonlocal late
        if late is None:
            return cur_now
        if cur_now is not None and cur_now[0] - late[1] <= gap_us:
            cur_now[0] = min(cur_now[0], late[0])
            cur_now[2] += late[2]
        else:
            closed.append((late[0], late[1], late[2]))
        late = None
        return cur_now

    for t in ts_us:
        if cur is None:
            cur = [t, t, 1]
        elif cur[0] - t > gap_us:
            if late is None:
                late = [t, t, 1]
            elif t - late[1] > gap_us:
                closed.append((late[0], late[1], late[2]))
                late = [t, t, 1]
            else:
                late[1] = max(late[1], t)
                late[2] += 1
        elif t - cur[1] > gap_us:
            cur = settle_late(cur)
            closed.append((cur[0], cur[1], cur[2]))
            cur = [t, t, 1]
        else:
            cur[0] = min(cur[0], t)
            cur[1] = max(cur[1], t)
            cur[2] += 1
    cur = settle_late(cur)
    return closed, cur


def sessionize_islands(
    events: list[tuple[int, int]], gap_us: int
) -> tuple[set, dict]:
    """Batch reference semantics for the sessionizer: the classic
    gaps-and-islands decomposition of (user_id, ts_us) pairs.

    Returns ``(non_final, final)`` where ``non_final`` is the set of
    (user, start, last, n) sessions every correct in-order replay MUST
    close (by gap or by timeout — WHICH of the two is a batching
    artifact, not data semantics: a session whose owner goes quiet
    times out in a run where the next event lands in a later batch but
    gap-closes in a run that lumps the batches), and ``final`` maps
    each user to their last island, which a replay either closes by
    timeout (if the final watermark passed it) or withholds (append
    mode). Used by the kill-and-resume harness to assert ABSOLUTE
    correctness — round 8's watch postmortem showed relative
    (ref-vs-resumed) comparison alone cannot see a whole file being
    silently watermark-dropped in BOTH runs."""
    by_user: dict[int, list[int]] = {}
    for u, t in events:
        by_user.setdefault(u, []).append(t)
    non_final: set = set()
    final: dict = {}
    for u, tss in by_user.items():
        tss.sort()
        cur = None
        islands = []
        for t in tss:
            if cur is None or t - cur[1] > gap_us:
                if cur is not None:
                    islands.append(tuple(cur))
                cur = [t, t, 0]
            cur[1] = t
            cur[2] += 1
        islands.append(tuple(cur))
        for s, l, n in islands[:-1]:
            non_final.add((u, s, l, n))
        s, l, n = islands[-1]
        final[u] = (u, s, l, n)
    return non_final, final


def sessionize_stateful_stream(events: DataFrame) -> DataFrame:
    """The sessionize state machine as a reusable STREAMING DataFrame
    (watermark + applyInPandasWithState, append mode) over any
    event-time source — shared by the catalog query above and the
    checkpoint kill-and-resume fault test, so the recovery test
    exercises the exact production state machine, not a copy."""
    import pandas as pd

    from simplemapreduce_spark.functions.time import SESSION_GAP_MICROS

    gap_us = SESSION_GAP_MICROS

    def update(key, pdfs, state: GroupState):
        uid = key[0]
        if state.hasTimedOut:
            s, l, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [uid],
                    "start_us": [s],
                    "last_us": [l],
                    "n_events": [n],
                    "closed_by": ["timeout"],
                }
            )
            return
        # Sort and extract on the precomputed ts_us LONG, never the
        # pandas timestamp: Arrow hands applyInPandasWithState the
        # event time rendered in the SESSION timezone as a naive
        # datetime64, so int64-ing it would shift every epoch by the
        # session offset on a non-UTC driver (caught by the round-6
        # full-catalog TZ-invariance sweep). numpy sort of the epoch
        # longs only (round 11, guide §4.2): the state machine consumes
        # the timestamp MULTISET — the order of equal timestamps cannot
        # change which sessions form — so the former two-key pandas
        # sort_values(ts_us, event_id) paid a per-key DataFrame sort
        # for a tie-break the result provably ignores.
        import numpy as np

        arrs = [p["ts_us"].to_numpy() for p in pdfs if len(p)]
        if not arrs:
            return
        ts_sorted = np.sort(np.concatenate(arrs) if len(arrs) > 1 else arrs[0])
        closed, cur = sessionize_advance(
            list(state.get) if state.exists else None, ts_sorted.tolist(), gap_us
        )
        out = [(uid, s, l, n, "gap") for s, l, n in closed]
        # cur is non-None here (the empty-parts guard returned above and
        # df has rows), but the pure core's contract allows None for an
        # empty batch — keep the call-site honest rather than relying on
        # the upstream guard at a distance (ADVICE r7 #2).
        if cur is None:
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["user_id", "start_us", "last_us", "n_events", "closed_by"],
                )
            return
        state.update(tuple(cur))
        # Clamp the timeout to strictly-after the current watermark:
        # on an out-of-order source (multi-file replay, late-tolerant
        # ingest) the watermark can already exceed last_ts + gap, and
        # Spark rejects a timeout at-or-before the watermark. Clamping
        # fires the timeout on the next batch — the earliest legal
        # moment, same closure semantics. Single-batch replays (the
        # catalog query) never hit the clamp: their watermark is still
        # the epoch default while the only batch runs.
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max((cur[1] + gap_us) // 1000, wm_ms + 1))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "start_us", "last_us", "n_events", "closed_by"],
            )

    return (
        events.withWatermark("ts", "30 minutes")
        # TZ-exact epoch micros, extracted JVM-side from the LTZ event
        # time (unix_micros on LTZ is session-independent); the pandas
        # state fn reads ONLY this long column.
        .withColumn("ts_us", F.unix_micros("ts"))
        # Project to the key + event-time + the one column the state
        # function reads BEFORE the opaque stateful operator (guide
        # §4.1: Spark cannot see which columns the Python function
        # touches, so without this every event column — including the
        # wide props payload — is scanned, shuffled, and Arrow-shipped
        # per micro-batch for nothing).
        .select("user_id", "ts", "ts_us")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, _SESS_OUT, _SESS_STATE, "append", GroupStateTimeout.EventTimeTimeout
        )
    )
