"""Genuinely incremental streaming: replay the events fixture as
MULTIPLE micro-batches (maxFilesPerTrigger=1 over a multi-file copy)
and assert the stateful operator's final state still equals the batch
answer — i.e. state really carries across batches, not just within one.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from simplemapreduce_spark.scratch import scratch_root
from simplemapreduce_spark.sources.tables import load_table

N_FILES = 4


@pytest.fixture(scope="module")
def multi_file_events(spark, sf_dir):
    out = os.path.join(scratch_root(), "events_multifile")
    (
        load_table(spark, sf_dir, "events")
        .repartition(N_FILES)
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def test_stateful_counts_across_microbatches(spark, sf_dir, multi_file_events):
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from simplemapreduce_spark.streaming.windows import run_stream_to_table

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def update(key, pdfs, state: GroupState):
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    stream = (
        spark.readStream.schema(load_table(spark, sf_dir, "events").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi_file_events)
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    out = run_stream_to_table(updates, "append", sf_dir)

    # More than one emission per user proves multiple micro-batches ran.
    emissions = out.groupBy("user_id").count()
    assert emissions.filter(F.col("count") > 1).count() > 0

    final = (
        out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    )
    expected = (
        load_table(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n_events"))
    )
    assert sorted(final.collect()) == sorted(expected.collect())


def test_streaming_tumbling_matches_batch(spark, sf_dir, multi_file_events):
    """Windowed agg over a multi-batch stream (complete mode) equals
    the batch aggregation of the same data."""
    from simplemapreduce_spark.functions.time import event_time_to_ntz, ntz_as_event_time
    from simplemapreduce_spark.streaming.windows import run_stream_to_table

    stream = (
        spark.readStream.schema(load_table(spark, sf_dir, "events").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi_file_events)
        .withColumn("ts", ntz_as_event_time("ts"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    # Convert the LTZ window bound back to NTZ (what the production
    # queries do) so the comparison against the NTZ batch side is
    # OS-timezone independent.
    got = run_stream_to_table(agg, "complete", sf_dir).select(
        event_time_to_ntz(F.col("w.start")).alias("ws"), "event_type", "n"
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_checkpoint_restart_resumes_exactly_once(spark, sf_dir, multi_file_events, tmp_path):
    """Kill a checkpointed stream after the first micro-batch, restart
    it with the same checkpoint, and the final counts still equal the
    batch answer — source offsets committed to the checkpoint are not
    re-read (exactly-once progress), uncommitted files are. This is
    the recovery contract the reference implements with task
    re-execution on worker failure (common_rpc.go:84-136), here
    supplied by checkpointed offset tracking."""
    ckpt = str(tmp_path / "ckpt")
    out_name = "tws_restart_counts"

    def start():
        return (
            spark.readStream.schema(load_table(spark, sf_dir, "events").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(multi_file_events)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .writeStream.format("memory")
            .queryName(out_name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    q = start()
    # Let at least one micro-batch commit, then hard-stop mid-stream.
    deadline = time.time() + 60
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    q.stop()
    committed = sum(p["numInputRows"] for p in q.recentProgress)
    total = load_table(spark, sf_dir, "events").count()

    # Restart from the same checkpoint with availableNow to drain.
    q2 = (
        spark.readStream.schema(load_table(spark, sf_dir, "events").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi_file_events)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName(out_name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    q2.stop()
    resumed = sum(p["numInputRows"] for p in q2.recentProgress)
    # No re-read of committed offsets. recentProgress can lag the commit
    # log on either side of the kill (a batch may commit between the
    # progress snapshot and stop()), so the observed `committed` is a
    # lower bound on what the checkpoint recorded — making `resumed`
    # at most the complement, never more. Strict equality would race.
    assert resumed <= total - committed
    # The restart must not start from scratch unless the first run
    # genuinely drained everything before the kill.
    assert resumed < total or committed == 0

    got = {(r.event_type, r.n) for r in spark.table(out_name).collect()}
    want = {
        (r.event_type, r.n)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_late_drop_actually_drops_and_keeps(spark, sf_dir):
    """Guard against the vacuous-probe failure mode (ADVICE r2): the
    late-data query must genuinely drop some rows (result < full
    window counts) while retaining the on-time batch (>= even rows
    minus the final still-open windows)."""
    from simplemapreduce_spark.streaming.windows import q_stream_late_drop

    e = load_table(spark, sf_dir, "events")
    n_total = e.count()
    n_even = e.filter(F.col("event_id") % 2 == 0).count()
    got = q_stream_late_drop(spark, sf_dir).agg(F.sum("n").alias("s")).first()["s"]
    assert got < n_total          # late odd rows were dropped
    assert got >= int(0.9 * n_even)  # the on-time half survived


def test_sessionize_checkpoint_kill_and_resume(spark, sf_dir, tmp_path):
    """Kill the stateful sessionizer mid-replay and restart it from the
    checkpoint: the final output must equal an uninterrupted run's — i.e.
    BOTH the source offsets AND the applyInPandasWithState per-user
    session state (open sessions, event-time timeout timestamps, the
    watermark) recover from the state store. This is the fault mode the
    offset-only restart test above cannot see: a stateful operator that
    lost its state would re-open sessions at the wrong start timestamp
    or double-emit gap closures. The sink is the transactional FILE
    sink (memory sink cannot recover from a checkpoint), so the
    comparison is exact — the metadata log dedups any batch that was
    written pre-kill and replayed post-kill."""
    from simplemapreduce_spark.functions.time import ntz_as_event_time
    from simplemapreduce_spark.streaming.stateful import sessionize_stateful_stream

    ev = load_table(spark, sf_dir, "events")
    schema = ev.schema
    # TIME-RANGED files (a real log replay arrives roughly in order):
    # each micro-batch advances the watermark by one time slice, so
    # sessions genuinely open, extend, gap-close and timeout-close
    # ACROSS batches — the state the kill must not lose. The round-
    # robin multi_file_events fixture would instead put the global max
    # ts in batch 1 and watermark-drop nearly everything after.
    ranged = os.path.join(scratch_root(), "events_timeranged")
    ev.repartitionByRange(N_FILES, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(ranged)
    # Stamp ascending mtimes so the file stream replays in RANGE order:
    # FileStreamSource orders by modification time (= task completion
    # order after a parallel write — nondeterministic). Without this,
    # the watermark silently dropped whole out-of-order files in BOTH
    # runs, and a kill+resume could repack the catch-up batch so one
    # run admitted a file the other dropped — the round-7 "impossible
    # session" suite failure, root-caused in round 8 (BASELINE.md
    # postmortem).
    from simplemapreduce_spark.streaming.replay import (
        duplicate_keys,
        islands_expectation,
        order_ranged_mtimes,
        session_keys,
    )

    order_ranged_mtimes(ranged)

    def source():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ranged)
            .withColumn("ts", ntz_as_event_time("ts"))
        )

    def start(out, ckpt, **trigger):
        return (
            sessionize_stateful_stream(source())
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(**trigger)
            .start()
        )

    def rows(out):
        # A LIST, not a set: a same-label double emission must stay
        # visible to duplicate_keys (a set collapses the two identical
        # rows before the gate can look — round-8 review).
        return [
            (r.user_id, r.start_us, r.last_us, r.n_events, r.closed_by)
            for r in spark.read.parquet(out).collect()
        ]

    # Uninterrupted reference over the SAME source and batching (same
    # per-batch watermark progression, hence identical late-drop and
    # timeout decisions).
    ref_out = str(tmp_path / "out_ref")
    ref_q = start(ref_out, str(tmp_path / "ckpt_ref"), availableNow=True)
    assert ref_q.awaitTermination(300)
    ref_q.stop()
    ref = rows(ref_out)
    assert ref, "reference run produced no sessions; fixture changed?"

    # ABSOLUTE correctness gate (round-8 postmortem): the reference
    # must equal the batch gaps-and-islands decomposition. Relative
    # ref-vs-resumed comparison alone cannot see a whole file being
    # watermark-dropped in BOTH runs.
    from simplemapreduce_spark.functions.time import SESSION_GAP_MICROS

    non_final, finals = islands_expectation(ev, SESSION_GAP_MICROS)
    keys = session_keys
    ref_keys = keys(ref)
    assert not duplicate_keys(ref), sorted(duplicate_keys(ref))[:5]
    assert not (non_final - ref_keys), (
        f"reference silently dropped {len(non_final - ref_keys)} sessions "
        f"(out-of-order replay readmitted?): {sorted(non_final - ref_keys)[:5]}"
    )
    assert not (ref_keys - non_final - finals), (
        f"reference invented sessions: "
        f"{sorted(ref_keys - non_final - finals)[:5]}"
    )

    # Run 1: kill after the first micro-batch commits, mid-replay.
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q1 = start(out, ckpt, processingTime="200 milliseconds")
    deadline = time.time() + 120
    while not q1.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    q1.stop()
    batches1 = len(q1.recentProgress)

    # Run 2: resume from the checkpoint and drain what remains.
    q2 = start(out, ckpt, availableNow=True)
    assert q2.awaitTermination(300)
    q2.stop()
    resumed_rows = sum(p["numInputRows"] for p in q2.recentProgress)

    got = rows(out)
    # Compare SESSION KEYS (user, start, last, n) — the data semantics.
    # closed_by is deliberately excluded: gap-vs-timeout for the same
    # session is a batch-composition artifact (a resume that lumps the
    # remaining files into one catch-up batch closes by gap what the
    # per-file reference closes by timeout), not a correctness
    # difference. FINAL islands are closed-or-withheld per run (a kill
    # after the last file leaves the restart with no new data, so the
    # no-data batch that flushes overdue timeouts never runs), so the
    # strict check is: all non-final islands present, nothing invented,
    # and no key emitted twice within the run (double-emission under
    # two closure labels is the fault mode this test documents — the
    # key-set compare alone cannot see it, round-8 review). The
    # round-7 "impossible session" suite failure was root-caused in
    # round 8 to the unordered fixture (see the order_ranged_mtimes
    # note above); with the ordered fixture this gate is absolute.
    got_keys = keys(got)
    if (
        (non_final - got_keys)
        or (got_keys - non_final - finals)
        or duplicate_keys(got)
    ):
        # Forensics, then fail hard (round-7 watch discipline).
        def _prog(q):
            out_p = []
            for p in q.recentProgress:
                row = {}
                for k in ("batchId", "numInputRows", "eventTime"):
                    try:
                        row[k] = p[k]
                    except Exception:  # noqa: BLE001 — field absent
                        pass
                out_p.append(row)
            return out_p

        def _ls(d):
            hits = []
            for root, _dirs, files in os.walk(d):
                for f in sorted(files):
                    rel = os.path.relpath(os.path.join(root, f), d)
                    hits.append(rel)
            return hits

        lines = [
            f"batches1={batches1} resumed_rows={resumed_rows}",
            f"run1 progress: {_prog(q1)}",
            f"run2 progress: {_prog(q2)}",
            f"ckpt offsets/commits: {_ls(os.path.join(ckpt, 'offsets'))} "
            f"{_ls(os.path.join(ckpt, 'commits'))}",
            f"extra in resumed output ({len(set(got) - set(ref))}):",
            *(f"  + {r}" for r in sorted(set(got) - set(ref))),
            f"missing from resumed output ({len(set(ref) - set(got))}):",
            *(f"  - {r}" for r in sorted(set(ref) - set(got))),
        ]
        raise AssertionError(
            "kill-and-resume output != uninterrupted reference\n"
            + "\n".join(lines)
        )
    # The kill must have been mid-replay for the resume to be
    # meaningful: run 2 consumed input unless run 1 genuinely drained
    # every file before the stop landed.
    assert resumed_rows > 0 or batches1 >= N_FILES


def test_sessionize_late_event_extends_envelope_not_shrinks_last(spark, tmp_path):
    """A within-watermark late event OLDER than the open session's max
    must extend the session span backward (min/max envelope), never
    move last_us backward: batch 1 carries user 1 at 10:00 and 10:05,
    batch 2 opens with 09:50 (admitted — the watermark is 09:35) and
    then 12:00 (gap-closes the session). The envelope row is
    (09:50, 10:05, n=3); the pre-fix last-write-wins update instead
    emitted the impossible (10:00, 09:50, 3) with start > last. Also
    asserts the start<=last invariant globally."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from simplemapreduce_spark.streaming.stateful import sessionize_stateful_stream

    base_us = 1_709_287_200_000_000  # 2024-03-01T10:00:00Z
    minute = 60 * 1_000_000

    def write_file(path, rows, mtime):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    write_file(
        str(src / "b1.parquet"),
        [(1, base_us, 1), (2, base_us + 5 * minute, 1)],
        now - 60,
    )
    write_file(
        str(src / "b2.parquet"),
        [(3, base_us - 10 * minute, 1), (4, base_us + 120 * minute, 1)],
        now,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    from simplemapreduce_spark.functions.time import ntz_as_event_time

    sess = sessionize_stateful_stream(stream.withColumn("ts", ntz_as_event_time("ts")))
    out = str(tmp_path / "out")
    q = (
        sess.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    q.stop()

    rows = spark.read.parquet(out).collect()
    assert all(r.start_us <= r.last_us for r in rows), rows
    got = {(r.user_id, r.start_us, r.last_us, r.n_events, r.closed_by) for r in rows}
    assert got == {(1, base_us - 10 * minute, base_us + 5 * minute, 3, "gap")}, got


def test_drains_leave_no_sink_view(spark, sf_dir):
    """A memory-sink drain drops its temporary view once the result
    frame has resolved, so repeated drains leave no sink table in the
    session, and each still returns the same rows."""
    from simplemapreduce_spark.streaming.windows import (
        q_source_python_stream,
        q_stream_tumbling,
    )

    runs = [sorted(map(tuple, q_stream_tumbling(spark, sf_dir).collect())) for _ in range(3)]
    counter = sorted(map(tuple, q_source_python_stream(spark, sf_dir).collect()))
    assert runs[0] and runs[0] == runs[1] == runs[2]
    assert [r[0] for r in counter] == [0, 1, 2, 3, 4]
    sinks = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("smr_stream_", "smr_pyds_stream_"))
    ]
    assert sinks == []
