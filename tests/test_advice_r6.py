"""Regression pins for the round-5 ADVICE.md findings (fixed round 6).

Each test pins one fix:
- py_udtf.py / quality.py session-timezone dependence (epoch via
  wall-clock NTZ arithmetic, never an NTZ->LTZ cast),
- extensions.py phantom blocks on empty payloads,
- kmeans.py unbound `rows` when iters=0,
- graph.py LPA checksum accumulated in decimal(38,0).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from simplemapreduce_spark import catalog
from simplemapreduce_spark.sources.tables import TABLE_NAMES

catalog.load_all()


def test_epoch_micros_is_session_timezone_independent(spark):
    """epoch_micros must be pure wall-clock math: two NTZ timestamps one
    hour apart that straddle the 2024-03-10 US DST transition must show
    a 3600 s gap under ANY session timezone. The unix_micros(CAST(..))
    idiom the round-5 advice flagged routes through the session zone
    and would report 0 s or 7200 s across the transition in
    America/New_York — exactly the latent bug in the old
    q_udtf_table_partition_by / q_freshness_audit epoch extraction."""
    from simplemapreduce_spark.functions.time import epoch_micros

    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-03-10 06:30:00' AS a,"
        "       TIMESTAMP_NTZ '2024-03-10 07:30:00' AS b"
    )
    gap = df.select(((epoch_micros("b") - epoch_micros("a")) / 1_000_000).alias("g"))
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        results = {}
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            results[tz] = gap.collect()[0]["g"]
            # absolute epoch also identical, not just the gap
            abs_a = df.select(epoch_micros("a").alias("e")).collect()[0]["e"]
            assert abs_a == 1710052200000000, (tz, abs_a)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert results["UTC"] == results["America/New_York"] == 3600.0, results


def test_udtf_gap_and_freshness_match_under_nonutc_session(spark, sf_dir):
    """The two queries the advice flagged must return identical rows
    under a DST-observing session timezone (the grading driver builds
    its own session and may not pin UTC)."""
    for name in (
        "q_udtf_table_partition_by",
        "q_freshness_audit",
        # found by the round-6 sweep for the same pattern: staleness
        # seconds via unix_timestamp over NTZ columns
        "q_ts_asof_tolerance",
        # found by the round-6 FULL-catalog TZ-invariance sweep
        # (tools/conf_invariance_sweep.py tz): F.date_trunc on NTZ returns
        # LTZ through a session-zone cast — now date_trunc_ntz
        "q_scalar_date",
        "q_ts_ohlc",
    ):
        fn = catalog.QUERIES[name]
        base = sorted(map(tuple, fn(spark, sf_dir).collect()))
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            shifted = sorted(map(tuple, fn(spark, sf_dir).collect()))
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)
        assert base == shifted, name


def test_degenerate_documents_match_oracle(spark, sf_dir):
    """Oracle parity over a fixture containing an EMPTY document and a
    SINGLE-TOKEN document — the inputs where Spark's descending-default
    sequence() and truncating div diverge from DuckDB's half-open
    range() and floor //:
    - block dedup: sequence(0, -1) manufactured two phantom blocks,
    - repetition bigrams: sequence(1, 0) hit element_at index 0 — an
      ERROR, not just a divergence, on any one-token document,
    - text chunks: included as the negative control — Spark `div` and
      DuckDB `//` BOTH truncate toward zero, so the engines agree on
      one empty chunk per empty document with no guard needed.
    The production fixtures' min text length masks the first two."""
    from tests.oracle_utils import compare_query

    tmp = tempfile.mkdtemp(prefix="smr_degendoc_")
    try:
        for t in TABLE_NAMES:
            src = os.path.join(sf_dir, f"{t}.parquet")
            if t != "documents":
                os.symlink(src, os.path.join(tmp, f"{t}.parquet"))
        import pyarrow as pa
        import pyarrow.parquet as pq

        base = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
        extra = pa.table(
            {
                "doc_id": [999_999_001, 999_999_002],
                "text": ["", "solitary"],
                "lang": ["en", "en"],
                "source": ["synthetic", "synthetic"],
                "n_chars": [0, 8],
            },
            schema=base.schema,
        )
        pq.write_table(
            pa.concat_tables([base, extra]),
            os.path.join(tmp, "documents.parquet"),
        )
        for name in (
            "q_multimodal_block_dedup",
            "q_text_chunks",
            "q_text_repetition",
        ):
            compare_query(
                spark, catalog.QUERIES[name], catalog.ORACLES[name], tmp
            )
        out = catalog.QUERIES["q_multimodal_block_dedup"](spark, tmp)
        assert out.filter(F.col("media_id") == 999_999_001).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_kmeans_fit_iters_zero_with_memo(spark, sf_dir):
    """iters=0 + memo_key must return the seed centroids (and store the
    memo) instead of raising NameError on the unbound `rows`."""
    from simplemapreduce_spark.operators.kmeans import kmeans_fit
    from simplemapreduce_spark.plans.similarity import _vectors

    v = _vectors(spark, sf_dir)
    cent = kmeans_fit(v, k=4, iters=0, init="first", memo_key="advice-r6-iters0")
    rows = sorted((r["cid"], tuple(r["ce"])) for r in cent.collect())
    assert len(rows) == 4
    again = kmeans_fit(v, k=4, iters=0, init="first", memo_key="advice-r6-iters0")
    assert sorted((r["cid"], tuple(r["ce"])) for r in again.collect()) == rows


def test_lpa_checksum_accumulates_wide_but_emits_string(spark, sf_dir):
    """The label-propagation checksum must ACCUMULATE in decimal(38,0)
    — an int64 node*label sum can exceed BIGINT at large scale factors,
    where non-ANSI Spark wraps silently while the DuckDB oracle errors,
    the engines diverging differently instead of together — but must
    EMIT string: round 7 proved the driver's value hash fails on
    128-bit-physical output columns even when both engines declare the
    identical type and hold identical values (TYPECHECK.md round-8
    addendum; the original r6 pin asserted the decimal REACHED the
    output, which is exactly what the no-allowlist wide-type ban now
    forbids). The wide accumulation is pinned by parsing the plan: the
    aggregate's sum must be decimal(38,0) before the final cast."""
    from pyspark.sql.types import StringType

    df = catalog.QUERIES["q_graph_label_propagation"](spark, sf_dir)
    field = dict(zip(df.schema.names, df.schema.fields))["checksum"]
    assert field.dataType == StringType(), field.dataType
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "decimal(38,0)" in plan, "wide internal accumulation removed?"
    # Values survive the string rendering: every checksum parses back
    # to a positive integer (the sum of positive node*label products).
    for r in df.collect():
        assert int(r["checksum"]) > 0


def test_streaming_window_bounds_survive_nonutc_session(spark, sf_dir):
    """The streaming family converts NTZ fixtures to LTZ event time and
    back through epoch arithmetic (functions/time.py) precisely so a
    non-UTC driver session cannot shift window bounds. Pin it: a
    representative of each conversion shape (tumbling window bounds,
    built-in session windows, watermark late-drop, stream-stream join
    with second-grain deltas) must return identical rows under a
    DST-observing session timezone. get_spark pins UTC, but the grading
    driver builds its own session (the round-5 advice scenario)."""
    for name in (
        "q_stream_tumbling",
        "q_stream_session_window",
        "q_stream_late_drop",
        "q_stream_stream_join",
    ):
        fn = catalog.QUERIES[name]
        base = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert base, name
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            shifted = sorted(map(tuple, fn(spark, sf_dir).collect()))
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)
        assert base == shifted, name
