"""Pins for the round-7 ADVICE closures (one test per advice item, the
same discipline as tests/test_advice_r6.py): each fix stays fixed.

1. kmeans.py iters=0 — no unconditional collect/recreate of the init
   centroids; farthest-init at iters=0 returns the init table as-is and
   the memo path still materializes exactly once.
2. modern_sql.py q_approx_top_k_lifecycle — the single-partition layout
   for the sketch combine comes from repartition(1) (a narrow extra
   shuffle of |days| rows), NOT coalesce(1), which would propagate into
   the per-day aggregation and serialize it.
3. stats.py q_events_burstiness — the hourly-count square-sum
   accumulates in decimal(38,0), not int64 (silent-wrap vs the DuckDB
   oracle's HUGEINT at large scale factors).
"""

from __future__ import annotations

from simplemapreduce_spark import catalog

catalog.load_all()


def test_kmeans_iters0_farthest_returns_init_without_extra_action(spark, sf_dir):
    from simplemapreduce_spark.operators.kmeans import farthest_first_init, kmeans_fit
    from simplemapreduce_spark.plans.similarity import _vectors

    v = _vectors(spark, sf_dir)
    got = kmeans_fit(v, k=3, iters=0)
    want = farthest_first_init(v, 3)
    # identical literal plans => no re-collect/re-materialize happened
    # (farthest_first_init returns a createDataFrame literal; the old
    # code wrapped it in one more collect+createDataFrame round-trip).
    assert sorted(r["cid"] for r in got.collect()) == sorted(
        r["cid"] for r in want.collect()
    )
    assert got.schema == want.schema


def test_kmeans_iters0_memo_still_materializes(spark, sf_dir):
    import os

    from simplemapreduce_spark import cache
    from simplemapreduce_spark.operators.kmeans import kmeans_fit
    from simplemapreduce_spark.plans.similarity import _vectors

    v = _vectors(spark, sf_dir)
    key = "advice-r7-iters0-memo"
    ident = (spark.sparkContext.applicationId, key, os.path.abspath(sf_dir))
    got = cache.memo_build(spark, key, sf_dir, lambda: kmeans_fit(v, k=2, iters=0))
    assert cache._MEMO[ident][1] is got, "memo must be stored even when iters=0"
    plan = got._jdf.queryExecution().analyzed().toString().strip()
    assert len(plan.splitlines()) == 1, f"centroids must be one leaf of driver rows: {plan}"
    assert got.count() == 2
    with cache._LOCK:
        cache._MEMO.pop(ident, None)


def test_approx_topk_combine_layout_is_repartition_not_coalesce(spark, sf_dir):
    df = catalog.QUERIES["q_approx_top_k_lifecycle"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" not in plan, (
        "coalesce(1) propagates into the per-day sketch aggregation and "
        "serializes it; the empty-partition guard must be repartition(1)"
    )
    # the guard itself must still be there: a single-partition exchange
    # feeding the global combine.
    assert "SinglePartition" in plan or "REPARTITION" in plan


def test_burstiness_square_sum_accumulates_in_decimal(spark, sf_dir):
    df = catalog.QUERIES["q_events_burstiness"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "decimal(38,0)" in plan, (
        "sxx = SUM(n*n) must accumulate in decimal(38,0); int64 wraps "
        "silently where the DuckDB oracle's HUGEINT keeps going"
    )
