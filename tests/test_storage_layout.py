"""Storage-layout scale levers: partitioned writes with partition
pruning, and bucketed tables with shuffle-free co-located joins.

These are the two techniques that turn '100 TB scan' into 'read only
what the query needs' and 'join without moving the fact table' — both
must be visible in the physical plan, not just hoped for.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from simplemapreduce_spark.scratch import scratch_root
from simplemapreduce_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture(scope="module")
def partitioned_docs(spark, sf_dir):
    out = os.path.join(scratch_root(), "docs_by_lang")
    load_table(spark, sf_dir, "documents").write.mode("overwrite").partitionBy("lang").parquet(out)
    return out


def test_partition_pruning(spark, sf_dir, partitioned_docs):
    df = spark.read.parquet(partitioned_docs).filter(F.col("lang") == "en")
    plan = _plan(df)
    # The lang predicate must prune directories, not filter rows.
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:", 1)[1][:200]
    assert "lang" in seg
    want = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en").count()
    assert df.count() == want


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    # Explicit paths make these EXTERNAL tables, so the (static)
    # warehouse dir is irrelevant; only derby metadata lands in cwd.
    warehouse = os.path.join(scratch_root(), "warehouse")
    for name, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        tbl = f"b_{name}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            load_table(spark, sf_dir, name)
            .write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(warehouse, tbl))
            .saveAsTable(tbl)
        )
    return "b_orders", "b_customer"


def test_bucketed_join_is_shuffle_free(spark, sf_dir, bucketed_tables):
    b_orders, b_customer = bucketed_tables
    o = spark.table(b_orders)
    c = spark.table(b_customer)
    joined = o.join(c, o.o_custkey == c.c_custkey).groupBy("c_nationkey").count()
    # At fixture scale the dim would broadcast (which also avoids the
    # shuffle, but doesn't exercise bucketing) — disable broadcast so
    # the plan must rely on bucket co-location.
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(joined)
        # Co-located buckets: no Exchange between either scan and the join.
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning(o_custkey" not in plan
        assert "Exchange hashpartitioning(c_custkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    # And it computes the right answer.
    want = (
        load_table(spark, sf_dir, "orders")
        .join(load_table(spark, sf_dir, "customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .count()
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, want.collect()))


def test_minhash_signature_parquet_checkpoint(spark, sf_dir, tmp_path):
    """The production shape documented in q_dedup_minhash_lsh: the
    persisted hashed-shingle/signature table becomes a parquet
    checkpoint in a multi-stage pipeline. Round-trip the signature
    subtree through parquet and verify the banding built from the
    checkpoint is IDENTICAL to the banding built from the in-memory
    subtree — i.e., the persist is a pure materialization point whose
    storage backend can swap without touching semantics."""
    from simplemapreduce_spark.plans.dedup import (
        doc_hash_arrays,
        minhash_bands_from_hashes,
    )

    live = doc_hash_arrays(spark, sf_dir)
    ckpt_path = str(tmp_path / "minhash_signatures.parquet")
    live.write.mode("overwrite").parquet(ckpt_path)
    from_ckpt = spark.read.parquet(ckpt_path)

    def canon(bands):
        return sorted(
            (r["doc_id"], r["band"], r["band_hash"])
            for r in bands.collect()
        )

    assert canon(minhash_bands_from_hashes(from_ckpt)) == canon(
        minhash_bands_from_hashes(live)
    )


def test_gc_scratch_removes_stale_keeps_fresh(tmp_path):
    """session.gc_scratch: age-based sweep of /tmp/smr_scratch — stale
    round-trip artifacts are removed, fresh ones (a live concurrent
    session's) are never touched."""
    import os
    import time

    from simplemapreduce_spark.session import gc_scratch

    scratch = scratch_root()
    os.makedirs(scratch, exist_ok=True)
    stale = os.path.join(scratch, "unit_stale_dir")
    fresh = os.path.join(scratch, "unit_fresh_dir")
    os.makedirs(stale, exist_ok=True)
    os.makedirs(fresh, exist_ok=True)
    old = time.time() - 48 * 3600
    os.utime(stale, (old, old))
    try:
        removed = gc_scratch(max_age_hours=24.0)
        assert removed >= 1
        assert not os.path.exists(stale)
        assert os.path.exists(fresh)
    finally:
        for d in (stale, fresh):
            if os.path.exists(d):
                os.rmdir(d)


def test_zorder_prunes_on_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order clustering must make parquet min/max stats selective on
    BOTH dimensions: a box filter on either column alone should touch
    fewer files than under a single-column linear sort (which prunes
    perfectly on its sort column and not at all on the other)."""
    import pyarrow.parquet as pq

    from simplemapreduce_spark.plans.bucketing import normalize_to_bits, zorder_value

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    bounds = o.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).first()
    klo, khi, plo, phi = (float(v) for v in bounds)
    z = zorder_value(
        normalize_to_bits(F.col("o_custkey"), klo, khi),
        normalize_to_bits(F.col("o_totalprice"), plo, phi),
    )
    n_files = 16
    zdir = str(tmp_path / "zorder")
    ldir = str(tmp_path / "linear")
    (
        o.withColumn("z", z)
        .repartitionByRange(n_files, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(zdir)
    )
    (
        o.repartitionByRange(n_files, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    def candidate_files(d, column, lo, hi):
        hits = 0
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            overlaps = False
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == column and col.statistics:
                        st = col.statistics
                        if st.min <= hi and st.max >= lo:
                            overlaps = True
            if overlaps:
                hits += 1
        return hits

    # Box on the NON-sort dimension of the linear layout: an eighth of
    # the price range. Linear-by-custkey cannot prune it at all.
    pwidth = (phi - plo) / 8
    z_price = candidate_files(zdir, "o_totalprice", plo, plo + pwidth)
    lin_price = candidate_files(ldir, "o_totalprice", plo, plo + pwidth)
    assert lin_price == n_files  # linear layout: every file spans all prices
    assert z_price < lin_price, (z_price, lin_price)

    # The Z layout still prunes on the other dimension too.
    kwidth = (khi - klo) / 8
    z_key = candidate_files(zdir, "o_custkey", klo, klo + kwidth)
    assert z_key < n_files, z_key
