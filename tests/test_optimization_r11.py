"""Focused tests for the round-11 optimization changes — each pins the
INTERNAL property the optimization introduced, beyond the oracle's
result check (which the driver gate and test_oracle_parity already run).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from simplemapreduce_spark import catalog

catalog.load_all()


def test_dataset_size_bytes_walks_directories(tmp_path):
    """ADVICE r10 #1: os.path.getsize on a directory returns the inode
    size without raising, so directory-backed datasets were mis-sized
    at ~4 KB. dataset_size_bytes must sum the files inside instead."""
    from simplemapreduce_spark.sources.tables import dataset_size_bytes

    d = tmp_path / "events.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 700_000)
    (d / "part-1.parquet").write_bytes(b"y" * 700_000)
    assert dataset_size_bytes(str(d)) == 1_400_000
    f = tmp_path / "one.parquet"
    f.write_bytes(b"z" * 1234)
    assert dataset_size_bytes(str(f)) == 1234
    assert dataset_size_bytes(str(tmp_path / "absent")) == 0


def test_stream_state_partitions_directory_backed(spark, sf_dir, tmp_path):
    """A directory-backed events dataset (the production layout) must
    fan out by its TOTAL file bytes, not the directory inode size:
    2.8 MB of parts -> ceil(2.8MB/512KB) = 6 partitions, not the floor."""
    from simplemapreduce_spark.streaming.windows import stream_state_partitions

    d = tmp_path / "events.parquet"
    d.mkdir()
    for i in range(4):
        (d / f"part-{i}.parquet").write_bytes(b"x" * 700_000)
    got = stream_state_partitions(spark, str(tmp_path))
    want = min(6, spark.sparkContext.defaultParallelism)
    assert got == want, (got, want)


def _executed_plan(df) -> str:
    import contextlib
    import io

    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_spearman_no_corpus_window_on_flag_only(spark, sf_dir):
    """VERDICT r10 #3: the rank windows must not partition the corpus
    by the 3-value l_returnflag alone (a 3-task sort at any scale).
    Every window ordered by a value column must also partition by its
    bucket; flag-only windows may remain ONLY over the tiny bucket-
    count table (ordered by a bucket column, never a value column)."""
    import re

    df = catalog.QUERIES["q_rank_corr_spearman"](spark, sf_dir)
    plan = _executed_plan(df)
    # Window argument lines render "...], [<partition cols>], [<order cols>...]".
    bad = re.findall(r"\], \[l_returnflag#\d+\], \[(?:q|p|rev)#\d+", plan)
    assert not bad, bad
    # The bucketed rank windows are present.
    assert re.search(r"\], \[l_returnflag#\d+, bq#\d+\], \[q#\d+", plan)


def test_spearman_bucketed_ranks_match_plain_windows(spark, sf_dir):
    """The two-level bucketed ranks must reproduce EXACTLY the result
    of the plain flag-partitioned rank windows they replaced."""
    from pyspark.sql import Window as W
    from simplemapreduce_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").alias("q"),
        F.col("l_extendedprice").alias("p"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )

    def r2(col):
        rk = F.rank().over(W.partitionBy("l_returnflag").orderBy(col))
        ties = F.count("*").over(
            W.partitionBy("l_returnflag").orderBy(col).rangeBetween(W.currentRow, W.currentRow)
        )
        return (2 * rk + ties - 1).cast("decimal(28,0)")

    r = base.select(
        "l_returnflag", r2("q").alias("rq"), r2("p").alias("rp"), r2("rev").alias("rr")
    )
    # The final rho is a deterministic function of the moment sums, so
    # compare at the query's own output grain: the production query vs
    # the plain-window reference pushed through the identical rho
    # formula.
    n = F.col("n").cast("double")

    def rho(sx, sy, sxx, syy, sxy):
        dx, dy = (F.col(c).cast("double") for c in (sx, sy))
        dxx, dyy, dxy = (F.col(c).cast("double") for c in (sxx, syy, sxy))
        return F.round(
            (n * dxy - dx * dy) / F.sqrt((n * dxx - dx * dx) * (n * dyy - dy * dy)), 6
        )

    ref_out = (
        r.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("rq").alias("sq"),
            F.sum("rp").alias("sp"),
            F.sum("rr").alias("sr"),
            F.sum(F.col("rq") * F.col("rq")).alias("sqq"),
            F.sum(F.col("rp") * F.col("rp")).alias("spp"),
            F.sum(F.col("rr") * F.col("rr")).alias("srr"),
            F.sum(F.col("rp") * F.col("rr")).alias("spr"),
            F.sum(F.col("rq") * F.col("rr")).alias("sqr"),
        )
        .select(
            "l_returnflag",
            F.col("n").cast("long").alias("n"),
            rho("sp", "sr", "spp", "srr", "spr").alias("rho_price_revenue"),
            rho("sq", "sr", "sqq", "srr", "sqr").alias("rho_qty_revenue"),
        )
    )
    got = {tuple(row) for row in catalog.QUERIES["q_rank_corr_spearman"](spark, sf_dir).collect()}
    assert got == {tuple(row) for row in ref_out.collect()}


def test_mmr_rerank_plan_collapsed(spark, sf_dir):
    """VERDICT r10 #4: the greedy-MMR plan must no longer be the
    145-exchange unrolled tree — the cogrouped greedy pass plans to a
    handful of exchanges (< 20 total, all kinds counted)."""
    df = catalog.QUERIES["q_sim_mmr_rerank"](spark, sf_dir)
    plan = _executed_plan(df)
    n_exchange = plan.count("Exchange")
    assert n_exchange < 20, f"{n_exchange} Exchange mentions in plan"
    assert "FlatMapCoGroupsInPandas" in plan


def test_with_global_order_matches_global_windows(spark, sf_dir):
    """functions/ranks.with_global_order must reproduce EXACTLY the
    single-partition global windows it replaces — running sums, global
    row_number, and the total count — on a tie-heavy ordering (50
    rows per distinct order value, so ties hammer the shared-bucket
    path), at a forced small bucket count so rows genuinely span
    buckets."""
    from pyspark.sql import Window as W

    from simplemapreduce_spark.functions.ranks import with_global_order

    df = spark.range(5000).select(
        F.col("id"),
        (F.col("id") % 100).alias("k"),
        (F.xxhash64("id") % 97).alias("w"),
    )
    got = with_global_order(
        df,
        "k",
        tie_cols=("id",),
        running_sums=(("w", "cum_w"),),
        row_number_col="rn",
        total_count_col="n",
        n_buckets=7,
    )
    wc = W.orderBy("k", "id").rowsBetween(W.unboundedPreceding, W.currentRow)
    full = W.orderBy("k", "id").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    want = df.select(
        "id", "k", "w",
        F.sum("w").over(wc).alias("cum_w"),
        F.row_number().over(W.orderBy("k", "id")).alias("rn"),
        F.count("*").over(full).alias("n"),
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    # Grouped variant: per-group running sum, row_number, group count
    # and group total must match the partition-by-group windows.
    g = df.withColumn("grp", (F.col("id") % 3).cast("int"))
    got_g = with_global_order(
        g,
        "k",
        tie_cols=("id",),
        running_sums=(("w", "cum_w"),),
        row_number_col="rn",
        total_count_col="n",
        total_sums=(("w", "tot_w"),),
        group_cols=("grp",),
        n_buckets=5,
    )
    wcg = W.partitionBy("grp").orderBy("k", "id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    want_g = g.select(
        "id", "k", "w", "grp",
        F.sum("w").over(wcg).alias("cum_w"),
        F.row_number().over(W.partitionBy("grp").orderBy("k", "id")).alias("rn"),
        F.count("*").over(W.partitionBy("grp")).alias("n"),
        F.sum("w").over(W.partitionBy("grp")).alias("tot_w"),
    )
    assert {tuple(r) for r in got_g.collect()} == {tuple(r) for r in want_g.collect()}


def test_with_global_order_null_running_sums(spark):
    """NULL sources in a running sum: the result must equal the
    single-partition window's — NULL only while the whole global prefix
    is NULL. ids 0..199 in 4 buckets of about 50: ``w`` is NULL for
    ids 0..69 (an all-NULL leading run covering bucket 0 and the start
    of bucket 1) and for ids 100..129 (an all-NULL prefix of bucket 2,
    whose rows must carry the earlier buckets' total)."""
    from pyspark.sql import Window as W

    from simplemapreduce_spark.functions.ranks import with_global_order

    df = spark.range(200).select(
        "id",
        F.when(
            (F.col("id") >= 70) & ~F.col("id").between(100, 129), F.col("id") % 7
        ).alias("w"),
    )
    got = with_global_order(df, "id", running_sums=(("w", "cum_w"),), n_buckets=4)
    wc = W.orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = df.select("id", "w", F.sum("w").over(wc).alias("cum_w"))
    got_rows, want_rows = sorted(got.collect()), sorted(want.collect())
    assert got_rows == want_rows
    assert want_rows[69]["cum_w"] is None and want_rows[110]["cum_w"] is not None


def test_binary_files_listing_conf_restored(spark, sf_dir):
    """q_source_binary_files scopes the file-discovery parallelism to
    its own read; the session conf must come back untouched (unset
    stays unset, an explicit value is restored)."""
    key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    before = spark.conf.get(key, None)
    n = catalog.QUERIES["q_source_binary_files"](spark, sf_dir).count()
    assert n > 0
    assert spark.conf.get(key, None) == before
    spark.conf.set(key, "777")
    try:
        catalog.QUERIES["q_source_binary_files"](spark, sf_dir).count()
        assert spark.conf.get(key, None) == "777"
    finally:
        spark.conf.unset(key)


def test_python_stream_shuffle_conf_restored(spark, sf_dir):
    """q_source_python_stream sizes its stateful aggregate's state
    partitions via the scoped conf guard; the session's shuffle
    partitions must be restored after the drain."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = catalog.QUERIES["q_source_python_stream"](spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    rows = {tuple(r) for r in out.collect()}
    want = {
        (k, 20, sum((i * i) % 97 for i in range(k, 100, 5)))
        for k in range(5)
    }
    assert rows == want


def test_cogroup_bucket_count_bounded_by_bytes(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r10 #2: bucket count must grow with input bytes so each
    bucket's in-memory pandas slice stays under the per-bucket byte
    target; the cores x 4 floor holds on tiny fixtures."""
    from simplemapreduce_spark.operators import cogroup as cg

    par = spark.sparkContext.defaultParallelism
    # Tiny fixture: floor rules.
    assert cg.cogroup_bucket_count(spark, sf_dir) == par * 4
    # Forced small target: the byte term must take over and match
    # ceil(input_bytes / target) for a synthetic directory layout.
    for name in ("events.parquet", "orders.parquet"):
        d = tmp_path / name
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x" * 1_000_000)
    monkeypatch.setattr(cg, "_COGROUP_BUCKET_TARGET_BYTES", 4096)
    got = cg.cogroup_bucket_count(spark, str(tmp_path))
    want = max(par * 4, -(-2_000_000 // 4096))
    assert got == want, (got, want)
    # And per-bucket input bytes are then bounded by the target
    # (uniform-hash assumption): total/buckets <= target.
    assert 2_000_000 / got <= 4096
