"""Quality/governance operators — the non-oracle halves:

* compaction: the plan (q_compaction_plan) must agree with what an
  actual partitioned write under maxRecordsPerFile produces;
* audit non-vacuity: every rule counts >0 violations at test scale
  (a clean-data audit would verify the counting logic vacuously).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from simplemapreduce_spark import catalog
from simplemapreduce_spark.plans.quality import TARGET_ROWS_PER_FILE
from simplemapreduce_spark.scratch import MARKER, scratch_dir
from simplemapreduce_spark.sources.tables import load_table

catalog.load_all()


def test_compaction_plan_matches_write(spark, sf_dir):
    """The write half of compaction: repartition to one task per output
    partition, write with maxRecordsPerFile = target, and the produced
    file counts equal the plan's n_files with all rows preserved."""
    plan = {
        (r["l_returnflag"], r["l_linestatus"]): (r["n_rows"], r["n_files"])
        for r in catalog.QUERIES["q_compaction_plan"](spark, sf_dir).collect()
    }
    out = scratch_dir("compaction", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem")
    (
        li.repartition("l_returnflag", "l_linestatus")
        .write.option("maxRecordsPerFile", TARGET_ROWS_PER_FILE)
        .partitionBy("l_returnflag", "l_linestatus")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    got = {
        (r["l_returnflag"], r["l_linestatus"]): (r["rows"], r["files"])
        for r in back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("rows"),
            F.count_distinct(F.col("_metadata.file_path")).alias("files"),
        )
        .collect()
    }
    assert set(got) == set(plan)
    for key, (rows, files) in got.items():
        plan_rows, plan_files = plan[key]
        assert rows == plan_rows, key
        # One task per partition (repartition on the partition columns)
        # means maxRecordsPerFile yields exactly ceil(rows/target)
        # files — the plan's number. Hash collisions can co-locate two
        # partitions in one task; that doesn't change the file count,
        # which is per output-partition directory.
        assert files == plan_files, key
    shutil.rmtree(out, ignore_errors=True)


def test_audit_rules_nonvacuous(spark, sf_dir):
    rows = {
        r["rule"]: r["violations"]
        for r in catalog.QUERIES["q_constraint_audit"](spark, sf_dir).collect()
    }
    assert set(rows) == {
        "status_domain",
        "price_positive",
        "orderdate_not_null",
        "pk_unique",
        "fk_lineitem_order_exists",
    }
    for rule, n in rows.items():
        assert n > 0, f"rule {rule} verified vacuously (0 violations)"


def test_snapshot_diff_all_classes(spark, sf_dir):
    classes = {
        r["change"]
        for r in catalog.QUERIES["q_snapshot_diff"](spark, sf_dir).collect()
    }
    assert classes == {"insert", "update", "delete"}


def test_minhash_ckpt_stamp_invalidation(spark, sf_dir):
    """The parquet-checkpointed signature table rebuilds when the stamp
    marker inside its staged directory goes stale, and the rebuilt
    results equal the cache-backed variant's."""
    marker = os.path.join(scratch_dir("minhash_sig", sf_dir), MARKER)
    ckpt = catalog.QUERIES["q_dedup_minhash_lsh_ckpt"]
    ckpt(spark, sf_dir).count()
    with open(marker) as f:
        real_stamp = f.read()
    with open(marker, "w") as f:
        f.write("stale")
    rows_ckpt = sorted(map(tuple, ckpt(spark, sf_dir).collect()))
    with open(marker) as f:
        assert f.read() == real_stamp, "stale checkpoint not rebuilt"
    rows_cache = sorted(
        map(tuple, catalog.QUERIES["q_dedup_minhash_lsh"](spark, sf_dir).collect())
    )
    assert rows_ckpt == rows_cache


def test_perplexity_buckets_balanced(spark, sf_dir):
    counts = {
        r["ppl_bucket"]: r["n"]
        for r in catalog.QUERIES["q_text_perplexity_buckets"](spark, sf_dir)
        .groupBy("ppl_bucket")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(counts) == {"head", "middle", "tail"}
    assert max(counts.values()) - min(counts.values()) <= 1


def test_vocab_coverage_nonvacuous(spark, sf_dir):
    """Fixture-regeneration guard: the top-K vocabulary must NOT cover
    the whole fixture vocabulary, or the OOV counting path verifies
    vacuously (every n_oov = 0)."""
    rows = catalog.QUERIES["q_text_vocab_coverage"](spark, sf_dir).collect()
    assert any(r["n_oov"] > 0 for r in rows), (
        "top-K vocab covers every token — shrink VOCAB_K for the new fixture"
    )
    assert any(r["n_oov"] == 0 or r["n_oov"] < r["n_tokens"] for r in rows)


def test_line_dedup_nonvacuous(spark, sf_dir):
    """Both line-dedup variants must actually remove lines at test
    scale (duplicate and boilerplate lines exist in the fixture)."""
    for name in ("q_dedup_lines", "q_dedup_lines_frequency"):
        rows = catalog.QUERIES[name](spark, sf_dir).collect()
        removed = sum(r["n_lines"] - r["n_lines_kept"] for r in rows)
        assert removed > 0, f"{name} removed nothing — vacuous verification"


def test_merge_delete_branches_nonvacuous(spark, sf_dir):
    """All three surviving MERGE branches (kept / updated / inserted)
    must each produce rows, and tombstoned matches must actually
    delete: the total must be strictly below the distinct
    (customer, priority) universe. Pins the round-4 de-vacuity fix —
    the old pre-fixture cutoff made the base snapshot empty and the
    matched path vacuously green."""
    rows = catalog.QUERIES["q_merge_delete"](spark, sf_dir).collect()
    actions = {r["action"] for r in rows}
    assert actions == {"kept", "updated", "inserted"}, actions
    universe = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderpriority")
        .distinct()
        .count()
    )
    assert len(rows) < universe  # some matched pairs were deleted


def test_decontam_minhash_flag_both_outcomes(spark, sf_dir):
    """The fuzzy-contamination flag must materialize BOTH truth values
    on the fixture (threshold sits inside the candidate jaccard band);
    an all-true column would hide a reversed comparison."""
    rows = catalog.QUERIES["q_decontam_minhash"](spark, sf_dir).collect()
    flags = {r["contaminated_fuzzy"] for r in rows}
    assert flags == {True, False}, flags


# Accuracy-witness columns that are CONSTANT BY DESIGN: they assert a
# quality bound (sketch error within tolerance), so all-True is the
# passing state, and honest measurements whose fixture outcome is
# one-sided. Everything else boolean must show both truth values.
_CONSTANT_BOOL_ALLOWLIST = {
    ("q_agg_hll_merge", "merged_within_5pct"),
    ("q_approx_count_distinct", "parts_within_5pct"),
    ("q_approx_count_distinct", "suppliers_within_5pct"),
    ("q_stream_global_agg", "users_within_5pct"),
    ("q_ts_rollup_distinct", "merged_within_5pct"),
    ("q_sim_matryoshka_eval", "agree"),  # truncation honestly destroys top-1
    # varies only at sf0.01+ (documented in the query docstring): the
    # sf0.001 corpus never reaches the $400 tail.
    ("q_agg_filter_clause", "any_above_400"),
}


def test_no_vacuous_boolean_outputs(spark, sf_dir):
    """Round-4 audit, pinned: every boolean output column must show
    BOTH truth values on the fixture (an all-true column cannot
    distinguish a reversed comparison), and no query may return an
    empty result (0 = 0 passes the oracle gate trivially). Witness
    columns whose constancy IS the assertion are allowlisted."""
    for name, fn in sorted(catalog.QUERIES.items()):
        if name.startswith("q_stream") or name.startswith("mr_"):
            continue  # stream drains are covered per-query; mr sinks write files
        df = fn(spark, sf_dir)
        rows = df.collect()
        assert rows, f"{name}: empty result set"
        for c, t in df.dtypes:
            if t == "boolean" and (name, c) not in _CONSTANT_BOOL_ALLOWLIST:
                vals = {r[c] for r in rows}
                assert len(vals) == 2, f"{name}.{c}: constant {vals}"


def test_round5_ops_nonvacuous(spark, sf_dir):
    """Round-5 additions, non-vacuity pinned: each query's interesting
    branch must actually fire on the fixture (the 'vacuously green
    stage' trap — a result that would look identical if the operator
    were broken).

    - LPA: labels must keep CHANGING across rounds (strictly fewer
      communities, growing largest community) — a fixed-point-at-
      round-0 graph would never exercise the majority vote.
    - BPE: every merge must strictly shrink the corpus symbol count
      (a merge that never matches leaves it flat) and grow the symbol
      vocabulary.
    - Classifier: both keep and drop classes must be populated.
    - IVF incremental: every cell must receive BOTH base and delta
      vectors (an empty-delta merge never tests the outer join).
    - Block dedup: shared fractions must be non-constant, with shared
      blocks present (all-zero would pass with a broken join key).
    """
    lpa = {r["stage"]: r for r in catalog.QUERIES["q_graph_label_propagation"](spark, sf_dir).collect()}
    stages = [lpa[f"round_{i}"] for i in range(4)]
    for a, b in zip(stages, stages[1:]):
        assert b["n_communities"] < a["n_communities"], (a, b)
        assert b["max_community"] >= a["max_community"], (a, b)

    comp = sorted(
        catalog.QUERIES["q_text_bpe_compression"](spark, sf_dir).collect(),
        key=lambda r: r["step"],
    )
    for a, b in zip(comp, comp[1:]):
        assert b["corpus_symbols"] < a["corpus_symbols"], (a, b)
        assert b["vocab_symbols"] == a["vocab_symbols"] + 1, (a, b)

    keep_vals = {
        r["keep"] for r in catalog.QUERIES["q_text_classifier_linear"](spark, sf_dir).collect()
    }
    assert keep_vals == {0, 1}, keep_vals

    ivf = catalog.QUERIES["q_sim_ivf_incremental"](spark, sf_dir).collect()
    assert all(r["n_base"] > 0 and r["n_delta"] > 0 for r in ivf), ivf
    assert all(r["n_total"] == r["n_base"] + r["n_delta"] for r in ivf), ivf

    bd = catalog.QUERIES["q_multimodal_block_dedup"](spark, sf_dir).collect()
    fracs = {r["shared_frac"] for r in bd}
    assert len(fracs) > 1 and any(f > 0 for f in fracs), sorted(fracs)[:5]

    from simplemapreduce_spark.plans.similarity import MINE_MARGIN  # noqa: PLC0415
    from simplemapreduce_spark.sources.tables import load_table  # noqa: PLC0415

    boot = catalog.QUERIES["q_bootstrap_poisson_se"](spark, sf_dir).collect()[0]
    # For the plain mean the bootstrap must track s/sqrt(n): with B=32
    # the bootstrap's own noise is ~13%, so a ratio outside [0.6, 1.6]
    # means broken multiplicities, not sampling luck.
    ratio = boot["bootstrap_se"] / boot["classical_se"]
    assert 0.6 < ratio < 1.6, (boot, ratio)

    mined = catalog.QUERIES["q_sim_margin_mining"](spark, sf_dir).collect()
    n_src = (
        load_table(spark, sf_dir, "embeddings").filter("label = 0").count()
    )
    assert 0 < len(mined) < n_src, (len(mined), n_src)  # threshold must bite
    assert all(r["margin"] > MINE_MARGIN for r in mined)


# Intentional constant flags: zero-WITNESS columns whose constancy IS
# the assertion (try_cast on corrupt input must never succeed).
_CONSTANT_INT_FLAG_ALLOWLIST = {
    ("q_scalar_try", "n_bad_cast_ok"),
    ("q_scalar_try", "n_bad_ts_ok"),
}

_FLAG_PREFIXES = ("is_", "has_", "keep", "flag", "stale", "ok", "within", "valid")
_FLAG_SUFFIXES = ("_ok", "_flag", "_stale")


def test_no_vacuous_int_flag_outputs(spark, sf_dir):
    """Round-5 audit, pinned: integer FLAG columns (is_*/keep/_ok/...)
    must show more than one value on the fixture, same rationale as
    the boolean guard — a constant flag cannot distinguish a reversed
    or broken predicate (this audit caught q_agg_bitwise's AND/OR
    pooled to constants and q_freshness_audit's first-draft SLA that
    never fired at gate scale). Witness columns whose constancy IS
    the assertion are allowlisted."""
    for name, fn in sorted(catalog.QUERIES.items()):
        if name.startswith("q_stream") or name.startswith("mr_"):
            continue
        df = fn(spark, sf_dir)
        flagcols = [
            c
            for c, t in df.dtypes
            if t in ("int", "bigint", "tinyint")
            and (c.startswith(_FLAG_PREFIXES) or c.endswith(_FLAG_SUFFIXES))
            and (name, c) not in _CONSTANT_INT_FLAG_ALLOWLIST
        ]
        if not flagcols:
            continue
        rows = df.select(*flagcols).collect()
        for c in flagcols:
            vals = {r[c] for r in rows}
            assert len(vals) > 1, f"{name}.{c}: constant {vals}"
