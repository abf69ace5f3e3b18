"""Benchmark decontamination + blocklist filtering — the two
training-data hygiene operators every large-scale corpus pipeline runs
before training (complementing the dedup stack in plans/dedup.py).

The reference has no notion of these (its only dataflow is
mapF -> shuffle -> reduceF, /root/reference/src/common/common_map.go:59,
common_reduce.go:51); they are extension scope per BASELINE.json.

Scale design:

* Decontamination joins the CORPUS against the BENCHMARK n-gram set.
  The benchmark side is tiny (eval suites are MBs against a 100 TB
  corpus) -> broadcast hash join; the corpus side builds its n-grams
  row-locally (transform over the token array, no shingle-level
  shuffle on the big side until the single count aggregation, which
  is partial-agg friendly).
* Blocklist filtering is a broadcast LEFT ANTI join — the canonical
  "drop rows whose key appears in a small deny-set" shape; at 100 TB
  it is a map-side filter with zero shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.plans.dedup import (
    _SQL_DOC_SHINGLES,
    _SQL_MINHASH_BANDS,
    doc_shingle_arrays,
    h1_sets,
    lsh_index,
)
from simplemapreduce_spark.sources.tables import load_table

# Deterministic stand-in for a benchmark/eval set: every 10th document.
# A real pipeline would read the benchmark suite from its own table;
# the split rule is hash-free so both engines agree trivially.
_EVAL_PRED = "doc_id % 10 = 0"
_TRAIN_PRED = "doc_id % 10 <> 0"

CONTAMINATION_THRESHOLD = 0.2


@query(
    "q_decontaminate_ngram",
    oracle=f"""
    WITH doc_sh AS ({_SQL_DOC_SHINGLES}),
    eval_grams AS (
      SELECT DISTINCT unnest(arr) AS shingle FROM doc_sh WHERE {_EVAL_PRED}
    ),
    train AS (
      SELECT doc_id, len(arr) AS n_grams, unnest(arr) AS shingle
      FROM doc_sh WHERE {_TRAIN_PRED}
    )
    SELECT t.doc_id,
           CAST(ANY_VALUE(t.n_grams) AS INTEGER) AS n_grams,
           COUNT(e.shingle) AS n_overlap,
           ROUND(CAST(COUNT(e.shingle) AS DOUBLE) / ANY_VALUE(t.n_grams), 6)
             AS contamination,
           CAST(COUNT(e.shingle) AS DOUBLE) / ANY_VALUE(t.n_grams)
             >= {CONTAMINATION_THRESHOLD} AS contaminated
    FROM train t LEFT JOIN eval_grams e ON t.shingle = e.shingle
    GROUP BY t.doc_id
    """,
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by distinct word-3-gram overlap: for
    every training document, the fraction of its distinct n-grams that
    also appear in the eval set (docs ``doc_id % 10 == 0`` stand in
    for the benchmark suite). Docs at/above the threshold are flagged
    for removal — the GPT-3/PaLM-style n-gram filter.

    Plan: benchmark n-gram set deduped then BROADCAST; corpus n-grams
    built row-locally (plans/dedup.py doc_shingle_arrays — no shuffle),
    one explode, broadcast left join, single partial-agg count per doc.
    The corpus is touched by exactly one shuffle (the final groupBy),
    which AQE coalesces; nothing scales with |corpus| x |benchmark|.
    """
    doc_sh = doc_shingle_arrays(spark, sf_dir)
    eval_grams = (
        doc_sh.filter(F.expr(_EVAL_PRED))
        .select(F.explode("arr").alias("shingle"))
        .distinct()
    )
    train = doc_sh.filter(F.expr(_TRAIN_PRED)).select(
        "doc_id", F.size("arr").alias("n_grams"), F.explode("arr").alias("shingle")
    )
    hit = F.count(F.col("e.shingle"))
    frac = hit.cast("double") / F.first("n_grams")
    return (
        train.join(
            F.broadcast(eval_grams.alias("e")),
            train["shingle"] == F.col("e.shingle"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").alias("n_grams"),
            hit.alias("n_overlap"),
            F.round(frac, 6).alias("contamination"),
            (frac >= CONTAMINATION_THRESHOLD).alias("contaminated"),
        )
    )


BLOCKLIST = ("src7", "src13", "src19")


@query(
    "q_curation_blocklist",
    oracle=f"""
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source NOT IN {BLOCKLIST!r}
    GROUP BY source
    """,
)
def q_curation_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source blocklist filter: drop every document whose source
    is on a deny-list, then report the surviving per-source volume.

    The blocklist is a DataFrame (not an inlined literal) joined with
    a broadcast LEFT ANTI join — the shape that still works when the
    deny-list is 100k domains loaded from a file rather than 3 inline
    strings; Catalyst turns it into a map-side hash filter with zero
    shuffle of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    deny = spark.createDataFrame([(s,) for s in BLOCKLIST], "source string")
    return (
        d.join(F.broadcast(deny), "source", "left_anti")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


FUZZY_CONTAM_THRESHOLD = 0.98


def _fuzzy_oracle() -> str:
    return f"""
    WITH {_SQL_MINHASH_BANDS},
    cand AS (
      SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
      FROM bands t
      JOIN bands e ON t.band = e.band AND t.band_hash = e.band_hash
      WHERE t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
    ),
    scored AS (
      SELECT c.train_id, c.eval_id,
             CAST(len(list_intersect(st.hs, se.hs)) AS DOUBLE)
               / (len(st.hs) + len(se.hs) - len(list_intersect(st.hs, se.hs)))
               AS jaccard
      FROM cand c
      JOIN doc_hs st ON st.doc_id = c.train_id
      JOIN doc_hs se ON se.doc_id = c.eval_id
    )
    SELECT train_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_candidates,
           CAST(first(eval_id ORDER BY jaccard DESC, eval_id) AS BIGINT)
             AS best_eval_id,
           CAST(ROUND(MAX(jaccard), 6) AS DOUBLE) AS best_jaccard,
           MAX(jaccard) >= {FUZZY_CONTAM_THRESHOLD} AS contaminated_fuzzy
    FROM scored GROUP BY 1
    """


@query("q_decontam_minhash", oracle=_fuzzy_oracle())
def q_decontam_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: near-duplicate (not just
    exact-n-gram) overlap between training docs and the eval set,
    via the shared MinHash-LSH index — the defense q_decontaminate_ngram
    cannot provide when a benchmark item was paraphrased or lightly
    edited into the corpus (the contamination mode actually observed
    in web-scale training sets). Reads the memoized signature/band
    tables of plans/dedup.lsh_index (one index build serves dedup AND
    decontam in a session — how a production pipeline shares its LSH
    index across hygiene passes).

    Candidates: train-side bands equi-joined to EVAL-side bands on
    (band, band_hash). Unlike the self-join dedup path there is no
    hot-bucket cap here: the eval side is benchmark-sized (broadcast),
    so a hot bucket fans out by at most its eval-member count, never
    |corpus| x |corpus|. Verify: exact Jaccard on the h1 shingle-hash
    sets (integer division of exact set sizes — deterministic), best
    match per train doc picked by lexicographic MAX over
    (jaccard, -eval_id), flagged at {T} — the near-exact tier. The
    threshold sits INSIDE the observed candidate jaccard band
    (fixture candidates run 0.95-0.99), so both flag outcomes
    materialize and a comparison-direction bug cannot hide behind an
    all-true column.

    Scale shape: corpus-side work is the one memoized signature scan
    plus a broadcast equi-join and one hash agg by train doc; nothing
    scales with |corpus| x |eval|."""
    doc_hp, bands = lsh_index(spark, sf_dir)
    train_b = bands.filter(F.col("doc_id") % 10 != 0).alias("t")
    eval_b = bands.filter(F.col("doc_id") % 10 == 0).alias("e")
    cand = (
        train_b.join(
            F.broadcast(eval_b),
            (F.col("t.band") == F.col("e.band"))
            & (F.col("t.band_hash") == F.col("e.band_hash")),
        )
        .select(
            F.col("t.doc_id").alias("train_id"), F.col("e.doc_id").alias("eval_id")
        )
        .distinct()
    )
    hs = h1_sets(doc_hp)
    st = hs.select(F.col("doc_id").alias("train_id"), F.col("hs").alias("hs_t"))
    se = hs.select(F.col("doc_id").alias("eval_id"), F.col("hs").alias("hs_e"))
    inter = F.size(F.array_intersect("hs_t", "hs_e"))
    jac = inter.cast("double") / (F.size("hs_t") + F.size("hs_e") - inter)
    scored = (
        cand.join(st, "train_id")
        .join(F.broadcast(se), "eval_id")
        .select("train_id", "eval_id", jac.alias("jaccard"))
    )
    best = F.max(
        F.struct(F.col("jaccard"), (-F.col("eval_id")).alias("ne"))
    ).alias("best")
    return (
        scored.groupBy(F.col("train_id").alias("doc_id"))
        .agg(F.count("*").alias("n"), best)
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_eval_candidates"),
            (-F.col("best.ne")).cast("long").alias("best_eval_id"),
            F.round(F.col("best.jaccard"), 6).alias("best_jaccard"),
            (F.col("best.jaccard") >= FUZZY_CONTAM_THRESHOLD).alias(
                "contaminated_fuzzy"
            ),
        )
    )


q_decontam_minhash.__doc__ = q_decontam_minhash.__doc__.format(
    T=FUZZY_CONTAM_THRESHOLD
)
