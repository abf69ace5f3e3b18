"""Distributed Lloyd's k-means over an ``array<double>`` column —
the centroid-training upgrade for the IVF index
(plans/similarity.py q_sim_ivf_topk documents first-N centroids as the
placeholder this replaces).

Spark-first shape, per iteration:
  1. assign: collapse the k centroids to one broadcast array row and
     argmin per vector ROW-LOCALLY (zip_with/aggregate fold +
     array_sort tie rule) — a pure map pass, zero corpus shuffle.
  2. update: posexplode each assigned vector to (cell, pos, val),
     groupBy (cell, pos) mean (partial-agg collapses the shuffle to
     k×dim partials per task), re-assemble the centroid array ordered
     by pos. All JVM-side.

Everything is deterministic and RNG-free (init = farthest-
first traversal, ties to lowest id); centroid coordinates are rounded each iteration so the
float-sum partition-order jitter (~1e-13) can never flip a later
assignment. k-means is iterative and therefore not oracle-expressible
in one SQL statement — the catalog query is rows-only, with quality
bounds (monotone inertia, recall vs brute force) asserted in
tests/test_quality_bounds.py.

Scale: the corpus is never self-joined and never collected; only the
k×dim centroid table moves to the driver between iterations (tiny).
Reference has no ANN surface; this extends SURVEY.md §2.2's
similarity-search family (the reference has no numeric/vector ops at
all — values are untyped strings, /root/reference/src/common/common.go:44-49).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simplemapreduce_spark.functions.vectors import sq_l2_sql

# Digits each Lloyd update rounds a centroid coordinate to, so
# partition-order float jitter cannot flip a later assignment.
_CENTROID_DIGITS = 6

# The nearest of the ``cents`` array's (cid, ce) centroids to the row's
# vector ``e``: a (d2, cid) struct, squared L2 rounded to 8 digits,
# ties to the lowest cid.
_NEAREST = (
    "element_at(array_sort(transform(cents, c -> struct("
    f"round({sq_l2_sql('e', 'c.ce')}, 8) as d2, c.cid as cid))), 1)"
)


def assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid (squared-L2, ties to
    the lowest cid). `vectors`: (vec_id, e); `centroids`: (cid, ce).
    Returns (vec_id, e, cell, d2).

    ZERO corpus shuffle: the centroid table collapses to one broadcast
    array row and every vector argmins over it row-locally (array_sort
    on (d2, cid) structs = the deterministic tie rule). The previous
    shape — broadcast join + min_by groupBy — still shuffled the whole
    corpus WITH its vector payloads once per Lloyd iteration; this is
    a pure map pass, so an iteration's only shuffle is the tiny
    (cell, pos) partial-mean aggregation in update_centroids."""
    cents = centroids.agg(F.collect_list(F.struct("cid", "ce")).alias("cents"))
    return (
        vectors.crossJoin(F.broadcast(cents))
        .select("vec_id", "e", F.expr(_NEAREST).alias("b"))
        .select(
            "vec_id", "e", F.col("b.cid").alias("cell"), F.col("b.d2").alias("d2")
        )
    )


def update_centroids(assigned: DataFrame) -> DataFrame:
    """New centroid = element-wise mean of each cell's members.
    Rounded so partition-order float jitter can't flip assignments."""
    return (
        assigned.select("cell", F.posexplode("e").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(F.round(F.avg("val"), _CENTROID_DIGITS).alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("cell").alias("cid"),
            F.transform("pm", lambda x: x["m"]).alias("ce"),
        )
    )


def farthest_first_init(vectors: DataFrame, k: int) -> DataFrame:
    """Deterministic k-means++-style seeding by farthest-first
    traversal (Gonzalez 1985): start from the lowest vec_id, then
    repeatedly add the vector FARTHEST from its nearest chosen
    centroid (ties → lowest vec_id). Spreads seeds across the data's
    extent — the quality upgrade over first-k init — while staying
    RNG-free, so training is reproducible across runs and engines.

    Oversampled k-means|| style (Bahmani et al., VLDB 2012): each pass
    takes the m=4 farthest vectors at once (TakeOrdered on (d2 desc,
    vec_id)) instead of one, cutting the sequential passes to
    ceil((k-1)/m) — the deterministic analogue of k-means||'s
    probabilistic oversampling. O(N) row-local work per pass, only k
    rows ever reach the driver."""
    spark = vectors.sparkSession
    m = 4
    first = (
        vectors.orderBy("vec_id").limit(1)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    )
    rows = [(r["cid"], r["ce"]) for r in first.collect()]
    while len(rows) < k:
        cent = spark.createDataFrame(rows, schema="cid bigint, ce array<double>")
        a = assign_cells(vectors, cent)
        batch = (
            a.orderBy(F.desc("d2"), "vec_id")
            .limit(min(m, k - len(rows)))
            .select("vec_id", "e")
            .collect()
        )
        rows.extend((r["vec_id"], r["e"]) for r in batch)
    return spark.createDataFrame(rows, schema="cid bigint, ce array<double>")


def kmeans_fit(vectors: DataFrame, k: int, iters: int = 3) -> DataFrame:
    """Train k centroids with `iters` Lloyd iterations from a
    farthest-first seeding. Returns (cid, ce).

    The centroid table is materialized to the driver between
    iterations (k×dim doubles — bytes, not data) so each iteration's
    plan starts from a literal table instead of a k-deep recursive
    subtree that every later broadcast would recompute. The result is
    always such a literal table, so callers memoize the trained
    centroids with ``cache.memo_build`` and a repeat query runs no
    training job (measured: q_sim_ivf_kmeans_topk 4.5 s -> sub-second
    steady at sf0.1)."""
    spark = vectors.sparkSession
    cent = farthest_first_init(vectors, k)
    for _ in range(iters):
        new_cent = update_centroids(assign_cells(vectors, cent))
        # collect k tiny rows; re-create as a literal DataFrame so the
        # next iteration's broadcast is a local table, not a plan.
        cent = spark.createDataFrame(
            new_cent.collect(), schema="cid bigint, ce array<double>"
        )
    return cent


def inertia(vectors: DataFrame, centroids: DataFrame) -> float:
    """Sum of squared distances to the assigned centroid (the k-means
    objective; must be non-increasing over Lloyd iterations)."""
    return assign_cells(vectors, centroids).agg(F.sum("d2")).collect()[0][0]


def kmeans_fit_grouped(vectors: DataFrame, k: int, iters: int = 2) -> DataFrame:
    """Train an independent k-centroid codebook PER GROUP — all groups
    jointly, one Spark action per Lloyd iteration. `vectors`:
    (g, vec_id, e) → returns (g, cid, ce).

    Motivation (measured): product quantization trains M sub-codebooks;
    looping kmeans_fit per subspace serializes M × (init + iters)
    driver actions — ~30 sequential tiny jobs whose fixed scheduling
    cost dwarfs the math at any scale (16-26 s for q_sim_pq_topk at
    sf0.01). Joint training restructures to (subspace, vec_id, subvec)
    rows so ONE assign/update pass trains every codebook: per
    iteration, the combined (g, cid, ce) table (M×k rows — bytes)
    collapses to per-group broadcast arrays for the row-local argmin,
    and the update is a single groupBy (g, cell, pos) mean. Driver
    round-trips drop from O(M·(k+iters)) to O(iters).

    Init is the k lowest vec_ids per group (one WindowGroupLimit
    pass): sub-codebooks tolerate cheap seeding because the exact
    re-rank restores precision; farthest_first_init remains the
    quality-seeding path for single full-dimension indexes
    (q_sim_ivf_kmeans_topk). Same determinism contract as kmeans_fit:
    RNG-free, rounded updates, ties to lowest cid."""
    from pyspark.sql import Window as W

    spark = vectors.sparkSession
    rn = F.row_number().over(W.partitionBy("g").orderBy("vec_id"))
    seed = (
        vectors.withColumn("rn", rn)
        .filter(F.col("rn") <= k)
        .select("g", F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    )
    rows = [(r["g"], r["cid"], r["ce"]) for r in seed.collect()]
    for _ in range(iters):
        cent = spark.createDataFrame(rows, schema="g int, cid bigint, ce array<double>")
        books = cent.groupBy("g").agg(F.collect_list(F.struct("cid", "ce")).alias("cents"))
        assigned = (
            vectors.join(F.broadcast(books), "g")
            .select("g", "e", F.expr(_NEAREST + ".cid").alias("cell"))
        )
        new_cent = (
            assigned.select("g", "cell", F.posexplode("e").alias("pos", "val"))
            .groupBy("g", "cell", "pos")
            .agg(F.round(F.avg("val"), _CENTROID_DIGITS).alias("m"))
            .groupBy("g", "cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "g",
                F.col("cell").alias("cid"),
                F.transform("pm", lambda x: x["m"]).alias("ce"),
            )
        )
        rows = [(r["g"], r["cid"], r["ce"]) for r in new_cent.collect()]
    return spark.createDataFrame(rows, schema="g int, cid bigint, ce array<double>")
