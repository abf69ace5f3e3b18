"""Extension catalog entries: multimodal plumbing, approximate
sketches, and the map_reduce compatibility surface run end-to-end.

The mr_compat_* queries exercise the generic mapF/reduceF dataflow
(operators/map_reduce.py) through the driver gate. Their user
functions are defined as NESTED closures on purpose: cloudpickle
serializes closures by value, so Spark workers need no importable copy
of this package (the driver's worker processes don't share our
sys.path)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.operators.map_reduce import map_reduce
from simplemapreduce_spark.operators.multimodal import documents_as_media, extract_features
from simplemapreduce_spark.oracle_sql import SQL_TOKENS
from simplemapreduce_spark.sources.tables import ensure_parallelism
from simplemapreduce_spark.sources.tables import load_table


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS byte_len,
           md5(text) AS checksum
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary payload column (byte length
    + checksum) — the metadata-only scan never touches the payload
    bytes thanks to column pruning."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return media.select("media_id", "byte_len", "checksum")


@query(
    "q_multimodal_features",
    # documents.text is pure ASCII (octet_length == length), so the
    # first payload byte is the first character's codepoint; f0 =
    # payload[(0*n)//dim] / 255 = byte 0 / 255 (operators/multimodal.py
    # fake_features). The pandas-UDF plumbing is thus value-checked,
    # not just rows-only.
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS byte_len,
           ROUND(CASE WHEN length(text) = 0 THEN 0.0
                      ELSE ascii(substring(text, 1, 1)) / 255.0 END, 6) AS f0
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched (deterministic fake) feature extraction over the
    binary payload — the real decoder slot is stubbed (no imaging libs
    in this container; see operators/multimodal.py)."""
    media = documents_as_media(ensure_parallelism(load_table(spark, sf_dir, "documents")))
    feats = extract_features(media)
    return feats.select(
        "media_id", "byte_len", F.round(F.element_at("features", 1), 6).alias("f0")
    )


@query(
    "q_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(DISTINCT l_suppkey) AS exact_suppliers,
           TRUE AS parts_within_5pct,
           TRUE AS suppliers_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the constant-memory
    cardinality sketch; exact twin is q_agg_distinct.

    Oracled via a BOUNDS WITNESS (upgraded from rows-only, the weakest
    tier in VERDICT r2): the raw HLL++ estimate is engine-specific, so
    the output carries the exact counts plus booleans asserting the
    sketch landed within 5% of them; the oracle expects TRUE. HLL++ is
    deterministic for a given input (hash-based, merge-commutative, no
    RNG), and at rsd=0.01 a 5% bound is 5 sigma — if the sketch ever
    drifts out, the driver gate goes red instead of silently passing a
    rows-only check."""
    li = load_table(spark, sf_dir, "lineitem")
    # Exact distincts and the HLL sketches are aggregated SEPARATELY
    # and joined on the 3-row group key (round 11, guide §1/§5): mixing
    # them in one agg makes Catalyst compute the non-distinct HLLs in
    # the dedup aggregate, i.e. one rsd=0.01 sketch (2^14 registers)
    # per (flag, distinct-key) GROUP — tens of thousands of 16 KB
    # sketch buffers allocated and merged per run. Measured at sf0.1:
    # combined 5.81 s vs exact 0.67 s + sketch 1.82 s split; the split
    # also bounds sketch state to one per flag at any scale.
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_suppkey").alias("exact_suppliers"),
    )
    sketch = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("ap"),
        F.approx_count_distinct("l_suppkey", 0.01).alias("asu"),
    )
    g = exact.join(F.broadcast(sketch), "l_returnflag")

    def within(approx: str, exact: str):
        return F.abs(F.col(approx) - F.col(exact)) <= 0.05 * F.col(exact)

    return g.select(
        "l_returnflag",
        "exact_parts",
        "exact_suppliers",
        within("ap", "exact_parts").alias("parts_within_5pct"),
        within("asu", "exact_suppliers").alias("suppliers_within_5pct"),
    )


@query(
    "q_approx_quantiles",
    oracle="""
    SELECT o_orderstatus,
           quantile_disc(o_totalprice, 0.25) AS q25,
           quantile_disc(o_totalprice, 0.5)  AS q50,
           quantile_disc(o_totalprice, 0.75) AS q75
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna style sketch); exact twin is
    q_agg_minmax_percentile. Output is three scalar columns, not the
    array — array-typed catalog outputs crash the driver's pandas
    canonicalizer (CORRECTNESS_r01 `unhashable type: 'list'`).

    Oracled exactly at gate scale: with accuracy >= group row count the
    GK sketch degenerates to the exact discrete percentile (the actual
    data value at the quantile rank), which is DuckDB's quantile_disc —
    verified bit-identical since both return stored parquet doubles,
    no arithmetic. At 100 TB you would dial accuracy back down (1e4)
    and accept the epsilon-rank error bound the sketch guarantees."""
    o = load_table(spark, sf_dir, "orders")
    q = F.expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75), 1000000)")
    return o.groupBy("o_orderstatus").agg(
        q.getItem(0).alias("q25"),
        q.getItem(1).alias("q50"),
        q.getItem(2).alias("q75"),
    )


@query(
    "q_mr_compat_wordcount",
    oracle="""
    SELECT token AS key, CAST(COUNT(*) AS VARCHAR) AS value
    FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token ORDER BY key
    """,
)
def q_mr_compat_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through the generic mapF/reduceF compat API — the
    canonical MapReduce program on the reference's exact contract
    (string pairs, holistic reduce, lexicographic key sort)."""

    def map_f(row):
        for tok in row["text"].split():
            yield tok, "1"

    def reduce_f(key, values):
        return str(sum(int(v) for v in values))

    docs = load_table(spark, sf_dir, "documents").select("text")
    return map_reduce(docs, map_f, reduce_f)


@query(
    "q_mr_compat_sorted_distinct",
    oracle="""
    SELECT DISTINCT token AS key, '' AS value
    FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS token FROM documents)
    WHERE token <> ''
    ORDER BY key
    """,
)
def q_mr_compat_sorted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference test suite's own workload (sorted distinct tokens,
    common_test_suite.go:31-50) through the compat API."""

    def map_f(row):
        for tok in row["text"].split():
            yield tok, ""

    def reduce_f(key, values):
        return ""

    docs = load_table(spark, sf_dir, "documents").select("text")
    return map_reduce(docs, map_f, reduce_f)


@query(
    "q_multimodal_frames",
    # documents.text is pure ASCII (verified: octet_length == length),
    # so VARCHAR substring in the oracle slices the same bytes the
    # pandas UDF slices from the binary payload.
    oracle=f"""
    SELECT doc_id AS media_id,
           4 AS n_frames,
           array_to_string(list_transform(range(4), i -> md5(substring(text,
               CAST(i * length(text) // 4 + 1 AS BIGINT),
               CAST((i + 1) * length(text) // 4 - i * length(text) // 4 AS BIGINT)))), ',') AS frame_hashes
    FROM documents
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the binary payload (deterministic chunk
    fingerprints standing in for decoded keyframes) — Arrow-batched
    mapInPandas, one row per media. The library operator returns the
    per-frame hash ARRAY; the catalog boundary joins it to a string
    (array outputs crash the driver's pandas canonicalizer)."""
    from simplemapreduce_spark.operators.multimodal import sample_frames

    media = documents_as_media(ensure_parallelism(load_table(spark, sf_dir, "documents")))
    return sample_frames(media).withColumn("frame_hashes", F.array_join("frame_hashes", ","))


@query(
    "q_multimodal_resize",
    # Python's b[::stride][:64] over ASCII text, spelled in SQL:
    # stride = max(1, n div 64), picked chars at i*stride for
    # i < min(64, ceil(n/stride)), md5 of their concatenation.
    oracle="""
    WITH p AS (
      SELECT doc_id, text, GREATEST(1, length(text) // 64) AS stride FROM documents
    ), c AS (
      SELECT doc_id, text, stride,
             LEAST(64, (length(text) + stride - 1) // stride) AS cnt
      FROM p
    )
    SELECT doc_id AS media_id,
           8 AS out_w, 8 AS out_h,
           CAST(cnt AS BIGINT) AS resized_len,
           md5(array_to_string(list_transform(range(cnt),
               i -> substring(text, CAST(i * stride + 1 AS BIGINT), 1)), '')) AS resized_checksum
    FROM c
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake resize (stride downsample to 8x8 bytes) through the real
    Arrow plumbing; the decoder+resampler slot in unchanged."""
    from simplemapreduce_spark.operators.multimodal import resize_media

    media = documents_as_media(ensure_parallelism(load_table(spark, sf_dir, "documents")))
    return resize_media(media)


_CMS_DEPTH = 3
_CMS_WIDTH = 64
_CMS_TOP = 10


@query(
    "q_sketch_count_min",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKENS}) AS token
      FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS exact_n FROM toks GROUP BY token
    ), top AS (
      SELECT token, exact_n FROM counts ORDER BY exact_n DESC, token LIMIT {_CMS_TOP}
    ), rows_i AS (
      SELECT unnest(range(1, {_CMS_DEPTH} + 1)) AS i
    ), cms AS (
      SELECT i,
             CAST('0x' || substr(md5(i || ':' || token), 1, 8) AS BIGINT) % {_CMS_WIDTH} AS h,
             COUNT(*) AS c
      FROM toks CROSS JOIN rows_i
      GROUP BY 1, 2
    )
    SELECT t.token, t.exact_n, CAST(MIN(cms.c) AS BIGINT) AS cms_estimate
    FROM top t
    CROSS JOIN rows_i
    JOIN cms ON cms.i = rows_i.i
           AND cms.h = CAST('0x' || substr(md5(rows_i.i || ':' || t.token), 1, 8) AS BIGINT) % {_CMS_WIDTH}
    GROUP BY t.token, t.exact_n
    """,
)
def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built AS A TABLE: {D} hash rows x {W} buckets
    of token counts over the corpus, point-queried for the top-{T}
    tokens (estimate = min over rows of the hashed bucket's count —
    always >= the exact count, asserted in test_quality_bounds).

    The sketch-as-relation formulation is the distributed-native CMS:
    building it is one groupBy over (row, bucket) — {D}x{W} cells of
    partial-aggregated state regardless of corpus size — and merging
    sketches across corpora is a UNION + SUM of the same table, the
    property that makes CMS the streaming heavy-hitter structure.
    Deterministic md5 hash family means both engines build the
    identical sketch, so unlike opaque sketch binaries this one is
    exactly DuckDB-oracled."""
    d = load_table(spark, sf_dir, "documents")
    from simplemapreduce_spark.cache import memo_persist
    from simplemapreduce_spark.functions.text import tokens

    # The token explosion feeds both the exact-count branch and the
    # sketch build — persist it once (per dataset version) instead of
    # scanning + exploding the corpus twice per invocation.
    # ensure_parallelism BEFORE the persist (round 10): the cached
    # relation inherits the scan's partitioning, so without the guard
    # the persisted token table was ONE partition and the D-hash md5
    # pass over it ran on one task (measured 1.4 s -> ~0.6 s).
    d = ensure_parallelism(d)
    toks = memo_persist(
        d.select(F.explode(tokens("text")).alias("token")),
        "extensions.cms_toks",
        sf_dir,
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("exact_n"))
    top = counts.orderBy(F.desc("exact_n"), "token").limit(_CMS_TOP)

    def bucket(i_col, token_col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(i_col.cast("string"), F.lit(":"), token_col)), 1, 8),
                16,
                10,
            ).cast("long")
            % _CMS_WIDTH
        )

    rows_i = spark.range(1, _CMS_DEPTH + 1).select(F.col("id").cast("int").alias("i"))
    cms = (
        toks.crossJoin(F.broadcast(rows_i))
        .select("i", bucket(F.col("i"), F.col("token")).alias("h"))
        .groupBy("i", "h")
        .agg(F.count("*").alias("c"))
    )
    probes = top.crossJoin(F.broadcast(rows_i)).select(
        "token", "exact_n", "i", bucket(F.col("i"), F.col("token")).alias("h")
    )
    return (
        probes.join(cms, ["i", "h"])
        .groupBy("token", "exact_n")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
    )


@query(
    "q_sketch_bloom_filter",
    oracle="""
    WITH build AS (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bpos AS (
      SELECT DISTINCT
             (CAST('0x' || substr(md5(CAST(k AS VARCHAR)), i * 8 + 1, 8) AS BIGINT)
              % 8192) AS pos
      FROM build CROSS JOIN (VALUES (0), (1), (2)) t(i)
    ),
    probe AS (SELECT DISTINCT o_custkey AS k FROM orders),
    ppos AS (
      SELECT k,
             (CAST('0x' || substr(md5(CAST(k AS VARCHAR)), i * 8 + 1, 8) AS BIGINT)
              % 8192) AS pos
      FROM probe CROSS JOIN (VALUES (0), (1), (2)) t(i)
    ),
    pm AS (
      SELECT p.k,
             COUNT(DISTINCT p.pos) AS np,
             COUNT(DISTINCT CASE WHEN b.pos IS NOT NULL THEN p.pos END) AS nm
      FROM ppos p LEFT JOIN bpos b USING (pos) GROUP BY p.k
    ),
    verdict AS (
      SELECT pm.k, (pm.nm = pm.np) AS maybe, (bu.k IS NOT NULL) AS actual
      FROM pm LEFT JOIN (SELECT DISTINCT k FROM build) bu USING (k)
    )
    SELECT CAST((SELECT COUNT(*) FROM bpos) AS BIGINT) AS n_bits_set,
           CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
           CAST(SUM(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_member,
           CAST(SUM(CASE WHEN maybe AND NOT actual THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos,
           CAST(SUM(CASE WHEN actual AND NOT maybe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_neg,
           CAST(ROUND(CAST(SUM(CASE WHEN maybe AND NOT actual THEN 1 ELSE 0 END)
                           AS DOUBLE)
                      / NULLIF(SUM(CASE WHEN NOT actual THEN 1 ELSE 0 END), 0), 6)
                AS DOUBLE) AS fpr
    FROM verdict
    """,
)
def q_sketch_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch, built and audited in one job:
    an 8192-bit / 3-hash filter over the BUILDING-segment customer
    keys, probed with every ordering customer, reporting bits set,
    maybe-hits, true members, false positives (with the measured FPR)
    and false negatives — which a correct Bloom filter makes
    impossible, so the n_false_neg = 0 column is a live witness, not
    an assumption. This is the semi-join pre-filter primitive behind
    bloom-filtered joins (Spark's own runtime row-group skipping uses
    the same construction JVM-side).

    Exactly cross-engine: hash positions are md5-hex slices mod M
    (the engine-portable convention of the MinHash family), the "all
    k bits set" test compares DISTINCT matched positions against the
    key's own distinct positions (self-colliding hashes would
    otherwise under-count), and every output is an integer until the
    single FPR division. Scale shape: the bit set is a distinct
    aggregate of 3|build| positions (bounded by M); the probe check
    is an equi-join on position against that tiny table — broadcast
    in practice — plus one semi-join for ground truth. No driver-side
    bitmap, no UDFs."""
    M, K = 8192, 3

    def positions(key: F.Column) -> F.Column:
        h = F.md5(key.cast("string"))
        return F.array(
            *[
                F.conv(F.substring(h, i * 8 + 1, 8), 16, 10).cast("bigint") % M
                for i in range(K)
            ]
        )

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    build = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    bpos = build.select(F.explode(positions(F.col("k"))).alias("pos")).distinct()
    probe = o.select(F.col("o_custkey").alias("k")).distinct()
    ppos = probe.select("k", F.explode(positions(F.col("k"))).alias("pos"))
    pm = (
        ppos.join(F.broadcast(bpos.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("k")
        .agg(
            F.countDistinct("pos").alias("np"),
            F.countDistinct(F.when(F.col("hit").isNotNull(), F.col("pos"))).alias("nm"),
        )
    )
    verdict = pm.join(
        F.broadcast(build.distinct().withColumn("actual", F.lit(True))), "k", "left"
    ).select(
        (F.col("nm") == F.col("np")).alias("maybe"),
        F.coalesce("actual", F.lit(False)).alias("actual"),
    )
    n_bits = bpos.agg(F.count("*").alias("n_bits_set"))
    fp = (F.col("maybe") & ~F.col("actual")).cast("int")
    fn = (F.col("actual") & ~F.col("maybe")).cast("int")
    return (
        verdict.agg(
            F.count("*").cast("long").alias("n_probe"),
            F.sum(F.col("maybe").cast("int")).cast("long").alias("n_maybe"),
            F.sum(F.col("actual").cast("int")).cast("long").alias("n_member"),
            F.sum(fp).cast("long").alias("n_false_pos"),
            F.sum(fn).cast("long").alias("n_false_neg"),
            F.round(
                F.sum(fp).cast("double")
                / F.nullif(F.sum((~F.col("actual")).cast("int")), F.lit(0)),
                6,
            ).alias("fpr"),
        )
        .crossJoin(F.broadcast(n_bits))
        .select(
            F.col("n_bits_set").cast("long").alias("n_bits_set"),
            "n_probe",
            "n_maybe",
            "n_member",
            "n_false_pos",
            "n_false_neg",
            "fpr",
        )
    )


@query(
    "q_multimodal_audio_energy",
    # ASCII byte-math mirror (the q_multimodal_features proof
    # strategy): documents.text is pure ASCII, so byte j (0-based) is
    # ascii(substr(text, j+1, 1)); frame = (j*4) // n on BOTH engines.
    oracle="""
    WITH b AS (
      SELECT doc_id, length(text) AS n,
             ((i - 1) * 4) // length(text) AS frame,
             (ascii(substring(text, i, 1)) - 128)
               * (ascii(substring(text, i, 1)) - 128) AS sq
      FROM documents
      CROSS JOIN UNNEST(range(1, length(text) + 1)) u(i)
      WHERE length(text) > 0
    ),
    f AS (
      SELECT doc_id, MAX(n) AS n,
             SUM(CASE WHEN frame = 0 THEN sq ELSE 0 END) AS e0,
             SUM(CASE WHEN frame = 1 THEN sq ELSE 0 END) AS e1,
             SUM(CASE WHEN frame = 2 THEN sq ELSE 0 END) AS e2,
             SUM(CASE WHEN frame = 3 THEN sq ELSE 0 END) AS e3
      FROM b GROUP BY doc_id
    )
    SELECT doc_id AS media_id,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(e0 AS BIGINT) AS e0, CAST(e1 AS BIGINT) AS e1,
           CAST(e2 AS BIGINT) AS e2, CAST(e3 AS BIGINT) AS e3,
           CAST(CASE GREATEST(e0, e1, e2, e3)
                  WHEN e0 THEN 0 WHEN e1 THEN 1 WHEN e2 THEN 2 ELSE 3
                END AS BIGINT) AS peak_frame
    FROM f
    """,
)
def q_multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-shaped multimodal operator: per-frame energy reduction
    over the opaque binary payload (4 frames, centered-sample sum of
    squares, integer-exact) with the peak frame — the windowed
    signal-statistic shape (VAD, loudness normalization, silence
    trimming) a real PCM pipeline runs via the same Arrow-batched
    mapInPandas plumbing. See operators/multimodal.py
    audio_frame_energy for the shared frame formula that makes the
    DuckDB byte-math oracle exact."""
    media = documents_as_media(ensure_parallelism(load_table(spark, sf_dir, "documents")))
    from simplemapreduce_spark.operators.multimodal import audio_frame_energy

    return audio_frame_energy(media)


_BLOCK_SZ = 64


@query(
    "q_multimodal_block_dedup",
    # documents.text is pure ASCII (octet_length == length), so fixed
    # 64-BYTE payload blocks equal 64-CHAR text slices and DuckDB's
    # VARCHAR md5 checks the binary-side blocking exactly (same
    # equivalence q_multimodal_features uses for its f0 byte check;
    # DuckDB has no md5(BLOB)).
    oracle=f"""
    WITH blocks AS (
      SELECT doc_id AS media_id,
             md5(substr(text, CAST(i * {_BLOCK_SZ} + 1 AS INT), {_BLOCK_SZ}))
               AS chk
      FROM documents,
           unnest(range(0, CAST(ceil(length(text) / {_BLOCK_SZ}.0) AS BIGINT)))
             AS t(i)
    ),
    df AS (SELECT chk, COUNT(DISTINCT media_id) AS nm FROM blocks GROUP BY chk)
    SELECT b.media_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN df.nm >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_blocks,
           CAST(ROUND(SUM(CASE WHEN df.nm >= 2 THEN 1 ELSE 0 END)
                      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS shared_frac
    FROM blocks b JOIN df USING (chk)
    GROUP BY b.media_id
    """,
)
def q_multimodal_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable BLOCK dedup over opaque binary payloads —
    the storage-level dedup a multimodal lake runs before training
    ingest: payloads split into fixed {B}-byte blocks, block checksums
    counted across media, per-media share of blocks that also occur in
    at least one OTHER payload. Whole-payload dedup is vacuous on this
    corpus (every payload distinct); block grain is where multimodal
    redundancy actually lives (shared headers, repeated frames,
    common tiles). All blocking/hashing runs on the BINARY column —
    substring and md5 on bytes, JVM-side, no Python.

    Scale shape: explode to ceil(bytes/{B}) block rows (payload-
    proportional, the same growth a chunked upload has), one checksum
    hash-agg for the block frequency table, joined back on the
    checksum key and re-aggregated to media grain — the exact plan of
    q_dedup_dup_ngram_fraction transplanted to the binary domain. The
    16-byte checksum, never the block bytes, is what shuffles for the
    frequency count."""
    media = documents_as_media(ensure_parallelism(load_table(spark, sf_dir, "documents")))
    n_blocks = F.ceil(F.col("byte_len") / F.lit(float(_BLOCK_SZ))).cast("long")
    # Empty payloads must emit ZERO block rows, matching the oracle's
    # range(0, 0): sequence(0, -1) would default to step -1 and produce
    # two phantom blocks [0, -1] whenever byte_len = 0.
    media = media.filter(F.col("byte_len") > 0)
    blocks = media.select(
        "media_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_blocks - 1)).alias("i"),
        "payload",
    ).select(
        "media_id",
        F.md5(
            F.expr(f"substring(payload, CAST(i * {_BLOCK_SZ} + 1 AS INT), {_BLOCK_SZ})")
        ).alias("chk"),
    )
    # ONE blocking/hash pass (round 10, guide §2.4): the block table
    # feeds both the frequency aggregate and the join probe; without a
    # shared exchange Spark re-ran the explode+substring+md5 pass per
    # branch (payload-proportional — the dominant cost at scale, 2x).
    # An explicit repartition on the checksum key gives both branches
    # the IDENTICAL shuffle subtree, which AQE deduplicates at runtime
    # (final plan: the frequency branch reads a ReusedExchange of the
    # probe branch's chk shuffle — plans/r10/..._after.txt). Measured
    # steady state 1.04s -> 0.68s at sf0.1; only the 16-byte checksum
    # + media_id ride the shuffle, as before.
    blocks = blocks.repartition("chk")
    dfreq = blocks.groupBy("chk").agg(F.count_distinct("media_id").alias("nm"))
    shared = (F.col("nm") >= 2).cast("int")
    return (
        blocks.join(dfreq, "chk")
        .groupBy("media_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(shared).cast("long").alias("n_shared_blocks"),
            F.round(
                F.sum(shared).cast("double") / F.count("*").cast("double"), 6
            ).alias("shared_frac"),
        )
    )


q_multimodal_block_dedup.__doc__ = q_multimodal_block_dedup.__doc__.replace(
    "{B}", str(_BLOCK_SZ)
)
