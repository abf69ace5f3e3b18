"""Training-data curation operators over ``documents`` — the second
wave of LLM-pipeline ops beyond plans/llm_text.py: repetition
detection (Gopher-style duplicate-n-gram fraction), PII redaction,
document chunking for context windows, per-domain caps, stratified
(language-balanced) sampling, and token-budget packing.

All JVM-side built-in column functions — no Python UDFs — and every
query is DuckDB-oracle-checked. Selection/assignment decisions are
pure functions of row content (hashes, integer math), never RNG or
partition order, so results are reproducible across engines, reruns,
and repartitioning — the property that matters when the pipeline runs
over 100 TB and must be auditable.

Extension scope: the reference's only dataflow is mapF -> shuffle ->
reduceF over opaque strings (/root/reference/src/common/common_map.go:59,
common_reduce.go:51); none of these operators have a counterpart there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.functions.text import tokens
from simplemapreduce_spark.oracle_sql import SQL_TOKENS
from simplemapreduce_spark.sources.tables import ensure_parallelism, load_table


# Spark-side bigram array from a `toks` array column (same construction
# as plans/llm_text.py q_text_bigrams).
# Guarded for < 2 tokens: sequence(1, 0) steps DOWN to [1, 0] and
# element_at(toks, 0) is an invalid index (Spark arrays are 1-based) —
# a single-token document would ERROR, and an empty one would emit
# phantom NULL bigrams, while DuckDB's half-open range(1, len) is just
# empty. Same hazard class as the round-5 block-dedup advice.
_BIGRAMS_EXPR = (
    "if(size(toks) < 2, array(), "
    "transform(sequence(1, size(toks) - 1), "
    "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))"
)


@query(
    "q_text_repetition",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             list_transform(range(1, len({SQL_TOKENS})),
                            i -> {SQL_TOKENS}[i] || ' ' || {SQL_TOKENS}[i+1]) AS bg
      FROM documents
    )
    SELECT doc_id,
           len(bg) AS n_bigrams,
           len(list_distinct(bg)) AS n_distinct_bigrams,
           1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / GREATEST(len(bg), 1)
             AS dup_bigram_frac
    FROM b
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score (Gopher-style quality rule:
    drop documents whose duplicate-n-gram fraction is high). Row-local
    array math — zero shuffles, runs at scan speed."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    bg = d.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.expr(_BIGRAMS_EXPR).alias("bg")
    )
    n = F.size("bg")
    nd = F.size(F.array_distinct("bg"))
    return bg.select(
        "doc_id",
        n.cast("long").alias("n_bigrams"),
        nd.cast("long").alias("n_distinct_bigrams"),
        (F.lit(1.0) - nd.cast("double") / F.greatest(n, F.lit(1))).alias("dup_bigram_frac"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@query(
    "q_text_pii_redact",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id,
             'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text AS raw
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(raw, '\\+1-555-[0-9]{{4}}')) AS n_phones,
           md5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '\\+1-555-[0-9]{{4}}', '<PHONE>', 'g')) AS redacted_fp
    FROM enriched
    """,
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex-redact emails and phone numbers, count the
    redactions, fingerprint the scrubbed text. The fixture corpus has
    no natural PII, so the query deterministically injects one email +
    one phone per document first — both engines build and scrub the
    same strings, proving the redaction machinery end-to-end (the md5
    would expose any engine disagreement in match semantics).
    Patterns are RE2-and-Java-regex-compatible by construction."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    raw = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.col("text"),
    )
    enriched = d.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return enriched.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
    )


CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # 16-char overlap


@query(
    "q_text_chunks",
    oracle=f"""
    SELECT doc_id,
           unnest(range(0, (length(text) - 1) // {CHUNK_STRIDE} + 1)) AS chunk_id,
           unnest(list_transform(range(0, (length(text) - 1) // {CHUNK_STRIDE} + 1),
                  i -> substr(text, CAST(1 + {CHUNK_STRIDE} * i AS BIGINT), {CHUNK_SIZE})))
             AS chunk
    FROM documents
    """,
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunking for context windows: {CHUNK_SIZE}-char
    chunks every {CHUNK_STRIDE} chars (16-char overlap), one output row
    per chunk. Chunk boundaries are pure integer math on the row —
    row-local explode, no shuffle, same contract at any scale. (A
    token-aware chunker swaps the substring for a token-slice; the
    plan shape is identical.)"""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Empty-document audit (round 6): BOTH engines divide (length-1) by
    # the stride with truncate-toward-zero semantics (Spark `div` and
    # DuckDB `//` alike), so an empty document emits exactly ONE
    # empty-string chunk on each side — consistent by construction,
    # verified by the degenerate-document parity test.
    chunks = F.expr(
        f"transform(sequence(0, int((length(text) - 1) div {CHUNK_STRIDE})), "
        f"i -> struct(cast(i as bigint) as chunk_id, substring(text, 1 + {CHUNK_STRIDE} * i, {CHUNK_SIZE}) as chunk))"
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk").alias("chunk"))
    )


DOMAIN_CAP = 20


@query(
    "q_domain_caps",
    oracle=f"""
    SELECT source, doc_id, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents
    ) WHERE rnk <= {DOMAIN_CAP}
    """,
)
def q_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps (anti-domination rule: no source may
    contribute more than {DOMAIN_CAP} documents, keeping the longest
    first deterministically). Catalyst executes the rank<=k filter as
    WindowGroupLimit — per-partition top-k heaps before the shuffle,
    so the full sort never happens (same plan family as
    q_topk_per_group)."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= DOMAIN_CAP)
    )


@query(
    "q_sample_stratified",
    oracle="""
    SELECT lang, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                         < (CASE WHEN lang = 'en' THEN '40' ELSE 'c0' END)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents GROUP BY lang
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced (stratified) sampling: downsample the dominant
    language (en keeps 25%, everything else 75%) via the same
    content-hash membership rule as q_sample_hash — per-row local
    decision, no RNG, no per-group counting pass, identical on every
    engine. One aggregation measures the realized rates."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    threshold = F.when(F.col("lang") == "en", "40").otherwise("c0")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(bucket < threshold, 1).otherwise(0)).alias("n_sampled"),
    )


# Target language mixture for q_data_mixture (must sum to 1).
MIXTURE_WEIGHTS = {"en": 0.4, "de": 0.15, "zh": 0.15, "fr": 0.15, "es": 0.15}

_SQL_MIX_WEIGHTS = ", ".join(
    f"('{lang}', CAST({w} AS DOUBLE))" for lang, w in MIXTURE_WEIGHTS.items()
)


@query(
    "q_data_mixture",
    oracle=f"""
    WITH hx AS (
      SELECT lang,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS DOUBLE) AS hx
      FROM documents
    ),
    counts AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang),
    w(lang, w) AS (VALUES {_SQL_MIX_WEIGHTS}),
    cap AS (SELECT MIN(n_total / w) AS cap FROM counts JOIN w USING (lang)),
    rates AS (
      SELECT lang, LEAST(CAST(1.0 AS DOUBLE), w * cap / n_total) AS rate
      FROM counts JOIN w USING (lang) CROSS JOIN cap
    )
    SELECT h.lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN h.hx < r.rate * 65536.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           ROUND(ANY_VALUE(r.rate), 6) AS target_rate
    FROM hx h JOIN rates r ON h.lang = r.lang
    GROUP BY h.lang
    """,
)
def q_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture resampling: given target language proportions,
    compute per-language acceptance rates that realize the mixture at
    the largest corpus size possible WITHOUT upsampling (capacity =
    min over languages of n_l / w_l), then sample by content hash.

    Two corpus passes, both single-shuffle aggregations: (1) per-lang
    counts (5 rows), from which the rate table is derived driver-free
    (tiny joins + one broadcast scalar); (2) the hash-membership count
    join against the broadcast rate table. Same shape at 100 TB — the
    mixture math never touches the corpus, and acceptance is a pure
    per-row hash decision (reproducible across engines/reruns)."""
    d = load_table(spark, sf_dir, "documents")
    d2 = d.select(
        "lang",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("double")
        .alias("hx"),
    )
    counts = d.groupBy("lang").agg(F.count("*").alias("n_total"))
    w = spark.createDataFrame(
        [(lang, wt) for lang, wt in MIXTURE_WEIGHTS.items()], "lang string, w double"
    )
    cw = counts.join(w, "lang")
    cap = cw.agg(F.min(F.col("n_total") / F.col("w")).alias("cap"))
    rates = cw.crossJoin(F.broadcast(cap)).select(
        "lang",
        F.least(F.lit(1.0), F.col("w") * F.col("cap") / F.col("n_total")).alias("rate"),
    )
    return (
        d2.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("hx") < F.col("rate") * 65536.0, 1).otherwise(0)).alias(
                "n_sampled"
            ),
            F.round(F.first("rate"), 6).alias("target_rate"),
        )
    )


LENGTH_BUCKET = 16


@query(
    "q_length_histogram",
    oracle=f"""
    SELECT CAST((len({SQL_TOKENS}) // {LENGTH_BUCKET}) * {LENGTH_BUCKET} AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(len({SQL_TOKENS})) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY 1
    """,
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram in fixed {LENGTH_BUCKET}-token buckets
    — the batch-shape planning statistic (how many docs fit which
    context windows, where padding waste concentrates). One row-local
    tokenize + one aggregation; partial aggregation makes the shuffle
    carry only bucket counts at any scale. No ensure_parallelism: the
    tokenize-and-count map is cheaper than the repartition it would
    buy (the q_text_token_stats regression class, VERDICT r2)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.size(tokens("text")).cast("long").alias("n"))
    return (
        t.groupBy(F.expr(f"(n div {LENGTH_BUCKET}) * {LENGTH_BUCKET}").alias("bucket_lo"))
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("total_tokens"))
    )


PACK_BUDGET = 2048


@query(
    "q_pack_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len({SQL_TOKENS}) AS n_tokens FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id
    FROM t
    """,
)
def q_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: assign documents (per language, in stable
    doc_id order) to consecutive {PACK_BUDGET}-token training shards —
    pack_id = floor(running token count before this doc / budget).
    Pure integer window math: deterministic, engine-portable, and a
    single window shuffle at any scale. (Greedy bin packing that never
    splits a doc across shards would be the stateful variant —
    applyInPandas per lang — at the cost of exact shard fill.)"""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tokens"))
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    running = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        ((running - F.col("n_tokens")) / PACK_BUDGET).cast("long").alias("pack_id"),
    )


_URL_RE = r"https?://[A-Za-z0-9.-]+/[A-Za-z0-9]*"


@query(
    "q_text_url_extract",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id,
             'see https://site' || CAST(doc_id % 50 AS VARCHAR) || '.example/page'
               || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0
                       THEN ' and http://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example/x'
                       ELSE '' END || ' ' || text AS raw
      FROM documents
    ),
    urls AS (
      SELECT doc_id, unnest(regexp_extract_all(raw, '{_URL_RE}')) AS url FROM enriched
    )
    SELECT regexp_extract(url, 'https?://([A-Za-z0-9.-]+)/', 1) AS domain,
           COUNT(*) AS n_urls,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM urls
    GROUP BY 1
    """,
)
def q_text_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + per-domain aggregation — the link-analysis
    step behind domain filtering and link-density quality rules. The
    fixture corpus has no URLs, so each document deterministically
    injects 1-2 before extraction (same proof strategy as
    q_text_pii_redact: both engines build and parse identical strings,
    so the regex machinery is verified end-to-end). Row-local
    extract + one partial-agg shuffle carrying only (domain, counts)
    at any scale; the pattern is Java-and-RE2 compatible."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    raw = F.concat(
        F.lit("see https://site"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".example/page"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" and http://cdn"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example/x"),
            ),
        ).otherwise(""),
        F.lit(" "),
        F.col("text"),
    )
    urls = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(raw.alias("raw"), F.lit(_URL_RE), 0)).alias("url"),
    )
    return (
        urls.select("doc_id", F.regexp_extract("url", r"https?://([A-Za-z0-9.-]+)/", 1).alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").alias("n_urls"), F.countDistinct("doc_id").alias("n_docs"))
    )


@query(
    "q_pipeline_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             (n_chars BETWEEN 100 AND 5000) AS len_ok,
             (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                / GREATEST(length(text), 1)) < 0.3 AS digit_ok,
             len({SQL_TOKENS}) >= 5 AS tokens_ok
      FROM documents
    )
    SELECT 'len' AS rule, COUNT(*) FILTER (WHERE NOT len_ok) AS n_failing FROM scored
    UNION ALL
    SELECT 'digit' AS rule, COUNT(*) FILTER (WHERE NOT digit_ok) FROM scored
    UNION ALL
    SELECT 'tokens' AS rule, COUNT(*) FILTER (WHERE NOT tokens_ok) FROM scored
    UNION ALL
    SELECT 'kept' AS rule, COUNT(*) FILTER (WHERE len_ok AND digit_ok AND tokens_ok)
    FROM scored
    """,
)
def q_pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel with per-rule drop attribution: every rule
    evaluated on every document in ONE scan (conditional counts, then
    a 4-row unpivot of the summary), so the report answers 'which rule
    costs how much data' without re-running the pipeline per rule —
    the observability contract of a curation funnel. Rules are
    independent booleans (a doc can fail several), 'kept' is their
    conjunction; the filtered corpus itself is q_domain_caps /
    q_data_mixture territory."""
    d = load_table(spark, sf_dir, "documents")
    text_len = F.greatest(F.length("text"), F.lit(1))
    digit_ratio = F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("double") / text_len
    scored = d.select(
        F.col("n_chars").between(100, 5000).alias("len_ok"),
        (digit_ratio < 0.3).alias("digit_ok"),
        (F.size(tokens("text")) >= 5).alias("tokens_ok"),
    )
    summary = scored.agg(
        F.count_if(~F.col("len_ok")).alias("len"),
        F.count_if(~F.col("digit_ok")).alias("digit"),
        F.count_if(~F.col("tokens_ok")).alias("tokens"),
        F.count_if(
            F.col("len_ok") & F.col("digit_ok") & F.col("tokens_ok")
        ).alias("kept"),
    )
    unpivoted = summary.unpivot([], ["len", "digit", "tokens", "kept"], "rule", "n_failing")
    return unpivoted.select("rule", F.col("n_failing").cast("long"))


@query(
    "q_curation_winsorize",
    oracle="""
    WITH edges AS (
      SELECT event_type,
             quantile_disc(value, 0.05) AS lo,
             quantile_disc(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) FILTER (e.value < x.lo) AS BIGINT) AS n_clamped_lo,
           CAST(COUNT(*) FILTER (e.value > x.hi) AS BIGINT) AS n_clamped_hi,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS raw_cents,
           CAST(SUM(CAST(round(GREATEST(x.lo, LEAST(x.hi, e.value)) * 100) AS BIGINT)) AS BIGINT)
             AS winsorized_cents
    FROM events e JOIN edges x USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_curation_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization audit per event type: clamp values to the
    [p5, p95] band and report how many rows hit each edge plus the
    raw-vs-winsorized mass shift — the standard tail-taming step
    before a feature feeds a model (outliers capped, not dropped).

    Edges are DISCRETE percentiles (stored values, bit-identical
    across engines — the q_histogram_equidepth contract), clamping is
    row-local min/max against the broadcast per-type edge table, and
    both sums are INTEGER CENTS (per-row round, then exact bigint
    sum), so no float-summation order can enter the compare. Scale
    shape: one percentile aggregate over vocabulary-sized groups, one
    broadcast join, one partial/final aggregate — two scans total."""
    e = load_table(spark, sf_dir, "events")
    edges = e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.05, 1000000)").alias("lo"),
        F.expr("approx_percentile(value, 0.95, 1000000)").alias("hi"),
    )
    j = e.join(F.broadcast(edges), "event_type")
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value")))
    return j.groupBy("event_type").agg(
        F.count(F.when(F.col("value") < F.col("lo"), 1)).cast("long").alias("n_clamped_lo"),
        F.count(F.when(F.col("value") > F.col("hi"), 1)).cast("long").alias("n_clamped_hi"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("raw_cents"),
        F.sum(F.round(clamped * 100).cast("long")).cast("long").alias("winsorized_cents"),
    )


@query(
    "q_url_canonical_dedup",
    oracle=r"""
    WITH raw AS (
      SELECT doc_id,
             CASE (doc_id // 60) % 4
               WHEN 0 THEN 'https://site' || CAST(doc_id % 30 AS VARCHAR)
                           || '.example/page' || CAST(doc_id % 12 AS VARCHAR)
               WHEN 1 THEN 'https://WWW.Site' || CAST(doc_id % 30 AS VARCHAR)
                           || '.EXAMPLE/page' || CAST(doc_id % 12 AS VARCHAR) || '/'
               WHEN 2 THEN 'https://site' || CAST(doc_id % 30 AS VARCHAR)
                           || '.example/page' || CAST(doc_id % 12 AS VARCHAR)
                           || '?utm_source=feed&ref=2'
               ELSE 'https://Site' || CAST(doc_id % 30 AS VARCHAR)
                           || '.example/page' || CAST(doc_id % 12 AS VARCHAR)
                           || '#section-3'
             END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id, url,
             regexp_replace(
               regexp_replace(
                 lower(regexp_replace(url, '[?#].*$', '')),
                 '^(https?://)www\.', '\1'),
               '/$', '') AS canonical_url
      FROM raw
    )
    SELECT canonical_url,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM canon
    GROUP BY canonical_url
    HAVING COUNT(DISTINCT url) > 1
    """,
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-curation step that
    collapses surface variants of the same page (mixed-case host,
    www. prefix, tracking query params, fragments, trailing slash)
    into one canonical key before fetch-dedup or per-URL quality
    joins. The fixture has no URL column, so each document
    deterministically derives one of four messy variants of a shared
    target (same injected-string proof strategy as q_text_url_extract
    / q_text_pii_redact: both engines build and canonicalize identical
    strings, so the normalization chain is verified end-to-end). The
    variant selector is the COPY INDEX within the canonical class,
    (doc_id // 60) % 4 — round 4 fix: the original doc_id % 4 was
    CONSTANT inside every mod-60 class (4 divides 60), so no canonical
    key ever collapsed two raw forms and the query returned zero rows
    at every SF — vacuously green since it was added. Caught by the
    round-4 all-boolean/empty-output audit.

    Canonicalization: strip query+fragment, lowercase, drop the www.
    host prefix, drop the trailing slash — each a row-local regexp (on
    a cluster this is scan-speed map work); the dedup itself is one
    hash aggregation on the canonical key. Output: canonical URLs that
    actually collapsed 2+ raw forms, with occurrence/document counts."""
    d = load_table(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 30).cast("string")
    pg = (F.col("doc_id") % 12).cast("string")
    variant = (F.col("doc_id") / 60).cast("long") % 4
    url = (
        F.when(variant == 0,
               F.concat(F.lit("https://site"), k, F.lit(".example/page"), pg))
        .when(variant == 1,
              F.concat(F.lit("https://WWW.Site"), k, F.lit(".EXAMPLE/page"), pg, F.lit("/")))
        .when(variant == 2,
              F.concat(F.lit("https://site"), k, F.lit(".example/page"), pg,
                       F.lit("?utm_source=feed&ref=2")))
        .otherwise(
            F.concat(F.lit("https://Site"), k, F.lit(".example/page"), pg,
                     F.lit("#section-3")))
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_replace(url, r"[?#].*$", "")),
            r"^(https?://)www\.", r"$1"),
        r"/$", "")
    return (
        d.select("doc_id", url.alias("url"), canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.countDistinct("url").cast("long").alias("n_raw_forms"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .filter(F.col("n_raw_forms") > 1)
    )


@query(
    "q_sample_alpha_temperature",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 64 < 32 THEN 'b0_head'
                  WHEN doc_id % 64 < 48 THEN 'b1_mid'
                  WHEN doc_id % 64 < 63 THEN 'b2_mid'
                  ELSE 'b3_tail' END AS bucket
      FROM documents
    ),
    c AS (SELECT bucket, COUNT(*) AS n FROM d GROUP BY bucket),
    t AS (SELECT SUM(n) AS total FROM c),
    q AS (
      SELECT bucket, n,
             power(CAST(n AS DOUBLE) / t.total, 0.7) AS unnorm
      FROM c, t
    ),
    z AS (SELECT SUM(unnorm) AS zsum FROM q),
    rates AS (
      SELECT bucket, n,
             ROUND(LEAST(1.0,
               (q.unnorm / z.zsum) * (SELECT total / 2.0 FROM t) / q.n), 6) AS rate
      FROM q, z
    )
    SELECT r.bucket,
           CAST(r.n AS BIGINT) AS n_docs,
           CAST(r.rate AS DOUBLE) AS rate,
           CAST(SUM(CASE WHEN
                 (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  % 1000000) < r.rate * 1000000
               THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
    FROM d JOIN rates r USING (bucket)
    GROUP BY r.bucket, r.n, r.rate
    """,
)
def q_sample_alpha_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha (temperature) sampling across domains — q_l proportional
    to p_l^0.7 (the multilingual rebalancing rule from mBERT/XLM-R:
    flatten head domains, boost tail domains) targeting a half-size
    corpus, with membership decided by the content-hash threshold
    convention of plans/sampling.py. Complements q_data_mixture,
    whose target proportions are GIVEN; here they derive from the
    data itself.

    The domain key is a doc_id-derived bucket with deliberately
    UNEQUAL populations (1/2, 1/4, 15/64, 1/64) rather than the
    fixture `source` column, whose uniform counts made every rate
    collapse to exactly 0.5 — the flatten/boost exponent and the
    LEAST(1.0, ...) clamp (which the 1/64 tail bucket does hit) were
    never differentiated from plain 50 % sampling (ADVICE r3).

    Determinism across engines: p^0.7 is rounded to 6 decimals before
    thresholding, and the acceptance compare stays in the DOUBLE
    domain on both engines (``hx < rate * 1e6`` — no integer cast:
    Spark's long cast truncates while DuckDB's rounds, so a
    non-representable rate*1e6 would otherwise give off-by-one
    thresholds; ADVICE r3 medium). Scale shape: domain stats are one
    tiny aggregate broadcast back over the scan; acceptance is a pure
    per-row hash compare — no RNG, no coordination, reproducible
    under retries."""
    d0 = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 64
    d = d0.select(
        "doc_id",
        F.when(m < 32, "b0_head")
        .when(m < 48, "b1_mid")
        .when(m < 63, "b2_mid")
        .otherwise("b3_tail")
        .alias("bucket"),
    )
    c = d.groupBy("bucket").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    q = c.crossJoin(F.broadcast(t)).select(
        "bucket", "n", "total", F.pow(F.col("n").cast("double") / F.col("total"), 0.7).alias("unnorm")
    )
    z = q.agg(F.sum("unnorm").alias("zsum"))
    rates = q.crossJoin(F.broadcast(z)).select(
        "bucket",
        "n",
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("unnorm") / F.col("zsum")) * (F.col("total") / 2.0) / F.col("n"),
            ),
            6,
        ).alias("rate"),
    )
    hx = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 1000000
    # Double-domain compare on both engines — never cast the threshold
    # to an integer (Spark truncates, DuckDB rounds-to-nearest).
    sel = (hx < F.col("rate") * 1000000).cast("int")
    return (
        d.join(F.broadcast(rates), "bucket")
        .groupBy("bucket", "n", "rate")
        .agg(F.sum(sel).cast("long").alias("n_selected"))
        .select(
            "bucket",
            F.col("n").cast("long").alias("n_docs"),
            "rate",
            "n_selected",
        )
    )


@query(
    "q_pipeline_curation_funnel",
    oracle=r"""
    WITH train AS (
      SELECT doc_id, source, n_chars, text FROM documents WHERE doc_id % 10 <> 0
    ),
    thr AS (SELECT CAST(quantile_cont(n_chars, 0.2) AS DOUBLE) AS t FROM train),
    q AS (
      SELECT *, (n_chars >= (SELECT t FROM thr)) AS pass_quality FROM train
    ),
    fp AS (
      SELECT *, md5(substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 50))
               AS fingerprint
      FROM q
    ),
    dd AS (
      SELECT *, pass_quality AND (ROW_NUMBER() OVER (
               PARTITION BY fingerprint, pass_quality ORDER BY doc_id) = 1)
             AS pass_dedup
      FROM fp
    ),
    toks AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS arr
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
            FROM documents)
      WHERE len(t) >= 3
    ),
    eval_grams AS (
      SELECT DISTINCT unnest(arr) AS shingle FROM toks WHERE doc_id % 10 = 0
    ),
    contam AS (
      SELECT t.doc_id,
             CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / len(MIN(t.arr)) AS frac
      FROM (SELECT doc_id, arr, unnest(arr) AS shingle FROM toks
            WHERE doc_id % 10 <> 0) t
      LEFT JOIN eval_grams e USING (shingle)
      GROUP BY t.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(SUM(CASE WHEN d.pass_quality THEN 1 ELSE 0 END) AS BIGINT)
             AS n_after_quality,
           CAST(SUM(CASE WHEN d.pass_dedup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_after_dedup,
           CAST(SUM(CASE WHEN d.pass_dedup AND COALESCE(c.frac, 0) < 0.2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_after_decontam
    FROM dd d LEFT JOIN contam c USING (doc_id)
    GROUP BY d.source
    """,
)
def q_pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline with per-stage attrition: quality
    gate (drop the shortest quintile — the cutoff derives from the
    data, so it never goes vacuous when fixtures regenerate) ->
    lead-prefix dedup (first doc per 50-char normalized-prefix
    fingerprint among quality survivors — the near-identical-lead
    rule; the fixture has no byte-exact dups, so an exact fingerprint
    would leave this stage vacuously green, the ADVICE r2 trap) ->
    benchmark decontamination (3-gram overlap fraction
    vs the held-out eval docs, q_decontaminate_ngram's threshold) —
    reported as a per-source funnel, the acceptance dashboard every
    production curation run publishes.

    Scale shape: each stage is the already-proven primitive (broadcast
    scalar threshold; fingerprint window keyed on content hash;
    broadcast eval-gram set with one doc-grain aggregate); stages
    compose as column flags on ONE pass over the corpus rather than
    materializing intermediate tables, so the whole funnel costs one
    scan + three vocabulary/doc-bounded shuffles."""
    from pyspark.sql import Window as W

    from simplemapreduce_spark.plans.dedup import doc_shingle_arrays

    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 10 != 0)
    thr = train.agg(F.expr("percentile(n_chars, 0.2)").alias("t"))
    q = train.crossJoin(F.broadcast(thr)).withColumn(
        "pass_quality", F.col("n_chars") >= F.col("t")
    )
    fp = F.md5(
        F.substring(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), 1, 50)
    )
    rn = F.row_number().over(
        W.partitionBy("fingerprint", "pass_quality").orderBy("doc_id")
    )
    dd = (
        q.withColumn("fingerprint", fp)
        .withColumn("pass_dedup", F.col("pass_quality") & (rn == 1))
    )
    doc_sh = doc_shingle_arrays(spark, sf_dir)
    eval_grams = (
        doc_sh.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode("arr").alias("shingle"))
        .distinct()
    )
    contam = (
        doc_sh.filter(F.col("doc_id") % 10 != 0)
        .select("doc_id", F.size("arr").alias("n_grams"), F.explode("arr").alias("shingle"))
        .join(F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).cast("double")
                / F.first("n_grams")
            ).alias("frac")
        )
    )
    out = dd.join(contam, "doc_id", "left")
    keep3 = F.col("pass_dedup") & (F.coalesce("frac", F.lit(0.0)) < 0.2)
    return out.groupBy("source").agg(
        F.count("*").cast("long").alias("n_input"),
        F.sum(F.col("pass_quality").cast("int")).cast("long").alias("n_after_quality"),
        F.sum(F.col("pass_dedup").cast("int")).cast("long").alias("n_after_dedup"),
        F.sum(keep3.cast("int")).cast("long").alias("n_after_decontam"),
    )


@query(
    "q_sft_render",
    oracle="""
    WITH rendered AS (
      SELECT doc_id,
             '<|system|>You are a helpful assistant.<|user|>Summarize the '
               || source || ' document in ' || lang
               || '.<|assistant|>' AS prompt,
             text AS response
      FROM documents
    )
    SELECT doc_id,
           md5(prompt || response) AS example_md5,
           CAST(len(list_filter(string_split_regex(prompt, '\\s+'), x -> x <> ''))
                AS BIGINT) AS n_prompt_tokens,
           CAST(len(list_filter(string_split_regex(response, '\\s+'), x -> x <> ''))
                AS BIGINT) AS n_response_tokens,
           (len(list_filter(string_split_regex(prompt, '\\s+'), x -> x <> ''))
            + len(list_filter(string_split_regex(response, '\\s+'), x -> x <> ''))
            <= 64) AS fits_budget
    FROM rendered
    """,
)
def q_sft_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT example assembly: render each document into a chat-template
    training example (system + instruction + response with special
    tokens), and compute the LOSS-MASK boundary — prompt-token vs
    response-token counts (the split that decides which positions
    contribute loss) — plus a sequence-budget flag. The rendered
    string itself is fingerprinted (md5) so the oracle verifies the
    byte-exact template assembly without hauling full prompts through
    the compare.

    Row-local string work end-to-end (scan-speed on a cluster); the
    tokenization contract is the whitespace convention shared with
    functions/text.py — a BPE swap changes only the count expression,
    not the plan shape."""
    d = load_table(spark, sf_dir, "documents")
    prompt = F.concat(
        F.lit("<|system|>You are a helpful assistant.<|user|>Summarize the "),
        F.col("source"),
        F.lit(" document in "),
        F.col("lang"),
        F.lit(".<|assistant|>"),
    )
    n_prompt = F.size(tokens(prompt))
    n_response = F.size(tokens(F.col("text")))
    return d.select(
        "doc_id",
        F.md5(F.concat(prompt, F.col("text"))).alias("example_md5"),
        n_prompt.cast("long").alias("n_prompt_tokens"),
        n_response.cast("long").alias("n_response_tokens"),
        ((n_prompt + n_response) <= 64).alias("fits_budget"),
    )


@query(
    "q_sample_topp_mass",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) - n_chars AS cum_before,
             SUM(n_chars) OVER (PARTITION BY source) AS total_mass
      FROM documents
    ), kept AS (
      SELECT * FROM ranked WHERE 2 * cum_before < total_mass
    )
    SELECT k.source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MAX(n.n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(k.n_chars) AS BIGINT) AS mass_kept,
           CAST(MAX(k.total_mass) AS BIGINT) AS mass_total,
           CAST(ROUND(CAST(SUM(k.n_chars) AS DOUBLE) / MAX(k.total_mass), 6)
                AS DOUBLE) AS coverage
    FROM kept k
      JOIN (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1) n
        USING (source)
    GROUP BY k.source
    """,
)
def q_sample_topp_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus-style top-p curation: per source, keep the smallest set
    of longest documents whose cumulative character mass reaches p=50%
    of the source's total — the "head of the mass" selection used to
    skim the densest documents from each domain under a token budget
    (the mass-based dual of q_domain_caps' count-based cap).

    Determinism: mass is the exact BIGINT n_chars column; the nucleus
    condition 2*cum_before < total is pure integer arithmetic (the
    p=0.5 threshold multiplied through — no float division anywhere in
    the selection), and the (n_chars DESC, doc_id) ordering totalizes
    ties, so membership is bit-identical on any engine or partitioning.
    Only the reported coverage ratio divides, after rounding.

    Scale shape: one cumulative-sum window per source partition (sort
    within group) plus its total — both carried by the same shuffle on
    source; the aggregate report is |sources| rows. Skewed sources
    sort within their own partition; no global sort, no collect."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    wcum = (
        W.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("source")
    ranked = d.select(
        "source",
        "doc_id",
        "n_chars",
        (F.sum("n_chars").over(wcum) - F.col("n_chars")).alias("cum_before"),
        F.sum("n_chars").over(wall).alias("total_mass"),
        F.count("*").over(wall).alias("n_docs"),
    )
    kept = ranked.filter(2 * F.col("cum_before") < F.col("total_mass"))
    return kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max("n_docs").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("mass_kept"),
        F.max("total_mass").cast("long").alias("mass_total"),
        F.round(
            F.sum("n_chars").cast("double") / F.max("total_mass"), 6
        ).alias("coverage"),
    )


@query(
    "q_preference_pairs",
    oracle="""
    WITH scored AS (
      SELECT doc_id, doc_id % 200 AS prompt_id,
             len(list_distinct(list_filter(
               string_split_regex(text, '\\s+'), t -> t <> ''))) AS score,
             n_chars
      FROM documents
    ), g AS (
      SELECT prompt_id,
             COUNT(*) AS n_candidates,
             first(doc_id ORDER BY score DESC, n_chars DESC, doc_id)
               AS chosen_doc_id,
             first(score  ORDER BY score DESC, n_chars DESC, doc_id)
               AS chosen_score,
             first(doc_id ORDER BY score ASC, n_chars ASC, doc_id)
               AS rejected_doc_id,
             first(score  ORDER BY score ASC, n_chars ASC, doc_id)
               AS rejected_score
      FROM scored GROUP BY 1
    )
    SELECT CAST(prompt_id AS BIGINT) AS prompt_id,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(chosen_doc_id AS BIGINT) AS chosen_doc_id,
           CAST(rejected_doc_id AS BIGINT) AS rejected_doc_id,
           CAST(chosen_score AS BIGINT) AS chosen_score,
           CAST(rejected_score AS BIGINT) AS rejected_score,
           CAST(chosen_score - rejected_score AS BIGINT) AS margin
    FROM g
    WHERE n_candidates >= 2 AND chosen_score > rejected_score
    """,
)
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction: within each response
    group, emit (chosen, rejected) = the best- and worst-scoring
    candidates with a strictly positive margin — the
    dataset-assembly step between scoring and preference training
    (complement of q_sft_render, which formats the chosen side). The
    fixture has no prompt column, so a deterministic doc_id bucket
    stands in for the prompt key; the shape (group -> argmax/argmin ->
    strict-margin filter) is the real pipeline's.

    Score = distinct-token count (lexical richness — the shared
    tokenizer contract of functions/text.py), tie-broken by n_chars
    then doc_id: a TOTAL order, so argmax and argmin are unique.
    Spark computes both extremes as one partial/final aggregate of
    lexicographic MAX/MIN over (score, n_chars, ±doc_id) structs — no
    sort window, constant state per group; DuckDB spells the same
    selection as ordered-set `first(... ORDER BY ...)`. Groups where
    every candidate ties (margin 0) are dropped identically on both
    engines — preference training needs strict pairs.

    Scale shape: per-doc scoring is row-local JVM expressions; one
    hash agg by prompt_id (the natural key a real preference set is
    already distributed by) and no joins. All integers end-to-end."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        (F.col("doc_id") % 200).alias("prompt_id"),
        F.size(F.array_distinct(tokens("text"))).alias("score"),
        "n_chars",
    )
    hi = F.max(
        F.struct(F.col("score"), F.col("n_chars"), (-F.col("doc_id")).alias("nd"))
    ).alias("hi")
    lo = F.min(F.struct(F.col("score"), F.col("n_chars"), F.col("doc_id"))).alias("lo")
    g = scored.groupBy("prompt_id").agg(F.count("*").alias("n_candidates"), hi, lo)
    return (
        g.filter(
            (F.col("n_candidates") >= 2) & (F.col("hi.score") > F.col("lo.score"))
        )
        .select(
            F.col("prompt_id").cast("long").alias("prompt_id"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            (-F.col("hi.nd")).cast("long").alias("chosen_doc_id"),
            F.col("lo.doc_id").cast("long").alias("rejected_doc_id"),
            F.col("hi.score").cast("long").alias("chosen_score"),
            F.col("lo.score").cast("long").alias("rejected_score"),
            (F.col("hi.score") - F.col("lo.score")).cast("long").alias("margin"),
        )
    )
