"""Data-governance & pipeline-composition queries: dataset profiling,
PII redaction, fuzzy record linkage, full-outer reconciliation, and the
end-to-end corpus-build composition.

The reference's governance surface is thin — COUNT(*) monitor scans
(SURVEY.md S5/A8) and Python row templating in the sinks (P11). A
training-data platform needs the fuller set; everything here is exact
column expressions with a DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd  # noqa: TC002 — pandas_udf type hints must resolve at runtime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_project_spark.operators.linkage import (
    multi_pass_fuzzy_pairs,
)
from stream_processing_project_spark.operators.profiling import (
    profile_columns,
    value_histogram,
)
from stream_processing_project_spark.operators.text import (
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    STOPWORDS,
    redact_pii,
)
from stream_processing_project_spark.plans.common import bucketed_running_sum, t
from stream_processing_project_spark.plans.registry import register

# Physical plan of timeseries_paa_similarity's winning grid pass, for
# test introspection: the builder returns the verification collect as a
# local frame (no re-execution), so tests/test_plan_properties.py pins
# the no-BroadcastNestedLoopJoin invariant on the pass that actually ran.
_LAST_PAA_GRID_PLAN: str | None = None

_SW_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])


# =========================== profiling ======================================


@register(
    "profile_events_columns",
    oracle="""
WITH base AS (SELECT * FROM events)
SELECT 'value' AS col_name, count(*) AS n_rows,
       count(*) - count(value) AS n_nulls,
       count(DISTINCT value) AS n_distinct,
       CAST(min(value) AS DOUBLE) AS min_val,
       CAST(max(value) AS DOUBLE) AS max_val
FROM base
UNION ALL
SELECT 'user_id', count(*), count(*) - count(user_id),
       count(DISTINCT user_id),
       CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE)
FROM base
UNION ALL
SELECT 'event_type', count(*), count(*) - count(event_type),
       count(DISTINCT event_type),
       CAST(min(length(event_type)) AS DOUBLE),
       CAST(max(length(event_type)) AS DOUBLE)
FROM base
UNION ALL
SELECT 'props', count(*), count(*) - count(props),
       count(DISTINCT props),
       CAST(min(length(props)) AS DOUBLE),
       CAST(max(length(props)) AS DOUBLE)
FROM base
""",
    tags=("bench",),
)
def profile_events_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profile of the event stream (nulls,
    cardinality, range per column; string columns profile length) —
    the corpus-validation step before training. One global aggregation
    with map-side partials; `stack` reshapes the 1-row result to long
    format with no extra scan. At 100 TB flip exact=False for
    HyperLogLog cardinalities (operators/profiling.py)."""
    return profile_columns(
        t(spark, sf_dir, "events"),
        numeric_cols=["value", "user_id"],
        string_cols=["event_type", "props"],
    )


@register(
    "profile_value_histogram",
    oracle="""
SELECT CAST(floor(value / 50.0) AS INTEGER) AS bucket,
       count(*) AS cnt, min(value) AS lo, max(value) AS hi
FROM events
GROUP BY 1
""",
)
def profile_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (bucket = floor(v/50)) —
    distribution profiling as a pure groupBy: O(n_buckets) shuffle
    after partial aggregation, float-exact bucket edges (floor of a
    division, never a rounded division)."""
    return value_histogram(t(spark, sf_dir, "events"), "value", 50.0)


@register(
    "profile_histogram_quantiles",
    oracle="""
WITH hist AS (
  SELECT event_type, CAST(floor(value / 8.0) AS BIGINT) AS bin, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, bin,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS total
  FROM hist
)
SELECT event_type,
       CAST(max(total) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= 0.5 * total THEN bin END) * 8.0 AS DOUBLE) AS p50,
       CAST(min(CASE WHEN cum >= 0.9 * total THEN bin END) * 8.0 AS DOUBLE) AS p90,
       CAST(min(CASE WHEN cum >= 0.99 * total THEN bin END) * 8.0 AS DOUBLE) AS p99
FROM c GROUP BY event_type
""",
)
def profile_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-sketch percentiles (p50/p90/p99 of value per
    event type): fixed-width bin counts are the sketch (algebraic,
    map-side combinable, O(bins) state — the shape that rolls up across
    days/shards by addition), quantile = left edge of the first bin
    reaching q·total. Deterministic integer decisions end to end, so
    unlike approx_percentile's digest this approximation carries a full
    value-hash oracle (operators/profiling.py::histogram_quantiles);
    exact-quantile tradeoff is covered by olap_distinct_quantiles /
    olap_median_order_value."""
    from stream_processing_project_spark.operators.profiling import (
        histogram_quantiles,
    )

    return histogram_quantiles(
        t(spark, sf_dir, "events"), "value", "event_type", bucket_width=8.0
    )


@register(
    "profile_quantile_sketch",
    oracle="""
WITH sk AS (
  SELECT ((((l_orderkey * 8 + l_linenumber) % 2147483647) * 1103515245
           + 12345) % 2147483647) AS h,
         l_extendedprice AS v
  FROM lineitem
),
sample AS (SELECT h, v FROM sk ORDER BY h, v LIMIT 1024),
ranked AS (
  SELECT v, row_number() OVER (ORDER BY v, h) AS r, count(*) OVER () AS m
  FROM sample
),
est AS (
  SELECT q.q_pct, ranked.v AS est_value, ranked.m AS sample_k
  FROM ranked
  JOIN (VALUES (1),(5),(25),(50),(75),(90),(99)) q(q_pct)
    ON ranked.r = (q.q_pct * ranked.m + 99) // 100
)
SELECT e.q_pct, e.est_value, e.sample_k,
       CAST((CAST(sum(CASE WHEN li.l_extendedprice <= e.est_value
                           THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
            // count(*) AS BIGINT) AS true_rank_ppm
FROM lineitem li CROSS JOIN est e
GROUP BY 1, 2, 3
""",
)
def profile_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable RANK sketch (bottom-k by deterministic hash) — the
    missing rung of the sketch ladder HLL→CMS→KMV→histogram: quantiles
    with a distribution-free DKW error bound (±2.7 % rank at k=1024,
    δ=0.01) and NO value-range assumption, where the fixed-width
    histogram needs the domain known up front. Shard sketches merge
    losslessly (bottom-k of a union = bottom-k of the shards' bottom-k
    union — pinned in tests/test_r07_props.py), and every decision is
    exact integer arithmetic so the sketch itself value-hash-oracles.
    Output: p1/p5/p25/p50/p75/p90/p99 of l_extendedprice plus each
    estimate's MEASURED true rank (ppm, exact integer division) — the
    error-bound audit the sketch's guarantee is about. The audit pass
    fans each row out 7× through a map-side-combined aggregate; it is
    the verification stage, production emits the O(k) sketch alone
    (operators/profiling.py::rank_sketch)."""
    from stream_processing_project_spark.operators.profiling import (
        rank_sketch,
        rank_sketch_quantiles,
    )

    li = t(spark, sf_dir, "lineitem")
    sk = rank_sketch(
        li, "l_extendedprice", F.col("l_orderkey") * 8 + F.col("l_linenumber")
    )
    est = rank_sketch_quantiles(sk)
    audit = li.select(F.col("l_extendedprice").alias("v2")).crossJoin(
        F.broadcast(est)
    )
    return (
        audit.groupBy("q_pct", "est_value", "sample_k")
        .agg(
            F.sum(F.when(F.col("v2") <= F.col("est_value"), 1).otherwise(0))
            .cast("long")
            .alias("cnt"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "q_pct",
            "est_value",
            "sample_k",
            F.expr("(cnt * 1000000) div n").cast("long").alias("true_rank_ppm"),
        )
    )


@register(
    "profile_drift_psi",
    oracle="""
WITH ev AS (
  SELECT event_type, value,
         CASE WHEN hour(ts) % 2 = 0 THEN 'a' ELSE 'b' END AS period
  FROM events
),
binned AS (
  SELECT event_type, CAST(floor(value / 8.0) AS BIGINT) AS bin,
         sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS cb
  FROM ev GROUP BY 1, 2
),
totals AS (
  SELECT event_type, sum(ca) AS na, sum(cb) AS nb, count(*) AS nbins
  FROM binned GROUP BY 1
),
j AS (
  SELECT b.event_type, b.ca, b.cb, t.na, t.nb, t.nbins,
         CAST(round(ln(((b.ca + 1) * (t.nb + t.nbins)) * 1.0
                       / ((b.cb + 1) * (t.na + t.nbins))) * 1e6) AS BIGINT) AS lr_micro
  FROM binned b JOIN totals t USING (event_type)
)
SELECT event_type,
       CAST(sum(CAST(round(((ca + 1) * 1.0 / (na + nbins)
                            - (cb + 1) * 1.0 / (nb + nbins)) * lr_micro) AS BIGINT)) AS BIGINT) AS psi_micro,
       CAST(max(na) AS BIGINT) AS n_a,
       CAST(max(nb) AS BIGINT) AS n_b,
       CAST(max(nbins) AS BIGINT) AS n_bins
FROM j GROUP BY event_type
""",
)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift monitor: distribution shift of
    event values between two periods (even vs odd ingest hour as the
    A/B stand-in), per event type — the between-snapshot check a
    training pipeline runs before trusting a new corpus cut. Histogram
    counts are the sketch; the one ln is micro-nat-quantized before any
    multiply, so PSI is a bigint sum with a full value-hash oracle
    (operators/profiling.py::drift_psi)."""
    from stream_processing_project_spark.operators.profiling import drift_psi

    ev = t(spark, sf_dir, "events").withColumn(
        "period",
        F.when(F.hour("ts") % 2 == 0, F.lit("a")).otherwise(F.lit("b")),
    )
    return drift_psi(ev, "value", "event_type", "period", bucket_width=8.0)


@register(
    "corpus_refine_pipeline",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(trim(text), ' ') AS ws FROM documents
),
pass AS (
  SELECT doc_id, source,
         unnest(range(0, CAST(ceil(len(ws) / 2.0) AS INT))) AS idx,
         unnest(list_transform(range(0, CAST(ceil(len(ws) / 2.0) AS INT)),
                i -> array_to_string(list_slice(ws, i * 2 + 1, i * 2 + 2), ' '))) AS passage
  FROM toks
),
firsts AS (
  SELECT doc_id, source, idx, passage,
         min(idx) OVER (PARTITION BY doc_id, passage) AS first_idx
  FROM pass
),
rebuilt AS (
  SELECT doc_id, source, string_agg(passage, ' ' ORDER BY idx) AS clean_text
  FROM firsts WHERE idx = first_idx GROUP BY doc_id, source
),
ch AS (SELECT doc_id, source, clean_text, string_split(clean_text, '') AS chars FROM rebuilt),
ent AS (
  SELECT doc_id, source, clean_text,
         CAST(list_sum(list_transform(list_distinct(chars),
              d -> CAST(round((len(list_filter(chars, x -> x = d)) * 1.0 / len(chars))
                   * ln(len(chars) * 1.0 / len(list_filter(chars, x -> x = d))) * 1e6) AS BIGINT)
         )) AS BIGINT) AS entropy_micro
  FROM ch
),
d AS (
  SELECT source, doc_id,
         CAST(len(string_split(trim(clean_text), ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(trim(clean_text), ' '),
              w -> list_contains(['the','a','an','of','and','to','in','is','it','that'], w))) AS BIGINT) AS score
  FROM ent WHERE entropy_micro >= 2750000
),
ranked AS (
  SELECT source, doc_id, score, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         sum(n_tokens) OVER (PARTITION BY source) AS total
  FROM d
)
SELECT source, doc_id, score, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked
WHERE (cum_tokens - n_tokens) < 0.7 * total
""",
)
def corpus_refine_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """This round's refinement ops composed end to end — intra-doc
    passage dedup → char-entropy junk filter (drop the most-repetitive
    tail, < 2.75 nats) → per-domain top-p selection (p=0.7 of surviving
    token mass, quality-ranked) — the corpus-refinement pipeline a
    training-data platform runs between raw ingest and mixture
    building. Everything before the nucleus stage is narrow per-row
    array algebra (zero joins), and the only shuffle is the top-p
    window on source.

    The refine stage MATERIALIZES (localCheckpoint) before the filter:
    Catalyst's predicate pushdown re-inlines referenced aliases into
    the pushed condition, and with nested higher-order functions
    (entropy ∘ clean_text ∘ passages) that substitution is
    exponential — the un-checkpointed plan spends minutes in codegen.
    Materializing between passes is also the production corpus-
    pipeline shape (each CCNet-style stage writes its cleaned corpus
    before the next reads it); fully oracled."""
    from stream_processing_project_spark.operators.sampling import nucleus_select
    from stream_processing_project_spark.operators.text import (
        char_entropy,
        intradoc_dedup,
        stopword_hits,
        token_count,
    )

    cleaned = intradoc_dedup(
        t(spark, sf_dir, "documents"), passage_words=2, keep_cols=("source",)
    )
    ent = char_entropy(
        cleaned, text_col="clean_text", keep_cols=("source", "clean_text")
    ).select(
        "source", "doc_id", "clean_text", "entropy_micro"
    ).localCheckpoint()
    survivors = ent.filter(F.col("entropy_micro") >= 2_750_000).select(
        "source",
        "doc_id",
        token_count(F.col("clean_text")).cast("long").alias("n_tokens"),
        stopword_hits(F.col("clean_text"), "en").cast("long").alias("score"),
    )
    return nucleus_select(
        survivors, score_col="score", token_col="n_tokens",
        group_col="source", p=0.7,
    )


@register(
    "text_char_entropy",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, '') AS chars FROM documents)
SELECT doc_id,
       CAST(len(chars) AS INTEGER) AS n_chars,
       CAST(len(list_distinct(chars)) AS INTEGER) AS n_distinct,
       CAST(list_sum(list_transform(list_distinct(chars),
            d -> CAST(round((len(list_filter(chars, x -> x = d)) * 1.0 / len(chars))
                 * ln(len(chars) * 1.0 / len(list_filter(chars, x -> x = d))) * 1e6) AS BIGINT)
       )) AS BIGINT) AS entropy_micro
FROM d
""",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document byte/char Shannon entropy — flags base64/encrypted
    junk (high entropy) and degenerate repetition (near zero) that
    natural text escapes; a standard corpus-governance filter. Each
    distinct char's term quantizes to micro-nats independently and the
    doc sums bigints, so the unordered distinct set can't leak engine
    order (operators/text.py::char_entropy). Narrow codegen pass, zero
    shuffles."""
    from stream_processing_project_spark.operators.text import char_entropy

    return char_entropy(t(spark, sf_dir, "documents"))


@register(
    "sampling_quality_topp",
    oracle="""
WITH d AS (
  SELECT source, doc_id,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(trim(text), ' '),
              w -> list_contains(['the','a','an','of','and','to','in','is','it','that'], w))) AS BIGINT) AS score
  FROM documents
),
ranked AS (
  SELECT source, doc_id, score, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         sum(n_tokens) OVER (PARTITION BY source) AS total
  FROM d
)
SELECT source, doc_id, score, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked
WHERE (cum_tokens - n_tokens) < 0.8 * total
""",
)
def sampling_quality_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) corpus selection per domain: keep each source's
    best documents — ranked by an integer quality score (English
    stopword hits; stand-in for any scorer) — until 80% of the domain's
    token mass is covered. The quality-pruned data-mixture step
    (operators/sampling.py::nucleus_select); bigint cumulative sums
    over a total order make the cut deterministic and fully oracled."""
    from stream_processing_project_spark.operators.sampling import nucleus_select
    from stream_processing_project_spark.operators.text import (
        stopword_hits,
        token_count,
    )

    d = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        stopword_hits(F.col("text"), "en").cast("long").alias("score"),
    )
    return nucleus_select(
        d, score_col="score", token_col="n_tokens", group_col="source", p=0.8
    )


# =========================== reconciliation =================================


@register(
    "recon_full_outer_activity",
    oracle="""
SELECT coalesce(o.o_custkey, e.user_id) AS custkey,
       coalesce(o.n_orders, 0) AS n_orders,
       coalesce(e.n_events, 0) AS n_events
FROM (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1) o
FULL OUTER JOIN
     (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1) e
ON o.o_custkey = e.user_id
""",
)
def recon_full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation of two activity ledgers (order counts
    vs event counts per customer) — the lag/coverage comparison the
    reference's monitor does with separate scalar scans (SURVEY.md
    A8/A10), done relationally so unmatched keys on EITHER side
    surface as zero-filled rows. Aggregate-then-join: the full-outer
    join runs on two pre-aggregated O(|keys|) sides, not on raw facts."""
    o = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    e = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        o.join(e, o["o_custkey"] == e["user_id"], "full_outer")
        .select(
            F.coalesce("o_custkey", "user_id").alias("custkey"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


# =========================== PII redaction ==================================

_RAW_CONTACT_SQL = """
SELECT doc_id,
       concat(substr(text, 1, 40), ' contact user', CAST(doc_id AS VARCHAR),
              '@mail.', source, '.com, tel +1-555-',
              lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0'),
              ' from 10.', CAST(doc_id % 256 AS VARCHAR), '.0.',
              CAST(doc_id * 3 % 256 AS VARCHAR)) AS text
FROM documents
"""


TEXT_REDACT_ORACLE = f"""
WITH raw AS ({_RAW_CONTACT_SQL}),
no_mail AS (
  SELECT doc_id, text,
         regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS text1
  FROM raw
)
SELECT doc_id,
       regexp_replace(regexp_replace(text1, '{IPV4_RE}', '<IP>', 'g'),
                      '{PHONE_RE}', '<PHONE>', 'g') AS text,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INTEGER) AS n_phones,
       CAST(len(regexp_extract_all(text1, '{IPV4_RE}')) AS INTEGER) AS n_ips
FROM no_mail
"""


def contact_text_projection(docs: DataFrame) -> DataFrame:
    """Deterministic contact-laden text from fixture columns (the
    fixture corpus has no organic PII) — shared by the batch and
    streaming redaction queries so both redact identical strings."""
    return docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail."),
            F.col("source"),
            F.lit(".com, tel +1-555-"),
            F.lpad(F.pmod(F.col("doc_id") * 7, F.lit(10000)).cast("string"), 4, "0"),
            F.lit(" from 10."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".0."),
            F.pmod(F.col("doc_id") * 3, F.lit(256)).cast("string"),
        ).alias("text"),
    )


@register("text_redact_pii", oracle=TEXT_REDACT_ORACLE)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with an audit count: emails, phone numbers, and
    IPv4 addresses replaced by typed placeholders. The contact-laden
    input is built deterministically from fixture columns (the fixture
    corpus contains no organic PII), so both engines redact the exact
    same strings. Codegen'd regexp_replace/regexp_count — runs at scan
    speed, no shuffle (operators/text.py::redact_pii)."""
    docs = contact_text_projection(t(spark, sf_dir, "documents"))
    return redact_pii(docs).select("doc_id", "text", "n_emails", "n_phones", "n_ips")


# =========================== record linkage =================================


@register(
    "linkage_fuzzy_parts",
    oracle="""
WITH p AS (
  SELECT p_partkey, p_name, p_size,
         string_split(p_name, ' ')[1] AS w1,
         string_split(p_name, ' ')[-1] AS w2
  FROM part
),
pairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
         a.p_name AS p_name_a, b.p_name AS p_name_b
  FROM p a JOIN p b
    ON a.p_size = b.p_size AND a.w1 = b.w1 AND a.p_partkey < b.p_partkey
  UNION
  SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
  FROM p a JOIN p b
    ON a.p_size = b.p_size AND a.w2 = b.w2 AND a.p_partkey < b.p_partkey
)
SELECT id_a, id_b, p_name_a, p_name_b,
       CAST(levenshtein(p_name_a, p_name_b) AS INTEGER) AS dist
FROM pairs
WHERE levenshtein(p_name_a, p_name_b) BETWEEN 1 AND 3
""",
    tags=("bench",),
)
def linkage_fuzzy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass blocked fuzzy record linkage: candidate duplicate
    part records within edit distance 3, found by TWO complementary
    blocking passes — (p_size, first name token) and (p_size, last
    name token) — unioned and pair-deduplicated. BLOCK → COMPARE with
    cheap high-selectivity keys: a two-word name within distance 3
    must keep one word (nearly) intact, so one of the passes catches
    it, and block sizes stay bounded as the table grows (a single
    p_size block goes quadratic: measured 6.2 s vs 0.9 s at sf0.1 —
    exactly the hot-block failure the operator docstring warns about,
    fixed by sharper keys instead of more compute)."""
    from stream_processing_project_spark.sources.fixtures import fan_out_if_narrow

    parts = fan_out_if_narrow(t(spark, sf_dir, "part")).select(
        "p_partkey",
        "p_name",
        "p_size",
        F.element_at(F.split("p_name", " "), 1).alias("w1"),
        F.element_at(F.split("p_name", " "), -1).alias("w2"),
    )
    return multi_pass_fuzzy_pairs(
        parts,
        id_col="p_partkey",
        text_col="p_name",
        passes=[["p_size", "w1"], ["p_size", "w2"]],
        max_distance=3,
    ).filter(F.col("dist") >= 1)  # dist 0 = exact dups, the dedup path's job


# =========================== corpus build (composition) =====================


@register(
    "corpus_build_pipeline",
    oracle=f"""
WITH q AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_tokens
  FROM documents
  WHERE len(string_split(trim(text), ' ')) BETWEEN 10 AND 100000
    AND len(list_filter(string_split(trim(text), ' '),
                        w -> w IN ({_SW_EN}))) > 0
),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(lower(trim(text))) AS fp FROM q)
  GROUP BY fp
)
SELECT q.doc_id, q.lang, q.n_tokens,
       CASE WHEN (q.doc_id * 2654435761) % 4294967296 % 100 < 10 THEN 'test'
            WHEN (q.doc_id * 2654435761) % 4294967296 % 100 < 20 THEN 'val'
            ELSE 'train' END AS split
FROM q JOIN keep USING (doc_id)
""",
    tags=("bench",),
)
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus construction — the training-data pipeline's
    stages composed into ONE declarative plan: quality filter
    (pretraining heuristics) → exact dedup keep-first → deterministic
    train/val/test split.

    Composed for scan economy, not by chaining the standalone query
    shapes: documents is read ONCE (quality + fingerprint computed in
    the same projection, filter applied before any exchange), the text
    column is dropped BEFORE the one shuffle (dedup = min(doc_id) over
    a fingerprint-partitioned window on slim (fp, id, lang, n_tokens)
    rows — no self-join, so no second scan), and the split is a pure
    projection. The plan-property test pins exactly one ReadSchema.
    Each stage is individually oracled elsewhere (text_quality,
    dedup_exact_keep_first, sampling_train_val_test); this query pins
    that the COMPOSITION stays exact."""
    from pyspark.sql import Window

    from stream_processing_project_spark.operators.sampling import train_val_test
    from stream_processing_project_spark.operators.text import (
        fingerprint,
        stopword_hits,
        token_count,
    )

    text = F.col("text")
    slim = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            token_count(text).alias("n_tokens"),
            stopword_hits(text, "en").alias("_en_hits"),
            fingerprint(text).alias("_fp"),
        )
        .filter(
            (F.col("n_tokens") >= 10)
            & (F.col("n_tokens") <= 100000)
            & (F.col("_en_hits") > 0)
        )
    )
    deduped = (
        slim.withColumn(
            "_keep", F.min("doc_id").over(Window.partitionBy("_fp"))
        )
        .filter(F.col("doc_id") == F.col("_keep"))
    )
    return train_val_test(deduped).select("doc_id", "lang", "n_tokens", "split")


@register(
    "text_normalize",
    oracle="""
WITH dirty AS (
  SELECT doc_id,
         concat(substr(text, 1, 30), '  ', chr(9), 'mid', chr(7), chr(10),
                ' tail ') AS text
  FROM documents
),
clean AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(text,
              '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'),
              '[ \\t\\n\\r]+', ' ', 'g')) AS cleaned
  FROM dirty
)
SELECT doc_id, cleaned AS text,
       CAST(length(text) - length(cleaned) AS INTEGER) AS n_removed
FROM clean
""",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/control-character canonicalization with a removed-char
    audit count — the cleaning pass before exact dedup (identical
    content modulo noise → identical bytes). The dirty input is built
    deterministically from fixture columns (tabs, BEL, newline, runs of
    spaces) so both engines normalize the exact same strings; the
    operator itself is a codegen'd regexp chain with no shuffle
    (operators/text.py::normalize_text)."""
    from stream_processing_project_spark.operators.text import normalize_text

    dirty = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 30), F.lit("  \tmid\x07\n tail ")
        ).alias("text"),
    )
    return normalize_text(dirty).select("doc_id", "text", "n_removed")


@register(
    "text_unigram_logprob",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
total AS (SELECT sum(c) AS n_total FROM vocab),
scored AS (
  SELECT t.doc_id,
         CAST(round(-ln(v.c / tt.n_total) * 1e6) AS BIGINT) AS micronats
  FROM toks t JOIN vocab v ON v.tok = t.tok CROSS JOIN total tt
)
SELECT doc_id, count(*) AS n_tokens, CAST(sum(micronats) AS BIGINT) AS surprisal_sum,
       round(sum(micronats) / count(*) / 1e6, 4) AS avg_surprisal
FROM scored GROUP BY doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring (CCNet's perplexity filter in unigram
    form): average surprisal of each document under the corpus's own
    unigram distribution — low = templated/boilerplate, high = lexically
    odd; both tails are filter candidates. Surprisal quantizes to
    integer micro-nats per token BEFORE aggregation, so the per-doc sums
    are exact bigint arithmetic cross-engine
    (operators/text.py::unigram_logprob)."""
    from stream_processing_project_spark.operators.text import unigram_logprob

    return unigram_logprob(t(spark, sf_dir, "documents"))


@register(
    "text_passage_dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
),
pass AS (
  SELECT doc_id,
         unnest(range(0, CAST(ceil(len(ws) / 16.0) AS INT))) AS idx,
         unnest(list_transform(range(0, CAST(ceil(len(ws) / 16.0) AS INT)),
                i -> array_to_string(list_slice(ws, i * 16 + 1, i * 16 + 16), ' '))) AS passage
  FROM toks
),
boiler AS (
  SELECT md5(passage) AS pfp FROM pass GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
),
kept AS (
  SELECT * FROM pass WHERE md5(passage) NOT IN (SELECT pfp FROM boiler)
),
rebuilt AS (
  SELECT doc_id, string_agg(passage, ' ' ORDER BY idx) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(ceil(len(t.ws) / 16.0) AS INT) AS n_passages,
       CAST(CAST(ceil(len(t.ws) / 16.0) AS INT) - coalesce(r.n_kept, 0) AS INT) AS n_removed
FROM toks t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
""",
)
def text_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level cross-document dedup (CCNet paragraph hashes /
    RefinedWeb line dedup, as fixed 16-word passages on the flat fixture
    text): passages occurring in >1 distinct document are boilerplate
    and removed everywhere, survivors reassembled in order with
    removed-passage audit counts (operators/text.py::passage_dedup).
    One explode + one fingerprint groupBy + one per-doc re-aggregate —
    no corpus-text joins."""
    from stream_processing_project_spark.operators.text import passage_dedup

    return passage_dedup(t(spark, sf_dir, "documents"))


@register(
    "text_intradoc_dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
),
pass AS (
  SELECT doc_id,
         unnest(range(0, CAST(ceil(len(ws) / 2.0) AS INT))) AS idx,
         unnest(list_transform(range(0, CAST(ceil(len(ws) / 2.0) AS INT)),
                i -> array_to_string(list_slice(ws, i * 2 + 1, i * 2 + 2), ' '))) AS passage
  FROM toks
),
firsts AS (
  SELECT doc_id, idx, passage,
         min(idx) OVER (PARTITION BY doc_id, passage) AS first_idx
  FROM pass
),
kept AS (SELECT * FROM firsts WHERE idx = first_idx),
rebuilt AS (
  SELECT doc_id, string_agg(passage, ' ' ORDER BY idx) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       r.clean_text,
       CAST(ceil(len(t.ws) / 2.0) AS INT) AS n_passages,
       CAST(CAST(ceil(len(t.ws) / 2.0) AS INT) - r.n_kept AS INT) AS n_removed
FROM toks t JOIN rebuilt r ON r.doc_id = t.doc_id
""",
)
def text_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document passage dedup (RefinedWeb intra-doc line dedup):
    keep each passage's first occurrence inside its own document, in
    order. Pure per-row array algebra — one narrow codegen pass, zero
    shuffles/joins; composes in front of the cross-doc passage stage
    (operators/text.py::intradoc_dedup). passage_words=2 because the
    synthetic fixture vocabulary is tiny; real corpora dedup whole
    lines with the identical plan."""
    from stream_processing_project_spark.operators.text import intradoc_dedup

    return intradoc_dedup(t(spark, sf_dir, "documents"), passage_words=2)


@register(
    "text_heavy_hitters",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT sum(cnt) AS n FROM counts)
SELECT token, CAST(cnt AS BIGINT) AS cnt
FROM counts, tot
WHERE cnt * 30 >= n
""",
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token mining: tokens above a 1/30 frequency share of
    the corpus — the hot-key / boilerplate detector a training pipeline
    runs before dedup (over-represented tokens signal template spam).
    Shape for scale: ONE scan explodes tokens into a map-side-combined
    groupBy (shuffle is O(|vocab|)); the corpus total re-aggregates
    from the tiny grouped result — never a second scan — and joins back
    as a broadcast single row. The share test is integer arithmetic
    (cnt * 30 >= n), no float threshold to diverge cross-engine."""
    tokens = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"))
    )
    counts = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 30 >= F.col("n"))
        .select("token", "cnt")
    )


@register(
    "sampling_domain_mix",
    oracle="""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens
  FROM documents GROUP BY lang
),
nl AS (SELECT count(*) AS n_langs FROM per_lang)
SELECT lang, n_docs, total_tokens,
       1000000.0 / n_langs AS target_tokens,
       (1000000.0 / n_langs) / total_tokens AS epochs
FROM per_lang, nl
""",
)
def sampling_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planning: under a 1M-token budget split
    uniformly across languages, how many epochs (repetitions) of each
    language bucket are needed — the domain-weighting step that turns a
    raw corpus into a sampling schedule. Token totals are exact integer
    sums; the two divisions stay RAW doubles (identical operands →
    identical IEEE results in any engine — the determinism rule is
    never to ROUND a division, not to avoid one). Per-group totals are
    O(|langs|) rows; the language count joins back as a broadcast
    single row, so the fact table is scanned once."""
    from stream_processing_project_spark.operators.text import token_count

    per_lang = (
        t(spark, sf_dir, "documents")
        .select("lang", token_count(F.col("text")).alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )
    nl = per_lang.agg(F.count(F.lit(1)).alias("n_langs"))
    target = F.lit(1000000.0) / F.col("n_langs")
    return (
        per_lang.crossJoin(F.broadcast(nl))
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            target.alias("target_tokens"),
            (target / F.col("total_tokens")).alias("epochs"),
        )
    )


@register(
    "sampling_temperature_mix",
    oracle="""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs, pow(count(*), 0.5) AS pw
  FROM documents GROUP BY lang
),
tot AS (SELECT sum(pw) AS s FROM per_lang),
rates AS (
  SELECT lang, n_docs,
         CAST(round(least(1.0, (250.0 * (pw / s)) / n_docs) * 4294967296) AS BIGINT) AS thresh
  FROM per_lang, tot
)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r ON r.lang = d.lang
WHERE (d.doc_id * 2654435761) % 4294967296 < r.thresh
""",
)
def sampling_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture sampling (the multilingual-LM
    mixture rule, T=0.5: domain weights ∝ n^T, flattening the domain
    distribution so rare domains are upsampled relative to their share).
    Per-domain keep probability p_d = min(1, target·w_d / n_d) converts
    to an integer threshold on the 32-bit multiplicative identity hash
    (same deterministic sampler as sampling_domain_cap — no RNG state,
    any engine reproduces the exact kept set). The per-domain rate table
    is |domains| rows and broadcasts; the fact table is scanned once
    with the filter applied at the scan."""
    docs = t(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.pow(F.count(F.lit(1)), 0.5).alias("pw"),
    )
    tot = per_lang.agg(F.sum("pw").alias("s"))
    rates = (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.lit(250.0) * (F.col("pw") / F.col("s"))) / F.col("n_docs"),
                )
                * F.lit(4294967296),
                0,
            )
            .cast("bigint")
            .alias("thresh"),
        )
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(
            F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(4294967296))
            < F.col("thresh")
        )
        .select("doc_id", "lang")
    )


@register(
    "sampling_domain_cap",
    oracle="""
SELECT doc_id, source, CAST(keep_rank AS INTEGER) AS keep_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS keep_rank
  FROM documents
) WHERE keep_rank <= 10
""",
)
def sampling_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (RefinedWeb-style anti-over-representation):
    keep at most 10 documents per `source`, selected by identity-hash
    order — a deterministic pseudo-random sample per domain, immune to
    crawl order and partitioning (operators/sampling.py::per_key_cap).
    One shuffle on the domain key; the hot-domain mitigation (hash
    pre-filter to O(cap) rows per key before the exact window) is in
    the operator docstring."""
    from stream_processing_project_spark.operators.sampling import per_key_cap

    return per_key_cap(
        t(spark, sf_dir, "documents").select("doc_id", "source"),
        key_col="source",
        cap=10,
    )


@register(
    "sampling_shard_shuffle",
    oracle="""
SELECT doc_id, shard, CAST(pos AS INTEGER) AS pos FROM (
  SELECT doc_id,
         CAST((doc_id * 2654435761) % 4294967296 % 8 AS INTEGER) AS shard,
         row_number() OVER (
           PARTITION BY (doc_id * 2654435761) % 4294967296 % 8
           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS pos
  FROM documents
)
""",
)
def sampling_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle into 8 shards: every doc
    gets a shard (identity-hash mod 8) and a position within its shard
    (hash order) — the reproducible shuffled-corpus layout (shard files
    internally ordered; round-robin reads replay one fixed global
    pseudo-random order on any engine, any partitioning). No global
    sort bottleneck: each shard numbers its own rows
    (operators/sampling.py::shard_shuffle)."""
    from stream_processing_project_spark.operators.sampling import shard_shuffle

    return shard_shuffle(
        t(spark, sf_dir, "documents").select("doc_id"), shards=8
    )


@register(
    "sampling_epoch_materialize",
    oracle="""
WITH docs AS (
  SELECT doc_id, lang,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
per_lang AS (
  SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM docs GROUP BY lang
),
nl AS (SELECT count(*) AS n_langs FROM per_lang),
plan AS (
  SELECT lang, (1000000.0 / n_langs) / total_tokens AS epochs
  FROM per_lang, nl
),
copies AS (
  SELECT d.doc_id, d.lang,
         CAST(floor(p.epochs) AS BIGINT)
         + CASE WHEN (d.doc_id * 2654435761) % 4294967296
                     < (p.epochs - floor(p.epochs)) * 4294967296.0
                THEN 1 ELSE 0 END AS n_copies
  FROM docs d JOIN plan p USING (lang)
)
SELECT doc_id, lang, CAST(unnest(range(0, n_copies)) AS INTEGER) AS epoch
FROM copies
""",
)
def sampling_epoch_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the domain-mixture schedule (`sampling_domain_mix`)
    into an actual training stream: each document is replicated
    floor(epochs[lang]) times, plus one more copy with probability
    frac(epochs[lang]) decided by the document's identity hash — so the
    realized token count per language hits the target in expectation
    while staying fully deterministic (same doc → same copy count on
    every run of every engine; no rand()). Output is (doc_id, lang,
    epoch) — downstream, epoch joins into the shuffle key so copies
    spread across the order.

    Scale: the plan is |langs| rows broadcast back onto the corpus; the
    explode is a narrow flatMap (no shuffle beyond the tiny agg), so
    the op is one corpus scan for the totals + one for the output. The
    float is division-only (identical operands → identical IEEE
    doubles cross-engine; plans/common.py rules), and the fractional
    coin is an integer-vs-double compare on those exact values."""
    from stream_processing_project_spark.operators.text import token_count

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    per_lang = docs.groupBy("lang").agg(
        F.sum("n_tokens").cast("long").alias("total_tokens")
    )
    nl = per_lang.agg(F.count(F.lit(1)).alias("n_langs"))
    epochs = (F.lit(1000000.0) / F.col("n_langs")) / F.col("total_tokens")
    plan = per_lang.crossJoin(F.broadcast(nl)).select(
        "lang", epochs.alias("epochs")
    )
    frac = F.col("epochs") - F.floor(F.col("epochs"))
    n_copies = F.floor(F.col("epochs")).cast("long") + F.when(
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
        < frac * F.lit(4294967296.0),
        1,
    ).otherwise(0)
    return (
        docs.join(F.broadcast(plan), "lang")
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.sequence(F.lit(0), (F.col("n_copies") - 1).cast("int"))
            ).alias("epoch"),
        )
    )


@register(
    "profile_distinct_rollup_hll",
    oracle="""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS grain,
       count(DISTINCT user_id) AS approx_users
FROM events GROUP BY 1
UNION ALL
SELECT 'ALL' AS grain, count(DISTINCT user_id) AS approx_users FROM events
""",
)
def profile_distinct_rollup_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup: per-day HLL sketches of the
    user population (Apache DataSketches `hll_sketch_agg`), then the
    GLOBAL distinct estimated by UNIONING THE SKETCHES — the raw table
    is scanned once and never re-aggregated for the coarser grain. This
    is the only distinct-count that scales to 100 TB rollup cascades:
    exact COUNT(DISTINCT) doesn't compose across partials (operators/
    windows.py::rollup_cascade composes count/sum; this adds the
    distinct column), while a KB-sized sketch per (day) merges
    losslessly within HLL error.

    Oracle: exact COUNT(DISTINCT). Valid because the fixture's per-day
    and global user cardinalities sit below the lgK=12 sketch's
    coupon-list threshold, where DataSketches HLL is EXACT (verified
    exact at sf0.001/sf0.01 — the driver's gate SF; at sf0.1+ the
    sketch leaves sparse mode and the estimate drifts, which
    tests/test_approx.py bounds instead). Same trick as
    streaming_distinct_users_hll."""
    ev = t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily_sk = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    daily = daily_sk.select(
        F.date_format("day", "yyyy-MM-dd").alias("grain"),
        F.hll_sketch_estimate("sk").cast("long").alias("approx_users"),
    )
    total = daily_sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("approx_users")
    ).select(F.lit("ALL").alias("grain"), "approx_users")
    return daily.unionByName(total)


@register(
    "profile_distinct_overlap_hll",
    oracle="""
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND value > 230),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view' AND value > 230),
u AS (SELECT user_id FROM a UNION SELECT user_id FROM b)
SELECT (SELECT count(*) FROM a) AS n_click,
       (SELECT count(*) FROM b) AS n_view,
       (SELECT count(*) FROM u) AS n_union,
       (SELECT count(*) FROM a) + (SELECT count(*) FROM b)
       - (SELECT count(*) FROM u) AS n_overlap
""",
)
def profile_distinct_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap via mergeable sketches: distinct high-value
    clickers, distinct high-value viewers (partially-overlapping
    segments), their union (HLL sketch union — never a re-scan),
    and the overlap by inclusion-exclusion — the cross-segment
    cardinality question (shared users between two corpus slices, two
    days, two sources) answered from KB-sized mergeable state instead
    of a user-level join. One scan builds both sketches as conditional
    aggregates. Oracle: exact counts — valid below the lgK=12 sparse-
    mode threshold at the gate SF (the profile_distinct_rollup_hll
    trick); estimate error at larger SF is bounded in
    tests/test_approx.py."""
    ev = t(spark, sf_dir, "events")
    sk = ev.agg(
        F.hll_sketch_agg(
            F.when((F.col("event_type") == "click") & (F.col("value") > 230), F.col("user_id")), F.lit(12)
        ).alias("sk_a"),
        F.hll_sketch_agg(
            F.when((F.col("event_type") == "view") & (F.col("value") > 230), F.col("user_id")), F.lit(12)
        ).alias("sk_b"),
    )
    return sk.select(
        F.hll_sketch_estimate("sk_a").cast("long").alias("n_click"),
        F.hll_sketch_estimate("sk_b").cast("long").alias("n_view"),
        F.hll_sketch_estimate(
            F.hll_union("sk_a", "sk_b")
        )
        .cast("long")
        .alias("n_union"),
        (
            F.hll_sketch_estimate("sk_a").cast("long")
            + F.hll_sketch_estimate("sk_b").cast("long")
            - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).cast("long")
        ).alias("n_overlap"),
    )


# --- data-quality expectations: declarative checks, one report ----------------
@register(
    "quality_expectations",
    oracle="""
SELECT 'events.event_id.not_null' AS check_name,
       count(*) FILTER (WHERE event_id IS NULL) AS violations,
       count(*) AS checked
FROM events
UNION ALL
SELECT 'events.event_id.unique',
       count(*) - count(DISTINCT event_id), count(*)
FROM events
UNION ALL
SELECT 'events.event_type.accepted_values',
       count(*) FILTER (WHERE event_type NOT IN
           ('view', 'click', 'signup', 'purchase', 'error')),
       count(*)
FROM events
UNION ALL
SELECT 'events.value.non_negative',
       count(*) FILTER (WHERE value < 0), count(*)
FROM events
UNION ALL
SELECT 'orders.o_custkey.referential',
       count(*) FILTER (WHERE c.c_custkey IS NULL), count(*)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the dbt-test /
    Great-Expectations pattern) evaluated engine-side as ONE report:
    not-null, uniqueness, accepted values, range, and referential
    integrity, each a (check, violations, checked) row. Single-table
    checks fold into one conditional-aggregate scan per table (never one
    scan per check); the FK check is a left join against the dimension,
    broadcast when it fits. At 100 TB this runs as a scan-bound audit
    alongside ingestion — the gate a training pipeline applies before a
    corpus snapshot is blessed."""
    ev = t(spark, sf_dir, "events")
    viol = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")
    n = F.count(F.lit(1))
    ev_checks = ev.agg(
        viol(F.col("event_id").isNull()).alias("v_null"),
        (n - F.count_distinct(F.col("event_id"))).alias("v_dup"),
        viol(
            ~F.col("event_type").isin("view", "click", "signup", "purchase", "error")
        ).alias("v_vals"),
        viol(F.col("value") < 0).alias("v_neg"),
        n.alias("checked"),
    )
    ev_report = ev_checks.selectExpr(
        "stack(4, "
        "'events.event_id.not_null', v_null, "
        "'events.event_id.unique', v_dup, "
        "'events.event_type.accepted_values', v_vals, "
        "'events.value.non_negative', v_neg) AS (check_name, violations)",
        "checked",
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey")
    fk = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_outer")
        .agg(
            F.lit("orders.o_custkey.referential").alias("check_name"),
            viol(F.col("c_custkey").isNull()).alias("violations"),
            F.count(F.lit(1)).alias("checked"),
        )
    )
    return ev_report.unionByName(fk)


# =========================== web-curation additions (r02) ===================


@register(
    "sampling_weighted_reservoir",
    oracle="""
SELECT doc_id, n_chars, priority FROM (
  SELECT doc_id, n_chars,
         CAST(n_chars AS DOUBLE)
         / CAST((doc_id * 2654435761) % 4294967296 + 1 AS DOUBLE) AS priority
  FROM documents
) ORDER BY priority DESC, doc_id LIMIT 50
""",
)
def sampling_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (priority sampling): pick
    50 documents with probability proportional to length — the standard
    size-biased corpus subsample. Priority = weight / hash-uniform; the
    sample is a global top-k, planned as TakeOrderedAndProject (per-
    partition heap of k, never a full sort). Deterministic cross-engine:
    one IEEE division of integer-valued doubles
    (operators/sampling.py::weighted_priority_sample)."""
    from stream_processing_project_spark.operators.sampling import (
        weighted_priority_sample,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_priority_sample(docs, weight_col="n_chars", k=50)


_BOILER_HEADER = "subscribe to the {s} newsletter click here now"


@register(
    "text_boilerplate_strip",
    oracle="""
WITH raw AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 3 <> 0
              THEN 'subscribe to the ' || source
                   || ' newsletter click here now ' || text
              ELSE text END AS text
  FROM documents
),
toks AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS t FROM raw
),
pfx AS (
  SELECT *, CASE WHEN len(t) >= 8
                 THEN array_to_string(t[1:8], ' ') END AS prefix
  FROM toks
),
totals AS (SELECT source, count(*) AS n_docs FROM pfx GROUP BY source),
freq AS (
  SELECT source, prefix, count(*) AS df FROM pfx
  WHERE prefix IS NOT NULL GROUP BY source, prefix
),
boiler AS (
  SELECT f.source, f.prefix
  FROM freq f JOIN totals tt USING (source)
  WHERE f.df >= 2
    AND CAST(f.df AS DOUBLE) >= 0.25 * CAST(tt.n_docs AS DOUBLE)
)
SELECT p.doc_id, p.source,
       (b.prefix IS NOT NULL) AS was_stripped,
       CASE WHEN b.prefix IS NOT NULL
            THEN array_to_string(p.t[9:], ' ') ELSE p.text END AS text_clean,
       CAST(CASE WHEN b.prefix IS NOT NULL THEN 8 ELSE 0 END
            AS INTEGER) AS n_removed_tokens
FROM pfx p
LEFT JOIN boiler b ON p.source = b.source AND p.prefix = b.prefix
""",
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based boilerplate removal (C4/RefinedWeb line-dedup,
    prefix flavor): an 8-token prefix shared by >= 25% of a source's
    documents is a site header — strip it. The fixture corpus has no
    organic boilerplate, so a deterministic per-source banner is seeded
    onto doc_id % 3 != 0 (same construction in both engines — the
    text_redact_pii convention), and detection then runs purely on
    document frequency. Corpus never shuffles: two small aggregates
    build the per-source boilerplate set, which broadcast-joins back
    (operators/text.py::strip_common_prefix)."""
    from stream_processing_project_spark.operators.text import strip_common_prefix

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.lit("subscribe to the "),
                F.col("source"),
                F.lit(" newsletter click here now "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return strip_common_prefix(docs, key_col="source")


@register(
    "dedup_url_canonical",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 1 THEN 'https://www.' || source || '.example.com/page/'
                       || (doc_id % 40) || '?utm_source=feed&ref=' || doc_id
           WHEN 2 THEN 'HTTP://' || source || '.EXAMPLE.com/page/'
                       || (doc_id % 40)
           WHEN 3 THEN 'https://' || source || '.example.com/page/'
                       || (doc_id % 40) || '/'
           ELSE 'https://www.' || source || '.example.com/page/'
                || (doc_id % 40) || '#top'
         END AS url,
         source
  FROM documents
),
canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(url), '^[a-z][a-z0-9+.-]*://', ''),
               '^www\\.', ''),
             '[?#].*$', ''),
           '/$', '') AS canonical_url
  FROM raw
)
SELECT canonical_url,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_urls
FROM canon GROUP BY canonical_url
""",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-level URL deduplication: canonicalize (lowercase, strip
    scheme / www. / query+fragment / trailing slash) and keep one doc
    per canonical URL. URL variants are synthesized deterministically
    from fixture columns (scheme-case, tracking params, trailing-slash
    and fragment variants of the same logical page — the corpus has no
    organic URLs), so both engines canonicalize identical strings. One
    groupBy on the canonical key with min/count partial aggregation —
    the exact-dedup shuffle envelope; the regexp chain is codegen'd
    scan-side work (operators/text.py::canonical_url)."""
    from stream_processing_project_spark.operators.text import canonical_url

    page = (F.col("doc_id") % 40).cast("string")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("https://www."), F.col("source"),
                F.lit(".example.com/page/"), page,
                F.lit("?utm_source=feed&ref="), F.col("doc_id").cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("HTTP://"), F.col("source"),
                F.lit(".EXAMPLE.com/page/"), page,
            ),
        )
        .when(
            F.col("doc_id") % 4 == 3,
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/page/"), page, F.lit("/"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www."), F.col("source"),
                F.lit(".example.com/page/"), page, F.lit("#top"),
            ),
        )
        .alias("url"),
    )
    return (
        docs.select("doc_id", canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_urls"),
        )
    )


_QUALITY_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")


@register(
    "text_quality_linear_score",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> list_contains({list(_QUALITY_STOPWORDS)}, x)))
              AS DOUBLE) AS stop_hits,
         CAST(length(text) AS DOUBLE) AS n_chars_d
  FROM documents
)
SELECT doc_id,
       (((stop_hits / n_tokens) * 8.0 - 0.5)
        + ((n_chars_d / n_tokens) * -0.25))
       + (n_tokens * 0.015625) AS z_score,
       ((((stop_hits / n_tokens) * 8.0 - 0.5)
         + ((n_chars_d / n_tokens) * -0.25))
        + (n_tokens * 0.015625)) > 0.5 AS keep
FROM feats
""",
)
def text_quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, linear flavor (the fasttext-
    classifier stage of every web-corpus pipeline, scored engine-side):
    a fixed logistic-regression weight vector over cheap text features
    (stopword ratio, mean token length, length) scores every document
    in one narrow codegen pass — weights ride along as literals exactly
    as a broadcast model would. The decision threshold applies to the
    LOGIT (no transcendental sigmoid → bit-exact cross-engine: weights
    are dyadic rationals, ops are correctly-rounded IEEE mul/add/div in
    a pinned association order). At 100 TB: scan-bound, zero shuffle,
    composes into corpus_build_pipeline's fused-scan stage."""
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*_QUALITY_STOPWORDS))
    ).cast("double")
    n_chars_d = F.length("text").cast("double")
    z = (
        ((stop_hits / n_tokens) * F.lit(8.0) - F.lit(0.5))
        + ((n_chars_d / n_tokens) * F.lit(-0.25))
    ) + (n_tokens * F.lit(0.015625))
    return docs.select(
        "doc_id", z.alias("z_score"), (z > F.lit(0.5)).alias("keep")
    )


CMS_ORACLE = """
WITH hashes(h_row, a, b) AS (
  VALUES (0, 998244353, 12345), (1, 805306457, 54321),
         (2, 469762049, 98765), (3, 167772161, 24680)
),
expl AS (
  SELECT h.h_row,
         ((e.user_id * h.a + h.b) % 2147483647) % 1024 AS bucket
  FROM events e CROSS JOIN hashes h
),
sketch AS (
  SELECT h_row, bucket, count(*) AS cnt FROM expl GROUP BY 1, 2
),
cand AS (SELECT DISTINCT user_id FROM events),
probes AS (
  SELECT c.user_id, h.h_row,
         ((c.user_id * h.a + h.b) % 2147483647) % 1024 AS bucket
  FROM cand c CROSS JOIN hashes h
),
est AS (
  SELECT p.user_id, min(s.cnt) AS cms_est
  FROM probes p JOIN sketch s USING (h_row, bucket) GROUP BY 1
),
exact AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1)
SELECT e.user_id, e.exact_cnt, est.cms_est,
       est.cms_est - e.exact_cnt AS overcount
FROM exact e JOIN est USING (user_id)
"""


@register("profile_heavy_hitters_cms", oracle=CMS_ORACLE)
def profile_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation over the event stream's
    user ids, audited against exact counts (overcount >= 0 by CMS's
    one-sided error). The third mergeable-sketch family in the profiling
    suite (HLL = distinct, histogram = quantiles, CMS = frequencies):
    the sketch is d×w counters that combine across shards/days/streams
    by bucket-wise ADDITION — at 100 TB each shard sketches locally and
    only d·w counters travel, the shape exact per-key counts can't
    match when the key space itself is too big to hold. Deterministic
    integer hashing makes the whole estimate value-hash-oracled — the
    approximation error itself is checked, not just the happy path
    (operators/profiling.py::cms_sketch/cms_estimate)."""
    from stream_processing_project_spark.operators.profiling import (
        cms_estimate,
        cms_sketch,
    )

    ev = t(spark, sf_dir, "events").select("user_id")
    sketch = cms_sketch(ev, "user_id")
    est = cms_estimate(sketch, ev.distinct(), "user_id")
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    return exact.join(est, "user_id").select(
        "user_id",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


# =========================== BPE tokenizer training =========================

_BPE_MERGE_LAMBDA = """list_reduce(list_prepend('|', w.l), (acc, x) -> CASE
           WHEN split_part(acc,'|',2) = ''
             THEN split_part(acc,'|',1) || '|' || x
           WHEN split_part(acc,'|',2) = b.lft AND x = b.rgt
             THEN CASE WHEN split_part(acc,'|',1) = ''
                       THEN b.lft || b.rgt
                       ELSE split_part(acc,'|',1) || ' ' || b.lft || b.rgt
                  END || '|'
           ELSE CASE WHEN split_part(acc,'|',1) = ''
                     THEN split_part(acc,'|',2)
                     ELSE split_part(acc,'|',1) || ' ' || split_part(acc,'|',2)
                END || '|' || x
         END)"""


def _bpe_rounds_cte(k: int) -> str:
    """Unrolled-SQL BPE training rounds (the PageRank convention for
    iterative algorithms): r0 = char symbols of the word-frequency
    table; each round computes adjacent-pair counts, the argmax rule
    (lexicographic tie-break), and the greedy left-to-right merge as a
    list_reduce fold over a 'result|pending' serialized state."""
    parts = [
        """w AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1
),
r0 AS (SELECT word, cnt, string_split(word, '') AS l FROM w)"""
    ]
    for r in range(1, k + 1):
        parts.append(f"""p{r} AS (
  SELECT l[i] AS lft, l[i+1] AS rgt, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM (SELECT cnt, l, unnest(range(1, len(l))) AS i FROM r{r-1})
  GROUP BY 1, 2
),
b{r} AS (SELECT lft, rgt, pair_count FROM p{r}
         ORDER BY pair_count DESC, lft, rgt LIMIT 1),
m{r} AS (
  SELECT w.word, w.cnt, {_BPE_MERGE_LAMBDA} AS acc
  FROM r{r-1} w CROSS JOIN b{r} b
),
r{r} AS (
  SELECT word, cnt, string_split(
    CASE WHEN split_part(acc,'|',2) = '' THEN split_part(acc,'|',1)
         WHEN split_part(acc,'|',1) = '' THEN split_part(acc,'|',2)
         ELSE split_part(acc,'|',1) || ' ' || split_part(acc,'|',2)
    END, ' ') AS l
  FROM m{r}
)""")
    return ",\n".join(parts)


_BPE_K = 8

_BPE_TRAIN_ORACLE = (
    "WITH "
    + _bpe_rounds_cte(_BPE_K)
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_round, lft, rgt, lft || rgt AS merged,"
        f" pair_count FROM b{r}"
        for r in range(1, _BPE_K + 1)
    )
)


@register("text_bpe_train", oracle=_BPE_TRAIN_ORACLE)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE tokenizer on the corpus: 8 merge rules learned from
    the word-frequency table (operators/bpe.py::bpe_train — pair-count
    groupBy + 1-row argmax + narrow merge fold per round; the collected
    row per round is the merge RULE, the model, MLlib-style). The
    oracle replays all 8 rounds as unrolled SQL — pair counts, argmax
    with lexicographic tie-break, and the greedy left-to-right merge as
    a serialized-state list fold — so the training trajectory is
    value-hash-checked end to end, not just the final vocab."""
    from stream_processing_project_spark.operators.bpe import bpe_train

    words = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return bpe_train(words, _BPE_K)


_BPE_TOKENIZE_ORACLE = (
    "WITH "
    + _bpe_rounds_cte(_BPE_K)
    + f"""
, vocab AS (SELECT word, CAST(len(l) AS INTEGER) AS n_word_tokens FROM r{_BPE_K})
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(v.n_word_tokens) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
JOIN vocab v USING (word)
GROUP BY 1
"""
)


@register("text_bpe_tokenize", oracle=_BPE_TOKENIZE_ORACLE)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained tokenizer: per-document BPE token counts
    under the 8-rule merge table from text_bpe_train. The corpus-wide
    pass never re-folds per document — each distinct word is segmented
    ONCE (narrow fold over the |vocab| table) and documents join their
    exploded words against the broadcast word→token-count vocab, the
    shape that tokenizes 100 TB at scan speed. Oracle: the same
    unrolled training rounds, final symbol table joined back to the
    corpus."""
    from stream_processing_project_spark.operators.bpe import (
        bpe_segment,
        bpe_train,
        chars,
    )

    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    rules = bpe_train(words, _BPE_K).collect()
    merges = [(r["lft"], r["rgt"]) for r in rules]
    vocab = words.select(
        "word",
        F.size(bpe_segment(chars(F.col("word")), merges)).alias("n_word_tokens"),
    )
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_word_tokens").alias("n_bpe_tokens"),
        )
    )


@register(
    "sampling_dialogue_assemble",
    oracle="""
WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
flags AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags
)
SELECT user_id, epoch_us(min(ts)) AS sess_start_us,
       CAST(count(*) AS BIGINT) AS n_turns,
       string_agg(event_type, ' ' ORDER BY ts, event_id) AS dialogue
FROM isl GROUP BY user_id, sid
""",
)
def sampling_dialogue_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence assembly from an interaction log: sessionize
    each user's events (30-min inactivity gap), then concatenate every
    session's events IN ORDER into one training string — the
    conversation/trajectory-building pass that turns clickstreams and
    chat logs into sequence-model examples. One shuffle on user_id
    feeds both the gaps-and-islands pass and the assembly (AQE reuses
    the exchange); ordering inside a session is (ts, event_id) — total
    and engine-invariant. At 100 TB this is the SCD2-sort envelope:
    bucket the log by user_id to pre-sort (PLANS.md sessionize note)."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flags = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull() | (gap_us >= F.lit(1800000000)), 1
        ).otherwise(0),
    )
    sid = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = flags.withColumn("sid", F.sum("new_sess").over(sid))
    return isl.groupBy("user_id", "sid").agg(
        F.unix_micros(F.min("ts")).alias("sess_start_us"),
        F.count("*").alias("n_turns"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            " ",
        ).alias("dialogue"),
    ).drop("sid")


@register(
    "similarity_negative_sample",
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv,
                      c.embedding::DOUBLE[]), 6) DESC NULLS LAST,
                      c.vec_id) AS rank
    FROM q, embeddings c WHERE c.vec_id <> q.query_id
  ) WHERE rank <= 10
),
cand AS (
  SELECT q.query_id, c.vec_id AS neg_id,
         ((q.query_id * 1000003 + c.vec_id) * 2654435761) % 4294967296 AS h
  FROM q, embeddings c
  WHERE c.vec_id <> q.query_id
    AND NOT EXISTS (SELECT 1 FROM topk t
                    WHERE t.query_id = q.query_id
                      AND t.neighbor_id = c.vec_id)
)
SELECT query_id, neg_id, CAST(h_rank AS INTEGER) AS h_rank FROM (
  SELECT query_id, neg_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY h, neg_id) AS h_rank
  FROM cand
) WHERE h_rank <= 5
""",
)
def similarity_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative mining for contrastive training: per
    query, 5 pseudo-random corpus items that are provably NOT among its
    true top-10 cosine neighbors (in-batch/random negatives with a
    hard-positive exclusion — the pair-construction stage of embedding
    fine-tuning). The per-(query, candidate) hash is pure integer
    arithmetic, so the sample is engine- and partitioning-invariant;
    the exclusion set reuses the exact brute-force ranking
    (operators/similarity.py::brute_force_topk). Only slim id rows flow
    through the ranking shuffle (vectors touched solely by the top-10
    pass); at 100 TB pre-filter candidates to a hash stratum
    (h % K == 0) so the per-query pool is O(cap), then rank — the
    per_key_cap hot-domain mitigation applied to negatives."""
    from stream_processing_project_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=10
    ).select(
        F.col("query_id").alias("_tq"), F.col("neighbor_id").alias("_tn")
    )
    cand = (
        emb.select(F.col("vec_id").alias("neg_id"))
        .join(F.broadcast(queries.select("query_id")), how="cross")
        .filter(F.col("neg_id") != F.col("query_id"))
        .join(
            topk,
            (F.col("query_id") == F.col("_tq"))
            & (F.col("neg_id") == F.col("_tn")),
            "left_anti",
        )
        .withColumn(
            "h",
            (
                (F.col("query_id") * F.lit(1000003) + F.col("neg_id"))
                * F.lit(2654435761)
            )
            % F.lit(4294967296),
        )
    )
    w = Window.partitionBy("query_id").orderBy("h", "neg_id")
    return (
        cand.withColumn("h_rank", F.row_number().over(w))
        .filter(F.col("h_rank") <= 5)
        .select("query_id", "neg_id", "h_rank")
    )


@register(
    "timeseries_paa_similarity",
    oracle="""
WITH hours AS (
  SELECT user_id,
         CAST(floor((epoch_us(ts) - 1704067200000000) / 3600000000) AS BIGINT) AS h,
         CAST(round(sum(value) * 100) AS BIGINT) AS cents
  FROM events
  GROUP BY 1, 2
),
grid AS (
  SELECT u.user_id, s.seg,
         COALESCE(sum(hh.cents), 0) AS seg_cents
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT unnest(range(0, 8)) AS seg) s
  LEFT JOIN hours hh
    ON hh.user_id = u.user_id AND hh.h >= s.seg * 8 AND hh.h < (s.seg + 1) * 8
  GROUP BY 1, 2
),
sk AS (
  SELECT user_id, list(seg_cents ORDER BY seg) AS l FROM grid GROUP BY 1
)
SELECT user_a, user_b, dist_sq FROM (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         CAST(list_sum(list_transform(range(1, 9),
           i -> (a.l[i] - b.l[i]) * (a.l[i] - b.l[i]))) AS BIGINT) AS dist_sq
  FROM sk a JOIN sk b ON a.user_id < b.user_id
) ORDER BY dist_sq, user_a, user_b LIMIT 20
""",
)
def timeseries_paa_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search via PAA sketches (piecewise
    aggregate approximation — the EDBT'19 streaming-similarity shape in
    PAPERS.md): each user's first 64 hours of activity compress to an
    8-segment profile, and the 20 most-similar user pairs rank by exact
    squared distance between profiles. Everything is integers — hourly
    sums quantize to cents (the repo's micro-unit convention) and
    segment sums/distances are bigint algebra — so the approximate
    REPRESENTATION itself is value-hash-oracled.

    Pair search is NOT all-pairs, and it is dedup-first (the measured
    scale-curve lesson: replicated corpora make identical profiles the
    common case, and any blocking scheme drowns in their pairs):
    1. identical profiles hash-group; zero-distance pairs come from
       duplicate groups directly, each group truncated to its k+1
       smallest user ids (a pair with k+1 smaller same-group pairs can
       never reach the global top-k — exact truncation);
    2. if fewer than k zero pairs exist, DISTINCT profiles grid-bucket
       per segment (cell width w, each value probing cell and cell+1)
       and positive candidates come from an EQUI-join on (band, cell) —
       the embedding-LSH blocking idiom. A distinct-distance top-k cut
       (TakeOrderedAndProject, never a global window) bounds which
       profile pairs expand to user pairs, and expansion is the ≤(k+1)²
       cross of the two truncated id lists.
    The result is provably EXACT by pigeonhole: if dist_sq(a,b) < 8·w²,
    some segment differs by < w, so its cells differ by ≤ 1 and the
    probe ring catches the pair. The driver loop verifies the guarantee
    (k rows found and the kth distance < 8·w²) and widens w
    geometrically until it holds — a few distributed passes, each an
    equi-join over the |distinct profiles|×8 band table, never
    O(|users|²). Top-k is TakeOrderedAndProject."""
    ev = t(spark, sf_dir, "events")
    origin = 1704067200000000
    hours = (
        ev.groupBy(
            "user_id",
            F.floor((F.unix_micros("ts") - F.lit(origin)) / F.lit(3600000000))
            .cast("long")
            .alias("h"),
        )
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )
    segs = (
        hours.filter((F.col("h") >= 0) & (F.col("h") < 64))
        .groupBy("user_id", (F.col("h") / 8).cast("long").alias("seg"))
        .agg(F.sum("cents").alias("seg_cents"))
    )
    # dense 8-slot profile per user (users with no activity in a segment
    # get 0 — the map materializes once, then a fixed-index transform)
    sk = (
        segs.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("seg", "seg_cents"))
            ).alias("m")
        )
        .join(ev.select("user_id").distinct(), "user_id", "right")
        .select(
            "user_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda s: F.coalesce(
                    F.element_at("m", s.cast("long")), F.lit(0).cast("long")
                ),
            ).alias("l"),
        )
    )
    k = 20
    # 1. Dedup-first: identical profiles hash-group; keep each group's
    # k+1 smallest user ids (exact truncation — see docstring). The
    # grid then runs over DISTINCT profiles only.
    wg = Window.partitionBy("l").orderBy("user_id")
    groups = (
        sk.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= k + 1)
        .groupBy("l")
        .agg(F.sort_array(F.collect_list("user_id")).alias("ids"))
        .persist()
    )
    pair_ids = F.filter(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x: F.transform(
                    F.col("ids"), lambda y: F.struct(x.alias("a"), y.alias("b"))
                ),
            )
        ),
        lambda p: p["a"] < p["b"],
    )
    zero_pairs = (
        groups.filter(F.size("ids") >= 2)
        .select(F.explode(pair_ids).alias("p"))
        .select(
            F.col("p.a").alias("user_a"),
            F.col("p.b").alias("user_b"),
            F.lit(0).cast("long").alias("dist_sq"),
        )
    )
    zero_rows = zero_pairs.orderBy("user_a", "user_b").limit(k).collect()
    n_zero = len(zero_rows)
    if n_zero >= k:
        # ≥k exact-duplicate pairs: no positive pair can rank above any
        # zero pair, so the grid never runs at all.
        groups.unpersist()
        return spark.createDataFrame(
            [(int(r.user_a), int(r.user_b), 0) for r in zero_rows],
            "user_a bigint, user_b bigint, dist_sq bigint",
        )

    # 2. Scalars for the adaptive cell width: seed fine (per-profile
    # value spacing) and widen geometrically. The global min shifts
    # values non-negative so `div` is exact floor division (double `/`
    # on big ints is the truncation hazard ADVICE.md flags).
    stats = groups.select(F.explode("l").alias("v")).agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.count(F.lit(1)).alias("nvals"),
    ).collect()[0]
    vmin, vrange = int(stats.vmin or 0), int((stats.vmax or 0) - (stats.vmin or 0))
    n_profiles = int(stats.nvals // 8)
    n_users = sk.count()
    n_pairs_total = n_users * (n_users - 1) // 2

    def topk_for_width(w: int) -> DataFrame:
        # band table over distinct profiles: (band, cell) + (band, cell+1)
        bands = groups.select(
            "l",
            "ids",
            F.posexplode(
                F.transform(
                    F.col("l"), lambda v: (v - F.lit(vmin)).cast("long")
                )
            ).alias("band", "v"),
        ).select(
            "l",
            "ids",
            "band",
            F.explode(
                F.array(F.expr(f"v div {w}"), F.expr(f"v div {w} + 1"))
            ).alias("cell"),
        )
        a = bands.select(
            F.col("l").alias("la"), F.col("ids").alias("ids_a"), "band", "cell"
        )
        b = bands.select(
            F.col("l").alias("lb"), F.col("ids").alias("ids_b"), "band", "cell"
        )
        dist = F.aggregate(
            F.zip_with(F.col("la"), F.col("lb"), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        cand = (
            a.join(b, ["band", "cell"])
            .filter(F.col("la") < F.col("lb"))  # arrays compare lexicographically
            .select("la", "lb", "ids_a", "ids_b")
            .dropDuplicates(["la", "lb"])
            .select("ids_a", "ids_b", dist.alias("dist_sq"))
        )
        # distinct-distance top-k cut bounds expansion (profile pairs at
        # a distance with k smaller distinct distances can never reach
        # the user-pair top-k) — TakeOrderedAndProject, no global window
        cuts = (
            cand.select("dist_sq").distinct().orderBy("dist_sq").limit(k).collect()
        )
        dcut = max((r.dist_sq for r in cuts), default=0)
        kept = cand.filter(F.col("dist_sq") <= F.lit(dcut))
        # expansion: ≤(k+1)² user pairs per kept profile pair
        upairs = F.transform(
            F.flatten(
                F.transform(
                    F.col("ids_a"),
                    lambda x: F.transform(
                        F.col("ids_b"), lambda y: F.struct(x.alias("x"), y.alias("y"))
                    ),
                )
            ),
            lambda p: F.struct(
                F.least(p["x"], p["y"]).alias("a"),
                F.greatest(p["x"], p["y"]).alias("b"),
            ),
        )
        pos = kept.select(
            F.explode(upairs).alias("p"), "dist_sq"
        ).select(
            F.col("p.a").alias("user_a"),
            F.col("p.b").alias("user_b"),
            "dist_sq",
        )
        return (
            zero_pairs.unionByName(pos)
            .orderBy("dist_sq", "user_a", "user_b")
            .limit(k)
        )

    # Seed w from a data-derived UPPER BOUND on the kth distance: any
    # k-n_zero pair distances bound d_k from above, and consecutive
    # pairs of the 2k+2 lexicographically-smallest profiles
    # (TakeOrderedAndProject, 42 collected rows) are mutually close, so
    # the bound is tight. With 8·w² > D ≥ d_k the pigeonhole guarantee
    # holds on the FIRST grid pass — the widening loop below is a
    # correctness fallback, not the expected path.
    import math

    w = max(1, min(vrange // max(1, n_profiles), vrange) or 1)
    sample = groups.select("l").orderBy("l").limit(2 * k + 2).collect()
    if len(sample) >= 2:
        dists = sorted(
            sum((xa - xb) ** 2 for xa, xb in zip(sample[i].l, sample[i + 1].l))
            for i in range(len(sample) - 1)
        )
        need = max(1, k - n_zero)
        bound = dists[min(need, len(dists)) - 1]
        w = max(1, math.isqrt(bound // 8) + 1)
    global _LAST_PAA_GRID_PLAN
    while True:
        top = topk_for_width(w)
        _LAST_PAA_GRID_PLAN = top._jdf.queryExecution().executedPlan().toString()
        rows = top.collect()
        if w > vrange:
            break  # every profile pair shares a band cell ring → candidates = all pairs
        if len(rows) >= min(k, n_pairs_total) and (
            len(rows) < k or rows[-1].dist_sq < 8 * w * w
        ):
            break  # pigeonhole: all pairs at ≤ the kth distance were candidates
        w *= 8
    groups.unpersist()
    # the verification collect already materialized the answer — return
    # it as a local frame instead of re-executing the winning grid pass
    return spark.createDataFrame(
        [(int(r.user_a), int(r.user_b), int(r.dist_sq)) for r in rows],
        "user_a bigint, user_b bigint, dist_sq bigint",
    )


@register(
    "profile_winsorize_clip",
    oracle="""
WITH ranked AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
cuts AS (
  SELECT event_type,
         max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))
                  THEN value END) AS p05,
         max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                  THEN value END) AS p95
  FROM ranked GROUP BY event_type
)
SELECT r.event_id, r.event_type, r.value,
       least(greatest(r.value, c.p05), c.p95) AS value_clipped,
       (r.value < c.p05 OR r.value > c.p95) AS was_clipped
FROM ranked r JOIN cuts c USING (event_type)
""",
)
def profile_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization for robust feature scaling: clip each event's value
    to its event-type's exact [p5, p95] order statistics — the
    outlier-taming preprocessing step before z-scoring or histogram
    features (the z-score sibling `olap_outlier_zscore` DETECTS
    outliers; this one bounds them). Order statistics are exact kth
    values (rank = ceil(q·n), identical IEEE mul/ceil cross-engine), so
    the whole transform value-hash-oracles — no approx_percentile
    digest. Shape: one event_type exchange serves ranking, counting,
    and the clip join (the cuts table is |types| rows, broadcast); at
    100 TB swap the exact rank for the mergeable histogram sketch
    (`profile_histogram_quantiles`) and keep the same clip join."""
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    wr = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(wn)
    )
    k05 = F.greatest(F.lit(1), F.ceil(F.lit(0.05) * F.col("n")))
    k95 = F.ceil(F.lit(0.95) * F.col("n"))
    cuts = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == k05, F.col("value"))).alias("p05"),
        F.max(F.when(F.col("rn") == k95, F.col("value"))).alias("p95"),
    )
    return ranked.join(F.broadcast(cuts), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
            "value_clipped"
        ),
        ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))).alias(
            "was_clipped"
        ),
    )


def _skew_cte(table: str, col: str) -> str:
    return f"""
  SELECT '{table}.{col}' AS key_col,
         CAST(sum(c) AS BIGINT) AS n_rows,
         count(*) AS n_keys,
         CAST(max(c) AS BIGINT) AS max_key_rows,
         max(CASE WHEN rn = CAST(ceil(0.50 * nk) AS BIGINT) THEN c END) AS p50_key_rows,
         max(CASE WHEN rn = CAST(ceil(0.99 * nk) AS BIGINT) THEN c END) AS p99_key_rows,
         max(c) * 1.0 * count(*) / sum(c) AS skew_factor
  FROM (
    SELECT c, row_number() OVER (ORDER BY c, key) AS rn,
           count(*) OVER () AS nk
    FROM (SELECT {col} AS key, count(*) AS c FROM {table} GROUP BY 1)
  )"""


@register(
    "profile_join_skew",
    oracle=f"""
{_skew_cte('lineitem', 'l_partkey')}
UNION ALL
{_skew_cte('orders', 'o_custkey')}
UNION ALL
{_skew_cte('events', 'user_id')}
""",
)
def profile_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the diagnostic that decides WHEN the
    engine's mitigation machinery (operators/skew.py salted join, AQE
    skew-join splitting) is needed: for each prospective join/groupBy
    key it reports cardinality, the heaviest key's row count, exact
    p50/p99 per-key counts (order statistics at rank ceil(q·n), the
    `profile_winsorize_clip` convention), and skew_factor = max/mean
    (1.0 = perfectly uniform; > ~4 means the hottest key's shuffle
    partition dominates the stage at 100 TB). Per key column: one
    map-side-combined count aggregate over the slim key column, then
    the order statistics come from the CUMULATIVE COUNT-OF-COUNTS — the
    q-th order statistic of per-key counts is the smallest count c
    whose cumulative key-frequency reaches ceil(q·n_keys). The one
    unpartitioned window therefore runs over the |distinct count
    values|-row frequency table (bounded by the heaviest key's count —
    thousands, not billions), never the |keys|-row count table a global
    row_number rank would single-task-sort at 100 TB (ADVICE r02).
    All outputs are exact integers except the final division."""
    out = None
    for table, col in (
        ("lineitem", "l_partkey"),
        ("orders", "o_custkey"),
        ("events", "user_id"),
    ):
        counts = (
            t(spark, sf_dir, table)
            .groupBy(F.col(col).alias("key"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        totals = counts.agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").cast("long").alias("max_key_rows"),
        )
        freq = counts.groupBy("c").agg(F.count(F.lit(1)).alias("f"))
        cum = freq.withColumn(
            "cum",
            F.sum("f").over(
                Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        stats = (
            cum.crossJoin(F.broadcast(totals))
            .agg(
                F.lit(f"{table}.{col}").alias("key_col"),
                F.max("n_rows").alias("n_rows"),
                F.max("n_keys").alias("n_keys"),
                F.max("max_key_rows").alias("max_key_rows"),
                F.min(
                    F.when(
                        F.col("cum")
                        >= F.ceil(F.lit(0.50) * F.col("n_keys")).cast("long"),
                        F.col("c"),
                    )
                ).alias("p50_key_rows"),
                F.min(
                    F.when(
                        F.col("cum")
                        >= F.ceil(F.lit(0.99) * F.col("n_keys")).cast("long"),
                        F.col("c"),
                    )
                ).alias("p99_key_rows"),
                (
                    F.max("max_key_rows") * 1.0 * F.max("n_keys") / F.max("n_rows")
                ).alias("skew_factor"),
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out


@register(
    "features_target_encode_loo",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT o_orderpriority, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
  FROM o GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderpriority,
       CASE WHEN g.n > 1
            THEN (g.s - o.cents) * 1.0 / (g.n - 1) / 100.0 END AS te_loo,
       g.s * 1.0 / g.n / 100.0 AS te_naive
FROM o JOIN g USING (o_orderpriority)
""",
)
def features_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the categorical-feature prep
    that replaces a category with the mean target of the OTHER rows in
    that category, the standard leakage guard (the naive encoding
    te_naive leaks each row's own target into its feature; LOO removes
    it exactly: (sum - own)/(n - 1), no K-fold machinery needed when
    sums are exact). Targets live in integer cents so group sums are
    associative bigints; each row's encoding is then two IEEE divisions
    in a fixed order — value-hash parity without any float-sum
    ordering hazard. Shape: ONE map-side-combined aggregate produces
    the |categories|-row (n, sum) table, which broadcast-joins back
    onto the fact rows — the fact table is scanned once and never
    shuffles (the same envelope at 100 TB; K-fold variants just add a
    fold column to the group key)."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    return o.join(F.broadcast(g), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.when(
            F.col("n") > 1,
            (F.col("s") - F.col("cents")) * 1.0 / (F.col("n") - 1) / 100.0,
        ).alias("te_loo"),
        (F.col("s") * 1.0 / F.col("n") / 100.0).alias("te_naive"),
    )


@register(
    "profile_correlation",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
         CAST(sum(CAST(round(l_extendedprice) AS BIGINT) * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy
  FROM lineitem
  GROUP BY 1
)
SELECT l_returnflag, n,
       sx * 1.0 / n AS mean_qty,
       sy * 1.0 / n AS mean_price,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS covar,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_r
FROM s
""",
)
def profile_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact single-pass Pearson correlation / covariance between two
    measures per group (quantity vs price per return flag) — the
    feature-redundancy screen run before training-set assembly, and
    the textbook case for SUFFICIENT STATISTICS at scale: one
    map-side-combined aggregate carries (n, Σx, Σy, Σxy, Σx², Σy²) as
    exact bigints (quantity is integer-valued; price is rounded to
    whole units so squares stay < 2^63), and mean/covariance/r are
    derived afterward by a FIXED sequence of IEEE double ops —
    bit-identical cross-engine, unlike corr()/covar_samp() whose
    internal float accumulation is partitioning-dependent. The same
    six sums merge associatively across shards, days, or engines —
    this is the incremental-statistics pattern (`olap_mv_incremental_
    refresh` applies it to count/sum state)."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice"), 0).cast("long").alias("y"),
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = nd * sxyd - sxd * syd
    return s.select(
        "l_returnflag",
        "n",
        (F.col("sx") * 1.0 / F.col("n")).alias("mean_qty"),
        (F.col("sy") * 1.0 / F.col("n")).alias("mean_price"),
        (num / (nd * nd)).alias("covar"),
        (
            num
            / (
                F.sqrt(nd * sxxd - sxd * sxd)
                * F.sqrt(nd * syyd - syd * syd)
            )
        ).alias("corr_r"),
    )


_KMV_P = 2147483647
_KMV_K = 64


@register(
    "profile_distinct_kmv_theta",
    oracle=f"""
WITH cohorts AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS cohort, user_id
  FROM events
  WHERE value > 135 AND event_type IN ('purchase', 'error')
),
hashes AS (
  SELECT DISTINCT cohort, ((user_id % {_KMV_P}) * 1103515245 + 12345) % {_KMV_P} AS h
  FROM cohorts
),
sk AS (
  SELECT cohort, h, row_number() OVER (PARTITION BY cohort ORDER BY h) AS rn
  FROM hashes
),
kmv AS (SELECT cohort, h FROM sk WHERE rn <= {_KMV_K}),
est AS (
  SELECT cohort, max(h) AS hk, count(*) AS nk,
         CASE WHEN count(*) < {_KMV_K} THEN count(*) * 1.0
              ELSE ({_KMV_K} - 1) * {_KMV_P}.0 / max(h) END AS est_distinct
  FROM kmv GROUP BY cohort
),
theta AS (SELECT min(hk) AS th, min(nk) AS min_nk FROM est),
inter AS (
  SELECT count(*) AS n_common
  FROM kmv a JOIN kmv b ON a.h = b.h AND a.cohort = 'a' AND b.cohort = 'b'
  CROSS JOIN theta
  WHERE a.h < theta.th OR theta.min_nk < {_KMV_K}
),
exact AS (
  SELECT
    (SELECT count(DISTINCT user_id) FROM cohorts WHERE cohort = 'a') AS exact_a,
    (SELECT count(DISTINCT user_id) FROM cohorts WHERE cohort = 'b') AS exact_b,
    (SELECT count(*) FROM
      (SELECT DISTINCT user_id FROM cohorts WHERE cohort = 'a'
       INTERSECT SELECT DISTINCT user_id FROM cohorts WHERE cohort = 'b')) AS exact_both
)
SELECT (SELECT est_distinct FROM est WHERE cohort = 'a') AS est_a,
       (SELECT est_distinct FROM est WHERE cohort = 'b') AS est_b,
       CASE WHEN (SELECT min_nk FROM theta) < {_KMV_K} THEN n_common * 1.0
            ELSE n_common * 1.0 * {_KMV_P} / (SELECT th FROM theta) END AS est_both,
       exact_a, exact_b, exact_both
FROM inter, exact
""",
)
def profile_distinct_kmv_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-sketch distinct counting with SET-OPERATION support
    — the fourth mergeable-sketch family (HLL = distinct rollup,
    histogram = quantiles, CMS = frequencies, KMV/theta = distinct
    algebra): each cohort's sketch is its k smallest deterministic key
    hashes, mergeable by union-then-truncate, and — unlike HLL, which
    only unions — two sketches INTERSECT directly (count common hashes
    below the shared theta = min of the two k-th minima, scale by
    P/theta). The hash is the engine's affine-mod-Mersenne map, so
    sketch contents, theta, and both estimates reproduce bit-exactly
    cross-engine — the approximation itself is oracled, alongside the
    exact audit. Sub-k cohorts degrade to exact counts (the estimator
    guard). Shape: per-cohort distinct-hash aggregate (map-side
    combined), a k-row-per-cohort rank, and 1-row broadcast merges —
    the raw table is scanned once per branch and the sketches are KB-
    sized no matter the cohort cardinality."""
    ev = t(spark, sf_dir, "events").select("event_type", "user_id", "value")
    cohorts = ev.filter(
        (F.col("value") > 135) & F.col("event_type").isin("purchase", "error")
    ).select(
        F.when(F.col("event_type") == "purchase", "a").otherwise("b").alias("cohort"),
        "user_id",
    )
    h = ((F.col("user_id") % _KMV_P) * 1103515245 + 12345) % _KMV_P
    hashes = cohorts.select("cohort", h.alias("h")).distinct()
    rn = F.row_number().over(Window.partitionBy("cohort").orderBy("h"))
    kmv = hashes.withColumn("rn", rn).filter(F.col("rn") <= _KMV_K)
    est = kmv.groupBy("cohort").agg(
        F.max("h").alias("hk"),
        F.count(F.lit(1)).alias("nk"),
        F.when(
            F.count(F.lit(1)) < _KMV_K, F.count(F.lit(1)) * 1.0
        )
        .otherwise(F.lit(_KMV_K - 1) * float(_KMV_P) / F.max("h"))
        .alias("est_distinct"),
    )
    theta = est.agg(F.min("hk").alias("th"), F.min("nk").alias("min_nk"))
    a = kmv.filter(F.col("cohort") == "a").select(F.col("h").alias("ha"))
    b = kmv.filter(F.col("cohort") == "b").select(F.col("h").alias("hb"))
    inter = (
        a.join(b, F.col("ha") == F.col("hb"))
        .crossJoin(F.broadcast(theta))
        .filter((F.col("ha") < F.col("th")) | (F.col("min_nk") < _KMV_K))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    dist_users = cohorts.distinct()
    exact = (
        dist_users.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("cohort") == "a", 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("cohort") == "b", 1).otherwise(0)).alias("in_b"),
        )
        .agg(
            F.sum("in_a").cast("long").alias("exact_a"),
            F.sum("in_b").cast("long").alias("exact_b"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("exact_both"),
        )
    )
    est_a = est.filter(F.col("cohort") == "a").select(
        F.col("est_distinct").alias("est_a")
    )
    est_b = est.filter(F.col("cohort") == "b").select(
        F.col("est_distinct").alias("est_b")
    )
    return (
        inter.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(est_a))
        .crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(exact))
        .select(
            "est_a",
            "est_b",
            F.when(F.col("min_nk") < _KMV_K, F.col("n_common") * 1.0)
            .otherwise(F.col("n_common") * 1.0 * _KMV_P / F.col("th"))
            .alias("est_both"),
            "exact_a",
            "exact_b",
            "exact_both",
        )
    )


@register(
    "governance_k_anonymity",
    oracle="""
WITH qi AS (
  SELECT c_mktsegment, c_nationkey,
         CASE WHEN c_acctbal < 0 THEN 'neg'
              WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bal_band
  FROM customer
),
cls AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS class_size,
         count(DISTINCT bal_band) AS l_diversity
  FROM qi GROUP BY 1, 2
)
SELECT c_mktsegment, c_nationkey, class_size, l_diversity,
       (class_size < 12) AS k_risk, (l_diversity < 3) AS l_risk
FROM cls
""",
)
def governance_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy risk assessment before a dataset release: k-anonymity
    and l-diversity over the quasi-identifier combination
    (segment, nation) — an equivalence class smaller than k re-
    identifies its members by linkage; one whose sensitive attribute
    (account-balance band) shows fewer than l distinct values leaks it
    even without re-identification (the homogeneity attack k-anonymity
    alone misses). The flagged classes are the rows a release pipeline
    must suppress or generalize (coarsen nation → region, widen bands)
    before export — the k-anonymization loop's measurement half.
    Shape: ONE map-side-combined aggregate over the slim QI projection;
    class stats are |QI-combinations| rows. Exact integers end to end."""
    c = t(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    cls = (
        c.select("c_mktsegment", "c_nationkey", band.alias("bal_band"))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("bal_band").alias("l_diversity"),
        )
    )
    return cls.select(
        "c_mktsegment",
        "c_nationkey",
        "class_size",
        "l_diversity",
        (F.col("class_size") < 12).alias("k_risk"),
        (F.col("l_diversity") < 3).alias("l_risk"),
    )


@register(
    "features_standard_scale",
    tags=("bench",),
    oracle="""
WITH x AS (
  SELECT event_id, event_type,
         CAST(round(value) AS BIGINT) AS v
  FROM events
),
s AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(v) AS BIGINT) AS sx,
         CAST(sum(v * v) AS BIGINT) AS sxx,
         CAST(min(v) AS BIGINT) AS mn, CAST(max(v) AS BIGINT) AS mx
  FROM x GROUP BY 1
)
SELECT x.event_id, x.event_type, x.v AS value_unit,
       CASE WHEN s.n > 1 AND s.n * s.sxx - s.sx * s.sx > 0
            THEN (x.v - s.sx * 1.0 / s.n)
                 / sqrt((s.n * s.sxx - s.sx * s.sx) * 1.0
                        / (s.n * 1.0 * (s.n - 1))) END AS z_score,
       CASE WHEN s.mx > s.mn
            THEN (x.v - s.mn) * 1.0 / (s.mx - s.mn) END AS minmax_scaled
FROM x JOIN s USING (event_type)
""",
)
def features_standard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling (z-score + min-max) — the numeric-
    feature normalization every training pipeline runs before fitting,
    as the two-pass pattern that actually distributes: pass one is ONE
    map-side-combined aggregate collecting exact-bigint sufficient
    statistics (n, Σx, Σx², min, max) per group (values in whole units
    so squares stay < 2^63 at warehouse row counts — the
    `profile_correlation` convention); pass two broadcast-joins the
    |groups|-row stats table back and derives z = (x − mean)/std and
    (x − min)/(max − min) by a FIXED sequence of IEEE double ops —
    partitioning-invariant, unlike stddev_samp() whose float
    accumulation order varies by shard. Sample std uses the
    integer-exact variance numerator n·Σx² − (Σx)² so the only floats
    are the final divisions. Degenerate groups (n = 1, zero variance,
    constant min = max) yield NULL rather than a division by zero —
    the contract a feature-store writer needs. The fact table is
    scanned twice but never shuffled (stats shuffle |groups| rows;
    the join is broadcast). At 100 TB the same stats merge
    associatively across shards/days — incremental re-scaling without
    a full rescan."""
    x = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value"), 0).cast("long").alias("v"),
    )
    s = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    var_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return x.join(F.broadcast(s), "event_type").select(
        "event_id",
        "event_type",
        F.col("v").alias("value_unit"),
        F.when(
            (F.col("n") > 1) & (var_num > 0),
            (F.col("v") - F.col("sx") * 1.0 / F.col("n"))
            / F.sqrt(var_num * 1.0 / (F.col("n") * 1.0 * (F.col("n") - 1))),
        ).alias("z_score"),
        F.when(
            F.col("mx") > F.col("mn"),
            (F.col("v") - F.col("mn")) * 1.0 / (F.col("mx") - F.col("mn")),
        ).alias("minmax_scaled"),
    )


@register(
    "features_mutual_info_rank",
    oracle="""
WITH base AS (
  SELECT CAST(o_totalprice > 150000 AS BIGINT) AS label,
         o_orderpriority, o_orderstatus,
         CAST(year(o_orderdate) AS VARCHAR) AS o_year
  FROM orders
),
stacked AS (
  SELECT 'priority' AS feature, o_orderpriority AS val, label FROM base
  UNION ALL
  SELECT 'status' AS feature, o_orderstatus AS val, label FROM base
  UNION ALL
  SELECT 'year' AS feature, o_year AS val, label FROM base
),
joint AS (
  SELECT feature, val, label, count(*) AS c_xy
  FROM stacked GROUP BY 1, 2, 3
),
margx AS (SELECT feature, val, CAST(sum(c_xy) AS BIGINT) AS c_x
          FROM joint GROUP BY 1, 2),
margy AS (SELECT feature, label, CAST(sum(c_xy) AS BIGINT) AS c_y
          FROM joint GROUP BY 1, 2),
tot AS (SELECT feature, CAST(sum(c_xy) AS BIGINT) AS n FROM joint GROUP BY 1),
cells AS (
  SELECT j.feature, j.val,
         CAST(round(j.c_xy * ln((j.c_xy * 1.0 * t.n)
                                / (mx.c_x * 1.0 * my.c_y))
                    / t.n * 1e6) AS BIGINT) AS cell_micronats
  FROM joint j
  JOIN margx mx ON j.feature = mx.feature AND j.val = mx.val
  JOIN margy my ON j.feature = my.feature AND j.label = my.label
  JOIN tot t ON j.feature = t.feature
),
pf AS (
  SELECT feature, CAST(count(DISTINCT val) AS BIGINT) AS n_values,
         CAST(sum(cell_micronats) AS BIGINT) AS mi_micronats
  FROM cells GROUP BY 1
)
SELECT feature, n_values, mi_micronats,
       CAST(row_number() OVER (ORDER BY mi_micronats DESC, feature)
            AS BIGINT) AS mi_rank
FROM pf
""",
)
def features_mutual_info_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking — the filter-method feature
    selector (rank categorical features by I(X;label) before training,
    drop the bottom). Label: is the order a large one. Candidate
    features (priority, status, order-year) UNPIVOT into one
    (feature, value, label) stream so a SINGLE grouped count produces
    every joint distribution at once; marginals and totals are
    re-aggregations of that tiny contingency table (|features| x
    |values| x 2 rows — broadcast-sized however big the fact table).
    DETERMINISM: each cell's contribution (c_xy/n)·ln(c_xy·n/(c_x·c_y))
    is micro-quantized to an exact bigint (×1e6, the
    `text_unigram_logprob` convention) so the per-feature sum is
    associative — no float-sum ordering hazard; ln() is evaluated on
    identical exact-integer-derived doubles in both engines. Shape:
    one fact scan (the 3x unpivot multiplies rows before the map-side
    combine, not the shuffle — partial aggregation collapses each
    partition to its distinct cells), three broadcast joins over
    sketch-sized tables, and a |features|-row ranking window. At
    100 TB this is the cheapest defensible feature screen: exactly
    one shuffle of distinct-cell counts."""
    base = t(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") > 150000).cast("long").alias("label"),
        "o_orderpriority",
        "o_orderstatus",
        F.year("o_orderdate").cast("string").alias("o_year"),
    )
    stacked = base.selectExpr(
        "stack(3, 'priority', o_orderpriority, 'status', o_orderstatus,"
        " 'year', o_year) AS (feature, val)",
        "label",
    )
    joint = stacked.groupBy("feature", "val", "label").agg(
        F.count(F.lit(1)).alias("c_xy")
    )
    margx = joint.groupBy("feature", "val").agg(F.sum("c_xy").alias("c_x"))
    margy = joint.groupBy("feature", "label").agg(F.sum("c_xy").alias("c_y"))
    tot = joint.groupBy("feature").agg(F.sum("c_xy").alias("n"))
    cells = (
        joint.join(F.broadcast(margx), ["feature", "val"])
        .join(F.broadcast(margy), ["feature", "label"])
        .join(F.broadcast(tot), "feature")
        .select(
            "feature",
            "val",
            F.round(
                F.col("c_xy")
                * F.log(
                    (F.col("c_xy") * 1.0 * F.col("n"))
                    / (F.col("c_x") * 1.0 * F.col("c_y"))
                )
                / F.col("n")
                * 1e6
            )
            .cast("long")
            .alias("cell_micronats"),
        )
    )
    per_feature = cells.groupBy("feature").agg(
        F.countDistinct("val").alias("n_values"),
        F.sum("cell_micronats").alias("mi_micronats"),
    )
    w = Window.orderBy(F.col("mi_micronats").desc(), F.col("feature"))
    return per_feature.select(
        "feature",
        "n_values",
        "mi_micronats",
        F.row_number().over(w).cast("long").alias("mi_rank"),
    )


@register(
    "governance_dp_count_release",
    oracle="""
WITH g AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS true_count
  FROM customer GROUP BY 1, 2
),
u AS (
  SELECT *,
         (('0x' || substr(md5(c_mktsegment || '|' || c_nationkey::VARCHAR),
                          1, 8))::BIGINT + 0.5) / 4294967296.0 AS uu
  FROM g
)
SELECT c_mktsegment, c_nationkey,
       CAST(true_count AS BIGINT) AS true_count,
       CAST(greatest(0, round(true_count +
            CASE WHEN uu < 0.5 THEN ln(2.0 * uu)
                 ELSE -ln(2.0 * (1.0 - uu)) END)) AS BIGINT)
         AS released_count,
       CAST(1.0 AS DOUBLE) AS epsilon
FROM u
""",
)
def governance_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release — the privacy mechanism a
    training-data platform applies before publishing per-cohort stats
    (counts per segment x nation here): add Laplace(1/eps) noise to
    each count (eps = 1, sensitivity 1 for a count query), clamp at
    zero, round to an integer. DETERMINISTIC NOISE FOR THE ORACLE: the
    uniform draw is derived from md5(group key) (first 8 hex digits →
    uint32 → (v+0.5)/2^32, the engine's cross-engine hash-uniform
    idiom, `operators/dedup.py` md5-MinHash), and the Laplace
    inverse-CDF sign·ln transform is a fixed sequence of IEEE double
    ops on that exact-integer-derived uniform — both engines compute
    bit-identical noise, and rounding to whole counts gives a wide
    determinism margin. (A production release swaps the hash-seeded
    draw for a real RNG — one expression; and drops the true_count
    audit column.) Shape: ONE map-side-combined aggregate to the
    |cohorts|-row table, then pure per-row projection — no second
    shuffle, no data-dependent branching; at 100 TB the mechanism
    costs exactly the underlying GROUP BY. The true_count column
    stays only so the oracle audits the mechanism end to end."""
    g = (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    uu = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("c_mktsegment"),
                        F.lit("|"),
                        F.col("c_nationkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / 4294967296.0
    lap = F.when(F.col("uu") < 0.5, F.log(2.0 * F.col("uu"))).otherwise(
        -F.log(2.0 * (1.0 - F.col("uu")))
    )
    return (
        g.withColumn("uu", uu)
        .select(
            "c_mktsegment",
            "c_nationkey",
            F.col("true_count").cast("long").alias("true_count"),
            F.greatest(F.lit(0), F.round(F.col("true_count") + lap, 0))
            .cast("long")
            .alias("released_count"),
            F.lit(1.0).alias("epsilon"),
        )
    )


@register(
    "governance_retention_sweep",
    oracle="""
WITH pol(event_type, keep_days) AS (
  VALUES ('view', 7), ('click', 7), ('error', 3),
         ('signup', 21), ('purchase', 21)
),
mx AS (SELECT max(ts) AS now FROM events),
flagged AS (
  SELECT e.event_type, CAST(e.ts AS DATE) AS event_date,
         CASE WHEN e.ts < mx.now - keep_days * INTERVAL 1 DAY
              THEN 1 ELSE 0 END AS expired
  FROM events e JOIN pol USING (event_type), mx
)
SELECT event_type, strftime(event_date, '%Y-%m-%d') AS event_date,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(expired) AS BIGINT) AS n_expired,
       (sum(expired) = count(*)) AS drop_partition,
       (sum(expired) > 0 AND sum(expired) < count(*)) AS rewrite_partition
FROM flagged GROUP BY 1, 2
""",
)
def governance_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/TTL sweep planner — the GDPR-era maintenance job that
    turns a per-class retention policy (error logs 3 days, behavioral
    events 7, transactional 21) into a partition-level DELETE MANIFEST:
    for each (event_type, date) partition, the row count, how many rows
    are past retention at the sweep's reference time (max event ts —
    deterministic for the oracle; production passes now()), and the
    DECISION — `drop_partition` (every row expired → O(1) directory
    delete, no data read) vs `rewrite_partition` (mixed → copy-retain
    rewrite of that partition only). This partition-granular triage is
    the whole 100 TB story: on a date-partitioned layout the sweep
    reads only partition METADATA for droppable dates and rewrites
    only the boundary date per class — never a full scan. Shape: the
    policy is a 5-row broadcast, the reference time a 1-row broadcast
    (scalar-subquery idiom), then ONE map-side-combined aggregate to
    |class × date| manifest rows. Exact integers end to end."""
    pol = F.broadcast(
        spark.createDataFrame(
            [("view", 7), ("click", 7), ("error", 3),
             ("signup", 21), ("purchase", 21)],
            ["event_type", "keep_days"],
        )
    )
    ev = t(spark, sf_dir, "events").select("event_type", "ts")
    mx = ev.agg(F.max("ts").alias("now"))
    flagged = (
        ev.join(pol, "event_type")
        .crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            F.col("ts").cast("date").alias("event_date"),
            F.when(
                F.col("ts")
                < F.col("now") - F.col("keep_days") * F.expr("INTERVAL 1 DAY"),
                1,
            )
            .otherwise(0)
            .alias("expired"),
        )
    )
    return flagged.groupBy("event_type", "event_date").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("expired").alias("n_expired"),
        (F.sum("expired") == F.count(F.lit(1))).alias("drop_partition"),
        (
            (F.sum("expired") > 0) & (F.sum("expired") < F.count(F.lit(1)))
        ).alias("rewrite_partition"),
    ).select(
        "event_type",
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
        "n_rows",
        "n_expired",
        "drop_partition",
        "rewrite_partition",
    )


@register(
    "maintenance_compaction_plan",
    oracle="""
WITH files AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(count(*) * 96 AS BIGINT) AS file_bytes
  FROM events GROUP BY 1, 2
),
placed AS (
  SELECT event_type, h, file_bytes,
         CAST(sum(file_bytes) OVER (PARTITION BY event_type ORDER BY h
                                    ROWS UNBOUNDED PRECEDING)
              - file_bytes AS BIGINT) AS start_off
  FROM files
)
SELECT event_type, h AS file_hour, file_bytes,
       CAST(floor(start_off / 262144) AS BIGINT) AS target_file_id
FROM placed
""",
)
def maintenance_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner — the lakehouse maintenance pass
    that bins many small per-hour files into ~256 KB target files
    without breaking time-locality: within each partition class
    (event_type), files are laid end-to-end in hour order and each is
    assigned to the target file where its START OFFSET falls
    (floor(running-bytes-before / target)) — a deterministic
    streaming-bin-pack that needs ONE prefix-sum window, no iteration,
    and keeps every target file a contiguous hour range (so downstream
    time-range scans still prune). File sizes here are modeled as
    rows × 96 B from the same hourly rollup the engine's other
    maintenance ops use (a real deployment reads the filesystem
    manifest — same plan from `input_file_name()` + file sizes).
    Scale: the window partitions by class — thousands of classes
    parallelize; within-class file counts are |hours|, driver-free.
    Z-order layout (`maintenance_zorder_layout`) decides WHERE rows
    go; this decides WHICH physical files get merged — the two halves
    of table maintenance. Exact bigints end to end."""
    files = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_seconds(F.col("ts")) / 3600).cast("long").alias("h"),
        )
        .agg((F.count(F.lit(1)) * 96).alias("file_bytes"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = files.withColumn(
        "start_off", F.sum("file_bytes").over(w) - F.col("file_bytes")
    )
    return placed.select(
        "event_type",
        F.col("h").alias("file_hour"),
        "file_bytes",
        F.floor(F.col("start_off") / 262144).alias("target_file_id"),
    )


@register(
    "profile_skew_gini",
    oracle="""
WITH per_key AS (
  SELECT event_type, user_id, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, cnt,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cnt, user_id) AS rk
  FROM per_key
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS total,
         CAST(max(cnt) AS BIGINT) AS max_key,
         CAST(sum(rk * cnt) AS BIGINT) AS weighted
  FROM ranked GROUP BY 1
)
SELECT event_type, n_keys, total, max_key,
       (2.0 * weighted - (n_keys + 1.0) * total)
         / (CAST(n_keys AS DOUBLE) * total) AS gini,
       max_key * 1.0 / total AS top_key_share
FROM s
""",
)
def profile_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-concentration profile per class — the Gini coefficient of
    the per-key traffic distribution plus the single-hottest-key share,
    the two numbers that decide a partitioning strategy BEFORE the job
    runs: gini ≈ 0 → uniform keys, hash-partition plainly; gini → 1 or
    a large top_key_share → salt the hot keys or broadcast the other
    side (`olap_skew_salted_join` is the cure this measures the need
    for; `profile_join_skew` lists the culprits, this scores the
    distribution). Exact formulation: with per-key counts ranked
    ascending (ties broken by key id — deterministic cross-engine),
    G = (2·Σ rk·cnt − (n+1)·Σcnt) / (n·Σcnt) — every accumulation an
    exact bigint, the final expression a fixed IEEE sequence. Shape:
    per-key rollup (map-side combined), a per-class rank window over
    the ROLLUP (|keys| rows, not events), one stats aggregate. The
    rank window partitions by class — at billions of keys per class,
    swap rank·cnt for the cumulative count-of-counts identity exactly
    as `profile_join_skew` documents; same plan otherwise."""
    per_key = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("cnt", "user_id")
    ranked = per_key.withColumn("rk", F.row_number().over(w))
    s = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("max_key"),
        F.sum(F.col("rk") * F.col("cnt")).alias("weighted"),
    )
    return s.select(
        "event_type",
        "n_keys",
        "total",
        "max_key",
        (
            (2.0 * F.col("weighted") - (F.col("n_keys") + 1.0) * F.col("total"))
            / (F.col("n_keys").cast("double") * F.col("total"))
        ).alias("gini"),
        (F.col("max_key") * 1.0 / F.col("total")).alias("top_key_share"),
    )


@register(
    "sampling_curriculum_anneal",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(round(len(list_distinct(string_split(trim(text), ' ')))
               * 1e6 / len(string_split(trim(text), ' '))) AS BIGINT)
           AS score_micro
  FROM documents
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang
                            ORDER BY score_micro DESC, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scored
)
SELECT e.epoch, doc_id, lang, score_micro,
       ('0x' || substr(md5(e.epoch || ':' || doc_id), 1, 15))::BIGINT
         AS order_key
FROM ranked, (SELECT unnest([1, 2, 3]) AS epoch) e
WHERE rk * CAST(pow(2, e.epoch - 1) AS BIGINT) <= n
""",
)
def sampling_curriculum_anneal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-annealed curriculum materialization — the data-ordering
    schedule modern pretraining runs use (broad early epochs, a
    progressively quality-filtered tail): epoch 1 streams every
    document, epoch 2 each language's top half by quality, epoch 3 the
    top quarter — so late training sees only the best data without a
    separate "midtraining" corpus build. Quality here is type-token
    ratio in exact integer micro-units (distinct-word fraction — cheap,
    single-pass, deterministic); the per-epoch cut is the EXACT integer
    test rk·2^(epoch−1) ≤ n (no float threshold to disagree across
    engines), and each surviving (epoch, doc) gets a hash order key so
    the within-epoch read order is a reproducible shuffle rather than
    corpus order (the `sampling_shard_shuffle` idiom). Shape: one
    narrow scoring pass, ONE per-language rank window over slim
    (id, lang, score) rows — text never shuffles — then a 3× epoch
    fan-out filtered by the integer cut. At 100 TB: the window
    partitions by language; for billion-doc languages swap the exact
    rank for the quantile-threshold cut exactly as `sampling_quality_
    topp` documents — same epochs, sketch-sized state."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    scored = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(round(size(array_distinct(split(trim(text), ' ')))"
            " * 1e6 / size(split(trim(text), ' '))) AS BIGINT)"
        ).alias("score_micro"),
    )
    wl = Window.partitionBy("lang")
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(wl.orderBy(F.col("score_micro").desc(), "doc_id")),
    ).withColumn("n", F.count(F.lit(1)).over(wl))
    return (
        ranked.select(
            "doc_id",
            "lang",
            "score_micro",
            "rk",
            "n",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("epoch"),
        )
        .filter(
            F.col("rk") * F.pow(F.lit(2), F.col("epoch") - 1).cast("long")
            <= F.col("n")
        )
        .select(
            "epoch",
            "doc_id",
            "lang",
            "score_micro",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))), 1, 15
                ),
                16,
                10,
            )
            .cast("long")
            .alias("order_key"),
        )
    )


@register(
    "recon_snapshot_diff",
    oracle="""
WITH cur AS (  -- the full current snapshot
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
prev AS (  -- reconstructed prior snapshot: no %19 rows (since added),
           -- old price for %13 rows, old status for %11 rows,
           -- plus rows deleted since (ghost keys)
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice - 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 19 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 29 = 0
),
d AS (
  SELECT COALESCE(c.o_orderkey, p.o_orderkey) AS o_orderkey,
         CASE WHEN p.o_orderkey IS NULL THEN 'added'
              WHEN c.o_orderkey IS NULL THEN 'removed'
              WHEN c.o_orderstatus <> p.o_orderstatus
                OR c.o_totalprice <> p.o_totalprice THEN 'changed'
              ELSE 'same' END AS change_type,
         concat_ws(',',
           CASE WHEN c.o_orderkey IS NOT NULL AND p.o_orderkey IS NOT NULL
                 AND c.o_orderstatus <> p.o_orderstatus
                THEN 'o_orderstatus' END,
           CASE WHEN c.o_orderkey IS NOT NULL AND p.o_orderkey IS NOT NULL
                 AND c.o_totalprice <> p.o_totalprice
                THEN 'o_totalprice' END) AS changed_cols
  FROM cur c FULL OUTER JOIN prev p USING (o_orderkey)
)
SELECT o_orderkey, change_type, changed_cols
FROM d WHERE change_type <> 'same'
""",
)
def recon_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot table diff with COLUMN-LEVEL attribution —
    the data-diff tool (Datafold-style) run before promoting a rebuilt
    table: full-outer join of current vs prior snapshot on the primary
    key, each row classified added / removed / changed, and changed
    rows carrying the exact list of differing columns (the signal that
    separates "price restatement" from "status-machine bug" without
    eyeballing rows). The prior snapshot is reconstructed
    deterministically from the fixture (modular families: %19 added
    since, %13 price-restated, %11 status-changed, %29 deleted-since
    as ghost keys) so the whole diff value-hash-oracles. 'same' rows
    are filtered OUT — the manifest is proportional to the CHANGE
    volume, not the table. Shape: one key-partitioned full-outer
    shuffle join (both sides pruned to key + compared columns before
    the exchange); at 100 TB this is the canonical sorted-merge
    diff — and a bucketed layout on the key (`operators/bucketing`)
    removes even that exchange. `recon_full_outer_activity` reconciles
    AGGREGATES; this reconciles ROWS."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cur = o
    prev = (
        o.filter(F.col("o_orderkey") % 19 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") - 100.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 29 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    # per-side key columns survive the join so presence is tested on the
    # KEY (the oracle's p.o_orderkey IS NULL test), never inferred from
    # nullable payload columns
    c = cur.withColumnRenamed("o_orderkey", "c_key").alias("c")
    p = prev.withColumnRenamed("o_orderkey", "p_key").alias("p")
    joined = c.join(p, F.col("c_key") == F.col("p_key"), "full_outer")
    both = F.col("c_key").isNotNull() & F.col("p_key").isNotNull()
    status_diff = both & (
        F.col("c.o_orderstatus") != F.col("p.o_orderstatus")
    )
    price_diff = both & (
        F.col("c.o_totalprice") != F.col("p.o_totalprice")
    )
    d = joined.select(
        F.coalesce(F.col("c_key"), F.col("p_key")).alias("o_orderkey"),
        F.when(F.col("p_key").isNull(), "added")
        .when(F.col("c_key").isNull(), "removed")
        .when(status_diff | price_diff, "changed")
        .otherwise("same")
        .alias("change_type"),
        F.concat_ws(
            ",",
            F.when(status_diff, "o_orderstatus"),
            F.when(price_diff, "o_totalprice"),
        ).alias("changed_cols"),
    )
    return d.filter(F.col("change_type") != "same")


@register(
    "governance_column_masking",
    oracle="""
SELECT c_custkey,
       'cust_' || substr(md5('name-salt:' || c_name), 1, 12) AS name_pseudonym,
       CASE WHEN c_acctbal < 0 THEN 'neg'
            WHEN c_acctbal < 2500 THEN 'low'
            WHEN c_acctbal < 7500 THEN 'mid' ELSE 'high' END AS bal_band,
       c_mktsegment,
       CAST(c_nationkey AS BIGINT) AS c_nationkey
FROM customer
""",
)
def governance_column_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level masking policy applied at read time — the analyst
    view of a PII-bearing dimension: direct identifiers replaced by a
    SALTED-HASH PSEUDONYM (stable across tables and days, so joins and
    funnels still work on the pseudonym — the property plain redaction
    destroys), and the quantitative attribute generalized to coarse
    bands (the k-anonymity generalization `governance_k_anonymity`
    measures the need for). The salt is a literal here; production
    injects it from a secret store, and re-keying the salt rotates
    every pseudonym corpus-wide in one pass. Shape: PURE narrow
    projection — zero shuffles, zero joins, codegen'd md5/concat at
    scan speed; masking at 100 TB costs exactly the scan (and under
    column pruning, only the masked columns are read at all).
    Downstream: `text_redact_pii` masks free text; this masks typed
    columns; `governance_dp_count_release` protects the aggregates."""
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.lit("cust_"),
            F.substring(F.md5(F.concat(F.lit("name-salt:"), F.col("c_name"))), 1, 12),
        ).alias("name_pseudonym"),
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 2500, "low")
        .when(F.col("c_acctbal") < 7500, "mid")
        .otherwise("high")
        .alias("bal_band"),
        "c_mktsegment",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
    )


@register(
    "corpus_data_card",
    oracle="""
WITH base AS (
  SELECT doc_id, lang, n_chars,
         md5(lower(trim(text))) AS fp,
         len(string_split(trim(text), ' ')) AS n_words
  FROM documents
),
core AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_words) AS BIGINT) AS total_words,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs,
         quantile_cont(n_chars, 0.5) AS p50_chars,
         quantile_cont(n_chars, 0.95) AS p95_chars
  FROM base
),
by_lang AS (
  SELECT lang, count(*) AS cnt FROM base GROUP BY 1
),
top_lang AS (
  SELECT lang AS top_lang, CAST(cnt AS BIGINT) AS top_lang_docs
  FROM by_lang ORDER BY cnt DESC, lang LIMIT 1
)
SELECT n_docs, n_langs, total_chars, total_words, n_unique_docs,
       (n_docs - n_unique_docs) * 1.0 / n_docs AS exact_dup_rate,
       p50_chars, p95_chars, top_lang,
       top_lang_docs * 1.0 / n_docs AS top_lang_share
FROM core, top_lang
""",
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DATA CARD in one query — the summary block a dataset
    release ships (Datasheets-for-Datasets style): volume (docs, words,
    chars), language coverage and concentration, exact-duplicate rate,
    and length percentiles. Everything derives from ONE scan of the
    corpus: a narrow projection computes per-doc fingerprint and word
    count in-line, one aggregate collects the exact counts/sums/
    percentiles, a |langs|-row rollup yields the dominant language,
    and the two rates are fixed-order final divisions over exact
    bigints. At 100 TB the swaps are the engine's standard ones —
    count(DISTINCT fp) → HLL sketch (`profile_distinct_rollup_hll`),
    exact percentiles → mergeable histogram quantiles
    (`profile_histogram_quantiles`) — same card, sketch-sized state;
    every ingredient is already a first-class oracled operator, this
    composes them into the release artifact."""
    base = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_words"),
    )
    core = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.countDistinct("fp").alias("n_unique_docs"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.95)").alias("p95_chars"),
    )
    top_lang = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "lang")
        .limit(1)
        .select(
            F.col("lang").alias("top_lang"),
            F.col("cnt").cast("long").alias("top_lang_docs"),
        )
    )
    return core.crossJoin(F.broadcast(top_lang)).select(
        "n_docs",
        "n_langs",
        "total_chars",
        "total_words",
        "n_unique_docs",
        (
            (F.col("n_docs") - F.col("n_unique_docs")) * 1.0 / F.col("n_docs")
        ).alias("exact_dup_rate"),
        "p50_chars",
        "p95_chars",
        "top_lang",
        (F.col("top_lang_docs") * 1.0 / F.col("n_docs")).alias("top_lang_share"),
    )


@register(
    "sampling_preference_pairs",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang, source,
         CAST(round(len(list_distinct(string_split(trim(text), ' ')))
               * 1e6 / len(string_split(trim(text), ' '))) AS BIGINT)
           AS score_micro
  FROM documents
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY score_micro DESC, doc_id) AS rk_top,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY score_micro, doc_id) AS rk_bot,
         count(*) OVER (PARTITION BY lang, source) AS n
  FROM scored
)
SELECT t.lang, t.source, t.rk_top AS pair_rank,
       t.doc_id AS chosen_id, b.doc_id AS rejected_id,
       t.score_micro AS chosen_score, b.score_micro AS rejected_score
FROM ranked t
JOIN ranked b ON t.lang = b.lang AND t.source = b.source
             AND t.rk_top = b.rk_bot
WHERE t.rk_top <= 5 AND t.n >= 10
  AND t.score_micro > b.score_micro
""",
)
def sampling_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly for DPO/RLHF-style training — per
    (language, source) group, pair the k best-scored documents with
    the k worst (best-vs-worst, rank 1 with rank 1-from-bottom, …):
    the contrastive dataset built when no human labels exist and a
    quality scorer stands in as the preference signal. Deterministic:
    quality is the integer type-token score (`sampling_curriculum_
    anneal`'s), both rankings tie-break on doc id, groups under 10
    docs are skipped (too small to trust the extremes), and degenerate
    pairs where "chosen" doesn't strictly out-score "rejected" are
    dropped — so the pair set is a pure function of the corpus. Shape:
    ONE (lang, source) exchange serves both rank directions and the
    self-join on rank index (ids-only rows; text never moves); credit
    the same envelope for margin-based pair filtering or k-way
    list-wise sampling. At scale the window partitions by group —
    millions of groups parallelize; the per-group sort is the
    rank-vs-quantile swap documented for the curriculum op."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        F.expr(
            "CAST(round(size(array_distinct(split(trim(text), ' ')))"
            " * 1e6 / size(split(trim(text), ' '))) AS BIGINT)"
        ).alias("score_micro"),
    )
    wg = Window.partitionBy("lang", "source")
    ranked = (
        scored.withColumn(
            "rk_top",
            F.row_number().over(
                wg.orderBy(F.col("score_micro").desc(), "doc_id")
            ),
        )
        .withColumn(
            "rk_bot",
            F.row_number().over(wg.orderBy("score_micro", "doc_id")),
        )
        .withColumn("n", F.count(F.lit(1)).over(wg))
    )
    top = ranked.select(
        "lang", "source", "rk_top", "doc_id", "score_micro", "n"
    ).filter((F.col("rk_top") <= 5) & (F.col("n") >= 10))
    bot = ranked.select(
        "lang",
        "source",
        F.col("rk_bot").alias("rk_top"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score_micro").alias("rejected_score"),
    )
    return (
        top.join(bot, ["lang", "source", "rk_top"])
        .filter(F.col("score_micro") > F.col("rejected_score"))
        .select(
            "lang",
            "source",
            F.col("rk_top").alias("pair_rank"),
            F.col("doc_id").alias("chosen_id"),
            "rejected_id",
            F.col("score_micro").alias("chosen_score"),
            "rejected_score",
        )
    )


@register(
    "profile_chisquare_independence",
    oracle="""
WITH base AS (
  SELECT c_mktsegment AS seg,
         CAST(c_acctbal > 4500 AS BIGINT) AS rich
  FROM customer
),
joint AS (SELECT seg, rich, count(*) AS o FROM base GROUP BY 1, 2),
margs AS (SELECT seg, CAST(sum(o) AS BIGINT) AS row_n FROM joint GROUP BY 1),
margr AS (SELECT rich, CAST(sum(o) AS BIGINT) AS col_n FROM joint GROUP BY 1),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM joint),
cells AS (
  SELECT j.seg, j.rich, j.o,
         CAST(round((j.o - ms.row_n * 1.0 * mr.col_n / t.n)
                    * (j.o - ms.row_n * 1.0 * mr.col_n / t.n)
                    / (ms.row_n * 1.0 * mr.col_n / t.n) * 1e6) AS BIGINT)
           AS chi_micro
  FROM joint j
  JOIN margs ms ON j.seg = ms.seg
  JOIN margr mr ON j.rich = mr.rich, tot t
),
s AS (
  SELECT CAST(sum(chi_micro) AS BIGINT) AS chi2_micro,
         CAST((SELECT count(*) FROM margs) AS BIGINT) AS n_rows,
         CAST((SELECT count(*) FROM margr) AS BIGINT) AS n_cols
  FROM cells
)
SELECT chi2_micro,
       (n_rows - 1) * (n_cols - 1) AS dof,
       chi2_micro > 1e6 * 9.488 AS reject_at_05
FROM s
""",
)
def profile_chisquare_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence — the hypothesis-testing
    primitive behind A/B readouts and feature-vs-label screens: is
    account-balance band independent of market segment? Expected cell
    counts derive from exact-bigint marginals in a FIXED sequence of
    IEEE ops; each cell's (O−E)²/E is micro-quantized to a bigint
    before the associative sum (the engine's float-sum rule), and the
    α=0.05 decision compares the integer statistic against the
    critical value for the (rows−1)(cols−1) degrees of freedom
    (9.488 at dof=4 — the constant is data-independent, inlined both
    engines; swap per dof). Shape: one map-side-combined contingency
    count; marginals/total are re-aggregations of the |cells| table;
    the statistic is sketch-sized arithmetic. The same envelope runs
    any categorical×categorical screen at 100 TB for exactly one
    fact-table exchange — pair with `features_mutual_info_rank`
    (effect size) and `profile_drift_psi` (distribution shift)."""
    base = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal") > 4500).cast("long").alias("rich"),
    )
    joint = base.groupBy("seg", "rich").agg(F.count(F.lit(1)).alias("o"))
    margs = joint.groupBy("seg").agg(F.sum("o").alias("row_n"))
    margr = joint.groupBy("rich").agg(F.sum("o").alias("col_n"))
    tot = joint.agg(F.sum("o").alias("n"))
    e = F.col("row_n") * 1.0 * F.col("col_n") / F.col("n")
    cells = (
        joint.join(F.broadcast(margs), "seg")
        .join(F.broadcast(margr), "rich")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round((F.col("o") - e) * (F.col("o") - e) / e * 1e6, 0)
            .cast("long")
            .alias("chi_micro")
        )
    )
    nr = margs.agg(F.count(F.lit(1)).alias("n_rows"))
    nc = margr.agg(F.count(F.lit(1)).alias("n_cols"))
    return (
        cells.agg(F.sum("chi_micro").alias("chi2_micro"))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "chi2_micro",
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
            (F.col("chi2_micro") > 1e6 * 9.488).alias("reject_at_05"),
        )
    )


@register(
    "features_woe_encoding",
    oracle="""
WITH labeled AS (
  SELECT p.p_brand AS brand,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
per_brand AS (
  SELECT brand,
         CAST(sum(1 - bad) AS BIGINT) AS n_good,
         CAST(sum(bad) AS BIGINT) AS n_bad
  FROM labeled GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_good) AS BIGINT) AS g_tot,
         CAST(sum(n_bad) AS BIGINT) AS b_tot
  FROM per_brand
)
SELECT b.brand, b.n_good, b.n_bad,
       CAST(round(ln((CAST(b.n_bad AS DOUBLE) / t.b_tot)
                     / (CAST(b.n_good AS DOUBLE) / t.g_tot)) * 1e6)
            AS BIGINT) AS woe_micronats,
       CAST(round((CAST(b.n_bad AS DOUBLE) / t.b_tot
                   - CAST(b.n_good AS DOUBLE) / t.g_tot)
                  * ln((CAST(b.n_bad AS DOUBLE) / t.b_tot)
                       / (CAST(b.n_good AS DOUBLE) / t.g_tot)) * 1e6)
            AS BIGINT) AS iv_micro
FROM per_brand b, tot t
WHERE b.n_good > 0 AND b.n_bad > 0
""",
)
def features_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value per category —
    the credit-scoring / risk-modeling categorical encoder that
    complements target encoding (features_target_encode_loo): WOE(c) =
    ln(bad_share / good_share), IV contribution = (bad_share −
    good_share)·WOE. One conditional-aggregate rollup to |categories|
    rows, a 1-row total broadcast, micro-nat quantization of the ln
    AFTER the fixed-order double assembly (the mutual-info precedent —
    both engines evaluate the identical IEEE expression); zero-count
    categories excluded (WOE undefined). Shape at 100 TB: broadcast
    dim join + one map-side-combined rollup — nothing else touches the
    fact table."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    labeled = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bad"),
    )
    per_brand = labeled.groupBy("brand").agg(
        F.sum(1 - F.col("bad")).alias("n_good"),
        F.sum("bad").alias("n_bad"),
    )
    tot = per_brand.agg(
        F.sum("n_good").alias("g_tot"), F.sum("n_bad").alias("b_tot")
    )
    bad_share = F.col("n_bad").cast("double") / F.col("b_tot")
    good_share = F.col("n_good").cast("double") / F.col("g_tot")
    woe = F.log(bad_share / good_share)
    return (
        per_brand.crossJoin(F.broadcast(tot))
        .filter((F.col("n_good") > 0) & (F.col("n_bad") > 0))
        .select(
            "brand",
            "n_good",
            "n_bad",
            F.round(woe * 1e6).cast("long").alias("woe_micronats"),
            F.round((bad_share - good_share) * woe * 1e6)
            .cast("long")
            .alias("iv_micro"),
        )
    )


# Benford expected first-digit shares log10(1 + 1/d), inlined as the
# same double literals in both engines (no log10 in either plan)
_BENFORD_P = [
    0.301029995664, 0.176091259056, 0.124938736608, 0.096910013008,
    0.079181246048, 0.066946789631, 0.057991946978, 0.051152522447,
    0.045757490561,
]
_BENFORD_SQL = "[" + ", ".join(str(p) for p in _BENFORD_P) + "]"


@register(
    "profile_benford_deviation",
    oracle=f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS d
  FROM orders
),
obs AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY 1
),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
SELECT o.d AS digit, o.n_obs,
       CAST(round(t.n * ({_BENFORD_SQL})[o.d] * 1000) AS BIGINT)
         AS expected_milli,
       CAST(round((o.n_obs - t.n * ({_BENFORD_SQL})[o.d])
                  * (o.n_obs - t.n * ({_BENFORD_SQL})[o.d])
                  / (t.n * ({_BENFORD_SQL})[o.d]) * 1e6) AS BIGINT)
         AS chi_cell_micro
FROM obs o, tot t
""",
)
def profile_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals — the fraud/
    data-fabrication detector (fabricated amounts flatten the leading-
    digit distribution; the per-digit chi-square cells localize WHICH
    digits deviate). First digit extracted from the exact integer
    cents (string head of a positive bigint — engine-identical);
    expected shares are the same nine inlined double literals in both
    plans, so no log evaluates anywhere; chi cells micro-quantized
    after one fixed-order double expression (the chi-square-family
    convention). ONE map-side-combined 9-row rollup + a 1-row total
    broadcast — the whole screen is a single scan at any scale."""
    parr = F.array(*[F.lit(x) for x in _BENFORD_P])
    digits = t(spark, sf_dir, "orders").select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").alias("n"))
    exp = F.col("n") * F.element_at(parr, F.col("d").cast("int"))
    return obs.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("digit"),
        "n_obs",
        F.round(exp * 1000).cast("long").alias("expected_milli"),
        F.round(
            (F.col("n_obs") - exp) * (F.col("n_obs") - exp) / exp * 1e6
        )
        .cast("long")
        .alias("chi_cell_micro"),
    )


@register(
    "quality_freshness_volume",
    oracle="""
WITH daily AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
ref AS (SELECT CAST(max(day) AS BIGINT) AS last_day FROM daily),
trail AS (
  SELECT d.day, d.n_rows,
         CAST(count(*) AS BIGINT) AS n_prior,
         CAST(sum(p.n_rows) AS BIGINT) AS s1,
         CAST(sum(p.n_rows * p.n_rows) AS BIGINT) AS s2
  FROM daily d JOIN daily p
    ON p.day < d.day AND p.day >= d.day - 7
  GROUP BY 1, 2
)
SELECT t.day, t.n_rows, r.last_day - t.day AS staleness_days, t.n_prior,
       CASE WHEN t.n_prior >= 3
             AND t.n_prior * t.s2 - t.s1 * t.s1 > 0
            THEN CAST(round(
              CAST((t.n_rows * t.n_prior - t.s1)
                   * (t.n_rows * t.n_prior - t.s1) AS DOUBLE) * 1000000
              / CAST(t.n_prior * (t.n_prior * t.s2 - t.s1 * t.s1) AS DOUBLE))
              AS BIGINT)
       END AS z2_micro
FROM trail t, ref r
""",
)
def quality_freshness_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-observability freshness + volume-anomaly screen — the
    table-health monitor (Monte-Carlo-style checks): per day, row
    volume, staleness vs the newest day, and a squared z-score of the
    day's volume against its 7-day trailing window. The moment sums
    and both quadratic forms are EXACT bigints; only the final scaled
    division assembles in fixed-order DOUBLE (identical both engines),
    giving int64 headroom to ~4e8 rows/day — the (n·Σx²−Σ²) product is
    the binding term; past that, downsample the daily counts or move
    the moments to DOUBLE. The trailing window is an equi-ish
    self-join on a 7-day band of the |days| rollup — the fan-out
    multiplies the DOWNSAMPLED daily table only, never events. Days
    with <3 priors or zero variance emit null (cold start /
    constant-volume guard). At 100 TB the daily rollup is the single
    data-sized stage; everything after is |days|-sized."""
    ev = t(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n_rows"))
    ref = daily.agg(F.max("day").alias("last_day"))
    d = daily.alias("d")
    p = daily.select(
        F.col("day").alias("p_day"), F.col("n_rows").alias("p_rows")
    )
    trailing = (
        d.join(
            p,
            (F.col("p_day") < F.col("d.day"))
            & (F.col("p_day") >= F.col("d.day") - 7),
        )
        .groupBy(F.col("d.day").alias("day"), F.col("d.n_rows").alias("n_rows"))
        .agg(
            F.count(F.lit(1)).alias("n_prior"),
            F.sum("p_rows").alias("s1"),
            F.sum(F.col("p_rows") * F.col("p_rows")).alias("s2"),
        )
    )
    num = F.col("n_rows") * F.col("n_prior") - F.col("s1")
    var_term = F.col("n_prior") * F.col("s2") - F.col("s1") * F.col("s1")
    return trailing.crossJoin(F.broadcast(ref)).select(
        "day",
        "n_rows",
        (F.col("last_day") - F.col("day")).alias("staleness_days"),
        "n_prior",
        F.when(
            (F.col("n_prior") >= 3) & (var_term > 0),
            F.round(
                (num * num).cast("double")
                * 1000000
                / (F.col("n_prior") * var_term).cast("double")
            ).cast("long"),
        ).alias("z2_micro"),
    )


@register(
    "profile_ks_drift",
    oracle="""
WITH vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
              THEN 0 ELSE 1 END AS side
  FROM orders
),
hist AS (
  SELECT v,
         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM vals GROUP BY 1
),
cum AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM hist
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM hist
)
SELECT t.na, t.nb,
       CAST(max(abs(c.cum_a * t.nb - c.cum_b * t.na)) AS BIGINT)
         AS ks_cross,
       CAST(round(CAST(max(abs(c.cum_a * t.nb - c.cum_b * t.na))
                       AS DOUBLE) * 1000000
                  / (CAST(t.na AS DOUBLE) * t.nb)) AS BIGINT) AS ks_micro
FROM cum c, tot t
GROUP BY t.na, t.nb
""",
)
def profile_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between order-
    value snapshots (before/after a cutoff) — the nonparametric
    complement of the PSI monitor (`profile_drift_psi`: binned,
    distribution-shape; KS: exact, worst-case ECDF gap — the test that
    catches a drifted tail PSI's bins can smear). ENTIRELY INTEGER:
    per distinct value, both cumulative counts; the statistic is
    max |cumA·nB − cumB·nA| (the cross-multiplied ECDF gap — no float
    division inside the max; exact to ~3e9 rows per side), scaled once
    at the end in fixed-order DOUBLE (a ×1e6 bigint scaling would cap
    the sides at ~3e6 rows). The
    cumulation is range-partitioned (bucketed_running_sum — no global
    window on the Spark side); the max is a 1-row aggregate. Shape at
    100 TB: one conditional-aggregate histogram over the scan, then
    |distinct values|-sized math."""
    from stream_processing_project_spark.plans.common import (
        bucketed_running_sum,
    )

    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    vals = t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
        F.when(F.col("o_orderdate") < cutoff, 0).otherwise(1).alias("side"),
    )
    hist = vals.groupBy("v").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("cb"),
    )
    cum_a, _ = bucketed_running_sum(hist, "ca", "v", out_col="cum_a")
    cum, _ = bucketed_running_sum(
        cum_a.drop("_rsb"), "cb", "v", out_col="cum_b"
    )
    tot = hist.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    gap = F.abs(
        F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(F.max(gap).alias("ks_cross"))
        .select(
            "na",
            "nb",
            "ks_cross",
            F.round(
                F.col("ks_cross").cast("double")
                * 1000000
                / (F.col("na").cast("double") * F.col("nb"))
            )
            .cast("long")
            .alias("ks_micro"),
        )
    )


@register(
    "features_pit_join",
    oracle="""
WITH tl AS (
  SELECT user_id, ts, event_id, 0 AS tag,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('view', 'click', 'play')
  UNION ALL
  SELECT user_id, ts, event_id, 1 AS tag, CAST(NULL AS BIGINT)
  FROM events WHERE event_type = 'purchase'
),
carried AS (
  SELECT *,
         CAST(coalesce(sum(CASE WHEN tag = 0 THEN 1 END) OVER w, 0)
              AS BIGINT) AS n_prior,
         CAST(coalesce(sum(CASE WHEN tag = 0 THEN cents END) OVER w, 0)
              AS BIGINT) AS cents_prior
  FROM tl
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id AS label_event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS label_ts,
       n_prior, cents_prior
FROM carried WHERE tag = 1
""",
)
def features_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature retrieval — the training-serving-
    skew / label-leakage guard every feature store exists for: each
    label row (purchase) picks up per-user features computed from
    events STRICTLY BEFORE its timestamp, never at-or-after. The
    as-of union-and-carry idiom (`olap_asof_last_order`) with the
    leakage rule encoded in the SORT: labels order BEFORE feature
    events at equal timestamps (tag DESC), and the frame ends at
    1 PRECEDING — so a feature event sharing the label's exact
    timestamp is EXCLUDED (the at-label-time leak an `<=` as-of join
    silently commits). ONE user_id exchange serves every label; exact
    bigint feature sums. At 100 TB this replaces the per-label probe
    a naive feature-store lookup does — the carry window touches each
    event once."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    feats = ev.filter(
        F.col("event_type").isin("view", "click", "play")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("tag"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    labels = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", F.col("tag").desc(), "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carried = feats.unionByName(labels).select(
        "*",
        F.coalesce(
            F.sum(F.when(F.col("tag") == 0, 1)).over(w), F.lit(0)
        ).alias("n_prior"),
        F.coalesce(
            F.sum(F.when(F.col("tag") == 0, F.col("cents"))).over(w), F.lit(0)
        ).alias("cents_prior"),
    )
    return carried.filter(F.col("tag") == 1).select(
        "user_id",
        F.col("event_id").alias("label_event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("label_ts"),
        "n_prior",
        "cents_prior",
    )


_JCE_TOPN = 50


@register(
    "profile_join_cardinality",
    oracle=f"""
WITH ca AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1
),
cb AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1
),
exact AS (
  SELECT CAST(sum(ca.c * cb.c) AS BIGINT) AS exact_rows
  FROM ca JOIN cb USING (k)
),
ta AS (SELECT k, c FROM ca ORDER BY c DESC, k LIMIT {_JCE_TOPN}),
tb AS (SELECT k, c FROM cb ORDER BY c DESC, k LIMIT {_JCE_TOPN}),
head AS (
  SELECT CAST(coalesce(sum(ta.c * tb.c), 0) AS BIGINT) AS head_rows
  FROM ta JOIN tb USING (k)
),
rest AS (
  SELECT CAST(sum(CASE WHEN ta.k IS NULL THEN ca.c ELSE 0 END) AS BIGINT)
           AS rest_a,
         CAST(sum(CASE WHEN ta.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS d_rest_a
  FROM ca LEFT JOIN ta USING (k)
),
restb AS (
  SELECT CAST(sum(CASE WHEN tb.k IS NULL THEN cb.c ELSE 0 END) AS BIGINT)
           AS rest_b,
         CAST(sum(CASE WHEN tb.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS d_rest_b
  FROM cb LEFT JOIN tb USING (k)
)
SELECT e.exact_rows, h.head_rows,
       h.head_rows
         + CASE WHEN greatest(r.d_rest_a, rb.d_rest_b) > 0
                THEN CAST(round(CAST(r.rest_a AS DOUBLE) * rb.rest_b
                          / greatest(r.d_rest_a, rb.d_rest_b)) AS BIGINT)
                ELSE 0 END AS est_rows
FROM exact e, head h, rest r, restb rb
""",
)
def profile_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation — the query-optimizer statistic as a
    first-class profiling operator (what drives broadcast-vs-shuffle
    and join-order decisions): |A⋈B| on the key is Σ_k cA(k)·cB(k).
    The EXACT value joins the two per-key count rollups (never the
    fact tables); the ESTIMATE is the end-biased-histogram form every
    optimizer uses — top-N heavy hitters exact (their head join) plus
    a uniform-tail term rest_a·rest_b / max(d_rest_a, d_rest_b) — so
    the operator reports both and the estimator's own error is
    value-hash-checked against the engines agreeing on BOTH numbers.
    Deterministic top-N (count desc, key) both sides; the tail term
    assembles in fixed-order DOUBLE. Shape: two map-side-combined
    rollups are the only data-sized stages; everything downstream is
    |keys|-sized, the head is 2·N rows."""
    ca = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cb = (
        t(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        ca.alias("a")
        .join(cb.alias("b"), "k")
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("exact_rows"))
    )
    ta = ca.orderBy(F.col("c").desc(), "k").limit(_JCE_TOPN)
    tb = cb.orderBy(F.col("c").desc(), "k").limit(_JCE_TOPN)
    head = (
        ta.alias("ta")
        .join(tb.alias("tb"), "k")
        .agg(
            F.coalesce(
                F.sum(F.col("ta.c") * F.col("tb.c")), F.lit(0)
            ).alias("head_rows")
        )
    )

    def tail(full: DataFrame, top: DataFrame, s: str, d: str) -> DataFrame:
        marked = full.join(
            top.select("k", F.lit(1).alias("_top")), "k", "left"
        )
        return marked.agg(
            F.sum(F.when(F.col("_top").isNull(), F.col("c")).otherwise(0)).alias(s),
            F.sum(F.when(F.col("_top").isNull(), 1).otherwise(0)).alias(d),
        )
    ra = tail(ca, ta, "rest_a", "d_rest_a")
    rb = tail(cb, tb, "rest_b", "d_rest_b")
    denom = F.greatest(F.col("d_rest_a"), F.col("d_rest_b"))
    return (
        exact.crossJoin(F.broadcast(head))
        .crossJoin(F.broadcast(ra))
        .crossJoin(F.broadcast(rb))
        .select(
            "exact_rows",
            "head_rows",
            (
                F.col("head_rows")
                + F.when(
                    denom > 0,
                    F.round(
                        F.col("rest_a").cast("double")
                        * F.col("rest_b")
                        / denom
                    ).cast("long"),
                ).otherwise(0)
            ).alias("est_rows"),
        )
    )


@register(
    "governance_crypto_shred",
    oracle="""
WITH keyring AS (
  SELECT c_custkey AS user_id,
         substr(md5('key:' || c_custkey), 1, 16) AS user_key,
         c_custkey % 20 = 0 AS shredded
  FROM customer
),
joined AS (
  SELECT e.user_id, e.event_id, e.event_type,
         CAST(round(e.value * 100) AS BIGINT) AS cents,
         k.user_key, k.shredded
  FROM events e JOIN keyring k USING (user_id)
)
SELECT user_id, event_id, event_type, cents,
       CASE WHEN shredded THEN NULL
            ELSE substr(md5(user_key || ':' || event_id), 1, 12) END
         AS pii_token,
       shredded AS erased
FROM joined
""",
)
def governance_crypto_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto-shredding — the right-to-be-forgotten mechanism that
    works at 100 TB: per-user keys live in a TINY keyring table and
    every stored PII token is derived THROUGH the user's key, so
    erasure = deleting one keyring row — the petabytes of immutable
    fact data never rewrite, they just become undecryptable. This
    query is the read path: facts broadcast-join the keyring, live
    users re-derive their tokens, shredded users (here a simulated
    slice) surface NULL + an erased flag. Deterministic stand-in
    crypto (md5-derived keys/tokens, identical in both engines — a
    real deployment swaps AES-GCM via a pandas_udf without touching
    the plan); the value-hash oracle pins that NO shredded user's
    token survives anywhere in the output. Shape: one fact scan, one
    broadcast keyring join — erasure cost is O(1) per request,
    audit cost is one scan."""
    keyring = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.substring(
            F.md5(F.concat(F.lit("key:"), F.col("c_custkey").cast("string"))),
            1,
            16,
        ).alias("user_key"),
        (F.col("c_custkey") % 20 == 0).alias("shredded"),
    )
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return ev.join(F.broadcast(keyring), "user_id").select(
        "user_id",
        "event_id",
        "event_type",
        "cents",
        F.when(
            ~F.col("shredded"),
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_key"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                12,
            ),
        ).alias("pii_token"),
        F.col("shredded").alias("erased"),
    )


@register(
    "features_isotonic_calibration",
    oracle="""
WITH labeled AS (
  SELECT CAST(round(value * 100) AS BIGINT)
           + CASE WHEN event_type = 'purchase' THEN 20000 ELSE 0 END AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
rng AS (SELECT min(s) AS lo, max(s) AS hi FROM labeled),
bucketed AS (
  SELECT least(23, ((l.s - r.lo) * 24) // (r.hi - r.lo + 1)) AS b, l.y
  FROM labeled l, rng r
),
per_b AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM bucketed GROUP BY b
),
pref AS (
  SELECT a.b, a.n, a.pos,
         CAST(sum(c.n) AS BIGINT) AS cn, CAST(sum(c.pos) AS BIGINT) AS cp
  FROM per_b a JOIN per_b c ON c.b <= a.b
  GROUP BY a.b, a.n, a.pos
),
seg AS (
  SELECT j.b AS jb, k.b AS kb,
         (k.cp - (j.cp - j.pos)) AS sp, (k.cn - (j.cn - j.n)) AS sn
  FROM pref j, pref k WHERE j.b <= k.b
),
stage1 AS (
  SELECT i.b AS ib, s.jb, min(CAST(s.sp AS DOUBLE) / s.sn) AS m
  FROM pref i JOIN seg s ON s.jb <= i.b AND s.kb >= i.b
  GROUP BY i.b, s.jb
),
fit AS (SELECT ib, max(m) AS f FROM stage1 GROUP BY ib)
SELECT p.b AS bucket, p.n, p.pos,
       CAST(round(CAST(p.pos AS DOUBLE) / p.n * 1e6) AS BIGINT)
         AS raw_rate_micro,
       CAST(round(f.f * 1e6) AS BIGINT) AS calib_micro
FROM per_b p JOIN fit f ON f.ib = p.b
""",
)
def features_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of a raw score into an event
    probability — the distributed PAV every quality-classifier pipeline
    needs before thresholding model scores at corpus scale (Zadrozny &
    Elkan '02). The raw score is the event value in integer cents plus
    a deterministic label-dependent shift (the fixture value is
    independent of event_type, which would collapse the fit to one
    global pool; the shift makes the monotone structure non-trivial).
    The DATA-SIZED work is one bucketing pass: bucket ids are pure
    integer arithmetic against a 1-row broadcast min/max
    (engine-identical `div`), and one map-side-combined rollup yields
    <=24 (bucket, n, pos) rows. The fit itself uses the minimax
    characterization fitted[i] = max_{j<=i} min_{k>=i} mean(y[j..k])
    evaluated on the O(B^2) segment grid — B is a constant, so the
    prefix self-join and grid joins run over <=24-row broadcast tables
    (no global window, nothing data-sized), and unlike driver-side PAV
    the whole fit stays in the plan. Each
    segment mean is ONE bigint/bigint double division (IEEE-identical
    cross-engine); min/max over identical doubles commute, and the
    result micro-quantizes only at the output. Monotonicity of
    calib_micro is pinned by a property test."""
    ev = t(spark, sf_dir, "events").select(
        (
            F.round(F.col("value") * 100, 0).cast("bigint")
            + F.when(F.col("event_type") == "purchase", 20000).otherwise(0)
        ).alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    rng = ev.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    bucketed = ev.crossJoin(F.broadcast(rng)).select(
        F.least(F.lit(23), F.expr("((s - lo) * 24) div (hi - lo + 1)")).alias(
            "b"
        ),
        "y",
    )
    per_b = (
        bucketed.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
        # <=24 rows reused by pref/j/k/i and the output join — without
        # materialization every branch rescans and rebuckets the facts
        .localCheckpoint()
    )
    a = per_b.alias("a")
    c = per_b.select(
        F.col("b").alias("cb"), F.col("n").alias("n2"), F.col("pos").alias("p2")
    )
    pref = (
        a.join(F.broadcast(c), F.col("cb") <= F.col("b"))
        .groupBy("b", "n", "pos")
        .agg(F.sum("n2").alias("cn"), F.sum("p2").alias("cp"))
    )
    j = pref.select(
        F.col("b").alias("jb"),
        (F.col("cp") - F.col("pos")).alias("cp0"),
        (F.col("cn") - F.col("n")).alias("cn0"),
    )
    k = pref.select(F.col("b").alias("kb"), "cp", "cn")
    seg = (
        j.crossJoin(F.broadcast(k))
        .filter(F.col("jb") <= F.col("kb"))
        .select(
            "jb",
            "kb",
            (F.col("cp") - F.col("cp0")).alias("sp"),
            (F.col("cn") - F.col("cn0")).alias("sn"),
        )
    )
    i = pref.select(F.col("b").alias("ib"))
    stage1 = (
        i.join(
            F.broadcast(seg),
            (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")),
        )
        .groupBy("ib", "jb")
        .agg(F.min(F.col("sp").cast("double") / F.col("sn")).alias("m"))
    )
    fit = stage1.groupBy("ib").agg(F.max("m").alias("f"))
    return per_b.join(F.broadcast(fit), per_b.b == fit.ib).select(
        F.col("b").alias("bucket"),
        "n",
        "pos",
        F.round(F.col("pos").cast("double") / F.col("n") * 1e6)
        .cast("bigint")
        .alias("raw_rate_micro"),
        F.round(F.col("f") * 1e6).cast("bigint").alias("calib_micro"),
    )


@register(
    "text_bigram_logprob",
    oracle="""
WITH ws AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
),
bigr AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
         unnest(list_transform(range(1, len(ws)),
                i -> ws[i] || ' ' || ws[i + 1])) AS bg
  FROM ws
),
c12 AS (SELECT bg, count(*) AS c12 FROM bigr GROUP BY bg),
c1 AS (SELECT w1, count(*) AS c1 FROM bigr GROUP BY w1),
scored AS (
  SELECT b.doc_id,
         CAST(round(-ln(CAST(t2.c12 AS DOUBLE) / t1.c1) * 1e6) AS BIGINT)
           AS micronats
  FROM bigr b JOIN c12 t2 ON t2.bg = b.bg JOIN c1 t1 ON t1.w1 = b.w1
)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(micronats) AS BIGINT) AS surprisal_sum,
       round(sum(micronats) / count(*) / 1e6, 4) AS avg_surprisal
FROM scored GROUP BY doc_id
""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram corpus-LM scoring — word-salad detection the unigram
    filter (text_unigram_logprob) can't do: average conditional
    surprisal -ln p(w_i | w_{i-1}) under the corpus's own bigram
    counts, micro-nat-quantized per bigram before the exact bigint
    per-doc sum (operators/text.py::bigram_logprob). One row-local
    bigram fold + one explode + two partial-agg rollups + two
    equi-joins — no positional self-join anywhere."""
    from stream_processing_project_spark.operators.text import bigram_logprob

    return bigram_logprob(t(spark, sf_dir, "documents"))


@register(
    "features_hashing_trick",
    oracle="""
WITH sample AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
),
toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM sample
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 256 AS dim,
         CASE WHEN (CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) // 256)
                   % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM toks
)
SELECT doc_id, dim,
       CAST(sum(sgn) AS BIGINT) AS weight,
       CAST(count(*) AS BIGINT) AS n_tok
FROM hashed GROUP BY doc_id, dim
""",
)
def features_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. '09): fixed-dimension
    sparse text features with NO vocabulary table — the featurizer that
    scales where dictionary encoders can't, because there is nothing to
    fit, broadcast, or keep consistent across a 100 TB corpus. Each
    token maps to dim = h % 256 with a +-1 sign drawn from the next
    hash bit (the sign makes collision noise zero-mean — the kernel
    stays unbiased); the per-(doc, dim) weights are one explode + one
    map-side-combined rollup keyed by (doc_id, dim). The hash is the
    cross-engine md5-prefix 60-bit bigint (the MinHash idiom at
    operators/dedup.py), so the oracle replays the identical mapping.
    A deterministic doc_id % 7 sample keeps the materialized output
    bounded; the filter sits before the explode and pushes to the
    scan."""
    sample = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    toks = sample.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
    ).withColumn(
        "h", F.expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT)")
    )
    hashed = toks.select(
        "doc_id",
        (F.col("h") % 256).alias("dim"),
        F.when(F.expr("(h div 256) % 2 = 0"), 1).otherwise(-1).alias("sgn"),
    )
    return hashed.groupBy("doc_id", "dim").agg(
        F.sum("sgn").cast("bigint").alias("weight"),
        F.count(F.lit(1)).alias("n_tok"),
    )


# ======================= experiment analysis (A/B) ============================
#
# The reference has no experimentation surface; a training-data /
# analytics platform runs A/B readouts over exactly this event shape
# (SURVEY.md §2 A5's sum/count idiom, extended to second moments). Both
# queries follow the profile_correlation contract: ONE map-side-combined
# pass carries exact bigint sufficient statistics, and every reported
# double derives from them by a FIXED sequence of IEEE ops — bit-identical
# cross-engine, partitioning-invariant by construction.

_EXP_CUT = "2024-01-16 00:00:00"


def _experiment_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (arm, x, y): deterministic md5 50/50 assignment, exact
    bigint pre-period covariate x and post-period metric y (cents).
    One groupBy over the fact scan — conditional sums, no self-join."""
    cutoff = F.to_timestamp(F.lit(_EXP_CUT))
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts") < cutoff, F.col("cents")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("ts") >= cutoff, F.col("cents")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("y"),
        )
        .withColumn(
            "arm",
            F.expr(
                "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
                " 16, 10) AS BIGINT) % 2"
            ),
        )
    )


_EXP_U_SQL = f"""
u AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 AS arm,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_EXP_CUT}'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_EXP_CUT}'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
)
"""


@register(
    "experiment_welch_ttest",
    oracle=f"""
WITH {_EXP_U_SQL.strip()},
s AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM u GROUP BY arm
),
w AS (
  SELECT arm, n,
         CAST(sy AS DOUBLE) / n AS mean_y,
         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
           / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1) AS var_y
  FROM s
)
SELECT c.n AS n_control, t.n AS n_treat,
       c.mean_y AS mean_control, t.mean_y AS mean_treat,
       t.mean_y - c.mean_y AS lift,
       (t.mean_y - c.mean_y) / sqrt(t.var_y / t.n + c.var_y / c.n) AS t_stat,
       (t.var_y / t.n + c.var_y / c.n) * (t.var_y / t.n + c.var_y / c.n)
         / ((t.var_y / t.n) * (t.var_y / t.n) / (t.n - 1)
            + (c.var_y / c.n) * (c.var_y / c.n) / (c.n - 1)) AS welch_df
FROM w c, w t WHERE c.arm = 0 AND t.arm = 1
""",
    tags=("bench",),
)
def experiment_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout: Welch's unequal-variance t on the post-period
    per-user metric, arms assigned by deterministic md5 hash (the
    assignment every experimentation system uses so a user's arm is
    stable across sessions and engines). Per-arm (n, Σy, Σy²) are exact
    bigints from ONE map-side-combined pass over per-user rollups;
    mean, variance, t, and Welch–Satterthwaite df derive by a fixed
    IEEE sequence, so the whole readout value-hash-matches cross-engine
    — no float accumulation anywhere (corr()/stddev() internals are
    partitioning-dependent; sufficient statistics are not). Scale: the
    fact scan dominates; the readout is a 2-row aggregate joined
    1-row × 1-row. Reference scope: SURVEY.md §2 A5 (sum/count avg)
    extended to second moments."""
    u = _experiment_users(spark, sf_dir)
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # Pivot the 2-row per-arm stats into one row with conditional max —
    # filter(arm=0) ⨯ filter(arm=1) would re-derive the whole per-user
    # subtree per side (two full fact scans; Catalyst has no CTE sharing
    # across DataFrame branches). Means/variances then derive by the
    # SAME IEEE sequence from the same exact bigints, and the missing-arm
    # guard reproduces the join's empty result.
    s = s.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(col))).alias(f"{col}_{tag}")
            for a, tag in ((0, "c"), (1, "t"))
            for col in ("n", "sy", "syy")
        ]
    ).where(F.col("n_c").isNotNull() & F.col("n_t").isNotNull())

    def _mean(tag: str):
        return F.col(f"sy_{tag}").cast("double") / F.col(f"n_{tag}")

    def _var(tag: str):
        nd = F.col(f"n_{tag}").cast("double")
        return (
            (nd * F.col(f"syy_{tag}").cast("double")
             - F.col(f"sy_{tag}").cast("double")
             * F.col(f"sy_{tag}").cast("double"))
            / nd
            / (nd - 1)
        )

    one = s.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treat"),
        _mean("c").alias("mean_control"),
        _mean("t").alias("mean_treat"),
        _var("c").alias("var_c"),
        _var("t").alias("var_t"),
    )
    se_t = F.col("var_t") / F.col("n_treat")
    se_c = F.col("var_c") / F.col("n_control")
    se2 = se_t + se_c
    return one.select(
        "n_control",
        "n_treat",
        "mean_control",
        "mean_treat",
        (F.col("mean_treat") - F.col("mean_control")).alias("lift"),
        ((F.col("mean_treat") - F.col("mean_control")) / F.sqrt(se2)).alias(
            "t_stat"
        ),
        (
            se2 * se2
            / (
                se_t * se_t / (F.col("n_treat") - 1)
                + se_c * se_c / (F.col("n_control") - 1)
            )
        ).alias("welch_df"),
    )


@register(
    "experiment_cuped_adjust",
    oracle=f"""
WITH {_EXP_U_SQL.strip()},
p AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
  FROM u
),
th AS (
  SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
         CAST(sx AS DOUBLE) / n AS mean_x_all
  FROM p
),
a AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM u GROUP BY arm
)
SELECT arm, a.n AS n_users, theta,
       CAST(sy AS DOUBLE) / a.n AS mean_y,
       CAST(sy AS DOUBLE) / a.n
         - theta * (CAST(sx AS DOUBLE) / a.n - mean_x_all) AS mean_y_adj,
       (CAST(a.n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         / CAST(a.n AS DOUBLE) / (CAST(a.n AS DOUBLE) - 1) AS var_y,
       (CAST(a.n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         / CAST(a.n AS DOUBLE) / (CAST(a.n AS DOUBLE) - 1)
       - 2.0 * theta
         * ((CAST(a.n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / CAST(a.n AS DOUBLE) / (CAST(a.n AS DOUBLE) - 1))
       + theta * theta
         * ((CAST(a.n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / CAST(a.n AS DOUBLE) / (CAST(a.n AS DOUBLE) - 1)) AS var_y_adj
FROM a, th
""",
)
def experiment_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13): adjust the
    post-period metric by the pre-period covariate, Y' = Y − θ(X − X̄),
    θ = cov(X,Y)/var(X) pooled over all users — the standard trick that
    cuts experiment runtimes by the covariate's R². Everything derives
    from exact bigint sufficient statistics: one per-user rollup pass
    into the per-arm aggregate; the pooled θ sums derive from the
    per-arm rows by a full-frame window (Σ over arms of exact per-arm
    bigint sums ≡ the pooled sums). The per-arm adjusted mean and
    variance use the CLOSED FORMS mean(Y)−θ(mean(X)−X̄) and
    var(Y)−2θcov(X,Y)+θ²var(X) — no per-row float adjustment is ever
    summed, so the result is partitioning-invariant and value-hash
    reproducible cross-engine. Headroom: per-user cents sums < 2^20 at
    tested SFs, so Σxy/Σx² stay < 2^63 well past sf100; the pooled
    products are computed in doubles. Scale: fact scan + two tiny
    aggregates; θ broadcast."""
    u = _experiment_users(spark, sf_dir)
    # One fact scan, not two (r12, the welch-pattern sweep): the pooled
    # θ statistics and the per-arm readout both consumed `u`, and
    # Catalyst re-derived the whole per-user subtree per branch. The
    # pooled sums instead derive from the per-arm rows by an
    # unpartitioned full-frame window over the ≤ |arms| = 2 aggregate
    # rows — Σ_users x ≡ Σ_arms Σ_arm x is an exact bigint identity, so
    # θ/mean_x_all come out of the same integers by the same IEEE
    # sequence as before, with no second subtree, no checkpoint barrier
    # and no broadcast join. (A lazy-pin variant measured ~10% SLOWER
    # at sf0.1 — the pin's materialization job serialized what the two
    # branches ran in parallel; this form wins at both ends.)
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tn, tsx, tsy, tsxx, tsxy = (
        F.sum(c).over(wall) for c in ("n", "sx", "sy", "sxx", "sxy")
    )
    pnd = tn.cast("double")
    a = a.withColumn(
        "theta",
        (pnd * tsxy.cast("double")
         - tsx.cast("double") * tsy.cast("double"))
        / (pnd * tsxx.cast("double")
           - tsx.cast("double") * tsx.cast("double")),
    ).withColumn("mean_x_all", tsx.cast("double") / tn)
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    var_y = (nd * F.col("syy").cast("double") - syd * syd) / nd / (nd - 1)
    cov_xy = (nd * F.col("sxy").cast("double") - sxd * syd) / nd / (nd - 1)
    var_x = (nd * F.col("sxx").cast("double") - sxd * sxd) / nd / (nd - 1)
    return a.select(
        "arm",
        F.col("n").alias("n_users"),
        "theta",
        (syd / F.col("n")).alias("mean_y"),
        (
            syd / F.col("n")
            - F.col("theta") * (sxd / F.col("n") - F.col("mean_x_all"))
        ).alias("mean_y_adj"),
        var_y.alias("var_y"),
        (
            var_y
            - F.lit(2.0) * F.col("theta") * cov_xy
            + F.col("theta") * F.col("theta") * var_x
        ).alias("var_y_adj"),
    )


@register(
    "text_trigram_backoff",
    oracle="""
WITH ws AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
),
tri AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i + 1])) AS pfx,
         unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS tg,
         unnest(list_transform(range(1, len(ws) - 1), i -> ws[i + 1])) AS w2,
         unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i + 1] || ' ' || ws[i + 2])) AS bg
  FROM ws
),
bigr AS (
  SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
         unnest(list_transform(range(1, len(ws)),
                i -> ws[i] || ' ' || ws[i + 1])) AS bg
  FROM ws
),
c_tg AS (SELECT pfx, tg, count(*) AS c_tg FROM tri GROUP BY pfx, tg),
c_pfx AS (SELECT pfx, CAST(sum(c_tg) AS BIGINT) AS c_pfx FROM c_tg GROUP BY pfx),
c_bg AS (SELECT w1, bg, count(*) AS c_bg FROM bigr GROUP BY w1, bg),
c_w1 AS (SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c_w1 FROM c_bg GROUP BY w1),
scored AS (
  SELECT t.doc_id,
         CASE WHEN ct.c_tg >= 2 THEN 0 ELSE 1 END AS backed_off,
         CAST(round(-ln(
           CASE WHEN ct.c_tg >= 2 THEN CAST(ct.c_tg AS DOUBLE) / cp.c_pfx
                ELSE CAST(0.4 AS DOUBLE) * (CAST(cb.c_bg AS DOUBLE) / cw.c_w1)
           END) * 1e6) AS BIGINT) AS micronats
  FROM tri t
  JOIN c_tg ct ON ct.tg = t.tg
  JOIN c_pfx cp ON cp.pfx = t.pfx
  JOIN c_bg cb ON cb.bg = t.bg
  JOIN c_w1 cw ON cw.w1 = t.w2
)
SELECT doc_id, count(*) AS n_trigrams,
       CAST(sum(backed_off) AS BIGINT) AS n_backoff,
       CAST(sum(micronats) AS BIGINT) AS surprisal_sum,
       round(sum(micronats) / count(*) / 1e6, 4) AS avg_surprisal
FROM scored GROUP BY doc_id
""",
)
def text_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram corpus-LM scoring with stupid backoff (Brants '07) —
    the order-3 perplexity filter: supported trigrams score
    c(w1w2w3)/c(w1w2·), rare ones (corpus count < 2 — the document
    quoting itself) back off to 0.4·c(w2w3)/c(w2·). n_backoff is
    reported per doc — the "how much of this doc is novel phrasing"
    audit. All counts exact bigints from row-local folds; the backoff
    decision is an integer compare; surprisal micro-nat-quantizes
    before the per-doc sum (operators/text.py::trigram_backoff_logprob
    has the full scale story)."""
    from stream_processing_project_spark.operators.text import (
        trigram_backoff_logprob,
    )

    return trigram_backoff_logprob(t(spark, sf_dir, "documents"))


# --- distributed classifier training: quasi-logistic GD --------------------


def _train_lr_oracle(iterations: int) -> str:
    """Unrolled-iteration DuckDB twin of text_classifier_train_lr: one
    (gradient, weight) CTE pair per GD step, identical micro-unit
    quantization and IEEE association order at every step (the
    olap_nation_pagerank unrolled-oracle idiom)."""
    stops = list(_QUALITY_STOPWORDS)
    head = f"""
WITH feats AS MATERIALIZED (
  SELECT CASE WHEN sr > 0.06 THEN 1 ELSE 0 END AS y,
         sr * 10.0 AS x1, mtl / 10.0 AS x2, ntok / 100.0 AS x3
  FROM (
    SELECT CAST(len(list_filter(string_split(text, ' '),
                x -> list_contains({stops}, x))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS sr,
           CAST(length(text) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok
    FROM documents
  )
),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM feats),
w0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
              CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"""
    z = (
        "(((CAST(w.w0 AS DOUBLE) / 1000000.0)"
        " + (CAST(w.w1 AS DOUBLE) / 1000000.0) * x1)"
        " + (CAST(w.w2 AS DOUBLE) / 1000000.0) * x2)"
        " + (CAST(w.w3 AS DOUBLE) / 1000000.0) * x3"
    )
    step = """,
g{k} AS MATERIALIZED (
  SELECT CAST(sum(CAST(round(r * 1000000.0) AS BIGINT)) AS BIGINT) AS g0,
         CAST(sum(CAST(round(x1 * r * 1000000.0) AS BIGINT)) AS BIGINT) AS g1,
         CAST(sum(CAST(round(x2 * r * 1000000.0) AS BIGINT)) AS BIGINT) AS g2,
         CAST(sum(CAST(round(x3 * r * 1000000.0) AS BIGINT)) AS BIGINT) AS g3
  FROM (
    SELECT x1, x2, x3,
           (0.5 + z / (2.0 * (1.0 + abs(z)))) - y AS r
    FROM (SELECT f.*, {z} AS z FROM feats f CROSS JOIN w{prev} w)
  )
),
w{k} AS MATERIALIZED (
  SELECT
    CAST(round(((CAST(w.w0 AS DOUBLE) / 1000000.0)
      - 2.0 * ((CAST(g.g0 AS DOUBLE) / 1000000.0) / CAST(nn.n AS DOUBLE)))
      * 1000000.0) AS BIGINT) AS w0,
    CAST(round(((CAST(w.w1 AS DOUBLE) / 1000000.0)
      - 2.0 * ((CAST(g.g1 AS DOUBLE) / 1000000.0) / CAST(nn.n AS DOUBLE)))
      * 1000000.0) AS BIGINT) AS w1,
    CAST(round(((CAST(w.w2 AS DOUBLE) / 1000000.0)
      - 2.0 * ((CAST(g.g2 AS DOUBLE) / 1000000.0) / CAST(nn.n AS DOUBLE)))
      * 1000000.0) AS BIGINT) AS w2,
    CAST(round(((CAST(w.w3 AS DOUBLE) / 1000000.0)
      - 2.0 * ((CAST(g.g3 AS DOUBLE) / 1000000.0) / CAST(nn.n AS DOUBLE)))
      * 1000000.0) AS BIGINT) AS w3
  FROM w{prev} w, g{k} g, nn
)"""
    body = "".join(
        step.format(k=k, prev=k - 1, z=z) for k in range(1, iterations + 1)
    )
    tail = f""",
preds AS (
  SELECT y, {z} AS z FROM feats f CROSS JOIN w{iterations} w
),
acc AS (
  SELECT CAST(sum(CASE WHEN (z > 0.0 AND y = 1) OR (z <= 0.0 AND y = 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM preds
)
SELECT nn.n AS n_docs, w.w0 AS w0_micro, w.w1 AS w1_micro,
       w.w2 AS w2_micro, w.w3 AS w3_micro, acc.n_correct,
       CAST(acc.n_correct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS accuracy
FROM w{iterations} w, nn, acc
"""
    return f"{head}{body}{tail}"


def _lr_half_away(x: float) -> int:
    """DuckDB round() / Spark F.round HALF_UP: half away from zero —
    Python's builtin round (banker's) would diverge on exact .5, and
    floor(abs(x)+0.5) diverges when abs(x)+0.5 rounds across an integer
    boundary in binary (the round(0.49999999999999994) class) — Decimal
    over repr(x) matches decimal HALF_UP exactly."""
    import decimal

    return int(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("1"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _lr_z_expr(wvals: list[int]) -> F.Column:
    wd = [F.lit(v / 1000000.0) for v in wvals]
    return (
        (wd[0] + wd[1] * F.col("x1")) + wd[2] * F.col("x2")
    ) + wd[3] * F.col("x3")


def _fit_lr(feats, nd: float, iterations: int = 8) -> list[int]:
    """The shared 8-step quasi-logistic GD loop (algebraic sigmoid,
    micro-unit weights, per-row gradient quantization before the sum) —
    factored out of text_classifier_train_lr so the held-out APPLY
    builder trains on its 80% split with the identical trajectory."""
    wvals = [0, 0, 0, 0]
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    for _ in range(iterations):
        zc = _lr_z_expr(wvals)
        r = (F.lit(0.5) + zc / (F.lit(2.0) * (F.lit(1.0) + F.abs(zc)))) - F.col(
            "y"
        )
        g = feats.agg(
            *[
                F.sum(
                    F.round((xs[j] * r if j else r) * F.lit(1000000.0), 0).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias(f"g{j}")
                for j in range(4)
            ]
        ).collect()[0]
        wvals = [
            _lr_half_away(
                (wvals[j] / 1000000.0 - 2.0 * ((g[j] / 1000000.0) / nd))
                * 1000000.0
            )
            for j in range(4)
        ]
    return wvals


@register("text_classifier_train_lr", oracle=_train_lr_oracle(8))
def text_classifier_train_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the linear quality classifier in-engine — the missing half
    of `text_quality_linear_score` (which APPLIES fixed weights): 8
    full-batch gradient-descent steps fit a linear model over the same
    cheap text features (scaled stopword ratio, mean token length,
    length). The fixture corpus's labels are content-independent by
    construction (every column is sampled independently — nothing
    natural is learnable), so the op trains against a PLANTED linear
    teacher y = stopword_ratio > 0.06 (balanced ~52/48 at sf0.01) —
    the teacher-student setup that makes "did the trainer learn?"
    checkable: training accuracy must clear the majority baseline by a
    wide margin (0.896 vs 0.516 at sf0.01); production swaps the
    teacher for any real label column. The link is the exact ALGEBRAIC
    sigmoid s(z) = 0.5 + z/(2(1+|z|)) — abs/add/mul/div are
    correctly-rounded IEEE ops, so unlike exp()-based logistic there is
    NO transcendental anywhere and every step reproduces bit-for-bit
    cross-engine. Weights live in integer micro-units between steps
    (the pagerank idiom); per-row gradient components micro-quantize to
    bigint BEFORE the sum, so each gradient is an associative exact
    aggregate — partitioning-invariant by construction. Scale shape:
    the feature projection (the only stage touching raw text) is
    localCheckpointed ONCE; each GD step then scans the slim
    4-double-per-doc table with a map-side-combined 4-column sum
    (the 1-row weight table cross-broadcasts) — mini-batching would
    swap that scan for a hash-sampled filter. Output is
    the fitted model row + training accuracy (z>0 decision, exact sign
    test). Reference scope: extends SURVEY.md §2.6's scalar scoring
    surface with distributed model FITTING."""
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*_QUALITY_STOPWORDS))
    ).cast("double")
    sr = stop_hits / n_tokens
    feats = (
        docs.select(
            F.when(sr > F.lit(0.06), F.lit(1)).otherwise(F.lit(0)).alias("y"),
            (sr * F.lit(10.0)).alias("x1"),
            ((F.length("text").cast("double") / n_tokens) / F.lit(10.0)).alias(
                "x2"
            ),
            (n_tokens / F.lit(100.0)).alias("x3"),
        )
        # eager localCheckpoint: the projection (tokenize + stopword
        # filter over the full text column) is by far the expensive
        # stage, and every GD step plus the accuracy pass rescans
        # `feats` — without the checkpoint that is 9 full corpus
        # tokenizations (measured 8.0 s at sf0.1, the slowest smoke
        # entry; r05 verdict task 5). The checkpoint pins the slim
        # 4-double-per-doc table once; blocks release with the DataFrame
        # (the olap_top_supplier_revenue idiom, not persist).
        .localCheckpoint(eager=True)
    )
    # Lloyd's-loop idiom (the kmeans trainer's): the 1-row weight state
    # lives driver-side as exact bigint micro-units — 4 bigints collected
    # per step, bounded by construction — and is re-injected as literals,
    # so each GD step is ONE simple map-side-combined scan of the
    # checkpointed features instead of a level in a 9-deep nested plan
    # (the nested form recompiled the whole lineage at every action and
    # measured no faster than the un-checkpointed original).
    n_docs = feats.count()
    if n_docs == 0:
        # empty corpus: the GD loop would divide by nd=0 and the
        # NULL-sum collect would TypeError — return the empty frame
        # with the output schema instead (the pre-eager behavior)
        return feats.select(
            F.lit(0).cast("bigint").alias("n_docs"),
            F.lit(0).cast("bigint").alias("w0_micro"),
            F.lit(0).cast("bigint").alias("w1_micro"),
            F.lit(0).cast("bigint").alias("w2_micro"),
            F.lit(0).cast("bigint").alias("w3_micro"),
            F.lit(0).cast("bigint").alias("n_correct"),
            F.lit(0.0).alias("accuracy"),
        )
    nd = float(n_docs)
    wvals = _fit_lr(feats, nd)
    zc = _lr_z_expr(wvals)
    correct = (
        ((zc > F.lit(0.0)) & (F.col("y") == 1))
        | ((zc <= F.lit(0.0)) & (F.col("y") == 0))
    )
    return feats.agg(
        F.sum(F.when(correct, F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_correct")
    ).select(
        F.lit(n_docs).cast("bigint").alias("n_docs"),
        F.lit(wvals[0]).cast("bigint").alias("w0_micro"),
        F.lit(wvals[1]).cast("bigint").alias("w1_micro"),
        F.lit(wvals[2]).cast("bigint").alias("w2_micro"),
        F.lit(wvals[3]).cast("bigint").alias("w3_micro"),
        "n_correct",
        (F.col("n_correct").cast("double") / F.lit(nd)).alias("accuracy"),
    )


def _apply_lr_oracle(iterations: int) -> str:
    """Held-out-apply twin of _train_lr_oracle: identical GD unroll but
    trained on the 80% split (doc_id % 5 <> 4), then the fitted weights
    score the UNSEEN 20% into confusion cells with micro-quantized
    margin sums."""
    stops = list(_QUALITY_STOPWORDS)
    head = f"""
WITH featsall AS MATERIALIZED (
  SELECT doc_id, CASE WHEN sr > 0.06 THEN 1 ELSE 0 END AS y,
         sr * 10.0 AS x1, mtl / 10.0 AS x2, ntok / 100.0 AS x3
  FROM (
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '),
                x -> list_contains({stops}, x))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS sr,
           CAST(length(text) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok
    FROM documents
  )
),
feats AS MATERIALIZED (SELECT y, x1, x2, x3 FROM featsall WHERE doc_id % 5 <> 4),
te AS MATERIALIZED (SELECT y, x1, x2, x3 FROM featsall WHERE doc_id % 5 = 4),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM feats),
w0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
              CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"""
    z = (
        "(((CAST(w.w0 AS DOUBLE) / 1000000.0)"
        " + (CAST(w.w1 AS DOUBLE) / 1000000.0) * x1)"
        " + (CAST(w.w2 AS DOUBLE) / 1000000.0) * x2)"
        " + (CAST(w.w3 AS DOUBLE) / 1000000.0) * x3"
    )
    step = """,
g{k} AS MATERIALIZED (
  SELECT CAST(sum(CAST(round(r * 1000000.0) AS BIGINT)) AS BIGINT) AS g0,
         CAST(sum(CAST(round(x1 * r * 1000000.0) AS BIGINT)) AS BIGINT) AS g1,
         CAST(sum(CAST(round(x2 * r * 1000000.0) AS BIGINT)) AS BIGINT) AS g2,
         CAST(sum(CAST(round(x3 * r * 1000000.0) AS BIGINT)) AS BIGINT) AS g3
  FROM (
    SELECT x1, x2, x3,
           (0.5 + z / (2.0 * (1.0 + abs(z)))) - y AS r
    FROM (SELECT f.*, {z} AS z FROM feats f CROSS JOIN w{prev} w)
  )
),
w{k} AS MATERIALIZED (
  SELECT
    CAST(round(((CAST(w.w0 AS DOUBLE) / 1000000.0)
      - 2.0 * ((CAST(g.g0 AS DOUBLE) / 1000000.0) / CAST(nn.n AS DOUBLE)))
      * 1000000.0) AS BIGINT) AS w0,
    CAST(round(((CAST(w.w1 AS DOUBLE) / 1000000.0)
      - 2.0 * ((CAST(g.g1 AS DOUBLE) / 1000000.0) / CAST(nn.n AS DOUBLE)))
      * 1000000.0) AS BIGINT) AS w1,
    CAST(round(((CAST(w.w2 AS DOUBLE) / 1000000.0)
      - 2.0 * ((CAST(g.g2 AS DOUBLE) / 1000000.0) / CAST(nn.n AS DOUBLE)))
      * 1000000.0) AS BIGINT) AS w2,
    CAST(round(((CAST(w.w3 AS DOUBLE) / 1000000.0)
      - 2.0 * ((CAST(g.g3 AS DOUBLE) / 1000000.0) / CAST(nn.n AS DOUBLE)))
      * 1000000.0) AS BIGINT) AS w3
  FROM w{prev} w, g{k} g, nn
)"""
    body = "".join(
        step.format(k=k, prev=k - 1, z=z) for k in range(1, iterations + 1)
    )
    tail = f"""
SELECT y AS y_true,
       CASE WHEN z > 0.0 THEN 1 ELSE 0 END AS y_pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(round(z * 1000000.0) AS BIGINT)) AS BIGINT) AS z_micro_sum
FROM (SELECT f.y, {z} AS z
      FROM te f CROSS JOIN w{iterations} w CROSS JOIN nn
      WHERE nn.n > 0)
GROUP BY 1, 2
"""
    return f"{head}{body}{tail}"


@register("text_classifier_apply_lr", oracle=_apply_lr_oracle(8))
def text_classifier_apply_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out INFERENCE for the quasi-logistic quality classifier —
    the LR counterpart of `text_classifier_apply_nb` (r09), closing the
    second train→score pipeline: the model fits on the 80% split
    (doc_id % 5 ≠ 4, same 8-step exact-GD trajectory as
    text_classifier_train_lr via the shared _fit_lr loop) and scores
    the UNSEEN 20%, emitting the confusion matrix (y_true, y_pred,
    n_docs) with per-cell micro-quantized margin sums (z_micro_sum —
    the calibration signal: how far from the boundary each cell sits).
    Generalization, not memorization: tests pin held-out accuracy well
    above the majority baseline. Same exactness story as the trainer
    (algebraic sigmoid, no transcendentals, bigint gradient partials),
    so training AND inference value-hash-oracle end to end. Scale
    shape: one checkpointed feature projection; 8 map-side-combined
    train scans; ONE test-side scan for the matrix."""
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*_QUALITY_STOPWORDS))
    ).cast("double")
    sr = stop_hits / n_tokens
    feats_all = docs.select(
        "doc_id",
        F.when(sr > F.lit(0.06), F.lit(1)).otherwise(F.lit(0)).alias("y"),
        (sr * F.lit(10.0)).alias("x1"),
        ((F.length("text").cast("double") / n_tokens) / F.lit(10.0)).alias(
            "x2"
        ),
        (n_tokens / F.lit(100.0)).alias("x3"),
    ).localCheckpoint(eager=True)
    train = feats_all.filter(F.col("doc_id") % 5 != 4)
    test = feats_all.filter(F.col("doc_id") % 5 == 4)
    n_train = train.count()
    empty = spark.createDataFrame(
        [], "y_true int, y_pred int, n_docs bigint, z_micro_sum bigint"
    )
    if n_train == 0:
        return empty
    wvals = _fit_lr(train, float(n_train))
    zc = _lr_z_expr(wvals)
    return (
        test.select(
            F.col("y").alias("y_true"),
            F.when(zc > F.lit(0.0), F.lit(1)).otherwise(F.lit(0)).alias(
                "y_pred"
            ),
            F.round(zc * F.lit(1000000.0), 0).cast("bigint").alias("z_micro"),
        )
        .groupBy("y_true", "y_pred")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("z_micro").cast("bigint").alias("z_micro_sum"),
        )
    )


_POISSON1_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
    "0.999998874797402",
)

_BOOT_B = 24


def _poisson_case_sql(u: str) -> str:
    branches = "\n         ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
    )
    return f"CASE {branches}\n         ELSE 9 END"


@register(
    "experiment_bootstrap_ci",
    oracle=f"""
WITH {_EXP_U_SQL.strip()},
r AS (
  SELECT u.arm, u.y, b.b,
         {_poisson_case_sql(
             "(CAST(('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || '#' ||"
             " CAST(b.b AS VARCHAR)), 1, 12)) AS BIGINT)"
             " / 281474976710656.0)"
         )} AS w
  FROM u CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS b) b
),
repl AS (
  SELECT b,
         CAST(sum(CASE WHEN arm = 0 THEN w ELSE 0 END) AS BIGINT) AS swc,
         CAST(sum(CASE WHEN arm = 0 THEN w * y ELSE 0 END) AS BIGINT) AS swyc,
         CAST(sum(CASE WHEN arm = 1 THEN w ELSE 0 END) AS BIGINT) AS swt,
         CAST(sum(CASE WHEN arm = 1 THEN w * y ELSE 0 END) AS BIGINT) AS swyt
  FROM r GROUP BY b
),
lifts AS (
  SELECT b,
         CAST(swyt AS DOUBLE) / CAST(swt AS DOUBLE)
           - CAST(swyc AS DOUBLE) / CAST(swc AS DOUBLE) AS lift_b
  FROM repl WHERE swc > 0 AND swt > 0
),
ranked AS (
  SELECT lift_b,
         row_number() OVER (ORDER BY lift_b, b) AS rn_asc,
         row_number() OVER (ORDER BY lift_b DESC, b DESC) AS rn_desc
  FROM lifts
),
point AS (
  SELECT CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS DOUBLE)
           / CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         - CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS DOUBLE)
           / CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE)
           AS lift_point
  FROM u
)
SELECT p.lift_point,
       CAST(count(*) AS BIGINT) AS n_replicates,
       min(CASE WHEN rn_asc = 2 THEN lift_b END) AS boot_lo,
       min(CASE WHEN rn_desc = 2 THEN lift_b END) AS boot_hi
FROM ranked, point p GROUP BY p.lift_point
""",
)
def experiment_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the A/B lift (the
    resampling CI every large experimentation platform uses instead of
    multinomial resampling, because Poisson(1) replicate weights need
    NO coordination: each user row draws its weight independently, so
    the bootstrap is one map + one aggregate — Chamandy et al., Google
    2012 "Estimating Uncertainty for Massive Data Streams"). Each of
    B=24 replicates hashes (user_id, b) through md5 into u ∈ [0,1) —
    the division is by 2^48, exact — and inverts the Poisson(1) CDF
    via fixed double literals shared with the oracle, so weights are
    deterministic integers cross-engine. Per-replicate per-arm sums
    Σw, Σw·y are exact bigints (map-side combinable); replicate lifts
    derive by fixed IEEE division; the CI is an exact ORDER-STATISTIC
    selection (2nd smallest / 2nd largest of 24 ≈ a central ~92%
    interval) with (lift, b) tie-break, so the whole readout
    value-hash-matches. Scale shape: the fact scan collapses to
    per-user rollups FIRST; the ×B fan-out happens on the slim user
    table (|users|×24, narrow), never on events; the rank step sorts
    B=24 rows. Guards: replicates where either arm's weight sum is 0
    are dropped by an exact integer compare (never fires beyond toy
    scales)."""
    # One fact scan, not two (r12, the welch-pattern sweep): the ×B
    # replicate fan-out and the point-estimate aggregate both consumed
    # the per-user rollup, and Catalyst re-derived the whole subtree per
    # branch. Lazy pin: |users| slim rows, computed once at action time
    # and served to both consumers.
    u = _experiment_users(spark, sf_dir).localCheckpoint(eager=False)
    hex12 = F.substring(
        F.md5(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("#"),
                F.col("b").cast("string"),
            )
        ),
        1,
        12,
    )
    uu = F.conv(hex12, 16, 10).cast("bigint") / F.lit(281474976710656.0)
    w_expr = F.lit(9)
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w_expr = F.when(
            uu < F.lit(float(_POISSON1_CDF[k])), F.lit(k)
        ).otherwise(w_expr)
    r = u.select(
        "arm", "y", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    , F.col("user_id")).withColumn("w", w_expr).drop("user_id")
    repl = r.groupBy("b").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("w")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("swc"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("w") * F.col("y")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("swyc"),
        F.sum(F.when(F.col("arm") == 1, F.col("w")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("swt"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("w") * F.col("y")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("swyt"),
    )
    lifts = repl.filter((F.col("swc") > 0) & (F.col("swt") > 0)).select(
        "b",
        (
            F.col("swyt").cast("double") / F.col("swt").cast("double")
            - F.col("swyc").cast("double") / F.col("swc").cast("double")
        ).alias("lift_b"),
    )
    ranked = lifts.select(
        "lift_b",
        F.row_number()
        .over(Window.orderBy(F.col("lift_b"), F.col("b")))
        .alias("rn_asc"),
        F.row_number()
        .over(Window.orderBy(F.col("lift_b").desc(), F.col("b").desc()))
        .alias("rn_desc"),
    )
    point = u.agg(
        (
            F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(F.lit(0)))
            .cast("double")
            / F.sum(F.when(F.col("arm") == 1, F.lit(1)).otherwise(F.lit(0)))
            .cast("double")
            - F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(F.lit(0)))
            .cast("double")
            / F.sum(F.when(F.col("arm") == 0, F.lit(1)).otherwise(F.lit(0)))
            .cast("double")
        ).alias("lift_point")
    )
    return (
        ranked.crossJoin(F.broadcast(point))
        .groupBy("lift_point")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
            F.min(
                F.when(F.col("rn_asc") == 2, F.col("lift_b"))
            ).alias("boot_lo"),
            F.min(
                F.when(F.col("rn_desc") == 2, F.col("lift_b"))
            ).alias("boot_hi"),
        )
    )


@register(
    "experiment_srm_check",
    oracle="""
WITH u AS (
  SELECT DISTINCT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 AS arm
  FROM events
),
j AS (
  SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS seg, u.arm
  FROM u LEFT JOIN customer c ON u.user_id = c.c_custkey
),
g AS (
  SELECT coalesce(seg, 'ALL') AS segment,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_control,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat
  FROM j GROUP BY ROLLUP(seg)
)
SELECT segment, n_control, n_treat,
       CAST((n_control - n_treat) * (n_control - n_treat) AS DOUBLE)
         / CAST(n_control + n_treat AS DOUBLE) AS chi2,
       CAST((n_control - n_treat) * (n_control - n_treat) AS DOUBLE)
         / CAST(n_control + n_treat AS DOUBLE) > 3.841 AS srm_flag
FROM g
""",
)
def experiment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the FIRST check every
    experiment readout runs, because a biased assignment invalidates
    Welch/CUPED/bootstrap before they start: χ² goodness-of-fit of the
    md5-hash arm counts against the designed 50/50 split, overall AND
    per customer segment (a per-segment SRM with a clean overall is the
    classic symptom of a segment-correlated logging bug). The 1-df GOF
    statistic reduces to (n0−n1)²/(n0+n1) — an exact integer ratio
    evaluated by ONE double division, so the statistic itself
    value-hash-oracles; the flag compares against the χ²₁ 95% critical
    value 3.841. ROLLUP supplies the overall row in the same shuffle
    as the per-segment rows. Scale shape: distinct-users is the only
    fact-sized stage (map-side combinable); the segment join is a
    broadcast of the dim table; the report is |segments|+1 rows."""
    e = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer")
    u = e.select("user_id").distinct().withColumn(
        "arm",
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % 2"
        ),
    )
    j = u.join(F.broadcast(c), u.user_id == c.c_custkey, "left").select(
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("seg"),
        "arm",
    )
    g = j.rollup("seg").agg(
        F.sum(F.when(F.col("arm") == 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_control"),
        F.sum(F.when(F.col("arm") == 1, F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_treat"),
    )
    diff = F.col("n_control") - F.col("n_treat")
    chi2 = (diff * diff).cast("double") / (
        F.col("n_control") + F.col("n_treat")
    ).cast("double")
    return g.select(
        F.coalesce(F.col("seg"), F.lit("ALL")).alias("segment"),
        "n_control",
        "n_treat",
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841)).alias("srm_flag"),
    )


@register(
    "governance_t_closeness",
    oracle="""
WITH qi AS (
  SELECT c_mktsegment, c_nationkey,
         least(9, greatest(0,
           (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 110000))
           AS band
  FROM customer
),
bands AS (SELECT unnest(range(10)) AS band),
gtot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qi),
gcnt AS (
  SELECT b.band, CAST(coalesce(g.c, 0) AS BIGINT) AS c
  FROM bands b LEFT JOIN (
    SELECT band, count(*) AS c FROM qi GROUP BY band
  ) g ON g.band = b.band
),
gcum AS (
  SELECT band, CAST(sum(c) OVER (ORDER BY band
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gcum
  FROM gcnt
),
cls AS (
  SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS class_size
  FROM qi GROUP BY 1, 2
),
grid AS (
  SELECT cls.c_mktsegment, cls.c_nationkey, cls.class_size, b.band,
         CAST(coalesce(k.c, 0) AS BIGINT) AS c
  FROM cls CROSS JOIN bands b
  LEFT JOIN (
    SELECT c_mktsegment, c_nationkey, band, count(*) AS c
    FROM qi GROUP BY 1, 2, 3
  ) k ON k.c_mktsegment = cls.c_mktsegment
     AND k.c_nationkey = cls.c_nationkey AND k.band = b.band
),
ccum AS (
  SELECT c_mktsegment, c_nationkey, class_size, band,
         CAST(sum(c) OVER (PARTITION BY c_mktsegment, c_nationkey
              ORDER BY band ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccum
  FROM grid
),
emd AS (
  SELECT c.c_mktsegment, c.c_nationkey, c.class_size,
         CAST(sum(CASE WHEN c.band < 9
              THEN abs(g2.n * c.ccum - c.class_size * g.gcum)
              ELSE 0 END) AS BIGINT) AS d_sum,
         CAST(max(g2.n) AS BIGINT) AS n
  FROM ccum c JOIN gcum g ON g.band = c.band CROSS JOIN gtot g2
  GROUP BY 1, 2, 3
)
SELECT c_mktsegment, c_nationkey, class_size,
       CAST(d_sum AS DOUBLE)
         / CAST(class_size * n * 9 AS DOUBLE) AS t_emd,
       CAST(d_sum AS DOUBLE)
         / CAST(class_size * n * 9 AS DOUBLE) > 0.2 AS t_risk
FROM emd
""",
)
def governance_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li et al., ICDE'07) — the third rung of the
    anonymization-risk ladder after `governance_k_anonymity`'s k and l:
    a QI equivalence class leaks the SENSITIVE DISTRIBUTION when its
    in-class distribution sits far from the global one, even if the
    class is large (defeats k) and diverse (defeats l — the skewness
    attack). Distance is the ordered-attribute Earth Mover's Distance
    over 10 exact account-balance deciles: EMD = Σ|cumP−cumQ|/(m−1),
    computed on the INTEGER numerator N·cum_class − n_class·cum_global
    (exact bigints — products stay < 2^63 past sf1000), with ONE double
    division at readout, so the privacy statistic itself value-hash
    oracles. Shape: two map-side-combined rollups over the slim QI
    projection, a |classes|×10 dense grid (cumsums are per-class
    windows over 10 rows), global cum broadcast by band join. At
    100 TB the grid is |QI classes|×bands — dimension-table sized.
    Same QI columns as governance_k_anonymity, so the three risk
    reports compose into one release gate."""
    c = t(spark, sf_dir, "customer")
    qi = c.select(
        "c_mktsegment",
        "c_nationkey",
        F.expr(
            "least(9, greatest(0,"
            " (CAST(round(c_acctbal * 100) AS BIGINT) + 100000)"
            " div 110000))"
        ).alias("band"),
    )
    bands = spark.range(10).select(F.col("id").cast("bigint").alias("band"))
    gtot = qi.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    gcnt = (
        bands.join(
            qi.groupBy("band").agg(F.count(F.lit(1)).alias("c")),
            "band",
            "left",
        )
        .select("band", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"))
    )
    wg = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    gcum = gcnt.select(
        "band", F.sum("c").over(wg).cast("bigint").alias("gcum")
    )
    cls = qi.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size")
    )
    kcnt = qi.groupBy("c_mktsegment", "c_nationkey", "band").agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = (
        cls.crossJoin(F.broadcast(bands))
        .join(kcnt, ["c_mktsegment", "c_nationkey", "band"], "left")
        .select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            "band",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    wc = (
        Window.partitionBy("c_mktsegment", "c_nationkey")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ccum = grid.select(
        "c_mktsegment",
        "c_nationkey",
        "class_size",
        "band",
        F.sum("c").over(wc).cast("bigint").alias("ccum"),
    )
    emd = (
        ccum.join(F.broadcast(gcum), "band")
        .crossJoin(F.broadcast(gtot))
        .groupBy("c_mktsegment", "c_nationkey", "class_size")
        .agg(
            F.sum(
                F.when(
                    F.col("band") < 9,
                    F.abs(
                        F.col("n") * F.col("ccum")
                        - F.col("class_size") * F.col("gcum")
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("d_sum"),
            F.max("n").cast("bigint").alias("n"),
        )
    )
    t_emd = F.col("d_sum").cast("double") / (
        F.col("class_size") * F.col("n") * F.lit(9)
    ).cast("double")
    return emd.select(
        "c_mktsegment",
        "c_nationkey",
        "class_size",
        t_emd.alias("t_emd"),
        (t_emd > F.lit(0.2)).alias("t_risk"),
    )


@register(
    "text_tokenizer_fertility",
    oracle=(
        "WITH "
        + _bpe_rounds_cte(_BPE_K)
        + f"""
, vocab AS (
  SELECT word, CAST(len(l) AS BIGINT) AS n_word_tokens,
         CAST(length(word) AS BIGINT) AS n_word_chars
  FROM r{_BPE_K}
)
SELECT d.lang,
       CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(v.n_word_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(v.n_word_chars) AS BIGINT) AS n_chars,
       CAST(sum(v.n_word_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS fertility,
       CAST(sum(v.n_word_chars) AS DOUBLE)
         / CAST(sum(v.n_word_tokens) AS DOUBLE) AS chars_per_token
FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents) d
JOIN vocab v USING (word)
GROUP BY 1
"""
    ),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit — the standard tokenizer-evaluation
    metric (tokens emitted per word, and chars compressed per token)
    broken out BY LANGUAGE, because a tokenizer trained on one
    language's corpus over-fragments the others (high fertility =
    wasted context window = higher serving cost for that language;
    the metric multilingual-tokenizer papers report, e.g. XLM-R's
    fertility tables). Reuses the trained 8-rule BPE vocabulary from
    `text_bpe_train`: each DISTINCT word is segmented once (narrow
    fold over the |vocab| table), documents join their exploded words
    against the broadcast vocab, and per-language sums are exact
    bigints — the two ratios are single divisions at readout, so the
    report value-hash oracles. Scale: scan-bound; the vocab broadcast
    is the tokenize path's shape (text_bpe_tokenize), one extra
    map-side-combined rollup on lang."""
    from stream_processing_project_spark.operators.bpe import (
        bpe_segment,
        bpe_train,
        chars,
    )

    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    rules = bpe_train(words, _BPE_K).collect()
    merges = [(r["lft"], r["rgt"]) for r in rules]
    vocab = words.select(
        "word",
        F.size(bpe_segment(chars(F.col("word")), merges))
        .cast("bigint")
        .alias("n_word_tokens"),
        F.length("word").cast("bigint").alias("n_word_chars"),
    )
    return (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
        )
        .join(F.broadcast(vocab), "word")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_word_tokens").cast("bigint").alias("n_bpe_tokens"),
            F.sum("n_word_chars").cast("bigint").alias("n_chars"),
            (
                F.sum("n_word_tokens").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("fertility"),
            (
                F.sum("n_word_chars").cast("double")
                / F.sum("n_word_tokens").cast("double")
            ).alias("chars_per_token"),
        )
    )


@register(
    "text_zipf_fit",
    oracle="""
WITH cnt AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents)
  GROUP BY word
),
ranked AS (
  SELECT word, c,
         row_number() OVER (ORDER BY c DESC, word) AS rnk
  FROM cnt
),
pts AS (
  SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000.0) AS BIGINT) AS lx,
         CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS ly
  FROM ranked
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
         CAST(sum(CAST(round((CAST(lx AS DOUBLE) / 1000000.0)
              * (CAST(lx AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT))
              AS BIGINT) AS sxx,
         CAST(sum(CAST(round((CAST(lx AS DOUBLE) / 1000000.0)
              * (CAST(ly AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT))
              AS BIGINT) AS sxy,
         CAST(sum(CAST(round((CAST(ly AS DOUBLE) / 1000000.0)
              * (CAST(ly AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT))
              AS BIGINT) AS syy
  FROM pts
),
d AS (
  SELECT CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) / 1000000.0 AS sxd,
         CAST(sy AS DOUBLE) / 1000000.0 AS syd,
         CAST(sxx AS DOUBLE) / 1000000.0 AS sxxd,
         CAST(sxy AS DOUBLE) / 1000000.0 AS sxyd,
         CAST(syy AS DOUBLE) / 1000000.0 AS syyd,
         n
  FROM s
)
SELECT n AS n_vocab,
       (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS zipf_slope,
       (syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd)
         / nd AS zipf_intercept,
       ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
         / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) AS r_squared
FROM d
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the token frequency distribution — the
    corpus-health diagnostic (natural text fits log(freq) ≈ a + s·
    log(rank) with slope s ≈ −1; a shallow or kinked slope exposes
    boilerplate floods, templated spam, or a truncated vocabulary —
    the first plot every corpus data card carries). OLS over the
    (ln rank, ln freq) points with the repo's exact-sum discipline:
    each ln micro-quantizes to bigint micro-nats, per-point products
    are computed in double FROM the quantized values and re-quantized
    before the sum — all five sufficient statistics are associative
    bigint sums (products ≤ ~1.4e8 per point, < 2^63 past 1e10
    vocab), slope/intercept/R² derive by one fixed IEEE sequence.
    Shape: token counts are one map-side-combined rollup; the rank is
    FULLY distributed with no global window (r06 — honoring the r05
    docstring's IOU): the fit consumes only the MULTISET of
    (rank, count) points — words tied on count share the same ly and
    occupy a contiguous rank range, so ANY bijection of the tie group
    onto {offset+1..offset+f} yields bit-identical sums. Ranks
    therefore decompose as count-group offset (count-of-counts
    cumsum through bucketed_running_sum — domain-small, range-
    partitioned) + salt-slice offset (≤256 rows per count value) +
    within-slice row_number (largest window partition =
    |largest tie group| / 256; the hapax group, the worst case at web
    scale, spreads across 256 slices instead of one partition). The
    oracle keeps the plain row_number ORDER BY c DESC, word — same
    multiset, same sums."""
    cnt = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # eager checkpoint: the token rollup is the ONLY corpus-sized
        # pass and four consumers read its vocab-sized output (the
        # count-of-counts cumsum, the salt-slice offsets, the ranked
        # main branch, the fit aggregate). The r06 curve's 2.6x second
        # decade was adjudicated r07: it was neither the hapax tie
        # group (this fixture's largest tie is 2) nor the cumsum (~30
        # distinct counts) — it was THIS pass replaying once for the
        # former brs persist and again in the final job. Vocabulary ≪
        # corpus at any scale, so pinning it is always cheap.
        .localCheckpoint(eager=True)
    )
    coc = cnt.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    cum, _b = bucketed_running_sum(coc, "f", "c", descending=True, out_col="cumf")
    offs = cum.select("c", (F.col("cumf") - F.col("f")).cast("bigint").alias("off"))
    salted = cnt.withColumn(
        "salt", F.pmod(F.xxhash64("word"), F.lit(256)).cast("int")
    )
    wsalt = (
        Window.partitionBy("c")
        .orderBy("salt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    soff = (
        salted.groupBy("c", "salt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fs"))
        .select(
            "c",
            "salt",
            (F.sum("fs").over(wsalt) - F.col("fs")).cast("bigint").alias("soff"),
        )
    )
    wpos = Window.partitionBy("c", "salt").orderBy("word")
    ranked = (
        salted.withColumn("pos", F.row_number().over(wpos).cast("bigint"))
        .join(soff, ["c", "salt"])
        .join(offs, "c")
        .select("c", (F.col("off") + F.col("soff") + F.col("pos")).alias("rnk"))
    )
    q = lambda col: F.round(col * F.lit(1000000.0), 0).cast("bigint")
    pts = ranked.select(
        q(F.log(F.col("rnk").cast("double"))).alias("lx"),
        q(F.log(F.col("c").cast("double"))).alias("ly"),
    )
    dq = lambda name: F.col(name).cast("double") / F.lit(1000000.0)
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(q(dq("lx") * dq("lx"))).cast("bigint").alias("sxx"),
        F.sum(q(dq("lx") * dq("ly"))).cast("bigint").alias("sxy"),
        F.sum(q(dq("ly") * dq("ly"))).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double") / F.lit(1000000.0)
    syd = F.col("sy").cast("double") / F.lit(1000000.0)
    sxxd = F.col("sxx").cast("double") / F.lit(1000000.0)
    sxyd = F.col("sxy").cast("double") / F.lit(1000000.0)
    syyd = F.col("syy").cast("double") / F.lit(1000000.0)
    num = nd * sxyd - sxd * syd
    den = nd * sxxd - sxd * sxd
    slope = num / den
    return s.select(
        F.col("n").alias("n_vocab"),
        slope.alias("zipf_slope"),
        ((syd - slope * sxd) / nd).alias("zipf_intercept"),
        ((num * num) / (den * (nd * syyd - syd * syd))).alias("r_squared"),
    )


@register(
    "experiment_msprt_monitor",
    oracle=f"""
WITH ev AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 AS arm,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
daily AS (
  SELECT day, arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS ss
  FROM ev GROUP BY 1, 2
),
cum AS (
  SELECT day, arm,
         CAST(sum(n) OVER w AS BIGINT) AS n,
         CAST(sum(s) OVER w AS BIGINT) AS s,
         CAST(sum(ss) OVER w AS BIGINT) AS ss
  FROM daily WINDOW w AS (PARTITION BY arm ORDER BY day
                          ROWS UNBOUNDED PRECEDING)
),
wide AS (
  SELECT c.day,
         c.n AS n_c, t.n AS n_t,
         CAST(c.s AS DOUBLE) / c.n AS mean_c,
         CAST(t.s AS DOUBLE) / t.n AS mean_t,
         (CAST(c.n AS DOUBLE) * CAST(c.ss AS DOUBLE)
            - CAST(c.s AS DOUBLE) * CAST(c.s AS DOUBLE))
           / CAST(c.n AS DOUBLE) / (CAST(c.n AS DOUBLE) - 1) AS var_c,
         (CAST(t.n AS DOUBLE) * CAST(t.ss AS DOUBLE)
            - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE))
           / CAST(t.n AS DOUBLE) / (CAST(t.n AS DOUBLE) - 1) AS var_t
  FROM cum c JOIN cum t ON t.day = c.day AND t.arm = 1
  WHERE c.arm = 0 AND c.n > 1 AND t.n > 1
),
lam AS (
  SELECT day, n_c, n_t, mean_t - mean_c AS lift,
         CAST(round((
           0.5 * ln((var_c / n_c + var_t / n_t)
                    / ((var_c / n_c + var_t / n_t) + 1000000.0))
           + ((mean_t - mean_c) * (mean_t - mean_c)) * 1000000.0
             / (2.0 * (var_c / n_c + var_t / n_t)
                * ((var_c / n_c + var_t / n_t) + 1000000.0))
         ) * 1000000.0) AS BIGINT) AS log_lambda_micro
  FROM wide
),
p AS (
  SELECT day, n_c, n_t, lift, log_lambda_micro,
         least(CAST(1000000 AS BIGINT),
               CAST(round(exp(-(CAST(log_lambda_micro AS DOUBLE)
                                / 1000000.0)) * 1000000.0) AS BIGINT))
           AS p_micro_raw
  FROM lam
)
SELECT day, n_c, n_t, lift, log_lambda_micro,
       CAST(min(p_micro_raw) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS p_micro,
       min(p_micro_raw) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
         < 50000 AS significant
FROM p
""",
)
def experiment_msprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential monitoring (mSPRT, Johari et al. KDD'17
    "Peeking at A/B Tests") — the readout that makes DAILY PEEKING
    statistically safe where a fixed-horizon t-test inflates false
    positives: per day, the mixture likelihood ratio Λ with mixture
    variance τ²=1e6 (cents² — on the order of the per-event variance)
    over the CUMULATIVE per-arm sufficient statistics, and the
    always-valid p-value = running min of 1/Λ, clamped to 1. Exact
    bigint (n, Σ, Σ²) cumulate per arm by day windows (|days| rows);
    log Λ derives by one fixed IEEE sequence and micro-quantizes;
    p re-derives FROM the quantized logΛ and re-quantizes (the
    ln/exp-then-quantize discipline), so the running min is an
    integer min — the whole monitoring trajectory value-hash-oracles.
    significant = p < 0.05 by integer compare. Scale: one fact scan
    into per-(day, arm) partials; everything after is |days|-sized.
    Composes with experiment_srm_check (validity gate) and
    experiment_welch_ttest (fixed-horizon readout)."""
    ev = t(spark, sf_dir, "events").select(
        F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)").alias("day"),
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % 2"
        ).alias("arm"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    daily = ev.groupBy("day", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )
    wcum = (
        Window.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.select(
        "day",
        "arm",
        F.sum("n").over(wcum).cast("bigint").alias("n"),
        F.sum("s").over(wcum).cast("bigint").alias("s"),
        F.sum("ss").over(wcum).cast("bigint").alias("ss"),
    )
    # Pivot the per-(day, arm) cumulative stats into one row per day
    # with conditional max (r12, the welch-pattern sweep):
    # filter(arm=0) ⨝ filter(arm=1) re-derived the whole
    # daily-rollup-plus-window subtree per side — two full fact scans.
    # max(when(arm=a, col)) over the SAME subtree keeps the exact
    # bigints; the (n_c > 1 AND n_t > 1) guard reproduces the inner
    # join exactly (a day missing an arm pivots to NULL → dropped, a
    # day with n ≤ 1 on either side was filtered before the join).
    wide = (
        cum.groupBy("day")
        .agg(
            *[
                F.max(F.when(F.col("arm") == a, F.col(col))).alias(
                    f"{col}_{tag}"
                )
                for a, tag in ((0, "c"), (1, "t"))
                for col in ("n", "s", "ss")
            ]
        )
        .where((F.col("n_c") > 1) & (F.col("n_t") > 1))
    )

    def mv(n, s, ss):
        nd = F.col(n).cast("double")
        sd, ssd = F.col(s).cast("double"), F.col(ss).cast("double")
        return sd / F.col(n), (nd * ssd - sd * sd) / nd / (nd - 1)
    mean_c, var_c = mv("n_c", "s_c", "ss_c")
    mean_t, var_t = mv("n_t", "s_t", "ss_t")
    se2 = var_c / F.col("n_c") + var_t / F.col("n_t")
    tau2 = F.lit(1000000.0)
    lift = mean_t - mean_c
    log_lam = (
        F.lit(0.5) * F.log(se2 / (se2 + tau2))
        + (lift * lift) * tau2 / (F.lit(2.0) * se2 * (se2 + tau2))
    )
    lam = wide.select(
        "day",
        "n_c",
        "n_t",
        lift.alias("lift"),
        F.round(log_lam * F.lit(1000000.0), 0)
        .cast("bigint")
        .alias("log_lambda_micro"),
    )
    p_raw = F.least(
        F.lit(1000000).cast("bigint"),
        F.round(
            F.exp(
                -(F.col("log_lambda_micro").cast("double") / F.lit(1000000.0))
            )
            * F.lit(1000000.0),
            0,
        ).cast("bigint"),
    )
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = lam.withColumn("p_micro_raw", p_raw)
    return p.select(
        "day",
        "n_c",
        "n_t",
        "lift",
        "log_lambda_micro",
        F.min("p_micro_raw").over(wp).cast("bigint").alias("p_micro"),
        (F.min("p_micro_raw").over(wp) < F.lit(50000)).alias("significant"),
    )


@register(
    "governance_subject_access_report",
    oracle="""
WITH subject AS (
  SELECT user_id FROM (
    SELECT DISTINCT user_id FROM events
  ) ORDER BY md5(CAST(user_id AS VARCHAR)), user_id LIMIT 1
),
ev AS (
  SELECT 'events' AS source_table, CAST(count(*) AS BIGINT) AS n_rows,
         min(CAST(epoch_us(ts) AS BIGINT)) AS first_us,
         max(CAST(epoch_us(ts) AS BIGINT)) AS last_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM events e JOIN subject s ON e.user_id = s.user_id
),
ord AS (
  SELECT 'orders' AS source_table, CAST(count(*) AS BIGINT) AS n_rows,
         min(CAST(epoch_us(o_orderdate) AS BIGINT)) AS first_us,
         max(CAST(epoch_us(o_orderdate) AS BIGINT)) AS last_us,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM orders o JOIN subject s ON o.o_custkey = s.user_id
),
cust AS (
  SELECT 'customer' AS source_table, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(NULL AS BIGINT) AS first_us, CAST(NULL AS BIGINT) AS last_us,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM customer c JOIN subject s ON c.c_custkey = s.user_id
)
SELECT s.user_id AS subject_id, u.source_table, u.n_rows, u.first_us,
       u.last_us, u.value_cents
FROM (SELECT * FROM ev UNION ALL SELECT * FROM ord
      UNION ALL SELECT * FROM cust) u, subject s
""",
)
def governance_subject_access_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subject-access report (GDPR Art. 15 DSAR / CCPA "right to
    know") — the third leg of the privacy-ops stool next to
    `governance_retention_sweep` (erase on schedule) and
    `governance_crypto_shred` (erase on demand): for ONE data subject,
    enumerate every table holding their records with row counts, time
    bounds, and value totals — the export manifest a DSAR fulfillment
    pipeline materializes before extraction. The subject is chosen by
    deterministic md5 order (stable across engines and scale — a
    fixed id would go missing at sf0.001); per-table summaries are
    exact bigints from key-pushed semi-join scans. Shape: the subject
    row broadcasts into each fact scan (predicate pushdown reduces
    each to a key-selective scan; at 100 TB these are index/zone-map
    served — see maintenance_zonemap_prune); the report is one row
    per table. Timestamps are epoch micros; the dimension table
    reports NULL bounds (no time axis)."""
    e = t(spark, sf_dir, "events")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    subject = (
        e.select("user_id")
        .distinct()
        .orderBy(F.md5(F.col("user_id").cast("string")), F.col("user_id"))
        .limit(1)
    )
    ev = (
        e.join(F.broadcast(subject), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(F.unix_micros("ts")).cast("bigint").alias("first_us"),
            F.max(F.unix_micros("ts")).cast("bigint").alias("last_us"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
        .select(F.lit("events").alias("source_table"), "*")
    )
    orr = (
        o.join(
            F.broadcast(subject), o.o_custkey == F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(F.unix_micros("o_orderdate")).cast("bigint").alias("first_us"),
            F.max(F.unix_micros("o_orderdate")).cast("bigint").alias("last_us"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
        .select(F.lit("orders").alias("source_table"), "*")
    )
    cu = (
        c.join(F.broadcast(subject), c.c_custkey == F.col("user_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.lit(None).cast("bigint").alias("first_us"),
            F.lit(None).cast("bigint").alias("last_us"),
            F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
        .select(F.lit("customer").alias("source_table"), "*")
    )
    return (
        ev.unionByName(orr)
        .unionByName(cu)
        .crossJoin(F.broadcast(subject.select(F.col("user_id").alias("subject_id"))))
        .select(
            "subject_id", "source_table", "n_rows", "first_us", "last_us",
            "value_cents",
        )
    )


@register(
    "profile_spearman_rank_corr",
    oracle="""
WITH x AS MATERIALIZED (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS xv,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS yv
  FROM lineitem
),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
rx AS MATERIALIZED (
  SELECT xv, CAST(sum(c) OVER (ORDER BY xv ROWS UNBOUNDED PRECEDING)
             - c + 1 AS BIGINT) AS r
  FROM (SELECT xv, count(*) AS c FROM x GROUP BY 1)
),
ry AS MATERIALIZED (
  SELECT yv, CAST(sum(c) OVER (ORDER BY yv ROWS UNBOUNDED PRECEDING)
             - c + 1 AS BIGINT) AS r
  FROM (SELECT yv, count(*) AS c FROM x GROUP BY 1)
),
pts AS (
  SELECT (CAST(rx.r AS DOUBLE)) / nn.n AS u,
         (CAST(ry.r AS DOUBLE)) / nn.n AS v
  FROM x JOIN rx ON rx.xv = x.xv JOIN ry ON ry.yv = x.yv
  CROSS JOIN nn
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(u * 1000000.0) AS BIGINT)) AS BIGINT) AS su,
         CAST(sum(CAST(round(v * 1000000.0) AS BIGINT)) AS BIGINT) AS sv,
         CAST(sum(CAST(round(u * u * 1000000.0) AS BIGINT)) AS BIGINT) AS suu,
         CAST(sum(CAST(round(u * v * 1000000.0) AS BIGINT)) AS BIGINT) AS suv,
         CAST(sum(CAST(round(v * v * 1000000.0) AS BIGINT)) AS BIGINT) AS svv
  FROM pts
),
d AS (
  SELECT CAST(n AS DOUBLE) AS nd, n,
         CAST(su AS DOUBLE) / 1000000.0 AS sud,
         CAST(sv AS DOUBLE) / 1000000.0 AS svd,
         CAST(suu AS DOUBLE) / 1000000.0 AS suud,
         CAST(suv AS DOUBLE) / 1000000.0 AS suvd,
         CAST(svv AS DOUBLE) / 1000000.0 AS svvd
  FROM s
)
SELECT n AS n_rows,
       (nd * suvd - sud * svd)
         / (sqrt(nd * suud - sud * sud) * sqrt(nd * svvd - svd * svd))
         AS spearman_rho
FROM d
""",
)
def profile_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation — the robust monotone-dependence
    companion to `profile_correlation`'s Pearson (outlier-immune,
    catches nonlinear monotone relations Pearson understates): Pearson
    computed on MIN-RANKS (ties share their group's first rank — the
    deterministic tie convention; classic average-ranks would put a .5
    into the integer pipeline). Ranks come from the COUNT-OF-COUNTS
    table (rank(v) = rows before v + 1 via a cumsum over the distinct-
    value table, joined back) — no global row_number over the fact
    table, the abc_pareto scale lesson. Ranks normalize to (0,1] and
    per-row products micro-quantize to bigints before summation
    (products ≤ 1e6/row — the sums stay < 2^63 past 1e12 rows), so
    all five sufficient statistics are associative and the ρ readout
    value-hash-oracles. On TPC-H lineitem (quantity vs extended
    price ≈ quantity × unit price) ρ is strongly positive — a real
    signal in an otherwise independence-dominated fixture. Shape: one
    fact scan, two distinct-value cumsums — RANGE-PARTITIONED via
    bucketed_running_sum, because cent-quantized prices are near-unique
    so the "domain-sized" table is really data-sized (r05 verdict,
    What's wrong #1) — two joins back (left to AQE: the rank tables
    scale with the data, so a pinned broadcast would be wrong at 100×),
    one map-side-combined moment pass."""
    li = t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("xv"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
        .cast("bigint")
        .alias("yv"),
    )
    nn = li.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def ranks(col: str) -> DataFrame:
        hist = li.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        cum, bcol = bucketed_running_sum(hist, "c", col, out_col="cum")
        return cum.select(
            col,
            (F.col("cum") - F.col("c") + 1).cast("bigint").alias("r"),
        )

    rx = ranks("xv").withColumnRenamed("r", "rx")
    ry = ranks("yv").withColumnRenamed("r", "ry")
    pts = (
        li.join(rx, "xv")
        .join(ry, "yv")
        .crossJoin(F.broadcast(nn))
        .select(
            (F.col("rx").cast("double") / F.col("n")).alias("u"),
            (F.col("ry").cast("double") / F.col("n")).alias("v"),
        )
    )
    q = lambda e: F.round(e * F.lit(1000000.0), 0).cast("bigint")
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q(F.col("u"))).cast("bigint").alias("su"),
        F.sum(q(F.col("v"))).cast("bigint").alias("sv"),
        F.sum(q(F.col("u") * F.col("u"))).cast("bigint").alias("suu"),
        F.sum(q(F.col("u") * F.col("v"))).cast("bigint").alias("suv"),
        F.sum(q(F.col("v") * F.col("v"))).cast("bigint").alias("svv"),
    )
    nd = F.col("n").cast("double")
    dq = lambda name: F.col(name).cast("double") / F.lit(1000000.0)
    num = nd * dq("suv") - dq("su") * dq("sv")
    den = F.sqrt(nd * dq("suu") - dq("su") * dq("su")) * F.sqrt(
        nd * dq("svv") - dq("sv") * dq("sv")
    )
    return s.select(
        F.col("n").alias("n_rows"), (num / den).alias("spearman_rho")
    )


@register(
    "experiment_power_mde",
    oracle=f"""
WITH {_EXP_U_SQL.strip()},
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM u
),
v AS (
  SELECT n, CAST(sy AS DOUBLE) / n AS mean_y,
         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
           / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1) AS var_y
  FROM s
),
horizons AS (SELECT unnest([1, 2, 4, 8, 16, 32]) AS weeks)
SELECT h.weeks,
       CAST(v.n * h.weeks AS BIGINT) AS n_per_arm,
       (1.959963984540054 + 0.8416212335729143)
         * sqrt(2.0 * v.var_y / (v.n * h.weeks)) AS mde_abs,
       ((1.959963984540054 + 0.8416212335729143)
         * sqrt(2.0 * v.var_y / (v.n * h.weeks))) / v.mean_y AS mde_rel
FROM horizons h, v
""",
)
def experiment_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment power analysis — the design-stage question every
    A/B test starts with ("how long must this run to detect X%?"):
    minimum detectable effect at α=0.05 (two-sided), power=0.80 for a
    two-sample mean test, MDE = (z_{α/2}+z_β)·√(2σ²/n), over a table
    of candidate horizons (weeks of traffic at the pilot's per-week
    user volume). σ² comes from the pilot's exact bigint sufficient
    statistics (the Welch op's pass, reused); the z constants are
    shared double literals (Φ⁻¹(0.975), Φ⁻¹(0.80)), so the whole
    design table derives by fixed IEEE sequences and value-hash
    oracles. Completes the experimentation lifecycle: power → SRM →
    mSPRT monitor → Welch/CUPED readout → bootstrap CI. Shape: one
    fact rollup, then a 6-row horizon table."""
    u = _experiment_users(spark, sf_dir)
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    v = s.select(
        "n",
        (F.col("sy").cast("double") / F.col("n")).alias("mean_y"),
        (
            (nd * F.col("syy").cast("double")
             - F.col("sy").cast("double") * F.col("sy").cast("double"))
            / nd
            / (nd - 1)
        ).alias("var_y"),
    )
    horizons = spark.createDataFrame(
        [(1,), (2,), (4,), (8,), (16,), (32,)], "weeks int"
    )
    zsum = F.lit(1.959963984540054) + F.lit(0.8416212335729143)
    mde = zsum * F.sqrt(
        F.lit(2.0) * F.col("var_y") / (F.col("n") * F.col("weeks"))
    )
    return horizons.crossJoin(F.broadcast(v)).select(
        "weeks",
        (F.col("n") * F.col("weeks")).cast("bigint").alias("n_per_arm"),
        mde.alias("mde_abs"),
        (mde / F.col("mean_y")).alias("mde_rel"),
    )


@register(
    "profile_join_key_discovery",
    oracle="""
WITH cols AS (
  SELECT 'events.user_id' AS col_name, user_id AS v FROM events
  UNION ALL
  SELECT 'customer.c_custkey', c_custkey FROM customer
  UNION ALL
  SELECT 'orders.o_custkey', o_custkey FROM orders
  UNION ALL
  SELECT 'orders.o_orderkey', o_orderkey FROM orders
  UNION ALL
  SELECT 'lineitem.l_orderkey', l_orderkey FROM lineitem
),
d AS (SELECT DISTINCT col_name, v FROM cols),
sizes AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
inter AS (
  SELECT a.col_name AS col_a, b.col_name AS col_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM d a JOIN d b ON a.v = b.v AND a.col_name < b.col_name
  GROUP BY 1, 2
)
SELECT i.col_a, i.col_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
       CAST(i.n_common AS DOUBLE)
         / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard,
       CAST(i.n_common AS DOUBLE)
         / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment,
       CAST(i.n_common AS DOUBLE)
         / CAST(least(sa.n, sb.n) AS DOUBLE) >= 0.5 AS joinable
FROM inter i JOIN sizes sa ON sa.col_name = i.col_a
     JOIN sizes sb ON sb.col_name = i.col_b
""",
)
def profile_join_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key discovery / schema matching — the data-catalog question
    ("which columns join?") answered by VALUE-SET overlap across
    candidate key columns from different tables: exact distinct-set
    Jaccard and CONTAINMENT (min-normalized — the asymmetric measure
    that finds FK→PK inclusions where Jaccard is diluted by the larger
    domain), with a joinable flag at containment ≥ 0.5. All counts are
    exact integers from one union'd distinct rollup and a self-join on
    value (candidate columns are key-typed, so the distinct sets are
    key-domain-sized, not fact-sized); the ratios are single
    divisions. At 100 TB swap exact distinct sets for the KMV/theta
    sketches (`profile_distinct_kmv_theta` — same intersection
    algebra, one pass); the exact version here doubles as that
    sketch's ground truth. Reference scope: extends SURVEY.md §2's
    profiling surface with cross-table relationship discovery."""
    e = t(spark, sf_dir, "events").select(
        F.lit("events.user_id").alias("col_name"), F.col("user_id").alias("v")
    )
    c = t(spark, sf_dir, "customer").select(
        F.lit("customer.c_custkey").alias("col_name"),
        F.col("c_custkey").alias("v"),
    )
    o1 = t(spark, sf_dir, "orders").select(
        F.lit("orders.o_custkey").alias("col_name"),
        F.col("o_custkey").alias("v"),
    )
    o2 = t(spark, sf_dir, "orders").select(
        F.lit("orders.o_orderkey").alias("col_name"),
        F.col("o_orderkey").alias("v"),
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.lit("lineitem.l_orderkey").alias("col_name"),
        F.col("l_orderkey").alias("v"),
    )
    d = (
        e.unionByName(c)
        .unionByName(o1)
        .unionByName(o2)
        .unionByName(li)
        .distinct()
        .localCheckpoint()  # one distinct rollup feeds sizes + both join sides
    )
    sizes = d.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = d.select(F.col("col_name").alias("col_a"), "v")
    b = d.select(F.col("col_name").alias("col_b"), "v")
    inter = (
        a.join(b, "v")
        .filter(F.col("col_a") < F.col("col_b"))
        .groupBy("col_a", "col_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    out = (
        inter.join(
            F.broadcast(sizes.select(F.col("col_name").alias("col_a"), F.col("n").alias("n_a"))),
            "col_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("col_name").alias("col_b"), F.col("n").alias("n_b"))),
            "col_b",
        )
    )
    containment = F.col("n_common").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    ).cast("double")
    return out.select(
        "col_a",
        "col_b",
        "n_a",
        "n_b",
        "n_common",
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
        containment.alias("containment"),
        (containment >= F.lit(0.5)).alias("joinable"),
    )


@register(
    "text_lexical_diversity",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents
),
perw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
         FROM tok GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
       CAST(count(*) AS DOUBLE) / sqrt(CAST(sum(c) AS DOUBLE)) AS rttr,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS hapax_ratio
FROM perw GROUP BY doc_id
""",
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document — the data-card vocabulary
    metrics (type-token ratio, Guiraud's root TTR which corrects TTR's
    length bias, and hapax ratio — the share of once-used words, the
    classic productivity/boilerplate discriminator: templated spam has
    few hapaxes, natural prose many). Complements the corpus-level
    `text_zipf_fit` with the per-document grain quality filters
    consume. All counts are exact bigints from one row-local
    (doc, word) rollup (tokens never leave their document — no
    corpus-wide join); the three ratios are single fixed divisions.
    Scale: scan-bound, two map-side-combined aggregations, zero
    cross-document shuffle beyond the (doc_id, word) rollup."""
    tok = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("w"),
        )
    )
    perw = tok.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    hap = F.sum(F.when(F.col("c") == 1, F.lit(1)).otherwise(F.lit(0))).cast(
        "bigint"
    )
    return perw.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        hap.alias("n_hapax"),
        (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias(
            "ttr"
        ),
        (
            F.count(F.lit(1)).cast("double")
            / F.sqrt(F.sum("c").cast("double"))
        ).alias("rttr"),
        (
            hap.cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("hapax_ratio"),
    )


@register(
    "governance_row_level_policy",
    oracle="""
WITH pol(viewer_group, allowed_region) AS (
  VALUES ('emea-analysts', 'EUROPE'), ('emea-analysts', 'AFRICA'),
         ('emea-analysts', 'MIDDLE EAST'), ('amer-analysts', 'AMERICA'),
         ('apac-analysts', 'ASIA'), ('global-auditors', '*')
),
c AS (
  SELECT r.r_name AS region,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer c
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(bal_cents) AS BIGINT) AS s FROM c),
vis AS (
  SELECT p.viewer_group,
         CAST(count(*) AS BIGINT) AS n_visible,
         CAST(sum(c.bal_cents) AS BIGINT) AS visible_bal_cents
  FROM (SELECT DISTINCT viewer_group FROM pol) g
  JOIN pol p ON p.viewer_group = g.viewer_group
  JOIN c ON p.allowed_region = '*' OR c.region = p.allowed_region
  GROUP BY 1
)
SELECT v.viewer_group, v.n_visible,
       tot.n - v.n_visible AS n_blocked,
       v.visible_bal_cents,
       CAST(v.n_visible AS DOUBLE) / CAST(tot.n AS DOUBLE) AS pct_visible
FROM vis v, tot
""",
)
def governance_row_level_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level security policy audit — the governance surface next to
    column masking (`governance_column_masking`): a policy table maps
    viewer groups to allowed regions ('*' = unrestricted), the
    RLS-filtered view is the policy join, and the audit reports what
    each group can see — row counts, blocked counts, visibility share,
    AND a value checksum (exact cents sum of visible balances) so the
    audit pins the CONTENT of each filtered view, not just its size
    (a policy bug that swaps two regions keeps counts plausible but
    breaks the checksum). Shape: the dim chain broadcasts; the policy
    table is tiny and broadcast into one conditional-aggregate pass —
    at 100 TB the RLS view costs one pushed predicate per viewer. The
    same policy join IS the production view definition (CREATE VIEW
    ... WHERE region IN (SELECT allowed FROM pol WHERE grp =
    current_user()))."""
    pol = spark.createDataFrame(
        [
            ("emea-analysts", "EUROPE"),
            ("emea-analysts", "AFRICA"),
            ("emea-analysts", "MIDDLE EAST"),
            ("amer-analysts", "AMERICA"),
            ("apac-analysts", "ASIA"),
            ("global-auditors", "*"),
        ],
        "viewer_group string, allowed_region string",
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    cust = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias(
                "bal_cents"
            ),
        )
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bal_cents").cast("bigint").alias("s"),
    )
    vis = (
        cust.join(
            F.broadcast(pol),
            (F.col("allowed_region") == F.lit("*"))
            | (F.col("region") == F.col("allowed_region")),
        )
        .groupBy("viewer_group")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_visible"),
            F.sum("bal_cents").cast("bigint").alias("visible_bal_cents"),
        )
    )
    return vis.crossJoin(F.broadcast(tot)).select(
        "viewer_group",
        "n_visible",
        (F.col("n") - F.col("n_visible")).alias("n_blocked"),
        "visible_bal_cents",
        (F.col("n_visible").cast("double") / F.col("n").cast("double")).alias(
            "pct_visible"
        ),
    )


@register(
    "sampling_group_kfold",
    oracle="""
WITH d AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT) % 5 AS fold
  FROM documents
)
SELECT fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(count(*) AS DOUBLE)
         / (SELECT count(*) FROM documents) AS pct_docs
FROM d GROUP BY fold
""",
)
def sampling_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold assignment (scikit-learn's GroupKFold done
    deterministically at corpus scale) — the leakage-safe CV split:
    the fold is a function of the GROUP (source domain), never the
    row, so near-duplicate documents from one crawl domain can NEVER
    straddle a train/validation boundary — the cross-fold leakage
    that random row splits (sampling_train_val_test) permit and that
    inflates eval scores on web corpora. fold = md5(source) % 5 is
    the engine-invariant hash assignment (stable under re-runs,
    re-partitioning, and engine swaps); the audit reports per-fold
    doc/source counts and shares. The no-straddle guarantee is
    STRUCTURAL (fold is a pure function of source) and additionally
    pinned in tests. Shape: one map-side-combined rollup; fold
    balance follows the law of large numbers over groups — report
    pct_docs so a skewed-domain corpus is visible. Companion:
    sampling_train_val_test (row-hash split where groups don't
    matter)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(
            "CAST(conv(substr(md5(source), 1, 15), 16, 10) AS BIGINT) % 5"
        ).alias("fold"),
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_docs",
            "n_sources",
            (F.col("n_docs").cast("double") / F.col("n")).alias("pct_docs"),
        )
    )


@register(
    "sampling_dsir_importance",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS tok
  FROM documents
),
bt AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 64 AS bkt
  FROM toks
),
bstats AS (
  SELECT bkt, count(*) AS q_cnt,
         count(*) FILTER (WHERE lang = 'en') AS p_cnt
  FROM bt GROUP BY bkt
),
tots AS (
  SELECT CAST(sum(q_cnt) AS BIGINT) AS q_tot,
         CAST(sum(p_cnt) AS BIGINT) AS p_tot
  FROM bstats
),
wtab AS (
  SELECT bkt,
         CAST(round(ln(((p_cnt + 1.0) / (p_tot + 64.0)) /
                       ((q_cnt + 1.0) / (q_tot + 64.0))) * 1000000)
              AS BIGINT) AS w
  FROM bstats, tots
),
docscore AS (
  SELECT b.doc_id, b.lang, CAST(sum(w.w) AS BIGINT) AS logw_micro
  FROM bt b JOIN wtab w ON w.bkt = b.bkt
  GROUP BY b.doc_id, b.lang
),
keyed AS (
  SELECT doc_id, lang, logw_micro,
         logw_micro + CAST(round(-ln(-ln(
           (((doc_id * 2654435761) % 4294967296) + 0.5) / 4294967296.0
         )) * 1000000) AS BIGINT) AS key_micro
  FROM docscore
)
SELECT doc_id, lang, logw_micro, key_micro, CAST(rn AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (ORDER BY key_micro DESC, doc_id) AS rn
  FROM keyed
) WHERE rn <= 100
""",
)
def sampling_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    — the modern pretraining-data selection recipe: score every raw
    document by how target-like its hashed n-gram profile is, then
    Gumbel-top-k sample proportionally to the importance weights.
    Target distribution here = the `lang = 'en'` slice (stand-in for
    "high-quality reference corpus"); features = unigrams hashed to 64
    buckets with the cross-engine md5-prefix bigint (the
    features_hashing_trick idiom).

    Determinism engineering: bucket log-ratios quantize to integer
    micronats (the text_unigram_logprob idiom), so the per-document
    score is an INTEGER sum — order-independent under any
    partitioning; the Gumbel perturbation derives from the
    multiplicative identity hash (no RNG state) and is itself
    quantized, so the final ranking key is a bigint and the sampled
    set reproduces bit-for-bit in SQL.

    Scale shape: ONE token-level aggregation builds both the target
    and raw bucket profiles in the same pass (64-row output,
    broadcast back), one map-side-combinable per-doc rollup, then a
    global top-100 that plans as TakeOrderedAndProject — no global
    window, no collect. Both corpus scans prune to (doc_id, lang,
    text)."""
    docs = t(spark, sf_dir, "documents")
    bt = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
    ).withColumn(
        "bkt",
        F.expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT) % 64"),
    )
    bstats = bt.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("q_cnt"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("p_cnt"),
    )
    tots = bstats.agg(
        F.sum("q_cnt").cast("bigint").alias("q_tot"),
        F.sum("p_cnt").cast("bigint").alias("p_tot"),
    )
    wtab = bstats.crossJoin(F.broadcast(tots)).select(
        "bkt",
        F.round(
            F.log(
                ((F.col("p_cnt") + F.lit(1.0)) / (F.col("p_tot") + F.lit(64.0)))
                / ((F.col("q_cnt") + F.lit(1.0)) / (F.col("q_tot") + F.lit(64.0)))
            )
            * F.lit(1000000),
            0,
        )
        .cast("bigint")
        .alias("w"),
    )
    docscore = (
        bt.join(F.broadcast(wtab), "bkt")
        .groupBy("doc_id", "lang")
        .agg(F.sum("w").cast("bigint").alias("logw_micro"))
    )
    u = (
        F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(4294967296))
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = docscore.withColumn(
        "key_micro",
        F.col("logw_micro")
        + F.round(-F.log(-F.log(u)) * F.lit(1000000), 0).cast("bigint"),
    )
    top = keyed.orderBy(F.col("key_micro").desc(), "doc_id").limit(100)
    w100 = Window.orderBy(F.col("key_micro").desc(), "doc_id")
    return top.withColumn(
        "rank", F.row_number().over(w100).cast("int")
    ).select("doc_id", "lang", "logw_micro", "key_micro", "rank")


@register(
    "text_classifier_train_nb",
    oracle=f"""
WITH lab AS MATERIALIZED (
  SELECT doc_id, text,
         CASE WHEN CAST(len(list_filter(string_split(trim(text), ' '),
                    x -> list_contains({list(_QUALITY_STOPWORDS)}, x)))
                   AS DOUBLE)
              / CAST(len(string_split(trim(text), ' ')) AS DOUBLE) > 0.06
         THEN 'hi' ELSE 'lo' END AS y
  FROM documents
),
bt AS MATERIALIZED (
  SELECT doc_id, y,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 64 AS bkt
  FROM (SELECT doc_id, y, unnest(string_split(trim(text), ' ')) AS tok
        FROM lab)
),
cls AS (SELECT y AS c, count(*) AS n_docs FROM lab GROUP BY y),
nd AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cls),
fstats AS (
  SELECT y AS c, bkt, count(*) AS nb FROM bt GROUP BY y, bkt
),
ctok AS (SELECT c, CAST(sum(nb) AS BIGINT) AS nc FROM fstats GROUP BY c),
wtab AS (
  SELECT cl.c, b.bkt,
         CAST(round(ln((coalesce(f.nb, 0) + 1.0) / (t.nc + 64.0)) * 1000000)
              AS BIGINT) AS logp_micro
  FROM (SELECT DISTINCT c FROM cls) cl
  CROSS JOIN (SELECT range AS bkt FROM range(64)) b
  LEFT JOIN fstats f ON f.c = cl.c AND f.bkt = b.bkt
  JOIN ctok t ON t.c = cl.c
),
prior AS (
  SELECT cls.c,
         CAST(round(ln(cls.n_docs / CAST(n_total AS DOUBLE)) * 1000000)
              AS BIGINT) AS prior_micro
  FROM cls, nd
),
scores AS (
  SELECT b.doc_id, b.y AS true_cls, w.c AS cand,
         CAST(sum(w.logp_micro) AS BIGINT) + any_value(p.prior_micro)
           AS score_micro
  FROM bt b JOIN wtab w ON w.bkt = b.bkt
  JOIN prior p ON p.c = w.c
  GROUP BY b.doc_id, b.y, w.c
),
pred AS (
  SELECT doc_id, true_cls, cand AS pred_cls FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score_micro DESC, cand) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT true_cls, pred_cls, count(*) AS n_docs
FROM pred GROUP BY true_cls, pred_cls
""",
)
def text_classifier_train_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a multinomial Naive Bayes text classifier in-engine — the
    counting-only sibling of `text_classifier_train_lr`: where LR needs
    a gradient loop, NB training IS one aggregation pass (class priors
    + per-class hashed-unigram counts with Laplace smoothing), which is
    why it remains the production baseline for corpus-scale text
    classification — the model never sees a second scan of the data.
    Trained against the SAME planted teacher as the LR trainer
    (y = stopword_ratio > 0.06 — the fixture's organic labels are
    content-independent by construction, so nothing natural is
    learnable; the teacher makes "did it learn?" checkable): stopword
    frequencies are literally unigram features, so NB recovers the
    teacher at 0.832 training accuracy vs the 0.516 majority baseline
    at sf0.01. Features are the cross-engine md5 hashed-unigram buckets
    (the features_hashing_trick / sampling_dsir_importance idiom); log
    probabilities quantize to integer micronats so every per-document
    class score is an INTEGER sum (order-independent under any
    partitioning), and the argmax breaks ties by class name — the
    training-set confusion matrix (true_cls × pred_cls counts)
    value-hash-oracles bit-for-bit.

    Scale shape: ONE token pass builds the (class × 64)-bucket count
    table (broadcast back, ≤ |classes|·64 rows); scoring joins each
    token row to its bucket's |classes| weights and rolls up
    map-side-combined on (doc, class). No collect, no iteration, no
    global window — the argmax is a per-doc window over |classes| rows.
    Reference scope: extends SURVEY.md §2.6's scalar scoring surface
    with distributed model fitting, next to the LR trainer."""
    docs = t(spark, sf_dir, "documents")
    toks_c = F.split(F.trim(F.col("text")), " ")
    sr = F.size(
        F.filter(toks_c, lambda x: x.isin(*_QUALITY_STOPWORDS))
    ).cast("double") / F.size(toks_c).cast("double")
    lab = docs.select(
        "doc_id",
        "text",
        F.when(sr > F.lit(0.06), F.lit("hi")).otherwise(F.lit("lo")).alias(
            "y"
        ),
    )
    bt = lab.select(
        "doc_id",
        "y",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
    ).withColumn(
        "bkt",
        F.expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT) % 64"),
    )
    cls = lab.groupBy(F.col("y").alias("c")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    nd = cls.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    fstats = bt.groupBy(F.col("y").alias("c"), "bkt").agg(
        F.count(F.lit(1)).alias("nb")
    )
    ctok = fstats.groupBy("c").agg(F.sum("nb").cast("bigint").alias("nc"))
    # DENSE weight table: every (class, bucket) combination, observed or
    # not — an unobserved bucket still contributes its Laplace-smoothed
    # log((0+1)/(nc+64)) term, so per-class scores are sums over the
    # SAME token set (true multinomial NB; a sparse table would bias
    # toward classes with sparser bucket coverage — ADVICE r07).
    buckets = spark.range(64).select(F.col("id").alias("bkt"))
    wtab = (
        cls.select("c")
        .crossJoin(F.broadcast(buckets))
        .join(fstats, ["c", "bkt"], "left")
        .join(ctok, "c")
        .select(
            "c",
            "bkt",
            F.round(
                F.log(
                    (F.coalesce(F.col("nb"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nc") + F.lit(64.0))
                )
                * F.lit(1000000),
                0,
            )
            .cast("bigint")
            .alias("logp_micro"),
        )
    )
    prior = cls.crossJoin(F.broadcast(nd)).select(
        "c",
        F.round(
            F.log(F.col("n_docs") / F.col("n_total").cast("double"))
            * F.lit(1000000),
            0,
        )
        .cast("bigint")
        .alias("prior_micro"),
    )
    scores = (
        bt.join(F.broadcast(wtab), "bkt")
        .groupBy(
            F.col("doc_id"),
            F.col("y").alias("true_cls"),
            F.col("c").alias("cand"),
        )
        .agg(F.sum("logp_micro").cast("bigint").alias("s"))
        .join(F.broadcast(prior), F.col("cand") == F.col("c"))
        .select(
            "doc_id",
            "true_cls",
            "cand",
            (F.col("s") + F.col("prior_micro")).alias("score_micro"),
        )
    )
    wn = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("cand")
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select("true_cls", F.col("cand").alias("pred_cls"))
    )
    return pred.groupBy("true_cls", "pred_cls").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


_DTW_SENT = 10**15  # > any real path cost (~60 cells x ~1e9 micro each)
_DTW_BAND = 7


@register(
    "timeseries_dtw_pairs",
    oracle=f"""
WITH RECURSIVE ev AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS day,
         CAST(round(value * 1000000) AS BIGINT) AS v_micro
  FROM events WHERE user_id % 25 = 0 AND user_id < 150
),
daily AS (
  SELECT user_id, day, CAST(sum(v_micro) AS BIGINT) AS tot
  FROM ev GROUP BY user_id, day
),
series AS (
  SELECT user_id, list(tot ORDER BY day) AS s FROM daily GROUP BY user_id
),
pairs AS (
  SELECT a.user_id AS ua, b.user_id AS ub, a.s AS sa, b.s AS sb,
         len(a.s) AS n, len(b.s) AS m,
         greatest({_DTW_BAND}, abs(len(a.s) - len(b.s))) AS weff
  FROM series a JOIN series b ON a.user_id < b.user_id
),
dtw AS (
  SELECT ua, ub, 2 AS d,
         list_transform(range(1, n + 1), i ->
           CASE WHEN i = 1 AND m >= 1
                THEN abs(sa[1] - sb[1])
                ELSE {_DTW_SENT} END) AS prev,
         list_transform(range(1, n + 1), i -> {_DTW_SENT}) AS prevprev
  FROM pairs
  UNION ALL
  SELECT t.ua, t.ub, t.d + 1,
         list_transform(range(1, p.n + 1), i ->
           CASE WHEN i >= greatest(1, t.d + 1 - p.m)
                 AND i <= least(p.n, t.d)
                 AND abs(2 * i - (t.d + 1)) <= p.weff
                THEN least(
                       coalesce(t.prev[i], {_DTW_SENT}),
                       coalesce(t.prev[i - 1], {_DTW_SENT}),
                       coalesce(t.prevprev[i - 1], {_DTW_SENT}))
                     + abs(p.sa[i] - p.sb[t.d + 1 - i])
                ELSE {_DTW_SENT} END) AS prev,
         t.prev AS prevprev
  FROM dtw t JOIN pairs p ON p.ua = t.ua AND p.ub = t.ub
  WHERE t.d < p.n + p.m
)
SELECT t.ua AS user_a, t.ub AS user_b,
       CAST(p.n AS BIGINT) AS n_a, CAST(p.m AS BIGINT) AS n_b,
       CAST(t.prev[p.n] AS BIGINT) AS dtw_micro
FROM dtw t JOIN pairs p ON p.ua = t.ua AND p.ub = t.ub
WHERE t.d = p.n + p.m
""",
)
def timeseries_dtw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Dynamic Time Warping distance between user activity
    series — THE classic elastic similarity measure for time series
    (Sakoe & Chiba '78; the measure behind most published time-series
    classification baselines), closing the timeseries family's
    similarity rung next to the lock-step PAA distance: DTW aligns
    series that are locally time-shifted (a user doing the same thing
    a day later), which no per-position distance can see.

    Series = per-user DAILY value totals in integer micro-units (one
    corpus pass, map-side combinable); pairs = a FIXED 6-user panel
    (user_id % 25 = 0 AND < 150 — a corpus-fraction panel would grow
    the pair set quadratically). The DP runs banded (Sakoe-Chiba
    w = max(7, |n-m|)) in exact int64 inside one Arrow batch per pair
    (15 pairs × ≤30×30 cells — the per-pair cost is bounded by the
    band, the corpus-sized cost is only the series rollup). At
    production scale the pair set comes from a blocking stage — the
    PAA grid equi-join of timeseries_paa_similarity is exactly that
    lower-bound filter (LB_PAA ≤ DTW), and this operator is its
    verify step.

    Oracle: the full banded DP replays in DuckDB as an ANTI-DIAGONAL
    recursive CTE (cells on diagonal d depend only on diagonals d-1 and
    d-2, so each step is one data-parallel list_transform with no
    intra-row recurrence — the trick that makes a 2-D DP expressible
    in a linear recursion); integer costs make every cell exact, so
    the distance value-hash-oracles bit-for-bit."""
    ev = (
        t(spark, sf_dir, "events")
        .filter((F.col("user_id") % 25 == 0) & (F.col("user_id") < 150))
        .select(
            "user_id",
            # Integer FLOOR division (pmod is always non-negative, so
            # (a - pmod(a,b)) div b == floor(a/b) exactly in int64) —
            # matches the oracle's DuckDB `//` semantics even for
            # pre-epoch timestamps, with no double round-trip.
            F.expr(
                "(unix_micros(ts) - pmod(unix_micros(ts), 86400000000))"
                " div 86400000000"
            ).alias("day"),
            F.round(F.col("value") * F.lit(1000000), 0)
            .cast("bigint")
            .alias("v_micro"),
        )
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.sum("v_micro").cast("bigint").alias("tot")
    )
    series = daily.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("day", "tot"))
        ).alias("s_pairs")
    ).select(
        "user_id",
        F.transform(F.col("s_pairs"), lambda x: x["tot"]).alias("s"),
    )
    pairs = (
        series.alias("a")
        .join(series.alias("b"), F.col("a.user_id") < F.col("b.user_id"))
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
    )

    @F.pandas_udf("long")
    def dtw_banded(sa: pd.Series, sb: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for a, b in zip(sa, sb):
            a = np.asarray(a, dtype=np.int64)
            b = np.asarray(b, dtype=np.int64)
            n, m = len(a), len(b)
            w = max(_DTW_BAND, abs(n - m))
            dp = np.full((n + 1, m + 1), _DTW_SENT, dtype=np.int64)
            dp[0, 0] = 0
            for i in range(1, n + 1):
                lo = max(1, i - w)
                hi = min(m, i + w)
                for j in range(lo, hi + 1):
                    c = abs(int(a[i - 1]) - int(b[j - 1]))
                    best = min(dp[i - 1, j], dp[i, j - 1], dp[i - 1, j - 1])
                    dp[i, j] = c + best
            out.append(int(dp[n, m]))
        return pd.Series(out, dtype="int64")

    return pairs.select(
        "user_a",
        "user_b",
        F.size("sa").cast("bigint").alias("n_a"),
        F.size("sb").cast("bigint").alias("n_b"),
        dtw_banded(F.col("sa"), F.col("sb")).alias("dtw_micro"),
    )


def _kcenter_oracle(k: int, dim: int) -> str:
    """Unrolled greedy k-center (Gonzalez) as DuckDB CTEs — one
    (center, distance-update) pair per round, exact integer squared
    L2 on the 2^20-quantized vectors (the kmeans-oracle idiom)."""
    scale = 1 << 20
    rounds = [
        f"""
q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {scale}.0) AS BIGINT)) AS qv
  FROM embeddings
),
c1 AS MATERIALIZED (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
d1 AS MATERIALIZED (
  SELECT q.vec_id, q.qv,
         list_sum(list_transform(range(1, {dim} + 1),
                  i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i]))) AS dmin
  FROM q, c1 c
)"""
    ]
    for r in range(2, k + 1):
        rounds.append(
            f"""
c{r} AS MATERIALIZED (
  SELECT vec_id, qv, dmin FROM d{r - 1} ORDER BY dmin DESC, vec_id LIMIT 1
),
d{r} AS MATERIALIZED (
  SELECT d.vec_id, d.qv,
         least(d.dmin,
               list_sum(list_transform(range(1, {dim} + 1),
                        i -> (d.qv[i] - c.qv[i]) * (d.qv[i] - c.qv[i]))))
           AS dmin
  FROM d{r - 1} d, c{r} c
)"""
        )
    picks = ["SELECT 1 AS round, vec_id AS center_id, CAST(0 AS BIGINT) AS dist_sq FROM c1"]
    picks += [
        f"SELECT {r}, vec_id, CAST(dmin AS BIGINT) FROM c{r}"
        for r in range(2, k + 1)
    ]
    return "WITH " + ",".join(rounds) + "\n" + "\nUNION ALL ".join(picks)


@register("sampling_kcenter_diversity", oracle=_kcenter_oracle(8, 64))
def sampling_kcenter_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez '85) over the
    embedding corpus — DIVERSITY-aware subset selection, the
    complement of sampling_dsir_importance's quality weighting: each
    round picks the point FARTHEST from every center chosen so far
    (2-approximation of the optimal covering radius), the geometric
    backbone of coreset-based data pruning for training sets. Output:
    (round, center_id, dist_sq) — dist_sq is the covering radius just
    before that center was added, so the rows double as the radius
    decay curve.

    Determinism: distances are exact integer squared L2 on the 2^20
    quantized vectors (the kmeans-train idiom), argmax ties break by
    min vec_id — every round reproduces bit-for-bit in the unrolled
    SQL. Scale shape: k-1 corpus passes, each ONE aggregation (the
    round's argmax plans as TakeOrderedAndProject over a narrow
    projection); each round collects exactly one row to the driver —
    the MLlib iterative idiom, state = k centers. The incremental
    min-distance (least of the running dmin and the NEW center's
    distance) keeps per-round cost O(n·dim), not O(n·k·dim)."""
    k, dim = 8, 64
    from stream_processing_project_spark.operators.similarity import (
        _quantize_expr,
    )

    q = t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", f"{_quantize_expr('embedding', dim)} AS qv"
    )
    q = q.localCheckpoint(eager=False)

    def dist_to(cvec: list[int]):
        arr = F.array(*[F.lit(int(x)).cast("long") for x in cvec])
        return F.aggregate(
            F.zip_with(F.col("qv"), arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    first = q.orderBy("vec_id").limit(1).collect()
    if not first:
        return spark.createDataFrame(
            [], "round int, center_id bigint, dist_sq bigint"
        )
    picks = [(1, first[0]["vec_id"], 0)]
    cur = q.select("vec_id", "qv", dist_to(first[0]["qv"]).alias("dmin"))
    for r in range(2, k + 1):
        nxt = (
            cur.orderBy(F.col("dmin").desc(), "vec_id").limit(1).collect()
        )
        if not nxt:
            break
        picks.append((r, nxt[0]["vec_id"], int(nxt[0]["dmin"])))
        cur = cur.select(
            "vec_id",
            "qv",
            F.least(F.col("dmin"), dist_to(nxt[0]["qv"])).alias("dmin"),
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        picks, "round int, center_id bigint, dist_sq bigint"
    )


@register(
    "text_classifier_apply_nb",
    oracle=f"""
WITH lab AS MATERIALIZED (
  SELECT doc_id, text,
         CASE WHEN doc_id % 5 = 0 THEN 'test' ELSE 'train' END AS split,
         CASE WHEN CAST(len(list_filter(string_split(trim(text), ' '),
                    x -> list_contains({list(_QUALITY_STOPWORDS)}, x)))
                   AS DOUBLE)
              / CAST(len(string_split(trim(text), ' ')) AS DOUBLE) > 0.06
         THEN 'hi' ELSE 'lo' END AS y
  FROM documents
),
bt AS MATERIALIZED (
  SELECT doc_id, split, y,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 64 AS bkt
  FROM (SELECT doc_id, split, y,
               unnest(string_split(trim(text), ' ')) AS tok
        FROM lab)
),
cls AS (SELECT y AS c, count(*) AS n_docs FROM lab
        WHERE split = 'train' GROUP BY y),
nd AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cls),
fstats AS (
  SELECT y AS c, bkt, count(*) AS nb FROM bt
  WHERE split = 'train' GROUP BY y, bkt
),
ctok AS (SELECT c, CAST(sum(nb) AS BIGINT) AS nc FROM fstats GROUP BY c),
wtab AS (
  SELECT cl.c, b.bkt,
         CAST(round(ln((coalesce(f.nb, 0) + 1.0) / (t.nc + 64.0)) * 1000000)
              AS BIGINT) AS logp_micro
  FROM (SELECT DISTINCT c FROM cls) cl
  CROSS JOIN (SELECT range AS bkt FROM range(64)) b
  LEFT JOIN fstats f ON f.c = cl.c AND f.bkt = b.bkt
  JOIN ctok t ON t.c = cl.c
),
prior AS (
  SELECT cls.c,
         CAST(round(ln(cls.n_docs / CAST(n_total AS DOUBLE)) * 1000000)
              AS BIGINT) AS prior_micro
  FROM cls, nd
),
scores AS (
  SELECT b.doc_id, b.y AS true_cls, w.c AS cand,
         CAST(sum(w.logp_micro) AS BIGINT) + any_value(p.prior_micro)
           AS score_micro
  FROM bt b JOIN wtab w ON w.bkt = b.bkt
  JOIN prior p ON p.c = w.c
  WHERE b.split = 'test'
  GROUP BY b.doc_id, b.y, w.c
),
ranked AS (
  SELECT doc_id, true_cls, cand, score_micro,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY score_micro DESC, cand) AS rn
  FROM scores
),
pred AS (
  SELECT w.doc_id, w.true_cls, w.cand AS pred_cls,
         w.score_micro - r.score_micro AS margin_micro
  FROM ranked w JOIN ranked r
    ON r.doc_id = w.doc_id AND r.rn = 2
  WHERE w.rn = 1
)
SELECT true_cls, pred_cls, count(*) AS n_docs,
       CAST(sum(margin_micro) AS BIGINT) AS sum_margin_micro
FROM pred GROUP BY true_cls, pred_cls
""",
)
def text_classifier_apply_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the NB text classifier to held-out documents — the
    inference stage `text_classifier_train_nb` stopped short of: the
    model (class priors + dense per-class bucket log-probs) is fitted
    on the TRAIN split only (doc_id % 5 != 0) and scores the UNSEEN
    test split (doc_id % 5 == 0) — the production scoring pass every
    trained quality/language/topic filter runs over a fresh crawl, and
    the honest generalization read the training-set confusion matrix
    can't give. Emits the held-out confusion matrix with per-cell
    summed decision margins (best − runner-up class score, exact
    integer micronats — the calibration/abstention signal a downstream
    filter thresholds on).

    Scale shape unchanged from the trainer: one token pass over the
    train split builds the ≤ |classes|·64-row weight table (broadcast
    back), one token pass over the test split scores it map-side-
    combined on (doc, class); the margin needs only the per-doc
    2-row ranked frame (self-join on rank 1/2 over |classes| rows per
    doc). No collect, no iteration; both passes shard by partition."""
    docs = t(spark, sf_dir, "documents")
    toks_c = F.split(F.trim(F.col("text")), " ")
    sr = F.size(
        F.filter(toks_c, lambda x: x.isin(*_QUALITY_STOPWORDS))
    ).cast("double") / F.size(toks_c).cast("double")
    lab = docs.select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
        F.when(sr > F.lit(0.06), F.lit("hi")).otherwise(F.lit("lo")).alias("y"),
    )
    bt = lab.select(
        "doc_id",
        "split",
        "y",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
    ).withColumn(
        "bkt",
        F.expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT) % 64"),
    )
    train_lab = lab.filter(F.col("split") == "train")
    train_bt = bt.filter(F.col("split") == "train")
    cls = train_lab.groupBy(F.col("y").alias("c")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    nd = cls.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    fstats = train_bt.groupBy(F.col("y").alias("c"), "bkt").agg(
        F.count(F.lit(1)).alias("nb")
    )
    ctok = fstats.groupBy("c").agg(F.sum("nb").cast("bigint").alias("nc"))
    buckets = spark.range(64).select(F.col("id").alias("bkt"))
    wtab = (
        cls.select("c")
        .crossJoin(F.broadcast(buckets))
        .join(fstats, ["c", "bkt"], "left")
        .join(ctok, "c")
        .select(
            "c",
            "bkt",
            F.round(
                F.log(
                    (F.coalesce(F.col("nb"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nc") + F.lit(64.0))
                )
                * F.lit(1000000),
                0,
            )
            .cast("bigint")
            .alias("logp_micro"),
        )
    )
    prior = cls.crossJoin(F.broadcast(nd)).select(
        "c",
        F.round(
            F.log(F.col("n_docs") / F.col("n_total").cast("double"))
            * F.lit(1000000),
            0,
        )
        .cast("bigint")
        .alias("prior_micro"),
    )
    scores = (
        bt.filter(F.col("split") == "test")
        .join(F.broadcast(wtab), "bkt")
        .groupBy(
            F.col("doc_id"),
            F.col("y").alias("true_cls"),
            F.col("c").alias("cand"),
        )
        .agg(F.sum("logp_micro").cast("bigint").alias("s"))
        .join(F.broadcast(prior), F.col("cand") == F.col("c"))
        .select(
            "doc_id",
            "true_cls",
            "cand",
            (F.col("s") + F.col("prior_micro")).alias("score_micro"),
        )
    )
    wn = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("cand")
    )
    ranked = scores.withColumn("rn", F.row_number().over(wn))
    best = ranked.filter(F.col("rn") == 1).select(
        "doc_id", "true_cls", F.col("cand").alias("pred_cls"),
        F.col("score_micro").alias("s1"),
    )
    second = ranked.filter(F.col("rn") == 2).select(
        "doc_id", F.col("score_micro").alias("s2")
    )
    return (
        best.join(second, "doc_id")
        .withColumn("margin_micro", F.col("s1") - F.col("s2"))
        .groupBy("true_cls", "pred_cls")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("margin_micro").cast("bigint").alias("sum_margin_micro"),
        )
    )


# ============== difference-in-differences readout (r11) =====================

_DID_PRE_MID = "2024-01-08 12:00:00"


@register(
    "experiment_did",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 AS arm,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_DID_PRE_MID}'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x1,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_DID_PRE_MID}'
                        AND ts < TIMESTAMP '{_EXP_CUT}'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x2,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_EXP_CUT}'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
),
s AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1 + x2) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(y - x1 - x2) AS BIGINT) AS sd,
         CAST(sum((y - x1 - x2) * (y - x1 - x2)) AS BIGINT) AS sdd,
         CAST(sum(x2 - x1) AS BIGINT) AS sp,
         CAST(sum((x2 - x1) * (x2 - x1)) AS BIGINT) AS spp
  FROM u GROUP BY arm
),
w AS (
  SELECT arm, n,
         CAST(sx AS DOUBLE) / n AS mean_pre,
         CAST(sy AS DOUBLE) / n AS mean_post,
         CAST(sd AS DOUBLE) / n AS mean_d,
         (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
            - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
           / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1) AS var_d,
         CAST(sp AS DOUBLE) / n AS mean_dp,
         (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
            - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
           / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1) AS var_dp
  FROM s
)
SELECT c.n AS n_control, t.n AS n_treat,
       c.mean_pre AS pre_control, c.mean_post AS post_control,
       t.mean_pre AS pre_treat, t.mean_post AS post_treat,
       t.mean_d - c.mean_d AS did,
       (t.mean_d - c.mean_d)
         / sqrt(t.var_d / t.n + c.var_d / c.n) AS t_stat,
       t.mean_dp - c.mean_dp AS placebo_did,
       (t.mean_dp - c.mean_dp)
         / sqrt(t.var_dp / t.n + c.var_dp / c.n) AS placebo_t
FROM w c, w t WHERE c.arm = 0 AND t.arm = 1
""",
)
def experiment_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout with a placebo pre-trend test —
    the causal companion to experiment_welch_ttest (same deterministic
    md5 arm assignment, same pre/post cut). Per-user exact bigint sums
    in three windows (early-pre, late-pre, post); the DiD estimator is
    the Welch t on per-user deltas d = post − pre (unit fixed effects,
    clustered at the user — the only valid SE when the same users span
    both periods), and the placebo re-runs the identical machinery on
    the split pre-period (late-pre − early-pre), where a significant
    "effect" falsifies the parallel-trends assumption. All moments are
    map-side-combined bigint sufficient statistics from ONE fact-scan
    groupBy; means/variances/t derive by a fixed IEEE sequence, so the
    full readout value-hash-matches cross-engine. Scale: fact scan
    dominates; readout is a 2-row aggregate joined 1-row × 1-row.
    Reference scope: SURVEY.md §2 A5 second-moment extension (the
    experiment family's design precedent, experiment_welch_ttest)."""
    mid = F.to_timestamp(F.lit(_DID_PRE_MID))
    cut = F.to_timestamp(F.lit(_EXP_CUT))
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < mid, F.col("cents")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("x1"),
            F.sum(
                F.when(
                    (F.col("ts") >= mid) & (F.col("ts") < cut), F.col("cents")
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("x2"),
            F.sum(F.when(F.col("ts") >= cut, F.col("cents")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("y"),
        )
        .withColumn(
            "arm",
            F.expr(
                "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
                " 16, 10) AS BIGINT) % 2"
            ),
        )
        .withColumn("d", F.col("y") - F.col("x1") - F.col("x2"))
        .withColumn("dp", F.col("x2") - F.col("x1"))
    )
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x1") + F.col("x2")).cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
        F.sum("dp").cast("bigint").alias("sp"),
        F.sum(F.col("dp") * F.col("dp")).cast("bigint").alias("spp"),
    )
    # Pivot the 2-row per-arm stats into one row with conditional max
    # (r12, the welch-pattern sweep — same rewrite as welch_ttest in
    # r11): filter(arm=0) ⨯ filter(arm=1) re-derived the whole per-user
    # aggregation subtree per side — two full fact scans. The pivoted
    # bigints are the same values, the derived doubles use the same
    # IEEE op order, and the missing-arm guard reproduces the cross
    # join's empty result on degenerate corpora.
    s = s.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(col))).alias(
                f"{col}_{tag}"
            )
            for a, tag in ((0, "c"), (1, "t"))
            for col in ("n", "sx", "sy", "sd", "sdd", "sp", "spp")
        ]
    ).where(F.col("n_c").isNotNull() & F.col("n_t").isNotNull())

    def _mean(s1: str, tag: str):
        return F.col(f"{s1}_{tag}").cast("double") / F.col(f"n_{tag}")

    def _var(ss: str, s1: str, tag: str):  # matches welch's exact op order
        nd = F.col(f"n_{tag}").cast("double")
        return (
            (
                nd * F.col(f"{ss}_{tag}").cast("double")
                - F.col(f"{s1}_{tag}").cast("double")
                * F.col(f"{s1}_{tag}").cast("double")
            )
            / nd
            / (nd - 1)
        )

    wide = s.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treat"),
        _mean("sx", "c").alias("pre_control"),
        _mean("sy", "c").alias("post_control"),
        _mean("sx", "t").alias("pre_treat"),
        _mean("sy", "t").alias("post_treat"),
        _mean("sd", "c").alias("mean_d_c"),
        _var("sdd", "sd", "c").alias("var_d_c"),
        _mean("sp", "c").alias("mean_dp_c"),
        _var("spp", "sp", "c").alias("var_dp_c"),
        _mean("sd", "t").alias("mean_d_t"),
        _var("sdd", "sd", "t").alias("var_d_t"),
        _mean("sp", "t").alias("mean_dp_t"),
        _var("spp", "sp", "t").alias("var_dp_t"),
    )
    se2_d = F.col("var_d_t") / F.col("n_treat") + F.col("var_d_c") / F.col(
        "n_control"
    )
    se2_p = F.col("var_dp_t") / F.col("n_treat") + F.col("var_dp_c") / F.col(
        "n_control"
    )
    return wide.select(
        "n_control",
        "n_treat",
        "pre_control",
        "post_control",
        "pre_treat",
        "post_treat",
        (F.col("mean_d_t") - F.col("mean_d_c")).alias("did"),
        ((F.col("mean_d_t") - F.col("mean_d_c")) / F.sqrt(se2_d)).alias(
            "t_stat"
        ),
        (F.col("mean_dp_t") - F.col("mean_dp_c")).alias("placebo_did"),
        ((F.col("mean_dp_t") - F.col("mean_dp_c")) / F.sqrt(se2_p)).alias(
            "placebo_t"
        ),
    )


# ================= UniMax epoch-capped allocation (r11) =====================


@register(
    "sampling_unimax_epochs",
    oracle="""
WITH dom AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS l
  FROM dom
),
d1 AS (
  SELECT source, n_docs, n_tokens,
         CAST(2 * n_tokens AS BIGINT) AS cap,
         (total * 19) // 10 AS budget, l
  FROM dom, tot
),
d2 AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS idx,
         CAST(coalesce(sum(cap) OVER (ORDER BY cap, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cumcap
  FROM d1
),
d3 AS (
  SELECT *, CAST(budget - cumcap AS DOUBLE) / (l - idx + 1) AS wlevel
  FROM d2
),
d4 AS (
  SELECT *, min(CASE WHEN CAST(cap AS DOUBLE) > wlevel THEN idx END)
              OVER () AS k
  FROM d3
),
d5 AS (
  SELECT *, max(CASE WHEN idx = k THEN wlevel END) OVER () AS wk FROM d4
)
SELECT source, n_docs, n_tokens, cap AS cap_tokens,
       CASE WHEN k IS NOT NULL AND idx >= k
            THEN wk ELSE CAST(cap AS DOUBLE) END AS alloc_tokens,
       CASE WHEN k IS NOT NULL AND idx >= k
            THEN wk ELSE CAST(cap AS DOUBLE) END / n_tokens AS epochs,
       CASE WHEN k IS NULL OR idx < k THEN 1 ELSE 0 END AS is_capped
FROM d5
""",
)
def sampling_unimax_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): distribute a token
    budget (1.9× the corpus) uniformly across `source` domains, capping
    every domain at 2 epochs — the published alternative to temperature
    mixing (sampling_temperature_mix) that bounds low-resource-domain
    repetition instead of tuning T. The waterfill has a closed form over
    domains sorted by capacity ascending: a domain is CAPPED (gets its
    full 2·n_tokens) while its capacity sits below the running water
    level (remaining budget / remaining domains); from the first domain
    whose capacity exceeds its level, everyone gets that level. One
    cumulative-sum window computes the whole schedule — no iteration.
    Scale: the corpus scan reduces map-side to |domains| rows; the
    global sort window runs on that reduced table (the experiment
    readouts' small-table precedent), and budget/cumsums are exact
    bigints so the single double division per row value-hash-matches
    cross-engine. epochs = alloc / n_tokens is the per-domain
    repetition factor a sampler consumes downstream."""
    from stream_processing_project_spark.operators.text import token_count

    docs = t(spark, sf_dir, "documents")
    dom = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    tot = dom.agg(
        F.sum("n_tokens").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("l"),
    )
    d1 = (
        dom.crossJoin(F.broadcast(tot))
        .withColumn("cap", (F.lit(2) * F.col("n_tokens")).cast("bigint"))
        .withColumn("budget", F.expr("(total * 19) DIV 10"))
    )
    ww = Window.orderBy("cap", "source")
    d2 = d1.withColumn(
        "idx", F.row_number().over(ww).cast("bigint")
    ).withColumn(
        "cumcap",
        F.coalesce(
            F.sum("cap").over(
                ww.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint"),
    )
    d3 = d2.withColumn(
        "wlevel",
        (F.col("budget") - F.col("cumcap")).cast("double")
        / (F.col("l") - F.col("idx") + 1),
    )
    whole = Window.partitionBy()
    d4 = d3.withColumn(
        "k",
        F.min(
            F.when(F.col("cap").cast("double") > F.col("wlevel"), F.col("idx"))
        ).over(whole),
    )
    d5 = d4.withColumn(
        "wk",
        F.max(F.when(F.col("idx") == F.col("k"), F.col("wlevel"))).over(whole),
    )
    in_water = F.col("k").isNotNull() & (F.col("idx") >= F.col("k"))
    alloc = F.when(in_water, F.col("wk")).otherwise(F.col("cap").cast("double"))
    return d5.select(
        "source",
        "n_docs",
        "n_tokens",
        F.col("cap").alias("cap_tokens"),
        alloc.alias("alloc_tokens"),
        (alloc / F.col("n_tokens")).alias("epochs"),
        F.when(
            F.col("k").isNull() | (F.col("idx") < F.col("k")), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_capped"),
    )


# ============= CCNet perplexity head/middle/tail buckets (r11) ==============


@register(
    "text_ccnet_buckets",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
total AS (SELECT sum(c) AS n_total FROM vocab),
scored AS (
  SELECT t.doc_id,
         CAST(round(-ln(v.c / tt.n_total) * 1e6) AS BIGINT) AS micronats
  FROM toks t JOIN vocab v ON v.tok = t.tok CROSS JOIN total tt
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(micronats) AS BIGINT) AS surprisal_sum
  FROM scored GROUP BY doc_id
),
j AS (
  SELECT p.doc_id, d.lang, p.n_tokens, p.surprisal_sum
  FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
),
r AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY lang
                ORDER BY CAST(surprisal_sum AS DOUBLE) / n_tokens, doc_id)
              AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
  FROM j
)
SELECT doc_id, lang, n_tokens, surprisal_sum,
       CASE WHEN rn * 3 <= n_lang THEN 'head'
            WHEN rn * 3 <= 2 * n_lang THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       CASE WHEN rn * 3 <= 2 * n_lang THEN 1 ELSE 0 END AS ccnet_keep
FROM r
""",
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's bucketing stage (Wenzek et al. 2020): split each
    language's documents into head/middle/tail THIRDS by LM surprisal —
    head = most fluent, tail = the usual discard — completing the
    two-stage CCNet filter whose scoring stage is text_unigram_logprob
    (reused verbatim: exact integer micro-nat surprisal sums). Bucket
    assignment is exact integer rank arithmetic (rn·3 vs per-lang
    count — no NTILE, whose tie handling is implementation-defined);
    the rank order is the one double division (identical operands both
    engines) with doc_id tie-break, so the whole bucketing value-hash
    oracles. Scale: per-lang window sort — CCNet's own per-language
    shard shape; production replaces exact ranks with sampled
    percentile thresholds broadcast to a stateless comparison, the
    same O(1)-per-row assignment this query's CASE performs.
    Reference scope: the quality-filter family precedent
    (SURVEY.md §7 M4)."""
    from stream_processing_project_spark.operators.text import unigram_logprob

    docs = t(spark, sf_dir, "documents")
    scored = unigram_logprob(docs).select(
        "doc_id", "n_tokens", "surprisal_sum"
    )
    j = scored.join(docs.select("doc_id", "lang"), "doc_id")
    wl = Window.partitionBy("lang").orderBy(
        F.col("surprisal_sum").cast("double") / F.col("n_tokens"), "doc_id"
    )
    r = j.withColumn(
        "rn", F.row_number().over(wl).cast("bigint")
    ).withColumn(
        "n_lang",
        F.count(F.lit(1)).over(Window.partitionBy("lang")).cast("bigint"),
    )
    bucket = (
        F.when(F.col("rn") * 3 <= F.col("n_lang"), F.lit("head"))
        .when(F.col("rn") * 3 <= 2 * F.col("n_lang"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return r.select(
        "doc_id",
        "lang",
        "n_tokens",
        "surprisal_sum",
        bucket.alias("ppl_bucket"),
        F.when(F.col("rn") * 3 <= 2 * F.col("n_lang"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ccnet_keep"),
    )
