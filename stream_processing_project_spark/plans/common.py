"""Shared helpers for the query registry.

The DuckDB oracle CTE fragments here mirror — character for character in
semantics — what the Spark builders compute, including the reference's
quirks we reproduce deliberately:
  * engagement_pct is NULL unless the denominator is > 0 (P5,
    EngagementProcessor.scala:111-116);
  * the window "avg" is sum/count with a max(denominator,1) guard, not
    AVG() (A5, EngagementRedisSink.scala:189-193);
  * window-start timestamps are emitted as plain strings so Spark
    (tz-aware, session UTC) and DuckDB (naive UTC) hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stream_processing_project_spark.sources.fixtures import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- DuckDB oracle fragments (fixture-table shapes) ------------------------

# J1 + P3-P5 over the fixture mapping (events→engagement_events,
# customer→content dim; FIXTURES.md §6).
ENRICHED_CTE = """
enriched AS (
  SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
         c.c_mktsegment AS segment, c.c_acctbal AS acctbal,
         e.value AS engagement_seconds,
         CASE WHEN c.c_acctbal > 0
              THEN round(e.value / c.c_acctbal * 100.0, 2) END AS engagement_pct
  FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
)"""

# A1+A2 per-minute pre-aggregate (tumbling 1-minute window).
PER_MINUTE_CTE = """
per_minute AS (
  SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
         segment AS key,
         count(*) AS cnt,
         round(sum(engagement_pct), 2) AS sum_val
  FROM enriched
  GROUP BY 1, 2
)"""


def bucketed_running_sum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    tie_cols: list[str] | None = None,
    descending: bool = False,
    n_buckets: int = 32,
    out_col: str = "cum",
):
    """Global ordered running sum WITHOUT a single-partition window —
    the range-partitioned ranking idiom (r04; first used by
    olap_abc_pareto): approxQuantile boundaries on `order_col` split
    rows into value ranges, the cumulative window runs PER RANGE in
    parallel, and each range adds a driver-computed prefix offset
    (≤ n_buckets+1 rows collected — bounded by construction).

    The result is bucketing-invariant: offset + within-range cumsum
    equals the global ordered cumsum for ANY monotone boundary set, so
    the sketch boundaries need no cross-partitioning determinism. The
    bucket id is a pure function of `order_col`, so tied rows always
    share a range and `tie_cols` only order within it. NULL order
    values sort last (nulls_last both directions), matching
    desc_nulls_last / asc_nulls_last window semantics.

    Preconditions:
      * the partitioned form needs a NUMERIC `order_col` (approxQuantile
        draws the range boundaries from its sketch). A non-numeric
        ordering falls back to the plain global ordered window: correct,
        but serial — quantize or map the ordering to a numeric key to
        get the partitioned form;
      * `df` must recompute identically. It is persisted for the
        construction only (boundary sketch + per-range sums are two
        driver jobs that would otherwise each re-scan its lineage),
        released before returning — the kmeans_fit lifetime pattern, so
        registry-wide sweeps accumulate nothing — and recomputed by the
        returned plan at execution. A nondeterministic input (rand,
        unordered first/limit) would pair offsets from one computation
        with rows from another; pin such an input before calling.

    Returns (df + out_col, bucket_col_name) — callers drop the bucket
    column when done; it is exposed so plan pins can assert the window
    partitions on it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType

    oc = F.col(order_col)
    order = [
        oc.desc_nulls_last() if descending else oc.asc_nulls_last(),
        *[F.col(c) for c in tie_cols or []],
    ]
    if not isinstance(df.schema[order_col].dataType, NumericType):
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        return (
            df.withColumn("_rsb", F.lit(0)).withColumn(
                out_col, F.sum(value_col).over(w)
            ),
            "_rsb",
        )
    df = df.persist()
    try:
        probe = [i / n_buckets for i in range(1, n_buckets)]
        bounds = sorted(
            {float(b) for b in df.approxQuantile(order_col, probe, 0.001)},
            reverse=descending,
        )
        barr = F.array(*[F.lit(b) for b in bounds])
        # bucket id = #boundaries in front of the value in the chosen
        # direction (descending counts b > v), so ids stay monotone
        # with the ordering; NULL order values take the last bucket
        # (nulls_last)
        in_front = (lambda b: b > oc) if descending else (lambda b: b < oc)
        bucket = F.when(oc.isNull(), F.lit(len(bounds))).otherwise(
            F.size(F.filter(barr, in_front))
        )
        bucketed = df.withColumn("_rsb", bucket)
        per_range = {
            int(r["b"]): r["s"]
            for r in bucketed.groupBy(F.col("_rsb").alias("b"))
            .agg(F.sum(value_col).alias("s"))
            .collect()
        }
    finally:
        df.unpersist(blocking=False)
    offsets, acc = {}, 0
    for b in sorted(per_range):
        offsets[b] = acc
        acc += per_range[b] or 0
    off = F.element_at(
        F.create_map(*[F.lit(x) for b in offsets for x in (b, offsets[b])]),
        F.col("_rsb"),
    )
    w = (
        Window.partitionBy("_rsb")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bucketed.withColumn(out_col, off + F.sum(value_col).over(w)),
        "_rsb",
    )
