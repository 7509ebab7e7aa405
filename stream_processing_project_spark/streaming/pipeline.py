"""Structured Streaming pipeline — the reference's whole dataflow
(SURVEY.md §3 E1) as one declarative plan.

Reference topology: Kafka → flatMap(parse→enrich) → keyBy×3 → buffered
sinks with hand-rolled windowed aggregation inside the Redis sink
(EngagementProcessor.scala:140-228). Here the same transforms the batch
queries use are wrapped under readStream — Spark's batch/streaming
unification means the window/enrich/top-k logic is defined ONCE
(operators/*) and the batch run is the oracle for the streaming run.

Event time + watermarks replace the reference's processing-time windows
and 900 s Redis TTL (A3): `withWatermark` drives state eviction in the
state store, which is the scalable equivalent (the reference's state
lives in one Redis; ours shards across executors with the shuffle).

Sources: file source over the fixture parquet in tests; the same
columns run unchanged on `spark.readStream.format("kafka")` with the
reference's fetch tuning passed through as kafka.* options
(EngagementProcessor.scala:154-168 — no broker in this container).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from stream_processing_project_spark.sources.cdc import parse_envelope, to_envelope_json

# File-source schema for the fixture events table: ts is parquet
# TIMESTAMP(MICROS, isAdjustedToUTC=false); an explicit TimestampType
# reads it as a session-zone (UTC) instant, matching the batch loader
# (see sources/fixtures.py and session.py's inferTimestampNTZ=false).
EVENTS_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

# Reference Kafka consumer tuning (EngagementProcessor.scala:158-161,
# .env:14-17) — passed through when the source is kafka.
KAFKA_SOURCE_OPTIONS = {
    "startingOffsets": "earliest",
    "kafka.fetch.min.bytes": str(1024 * 1024),
    "kafka.fetch.max.wait.ms": "500",
    "kafka.max.partition.fetch.bytes": str(2 * 1024 * 1024),
    "kafka.receive.buffer.bytes": str(1024 * 1024),
    "minPartitions": "4",
}


def checkpoint_dir(tag: str) -> str:
    return tempfile.mkdtemp(prefix=f"spe-ckpt-{tag}-")


def kafka_source_options(
    bootstrap_servers: str, topic: str, group_id_prefix: str = "spark-engagement"
) -> dict[str, str]:
    """Full option set for the kafka-format source: connection +
    subscription + the reference's consumer fetch tuning
    (EngagementProcessor.scala:154-168, .env:14-17). Pure function so
    the plumbing is unit-testable without a broker or the kafka-sql
    jar."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "kafka.group.id": f"{group_id_prefix}-{topic}",
        **KAFKA_SOURCE_OPTIONS,
    }


def kafka_decode(kafka_df: DataFrame) -> DataFrame:
    """Kafka records → the topology's typed event rows: the value bytes
    carry the Debezium-unwrapped envelope JSON, so decode is exactly the
    file path's pipeline (PERMISSIVE from_json + drop failures + op
    filter + typed projection with event-time `ts`) — the output shape
    is identical to cdc_event_stream's, so every downstream consumer
    (enriched_stream, windows, watermarks) works unchanged. Takes any
    DataFrame with kafka's wire schema (value binary, ...), so batch
    tests drive the REAL decode branch without a broker."""
    return typed_events(
        parse_envelope(kafka_df.selectExpr("CAST(value AS STRING) AS value"))
    )


def kafka_event_stream(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """The S2 kafka-format branch end-to-end: tuned source → envelope
    decode. Requires the spark-sql-kafka package on the classpath (not
    shipped in this container — tests construct the plan and skip at
    the data-source lookup if the jar is absent; see README S2)."""
    raw = (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap_servers, topic))
        .load()
    )
    return kafka_decode(raw)


def file_event_stream(
    spark: SparkSession,
    sf_dir: str,
    min_partitions: int | None = None,
    path_glob: str = "events.parquet",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming scan of the fixture events table (file source — each
    parquet file is a micro-batch unit; Kafka swaps in transparently).
    The source needs a directory, so the sf dir is scanned with a glob
    pinned to the events file; ts arrives as TimestampType directly.

    `min_partitions` mirrors the Kafka source's `minPartitions` option
    (KAFKA_SOURCE_OPTIONS): a one-file micro-batch is one task, so
    downstream decode serializes; fanning out before the parse keeps
    every core busy. Leave None when the source already has enough
    splits per micro-batch.

    `path_glob` + `max_files_per_trigger` let a caller replay a
    MULTI-FILE staging of the corpus in bounded micro-batches (the
    file-source analogue of Kafka's maxOffsetsPerTrigger) — a one-file
    corpus is otherwise a single micro-batch, which makes per-batch
    lag percentiles degenerate (bench.py's lag replay)."""
    stream = (
        spark.readStream.schema(EVENTS_RAW)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("pathGlobFilter", path_glob)
        .parquet(sf_dir)
    )
    return stream.repartition(min_partitions) if min_partitions else stream


def file_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the documents fixture — the corpus as an
    unbounded arrival stream (new crawl shards landing in a directory is
    exactly this shape at production scale). The documents schema streams
    as-is — reuse the canonical one."""
    from stream_processing_project_spark.schemas import DOCUMENTS

    return (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", "64")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def file_embedding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the embeddings fixture — vectors as an arrival
    stream (new embedding shards landing from an encoder job is exactly
    this shape at production scale)."""
    from stream_processing_project_spark.schemas import EMBEDDINGS

    return (
        spark.readStream.schema(EMBEDDINGS)
        .option("maxFilesPerTrigger", "64")
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def cdc_event_stream(
    spark: SparkSession,
    sf_dir: str,
    min_partitions: int | None = None,
    path_glob: str = "events.parquet",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Full ingest path: stream → envelope JSON → PERMISSIVE parse →
    op-filter → typed event rows with event-time column `ts` (P1+P2).
    `path_glob`/`max_files_per_trigger` pass through to the file source
    (see file_event_stream) for bounded-micro-batch replays."""
    raw = to_envelope_json(
        file_event_stream(
            spark, sf_dir, min_partitions, path_glob, max_files_per_trigger
        )
    )
    # prune the per-record parse to the 7 fields typed_events projects
    # (__table/__db/__ts_ms converted for nothing on every event in the
    # ingest hot loop otherwise; drop semantics unchanged)
    from stream_processing_project_spark.sources.cdc import (
        pruned_fixture_envelope,
    )

    return typed_events(
        parse_envelope(
            raw,
            pruned_fixture_envelope(
                "id", "user_id", "event_type", "event_ts", "value", "props",
                "__op",
            ),
        )
    )


def typed_events(parsed: DataFrame) -> DataFrame:
    """Envelope payload → the topology's typed event shape: op-filter to
    inserts/reads (P2) and project event_id/user_id/event_type/ts/value/
    props with the event-time `ts` column every downstream consumer
    (enrichment, windows, watermarks) expects."""
    return parsed.filter(F.col("__op").isin("r", "c")).select(
        F.col("id").alias("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.to_timestamp("event_ts").alias("ts"),
        F.col("value"),
        F.col("props"),
    )


def enriched_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static broadcast enrichment (J1). Freshness semantics
    (pinned in tests/test_streaming.py::test_dim_refresh_*): a
    plan-declared parquet static side re-READS its files each
    micro-batch but caches the file LISTING at plan time, so dimension
    files added mid-stream are not seen — effectively the reference's
    load-once snapshot (EngagementProcessor.scala:147-148). Per-batch
    dimension refresh needs the foreachBatch re-load seam
    (sinks.fresh_dim_enrich_sink) or a table format whose snapshot
    resolves per batch."""
    d = dim.select(
        F.col("c_custkey").alias("_dim_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    return (
        events.join(F.broadcast(d), events.user_id == F.col("_dim_id"), "left_outer")
        .drop("_dim_id")
        .withColumn(
            "engagement_pct",
            F.when(F.col("acctbal") > 0, F.round(F.col("value") / F.col("acctbal") * 100.0, 2)),
        )
    )


def minute_counts_stream(
    events: DataFrame, watermark: str = "15 minutes", key: str = "event_type"
) -> DataFrame:
    """A1+A2+A3 streaming: tumbling 1-minute event-time window with
    watermark eviction (the 900 s TTL analogue). Append mode emits each
    window exactly once when the watermark passes it.

    Fixed per-batch cost: every stateful micro-batch after the first
    compiles exactly one new class, Spark's watermark-eviction
    `SpecificPredicate`, with the batch's watermark inlined as a literal
    (e.g. `value_1 <= 1704535211000000L`); steady-state compiles take
    4-18 ms (paced window path, sf0.1, local[4]). The class differs in
    every batch, so no codegen cache size removes it, and it is Spark's
    code, not this engine's."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("win"), F.col(key).alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_val"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "key",
            "cnt",
            "sum_val",
        )
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "15 minutes") -> DataFrame:
    """A4 streaming: 10-minute sliding window, 1-minute slide — the
    reference's merge loop as a native sliding window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "10 minutes", "1 minute").alias("win"),
            F.col("event_type").alias("key"),
        )
        .agg(F.count(F.lit(1)).alias("win_cnt"), F.round(F.sum("value"), 2).alias("win_sum"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "key",
            "win_cnt",
            "win_sum",
        )
    )


def session_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming sessionization via native session_window (batch twin:
    plans/olap.py::olap_sessionize)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sess.start", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
            "n_events",
        )
    )


def state_partition_cap(
    session_shuffle, state_partitions: int | None, default_parallelism: int
) -> int:
    """The state-shuffle partition count run_to_completion applies.

    Explicit `state_partitions` (the bench / fixture-scale gate surface)
    caps downward only: min(session, requested), so small adversarial
    layouts (the 7/5 rehearsal) pass through unchanged.

    Default (None) is SCALE-SAFE (r12, VERDICT r11 what's-wrong #3):
    the old unconditional 12 default meant a production session with
    shuffle.partitions=2000 silently ran every stream driven through
    this helper at 12 state partitions — a scale-killer at 100 TB. The
    derived floor max(12, defaultParallelism) keeps the measured
    fixture-scale win wherever the session itself is small-partitioned
    (the bench pins its session to 12) while a large-parallelism
    session is never capped below its own core count."""
    floor = (
        state_partitions
        if state_partitions is not None
        else max(12, int(default_parallelism))
    )
    try:
        return min(int(session_shuffle), floor)
    except (TypeError, ValueError):
        return floor


def run_to_completion(
    result: DataFrame, output_mode: str = "append", sink: str = "memory",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame over a bounded source to completion
    and return the materialized result — the pattern tests and the
    correctness gate use (processAllAvailable runs data batches plus
    the trailing no-data batch that flushes windows closed by the final
    watermark).

    sink="memory" (default) collects into the driver's memory sink —
    right for verdict-sized results. sink="parquet" (r10, caught by the
    sf10 net) writes the append log to executor-side parquet and reads
    it back DISTRIBUTED: a high-volume hit/pair log (the screen
    families' intermediate) scales with corpus duplication, and the
    memory sink's driver collect overflowed maxResultSize on the
    replicated sf10 corpus — the production append-log shape is files,
    exactly this.

    Streaming-STATE shuffles are sized to the workload, not the
    session's batch default (r11): a stateful operator's partition count
    is fixed at the query's first run, and per-partition state-store
    open/snapshot/eviction overhead dominates at fixture volumes — the
    left-outer interval join measured 48–89 s at 32 state partitions vs
    3.2–10.8 s at 12 on the SAME session-day box (bench.py's replay
    sweep found the same 12-partition optimum, r07). The cap applies
    only DOWNWARD (min with the session setting), so small adversarial
    layouts (the 7/5 rehearsal) pass through unchanged. At production
    scale this is a per-stream deploy-time decision — size state
    partitions to executors × cores exactly like batch shuffles; pass
    `state_partitions` accordingly. When not passed, the default derives
    from the session (state_partition_cap) and never caps a
    large-parallelism session down to the fixture constant.

    That default's ceiling is max(12, defaultParallelism): a session
    whose shuffle.partitions is above it is still capped to it. This is
    on purpose. A bare session (the external driver's, the rehearsal's)
    leaves spark.sql.shuffle.partitions at Spark's 200, so taking the
    session's value when no request is passed would run those streams at
    200 state partitions.

    The r11 per-partition state-store overhead above (12 vs 32
    partitions) was measured while every state-partition commit forked a
    `readlink` process (the FileContext checkpoint manager without the
    native Hadoop library). Local get_spark sessions now use the
    FileSystem checkpoint manager, which forks no `readlink` (session.py),
    so those figures include a per-commit fork that local sessions no
    longer pay; they have not been re-measured."""
    name = f"q_{uuid.uuid4().hex[:12]}"
    spark = result.sparkSession
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    cap = state_partition_cap(
        prev_shuffle, state_partitions, spark.sparkContext.defaultParallelism
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(cap))
    try:
        return _run_to_completion_body(
            result, output_mode, sink, name, spark
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)


def _run_to_completion_body(
    result: DataFrame, output_mode: str, sink: str, name: str, spark
) -> DataFrame:
    if sink == "parquet":
        stage_dir = tempfile.mkdtemp(prefix=f"spe-log-{name}-")
        out_dir = os.path.join(stage_dir, "out")
        ckpt_dir = checkpoint_dir(name)
        q = (
            result.writeStream.outputMode(output_mode)
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        try:
            # Distinguish "no batch ever committed" (no output dir — a
            # legitimately empty source) from real read failures
            # (corrupt part file, permissions): only the former returns
            # empty; anything else must propagate — a silently-empty
            # decontamination log reads as "admit everything".
            if not os.path.isdir(out_dir):
                return spark.createDataFrame([], result.schema)
            # Materialize the append log off the staging files (eager,
            # executor-side block storage — no driver collect) so the
            # staging + checkpoint dirs can be removed immediately
            # instead of accumulating a corpus-duplication-scaled log
            # per invocation under /tmp.
            return spark.read.schema(result.schema).parquet(
                out_dir
            ).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)
            shutil.rmtree(ckpt_dir, ignore_errors=True)
    ckpt_dir = checkpoint_dir(name)
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    return spark.table(name)


def dedup_stream(
    events: DataFrame, watermark: str = "30 minutes", keys: tuple[str, ...] = ("event_id",)
) -> DataFrame:
    """Streaming exact dedup — the streaming twin of
    operators/dedup.py::exact_dedup_keep_first. dropDuplicatesWithinWatermark
    keeps seen keys in the state store only until the watermark passes
    them: state is bounded by (arrival rate × watermark), not by stream
    length — the property that makes exact dedup viable on an unbounded
    100 TB/day stream (plain dropDuplicates would grow state forever)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    user_col: str = "user_id",
    max_gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join — a capability the
    reference lacks entirely (its only join is stream-static J1): pair
    each left event with right events for the same user that happen
    within (0, max_gap] AFTER it — e.g. play → finish funnels.

    Scale shape: both sides shuffle once on the equi-key (user), the
    range predicate evaluates within co-partitioned state, and the
    watermarks bound how long either side is buffered — state ∝ rate ×
    (watermark + gap), independent of stream length. Append mode emits a
    pair exactly once, when the watermark proves no earlier match can
    arrive."""
    l = left.select(
        F.col(user_col).alias("l_user"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(user_col).alias("r_user"),
        F.col("event_id").alias("r_event_id"),
        F.col("event_type").alias("r_event_type"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", watermark)
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_gap}")),
    ).select(
        F.col("l_user").alias("user_id"),
        "l_event_id",
        "r_event_id",
        "r_event_type",
        (F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("l_ts"))).alias("gap_us"),
    )


def with_ingest_audit(raw: DataFrame, name: str = "ingest_audit") -> DataFrame:
    """Attach Spark-native `observe()` metrics to the raw envelope
    stream BEFORE the PERMISSIVE parse filter: total records vs
    successfully-parsed records per micro-batch, surfaced through
    StreamingQueryProgress.observedMetrics — the in-flight version of
    the cdc_parse_audit batch query, with zero extra passes (the
    metrics ride the existing scan; the reference can only log each
    parse failure as it discards it, EngagementProcessor.scala:28-36).
    Call before parse_envelope's null-filter so drops are visible."""
    from stream_processing_project_spark.sources.cdc import FIXTURE_CDC_ENVELOPE

    env = F.from_json(F.col("value").cast("string"), FIXTURE_CDC_ENVELOPE)
    return raw.observe(
        name,
        F.count(F.lit(1)).alias("total_records"),
        F.count(env.getField("payload")).alias("parsed"),
    )


def observed_metrics(query, name: str = "ingest_audit") -> dict:
    """Read the latest observed-metrics row for `name` from a streaming
    query's progress (empty dict before the first completed batch)."""
    p = query.lastProgress
    if not p:
        return {}
    row = (p.get("observedMetrics") or {}).get(name)
    return dict(row.asDict()) if hasattr(row, "asDict") else (row or {})


def distinct_users_stream(
    events: DataFrame, watermark: str = "15 minutes"
) -> DataFrame:
    """Exact distinct users per 1-minute window, streaming. Streaming
    aggregation can't hold a COUNT(DISTINCT) buffer, so the cardinality
    splits into two watermark-bounded stateful steps: (1) dedup on
    (minute, user) — the minute-truncated event time IS the watermark
    column, so seen pairs evict when the watermark passes their minute;
    (2) a plain windowed count of the survivors. State for both steps is
    bounded by (active users × watermark minutes), independent of stream
    length. The approximate alternative at extreme cardinality is an HLL
    sketch per window (profile_distinct_rollup_hll's streaming twin);
    this is the exact path."""
    dedup = (
        events.select(
            F.date_trunc("minute", "ts").alias("wm"), F.col("user_id")
        )
        .withWatermark("wm", watermark)
        .dropDuplicates(["wm", "user_id"])
    )
    return (
        dedup.groupBy(F.window("wm", "1 minute").alias("win"))
        .agg(F.count(F.lit(1)).alias("distinct_users"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "distinct_users",
        )
    )


def interval_join_stream_outer(
    left: DataFrame,
    right: DataFrame,
    user_col: str = "user_id",
    max_gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER watermarked interval join: matched pairs emit eagerly
    (like the inner join); an UNMATCHED left row emits null-extended
    only when the watermark proves no future right row can match —
    i.e. once l_ts + max_gap drops below the join watermark. The join
    watermark is the MIN across both inputs' (max event time − delay):
    the slower stream gates null emission, which is exactly what makes
    the result correct under skewed arrival (pinned by the oracle).
    State on both sides stays bounded by rate × (watermark + gap)."""
    l = left.select(
        F.col(user_col).alias("l_user"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(user_col).alias("r_user"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", watermark)
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_gap}")),
        "left_outer",
    ).select(
        F.col("l_user").alias("user_id"),
        "l_event_id",
        "r_event_id",
        (F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("l_ts"))).alias("gap_us"),
    )


def chained_hour_rollup_stream(
    events: DataFrame, watermark: str = "15 minutes", key: str = "event_type"
) -> DataFrame:
    """Minute → hour continuous aggregate as ONE streaming query —
    native stateful-operator chaining (window-on-window via
    `window_time`), no foreachBatch. The hour level re-aggregates
    minute PARTIALS (count/sum compose losslessly), so raw events are
    touched once; each level's state evicts off the same watermark.
    The foreachBatch twin (sinks.continuous_hour_rollup) exists for
    when intermediate levels must be QUERYABLE tables — this form is
    for when only the coarse grain leaves the pipeline."""
    minute = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("win"), F.col(key).alias("key"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_val"),
        )
    )
    return (
        minute.groupBy(
            F.window(F.window_time("win"), "1 hour").alias("hwin"), F.col("key")
        )
        .agg(F.sum("cnt").alias("cnt"), F.round(F.sum("sum_val"), 2).alias("sum_val"))
        .select(
            F.date_format("hwin.start", "yyyy-MM-dd HH:mm:ss").alias("h_start"),
            "key",
            "cnt",
            "sum_val",
        )
    )


def hll_distinct_users_stream(
    events: DataFrame, watermark: str = "15 minutes", lgk: int = 12
) -> DataFrame:
    """Approximate distinct users per 1-minute window via a MERGEABLE
    HLL sketch aggregate — the scale path distinct-counting: state per
    window is one 2^lgk-register sketch (~4 KB), independent of user
    cardinality, and partial sketches merge map-side like any algebraic
    aggregate. The exact twin (distinct_users_stream) pays state ∝
    active users; at 100 TB with hundreds of millions of actives per
    window, the sketch is the only viable shape. DataSketches HLL runs
    in sparse (exact) mode until ~2^(lgk-3) distincts, so at modest
    per-window cardinality the estimate is EXACT — which the oracle
    exploits."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("win"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(lgk)))
            .cast("long")
            .alias("approx_users")
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "approx_users",
        )
    )
