"""Benchmark runner (driver contract).

Runs the bench-tagged headline queries from the registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is forced with a noop write (full execution, no driver
collect overhead). One warm-up run of the flagship amortizes JVM/codegen
startup so numbers reflect steady-state plan execution.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stream_processing_project_spark.plans.registry import all_queries  # noqa: E402
from stream_processing_project_spark.session import default_sf_dir, get_spark  # noqa: E402


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def codegen_counters(spark) -> tuple[int, int]:
    """(classes compiled, total compile ns) by Janino in this JVM so far;
    on a local master the executors share the driver's JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    return (
        metrics.METRIC_COMPILATION_TIME().getCount(),
        codegen.CodeGenerator.compileTime(),
    )


def hardware_canary(spark) -> dict:
    """Fixed null-work pair timed before the suite — a hardware/container
    speed probe so round-over-round comparisons measure the CODE, not
    the box (r05 verdict task 3: two consecutive rounds of uniform
    ~+20% drift had to be adjudicated as container noise because nothing
    normalized for machine speed). Two deterministic components, no data
    dependence, no randomness:
      * compute_s — spark.range(5e8).sum(): pure whole-stage-codegen
        arithmetic throughput (JVM + CPU clock).
      * shuffle_s — 2M rows hashed into 1 000 keys, grouped, summed:
        a small fixed shuffle (serialization + exchange + disk path).
    Best-of-2 each, after its own warm pass. All per-query timings are
    also reported divided by canary_s; vs_prior_round compares the
    normalized series whenever the prior round recorded a canary."""
    from pyspark.sql import functions as F

    def compute():
        spark.range(500_000_000).agg(F.sum("id")).collect()

    def shuffle():
        force(
            spark.range(2_000_000)
            .withColumn("k", F.col("id") % 1000)
            .groupBy("k")
            .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("c"))
        )

    parts = {}
    for name, fn in (("compute_s", compute), ("shuffle_s", shuffle)):
        fn()  # warm: codegen compile + scheduler spin-up
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        parts[name] = round(best, 3)
    parts["canary_s"] = round(parts["compute_s"] + parts["shuffle_s"], 3)
    return parts


def main() -> None:
    sf_dir = default_sf_dir()
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark("bench")

    bench_queries = {
        n: q for n, q in sorted(all_queries().items()) if "bench" in q.tags
    }

    canary = hardware_canary(spark)

    # warm-up: JVM, codegen, parquet footer/metadata reads for every
    # fixture table — so per-query numbers reflect steady-state plan
    # execution, not whichever query happens to touch a table first
    from stream_processing_project_spark.sources.fixtures import load_table

    for tbl in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        load_table(spark, sf_dir, tbl).count()
    # one warm pass per query: compiles each plan's generated classes so
    # the timed reps measure steady-state execution — the regime a
    # long-lived cluster actually runs in. The reps reuse those classes
    # only while Spark's codegen cache holds the whole suite's working
    # set (~500 classes); get_spark sizes it so. What the reps still
    # compile is recorded per query in bench_detail.json ("codegen").
    for q in bench_queries.values():
        force(q.builder(spark, sf_dir))

    # best-of-2: local[32] scheduling noise swings single timings by
    # 20-30%; the min of two steady-state runs is the reproducible number
    timings: dict[str, float] = {}
    codegen: dict[str, dict] = {}
    for name, q in bench_queries.items():
        before = codegen_counters(spark)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            force(q.builder(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        after = codegen_counters(spark)
        codegen[name] = {
            "compiles": after[0] - before[0],
            "compile_ms": round((after[1] - before[1]) / 1e6, 1),
        }

    # End-of-suite canary repeat (VERDICT r11 "What's wrong" #1): the
    # suite-start canary cannot see a box that degrades MID-run — r11's
    # record run drifted between suite start and the alphabetical tail,
    # producing 4-6x phantom regressions on the last four queries
    # (including one untouched by any commit). start/end bracket the
    # batch suite so tail-of-suite numbers are adjudicable.
    canary_end = hardware_canary(spark)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "batch_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "canary": canary,
        "canary_end": canary_end,
        "sf": sf,
        "streaming": stream_bench(spark, sf_dir),
    }
    reg = regressions_vs_last_round(timings, sf, canary)
    if reg is not None:
        add_streaming_regression(reg, out["streaming"], sf)
        out["vs_prior_round"] = reg
    # Full detail (incl. the canary-normalized per-query series) goes to
    # a sidecar the driver commits with the round; the STDOUT line must
    # stay under ~1.9 kB — the driver parses it out of a 2 000-char tail
    # capture, and r06's line outgrew it (BENCH_r06.json parsed: null).
    detail = json.loads(json.dumps(out))
    # the full per-replay lag series lives only in the sidecar
    out["streaming"].pop("lag_detail", None)
    detail["queries_canary_normalized"] = {
        n: round(t / canary["canary_s"], 3) for n, t in timings.items()
    }
    # Janino compilations (count, ms) during each query's two timed reps
    detail["codegen"] = codegen
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_detail.json"),
            "w",
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    # The one-line JSON must be the LAST thing on stdout (VERDICT r11
    # "What's wrong" #2): spark.stop()'s RpcEnv shutdown can print stack
    # traces AFTER the line, pushing it out of the driver's 2000-char
    # tail capture (BENCH_r11_c8 parsed: null — the whole scaling block
    # was lost). Stop Spark first, then print; a failing stop must not
    # eat the record.
    try:
        spark.stop()
    except Exception:
        pass
    print(compact_line(out))


def compact_line(out: dict, limit: int = 1900) -> str:
    """Serialize the bench record, shedding detail blocks (never the
    driver contract: metric/value/unit/queries/sf) until the line fits
    the driver's tail-capture budget."""
    line = json.dumps(out)
    if len(line) <= limit:
        return line
    out = json.loads(line)  # deep copy before mutating
    vp = out.get("vs_prior_round") or {}
    for strip in range(6):
        if strip == 0 and "normalized_regressions_over_1_5x" in vp:
            vp["normalized_regressions_over_1_5x"] = {
                n: d["ratio"]
                for n, d in vp["normalized_regressions_over_1_5x"].items()
            }
        elif strip == 1 and "regressions_over_1_5x" in vp:
            vp["regressions_over_1_5x"] = {
                n: d["ratio"] for n, d in vp["regressions_over_1_5x"].items()
            }
        elif strip == 2 and isinstance(out.get("canary_end"), dict):
            # keep the drift signal (end-of-suite canary_s), shed the
            # compute/shuffle decomposition (full dict stays in the
            # bench_detail.json sidecar)
            out["canary_end"] = {"canary_s": out["canary_end"]["canary_s"]}
        elif strip == 3 and "streaming" in out:
            out["streaming"] = {
                k: v
                for k, v in out["streaming"].items()
                # keep throughput AND the lag percentiles (BASELINE.md's
                # promised metric) — shed the static reference anchors
                if "events_per_sec" in k
                or k.startswith(("lag_ms", "batch_lag_ms"))
                or k == "lag_batches"
            }
        elif strip == 4 and vp:
            vp.pop("streaming_prior_events_per_sec", None)
            vp.pop("prior_total_s", None)
        elif strip == 5:
            out.pop("vs_prior_round", None)
        line = json.dumps(out)
        if len(line) <= limit:
            return line
    return line


def load_prior_bench(sf: float | None, bench_dir: str | None = None) -> dict | None:
    """Newest prior round's bench record at the same SF — from the
    driver's `parsed` field when it exists, else SALVAGED from the
    2 000-char `tail` capture (r06's line outgrew the capture, so its
    `parsed` is null; the tail still carries a suffix of the per-query
    map plus the complete canary and streaming objects — enough for
    round-over-round and canary-normalized comparisons on the visible
    queries). Walks rounds newest-first until one yields usable data."""
    import glob

    here = bench_dir or os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "BENCH_r*.json")), reverse=True):
        try:
            with open(path) as f:
                record = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        prior = record.get("parsed") or _salvage_from_tail(record)
        if prior and prior.get("sf") == sf and prior.get("queries"):
            prior["_baseline_file"] = os.path.basename(path)
            return prior
    return None


def _salvage_from_tail(record: dict) -> dict | None:
    """Rebuild a partial bench record from the driver's tail capture:
    per-query `"name": sec` pairs before the first `"canary"` (a suffix
    of the full map when the line was truncated at the head), plus the
    complete canary and streaming objects if visible."""
    tail = record.get("tail") or ""
    if not tail:
        return None
    head, _, rest = tail.partition('"canary"')
    non_query = {"metric", "value", "unit", "sf", "compute_s", "shuffle_s", "canary_s"}
    queries = {
        n: float(v)
        for n, v in re.findall(r'"([a-z][a-z0-9_]+)":\s*([0-9.]+)', head)
        if n not in non_query
    }
    out: dict = {"sf": record.get("sf"), "queries": queries, "_salvaged": True}
    if rest:
        m = re.match(r':\s*({[^{}]*})', rest)
        if m:
            try:
                out["canary"] = json.loads(m.group(1))
            except json.JSONDecodeError:
                pass
        sm = re.search(r'"streaming":\s*({[^{}]*})', rest)
        if sm:
            try:
                out["streaming"] = json.loads(sm.group(1))
            except json.JSONDecodeError:
                pass
    return out if queries or "canary" in out else None


def regressions_vs_last_round(
    timings: dict[str, float],
    sf: float | None,
    canary: dict | None = None,
    bench_dir: str | None = None,
) -> dict | None:
    """Round-over-round hygiene: compare per-query timings against the
    newest BENCH_r{N}.json (same query set every round, so numbers are
    comparable query-for-query) and flag anything >1.5× slower. Only
    meaningful at the driver's SF — skipped when run at another SF.

    When BOTH rounds recorded a hardware canary, a second comparison runs
    on the canary-normalized series (t / canary_s): a uniform container
    slowdown moves raw numbers but cancels in the normalized ones, so a
    normalized flag means the CODE regressed, not the box (r05 verdict
    task 3 — two straight rounds of ~+20% uniform drift needed manual
    adjudication because nothing separated machine speed from plan
    changes)."""
    prior = load_prior_bench(sf, bench_dir)
    if prior is None:
        return None
    prev_q = prior.get("queries", {})
    flagged = {
        n: {"prior_s": prev_q[n], "now_s": t, "ratio": round(t / prev_q[n], 2)}
        for n, t in timings.items()
        if n in prev_q and prev_q[n] > 0 and t / prev_q[n] > 1.5
    }
    out = {
        "baseline_file": prior.get("_baseline_file"),
        "prior_total_s": prior.get("value"),
        "regressions_over_1_5x": flagged,
    }
    if prior.get("_salvaged"):
        # the prior line outgrew the driver's tail capture; compare runs
        # against the SALVAGED suffix of its query map
        out["prior_salvaged_from_tail"] = True
        out["prior_queries_visible"] = len(prev_q)
    prior_canary = (prior.get("canary") or {}).get("canary_s")
    now_canary = (canary or {}).get("canary_s")
    if prior_canary and now_canary:
        # box-speed ratio this round vs last: >1 means this container is
        # slower; raw per-query ratios are expected to drift by about
        # this factor even with identical plans
        out["canary_ratio_vs_prior"] = round(now_canary / prior_canary, 3)
        out["normalized_regressions_over_1_5x"] = {
            n: {
                "prior_norm": round(prev_q[n] / prior_canary, 3),
                "now_norm": round(t / now_canary, 3),
                "ratio": round((t / now_canary) / (prev_q[n] / prior_canary), 2),
            }
            for n, t in timings.items()
            if n in prev_q
            and prev_q[n] > 0
            and (t / now_canary) / (prev_q[n] / prior_canary) > 1.5
        }
    return out


def add_streaming_regression(
    reg: dict, streaming: dict, sf: float | None = None
) -> None:
    """Streaming throughput joins the round-over-round check (VERDICT
    r03 "What's wrong" #1: two consecutive slips went unflagged because
    only per-query batch timings were compared). Flags a >20% drop in
    either streaming number — outside the builder's measured ±6%
    three-run drift band, so a flag means a real change, not noise."""
    prior_rec = load_prior_bench(sf)
    if prior_rec is None:
        return
    prior = prior_rec.get("streaming") or {}
    flagged = {}
    for key in ("events_per_sec", "dedup_events_per_sec"):
        prev, now = prior.get(key), streaming.get(key)
        if prev and now:
            ratio = round(now / prev, 3)
            if ratio < 0.8:
                flagged[key] = {"prior": prev, "now": now, "ratio": ratio}
    reg["streaming_prior_events_per_sec"] = {
        k: prior.get(k) for k in ("events_per_sec", "dedup_events_per_sec")
    }
    reg["streaming_drops_over_20pct"] = flagged


def run_ingest_with_lag(result) -> list[float]:
    """Drive a streaming frame to completion like
    pipeline.run_to_completion, but keep the query handle and return
    per-micro-batch BATCH-PROCESSING latencies
    (durationMs.triggerExecution from StreamingQueryProgress — the
    number a production lag monitor reads; in a keeping-up pipeline
    there is no queueing on top of it). Data batches only: the trailing
    no-data watermark flush has no arriving rows to lag. The caller
    must raise spark.sql.streaming.numRecentProgressUpdates above the
    expected batch count — recentProgress silently caps at the last
    N entries (ADVICE r08)."""
    import uuid

    from stream_processing_project_spark.streaming.pipeline import (
        checkpoint_dir,
    )

    name = f"b_{uuid.uuid4().hex[:12]}"
    q = (
        result.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir(name))
        .start()
    )
    try:
        q.processAllAvailable()
        return [
            float(p["durationMs"]["triggerExecution"])
            for p in (json.loads(pr.json) for pr in q.recentProgress)
            if p.get("numInputRows", 0) > 0
        ]
    finally:
        q.stop()


def stream_bench(spark, sf_dir: str) -> dict:
    """Streaming micro-bench (BASELINE.md engine plan): replay the whole
    events fixture through the full ingest path — envelope JSON encode →
    PERMISSIVE parse → op-filter → broadcast stream-static enrich →
    1-minute event-time window agg → memory sink — and report sustained
    end-to-end events/s. Comparable to the reference's stated 2 000
    events/s target and 10 000 events/s extreme offered load
    (BASELINE.md; EngagementProcessor.scala:145, stress_test.py:20-28).
    """
    from stream_processing_project_spark.sources.fixtures import load_table
    from stream_processing_project_spark.streaming.pipeline import (
        cdc_event_stream,
        enriched_stream,
        minute_counts_stream,
        run_to_completion,
    )

    from stream_processing_project_spark.streaming.pipeline import (
        dedup_stream,
        file_event_stream,
    )

    n = load_table(spark, sf_dir, "events").count()
    dim = load_table(spark, sf_dir, "customer")
    # Streaming state shuffles sized to the workload, not the batch
    # default: per-micro-batch task-launch overhead dominates at this
    # event volume, and 12 state partitions measure ~50% faster than 32
    # on local[32] (swept 8-32; window path 50k vs 32k eps, dedup 114k
    # vs 84k). Legitimate per-query tuning: state partitioning is fixed
    # at a stateful query's FIRST run (baked into the checkpoint), so
    # production picks this per stream at deploy time — at 100 TB size
    # it to executor count × cores, exactly like batch shuffles.
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    prev_npu = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", "100"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "12")
    # try/finally (ADVICE r09): an exception mid-replay must not leave
    # the session's shuffle/progress confs mutated for whatever runs
    # after stream_bench in the same session.
    try:
        return _stream_bench_body(spark, sf_dir, dim, n)
    finally:
        spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", prev_npu
        )
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)


def _stream_bench_body(spark, sf_dir: str, dim, n: int) -> dict:
    from stream_processing_project_spark.sources.fixtures import load_table
    from stream_processing_project_spark.streaming.pipeline import (
        cdc_event_stream,
        dedup_stream,
        enriched_stream,
        file_event_stream,
        minute_counts_stream,
        run_to_completion,
    )

    # warm-up at the smallest sf: streaming query codegen + state-store
    # init dominate a cold first run and aren't what we're measuring
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        run_to_completion(
            minute_counts_stream(
                enriched_stream(
                    cdc_event_stream(spark, warm_dir, min_partitions=16),
                    load_table(spark, warm_dir, "customer"),
                )
            )
        )
        run_to_completion(dedup_stream(file_event_stream(spark, warm_dir)))
    # best-of-2 replays, like the batch side: micro-batch scheduling noise
    # swings a single replay by ~10% on local[32]
    wall = dedup_wall = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        # min_partitions=16: the Kafka-minPartitions analogue for the
        # one-file fixture source — fans the JSON parse out across cores
        # (measured best at 16 on local[32]; 32 pays more shuffle than it
        # gains)
        run_to_completion(
            minute_counts_stream(
                enriched_stream(
                    cdc_event_stream(spark, sf_dir, min_partitions=16), dim
                )
            )
        )
        wall = min(wall, time.perf_counter() - t0)
        t1 = time.perf_counter()
        run_to_completion(dedup_stream(file_event_stream(spark, sf_dir)))
        dedup_wall = min(dedup_wall, time.perf_counter() - t1)

    # Lag replay (VERDICT r08 task 3 + ADVICE r08): the one-file corpus
    # drains in a single micro-batch, so percentiles over the
    # throughput replay were degenerate (p50 == p95 == the one batch).
    # Stage the events as N_STAGE_FILES parquet parts and replay with
    # maxFilesPerTrigger=2 so the SAME pipeline spans ≥ 10 micro-batches
    # at steady state. Per-replay lag lists are kept separate and the
    # BEST replay (min total processing time) reports — pooling both
    # would mix the cold run's codegen into the percentiles. Keys are
    # named batch_lag_ms_*: this is per-batch processing latency, the
    # end-to-end lag of a keeping-up pipeline (no queueing term in a
    # bounded replay).
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "256")
    stage_dir = stage_event_files(spark, sf_dir, n_files=N_STAGE_FILES)
    replays: list[list[float]] = []
    for _ in range(2):
        replays.append(
            run_ingest_with_lag(
                minute_counts_stream(
                    enriched_stream(
                        cdc_event_stream(
                            spark,
                            stage_dir,
                            min_partitions=16,
                            path_glob="part-*.parquet",
                            max_files_per_trigger=2,
                        ),
                        dim,
                    )
                )
            )
        )
    lag_ms = sorted(min(replays, key=sum)) if any(replays) else []
    pct = lambda p: round(lag_ms[min(len(lag_ms) - 1, int(p * len(lag_ms)))], 1)
    return {
        "events": n,
        "wall_s": round(wall, 3),
        "events_per_sec": int(n / wall),
        "dedup_events_per_sec": int(n / dedup_wall),
        "batch_lag_ms_p50": pct(0.50) if lag_ms else None,
        "batch_lag_ms_p95": pct(0.95) if lag_ms else None,
        "lag_batches": len(lag_ms),
        # full per-replay series — popped into bench_detail.json by
        # main() so the stdout line stays inside the tail budget
        "lag_detail": {
            "replays_ms": [sorted(r) for r in replays],
            "batches_per_replay": [len(r) for r in replays],
            "stage_files": N_STAGE_FILES,
            "max_files_per_trigger": 2,
        },
        "reference_target_events_per_sec": 2000,
        # BASELINE.md stress stages (offered load, events/s) — sustained
        # full-replay throughput above a stage means that stage is handled
        "reference_offered_load_stages": [100, 1000, 2500, 5000, 10000],
        "pipeline": "cdc_json_parse->op_filter->broadcast_enrich->1min_window->memory",
    }


N_STAGE_FILES = 24


def stage_event_files(spark, sf_dir: str, n_files: int) -> str:
    """Split the one-file events fixture into n_files parquet parts
    under /tmp (idempotent per (sf_dir, n_files, source mtime+size)) so
    the lag replay has file-source micro-batch boundaries to meter
    against. The source file's (mtime, size) is part of the cache key
    (ADVICE r09): a regenerated fixture at the same path must re-stage,
    not silently meter stale data."""
    import tempfile

    from stream_processing_project_spark.sources.fixtures import load_table

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    src = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(src)
        vintage = f"{int(st.st_mtime)}_{st.st_size}"
    except OSError:
        vintage = "na"
    stage = os.path.join(
        tempfile.gettempdir(), f"bench_lag_stage_{tag}_{n_files}_{vintage}"
    )
    # Evict staged copies from earlier fixture vintages (ADVICE r10):
    # without this every regeneration strands a full events.parquet
    # copy in /tmp for the life of the box.
    import glob
    import shutil

    for old in glob.glob(
        os.path.join(tempfile.gettempdir(), f"bench_lag_stage_{tag}_{n_files}_*")
    ):
        if old != stage:
            shutil.rmtree(old, ignore_errors=True)
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        load_table(spark, sf_dir, "events").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(stage)
    return stage


if __name__ == "__main__":
    main()
