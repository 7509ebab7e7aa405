"""Streaming workloads over the events corpus, one client.

stream_paced  open loop: the reference's ingest path (CDC envelope parse,
              broadcast enrichment, 1-minute event-time windows, memory
              sink, on a 2 s processing-time trigger) reads a landing
              directory into which a generator thread renames one
              pre-staged 500-event file every 0.2 s, whatever the engine
              is doing: 2 500 events/s.
stream_bulk   closed loop: the whole corpus replayed as fast as the engine
              drains it, with a fresh checkpoint per replay, through the
              same window path and through streaming dedup.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import threading
import time

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import trace
from perfbench.datagen import publish
from perfbench.stats import (
    commit_times, committed_watermark_s, file_lags_ms, median, read_source_log,
    tail,
)

FILE_EVENTS = 500
INTERVAL_S = 0.2
# The paced query fires on a fixed processing-time trigger, as the
# reference's sinks do, set well above the per-batch time so that every
# micro-batch starts on the trigger clock. Spark puts those instants on
# whole multiples of the interval since the epoch; the releases sit half a
# release interval off them, so the wait each file has for its batch to
# start is set by the schedule, and what varies from run to run in the lag
# is the engine's time to list, plan, run and commit the batch.
TRIGGER_S = 2.0
WARM_FILES = 4
# a release later than this past its due time may miss the micro-batch its
# schedule puts it in, which makes the lag figures unreliable, so it counts
# as a failed operation
LATE_LIMIT_S = INTERVAL_S / 2
SUM_TOLERANCE = 0.0101  # one cent, plus float slack: both sides round to 2 dp


# -- inputs -------------------------------------------------------------------
def staged_corpus(data: str) -> str:
    """The events corpus cut into FILE_EVENTS-event parquet files in time
    order (part-00000.parquet, ...), made once per data directory."""
    out = os.path.join(data + "-paced", "files")
    if not os.path.isdir(out):
        table = pq.read_table(os.path.join(data, "events.parquet"))
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp)
        for k, start in enumerate(range(0, table.num_rows, FILE_EVENTS)):
            pq.write_table(
                table.slice(start, FILE_EVENTS),
                os.path.join(tmp, f"part-{k:05d}.parquet"),
            )
        publish(tmp, out)
    return out


def expected_windows(tables: list[pa.Table], watermark_s: float) -> dict:
    """The batch answer the window path must emit: per (minute, event
    type) count and rounded value sum over the events the envelope op
    filter keeps, for every window whose end the watermark has passed."""
    df = pa.concat_tables(tables).to_pandas()
    df = df[~(df["event_id"] % 20).isin((0, 1))]
    df["w"] = df["ts"].dt.floor("min")
    g = df.groupby(["w", "event_type"])["value"].agg(["count", "sum"]).reset_index()
    start_s = (g["w"] - pd.Timestamp(0)).dt.total_seconds()
    closed = g[start_s + 60 <= watermark_s]
    return {
        (w.strftime("%Y-%m-%d %H:%M:%S"), key): (int(cnt), round(float(s), 2))
        for w, key, cnt, s in closed.itertuples(index=False)
    }


def check_windows(run, rows, expected: dict) -> None:
    got = {(r["w_start"], r["key"]): (r["cnt"], r["sum_val"]) for r in rows}
    for k, (cnt, s) in expected.items():
        run.attempted += 1
        g = got.pop(k, None)
        if g is None or g[0] != cnt or abs(g[1] - s) > SUM_TOLERANCE:
            run.fail("window", f"{k}: expected {(cnt, s)}, got {g}")
    for k, g in got.items():
        run.attempted += 1
        run.fail("window", f"{k}: emitted {g}, not closed in the batch answer")


# -- one streaming query ----------------------------------------------------
def window_frame(run, source: str, glob: str, dim, files_per_trigger: int = 64):
    from stream_processing_project_spark.streaming.pipeline import (
        cdc_event_stream, enriched_stream, minute_counts_stream,
    )

    with run.tracer.span("streaming.build", path="window"):
        events = cdc_event_stream(
            run.spark, source, path_glob=glob, max_files_per_trigger=files_per_trigger
        )
        return minute_counts_stream(enriched_stream(events, dim))


def dedup_frame(run, source: str):
    from stream_processing_project_spark.streaming.pipeline import (
        dedup_stream, file_event_stream,
    )

    with run.tracer.span("streaming.build", path="dedup"):
        return dedup_stream(file_event_stream(run.spark, source))


def start(run, frame, name: str, trigger_s: float | None = None):
    ckpt = os.path.join(run.tmp, "ckpt", name)
    writer = (
        frame.writeStream.outputMode("append").format("memory")
        .queryName(name).option("checkpointLocation", ckpt)
    )
    if trigger_s is not None:
        writer = writer.trigger(processingTime=f"{int(trigger_s * 1000)} milliseconds")
    return writer.start(), ckpt


def progress_of(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def replay(run, frame, name: str) -> tuple[float, list[dict], str, float]:
    """Run a bounded stream to completion into a memory sink: (wall
    seconds, progress reports, run id, watermark of its last batch). The
    sink table stays registered under `name` until the caller drops it."""
    t0 = time.perf_counter()
    q, ckpt = start(run, frame, name)
    try:
        with run.tracer.span("streaming.process_all_available", query=name):
            q.processAllAvailable()
    finally:
        q.stop()
    wall = time.perf_counter() - t0
    watermark = committed_watermark_s(ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)
    return wall, progress_of(q), str(q.runId), watermark


# -- per-layer ----------------------------------------------------------------
def stream_layers(run, progress: list[dict], groups: list[str]) -> dict:
    """Micro-batch metrics from StreamingQueryProgress plus the Spark job
    counts of the queries' job groups (a stream's group is its run id)."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = lambda key: [p["durationMs"].get(key, 0) for p in data]  # noqa: E731
    trig, add = dur("triggerExecution"), dur("addBatch")
    rows = [p["numInputRows"] for p in data]
    counts = {"tasks": 0, "task_run_s": 0.0}
    for g in groups:
        c = trace.job_counts(run.spark, g)
        counts["tasks"] += c["tasks"]
        counts["task_run_s"] += c["task_run_s"]
    return {
        f"streaming.batches": len(data),
        f"streaming.trigger_ms_p50": median(trig),
        f"streaming.overhead_ms_p50": median([t - a for t, a in zip(trig, add)]),
        f"streaming.latest_offset_ms_p50": median(dur("latestOffset")),
        f"streaming.query_planning_ms_p50": median(dur("queryPlanning")),
        f"streaming.wal_commit_ms_p50": median(dur("walCommit")),
        f"streaming.commit_offsets_ms_p50": median(dur("commitOffsets")),
        f"streaming.tasks_per_batch": counts["tasks"] / max(1, len(data)),
        f"streaming.add_batch_ms_p50": median(add),
        f"streaming.per_event_us": 1e3 * sum(add) / max(1, sum(rows)),
        f"streaming.rows_per_batch_p50": median(rows),
        f"streaming.core_busy": counts["task_run_s"]
        / max(1e-9, sum(trig) / 1e3 * run.box["cores"]),
    }


def state_layers(progress: list[dict]) -> dict:
    data = [p for p in progress if p.get("numInputRows", 0) > 0 and p.get("stateOperators")]
    ops = [p["stateOperators"][0] for p in data]
    last_ops = progress[-1].get("stateOperators") if progress else None
    last = last_ops[0] if last_ops else {}
    return {
        "streaming.state.rows_total": last.get("numRowsTotal", 0),
        "streaming.state.memory_bytes": last.get("memoryUsedBytes", 0),
        "streaming.state.commit_ms_p50": median([o.get("commitTimeMs", 0) for o in ops]),
        "streaming.state.updates_ms_p50": median([o.get("allUpdatesTimeMs", 0) for o in ops]),
        "streaming.state.rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
    }


def spark_layers(run, groups: list[str], exec_s: float) -> dict:
    total: dict = {}
    skews: list[float] = []
    for g in groups:
        c = trace.job_counts(run.spark, g)
        skews += c.pop("skews")
        for k, v in c.items():
            total[k] = total.get(k, 0) + v
    out = {f"spark.{k}": v for k, v in total.items()}
    out["spark.exec_s"] = exec_s
    out["spark.core_busy"] = total.get("task_run_s", 0) / max(1e-9, exec_s * run.box["cores"])
    out["spark.task_skew"] = median(skews)
    return out


# -- stream_paced ---------------------------------------------------------------
class Generator(threading.Thread):
    """Open-loop releases: file k is renamed into the landing directory at
    t0 + k * interval by the wall clock, never waiting for the engine."""

    def __init__(self, names: list[str], staging: str, landing: str, t0: float):
        super().__init__(daemon=True)
        self.names, self.staging, self.landing, self.t0 = names, staging, landing, t0
        self.due: dict[str, float] = {}
        self.released: dict[str, float] = {}
        self.error: OSError | None = None

    def run(self):
        try:
            for k, name in enumerate(self.names):
                due = self.t0 + k * INTERVAL_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.rename(
                    os.path.join(self.staging, name), os.path.join(self.landing, name)
                )
                self.due[name] = due
                self.released[name] = time.time()
        except OSError as e:  # reported by the caller after join
            self.error = e


def backlog_max(released: dict[str, float], committed: dict[str, float]) -> tuple[int, int, int]:
    """Files released but not yet committed, sampled at each release:
    (max over the run, max over its first half, max over its second half)."""
    names = sorted(released, key=released.get)
    depth = []
    for k, name in enumerate(names):
        now = released[name]
        depth.append(sum(
            1 for j in names[: k + 1] if committed.get(j, float("inf")) > now
        ))
    half = len(depth) // 2
    return max(depth, default=0), max(depth[:half], default=0), max(depth[half:], default=0)


def run_paced(run) -> tuple[dict, dict, dict]:
    from stream_processing_project_spark.sources.fixtures import load_table

    data = run.data_dir()
    corpus = staged_corpus(data)
    all_files = sorted(os.listdir(corpus))
    n_files = max(10, int(round(run.seconds / INTERVAL_S)))
    if n_files + WARM_FILES > len(all_files):
        raise SystemExit(f"--seconds too long for the {len(all_files)}-file corpus")
    first = random.Random(run.seed).randrange(WARM_FILES, len(all_files) - n_files + 1)
    names = all_files[first:first + n_files]
    staging = os.path.join(run.tmp, "staging")
    landing = os.path.join(run.tmp, "landing")
    state = {}

    def stage(spark):
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        for name in names:
            shutil.copyfile(os.path.join(corpus, name), os.path.join(staging, name))
        state["dim"] = load_table(spark, data, "customer")

    def warm(spark):
        warm_dir = os.path.join(run.tmp, "warm")
        shutil.rmtree(warm_dir, ignore_errors=True)
        os.makedirs(warm_dir)
        for name in all_files[:WARM_FILES]:
            shutil.copyfile(os.path.join(corpus, name), os.path.join(warm_dir, name))
        # one file per trigger: the warm-up runs the per-batch path several times
        frame = window_frame(run, warm_dir, "part-*.parquet", state["dim"], 1)
        replay(run, frame, f"warm_{len(run.setup_times)}")
        spark.catalog.dropTempView(f"warm_{len(run.setup_times)}")

    run.setup(stage, warm)
    os.makedirs(landing)
    frame = window_frame(run, landing, "part-*.parquet", state["dim"])
    q, ckpt = start(run, frame, "paced", TRIGGER_S)
    # the first release half a release interval past a trigger instant at
    # least one trigger away, so the query's first (empty) batch is done
    t0 = (math.floor(time.time() / TRIGGER_S) + 2) * TRIGGER_S + INTERVAL_S / 2
    gen = Generator(names, staging, landing, t0)
    t_run = time.perf_counter()
    try:
        with run.tracer.span("gen.release"):
            gen.start()
            gen.join(timeout=run.seconds + 60)
        with run.tracer.span("streaming.process_all_available", query="paced"):
            q.processAllAvailable()
    finally:
        q.stop()
    exec_s = time.perf_counter() - t_run
    if gen.error is not None or gen.is_alive():
        raise RuntimeError(f"generator failed: {gen.error!r}")

    progress = progress_of(q)
    file_batch = read_source_log(os.path.join(ckpt, "sources", "0"))
    commit_end = commit_times(os.path.join(ckpt, "commits"))
    lags, missing = file_lags_ms(gen.due, file_batch, commit_end)
    run.attempted += len(names)
    for name in missing:
        run.fail("file", f"{name} released but never committed")
    committed = {
        n: commit_end[file_batch[n]] for n in names if n in lags
    }
    tables = [pq.read_table(os.path.join(landing, n)) for n in names]
    check_windows(
        run, run.spark.table("paced").collect(),
        expected_windows(tables, committed_watermark_s(ckpt)),
    )

    lag_values = list(lags.values())
    p_tail, v_tail, n = tail(lag_values)
    span_s = max(committed.values(), default=0) - gen.t0
    events = sum(t.num_rows for t in tables)
    late = [gen.released[k] - gen.due[k] for k in gen.due]
    for k in gen.due:
        if gen.released[k] - gen.due[k] > LATE_LIMIT_S:
            run.fail("generator", f"{k} released {gen.released[k] - gen.due[k]:.3f} s late")
    bl_max, bl_first, bl_second = backlog_max(gen.released, committed)
    metrics = {
        "op_p50_ms": median(lag_values),
        "op_tail_ms": v_tail,
        "throughput_per_s": events / span_s if span_s > 0 else 0.0,
    }
    report = {
        "lag_p50_ms": median(lag_values),
        "lag_tail_ms": v_tail,
        "lag_tail_pct": p_tail,
        "lag_samples": n,
        "offered_events_per_s": FILE_EVENTS / INTERVAL_S,
        "files_released": len(names),
        "first_file": names[0],
        "gen_late_ms_max": 1e3 * max(late, default=0.0),
        "backlog_files_max": bl_max,
        "backlog_files_max_first_half": bl_first,
        "backlog_files_max_second_half": bl_second,
    }
    layer = {}
    if run.trace:
        layer = {
            **stream_layers(run, progress, [str(q.runId)]),
            **state_layers(progress),
            **spark_layers(run, [str(q.runId)], exec_s),
            "gen.late_ms_max": report["gen_late_ms_max"],
            "gen.backlog_files_max": bl_max,
        }
    return metrics, report, layer


# -- stream_bulk ----------------------------------------------------------------
def run_bulk(run) -> tuple[dict, dict, dict]:
    from stream_processing_project_spark.sources.fixtures import load_table

    data = run.data_dir()
    tiny = run.data_dir(0.001)
    state = {}

    def stage(spark):
        state["dim"] = load_table(spark, data, "customer")
        state["tiny_dim"] = load_table(spark, tiny, "customer")

    def warm(spark):
        for path, frame in (
            ("w", window_frame(run, tiny, "events.parquet", state["tiny_dim"])),
            ("d", dedup_frame(run, tiny)),
        ):
            name = f"warm_{path}{len(run.setup_times)}"
            replay(run, frame, name)
            spark.catalog.dropTempView(name)

    run.setup(stage, warm)
    events = pq.read_table(os.path.join(data, "events.parquet"))
    n_events = events.num_rows
    n_distinct = len(pc.unique(events["event_id"]))

    def one(path: str, name: str):
        frame = (
            window_frame(run, data, "events.parquet", state["dim"]) if path == "ingest"
            else dedup_frame(run, data)
        )
        return replay(run, frame, name)

    # checked replays: one per path, outside the timed section
    t_check = time.perf_counter()
    expected_rows = {}
    watermark = one("ingest", "check_ingest")[3]
    rows = run.spark.table("check_ingest").collect()
    check_windows(run, rows, expected_windows([events], watermark))
    expected_rows["ingest"] = len(rows)
    run.spark.catalog.dropTempView("check_ingest")
    one("dedup", "check_dedup")
    got = run.spark.table("check_dedup").count()
    run.attempted += 1
    if got != n_distinct:
        run.fail("dedup", f"{got} rows out, {n_distinct} distinct event ids in")
    expected_rows["dedup"] = n_distinct
    run.spark.catalog.dropTempView("check_dedup")
    check_s = time.perf_counter() - t_check

    rng = random.Random(run.seed)
    deadline = time.perf_counter() + run.seconds
    pairs = []  # {path: (wall, progress, run id, watermark)}
    while not pairs or time.perf_counter() < deadline:
        k = len(pairs)
        paths = ["ingest", "dedup"]
        rng.shuffle(paths)
        rec = {}
        for path in paths:
            name = f"{path}_{k}"
            run.attempted += 1
            try:
                rec[path] = one(path, name)
                got = run.spark.table(name).count()
                if got != expected_rows[path]:
                    run.fail(path, f"replay {k}: {got} rows, expected {expected_rows[path]}")
            except Exception as e:  # counted, and the run goes on
                run.fail(path, repr(e))
            finally:
                run.spark.catalog.dropTempView(name)
        pairs.append(rec)

    ingest = [r["ingest"] for r in pairs if "ingest" in r]
    dedup = [r["dedup"] for r in pairs if "dedup" in r]
    walls = [r["ingest"][0] + r["dedup"][0] for r in pairs if len(r) == 2]
    p_tail, v_tail, n = tail(walls)
    metrics = {
        "op_p50_ms": median(walls) * 1e3,
        "op_tail_ms": v_tail * 1e3,
        "throughput_per_s": n_events * (len(ingest) + len(dedup))
        / sum(r[0] for r in ingest + dedup),
    }
    report = {
        "ingest_eps": n_events / median([r[0] for r in ingest]),
        "dedup_eps": n_events / median([r[0] for r in dedup]),
        "replay_pair_p50_s": median(walls),
        "replay_pair_tail_s": v_tail,
        "replay_pair_tail_pct": p_tail,
        "replay_pair_samples": n,
        "check_s": check_s,
    }
    layer = {}
    if run.trace:
        # counters are read after the timed loop, so no round pays for them
        layer = {
            **stream_layers(run, [p for r in ingest for p in r[1]], [r[2] for r in ingest]),
            **state_layers(dedup[-1][1] if dedup else []),
            **spark_layers(
                run, [r[2] for r in ingest + dedup], sum(r[0] for r in ingest + dedup)
            ),
            "streaming.ingest_eps": report["ingest_eps"],
            "streaming.dedup_eps": report["dedup_eps"],
        }
    return metrics, report, layer
