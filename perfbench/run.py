"""The repository benchmark: one workload per process, on local[nproc].

    python3 perfbench/run.py --workload olap_joins --seed 1 --seconds 15 --trace 0

Builds its inputs (deterministic fixture tables, cached under
.perfbench/ in the checkout), sets up the session, checks outputs, runs
the workload for --seconds, and prints a report line and, last, one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, including the tracing overhead on each end-to-end metric.
Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import Run  # noqa: E402
from perfbench.trace import peak_rss_mb  # noqa: E402

WORKLOADS = ("olap_joins", "pipeline_ops", "stream_paced", "stream_bulk")
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.load_table_s": "s", "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.build_share": "ratio", "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_busy": "ratio", "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.fetch_wait_s": "s", "spark.spill_bytes": "B",
    "spark.op.join_build_s": "s", "spark.op.scan_s": "s",
    "spark.op.python_bytes": "B", "spark.op.agg_s": "s", "spark.op.sort_s": "s",
    "streaming.batches": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.overhead_ms_p50": "ms", "streaming.latest_offset_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms", "streaming.tasks_per_batch": "count",
    "streaming.add_batch_ms_p50": "ms", "streaming.per_event_us": "us",
    "streaming.rows_per_batch_p50": "count", "streaming.core_busy": "ratio",
    "streaming.ingest_eps": "1/s", "streaming.dedup_eps": "1/s",
    "streaming.state.rows_total": "count", "streaming.state.memory_bytes": "B",
    "streaming.state.commit_ms_p50": "ms", "streaming.state.updates_ms_p50": "ms",
    "streaming.state.rows_updated": "count",
    "gen.late_ms_max": "ms", "gen.backlog_files_max": "count",
    "host.canary_start_s": "s", "host.canary_end_s": "s",
    "process.peak_rss_mb": "MB",
    # traced-minus-untraced rounds of the same run; set-up is traced in
    # every cycle and peak RSS is run-wide, so neither has an overhead figure
    **{f"trace.overhead.{k}": END_TO_END[k]
       for k in ("op_p50_ms", "op_tail_ms", "throughput_per_s")},
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.1,
                   help="fixture scale factor (default 0.1)")
    p.add_argument("--expected", default=None,
                   help="expectations file (default perfbench/expected.json)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import stream_processing_project_spark  # noqa: F401
        import bench  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2
    from perfbench import batch, stream

    run = Run(
        root=ROOT, workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), scale=args.scale, t_process=T_PROCESS,
        expected_path=args.expected,
    )
    body = {
        "olap_joins": batch.run_batch, "pipeline_ops": batch.run_batch,
        "stream_paced": stream.run_paced, "stream_bulk": stream.run_bulk,
    }[args.workload]
    try:
        metrics, report, layer = body(run)
        run.layer["host.canary_end_s"] = run.canary()
        report["peak_rss_mb"] = layer["process.peak_rss_mb"] = peak_rss_mb(run.spark)
        setup = run.setup_metrics()
        metrics["setup_s"] = setup.pop("setup_s")
        layer.update(setup)
        layer.update(run.layer)
        versions = run.versions()
    finally:
        run.shutdown()

    if run.trace:
        out_names, values = PER_LAYER, {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
    else:
        out_names, values = END_TO_END, {k: float(metrics[k]) for k in END_TO_END}
    error_rate = run.failed / max(1, run.attempted)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "box": run.box,
        "versions": versions, "setup_cycles_s": run.setup_times,
        "end_to_end": {k: [metrics[k], u] for k, u in END_TO_END.items()},
        "report": report, "error_rate": error_rate, "failures": run.failures,
        "host_canary_s": {k: run.layer[k] for k in ("host.canary_start_s", "host.canary_end_s")},
    }
    if run.trace:
        record["per_layer"] = {k: [values[k], u] for k, u in PER_LAYER.items()}
        record["self_time_s"] = run.tracer.self_times()
        record["spans"] = run.tracer.spans
    out_dir = os.path.join(run.base, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run.run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    record.pop("spans", None)
    print("perfbench " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": out_names[k]} for k in out_names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
