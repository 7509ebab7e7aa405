"""Batch workloads: closed-loop passes over registry queries, each query
built and forced into the noop sink, one client.

olap_joins   the bench-tagged queries that read two or more fixture
             tables: builder (schema inference) and join planning heavy.
pipeline_ops the other bench-tagged queries, one table each: execution
             heavy (UDFs, pinned subtrees, windows).
"""

from __future__ import annotations

import json
import os
import random
import time
from contextlib import nullcontext

from perfbench import trace
from perfbench.stats import median, result_hash, tail

OLAP_JOINS = (
    "flagship_topk_engagement", "olap_asof_last_order", "olap_exists_subquery",
    "olap_market_share", "olap_min_cost_supplier", "olap_range_join_price_bands",
    "olap_region_revenue", "olap_returned_items", "olap_shipping_priority",
    "olap_small_quantity_revenue", "olap_top_brands",
)
# fixture tables each workload's queries read, loaded once per set-up
STAGED_TABLES = {
    "olap_joins": ("customer", "events", "lineitem", "nation", "orders",
                   "part", "region", "supplier"),
    "pipeline_ops": ("documents", "embeddings", "events", "lineitem",
                     "orders", "part"),
}
# one pass leaves eleven samples, whose median swings with the box
MIN_PASSES = 2
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def workload_queries(workload: str) -> list:
    from stream_processing_project_spark.plans.registry import all_queries

    bench = {n: q for n, q in all_queries().items() if "bench" in q.tags}
    if workload == "olap_joins":
        names = OLAP_JOINS
    else:
        names = sorted(set(bench) - set(OLAP_JOINS))
    return [bench[n] for n in names]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def order(queries: list, seed: int, pass_no: int) -> list:
    """The pass's query order: a permutation drawn from the workload seed."""
    out = list(queries)
    random.Random(f"{seed}:{pass_no}").shuffle(out)
    return out


def load_expected(path: str, scale: float) -> dict:
    with open(path) as f:
        return json.load(f).get(f"{scale:g}", {})


def check_pass(run, queries: list, data: str, expected: dict) -> None:
    """Build and collect every query once, comparing row count and value
    hash to the recorded expectation. Also the codegen warm pass: it runs
    before the timed passes and is not timed."""
    for q in order(queries, run.seed, -1):
        run.attempted += 1
        try:
            df = q.builder(run.spark, data)
            got = list(result_hash(df.columns, df.collect()))
        except Exception as e:  # a failing query is a counted failure
            run.fail(q.name, repr(e))
            continue
        if expected.get(q.name) != got:
            run.fail(q.name, f"expected {expected.get(q.name)}, got {got}")


class PassRecord:
    def __init__(self, traced: bool):
        self.traced = traced
        self.walls: dict[str, float] = {}
        self.build_s = self.plan_s = self.exec_s = 0.0
        self.build_jobs = 0
        self.counts: dict[str, float] = {}
        self.skews: list[float] = []
        self.ops: dict[str, float] = {}

    @property
    def wall(self) -> float:
        return sum(self.walls.values())


def _run_query(run, q, data: str, rec: PassRecord, pass_no: int) -> None:
    spark, tracer = run.spark, run.tracer
    if not rec.traced:
        t0 = time.perf_counter()
        force(q.builder(spark, data))
        rec.walls[q.name] = time.perf_counter() - t0
        return
    sc = spark.sparkContext
    build_group = f"{run.run_id}:build:{pass_no}:{q.name}"
    exec_group = f"{run.run_id}:exec:{pass_no}:{q.name}"
    first_exec = trace.last_execution_id(spark)
    t0 = time.perf_counter()
    sc.setJobGroup(build_group, q.name)
    with tracer.span("plans.build", query=q.name):
        df = q.builder(spark, data)
    t1 = time.perf_counter()
    sc.setJobGroup(exec_group, q.name)
    with tracer.span("spark.plan", query=q.name):
        df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    with tracer.span("spark.exec", query=q.name):
        force(df)
    t3 = time.perf_counter()
    sc.setJobGroup(f"{run.run_id}:idle", "idle")
    rec.walls[q.name] = t3 - t0
    rec.build_s += t1 - t0
    rec.plan_s += t2 - t1
    rec.exec_s += t3 - t2
    # counts are read after the query's clock stops
    rec.build_jobs += len(sc.statusTracker().getJobIdsForGroup(build_group))
    counts = trace.job_counts(spark, exec_group)
    rec.skews += counts.pop("skews")
    for k, v in counts.items():
        rec.counts[k] = rec.counts.get(k, 0) + v
    for k, v in trace.sql_op_totals(spark, first_exec).items():
        rec.ops[k] = rec.ops.get(k, 0.0) + v


def timed_passes(run, queries: list, data: str) -> list[PassRecord]:
    """Whole passes, at least MIN_PASSES, then more while the previous
    pass's duration still fits in run.seconds; every pass times the same
    query set. In a traced run the passes alternate traced and untraced."""
    t_start = time.perf_counter()
    passes: list[PassRecord] = []
    last = 0.0
    while (len(passes) < MIN_PASSES
           or time.perf_counter() - t_start + last <= run.seconds):
        pass_no = len(passes)
        t0 = time.perf_counter()
        rec = PassRecord(traced=run.trace and pass_no % 2 == 0)
        passes.append(rec)
        ctx = trace.traced_load_table(run.tracer) if rec.traced else nullcontext()
        with ctx:
            for q in order(queries, run.seed, pass_no):
                run.attempted += 1
                try:
                    _run_query(run, q, data, rec, pass_no)
                except Exception as e:  # counted, and the pass goes on
                    run.fail(q.name, repr(e))
        last = time.perf_counter() - t0
    return passes


def end_to_end(passes: list[PassRecord], n_queries: int) -> tuple[dict, dict]:
    """(metrics, report): per-query latency pooled over passes, pass wall
    time, queries per second."""
    walls = [w for p in passes for w in p.walls.values()]
    full = [p.wall for p in passes]
    p_tail, v_tail, n = tail(walls)
    metrics = {
        "op_p50_ms": median(walls) * 1e3,
        "op_tail_ms": v_tail * 1e3,
        "throughput_per_s": len(walls) / sum(walls),
    }
    report = {
        "pass_s": median(full),
        "passes": len(full),
        "query_p50_s": median(walls),
        "query_tail_s": v_tail,
        "query_tail_pct": p_tail,
        "query_samples": n,
        "queries_per_pass": n_queries,
    }
    return metrics, report


def layer_metrics(run, passes: list[PassRecord]) -> dict:
    traced = [p for p in passes if p.traced]
    cores = run.box["cores"]

    def med(f):
        return median([f(p) for p in traced])

    out = {
        "sources.load_table_s": median(run.tracer.durations("sources.load_table")),
        "plans.build_s": med(lambda p: p.build_s),
        "plans.build_jobs": med(lambda p: p.build_jobs),
        "plans.build_share": med(lambda p: p.build_s / p.wall),
        "spark.plan_s": med(lambda p: p.plan_s),
        "spark.exec_s": med(lambda p: p.exec_s),
        "spark.core_busy": med(
            lambda p: p.counts.get("task_run_s", 0) / (p.exec_s * cores)
        ),
        "spark.task_skew": median([s for p in traced for s in p.skews]),
    }
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
              "spill_bytes"):
        out[f"spark.{k}"] = med(lambda p: p.counts.get(k, 0))
    for k in ("join_build_s", "scan_s", "python_bytes", "agg_s", "sort_s"):
        out[f"spark.op.{k}"] = med(lambda p: p.ops.get(k, 0.0))
    return out


def run_batch(run) -> tuple[dict, dict, dict]:
    from stream_processing_project_spark.sources.fixtures import load_table

    queries = workload_queries(run.workload)
    data = run.data_dir()
    expected = load_expected(run.expected_path or EXPECTED, run.scale)

    def stage(spark):
        for t in STAGED_TABLES[run.workload]:
            load_table(spark, data, t).schema

    def warm(spark):
        force(queries[0].builder(spark, data))

    run.setup(stage, warm)
    t0 = time.perf_counter()
    check_pass(run, queries, data, expected)
    check_s = time.perf_counter() - t0
    passes = timed_passes(run, queries, data)

    untraced = [p for p in passes if not p.traced]
    metrics, report = end_to_end(untraced or passes, len(queries))
    report["check_s"] = check_s
    layer = {}
    if run.trace:
        layer = layer_metrics(run, passes)
        traced_m, _ = end_to_end([p for p in passes if p.traced], len(queries))
        if untraced:
            for k, v in traced_m.items():
                layer[f"trace.overhead.{k}"] = v - metrics[k]
    return metrics, report, layer
