"""Tracing for the benchmark's traced runs.

Spans are recorded by the benchmark's own code around each call it makes
into a layer's public functions; nothing inside the engine is edited.
The one interposition is `traced_load_table`, which swaps the fixture
loader for a timing wrapper in every engine module that imported it, for
the duration of a traced section only.

Counts come from what Spark already exposes in process: the core status
store (jobs, stages, tasks per job group) and the SQL status store
(per-operator SQL metrics of each execution).
"""

from __future__ import annotations

import contextlib
import re
import sys
import time

from perfbench.stats import median


class Tracer:
    """In-memory spans: name, start, end, parent span id, run id.

    A disabled tracer records nothing, so the untraced paths run the
    same code with no span bookkeeping."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover (spans of one thread nest without overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out


@contextlib.contextmanager
def traced_load_table(tracer: Tracer):
    """Route every engine call of sources.fixtures.load_table through a
    span named `sources.load_table` while the block runs."""
    from stream_processing_project_spark.sources import fixtures

    original = fixtures.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("sources.load_table", table=name):
            return original(spark, sf_dir, name)

    holders = [
        m for m in list(sys.modules.values())
        if getattr(m, "__name__", "").startswith("stream_processing_project_spark")
        and getattr(m, "load_table", None) is original
    ]
    for m in holders:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in holders:
            m.load_table = original


def _jlist(spark, seq) -> list:
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    return list(conv.asJava(seq))


def job_counts(spark, group: str) -> dict:
    """Jobs, stages, tasks and stage-level task metrics of one job group,
    read from the core status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
        "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0, "fetch_wait_s": 0.0, "spill_bytes": 0,
        "skews": [],
    }
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        for sid in _jlist(spark, store.job(jid).stageIds()):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.numCompleteTasks() >= 2:
                runs = [
                    t.taskMetrics().get().executorRunTime()
                    for t in _jlist(spark, store.taskList(sid, st.attemptId(), 100_000))
                    if t.taskMetrics().isDefined()
                ]
                if runs and median(runs) > 0:
                    out["skews"].append(max(runs) / median(runs))
    return out


# SQL metric (node name fragment, metric name) -> benchmark operator metric
_OP_METRICS = (
    ("HashJoin", "time to build hash map", "join_build_s"),
    ("BroadcastExchange", "time to build", "join_build_s"),
    ("Scan", "scan time", "scan_s"),
    ("Aggregate", "time in aggregation build", "agg_s"),
    ("Sort", "sort time", "sort_s"),
    ("", "data sent to Python workers", "python_bytes"),
    ("", "data returned from Python workers", "python_bytes"),
)
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_RECENT = 500
_VALUE = re.compile(r"\s*([0-9][0-9.,]*)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric ('405 ms', '9.1 MiB', or the
    'total (min, med, max ...)' two-line form), in seconds or bytes."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def last_execution_id(spark) -> int:
    sql = spark._jsparkSession.sharedState().statusStore()
    n = sql.executionsCount()
    if n == 0:
        return -1
    return _jlist(spark, sql.executionsList(n - 1, 1))[0].executionId()


def sql_op_totals(spark, after_execution_id: int) -> dict[str, float]:
    """Operator metric totals over every SQL execution newer than
    `after_execution_id`."""
    sql = spark._jsparkSession.sharedState().statusStore()
    out = {name: 0.0 for _, _, name in _OP_METRICS}
    n = sql.executionsCount()
    # executions are listed oldest first; the ones of interest are at the end
    for ex in _jlist(spark, sql.executionsList(max(0, n - _RECENT), _RECENT)):
        eid = ex.executionId()
        if eid <= after_execution_id:
            continue
        values = {}
        it = sql.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        for node in _jlist(spark, sql.planGraph(eid).allNodes()):
            for metric in _jlist(spark, node.metrics()):
                text = values.get(metric.accumulatorId())
                if text is None:
                    continue
                for frag, mname, key in _OP_METRICS:
                    if frag in node.name() and metric.name() == mname:
                        out[key] += parse_sql_metric(text)
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024.0
