"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The helpers are tested directly; the command is tested end to end at
small scale factors (0.001, or 0.01 where a workload needs more than
1 000 events), each run in its own process like the real thing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import batch, stats  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402
from perfbench.stream import backlog_max  # noqa: E402

SMALL = {"olap_joins": 0.001, "pipeline_ops": 0.01, "stream_paced": 0.01,
         "stream_bulk": 0.001}


def run_bench(workload, *extra, trace=0, cwd=ROOT, seconds=1):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace),
           "--scale", str(SMALL[workload]), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def result_lines(p):
    lines = p.stdout.strip().splitlines()
    report = json.loads(lines[-2].removeprefix("perfbench "))
    return report, json.loads(lines[-1])


# -- helpers --------------------------------------------------------------------
@pytest.mark.parametrize(
    "n, pct",
    [(19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_picks_highest_percentile_with_ten_samples_beyond(n, pct):
    values = list(range(1, n + 1))
    p, v, count = stats.tail(values)
    assert (p, count) == (pct, n)
    assert sum(1 for x in values if x > v) >= 10 or n < 20
    # the next rung up would leave fewer than ten beyond it
    higher = [q for q in stats.TAIL_LADDER if q > p]
    if higher:
        above = stats.percentile(values, min(higher))
        assert sum(1 for x in values if x > above) < 10


def _write_log(path, version, entries):
    with open(path, "w") as f:
        f.write(version + "\n" + "".join(json.dumps(e) + "\n" for e in entries))


def test_file_to_batch_lag_mapping_on_synthetic_source_log(tmp_path):
    src = tmp_path / "sources" / "0"
    commits = tmp_path / "commits"
    src.mkdir(parents=True)
    commits.mkdir()
    entry = lambda name, b: {  # noqa: E731
        "path": f"file:///landing/{name}", "timestamp": 0, "batchId": b, "action": "add",
    }
    _write_log(src / "0", "v1", [entry("a.parquet", 0)])
    _write_log(src / "1", "v1", [entry("b.parquet", 1), entry("c.parquet", 1)])
    # a compacted entry repeats earlier batches' files with their own ids
    _write_log(src / "2.compact", "v1",
               [entry("a.parquet", 0), entry("b.parquet", 1), entry("c.parquet", 1),
                entry("d.parquet", 2)])
    _write_log(src / "3", "v1", [entry("e.parquet", 3)])
    for b, t in ((0, 100.5), (1, 101.0), (2, 102.25)):  # batch 3 never commits
        (commits / str(b)).write_text("v1\n{}\n")
        os.utime(commits / str(b), ns=(int(t * 1e9), int(t * 1e9)))
    (commits / ".0.crc").write_text("")

    file_batch = stats.read_source_log(str(src))
    assert file_batch == {"a.parquet": 0, "b.parquet": 1, "c.parquet": 1,
                          "d.parquet": 2, "e.parquet": 3}
    scheduled = {"a.parquet": 100.0, "b.parquet": 100.2, "c.parquet": 100.4,
                 "d.parquet": 100.6, "e.parquet": 100.8, "f.parquet": 101.0}
    lags, missing = stats.file_lags_ms(scheduled, file_batch,
                                       stats.commit_times(str(commits)))
    assert lags == pytest.approx({"a.parquet": 500.0, "b.parquet": 800.0,
                                  "c.parquet": 600.0, "d.parquet": 1650.0})
    assert sorted(missing) == ["e.parquet", "f.parquet"]


def test_backlog_counts_released_but_uncommitted_files():
    released = {"a": 0.0, "b": 0.2, "c": 0.4, "d": 0.6}
    committed = {"a": 0.3, "b": 0.3, "c": 0.9, "d": 0.9}
    # at 0.0: a; at 0.2: a, b; at 0.4: c; at 0.6: c, d
    assert backlog_max(released, committed) == (2, 2, 2)


def test_result_hash_ignores_row_and_column_order_and_float_noise():
    cols = ["b", "a"]
    rows = [(1, 0.1 + 0.2), (2, 1.5)]
    same = stats.result_hash(["a", "b"], [(1.5, 2), (0.3, 1)])
    assert stats.result_hash(cols, rows) == same
    assert stats.result_hash(cols, [(1, 0.3), (2, 1.51)]) != same
    assert stats.result_hash(cols, rows[:1])[0] == 1


def test_benchmark_json_names_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- the command ------------------------------------------------------------------
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_is_printed_with_its_unit(workload):
    p = run_bench(workload)
    assert p.returncode == 0, p.stderr[-3000:]
    report, last = result_lines(p)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in last["metrics"].values())
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert report["error_rate"] == 0.0 and report["seed"] == 7
    assert report["box"]["shuffle_partitions"] == report["box"]["cores"]
    tail_key = {"olap_joins": "query", "pipeline_ops": "query",
                "stream_paced": "lag", "stream_bulk": "replay_pair"}[workload]
    assert {f"{tail_key}_tail_pct", f"{tail_key}_samples"} <= set(report["report"])


@pytest.mark.parametrize("workload", ["olap_joins", "stream_paced"])
def test_traced_run_prints_every_per_layer_metric(workload):
    p = run_bench(workload, trace=1, seconds=2)
    assert p.returncode == 0, p.stderr[-3000:]
    _, last = result_lines(p)
    assert {k: v["unit"] for k, v in last["metrics"].items()} == PER_LAYER
    m = {k: v["value"] for k, v in last["metrics"].items()}
    assert m["host.canary_start_s"] > 0 and m["host.canary_end_s"] > 0
    if workload == "olap_joins":
        assert m["plans.build_jobs"] > 0 and m["spark.tasks"] > 0
    else:
        assert m["streaming.batches"] > 0 and m["gen.backlog_files_max"] >= 1


def test_wrong_expected_hash_raises_error_rate(tmp_path):
    expected = json.load(open(batch.EXPECTED))
    scale = f"{SMALL['olap_joins']:g}"
    expected[scale]["olap_region_revenue"][1] = "0" * 16
    path = tmp_path / "expected.json"
    path.write_text(json.dumps(expected))
    p = run_bench("olap_joins", "--expected", str(path))
    assert p.returncode == 0, p.stderr[-3000:]
    report, last = result_lines(p)
    assert not last["correct"] and last["failed"] == 1
    assert report["error_rate"] == pytest.approx(1 / last["attempted"])
    assert "olap_region_revenue" in report["failures"][0]


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench("olap_joins", cwd=str(tmp_path))
    assert p.returncode != 0
    assert "metrics" not in p.stdout
