"""Capture .explain('formatted') for every bench-tagged query (or only
the names passed with --only a,b,c) into <out_dir>/<name>_<suffix>.txt,
plus a one-line-per-query plan-shape audit (Exchange count, join
strategies, Python eval nodes, scans) on stdout.

Usage:
    python scripts/capture_plans.py plans/r12 before    # all bench queries
    python scripts/capture_plans.py plans/r12 after --only cdc_upsert_materialize
"""
from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stream_processing_project_spark.plans.registry import all_queries  # noqa: E402
from stream_processing_project_spark.session import default_sf_dir, get_spark  # noqa: E402


def plan_audit(plan: str) -> dict:
    def count(pat: str) -> int:
        return len(re.findall(pat, plan))

    return {
        "exchange": count(r"\bExchange\b"),
        "reused_exchange": count(r"ReusedExchange"),
        "smj": count(r"SortMergeJoin"),
        "bhj": count(r"BroadcastHashJoin"),
        "shj": count(r"ShuffledHashJoin"),
        "bnlj": count(r"BroadcastNestedLoopJoin"),
        "cartesian": count(r"CartesianProduct"),
        "sort": count(r"\bSort\b"),
        "window": count(r"\bWindow\b|RunningWindowFunction"),
        "py_eval": count(r"BatchEvalPython|ArrowEvalPython"),
        "map_py": count(r"MapInPandas|PythonMapInArrow|FlatMapGroupsInPandas"),
        "scan": count(r"Scan parquet|FileScan"),
        "agg": count(r"HashAggregate|ObjectHashAggregate|SortAggregate"),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir", help="directory the plan dumps are written to")
    ap.add_argument("suffix", nargs="?", default="before")
    ap.add_argument("--only", help="comma-separated query names")
    args = ap.parse_args()
    out_dir, only = args.out_dir, set(args.only.split(",")) if args.only else None
    sf_dir = default_sf_dir()
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    qs = {
        n: q
        for n, q in sorted(all_queries().items())
        if (only and n in only) or (not only and "bench" in q.tags)
    }
    for name, q in qs.items():
        df = q.builder(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        with open(os.path.join(out_dir, f"{name}_{args.suffix}.txt"), "w") as f:
            f.write(plan)
        a = plan_audit(plan)
        flags = " ".join(f"{k}={v}" for k, v in a.items() if v)
        print(f"{name:38s} {flags}")
    spark.stop()


if __name__ == "__main__":
    main()
