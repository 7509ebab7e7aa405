"""Interleaved A/B of the repository benchmark against a PRIOR GIT REF.

Usage:
    python scripts/ab_bench.py <git_ref> <workload> [--pairs 10] [--seconds 15]
                               [--trace 0|1]

Materializes <git_ref> with `git archive` into a temp dir (the parent)
and runs `perfbench/run.py` alternately from that copy and from the
working tree (the change), one run at a time. Pair i (from 1) uses
seed i on both sides; the parent runs first in odd pairs, the
change in even ones. The copy's `.perfbench/data` is a link to the working
tree's, so both sides read the same generated inputs and they are built
at most once. `perfbench/` itself is run as each tree has it.

Prints every pair, then per metric each side's median and quartiles, the
change's wins (ties count for neither side) and the verdict of the
choosing-metrics rule: a gain (or a loss) only when one side wins at
least nine tenths of the pairs and the medians differ by more than the
parent's interquartile range. Metric names and directions are read
from the working tree's BENCHMARK.json (`end_to_end` for --trace 0,
`per_layer` for --trace 1).
"""
from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) of a non-empty sample, inclusive method."""
    values = sorted(values)
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs, better: str) -> dict:
    """Summary of one metric over (parent, change) pairs.

    `better` is "lower" or "higher". A pair is a win for the side whose
    value is better; equal values count for neither. The verdict is
    "gain" when the change wins at least nine tenths of all pairs and its
    median is better than the parent's by more than the parent's
    interquartile range, "loss" for the mirror case, else "no change
    shown"."""
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
    sign = 1.0 if better == "higher" else -1.0
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    p_q1, p_med, p_q3 = quartiles(parent)
    c_q1, c_med, c_q3 = quartiles(change)
    iqr = p_q3 - p_q1
    need = math.ceil(0.9 * len(pairs))
    gain = sign * (c_med - p_med)
    if wins >= need and gain > iqr:
        verdict = "gain"
    elif losses >= need and -gain > iqr:
        verdict = "loss"
    else:
        verdict = "no change shown"
    return {
        "parent": (p_q1, p_med, p_q3),
        "change": (c_q1, c_med, c_q3),
        "parent_iqr": iqr,
        "wins": wins,
        "losses": losses,
        "ties": len(pairs) - wins - losses,
        "verdict": verdict,
    }


def metric_directions(trace: int) -> dict[str, str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] for m in spec["per_layer" if trace else "end_to_end"]}


def archive(ref: str) -> str:
    """Materialize `ref` into a fresh temp dir whose `.perfbench/data`
    links to the working tree's."""
    out = tempfile.mkdtemp(prefix="ab_bench_")
    subprocess.run(
        f"git --git-dir={REPO}/.git archive {ref} | tar -x -C {out}",
        shell=True,
        check=True,
    )
    data = os.path.join(REPO, ".perfbench", "data")
    os.makedirs(data, exist_ok=True)
    os.makedirs(os.path.join(out, ".perfbench"), exist_ok=True)
    os.symlink(data, os.path.join(out, ".perfbench", "data"))
    return out


def run_once(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One perfbench run from `tree`; returns its contract JSON line."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"perfbench failed in {tree} (exit {proc.returncode}):\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("ref")
    p.add_argument("workload")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    directions = metric_directions(args.trace)
    parent_tree = archive(args.ref)
    values: dict[str, list[tuple[float, float]]] = {m: [] for m in directions}
    failed = 0
    try:
        for i in range(args.pairs):
            seed = i + 1
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                tree = parent_tree if side == "parent" else REPO
                got[side] = run_once(tree, args.workload, seed, args.seconds, args.trace)
                failed += got[side]["failed"]
            cells = []
            for m in directions:
                pv = got["parent"]["metrics"][m]["value"]
                cv = got["change"]["metrics"][m]["value"]
                values[m].append((pv, cv))
                cells.append(f"{m} {pv:.4g}->{cv:.4g}")
            print(
                f"pair {i + 1} seed {seed} first={order[0]} "
                f"failed {got['parent']['failed']}/{got['change']['failed']}: "
                + ", ".join(cells),
                flush=True,
            )
    finally:
        shutil.rmtree(parent_tree, ignore_errors=True)

    print(f"\n{args.workload} vs {args.ref}, {args.pairs} pairs, failed operations {failed}")
    for m, better in directions.items():
        s = summarize(values[m], better)
        (pq1, pm, pq3), (cq1, cm, cq3) = s["parent"], s["change"]
        print(
            f"{m} ({better} is better): parent {pm:.4g} [{pq1:.4g}, {pq3:.4g}]"
            f" change {cm:.4g} [{cq1:.4g}, {cq3:.4g}]"
            f" change wins {s['wins']}, loses {s['losses']}, ties {s['ties']}"
            f" parent IQR {s['parent_iqr']:.4g} -> {s['verdict']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
