"""Same-session interleaved A/B of one or more registered queries against
a PRIOR GIT REF of the engine — the repo-standard adjudication shape for
any cross-change timing claim.

Usage:
    python scripts/ab_query.py <git_ref> <query[,query...]> [reps]

Loads the engine package twice, as two lanes: once from the working tree
(NEW) and once from <git_ref> materialized into a temp dir (OLD). Each
lane keeps its own `stream_processing_project_spark.*` modules, and those
modules are the ones installed in `sys.modules` while that lane builds
and forces a DataFrame — so an import written inside a builder body
resolves to the lane's own tree, and Python UDFs ship that tree's code by
value. NEW/OLD are timed in interleaved pairs with the noop sink, warm
pass first, alternating which lane runs first; every pair is printed,
then best/median and the rep list per lane.
"""
from __future__ import annotations

import os
import statistics
import subprocess
import sys
import tempfile
import time

from pyspark import cloudpickle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "stream_processing_project_spark"


def _detach() -> dict:
    """Remove every loaded module of the engine package from
    `sys.modules` and return them."""
    mods = {
        k: m for k, m in sys.modules.items() if k == PKG or k.startswith(PKG + ".")
    }
    for k in mods:
        del sys.modules[k]
    return mods


class Lane:
    """One tree's copy of the engine package and its query registry.

    Loading imports the registry from `root` under an isolated module
    namespace and leaves `sys.modules` as it found it. Entering the lane
    (a `with` block) installs the lane's modules, so imports made inside
    builder bodies — including modules first imported there — resolve to
    `root`; leaving it stores them back, modules newly imported included.
    """

    def __init__(self, root: str) -> None:
        outer = _detach()
        sys.path.insert(0, root)
        try:
            from stream_processing_project_spark.plans.registry import all_queries

            self.queries = all_queries()
        finally:
            sys.path.remove(root)
            self.modules = _detach()
            sys.modules.update(outer)

    def __enter__(self) -> Lane:
        self._outer = _detach()
        sys.modules.update(self.modules)
        cloudpickle.register_pickle_by_value(self.modules[PKG])
        return self

    def __exit__(self, *exc) -> None:
        cloudpickle.unregister_pickle_by_value(self.modules[PKG])
        self.modules = _detach()
        sys.modules.update(self._outer)


def archive(ref: str) -> str:
    """Materialize `ref` of this repository into a fresh temp dir."""
    out = tempfile.mkdtemp(prefix="ab_old_")
    subprocess.run(
        f"git --git-dir={REPO}/.git archive {ref} | tar -x -C {out}",
        shell=True,
        check=True,
    )
    return out


def main() -> None:
    ref, names = sys.argv[1], sys.argv[2].split(",")
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    lanes = {"NEW": Lane(REPO), "OLD": Lane(archive(ref))}

    with lanes["NEW"]:
        from stream_processing_project_spark.session import default_sf_dir, get_spark

        spark = get_spark("ab-query")
        sf_dir = default_sf_dir()

    def run(tag: str, name: str) -> float:
        with lanes[tag] as lane:
            t0 = time.perf_counter()
            df = lane.queries[name].builder(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0

    for name in names:
        for tag in lanes:
            run(tag, name)  # warm: codegen
        results: dict[str, list[float]] = {tag: [] for tag in lanes}
        for rep in range(reps):
            # alternate which side runs first, so neither lane always
            # inherits the other's JVM warmth or GC debt
            order = ("OLD", "NEW") if rep % 2 == 0 else ("NEW", "OLD")
            for tag in order:
                results[tag].append(run(tag, name))
            print(
                f"{name} pair {rep + 1} ({order[0]} first):"
                f" OLD={results['OLD'][-1]:.3f} NEW={results['NEW'][-1]:.3f}",
                flush=True,
            )
        for tag in ("OLD", "NEW"):
            r = results[tag]
            print(
                f"{name} {tag}: best={min(r):.3f} median={statistics.median(r):.3f}"
                f" reps={[round(x, 3) for x in r]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
