"""Same-session interleaved A/B of one or more registered queries against
a PRIOR GIT REF of their builder module(s) — the repo-standard adjudication
shape for any cross-change timing claim.

Usage:
    python scripts/ab_query.py <git_ref> <query[,query...]> [reps]

Loads the builder registry twice: once from the working tree (NEW) and
once from <git_ref> materialized into a temp dir (OLD), then times
NEW/OLD interleaved with the noop sink, warm pass first, best-of rep
list printed per variant.
"""
from __future__ import annotations

import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ref, names = sys.argv[1], sys.argv[2].split(",")
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    old_dir = tempfile.mkdtemp(prefix="ab_old_")
    subprocess.run(
        f"git --git-dir={REPO}/.git archive {ref} | tar -x -C {old_dir}",
        shell=True,
        check=True,
    )

    from stream_processing_project_spark.session import default_sf_dir, get_spark

    spark = get_spark("ab-query")
    sf_dir = default_sf_dir()

    from stream_processing_project_spark.plans.registry import all_queries

    new_q = dict(all_queries())

    # import the OLD tree under an isolated module namespace
    saved = {
        k: v for k, v in sys.modules.items()
        if k.startswith("stream_processing_project_spark")
    }
    for k in list(saved):
        del sys.modules[k]
    sys.path.insert(0, old_dir)
    try:
        import stream_processing_project_spark.plans.registry as old_reg  # noqa

        old_q = dict(old_reg.all_queries())
    finally:
        sys.path.remove(old_dir)
        for k in [
            k for k in sys.modules if k.startswith("stream_processing_project_spark")
        ]:
            del sys.modules[k]
        sys.modules.update(saved)

    def force(df):
        df.write.mode("overwrite").format("noop").save()

    for name in names:
        for tag, q in (("NEW", new_q[name]), ("OLD", old_q[name])):
            force(q.builder(spark, sf_dir))  # warm: codegen
        results: dict[str, list[float]] = {"NEW": [], "OLD": []}
        for _ in range(reps):
            for tag, q in (("NEW", new_q[name]), ("OLD", old_q[name])):
                t0 = time.perf_counter()
                force(q.builder(spark, sf_dir))
                results[tag].append(time.perf_counter() - t0)
        for tag in ("OLD", "NEW"):
            r = results[tag]
            print(
                f"{name} {tag}: best={min(r):.3f} median={statistics.median(r):.3f}"
                f" reps={[round(x, 3) for x in r]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
