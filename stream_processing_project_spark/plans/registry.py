"""Named-query registry — the engine's public query surface.

Every operator claimed in SURVEY.md §2 registers here as a named query:
a builder (spark, sf_dir) -> DataFrame plus, where SQL-expressible, the
equivalent DuckDB oracle SQL. __spark_entry__.py re-exports this registry
to the driver; bench.py runs the `bench`-tagged subset.

Column-name contract: every computed column is aliased identically in
the Spark builder and the oracle SQL (the driver sorts columns by name
before value-hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    builder: Builder
    oracle: str | None = None  # DuckDB SQL; None → driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        _REGISTRY[name] = Query(name, fn, oracle, tags, (fn.__doc__ or "").strip())
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    _load()
    return dict(_REGISTRY)


def get(name: str) -> Query:
    _load()
    return _REGISTRY[name]


def queries() -> dict[str, Builder]:
    """Driver contract: name -> (spark, sf_dir) -> DataFrame."""
    return {n: q.builder for n, q in all_queries().items()}


def oracles() -> dict[str, str]:
    """Driver contract: name -> DuckDB SQL (only SQL-expressible ops)."""
    return {n: q.oracle for n, q in all_queries().items() if q.oracle is not None}


_LOADED = False

# The driver's CORRECTNESS gate may sample only a prefix of the registry
# (r01 checked the FIRST 50 registered queries, and module import order
# left whole modules with zero rows — VERDICT.md "What's wrong" #3). To
# make any prefix representative, registration order is rewritten after
# load: never-green queries first, interleaved round-robin across
# modules, then greens stalest first. Harmless when the gate runs all
# queries; decisive when it truncates.

# Round-robin module order: modules with zero r01 driver rows first.
_MODULE_ORDER = [
    "scalar_surface",
    "olap",
    "streaming_queries",
    "governance",
    "analytics",
    "extensions",
]


def _driver_status() -> dict[str, tuple[str, int]]:
    """Name -> (kind, last_checked_round) from the CORRECTNESS_r*.json
    union. kind: "hash" (green value-hash row), "rows_only" (completed
    no-oracle check), "red" (anything else). Latest round wins per name:
    the driver samples a near-disjoint ~50-query window each round, so a
    query green in r01 but absent since keeps its r01 status — and its
    r01 staleness, which now drives the rotation (VERDICT r08 task 2)."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    latest: dict[str, tuple[str, int]] = {}

    def rnd_of(path: str) -> int:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        return int(m.group(1)) if m else 0

    # Sort by PARSED round number, not lexicographically: "r100" sorts
    # before "r99" as a string, which would let an older round's status
    # overwrite a newer one and misrank staleness (ADVICE r09).
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")), key=rnd_of):
        rnd = rnd_of(path)
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for n, r in rows.items():
            if isinstance(r, dict):
                if r.get("rows_match") and r.get("hash_match"):
                    latest[n] = ("hash", rnd)
                elif (
                    r.get("err") == "no_oracle"
                    and r.get("spark_rows") is not None
                ):
                    latest[n] = ("rows_only", rnd)
                else:
                    latest[n] = ("red", rnd)
    return latest


def _driver_green() -> set[str]:
    """Names whose MOST RECENT driver row is satisfied — these already
    have hard driver signal, so they yield their window slot to
    still-unverified queries (matters only if the driver's correctness
    window truncates). "Satisfied" means hash-green, OR a completed
    rows-only check for a query that STILL has no oracle in the current
    registry (err == "no_oracle" with a real spark row count): a
    no-oracle query can never do better than rows-only, so holding it
    at the front of the rotation would permanently burn a window slot —
    but a query that has GAINED an oracle since its rows-only pass (the
    r08 md5-sketch upgrades) loses that credit and moves back to the
    front so the driver records a hard hash row. A query that REGRESSED
    in a later round loses its green and moves back to the front."""
    return {
        n
        for n, (kind, _) in _driver_status().items()
        if kind == "hash"
        or (
            kind == "rows_only"
            and (n not in _REGISTRY or _REGISTRY[n].oracle is None)
        )
    }


def _reorder() -> None:
    green = _driver_green()
    by_module: dict[str, list[Query]] = {m: [] for m in _MODULE_ORDER}
    for q in _REGISTRY.values():
        mod = q.builder.__module__.rsplit(".", 1)[-1]
        by_module.setdefault(mod, []).append(q)

    # Never-green queries first (module-interleaved for family diversity)
    # — a module that runs out of unverified names must not let its
    # green tail crowd first-time names out of the driver's 50-window.
    queues = [[q for q in qs if q.name not in green] for qs in by_module.values()]
    ordered: list[Query] = []
    while any(queues):
        for qu in queues:
            if qu:
                ordered.append(qu.pop(0))
    # Greens last, STALEST FIRST (VERDICT r08 task 2): with the whole
    # registry ever-checked, the driver's ~50-window would otherwise
    # re-verify an arbitrary module-interleaved prefix while 79 names
    # sat unchecked since r01/r02 across six rounds of code churn.
    # Ordering greens by last-checked round ascending turns each round's
    # window into a rolling re-verification of the oldest evidence.
    status = _driver_status()
    ordered += sorted(
        (q for q in _REGISTRY.values() if q.name in green),
        key=lambda q: (status.get(q.name, ("", 0))[1], q.name),
    )
    _REGISTRY.clear()
    _REGISTRY.update({q.name: q for q in ordered})


def _load() -> None:
    """Import all modules that register queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # imported for their registration side effects
    from stream_processing_project_spark.plans import (  # noqa: F401
        analytics,
        extensions,
        governance,
        olap,
        scalar_surface,
        streaming_queries,
    )

    _reorder()
    _LOADED = True
