"""Record linkage: blocked fuzzy matching on string similarity.

The reference joins only on exact keys (J1/J2, SURVEY.md §2.3); a
training-data / entity-resolution pipeline also needs approximate
matching — "are these two records the same thing despite typos". The
classic scalable shape is BLOCK → COMPARE:

  1. Block: equi-join on a cheap deterministic key (here an exact
     attribute; in general a phonetic code, sorted-neighborhood window,
     or LSH bucket — see operators/dedup.py for the MinHash variant).
     This is a hash join Catalyst handles natively; the block key
     bounds the quadratic comparison space to within-block pairs.
  2. Compare: exact edit distance (`levenshtein`, JVM codegen'd) only
     on the blocked candidate pairs, keep pairs under the threshold.

Scale: the cost driver is the largest block (sum of |block|²). At
100 TB, pick block keys with bounded frequency (add a second attribute
to split hot blocks — the same salting idea as operators/skew.py), run
multiple complementary blocking passes, and union the pair sets;
never compare across blocks. The `a.id < b.id` predicate sits in the
join condition so each unordered pair is generated once, not twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_distance: int,
    exclude_key_sets: tuple = (),
    carry_cols: tuple = (),
) -> DataFrame:
    """Candidate duplicate pairs (id_a, id_b, <texts>, dist) where both
    records share the blocking key(s) and edit distance <= threshold.
    Self-join de-duplicated by id_a < id_b inside the join condition.

    COMPARE-stage cost control (the expensive half of BLOCK→COMPARE):
    a length pre-filter in the join condition prunes pairs whose length
    gap already exceeds the budget (|len(a)-len(b)| ≤ k is necessary
    for dist ≤ k — an O(1) test ahead of the O(n·k) one), and the
    distance itself runs in Spark's BOUNDED form
    (levenshtein(l, r, threshold), 3.5+) which early-exits the DP once
    the running minimum passes the threshold — O(k·min(n,m)) per pair
    instead of O(n·m), and far less for clearly-different strings.

    `exclude_key_sets` makes multi-pass unions disjoint by construction:
    each entry is an EARLIER pass's block-key list, and a pair is
    dropped here when that pass would also have emitted it (all of its
    keys SQL-equal — the coalesce(...) form keeps pairs where an
    earlier key is NULL, since NULL keys never equi-join). `carry_cols`
    are extra columns the exclusion conditions need on the b side."""
    side_cols = list(dict.fromkeys([*block_cols, *carry_cols]))
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias(f"{text_col}_a"),
        *[F.col(c) for c in side_cols],
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias(f"{text_col}_b"),
        *[F.col(c).alias(f"{c}_b") for c in side_cols],
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(c) == F.col(f"{c}_b"))
    cond = cond & (
        F.abs(
            F.length(F.col(f"{text_col}_a")) - F.length(F.col(f"{text_col}_b"))
        )
        <= max_distance
    )
    for keys in exclude_key_sets:
        matched = None
        for c in keys:
            eq = F.col(c) == F.col(f"{c}_b")
            matched = eq if matched is None else (matched & eq)
        cond = cond & ~F.coalesce(matched, F.lit(False))
    dist = F.levenshtein(
        F.col(f"{text_col}_a"), F.col(f"{text_col}_b"), max_distance
    )
    return (
        a.join(b, cond)
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)  # bounded form returns -1 past threshold
        .select("id_a", "id_b", f"{text_col}_a", f"{text_col}_b", "dist")
    )


def multi_pass_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    passes: list[list],
    max_distance: int,
) -> DataFrame:
    """Union of several complementary blocking passes — the production
    record-linkage shape: each pass uses a CHEAP high-selectivity key
    (here different name tokens + an exact attribute) so every block
    stays small, and the union restores the recall a single coarse key
    would need quadratic work to reach.

    Two plan-shape guarantees (optimization guide §2.1/§6): the slim
    (id, text, block keys) projection is materialized ONCE with
    localCheckpoint and every pass/side reads it — one source scan
    instead of 2·|passes| — and the passes are DISJOINT BY CONSTRUCTION
    (pass i drops pairs any earlier pass also emits, via
    exclude_key_sets), so the former dropDuplicates pair-dedup — an
    extra exchange plus two sorts, sort-based because first(<string>)
    can't hash-aggregate — is gone. Every row for a given (id_a, id_b)
    is byte-identical (texts and dist are functions of the pair), so
    disjoint-union ≡ union+dedup exactly.

    PRECONDITION (ADVICE r11): `id_col` must be unique in `df`. The
    disjoint-union equivalence replaces the old cross-pass pair dedup;
    with duplicate ids a single pass can emit the same (id_a, id_b)
    pair once per duplicate row, which the dropped dedup used to
    collapse. Callers with non-unique ids must pre-dedup on id_col
    (the registered linkage_fuzzy_parts passes p_partkey — a key).
    tests/test_governance.py pins the duplicate-id output: one pair row
    per matching (row a, row b) combination."""
    all_cols = list(dict.fromkeys(c for cols in passes for c in cols))
    slim = df.select(id_col, text_col, *all_cols).localCheckpoint(eager=False)
    parts = [
        blocked_fuzzy_pairs(
            slim,
            id_col,
            text_col,
            cols,
            max_distance,
            exclude_key_sets=tuple(tuple(p) for p in passes[:i]),
            carry_cols=tuple(all_cols),
        )
        for i, cols in enumerate(passes)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
