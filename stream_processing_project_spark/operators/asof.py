"""As-of (point-in-time) join — an operator Spark lacks natively,
composed from union + window carry-forward (no UDF, one shuffle).

Each left row is matched to the LATEST right version with
right_ts <= left_ts for the same key — SCD2-style point-in-time
enrichment: join events against a versioned dimension (e.g. the change
history that materialize_upserts collapses) as of each event's time.

Plan shape: tag both sides, union, one window per key ordered by
(ts, tag) with right rows sorting before left rows at equal timestamps
(so a version effective exactly AT the event time matches — inclusive
semantics, same as DuckDB/kdb ASOF), carry the last non-null right
payload forward, keep left rows. Cost: one shuffle on the key + a
per-key sort — the same complexity as a sort-merge join, fully
streamable per partition. At 100 TB: bucket both sides by the key to
pre-co-locate (operators/bucketing.py) and the exchange disappears.

Right-side versions must be unique per (key, ts) for determinism —
either pre-dedup with a deterministic tie-break (row_number), or pass
``tiebreak=<col>``: at equal (key, ts) the version with the greatest
tiebreak value wins, which is the same result as the row_number
pre-dedup but rides the operator's single shuffle instead of adding an
Exchange + Sort + Window pass over the right side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of left join: left columns + right value_cols from the
    latest right row with right_ts <= left_ts per key (NULLs when no
    version precedes the left row). With ``tiebreak``, duplicate right
    versions at the same (key, ts) resolve to the greatest tiebreak
    value; all value columns come from that same winning row ONLY IF
    right-side value columns are non-null — the carry is per-column
    last(ignorenulls), as in the base operator, so a NULL in the
    winning row's value column leaks that column from the losing row
    at the same (key, ts) and output columns can mix rows (ADVICE
    r11). Callers using ``tiebreak`` must guarantee non-null value
    columns (olap_asof_last_order's are NOT NULL by construction) or
    pack the payload into a single struct column themselves.
    tests/test_cdc_skew.py pins this per-column carry."""
    value_cols = value_cols or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    l_struct = T.StructType([left.schema[c] for c in left.columns])

    extra_tb = tiebreak is not None and tiebreak not in value_cols
    l2 = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_tag"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"_v_{c}")
            for c in value_cols
        ],
        *(
            [F.lit(None).cast(right.schema[tiebreak].dataType).alias("_tb")]
            if extra_tb
            else []
        ),
    )
    r2 = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_tag"),
        F.lit(None).cast(l_struct).alias("_l"),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
        *([F.col(tiebreak).alias("_tb")] if extra_tb else []),
    )
    # Right rows at equal (key, ts) sort ascending by the tiebreak, so the
    # frame's last() picks the greatest one — left rows carry NULL there
    # and sort after every right row via _tag regardless.
    order = ["_t", "_tag"] + (
        ["_tb" if extra_tb else f"_v_{tiebreak}"] if tiebreak is not None else []
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = l2.unionByName(r2).select(
        "_tag",
        "_l",
        *[
            F.last(f"_v_{c}", ignorenulls=True).over(w).alias(f"_c_{c}")
            for c in value_cols
        ],
    )
    return carried.filter(F.col("_tag") == 1).select(
        *[F.col(f"_l.{c}").alias(c) for c in left.columns],
        *[F.col(f"_c_{c}").alias(c) for c in value_cols],
    )
