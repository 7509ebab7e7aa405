"""CDC upsert materialization (multi-version, delete-aware) and the
salted skew join — semantics pins on crafted frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from stream_processing_project_spark.operators.skew import salted_join
from stream_processing_project_spark.sources.cdc import materialize_upserts


def test_materialize_upserts_latest_version_wins(spark):
    changes = spark.createDataFrame(
        [
            # key 1: insert then update — update (later ts) wins
            (1, "alice", 10.0, "c", 100),
            (1, "alice2", 11.0, "u", 200),
            # key 2: insert then delete — key disappears
            (2, "bob", 20.0, "c", 100),
            (2, None, None, "d", 300),
            # key 3: delete then REINSERT (later ts) — key survives
            (3, "carol", 30.0, "d", 100),
            (3, "carol2", 31.0, "c", 400),
        ],
        ["id", "name", "value", "__op", "__ts_ms"],
    )
    got = {
        r["id"]: (r["name"], r["value"], r["__op"])
        for r in materialize_upserts(changes).collect()
    }
    assert got == {1: ("alice2", 11.0, "u"), 3: ("carol2", 31.0, "c")}


def test_salted_join_equals_plain_join(spark):
    """Salting must be semantics-preserving: same rows as a plain join,
    with one hot key spread across salt buckets."""
    big = spark.range(0, 10000).select(
        # 90% of rows hit key 7 — a hot key
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 5).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [(i, f"dim_{i}") for i in range(10)], ["k", "label"]
    )
    plain = big.join(small, "k").select("k", "payload", "label")
    salted = salted_join(big, small, "k").select("k", "payload", "label")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_asof_join_semantics(spark):
    """As-of join pins: inclusive match at equal ts, latest-version-wins,
    NULL before the first version, per-key isolation."""
    from pyspark.sql import functions as F

    from stream_processing_project_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7),   # before any version → NULL
            (2, "2024-01-01 01:00:00", 7),   # exactly at v1 → v1 (inclusive)
            (3, "2024-01-01 02:30:00", 7),   # between v1 and v2 → v1
            (4, "2024-01-01 05:00:00", 7),   # after v2 → v2
            (5, "2024-01-01 05:00:00", 8),   # other key: only v9 applies
        ],
        ["event_id", "ts", "user_id"],
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            (7, "2024-01-01 01:00:00", "v1"),
            (7, "2024-01-01 03:00:00", "v2"),
            (8, "2024-01-01 04:00:00", "v9"),
        ],
        ["user_id", "vts", "version"],
    ).withColumn("vts", F.to_timestamp("vts"))
    got = {
        r.event_id: r.version
        for r in asof_join(
            left, right, key="user_id", left_ts="ts", right_ts="vts"
        ).collect()
    }
    assert got == {1: None, 2: "v1", 3: "v1", 4: "v2", 5: "v9"}


def test_asof_join_tiebreak_equals_rownumber_dedup(spark):
    """tiebreak=col must pick the greatest-tiebreak version at equal
    (key, ts) — identical to the row_number pre-dedup it replaces, with
    every value column coming from the same winning row."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from stream_processing_project_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, "2024-01-01 02:00:00", 7),  # after the tied pair → max vid wins
            (2, "2024-01-01 01:00:00", 7),  # exactly at the tie → inclusive
            (3, "2024-01-01 04:00:00", 7),  # after the lone later version
            (4, "2024-01-01 00:30:00", 8),  # other key, before its version
        ],
        ["event_id", "ts", "user_id"],
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            # key 7: two versions at the SAME ts — vid 9 must win both cols
            (7, "2024-01-01 01:00:00", 5, "low"),
            (7, "2024-01-01 01:00:00", 9, "high"),
            (7, "2024-01-01 03:00:00", 2, "later"),
            (8, "2024-01-01 01:00:00", 1, "other"),
        ],
        ["user_id", "vts", "vid", "label"],
    ).withColumn("vts", F.to_timestamp("vts"))

    with_tb = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="vts", tiebreak="vid"
    )
    rn = F.row_number().over(
        W.partitionBy("user_id", "vts").orderBy(F.col("vid").desc())
    )
    deduped = right.withColumn("_rn", rn).filter("_rn = 1").drop("_rn")
    baseline = asof_join(
        left, deduped, key="user_id", left_ts="ts", right_ts="vts"
    )
    got = sorted(map(tuple, with_tb.select("event_id", "vid", "label").collect()))
    want = sorted(map(tuple, baseline.select("event_id", "vid", "label").collect()))
    assert got == want
    assert dict((e, (v, lb)) for e, v, lb in got) == {
        1: (9, "high"),
        2: (9, "high"),
        3: (2, "later"),
        4: (None, None),
    }


def test_asof_join_tiebreak_null_value_leaks_per_column(spark):
    """Pins the documented per-column carry under ``tiebreak``: each value
    column is the LAST NON-NULL value in (ts, tiebreak) order among the
    key's right rows with ts <= the left ts. So a NULL in the winning
    row's column leaks that column from the losing row at the same
    (key, ts), or from an earlier version, and one output row can mix
    rows. Checked on a crafted leak, then on adversarial rows (ts ties,
    NULL values, a shuffled tiebreak order), with the tiebreak both
    outside and inside ``value_cols``."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from stream_processing_project_spark.operators.asof import asof_join

    def reference(left, right, value_cols):
        out = set()
        for eid, k, t in left:
            seen = sorted(
                (r for r in right if r[0] == k and r[1] <= t),
                key=lambda r: (r[1], r[2]),
            )
            carried = []
            for c in value_cols:
                i = {"vid": 2, "v1": 3, "v2": 4}[c]
                vals = [r[i] for r in seen if r[i] is not None]
                carried.append(vals[-1] if vals else None)
            out.add((eid, *carried))
        return out

    def run(left, right, value_cols):
        got = asof_join(
            spark.createDataFrame(left, "event_id long, user_id long, ts long"),
            spark.createDataFrame(
                right, "user_id long, vts long, vid long, v1 long, v2 string"
            ),
            key="user_id",
            left_ts="ts",
            right_ts="vts",
            value_cols=value_cols,
            tiebreak="vid",
        )
        return set(map(tuple, got.select("event_id", *value_cols).collect()))

    # vid 9 wins the tie at ts 1 but has v1 NULL: v1 leaks from vid 5,
    # v2 comes from vid 9; at ts 3 the lone winner's NULL v2 leaks "high"
    crafted_left = [(1, 7, 1), (2, 7, 3), (3, 7, 0)]
    crafted_right = [
        (7, 1, 5, 10, "low"),
        (7, 1, 9, None, "high"),
        (7, 3, 2, 30, None),
    ]
    assert run(crafted_left, crafted_right, ["vid", "v1", "v2"]) == {
        (1, 9, 10, "high"),
        (2, 2, 30, "high"),
        (3, None, None, None),
    }
    assert run(crafted_left, crafted_right, ["v1", "v2"]) == {
        (1, 10, "high"),
        (2, 30, "high"),
        (3, None, None),
    }

    version = st.tuples(
        st.integers(min_value=0, max_value=1),  # key
        st.integers(min_value=0, max_value=2),  # ts: heavy ties
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
        st.one_of(st.none(), st.sampled_from(["a", "b"])),
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        versions=st.lists(version, min_size=1, max_size=8),
        data=st.data(),
    )
    def check(versions, data):
        # unique tiebreak per row, in an order unrelated to insertion
        vids = data.draw(st.permutations(range(len(versions))))
        right = [
            (k, t, vid, v1, v2) for (k, t, v1, v2), vid in zip(versions, vids)
        ]
        left = [(3 * k + t, k, t) for k in (0, 1) for t in (0, 1, 2)]
        for cols in (["v1", "v2"], ["vid", "v1", "v2"]):
            assert run(left, right, cols) == reference(left, right, cols)

    check()


def test_range_join_equals_naive_between(spark):
    """Binned range join must equal the naive BETWEEN join, including
    intervals spanning multiple buckets and bucket-boundary values."""
    from pyspark.sql import functions as F

    from stream_processing_project_spark.operators.rangejoin import range_join

    points = spark.createDataFrame(
        [(1, 0.0), (2, 99.9), (3, 100.0), (4, 250.0), (5, 555.5)],
        ["pid", "v"],
    )
    intervals = spark.createDataFrame(
        [(10, 0.0, 100.0), (20, 90.0, 310.0), (30, 500.0, 600.0), (40, 700.0, 800.0)],
        ["iid", "lo", "hi"],
    )
    got = range_join(points, intervals, "v", bucket_width=100.0).select("pid", "iid")
    # the naive BETWEEN baseline is computed in plain Python: as a Spark
    # join it's a nested-loop stage that costs 11+ s of scheduler/
    # broadcast overhead for 20 pairs (r08 suite audit) and proves
    # nothing the comprehension doesn't
    naive = sorted(
        (p, i)
        for p, v in [(1, 0.0), (2, 99.9), (3, 100.0), (4, 250.0), (5, 555.5)]
        for i, lo, hi in [
            (10, 0.0, 100.0),
            (20, 90.0, 310.0),
            (30, 500.0, 600.0),
            (40, 700.0, 800.0),
        ]
        if lo <= v <= hi
    )
    rows = sorted(map(tuple, got.collect()))
    assert rows == naive
    assert len(rows) > 0


def test_gap_fill_ffill_carries_last_value(spark):
    """Gap-fill: empty buckets exist on the grid; ffill carries the last
    seen sum while zero-fill writes 0."""
    from pyspark.sql import functions as F

    from stream_processing_project_spark.operators.resample import gap_fill

    df = spark.createDataFrame(
        [
            (7, "2024-01-01 00:10:00", 5.0),
            (7, "2024-01-01 03:20:00", 2.0),  # 01:00 and 02:00 are gaps
        ],
        ["user_id", "ts", "value"],
    ).withColumn("ts", F.to_timestamp("ts"))

    zero = {
        (r.user_id, str(r.bucket), r.cnt, r.val)
        for r in gap_fill(df, "user_id", "ts", "value", "1 hour", "zero").collect()
    }
    assert (7, "2024-01-01 01:00:00", 0, 0.0) in zero
    assert (7, "2024-01-01 03:00:00", 1, 2.0) in zero
    assert len(zero) == 4  # 00..03 inclusive — gaps materialized

    ff = {
        str(r.bucket): r.val
        for r in gap_fill(df, "user_id", "ts", "value", "1 hour", "ffill").collect()
    }
    assert ff["2024-01-01 01:00:00"] == 5.0  # carried forward
    assert ff["2024-01-01 02:00:00"] == 5.0
    assert ff["2024-01-01 03:00:00"] == 2.0
