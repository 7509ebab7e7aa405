"""The schema memo in `sources/fixtures.load_table`.

A repeat load of an unchanged fixture must run no Spark job (the memo
hands Spark the schema it inferred the first time), and a fixture that
changes on disk must be inferred afresh: the memo is keyed by file
identity, so a rewrite at the same path or an added part file is a miss.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from stream_processing_project_spark.sources.fixtures import load_table
from tests.conftest import SF_SMOKE


def _copy_fixture(tmp_path, name: str) -> str:
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    shutil.copyfile(
        os.path.join(SF_SMOKE, f"{name}.parquet"),
        os.path.join(sf_dir, f"{name}.parquet"),
    )
    return sf_dir


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    sf_dir = _copy_fixture(tmp_path, "region")
    before = load_table(spark, sf_dir, "region")
    assert before.columns == ["r_regionkey", "r_name"]
    assert load_table(spark, sf_dir, "region").count() == 5  # a memo hit

    # same path, different column set and a different type for r_regionkey
    pq.write_table(
        pa.table({"r_regionkey": ["a", "b"], "r_weight": [1.5, 2.5]}),
        os.path.join(sf_dir, "region.parquet"),
    )
    after = load_table(spark, sf_dir, "region")
    assert after.dtypes == [("r_regionkey", "string"), ("r_weight", "double")]
    assert sorted(tuple(r) for r in after.collect()) == [("a", 1.5), ("b", 2.5)]


def test_directory_fixture_gaining_a_part_file_is_inferred_afresh(spark, tmp_path):
    sf_dir = str(tmp_path / "sf")
    path = os.path.join(sf_dir, "region.parquet")
    spark.read.parquet(os.path.join(SF_SMOKE, "region.parquet")).write.parquet(path)
    before = load_table(spark, sf_dir, "region")
    assert before.columns == ["r_regionkey", "r_name"]
    assert before.count() == 5

    # Without mergeSchema Spark infers from the first part file by path
    # order; "part-0.parquet" sorts before Spark's "part-00000-<uuid>...".
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array([5], pa.int64()),
            "r_name": ["POLAR"],
            "r_weight": [0.5],
        }),
        os.path.join(path, "part-0.parquet"),
    )
    after = load_table(spark, sf_dir, "region")
    assert after.columns == ["r_regionkey", "r_name", "r_weight"]
    assert after.count() == 6
    assert after.filter("r_weight IS NOT NULL").count() == 1


def test_warm_build_runs_no_spark_job(spark):
    """The build layer of a 7-table query launches nothing once its
    tables' schemas are memoised (without the memo: one schema-inference
    job per load, 7 here)."""
    from stream_processing_project_spark.plans.registry import get

    builder = get("olap_market_share").builder
    builder(spark, SF_SMOKE)  # warm: fills the memo
    sc = spark.sparkContext
    group = "test_warm_build_runs_no_spark_job"
    sc.setJobGroup(group, "build only")
    try:
        builder(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
