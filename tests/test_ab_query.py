"""The A/B script's lanes must each run their own tree's code."""

from __future__ import annotations

import importlib.util
import os
import shutil

import pytest

from tests.conftest import SF_SMOKE


def _ab_query():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "ab_query", os.path.join(here, "scripts", "ab_query.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_old_lane_body_import_reaches_archived_tree(spark, tmp_path):
    """`profile_ks_drift` imports `bucketed_running_sum` inside its
    builder body. In an archived copy of the package that function
    raises; building the query in the copy's lane must hit it, and the
    working tree's modules must be back in place afterwards."""
    ab = _ab_query()
    pkg = tmp_path / ab.PKG
    shutil.copytree(
        os.path.join(ab.REPO, ab.PKG),
        pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    common = pkg / "plans" / "common.py"
    common.write_text(
        common.read_text()
        + "\n\ndef bucketed_running_sum(*args, **kwargs):\n"
        + '    raise RuntimeError("archived bucketed_running_sum")\n'
    )

    old = ab.Lane(str(tmp_path))
    builder = old.queries["profile_ks_drift"].builder
    assert builder.__code__.co_filename.startswith(str(pkg))
    with old, pytest.raises(RuntimeError, match="archived"):
        builder(spark, SF_SMOKE)

    from stream_processing_project_spark.plans import common as live

    assert not live.__file__.startswith(str(tmp_path))
