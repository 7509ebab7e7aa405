"""The benchmark A/B script's summary: quartiles, wins and the verdict.
Spark-free."""

from __future__ import annotations

import importlib.util
import os

import pytest


def _ab_bench():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "ab_bench", os.path.join(here, "scripts", "ab_bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ab = _ab_bench()


def test_quartiles_and_iqr():
    s = ab.summarize([(v, v) for v in (1.0, 2.0, 3.0, 4.0, 5.0)], "lower")
    assert s["parent"] == (2.0, 3.0, 4.0)
    assert s["parent_iqr"] == 2.0
    assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_ties_count_for_neither_side():
    pairs = [(100.0, 90.0)] * 8 + [(100.0, 100.0)] * 2
    s = ab.summarize(pairs, "lower")
    assert (s["wins"], s["losses"], s["ties"]) == (8, 0, 2)
    # 8 wins of 10 is below nine tenths, however large the difference
    assert s["verdict"] == "no change shown"


def test_gain_needs_nine_tenths_and_more_than_parent_iqr():
    parent = [1800.0, 1810.0, 1820.0, 1830.0, 1840.0,
              1850.0, 1860.0, 1870.0, 1880.0, 1890.0]
    # the change is 150 lower on 9 pairs and higher on one
    change = [p - 150.0 for p in parent[:9]] + [parent[9] + 10.0]
    s = ab.summarize(list(zip(parent, change)), "lower")
    assert (s["wins"], s["losses"]) == (9, 1)
    assert s["parent_iqr"] == pytest.approx(45.0)
    assert s["verdict"] == "gain"

    # same wins, but the medians differ by less than the parent's IQR
    close = [p - 20.0 for p in parent[:9]] + [parent[9] + 10.0]
    assert ab.summarize(list(zip(parent, close)), "lower")["verdict"] == (
        "no change shown"
    )


def test_direction_and_loss():
    pairs = [(10.0 + i, 20.0 + i) for i in range(10)]
    assert ab.summarize(pairs, "higher")["verdict"] == "gain"
    assert ab.summarize(pairs, "lower")["verdict"] == "loss"
    with pytest.raises(ValueError):
        ab.summarize(pairs, "faster")
