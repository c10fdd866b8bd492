"""Regression tests for the local correctness twin itself
(tools/check_correctness.py): it must reproduce the driver's
dtype-strict hashing. Round 2 shipped a DOUBLE-vs-BIGINT mismatch
(`quantiles`) that the float-coercing local check waved through while
the driver's hash failed it — compare_frames must now catch exactly
that shape."""

from __future__ import annotations

import sys
from decimal import Decimal
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_correctness import compare_frames, run_gates  # noqa: E402


def test_double_vs_bigint_is_a_failure():
    # the round-2 `quantiles` shape: values equal, dtypes not
    spark_side = pd.DataFrame({"g": ["A", "B"], "p50": [5.0, 9.0]})
    oracle_side = pd.DataFrame({"g": ["A", "B"], "p50": [5, 9]})
    r = compare_frames(spark_side, oracle_side)
    assert not r["ok"]
    assert not r["ok_dtypes"]
    assert r["dtype_diffs"][0][0] == "p50"


def test_matching_int_dtypes_pass():
    a = pd.DataFrame({"g": ["A", "B"], "p50": [5, 9]})
    b = pd.DataFrame({"g": ["B", "A"], "p50": [9, 5]})  # order-insensitive
    assert compare_frames(a, b)["ok"]


def test_matching_float_dtypes_pass_and_report_diff():
    a = pd.DataFrame({"x": [1.0, 2.0]})
    b = pd.DataFrame({"x": [1.0, 2.0]})
    r = compare_frames(a, b)
    assert r["ok"] and r["max_float_diff"] == 0.0


def test_decimal_vs_float_still_passes():
    # Spark decimal → pandas object-of-Decimal; DuckDB DECIMAL → float64.
    # The driver accepts this pairing (all decimal gates hash-green), so
    # the local twin must not over-reject it.
    a = pd.DataFrame({"v": [Decimal("1.50"), Decimal("2.25")]})
    b = pd.DataFrame({"v": [1.5, 2.25]})
    assert compare_frames(a, b)["ok"]


def test_value_mismatch_fails():
    a = pd.DataFrame({"x": [1, 2]})
    b = pd.DataFrame({"x": [1, 3]})
    assert not compare_frames(a, b)["ok"]


def test_int32_vs_int64_is_not_a_failure():
    # width differs but kind matches; the hash is over rendered values
    # (5 == 5) so width alone must not fail locally either
    a = pd.DataFrame({"x": pd.array([1, 2], dtype="int32")})
    b = pd.DataFrame({"x": pd.array([1, 2], dtype="int64")})
    assert compare_frames(a, b)["ok"]


def test_a_raising_gate_fails_and_the_loop_goes_on(capsys):
    import duckdb

    class Frame:
        def toPandas(self):
            return pd.DataFrame({"x": [1]})

    def boom(spark, sf_dir):
        raise RuntimeError("gate exploded")

    qs = {"boom": boom, "ok": lambda spark, sf_dir: Frame()}
    oracles = {"boom": "SELECT 1 AS x", "ok": "SELECT 1 AS x"}
    failures = run_gates(None, duckdb.connect(), "unused", qs, oracles)
    out = capsys.readouterr().out
    assert failures == ["boom"]
    assert "FAIL raised RuntimeError: gate exploded" in out
    assert any(line.startswith("ok") and " OK " in line for line in out.splitlines())
