"""The UI-off query profiler (scripts/query_profile.py) on the shared session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from query_profile import profile  # noqa: E402


@pytest.fixture(scope="module")
def record(spark, sf_dir):
    return profile(spark, "q1_pricing_summary", sf_dir)


def test_profile_runs_with_ui_off(spark, record):
    assert spark.sparkContext.uiWebUrl is None
    assert record["query"] == "q1_pricing_summary"


def test_profile_splits_driver_and_task_time(record):
    assert record["spark.jobs"] >= 1 and record["spark.task_s"] > 0
    assert 0 <= record["build_s"] <= record["wall_s"]
    assert 0 <= record["driver_gap_s"] <= record["wall_s"]
    assert record["stages"] and all(
        s["tasks"] >= 1 for s in record["stages"])
    assert sum(s["run_s"] for s in record["stages"]) == pytest.approx(
        record["spark.task_s"])


def test_profile_reports_plan_counters(record):
    plan = record["plan"]
    assert plan["bucket"] == "clean" and plan["flags"] == []
    for key in ("exchanges", "file_scans", "python_maps", "single_partition"):
        assert key in plan
    assert plan["file_scans"] >= 1


def test_profile_reports_compilation(record):
    """The warm pass leaves every generated class in the codegen cache."""
    assert record["codegen.classes_compiled"] == 0
    assert record["jvm.jit_s"] >= 0
