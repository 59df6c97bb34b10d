"""bench.py's timed step is the one registry timing path: every
remaining script under tools/ (and bench.py itself) must import
cleanly — a tool still reaching for a moved or deleted helper fails
here, not at its next manual run — and ``bench.run_query`` times a
registry query under its job group."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
SCRIPTS = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_without_running(path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)


def test_run_query_times_under_job_group(spark, sf_dir):
    import bench
    from confidential_storm_spark.plans.queries import build_queries

    name = "q1_pricing_summary"
    dt = bench.run_query(spark, name, build_queries()[name], sf_dir, "pytest")
    assert dt > 0
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(name)
