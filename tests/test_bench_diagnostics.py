"""The bench's diagnostics line carries the run context (CPUs, Spark
master and version, git head); the contract line is untouched."""

from __future__ import annotations

import os
import subprocess

import pyspark

from weather_etl_pipeline_spark.tools import bench


def test_diagnostics_carry_run_context(spark):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    head = bench._git_head(repo)
    got = bench.diagnostics(spark, head, {"q1": [0.5, 0.4]}, 0.0123, 0.35, {"k": 1})
    assert got == {
        "diagnostics": "bench",
        "passes": {"q1": [0.5, 0.4]},
        "floor_sec": 0.012,
        "engine_sec": 0.35,
        "context": {"k": 1},
        "cpus": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark_version": pyspark.__version__,
        "git_head": head,
    }
    assert got["master"].startswith("local[")
    git = subprocess.run(
        ["git", "-C", repo, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    )
    assert head == (git.stdout.strip() or "unknown")


def test_git_head_outside_a_checkout_is_unknown(tmp_path):
    assert bench._git_head(str(tmp_path)) == "unknown"
