"""Smoke tests for the command-line entry points under scripts/."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_submit_cdc_job_help_exits_zero():
    """--help builds the whole argument parser and exits before Spark is
    imported: a broken option declaration or module-level import fails
    here in about a second."""
    out = subprocess.run(
        [sys.executable, os.path.join("scripts", "submit_cdc_job.py"), "--help"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert "--lineage-path" in out.stdout


def test_ab_perfbench_help_exits_zero():
    """--help of the interleaved A/B script parses its options without
    exporting a tree or starting a benchmark run."""
    out = subprocess.run(
        [sys.executable, os.path.join("scripts", "ab_perfbench.py"), "--help"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert "--base" in out.stdout and "--pairs" in out.stdout
