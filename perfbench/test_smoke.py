"""The benchmark's own tests.  Run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.checks import _keep_value
from perfbench.statusstore import parse_metric

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def test_smoke_runs_every_workload_with_checks():
    proc = subprocess.run(RUN + ["--smoke"], cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    last = lines[-1]
    assert last["correct"] is True and last["failed"] == 0, proc.stderr[-4000:]
    per_workload = {k: v for line in lines[:-1] for k, v in line.items() if k != "context"}
    assert set(per_workload) == {"filter", "dedup"}
    for result in per_workload.values():
        assert result["correct"] and result["attempted"] >= 2


def test_refuses_more_cores_than_the_host_has():
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0)) + 1))
    proc = subprocess.run(RUN + ["--workload", "filter"], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0 and "refusing local[" in proc.stderr
    assert not proc.stdout.strip()


def test_keep_partition_strings_are_not_truthy():
    assert _keep_value("false") is False and _keep_value(False) is False
    assert _keep_value("true") is True and _keep_value(True) is True
    with pytest.raises(ValueError):
        _keep_value("False")


@pytest.mark.parametrize("text, value", [
    ("4,000", 4000.0),
    ("48 ms", 0.048),
    ("1363.9 KiB", 1363.9 * 1024),
    ("total (min, med, max (stageId: taskId))\n15.9 s (3.8 s, 4.0 s, 4.2 s (stage 1.0: task 1))", 15.9),
    ("total (min, med, max (stageId: taskId))\n2.5 MiB (637.2 KiB, 639.0 KiB, 651.3 KiB (stage 1.0: task 3))", 2.5 * 2**20),
    ("1.2 m", 72.0),
])
def test_parse_sql_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)
