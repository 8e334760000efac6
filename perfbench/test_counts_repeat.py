"""Deterministic counts repeat exactly across two traced runs.

For ``api_small`` and ``operator_pipelines``, two traced runs with the
same seed must give every op the same jobs and tasks, and the same rows
registered and egressed, in every traced pass. Each run starts its own
JVM, so the test takes a few minutes. From the repository root::

    python3 -m pytest perfbench/test_counts_repeat.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import op_layers  # noqa: E402

SEED = 11


def traced_counts(workload: str) -> dict[str, set[tuple[float, ...]]]:
    """Per op name, the set of (jobs, tasks, rows registered, rows
    egressed) seen across one traced run's traced ops."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT,
        check=True,
        stdout=subprocess.DEVNULL,
        timeout=600,
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    with open(os.path.join(HERE, "out", f"spans-{workload}-c{cpus}-s{SEED}.json")) as f:
        trace = json.load(f)
    layers = op_layers(trace["spans"])
    seen: dict[str, set[tuple[float, ...]]] = {}
    for op in trace["ops"]:
        spans = layers[op["id"]]
        seen.setdefault(op["name"], set()).add(
            (
                op["counts"]["jobs"],
                op["counts"]["tasks"],
                spans.get("rows:table.register_tables", 0),
                spans.get("rows:egress.toPandas", 0),
            )
        )
    return seen


@pytest.mark.parametrize("workload", ["api_small", "operator_pipelines"])
def test_counts_repeat_across_runs(workload):
    first = traced_counts(workload)
    second = traced_counts(workload)
    assert first, "the traced run recorded no ops"
    for name, counts in first.items():
        assert len(counts) == 1, f"{name}: counts differ between passes: {counts}"
    assert first == second
