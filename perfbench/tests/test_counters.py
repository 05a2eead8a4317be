"""Deterministic Spark counters repeat exactly between two traced runs.

With a fixed plan and fixed inputs, the jobs, stages and tasks a query
runs and the bytes it shuffles do not depend on host load, so two
traced runs of the same workload and seed must agree on them exactly.

    python3 -m pytest perfbench/tests -q

Each workload is run traced twice, each run in its own JVM (about four
minutes in all).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
RESULTS = HERE.parent / ".perfbench-work" / "results"

#: workload -> its queries whose counters are compared
QUERIES = {
    "etl_stream": ("pipeline_reference_e2e", "x10_stream_tumbling"),
    "graph_search": ("x05_pagerank", "sql_surface_pricing"),
}
COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")
SEED = 7


def traced_counters(workload: str) -> dict[str, dict[str, int]]:
    cmd = [
        sys.executable, str(HERE / "run.py"),
        "--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", "1",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.splitlines()[-1])["correct"], out.stdout
    record = json.loads((RESULTS / f"{workload}-seed{SEED}-trace1.json").read_text())
    per_query = record["trace"]["per_query"]
    return {q: {c: per_query[q][c] for c in COUNTERS} for q in QUERIES[workload]}


@pytest.mark.parametrize("workload", sorted(QUERIES))
def test_counters_repeat_exactly(workload):
    first = traced_counters(workload)
    second = traced_counters(workload)
    for q in QUERIES[workload]:
        assert first[q]["jobs"] > 0, q
        assert first[q] == second[q], (q, first[q], second[q])
