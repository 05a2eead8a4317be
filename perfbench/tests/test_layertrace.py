"""Span arithmetic of the traced run (no Spark session needed)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from layertrace import Span, outer_time, self_times  # noqa: E402


def _spans():
    # execute [0,10] > registry [0,6] > sources [1,3] > sources [1.5,2.5]
    #                                  > storage [4,5]
    spans = [
        Span("q", "execute", 0.0, 10.0),
        Span("q", "registry", 0.0, 6.0, parent=0),
        Span("load_table", "sources", 1.0, 3.0, parent=1),
        Span("load_table", "sources", 1.5, 2.5, parent=2),
        Span("tracked_checkpoint", "operators.storage", 4.0, 5.0, parent=1),
    ]
    for i, s in enumerate(spans):
        if s.parent is not None:
            spans[s.parent].children.append(i)
    return spans


def test_self_times_sum_to_wall_and_split_on_stages():
    spans = _spans()
    stages = [(2.0, 4.5), (8.0, 9.0)]
    layers = self_times(spans, stages)
    assert sum(v["self_s"] for v in layers.values()) == 10.0
    assert layers["execute"]["self_s"] == 4.0
    assert layers["execute"]["in_stages_s"] == 1.0
    assert layers["registry"]["self_s"] == 3.0
    assert layers["registry"]["in_stages_s"] == 1.0
    assert layers["sources"]["self_s"] == 2.0
    assert layers["sources"]["in_stages_s"] == 1.0
    assert layers["operators.storage"]["driver_s"] == 0.5
    gap = sum(v["driver_s"] for v in layers.values())
    assert gap == 10.0 - 3.5  # wall minus the union of stage spans


def test_outer_time_counts_only_outermost_calls():
    spans = _spans()
    seconds, calls = outer_time(spans, lambda s: s.layer == "sources")
    assert (seconds, calls) == (2.0, 1)
