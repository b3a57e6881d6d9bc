#!/usr/bin/env python3
"""Self-checks for the benchmark's own logic; no Spark needed.

    python3 ptabench/selfcheck.py        (or: python3 -m pytest ptabench/selfcheck.py)

- self-time arithmetic on nested and overlapping spans;
- metric names match [A-Za-z0-9_.-]+ and agree with BENCHMARK.json;
- the README's layer table is the one layers.py defines;
- the input generator is a function of the seed alone.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402

import gen  # noqa: E402
import layers  # noqa: E402
from spans import Span, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, parent, "t", end=end)


def test_self_time_nested_and_overlapping():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),  # overlaps span 1: [1, 6) counts once
        _span(3, 8.0, 12.0, 0),  # runs past its parent: clipped to [8, 10)
        _span(4, 2.0, 3.0, 1),  # grandchild: charged to span 1 only
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 5.0 - 2.0
    assert st[1] == 3.0 - 1.0
    assert st[2] == 3.0 and st[4] == 1.0
    assert st[3] == 4.0


def test_self_time_disjoint_and_empty():
    spans = [_span(0, 0.0, 5.0), _span(1, 1.0, 2.0, 0), _span(2, 3.0, 3.0, 0)]
    st = self_times(spans)
    assert st[0] == 4.0 and st[2] == 0.0


def test_busy_counts_outermost_spans_of_a_layer():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 5.0, 0), _span(2, 2.0, 4.0, 1),
             _span(3, 6.0, 7.0, 0)]
    assert layers._busy(spans, [spans[1], spans[2], spans[3]]) == 5.0


def test_metric_names_and_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert per_layer == {k: v[:2] for k, v in layers.METRICS.items()}
    import run

    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_readme_table_matches_layers():
    with open(os.path.join(HERE, "README.md")) as fh:
        assert layers.table() in fh.read()


def _tree(dest, seed):
    rng = np.random.default_rng(seed)
    names = gen.write_pulsars(dest, rng, 2, 12, 2)
    gen.write_chain_dirs(os.path.join(dest, "out"), names, rng, 50)
    return gen.tree_hash(dest)


def test_generator_is_deterministic():
    base = os.path.join(ROOT, ".ptabench", "selfcheck")
    shutil.rmtree(base, ignore_errors=True)
    try:
        a = _tree(os.path.join(base, "a"), 5)
        b = _tree(os.path.join(base, "b"), 5)
        c = _tree(os.path.join(base, "c"), 6)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert a == b != c


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok  {t.__name__}")
