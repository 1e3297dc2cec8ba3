"""The benchmark's own tests: seeded inputs are deterministic, and every
metric BENCHMARK.json names is reported with its unit. No Spark session is
started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd
import pytest

from perfbench import gen, run, workloads
from perfbench.layers import PER_LAYER

BENCHMARK = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _ops_json(ops: list[dict]) -> str:
    return json.dumps(ops, sort_keys=True)


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_ops_and_bytes(name, tmp_path):
    cls = workloads.WORKLOADS[name]
    a, b = cls(5, str(tmp_path / "a")), cls(5, str(tmp_path / "b"))
    assert _ops_json(a.ops) == _ops_json(b.ops)
    a.generate()
    b.generate()
    assert _dir_digest(a.data_dir) == _dir_digest(b.data_dir)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_other_seed_other_ops(name, tmp_path):
    cls = workloads.WORKLOADS[name]
    assert _ops_json(cls(5, str(tmp_path)).ops) != _ops_json(cls(6, str(tmp_path)).ops)


def test_other_seed_other_tables():
    a, b = gen.base_tables(5, ("lineitem",)), gen.base_tables(6, ("lineitem",))
    assert not a["lineitem"].equals(b["lineitem"])


def test_every_cycle_holds_every_kind_once():
    wl = workloads.WORKLOADS["relational"](5, "unused")
    kinds = {op["kind"] for op in wl.ops}
    for c in range(3):
        assert sorted(op["kind"] for op in wl.ops if op["cycle"] == c) == sorted(kinds)
    assert len({op["id"] for op in wl.ops}) == len(wl.ops)


def test_benchmark_json_matches_reported_metrics():
    with open(BENCHMARK) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert sorted(run.WORKLOADS) == sorted(workloads.WORKLOADS)


def test_hd_median():
    assert run.hd_median([4.0]) == 4.0
    assert abs(run.hd_median([3.0, 1.0, 2.0]) - 2.0) < 1e-9  # symmetric: the middle
    lat = [1.0, 1.1, 1.2, 1.3, 1.4, 3.0, 3.1, 3.2, 3.3]
    assert 1.4 < run.hd_median(lat) < 3.0  # the kinds beside the middle weigh in


def test_tail_has_ten_samples_beyond():
    lat = [float(i) for i in range(1, 41)]
    value, pct, n = run.tail(lat)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(x > value for x in lat) == 10
    assert run.tail([1.0, 3.0, 2.0]) == (3.0, 100.0, 3)


class _Fixed(workloads.Workload):
    name = "fixed"

    def make_ops(self):
        return [{"cycle": c, "kind": "k", "key": "k"} for c in range(3)]

    def reference(self, op):
        return pd.DataFrame({"x": [1, 2], "y": [0.5, 1.5]})


def test_every_repeat_is_checked():
    wl = _Fixed(5, "unused")
    good = pd.DataFrame({"y": [1.5, 0.5], "x": [2, 1]})  # any row and column order
    bad = pd.DataFrame({"x": [1, 2], "y": [0.5, 2.5]})
    done = [(wl.ops[0], good), (wl.ops[1], bad), (wl.ops[2], None)]
    res = wl.check_all(done)
    assert res[0][0] and not res[1][0] and res[2] is None
