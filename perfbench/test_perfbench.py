"""The benchmark's own tests; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from workloads import Workload  # noqa: E402



def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in ("a", "b", "c"))
    rows = gen.generate(a, 7, orders=60)
    assert gen.generate(b, 7, orders=60) == rows
    gen.generate(c, 8, orders=60)
    assert gen.fingerprint(a) == gen.fingerprint(b)
    assert gen.fingerprint(a) != gen.fingerprint(c)
    assert all(rows[t] > 0 for t in check.TABLES)


class _Log:
    """Stands in for probes.EventLog: one task per window."""

    def window(self, t0, t1):
        return {"tasks": 1, "failed_tasks": 0, "cpu_s": 1.5,
                "shuffle_write_bytes": 10, "spill_bytes": 0, "jobs": 2}


def _finished_run(workload: str) -> run.Run:
    r = run.Run(workload, seed=1, seconds=1, trace=True)
    r.docs, r.setup_s, r.attempted, r.failed = 100, 3.0, 4, 0
    r.passes = [{"wall": 2.0, "window": (0, 1), "steal_s": 0.0,
                 "driver_cpu": 2.5, "worker_cpu": 0.5, "rss": 2 ** 30, "ops": {}}]
    r.traced, r.traced_wall, r.stream_batches, r.log = [], 2.1, [], _Log()
    return r


def test_every_named_metric_is_reported():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert run.END_TO_END == e2e
    assert run.PER_LAYER == layer
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
    for w in run.WORKLOADS:
        r = _finished_run(w)
        got = r.end_to_end()
        assert set(got) == set(e2e) and all(v > 0 for v in got.values())
        assert set(r.per_layer()) == set(layer)


class _WrongRow:
    """An operation whose output has one value changed from its oracle's."""
    label = "qx"

    def check(self, ctx, out):
        want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
        got = want.copy()
        got.loc[1, "v"] = 1.25
        err = check.mismatch(got, want, self.label)
        return [err] if err else []


class _RightRows(_WrongRow):
    label = "qy"

    def check(self, ctx, out):
        want = pd.DataFrame({"k": [1, 2], "s": ["a", None]})
        return [e for e in [check.mismatch(want[::-1], want, self.label)] if e]


def test_injected_wrong_row_counts_as_failure():
    r = run.Run("spatial", seed=1, seconds=1, trace=False)
    r.w = Workload(why="", ops=(_RightRows(), _WrongRow()), orders=1)
    r.spark = r.sf_dir = None
    r.check_pass({"qx": None, "qy": None}, oracle=None)
    assert (r.attempted, r.failed) == (2, 1)
    assert "qx.v" in r.errors[0]
