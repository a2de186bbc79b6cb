"""Smoke test of the KG-pipeline benchmark harness at a tiny input size.

    python3 -m pytest kgbench -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from stageprof import covered_ms  # noqa: E402
from workloads import WORKLOADS, make_inputs, mention_id  # noqa: E402


def _bench(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "kgbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_covered_ms_unions_and_clips():
    assert covered_ms([], 0, 10) == 0
    assert covered_ms([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered_ms([(-5, 2), (9, 20)], 0, 10) == 3


def test_inputs_are_seeded_and_gold_names_mentions(tmp_path):
    wl = WORKLOADS["kg_small"]
    a = make_inputs(wl, 3, 1, str(tmp_path / "a"), 2, scale=0.2)
    b = make_inputs(wl, 3, 1, str(tmp_path / "b"), 2, scale=0.2)
    assert a.expected == b.expected and a.gold == b.gold
    mentions = {mention_id(s) for _u, s, _p, _o in a.expected}
    assert a.gold and {m for m, _t in a.gold} <= mentions
    assert sorted(os.listdir(tmp_path / "a" / "pages")) == [
        "part-00000.parquet", "part-00001.parquet"
    ]


def test_outside_a_checkout_it_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "kgbench")
    p = _bench(str(tmp_path), "--workload", "kg_small", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_tiny_run_reports_every_metric(trace, kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = _bench(ROOT, "--workload", "kg_small", "--seed", "1", "--seconds", "1",
               "--trace", str(trace), "--scale", "0.2")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 1
    assert set(result["metrics"]) == {m["name"] for m in spec[kind]}
    assert all(m["value"] > 0 for k, m in result["metrics"].items()
               if k in {e["name"] for e in spec["end_to_end"]})
