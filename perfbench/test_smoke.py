"""Toy-size smoke test of the benchmark itself.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload at toy size, untraced and traced, and checks that
every metric BENCHMARK.json names is printed, that the oracle gate
passes, and that the traced run writes its spans.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench(tmp_path, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "toy",
         "--out", str(tmp_path)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_untraced_run_prints_every_end_to_end_metric(tmp_path):
    res, out = _bench(tmp_path, 0)
    spec = _spec()
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    for w in spec["workloads"]:
        for m in spec["end_to_end"]:
            got = res["metrics"][f"{w['name']}.{m['name']}"]
            assert got["unit"] == m["unit"]
            assert got["value"] > 0, (w["name"], m["name"])
    assert "failed_ops_ratio" in out


def test_traced_run_reports_layers_and_writes_spans(tmp_path):
    res, _ = _bench(tmp_path, 1)
    spec = _spec()
    assert res["correct"] and res["failed"] == 0
    for w in spec["workloads"]:
        for m in spec["per_layer"]:
            got = res["metrics"][f"{w['name']}.{m['name']}"]
            assert got["unit"] == m["unit"]
        with open(tmp_path / f"spans-{w['name']}-7.json") as f:
            spans = json.load(f)
        names = {s["name"] for s in spans}
        assert {"round", "engine.run", "merge.merge", "lake.commit"} <= names
        assert all(s["end"] >= s["start"] for s in spans)
