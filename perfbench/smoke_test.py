"""Smoke test of the benchmark itself, at 6,000 docs and two timed iterations.

    python3 -m pytest perfbench/smoke_test.py -q

Checks that every named metric is printed with its unit, that a wrong
pinned digest fails every iteration, that traced spans nest, and that
BENCHMARK.json names the same metrics as perfbench/metrics.py.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import metrics, tracing  # noqa: E402

WORK = os.path.join(HERE, "_work", "smoke")
SMALL = ["--docs", "6000", "--iters", "2", "--warmup-iters", "1", "--work-dir", WORK]


def bench(*args: str) -> tuple[dict, str]:
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args, *SMALL],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), r.stdout


def check_metrics(result: dict, spec: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == set(spec)
    for name, m in result["metrics"].items():
        assert m["unit"] == spec[name][0], name
        assert isinstance(m["value"], (int, float)), name


def test_end_to_end_metrics_and_wrong_digest():
    for wl in metrics.WORKLOADS:
        res, _ = bench("--workload", wl, "--seed", "3")
        check_metrics(res, metrics.END_TO_END)
        assert res["correct"] and res["attempted"] == 2 and res["failed"] == 0, wl
        assert all(m["value"] > 0 for m in res["metrics"].values()), res
    res, _ = bench("--workload", "dedup", "--seed", "3", "--pin-digest", "1")
    assert res["attempted"] == 2 and res["failed"] == res["attempted"]
    assert res["correct"] is False


def test_traced_run_nests_and_reports_every_layer():
    for wl in metrics.WORKLOADS:
        res, out = bench("--workload", wl, "--seed", "3", "--trace", "1")
        check_metrics(res, metrics.PER_LAYER)
        assert res["correct"], wl
        path = next(l.split(": ", 1)[1] for l in out.splitlines() if l.startswith("spans: "))
        with open(path) as f:
            spans = [json.loads(l) for l in f]
        assert tracing.nesting_errors(spans) == []
        roots = [s for s in spans if s["parent"] is None]
        assert roots and all(s["name"] == "iteration" for s in roots)
        assert all(s["parent"] is not None for s in spans if s["name"] != "iteration")
        assert len({s["run_id"] for s in spans}) == 1


def test_nesting_check_rejects_escaping_child():
    spans = [
        {"id": 0, "name": "iteration", "parent": None, "run_id": "r", "iteration": 1,
         "start": 0.0, "end": 1.0, "counts": {}},
        {"id": 1, "name": "dedup.build", "parent": 0, "run_id": "r", "iteration": 1,
         "start": 0.5, "end": 1.5, "counts": {}},
    ]
    assert tracing.nesting_errors(spans)
    assert tracing.self_times(spans[:1]) == {0: 1.0}


def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(metrics.WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == {k: v[:2] for k, v in metrics.END_TO_END.items()}
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == {k: v[:2] for k, v in metrics.PER_LAYER.items()}


if __name__ == "__main__":
    import pytest

    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
