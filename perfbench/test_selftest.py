"""Self-test of the benchmark on tiny inputs (sf0.001, one set-up sample).

Run from the repository root::

    python3 -m pytest perfbench -q -p no:cacheprovider

It checks that every metric BENCHMARK.json names is printed with its
unit, that traced runs write spans, and that the correctness check is
not vacuous: a deliberately wrong expected frame must be counted as a
failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 3


def _spec(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _run(workload: str, *extra: str) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--tiny", "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    return json.loads(lines[-1]), lines


def _assert_metrics(res: dict, lines: list[str], kind: str) -> None:
    spec = _spec(kind)
    assert {k: v["unit"] for k, v in res["metrics"].items()} == spec
    for name, unit in spec.items():
        assert any(ln.startswith(f"{name} = ") and ln.endswith(f" {unit}") for ln in lines), name


def _trace(workload: str) -> dict:
    with open(os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed{SEED}.json")) as fh:
        return json.load(fh)


def test_floor_prints_every_end_to_end_metric_and_is_correct():
    res, lines = _run("floor_sf001", "--trace", "0")
    _assert_metrics(res, lines, "end_to_end")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert res["metrics"]["correct_ratio"]["value"] == 1.0


def test_wrong_expected_frame_counts_as_failure_in_a_traced_run():
    res, lines = _run("floor_sf001", "--trace", "1", "--corrupt-expected")
    _assert_metrics(res, lines, "per_layer")
    assert not res["correct"]
    assert 1 <= res["failed"] < res["attempted"]
    assert res["metrics"]["oracle.mismatches"]["value"] == res["failed"]
    trace = _trace("floor_sf001")
    names = {s["name"] for s in trace["spans"]}
    assert {"query", "operators.build", "spark.action", "tables.read"} <= names
    assert trace["self_time_s"]["operators.build"] > 0


def test_deliver_epochs_read_back_delivered_files():
    res, lines = _run("deliver_epochs_sf001", "--trace", "1")
    _assert_metrics(res, lines, "per_layer")
    assert res["correct"] and res["attempted"] >= 2
    assert res["metrics"]["deliver.bytes_out"]["value"] > 0
    trace = _trace("deliver_epochs_sf001")
    assert {"query", "cli.deliver", "operators.build"} <= {s["name"] for s in trace["spans"]}
    # the stale-memo probe ran on every epoch and its verdict is printed
    info = {ln.split(":", 1)[0][2:]: json.loads(ln.split(":", 1)[1]) for ln in lines
            if ln.startswith("# ")}
    assert info["stale_probe_base"] == 2
    assert isinstance(info["stale_probe"], list)
