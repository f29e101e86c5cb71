"""Self-test of the benchmark: every workload at toy size, in both modes,
prints every declared metric with its unit, and a corrupted output fails
its check.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
from measure import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_reports_every_metric(workload, trace):
    out = _smoke(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"]), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]


def test_tampered_sink_count_fails_check():
    from workloads import pipeline_problems

    counts = {"by_role": 100, "matched": 95, "unmatched": 5}
    direct = {"matched": 95, "errors": 20}
    aggs = {"template_counts": 100, "conv_turns": 100, "conv_matched": 95,
            "conv_errors": 20, "error_tallies": 20}
    assert pipeline_problems(counts, 100, aggs, direct) == []
    assert pipeline_problems({**counts, "unmatched": 4}, 100, aggs, direct)
    assert pipeline_problems(counts, 101, aggs, direct)
    assert pipeline_problems(counts, 100, {**aggs, "error_tallies": 19}, direct)


def test_digest_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 0.1234567), (2, "b", None)]
    base = corpus.digest(["id", "s", "x"], rows)
    swapped = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert corpus.digest(["x", "id", "s"], swapped) == base
    assert corpus.digest(["id", "s", "x"], [(1, "a", 0.1244567), (2, "b", None)]) != base
    # values equal to 6 decimal places hash equal, as in the oracle gate
    assert corpus.digest(["id", "s", "x"], [(1, "a", 0.12345671), (2, "b", None)]) == base
    assert corpus.digest(["id", "s", "x"], rows[:1])["rows"] == 1


def test_pins_cover_every_query():
    assert set(corpus.load_pins()) == set(corpus.QUERIES)


def test_purity_sees_merged_events_that_accuracy_misses():
    from workloads import quality

    # events a and b both land on template 1: each keeps it as its modal
    # template (accuracy 100%), but half the lines are impure
    q = quality([("a", 1, 50), ("b", 1, 50)])
    assert q["grouping_accuracy_pct"] == 100.0
    assert q["template_purity_pct"] == 50.0
    assert quality([("a", 1, 9), ("a", None, 1)])["unmatched_pct"] == 10.0


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("root"):
        with tr.span("child"):
            pass
    root, child = tr.self_times()
    assert child["parent"] == 0
    assert math.isclose(root["self_s"], root["duration_s"] - child["duration_s"])
