"""Tiny-scale self-test of the benchmark (sf0.001 catalogs, a short
stream). Runs the real launcher end to end; about seven minutes.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
RESULTS = os.path.join(REPO, ".perfbench", "results")
# builder + plan + execute must cover an entry's wall time, less the
# harness's own read between builder and plan, to this share
COVERAGE_BOUND = 0.1

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace), *extra]
    if workload != "stream_ingest":
        cmd += ["--sf", "0.001"]
    out = subprocess.run(cmd, cwd="/", capture_output=True, text=True, timeout=240)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_with_unit(workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        res = run(workload, trace)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        for m in SPEC[section]:
            got = res["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], (int, float))
        assert set(res["metrics"]) == {m["name"] for m in SPEC[section]}


@pytest.mark.parametrize("workload", ["catalog", "stream_ingest"])
def test_wrong_expected_answer_counts_as_error(workload):
    res = run(workload, 0, "--inject-wrong-answer")
    assert res["failed"] > 0 and not res["correct"]


def test_spans_cover_entry_wall_time():
    """The spans are checked against the entry times the timed loop
    measured on its own (``entry_times`` of the result file), not
    against the entry span they hang from."""
    run("catalog", 1)
    with open(os.path.join(RESULTS, "catalog-seed3-trace1.json")) as fh:
        wall = json.load(fh)["entry_times"]
    with open(os.path.join(RESULTS, "catalog-seed3-trace1.spans.jsonl")) as fh:
        spans = [json.loads(line) for line in fh]
    entries = [s for s in spans if s["name"] == "entry"]
    assert sorted(e["attrs"]["entry"] for e in entries) == sorted(k for k, ts in wall.items() for _ in ts)
    for e in entries:
        kids = [s for s in spans if s["trace_id"] == e["trace_id"] and s["parent"] == "entry"]
        assert {k["name"] for k in kids} == {"builder", "plan", "execute"}
        covered = sum(k["end"] - k["start"] for k in kids)
        timed = wall[e["attrs"]["entry"]][e["attrs"]["round"]] - e["attrs"]["record_s"]
        assert abs(covered - timed) <= COVERAGE_BOUND * timed
