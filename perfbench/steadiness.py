#!/usr/bin/env python3
"""Run the benchmark once per seed and report, per end-to-end metric,
the median, the quartiles and the spread (inter-quartile distance as a
share of the median) next to the metric's bound.

    python3 perfbench/steadiness.py --workload catalog --seeds 1-10

Runs are sequential; each run's last output line is appended to
``.perfbench/steadiness-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    log = os.path.join(REPO, ".perfbench", f"steadiness-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        walls.append(time.time() - t0)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": walls[-1], **res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.0f} s, correct={res['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"\nrun wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print("| metric | median | q1 | q3 | spread | bound |\n|---|---|---|---|---|---|")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        print(f"| {k} | {med:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} | {bounds.get(k)} |")


if __name__ == "__main__":
    main()
