#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh worker process and prints, as the last
line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it holds the workload's own detail (the catalog entry-time
quantiles, error rate, unchecked entries).

The launcher works from any directory: it finds the package next to
its own directory, puts it on the Python path of the driver and of
Spark's Python workers, keeps every file the run writes under
``.perfbench/`` in the checkout, and stops every process the run
started before it exits. It exits non-zero, printing no result, when
the package is missing, the run fails or it overruns ``TIMEOUT_S``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "aliyun_emapreduce_datasources_spark"
WORKLOADS = ("catalog", "stream_ingest")
TIMEOUT_S = 170
DRIVER_MEMORY = "4g"

sys.path.insert(0, HERE)
from metrics import E2E_UNITS, LAYER_UNITS  # noqa: E402


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the JVM and
    Python workers it spawned) and wait until all of it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def _env(work: str) -> dict[str, str]:
    env = dict(os.environ)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["TZ"] = "UTC"
    # no hsperfdata file in the system temp dir
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    env.pop("OMP_NUM_THREADS", None)
    return env


def _number(v) -> float:
    v = float(v)
    if math.isnan(v) or math.isinf(v):
        raise ValueError("metric is not a finite number")
    return v


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float, default=None,
                    help="catalog fixture scale factor (default 0.01)")
    ap.add_argument("--inject-wrong-answer", action="store_true",
                    help="self-test hook: corrupt one expected answer")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    out_dir = os.path.join(REPO, ".perfbench")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out_dir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--repo", REPO, "--out", result_path,
    ]
    if a.sf is not None:
        cmd += ["--sf", str(a.sf)]
    if a.inject_wrong_answer:
        cmd.append("--inject-wrong-answer")
    proc = subprocess.Popen(cmd, cwd=work, env=_env(work), stdout=sys.stderr,
                            start_new_session=True)
    # a SIGTERM to the launcher must still take the worker's group down
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
    if code != 0 or not os.path.exists(result_path):
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: worker {why}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    shutil.copy(result_path, os.path.join(out_dir, "results", f"{tag}.json"))
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(out_dir, "results", f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    try:
        if a.trace:
            metrics = {k: {"value": _number(res["layers"].get(k, 0.0)), "unit": u}
                       for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": _number(res["e2e"][k]["value"]), "unit": u}
                       for k, u in E2E_UNITS.items()}
    except ValueError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    detail = {k: res[k] for k in ("error_rate", "errors", "checked", "unchecked", "entry_times")}
    detail.update(res["detail"])
    print(json.dumps({"workload": a.workload, "seed": a.seed, **detail}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
