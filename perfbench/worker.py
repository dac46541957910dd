"""One benchmark run in a fresh process: input generation, the
workload's set-ups (the first in a fresh JVM), the measured phase, the
output checks, then the result as one JSON object written to
``--out``. ``run.py`` launches it."""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import median  # noqa: E402


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def make_workload(a, repo: str):
    if a.workload == "stream_ingest":
        from stream import StreamWorkload

        return StreamWorkload(repo, a.work, a.seed, a.seconds, a.trace, a.inject_wrong_answer)
    from catalog import CatalogWorkload

    return CatalogWorkload(repo, a.work, a.seed, a.seconds, a.trace, a.inject_wrong_answer, a.sf)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--repo", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=None)
    ap.add_argument("--inject-wrong-answer", action="store_true")
    a = ap.parse_args()
    a.trace = bool(a.trace)
    sys.path.insert(0, a.repo)

    from aliyun_emapreduce_datasources_spark.session import get_session

    wl = make_workload(a, a.repo)
    wl.prepare()

    starts, warms, setups = [], [], []
    spark = None
    for _ in range(wl.setups):
        if spark is not None and wl.restart_session:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        wl.warm(spark)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
        setups.append(t2 - t0)

    t0 = time.perf_counter()
    e2e = wl.measure(spark)
    t1 = time.perf_counter()
    verdict = wl.check(spark)
    print(f"perfbench: setups {[round(s, 2) for s in setups]} s, measure {t1 - t0:.1f} s, "
          f"check {time.perf_counter() - t1:.1f} s", file=sys.stderr)
    rss = peak_rss_mb(spark)
    spark.stop()

    metrics = {
        "setup_s": (median(setups), "s"),
        "latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
        "latency_tail_ms": (e2e["latency_tail_ms"], "ms"),
        "throughput_per_s": (e2e["throughput_per_s"], "1/s"),
    }
    layers = dict(wl.layers)
    layers["session.start_s"] = median(starts)
    layers["session.warmup_s"] = median(warms)
    layers["session.cold_setup_s"] = setups[0]
    layers["session.peak_rss_mb"] = rss
    attempted, failed = verdict["attempted"], verdict["failed"]
    error_rate = failed / attempted if attempted else 1.0
    result = {
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "layers": layers,
        "detail": {k: v for k, v in e2e.items() if not (isinstance(v, float) and math.isnan(v))},
        "error_rate": error_rate,
        "attempted": attempted,
        "failed": failed,
        "errors": verdict["errors"],
        "checked": verdict["checked"],
        "unchecked": verdict["unchecked"],
        "entry_times": getattr(wl, "entry_times", None),
        "setups_s": setups,
    }
    if a.trace:
        wl.tracer.dump(os.path.join(a.work, "spans.jsonl"))
        result["self_time_s"] = wl.tracer.self_times()
    with open(a.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
