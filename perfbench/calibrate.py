#!/usr/bin/env python3
"""Measure the reference cost of every catalog entry and check each one
against its oracle on a generated fixture.

    python3 perfbench/calibrate.py

Runs every entry of the ``catalog`` workload twice (the second, warm,
time is the reference cost) on the fixture of seed 0, compares
oracle-backed entries with DuckDB, and rewrites ``costs.json``.
``choose_panel`` stratifies by these costs, so they only need
refreshing when entries are added or their costs shift a lot. An entry
that raises cannot be timed and is left out of the table; an oracle
mismatch is reported but the entry stays in, so the benchmark keeps
showing it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> None:
    work = os.path.join(run.REPO, ".perfbench", "work", "calibrate")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update(run._env(work))
    os.chdir(work)
    sys.path.insert(0, run.REPO)
    import catalog
    import fixture
    import oracle
    from aliyun_emapreduce_datasources_spark.operators.catalog import ORACLES, QUERIES
    from aliyun_emapreduce_datasources_spark.session import get_session

    spark = get_session("perfbench-calibrate")
    spark.sparkContext.setLogLevel("ERROR")
    fx = os.path.join(work, "fixture")
    fixture.generate(run.REPO, fx, catalog.SF, 0)
    con = oracle.connect(fx)
    table, bad = {}, {}
    for name in catalog.entry_packages():
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                QUERIES[name](spark, fx).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                spark.catalog.clearCache()
            table[name] = round(dt, 3)
            if name in ORACLES:
                ok, why = oracle.check(QUERIES[name](spark, fx).toPandas(), con, ORACLES[name])
                spark.catalog.clearCache()
                if not ok:
                    bad[name] = why
        except Exception as exc:
            bad[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
            spark.catalog.clearCache()
        print(name, table.get(name), bad.get(name, ""), flush=True)
    con.close()
    spark.stop()
    with open(catalog.COSTS_PATH, "w") as fh:
        json.dump(dict(sorted(table.items())), fh, indent=1)
        fh.write("\n")
    print(json.dumps({"failed or mismatched": bad}, indent=1))


if __name__ == "__main__":
    main()
