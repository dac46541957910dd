"""The ``catalog`` workload: a closed loop with one client that runs
one catalog entry at a time to completion on a noop sink.

The panel is half relational entries (``operators.*`` and
``sources.queries``: short, JVM-bound queries) and half LLM-curation
entries (``dedup``, ``similarity``, ``functions`` and ``multimodal``:
eager builder jobs, pair self-joins, pandas/Arrow UDFs).

Each layer is timed around its public entry point: the query function
``QUERIES[name]`` (builder), ``queryExecution().executedPlan()``
(plan, traced runs only) and the noop write (execute).
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import random
import time

import fixture
import oracle
from metrics import PACKAGE_FIELDS, PACKAGES
from spans import JobCursor, Tracer, live_counts, median, quantile

PKG = "aliyun_emapreduce_datasources_spark"

# module -> (family, package); the panel is split evenly between the
# two families and, inside a family, by package size
MODULES = {
    "operators.tpch": ("relational", "operators"),
    "operators.tpch_extra": ("relational", "operators"),
    "operators.corpus": ("relational", "operators"),
    "operators.analytic": ("relational", "operators"),
    "operators.events": ("relational", "operators"),
    "operators.skew": ("relational", "operators"),
    "operators.approx_bounds": ("relational", "operators"),
    "sources.queries": ("relational", "sources"),
    "dedup.queries": ("llm_curation", "dedup"),
    "similarity.queries": ("llm_curation", "similarity"),
    "functions.queries": ("llm_curation", "functions"),
    "multimodal.queries": ("llm_curation", "multimodal"),
}
SF = 0.01
PANEL_DRAW = 0
# a timed round runs about this many times the calibrated cost, which
# is the second of two back-to-back runs of one entry
TIMED_OVER_REFERENCE = 1.35
# rounds of the timed pass; an entry's time is its best round, so a
# slow spell of the host during one or two rounds does not decide it
TIMED_ROUNDS = 3
# set-up warm-up: a JVM-only entry and a pandas-UDF entry; never timed
WARMUP = ("q6_forecast_revenue", "text_normalize")
COSTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "costs.json")


def entry_packages() -> dict[str, tuple[str, str]]:
    """entry name -> (family, package) for every entry of ``MODULES``."""
    out = {}
    for mod, fam_pkg in MODULES.items():
        for name in importlib.import_module(f"{PKG}.{mod}").QUERIES:
            out[name] = fam_pkg
    return out


def load_costs() -> dict[str, float]:
    with open(COSTS_PATH) as fh:
        return json.load(fh)


def choose_panel(seconds: float) -> list[str]:
    """The fixed panel of entries every run times, stratified by family,
    package and reference cost.

    One round of the timed pass takes about ``seconds``, half of the entries
    from each family. Inside a family each package gets entries in proportion to
    its size (at least one); inside a package the entries are cut into
    equal-count cost strata and one is drawn from each, with a fixed
    draw. Of those draws, the first whose reference total and median
    lie within 3% of the population's is kept (the closest of 500
    otherwise). Entries run in name order.

    Neither the panel nor its order depends on the run's seed, which
    generates the fixture: with one entry per stratum, seed-chosen
    samples in seed-chosen order moved the end-to-end metrics by
    23-50% (inter-quartile spread over four seeds), far over their
    bounds."""
    costs = load_costs()
    fam_pkg = entry_packages()
    pop = {k: c for k, c in costs.items() if k in fam_pkg and k not in WARMUP}
    by_pkg: dict[tuple[str, str], list[str]] = {}
    for k in sorted(pop, key=lambda k: (pop[k], k)):
        by_pkg.setdefault(fam_pkg[k], []).append(k)
    n = round(seconds / (TIMED_OVER_REFERENCE * sum(pop.values()) / len(pop)))
    strata = []
    for fam in sorted({f for f, _ in by_pkg}):
        pkgs = {p: v for (f, p), v in by_pkg.items() if f == fam}
        for p, k in _allocate(max(1, n // 2), {p: len(v) for p, v in pkgs.items()}).items():
            names = pkgs[p]
            bounds = [round(i * len(names) / k) for i in range(k + 1)]
            strata += [names[bounds[i]:bounds[i + 1]] for i in range(k)]
    want_total = sum(sum(pop[x] for x in s) / len(s) for s in strata)
    want_median = median(pop.values())
    rng = random.Random(PANEL_DRAW)
    best, best_err = None, None
    for _ in range(500):
        pick = [rng.choice(s) for s in strata]
        err = max(
            abs(sum(pop[x] for x in pick) / want_total - 1),
            abs(median([pop[x] for x in pick]) / want_median - 1),
        )
        if best is None or err < best_err:
            best, best_err = pick, err
        if err <= 0.03:
            break
    return sorted(best)


def _allocate(n: int, sizes: dict[str, int]) -> dict[str, int]:
    total = sum(sizes.values())
    raw = {p: n * s / total for p, s in sizes.items()}
    alloc = {p: max(1, min(sizes[p], int(r))) for p, r in raw.items()}
    for p in sorted(raw, key=lambda p: raw[p] - int(raw[p]), reverse=True):
        if sum(alloc.values()) >= n:
            break
        if alloc[p] < sizes[p]:
            alloc[p] += 1
    return alloc


class CatalogWorkload:
    def __init__(self, repo: str, work: str, seed: int, seconds: float,
                 trace: bool, inject_wrong: bool, sf: float | None = None) -> None:
        self.repo, self.seed, self.seconds = repo, seed, seconds
        self.trace, self.inject_wrong = trace, inject_wrong
        self.sf = sf if sf is not None else SF
        self.fixture_dir = os.path.join(work, "fixture")
        self.tracer = Tracer(trace)
        self.layers: dict[str, float] = {}
        self.restart_session = True
        self.setups = 4

    def prepare(self) -> None:
        """Input generation (outside set-up time)."""
        fixture.generate(self.repo, self.fixture_dir, self.sf, self.seed)
        from aliyun_emapreduce_datasources_spark.operators.catalog import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.packages = {k: p for k, (_, p) in entry_packages().items()}
        self.panel = choose_panel(self.seconds)

    def warm(self, spark) -> None:
        for name in WARMUP:
            self.queries[name](spark, self.fixture_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    def measure(self, spark) -> dict:
        """The check pass (untimed; it also warms each panel entry),
        then ``TIMED_ROUNDS`` timed rounds over the panel."""
        t0 = time.perf_counter()
        self._check_pass(spark)
        self.check_pass_s = time.perf_counter() - t0
        cursor = JobCursor(spark) if self.trace else None
        acc = {p: dict.fromkeys(PACKAGE_FIELDS, 0.0) for p in PACKAGES}
        times, failures = {}, {}
        for r, (i, name) in itertools.product(range(TIMED_ROUNDS), enumerate(self.panel)):
            tid = f"entry-{r}-{i}"
            pkg = self.packages[name]
            if self.trace:
                cursor.take()
                r0, b0 = live_counts(spark)
            t0 = time.perf_counter()
            try:
                df = self.queries[name](spark, self.fixture_dir)
                t1 = time.perf_counter()
                if self.trace:
                    builder_jobs = cursor.take()
                    t1b = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                else:
                    t1b = t2 = t1
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            except Exception as exc:  # one entry failing must not end the run
                failures[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
                spark.catalog.clearCache()
                continue
            times.setdefault(name, []).append(t3 - t0)
            if self.trace:
                r0c = time.perf_counter()
                jobs = cursor.take()
                stages = cursor.stage_metrics(builder_jobs + jobs)
                r1, b1 = live_counts(spark)
                self.tracer.record_s += (t1b - t1) + (time.perf_counter() - r0c)
                # the entry's one gap, [t1, t1b], is the harness reading
                # the builder's jobs; it is the entry's self time
                self.tracer.add("entry", t0, t3, None, tid, entry=name, round=r, package=pkg,
                                record_s=t1b - t1)
                self.tracer.add("builder", t0, t1, "entry", tid, eager_jobs=len(builder_jobs))
                self.tracer.add("plan", t1b, t2, "entry", tid)
                self.tracer.add("execute", t2, t3, "entry", tid, **stages)
                a = acc[pkg]
                a["builder_s"] += t1 - t0
                a["plan_s"] += t2 - t1b
                a["execute_s"] += t3 - t2
                a["eager_jobs"] += len(builder_jobs)
                for k in ("task_s", "jvm_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
                    a[k] += stages[k]
                a["python_s"] += max(0.0, stages["task_s"] - stages["jvm_cpu_s"])
                a["rdds_leaked"] += r1 - r0
                a["broadcasts_leaked"] += b1 - b0
            del df
            spark.catalog.clearCache()
        if self.trace:
            for p, fields in acc.items():
                for k, v in fields.items():
                    self.layers[f"{p}.{k}"] = v
            self.layers["trace.record_s"] = self.tracer.record_s
        self.failures = failures
        self.entry_times = times
        times = [min(ts) for ts in times.values()]
        total = sum(times)
        return {
            "total_s": total,
            "entry_p50_s": median(times) if times else float("nan"),
            "entry_p90_s": quantile(times, 0.9) if times else float("nan"),
            "n_entries": len(times),
            "throughput_per_s": len(times) / total if total else float("nan"),
            "latency_p50_ms": 1e3 * median(times) if times else float("nan"),
            "latency_tail_ms": 1e3 * quantile(times, 0.9) if times else float("nan"),
        }

    def _check_pass(self, spark) -> None:
        """Oracle comparison of every panel entry that has one;
        entries without an oracle run to a noop sink and are listed as
        unchecked."""
        con = oracle.connect(self.fixture_dir)
        self.mismatches, self.unchecked, self.checked = {}, [], 0
        try:
            for name in self.panel:
                try:
                    df = self.queries[name](spark, self.fixture_dir)
                    if name not in self.oracles:
                        self.unchecked.append(name)
                        df.write.format("noop").mode("overwrite").save()
                        continue
                    sql = self.oracles[name]
                    if self.inject_wrong and self.checked == 0:
                        sql = f"SELECT * FROM ({sql}) LIMIT 0"
                    self.checked += 1
                    ok, why = oracle.check(df.toPandas(), con, sql)
                except Exception as exc:  # reported as a failed entry
                    ok, why = False, f"{type(exc).__name__}: {str(exc)[:200]}"
                if not ok:
                    self.mismatches[name] = why
                spark.catalog.clearCache()
        finally:
            con.close()

    def check(self, spark) -> dict:
        errors = {**self.mismatches, **self.failures}
        return {
            "attempted": len(self.panel),
            "failed": len(errors),
            "errors": [f"{k}: {v}" for k, v in sorted(errors.items())],
            "checked": self.checked,
            "unchecked": self.unchecked,
        }
