"""``stream_ingest``: an open loop over the streaming-SQL front-end.

One ``StreamingSqlSession`` script reads the ``emrlog`` shard files the
generator appends to and runs two queries:

- a ``TUMBLING`` + ``delay()`` aggregate in update mode into the
  ``jdbc2`` exactly-once sink;
- a stateless projection into the ``emrkv`` two-phase-commit sink.

Phases after set-up: the script starts (``plans.script_start_s``), the
first data trigger of both queries completes (not measured), the
generator runs at ``LATENCY_RATE`` rows/s for the latency window, then
appends ``BURSTS`` bursts that measure the rate the pipeline can
sustain.
Per-trigger layer timings come from the queries' progress reports
(Structured Streaming listener progress, ``recentProgress``).
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import sqlite3
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from spans import Tracer, median, quantile

LATENCY_RATE = 2000  # rows/s, below saturation on a 4-core host
LATENCY_SHARE = 1.0  # share of --seconds spent in the latency window
BURSTS = 4  # sustained-rate bursts, written one after the other
BURST_ROWS_PER_S = 4000  # rows per burst per second of --seconds
WINDOW = "10 seconds"  # longer than a trigger, so most rows of a trigger share a window
DELAY = "2 seconds"  # above the generator's hold-back (gen_events.LATE_MAX_S)
WARM_ROWS = 1000

SCRIPT = """
SET spark.sql.shuffle.partitions=1;
SET spark.sql.streaming.noDataMicroBatches.enabled=false;
SET spark.sql.streaming.numRecentProgressUpdates=10000;
CREATE TABLE ev (id bigint, ts timestamp, kind string, v bigint) USING emrlog
    OPTIONS (path '{src}');
CREATE TABLE win_sink USING jdbc2
    OPTIONS (url 'jdbc:sqlite:{db}', dbtable 'win', output.mode 'update',
             checkpointLocation '{ckpt}/win');
CREATE TABLE kv_sink USING emrkv
    OPTIONS (path '{kv}', output.mode 'append', checkpointLocation '{ckpt}/kv');
INSERT INTO win_sink
SELECT window.start AS wstart, kind, count(*) AS n, sum(v) AS total,
       max(ts) AS max_created
FROM ev WHERE delay(ts) < '{delay}'
GROUP BY TUMBLING(ts, interval {window}), kind;
INSERT INTO kv_sink SELECT id, ts, kind, v FROM ev
"""

ORACLE_SQL = """
SELECT epoch_us(time_bucket(INTERVAL '{window}', make_timestamp(us))) AS wstart,
       kind, count(*) AS n, sum(v) AS total, max(us) AS max_created
FROM read_json('{src}/*.jsonl', format='newline_delimited',
               columns={{'id': 'BIGINT', 'us': 'BIGINT', 'kind': 'VARCHAR', 'v': 'BIGINT'}})
GROUP BY 1, 2
"""


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _text_us(text: str) -> int:
    """A timestamp the jdbc2 sink stored as text (UTC) -> epoch micros."""
    d = datetime.datetime.fromisoformat(text).replace(tzinfo=datetime.timezone.utc)
    return round(d.timestamp() * 1e6)


class StreamWorkload:
    def __init__(self, repo: str, work: str, seed: int, seconds: float,
                 trace: bool, inject_wrong: bool) -> None:
        self.repo, self.work, self.seed, self.seconds = repo, work, seed, seconds
        self.trace, self.inject_wrong = trace, inject_wrong
        self.shards = max(1, min(4, len(os.sched_getaffinity(0))))
        self.tracer = Tracer(trace)
        self.layers: dict[str, float] = {}
        self.restart_session = False
        self.setups = 3
        self.n_setups = 0

    # -- set-up --------------------------------------------------------

    def prepare(self) -> None:
        self.warm_src = os.path.join(self.work, "warm-src")
        os.makedirs(self.warm_src, exist_ok=True)
        t0 = 1_700_000_000.0
        for s in range(self.shards):
            with open(os.path.join(self.warm_src, f"shard-{s:02d}.jsonl"), "w") as fh:
                for i in range(s, WARM_ROWS, self.shards):
                    ts = datetime.datetime.fromtimestamp(t0 + i / 100, datetime.timezone.utc)
                    fh.write(json.dumps({"id": i, "ts": ts.isoformat(), "kind": f"k{i % 64:02d}", "v": i % 1000}) + "\n")

    def _start(self, spark, src: str, base: str):
        from aliyun_emapreduce_datasources_spark.plans.streaming_sql import StreamingSqlSession

        os.makedirs(os.path.join(base, "kv"), exist_ok=True)
        sess = StreamingSqlSession(spark)
        sess.execute_script(SCRIPT.format(
            src=src, db=os.path.join(base, "win.db"),
            ckpt=os.path.join(base, "ckpt"), kv=os.path.join(base, "kv"),
            delay=DELAY, window=WINDOW,
        ))
        return sess

    def warm(self, spark) -> None:
        """Start the script over a static warm-up input, process it and
        stop: JIT, Python data-source workers and state stores warm."""
        base = os.path.join(self.work, f"warm-{self.n_setups}")
        self.n_setups += 1
        sess = self._start(spark, self.warm_src, base)
        for q in sess.queries.values():
            q.processAllAvailable()
        for q in sess.queries.values():
            q.stop()

    # -- measurement ---------------------------------------------------

    def measure(self, spark) -> dict:
        self.src = os.path.join(self.work, "src")
        self.base = os.path.join(self.work, "live")
        os.makedirs(self.src, exist_ok=True)
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_events.py"),
             self.src, "--shards", str(self.shards), "--seed", str(self.seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        try:
            return self._measure(spark, gen)
        finally:
            if gen.poll() is None:
                gen.kill()
            gen.wait()

    def _cmd(self, gen, line: str) -> tuple[int, float]:
        gen.stdin.write(line + "\n")
        gen.stdin.flush()
        _, n, t = gen.stdout.readline().split()
        return int(n), float(t)

    def _committed(self, q) -> int:
        return sum(p.numInputRows for p in q.recentProgress)

    def _wait_rows(self, queries, rows: int, timeout: float) -> None:
        deadline = time.time() + timeout
        while any(self._committed(q) < rows for q in queries):
            if time.time() > deadline:
                raise TimeoutError(f"stream did not commit {rows} rows in {timeout:.0f} s")
            time.sleep(0.05)

    def _measure(self, spark, gen) -> dict:
        self._cmd(gen, f"rate {LATENCY_RATE}")
        t0 = time.perf_counter()
        sess = self._start(spark, self.src, self.base)
        self.layers["plans.script_start_s"] = time.perf_counter() - t0
        queries = list(sess.queries.values())
        # the latency window starts after the first data trigger
        self._wait_rows(queries, 1, 120)
        n_lat0, t_lat0 = self._cmd(gen, f"rate {LATENCY_RATE}")
        time.sleep(LATENCY_SHARE * self.seconds)
        n_lat1, t_lat1 = self._cmd(gen, "rate 0")
        self._wait_rows(queries, n_lat1, 120)
        bursts = []
        for _ in range(BURSTS):
            n_b, t_b = self._cmd(gen, f"burst {int(BURST_ROWS_PER_S * self.seconds)}")
            self._wait_rows(queries, n_b, 120)
            bursts.append(t_b)
        gen.stdin.write("stop\n")
        gen.stdin.flush()
        self.gen_summary = json.loads(gen.stdout.readline())
        gen.wait(timeout=30)
        for q in queries:
            q.processAllAvailable()
        progress = {name: [json.loads(p.json) for p in q.recentProgress] for name, q in sess.queries.items()}
        for q in queries:
            q.stop()
        self.total_rows = self.gen_summary["rows"]
        return self._metrics(progress, (t_lat0, t_lat1), (n_lat0, n_lat1), bursts)

    def _metrics(self, progress, lat_window, lat_rows, bursts) -> dict:
        batches = {}
        for name, ps in progress.items():
            for p in ps:
                start = _epoch(p["timestamp"])
                dur = p["durationMs"]
                p["_start"], p["_commit"] = start, start + dur.get("triggerExecution", 0) / 1e3
            batches[name] = ps
        # event latency: commit of the emrkv batch that holds the event
        # minus its creation, for events created in the latency window
        # that the generator did not hold back (their lateness is the
        # generator's, reported as generator.lateness_*)
        kv_commit = {p["batchId"]: p["_commit"] for p in batches["kv_sink"]}
        held = set(self.gen_summary["held_ids"])
        lat = []
        for bid, i, created in self._kv_rows():
            if lat_window[0] <= created / 1e6 < lat_window[1] and i not in held:
                lat.append(1e3 * (kv_commit[bid] - created / 1e6))
        self._window_latency(batches["win_sink"], lat_window)

        # sustained rate: rows per second of trigger time over the
        # triggers that processed a burst, pooled over both queries;
        # the median over the bursts
        rates = []
        for lo, hi in zip(bursts, bursts[1:] + [float("inf")]):
            busy = [p for ps in batches.values() for p in ps
                    if lo < p["_commit"] <= hi and p["numInputRows"] > 0]
            busy_s = sum(p["durationMs"].get("triggerExecution", 0) for p in busy) / 1e3
            rates.append(sum(p["numInputRows"] for p in busy) / busy_s)
        self._layer_metrics(batches, lat_window, lat_rows)
        return {
            "latency_p50_ms": median(lat) if lat else float("nan"),
            "latency_tail_ms": quantile(lat, 0.99) if lat else float("nan"),
            "latency_samples": len(lat),
            "throughput_per_s": median(rates),
        }

    def _kv_rows(self):
        """(batch id, event id, creation in epoch micros) of every row
        the emrkv sink committed."""
        kv = os.path.join(self.base, "kv")
        for man in glob.glob(os.path.join(kv, "_batch-*.json")):
            with open(man) as fh:
                m = json.load(fh)
            for f in m["files"]:
                t = pq.read_table(os.path.join(kv, f), columns=["id", "ts"])
                ts = t.column("ts").cast(pa.int64()).to_pylist()
                for i, created in zip(t.column("id").to_pylist(), ts):
                    yield m["batchId"], i, created

    def _window_latency(self, win, lat_window) -> None:
        """The jdbc2 window rows' latency: commit of the row's batch
        minus the creation of the newest event in the row
        (max_created). A row whose newest event was read by an earlier
        batch was re-emitted for an out-of-order event; its latest
        contributing event is not max_created, so it is skipped."""
        commit, prev_start, last = {}, {}, None
        for p in sorted(win, key=lambda p: p["batchId"]):
            commit[p["batchId"]], prev_start[p["batchId"]] = p["_commit"], last
            last = p["_start"]
        con = sqlite3.connect(os.path.join(self.base, "win.db"))
        try:
            rows = con.execute("SELECT _batch_id, max_created FROM win").fetchall()
        finally:
            con.close()
        lat = []
        for bid, mc in rows:
            created, bid = _text_us(mc) / 1e6, int(bid)
            if lat_window[0] <= created < lat_window[1] and bid in commit \
                    and (prev_start[bid] is None or created > prev_start[bid]):
                lat.append(1e3 * (commit[bid] - created))
        self.layers["streaming.window_latency_p50_ms"] = median(lat) if lat else 0.0
        self.layers["streaming.window_latency_p90_ms"] = quantile(lat, 0.9) if lat else 0.0

    def _layer_metrics(self, batches, lat_window, lat_rows) -> None:
        all_b = [p for ps in batches.values() for p in ps[1:]]  # skip the cold first trigger
        d = lambda k: [p["durationMs"].get(k, 0) for p in all_b]  # noqa: E731
        L = self.layers
        lo = d("latestOffset")
        L["sources.emrlog.latest_offset_ms_p50"] = quantile(lo, 0.5)
        L["sources.emrlog.latest_offset_ms_p99"] = quantile(lo, 0.99)
        L["plans.query_planning_ms"] = median(d("queryPlanning"))
        L["streaming.add_batch_ms"] = median(d("addBatch"))
        L["streaming.wal_commit_ms"] = median(d("walCommit"))
        L["streaming.commit_offsets_ms"] = median(d("commitOffsets"))
        L["streaming.trigger_ms_p99"] = quantile(d("triggerExecution"), 0.99)
        L["streaming.empty_batch_ratio"] = sum(1 for p in all_b if p["numInputRows"] == 0) / len(all_b)
        win = batches["win_sink"]
        L["streaming.state_rows"] = sum(o.get("numRowsTotal", 0) for o in win[-1].get("stateOperators", []))
        self.dropped = sum(o.get("numRowsDroppedByWatermark", 0) for p in win for o in p.get("stateOperators", []))
        L["streaming.rows_dropped_by_watermark"] = self.dropped
        # backlog during the latency window: rows the generator had
        # scheduled minus rows the projection had committed
        t0, t1 = lat_window
        n0 = lat_rows[0]
        done, pts = 0, []
        for p in batches["kv_sink"]:
            done += p["numInputRows"]
            if t0 <= p["_commit"] <= t1:
                pts.append((p["_commit"], n0 + LATENCY_RATE * (p["_commit"] - t0) - done))
        L["streaming.backlog_rows_max"] = max((b for _, b in pts), default=0.0)
        L["streaming.backlog_slope_rows_per_s"] = _slope(pts)
        L["generator.lateness_ms_p99"] = self.gen_summary["lateness_ms_p99"]
        L["generator.lateness_ms_max"] = self.gen_summary["lateness_ms_max"]
        if self.trace:
            order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
            for name, ps in batches.items():
                for p in ps:
                    tid = f"{name}-{p['batchId']}"
                    self.tracer.add("trigger", p["_start"], p["_commit"], None, tid, rows=p["numInputRows"])
                    t = p["_start"]
                    for k in order:
                        ms = p["durationMs"].get(k, 0)
                        self.tracer.add(k, t, t + ms / 1e3, "trigger", tid)
                        t += ms / 1e3
            n_triggers = sum(len(ps) for ps in batches.values())
            L["trace.trigger_self_ms_mean"] = 1e3 * self.tracer.self_times()["trigger"] / n_triggers

    # -- correctness ---------------------------------------------------

    def check(self, spark) -> dict:
        errors = []
        con = duckdb.connect()
        try:
            want = {
                (int(w), k): (int(n), int(t), int(mc))
                for w, k, n, t, mc in con.execute(
                    ORACLE_SQL.format(window=WINDOW, src=self.src)).fetchall()
            }
        finally:
            con.close()
        if self.inject_wrong:
            key = next(iter(want))
            n, t, mc = want[key]
            want[key] = (n + 1, t, mc)
        sq = sqlite3.connect(os.path.join(self.base, "win.db"))
        try:
            rows = sq.execute("SELECT _batch_id, wstart, kind, n, total, max_created FROM win").fetchall()
        finally:
            sq.close()
        latest: dict = {}
        for bid, w, k, n, t, mc in rows:
            key = (_text_us(w), k)
            if key not in latest or int(bid) >= latest[key][0]:
                latest[key] = (int(bid), (int(n), int(t), _text_us(mc)))
        got = {k: v for k, (_, v) in latest.items()}
        bad_windows = sum(1 for k in set(want) | set(got) if want.get(k) != got.get(k))
        if bad_windows:
            errors.append(f"jdbc2: {bad_windows} of {len(want)} window rows differ from DuckDB")

        ids = [i for _, i, _ in self._kv_rows()]
        distinct = set(ids)
        missing = self.total_rows - len(distinct & set(range(self.total_rows)))
        dups = len(ids) - len(distinct)
        if missing or dups:
            errors.append(f"emrkv: {missing} rows missing, {dups} duplicated of {self.total_rows}")
        if self.dropped:
            errors.append(f"watermark dropped {self.dropped} rows")
        return {
            "attempted": self.total_rows,
            "failed": min(self.total_rows, bad_windows + missing + dups + self.dropped),
            "errors": errors,
            "checked": len(want),
            "unchecked": [],
        }


def _slope(pts) -> float:
    if len(pts) < 2:
        return 0.0
    n = len(pts)
    mx = sum(x for x, _ in pts) / n
    my = sum(y for _, y in pts) / n
    sxx = sum((x - mx) ** 2 for x, _ in pts)
    return sum((x - mx) * (y - my) for x, y in pts) / sxx if sxx else 0.0

