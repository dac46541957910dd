"""Open-loop event generator for ``stream_ingest``: one process, one
thread, appending JSON-lines events to ``emrlog`` shard files.

Each event is stamped with its scheduled creation time, so a stall in
the generator shows as lateness instead of shifting the schedule. A
fixed, seeded share of events (``LATE_SHARE``) is held back and
written up to ``LATE_MAX_S`` seconds after its stamp, which stays
inside the stream's ``delay()`` bound.

Commands arrive one per line on stdin:

    rate R     generate R rows/s from now on (0 pauses)
    burst N    append N rows, stamped now, spread over the shards with
               one write per shard
    stop       release held-back rows, print the summary and exit

Each command is acknowledged on stdout as ``ack <rows so far> <time>``;
``stop`` prints one JSON summary line, which lists the ids of the
events that were held back.

Usage: python3 gen_events.py DIR --shards 4 --seed 1
"""

from __future__ import annotations

import argparse
import datetime
import heapq
import json
import os
import random
import select
import sys
import time

EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
TICK_S = 0.01
N_KINDS = 64
LATE_SHARE = 0.02
LATE_MAX_S = 1.0  # inside the stream's delay() bound of 2 s


class Generator:
    def __init__(self, outdir: str, shards: int, seed: int):
        self.files = [open(os.path.join(outdir, f"shard-{i:02d}.jsonl"), "a") for i in range(shards)]
        self.rng = random.Random(seed)
        self.n = 0
        self.held: list[tuple[float, int, str]] = []
        self.held_ids: list[int] = []
        self.lateness: list[float] = []
        self.rate = 0.0
        self.phase_t0 = time.time()
        self.phase_n0 = 0

    def _line(self, i: int, created: float) -> str:
        us = int(round(created * 1e6))
        ts = (EPOCH + datetime.timedelta(microseconds=us)).isoformat()
        kind = self.rng.randrange(N_KINDS)
        v = self.rng.randrange(1000)
        return f'{{"id": {i}, "ts": "{ts}", "us": {us}, "kind": "k{kind:02d}", "v": {v}}}\n'

    def _emit(self, created: float, now: float) -> None:
        i = self.n
        self.n += 1
        line = self._line(i, created)
        if self.rng.random() < LATE_SHARE:
            release = created + self.rng.uniform(0.0, LATE_MAX_S)
            if release > now:
                heapq.heappush(self.held, (release, i, line))
                self.held_ids.append(i)
                return
        self.files[i % len(self.files)].write(line)

    def tick(self) -> None:
        now = time.time()
        if self.rate > 0:
            due = self.phase_n0 + int((now - self.phase_t0) * self.rate)
            if due > self.n:
                first = self.phase_t0 + (self.n - self.phase_n0) / self.rate
                self.lateness.append(now - first)
            while self.n < due:
                self._emit(self.phase_t0 + (self.n - self.phase_n0) / self.rate, now)
        while self.held and self.held[0][0] <= now:
            _, i, line = heapq.heappop(self.held)
            self.files[i % len(self.files)].write(line)
        for fh in self.files:
            fh.flush()

    def set_rate(self, rate: float) -> None:
        self.tick()
        self.rate, self.phase_t0, self.phase_n0 = rate, time.time(), self.n

    def burst(self, count: int) -> None:
        now = time.time()
        chunks = [[] for _ in self.files]
        for _ in range(count):
            chunks[self.n % len(self.files)].append(self._line(self.n, now))
            self.n += 1
        for fh, lines in zip(self.files, chunks):
            fh.write("".join(lines))
            fh.flush()
        self.phase_t0, self.phase_n0 = time.time(), self.n

    def stop(self) -> dict:
        self.rate = 0.0
        while self.held:
            _, i, line = heapq.heappop(self.held)
            self.files[i % len(self.files)].write(line)
        for fh in self.files:
            fh.close()
        lat = sorted(self.lateness) or [0.0]
        return {
            "rows": self.n,
            "lateness_ms_max": 1e3 * lat[-1],
            "lateness_ms_p99": 1e3 * lat[min(len(lat) - 1, int(0.99 * len(lat)))],
            "held_ids": self.held_ids,
        }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("outdir")
    ap.add_argument("--shards", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    gen = Generator(a.outdir, a.shards, a.seed)
    while True:
        ready, _, _ = select.select([sys.stdin], [], [], TICK_S)
        if ready:
            cmd = sys.stdin.readline().split()
            if not cmd or cmd[0] == "stop":
                print(json.dumps(gen.stop()), flush=True)
                return
            if cmd[0] == "rate":
                gen.set_rate(float(cmd[1]))
            elif cmd[0] == "burst":
                gen.burst(int(cmd[1]))
            print(f"ack {gen.n} {time.time():.6f}", flush=True)
        gen.tick()


if __name__ == "__main__":
    main()
