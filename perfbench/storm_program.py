"""Program process of the ``replay_storm`` workload.

Builds an ``SseService`` with one route, fills its ``RouteLog`` to
capacity through ``RouteLog.append`` (the direct-write seam; no Spark),
serves HTTP, and on ``go`` starts a writer thread that appends
micro-batches at seeded exponential intervals, one ``append`` per row
as the foreachBatch push does. Event time is base + offset ms; each live
payload carries the writer's ``time.monotonic_ns()`` stamp taken just
before its append.

Run by perfbench/storm.py; talks the line protocol of perfbench/common.py.
"""

from __future__ import annotations

import argparse
import gc
import os
import random
import statistics
import threading
import time
from datetime import datetime, timedelta

from kinesis2sse_spark.streaming.serve import RouteOptions, SseService
from perfbench.common import commands, emit, peak_rss_mib, quantile
from perfbench.spans import Tracer, routelog_metrics, trace_route_log
from perfbench.storm import BATCH, CAPACITY, RATE, ROUTE, SETUPS

BASE = datetime(2024, 1, 1)
MS = timedelta(milliseconds=1)


def build(pad: str) -> SseService:
    svc = SseService(routes=[RouteOptions(ROUTE, CAPACITY)], port=0)
    append = svc.log(ROUTE).append
    for o in range(CAPACITY):
        append(BASE + o * MS, '{"i":%d,"p":"%s"}' % (o, pad))
    svc.start()
    return svc


class Writer(threading.Thread):
    def __init__(self, svc: SseService, seed: int, t_go_ns: int) -> None:
        super().__init__(daemon=True)
        self.log = svc.log(ROUTE)
        self.rng = random.Random(seed)
        self.t_go_ns = t_go_ns
        self.stop_ev = threading.Event()
        self.late_ns: list[int] = []

    def run(self) -> None:
        append = self.log.append  # looked up after tracing is installed
        o = self.log.next_offset()
        due = self.t_go_ns
        while True:
            due += int(self.rng.expovariate(RATE / BATCH) * 1e9)
            delay = (due - time.monotonic_ns()) / 1e9
            if self.stop_ev.wait(max(delay, 0.0)):
                return
            self.late_ns.append(time.monotonic_ns() - due)
            for _ in range(BATCH):
                append(BASE + o * MS, '{"i":%d,"w":%d}' % (o, time.monotonic_ns()))
                o += 1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--spans-out", help="trace the run and write its spans here")
    args = ap.parse_args()

    pad = "%016x" % random.Random(args.seed).getrandbits(64)
    setup_s = []
    svc = None
    for _ in range(SETUPS):
        if svc is not None:
            svc.stop()
            svc = None
            gc.collect()
        t = time.perf_counter()
        svc = build(pad)
        setup_s.append(time.perf_counter() - t)
    log = svc.log(ROUTE)
    port = int(svc.addr.rsplit(":", 1)[1])

    tracer = Tracer() if args.spans_out else None
    if tracer:
        trace_route_log(tracer)
    emit("ready", port=port, setup_s=setup_s, next_offset=log.next_offset())

    writer = None
    for cmd in commands():
        if cmd["kind"] == "go":
            writer = Writer(svc, args.seed, cmd["t_ns"])
            writer.start()
        elif cmd["kind"] == "stop":
            writer.stop_ev.set()
            writer.join()
            late_ms = [x / 1e6 for x in writer.late_ns]
            emit(
                "stopped",
                next_offset=log.next_offset(),
                batches=len(late_ms),
                late_p50_ms=statistics.median(late_ms),
                late_p90_ms=quantile(late_ms, 0.9),
            )
        elif cmd["kind"] == "exit":
            layer = {}
            if tracer:
                layer = routelog_metrics(tracer)
                tracer.dump(args.spans_out)
            emit("result", peak_rss_mib=peak_rss_mib(os.getpid()), layer=layer)
            break
    svc.stop()


if __name__ == "__main__":
    main()
