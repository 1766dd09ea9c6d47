"""In-memory span recorder for traced runs.

A span is (name, start, end, parent, request id). Wrappers are installed
from the benchmark's own files around the public entry points of each
layer; the program's code is not edited. Totals per span name are exact;
raw spans are kept up to a fixed number and written out at the end.
Self time is a span's duration minus the time its child spans cover.
Times are ``time.monotonic_ns()``, the clock the load generator stamps
with, so spans line up with the generator's timeline."""

from __future__ import annotations

import functools
import json
import threading
import time


KEEP_PER_NAME = 20_000  # raw spans kept per name; the totals stay exact


class Tracer:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._local = threading.local()
        # (name, start ns, end ns, parent name, request id, self ns)
        self.spans: list[tuple] = []
        # name -> [calls, total ns, self ns]
        self.totals: dict[str, list[int]] = {}
        self.counts: dict[str, int] = {}

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, name: str, fn, req=None, on_return=None):
        """Wrap ``fn`` in a span called ``name``. ``req(args)`` names the
        request of a root span (default: the calling thread, which is one
        connection or one stream); child spans inherit it. ``on_return(args,
        result)`` records counts where the work happens."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            rid = parent[2] if parent else (req(args) if req else threading.get_ident())
            frame = [name, 0, rid]  # name, ns covered by children, request id
            stack.append(frame)
            t0 = time.monotonic_ns()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.monotonic_ns()
                stack.pop()
                dur = t1 - t0
                if parent is not None:
                    parent[1] += dur
                tracer._record(name, t0, t1, parent[0] if parent else None, rid, dur - frame[1])
            if on_return is not None:
                on_return(args, result)
            return result

        return wrapper

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def _record(self, name, t0, t1, parent, rid, self_ns) -> None:
        with self._lock:
            tot = self.totals.get(name)
            if tot is None:
                tot = self.totals[name] = [0, 0, 0]
            tot[0] += 1
            tot[1] += t1 - t0
            tot[2] += self_ns
            if tot[0] <= KEEP_PER_NAME:
                self.spans.append((name, t0, t1, parent, rid, self_ns))

    def calls(self, name: str) -> int:
        return self.totals.get(name, [0, 0, 0])[0]

    def total_s(self, name: str) -> float:
        return self.totals.get(name, [0, 0, 0])[1] / 1e9

    def mean_us(self, name: str) -> float:
        n = self.calls(name)
        return self.totals[name][1] / n / 1e3 if n else 0.0

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            json.dump(
                {
                    "totals": self.totals,
                    "counts": self.counts,
                    "spans": [
                        {"name": n, "start_ns": a, "end_ns": b, "parent": p, "req": str(r),
                         "self_ns": x}
                        for n, a, b, p, r, x in self.spans
                    ],
                },
                f,
            )


def trace_route_log(tracer: Tracer) -> None:
    """Wrap RouteLog's public methods and the ``parse_since`` the HTTP
    handler calls (``streaming.serve`` imports it by name, so the wrapper
    goes on that module's attribute)."""
    from kinesis2sse_spark.streaming import serve
    from kinesis2sse_spark.streaming.serve import RouteLog

    def on_skip(args, _):
        tracer.count("routelog.skip_rows", args[1])

    def on_read(_, result):
        tracer.count("routelog.read_from_rows", len(result))

    def on_wait(_, result):
        if result:
            tracer.count("routelog.wait_beyond_wakeups")
            tracer.count("routelog.wait_beyond_frames", len(result))

    RouteLog.append = tracer.wrap("routelog.append", RouteLog.append)
    RouteLog.skip = tracer.wrap("routelog.skip", RouteLog.skip, on_return=on_skip)
    RouteLog.read_from = tracer.wrap("routelog.read_from", RouteLog.read_from, on_return=on_read)
    RouteLog.wait_beyond = tracer.wrap("routelog.wait_beyond", RouteLog.wait_beyond, on_return=on_wait)
    RouteLog.nearest_offset = tracer.wrap("routelog.nearest_offset", RouteLog.nearest_offset)
    serve.parse_since = tracer.wrap("since.parse", serve.parse_since)


def routelog_metrics(tracer: Tracer) -> dict[str, float]:
    wakeups = tracer.counts.get("routelog.wait_beyond_wakeups", 0)
    return {
        "routelog.append_us": tracer.mean_us("routelog.append"),
        "routelog.append_busy_s": tracer.total_s("routelog.append"),
        "routelog.skip_rows": tracer.counts.get("routelog.skip_rows", 0),
        "routelog.read_from_ms": tracer.mean_us("routelog.read_from") / 1e3,
        "routelog.read_from_calls": tracer.calls("routelog.read_from"),
        "routelog.read_from_rows": (
            tracer.counts.get("routelog.read_from_rows", 0) / tracer.calls("routelog.read_from")
            if tracer.calls("routelog.read_from") else 0.0
        ),
        "routelog.wait_beyond_wakeups": wakeups,
        "routelog.frames_per_wakeup": (
            tracer.counts.get("routelog.wait_beyond_frames", 0) / wakeups if wakeups else 0.0
        ),
        "routelog.nearest_offset_us": tracer.mean_us("routelog.nearest_offset"),
        "since.parse_us": tracer.mean_us("since.parse"),
    }
