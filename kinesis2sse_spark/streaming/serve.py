"""SSE serving layer — the reference's HTTP surface (service.go) rebuilt
outside Spark, fed by Structured Streaming via foreachBatch.

Parity map:
- route registry / multiplexing ......... service.go:74, 92-128 (E2)
- /health ................................ service.go:88-90 (E3)
- ?since= parse (RFC3339 | duration) ..... service.go:226-242 (Q1)
- SSE headers + ":ok" preamble ........... service.go:244-252 (E1)
- default cursor = latest offset ......... service.go:253-258 (Q3)
- since → nearest offset ................. service.go:260-265 (Q2,
  timestamp2offset.go:58-80 — same B-tree seek semantics, here a
  bisect over the retained (ts, offset) keys)
- replay + blocking live tail ............ service.go:267-282 (Q4)
- bounded retention (capacity) ........... service.go:97-101 (W3)
- direct-write test seam ................. service.go:34-35 (disableKCL)

Design stance: SSE fan-out is a driver-side edge concern — Spark owns
ingest/transform (executors, any scale), foreachBatch delivers each
micro-batch's cleaned rows to the in-process route log, and each HTTP
client gets a cursor + condition-variable tail, exactly one thread per
connection like the reference's goroutine-per-client.
"""

from __future__ import annotations

import bisect
import json
import logging
import threading
from dataclasses import dataclass, field
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from kinesis2sse_spark.pipeline.since import parse_since

DEFAULT_CAPACITY = 100_000  # service.go:20

logger = logging.getLogger(__name__)


class RouteLog:
    """Bounded in-memory append-only log + event-time index for one route
    (≡ memlog.Log + Timestamp2Offset). Offsets are increasing from 0 but
    not contiguous: ``skip`` consumes offsets without storing entries.
    Capacity evicts the oldest entry from both log and index
    (timestamp2offset.go:96-112).

    Entries sit in three parallel lists (offset, ts, data) from ``_head``
    on. Eviction clears the head slots and advances ``_head``; the dead
    prefix is deleted in one slice once it reaches ``capacity``, so
    eviction is amortized O(1). The sorted ``(ts, offset)`` index is live
    from ``_lo`` on: with in-order event time the evicted key is always
    ``_keys[_lo]``, so eviction is ``_lo += 1`` and an append is a list
    append; only out-of-order event time pays an O(n) insert or delete in
    the index. ``read_from`` costs O(log n + result), ``nearest_offset``
    O(log n)."""

    def __init__(self, capacity: int = DEFAULT_CAPACITY, max_age=None) -> None:
        if capacity <= 0:
            raise ValueError("capacity must be positive")  # service.go:94-96
        self.capacity = capacity
        # README.md:45-46 extension: "up to N events no older than M age" —
        # the age bound the reference documents but never implemented
        # (SURVEY.md §1.4); None preserves exact reference semantics.
        self.max_age = max_age
        # retained entries are index _head.. of these three lists
        self._offs: list[int | None] = []
        self._ts: list[datetime | None] = []
        self._data: list[str | None] = []
        self._head = 0
        # sorted (ts, offset) keys of the retained entries, live from _lo
        self._keys: list[tuple[datetime, int] | None] = []
        self._lo = 0
        self._next_offset = 0
        self._max_ts: datetime | None = None  # running max — O(1) age checks
        self.cond = threading.Condition()

    def append(self, ts: datetime, data: str) -> int:
        """Append one canonical-JSON event; returns its offset (W1)."""
        with self.cond:
            offset = self._next_offset
            self._next_offset += 1
            self._offs.append(offset)
            self._ts.append(ts)
            self._data.append(data)
            key = (ts, offset)
            keys = self._keys
            if len(keys) == self._lo or key > keys[-1]:
                keys.append(key)
            else:  # out-of-order event time
                bisect.insort(keys, key, self._lo)
            if self._max_ts is None or ts > self._max_ts:
                self._max_ts = ts
            if len(self._offs) - self._head > self.capacity:
                self._evict_head()
            if self.max_age is not None:
                horizon = self._max_ts - self.max_age
                while self._head < len(self._offs) and self._ts[self._head] < horizon:
                    self._evict_head()
            self.cond.notify_all()
            return offset

    def _evict_head(self) -> None:
        """Drop the oldest retained entry from the log and the index.
        Caller holds the lock."""
        h = self._head
        off, ts = self._offs[h], self._ts[h]
        self._offs[h] = self._ts[h] = self._data[h] = None
        self._head = h + 1
        keys, lo = self._keys, self._lo
        if keys[lo][1] == off:
            keys[lo] = None
            self._lo = lo + 1
        else:  # out-of-order event time: the key sits past the low water
            del keys[bisect.bisect_left(keys, (ts, off), lo)]
        cap = self.capacity
        if self._head >= cap:
            del self._offs[: self._head], self._ts[: self._head], self._data[: self._head]
            self._head = 0
        if self._lo >= cap:
            del keys[: self._lo]
            self._lo = 0

    def skip(self, n: int) -> None:
        """Advance the offset counter by ``n`` without storing entries —
        used when a micro-batch larger than capacity is trimmed before
        reaching the driver: the dropped (oldest) rows still consume
        offsets, exactly as if they had been appended and immediately
        evicted, so ``next_offset`` parity with the reference holds. The
        skipped offsets leave a gap in the retained offsets."""
        if n < 0:
            raise ValueError("skip must be non-negative")
        with self.cond:
            self._next_offset += n

    def nearest_offset(self, since: datetime):
        """Q2: offset of the smallest (ts, offset) >= (since, 0); fallback
        largest (ts, offset) < (since, 0); None if empty. O(log n)."""
        with self.cond:
            keys, lo = self._keys, self._lo
            if lo == len(keys):
                return None
            i = bisect.bisect_left(keys, (since, 0), lo)
            if i < len(keys):
                return keys[i][1]
            return keys[-1][1]

    def latest_offset(self) -> int:
        """Q3: newest retained offset, floor 0 (service.go:253-258)."""
        with self.cond:
            return max(self._next_offset - 1, 0)

    def next_offset(self) -> int:
        """Offset the next append will receive."""
        with self.cond:
            return self._next_offset

    def _tail_from(self, offset: int):
        """Retained entries with offset >= requested, in offset order.
        Offsets are increasing but may have gaps (``skip``), so the start
        is found by bisecting the offsets from the head: O(log n) to seek,
        then only the result is copied. Caller holds the lock."""
        i = bisect.bisect_left(self._offs, offset, self._head)
        return list(zip(self._offs[i:], self._data[i:]))

    def read_from(self, offset: int):
        """Snapshot of retained entries with offset >= requested, in offset
        order (replay half of Q4)."""
        with self.cond:
            return self._tail_from(offset)

    def wait_beyond(self, offset: int, timeout: float):
        """Block until an entry with offset >= requested exists (tail half
        of Q4); returns new entries or [] on timeout."""
        with self.cond:
            self.cond.wait_for(
                lambda: self._next_offset > offset, timeout=timeout
            )
            return self._tail_from(offset)


def route_names(pattern: str) -> tuple[str, str]:
    """A route pattern's two derived names: the URL path its log is
    served at (trailing slashes dropped, "/" for the root) and the name
    its streaming query ``route_<name>``, parse observation
    ``ingest_<name>`` and checkpoint subdirectory use ("root" for "/")."""
    path = pattern.rstrip("/") or "/"
    return path, path.strip("/") or "root"


@dataclass
class RouteOptions:
    pattern: str
    capacity: int = DEFAULT_CAPACITY
    max_age: object = None  # optional timedelta — README age-bound extension


@dataclass
class SseService:
    """Multi-route SSE server (E2). Each route owns an independent
    RouteLog; Spark streaming queries attach via ``attach_query``; tests
    write logs directly (the disableKCL seam)."""

    routes: list[RouteOptions]
    port: int = 0  # 0 → ephemeral (reference: -1 → random, service.go:67-72)
    _logs: dict[str, RouteLog] = field(init=False, default_factory=dict)
    _server: ThreadingHTTPServer | None = field(init=False, default=None)
    _thread: threading.Thread | None = field(init=False, default=None)
    _queries: list = field(init=False, default_factory=list)
    recorder: object | None = None  # ProgressRecorder (streaming/metrics.py)

    def __post_init__(self) -> None:
        for r in self.routes:
            self._logs[route_names(r.pattern)[0]] = RouteLog(r.capacity, r.max_age)

    def log(self, pattern: str) -> RouteLog:
        return self._logs[route_names(pattern)[0]]

    # -- Spark integration ------------------------------------------------
    def attach_query(self, pattern: str, stream_df, checkpoint_location: str | None = None):
        """Bridge a streaming DataFrame of ``time``/``detail`` rows (the
        output of ``parse_envelope``) into a route log as the streaming
        query ``route_<name>``: every micro-batch is sorted (per-batch
        total order ≡ the reference's mutex order) and appended on the
        driver. Returns the StreamingQuery.

        checkpoint_location=None matches the reference's deliberately
        non-durable checkpointing (service.go:113-116) — restart replays
        from the source's starting position; pass a path for Spark's
        durable exactly-once checkpoint (C1, strictly stronger).

        Batches are ordered by (time, detail) — the detail column breaks
        equal-timestamp ties so offsets are deterministic across
        runs/restarts (the reference gets a stable order for free from
        its per-route mutex). Each batch runs ONE Spark action: a top-k
        of the newest ``capacity`` rows, so a batch larger than the
        route's capacity is trimmed executor-side before ``collect()``
        — a TRIM_HORIZON start over a year of history must never
        materialize the year on the driver. An Observation on the same
        action counts the batch (the top-k reads every row, so the count
        is exact), and the trimmed rows still advance the offset counter
        (append + instant eviction ≡ skip)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        log = self.log(pattern)

        def push(batch_df, epoch_id: int) -> None:
            seen = Observation()
            rows = (
                batch_df.observe(seen, F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("time"), F.desc("detail"))
                .limit(log.capacity)
                .collect()
            )
            rows.reverse()
            log.skip(seen.get["n"] - len(rows))
            for row in rows:
                log.append(row["time"], row["detail"])

        writer = stream_df.writeStream.foreachBatch(push).queryName(
            f"route_{route_names(pattern)[1]}"
        )
        if checkpoint_location:
            writer = writer.option("checkpointLocation", checkpoint_location)
        q = writer.start()
        self._queries.append(q)
        return q

    # -- HTTP -------------------------------------------------------------
    def start(self) -> None:
        service = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            daemon_threads = True
            # per-frame flush latency: Go's net/http sets TCP_NODELAY on
            # accepted conns (the reference relies on it for sub-ms pushes,
            # service.go:273-277); python's http.server leaves Nagle on,
            # which adds ~20-40ms per small flushed frame
            disable_nagle_algorithm = True

            def log_message(self, *args) -> None:  # quiet
                pass

            def do_GET(self) -> None:  # noqa: N802 (http.server API)
                url = urlparse(self.path)
                path = route_names(url.path)[0]
                if path == "/health":  # E3
                    self.send_response(200)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                if path == "/metrics" and service.recorder is not None:
                    # extension beyond the reference's bare /health: the
                    # ProgressRecorder's per-query totals as JSON, the
                    # HTTP face of the rows-in==rows-served audit
                    body = json.dumps(service.recorder.totals_by_query()).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                log = service._logs.get(path)
                if log is None:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                params = parse_qs(url.query)
                since = None
                if "since" in params:
                    try:  # Q1: RFC3339, else duration, else 400
                        since = parse_since(params["since"][0])
                        if since.tzinfo is not None:
                            since = since.astimezone(timezone.utc).replace(tzinfo=None)
                    except ValueError:
                        self.send_response(400)
                        self.send_header("Content-Length", "0")
                        self.end_headers()
                        return

                # E1: SSE headers + :ok preamble (service.go:244-252)
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.send_header("Connection", "keep-alive")
                self.send_header("Access-Control-Allow-Origin", "*")
                self.end_headers()
                try:
                    self.wfile.write(b":ok\n\n")
                    self.wfile.flush()
                except (BrokenPipeError, ConnectionError):
                    return

                # Q2/Q3: resolve the start offset. Precedence: Last-Event-ID
                # (SSE reconnect, the README.md:47 extension the reference
                # never implemented) > since > latest.
                offset = log.latest_offset()
                if since is not None:
                    resolved = log.nearest_offset(since)
                    if resolved is not None:
                        offset = resolved
                last_id = self.headers.get("Last-Event-ID")
                if last_id is not None:
                    try:
                        # clamp to the log head: a stale id from a prior
                        # (non-durable) incarnation must not stall the
                        # stream waiting for offsets that may never come
                        offset = min(int(last_id) + 1, log.next_offset())
                    except ValueError:
                        pass

                # Q4: replay retained history, then tail until disconnect
                try:
                    while True:
                        entries = log.read_from(offset)
                        if not entries:
                            entries = log.wait_beyond(offset, timeout=0.5)
                        for o, data in entries:
                            self.wfile.write(f"id: {o}\ndata: {data}\n\n".encode())
                            offset = o + 1
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionError, OSError):
                    return  # client went away — same exit as service.go:273-276

        class Server(ThreadingHTTPServer):
            daemon_threads = True
            # socketserver's default listen backlog is 5 — a thundering
            # herd of clients (dozens of dashboards reconnecting after a
            # deploy) overflows the accept queue and times out
            # connections the server never saw. Raise it to the
            # conventional server value; the reference's Go net.Listen
            # gets the OS default (usually 128+) for free.
            request_queue_size = 128

        self._server = Server(("127.0.0.1", self.port), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    @property
    def addr(self) -> str:
        assert self._server is not None, "service not started"
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def stop(self) -> None:
        for q in self._queries:
            name = None
            try:
                name = q.name
                q.stop()
            except Exception as e:  # keep stopping the rest
                logger.warning("stopping query %s failed: %r", name, e, exc_info=True)
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

