"""End-to-end SSE serving tests — mirrors the reference's service_test.go:
real HTTP server on an ephemeral port, real SSE client, direct log writes
(the disableKCL seam), plus a full Spark-streaming-fed route."""

from __future__ import annotations

import http.client
import json
import os
import time
from datetime import datetime
from urllib.parse import urlparse

import pytest

from kinesis2sse_spark.streaming.serve import RouteLog, RouteOptions, SseService

EPOCH = datetime(1970, 1, 1)


def read_sse(addr: str, path: str, n_events: int, timeout: float = 10.0,
             headers: dict | None = None):
    """Minimal SSE client: returns (status, headers, first n data payloads)."""
    u = urlparse(addr)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=timeout)
    conn.request("GET", path, headers=headers or {})
    resp = conn.getresponse()
    events: list[str] = []
    if resp.status == 200 and n_events > 0:
        deadline = time.time() + timeout
        while len(events) < n_events and time.time() < deadline:
            line = resp.fp.readline()
            if not line:
                break
            line = line.decode().rstrip("\n")
            if line.startswith("data: "):
                events.append(line[len("data: "):])
    headers = dict(resp.getheaders())
    conn.close()
    return resp.status, headers, events


@pytest.fixture()
def service():
    svc = SseService(routes=[RouteOptions("/", capacity=100)])
    svc.start()
    yield svc
    svc.stop()


def test_single_route_replay(service):
    """service_test.go:69-87: two events at ts=0, since=epoch replays both
    in offset order, preceded by the :ok preamble."""
    log = service.log("/")
    log.append(EPOCH, '{"hello":"world"}')
    log.append(EPOCH, '{"goodbye":"world"}')
    status, headers, events = read_sse(
        service.addr, "/?since=1970-01-01T00:00:00.000Z", 2
    )
    assert status == 200
    assert headers["Content-Type"] == "text/event-stream"
    assert headers["Access-Control-Allow-Origin"] == "*"
    assert events == ['{"hello":"world"}', '{"goodbye":"world"}']


def test_two_route_isolation():
    """service_test.go:94-181: each route's client sees only its events."""
    svc = SseService(routes=[RouteOptions("/foo"), RouteOptions("/bar")])
    svc.start()
    try:
        svc.log("/foo").append(EPOCH, '{"foo":true}')
        svc.log("/bar").append(EPOCH, '{"bar":false}')
        _, _, foo = read_sse(svc.addr, "/foo?since=1970-01-01T00:00:00.000Z", 1)
        _, _, bar = read_sse(svc.addr, "/bar?since=1970-01-01T00:00:00.000Z", 1)
        assert foo == ['{"foo":true}']
        assert bar == ['{"bar":false}']
    finally:
        svc.stop()


def test_default_cursor_is_latest(service):
    """Q3 (service.go:253-258): no since → start at the latest offset,
    inclusive — the newest retained record is re-delivered."""
    log = service.log("/")
    for i in range(3):
        log.append(datetime(2024, 1, 1, i), json.dumps({"i": i}))
    _, _, events = read_sse(service.addr, "/", 1)
    assert events == ['{"i": 2}']


def test_since_mid_stream(service):
    """Q2: since between event times starts at the first (ts, offset) >= since."""
    log = service.log("/")
    log.append(datetime(2024, 1, 1, 0), '{"e":0}')
    log.append(datetime(2024, 1, 1, 2), '{"e":1}')
    _, _, events = read_sse(service.addr, "/?since=2024-01-01T01:00:00Z", 1)
    assert events == ['{"e":1}']


def test_since_relative_duration(service):
    """Q1 intended semantics (SURVEY.md §2.2): '1h' = now - 1h; events newer
    than that are replayed."""
    log = service.log("/")
    log.append(datetime.utcnow(), '{"fresh":1}')
    _, _, events = read_sse(service.addr, "/?since=1h", 1)
    assert events == ['{"fresh":1}']


def test_bad_since_400(service):
    status, _, _ = read_sse(service.addr, "/?since=bogus", 0)
    assert status == 400


def test_unknown_route_404(service):
    status, _, _ = read_sse(service.addr, "/nope", 0)
    assert status == 404


def test_health(service):
    status, _, _ = read_sse(service.addr, "/health", 0)
    assert status == 200


def test_capacity_eviction():
    """W3: capacity bounds the log; replay from epoch returns only the
    retained suffix."""
    svc = SseService(routes=[RouteOptions("/", capacity=2)])
    svc.start()
    try:
        log = svc.log("/")
        for i in range(5):
            log.append(datetime(2024, 1, 1, i), json.dumps({"i": i}))
        _, _, events = read_sse(svc.addr, "/?since=1970-01-01T00:00:00Z", 2)
        assert events == ['{"i": 3}', '{"i": 4}']
    finally:
        svc.stop()


def test_tail_across_skip_gap_loses_no_frames():
    """A batch larger than capacity is pushed as ``skip`` then ``capacity``
    appends, leaving a gap in the retained offsets. A reader tailing
    between the appends (as the HTTP handler does) must still receive
    every appended frame, and ``read_from`` must seek past the gap by
    offset, not by position."""
    log = RouteLog(capacity=100)
    for i in range(100):
        log.append(datetime(2024, 1, 1), json.dumps({"i": i}))
    cursor = log.next_offset()
    log.skip(50)
    got = []
    for i in range(100):
        log.append(datetime(2024, 1, 2), json.dumps({"i": 150 + i}))
        entries = log.read_from(cursor) or log.wait_beyond(cursor, timeout=0)
        for o, data in entries:
            assert json.loads(data) == {"i": o}
            got.append(o)
            cursor = o + 1
    assert got == list(range(150, 250))
    assert log.read_from(151)[0][0] == 151


def test_last_event_id_resume(service):
    """SSE reconnect extension (README.md:47, unimplemented in the
    reference): Last-Event-ID resumes delivery at the NEXT offset."""
    log = service.log("/")
    for i in range(4):
        log.append(datetime(2024, 1, 1, i), json.dumps({"i": i}))
    _, _, events = read_sse(service.addr, "/", 2, headers={"Last-Event-ID": "1"})
    assert events == ['{"i": 2}', '{"i": 3}']


def test_stale_last_event_id_does_not_stall(service):
    """A Last-Event-ID beyond the log head (e.g. from before a restart of
    this non-durable service) is clamped — the client still receives the
    next appended events instead of waiting forever."""
    import threading

    log = service.log("/")
    log.append(datetime(2024, 1, 1), '{"pre":1}')
    results = {}

    def client():
        results["events"] = read_sse(
            service.addr, "/", 1, timeout=8, headers={"Last-Event-ID": "5000"}
        )[2]

    t = threading.Thread(target=client)
    t.start()
    time.sleep(0.8)
    log.append(datetime(2024, 1, 2), '{"post":1}')
    t.join(timeout=10)
    assert results["events"] == ['{"post":1}']


def test_age_based_eviction():
    """README.md:45-46 extension: entries older than max_age relative to
    the newest event time are evicted."""
    from datetime import timedelta

    svc = SseService(routes=[RouteOptions("/", capacity=100, max_age=timedelta(hours=2))])
    svc.start()
    try:
        log = svc.log("/")
        log.append(datetime(2024, 1, 1, 0), '{"old":1}')
        log.append(datetime(2024, 1, 1, 1), '{"mid":1}')
        log.append(datetime(2024, 1, 1, 5), '{"new":1}')  # evicts both older
        _, _, events = read_sse(svc.addr, "/?since=1970-01-01T00:00:00Z", 1)
        assert events == ['{"new":1}']
        assert len(log.read_from(0)) == 1
    finally:
        svc.stop()


def test_live_tail(service):
    """Q4 tail half: a connected client receives events appended later."""
    import threading

    log = service.log("/")
    log.append(datetime(2024, 1, 1), '{"first":1}')
    results = {}

    def client():
        results["events"] = read_sse(
            service.addr, "/?since=1970-01-01T00:00:00Z", 2, timeout=8
        )[2]

    t = threading.Thread(target=client)
    t.start()
    time.sleep(0.8)  # client connected, replaying
    log.append(datetime(2024, 1, 2), '{"second":2}')
    t.join(timeout=10)
    assert results["events"] == ['{"first":1}', '{"second":2}']


def test_many_concurrent_clients(service):
    """Fan-out: N concurrent tailing clients each receive every event in
    offset order (per-client cursors over the shared log, reference
    service.go:267 — N readers, zero copies of history)."""
    import threading

    log = service.log("/")
    log.append(datetime(2024, 1, 1), '{"seed":0}')
    n_clients, n_live = 12, 5
    results = [None] * n_clients

    def client(i):
        results[i] = read_sse(
            service.addr, "/?since=1970-01-01T00:00:00Z", 1 + n_live, timeout=15
        )[2]

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    time.sleep(1.0)
    for k in range(n_live):
        log.append(datetime(2024, 1, 2, k), json.dumps({"live": k}))
        time.sleep(0.05)
    for t in threads:
        t.join(timeout=20)
    expected = ['{"seed":0}'] + [json.dumps({"live": k}) for k in range(n_live)]
    for i, got in enumerate(results):
        assert got == expected, f"client {i}: {got}"


def test_recorder_totals_by_query_without_spark():
    """/metrics serves ProgressRecorder.totals_by_query(): per-query sums
    of batches, input rows and watermark drops over the recorded
    progress events, plus observed n_records / n_dropped summed over
    batches and observations for a query that observes them."""
    from types import SimpleNamespace as NS

    from pyspark.sql import Row

    from kinesis2sse_spark.streaming.metrics import ProgressRecorder

    def event(name, batch_id, rows, dropped, observed=None):
        ops = [NS(numRowsDroppedByWatermark=d) for d in dropped]
        return NS(progress=NS(
            name=name, batchId=batch_id, numInputRows=rows, inputRowsPerSecond=None,
            processedRowsPerSecond=1.0, durationMs={"addBatch": 3}, stateOperators=ops,
            observedMetrics=observed or {},
        ))

    rec = ProgressRecorder()
    assert rec.totals_by_query() == {}
    rec.onQueryProgress(event("a", 0, 4, []))
    rec.onQueryProgress(event("a", 1, 6, [2, 1], {"probe": Row(max_ts=7)}))
    rec.onQueryProgress(event("b", 0, 0, [0]))
    rec.onQueryProgress(event("r", 0, 5, [], {"ingest_r": Row(n_records=5, n_dropped=2)}))
    rec.onQueryProgress(event("r", 1, 3, [], {
        "ingest_r": Row(n_records=3, n_dropped=0), "other": Row(n_records=1, n_dropped=1),
    }))
    assert rec.totals_by_query() == {
        "a": {"batches": 2, "rows": 10, "dropped_by_watermark": 3},
        "b": {"batches": 1, "rows": 0, "dropped_by_watermark": 0},
        "r": {"batches": 2, "rows": 8, "dropped_by_watermark": 0, "n_records": 9, "n_dropped": 3},
    }


def test_stop_logs_query_failure_and_stops_the_rest(caplog):
    """A query whose stop() raises is reported with its name and error,
    and the remaining queries and the HTTP server still stop."""

    class StubQuery:
        def __init__(self, name, fail):
            self.name, self.fail, self.stopped = name, fail, False

        def stop(self):
            if self.fail:
                raise RuntimeError("stream already dead")
            self.stopped = True

    svc = SseService(routes=[RouteOptions("/")])
    svc.start()
    bad, good = StubQuery("sse_bad", True), StubQuery("sse_good", False)
    svc._queries += [bad, good]
    with caplog.at_level("WARNING", logger="kinesis2sse_spark.streaming.serve"):
        svc.stop()
    assert good.stopped
    assert svc._server is None
    (rec,) = caplog.records
    assert rec.levelname == "WARNING"
    assert "sse_bad" in rec.getMessage() and "stream already dead" in rec.getMessage()


def test_spark_fed_route(spark):
    """Full pipeline: raw JSON envelopes → file stream → parse_envelope
    (S4/F1-F3/P1/P2) → foreachBatch → SSE client sees canonical detail
    payloads in offset order — the reference's whole dataflow on Spark."""
    from kinesis2sse_spark.pipeline.envelope import parse_envelope
    from kinesis2sse_spark.streaming.source import staged_batch_dir

    d = staged_batch_dir("sse_feed")
    raw = [
        "bogus",
        '{"detail":{}}',
        '{"time":"1970-01-01T00:00:00.000Z","detail":{"good":true,"event":1}}',
        '{"time":"1970-01-01T00:00:00.001Z","detail":{"good":true,"event":2}}',
    ]
    spark.createDataFrame([(v,) for v in raw], "value string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "b0"))

    svc = SseService(routes=[RouteOptions("/events")])
    svc.start()
    try:
        stream = spark.readStream.schema("value string").parquet(os.path.join(d, "*"))
        parsed = parse_envelope(stream)
        q = svc.attach_query("/events", parsed)
        q.processAllAvailable()
        _, _, events = read_sse(svc.addr, "/events?since=1970-01-01T00:00:00.000Z", 2)
        # canonical key-sorted JSON, malformed records dropped
        assert events == ['{"event":1,"good":true}', '{"event":2,"good":true}']
        q.stop()
    finally:
        svc.stop()


def test_oversized_batch_trimmed_before_driver(spark, tmp_path):
    """A first micro-batch larger than route capacity must reach the
    driver already trimmed to the newest `capacity` rows — yet the
    offset counter advances as if every row had been appended and
    evicted (reference: TRIM_HORIZON over deep history, service.go
    capacity semantics). A later batch below capacity continues the
    offsets from there: the observed count and the skip agree across
    batches."""
    n, cap, m = 50, 5, 3
    rows = [(datetime(2024, 1, 1, 0, 0, i % 60, i), json.dumps({"i": i})) for i in range(n)]
    src = str(tmp_path / "batch")
    spark.createDataFrame(rows, "time timestamp, detail string").coalesce(2).write.parquet(src)

    svc = SseService(routes=[RouteOptions("/e", capacity=cap)])
    svc.start()
    try:
        stream = spark.readStream.schema("time timestamp, detail string").parquet(src)
        q = svc.attach_query("/e", stream)
        q.processAllAvailable()
        log = svc.log("/e")
        assert log.next_offset() == n, "trimmed rows must still consume offsets"
        entries = log.read_from(0)
        assert [o for o, _ in entries] == list(range(n - cap, n))
        assert [json.loads(d)["i"] for _, d in entries] == list(range(n - cap, n))

        later = [(datetime(2024, 1, 2, 0, 0, i), json.dumps({"i": n + i})) for i in range(m)]
        spark.createDataFrame(later, "time timestamp, detail string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        q.stop()
        assert log.next_offset() == n + m
        entries = log.read_from(0)
        assert [o for o, _ in entries] == list(range(n + m - cap, n + m))
        assert [json.loads(d)["i"] for _, d in entries] == list(range(n + m - cap, n + m))
    finally:
        svc.stop()


def test_push_runs_at_most_two_spark_jobs_per_batch(spark, tmp_path):
    """Each micro-batch reaches the route log through one Spark action
    (an observed top-k), not a persist, a count and a sorted collect.
    The jobs run under the query's job group, the query's run id."""
    src = str(tmp_path / "files")
    for b in range(3):
        rows = [(datetime(2024, 1, 1, 0, b, i), json.dumps({"b": b, "i": i})) for i in range(20)]
        spark.createDataFrame(rows, "time timestamp, detail string").coalesce(1).write.parquet(
            f"{src}/b{b}"
        )

    svc = SseService(routes=[RouteOptions("/j", capacity=100)])
    try:
        stream = (
            spark.readStream.schema("time timestamp, detail string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = svc.attach_query("/j", stream)
        q.processAllAvailable()
        batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
        q.stop()
        assert batches == 3
        assert svc.log("/j").next_offset() == 60
        assert len(jobs) <= 2 * batches, f"{len(jobs)} Spark jobs for {batches} batches"
    finally:
        svc.stop()


def test_all_malformed_batch_appends_nothing(spark, tmp_path):
    """A micro-batch whose every envelope is malformed parses to zero
    rows: the push returns (its observed count is 0, not a hang on
    Observation.get) and the offset counter does not move."""
    import threading

    from kinesis2sse_spark.pipeline.envelope import parse_envelope

    d = str(tmp_path / "malformed")
    raw = ["bogus", '{"detail":{}}', '{"time":"yesterday","detail":1}']
    spark.createDataFrame([(v,) for v in raw], "value string").coalesce(1).write.parquet(
        os.path.join(d, "b0")
    )

    svc = SseService(routes=[RouteOptions("/bad")])
    log = svc.log("/bad")
    log.append(EPOCH, '{"seed":0}')
    stream = spark.readStream.schema("value string").parquet(os.path.join(d, "*"))
    q = svc.attach_query("/bad", parse_envelope(stream))
    try:
        t = threading.Thread(target=q.processAllAvailable, daemon=True)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive(), "push hung on an all-malformed batch"
        assert q.lastProgress["numInputRows"] == len(raw)
        assert log.next_offset() == 1
        assert log.read_from(0) == [(0, '{"seed":0}')]
    finally:
        svc.stop()


def test_equal_timestamp_ties_deterministic(spark, tmp_path):
    """Rows with identical event time get offsets in data-column order —
    deterministic across runs (the reference's mutex order is stable;
    a ts-only sort is not)."""
    ts = datetime(2024, 1, 1)
    rows = [(ts, f"payload-{c}") for c in "dbca"]
    src = str(tmp_path / "ties")
    spark.createDataFrame(rows, "time timestamp, detail string").coalesce(4).write.parquet(src)

    svc = SseService(routes=[RouteOptions("/t", capacity=100)])
    svc.start()
    try:
        stream = spark.readStream.schema("time timestamp, detail string").parquet(src)
        q = svc.attach_query("/t", stream)
        q.processAllAvailable()
        q.stop()
        assert [d for _, d in svc.log("/t").read_from(0)] == [
            "payload-a", "payload-b", "payload-c", "payload-d"
        ]
    finally:
        svc.stop()
