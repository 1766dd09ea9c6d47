"""Lifecycle tests for the config-driven multi-route service (L1) —
mirrors the reference's boot path: routes config → per-route stream →
SSE, plus `start` initial-position resolution with the INTENDED duration
semantics (SURVEY.md §2.2 defect fixed)."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pytest

from kinesis2sse_spark.app import RouteConfig, ServiceApp, resolve_start
from kinesis2sse_spark.streaming.source import staged_batch_dir
from tests.test_sse import read_sse


def test_resolve_start():
    assert resolve_start(None) == "latest"
    assert resolve_start("LATEST") == "latest"
    assert resolve_start("TRIM_HORIZON") == "trim_horizon"
    assert resolve_start("2024-01-02T00:00:00Z") == datetime(
        2024, 1, 2, tzinfo=timezone.utc
    )
    now = datetime(2024, 1, 2, tzinfo=timezone.utc)
    # a VALID duration must be applied (the reference's CLI bug silently
    # ignored it, kinesis2sse.go:123)
    assert resolve_start("2h", now=now) == now - timedelta(hours=2)
    with pytest.raises(ValueError):
        resolve_start("bogus")


def _write_envelopes(spark, d: str, name: str, envelopes: list[dict]):
    rows = [(json.dumps(e),) for e in envelopes]
    spark.createDataFrame(rows, "value string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, name))


def _metrics(app, ready) -> dict:
    """GET /metrics until ``ready(body)`` holds (listener delivery is
    async) or ten seconds pass; returns the last body."""
    import time
    import urllib.request

    got = {}
    for _ in range(50):
        with urllib.request.urlopen(f"{app.addr}/metrics", timeout=5) as r:
            got = json.loads(r.read())
        if ready(got):
            break
        time.sleep(0.2)
    return got


def test_two_route_app(spark):
    foo_dir = staged_batch_dir("app_foo")
    bar_dir = staged_batch_dir("app_bar")
    _write_envelopes(
        spark, foo_dir, "b0",
        [{"time": "2024-01-01T00:00:00Z", "detail": {"foo": True}}],
    )
    _write_envelopes(
        spark, bar_dir, "b0",
        [{"time": "2024-01-01T00:00:00Z", "detail": {"bar": False}}],
    )
    app = ServiceApp(
        spark,
        routes=[
            RouteConfig("/foo", os.path.join(foo_dir, "*"), start="TRIM_HORIZON"),
            RouteConfig("/bar", os.path.join(bar_dir, "*"), start="TRIM_HORIZON"),
        ],
    )
    app.start()
    try:
        app.process_all_available()
        _, _, foo = read_sse(app.addr, "/foo?since=1970-01-01T00:00:00Z", 1)
        _, _, bar = read_sse(app.addr, "/bar?since=1970-01-01T00:00:00Z", 1)
        assert foo == ['{"foo":true}']
        assert bar == ['{"bar":false}']
        status, _, _ = read_sse(app.addr, "/health", 0)
        assert status == 200
    finally:
        app.stop()


def test_latest_start_skips_existing_events(spark):
    """start=None/LATEST on a directory with pre-existing data must NOT
    replay history (event-time cutoff at service start approximates the
    Kinesis LATEST seek for the file seam)."""
    d = staged_batch_dir("app_latest")
    _write_envelopes(
        spark, d, "b0",
        [{"time": "2024-01-01T00:00:00Z", "detail": {"e": "historical"}}],
    )
    app = ServiceApp(spark, routes=[RouteConfig("/", os.path.join(d, "*"))])
    app.start()
    try:
        app.process_all_available()
        assert app.service.log("/").read_from(0) == []
    finally:
        app.stop()


def test_start_position_filters_old_events(spark):
    d = staged_batch_dir("app_start")
    _write_envelopes(
        spark, d, "b0",
        [
            {"time": "2024-01-01T00:00:00Z", "detail": {"e": "old"}},
            {"time": "2024-06-01T00:00:00Z", "detail": {"e": "new"}},
        ],
    )
    app = ServiceApp(
        spark,
        routes=[RouteConfig("/", os.path.join(d, "*"), start="2024-03-01T00:00:00Z")],
    )
    app.start()
    try:
        app.process_all_available()
        _, _, events = read_sse(app.addr, "/?since=1970-01-01T00:00:00Z", 1)
        assert events == ['{"e":"new"}']
    finally:
        app.stop()


def test_kafka_route_seam(spark):
    """The kafka:// source URI dispatches through the same seam as the
    file source (reference: stream-name flag, kinesis2sse.go:41-57;
    disableKCL seam service.go:34-35). Without the spark-sql-kafka
    connector jar (not bundled with pip PySpark) the plan can't be
    built — skip; with a jar + broker the identical downstream
    (parse_envelope → SSE) applies untouched."""
    from pyspark.errors.exceptions.captured import AnalysisException

    app = ServiceApp(
        spark,
        routes=[RouteConfig("/k", "kafka://localhost:9092/events", start="TRIM_HORIZON")],
    )
    with pytest.raises(ValueError, match="kafka source needs"):
        app._route_stream(RouteConfig("/bad", "kafka://localhost:9092"))
    try:
        df = app._route_stream(app.routes[0])
    except AnalysisException as e:
        assert "kafka" in str(e).lower()
        pytest.skip(f"kafka connector jar absent: {str(e)[:80]}")
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["time", "detail"]


def test_kafka_start_options_no_data_loss():
    """S2 for the Kafka source: a datetime/duration start must seek the
    BROKER at that instant (native startingTimestamp) — never map to
    startingOffsets=latest, which silently skips every record between
    the requested timestamp and service start (records a scan-side
    event-time filter can never recover). Reference semantics:
    WithTimestampAtInitialPositionInStream, kinesis2sse.go:121-125."""
    from kinesis2sse_spark.streaming.source import kafka_start_options

    assert kafka_start_options("latest") == {"startingOffsets": "latest"}
    assert kafka_start_options("trim_horizon") == {"startingOffsets": "earliest"}

    at = datetime(2024, 3, 1, tzinfo=timezone.utc)
    opts = kafka_start_options(at)
    assert "startingOffsets" not in opts, "timestamp start must not offset-seek"
    assert opts["startingTimestamp"] == str(int(at.timestamp() * 1000))
    # idle partitions (no record at/after the instant) start at their
    # end instead of failing the query
    assert opts["startingOffsetsByTimestampStrategy"] == "latest"
    # naive datetime ≡ UTC by convention (same rule as the event-time
    # filter in app._route_stream)
    naive = kafka_start_options(datetime(2024, 3, 1))
    assert naive["startingTimestamp"] == opts["startingTimestamp"]
    # a resolved duration start (now - d) is a datetime too — same path
    dur = resolve_start("2h", now=at)
    assert "startingTimestamp" in kafka_start_options(dur)


def test_kafka_timestamp_route_builds_native_seek(spark):
    """A kafka:// route with an RFC3339 start must plumb the native
    broker-side timestamp seek into the reader (not latest). Without
    the connector jar the plan fails at load(); the option mapping is
    pinned by test_kafka_start_options_no_data_loss above, so here we
    only require the seam dispatches the datetime to kafka_stream."""
    from unittest.mock import patch

    svc = ServiceApp(
        spark,
        routes=[
            RouteConfig(
                "/k", "kafka://localhost:9092/t", start="2024-03-01T00:00:00Z"
            )
        ],
    )
    with patch(
        "kinesis2sse_spark.streaming.source.kafka_stream"
    ) as ks:
        ks.return_value = spark.readStream.format("rate").load().selectExpr(
            "CAST(value AS STRING) AS value"
        )
        svc._route_stream(svc.routes[0])
        (_, args, kwargs) = ks.mock_calls[0]
        assert kwargs["start"] == datetime(2024, 3, 1, tzinfo=timezone.utc)


def test_durable_checkpoint_resumes_not_replays(spark, tmp_path):
    """C1 opt-in: with checkpoint_dir set, a restarted route resumes
    from the checkpoint — batches ingested before the stop are NOT
    reprocessed (the reference is deliberately non-durable and would
    replay from `start`; Spark's checkpoint is the strictly stronger
    guarantee this seam opts into)."""
    d = staged_batch_dir("app_ckpt")
    ckpt = str(tmp_path / "ckpt")
    _write_envelopes(
        spark, d, "b0",
        [{"time": "2024-01-01T00:00:00Z", "detail": {"n": 1}}],
    )
    app = ServiceApp(
        spark,
        routes=[RouteConfig("/c", os.path.join(d, "*"), start="TRIM_HORIZON")],
        checkpoint_dir=ckpt,
    )
    app.start()
    try:
        app.process_all_available()
        assert len(app.service.log("/c").read_from(0)) == 1
    finally:
        app.stop()

    _write_envelopes(
        spark, d, "b1",
        [{"time": "2024-01-02T00:00:00Z", "detail": {"n": 2}}],
    )
    app2 = ServiceApp(
        spark,
        routes=[RouteConfig("/c", os.path.join(d, "*"), start="TRIM_HORIZON")],
        checkpoint_dir=ckpt,
    )
    app2.start()
    try:
        app2.process_all_available()
        # in-memory log was rebuilt empty; the resumed query must feed it
        # ONLY b1 — b0 is behind the checkpoint even though start says
        # full replay
        entries = app2.service.log("/c").read_from(0)  # (offset, data)
        assert len(entries) == 1
        assert '"n":2' in entries[0][1]
    finally:
        app2.stop()


def test_checkpoint_logs_write_through_filesystem_manager(spark):
    """build_session points every streaming checkpoint log at Hadoop's
    FileSystem API. Spark's default goes through FileContext, which
    without native libhadoop forks `chmod` and `readlink` processes on
    each checkpoint write to a file: path."""
    d = staged_batch_dir("app_ckpt_manager")
    _write_envelopes(spark, d, "b0", [{"time": "2024-01-01T00:00:00Z", "detail": {"n": 1}}])
    app = ServiceApp(
        spark, routes=[RouteConfig("/fm", os.path.join(d, "*"), start="TRIM_HORIZON")]
    )
    app.start()
    try:
        (q,) = app.service._queries
        execution = q._jsq.streamingQuery()
        for log in (execution.offsetLog(), execution.commitLog()):
            manager = log.fileManager().getClass().getSimpleName()
            assert manager == "FileSystemBasedCheckpointFileManager"
    finally:
        app.stop()


def test_uncommitted_batch_reruns_once_from_logged_offsets(spark, tmp_path):
    """A crash after the offset-log write and before the commit: with
    commits/<N> gone, a restarted route re-runs batch N exactly once
    from its logged offsets (its rows arrive, the earlier batch's do
    not) and leaves offsets/<N> as written."""
    d = staged_batch_dir("app_ckpt_wal")
    ckpt = str(tmp_path / "ckpt")
    route = RouteConfig("/wal", os.path.join(d, "*"), start="TRIM_HORIZON")
    _write_envelopes(spark, d, "b0", [{"time": "2024-01-01T00:00:00Z", "detail": {"n": 1}}])
    app = ServiceApp(spark, routes=[route], checkpoint_dir=ckpt)
    app.start()
    try:
        app.process_all_available()
        _write_envelopes(
            spark, d, "b1",
            [
                {"time": "2024-01-02T00:00:00Z", "detail": {"n": 2}},
                {"time": "2024-01-02T00:00:01Z", "detail": {"n": 3}},
            ],
        )
        app.process_all_available()
        assert len(app.service.log("/wal").read_from(0)) == 3
    finally:
        app.stop()

    logs = os.path.join(ckpt, "wal")
    batch = max(int(f) for f in os.listdir(os.path.join(logs, "offsets")) if f.isdigit())
    assert batch == 1
    offsets = os.path.join(logs, "offsets", str(batch))
    with open(offsets, "rb") as f:
        logged = f.read()
    logged_mtime = os.stat(offsets).st_mtime_ns
    for name in (str(batch), f".{batch}.crc"):
        path = os.path.join(logs, "commits", name)
        if os.path.exists(path):
            os.remove(path)

    app2 = ServiceApp(spark, routes=[route], checkpoint_dir=ckpt)
    app2.start()
    try:
        app2.process_all_available()
        entries = app2.service.log("/wal").read_from(0)
        assert [data for _, data in entries] == ['{"n":2}', '{"n":3}']
    finally:
        app2.stop()
    with open(offsets, "rb") as f:
        assert f.read() == logged
    assert os.stat(offsets).st_mtime_ns == logged_mtime
    assert os.path.exists(os.path.join(logs, "commits", str(batch)))
    assert not os.path.exists(os.path.join(logs, "offsets", str(batch + 1)))


def test_kpl_aggregated_route(spark):
    """A route fed a KPL-style aggregated record (one stream record =
    JSON array of envelopes) serves the individual user records in
    order — de-aggregation happens inside the route pipeline exactly
    where the reference's KCL does it (record_processor.go:104-106)."""
    d = staged_batch_dir("app_kpl")
    agg = [
        {"time": "2024-01-01T00:00:00Z", "detail": {"n": 1}},
        {"time": "2024-01-01T00:00:01Z", "detail": {"n": 2}},
    ]
    rows = [(json.dumps(agg),), (json.dumps({"time": "2024-01-01T00:00:02Z", "detail": {"n": 3}}),)]
    spark.createDataFrame(rows, "value string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "b0"))
    app = ServiceApp(
        spark, routes=[RouteConfig("/agg", os.path.join(d, "*"), start="TRIM_HORIZON")]
    )
    app.start()
    try:
        app.process_all_available()
        _, _, events = read_sse(app.addr, "/agg?since=1970-01-01T00:00:00Z", 3)
        assert events == ['{"n":1}', '{"n":2}', '{"n":3}']
    finally:
        app.stop()


def test_kinesis_route_end_to_end(spark, tmp_path):
    """The reference's ACTUAL pipeline shape, end-to-end through the
    seam: Kinesis-source micro-batches → de-aggregate → envelope parse
    → SSE frames over HTTP (kinesis2sse.go:110-126 → service.go
    handler), using the in-process fake connector. TRIM_HORIZON
    replays the retained stream; `since` before all data replays every
    frame in offset order."""
    import json as _json

    from kinesis2sse_spark.streaming import fake_kinesis

    fake_kinesis.register(spark)
    records = [
        {
            "ts": 1704067200000 + i * 1000,  # 2024-01-01T00:00:0i Z arrival
            "data": _json.dumps(
                {"time": f"2024-01-01T00:00:0{i}Z", "detail": {"seq": i}}
            ),
        }
        for i in range(3)
    ]
    path = tmp_path / "stream.jsonl"
    path.write_text("".join(_json.dumps(r) + "\n" for r in records))

    app = ServiceApp(
        spark,
        routes=[
            RouteConfig(
                "/kin",
                "kinesis://us-east-1/events",
                start="TRIM_HORIZON",
                source_format="fake_kinesis",
                source_options={"recordsPath": str(path)},
            )
        ],
    )
    with pytest.raises(ValueError, match="kinesis source needs"):
        app._route_stream(RouteConfig("/bad", "kinesis://us-east-1"))
    app.start()
    try:
        app.process_all_available()
        status, _, events = read_sse(
            app.addr, "/kin?since=2000-01-01T00:00:00Z", 3
        )
        assert status == 200
        assert [_json.loads(e)["seq"] for e in events] == [0, 1, 2]
    finally:
        app.stop()


def test_metrics_endpoint_reports_route_rows(spark, tmp_path):
    """/metrics (extension beyond the reference's bare /health) reports
    per-route-query batch and row totals from the ProgressRecorder."""
    src = staged_batch_dir("app_metrics")
    _write_envelopes(
        spark,
        src,
        "b0",
        [
            {"time": f"2024-01-01T00:00:0{i}Z", "detail": {"i": i}}
            for i in range(4)
        ],
    )
    app = ServiceApp(
        spark,
        routes=[RouteConfig("/m", os.path.join(src, "*"), start="TRIM_HORIZON")],
    )
    app.start()
    try:
        app.process_all_available()
        got = _metrics(app, lambda m: m.get("route_m", {}).get("rows", 0) >= 4)
        assert got["route_m"]["rows"] == 4
        assert got["route_m"]["batches"] >= 1
    finally:
        app.stop()


def test_metrics_endpoint_reconciles_malformed_envelopes(spark):
    """/metrics carries the route parse's observed counts: every raw
    record is an envelope parsed (n_records), and the malformed ones are
    dropped (n_dropped), so next_offset + n_dropped == n_records while
    rows still counts the source's input rows."""
    src = staged_batch_dir("app_metrics_malformed")
    valid = [
        json.dumps({"time": f"2024-01-01T00:00:0{i}Z", "detail": {"i": i}}) for i in range(3)
    ]
    malformed = [
        "not json",
        json.dumps({"time": "yesterday", "detail": {"i": -1}}),
        json.dumps({"detail": {"i": -2}}),
        json.dumps({"time": "2024-01-01T00:00:09Z"}),
    ]
    spark.createDataFrame([(v,) for v in valid + malformed], "value string").coalesce(
        1
    ).write.parquet(os.path.join(src, "b0"))
    app = ServiceApp(
        spark,
        routes=[RouteConfig("/mal", os.path.join(src, "*"), start="TRIM_HORIZON")],
    )
    app.start()
    try:
        app.process_all_available()
        got = _metrics(app, lambda m: m.get("route_mal", {}).get("n_records", 0) >= 7)
        route = got["route_mal"]
        assert route["rows"] == route["n_records"] == 7, got
        assert route["n_dropped"] == 4, got
        next_offset = app.service.log("/mal").next_offset()
        assert next_offset + route["n_dropped"] == route["n_records"]
    finally:
        app.stop()


def test_metrics_endpoint_surfaces_watermark_drops(spark, tmp_path):
    """Late-data observability (r11 verdict item 6): the reference
    STORES disorder (README.md:39-40) while Spark DROPS rows older than
    the watermark — the one reference semantic with no direct metric.
    /metrics must surface numRowsDroppedByWatermark per query: a forced
    late arrival (batch 2 carries an event far older than the watermark
    batch 1 established) increments dropped_by_watermark for the
    stateful query, visible over HTTP."""
    import time

    from pyspark.sql import functions as F

    src = staged_batch_dir("app_wm_drop_route")
    _write_envelopes(
        spark, src, "b0", [{"time": "2024-01-01T00:00:00Z", "detail": {"i": 0}}]
    )
    app = ServiceApp(
        spark,
        routes=[RouteConfig("/wm", os.path.join(src, "*"), start="TRIM_HORIZON")],
    )
    app.start()
    try:
        # a stateful (watermarked window agg) query in the same session:
        # the app's ProgressRecorder hears every query, so its drops
        # surface in /metrics alongside the route rows
        d = staged_batch_dir("app_wm_drop_data")
        schema = "ts timestamp, k string"
        spark.createDataFrame(
            [(datetime(2024, 1, 1, 14, 0, 0), "x")], schema
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b0"))
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "*"))
        )
        agg = (
            s.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "k")
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName("wm_drop_probe")
            .start()
        )
        try:
            q.processAllAvailable()  # watermark now 13:00
            time.sleep(1.1)
            # 09:00 is 4 h older than the 13:00 watermark -> dropped
            spark.createDataFrame(
                [(datetime(2024, 1, 1, 9, 0, 0), "x")], schema
            ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        got = _metrics(
            app, lambda m: m.get("wm_drop_probe", {}).get("dropped_by_watermark", 0) >= 1
        )
        assert got["wm_drop_probe"]["dropped_by_watermark"] >= 1, got
        # route queries are stateless: present with a zero drop count
        assert got["route_wm"]["dropped_by_watermark"] == 0, got
    finally:
        app.stop()


def test_stop_logs_listener_removal_failure(caplog):
    """stop() reports a failing removeListener instead of swallowing it."""
    from types import SimpleNamespace as NS

    def remove_listener(_):
        raise RuntimeError("listener bus gone")

    app = ServiceApp(NS(streams=NS(removeListener=remove_listener)), routes=[])
    app._recorder = object()
    with caplog.at_level("WARNING", logger="kinesis2sse_spark.app"):
        app.stop()
    (rec,) = caplog.records
    assert rec.levelname == "WARNING"
    assert "listener bus gone" in rec.getMessage()
