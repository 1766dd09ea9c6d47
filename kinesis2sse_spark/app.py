"""Service lifecycle — the reference's CLI boot (L1) as a library entry:
a JSON/dict route config builds one SSE service plus one Spark streaming
query per route, with start/stop orchestration and optional durable
checkpoints.

Parity map (kinesis2sse.go / service.go):
- --routes JSON array [{pattern, capacity, start}] ... kinesis2sse.go:41-57
- start: LATEST | TRIM_HORIZON | RFC3339 | duration .... kinesis2sse.go:117-126
  (implemented with the INTENDED semantics — the reference's CLI branch
  inverts its error check, SURVEY.md §2.2; our duration branch works)
- per-route worker + handler registration ............. service.go:92-128
- start-all-with-rollback / stop-all .................. service.go:134-215
- checkpoints: reference is deliberately non-durable
  (service.go:113-116); pass checkpoint_dir to opt INTO Spark's durable
  checkpointLocation (a strictly stronger guarantee, C1).
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis2sse_spark.pipeline.envelope import deaggregate_envelopes, parse_envelope
from kinesis2sse_spark.pipeline.since import parse_since
from kinesis2sse_spark.streaming.serve import (
    DEFAULT_CAPACITY,
    RouteOptions,
    SseService,
    route_names,
)

logger = logging.getLogger(__name__)

# Ingest rate bound for file-directory routes: files admitted per
# micro-batch. Without it a TRIM_HORIZON start over a large directory
# makes batch 1 the entire history; with it the backlog drains in
# bounded increments (the KCL equivalent is its per-GetRecords limit).
MAX_FILES_PER_TRIGGER = 64


@dataclass
class RouteConfig:
    pattern: str
    # Source: a directory of JSON-envelope parquet files (value: string),
    # a "kafka://host:port,host2:port2/topic" URI, or a
    # "kinesis://region/streamName" URI — the reference's stream-name
    # flag (kinesis2sse.go:41-57) generalized to the disableKCL seam's
    # source kinds (streaming/source.py).
    source_dir: str
    capacity: int = DEFAULT_CAPACITY
    start: str | None = None  # LATEST | TRIM_HORIZON | RFC3339 | Go duration
    max_age: object = None  # optional timedelta — README.md:45-46 age bound
    # kinesis:// routes only: the connector's registered format name
    # (e.g. a vendor jar's, or "fake_kinesis" for the in-process test
    # connector) plus passthrough options and canonical-key respelling
    # (see streaming/source.py::kinesis_stream).
    source_format: str | None = None
    source_options: dict | None = None
    option_names: dict | None = None


def resolve_start(start: str | None, now: datetime | None = None):
    """Initial-position seek (S2) with the intended semantics: None/LATEST
    → only new data; TRIM_HORIZON → everything; RFC3339 → that instant;
    Go duration → now - duration."""
    if start is None or start.upper() == "LATEST":
        return "latest"
    if start.upper() == "TRIM_HORIZON":
        return "trim_horizon"
    return parse_since(start, now)  # ?since= rules: ValueError on junk


class ServiceApp:
    """One process = one SparkSession + one SseService + N streaming
    queries, mirroring Service.Start/Stop (service.go:134-215)."""

    def __init__(self, spark: SparkSession, routes: list[RouteConfig], port: int = 0,
                 checkpoint_dir: str | None = None) -> None:
        self.spark = spark
        self.routes = routes
        self.checkpoint_dir = checkpoint_dir
        self.service = SseService(
            routes=[RouteOptions(r.pattern, r.capacity, r.max_age) for r in routes],
            port=port,
        )

    def _route_stream(self, r: RouteConfig) -> DataFrame:
        start = resolve_start(r.start)
        if r.source_dir.startswith("kafka://"):
            from kinesis2sse_spark.streaming.source import kafka_stream

            servers, _, topic = r.source_dir[len("kafka://"):].partition("/")
            if not topic:
                raise ValueError(f"kafka source needs kafka://servers/topic, got {r.source_dir!r}")
            # Kinesis seek → Kafka: TRIM_HORIZON ≡ earliest, LATEST ≡
            # latest, timestamp → native broker-side startingTimestamp
            # (kafka_start_options). The event-time cutoff below still
            # applies to timestamp starts: the broker seeks on
            # log-append time, which can trail the envelope's event
            # time, so the cutoff trims the overlap — it can only trim,
            # never recover, which is why the seek itself must not skip.
            stream = kafka_stream(self.spark, servers, topic, start=start)
        elif r.source_dir.startswith("kinesis://"):
            from kinesis2sse_spark.streaming.source import kinesis_stream

            region, _, stream_name = r.source_dir[len("kinesis://"):].partition("/")
            if not stream_name:
                raise ValueError(
                    f"kinesis source needs kinesis://region/streamName, got {r.source_dir!r}"
                )
            # the reference's actual ingress (kinesis2sse.go:110-126):
            # seek resolves source-side (LATEST / TRIM_HORIZON /
            # AT_TIMESTAMP), the connector's data column becomes the
            # envelope bytes
            stream = kinesis_stream(
                self.spark,
                stream_name,
                region,
                start=start,
                source_format=r.source_format,
                option_names=r.option_names,
                **(r.source_options or {}),
            ).select(F.col("data").alias("value"))
        else:
            stream = (
                self.spark.readStream.schema("value string")
                .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
                .parquet(r.source_dir)
            )
        if start == "latest":
            # LATEST over a file directory that may already hold data:
            # approximate the Kinesis seek with an event-time cutoff at
            # service start. Kafka and Kinesis already seeked
            # source-side (startingOffsets=latest / LATEST), so no
            # cutoff there.
            start = (
                None
                if r.source_dir.startswith(("kafka://", "kinesis://"))
                else datetime.now(timezone.utc)
            )
        # trim_horizon: full replay of the directory — no cutoff.
        cutoff = start if isinstance(start, datetime) else None
        if cutoff is not None and cutoff.tzinfo is not None:
            # a naive datetime is already UTC by convention — only convert
            # when an explicit offset was given (astimezone on a naive
            # value would reinterpret it as host-local time)
            cutoff = cutoff.astimezone(timezone.utc).replace(tzinfo=None)
        # KPL-aggregated records (JSON array of envelopes) de-aggregate
        # before the parse, exactly where the reference's KCL does it
        # (record_processor.go:104-106); scalar records pass through.
        # observe metrics replace the reference's per-record drop warnings
        # (record_processor.go:63-81): each micro-batch's progress carries
        # n_records/n_dropped (and n_before_start for a cutoff) under
        # "ingest_<route>" with zero extra scans
        return parse_envelope(
            deaggregate_envelopes(stream),
            observe=f"ingest_{route_names(r.pattern)[1]}",
            start=cutoff,
        )

    def start(self) -> None:
        """Start every route's query, rolling back on first failure
        (service.go:136-151), then serve HTTP. A ProgressRecorder is
        attached for the /metrics extension endpoint (per-route batch
        and row totals — the HTTP face of the ingest audit)."""
        from kinesis2sse_spark.streaming.metrics import ProgressRecorder

        self._recorder = ProgressRecorder()
        self.spark.streams.addListener(self._recorder)
        self.service.recorder = self._recorder
        self.service.start()
        started = []
        try:
            for r in self.routes:
                q = self.service.attach_query(
                    r.pattern,
                    self._route_stream(r),
                    checkpoint_location=(
                        os.path.join(self.checkpoint_dir, route_names(r.pattern)[1])
                        if self.checkpoint_dir
                        else None
                    ),
                )
                started.append(q)
        except Exception:
            for q in started:
                q.stop()
            self.service.stop()
            raise

    def process_all_available(self) -> None:
        for q in self.service._queries:
            q.processAllAvailable()

    @property
    def addr(self) -> str:
        return self.service.addr

    def stop(self) -> None:
        self.service.stop()
        rec = getattr(self, "_recorder", None)
        if rec is not None:
            try:
                self.spark.streams.removeListener(rec)
            except Exception as e:
                logger.warning("removing the progress listener failed: %r", e, exc_info=True)
