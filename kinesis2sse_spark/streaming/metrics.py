"""Streaming observability: a StreamingQueryListener that records every
micro-batch's progress into a queryable relation.

The reference exposes a health endpoint and warn-logs drops
(service.go /health; record_processor.go) — at 100 TB the streaming
layer needs the quantitative counterpart: per-batch input rows,
processing rate, and stage durations, ACROSS restarts, queryable with
the same engine that runs the pipeline. The listener is driver-side
and hears every progress event exactly once per micro-batch; rows
accumulate in memory (bounded by ``capacity``, oldest dropped) and
materialize into a DataFrame on demand — an ops dashboard joins this
against the archive lake to verify "rows in == rows archived" per
batch, closing the exactly-once audit loop end to end.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

PROGRESS_SCHEMA = (
    "query_name string, batch_id long, num_input_rows long, "
    "input_rows_per_second double, process_rows_per_second double, "
    "trigger_ms long, add_batch_ms long, dropped_by_watermark long"
)
OBSERVED_COUNTS = ("n_records", "n_dropped")


@dataclass
class _Batch:
    query_name: str
    batch_id: int
    num_input_rows: int
    input_rps: float
    process_rps: float
    trigger_ms: int
    add_batch_ms: int
    dropped_by_watermark: int
    # OBSERVED_COUNTS summed over the batch's observations; empty when
    # the query observes neither
    parse_counts: dict[str, int]


class ProgressRecorder(StreamingQueryListener):
    """Bounded in-memory recorder of micro-batch progress events.

    Register with ``spark.streams.addListener(rec)``; the driver hears
    one onQueryProgress per committed micro-batch (idle ticks arrive on
    onQueryIdle and are not recorded). ``capacity`` bounds driver
    memory the same way the reference's memlog bounds the event log —
    production forwards the same rows to a metrics sink instead."""

    def __init__(self, capacity: int = 10_000) -> None:
        self._lock = threading.Lock()
        self._capacity = capacity
        self._rows: list[_Batch] = []

    # -- listener callbacks (driver thread) --------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        dur = p.durationMs or {}
        # The one reference semantic with no direct Spark metric: the
        # reference STORES disorder (README.md:39-40) while Spark DROPS
        # rows older than the watermark — numRowsDroppedByWatermark is
        # the per-batch count of silently discarded late data, summed
        # over the query's stateful operators.
        dropped = sum(
            int(getattr(op, "numRowsDroppedByWatermark", 0) or 0)
            for op in (p.stateOperators or [])
        )
        # parse_envelope(observe=...) counts envelopes parsed and dropped
        # as malformed on the same scan; nothing else reports those drops
        parse_counts: dict[str, int] = {}
        for obs in (p.observedMetrics or {}).values():
            for k, v in obs.asDict().items():
                if k in OBSERVED_COUNTS:
                    parse_counts[k] = parse_counts.get(k, 0) + int(v)
        row = _Batch(
            query_name=p.name or "",
            batch_id=int(p.batchId),
            num_input_rows=int(p.numInputRows),
            input_rps=float(p.inputRowsPerSecond or 0.0),
            process_rps=float(p.processedRowsPerSecond or 0.0),
            trigger_ms=int(dur.get("triggerExecution", 0)),
            add_batch_ms=int(dur.get("addBatch", 0)),
            dropped_by_watermark=dropped,
            parse_counts=parse_counts,
        )
        with self._lock:
            self._rows.append(row)
            if len(self._rows) > self._capacity:
                del self._rows[: len(self._rows) - self._capacity]

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- query surface ------------------------------------------------------
    def progress_df(self, spark: SparkSession) -> DataFrame:
        """Materialize the recorded batches as a DataFrame (snapshot —
        the recorder keeps accumulating after this call)."""
        with self._lock:
            rows = [
                (
                    b.query_name,
                    b.batch_id,
                    b.num_input_rows,
                    b.input_rps,
                    b.process_rps,
                    b.trigger_ms,
                    b.add_batch_ms,
                    b.dropped_by_watermark,
                )
                for b in self._rows
            ]
        return spark.createDataFrame(rows, PROGRESS_SCHEMA)

    def total_input_rows(self, query_name: str | None = None) -> int:
        with self._lock:
            return sum(
                b.num_input_rows
                for b in self._rows
                if query_name is None or b.query_name == query_name
            )

    def totals_by_query(self) -> dict[str, dict[str, int]]:
        """Per-query sums over the recorded batches:
        ``{query: {"batches", "rows", "dropped_by_watermark"}}``. Spark
        drops late rows where the reference stores disorder, so the drop
        count sits beside the rows it did take in. A query that observes
        ``n_records`` / ``n_dropped`` (a route's envelope parse) also
        carries their sums: envelopes parsed and malformed ones dropped,
        so a route's ``next_offset + n_dropped == n_records``."""
        totals: dict[str, dict[str, int]] = {}
        with self._lock:
            for b in self._rows:
                agg = totals.setdefault(
                    b.query_name, {"batches": 0, "rows": 0, "dropped_by_watermark": 0}
                )
                agg["batches"] += 1
                agg["rows"] += b.num_input_rows
                agg["dropped_by_watermark"] += b.dropped_by_watermark
                for k, v in b.parse_counts.items():
                    agg[k] = agg.get(k, 0) + v
        return totals
