"""Streaming observability: a StreamingQueryListener that keeps running
per-query totals of every micro-batch's progress.

The reference exposes a health endpoint and warn-logs drops
(service.go /health; record_processor.go); ``/metrics`` is the
quantitative counterpart: per query, the batches committed, the input
rows they read, the rows Spark dropped behind the watermark and, for a
route, the envelopes its parse saw and dropped. The listener is
driver-side and hears each committed micro-batch exactly once, so the
totals cover the service's whole life in constant memory, and a route's
``next_offset`` reconciles with them however long it runs. The
per-batch view (durations, rates, batch ids) is Spark's own:
``StreamingQuery.recentProgress`` / ``lastProgress``.
"""

from __future__ import annotations

import threading

from pyspark.sql.streaming import StreamingQueryListener

OBSERVED_COUNTS = ("n_records", "n_dropped", "n_before_start")


class ProgressRecorder(StreamingQueryListener):
    """Running totals of micro-batch progress events, per query name.

    Register with ``spark.streams.addListener(rec)``; the driver hears
    one onQueryProgress per committed micro-batch (idle ticks arrive on
    onQueryIdle and are not counted)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._totals: dict[str, dict[str, int]] = {}

    # -- listener callbacks (driver thread) --------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        # The one reference semantic with no direct Spark metric: the
        # reference STORES disorder (README.md:39-40) while Spark DROPS
        # rows older than the watermark — numRowsDroppedByWatermark is
        # the per-batch count of silently discarded late data, summed
        # over the query's stateful operators.
        dropped = sum(
            int(getattr(op, "numRowsDroppedByWatermark", 0) or 0)
            for op in (p.stateOperators or [])
        )
        # parse_envelope(observe=...) counts envelopes parsed, dropped as
        # malformed and dropped before the route's start on the same
        # scan; nothing else reports those drops
        observed = [
            (k, int(v))
            for obs in (p.observedMetrics or {}).values()
            for k, v in obs.asDict().items()
            if k in OBSERVED_COUNTS
        ]
        with self._lock:
            agg = self._totals.setdefault(
                p.name or "", {"batches": 0, "rows": 0, "dropped_by_watermark": 0}
            )
            agg["batches"] += 1
            agg["rows"] += int(p.numInputRows)
            agg["dropped_by_watermark"] += dropped
            for k, v in observed:
                agg[k] = agg.get(k, 0) + v

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def totals_by_query(self) -> dict[str, dict[str, int]]:
        """Per-query sums over every batch heard so far:
        ``{query: {"batches", "rows", "dropped_by_watermark"}}``. Spark
        drops late rows where the reference stores disorder, so the drop
        count sits beside the rows it did take in. A query that observes
        ``n_records`` / ``n_dropped`` / ``n_before_start`` (a route's
        envelope parse) also carries their sums: envelopes parsed,
        malformed ones dropped and, for a route with a start cutoff,
        valid ones older than it, so a route's
        ``next_offset + n_dropped + n_before_start == n_records``."""
        with self._lock:
            return {q: dict(agg) for q, agg in self._totals.items()}
