"""Program process of the ``ingest`` workload.

``session.build_session`` + ``app.ServiceApp`` with one file-directory
route at ``TRIM_HORIZON``, exactly as a deployment would start it. The
process reports when it is ready (``setup_s`` counts from process start),
when each backlog micro-batch's last valid envelope has an offset (the
drain), and on
``stop`` the route's counters: its next offset and the envelope parse's
observed ``n_records`` / ``n_dropped`` summed over every micro-batch.

A traced run also wraps the foreachBatch push, the RouteLog methods and
``parse_since``, reads each batch's ``durationMs`` breakdown, and counts
the Spark jobs run under the query's job group.

Run by perfbench/ingest.py; talks the line protocol of perfbench/common.py.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import threading  # noqa: E402

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from kinesis2sse_spark.app import RouteConfig, ServiceApp  # noqa: E402
from kinesis2sse_spark.session import build_session  # noqa: E402
from perfbench.common import ROOT, commands, emit, peak_rss_mib, tree_cpu_s  # noqa: E402
from perfbench.ingest import CAPACITY, ROUTE  # noqa: E402
from perfbench.spans import Tracer, routelog_metrics, trace_route_log  # noqa: E402

OBSERVED = "ingest_ingest"  # ServiceApp's observe name for this route


class BatchListener(StreamingQueryListener):
    """Keeps every micro-batch's input rows, observed parse counts and
    ``durationMs``, stamped with the monotonic clock on arrival."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        obs = (p.observedMetrics or {}).get(OBSERVED)
        with self.lock:
            self.batches.append({
                "t_ns": time.monotonic_ns(),
                "rows": int(p.numInputRows),
                "n_records": int(obs["n_records"]) if obs else 0,
                "n_dropped": int(obs["n_dropped"]) if obs else 0,
                "dur": dict(p.durationMs or {}),
            })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def wait_rows(self, n: int, timeout: float) -> list[dict]:
        """Batches up to the one that brings the input-row total to ``n``."""
        deadline = time.monotonic() + timeout
        while True:
            with self.lock:
                total = 0
                for k, b in enumerate(self.batches):
                    total += b["rows"]
                    if total >= n:
                        return self.batches[: k + 1]
            if time.monotonic() > deadline:
                raise TimeoutError(f"listener saw {total} of {n} input rows")
            time.sleep(0.01)


def trace_push(tracer: Tracer) -> None:
    """Wrap every foreachBatch function in a ``push`` span (request id =
    batch id); its RouteLog.append calls become child spans."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    orig = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        return orig(self, tracer.wrap("push", func, req=lambda a: f"batch-{a[1]}"))

    DataStreamWriter.foreachBatch = foreach_batch


def mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def mean_after(tracer, snapshot, num: str, den: str) -> float:
    """Calls of ``num`` per call of ``den`` since ``snapshot`` was taken."""
    n = tracer.calls(num) - snapshot.get(num, [0])[0]
    d = tracer.calls(den) - snapshot.get(den, [0])[0]
    return n / d if d else 0.0


def layer_metrics(tracer, drain_snapshot, drain, live, jobs, t_window_ns) -> dict:
    def avg(batches, *keys):
        return mean([sum(b["dur"].get(k, 0) for k in keys) for b in batches])

    pushes = tracer.calls("push")
    live_push = [s for s in tracer.spans if s[0] == "push" and s[1] >= t_window_ns]
    return {
        **routelog_metrics(tracer),
        "drain.batches": len(drain),
        "drain.get_batch_s": sum(b["dur"].get("getBatch", 0) for b in drain) / 1e3,
        "drain.add_batch_s": sum(b["dur"].get("addBatch", 0) for b in drain) / 1e3,
        "drain.append_s": drain_snapshot.get("routelog.append", [0, 0, 0])[1] / 1e9,
        "source.latest_offset_ms": avg(live, "latestOffset"),
        "source.get_batch_ms": avg(live, "getBatch"),
        "trigger.planning_ms": avg(live, "queryPlanning"),
        "trigger.commit_ms": avg(live, "walCommit", "commitOffsets"),
        "trigger.batch_ms": avg(live, "triggerExecution"),
        "trigger.batches": len(live),
        "push.add_batch_ms": avg(live, "addBatch"),
        "push.spark_jobs_per_batch": jobs / pushes if pushes else 0.0,
        "push.rows_per_batch": mean_after(tracer, drain_snapshot, "routelog.append", "push"),
        "push.other_ms": mean([s[5] / 1e6 for s in live_push]),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--marks", required=True,
                    help="valid envelopes landed by the end of each backlog micro-batch, comma-separated")
    ap.add_argument("--backlog-records", type=int, required=True)
    ap.add_argument("--spans-out", help="trace the run and write its spans here")
    args = ap.parse_args()

    import kinesis2sse_spark

    if not os.path.abspath(kinesis2sse_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"kinesis2sse_spark imported from outside {ROOT}")
    tracer = Tracer() if args.spans_out else None
    if tracer:
        trace_route_log(tracer)
        trace_push(tracer)

    t = time.perf_counter()
    spark = build_session(
        app_name="perfbench_ingest", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    session_s = time.perf_counter() - t
    listener = BatchListener()
    spark.streams.addListener(listener)
    app = ServiceApp(
        spark,
        [RouteConfig(ROUTE, source_dir=args.src, capacity=CAPACITY, start="TRIM_HORIZON")],
    )
    t_start = time.perf_counter()
    app.start()
    t_ready = time.perf_counter()
    log = app.service.log(ROUTE)
    emit(
        "ready",
        port=int(app.addr.rsplit(":", 1)[1]),
        setup_s=t_ready - T0,
        session_s=session_s,
        app_start_s=t_ready - t_start,
    )

    # the instant each micro-batch's last row got its offset, and the
    # process tree's CPU seconds by then
    marks = [int(m) for m in args.marks.split(",")]
    marks_s, marks_cpu_s = [], []
    deadline = time.monotonic() + 150
    while len(marks_s) < len(marks):
        if time.monotonic() > deadline:
            raise SystemExit(f"drain stalled at offset {log.next_offset()} of {marks[-1]}")
        n = log.next_offset()
        now = time.perf_counter()
        while len(marks_s) < len(marks) and n >= marks[len(marks_s)]:
            marks_s.append(now - t_start)
            marks_cpu_s.append(tree_cpu_s(os.getpid()))
        time.sleep(0.002)
    drain = listener.wait_rows(args.backlog_records, timeout=30)  # the last push returned
    drain_snapshot = {k: list(v) for k, v in tracer.totals.items()} if tracer else {}
    emit("drained", marks_s=marks_s, marks_cpu_s=marks_cpu_s, next_offset=log.next_offset())

    for cmd in commands():
        if cmd["kind"] != "stop":
            continue
        batches = listener.wait_rows(cmd["records"], timeout=30)
        layer = {}
        if tracer:
            run_id = str(spark.streams.active[0].runId)
            jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(run_id))
            live = [b for b in batches[len(drain):] if b["t_ns"] >= cmd["t_window_ns"]]
            layer = layer_metrics(tracer, drain_snapshot, drain, live, jobs, cmd["t_window_ns"])
            layer["parse.rows_in"] = sum(b["n_records"] for b in batches)
            layer["parse.rows_dropped"] = sum(b["n_dropped"] for b in batches)
            tracer.dump(args.spans_out)
        live_ms = [b["dur"].get("triggerExecution", 0) for b in batches[len(drain):]
                   if b["t_ns"] >= cmd["t_window_ns"]]
        emit(
            "result",
            live_batch_ms=live_ms or [0],
            drain_batch_ms=[b["dur"].get("triggerExecution", 0) for b in drain],
            next_offset=log.next_offset(),
            n_records=sum(b["n_records"] for b in batches),
            n_dropped=sum(b["n_dropped"] for b in batches),
            peak_rss_mib=peak_rss_mib(os.getpid()),
            layer=layer,
        )
        break
    app.stop()
    spark.stop()


if __name__ == "__main__":
    main()
