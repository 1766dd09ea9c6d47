"""Stateful contiguous offset assignment — streaming operator W1.

The reference serializes all shards of a route through one mutex and
lets the in-memory log assign the next integer offset
(record_processor.go:58, 90-94). The Spark equivalent: group every
record onto ONE state key and carry a single counter across
micro-batches with applyInPandasWithState. The state is 8 bytes; the
serialization point is inherent to "contiguous global offsets" — same
bottleneck the reference accepted, and the reason offsets ride an
already-ordered ingest key (event_id) wherever one exists.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OFFSET_STATE_SCHEMA = T.StructType([T.StructField("next_offset", T.LongType())])


# NOTE: a transformWithStateInPandas variant was evaluated (Spark 4's
# typed-state successor to applyInPandasWithState) but remains
# incompatible with this runtime. Re-probed on pyspark 4.1.2
# (2026-08, round 7): a minimal keyed ValueState counter over a rate
# source fails every micro-batch with STREAM_FAILED /
# "TransformWithStateInPySpark driver worker exited unexpectedly
# (crashed) SQLSTATE: XXKST" before the first state op runs. Revisit
# on the next runtime bump; the semantics here are identical.
def with_streaming_offsets(df: DataFrame, order_col: str = "event_id") -> DataFrame:
    """Assign contiguous offsets 0,1,2,... across micro-batches.

    Output schema = input schema + ``offset: long``. All rows map to one
    state key (the route), exactly mirroring the reference's route-wide
    mutex; throughput of this stage is bounded by one task, so keep the
    payload columns slim and join the rest back by event id if needed.
    """
    return with_streaming_offsets_per_route(
        df.withColumn("__k", F.lit(1)), route_col="__k", order_col=order_col
    ).drop("__k")


def with_streaming_offsets_per_route(
    df: DataFrame, route_col: str = "event_type", order_col: str = "event_id"
) -> DataFrame:
    """Contiguous offsets 0,1,2,... PER ROUTE carried across
    micro-batches — the reference's actual concurrency model (one
    mutex and one offset counter per SSE route, record_processor.go's
    per-route serialization) where with_streaming_offsets collapses
    everything onto one global key. State shards by route across
    executors, so throughput scales with the route count while each
    route's offsets stay strictly contiguous; within a micro-batch a
    route's rows are ordered by ``order_col``. Output schema = input
    schema + ``offset: long``."""
    out_fields = [T.StructField(f.name, f.dataType) for f in df.schema.fields] + [
        T.StructField("offset", T.LongType())
    ]

    def assign(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (start,) = state.get if state.exists else (0,)
        # The group arrives as an ITERATOR of Arrow chunks (default 10k
        # rows each) — the whole group must be concatenated before
        # sorting, or offsets would only be ordered within each chunk.
        # Materializing it is inherent to a total order; the state key
        # already serializes this stage (the reference holds the whole
        # ProcessRecords batch in memory the same way).
        chunks = [pdf for pdf in pdfs]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            batch = batch.sort_values(order_col).reset_index(drop=True)
            batch["offset"] = range(start, start + len(batch))
            start += len(batch)
            yield batch
        state.update((start,))

    return df.groupBy(route_col).applyInPandasWithState(
        assign,
        outputStructType=T.StructType(out_fields),
        stateStructType=OFFSET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


KEYED_STATS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _keyed_stats_fn(key_col: str, value_col: str):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [total]}
        )

    return update


def with_keyed_running_stats(
    df: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Per-key running (count, sum) carried across micro-batches — the
    MULTI-key generalization of the offset counter above: state shards
    by key across executors (hash partition on the grouping key), so
    throughput scales with the keyspace instead of serializing through
    one task. One output row per key per micro-batch in which the key
    appears, carrying the running totals — the streaming twin of a
    running-aggregate window, without retaining per-event state (8+8
    bytes per key, regardless of history length).

    The Arrow chunks stream through without concatenation (unlike the
    offset assigner, which must materialize the batch to total-order
    it) — per-key aggregation is order-free, so memory per task is one
    chunk, not one batch."""
    out_schema = T.StructType(
        [
            next(T.StructField(f.name, f.dataType) for f in df.schema.fields if f.name == key_col),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    return df.groupBy(key_col).applyInPandasWithState(
        _keyed_stats_fn(key_col, value_col),
        outputStructType=out_schema,
        stateStructType=KEYED_STATS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming changelog compaction -------------------------------------

COMPACTION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_ns", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_ops", T.LongType()),
        T.StructField("n_deletes", T.LongType()),
    ]
)


# NULL event times sort SMALLEST — the same rule as Spark struct
# ordering (batch max_by) and the oracle's ORDER BY ts DESC (DuckDB
# puts nulls last in DESC). Encoded as an int64 sentinel below every
# real timestamp; pd.isna handles NaT explicitly because
# Series.astype("int64") on NaT either yields an unspecified sentinel
# or raises, depending on the pandas version.
_TS_NULL_SENTINEL = -(2**63)


def _compaction_fn(key_col: str):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts_ns, eid, op, val, n_ops, n_del = state.get
        else:
            ts_ns, eid, op, val, n_ops, n_del = (
                _TS_NULL_SENTINEL, -1, "", 0.0, 0, 0,
            )
        for pdf in pdfs:
            n_ops += len(pdf)
            ops = pdf["event_type"].map(
                lambda et: "I" if et == "signup" else ("D" if et == "error" else "U")
            )
            n_del += int((ops == "D").sum())
            tsi = pdf["ts"].map(
                lambda x: _TS_NULL_SENTINEL if pd.isna(x) else int(x.value)
            )
            for t, e, o, v in zip(tsi, pdf["event_id"], ops, pdf["value"]):
                if (t, e) > (ts_ns, eid):
                    ts_ns, eid, op, val = int(t), int(e), o, float(v)
        state.update((ts_ns, eid, op, val, n_ops, n_del))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "last_op": [op],
                "last_ts": [
                    pd.NaT if ts_ns == _TS_NULL_SENTINEL else pd.to_datetime(ts_ns)
                ],
                "last_value": [val],
                "n_ops": [n_ops],
                "n_deletes": [n_del],
            }
        )

    return update


def with_changelog_compaction(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key last-writer-wins changelog state carried across
    micro-batches — the streaming twin of
    queries/lakeops.py::pipeline_changelog_compaction: state per key
    is ONE op (the (ts, event_id)-max), two counters, never the op
    history, so memory is O(keys) regardless of stream length. Emits
    the refreshed compacted row for every key seen in the micro-batch
    (update semantics, like a compacted Kafka topic's latest-value
    view); tombstone filtering is the CONSUMER's final-snapshot
    concern, downstream of this operator."""
    out_schema = T.StructType(
        [
            next(
                T.StructField(f.name, f.dataType)
                for f in df.schema.fields
                if f.name == key_col
            ),
            T.StructField("last_op", T.StringType()),
            T.StructField("last_ts", T.TimestampType()),
            T.StructField("last_value", T.DoubleType()),
            T.StructField("n_ops", T.LongType()),
            T.StructField("n_deletes", T.LongType()),
        ]
    )
    return df.groupBy(key_col).applyInPandasWithState(
        _compaction_fn(key_col),
        outputStructType=out_schema,
        stateStructType=COMPACTION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- update-mode session windows (custom sessionization) -----------------

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("starts", T.ArrayType(T.LongType())),  # epoch ns
        T.StructField("lasts", T.ArrayType(T.LongType())),  # epoch ns
        T.StructField("ns", T.ArrayType(T.LongType())),  # event counts
    ]
)


def _session_fn(key_col: str, gap_ns: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # open sessions as (start_ns, last_event_ns, n, changed_this_batch)
        if state.exists:
            starts, lasts, ns = state.get
            sessions = [
                [int(s), int(l), int(n), False]
                for s, l, n in zip(starts, lasts, ns)
            ]
        else:
            sessions = []
        if not state.hasTimedOut:
            # Vectorized within-batch segmentation (r13 profile: the
            # former per-event Python loop was ~50% of the operator's
            # wall clock, more than the Arrow boundary itself — PERF.md
            # r13). Sorted-sweep interval merging is CONFLUENT: pre-
            # merging the batch's events into gap-separated segments
            # with numpy and then folding segments against the open
            # state sessions yields exactly the intervals/counts the
            # old event-at-a-time fold produced (any events a state
            # session would have bridged are <= gap apart from it and
            # still merge at the fold).
            import numpy as np

            arrs = []
            for pdf in pdfs:
                ts = pdf["ts"]
                mask = ts.notna()  # event-time ops drop null timestamps
                if mask.any():
                    arrs.append(
                        ts[mask].values.astype("datetime64[ns]").astype("int64")
                    )
            if arrs:
                vals = np.sort(np.concatenate(arrs))
                cut = np.flatnonzero(np.diff(vals) > gap_ns)
                seg_a = np.concatenate(([0], cut + 1))
                seg_b = np.concatenate((cut, [len(vals) - 1]))
                for a, b in zip(seg_a, seg_b):
                    sessions.append(
                        [int(vals[a]), int(vals[b]), int(b - a + 1), True]
                    )
            # interval-merge sweep: an event/session whose start is at or
            # before the previous session's end (last + gap, INCLUSIVE —
            # Spark's session merge rule, and the oracle's strict
            # "diff > gap opens a session") folds in; `changed` survives
            # the fold so only touched sessions re-emit (update semantics)
            sessions.sort(key=lambda x: (x[0], x[1]))
            merged: list[list] = []
            for s in sessions:
                if merged and s[0] <= merged[-1][1] + gap_ns:
                    m = merged[-1]
                    m[1] = max(m[1], s[1])
                    m[2] += s[2]
                    m[3] = m[3] or s[3]
                else:
                    merged.append(s)
            sessions = merged
        changed = [s for s in sessions if s[3]]
        if changed:
            # bulk int64→datetime64 conversion: the former per-session
            # pd.to_datetime() calls dominated the operator's wall clock
            # at fixture sparsity (~1 session per event → one Python
            # call per emission; PERF.md r13 profile)
            import numpy as np

            starts = np.fromiter(
                (s[0] for s in changed), dtype=np.int64, count=len(changed)
            )
            ends = np.fromiter(
                (s[1] + gap_ns for s in changed),
                dtype=np.int64,
                count=len(changed),
            )
            yield pd.DataFrame(
                {
                    key_col: np.full(len(changed), key[0]),
                    "session_start": starts.astype("datetime64[ns]"),
                    "session_end": ends.astype("datetime64[ns]"),
                    "n_events": np.fromiter(
                        (s[2] for s in changed),
                        dtype=np.int64,
                        count=len(changed),
                    ),
                }
            )
        # EVICTION — the whole point of the update-mode shape: a session
        # whose end the watermark has passed can never change again (later
        # events would be filtered as late), so its state rows drop here,
        # on data batches for keys that got data and via event-time
        # timeout for keys that didn't. State per key is the OPEN
        # sessions only — bounded by the watermark horizon, not by the
        # stream's lifetime.
        wm_ns = state.getCurrentWatermarkMs() * 1_000_000
        live = [s for s in sessions if s[1] + gap_ns > wm_ns]
        if live:
            state.update(
                (
                    [s[0] for s in live],
                    [s[1] for s in live],
                    [s[2] for s in live],
                )
            )
            # re-arm at the earliest open session's end; the purge rule
            # guarantees end_ns > wm_ns, but ms truncation can land ON
            # the watermark, which setTimeoutTimestamp rejects — clamp up
            state.setTimeoutTimestamp(
                max(
                    min(s[1] + gap_ns for s in live) // 1_000_000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        else:
            state.remove()

    return update


def with_session_windows(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-key session windows computed with applyInPandasWithState in
    UPDATE mode — Spark's built-in session_window aggregate only
    supports complete/append emission (update raises
    STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION), and complete mode
    never evicts window state, so the production shape is this custom
    sessionizer (the canonical Structured Streaming sessionization
    pattern): state per key holds only the OPEN sessions (start, last
    event time, count — 24 bytes each), each micro-batch merges its
    events into them (inclusive last+gap boundary, matching Spark's
    session merge rule) and re-emits exactly the sessions it touched,
    and sessions whose end the watermark has passed are purged — on the
    key's next data batch or, for idle keys, by event-time timeout.
    Because a session's identity (its bounds) moves as it merges, the
    sink-side snapshot is assembled by overlap-supersession, not key
    equality (see streaming_session_window). ``df`` must carry a
    watermark on ``ts_col``; rows later than it are filtered upstream,
    which is exactly what makes the purge safe."""
    parts = gap.split()
    unit_s = {"seconds": 1, "second": 1, "minutes": 60, "minute": 60, "hours": 3600, "hour": 3600}[parts[1]]
    gap_ns = int(parts[0]) * unit_s * 1_000_000_000
    key_field = next(f for f in df.schema.fields if f.name == key_col)
    out_schema = T.StructType(
        [
            T.StructField(key_col, key_field.dataType),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    return df.groupBy(key_col).applyInPandasWithState(
        _session_fn(key_col, gap_ns),
        outputStructType=out_schema,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- session-scoped streaming dedup --------------------------------------

SESSION_DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("starts", T.ArrayType(T.LongType())),  # epoch ns
        T.StructField("lasts", T.ArrayType(T.LongType())),  # epoch ns
        T.StructField("types", T.ArrayType(T.StringType())),  # \x1f-joined sets
    ]
)

_TYPE_SEP = "\x1f"


def _session_dedup_fn(key_col: str, dedup_col: str, gap_ns: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # open sessions as [start_ns, last_ns, set(dedup values)]
        if state.exists:
            starts, lasts, types = state.get
            sessions = [
                [int(s), int(l), set(t.split(_TYPE_SEP)) if t else set()]
                for s, l, t in zip(starts, lasts, types)
            ]
        else:
            sessions = []
        out_eid, out_ts, out_typ, out_dup = [], [], [], []
        if not state.hasTimedOut:
            events = []
            for pdf in pdfs:
                for eid, t, typ in zip(
                    pdf["event_id"], pdf["ts"], pdf[dedup_col]
                ):
                    if pd.isna(t):
                        continue  # event-time ops drop null timestamps
                    events.append((int(t.value), int(eid), typ))
            # (ts, event_id) order within the micro-batch — so a single-
            # batch replay is EXACTLY the batch sessionization + first-
            # occurrence rule; across batches the verdict is by arrival
            # (an out-of-order earlier event in a later batch cannot
            # retract an already-emitted verdict — pinned in tests)
            events.sort()
            for ts_ns, eid, typ in events:
                fit = [
                    s
                    for s in sessions
                    if ts_ns <= s[1] + gap_ns and ts_ns + gap_ns >= s[0]
                ]
                is_dup = any(typ in s[2] for s in fit)
                merged = [
                    min([ts_ns] + [s[0] for s in fit]),
                    max([ts_ns] + [s[1] for s in fit]),
                    set.union({typ}, *[s[2] for s in fit]) if fit else {typ},
                ]
                sessions = [s for s in sessions if s not in fit]
                sessions.append(merged)
                sessions.sort(key=lambda s: (s[0], s[1]))
                out_eid.append(eid)
                out_ts.append(pd.to_datetime(ts_ns))
                out_typ.append(typ)
                out_dup.append(is_dup)
        if out_eid:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(out_eid),
                    "event_id": out_eid,
                    dedup_col: out_typ,
                    "ts": out_ts,
                    "is_dup": out_dup,
                }
            )
        # eviction mirrors with_session_windows: a closed session's seen-
        # set can never matter again (later events would be late), so
        # state per key is the open sessions' dedup sets only — bounded
        # by the watermark horizon times within-session distinct values,
        # never the stream's lifetime
        wm_ns = state.getCurrentWatermarkMs() * 1_000_000
        live = [s for s in sessions if s[1] + gap_ns > wm_ns]
        if live:
            state.update(
                (
                    [s[0] for s in live],
                    [s[1] for s in live],
                    [_TYPE_SEP.join(sorted(s[2])) for s in live],
                )
            )
            state.setTimeoutTimestamp(
                max(
                    min(s[1] + gap_ns for s in live) // 1_000_000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        else:
            state.remove()

    return update


def with_session_dedup(
    df: DataFrame,
    key_col: str = "user_id",
    dedup_col: str = "event_type",
    gap: str = "30 minutes",
) -> DataFrame:
    """Dedup scoped to SESSION boundaries — a repeat of ``dedup_col``
    within the same gap-defined session is flagged as a duplicate (the
    re-crawled page / double-fired beacon), while the same value in a
    later session is a legitimate revisit and passes. This is the
    composition of the update-mode sessionizer's interval state with a
    per-session seen-set: state per key holds the open sessions plus
    the distinct dedup values seen in each, merges bridge sessions
    (verdict checks the UNION of bridged sets), and evicts exactly like
    with_session_windows (data-batch purge + event-time timeout) — so
    unlike a watermark-horizon dedup the suppression window ADAPTS to
    activity: it lasts as long as the session does, and resets the
    moment the session closes. ``df`` needs (key_col, ts, event_id,
    dedup_col) and a watermark on ts."""
    parts = gap.split()
    unit_s = {"seconds": 1, "second": 1, "minutes": 60, "minute": 60, "hours": 3600, "hour": 3600}[parts[1]]
    gap_ns = int(parts[0]) * unit_s * 1_000_000_000
    key_field = next(f for f in df.schema.fields if f.name == key_col)
    dedup_field = next(f for f in df.schema.fields if f.name == dedup_col)
    out_schema = T.StructType(
        [
            T.StructField(key_col, key_field.dataType),
            T.StructField("event_id", T.LongType()),
            T.StructField(dedup_col, dedup_field.dataType),
            T.StructField("ts", T.TimestampType()),
            T.StructField("is_dup", T.BooleanType()),
        ]
    )
    return df.groupBy(key_col).applyInPandasWithState(
        _session_dedup_fn(key_col, dedup_col, gap_ns),
        outputStructType=out_schema,
        stateStructType=SESSION_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- streaming per-user contribution bounding -----------------------------

CONTRIB_STATE_SCHEMA = T.StructType([T.StructField("kept", T.LongType())])


def _contribution_cap_fn(cap: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (kept,) = state.get if state.exists else (0,)
        chunks = [pdf for pdf in pdfs]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            # keep-first-by-event-time within the batch (nulls FIRST —
            # the batch operator's pinned order); across batches the
            # carried counter makes "first" mean arrival order, exactly
            # the online reading of the rule
            batch = batch.sort_values(
                ["ts", "event_id"], na_position="first"
            ).reset_index(drop=True)
            n = len(batch)
            take = max(0, min(cap - kept, n))
            batch["is_kept"] = [i < take for i in range(n)]
            kept += take
            yield batch
        state.update((kept,))

    return update


def with_contribution_cap(df: DataFrame, cap: int, key_col: str = "user_id") -> DataFrame:
    """Per-user contribution bounding as a STREAM: each user's first
    ``cap`` events (by event time within a batch, by arrival across
    batches) are flagged kept, the rest dropped — the online form of
    privacy_contribution_bounding, applied before events ever reach a
    DP aggregate. State is ONE 8-byte counter per user (the same
    profile as the reference's per-route offset counters); no timeout,
    because the cap is a stream-lifetime guarantee — production TTLs
    the keyspace with the user-retention policy, not the watermark.
    Output schema = input + ``is_kept: boolean``."""
    out_fields = [T.StructField(f.name, f.dataType) for f in df.schema.fields] + [
        T.StructField("is_kept", T.BooleanType())
    ]
    return df.groupBy(key_col).applyInPandasWithState(
        _contribution_cap_fn(cap),
        outputStructType=T.StructType(out_fields),
        stateStructType=CONTRIB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming per-key windowed rate limit ---------------------------------

RATE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("wins", T.ArrayType(T.LongType(), containsNull=True)),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def _rate_limit_fn(cap: int, win_s: int):
    def _purge(wins, counts, wm_ms):
        """Drop windows the watermark has passed (end <= wm) — the same
        eviction boundary the per-(key, window) form's event-time
        timeout enforced. A null window (null ts rows) never expires."""
        keep = [
            (w, c)
            for w, c in zip(wins, counts)
            if w is None or (w + win_s) * 1000 > wm_ms
        ]
        return [w for w, _ in keep], [c for _, c in keep]

    def _arm(state, wins, wm_ms):
        ends = [(w + win_s) * 1000 for w in wins if w is not None]
        if ends:
            state.setTimeoutTimestamp(max(min(ends), wm_ms + 1))

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            # purge expired windows; keep the entry (re-armed at the
            # next open window's end) only if any window is still open
            wins, counts = state.get
            wins, counts = _purge(wins, counts, wm_ms)
            if wins:
                state.update((wins, counts))
                _arm(state, wins, wm_ms)
            else:
                state.remove()
            return
        wins, counts = state.get if state.exists else ([], [])
        open_w = dict(zip(wins, counts))
        chunks = [pdf for pdf in pdfs]
        if chunks:
            import numpy as np

            batch = (
                chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            )
            n = len(batch)
            # admit-first-by-event-time within the batch per window
            # (nulls FIRST, the repo's pinned order); across batches the
            # carried counters make admission arrival-ordered — the same
            # online reading as with_contribution_cap. The state is
            # keyed by user alone with the open windows as a small map
            # (r13 opt round): the per-(user, window) form paid the
            # applyInPandasWithState per-key overhead (~1 ms) for every
            # (user, window) pair — 40k keys at sf0.1, 37.5 s, nearly
            # all framework — where windows-per-user is small (the days
            # a user was active inside the watermark horizon), so
            # per-user keying divides the key count by exactly that
            # factor. Admission decisions are unchanged: each window's
            # counter, its cap, its (ts NULLS FIRST, event_id) intake
            # order and its eviction boundary are identical.
            ts_i = batch["ts"].to_numpy(dtype="datetime64[ns]").view("int64")
            eid = batch["event_id"].to_numpy()
            wcol = batch["win_start"]
            mask = np.zeros(n, dtype=bool)
            # iterate the batch's distinct windows (few per user)
            wvals = wcol.to_numpy(dtype=object)
            for w in pd.unique(wcol):
                wkey = None if pd.isna(w) else int(w)
                idx = np.flatnonzero(
                    pd.isna(wvals) if wkey is None else (wvals == w)
                )
                used = open_w.get(wkey, 0)
                take = max(0, min(cap - used, len(idx)))
                if take >= len(idx):
                    mask[idx] = True
                elif take > 0:
                    sub = idx[np.lexsort((eid[idx], ts_i[idx]))]
                    mask[sub[:take]] = True
                open_w[wkey] = used + take
            batch["is_admitted"] = mask
            yield batch
        wins, counts = _purge(list(open_w.keys()), list(open_w.values()), wm_ms)
        if wins:
            state.update((wins, counts))
            _arm(state, wins, wm_ms)
        else:
            state.remove()

    return update


def with_rate_limit(
    df: DataFrame, cap: int, win_s: int, key_col: str = "user_id"
) -> DataFrame:
    """Windowed admission control as a STREAM: at most ``cap`` events
    per (``key_col``, event-time window of ``win_s`` seconds) pass with
    ``is_admitted = true``; the rest are flagged rejected — the
    ingest-side rate limiter / quota gate a multi-tenant pipeline runs
    before expensive downstream stages. Requires a ``win_start``
    column (epoch seconds, win_s-aligned) and a watermark on ``ts``.
    State is one (window -> counter) map per active key — each entry an
    8-byte pair, windows EVICTED when the watermark passes their end
    (the key's event-time timeout chains along its open windows'
    min end) — so state mass is |open (key, window) pairs| exactly as
    before, while the pandas-state GROUPING key is the key alone:
    applyInPandasWithState pays ~1 ms of framework overhead per KEY per
    batch, and (key, window) keying multiplied that by the number of
    windows (40k keys / 37.5 s at sf0.1 vs 1.5k keys / ~3 s re-keyed —
    r13 opt round; admission decisions byte-identical, pinned by
    test_rate_limit_carries_across_batches_and_windows).
    Output schema = input + ``is_admitted: boolean``."""
    out_fields = [T.StructField(f.name, f.dataType) for f in df.schema.fields] + [
        T.StructField("is_admitted", T.BooleanType())
    ]
    return df.groupBy(key_col).applyInPandasWithState(
        _rate_limit_fn(cap, win_s),
        outputStructType=T.StructType(out_fields),
        stateStructType=RATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
