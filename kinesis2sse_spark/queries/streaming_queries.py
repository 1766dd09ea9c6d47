"""Streaming operators as oracle-checkable queries: each runs a real
Structured Streaming job (file source → transform → memory sink) to
completion and returns the materialized result. With the fixture's
single-file input there is exactly one micro-batch, so event-time
results are deterministic and most of these CAN be oracle-checked;
multi-batch arrival, late-data drops, and state carry-over are
exercised in tests/test_streaming.py where arrival order is controlled.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis2sse_spark.catalog import scratch_cache, scratch_fresh
from kinesis2sse_spark.registry import register
from kinesis2sse_spark.streaming.source import events_stream, run_to_memory


def _qname(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def _latest_per_key(out: DataFrame, keys: list[str], cols: list[str]) -> DataFrame:
    """Sink-side snapshot assembly for UPDATE-mode window aggregates: the
    memory sink accumulates one row per (key, emission), and within a
    key's emission chain the count column `n` strictly grows (an
    aggregate re-emits only when new rows landed in it), so max_by on n
    keeps exactly the final value per key. This is the compacted-topic
    read the update-mode sink contract implies — the same idiom
    streaming_changelog_compaction and streaming_keyed_running_stats
    already use. Complete mode would hand back the snapshot for free but
    never evicts window state and re-emits the whole result table every
    trigger (unbounded on a long-running stream); update mode evicts at
    the watermark and emits only changed rows, and this O(|emissions|)
    sink-side fold restores the snapshot."""
    return out.groupBy(*keys).agg(
        F.max_by(F.struct(*cols), F.col("n")).alias("__s")
    ).select(*keys, *[F.col(f"__s.{c}").alias(c) for c in cols])


@register(
    "streaming_tumbling_window",
    bench=True,
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate with a watermark — the
    streaming rollup the reference never had (it only indexes). Partial
    aggregation is incremental per micro-batch; UPDATE-mode emission
    means window state really is evicted once the watermark passes a
    window's end (proved by the state-row count across triggers in
    tests/test_streaming.py::test_update_mode_evicts_window_state) and
    each trigger emits only the windows it changed — append would hold
    back the tail windows of a finite input, and complete mode would
    keep every window in state forever and re-emit the full table each
    trigger. The sink-side max_by fold compacts the emission log into
    the final snapshot."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )
    out = run_to_memory(
        agg.select(
            F.col("window.start").alias("window_start"), "event_type", "n", "total_value"
        ),
        _qname("tumbling"),
        output_mode="update",
        # state partitions sized to windowed-key cardinality, not cores
        shuffle_partitions=4,
        # update-mode eviction is silent and every emission happens on a
        # data batch, so the trailing no-data batch is pure checkpoint
        # cost (~30% of a short run) — see run_to_memory
        no_data_batches=False,
    )
    return _latest_per_key(
        out, ["window_start", "event_type"], ["n", "total_value"]
    ).select("window_start", "event_type", "n", "total_value")


@register(
    "streaming_sliding_window",
    oracle="""
    SELECT window_start, event_type, count(*) AS n
    FROM (
      SELECT time_bucket(INTERVAL '5 minutes', ts) - k.k * INTERVAL '5 minutes' AS window_start,
             event_type
      FROM events, LATERAL (SELECT unnest(range(0, 3)) AS k) k
    )
    GROUP BY window_start, event_type
    """,
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (15 min window, 5 min slide): every event lands in 3
    overlapping windows. The oracle replays the window-assignment rule
    relationally (event × 3 window starts). Update-mode emission +
    sink-side max_by compaction: state evicts at the watermark, each
    trigger emits only changed windows (see _latest_per_key)."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = s.groupBy(F.window("ts", "15 minutes", "5 minutes"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = run_to_memory(
        agg.select(F.col("window.start").alias("window_start"), "event_type", "n"),
        _qname("sliding"),
        output_mode="update",
        shuffle_partitions=4,
        no_data_batches=False,  # output-invariant: see tumbling
    )
    return _latest_per_key(out, ["window_start", "event_type"], ["n"])


@register(
    "streaming_session_window",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ), s AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user. Spark merges events into
    sessions incrementally in state; the oracle reconstructs identical
    sessions with the lag/cumsum idiom (session end = last event + gap).

    Update-mode emission via the custom applyInPandasWithState
    sessionizer (streaming/state.py::with_session_windows — Spark's
    built-in session_window aggregate rejects update mode, and complete
    mode would hold users × sessions — corpus-scale — in state forever):
    state per key is the open sessions only, evicted once the watermark
    passes a session's end (data-batch purge + event-time timeout for
    idle keys; proved by the state-row count across triggers in
    tests/test_streaming.py). Because a session's KEY (its window
    bounds) moves as it merges/extends, the sink-side compaction is
    supersession by OVERLAP, not key equality: an emission is stale iff
    a later emission for the same user overlaps it with strictly more
    events (a session only re-emits when it gained events, so n_events
    strictly grows along a supersession chain; final sessions of one
    user never overlap — next start is past last end by construction of
    the gap). The supersession anti-join runs on the emission log,
    whose size is output-scale, and shuffles both sides once on
    user_id."""
    from kinesis2sse_spark.streaming.state import with_session_windows

    s = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    out = run_to_memory(
        with_session_windows(s.select("user_id", "ts")),
        _qname("session"),
        output_mode="update",
        shuffle_partitions=8,
        # the sessionizer emits only on data batches (timeout = purge),
        # so the trailing no-data batch is output-invariant
        no_data_batches=False,
    )
    return supersede_sessions(out)


def supersede_sessions(out: DataFrame) -> DataFrame:
    """Sink-side snapshot assembly for the update-mode sessionizer's
    emission log: keep an emitted session unless a LATER emission for
    the same user strictly overlaps it with more events — the merged/
    extended session's interval always contains its constituents', and
    n_events strictly grows along a supersession chain, while distinct
    final sessions of one user never overlap (next start is past last
    end + gap). One self-join on user_id over the output-scale emission
    log."""
    later = out.select(
        F.col("user_id").alias("b_user"),
        F.col("session_start").alias("b_start"),
        F.col("session_end").alias("b_end"),
        F.col("n_events").alias("b_n"),
    )
    return out.join(
        later,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("session_start") < F.col("b_end"))
        & (F.col("b_start") < F.col("session_end"))
        & (F.col("b_n") > F.col("n_events")),
        "left_anti",
    )


@register(
    "streaming_dedup",
    oracle="""
    SELECT user_id, event_type, count(*) AS n
    FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
    GROUP BY user_id, event_type
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type, ts) — exact-once
    delivery repair. State holds one entry per distinct key; in
    production pair with dropDuplicatesWithinWatermark to bound it."""
    s = events_stream(spark, sf_dir)
    dedup = s.dropDuplicates(["user_id", "event_type", "ts"])
    agg_input = run_to_memory(
        dedup.select("user_id", "event_type", "ts"), _qname("dedup"), "append",
        shuffle_partitions=8,
    )
    return agg_input.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))


@register(
    "streaming_stateful_offsets",
    oracle="""
    SELECT event_id,
           CAST(row_number() OVER (ORDER BY event_id) - 1 AS BIGINT) AS offset
    FROM events
    """,
)
def streaming_stateful_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 in streaming: contiguous offsets across micro-batches via
    single-key applyInPandasWithState (the reference's route mutex,
    record_processor.go:58). Single-batch input ⇒ offsets ≡ event_id
    order, which the oracle checks exactly; multi-batch carry-over is
    covered in test_streaming.py."""
    from kinesis2sse_spark.streaming.state import with_streaming_offsets

    s = events_stream(spark, sf_dir).select("event_id")
    out = run_to_memory(
        with_streaming_offsets(s), _qname("offsets"), "append", shuffle_partitions=8
    )
    return out.select("event_id", "offset")


@register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT s.user_id,
           s.event_id AS signup_event_id,
           p.event_id AS purchase_event_id,
           round(p.value, 2) AS purchase_value
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 2 HOURS
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases within 2 hours after a
    signup by the same user. Both sides carry watermarks; the time-range
    condition bounds each side's join state so it evicts as the watermark
    advances — the only way a stream-stream join survives unbounded input."""
    signups = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "4 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("p_ts"),
            F.col("value"),
        )
        .withWatermark("p_ts", "4 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    return run_to_memory(
        joined.select(
            F.col("s_user").alias("user_id"),
            "signup_event_id",
            "purchase_event_id",
            F.round("value", 2).alias("purchase_value"),
        ),
        _qname("ssj"),
        "append",
        shuffle_partitions=8,
    )


@register(
    "streaming_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n, round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: streaming events enriched against the static
    customer dim, then aggregated. The dim is unhinted — customer
    grows linearly with scale, so the micro-batch planner chooses
    broadcast at fixture scale (file stats) and an equi-key join
    beyond the threshold."""
    from kinesis2sse_spark.catalog import load_table

    s = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # no forced hint: customer grows linearly with scale (census
    # class 3) — the per-micro-batch planner broadcasts it from file
    # stats at fixture scale and falls back to an equi-key join when
    # the dim outgrows the threshold
    joined = s.join(dim, s.user_id == dim.c_custkey)
    enriched = run_to_memory(
        joined.select("c_mktsegment", "value"), _qname("ssjoin"), "append"
    )
    return enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )


@register(
    "streaming_keyed_running_stats",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def streaming_keyed_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running (count, sum) via MULTI-key applyInPandasWithState
    — state shards by user_id across executors (unlike the route-mutex
    offset counter's single key), so this is the shape long-lived
    per-entity state takes at scale: 16 bytes per key, no per-event
    retention. The memory sink sees every per-batch update row; the
    LATEST row per key (max n_events) is the final state, which must
    equal the batch groupBy exactly — that equivalence is the oracle.
    Cross-batch accumulation and per-batch emission cadence are
    pytest-covered (test_keyed_running_stats_accumulate_across_batches).
    """
    from pyspark.sql.window import Window

    from kinesis2sse_spark.streaming.state import with_keyed_running_stats

    s = events_stream(spark, sf_dir).select("user_id", "value")
    out = run_to_memory(
        with_keyed_running_stats(s, "user_id", "value"),
        _qname("keyed_stats"),
        output_mode="update",
        shuffle_partitions=8,
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id", "n_events", F.round("total_value", 2).alias("total_value")
        )
    )


@register(
    "streaming_archive_parquet",
    oracle="""
    SELECT event_id, event_type, round(value, 2) AS value
    FROM events
    """,
)
def streaming_archive_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming archive sink roundtrip: stream → date-partitioned
    parquet lake (file-sink transaction log = exactly-once) → batch
    read-back must be the identity on the archived columns. The durable
    record the reference lacks (memlog evicts at capacity); at 100 TB
    this lake, not the stream, is what every batch query scans — so the
    read-back stays lazy (no driver materialization); the lake is
    staged in a scratch directory emptied per call. Restart/no-replay
    semantics are pytest-covered
    (test_archive_sink_exactly_once_across_restart)."""
    from kinesis2sse_spark.streaming.archive import archive_stream

    s = events_stream(spark, sf_dir).select("event_id", "event_type", "ts", "value")
    root = scratch_fresh("archive", sf_dir)
    q = archive_stream(
        s, f"{root}/lake", f"{root}/ckpt", query_name=_qname("archive")
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    # explicit schema on the read-back: a zero-event stream commits no
    # part files, and schema inference over the bare lake dir throws —
    # an archive must round-trip the empty stream too
    archived = s.withColumn("event_date", F.to_date("ts")).schema
    return spark.read.schema(archived).parquet(f"{root}/lake").select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )


@register(
    "pipeline_lake_compaction",
    oracle="""
    SELECT event_id, event_type, round(value, 2) AS value
    FROM events
    """,
)
def pipeline_lake_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction of a retired streaming lake: archive the
    stream (one file per task per epoch), compact to size-targeted
    files (maintenance.py::compact_lake — log-committed read, dynamic
    partition overwrite, sink-log retirement), and the compacted lake
    must still read back as the identity. File-count reduction and
    untouched-partition preservation are pytest-covered
    (test_compact_lake_reduces_files_preserves_rows)."""
    from kinesis2sse_spark.maintenance import compact_lake
    from kinesis2sse_spark.streaming.archive import archive_stream

    s = events_stream(spark, sf_dir).select("event_id", "event_type", "ts", "value")
    root = scratch_fresh("compact", sf_dir)
    q = archive_stream(
        s, f"{root}/lake", f"{root}/ckpt", query_name=_qname("compact_src")
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    archived = s.withColumn("event_date", F.to_date("ts")).schema
    return compact_lake(spark, f"{root}/lake", schema=archived).select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )


from kinesis2sse_spark.queries.timeseries import (  # noqa: E402
    ANOMALY_ZSCORE_ORACLE,
    zscore_anomalies,
)


@register("streaming_anomaly_alert", oracle=ANOMALY_ZSCORE_ORACLE)
def streaming_anomaly_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online anomaly alerting — the model-broadcast scoring shape: a
    per-type stats model is fit BATCH-side, broadcast onto the live
    stream as a stream-static join, and each event is scored and
    filtered in-flight with NO streaming state at all. This is how
    online inference runs at 100 TB/day: the model is a broadcast
    variable refreshed between restarts, the stream never shuffles and
    never blocks, and alert latency is the micro-batch floor. Scoring
    math AND oracle are shared verbatim with timeseries_anomaly_zscore
    (one helper, one SQL constant), so batch and streaming replay the
    identical computation by construction."""
    from kinesis2sse_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    scored = zscore_anomalies(ev, events_stream(spark, sf_dir))
    return run_to_memory(scored, _qname("alert"), "append")


from kinesis2sse_spark.queries.lakeops import _PIT_ORACLE  # noqa: E402


@register("streaming_pit_enrich", oracle=_PIT_ORACLE)
def streaming_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature enrichment ON THE STREAM — the feature-
    store online path: the SCD2 dimension (purchase-value history,
    built batch-side exactly as pipeline_scd2_intervals does) joins
    onto the live view stream as a stream-static join whose condition
    is user_id equality plus the interval containment
    valid_from <= ts < valid_to, so every in-flight event picks the
    feature version that was current AT ITS OWN timestamp — never a
    later leak, the PIT correctness property training/serving skew
    audits demand. Zero streaming state; per-event latency is the
    micro-batch floor. The dim carries no forced hint (it grows with
    users × versions — census class 3): the equi component keys the
    join, so the planner broadcasts at fixture scale and shuffles on
    user_id at scale, the containment riding as a residual either
    way. The oracle is the SAME declarative SQL as the batch
    join_scd2_point_in_time — stream and batch provably produce
    identical enrichment."""
    from pyspark.sql import Window

    from kinesis2sse_spark.catalog import load_table
    from kinesis2sse_spark.queries.lakeops import scd2_versions

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = scd2_versions(e).select(
        F.col("user_id").alias("d_user"),
        "dim_value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    s = events_stream(spark, sf_dir).where(F.col("event_type") == "view")
    # no forced hint: the SCD2 history grows with users x versions
    # (corpus-derived, census class 3). The join keeps an equi
    # component on user_id, so the per-micro-batch planner can pick
    # broadcast at fixture scale or a user_id-keyed join at scale —
    # the interval containment rides as a residual either way.
    joined = s.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    ).select("event_id", "user_id", "ts", "dim_value")
    return run_to_memory(joined, _qname("pit"), "append")


@register(
    "streaming_stream_stream_left_outer",
    oracle="""
    WITH wm AS (
      SELECT least((SELECT max(ts) FROM events WHERE event_type = 'signup'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 4 HOURS AS w
    ),
    matched AS (
      SELECT s.user_id,
             s.event_id AS signup_event_id,
             p.event_id AS purchase_event_id,
             round(p.value, 2) AS purchase_value
      FROM events s JOIN events p
        ON s.user_id = p.user_id
       AND s.event_type = 'signup' AND p.event_type = 'purchase'
       AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 2 HOURS
    )
    SELECT * FROM matched
    UNION ALL
    SELECT s.user_id, s.event_id AS signup_event_id,
           CAST(NULL AS BIGINT) AS purchase_event_id,
           CAST(NULL AS DOUBLE) AS purchase_value
    FROM events s CROSS JOIN wm
    WHERE s.event_type = 'signup'
      AND s.ts + INTERVAL 2 HOURS < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM matched m WHERE m.signup_event_id = s.event_id
      )
    """,
)
def streaming_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the conversion-funnel
    shape "every signup, with its purchase if one came within 2 hours":
    matched pairs emit immediately, but an UNMATCHED signup can only
    emit its null row once the watermark proves no purchase can still
    arrive for it (s_ts + 2h < watermark). That expiry-driven null
    emission is a genuinely different semantic class from the inner
    join: state must hold every unmatched left row until the global
    watermark — min across BOTH inputs' (max event time − 4h) — passes
    its match horizon, and Spark emits the nulls in the no-data batch
    that advances the watermark. The oracle replays exactly that rule:
    matched pairs, plus unmatched signups whose horizon expired; late
    signups (within 4h+2h of stream end) stay in state and are
    correctly ABSENT from both sides. Same bounded-state story as the
    inner join at 100 TB: the time-range condition lets both sides
    evict as the watermark advances."""
    signups = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "4 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("p_ts"),
            F.col("value"),
        )
        .withWatermark("p_ts", "4 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
        "leftOuter",
    )
    return run_to_memory(
        joined.select(
            F.col("s_user").alias("user_id"),
            "signup_event_id",
            "purchase_event_id",
            F.round("value", 2).alias("purchase_value"),
        ),
        _qname("ssj_lo"),
        "append",
        shuffle_partitions=8,
    )


def _ssj_streams(spark: SparkSession, sf_dir: str):
    """The signup/purchase watermarked stream pair shared by every
    stream-stream outer-join variant — one definition so the interval
    condition and watermark delay cannot drift between them."""
    signups = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "4 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("p_ts"),
            F.col("value"),
        )
        .withWatermark("p_ts", "4 hours")
    )
    cond = (
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS"))
    )
    return signups, purchases, cond


# Watermark-expiry oracle pieces shared by the RIGHT/FULL outer variants:
# wm = global watermark at end of input = min over inputs of max(ts) - 4h.
# A left (signup) row's null emission needs its whole match horizon past:
# s_ts + 2h < wm — STRICT (probed: a signup whose horizon equals the
# watermark exactly stays in state and emits nothing). A right (purchase)
# row matches only EARLIER signups (s_ts < p_ts), so its horizon is its
# own timestamp and the boundary is NON-STRICT: p_ts <= wm emits (probed:
# a purchase exactly AT the watermark nulls out in that same batch —
# Spark's interval-derived state watermarks carry a ±1 ms asymmetry
# between the two sides, so never assume the boundaries mirror).
_SSJ_ORACLE_WM = """
    wm AS (
      SELECT least((SELECT max(ts) FROM events WHERE event_type = 'signup'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 4 HOURS AS w
    ),
    matched AS (
      SELECT s.user_id,
             s.event_id AS signup_event_id,
             p.event_id AS purchase_event_id,
             round(p.value, 2) AS purchase_value
      FROM events s JOIN events p
        ON s.user_id = p.user_id
       AND s.event_type = 'signup' AND p.event_type = 'purchase'
       AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 2 HOURS
    ),
    unmatched_right AS (
      SELECT p.user_id,
             CAST(NULL AS BIGINT) AS signup_event_id,
             p.event_id AS purchase_event_id,
             round(p.value, 2) AS purchase_value
      FROM events p CROSS JOIN wm
      WHERE p.event_type = 'purchase'
        AND p.ts <= wm.w
        AND NOT EXISTS (
          SELECT 1 FROM matched m WHERE m.purchase_event_id = p.event_id
        )
    ),
    unmatched_left AS (
      SELECT s.user_id,
             s.event_id AS signup_event_id,
             CAST(NULL AS BIGINT) AS purchase_event_id,
             CAST(NULL AS DOUBLE) AS purchase_value
      FROM events s CROSS JOIN wm
      WHERE s.event_type = 'signup'
        AND s.ts + INTERVAL 2 HOURS < wm.w
        AND NOT EXISTS (
          SELECT 1 FROM matched m WHERE m.signup_event_id = s.event_id
        )
    )
"""


@register(
    "streaming_stream_stream_right_outer",
    oracle=f"""
    WITH {_SSJ_ORACLE_WM}
    SELECT * FROM matched
    UNION ALL
    SELECT * FROM unmatched_right
    """,
)
def streaming_stream_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER stream-stream interval join — "every purchase, with
    its signup if one preceded it by at most 2 hours": matched pairs
    emit immediately; an unmatched purchase emits its null row once the
    watermark proves no matching signup can still arrive. Because the
    condition only admits EARLIER signups (s_ts < p_ts), a purchase's
    expiry horizon is its own timestamp — it nulls out when p_ts <= wm
    (non-strict, unlike the left side's strict horizon — both probed),
    with wm = min across both inputs of (max event time − 4h). The
    oracle replays that rule: matched pairs plus unmatched purchases
    past the watermark; purchases within 4h of stream end stay in state
    and are correctly absent. Bounded state at 100 TB/day exactly as
    the left-outer variant: both sides evict as the watermark advances,
    and the join itself shuffles each side once on user_id."""
    signups, purchases, cond = _ssj_streams(spark, sf_dir)
    joined = signups.join(purchases, cond, "rightOuter")
    return run_to_memory(
        joined.select(
            F.col("p_user").alias("user_id"),
            "signup_event_id",
            "purchase_event_id",
            F.round("value", 2).alias("purchase_value"),
        ),
        _qname("ssj_ro"),
        "append",
        shuffle_partitions=8,
    )


@register(
    "streaming_stream_stream_full_outer",
    oracle=f"""
    WITH {_SSJ_ORACLE_WM}
    SELECT * FROM matched
    UNION ALL
    SELECT * FROM unmatched_left
    UNION ALL
    SELECT * FROM unmatched_right
    """,
)
def streaming_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — the union of both outer
    semantics in one pass: matched pairs emit immediately; unmatched
    signups null out when the watermark strictly passes their 2-hour
    match horizon (s_ts + 2h < wm); unmatched purchases null out when
    it reaches their own timestamp (p_ts <= wm — earlier-signups-only
    condition; the boundary asymmetry is Spark's, probed empirically).
    The user_id survives from whichever side is non-null.
    State and eviction are identical to the single-sided variants —
    full outer costs nothing extra at 100 TB beyond emitting both
    expiry streams, because the state rows were already held for the
    match attempt."""
    signups, purchases, cond = _ssj_streams(spark, sf_dir)
    joined = signups.join(purchases, cond, "fullOuter")
    return run_to_memory(
        joined.select(
            F.coalesce(F.col("s_user"), F.col("p_user")).alias("user_id"),
            "signup_event_id",
            "purchase_event_id",
            F.round("value", 2).alias("purchase_value"),
        ),
        _qname("ssj_fo"),
        "append",
        shuffle_partitions=8,
    )


from kinesis2sse_spark.streaming.dedup import (  # noqa: E402
    DEDUP_BITS,
    DEDUP_HORIZON_S,
    DEDUP_TABLES,
    dedup_weights,
    streaming_near_dedup,
)
from kinesis2sse_spark.streaming.source import embeddings_stream  # noqa: E402


def _streaming_dedup_oracle() -> str:
    """Batch replay of the streaming near-dedup, generated from the SAME
    Python-precomputed weight table the Spark plan inlines (registry
    ladder: fixed lookup tables as literals in both engines). Entirely
    integer arithmetic — quantized vectors, integer projection signs,
    and the squared-threshold cosine test in HUGEINT — so the replay is
    exact, not approximate."""
    W = dedup_weights()

    def bucket_expr(t: int) -> str:
        terms = []
        for p in range(DEDUP_BITS):
            wl = "[" + ", ".join(str(x) for x in W[t][p]) + "]"
            proj = (
                "list_reduce(list_prepend(CAST(0 AS BIGINT), "
                f"list_transform(list_zip(iq, {wl}), z -> z[1] * z[2])), "
                "(a, b) -> a + b)"
            )
            terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
        return " + ".join(terms)

    case = " ".join(
        f"WHEN {t} THEN {bucket_expr(t)}" for t in range(DEDUP_TABLES)
    )
    return f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS iq
      FROM embeddings
    ), based AS (
      SELECT vec_id, iq,
             list_reduce(list_transform(iq, x -> x * x), (a, b) -> a + b) AS n2
      FROM base
    ), bucketed AS (
      SELECT vec_id, tt.t, CASE tt.t {case} END AS bucket
      FROM based, LATERAL (SELECT unnest(range(0, {DEDUP_TABLES})) AS t) tt
    ), cand AS (
      SELECT DISTINCT x.vec_id AS xa, y.vec_id AS xb
      FROM bucketed x JOIN bucketed y
        ON x.t = y.t AND x.bucket = y.bucket
       AND y.vec_id < x.vec_id
       AND x.vec_id - y.vec_id <= {DEDUP_HORIZON_S}
    ), scored AS (
      SELECT c.xa, c.xb,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(a.iq, b.iq), z -> z[1] * z[2])),
               (u, v) -> u + v) AS dot,
             a.n2 AS n2a, b.n2 AS n2b
      FROM cand c
      JOIN based a ON a.vec_id = c.xa
      JOIN based b ON b.vec_id = c.xb
    ), matches AS (
      SELECT xa AS vid, min(xb) AS dup_of
      FROM scored
      WHERE dot > 0
        AND 25 * CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT)
            >= 4 * CAST(n2a AS HUGEINT) * CAST(n2b AS HUGEINT)
      GROUP BY xa
    )
    SELECT e.vec_id, m.dup_of, m.dup_of IS NOT NULL AS is_dup
    FROM embeddings e LEFT JOIN matches m ON m.vid = e.vec_id
    ORDER BY e.vec_id
    """


@register("streaming_dedup_embedding", oracle=_streaming_dedup_oracle())
def streaming_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding near-dedup: every arriving vector probes the
    recent corpus (LSH-banded state, event-time horizon) and is tagged
    with the smallest earlier near-duplicate — the per-ingest twin of
    the batch SemDeDup/LSH rungs and of dedup_incremental_probe (whose
    batch-vs-batch shape this extends to continuous arrival). Bucketing
    runs as one int64 matmul per Arrow batch; the stateful probe keys
    on coarse (table, bucket mod DEDUP_COARSE) groups with exact-bucket
    matching inside (kinesis2sse_spark/streaming/dedup.py — bounded
    keyspace AND horizon-evicted members, see module docstring). The
    single-file fixture yields one micro-batch, so the event-time
    replay is deterministic and the integer-exact batch oracle checks
    every verdict byte; multi-batch state carry-over and horizon expiry
    are pinned in tests/test_streaming.py with controlled arrival."""
    s = embeddings_stream(spark, sf_dir).select("vec_id", "embedding", "ts")
    probed = streaming_near_dedup(s)
    # 32 state partitions, not 8: the probe's per-key work is a Python
    # batch (matmul + exact verify), so with ~505 live buckets the 8-way
    # layout starved the cores (addBatch 6.2 s; 32-way measured in
    # OPTIMIZATION_r13.md). Store-per-batch overhead argument (the r12
    # tumbling finding) applies to cheap JVM window aggs, not here.
    out = run_to_memory(
        probed,
        _qname("nddedup"),
        "append",
        shuffle_partitions=32,
        # emits only on data batches (NoTimeout; horizon eviction drops
        # state silently) -> the trailing no-data batch is output-
        # invariant and skipping it saves one store checkpoint cycle
        no_data_batches=False,
    )
    return (
        out.groupBy("vec_id")
        .agg(F.min("match_id").alias("dup_of"))
        .select("vec_id", "dup_of", F.col("dup_of").isNotNull().alias("is_dup"))
        .orderBy("vec_id")
    )


from kinesis2sse_spark.streaming.dedup import (  # noqa: E402
    MINHASH_BANDS,
    MINHASH_HORIZON_S,
    MINHASH_P,
    MINHASH_ROWS,
    MINHASH_SHINGLE,
    minhash_perms,
    streaming_minhash_dedup,
)
from kinesis2sse_spark.streaming.source import documents_stream  # noqa: E402


def _streaming_minhash_oracle() -> str:
    """Batch replay of the streaming MinHash dedup — entirely integer
    (char-rolling shingle hashes, literal-coefficient universal-hash
    permutations, band-equality match rule), so the replay is exact.
    Generated from the SAME minhash_perms() table the Spark plan
    inlines."""
    perms = minhash_perms()
    sh = MINHASH_SHINGLE
    # two-level shingle hash, mirroring with_minhash_bands exactly:
    # per-token char-rolling hash, then combine sh token hashes
    shingle_combine = "th[i]"
    for j in range(1, sh):
        shingle_combine = (
            f"(({shingle_combine}) * 8191 + th[i + {j}]) % {MINHASH_P}"
        )
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {MINHASH_P}))"
        for a, b in perms
    )
    band_sig = " ".join(
        "WHEN {b} THEN concat_ws('-', {parts})".format(
            b=b,
            parts=", ".join(
                f"CAST(sig[{b * MINHASH_ROWS + r + 1}] AS VARCHAR)"
                for r in range(MINHASH_ROWS)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), tokh AS (
      SELECT doc_id,
             list_transform(w, s ->
               list_reduce(
                 list_prepend(CAST(7 AS BIGINT),
                   list_transform(string_split_regex(s, ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
                 (h, c) -> (h * 31 + c) % {MINHASH_P})) AS th
      FROM toks
    ), hashed AS (
      SELECT doc_id,
             CASE WHEN len(th) >= {sh}
                  THEN list_transform(range(1, len(th) - {sh - 2}),
                                      i -> {shingle_combine})
                  ELSE [] END AS hs
      FROM tokh
    ), sigs AS (
      SELECT doc_id, [{sig_exprs}] AS sig
      FROM hashed WHERE len(hs) > 0
    ), banded AS (
      SELECT doc_id, bb.b AS band, CASE bb.b {band_sig} END AS bsig
      FROM sigs, LATERAL (SELECT unnest(range(0, {MINHASH_BANDS})) AS b) bb
    ), matches AS (
      SELECT x.doc_id AS did, min(y.doc_id) AS dup_of
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bsig = y.bsig
       AND y.doc_id < x.doc_id
       AND x.doc_id - y.doc_id <= {MINHASH_HORIZON_S}
      GROUP BY x.doc_id
    )
    SELECT d.doc_id, m.dup_of, m.dup_of IS NOT NULL AS is_dup
    FROM documents d LEFT JOIN matches m ON m.did = d.doc_id
    ORDER BY d.doc_id
    """


@register("streaming_dedup_minhash", oracle=_streaming_minhash_oracle())
def streaming_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash near-dedup over the documents stream — the
    token-shingle twin of streaming_dedup_embedding, and the
    ORACLE-BACKED sibling of the rows-only batch dedup_minhash_lsh
    (whose xxhash64 buckets DuckDB cannot replay; here every hash is
    literal-coefficient integer arithmetic both engines evaluate
    identically). Signature pipeline runs JVM-side; the per-(band,
    signature) probe holds only (doc_id, ts) pairs in horizon-evicted
    state — state mass is the duplicate mass inside the window, not the
    corpus. Verdict = smallest earlier doc sharing a full band within
    the horizon (estimated-Jaccard drop rule; exact pair verification
    remains the batch rung's job). Single-file fixture → one
    micro-batch → the integer-exact batch oracle checks every byte;
    multi-batch carry-over/expiry share the machinery pinned in
    tests/test_streaming.py."""
    s = documents_stream(spark, sf_dir).select("doc_id", "text", "ts")
    probed = streaming_minhash_dedup(s)
    # 32 state partitions for the same reason as streaming_dedup_embedding
    out = run_to_memory(
        probed,
        _qname("mhdedup"),
        "append",
        shuffle_partitions=32,
        no_data_batches=False,
    )
    return (
        out.groupBy("doc_id")
        .agg(F.min("match_id").alias("dup_of"))
        .select("doc_id", "dup_of", F.col("dup_of").isNotNull().alias("is_dup"))
        .orderBy("doc_id")
    )


STREAM_TOPK_PER_WINDOW = 2


@register(
    "streaming_topk_per_window",
    oracle=f"""
    WITH counts AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY n DESC, event_type) AS rn
      FROM counts
    ) WHERE rn <= {STREAM_TOPK_PER_WINDOW}
    """,
)
def streaming_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k per event-time window: the windowed counts
    aggregate incrementally in the stream (watermarked, bounded
    state); the per-window rank runs on each EMITTED result set —
    Structured Streaming forbids window functions over a streaming
    aggregate, so production ranks in the sink (foreachBatch) on the
    per-emit snapshot, exactly what this does on the memory-sink
    materialization. State stays bounded by the WATERMARK HORIZON, not
    |windows| over the stream's lifetime: update-mode emission evicts a
    window's state row once the watermark passes its end, and the
    sink-side max_by fold (see _latest_per_key) compacts the emission
    log into the snapshot the rank runs on. Spark's window() aggregate
    silently drops null-timestamp rows; the oracle filters them
    explicitly so the semantics stay pinned symmetrically."""
    s = (
        events_stream(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .withWatermark("ts", "1 hour")
    )
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = run_to_memory(
        agg.select(F.col("window.start").alias("window_start"), "event_type", "n"),
        _qname("topkwin"),
        output_mode="update",
        shuffle_partitions=4,
        no_data_batches=False,  # output-invariant: see tumbling
    )
    snapshot = _latest_per_key(out, ["window_start", "event_type"], ["n"])
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        snapshot.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= STREAM_TOPK_PER_WINDOW)
    )


@register(
    "streaming_quantile_histogram",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket,
             count(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bucket, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bucket)
                  AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM h
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum * 100 >= 50 * n THEN bucket END) AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum * 100 >= 90 * n THEN bucket END) AS BIGINT) AS p90,
           CAST(min(CASE WHEN cum * 100 >= 99 * n THEN bucket END) AS BIGINT) AS p99
    FROM cum GROUP BY event_type
    """,
)
def streaming_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming percentile monitoring — the fixed-histogram shape that
    makes quantiles incremental: the stream aggregates per-(type,
    value-bucket) counts in update mode (state is the histogram itself
    — |types| x |buckets| rows, bounded by the VALUE DOMAIN, not the
    stream; unit-width integer buckets here, the resolution being the
    operator's documented contract), and the nearest-rank percentile
    read (min bucket whose cumulative count reaches ceil(q*n), pure
    integer: cum*100 >= q*n) runs sink-side on the compacted snapshot
    per emission — exactly how a production latency/size monitor
    publishes p50/p90/p99 without ever sorting the stream. Counts only
    grow, so the max_by fold (see _latest_per_key) restores the final
    histogram; the single-file fixture's one batch makes the batch
    replay exact."""
    s = events_stream(spark, sf_dir).where(F.col("value").isNotNull())
    agg = s.groupBy(
        "event_type", F.floor("value").cast("bigint").alias("bucket")
    ).agg(F.count("*").alias("n"))
    out = run_to_memory(
        agg, _qname("qhist"), output_mode="update", shuffle_partitions=8
    )
    hist = _latest_per_key(out, ["event_type", "bucket"], ["n"]).select(
        "event_type", "bucket", F.col("n").alias("c")
    )
    from pyspark.sql import Window

    wc = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bucket",
        F.sum("c").over(wc).cast("bigint").alias("cum"),
        F.sum("c").over(wt).cast("bigint").alias("n"),
    )
    pick = lambda q: F.min(  # noqa: E731
        F.when(F.col("cum") * 100 >= q * F.col("n"), F.col("bucket"))
    ).cast("bigint")
    return cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        pick(50).alias("p50"),
        pick(90).alias("p90"),
        pick(99).alias("p99"),
    )


@register(
    "streaming_dedup_session",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM g
    )
    SELECT user_id, event_id, event_type, ts,
           row_number() OVER (PARTITION BY user_id, session_id, event_type
                              ORDER BY ts, event_id) > 1 AS is_dup
    FROM s
    """,
)
def streaming_dedup_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup scoped to SESSION boundaries — the gap the fixed-horizon
    streaming_dedup_* rungs leave open: a repeated event_type within
    the same 30-minute-gap session is the re-crawled page / double-
    fired beacon (flagged), while the same type in a LATER session is a
    legitimate revisit (passes). Composition of the update-mode
    sessionizer's interval state with a per-session seen-set
    (streaming/state.py::with_session_dedup): sessions merge across
    micro-batches, bridge events check the union of bridged sets, and
    closed sessions evict at the watermark (data-batch purge +
    event-time timeout — the suppression window ADAPTS to activity
    instead of a fixed horizon). The single-file fixture is one
    micro-batch processed in (ts, event_id) order, so the lag/cumsum
    batch reconstruction + first-occurrence rule is an exact oracle;
    cross-batch carry-over and seen-set reset across session close are
    pinned in tests/test_streaming.py."""
    from kinesis2sse_spark.streaming.state import with_session_dedup

    s = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    out = run_to_memory(
        with_session_dedup(s.select("user_id", "event_id", "event_type", "ts")),
        _qname("sessdedup"),
        "append",
        shuffle_partitions=8,
    )
    return out.select("user_id", "event_id", "event_type", "ts", "is_dup")


from kinesis2sse_spark.queries.llm_similarity import (  # noqa: E402
    _IVF_APPEND_ORACLE,
)


@register("streaming_ivf_append", oracle=_IVF_APPEND_ORACLE)
def streaming_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF index maintenance — the production shape of
    sim_ivf_index_append: arriving vectors append to the standing
    cell-partitioned index artifact ON INGEST CADENCE via foreachBatch.
    The base index (vec_id < IVF_APPEND_SPLIT) is built batch-side with
    the same machinery as the batch twin; the arrival stream (vec_id >=
    split, filtered source-side) then flows through foreachBatch →
    _ivf_assign(batch, centroids) → partitioned append. Each
    micro-batch scans and shuffles ONLY its own arrivals (the argmax is
    map-side max_by against the broadcast IVF_K centroid table), and
    the append writes pure new files inside existing cell directories —
    the standing index is never rewritten (file-listing-pinned in
    tests/test_streaming.py::test_streaming_ivf_append_never_rewrites).
    Oracle = _IVF_APPEND_ORACLE verbatim: the streaming path must land
    the identical occupancy split as the batch append, byte for byte."""
    import os
    import shutil

    from kinesis2sse_spark.queries.llm_similarity import (
        IVF_APPEND_SPLIT,
        _ivf_assign,
        _ivf_centroids,
        _ivf_occupancy_split,
        _with_norm,
    )

    path = os.path.join(
        scratch_cache("ivf_index", sf_dir, "embeddings") + "_stream", "assigned"
    )
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    from kinesis2sse_spark.catalog import load_table

    corpus = _with_norm(load_table(spark, sf_dir, "embeddings"))
    base = corpus.filter(F.col("vec_id") < IVF_APPEND_SPLIT)
    centroids = _ivf_centroids(base)
    _ivf_assign(base, centroids).write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(path)

    arrivals = embeddings_stream(spark, sf_dir).filter(
        F.col("vec_id") >= IVF_APPEND_SPLIT
    )
    run_ivf_append_stream(arrivals, centroids, path)
    return _ivf_occupancy_split(spark, path)


def run_ivf_append_stream(arrivals: DataFrame, centroids: DataFrame, path: str) -> None:
    """Drive an arrival stream into a cell-partitioned IVF artifact to
    completion: foreachBatch assigns each micro-batch against the FIXED
    broadcast quantizer and appends — new files only, never a rewrite
    of standing index files (the property the file-listing test pins).
    Shared by streaming_ivf_append and its controlled-arrival test."""
    from kinesis2sse_spark.queries.llm_similarity import _ivf_assign, _with_norm

    def append_batch(batch: DataFrame, _batch_id: int) -> None:
        _ivf_assign(_with_norm(batch), centroids).write.partitionBy(
            "cell"
        ).mode("append").parquet(path)

    import os

    ckpt = f"{os.path.dirname(path)}/ckpt"
    q = (
        arrivals.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


@register(
    "streaming_changelog_compaction",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id, value,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op
      FROM events
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_ops,
             sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id) AS n_deletes
      FROM log
    )
    SELECT user_id, op AS last_op, ts AS last_ts, value AS last_value,
           CAST(n_ops AS BIGINT) AS n_ops,
           CAST(n_deletes AS BIGINT) AS n_deletes
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def streaming_changelog_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of pipeline_changelog_compaction: the same
    last-writer-wins compaction computed INCREMENTALLY with
    applyInPandasWithState — per-key state is one op + two counters
    (O(keys) memory, like a compacted Kafka topic), each micro-batch
    emits the refreshed latest-value rows (update mode). The final
    snapshot keeps each key's LAST emission (n_ops only grows, so
    max_by n_ops picks it — identity on the single-batch fixture) and
    drops delete tombstones, matching the batch operator's oracle
    byte-for-byte. Multi-batch carry-over (an earlier batch's winner
    surviving a later batch of older events, tombstone flips) is
    pinned in tests/test_streaming.py with controlled arrival."""
    from kinesis2sse_spark.streaming.state import with_changelog_compaction

    s = events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    out = run_to_memory(
        with_changelog_compaction(s),
        _qname("cdccompact"),
        output_mode="update",
        shuffle_partitions=8,
    )
    last = out.groupBy("user_id").agg(
        F.max_by(
            F.struct("last_op", "last_ts", "last_value", "n_ops", "n_deletes"),
            F.col("n_ops"),
        ).alias("s")
    )
    return last.where(F.col("s.last_op") != "D").select(
        "user_id",
        F.col("s.last_op").alias("last_op"),
        F.col("s.last_ts").alias("last_ts"),
        F.col("s.last_value").alias("last_value"),
        F.col("s.n_ops").alias("n_ops"),
        F.col("s.n_deletes").alias("n_deletes"),
    )


@register(
    "streaming_offsets_per_route",
    oracle="""
    SELECT event_id, event_type,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY event_id)
                - 1 AS BIGINT) AS offset
    FROM events
    """,
)
def streaming_offsets_per_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 generalized to the reference's REAL concurrency model: one
    offset counter per route (event_type standing in for the SSE
    route), each strictly contiguous, carried across micro-batches by
    route-keyed applyInPandasWithState
    (streaming/state.py::with_streaming_offsets_per_route). Unlike the
    single-key streaming_stateful_offsets — whose global counter
    serializes every record through one task, the bottleneck the
    reference accepts per route — this shards state by route, so
    ingest scales with route count while preserving the per-route
    contiguity contract (record_processor.go:58, 90-94). Single-batch
    fixture ⇒ per-route offsets ≡ event_id rank within the route,
    which the oracle checks exactly; cross-batch carry-over per route
    is pinned in tests/test_streaming.py."""
    from kinesis2sse_spark.streaming.state import with_streaming_offsets_per_route

    s = events_stream(spark, sf_dir).select("event_id", "event_type")
    out = run_to_memory(
        with_streaming_offsets_per_route(s),
        _qname("route_offsets"),
        "append",
        shuffle_partitions=8,
    )
    return out.select("event_id", "event_type", "offset")


from kinesis2sse_spark.queries.privacy import PRIV_USER_CAP  # noqa: E402


@register(
    "streaming_contribution_bounding",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_type,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC NULLS FIRST, event_id)
               AS rn
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(sum(CASE WHEN rn <= {PRIV_USER_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounded,
           CAST(sum(CASE WHEN rn <= {PRIV_USER_CAP} THEN v ELSE 0 END)
                AS BIGINT) AS sum_bounded_milli
    FROM r GROUP BY event_type
    """,
)
def streaming_contribution_bounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user contribution bounding applied IN the stream — the
    online form of privacy_contribution_bounding (same keep-first
    rule, same oracle aggregates): a stateful per-user counter flags
    each arriving event kept/dropped before it ever reaches a
    downstream DP aggregate, so the sensitivity bound holds
    continuously instead of per batch job. State = one 8-byte counter
    per user (the reference's per-route offset profile); the
    single-file fixture is one micro-batch processed in
    (ts NULLS FIRST, event_id) order, making the batch window SQL an
    exact oracle; cross-batch carry (a user's cap spans micro-batches)
    is pinned in tests/test_streaming.py.

    PRODUCTION NOTE: bounding alone releases nothing private — the
    user-level DP guarantee only materializes when a downstream
    mechanism adds noise drawn from a cryptographically secure RNG
    (the seeded draws in privacy_dp_histogram/privacy_dp_mean are
    oracle-replay simulations, not production randomness)."""
    from kinesis2sse_spark.streaming.state import with_contribution_cap

    s = events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("v"),
    )
    out = run_to_memory(
        with_contribution_cap(s, PRIV_USER_CAP),
        _qname("contrib"),
        "append",
        shuffle_partitions=8,
    )
    return out.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_raw"),
        F.sum(F.col("is_kept").cast("int")).cast("bigint").alias("n_bounded"),
        F.sum(F.when(F.col("is_kept"), F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("sum_bounded_milli"),
    )


# Per-user daily admission quota: fixture-calibrated so both regimes
# populate at every SF (the event rate is ~2.2 events/user/day
# independent of scale factor, so cap=3 rejects the Poisson tail).
RATE_CAP = 3
RATE_WIN_S = 86_400


@register(
    "streaming_rate_limit",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(epoch_us(ts) // {RATE_WIN_S * 1_000_000} * {RATE_WIN_S}
                AS BIGINT) AS win_start,
           row_number() OVER (
             PARTITION BY user_id, epoch_us(ts) // {RATE_WIN_S * 1_000_000}
             ORDER BY ts ASC NULLS FIRST, event_id) <= {RATE_CAP}
             AS is_admitted
    FROM events
    """,
)
def streaming_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed admission control IN the stream: at most RATE_CAP
    events per (user, event-time day) are admitted, the rest flagged —
    the multi-tenant ingest quota every shared pipeline enforces
    before expensive downstream stages. State = one 8-byte counter per
    open (user, day), evicted by event-time timeout once the watermark
    passes the day boundary (with_rate_limit), so state cardinality is
    |active users per day|, never stream length. The single-file
    fixture is one micro-batch processed in (ts NULLS FIRST, event_id)
    order per key, making the batch window SQL an exact oracle;
    cross-batch counter carry and timeout eviction are pinned in
    tests/test_streaming.py."""
    from kinesis2sse_spark.streaming.state import with_rate_limit

    s = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.expr(
                f"CAST(unix_micros(ts) div {RATE_WIN_S * 1_000_000} AS BIGINT)"
                f" * {RATE_WIN_S}"
            ).alias("win_start"),
        )
    )
    out = run_to_memory(
        with_rate_limit(s, RATE_CAP, RATE_WIN_S),
        _qname("ratelimit"),
        "append",
        shuffle_partitions=8,
        # emits per update; the event-time timeout only PURGES counters
        # (documented output-invariant case) -> skip the no-data batch
        no_data_batches=False,
    )
    return out.select("event_id", "user_id", "win_start", "is_admitted")


# --- streaming SRM monitor ---------------------------------------------------
# The streaming twin of stats_srm_check: as events arrive, the first
# occurrence of each user flows through a streaming dropDuplicates
# (ONE stateful operator — update/append chaining limits don't apply),
# and the enrollment balance between the two hash arms is read off the
# sink with the exact 2-arm chi-square (n0-n1)^2/N. This is the
# guardrail shape every experimentation pipeline runs live: SRM is
# detected DURING enrollment, not at analysis time. State = one
# 8-byte-keyed seen marker per user (exact; at extreme keyspaces the
# production variant swaps in a sketch, trading exactness — the
# documented contract here is exact-first like streaming_dedup, whose
# state discipline this rides). The final counts must equal the batch
# distinct-user split — that equivalence is the oracle.
@register(
    "streaming_srm_monitor",
    oracle="""
    WITH u AS (
      SELECT user_id,
             ((user_id + 1) * 2654435761) % 1000000007 % 2 AS arm
      FROM events GROUP BY user_id
    ),
    ua AS (
      SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM u
    )
    SELECT n0 AS users_arm0, n1 AS users_arm1,
           CASE WHEN n0 + n1 > 0 THEN
             floor(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1)
                   * 1000000 + 0.5) / 1000000
           END AS srm_chi2,
           CASE WHEN n0 + n1 > 0 THEN
             CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) > 3.841459
           END AS srm_detected
    FROM ua
    """,
)
def streaming_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live sample-ratio-mismatch guardrail: streaming first-seen user
    dedup (exact keyed state) -> hash-arm split -> exact 2-arm
    chi-square over the sink. See the block comment."""
    s = events_stream(spark, sf_dir).select("user_id").dropDuplicates(["user_id"])
    out = run_to_memory(
        s,
        _qname("srm_monitor"),
        output_mode="append",
        shuffle_partitions=8,
        no_data_batches=False,
    )
    arm = ((F.col("user_id") + 1) * 2654435761) % 1000000007 % 2
    ua = out.agg(
        F.sum((arm == 0).cast("int")).cast("bigint").alias("n0"),
        F.sum((arm == 1).cast("int")).cast("bigint").alias("n1"),
    )
    nn = F.col("n0") + F.col("n1")
    chi = ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast(
        "double"
    ) / nn
    return ua.select(
        F.col("n0").alias("users_arm0"),
        F.col("n1").alias("users_arm1"),
        F.when(nn > 0, F.floor(chi * 1000000 + F.lit(0.5)) / 1000000).alias(
            "srm_chi2"
        ),
        F.when(nn > 0, chi > 3.841459).alias("srm_detected"),
    )
