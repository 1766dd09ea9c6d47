"""Streaming behaviors that need controlled multi-batch arrival: watermark
late-data drop, dropDuplicatesWithinWatermark, and contiguous-offset state
carried across micro-batches (maxFilesPerTrigger=1, one file per batch)."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)

from kinesis2sse_spark.streaming.source import run_to_memory, staged_batch_dir


def _write_batch(spark, d: str, name: str, rows, schema: str):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, name)
    )


def _read_stream(spark, d: str, schema: str):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "*"))
    )


def test_events_stream_ts_units_match_batch(spark, tmp_path):
    """events_stream must read event time identically for TIMESTAMP(MICROS)
    and TIMESTAMP(NANOS) fixtures. Regression: a hardcoded nanos-as-long
    schema + div-1000 applied to a µs fixture compressed event time 1000×
    (everything landed in January 1970) and silently broke every
    event-time streaming operator; the schema now derives from the
    parquet footer, mirroring the batch catalog's dtype guard."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kinesis2sse_spark.catalog import load_table
    from kinesis2sse_spark.streaming.source import events_stream

    want = datetime(2024, 5, 1, 12, 30, 45)
    for unit in ("us", "ns"):
        d = tmp_path / f"sf_{unit}"
        d.mkdir()
        table = pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([want], pa.timestamp(unit)),
                "user_id": pa.array([7], pa.int64()),
                "event_type": pa.array(["click"], pa.string()),
                "value": pa.array([1.5], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        )
        pq.write_table(table, str(d / "events.parquet"))

        got_batch = load_table(spark, str(d), "events").collect()[0]["ts"]
        got_stream = run_to_memory(
            events_stream(spark, str(d)), f"tsunit_{unit}", "append"
        ).collect()[0]["ts"]
        assert got_batch == want, f"{unit}: batch read {got_batch}"
        assert got_stream == want, f"{unit}: stream read {got_stream}"


def test_offsets_carry_across_batches(spark):
    from kinesis2sse_spark.streaming.state import with_streaming_offsets

    d = staged_batch_dir("offsets")
    schema = "event_id long, v string"
    _write_batch(spark, d, "b0", [(10, "a"), (11, "b")], schema)
    _write_batch(spark, d, "b1", [(12, "c"), (13, "d"), (14, "e")], schema)
    out = run_to_memory(
        with_streaming_offsets(_read_stream(spark, d, schema)), "t_offsets", "append"
    ).orderBy("offset")
    rows = out.collect()
    # offsets are contiguous 0..4 across the two micro-batches
    # (record_processor_test.go:58-84 semantics: second batch continues at 2)
    assert [r["offset"] for r in rows] == [0, 1, 2, 3, 4]
    assert [r["event_id"] for r in rows] in (
        [10, 11, 12, 13, 14],  # b0 then b1
        [12, 13, 14, 10, 11],  # b1 then b0 (file order is not guaranteed)
    )


def test_offsets_follow_order_across_arrow_chunks(spark):
    """A micro-batch larger than the Arrow chunk size must still assign
    offsets in order_col order across chunk boundaries (the group arrives
    as an iterator of chunks)."""
    from kinesis2sse_spark.streaming.state import with_streaming_offsets

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        d = staged_batch_dir("chunks")
        schema = "event_id long, v string"
        rows = [(i, f"r{i}") for i in range(300)]
        import random

        random.Random(7).shuffle(rows)
        _write_batch(spark, d, "b0", rows, schema)
        out = run_to_memory(
            with_streaming_offsets(_read_stream(spark, d, schema)), "t_chunks", "append"
        ).orderBy("offset")
        got = [(r["offset"], r["event_id"]) for r in out.collect()]
        assert got == [(i, i) for i in range(300)]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")


def test_watermark_drops_late_rows(spark):
    """A late event arriving after its window was evicted by the watermark
    is dropped (Spark evicts at end-of-batch, so the drop takes effect one
    batch after the watermark passes the window end)."""
    import time

    d = staged_batch_dir("late")
    schema = "ts timestamp, k string"
    # file mtime ordering drives batch order; sleep so mtimes differ
    _write_batch(
        spark, d, "b0",
        [(_ts("2024-01-01 10:00:00"), "x"), (_ts("2024-01-01 13:00:00"), "x")], schema,
    )
    time.sleep(1.1)
    _write_batch(spark, d, "b1", [(_ts("2024-01-01 14:00:00"), "x")], schema)
    time.sleep(1.1)
    _write_batch(spark, d, "b2", [(_ts("2024-01-01 10:30:00"), "x")], schema)
    s = _read_stream(spark, d, schema)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "k")
        .agg(F.count("*").alias("n"))
    )
    out = run_to_memory(
        agg.select(F.col("window.start").alias("ws"), "n"), "t_late", "append"
    )
    emitted = {(str(r["ws"]), r["n"]) for r in out.collect()}
    # watermark hits 12:00 after b0 → the [10:00, 11:00) window is evicted
    # and emitted with n=1; b2's 10:30 row arrives after eviction → dropped
    assert ("2024-01-01 10:00:00", 1) in emitted
    assert ("2024-01-01 10:00:00", 2) not in emitted


def test_session_window_merges_across_batches(spark):
    """Session state must carry across micro-batches: events within the
    gap arriving in DIFFERENT batches merge into one session, events
    past the gap open a new one. This is the behavior the single-batch
    oracle query can't see — it pins the stateful merge itself (the
    r03 ts-unit bug class: correct per-batch math, wrong event-time
    state)."""
    import time

    d = staged_batch_dir("sess_merge")
    schema = "ts timestamp, user string"
    _write_batch(spark, d, "b0", [(_ts("2024-01-01 10:00:00"), "u")], schema)
    time.sleep(1.1)
    # within the 30-min gap of b0's event → must MERGE, not open a session
    _write_batch(spark, d, "b1", [(_ts("2024-01-01 10:20:00"), "u")], schema)
    time.sleep(1.1)
    # past the gap → second session
    _write_batch(spark, d, "b2", [(_ts("2024-01-01 12:00:00"), "u")], schema)
    s = _read_stream(spark, d, schema)
    agg = (
        s.withWatermark("ts", "10 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user")
        .agg(F.count("*").alias("n"))
    )
    out = run_to_memory(
        agg.select(
            F.col("session_window.start").alias("ss"),
            F.col("session_window.end").alias("se"),
            "n",
        ),
        "t_sess_merge",
        "complete",
        shuffle_partitions=4,
    )
    rows = {(str(r["ss"]), str(r["se"]), r["n"]) for r in out.collect()}
    assert rows == {
        # one merged session: 10:00 start, last event 10:20 + 30 min gap
        ("2024-01-01 10:00:00", "2024-01-01 10:50:00", 2),
        ("2024-01-01 12:00:00", "2024-01-01 12:30:00", 1),
    }


def test_drop_duplicates_within_watermark(spark):
    d = staged_batch_dir("ddw")
    schema = "ts timestamp, id long"
    _write_batch(
        spark, d, "b0",
        [(_ts("2024-01-01 10:00:00"), 1), (_ts("2024-01-01 10:00:00"), 1), (_ts("2024-01-01 11:00:00"), 2)],
        schema,
    )
    _write_batch(spark, d, "b1", [(_ts("2024-01-01 11:00:01"), 2), (_ts("2024-01-01 11:30:00"), 3)], schema)
    s = _read_stream(spark, d, schema)
    dedup = s.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(["id"])
    out = run_to_memory(dedup, "t_ddw", "append")
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [1, 2, 3]


def test_sliding_window_accumulates_across_batches(spark):
    """Overlapping-window counts must accumulate across micro-batches:
    two events 5 minutes apart arriving in DIFFERENT batches share two
    of their three 15-min/5-min-slide windows — per-batch math alone
    would report singleton counts everywhere."""
    import time

    d = staged_batch_dir("slide_acc")
    schema = "ts timestamp, k string"
    _write_batch(spark, d, "b0", [(_ts("2024-01-01 10:00:00"), "x")], schema)
    time.sleep(1.1)
    _write_batch(spark, d, "b1", [(_ts("2024-01-01 10:05:00"), "x")], schema)
    s = _read_stream(spark, d, schema)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes", "5 minutes"), "k")
        .agg(F.count("*").alias("n"))
    )
    out = run_to_memory(
        agg.select(F.col("window.start").alias("ws"), "n"),
        "t_slide_acc",
        "complete",
        shuffle_partitions=4,
    )
    got = {str(r["ws"]): r["n"] for r in out.collect()}
    assert got == {
        "2024-01-01 09:50:00": 1,  # only the 10:00 event
        "2024-01-01 09:55:00": 2,  # both — merged across batches
        "2024-01-01 10:00:00": 2,  # both — merged across batches
        "2024-01-01 10:05:00": 1,  # only the 10:05 event
    }, got


def test_stream_stream_join_matches_across_batches(spark):
    """Stream-stream interval-join state must hold one side until the
    other arrives in a LATER micro-batch: a purchase in batch 2 joins a
    signup buffered from batch 1; a purchase outside the interval never
    matches. Single-batch oracle runs can't observe the buffering."""
    import time

    d_s = staged_batch_dir("ssj_s")
    d_p = staged_batch_dir("ssj_p")
    s_schema = "s_ts timestamp, s_user long"
    p_schema = "p_ts timestamp, p_user long, amount double"
    _write_batch(spark, d_s, "b0", [(_ts("2024-01-01 10:00:00"), 1)], s_schema)
    # purchases arrive in a later batch: in-window for user 1 (+30 min),
    # out-of-window for user 1 (+3 h)
    time.sleep(1.1)
    _write_batch(
        spark, d_p, "b1",
        [(_ts("2024-01-01 10:30:00"), 1, 9.5), (_ts("2024-01-01 13:00:00"), 1, 1.0)],
        p_schema,
    )
    signups = _read_stream(spark, d_s, s_schema).withWatermark("s_ts", "4 hours")
    purchases = _read_stream(spark, d_p, p_schema).withWatermark("p_ts", "4 hours")
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    out = run_to_memory(
        joined.select("s_user", "p_ts", "amount"), "t_ssj_state", "append",
        shuffle_partitions=4,
    )
    rows = [(r["s_user"], r["amount"]) for r in out.collect()]
    assert rows == [(1, 9.5)], rows


def test_streaming_parquet_file_sink(spark, tmp_path):
    """Exactly-once file sink: writeStream → parquet with checkpoint; the
    committed output matches the input across restarts of the same query
    (the durable C1 path the reference deliberately lacks)."""
    d = staged_batch_dir("fsink_in")
    schema = "event_id long, v string"
    _write_batch(spark, d, "b0", [(1, "a"), (2, "b"), (3, "c")], schema)
    out_dir = str(tmp_path / "fsink_out")
    ckpt = str(tmp_path / "fsink_ckpt")
    s = _read_stream(spark, d, schema)
    q = (
        s.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out_dir)
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2, 3]
    # restart with the same checkpoint: no duplicates (exactly-once)
    q2 = (
        s.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(out_dir).count() == 3


def test_rate_source_liveness(spark):
    from kinesis2sse_spark.streaming.source import rate_stream

    s = rate_stream(spark, rows_per_second=50)
    q = s.writeStream.format("memory").queryName("t_rate").outputMode("append").start()
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline:
            if spark.sql("SELECT count(*) n FROM t_rate").collect()[0]["n"] > 0:
                break
            time.sleep(0.5)
        assert spark.sql("SELECT count(*) n FROM t_rate").collect()[0]["n"] > 0
    finally:
        q.stop()


def test_kinesis_stub_raises(spark):
    import pytest

    from kinesis2sse_spark.streaming.source import kinesis_stream

    with pytest.raises(NotImplementedError):
        kinesis_stream(spark, "my-stream", "us-east-1")


def test_kinesis_start_option_mapping():
    """S2 parity for the Kinesis seam: LATEST / TRIM_HORIZON / datetime
    map to the reference's seek kinds (kinesis2sse.go:117-126), and a
    timestamp start becomes AT_TIMESTAMP — never LATEST, which would
    skip every record between the instant and service start."""
    from kinesis2sse_spark.streaming.source import kinesis_start_options

    assert kinesis_start_options("latest") == {"startingPosition": "LATEST"}
    assert kinesis_start_options("trim_horizon") == {
        "startingPosition": "TRIM_HORIZON"
    }
    at = datetime(2024, 3, 1)
    opts = kinesis_start_options(at)
    assert opts["startingPosition"] == "AT_TIMESTAMP"
    assert opts["startingTimestamp"] == "1709251200000"


def test_kinesis_reader_spec_includes_resolved_options(spark):
    """Without a connector jar the seam still resolves the FULL reader
    spec (stream, region, seek) before raising, and option_names remaps
    canonical keys to a connector's spelling — so wiring a jar is
    configuration, not code."""
    import pytest

    from kinesis2sse_spark.streaming.source import kinesis_stream

    with pytest.raises(NotImplementedError) as e:
        kinesis_stream(
            spark,
            "my-stream",
            "us-east-1",
            start=datetime(2024, 3, 1),
            option_names={"streamName": "kinesis.streamName"},
        )
    msg = str(e.value)
    assert "kinesis.streamName" in msg
    assert "AT_TIMESTAMP" in msg


def test_kinesis_option_presets_remap_every_canonical_key():
    """The two bundled connector presets are regression-pinned: a
    jar-holder passes option_names=\"aws-kinesis\" (or \"glue-kinesis\")
    and every canonical key this module emits lands under that
    connector's spelling — kinesis.-prefixed for the awslabs
    spark-sql-kinesis connector, unprefixed camelCase with streamARN
    for Glue. The presets are remap DATA; what these tests freeze is
    OUR emitted spelling per preset, so an accidental edit can't
    silently ship misnamed options."""
    import pytest

    from kinesis2sse_spark.streaming.source import (
        KINESIS_OPTION_PRESETS,
        kinesis_start_options,
    )

    canonical = {"streamName", "region"} | set(
        kinesis_start_options(datetime(2024, 3, 1))
    )
    assert canonical == {
        "streamName",
        "region",
        "startingPosition",
        "startingTimestamp",
    }
    for preset, mapping in KINESIS_OPTION_PRESETS.items():
        # every canonical key is covered — no option silently keeps a
        # spelling the connector would ignore
        assert set(mapping) == canonical, preset
    aws = KINESIS_OPTION_PRESETS["aws-kinesis"]
    assert all(v == f"kinesis.{k}" for k, v in aws.items())
    glue = KINESIS_OPTION_PRESETS["glue-kinesis"]
    assert glue["streamName"] == "streamARN"
    assert glue["startingPosition"] == "startingPosition"


def test_kinesis_stream_accepts_preset_name(spark):
    """String preset → full remapped reader spec in the raised message
    (the no-jar seam), for both presets and every seek kind."""
    import pytest

    from kinesis2sse_spark.streaming.source import kinesis_stream

    with pytest.raises(NotImplementedError) as e:
        kinesis_stream(
            spark,
            "my-stream",
            "us-east-1",
            start=datetime(2024, 3, 1),
            option_names="aws-kinesis",
        )
    msg = str(e.value)
    assert "kinesis.streamName" in msg
    assert "kinesis.startingTimestamp" in msg
    assert "1709251200000" in msg

    with pytest.raises(NotImplementedError) as e:
        kinesis_stream(
            spark,
            "arn:aws:kinesis:us-east-1:123:stream/my-stream",
            "us-east-1",
            start="trim_horizon",
            option_names="glue-kinesis",
        )
    msg = str(e.value)
    assert "streamARN" in msg
    assert "TRIM_HORIZON" in msg

    with pytest.raises(ValueError) as e:
        kinesis_stream(spark, "s", "r", option_names="no-such-preset")
    # the error must NAME the valid presets, not surface a bare KeyError
    assert "aws-kinesis" in str(e.value) and "glue-kinesis" in str(e.value)


# ---- Kinesis seam end-to-end (fake in-process connector, S1/S2) ------------


def _fake_stream_file(tmp_path, rows):
    import json

    p = tmp_path / "stream.jsonl"
    p.write_text("".join(json.dumps(r) + "\n" for r in rows))
    return str(p)


def _consume_kinesis(spark, path, start, name):
    """Full seam path: kinesis_start_options → reader spec →
    format('fake_kinesis').load() → micro-batches → memory sink."""
    from kinesis2sse_spark.streaming import fake_kinesis
    from kinesis2sse_spark.streaming.source import kinesis_stream

    fake_kinesis.register(spark)
    df = kinesis_stream(
        spark,
        "my-stream",
        "us-east-1",
        start=start,
        source_format="fake_kinesis",
        recordsPath=path,
    )
    return run_to_memory(df.selectExpr("CAST(data AS STRING) AS data"), name)


def test_kinesis_seam_trim_horizon_replays_everything(spark, tmp_path):
    """TRIM_HORIZON through the real load() path consumes ≥1 micro-batch
    containing the full retained stream (kinesis2sse.go:117-126)."""
    path = _fake_stream_file(
        tmp_path,
        [{"ts": 1000 * i, "data": f"e{i}"} for i in range(5)],
    )
    got = _consume_kinesis(spark, path, "trim_horizon", "fk_trim")
    assert sorted(r["data"] for r in got.collect()) == [f"e{i}" for i in range(5)]


def test_kinesis_seam_at_timestamp_seeks_source_side(spark, tmp_path):
    """AT_TIMESTAMP must seek in the SOURCE: records before the instant
    are never read (no downstream filter can recover a skipped seek —
    the same invariant the round-3 Kafka fix locked broker-side)."""
    base = int(datetime(2024, 3, 1).timestamp() * 1000)
    path = _fake_stream_file(
        tmp_path,
        [{"ts": base + 60_000 * i, "data": f"e{i}"} for i in range(6)],
    )
    got = _consume_kinesis(
        spark, path, datetime(2024, 3, 1, 0, 3), "fk_at_ts"
    )
    assert sorted(r["data"] for r in got.collect()) == ["e3", "e4", "e5"]


def test_kinesis_seam_latest_skips_history(spark, tmp_path):
    """LATEST starts past the retained records: replaying the same file
    yields zero rows (only post-start appends would arrive)."""
    path = _fake_stream_file(
        tmp_path, [{"ts": 1000 * i, "data": f"e{i}"} for i in range(4)]
    )
    got = _consume_kinesis(spark, path, "latest", "fk_latest")
    assert got.count() == 0


def test_kinesis_reshard_no_loss(spark, tmp_path):
    """Shard split/merge mid-stream (KCL shard-sync, service.go:134-151):
    a parent shard is consumed, then SPLITS into two children, which are
    later MERGED into one — each reshard surfaces new shard ids between
    micro-batches. The delivered set must have no gap and no duplicate:
    every record exactly once, children consumed from TRIM_HORIZON even
    though they were unknown at the start offset, closed parents never
    re-delivered."""
    import json

    from kinesis2sse_spark.streaming import fake_kinesis
    from kinesis2sse_spark.streaming.source import kinesis_stream

    fake_kinesis.register(spark)
    path = tmp_path / "stream.jsonl"
    parent = [{"ts": 1000 * i, "data": f"p{i}", "shard": "shard-p"} for i in range(4)]
    path.write_text("".join(json.dumps(r) + "\n" for r in parent))

    df = kinesis_stream(
        spark, "my-stream", "us-east-1",
        start="trim_horizon",
        source_format="fake_kinesis",
        recordsPath=str(path),
    )
    q = (
        df.selectExpr(
            "CAST(data AS STRING) AS data", "sequenceNumber", "partitionKey"
        )
        .writeStream.format("memory")
        .queryName("fk_reshard")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()

        # SPLIT: parent closes (no more appends), two children appear
        children = [
            {"ts": 5000 + 1000 * i, "data": f"c{i}", "shard": f"shard-c{i % 2}"}
            for i in range(6)
        ]
        with open(path, "a") as f:
            f.writelines(json.dumps(r) + "\n" for r in children)
        q.processAllAvailable()

        # MERGE: both children close, one merged shard appears
        merged = [
            {"ts": 20000 + 1000 * i, "data": f"m{i}", "shard": "shard-m"}
            for i in range(3)
        ]
        with open(path, "a") as f:
            f.writelines(json.dumps(r) + "\n" for r in merged)
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    rows = spark.sql("SELECT * FROM fk_reshard").collect()
    want = [r["data"] for r in parent + children + merged]
    got = [r["data"] for r in rows]
    assert sorted(got) == sorted(want), "reshard lost or duplicated records"
    # sequence numbers are shard-scoped and contiguous per shard
    seqs = sorted((r["sequenceNumber"] for r in rows))
    assert len(seqs) == len(set(seqs))
    per_shard: dict = {}
    for r in rows:
        s, i = r["sequenceNumber"].split(":")
        per_shard.setdefault(s, []).append(int(i))
    for s, idxs in per_shard.items():
        assert sorted(idxs) == list(range(len(idxs))), f"gap in shard {s}: {idxs}"
    assert set(per_shard) == {"shard-p", "shard-c0", "shard-c1", "shard-m"}


# ---- archive sink (exactly-once partitioned parquet) -----------------------


def test_archive_sink_exactly_once_across_restart(spark, tmp_path):
    """The streaming archive: date-partitioned parquet with the file
    sink's transactional metadata log. Restarting from the same
    checkpoint after new data arrives appends ONLY the new epoch — no
    replay, no duplicates — and the lake is partition-prunable."""
    import os

    from kinesis2sse_spark.streaming.archive import archive_stream

    d = staged_batch_dir("archive_src")
    schema = "event_id long, ts timestamp, value double"
    _write_batch(
        spark, d, "b0",
        [(1, _ts("2024-01-01 10:00:00"), 1.0), (2, _ts("2024-01-02 10:00:00"), 2.0)],
        schema,
    )
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    q = archive_stream(_read_stream(spark, d, schema), lake, ckpt)
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    first = spark.read.parquet(lake)
    assert first.count() == 2
    assert {"event_date=2024-01-01", "event_date=2024-01-02"} <= set(
        os.listdir(lake)
    )  # partition dirs exist

    # restart from the SAME checkpoint with one more file staged
    _write_batch(
        spark, d, "b1", [(3, _ts("2024-01-02 11:00:00"), 3.0)], schema
    )
    q2 = archive_stream(_read_stream(spark, d, schema), lake, ckpt)
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
    rows = spark.read.parquet(lake).select("event_id").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3]  # no b0 replay

    # partition pruning: a single-day read lists one directory
    one_day = spark.read.parquet(lake).filter(
        F.col("event_date") == "2024-01-02"
    )
    assert sorted(r["event_id"] for r in one_day.collect()) == [2, 3]


# ---- keyed stateful running stats ------------------------------------------


def test_keyed_running_stats_accumulate_across_batches(spark):
    """Per-key state must carry across micro-batches and shard by key:
    two batches, interleaved keys — totals accumulate per key, and each
    key emits a row only in batches where it appears."""
    from kinesis2sse_spark.streaming.source import run_to_memory
    from kinesis2sse_spark.streaming.state import with_keyed_running_stats

    d = staged_batch_dir("keyed_stats")
    schema = "user_id long, ts timestamp, value double"
    _write_batch(
        spark, d, "b0",
        [(1, _ts("2024-01-01 00:00:00"), 10.0), (2, _ts("2024-01-01 00:00:01"), 5.0)],
        schema,
    )
    _write_batch(
        spark, d, "b1",
        [(1, _ts("2024-01-01 00:00:02"), 30.0)],
        schema,
    )
    out = run_to_memory(
        with_keyed_running_stats(_read_stream(spark, d, schema)),
        "keyed_stats_out",
        output_mode="update",
        shuffle_partitions=4,
    )
    rows = [(r["user_id"], r["n_events"], r["total_value"]) for r in out.collect()]
    # final state per key: user 1 saw 2 events totaling 40, user 2 one event
    latest = {}
    for uid, n, tot in rows:
        latest[uid] = max(latest.get(uid, (0, 0.0)), (n, tot))
    assert latest[1] == (2, 40.0)
    assert latest[2] == (1, 5.0)
    # user 1 appeared in both batches → two update rows; user 2 in one
    assert sum(1 for uid, *_ in rows if uid == 1) == 2
    assert sum(1 for uid, *_ in rows if uid == 2) == 1


def test_compact_lake_reduces_files_preserves_rows(spark, tmp_path):
    """Small-file compaction: three single-row epochs leave ≥3 files;
    compaction rewrites them into size-targeted files (here 1), with
    identical rows, intact partition dirs, and untouched partitions
    preserved by dynamic overwrite."""
    import glob as g

    from kinesis2sse_spark.maintenance import compact_lake
    from kinesis2sse_spark.streaming.archive import archive_stream

    d = staged_batch_dir("compact_src")
    schema = "event_id long, ts timestamp, value double"
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    for i in range(3):
        _write_batch(
            spark, d, f"b{i}",
            [(i, _ts(f"2024-01-0{1 + (i % 2)} 10:00:00"), float(i))],
            schema,
        )
        q = archive_stream(_read_stream(spark, d, schema), lake, ckpt)
        q.processAllAvailable(); q.stop(); q.awaitTermination()

    day1 = f"{lake}/event_date=2024-01-01"
    n_before = len(g.glob(f"{day1}/*.parquet"))
    assert n_before >= 2  # two epochs hit day 1 → one file each

    before = {(r["event_id"], str(r["event_date"])) for r in spark.read.parquet(lake).collect()}
    compacted = compact_lake(spark, lake, partitions=["2024-01-01"])
    after = {(r["event_id"], str(r["event_date"])) for r in compacted.collect()}
    assert after == before  # rows identical, day-2 partition untouched
    assert len(g.glob(f"{day1}/*.parquet")) == 1  # coalesced
    assert len(g.glob(f"{lake}/event_date=2024-01-02/*.parquet")) >= 1


# ---- streaming dead-letter routing (DLQ) -----------------------------------


def test_streaming_reject_channel_routes_to_quarantine(spark, tmp_path):
    """End-to-end DLQ: wire records flow through the Kinesis seam; each
    micro-batch splits on reject_reason() — valid rows continue through
    parse_envelope, rejects land in a quarantine parquet WITH their
    reason and raw payload. Because reject_reason is parse_envelope's
    own acceptance predicate split by reason (envelope.py), nothing is
    lost between the two sinks: |valid| + |quarantine| = |input|."""
    import json as _json

    from pyspark.sql import functions as F

    from kinesis2sse_spark.pipeline.envelope import parse_envelope, reject_reason
    from kinesis2sse_spark.streaming import fake_kinesis
    from kinesis2sse_spark.streaming.source import kinesis_stream

    wires = [
        '{"time":"2024-03-01T00:00:01.000000Z","detail":{"k":1}}',   # valid
        '{"time":"2024-03-01T00:00:02.000000Z","detail":{"k":2}}',   # valid
        '{"time":"2024-03-01T00:00:03.000000Z","detail":{"k":3}',    # invalid_json
        '{"detail":{"k":4}}',                                         # missing_time
        '{"time":"13:45 on Friday","detail":{"k":5}}',               # bad_time
        '{"time":"2024-03-01T00:00:06.000000Z"}',                    # missing_detail
    ]
    path = tmp_path / "dlq_stream.jsonl"
    path.write_text(
        "".join(
            _json.dumps({"ts": 1000 * i, "data": w}) + "\n"
            for i, w in enumerate(wires)
        )
    )
    fake_kinesis.register(spark)
    stream = kinesis_stream(
        spark,
        "my-stream",
        "us-east-1",
        start="trim_horizon",
        source_format="fake_kinesis",
        recordsPath=str(path),
    )
    quarantine = str(tmp_path / "quarantine")
    accepted = str(tmp_path / "accepted")

    def route(batch, _epoch):
        classified = batch.select(
            F.col("data").cast("string").alias("raw"),
            reject_reason("data").alias("reason"),
        )
        # CACHE before splitting: both sinks consume one classification
        # pass instead of re-reading (and re-parsing) the source twice.
        classified.persist()
        try:
            (
                classified.where(F.col("reason") != "valid")
                .write.mode("append")
                .parquet(quarantine)
            )
            (
                parse_envelope(
                    classified.where(F.col("reason") == "valid"), "raw"
                )
                .write.mode("append")
                .parquet(accepted)
            )
        finally:
            classified.unpersist()

    q = stream.writeStream.foreachBatch(route).queryName("dlq_route").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rejects = spark.read.parquet(quarantine)
    got_reasons = sorted(r.reason for r in rejects.select("reason").collect())
    assert got_reasons == ["bad_time", "invalid_json", "missing_detail", "missing_time"]
    ok = spark.read.parquet(accepted)
    assert ok.count() == 2
    assert rejects.count() + ok.count() == len(wires)
    # the quarantine keeps the raw payload for replay-after-fix
    assert all(r.raw for r in rejects.collect())


# ---- streaming metrics recorder --------------------------------------------


def test_progress_recorder_audits_rows_end_to_end(spark, tmp_path):
    """The ProgressRecorder hears every committed micro-batch and its
    row counts sum to exactly what the sink received — the driver-side
    half of the exactly-once audit ("rows in == rows archived")."""
    import json as _json

    from pyspark.sql import functions as F

    from kinesis2sse_spark.streaming import fake_kinesis
    from kinesis2sse_spark.streaming.metrics import ProgressRecorder
    from kinesis2sse_spark.streaming.source import kinesis_stream

    path = tmp_path / "m_stream.jsonl"
    path.write_text(
        "".join(_json.dumps({"ts": 1000 * i, "data": f"r{i}"}) + "\n" for i in range(7))
    )
    fake_kinesis.register(spark)
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    out = str(tmp_path / "m_out")
    try:
        stream = kinesis_stream(
            spark,
            "my-stream",
            "us-east-1",
            start="trim_horizon",
            source_format="fake_kinesis",
            recordsPath=str(path),
        )
        q = (
            stream.select(F.col("data").cast("string"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "m_ckpt"))
            .queryName("metrics_probe")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener events are delivered asynchronously; drain briefly
        import time

        def rows_in():
            return rec.totals_by_query().get("metrics_probe", {}).get("rows", 0)

        sunk = spark.read.parquet(out).count()
        for _ in range(50):
            if rows_in() >= sunk:
                break
            time.sleep(0.2)
        assert rows_in() == sunk == 7
        # the per-batch view is Spark's own progress buffer
        batches = q.recentProgress
        assert len(batches) >= 1
        assert all(
            b["durationMs"]["triggerExecution"] >= 0 and b["batchId"] >= 0 for b in batches
        )
    finally:
        spark.streams.removeListener(rec)


def test_available_now_backfill_processes_in_bounded_batches(spark, tmp_path):
    """Trigger.AvailableNow is the backfill pattern: process everything
    currently in the source in rate-limited micro-batches
    (maxFilesPerTrigger bounds each), then STOP — unlike processAll
    on a live query, the query terminates itself, so a scheduled
    backfill job has a natural exit. Three staged files with
    maxFilesPerTrigger=1 must yield >=3 batches, all rows, then
    self-termination."""
    import time

    from pyspark.sql import functions as F

    from kinesis2sse_spark.streaming.metrics import ProgressRecorder

    src = tmp_path / "an_src"
    src.mkdir()
    for i in range(3):
        spark.range(i * 10, (i + 1) * 10).select(
            F.col("id").alias("event_id")
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"f{i}"))
    paths = [str(p) for p in src.glob("f*/*.parquet")]
    flat = tmp_path / "an_flat"
    flat.mkdir()
    for i, p in enumerate(paths):
        (flat / f"part{i}.parquet").write_bytes(open(p, "rb").read())

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    out = str(tmp_path / "an_out")
    try:
        stream = (
            spark.readStream.schema("event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(flat))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "an_ckpt"))
            .queryName("an_backfill")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "availableNow query did not self-terminate"
        assert spark.read.parquet(out).count() == 30
        for _ in range(50):
            if rec.totals_by_query().get("an_backfill", {}).get("rows", 0) >= 30:
                break
            time.sleep(0.2)
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(batches) >= 3, batches
        assert all(b["numInputRows"] == 10 for b in batches), batches
    finally:
        spark.streams.removeListener(rec)


def test_stream_stream_left_outer_multibatch_expiry(spark, tmp_path):
    """The genuinely-streaming semantics of the left-outer interval join,
    with arrival order CONTROLLED (the single-batch oracle can't see
    this): a purchase arriving in a LATER micro-batch still matches its
    signup if it's within the join horizon, and an unmatched signup's
    null row emits exactly once — only after the watermark passes its
    s_ts + 2h match horizon — never before, never twice."""
    import os

    d = staged_batch_dir("ssj_lo_mb")
    schema = "event_id long, user_id long, event_type string, ts timestamp, value double"
    # batch 0: two signups at t0 (user 1, user 2) and a watermark carrier
    t0 = _ts("2024-01-01 10:00:00")
    _write_batch(
        spark, d, "b0",
        [(1, 1, "signup", t0, 0.0), (2, 2, "signup", t0, 0.0)],
        schema,
    )
    signups = (
        _read_stream(spark, d, schema)
        .filter(F.col("event_type") == "signup")
        .selectExpr("user_id AS s_user", "event_id AS signup_event_id", "ts AS s_ts")
        .withWatermark("s_ts", "1 hour")
    )
    purchases = (
        _read_stream(spark, d, schema)
        .filter(F.col("event_type") == "purchase")
        .selectExpr(
            "user_id AS p_user", "event_id AS purchase_event_id",
            "ts AS p_ts", "value",
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
        "leftOuter",
    ).select("s_user", "signup_event_id", "purchase_event_id", "value")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_lo_mb")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got0 = spark.sql("SELECT * FROM ssj_lo_mb").collect()
        # nothing can emit yet: no purchase arrived, no watermark progress
        assert got0 == []

        # batch 1: user 1's purchase arrives LATE (a later micro-batch)
        # but within the 2h horizon — must match; no null row for user 1
        _write_batch(
            spark, d, "b1",
            [(3, 1, "purchase", _ts("2024-01-01 11:00:00"), 9.5)],
            schema,
        )
        q.processAllAvailable()

        # batch 2: a far-future event drives both watermarks past
        # t0 + 2h, expiring user 2's signup -> exactly one null row
        _write_batch(
            spark, d, "b2",
            [(4, 99, "purchase", _ts("2024-01-02 10:00:00"), 1.0),
             (5, 99, "signup", _ts("2024-01-02 10:00:00"), 0.0)],
            schema,
        )
        q.processAllAvailable()
        # one more empty-ish batch so the no-data watermark commit runs
        _write_batch(
            spark, d, "b3",
            [(6, 98, "purchase", _ts("2024-01-02 11:00:00"), 1.0)],
            schema,
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    rows = spark.sql("SELECT * FROM ssj_lo_mb").collect()
    by_signup = {}
    for r in rows:
        by_signup.setdefault(r["signup_event_id"], []).append(r)
    # user 1: matched across micro-batches, exactly once, never a null row
    assert [r["purchase_event_id"] for r in by_signup[1]] == [3]
    assert by_signup[1][0]["value"] == 9.5
    # user 2: exactly one null row, emitted by watermark expiry
    assert [r["purchase_event_id"] for r in by_signup[2]] == [None]


def test_stream_stream_full_outer_expiry_boundaries(spark, tmp_path):
    """FULL OUTER interval join: both expiry classes in one query, with
    the boundary asymmetry pinned (probed on pyspark 4.1.2, relied on
    by the right/full outer oracles): an unmatched LEFT row expires only
    when the watermark STRICTLY passes its match horizon (s_ts + 2h <
    wm — at equality it stays in state), while an unmatched RIGHT row
    expires as soon as the watermark REACHES its own timestamp (p_ts <=
    wm — at equality it nulls out). Matched pairs across micro-batches
    emit exactly once with no null echo from either side."""
    d = staged_batch_dir("ssj_fo_mb")
    schema = "event_id long, user_id long, event_type string, ts timestamp, value double"
    t0 = _ts("2024-01-01 09:00:00")
    # user 1: signup at 9:00, purchase arrives batch 1 (matched pair)
    # user 2: signup at 9:00, never purchases (left expiry, horizon 11:00)
    # user 7: purchase at 11:00, no signup (right expiry AT the boundary)
    _write_batch(
        spark, d, "b0",
        [(1, 1, "signup", t0, 0.0),
         (2, 2, "signup", t0, 0.0),
         (3, 7, "purchase", _ts("2024-01-01 11:00:00"), 5.0)],
        schema,
    )
    signups = (
        _read_stream(spark, d, schema)
        .filter(F.col("event_type") == "signup")
        .selectExpr("user_id AS s_user", "event_id AS signup_event_id", "ts AS s_ts")
        .withWatermark("s_ts", "1 hour")
    )
    purchases = (
        _read_stream(spark, d, schema)
        .filter(F.col("event_type") == "purchase")
        .selectExpr(
            "user_id AS p_user", "event_id AS purchase_event_id",
            "ts AS p_ts", "value",
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
        "fullOuter",
    ).select("signup_event_id", "purchase_event_id", "value")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_fo_mb")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM ssj_fo_mb").collect() == []

        # batch 1: user 1's purchase (cross-batch match) + carriers that
        # advance BOTH watermarks to exactly 11:00 — the signups' match
        # horizon AND user 7's purchase timestamp
        _write_batch(
            spark, d, "b1",
            [(4, 1, "purchase", _ts("2024-01-01 10:00:00"), 9.5),
             (5, 99, "signup", _ts("2024-01-01 12:00:00"), 0.0),
             (6, 99, "purchase", _ts("2024-01-01 12:00:00"), 0.0)],
            schema,
        )
        q.processAllAvailable()
        got1 = {
            (r["signup_event_id"], r["purchase_event_id"])
            for r in spark.sql("SELECT * FROM ssj_fo_mb").collect()
        }
        # matched pair emitted; RIGHT row at p_ts == wm already nulled
        # out (non-strict); LEFT row at horizon == wm still in state
        # (strict). The 12:00 carriers matched each other? No — p_ts >
        # s_ts fails at equality, but they are both within horizon, so
        # neither has expired yet either.
        assert (1, 4) in got1, got1
        assert (None, 3) in got1, "right row at p_ts == wm must null out"
        assert not any(s == 2 for s, _ in got1), (
            "left row at horizon == wm must stay in state"
        )

        # batch 2: one more second of watermark -> user 2's signup expires
        _write_batch(
            spark, d, "b2",
            [(7, 98, "signup", _ts("2024-01-01 12:00:01"), 0.0),
             (8, 98, "purchase", _ts("2024-01-01 12:00:01"), 0.0)],
            schema,
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    rows = spark.sql("SELECT * FROM ssj_fo_mb").collect()
    pairs = {(r["signup_event_id"], r["purchase_event_id"]) for r in rows}
    assert (2, None) in pairs, "left expiry null row missing"
    # exactly one row per participant — no double emission anywhere
    assert len(rows) == len(pairs)
    assert [p for s, p in pairs if s == 1] == [4]


def test_kinesis_at_timestamp_seeks_per_shard(spark, tmp_path):
    """AT_TIMESTAMP over a MULTI-shard stream must seek independently in
    each shard (the real service seeks shard-by-shard): records before
    the instant are skipped in every shard, records at/after it are
    delivered from every shard — interleaved arrival order between
    shards must not leak earlier records through."""
    import json as _json

    base = int(datetime(2024, 3, 1).timestamp() * 1000)
    rows = []
    # shard A: events at t+0..t+5min; shard B interleaved at t+30s..t+5.5min
    for i in range(6):
        rows.append({"ts": base + 60_000 * i, "data": f"a{i}", "shard": "A"})
        rows.append({"ts": base + 60_000 * i + 30_000, "data": f"b{i}", "shard": "B"})
    path = _fake_stream_file(tmp_path, rows)
    got = _consume_kinesis(
        spark, path, datetime(2024, 3, 1, 0, 3), "fk_at_ts_shards"
    )
    want = sorted([f"a{i}" for i in range(3, 6)] + [f"b{i}" for i in range(3, 6)])
    # b2 (t+2.5min) is before the instant and must NOT appear even though
    # shard B's offsets differ from shard A's
    assert sorted(r["data"] for r in got.collect()) == want


def test_streaming_dedup_carryover_and_horizon_expiry(spark):
    """streaming_dedup_embedding's state machine, pinned with controlled
    multi-batch arrival (one file per micro-batch, identical vectors so
    cosine is exactly 1):
    - carry-over: a doc arriving in a LATER batch is deduped against a
      state member from an earlier batch (within horizon);
    - expiry: once event time moves more than DEDUP_HORIZON_S past a
      member, it is evicted — an identical later doc is NOT flagged."""
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from kinesis2sse_spark.streaming.dedup import (
        DEDUP_HORIZON_S,
        DEDUP_TS_BASE,
        streaming_near_dedup,
    )

    assert DEDUP_HORIZON_S == 600  # offsets below assume it
    d = staged_batch_dir("nddup")
    schema = "vec_id long, embedding array<float>"
    vec = [0.5] * 64
    # vec_id doubles as the event-time offset (ts = BASE + vec_id s):
    #   0 → first sight;  300 → within horizon of 0 (dup_of 0)
    #   1000 → 0 and 300 both expired (Δ=1000, 700 > 600) → clean
    #   1200 → within horizon of 1000 (dup_of 1000)
    batches = [[(0, vec)], [(300, vec)], [(1000, vec)], [(1200, vec)]]
    now = _time.time()
    for i, rows in enumerate(batches):
        _write_batch(spark, d, f"b{i}", rows, schema)
        # distinct, increasing mtimes force FileStreamSource to deliver
        # the files in event-time order (one per micro-batch)
        part_dir = _os.path.join(d, f"b{i}")
        for f in _os.listdir(part_dir):
            _os.utime(_os.path.join(part_dir, f), (now + i, now + i))
    stream = _read_stream(spark, d, schema).withColumn(
        "ts", F.timestamp_seconds(F.lit(DEDUP_TS_BASE) + F.col("vec_id"))
    )
    out = run_to_memory(streaming_near_dedup(stream), "t_nddup", "append")
    got = {
        r["vec_id"]: r["dup_of"]
        for r in out.groupBy("vec_id")
        .agg(F.min("match_id").alias("dup_of"))
        .collect()
    }
    assert got == {0: None, 300: 0, 1000: None, 1200: 1000}


def test_streaming_dedup_within_batch_order_and_eviction(spark):
    """Within one micro-batch the probe processes rows in event-time
    order: a mid-batch doc dedupes against an earlier same-batch doc,
    and eviction applies row-by-row (a doc beyond horizon of everything
    earlier in the SAME batch stays clean)."""
    from pyspark.sql import functions as F

    from kinesis2sse_spark.streaming.dedup import (
        DEDUP_TS_BASE,
        streaming_near_dedup,
    )

    d = staged_batch_dir("nddup1b")
    schema = "vec_id long, embedding array<float>"
    vec = [-0.25] * 64
    _write_batch(
        spark, d, "b0", [(700, vec), (0, vec), (10, vec)], schema
    )  # written out of order; the probe sorts by (ts, vec_id)
    stream = _read_stream(spark, d, schema).withColumn(
        "ts", F.timestamp_seconds(F.lit(DEDUP_TS_BASE) + F.col("vec_id"))
    )
    out = run_to_memory(streaming_near_dedup(stream), "t_nddup1b", "append")
    got = {
        r["vec_id"]: r["dup_of"]
        for r in out.groupBy("vec_id")
        .agg(F.min("match_id").alias("dup_of"))
        .collect()
    }
    # 10 dups against 0; 700 is >600s past both → both evicted → clean
    assert got == {0: None, 10: 0, 700: None}


def test_streaming_minhash_dedup_carryover_and_expiry(spark):
    """streaming_dedup_minhash's state machine across micro-batches:
    identical texts collide on every band, so the verdict isolates the
    carry-over/expiry mechanics (same fixture shape as the embedding
    twin; the bucketized state key must not change verdicts)."""
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from kinesis2sse_spark.streaming.dedup import (
        DEDUP_TS_BASE,
        MINHASH_HORIZON_S,
        streaming_minhash_dedup,
    )

    assert MINHASH_HORIZON_S == 600
    d = staged_batch_dir("mhdup")
    schema = "doc_id long, text string"
    txt = "alpha beta gamma delta epsilon zeta eta theta"
    batches = [[(0, txt)], [(300, txt)], [(1000, txt)], [(1200, txt)]]
    now = _time.time()
    for i, rows in enumerate(batches):
        _write_batch(spark, d, f"b{i}", rows, schema)
        part_dir = _os.path.join(d, f"b{i}")
        for f in _os.listdir(part_dir):
            _os.utime(_os.path.join(part_dir, f), (now + i, now + i))
    stream = _read_stream(spark, d, schema).withColumn(
        "ts", F.timestamp_seconds(F.lit(DEDUP_TS_BASE) + F.col("doc_id"))
    )
    out = run_to_memory(streaming_minhash_dedup(stream), "t_mhdup", "append")
    got = {
        r["doc_id"]: r["dup_of"]
        for r in out.groupBy("doc_id")
        .agg(F.min("match_id").alias("dup_of"))
        .collect()
    }
    assert got == {0: None, 300: 0, 1000: None, 1200: 1000}


def test_streaming_minhash_bucket_collision_requires_sig_equality(spark):
    """Two DIFFERENT texts never dedup against each other even when
    their signature buckets collide — the probe's match rule is exact
    signature equality, so the bounded bkey keyspace (4096/band, where
    collisions are routine at corpus scale) can't produce a false
    verdict. Distinct single-batch texts at adjacent timestamps: none
    may flag."""
    from pyspark.sql import functions as F

    from kinesis2sse_spark.streaming.dedup import (
        DEDUP_TS_BASE,
        streaming_minhash_dedup,
    )

    d = staged_batch_dir("mhsig")
    schema = "doc_id long, text string"
    rows = [
        (i, " ".join(f"tok{i}w{j}" for j in range(12))) for i in range(40)
    ]
    _write_batch(spark, d, "b0", rows, schema)
    stream = _read_stream(spark, d, schema).withColumn(
        "ts", F.timestamp_seconds(F.lit(DEDUP_TS_BASE) + F.col("doc_id"))
    )
    out = run_to_memory(streaming_minhash_dedup(stream), "t_mhsig", "append")
    flagged = (
        out.groupBy("doc_id")
        .agg(F.min("match_id").alias("dup_of"))
        .where(F.col("dup_of").isNotNull())
        .count()
    )
    assert flagged == 0


def test_changelog_compaction_state_carries_across_batches(spark, tmp_path):
    """Streaming changelog compaction: the last-writer state survives
    micro-batch boundaries — a later batch of OLDER events must not
    displace an earlier batch's winner; a later batch's NEWER delete
    must tombstone the key; counters accumulate across batches."""
    from kinesis2sse_spark.streaming.state import with_changelog_compaction

    d = str(tmp_path / "cdc")
    schema = "user_id long, ts timestamp, event_id long, event_type string, value double"
    # batch 1: user 1 upserts at t=10; user 2 upserts at t=10
    _write_batch(
        spark, d, "b1",
        [
            (1, _ts("2024-01-01T00:00:10"), 100, "click", 1.0),
            (2, _ts("2024-01-01T00:00:10"), 101, "view", 2.0),
        ],
        schema,
    )
    # batch 2: user 1 gets an OLDER event (must not win);
    #          user 2 gets a NEWER delete (must tombstone)
    _write_batch(
        spark, d, "b2",
        [
            (1, _ts("2024-01-01T00:00:05"), 102, "purchase", 9.0),
            (2, _ts("2024-01-01T00:00:20"), 103, "error", 3.0),
        ],
        schema,
    )
    s = _read_stream(spark, d, schema)
    out = run_to_memory(
        with_changelog_compaction(s), "cdc_multibatch", "update",
        shuffle_partitions=4,
    )
    last = (
        out.groupBy("user_id")
        .agg(F.max_by(F.struct("last_op", "last_ts", "last_value",
                               "n_ops", "n_deletes"), F.col("n_ops")).alias("s"))
        .select("user_id", "s.*")
        .orderBy("user_id")
        .collect()
    )
    by = {r.user_id: r for r in last}
    # user 1: the t=10 click survives the later-but-older purchase
    assert by[1].last_op == "U" and by[1].last_value == 1.0
    assert by[1].n_ops == 2 and by[1].n_deletes == 0
    # user 2: the newer delete wins -> tombstone visible in state
    assert by[2].last_op == "D" and by[2].n_ops == 2 and by[2].n_deletes == 1


def test_changelog_compaction_null_ts_matches_batch_semantics(spark, tmp_path):
    """Null event times sort SMALLEST (the batch max_by struct rule and
    the oracle's ORDER BY ts DESC nulls-last): a null-ts event never
    displaces a timed one, and a key whose ONLY events are null-ts
    still compacts to a real op (largest event_id), never a garbage
    op='' placeholder row."""
    from kinesis2sse_spark.streaming.state import with_changelog_compaction

    d = str(tmp_path / "cdcnull")
    schema = "user_id long, ts timestamp, event_id long, event_type string, value double"
    _write_batch(
        spark, d, "b1",
        [
            # user 1: timed click + null-ts purchase (click must win)
            (1, _ts("2024-01-01T00:00:10"), 200, "click", 1.0),
            (1, None, 201, "purchase", 9.0),
            # user 2: ONLY null-ts events -> largest event_id wins
            (2, None, 202, "view", 2.0),
            (2, None, 203, "signup", 3.0),
        ],
        schema,
    )
    s = _read_stream(spark, d, schema)
    out = run_to_memory(
        with_changelog_compaction(s), "cdc_nullts", "update",
        shuffle_partitions=4,
    )
    by = {r.user_id: r for r in out.collect()}
    assert by[1].last_op == "U" and by[1].last_value == 1.0
    assert by[1].last_ts is not None
    assert by[2].last_op == "I" and by[2].last_value == 3.0
    assert by[2].last_ts is None and by[2].n_ops == 2


def _run_collect_progress(spark, df, name, mode, shuffle_parts=4):
    """run_to_memory, but returning (result, per-trigger progress list) so
    tests can read stateOperators row counts across micro-batches."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
    try:
        q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        q.processAllAvailable()
        progresses = [p for p in q.recentProgress]
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(name), progresses


def _state_rows_by_batch(progresses):
    """batchId -> numRowsTotal of the (single) stateful operator, for
    triggers that actually ran a stateful stage."""
    out = {}
    for p in progresses:
        ops = p.get("stateOperators") or []
        if ops:
            out[p["batchId"]] = ops[0]["numRowsTotal"]
    return out


def test_update_mode_evicts_window_state(spark):
    """THE r10 verdict item: update-mode window aggregation must EVICT
    state rows for windows the watermark has passed (complete mode keeps
    every window forever). Three 1-hour windows land in state; once the
    watermark (1 h delay) passes the two early windows' ends, their
    state rows are purged — numRowsTotal drops from 3 to 2 and
    numRowsRemoved records the purge."""
    import time

    d = staged_batch_dir("upd_evict")
    schema = "ts timestamp, k string"
    # two early windows: [09:00,10:00) and [10:00,11:00)
    _write_batch(
        spark, d, "b0",
        [(_ts("2024-01-01 09:15:00"), "x"), (_ts("2024-01-01 10:15:00"), "x")],
        schema,
    )
    time.sleep(1.1)
    # advances max event time to 14:00 -> watermark 13:00 at END of b1
    _write_batch(spark, d, "b1", [(_ts("2024-01-01 14:00:00"), "x")], schema)
    time.sleep(1.1)
    # during b2 the 13:00 watermark evicts both early windows
    _write_batch(spark, d, "b2", [(_ts("2024-01-01 15:00:00"), "x")], schema)
    s = _read_stream(spark, d, schema)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "k")
        .agg(F.count("*").alias("n"))
    )
    out, progresses = _run_collect_progress(
        spark,
        agg.select(F.col("window.start").alias("ws"), "n"),
        "t_upd_evict",
        "update",
    )
    rows = _state_rows_by_batch(progresses)
    assert rows[1] == 3, rows  # all three windows held after b1
    assert rows[2] == 2, rows  # early windows purged, {14:00, 15:00} remain
    removed = sum(
        (p.get("stateOperators") or [{}])[0].get("numRowsRemoved", 0)
        for p in progresses
    )
    assert removed >= 2
    # update emission still surfaced every window exactly once
    got = {(str(r["ws"]), r["n"]) for r in out.collect()}
    assert got == {
        ("2024-01-01 09:00:00", 1),
        ("2024-01-01 10:00:00", 1),
        ("2024-01-01 14:00:00", 1),
        ("2024-01-01 15:00:00", 1),
    }


def test_session_state_evicts_data_batch_and_idle_timeout(spark):
    """The custom update-mode sessionizer purges closed sessions both
    ways: on a key's own data batch, and via EVENT-TIME TIMEOUT for a
    key that never receives data again (user A's state row must drop
    once the watermark passes its session end, even though only user B
    keeps sending). Also pins cross-batch session merge + supersession
    assembly."""
    import time

    from kinesis2sse_spark.queries.streaming_queries import supersede_sessions
    from kinesis2sse_spark.streaming.state import with_session_windows

    d = staged_batch_dir("sess_evict")
    schema = "user_id long, ts timestamp"
    _write_batch(spark, d, "b0", [(1, _ts("2024-01-01 10:00:00"))], schema)
    time.sleep(1.1)
    # merges into A's open session (within 30-min gap, different batch)
    _write_batch(
        spark, d, "b1",
        [(1, _ts("2024-01-01 10:20:00")), (2, _ts("2024-01-01 20:00:00"))],
        schema,
    )
    time.sleep(1.1)
    # watermark now 18:00 (20:00 - 2h) > A's session end 10:50 -> A's
    # state row must be timeout-purged even though A got no data
    _write_batch(spark, d, "b2", [(2, _ts("2024-01-01 20:10:00"))], schema)
    s = _read_stream(spark, d, schema).withWatermark("ts", "2 hours")
    out, progresses = _run_collect_progress(
        spark, with_session_windows(s), "t_sess_evict", "update"
    )
    rows = _state_rows_by_batch(progresses)
    assert rows[1] == 2, rows  # A and B both hold open sessions after b1
    assert rows[2] == 1, rows  # A purged by event-time timeout during b2
    snap = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in supersede_sessions(out).collect()
    }
    assert snap == {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:50:00", 2),
        (2, "2024-01-01 20:00:00", "2024-01-01 20:40:00", 2),
    }, snap


def test_streaming_ivf_append_never_rewrites(spark, tmp_path):
    """The streaming IVF append's scale contract: an append lands pure
    NEW files inside the cell directories — no standing index file is
    rewritten, truncated, or touched (path + size + mtime identical
    before and after), across two separate arrival micro-batches. A
    rewrite would mean the append cost scales with the INDEX, not the
    arrival batch."""
    import os
    import time

    from kinesis2sse_spark.queries.llm_similarity import (
        IVF_APPEND_SPLIT,
        _ivf_assign,
        _ivf_centroids,
        _ivf_occupancy_split,
        _with_norm,
    )
    from kinesis2sse_spark.queries.streaming_queries import run_ivf_append_stream
    from kinesis2sse_spark.streaming.source import embeddings_stream

    sf_dir = "/root/testdata/sf0.001"
    path = str(tmp_path / "idx" / "assigned")

    corpus = _with_norm(load_table_embeddings(spark, sf_dir))
    base = corpus.filter(F.col("vec_id") < IVF_APPEND_SPLIT)
    centroids = _ivf_centroids(base)
    _ivf_assign(base, centroids).write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(path)

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot()
    assert before, "base index must have files"

    # two controlled arrival batches (distinct mtimes -> distinct triggers)
    arrivals = load_table_embeddings(spark, sf_dir).filter(
        F.col("vec_id") >= IVF_APPEND_SPLIT
    )
    d = str(tmp_path / "arrivals")
    a1 = arrivals.filter(F.col("vec_id") % 2 == 0)
    a2 = arrivals.filter(F.col("vec_id") % 2 == 1)
    a1.select("vec_id", "embedding", "label").coalesce(1).write.parquet(f"{d}/b0")
    time.sleep(1.1)
    a2.select("vec_id", "embedding", "label").coalesce(1).write.parquet(f"{d}/b1")

    s = embeddings_stream(
        spark, sf_dir, max_files_per_trigger=1, staged_dir=f"{d}/*"
    ).filter(F.col("vec_id") >= IVF_APPEND_SPLIT)
    run_ivf_append_stream(s, centroids, path)

    after = snapshot()
    data_after = {p: v for p, v in after.items()}
    for p, meta in before.items():
        base = os.path.basename(p)
        # commit markers (_SUCCESS) and their checksum shadows
        # (._SUCCESS.crc) legitimately refresh per commit — DATA files
        # must not
        if base.startswith(("_", ".")):
            continue
        assert p in data_after, f"standing file deleted: {p}"
        assert data_after[p] == meta, f"standing file rewritten: {p}"
    new_files = set(after) - set(before)
    assert any(f.endswith(".parquet") for f in new_files), "append added no files"
    # and the combined artifact equals the batch-append occupancy
    occ = {
        r["cell"]: (r["n_base"], r["n_new"])
        for r in _ivf_occupancy_split(spark, path).collect()
    }
    batch_occ_new = {
        r["cell"]: r["n"]
        for r in _ivf_assign(arrivals.transform(_with_norm_passthrough), centroids)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {c: n for c, (_b, n) in occ.items() if n} == {
        c: n for c, n in batch_occ_new.items() if n
    }
    # per-VECTOR equality, not just per-cell counts: the stream-grown
    # artifact must hold the identical (vec_id -> cell) assignment the
    # batch path would produce, so any probe over it returns the same
    # neighbors byte-for-byte
    from kinesis2sse_spark.queries.llm_similarity import _IVF_ASSIGNED_SCHEMA

    stream_pairs = {
        (r["vec_id"], r["cell"])
        for r in spark.read.schema(_IVF_ASSIGNED_SCHEMA)
        .parquet(path)
        .filter(F.col("vec_id") >= IVF_APPEND_SPLIT)
        .select("vec_id", "cell")
        .collect()
    }
    batch_pairs = {
        (r["vec_id"], r["cell"])
        for r in _ivf_assign(arrivals.transform(_with_norm_passthrough), centroids)
        .select("vec_id", "cell")
        .collect()
    }
    assert stream_pairs == batch_pairs


def load_table_embeddings(spark, sf_dir):
    from kinesis2sse_spark.catalog import load_table

    return load_table(spark, sf_dir, "embeddings")


def _with_norm_passthrough(df):
    from kinesis2sse_spark.queries.llm_similarity import _with_norm

    return _with_norm(df)


def test_session_dedup_carryover_and_reset(spark):
    """Session-scoped dedup across micro-batches: a repeat of the same
    event_type WITHIN the open session (arriving in a later batch)
    flags as duplicate; after the session closes (gap exceeded) the
    seen-set resets and the same type passes again; and the state row
    for a key whose sessions all closed is purged (event-time timeout,
    like the sessionizer)."""
    import time

    from kinesis2sse_spark.streaming.state import with_session_dedup

    d = staged_batch_dir("sessdedup")
    schema = "user_id long, event_id long, event_type string, ts timestamp"
    _write_batch(
        spark, d, "b0",
        [(1, 10, "click", _ts("2024-01-01 10:00:00"))],
        schema,
    )
    time.sleep(1.1)
    # same type, same open session (20 min gap), DIFFERENT batch -> dup;
    # different type in same session -> pass
    _write_batch(
        spark, d, "b1",
        [
            (1, 11, "click", _ts("2024-01-01 10:20:00")),
            (1, 12, "view", _ts("2024-01-01 10:25:00")),
            (2, 20, "click", _ts("2024-01-01 20:00:00")),
        ],
        schema,
    )
    time.sleep(1.1)
    # user 1 returns past the gap: new session -> 'click' passes again.
    # user 2's 20:00 event advances nothing; 23:00 arrival pushes the
    # watermark (2 h) past user 1's first sessions
    _write_batch(
        spark, d, "b2",
        [
            (1, 13, "click", _ts("2024-01-01 11:30:00")),
            (2, 21, "click", _ts("2024-01-01 23:00:00")),
        ],
        schema,
    )
    time.sleep(1.1)
    # one more batch so the watermark (21:00 after b2) timeout-purges
    # user 1's state even though user 1 got no more data
    _write_batch(
        spark, d, "b3",
        [(2, 22, "view", _ts("2024-01-01 23:30:00"))],
        schema,
    )
    s = _read_stream(spark, d, schema).withWatermark("ts", "2 hours")
    out, progresses = _run_collect_progress(
        spark, with_session_dedup(s), "t_sessdedup", "append"
    )
    verdicts = {r["event_id"]: r["is_dup"] for r in out.collect()}
    assert verdicts == {
        10: False,  # first click of session 1
        11: True,   # repeat click, same session, cross-batch state
        12: False,  # different type, same session
        13: False,  # click again, NEW session -> seen-set reset
        20: False,
        21: False,  # user 2, next day session
        22: False,
    }, verdicts
    rows = _state_rows_by_batch(progresses)
    # b1: users 1 and 2 both hold open sessions. b2: the watermark is
    # already 18:00 (b1's 20:00 - 2h), so user 1's 11:30 session is
    # purged IN ITS OWN data batch right after its verdict emits —
    # the data-batch purge path — leaving only user 2; b3 stays at 1
    # (the idle-key timeout path is pinned in
    # test_session_state_evicts_data_batch_and_idle_timeout)
    assert rows[1] == 2, rows
    assert rows[2] == 1, rows
    assert rows[3] == 1, rows


def test_quantile_histogram_accumulates_across_batches(spark):
    """The streaming histogram's per-bucket counts must accumulate
    across micro-batches (update-mode state), and the sink-side max_by
    compaction must keep the LATEST count per bucket — a per-batch
    histogram would report batch-local percentiles."""
    import time

    from kinesis2sse_spark.queries.streaming_queries import _latest_per_key

    d = staged_batch_dir("qhist_acc")
    schema = "event_type string, value double"
    _write_batch(
        spark, d, "b0",
        [("x", 1.5), ("x", 1.7), ("x", 9.2)], schema,
    )
    time.sleep(1.1)
    _write_batch(
        spark, d, "b1",
        [("x", 1.1), ("x", 9.9), ("x", 99.0)], schema,
    )
    s = _read_stream(spark, d, schema)
    agg = s.groupBy(
        "event_type", F.floor("value").cast("bigint").alias("bucket")
    ).agg(F.count("*").alias("n"))
    out = run_to_memory(agg, "t_qhist_acc", "update", shuffle_partitions=4)
    hist = {
        (r["event_type"], r["bucket"]): r["n"]
        for r in _latest_per_key(out, ["event_type", "bucket"], ["n"]).collect()
    }
    # bucket 1 saw rows in BOTH batches -> compacted count is 3, not 1/2
    assert hist == {("x", 1): 3, ("x", 9): 2, ("x", 99): 1}, hist


def test_stream_staging_handles_directory_fixtures(spark, tmp_path):
    """The r11 hollow-curve bug: a fixture written by Spark is a
    DIRECTORY named <table>.parquet, and FileStreamSource does not
    recurse through a symlinked directory — the stream silently listed
    ZERO files, so a scale-curve run measured an empty pipeline while
    reporting success. Staging must fan directory targets out to
    per-part-file symlinks; both fixture shapes must stream the same
    rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kinesis2sse_spark.streaming.source import embeddings_stream

    rows = [(i, [float(i)] * 4, i % 3) for i in range(20)]

    # single-FILE fixture (the driver-fixture shape)
    d1 = tmp_path / "file_shape"
    d1.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        ),
        str(d1 / "embeddings.parquet"),
    )
    # DIRECTORY fixture (the Spark-written scale-curve shape, 2 parts)
    d2 = tmp_path / "dir_shape"
    d2.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).repartition(2).write.parquet(str(d2 / "embeddings.parquet"))

    got = {}
    for name, d in (("file", d1), ("dir", d2)):
        out = run_to_memory(
            embeddings_stream(spark, str(d)).select("vec_id"),
            f"t_stage_{name}",
            "append",
        )
        got[name] = sorted(r["vec_id"] for r in out.collect())
    assert got["file"] == got["dir"] == list(range(20)), {
        k: len(v) for k, v in got.items()
    }


def test_stream_staging_invalidates_on_regenerated_fixture(spark, tmp_path):
    """r11 advice: the staged-dir marker was keyed only on the sf_dir
    PATH, so a regenerated directory fixture (Spark overwrite writes new
    part filenames) kept dangling symlinks and missed new parts. The
    marker now fingerprints the sorted part list + mtimes; restaging
    after a rewrite must list exactly the new parts."""
    import os

    from kinesis2sse_spark.streaming.source import _stage_links

    d = tmp_path / "regen"
    d.mkdir()
    src = str(d / "events.parquet")

    def _write(n_rows, n_parts):
        spark.range(n_rows).selectExpr(
            "id AS event_id",
            "timestamp_micros(cast(id * 1000000 as long)) AS ts",
            "id % 3 AS user_id",
            "'a' AS event_type",
            "cast(id as double) AS value",
            "'{}' AS props",
        ).repartition(n_parts).write.mode("overwrite").parquet(src)

    _write(10, 2)
    staged = _stage_links(str(d), "events")
    first = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(first) == 2 and all(
        os.path.exists(os.path.join(staged, f)) for f in first
    )

    _write(30, 3)  # overwrite: new part filenames, old ones gone
    staged2 = _stage_links(str(d), "events")
    second = sorted(f for f in os.listdir(staged2) if f.endswith(".parquet"))
    assert len(second) == 3, second
    assert all(os.path.exists(os.path.join(staged2, f)) for f in second), (
        "dangling symlink survived restaging"
    )


def test_per_route_offsets_carry_across_batches(spark):
    """Per-route offset counters must be independent AND contiguous
    across micro-batches: each route resumes from its own counter, and
    a route absent from a batch is unaffected."""
    import time

    from kinesis2sse_spark.streaming.state import with_streaming_offsets_per_route

    d = staged_batch_dir("route_off")
    schema = "event_id long, event_type string"
    _write_batch(
        spark, d, "b0",
        [(3, "a"), (1, "a"), (2, "b")], schema,
    )
    time.sleep(1.1)
    _write_batch(
        spark, d, "b1",
        [(5, "a"), (4, "c")], schema,
    )
    s = _read_stream(spark, d, schema)
    out = run_to_memory(
        with_streaming_offsets_per_route(s), "t_route_off", "append",
        shuffle_partitions=4,
    )
    got = {r["event_id"]: (r["event_type"], r["offset"]) for r in out.collect()}
    assert got == {
        1: ("a", 0),  # within-batch order by event_id
        3: ("a", 1),
        2: ("b", 0),  # independent counter
        5: ("a", 2),  # route a RESUMES at 2 in batch 2
        4: ("c", 0),  # new route starts at 0
    }, got


def test_contribution_cap_carries_across_batches(spark):
    """The per-user cap is a stream-lifetime bound: a user who used
    part of the cap in batch 1 gets only the REMAINDER in batch 2, and
    a fresh user in batch 2 starts from zero. Cap = 4 (PRIV_USER_CAP)."""
    import os
    import time

    from kinesis2sse_spark.queries.privacy import PRIV_USER_CAP
    from kinesis2sse_spark.streaming.state import with_contribution_cap

    d = staged_batch_dir("contrib_cap")
    schema = "user_id long, event_id long, event_type string, ts timestamp, v long"
    b0 = [(1, i, "a", _ts("2024-01-01 10:00:00"), 10) for i in range(3)]
    _write_batch(spark, d, "b0", b0, schema)
    time.sleep(1.1)
    # user 1 arrives with 3 more (only 1 slot left), user 2 with 2 (fresh)
    b1 = [(1, 10 + i, "a", _ts("2024-01-01 11:00:00"), 10) for i in range(3)]
    b1 += [(2, 20 + i, "a", _ts("2024-01-01 11:00:00"), 10) for i in range(2)]
    _write_batch(spark, d, "b1", b1, schema)

    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "*"))
    )
    out = run_to_memory(
        with_contribution_cap(s, PRIV_USER_CAP),
        "t_contrib_cap",
        "append",
        shuffle_partitions=4,
    )
    kept = {
        r["user_id"]: sorted(x["event_id"] for x in out.collect()
                             if x["is_kept"] and x["user_id"] == r["user_id"])
        for r in out.select("user_id").distinct().collect()
    }
    # user 1: all 3 from b0 + exactly ONE from b1 (the lowest event_id
    # at the same ts); user 2: both kept
    assert kept[1] == [0, 1, 2, 10], kept
    assert kept[2] == [20, 21], kept
    assert out.count() == 8  # every event emitted, flagged


def test_rate_limit_carries_across_batches_and_windows(spark):
    """The (user, window) admission counter is window-scoped and
    carries across micro-batches: a user who used part of a day's
    quota in batch 1 gets only the remainder in batch 2; the SAME
    user's other day has an independent counter; a fresh user starts
    from zero. Cap = RATE_CAP (3)."""
    import os
    import time

    from pyspark.sql import functions as F

    from kinesis2sse_spark.queries.streaming_queries import RATE_CAP, RATE_WIN_S
    from kinesis2sse_spark.streaming.state import with_rate_limit

    d = staged_batch_dir("rate_limit")
    schema = "user_id long, event_id long, ts timestamp"
    day0, day1 = _ts("2024-01-01 10:00:00"), _ts("2024-01-02 10:00:00")
    b0 = [(1, 0, day0), (1, 1, day0), (1, 100, day1)]
    _write_batch(spark, d, "b0", b0, schema)
    time.sleep(1.1)
    b1 = [(1, 2, day0), (1, 3, day0)] + [(2, 20 + i, day0) for i in range(4)]
    _write_batch(spark, d, "b1", b1, schema)

    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "*"))
        .withWatermark("ts", "1 hour")
        .withColumn(
            "win_start",
            F.expr(
                f"CAST(unix_micros(ts) div {RATE_WIN_S * 1_000_000} AS BIGINT)"
                f" * {RATE_WIN_S}"
            ),
        )
    )
    out = run_to_memory(
        with_rate_limit(s, RATE_CAP, RATE_WIN_S),
        "t_rate_limit",
        "append",
        shuffle_partitions=4,
    )
    rows = out.collect()
    admitted = sorted(r["event_id"] for r in rows if r["is_admitted"])
    # user 1 day0: 0,1 from b0 + exactly ONE of (2,3) from b1 (lowest
    # event_id at equal ts); user 1 day1: independent counter, admitted;
    # user 2 day0: first 3 of 4
    assert admitted == [0, 1, 2, 20, 21, 22, 100], admitted
    assert len(rows) == 9  # every event emitted, flagged
