"""Stream-source abstraction — the equivalent of the reference's
``disableKCL`` injection seam (service.go:34-35): production wires a
Kinesis-style source, tests wire file/memory sources, and every operator
downstream sees the same streaming DataFrame shape.

OSS PySpark has no first-party Kinesis connector, so the Kinesis source
is isolated behind this abstraction and raises until a connector jar is
provided (SURVEY.md §7 M4). Kafka would slot in the same way.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis2sse_spark.catalog import scratch_cache, scratch_fresh


def _events_schema(ts_is_nanos: bool) -> T.StructType:
    """FileStreamSource needs an explicit schema. The ts field's type
    depends on the fixture's physical parquet type: TIMESTAMP(NANOS)
    surfaces as long under spark.sql.legacy.parquet.nanosAsLong (the
    batch catalog sets it), TIMESTAMP(MICROS) reads natively."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType() if ts_is_nanos else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


@functools.lru_cache(maxsize=None)
def _events_ts_is_nanos(sf_dir: str) -> bool:
    """Read the fixture's parquet footer ONCE per sf_dir (driver-side,
    metadata only) to learn ts's physical type — the same guard the batch
    catalog applies via df.dtypes (catalog.py:42), so stream and batch
    reads of the same fixture can never disagree on the time unit."""
    import pyarrow.parquet as pq

    field = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts")
    return str(field.type) == "timestamp[ns]"


def _stage_links(sf_dir: str, table: str) -> str:
    """FileStreamSource needs a *directory* of leaf files; stage
    symlinks to <sf_dir>/<table>.parquet in a scratch directory keyed
    by the fixture's content fingerprint (catalog.scratch_cache), so a
    regenerated fixture (Spark overwrite writes new part filenames)
    gets a fresh stage instead of dangling symlinks. The fixture may be
    a single FILE (the driver fixtures) or a Spark-written DIRECTORY
    (the scale-curve corpora) — FileStreamSource does NOT recurse
    through a symlinked directory (it silently lists zero files), so
    directory targets fan out to one symlink per part-file."""
    src = os.path.join(sf_dir, f"{table}.parquet")

    def build(d: str) -> None:
        if os.path.isdir(src):
            parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
            for i, f in enumerate(parts):
                os.symlink(os.path.join(src, f), os.path.join(d, f"part_{i}.parquet"))
        else:
            os.symlink(src, os.path.join(d, f"{table}.parquet"))

    return scratch_cache(f"stream_{table}", sf_dir, table, build)


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based streaming source over the events table, applying the
    same unit conversion the batch catalog does — ns→µs truncation ONLY
    when the parquet physically stores TIMESTAMP(NANOS); a µs fixture is
    read as a native timestamp with no arithmetic."""
    ts_is_nanos = _events_ts_is_nanos(sf_dir)
    reader = spark.readStream.schema(_events_schema(ts_is_nanos))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(_stage_links(sf_dir, "events"))
    if ts_is_nanos:
        # integer division, exactly like catalog.py:46 — a double
        # round-trip would lose precision at 1.7e18 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


EMBEDDINGS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def embeddings_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    staged_dir: str | None = None,
) -> DataFrame:
    """File-based streaming source over the embeddings table with a
    synthetic, deterministic event time (the fixture carries none):
    ts = 2026-01-01T00:00:00Z + vec_id seconds — strictly increasing,
    so arrival order models ingest order. ``staged_dir`` lets tests
    feed hand-written files for controlled multi-batch arrival."""
    reader = spark.readStream.schema(EMBEDDINGS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(staged_dir or _stage_links(sf_dir, "embeddings"))
    from kinesis2sse_spark.streaming.dedup import DEDUP_TS_BASE

    return df.withColumn(
        "ts", F.timestamp_seconds(F.lit(DEDUP_TS_BASE) + F.col("vec_id"))
    )


DOCUMENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def documents_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    staged_dir: str | None = None,
) -> DataFrame:
    """File-based streaming source over the documents table with the
    same synthetic deterministic event time as embeddings_stream
    (ts = 2026-01-01T00:00:00Z + doc_id seconds)."""
    d = staged_dir or _stage_links(sf_dir, "documents")
    reader = spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(d)
    from kinesis2sse_spark.streaming.dedup import DEDUP_TS_BASE

    return df.withColumn(
        "ts", F.timestamp_seconds(F.lit(DEDUP_TS_BASE) + F.col("doc_id"))
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Built-in rate source — synthetic (timestamp, value) rows, used for
    liveness tests of the serving layer."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def staged_batch_dir(name: str) -> str:
    """Empty staging directory for tests that feed a stream file-by-file
    (deterministic multi-batch arrival with maxFilesPerTrigger=1)."""
    return scratch_fresh(f"stage_{name}")


def kafka_start_options(start) -> dict[str, str]:
    """Map a resolved start position (S2) to Kafka source options —
    the reference's initial-position seek (kinesis2sse.go:117-126)
    translated to the broker Spark can actually talk to:

    - "latest" → startingOffsets=latest (only new records);
    - "trim_horizon" → startingOffsets=earliest (full replay);
    - datetime → native broker-side ``startingTimestamp`` (ms since
      epoch, the AT_TIMESTAMP seek), with
      startingOffsetsByTimestampStrategy=latest so an idle partition
      with no record at/after the instant starts at its end instead of
      failing the query.

    A timestamp start must NEVER map to startingOffsets=latest: every
    record between the requested instant and service start would be
    skipped broker-side, and no scan-side event-time filter can recover
    rows the seek never read."""
    from datetime import datetime, timezone

    if isinstance(start, datetime):
        if start.tzinfo is None:
            start = start.replace(tzinfo=timezone.utc)  # naive ≡ UTC by convention
        return {
            "startingTimestamp": str(int(start.timestamp() * 1000)),
            "startingOffsetsByTimestampStrategy": "latest",
        }
    return {"startingOffsets": "earliest" if start == "trim_horizon" else "latest"}


def kafka_stream(
    spark: SparkSession, bootstrap_servers: str, topic: str, start="latest"
) -> DataFrame:
    """Kafka source through the same seam: returns the raw ``value`` bytes
    column shape ``parse_envelope`` consumes. ``start`` is a resolved
    position — "latest" | "trim_horizon" | datetime (see
    kafka_start_options). The kafka-sql connector jar ships with Spark
    distributions but needs a broker; tests use the file source through
    the identical downstream path."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
    )
    for k, v in kafka_start_options(start).items():
        reader = reader.option(k, v)
    return reader.load().select("value")


def kinesis_start_options(start) -> dict[str, str]:
    """Resolve a start position (S2) to the Kinesis connector's
    starting-position option — the reference's seek verbatim
    (kinesis2sse.go:117-126: LATEST | TRIM_HORIZON |
    AT_TIMESTAMP via WithTimestampAtInitialPositionInStream):

    - "latest" → LATEST (only records appended after start);
    - "trim_horizon" → TRIM_HORIZON (full retained replay);
    - datetime → AT_TIMESTAMP with the instant in ms since epoch.

    Returned under the canonical keys ``startingPosition`` /
    ``startingTimestamp``; connectors that spell them differently
    (lowercase, ``kinesis.``-prefixed) remap via the ``option_names``
    parameter of kinesis_stream. Like the Kafka mapping, a timestamp
    start must never degrade to LATEST — the records between the
    requested instant and service start exist only broker-side."""
    from datetime import datetime, timezone

    if isinstance(start, datetime):
        if start.tzinfo is None:
            start = start.replace(tzinfo=timezone.utc)  # naive ≡ UTC by convention
        return {
            "startingPosition": "AT_TIMESTAMP",
            "startingTimestamp": str(int(start.timestamp() * 1000)),
        }
    return {
        "startingPosition": "TRIM_HORIZON" if start == "trim_horizon" else "LATEST"
    }


# Data-driven option-name remaps for the common Kinesis connectors —
# the canonical keys this module emits (streamName / region /
# startingPosition / startingTimestamp) renamed to each connector's
# spelling. A jar-holder wires production with ONE argument:
#   kinesis_stream(..., source_format="aws-kinesis",
#                  option_names=KINESIS_OPTION_PRESETS["aws-kinesis"])
# The presets are data, not code: if an installed connector release
# spells an option differently, override the dict entry — and confirm
# against that release's docs, since third-party spellings are outside
# this repo's test reach (tests pin OUR remap output, not the
# connector's acceptance of it).
KINESIS_OPTION_PRESETS: dict[str, dict[str, str]] = {
    # awslabs spark-sql-kinesis-connector (format "aws-kinesis"):
    # every option rides a "kinesis." prefix
    "aws-kinesis": {
        "streamName": "kinesis.streamName",
        "region": "kinesis.region",
        "startingPosition": "kinesis.startingPosition",
        "startingTimestamp": "kinesis.startingTimestamp",
    },
    # AWS Glue streaming (format "kinesis"): unprefixed camelCase,
    # stream addressed by ARN rather than name
    "glue-kinesis": {
        "streamName": "streamARN",
        "region": "region",
        "startingPosition": "startingPosition",
        "startingTimestamp": "startingTimestamp",
    },
}


def kinesis_stream(
    spark: SparkSession,
    stream_name: str,
    region: str,
    start="latest",
    source_format: str | None = None,
    option_names: dict[str, str] | str | None = None,
    **options,
):
    """Kinesis source through the same seam as events_stream/kafka_stream
    — reference operators S1/S2 (kinesis2sse.go:110-126). OSS PySpark
    ships no Kinesis connector jar, so this builds the full reader spec
    (format, streamName, region, resolved starting position) and only
    then requires a connector: pass ``source_format`` (e.g.
    "aws-kinesis") once a connector jar is on the classpath, plus
    ``option_names`` to remap canonical option keys to that connector's
    spelling — either a dict, or a KINESIS_OPTION_PRESETS key
    ("aws-kinesis", "glue-kinesis"). Without a format it raises, and
    tests pin the option mapping via kinesis_start_options and both
    presets."""
    opts = {"streamName": stream_name, "region": region}
    opts.update(kinesis_start_options(start))
    opts.update(options)
    if isinstance(option_names, str):
        if option_names not in KINESIS_OPTION_PRESETS:
            raise ValueError(
                f"unknown option_names preset {option_names!r}; valid "
                f"presets: {sorted(KINESIS_OPTION_PRESETS)} (or pass a "
                "dict mapping canonical option keys to the connector's "
                "spelling)"
            )
        option_names = KINESIS_OPTION_PRESETS[option_names]
    if option_names:
        opts = {option_names.get(k, k): v for k, v in opts.items()}
    if source_format is None:
        raise NotImplementedError(
            "No Kinesis connector jar on the classpath; pass source_format= "
            "for an installed connector, or use events_stream() (file "
            "source) / kafka_stream() through the same seam. Resolved "
            f"options: {opts}"
        )
    reader = spark.readStream.format(source_format)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
    no_data_batches: bool | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame to completion into an in-memory sink
    and return the materialized result — the synchronous harness used by
    registry queries and tests (processAllAvailable = all staged input).

    ``shuffle_partitions`` pins the stateful-operator partition count for
    THIS query (captured at start, restored after). Size it to the state
    cardinality, not the core count: every state partition carries a
    store + checkpoint per micro-batch, so a bounded-cardinality window
    agg with 32 stores pays ~2x the per-batch overhead of 4 doing the
    same work. At real scale (large keyspaces) leave it unset.

    ``no_data_batches=False`` disables the trailing empty micro-batch
    Spark runs after the last data batch to advance eviction. It is
    OUTPUT-INVARIANT for operators whose emissions all happen on data
    batches — update-mode window aggregates (watermark eviction drops
    state silently, never emits) and stateful fns that emit per update
    and use timeouts only to PURGE state — and saves one full
    state-store checkpoint cycle per query (~30% of a short run). Leave
    unset (Spark default: on) for APPEND-mode window aggregates and any
    stateful fn that EMITS on timeout: there the no-data batch is what
    flushes finalized results."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if no_data_batches is not None:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled",
            str(no_data_batches).lower(),
        )
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if no_data_batches is not None:
            spark.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb
            )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(name)
