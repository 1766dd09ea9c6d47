"""Table loaders for the shared parquet fixtures (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an sf dir.
Loading stays lazy; Catalyst pushes filters/projections into the scan.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS); a vanilla SparkSession
        # (e.g. the correctness driver's) rejects it outright unless nanos
        # are surfaced as long. Runtime-settable, so set it here rather
        # than relying on session.py's builder config.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) parquet read as long (nanosAsLong); truncate to
        # µs exactly like the DuckDB oracle does. Integer division — a
        # double round-trip would lose precision at 1.7e18 ns.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # normalize TIMESTAMP_NTZ parquet columns to the session-TZ timestamp
    # type: wall-clock values are identical under UTC, and output schemas
    # stay uniform with the DuckDB oracle's TIMESTAMP
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def fixture_fingerprint(sf_dir: str, table: str) -> str:
    """12-hex CONTENT fingerprint of ``<sf_dir>/<table>.parquet`` —
    absolute path + sorted part list + mtimes: a regenerated fixture
    (Spark overwrite writes new part filenames/mtimes) or a different
    tree sharing a basename yields a different fingerprint. Keys every
    build-if-absent scratch cache (scratch_cache) so a rebuilt corpus
    is never served a stale artifact."""
    import hashlib

    src = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(src):
        parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        payload = repr(
            [(f, os.path.getmtime(os.path.join(src, f))) for f in parts]
        )
    else:
        payload = repr(os.path.getmtime(src))
    return hashlib.md5(
        f"{os.path.abspath(src)}|{payload}".encode()
    ).hexdigest()[:12]


# Every scratch directory the package writes (staged streams, round-trip
# sinks, archive lakes, prebuilt artifacts) lives under the system temp
# directory — tempfile.gettempdir(), which honours TMPDIR — so a run can
# be confined to its own work directory without any further setting.


def _sf_base(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir)) or "sf"


def scratch_cache(
    kind: str, sf_dir: str, table: str, build: Callable[[str], None] | None = None
) -> str:
    """Content-keyed scratch directory
    ``<tmp>/k2s_<kind>/<basename(sf_dir)>-<fixture_fingerprint>`` for an
    artifact derived from ``<sf_dir>/<table>.parquet``; new fixture
    content → new path → rebuild. With ``build``, an absent directory
    is built by ``build(d)`` into a sibling and renamed into place, so
    a half-built one is never served. Without it, the caller's writer
    creates the path and owns its completion marker (Spark's
    _SUCCESS)."""
    path = os.path.join(
        tempfile.gettempdir(),
        f"k2s_{kind}",
        f"{_sf_base(sf_dir)}-{fixture_fingerprint(sf_dir, table)}",
    )
    if build is not None and not os.path.isdir(path):
        part = f"{path}.part{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        os.makedirs(part)
        build(part)
        try:
            os.rename(part, path)
        except OSError:  # a concurrent caller renamed its copy first
            shutil.rmtree(part, ignore_errors=True)
    return path


def scratch_fresh(kind: str, sf_dir: str | None = None) -> str:
    """Empty scratch directory ``<tmp>/k2s_<kind>`` (suffixed
    ``_<basename(sf_dir)>`` when given), emptied on every call so
    nothing a previous run left there can be read back."""
    name = f"k2s_{kind}_{_sf_base(sf_dir)}" if sf_dir else f"k2s_{kind}"
    path = os.path.join(tempfile.gettempdir(), name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition ONLY when the scan yields fewer partitions than the
    session's parallelism — a small single-file input otherwise pins the
    whole map side (expensive per-row expressions like shingling) onto
    one core. At real scale the scan already has >= cores partitions and
    this is a no-op, so no shuffle is added where it would hurt."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each fixture table as a temp view so SQL-form queries run
    against the same names the DuckDB oracle pre-registers."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def pin_cache(df: DataFrame) -> DataFrame:
    """persist + eager count as ONE primitive — the connected_components
    rule (PERF.md rounds 8-9): a persist() consumed by two or more
    independent branches of one action must be POPULATED before the
    consumers' stages launch, or they race the empty cache and compute
    the subtree concurrently ("Block rdd_N_M already exists" is the
    tell; tools/sweep_oracles.py fails the sweep on it). Use via
    ``df.transform(pin_cache)`` exactly where ``.persist(...)`` would
    have been chained.

    Consequence for callers: building a query that goes through
    pin_cache is NOT lazy — the eager count() runs real jobs at
    DataFrame-construction time, and the pinned MEMORY_AND_DISK
    relation lives until unpersist/clearCache/session teardown. Any
    driver that constructs many queries in one session
    (tools/sweep_oracles.py, tools/dump_plans.py, plan tests) must
    ``spark.catalog.clearCache()`` between queries or it accumulates
    every pinned relation for the session lifetime."""
    from pyspark import StorageLevel

    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df
