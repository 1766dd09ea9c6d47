"""SparkSession construction tuned for both local testing and cluster scale.

Local mode is a single JVM with N executor threads; on a real cluster the
same configs hold — AQE handles skew/coalesce at runtime, Arrow speeds the
Python boundary, and UTC pins timestamp semantics for oracle comparison.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "kinesis2sse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing + skew-join splitting means the
      same plan survives a 100x scale-up without retuning.
    - ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound;
      locally we match core count instead of the 200 default.
    - Arrow on: every Pandas-UDF boundary is vectorized.
    - Session timezone UTC: parquet timestamps compare bit-for-bit with
      the DuckDB oracle.
    - Streaming checkpoint files (offset, commit and file-source logs,
      state stores) are written through Hadoop's ``FileSystem``, not
      ``FileContext``, which forks processes on every write to a
      ``file:`` path when native libhadoop is absent.
    """
    # Python workers don't inherit the driver's sys.path — a UDF closure
    # that references any module-level helper (e.g. the canonical-JSON
    # pandas UDF) deserializes by module reference and dies with
    # ModuleNotFoundError unless the package is importable worker-side.
    # Local mode: export the repo root on PYTHONPATH before the JVM (and
    # its worker daemon) launches. Cluster mode: ship the package with
    # --py-files / addPyFile or install it on executors as usual.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns type, so
        # read as long and convert to µs in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Without native libhadoop, FileContext on file: paths forks a
        # `chmod` per create and two `readlink`s per rename, three files
        # a micro-batch (offsets/N, commits/N, sources/0/N). The
        # FileSystem manager renames with File.renameTo after the same
        # destination check, and is Spark's own pick for any filesystem
        # without an AbstractFileSystem; on HDFS its rename is atomic too.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
