"""Source/sink coverage beyond parquet: CSV, JSON, and ORC round-trips
(write the fixture out in the target format to a scratch directory
under the system temp directory, read it back, aggregate) — verifying
both the reader and the writer against an oracle that only ever sees
the original parquet. Plus the canonical-JSON (P2) projection checked
against the oracle's text-level normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis2sse_spark.catalog import load_table, scratch_fresh
from kinesis2sse_spark.registry import register

_ORACLE_ORDERS_AGG = """
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus
"""


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str, **write_opts) -> DataFrame:
    src = load_table(spark, sf_dir, "orders")
    path = scratch_fresh(f"rt_{fmt}", sf_dir)
    writer = src.write.mode("overwrite").format(fmt)
    for k, v in write_opts.items():
        writer = writer.option(k, v)
    writer.save(path)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", True).schema(src.schema)
    elif fmt == "json":
        reader = reader.schema(src.schema)
    back = reader.load(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@register("source_csv_roundtrip", oracle=_ORACLE_ORDERS_AGG)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source (explicit schema — never inferSchema at scale)."""
    return _roundtrip(spark, sf_dir, "csv", header=True)


@register("source_json_roundtrip", oracle=_ORACLE_ORDERS_AGG)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source with explicit schema."""
    return _roundtrip(spark, sf_dir, "json")


@register("source_orc_roundtrip", oracle=_ORACLE_ORDERS_AGG)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source — second columnar format, same pushdown story."""
    return _roundtrip(spark, sf_dir, "orc")


@register("sink_partitioned_parquet", oracle=_ORACLE_ORDERS_AGG)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink (partitionBy month) read back with
    partition pruning available — the layout a 100 TB table actually uses."""
    src = load_table(spark, sf_dir, "orders")
    path = scratch_fresh("rt_part", sf_dir)
    out = src.withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
    out.write.mode("overwrite").partitionBy("month").parquet(path)
    # read back with the WRITTEN schema: a zero-row input (empty
    # micro-batch / filtered-out partition) leaves no part files, and
    # schema inference over the bare directory throws — the sink must
    # round-trip empty relations too
    back = spark.read.schema(out.schema).parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@register(
    "envelope_canonical_json",
    oracle="""
    SELECT event_id, replace(props, '": ', '":') AS canonical
    FROM events WHERE props IS NOT NULL
    """,
)
def envelope_canonical_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 at fixture scale: canonical key-sorted compact JSON of props via
    the pandas UDF (record_processor.go:84-88). The oracle normalizes the
    fixture's single-key '{"k": N}' shape textually — byte-equality here
    proves the UDF output matches Go's json.Marshal form."""
    from kinesis2sse_spark.pipeline.envelope import canonical_json

    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("props").isNotNull()).select(
        "event_id", canonical_json(F.col("props")).alias("canonical")
    )
