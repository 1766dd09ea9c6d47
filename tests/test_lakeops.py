"""Lake-layout operators: the z-order file-skipping payoff, measured on
real parquet files, and the dynamic-partition-pruning plan-lock for
partition-layout joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis2sse_spark.catalog import load_table
from kinesis2sse_spark.queries.lakeops import zorder_value
from tests.conftest import SF_CORRECTNESS


def _per_file_bounds(spark, path):
    """Per output file: the (x, y) bounding rectangle — what parquet
    footer min/max stats can prune against."""
    df = spark.read.parquet(path).withColumn("f", F.input_file_name())
    rows = (
        df.groupBy("f")
        .agg(
            F.min("x").alias("x0"),
            F.max("x").alias("x1"),
            F.min("y").alias("y0"),
            F.max("y").alias("y1"),
        )
        .collect()
    )
    return [(r.x0, r.x1, r.y0, r.y1) for r in rows]


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    """A z-ordered range-partitioned write clusters BOTH dimensions:
    each file's (x, y) bounding rectangle is small, so a 2-D point or
    box predicate prunes most files via footer stats alone. A 1-D sort
    layout bounds only its sort column — the other dimension's span
    stays near-full in every file, so y-predicates scan everything.
    This is the read-side payoff the layout_zorder query's key buys."""
    pts = load_table(spark, SF_CORRECTNESS, "orders").select(
        (F.col("o_custkey") % 256).alias("x"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
            % 256
        ).cast("long").alias("y"),
    )
    n_files = 16

    zpath = str(tmp_path / "zorder_layout")
    z = pts.withColumn("zv", zorder_value(F.col("x"), F.col("y")))
    (
        z.repartitionByRange(n_files, "zv")
        .sortWithinPartitions("zv")
        .drop("zv")
        .write.mode("overwrite")
        .parquet(zpath)
    )

    xpath = str(tmp_path / "xsort_layout")
    (
        pts.repartitionByRange(n_files, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(xpath)
    )

    z_bounds = _per_file_bounds(spark, zpath)
    x_bounds = _per_file_bounds(spark, xpath)
    assert len(z_bounds) >= n_files // 2 and len(x_bounds) >= n_files // 2

    # The x-sorted layout bounds x tightly too (256 distinct values /
    # 16 files), so an x-predicate prunes under EITHER layout. The
    # z-order win is the OTHER dimension: against `y < 32` (a date-range
    # scan when the sort key is customer), footer stats prune z-order
    # files whose y-range misses the window, while the x-sorted files
    # all span essentially the full y domain — zero files prune.
    def prunable_for_y_window(bounds, lo=0, hi=31):
        return sum(1 for _, _, y0, y1 in bounds if y1 < lo or y0 > hi)

    z_pruned = prunable_for_y_window(z_bounds)
    x_pruned = prunable_for_y_window(x_bounds)
    assert x_pruned == 0, x_bounds
    assert z_pruned >= len(z_bounds) // 2, (z_pruned, z_bounds)


def test_partition_join_uses_dynamic_partition_pruning(spark, tmp_path):
    """Plan-lock: joining a date-partitioned fact against a filtered dim
    on the partition column injects a dynamicpruning subquery into the
    fact scan — at 100 TB this is the difference between scanning 7
    partitions and scanning 2,500. (Spark's DPP fires when the filtered
    dim side broadcasts and the join key is a partition column.)"""
    path = str(tmp_path / "dpp_fact")
    (
        load_table(spark, SF_CORRECTNESS, "orders")
        .withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, SF_CORRECTNESS, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .distinct()
        .where(F.col("month") >= "1997-01")
    )
    joined = fact.join(F.broadcast(dim), "month").groupBy("month").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result is consistent with a plain filter
    expect = (
        fact.where(F.col("month") >= "1997-01").groupBy("month").count().collect()
    )
    got = joined.collect()
    assert sorted((r.month, r["count"]) for r in got) == sorted(
        (r.month, r["count"]) for r in expect
    )


def test_shuffle_join_injects_bloom_runtime_filter(spark):
    """Plan-lock: when a selective dim side feeds a shuffle join, Spark
    injects a bloom_filter_agg on the dim keys and semi-filters the fact
    scan BEFORE the shuffle — at 100 TB this drops most of the shuffle
    write for a 1%-selective dim filter. The injection is gated by size
    thresholds meant for cluster scale (application side >= 10 GB), so
    the test lowers them to exercise the rule on sf0.01; production
    keeps the defaults and the rule fires exactly when it pays off."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_CORRECTNESS, "lineitem")
        o = load_table(spark, SF_CORRECTNESS, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloomfilter" in plan.lower().replace("_", ""), plan[:2000]
        rows = j.collect()
        assert len(rows) == 1 and rows[0]["count"] > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_merge_diff_round_trip(spark):
    """merge_snapshot and snapshot_diff are inverses: applying the
    extracted diff to the base reproduces the new snapshot exactly
    (row-for-row, checked with exceptAll both ways), and the diff is
    MINIMAL — every emitted row differs (re-diffing the merged result
    against new yields zero rows)."""
    from kinesis2sse_spark.queries.lakeops import merge_snapshot, snapshot_diff

    base = load_table(spark, SF_CORRECTNESS, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    new = (
        base.where(F.col("c_custkey") % 10 != 6)
        .select(
            "c_custkey",
            "c_name",
            F.when(F.col("c_custkey") % 10 == 3, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            base.where(F.col("c_custkey") % 100 == 7).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.concat(F.lit("NEW:"), F.col("c_name")).alias("c_name"),
                F.lit(50.0).alias("c_acctbal"),
            )
        )
    )
    batch = snapshot_diff(base, new, "c_custkey")
    merged = merge_snapshot(base, batch, "c_custkey")
    assert merged.exceptAll(new).count() == 0
    assert new.exceptAll(merged).count() == 0
    # minimality: nothing left to diff, and the batch only holds changes
    assert snapshot_diff(merged, new, "c_custkey").count() == 0
    n_mut = base.where((F.col("c_custkey") % 10).isin(3, 6)).count()
    n_ins = base.where(F.col("c_custkey") % 100 == 7).count()
    assert batch.count() == n_mut + n_ins


def test_merge_and_diff_degenerate_cases(spark):
    """Edge battery: diff of identical snapshots is empty; merging an
    empty batch is the identity; a delete-everything batch leaves an
    empty (but correctly-schemed) snapshot."""
    from kinesis2sse_spark.queries.lakeops import merge_snapshot, snapshot_diff

    base = load_table(spark, SF_CORRECTNESS, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    assert snapshot_diff(base, base, "c_custkey").count() == 0

    empty_batch = snapshot_diff(base, base, "c_custkey")  # zero rows, right schema
    ident = merge_snapshot(base, empty_batch, "c_custkey")
    assert ident.exceptAll(base).count() == 0 and base.exceptAll(ident).count() == 0

    drop_all = base.select(
        "c_custkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
    ).select("c_custkey", "op", "c_name", "c_acctbal")
    wiped = merge_snapshot(base, drop_all, "c_custkey")
    assert wiped.count() == 0
    assert wiped.columns == ["c_custkey", "c_name", "c_acctbal"]


def test_merge_diff_round_trip_with_nulls(spark):
    """NULL semantics of the CDC pair: snapshot_diff's null-safe compare
    treats NULL==NULL as unchanged (no spurious U rows), and a NULL→
    value transition IS detected. The documented merge limitation holds:
    a value→NULL update cannot round-trip through the coalesce-based
    merge, so diff batches carrying one are flagged by re-diffing."""
    from kinesis2sse_spark.queries.lakeops import merge_snapshot, snapshot_diff

    base = spark.createDataFrame(
        [(1, None, 10.0), (2, "b", None), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    same = spark.createDataFrame(
        [(1, None, 10.0), (2, "b", None), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    assert snapshot_diff(base, same, "k").count() == 0  # NULL==NULL: unchanged

    new = spark.createDataFrame(
        [(1, "now-set", 10.0), (2, "b", None), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    batch = snapshot_diff(base, new, "k")
    got = batch.collect()
    assert len(got) == 1 and got[0].k == 1 and got[0].op == "U"
    merged = merge_snapshot(base, batch, "k")
    assert merged.exceptAll(new).count() == 0 and new.exceptAll(merged).count() == 0

    # value -> NULL: detected by the diff, NOT round-trippable via
    # coalesce-merge — re-diff surfaces the residue instead of silently
    # claiming convergence.
    to_null = spark.createDataFrame(
        [(1, None, 10.0), (2, "b", None), (3, None, 30.0)],
        "k long, name string, bal double",
    )
    b2 = snapshot_diff(base, to_null, "k")
    assert b2.count() == 1  # k=3 name c -> NULL detected
    residue = snapshot_diff(merge_snapshot(base, b2, "k"), to_null, "k")
    assert residue.count() == 1  # merge couldn't apply it; audit sees it


def test_schema_evolution_merge_and_pruning(spark, tmp_path):
    """Lake schema evolution: a table whose later files carry an added
    column reads with mergeSchema into the unified schema (old files
    yield NULLs), aggregates over the new column skip the old files'
    rows naturally, and predicate pushdown still reaches both file
    generations. This is the append-only evolution path a 100 TB lake
    actually takes — no rewrite of historical files."""
    path = str(tmp_path / "evolving")
    v1 = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    v1.write.mode("overwrite").parquet(path)
    v2 = spark.range(100, 150).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit("tagged").alias("source_tag"),
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", True).parquet(path)
    assert set(merged.columns) == {"k", "v", "source_tag"}
    assert merged.count() == 150
    # old-generation rows surface the new column as NULL
    assert merged.where(F.col("source_tag").isNull()).count() == 100
    assert merged.where(F.col("source_tag") == "tagged").count() == 50
    # pushdown still reaches the scan across both generations
    plan = (
        merged.where(F.col("k") >= 120)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,120)" in plan, plan[:1500]
    assert merged.where(F.col("k") >= 120).count() == 30


def test_point_in_time_join_boundary_semantics(spark):
    """The union-sort PIT join's tie rules, pinned on crafted frames:
    a version taking effect AT the probe instant applies (inclusive
    valid_from); among same-instant versions the later event_id wins
    (zero-length interval semantics); probes before any version drop."""
    from datetime import datetime

    from kinesis2sse_spark.queries.lakeops import point_in_time_join

    t = lambda s: datetime.fromisoformat(s)
    versions = spark.createDataFrame(
        [
            (1, t("2024-01-01T10:00:00"), 100, 10.0),
            (1, t("2024-01-01T12:00:00"), 101, 20.0),
            # same-instant pair: event_id 103 must shadow 102
            (2, t("2024-01-01T09:00:00"), 102, 1.0),
            (2, t("2024-01-01T09:00:00"), 103, 2.0),
        ],
        "user_id long, ts timestamp, event_id long, dim_value double",
    )
    probes = spark.createDataFrame(
        [
            (1, t("2024-01-01T09:59:59"), 200),  # before first version -> dropped
            (1, t("2024-01-01T10:00:00"), 201),  # AT version instant -> 10.0
            (1, t("2024-01-01T11:59:59"), 202),  # between versions -> 10.0
            (1, t("2024-01-01T12:00:00"), 203),  # at second version -> 20.0
            (2, t("2024-01-01T09:00:00"), 204),  # same-instant pair -> later id: 2.0
            (2, t("2024-01-02T00:00:00"), 205),  # long after -> 2.0
        ],
        "user_id long, ts timestamp, event_id long",
    )
    got = {
        r["event_id"]: r["dim_value"]
        for r in point_in_time_join(versions, probes, key="user_id").collect()
    }
    assert got == {201: 10.0, 202: 10.0, 203: 20.0, 204: 2.0, 205: 2.0}, got
