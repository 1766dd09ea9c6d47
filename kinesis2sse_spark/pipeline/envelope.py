"""Ingest-path transforms — operators S4, F1-F3, P1, P2, W1, W3.

Parity map to the reference (record_processor.go):
- S4  permissive JSON parse w/ drop ........ record_processor.go:60-65
- F1  require string ``time`` .............. record_processor.go:67-71
- F2  ``time`` parses as RFC3339 ........... record_processor.go:72-76
- F3  require ``detail`` ................... record_processor.go:78-82
- P1  envelope strip (keep detail only) .... record_processor.go:78,84
- P2  canonical key-sorted JSON ............ record_processor.go:84-88
- W1  contiguous offset assignment ......... record_processor.go:90-94
- W3  bounded retention (keep last N) ...... service.go:97-101

All transforms are plain DataFrame ops; P2 needs a vectorized Pandas UDF
because Spark's ``to_json`` emits schema order, not sorted keys
(SURVEY.md §7 hard parts).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis2sse_spark.pipeline.since import RFC3339_PATTERN


@F.pandas_udf(T.StringType())
def _canonical_json_udf(raw: pd.Series) -> pd.Series:
    """Re-serialize a JSON text column with sorted keys, compact separators
    — the behavior Go's ``json.Marshal`` of a ``map[string]any`` gives the
    reference (proven by record_processor_test.go:18 vs :60). Invalid JSON
    → null (caller drops, matching the permissive-parse semantics)."""

    def canon(s):
        if s is None:
            return None
        try:
            return json.dumps(
                json.loads(s),
                sort_keys=True,
                separators=(",", ":"),
                ensure_ascii=False,
            )
        except (ValueError, TypeError):
            return None

    return raw.map(canon)


def canonical_json(col):
    """P2: canonical (alphabetically key-sorted, compact) JSON of a JSON
    text column."""
    return _canonical_json_udf(col)


def deaggregate_envelopes(df: DataFrame, value_col: str = "value") -> DataFrame:
    """S3: KPL de-aggregation, envelope-array form. A producer-side
    aggregated record carries several user records in one stream record
    (reference: KCL library de-aggregates, record_processor.go:104-106,
    go.mod:33); the JSON-wire equivalent is a record whose payload is a
    JSON ARRAY of envelopes. Emits one row per element, all other
    columns preserved; non-array records pass through unchanged, and
    junk flows on to ``parse_envelope``'s permissive drop (S4). An empty
    aggregate ("[]") yields zero records. Entirely JVM-side: one
    from_json + explode inside whole-stage codegen — array elements are
    re-emitted as raw JSON text, so downstream parsing is unchanged."""
    arr = F.from_json(F.col(value_col).cast("string"), "array<string>")
    others = [c for c in df.columns if c != value_col]
    return df.select(
        *others,
        F.explode(
            F.when(arr.isNotNull(), arr).otherwise(F.array(F.col(value_col).cast("string")))
        ).alias(value_col),
    )


def _envelope_columns(raw) -> tuple:
    """The one variant parse behind both ``parse_envelope`` and
    ``reject_reason``: ``(variant, time string, time, detail)``, where
    ``time`` is null unless F1 and F2 hold and ``detail`` is null when F3
    fails.

    One variant parse per record replaces get_json_object×2 + a Python
    round-trip: try_parse_json → null on invalid JSON (S4 drop), and
    to_json(variant) emits alphabetically key-sorted compact JSON at
    every nesting level — canonical form (P2) entirely JVM-side, inside
    whole-stage codegen (~5x the get_json_object path at sf0.1)."""
    v = F.try_parse_json(raw.cast("string"))
    # variant_get stringifies non-string values ({"time": 1234} → "1234"),
    # so F1's string-type check and F2's RFC3339 check are enforced with
    # an explicit shape filter — Spark's loose timestamp cast would
    # otherwise accept "1234" as year 1234 or date-only strings the Go
    # reference rejects. try_to_timestamp: malformed time → null →
    # dropped (F2), matching the reference's drop-and-warn rather than
    # ANSI-mode's throw.
    time_str = F.variant_get(v, "$.time", "string")
    time_col = F.when(time_str.rlike(RFC3339_PATTERN), F.try_to_timestamp(time_str))
    detail_col = F.to_json(F.variant_get(v, "$.detail", "variant"))
    return v, time_str, time_col, detail_col


def reject_reason(raw) -> "F.Column":
    """Classify a wire record by WHY the permissive parse would drop it
    ('valid' when it wouldn't) — the DLQ routing column. Applies
    ``parse_envelope``'s exact acceptance rules in order (S4, F1, F2,
    F3 — record_processor.go:60-88), so routing on this column and
    then running parse_envelope on the 'valid' slice drops nothing:
    the two are the same predicate, split by reason."""
    raw = F.col(raw) if isinstance(raw, str) else raw
    v, time_str, time_col, detail = _envelope_columns(raw)
    return (
        F.when(v.isNull(), "invalid_json")
        .when(time_str.isNull(), "missing_time")
        .when(time_col.isNull(), "bad_time")
        .when(detail.isNull(), "missing_detail")
        .otherwise("valid")
    )


def parse_envelope(
    df: DataFrame, value_col: str = "value", observe=None
) -> DataFrame:
    """S4 + F1-F3 + P1 + P2: parse raw event-envelope bytes/text, drop
    malformed records, and keep only event time + canonical detail.

    Input: one string/binary column carrying ``{"time": <RFC3339>,
    "detail": <any JSON>}``. Output columns: ``time`` (timestamp),
    ``detail`` (canonical JSON string). Drops, exactly like the
    reference: unparseable JSON, missing/non-string ``time``,
    unparseable ``time``, missing ``detail``.

    ``observe``: the reference warn-logs every dropped record
    (record_processor.go:63-81); per-record driver logging can't scale,
    so drop accounting rides the same scan as ``observe`` metrics
    (``n_records``/``n_dropped``) — pass a ``pyspark.sql.Observation``
    (batch: read ``obs.get`` after an action) or a metric-name string
    (streaming: read ``progress.observedMetrics[name]``). Zero extra
    passes either way.
    """
    # Fidelity notes vs the reference (record_processor.go:78-88):
    # - {"detail": null} is KEPT and stored as the JSON text "null"
    #   (map lookup succeeds in Go, json.Marshal(nil) → "null"); only a
    #   MISSING detail key yields SQL NULL here and is dropped — the
    #   get_json_object path could not distinguish the two.
    # - Float formatting follows Java (1.0E10), where Go emits 1e+10 and
    #   Python 10000000000.0 — all three dialects differ; integers,
    #   strings, bools, nulls and key order are byte-identical. Use
    #   canonical_json() (pandas UDF) where Python-exact bytes matter.
    _, _, time_col, detail_col = _envelope_columns(F.col(value_col))
    if observe is not None:
        # CollectMetrics is a pushdown barrier, so the drop below reads
        # the projected attributes instead of re-deriving them.
        parsed = df.select(time_col.alias("time"), detail_col.alias("detail")).observe(
            observe,
            F.count(F.lit(1)).alias("n_records"),
            F.coalesce(
                F.sum((F.col("time").isNull() | F.col("detail").isNull()).cast("long")),
                F.lit(0),
            ).alias("n_dropped"),
        )
        time_col, detail_col = F.col("time"), F.col("detail")
        src = parsed
    else:
        src = df
    # The drop is a GENERATOR, not a Filter: explode(valid ? [row] : []).
    # A Filter over this projection gets split/inlined by the optimizer
    # and pushed beneath any repartition — the variant parse then runs
    # 2-3x per row INSIDE the (often single-partition) scan. The
    # generator admits no predicate pushdown, so the parse runs exactly
    # once, after the scan's partitioning — measured 3x faster at sf0.1
    # and the difference grows with input skew.
    row = F.struct(time_col.alias("time"), detail_col.alias("detail"))
    return src.select(
        F.explode(
            F.when(time_col.isNotNull() & detail_col.isNotNull(), F.array(row)).otherwise(
                F.array()
            )
        ).alias("__r")
    ).select("__r.time", "__r.detail")


def with_offsets(df: DataFrame, order_cols: list[str], offset_col: str = "offset") -> DataFrame:
    """W1: assign contiguous integer offsets 0..n-1 in ``order_cols`` order.

    The reference serializes all shards of a route through one mutex
    (record_processor.go:58,102) — a global total order is inherent to
    the semantics, so the single-partition window here is the same
    serialization point, not an accident. For scale, offset assignment
    should ride on an already-sorted ingest key when one exists (the
    fixtures' ``event_id`` IS the offset); the streaming path assigns
    offsets incrementally with tiny keyed state (streaming/state.py).
    """
    w = Window.orderBy(*order_cols)
    return df.withColumn(offset_col, F.row_number().over(w) - F.lit(1))


def retain_last(df: DataFrame, capacity: int, offset_col: str = "event_id") -> DataFrame:
    """W3: bounded retention — keep the newest ``capacity`` records by
    offset. Implemented as a predicate against the max offset (a one-row
    broadcast), not physical eviction, per SURVEY.md §7: at scale this is
    one scan + broadcast, and parquet min/max stats prune old files."""
    hi = df.agg(F.max(offset_col).alias("__max_off"))
    return (
        df.join(
            F.broadcast(hi),
            F.col(offset_col) > F.col("__max_off") - F.lit(capacity),
            "inner",
        )
        .drop("__max_off")
    )
