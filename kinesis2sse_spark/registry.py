"""Query registry — the single source of truth for the driver contract.

Every implemented operator registers a named query (a callable
``(spark, sf_dir) -> DataFrame``) and, when SQL-expressible, the
equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables.
``__spark_entry__.py`` and ``bench.py`` both read from this registry.

Conventions (driver compares row-count + schema + order-insensitive
value hash, columns sorted by name):
- alias every computed/aggregate column identically in Spark and SQL;
- round floating aggregates to a fixed scale on BOTH sides so
  summation order cannot flip the hash;
- deterministic output sets only: any LIMIT is preceded by a total
  order with a unique tiebreaker.

FP determinism ladder (escalate when a query flips at some SF — found
via tools/sweep_oracles.py; the flip class is invisible at other SFs):
1. round(x, k) both sides — sufficient while x stays clear of exact
   half-way points at scale k;
2. floor(x*10^k + 0.5)/10^k both sides — engine round() MODES disagree
   at exact half-way doubles (Spark HALF_UP vs DuckDB); floor on the
   identical IEEE double is deterministic (see text_quality_score);
3. per-row CAST to DECIMAL(18,m) before SUM — a double SUM's last bits
   depend on partial-aggregation order, so a total sitting on a
   rounding boundary can flip; decimal summation is exact and
   order-independent (see q9_product_type_profit). Don't blanket-apply:
   decimal avg/division scale rules differ between engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver runs rows-only check
    bench: bool = False  # include in bench.py headline set


_REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None = None, bench: bool = False):
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = RegisteredQuery(name=name, fn=fn, oracle=oracle, bench=bench)
        return fn

    return deco


# The correctness driver checks the FIRST 50 entries of queries() in
# iteration order. Registration order is import order (alphabetical by
# module), so without intervention the same 50 get re-checked every
# round and the rest never earn a driver row; _ordered() rotates the
# window from the recorded driver rows instead.


def _driver_rows() -> dict[str, tuple[int, dict]]:
    """name -> (latest round number, that round's record) across all
    recorded driver rounds (CORRECTNESS_r*.json in the repo root).
    Missing/garbled files are ignored — worst case the ordering
    degrades to registration order."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, tuple[int, dict]] = {}
    for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(p) as f:
                data = json.load(f)
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            prev = out.get(name)
            if prev is None or rnd >= prev[0]:
                out[name] = (rnd, rec if isinstance(rec, dict) else {})
    return out


def _checked_names() -> set[str]:
    """Names with >=1 recorded driver row, any round."""
    return set(_driver_rows())


def _red_names() -> list[str]:
    """Names whose LATEST driver row is red (any recorded match field
    explicitly false) — these re-front the window automatically so a
    regression can never rotate out of driver scrutiny while unfixed."""
    rows = _driver_rows()
    return [
        n
        for n in _REGISTRY
        if n in rows
        and any(
            rows[n][1].get(k) is False
            for k in ("rows_match", "schema_match", "hash_match")
        )
    ]


def _ordered() -> list[str]:
    """Driver window ordering, SELF-ROTATING:

    1. RED RE-FRONT: any query whose LATEST driver row is red leads the
       window unconditionally (registration order among reds), so a
       regression never rotates out of driver scrutiny while unfixed.
    2. Behind those: never-checked first (registration order), then
       already-checked ordered LEAST-RECENTLY-CHECKED first (latest row
       round ascending, registration order within a round) — so once
       coverage is airtight the window cycles through the whole
       registry across rounds instead of re-checking the same
       registration-order prefix forever."""
    rows = _driver_rows()
    reds = _red_names()
    seen = set(reds)
    rest = [n for n in _REGISTRY if n not in seen]
    return (
        reds
        + [n for n in rest if n not in rows]
        + sorted(
            (n for n in rest if n in rows),
            key=lambda n: rows[n][0],  # stable: reg. order within a round
        )
    )


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: _REGISTRY[name].fn for name in _ordered()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: _REGISTRY[name].oracle
        for name in _ordered()
        if _REGISTRY[name].oracle is not None
    }


def bench_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: rq.fn for name, rq in _REGISTRY.items() if rq.bench}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from kinesis2sse_spark.queries import (  # noqa: F401
        aggregates,
        event_pipeline,
        graph,
        joins,
        lakeops,
        llm_dedup,
        llm_similarity,
        llm_text,
        ml_eval,
        multimodal,
        privacy,
        scalar_functions,
        setops,
        sortlimit,
        sources,
        streaming_queries,
        subqueries,
        timeseries,
        tpch,
        udfs,
        windows,
    )

    _LOADED = True
