"""Round-14 optimization tests: invariants for operator internals the
optimization round changed (guide-driven rewrites must not move any
declared query's output)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis2sse_spark.registry import all_queries
from kinesis2sse_spark.streaming.dedup import (
    _MH_PERMS,
    MINHASH_BANDS,
    MINHASH_BKEYS,
    MINHASH_P,
    MINHASH_ROWS,
    MINHASH_SHINGLE,
)

SF = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


def test_lsh_python_xxhash64_matches_spark(spark):
    """The Python reimplementation of Spark's xxhash64 (the constant
    hyperplane generator for the vectorized LSH signature stage) must be
    value-identical to F.xxhash64 on the int-triple domain it covers —
    including negative-hash cases and the full (table, plane, dim)
    lattice corners."""
    from kinesis2sse_spark.queries.llm_similarity import _xxhash64_ints

    cases = [
        (t, p, d)
        for t in (0, 1, 7, 15)
        for p in (0, 3, 5)
        for d in (0, 1, 31, 63, 127)
    ]
    df = spark.range(1).select(
        *[
            F.xxhash64(F.lit(t), F.lit(p), F.lit(d)).alias(f"h{i}")
            for i, (t, p, d) in enumerate(cases)
        ]
    )
    row = df.collect()[0]
    for i, tpl in enumerate(cases):
        assert _xxhash64_ints(tpl) == row[f"h{i}"], tpl


def _lsh_signature(vcol, table: int, n_planes: int):
    """Sign pattern of projections onto ``n_planes`` pseudo-random
    hyperplanes (components in [-1,1) derived from xxhash64(table,
    plane, dim) — no RNG, same plan every run), packed into an int.

    REFERENCE implementation (interpreted JVM higher-order functions):
    kept as the semantic definition of the bucket ids and as the
    equivalence yardstick for the vectorized ``_lsh_sign`` stage
    (test_lsh_arrow_signatures_match_hof). The query path uses
    ``_lsh_sign`` — per corpus vector this form evaluates
    tables × planes × dim interpreted xxhash64 calls (~3k per row),
    which was the registry's last big row-at-a-time hot path
    (6.1 s at sf0.1; guide §4.2)."""
    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vcol,
                F.transform(
                    F.sequence(F.lit(0), F.size(vcol) - 1),
                    lambda d: (
                        F.pmod(F.xxhash64(F.lit(table), F.lit(p), d), F.lit(2000))
                        - 1000
                    ).cast("double")
                    / 1000.0,
                ),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bits.append(F.when(proj >= 0, F.lit(2**p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def test_lsh_arrow_signatures_match_hof(spark):
    """The mapInArrow signature stage must produce byte-identical bucket
    ids to the reference JVM-HOF _lsh_signature for every corpus vector
    (same hyperplane constants, same IEEE accumulation order) — the
    equivalence that keeps sim_topk_lsh's candidate sets, and therefore
    sim_recall_lsh's oracle-checked recall contract, unchanged."""
    from kinesis2sse_spark.catalog import load_table
    from kinesis2sse_spark.queries.llm_similarity import (
        LSH_PLANES,
        LSH_TABLES,
        _lsh_sign,
        _with_norm,
    )

    corpus = _with_norm(load_table(spark, SF, "embeddings"))
    ref = corpus.select(
        "vec_id",
        *[
            _lsh_signature(F.col("v"), t, LSH_PLANES).alias(f"b{t}")
            for t in range(LSH_TABLES)
        ],
    )
    new = _lsh_sign(corpus).select(
        "vec_id",
        *[F.col("sigs")[t].alias(f"b{t}") for t in range(LSH_TABLES)],
    )
    assert ref.exceptAll(new).count() == 0
    assert new.exceptAll(ref).count() == 0


def test_lsh_plan_has_no_python_hash_hof(spark):
    """sim_topk_lsh's plan must carry the vectorized signature stage
    (PythonMapInArrow) and no interpreted per-element xxhash64 chain."""
    qs = all_queries()
    df = qs["sim_topk_lsh"](spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "MapInArrow" in plan
    assert "xxhash64" not in plan


class _FakeState:
    """Minimal GroupState stand-in for driving the probe directly."""

    def __init__(self, value=None):
        self._v = value
        self.updated = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.updated = v


def test_dedup_probe_exact_bucket_match_inside_coarse_group():
    """The r14 coarse state key groups several exact buckets together;
    the probe must match ONLY same-bucket earlier rows (identical
    vectors in different buckets of one group stay clean), and the
    exact integer threshold must agree with the old per-pair bigint
    rule (identical vectors pass, orthogonal-ish ones don't)."""
    import numpy as np
    import pandas as pd

    from kinesis2sse_spark.streaming.dedup import DEDUP_DIM, _dedup_probe_fn

    probe = _dedup_probe_fn(600)
    iq = [500000] * DEDUP_DIM
    batch = pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "ts_s": [100, 110, 120],
            "bucket": [5, 13, 5],  # 5 % 8 == 13 % 8: same coarse group
            "iq": [iq, iq, iq],
        }
    )
    st = _FakeState()
    (out,) = list(probe((0, 5), iter([batch]), st))
    got = dict(zip(out["vec_id"], out["match_id"]))
    assert got[1] is pd.NA  # first sight
    assert got[2] is pd.NA  # identical vector, DIFFERENT bucket
    assert got[3] == 1      # identical vector, same bucket, in horizon
    # state keeps exact buckets for the next batch
    vids, tss, n2s, bks, iqs = st.updated
    assert bks == [5, 13, 5] and vids == [1, 2, 3]

    # next batch: carry-over match against state, horizon eviction per
    # exact bucket
    batch2 = pd.DataFrame(
        {
            "vec_id": [4, 5],
            "ts_s": [400, 1000],
            "bucket": [13, 5],
            "iq": [iq, iq],
        }
    )
    st2 = _FakeState((vids, tss, n2s, bks, iqs))
    (out2,) = list(probe((0, 5), iter([batch2]), st2))
    got2 = dict(zip(out2["vec_id"], out2["match_id"]))
    assert got2[4] == 2       # state member, same bucket 13, within 600s
    assert got2[5] is pd.NA   # bucket-5 members are 880-900s old


def _minhash_bands_reference(df: DataFrame) -> DataFrame:
    """REFERENCE JVM signature pipeline: (doc_id, text, ts) →
    (doc_id, ts, ts_s, band, bkey, sig) with one row per band. Shingle →
    rolling char hash → per-permutation min → ROWS-per-band signature
    string. Interpreted HOFs (~1.3 s/batch at sf0.1) — the query path
    uses the vectorized with_minhash_bands; this form stays as
    the semantic definition and the equivalence-test yardstick
    (test_minhash_arrow_bands_match_reference)."""
    w = F.split("text", " ")
    sh = MINHASH_SHINGLE
    # hash each TOKEN's characters once, then combine 3 token hashes
    # per shingle — vs char-rolling whole shingle strings this hashes
    # every character once instead of sh times and skips the shingle
    # string allocation entirely (measured 33 s -> see PERF.md at the
    # 10x curve point; the oracle mirrors the same two-level hash)
    tok_hash = lambda s: F.aggregate(  # noqa: E731
        F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(7).cast("long"),
        lambda h, c: (h * 31 + c) % MINHASH_P,
    )
    df = df.withColumn("th", F.transform(w, tok_hash))
    th = F.col("th")

    def shingle(i):
        h = F.element_at(th, i)
        for j in range(1, sh):
            h = (h * 8191 + F.element_at(th, i + j)) % MINHASH_P
        return h

    hashes = F.when(
        F.size(th) >= sh,
        F.transform(F.sequence(F.lit(1), F.size(th) - (sh - 1)), shingle),
    ).otherwise(F.array().cast("array<long>"))
    df = df.withColumn("hs", hashes)
    def _perm(a: int, b: int):
        # factory, not default-arg lambda: pyspark counts the lambda's
        # parameters to pick the HOF arity, so extra defaults break it
        return lambda x: (x * a + b) % MINHASH_P

    sigs = [F.array_min(F.transform(F.col("hs"), _perm(a, b))) for a, b in _MH_PERMS]
    bands = []
    for bnd in range(MINHASH_BANDS):
        raw = sigs[bnd * MINHASH_ROWS : (bnd + 1) * MINHASH_ROWS]
        parts = [s.cast("string") for s in raw]
        # bounded STATE key: hashing the signature into MINHASH_BKEYS
        # buckets caps the pandas-group count at BANDS x MINHASH_BKEYS
        # regardless of corpus size (an unbucketed (band, sig) key
        # means one pandas invocation per distinct signature —
        # per-group overhead made the 10x curve superlinear; measured
        # 161 s -> see PERF.md). r14: 4096 -> 64 buckets — at sf0.1 the
        # live (band, bkey) group count, not state mass, dominated the
        # micro-batch (the same per-key framing overhead the embedding
        # probe's coarse keys attack); 64 keeps each group's member
        # scan short while cutting keys ~20x. The MATCH rule is still
        # exact sig equality, checked inside the probe — bucketing
        # changes the physical grouping only, never a verdict.
        bkey = raw[0]
        for s in raw[1:]:
            bkey = (bkey * 8191 + s) % MINHASH_P
        bands.append(
            F.struct(
                F.lit(bnd).alias("band"),
                (bkey % MINHASH_BKEYS).alias("bkey"),
                F.concat_ws("-", *parts).alias("sig"),
            )
        )
    return df.withColumn("bs", F.explode(F.array(*bands))).select(
        "doc_id",
        "ts",
        F.unix_timestamp("ts").alias("ts_s"),
        F.col("bs.band").alias("band"),
        F.col("bs.bkey").alias("bkey"),
        F.col("bs.sig").alias("sig"),
    )


def test_minhash_arrow_bands_match_reference(spark):
    """The vectorized minhash banding kernel must be row-identical to
    the retained JVM reference pipeline — including the pinned edge
    semantics (empty text, empty tokens, <3-token docs, BMP unicode)."""
    from pyspark.sql import functions as F

    from kinesis2sse_spark.catalog import load_table
    from kinesis2sse_spark.streaming.dedup import (
        DEDUP_TS_BASE,
        with_minhash_bands,
    )

    def src():
        return load_table(spark, SF, "documents").select(
            "doc_id",
            "text",
            F.timestamp_seconds(
                F.lit(DEDUP_TS_BASE) + F.col("doc_id")
            ).alias("ts"),
        )

    a, b = _minhash_bands_reference(src()), with_minhash_bands(src())
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    edge = spark.createDataFrame(
        [
            (1, ""),
            (2, "a b"),
            (3, "a b c"),
            (4, "a  b  c"),
            (5, "héllo wörld tést"),
            (6, " a b c "),
        ],
        "doc_id long, text string",
    ).withColumn(
        "ts", F.timestamp_seconds(F.lit(DEDUP_TS_BASE) + F.col("doc_id"))
    )
    ea, eb = _minhash_bands_reference(edge), with_minhash_bands(edge)
    assert ea.exceptAll(eb).count() == 0
    assert eb.exceptAll(ea).count() == 0
