"""Property-based tests (hypothesis) — beyond the reference's hand-written
golden suites: the as-of rule, the serving log, and the duration parser
are checked against brute-force models on random inputs; canonical JSON
is checked against Python's sort_keys serialization over random documents.
"""

from __future__ import annotations

import json
import random
import string
from datetime import datetime, timedelta, timezone

from hypothesis import given, settings
from hypothesis import strategies as st

from kinesis2sse_spark.pipeline.since import parse_go_duration, parse_since
from kinesis2sse_spark.streaming.serve import RouteLog

# --- as-of rule: smallest (ts, off) >= (since, 0), else largest < -------


def brute_nearest(keys: list[tuple[int, int]], since: int):
    """Reference model of timestamp2offset.go:58-80 over (ts, offset)."""
    ge = sorted((ts, off) for ts, off in keys if (ts, off) >= (since, 0))
    if ge:
        return ge[0][1]
    lt = sorted((ts, off) for ts, off in keys if (ts, off) < (since, 0))
    if lt:
        return lt[-1][1]
    return None


@given(
    entries=st.lists(
        st.tuples(st.integers(0, 1000), st.integers(0, 50)), max_size=40
    ),
    probe=st.integers(-5, 1100),
    capacity=st.integers(1, 10),
)
@settings(max_examples=300, deadline=None)
def test_routelog_nearest_matches_model(entries, probe, capacity):
    """RouteLog (bisect-based) ≡ the brute-force B-tree rule, including
    capacity eviction and out-of-order event times."""
    log = RouteLog(capacity=capacity)
    base = datetime(2024, 1, 1)
    kept: list[tuple[int, int]] = []  # (ts_sec, offset)
    for off, (ts_sec, _) in enumerate(entries):
        log.append(base + timedelta(seconds=ts_sec), f'{{"i":{off}}}')
        kept.append((ts_sec, off))
        if len(kept) > capacity:
            # reference evicts offset (o - capacity): the oldest offset
            kept = [(t, o) for t, o in kept if o > off - capacity]
    got = log.nearest_offset(base + timedelta(seconds=probe))
    expected = brute_nearest(kept, probe)
    assert got == expected


@given(
    entries=st.lists(st.integers(0, 100), min_size=1, max_size=30),
    capacity=st.integers(1, 8),
)
@settings(max_examples=200, deadline=None)
def test_routelog_retention_and_order(entries, capacity):
    log = RouteLog(capacity=capacity)
    base = datetime(2024, 1, 1)
    for i, ts_sec in enumerate(entries):
        off = log.append(base + timedelta(seconds=ts_sec), f'{{"i":{i}}}')
        assert off == i  # contiguous offsets (W1)
    retained = log.read_from(0)
    assert len(retained) == min(len(entries), capacity)
    offs = [o for o, _ in retained]
    assert offs == sorted(offs)  # offset-ordered delivery (Q4)
    assert offs[-1] == len(entries) - 1


class RouteLogModel:
    """Brute-force model of RouteLog: the retained (offset, ts, data)
    entries in one list, evicted from the front by capacity and then by
    age relative to the newest event time."""

    def __init__(self, capacity, max_age):
        self.capacity, self.max_age = capacity, max_age
        self.entries: list[tuple[int, datetime, str]] = []
        self.next = 0
        self.max_ts = None

    def append(self, ts, data):
        self.entries.append((self.next, ts, data))
        self.next += 1
        self.max_ts = ts if self.max_ts is None else max(self.max_ts, ts)
        if len(self.entries) > self.capacity:
            self.entries.pop(0)
        if self.max_age is not None:
            while self.entries and self.entries[0][1] < self.max_ts - self.max_age:
                self.entries.pop(0)

    def nearest(self, since):
        keys = [(ts, o) for o, ts, _ in self.entries]
        ge = [k for k in keys if k >= (since, 0)]
        if ge:
            return min(ge)[1]
        return max(keys)[1] if keys else None


@given(
    capacity=st.integers(1, 4),
    max_age_s=st.one_of(st.none(), st.integers(0, 6)),
    # ("append", event-time step: negative = out of order) | ("skip", n)
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(-4, 3)),
            st.tuples(st.just("skip"), st.integers(0, 3)),
        ),
        min_size=1,
        max_size=40,
    ),
)
@settings(max_examples=150, deadline=None)
def test_routelog_matches_list_model(capacity, max_age_s, ops):
    """RouteLog ≡ a brute-force list model over mixed in-order and
    out-of-order appends, skips (offset gaps) and age eviction, checked
    after every operation; the evicted prefix of the internal lists is
    compacted so they never exceed twice the capacity."""
    base = datetime(2024, 1, 1)
    max_age = None if max_age_s is None else timedelta(seconds=max_age_s)
    log = RouteLog(capacity=capacity, max_age=max_age)
    model = RouteLogModel(capacity, max_age)
    t = 10
    for kind, arg in ops:
        if kind == "append":
            t += arg
            ts = base + timedelta(seconds=t)
            data = f'{{"i":{model.next}}}'
            assert log.append(ts, data) == model.next
            model.append(ts, data)
        else:
            log.skip(arg)
            model.next += arg
        assert log.next_offset() == model.next
        assert log.latest_offset() == max(model.next - 1, 0)
        for o in range(model.next + 1):
            assert log.read_from(o) == [(e[0], e[2]) for e in model.entries if e[0] >= o]
        for probe in range(t - 12, t + 5):
            since = base + timedelta(seconds=probe)
            assert log.nearest_offset(since) == model.nearest(since)
        for internal in (log._offs, log._ts, log._data, log._keys):
            assert len(internal) <= 2 * capacity


# --- Go duration parsing -------------------------------------------------


@given(
    h=st.integers(0, 100), m=st.integers(0, 59), s=st.integers(0, 59),
    ms=st.integers(0, 999),
)
@settings(max_examples=200, deadline=None)
def test_duration_roundtrip(h, m, s, ms):
    txt = f"{h}h{m}m{s}s{ms}ms"
    assert parse_go_duration(txt) == timedelta(
        hours=h, minutes=m, seconds=s, milliseconds=ms
    )


@given(st.text(alphabet=string.ascii_letters + string.digits + ".:-", max_size=12))
@settings(max_examples=300, deadline=None)
def test_parse_since_never_crashes(s):
    """parse_since either returns a datetime or raises ValueError (the
    HTTP 400 path) — no other outcome on arbitrary input."""
    try:
        out = parse_since(s, now=datetime(2024, 1, 1, tzinfo=timezone.utc))
        assert isinstance(out, datetime)
    except ValueError:
        pass


# --- canonical JSON vs sort_keys over random documents -------------------


def _random_json(rng: random.Random, depth: int = 0):
    choice = rng.random()
    if depth >= 3 or choice < 0.35:
        return rng.choice(
            [None, True, False, rng.randint(-1000, 1000), "x" * rng.randint(0, 4)]
        )
    if choice < 0.6:
        return [_random_json(rng, depth + 1) for _ in range(rng.randint(0, 3))]
    return {
        "".join(rng.choices(string.ascii_letters, k=rng.randint(1, 5))): _random_json(
            rng, depth + 1
        )
        for _ in range(rng.randint(0, 4))
    }


def test_canonical_json_random_docs(spark):
    """The P2 UDF over 200 random nested documents equals key-sorted
    compact serialization, and is a fixpoint (canon ∘ canon = canon)."""
    from kinesis2sse_spark.pipeline.envelope import canonical_json
    from pyspark.sql import functions as F

    rng = random.Random(42)
    docs = [json.dumps(_random_json(rng)) for _ in range(200)]
    df = spark.createDataFrame([(d,) for d in docs], "raw string")
    out = df.select("raw", canonical_json(F.col("raw")).alias("canon")).collect()
    for r in out:
        expected = json.dumps(
            json.loads(r["raw"]), sort_keys=True, separators=(",", ":"),
            ensure_ascii=False,
        )
        assert r["canon"] == expected
    canon_df = spark.createDataFrame([(r["canon"],) for r in out], "raw string")
    twice = canon_df.select(canonical_json(F.col("raw")).alias("c2")).collect()
    assert [r["c2"] for r in twice] == [r["canon"] for r in out]


def _z_py(x: int, y: int, bits: int = 8) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@given(st.integers(0, 255), st.integers(0, 255))
@settings(max_examples=200, deadline=None)
def test_zorder_interleave_is_bijective_and_monotone(x, y):
    """Morton-code properties the layout relies on: the interleave is a
    bijection on [0,256)² (de-interleaving recovers x and y exactly),
    and within a shared bit-prefix region the z-range bounds both
    coordinate ranges — the reason contiguous z-runs map to bounded
    rectangles and footer stats can prune 2-D predicates."""
    z = _z_py(x, y)
    # de-interleave
    rx = sum(((z >> (2 * i)) & 1) << i for i in range(8))
    ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
    assert (rx, ry) == (x, y)
    # quadrant prefix: the top bit pair of z is exactly (y_msb, x_msb)
    assert (z >> 15) & 1 == (y >> 7) & 1
    assert (z >> 14) & 1 == (x >> 7) & 1


def test_zorder_spark_matches_python_model(spark):
    """The JVM zorder_value() column and the SQL interleave used by the
    oracle both agree with the bit-twiddling model on a full 16x16
    sub-grid (every combination of the low 4 bits of each dim)."""
    from pyspark.sql import functions as F

    from kinesis2sse_spark.queries.lakeops import _z_sql, zorder_value

    grid = spark.range(256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("long").alias("y")
    )
    both = grid.select(
        "x",
        "y",
        zorder_value(F.col("x"), F.col("y")).alias("z_col"),
        F.expr(_z_sql("x", "y")).alias("z_sql"),
    ).collect()
    for r in both:
        expect = _z_py(r.x, r.y)
        assert r.z_col == expect and r.z_sql == expect, (r.x, r.y)


def test_ks_statistic_matches_bruteforce_model(spark):
    """The engine-side two-sample KS (CDF window over merged distinct
    values) must equal the textbook definition — max over ALL x of
    |F_a(x) - F_b(x)| — computed brute-force on random samples with
    heavy ties (ties are exactly where an evaluation-point mistake
    shows)."""
    import math
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(0xD15C0)
    for trial in range(3):
        a = [round(rng.uniform(0, 5), 1) for _ in range(60)]
        b = [round(rng.uniform(1, 6), 1) for _ in range(45)]
        support = sorted(set(a) | set(b))
        want = max(
            abs(
                sum(1 for x in a if x <= v) / len(a)
                - sum(1 for x in b if x <= v) / len(b)
            )
            for v in support
        )
        rows = [(x, "click") for x in a] + [(x, "view") for x in b]
        df = spark.createDataFrame(rows, "value double, event_type string")
        counts = df.groupBy("value").agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("ca"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("cb"),
        )
        w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cum = counts.select(
            F.sum("ca").over(w).alias("fa"), F.sum("cb").over(w).alias("fb")
        )
        got = cum.agg(
            F.max(
                F.abs(
                    F.col("fa").cast("double") / len(a)
                    - F.col("fb").cast("double") / len(b)
                )
            )
        ).first()[0]
        assert math.isclose(got, want, abs_tol=1e-12), (trial, got, want)


def test_point_in_time_join_matches_bruteforce_model(spark):
    """The union-sort PIT join must agree with a brute-force per-probe
    argmax over random version/probe sets — including colliding
    timestamps, where the tie rules live."""
    import random
    from datetime import datetime, timedelta

    from kinesis2sse_spark.queries.lakeops import point_in_time_join

    rng = random.Random(0xA50F)
    base = datetime(2024, 3, 1)
    # coarse second-grid timestamps force plenty of exact collisions
    versions = [
        (rng.randrange(4), base + timedelta(seconds=rng.randrange(30)), 1000 + i, float(i))
        for i in range(40)
    ]
    probes = [
        (rng.randrange(4), base + timedelta(seconds=rng.randrange(30)), 2000 + i)
        for i in range(60)
    ]
    want = {}
    for key, pts, pid in probes:
        cands = [
            (ts, eid, val)
            for (k, ts, eid, val) in versions
            if k == key and ts <= pts
        ]
        if cands:
            want[pid] = max(cands)[2]
    vdf = spark.createDataFrame(
        versions, "user_id long, ts timestamp, event_id long, dim_value double"
    )
    pdf = spark.createDataFrame(probes, "user_id long, ts timestamp, event_id long")
    got = {
        r["event_id"]: r["dim_value"]
        for r in point_in_time_join(vdf, pdf, key="user_id").collect()
    }
    assert got == want, (got, want)


def test_span_removal_matches_bruteforce_model(spark, tmp_path):
    """dedup_span_removal must equal the brute-force ExactSubstr-remove
    model on random corpora engineered for collisions: a 3-word
    vocabulary makes SPAN_LEN-windows collide constantly, and the edge
    docs (shorter than SPAN_LEN, exactly SPAN_LEN, byte-identical
    pair) pin the boundaries — full removal must yield an empty
    string, short docs must pass through untouched."""
    import random

    from pyspark.sql import functions as F

    from kinesis2sse_spark.queries.llm_dedup import SPAN_LEN, dedup_span_removal

    rng = random.Random(0x5BA9)
    vocab = ["a", "b", "c"]
    docs = {}
    for did in range(30):
        n = rng.randint(1, 3 * SPAN_LEN)
        docs[did] = " ".join(rng.choice(vocab) for _ in range(n))
    docs[30] = " ".join(vocab[0] for _ in range(SPAN_LEN))   # exactly one window
    docs[31] = docs[30]                                      # its exact duplicate
    docs[32] = "solo"                                        # shorter than SPAN_LEN

    from tests.conftest import exact_substring_removal_model

    want = exact_substring_removal_model(docs, SPAN_LEN)

    spark.createDataFrame(
        [(k, v) for k, v in docs.items()], "doc_id long, text string"
    ).withColumn("n_chars", F.length("text").cast("long")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_kept"])
        for r in dedup_span_removal(spark, str(tmp_path)).collect()
    }
    assert got == want
    # the fixture must exercise both branches
    assert want[30] == (SPAN_LEN, SPAN_LEN, "")   # fully removed
    assert want[32] == (1, 0, "solo")             # untouched short doc


def test_hindex_list_identity_matches_rank_definition():
    """graph_kcore evaluates H(multiset) as max_x least(x, #{y >= x})
    over the multiset's own values — property-check that identity
    against the textbook sorted-rank definition H = max_i min(i, c_(i))
    on random multisets (the identity is what makes the operator
    order-independent and therefore collect_list-safe)."""
    import random

    rng = random.Random(13)
    for _ in range(300):
        vals = [rng.randint(0, 12) for _ in range(rng.randint(1, 25))]
        via_values = max(min(x, sum(1 for y in vals if y >= x)) for x in vals)
        ranked = sorted(vals, reverse=True)
        via_ranks = max(min(i + 1, v) for i, v in enumerate(ranked))
        assert via_values == via_ranks, vals


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab 字é"),  # spaces -> empty tokens
            min_size=0,
            max_size=400,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_context_chunks_reconstruct_any_text(spark, docs):
    """pipeline_context_chunks on adversarial random texts (repeated
    spaces -> empty tokens, non-ASCII, empty strings): stitching
    stride-prefixes + the last chunk reconstructs every document
    byte-for-byte, and chunk counts obey the ceil formula."""
    from kinesis2sse_spark.queries.llm_text import (
        CHUNK_LEN,
        CHUNK_STRIDE,
        pipeline_context_chunks,
    )
    import math
    import os
    import tempfile

    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            os.path.join(tmp, "documents.parquet")
        )
        chunks = pipeline_context_chunks(spark, tmp).collect()
    bydoc: dict = {}
    for r in chunks:
        bydoc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(docs):
        toks = t.split(" ")
        n = len(toks)
        rs = sorted(bydoc[i], key=lambda r: r["chunk_id"])
        want_chunks = math.ceil(max(n - CHUNK_LEN, 0) / CHUNK_STRIDE) + 1
        assert len(rs) == want_chunks
        stitched: list = []
        for r in rs[:-1]:
            stitched.extend(r["chunk_text"].split(" ")[:CHUNK_STRIDE])
        stitched.extend(rs[-1]["chunk_text"].split(" "))
        assert " ".join(stitched) == t


@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab 字é"),  # spaces -> empty tokens
            min_size=0,
            max_size=300,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=8, deadline=None)
def test_lexical_diversity_matches_counter_model(spark, docs):
    """text_lexical_diversity vs a Counter model on adversarial random
    texts: empty strings, consecutive spaces (empty tokens), and
    non-ASCII tokens must all agree — the sorted-neighbor hapax count
    is exactly 'tokens with frequency 1'."""
    import math
    import os
    import tempfile
    from collections import Counter

    from kinesis2sse_spark.queries.llm_text import text_lexical_diversity

    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            os.path.join(tmp, "documents.parquet")
        )
        got = {r["doc_id"]: r for r in text_lexical_diversity(spark, tmp).collect()}
    for i, t in enumerate(docs):
        c = Counter(t.split(" "))
        n = sum(c.values())
        r = got[i]
        assert r["n_tokens"] == n
        assert r["n_types"] == len(c)
        assert r["n_hapax"] == sum(1 for v in c.values() if v == 1)
        assert r["ttr"] == math.floor(len(c) * 1e6 / n + 0.5) / 1e6


# --- round-12: streaming contribution cap ≡ sequential model -------------


class _FakeGroupState:
    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.one_of(st.none(), st.integers(0, 50)),  # ts seconds
                st.integers(0, 10_000),  # event_id
            ),
            max_size=12,
        ),
        min_size=1,
        max_size=5,
    ),
    cap=st.integers(0, 6),
)
@settings(max_examples=200, deadline=None)
def test_contribution_cap_fn_matches_sequential_model(batches, cap):
    """The pandas state fn (streaming/state.py::_contribution_cap_fn)
    must equal the sequential model: per batch, events sorted by
    (ts NULLS FIRST, event_id) take the remaining cap in order; the
    counter carries across batches; every event is emitted flagged."""
    import pandas as pd

    from kinesis2sse_spark.streaming.state import _contribution_cap_fn

    fn = _contribution_cap_fn(cap)
    state = _FakeGroupState()
    base = datetime(2024, 1, 1)
    kept_model = 0
    for batch in batches:
        pdf = pd.DataFrame(
            {
                "ts": [
                    None if t is None else base + timedelta(seconds=t)
                    for t, _ in batch
                ],
                "event_id": [e for _, e in batch],
            }
        )
        out = list(fn((1,), iter([pdf]), state))
        got = pd.concat(out) if out else pd.DataFrame(columns=["event_id", "is_kept"])
        # model: sort with nulls first, take remainder of cap
        order = sorted(
            batch, key=lambda r: ((0, 0) if r[0] is None else (1, r[0]), r[1])
        )
        take = max(0, min(cap - kept_model, len(order)))
        expect_kept = {e for _, e in order[:take]}
        kept_model += take
        assert len(got) == len(batch)  # every event emitted, flagged
        got_kept = set(got.loc[got["is_kept"].astype(bool), "event_id"])
        assert got_kept == expect_kept, (batch, cap)
    assert state.get == (kept_model,)


# --- round-12: RAKE oracle ≡ pure-Python reference ------------------------


def _rake_model(docs: dict[int, list[str]], stop: set[str], topk: int):
    """Independent RAKE implementation (phrases = maximal non-stop
    runs; deg/freq integer scores; per-occurrence phrase sums)."""
    members = []  # (doc, pid, pos, tok)
    for d, toks in docs.items():
        pid = 0
        for i, t in enumerate(toks, start=1):
            if t in stop or t == "":
                pid += 1
            else:
                members.append((d, pid, i, t))
    from collections import defaultdict

    plen = defaultdict(int)
    for d, p, _, _ in members:
        plen[(d, p)] += 1
    freq, deg = defaultdict(int), defaultdict(int)
    for d, p, _, t in members:
        freq[t] += 1
        deg[t] += plen[(d, p)]
    ws = {t: (deg[t] * 1_000_000) // freq[t] for t in freq}
    phr = defaultdict(list)
    for d, p, i, t in members:
        phr[(d, p)].append((i, t))
    rows = []
    for (d, p), toks in phr.items():
        toks.sort()
        rows.append(
            (
                d,
                " ".join(t for _, t in toks),
                len(toks),
                sum(ws[t] for _, t in toks),
            )
        )
    out = {}
    for d in {r[0] for r in rows}:
        mine = sorted(
            (r for r in rows if r[0] == d), key=lambda r: (-r[3], r[1])
        )[:topk]
        out[d] = sorted((r[1], r[2], r[3]) for r in mine)
    return out


@given(
    docs=st.dictionaries(
        st.integers(0, 5),
        st.lists(
            st.sampled_from(["the", "of", "red", "apple", "pie", "pear", "x"]),
            max_size=12,
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=60, deadline=None)
def test_rake_oracle_matches_model(docs):
    """The DuckDB oracle SQL of text_rake_keywords must equal an
    independent pure-Python RAKE — pinning the SQL itself (which the
    Spark/DuckDB comparison alone cannot: both could share a bug)."""
    import duckdb

    from kinesis2sse_spark.queries.llm_text import EN_STOP, RAKE_TOPK
    from kinesis2sse_spark.registry import all_oracles

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({d}, '{' '.join(toks)}')" for d, toks in docs.items()
        )
        + ") t(doc_id, text)"
    )
    got = {}
    for doc_id, rank, phrase, n_words, score_s in con.execute(
        all_oracles()["text_rake_keywords"]
    ).fetchall():
        got.setdefault(doc_id, []).append((phrase, n_words, score_s))
    got = {d: sorted(v) for d, v in got.items()}
    expect = _rake_model(docs, set(EN_STOP), RAKE_TOPK)
    expect = {d: [tuple(r) for r in v] for d, v in expect.items() if v}
    assert got == expect
