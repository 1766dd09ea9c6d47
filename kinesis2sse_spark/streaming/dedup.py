"""Streaming embedding near-dedup — the per-ingest twin of the batch
SemDeDup/LSH rungs (``dropDuplicates`` is exact-key only; this is the
shape a 100 TB pipeline actually runs at ingest cadence: every arriving
document probes the recent corpus for near-duplicates and is tagged
in-flight).

Design: sign-random-projection LSH banding keyed into
``applyInPandasWithState``. Stateless side (a mapInArrow kernel since
r14 — one int64 matmul per batch; the r13 JVM-HOF form cost ~0.6 s of
interpreted fold steps per micro-batch): quantize the embedding to
integers and compute ``DEDUP_TABLES`` bucket ids of ``DEDUP_BITS``
sign bits each, one row per (table, bucket). Stateful side: groups key
on the COARSE (table, bucket % DEDUP_COARSE) — per-key framework
overhead is the dominant stateful cost, so the keyspace is capped at
64 groups — while state rows carry their exact bucket and the probe
matches on exact bucket equality; each bucket's members are the
(vec_id, ts, quantized-vector, norm², bucket) of arrivals within the
event-time horizon, and a new row probes them with an exact
integer-arithmetic cosine test, emitting the smallest matching earlier
vec_id (or null).

State is bounded on BOTH axes: exact buckets number at most
DEDUP_TABLES × 2^DEDUP_BITS (512 here), and each bucket retains
only members whose event time is within DEDUP_HORIZON_S of the newest
arrival — older members are evicted as rows flow, so state size is
O(arrival rate × horizon / 2^bits) per bucket regardless of stream
length. The (tables, bits) pair is the recall/cost dial exactly as in
the batch LSH rung: measured on the fixture corpus, 8×6-bit tables
catch 35/59 of the cos ≥ 0.4 pairs with ~330 probes/doc (8×4 catches
48/59 at ~570 — choose per deployment).

Determinism ladder (registry.py): every FP-sensitive step is integer
arithmetic so the batch replay oracle is EXACT, not approximate —
(1) per-dim quantization iq = floor(x·10⁶ + 0.5) as int64;
(2) projection weights are pure-integer multiplicative hashes
    ((t·B+p)·8191 + d)·2654435761 mod 1000000007 − 500000003,
    precomputed in Python and inlined as literals in BOTH engines
    (never evaluated at query time);
(3) the cosine threshold τ = 0.4 = 2/5 exactly, so
    cos ≥ τ  ⇔  dot > 0 ∧ 25·dot² ≥ 4·‖a‖²·‖b‖² — pure integers
    (Python bigints Spark-side, HUGEINT casts oracle-side).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_TABLES = 8  # LSH OR-construction: candidate = same bucket in ANY table
DEDUP_BITS = 6  # sign bits per table -> 64 buckets/table
DEDUP_HORIZON_S = 600  # near-dup window (event-time seconds)
DEDUP_DIM = 64
# epoch seconds of the synthetic event time base (2026-01-01 00:00:00 UTC):
# the fixture embeddings carry no timestamp, so arrival time is modeled
# as base + vec_id seconds — deterministic and strictly increasing
DEDUP_TS_BASE = 1767225600


def dedup_weights() -> list[list[list[int]]]:
    """[table][plane][dim] integer projection weights in
    [-500000003, 500000003) — precomputed once, inlined as literals in
    the Spark plan AND the DuckDB oracle (registry ladder: fixed lookup
    tables never evaluate hashes at query time)."""
    return [
        [
            [
                ((t * DEDUP_BITS + p) * 8191 + d) * 2654435761 % 1000000007
                - 500000003
                for d in range(DEDUP_DIM)
            ]
            for p in range(DEDUP_BITS)
        ]
        for t in range(DEDUP_TABLES)
    ]


_WEIGHTS = dedup_weights()


def with_dedup_buckets(df: DataFrame) -> DataFrame:
    """Bucketing stage: (vec_id, embedding, ts) →
    (vec_id, ts, ts_s, iq, t, bucket) with one row per LSH table.

    r14 opt (guide §4.2): the JVM form evaluated
    DEDUP_TABLES x DEDUP_BITS x DEDUP_DIM interpreted fold steps per
    vector (HOF lambdas don't codegen; ~0.6 s/batch at sf0.1). The
    mapInArrow kernel computes the identical integers — quantization
    floor(x·10⁶ + 0.5) on the exactly-widened double, then ONE int64
    matmul against the precomputed weight matrix (|iq·w| ≤ ~5e14·64
    < 2^63, overflow-safe; integer sums are order-independent, so
    matmul ≡ the fold) — and emits the 8 table rows per vector via
    take() indices. ts passes through untouched; ts_s is computed
    JVM-side before the stage so timestamp semantics stay Spark's."""

    def bucket_batches(batches):
        import numpy as np
        import pyarrow as pa

        W = np.array(_WEIGHTS, dtype=np.int64).reshape(
            DEDUP_TABLES * DEDUP_BITS, DEDUP_DIM
        )
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column("embedding")
            X = np.asarray(emb.flatten(), dtype=np.float64).reshape(
                n, DEDUP_DIM
            )
            iq = np.floor(X * 1000000.0 + 0.5).astype(np.int64)
            proj = iq @ W.T  # (n, TABLES*BITS) int64, overflow-safe
            bits = proj >= 0
            buckets = np.zeros((n, DEDUP_TABLES), dtype=np.int64)
            for t in range(DEDUP_TABLES):
                for p in range(DEDUP_BITS):
                    buckets[:, t] |= (
                        bits[:, t * DEDUP_BITS + p].astype(np.int64) << p
                    )
            idx = pa.array(np.repeat(np.arange(n, dtype=np.int64), DEDUP_TABLES))
            iq_flat = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * DEDUP_DIM, DEDUP_DIM, dtype=np.int32)
                ),
                pa.array(iq.ravel()),
            )
            tcol = pa.array(
                np.tile(np.arange(DEDUP_TABLES, dtype=np.int32), n)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id").take(idx),
                    batch.column("ts").take(idx),
                    batch.column("ts_s").take(idx),
                    iq_flat.take(idx),
                    tcol,
                    pa.array(buckets.ravel()),
                ],
                ["vec_id", "ts", "ts_s", "iq", "t", "bucket"],
            )

    return df.select(
        "vec_id", "embedding", "ts", F.unix_timestamp("ts").alias("ts_s")
    ).mapInArrow(
        bucket_batches,
        "vec_id long, ts timestamp, ts_s long, iq array<long>, "
        "t int, bucket long",
    )


# iqs as ONE packed little-endian int64 blob (members x DEDUP_DIM), not
# an array of arrays: the per-batch state roundtrip serializes every
# retained member's vector, and a flat binary column is a memcpy where
# the nested-array form pickled ~1M Python ints per batch at sf0.1
# (r13 opt round; layout is process-internal state, never an output).
# bks carries each member's exact bucket id (r14: the state key is the
# COARSE (t, bucket % DEDUP_COARSE) group, so exact-bucket candidacy is
# checked inside the probe).
DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("vids", T.ArrayType(T.LongType())),
        T.StructField("tss", T.ArrayType(T.LongType())),
        T.StructField("n2s", T.ArrayType(T.LongType())),
        T.StructField("bks", T.ArrayType(T.LongType())),
        T.StructField("iqs", T.BinaryType()),
    ]
)

# Coarse state-key modulus: the pandas-with-state framework pays a
# per-KEY overhead (arrow framing + state roundtrip, ~5-10 ms with this
# state schema), so ~505 live (t, bucket) keys cost several seconds per
# micro-batch while the probe math itself is milliseconds. Keying by
# (t, bucket % 8) caps the keyspace at DEDUP_TABLES x 8 = 64 groups;
# the MATCH rule is still exact bucket equality, checked inside the
# probe (the r12/r13 minhash-probe pattern — physical grouping only,
# never a verdict). State MASS is unchanged; retention stays per exact
# bucket (see probe).
DEDUP_COARSE = 8

DEDUP_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("match_id", T.LongType()),
    ]
)


def _dedup_probe_fn(horizon_s: int):
    def probe(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        # Fully-matrix probe (r14 opt; supersedes the r13 half-vector
        # form whose per-row Python loop still cost ~5 ms/group): all
        # candidate masks — earlier-(ts, id) lex, horizon, EXACT bucket
        # equality (the state key is coarse), dot > 0 — and the match
        # argmin compute as (n x m+n) boolean matrices; the exact
        # integer threshold 25·dot² ≥ 4·n2x·n2y (≈10³¹, beyond int64)
        # runs as a float64 SCREEN with a ±1e18 dead band (abs FP error
        # of the screened expression is ≤ ~1e16 at the fixture's value
        # bounds, so outside the band the float sign is provably the
        # integer sign) and only near-tie pairs fall through to exact
        # Python bigints. Verdicts are byte-identical to the per-pair
        # form: same candidate set, same (min id) match rule, same
        # horizon boundary, retention per EXACT bucket (each bucket
        # evicts against ITS latest batch ts; buckets silent this batch
        # keep their members — exactly the old per-bucket-group
        # behavior).
        if state.exists:
            vids, tss, n2s, bks, iqs = state.get
            m_ids = np.asarray(vids, dtype=np.int64)
            m_ts = np.asarray(tss, dtype=np.int64)
            m_n2 = np.asarray(n2s, dtype=np.int64)
            m_bk = np.asarray(bks, dtype=np.int64)
            m_iq = np.frombuffer(iqs, dtype="<i8").reshape(-1, DEDUP_DIM)
        else:
            m_ids = np.zeros(0, dtype=np.int64)
            m_ts = np.zeros(0, dtype=np.int64)
            m_n2 = np.zeros(0, dtype=np.int64)
            m_bk = np.zeros(0, dtype=np.int64)
            m_iq = np.zeros((0, DEDUP_DIM), dtype=np.int64)
        chunks = [p for p in pdfs]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            b_ids = batch["vec_id"].to_numpy(dtype=np.int64)
            b_ts = batch["ts_s"].to_numpy(dtype=np.int64)
            b_bk = batch["bucket"].to_numpy(dtype=np.int64)
            q_mat = np.array(batch["iq"].tolist(), dtype=np.int64)
            order = np.lexsort((b_ids, b_ts))
            b_ids, b_ts, b_bk = b_ids[order], b_ts[order], b_bk[order]
            q_mat = q_mat[order]
            n = len(b_ids)
            m = len(m_ids)
            if n and np.abs(q_mat).max() > 11_000_000:
                # dead-band validity domain: dot must stay float64-exact
                # (< 2^53) for the screen's error bound to hold
                raise ValueError("quantized embedding out of screen domain")
            b_n2 = np.einsum("nd,nd->n", q_mat, q_mat)
            all_ids = np.concatenate([m_ids, b_ids])
            all_ts = np.concatenate([m_ts, b_ts])
            all_n2 = np.concatenate([m_n2, b_n2])
            all_bk = np.concatenate([m_bk, b_bk])
            cand = np.concatenate([m_iq, q_mat]) if m else q_mat
            dots = q_mat @ cand.T  # (n, m + n) int64, overflow-safe
            # earlier-(ts, id): explicit lex for state members, strict
            # lower triangle for same-batch rows (sorted by (ts, id))
            ok = np.concatenate(
                [
                    (m_ts[None, :] < b_ts[:, None])
                    | (
                        (m_ts[None, :] == b_ts[:, None])
                        & (m_ids[None, :] < b_ids[:, None])
                    ),
                    np.tri(n, n, -1, dtype=bool),
                ],
                axis=1,
            )
            ok &= all_ts[None, :] >= (b_ts - horizon_s)[:, None]
            ok &= all_bk[None, :] == b_bk[:, None]
            ok &= dots > 0
            # exact threshold via float screen + bigint dead band
            lhs = 25.0 * dots.astype(np.float64) ** 2
            rhs = 4.0 * (
                b_n2.astype(np.float64)[:, None]
                * all_n2.astype(np.float64)[None, :]
            )
            diff = lhs - rhs
            passed = ok & (diff > 1e18)
            for i, j in zip(*np.nonzero(ok & (np.abs(diff) <= 1e18))):
                d = int(dots[i, j])
                if 25 * d * d >= 4 * int(b_n2[i]) * int(all_n2[j]):
                    passed[i, j] = True
            sentinel = np.iinfo(np.int64).max
            best = np.where(passed, all_ids[None, :], sentinel).min(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pd.array([int(v) for v in b_ids], dtype="Int64"),
                    "match_id": pd.array(
                        [None if v == sentinel else int(v) for v in best],
                        dtype="Int64",
                    ),
                }
            )
            # retention per exact bucket: evict against that bucket's
            # latest batch ts (sorted, so the last row per bucket is
            # its max); buckets with no rows this batch keep members
            keep = np.ones(m + n, dtype=bool)
            for bk in np.unique(b_bk):
                bound = b_ts[b_bk == bk][-1] - horizon_s
                keep &= ~((all_bk == bk) & (all_ts < bound))
            state.update(
                (
                    [int(v) for v in all_ids[keep]],
                    [int(s) for s in all_ts[keep]],
                    [int(x) for x in all_n2[keep]],
                    [int(x) for x in all_bk[keep]],
                    cand[keep].astype("<i8").tobytes(),
                )
            )
        else:
            state.update(
                (
                    [int(v) for v in m_ids],
                    [int(s) for s in m_ts],
                    [int(x) for x in m_n2],
                    [int(x) for x in m_bk],
                    np.ascontiguousarray(m_iq, dtype="<i8").tobytes(),
                )
            )

    return probe


def streaming_near_dedup(
    stream: DataFrame, horizon_s: int = DEDUP_HORIZON_S
) -> DataFrame:
    """Wire a (vec_id, embedding, ts) stream through bucketing + the
    stateful probe. Returns the per-(table, bucket) probe results —
    one row per (doc, table) with the smallest matching earlier vec_id
    (null if none); aggregate min(match_id) per vec_id downstream for
    the per-doc verdict (min over the union of tables == min over
    per-table minima). The STATE key is the coarse
    (t, bucket % DEDUP_COARSE) group — bounded keyspace, per-key
    framework overhead capped — while the match rule inside the probe
    is exact bucket equality (see DEDUP_COARSE)."""
    bucketed = (
        with_dedup_buckets(stream)
        .withColumn("bkey", F.col("bucket") % DEDUP_COARSE)
        .withWatermark("ts", "10 minutes")
    )
    return bucketed.groupBy("t", "bkey").applyInPandasWithState(
        _dedup_probe_fn(horizon_s),
        outputStructType=DEDUP_PROBE_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming MinHash (token-shingle) near-dedup -----------------------
# The documents twin of the embedding path above, and the ORACLE-BACKED
# sibling of the batch dedup_minhash_lsh rung (which is rows-only
# because its buckets come from xxhash64): here every hash is pure
# integer arithmetic both engines can replay — the char-rolling shingle
# hash text_fingerprint already proved byte-exact, then K independent
# universal-hash permutations (a·x + b mod P) with Python-precomputed
# literal coefficients. Duplicate verdict = an earlier doc within the
# event-time horizon sharing ALL rows of at least one signature band
# (estimated-Jaccard semantics — exact verification of candidate pairs
# is the batch rung's job; at ingest cadence the band collision IS the
# production drop rule).

MINHASH_SHINGLE = 3  # token 3-gram shingles
MINHASH_BANDS = 6
MINHASH_ROWS = 3  # rows per band -> 18 permutations; P(flag) = j^3 per band
MINHASH_P = 1000000007
MINHASH_HORIZON_S = 600
MINHASH_BKEYS = 64  # state-key buckets per band (see with_minhash_bands)


def minhash_perms() -> list[tuple[int, int]]:
    """(a, b) coefficients for the K = BANDS x ROWS universal hashes,
    precomputed in Python and inlined as literals in BOTH engines."""
    k = MINHASH_BANDS * MINHASH_ROWS
    return [
        (
            ((2654435761 * (i + 1)) % MINHASH_P) or 1,
            (40503 * (i + 17)) % MINHASH_P,
        )
        for i in range(k)
    ]


_MH_PERMS = minhash_perms()


def with_minhash_bands(df: DataFrame) -> DataFrame:
    """Vectorized signature pipeline (r14, guide §4.2): same columns
    and VALUES as the interpreted-HOF reference pipeline
    (``_minhash_bands_reference`` in tests/test_round14_ops.py, the
    semantic definition of the bands), computed in a mapInArrow
    kernel. Everything is exact integer arithmetic mod P, so NumPy
    int64 reproduces the JVM folds bit-for-bit (all intermediates
    < 2^63: char fold ≤ 31·P + 0x10FFFF, shingle/bkey folds ≤ 8191·P + P,
    permutations ≤ P² ≈ 1e18). Pinned JVM edge semantics the kernel
    mirrors (probed empirically, asserted by the equivalence test):
    split(text, ' ') keeps empty tokens; an EMPTY token hashes as one
    fold step with ascii('') = 0 (h = 217); docs with < 3 tokens emit
    sig '' and bkey NULL for every band. The char fold runs
    positionally over Arrow's flat token-bytes buffer (~20 vectorized
    steps instead of per-char interpreted lambdas); non-ASCII bytes
    fall back to a per-token codepoint loop (identical values for BMP
    text — Java charAt == Python ord there; astral chars raise rather
    than silently diverge)."""
    sh = MINHASH_SHINGLE
    n_perm = MINHASH_BANDS * MINHASH_ROWS

    def band_batches(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        A = np.array([a for a, _ in _MH_PERMS], dtype=np.int64)
        B = np.array([b for _, b in _MH_PERMS], dtype=np.int64)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            toks = pc.split_pattern(batch.column("text"), " ")
            if isinstance(toks, pa.ChunkedArray):
                toks = toks.combine_chunks()
            n_tok_per_doc = np.asarray(
                pc.list_value_length(toks), dtype=np.int64
            )
            flat = toks.flatten()  # StringArray of every token, in order
            # token char fold, positionally over the flat bytes buffer
            off = np.frombuffer(
                flat.buffers()[1], dtype=np.int32
            )[flat.offset : flat.offset + len(flat) + 1].astype(np.int64)
            data = np.frombuffer(flat.buffers()[2], dtype=np.uint8)
            lens = off[1:] - off[:-1]
            n_tok = len(lens)
            th = np.full(n_tok, 7, dtype=np.int64)
            if data.size and data.max() >= 128:
                # non-ASCII: per-token codepoint fold (exact for BMP)
                for i, tok in enumerate(flat.to_pylist()):
                    h = 7
                    for ch in tok or "\x00":
                        cp = ord(ch)
                        if cp > 0xFFFF:
                            raise ValueError(
                                "astral char in minhash tokenizer"
                            )
                        h = (h * 31 + cp) % MINHASH_P
                    th[i] = h
            else:
                # pos 0 applies to EVERY token (empty token → code 0)
                if n_tok:
                    c0 = np.zeros(n_tok, dtype=np.int64)
                    nz = lens > 0
                    c0[nz] = data[off[:-1][nz]]
                    th = (th * 31 + c0) % MINHASH_P
                    max_len = int(lens.max()) if n_tok else 0
                    for pos in range(1, max_len):
                        m = lens > pos
                        th[m] = (
                            th[m] * 31 + data[off[:-1][m] + pos]
                        ) % MINHASH_P
            # shingle combine across doc boundaries
            doc_of_tok = np.repeat(np.arange(n, dtype=np.int64), n_tok_per_doc)
            if n_tok >= sh:
                s = th[:-2]
                for j in range(1, sh):
                    s = (s * 8191 + th[j : n_tok - sh + 1 + j]) % MINHASH_P
                valid = doc_of_tok[: n_tok - sh + 1] == doc_of_tok[sh - 1 :]
                s = s[valid]
                s_doc = doc_of_tok[: n_tok - sh + 1][valid]
            else:
                s = np.zeros(0, dtype=np.int64)
                s_doc = np.zeros(0, dtype=np.int64)
            # per-doc per-permutation minima (docs with shingles only)
            docs_with, starts = np.unique(s_doc, return_index=True)
            mins = np.empty((len(docs_with), n_perm), dtype=np.int64)
            for k in range(n_perm):
                v = (s * A[k] + B[k]) % MINHASH_P
                if len(docs_with):
                    mins[:, k] = np.minimum.reduceat(v, starts)
            # assemble per-(doc, band) rows
            sig_out = np.full((n, MINHASH_BANDS), "", dtype=object)
            bkey_out = np.full((n, MINHASH_BANDS), None, dtype=object)
            for row, d_idx in enumerate(docs_with):
                mv = mins[row]
                for bnd in range(MINHASH_BANDS):
                    r0 = bnd * MINHASH_ROWS
                    parts = mv[r0 : r0 + MINHASH_ROWS]
                    sig_out[d_idx, bnd] = "-".join(str(int(x)) for x in parts)
                    bk = int(parts[0])
                    for x in parts[1:]:
                        bk = (bk * 8191 + int(x)) % MINHASH_P
                    bkey_out[d_idx, bnd] = bk % MINHASH_BKEYS
            idx = pa.array(
                np.repeat(np.arange(n, dtype=np.int64), MINHASH_BANDS)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").take(idx),
                    batch.column("ts").take(idx),
                    batch.column("ts_s").take(idx),
                    pa.array(
                        np.tile(
                            np.arange(MINHASH_BANDS, dtype=np.int32), n
                        )
                    ),
                    pa.array(bkey_out.ravel().tolist(), type=pa.int64()),
                    pa.array(sig_out.ravel().tolist(), type=pa.string()),
                ],
                ["doc_id", "ts", "ts_s", "band", "bkey", "sig"],
            )

    return df.select(
        "doc_id", "text", "ts", F.unix_timestamp("ts").alias("ts_s")
    ).mapInArrow(
        band_batches,
        "doc_id long, ts timestamp, ts_s long, band int, bkey long, "
        "sig string",
    )


BAND_STATE_SCHEMA = T.StructType(
    [
        T.StructField("dids", T.ArrayType(T.LongType())),
        T.StructField("tss", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.StringType())),
    ]
)

BAND_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("match_id", T.LongType()),
    ]
)


def _band_probe_fn(horizon_s: int):
    """Per-(band, bkey) group: a match is an exact SIGNATURE-equal
    member (several signatures can share a bucket — the probe checks
    equality, so bucketing never changes a verdict); emit the smallest
    earlier-event-time match within the horizon, evicting older members
    as rows flow."""

    def probe(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            dids, tss, msigs = state.get
            members = [
                (int(v), int(s), g) for v, s, g in zip(dids, tss, msigs)
            ]
        else:
            members = []
        chunks = [p for p in pdfs]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_s", "doc_id"]
            )
            out_v: list[int] = []
            out_m: list[int | None] = []
            for doc_id, ts_s, sig in zip(
                batch["doc_id"], batch["ts_s"], batch["sig"]
            ):
                doc_id, ts_s = int(doc_id), int(ts_s)
                members = [m for m in members if m[1] >= ts_s - horizon_s]
                earlier = [
                    mv
                    for mv, ms, mg in members
                    if mg == sig and (ms, mv) < (ts_s, doc_id)
                ]
                out_v.append(doc_id)
                out_m.append(min(earlier) if earlier else None)
                members.append((doc_id, ts_s, sig))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(out_v, dtype="Int64"),
                    "match_id": pd.array(out_m, dtype="Int64"),
                }
            )
        state.update(
            (
                [m[0] for m in members],
                [m[1] for m in members],
                [m[2] for m in members],
            )
        )

    return probe


def streaming_minhash_dedup(
    stream: DataFrame, horizon_s: int = MINHASH_HORIZON_S
) -> DataFrame:
    """Wire a (doc_id, text, ts) stream through MinHash banding + the
    per-band stateful probe. The STATE key is (band, sig-hash-bucket)
    — a bounded BANDS x MINHASH_BKEYS keyspace, so the per-group pandas
    invocation count is capped regardless of corpus size — while the
    match rule inside the probe is exact signature equality. Members
    are horizon-evicted, so state mass is the arrival mass inside the
    window, not the corpus."""
    banded = with_minhash_bands(stream).withWatermark("ts", "10 minutes")
    return banded.groupBy("band", "bkey").applyInPandasWithState(
        _band_probe_fn(horizon_s),
        outputStructType=BAND_PROBE_SCHEMA,
        stateStructType=BAND_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def minhash_sig_cte_sql(source: str = "documents") -> str:
    """DuckDB CTE chain (toks -> tokh -> hashed -> sigs -> banded)
    replaying with_minhash_bands' integer signature pipeline exactly —
    shared by the streaming near-dedup oracle and the batch MinHash
    decontamination oracle so the hash arithmetic cannot drift between
    them. `banded` is (doc_id, band, bsig)."""
    perms = minhash_perms()
    sh = MINHASH_SHINGLE
    shingle_combine = "th[i]"
    for j in range(1, sh):
        shingle_combine = (
            f"(({shingle_combine}) * 8191 + th[i + {j}]) % {MINHASH_P}"
        )
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {MINHASH_P}))"
        for a, b in perms
    )
    band_sig = " ".join(
        "WHEN {b} THEN concat_ws('-', {parts})".format(
            b=b,
            parts=", ".join(
                f"CAST(sig[{b * MINHASH_ROWS + r + 1}] AS VARCHAR)"
                for r in range(MINHASH_ROWS)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM {source}
    ), tokh AS (
      SELECT doc_id,
             list_transform(w, s ->
               list_reduce(
                 list_prepend(CAST(7 AS BIGINT),
                   list_transform(string_split_regex(s, ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
                 (h, c) -> (h * 31 + c) % {MINHASH_P})) AS th
      FROM toks
    ), hashed AS (
      SELECT doc_id,
             CASE WHEN len(th) >= {sh}
                  THEN list_transform(range(1, len(th) - {sh - 2}),
                                      i -> {shingle_combine})
                  ELSE [] END AS hs
      FROM tokh
    ), sigs AS (
      SELECT doc_id, [{sig_exprs}] AS sig
      FROM hashed WHERE len(hs) > 0
    ), banded AS (
      SELECT doc_id, bb.b AS band, CASE bb.b {band_sig} END AS bsig
      FROM sigs, LATERAL (SELECT unnest(range(0, {MINHASH_BANDS})) AS b) bb
    )
    """
