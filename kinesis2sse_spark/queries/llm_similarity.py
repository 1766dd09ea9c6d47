"""Similarity search over ``embeddings.embedding`` (array<float>, 64-dim):
brute-force cosine top-k (exact baseline, oracle-checked),
random-projection LSH, IVF (cluster-probe), PQ (product quantization,
byte-exact oracle), and the composed IVF+PQ — the rungs of the ANN
ladder for a 100 TB corpus, each with a driver-checked recall
contract.

Determinism: ranking is always on (round(cos, 6) DESC, vec_id) so FP
summation-order noise below 1e-6 can't reorder results between Spark and
the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis2sse_spark.catalog import load_table, pin_cache, scratch_cache
from kinesis2sse_spark.registry import register

N_QUERIES = 10  # query set = vec_id < 10
TOP_K = 5


def _corpus_rows(sf_dir: str, table: str) -> int:
    """Row count from parquet footer metadata — a driver-side file read
    (no Spark job), the cheap 'corpus stats at index-build time' input
    the adaptive probe-budget policies key on. At 100 TB this is the
    catalog/table-statistics lookup; here it's the footer the writer
    already stamped."""
    import os

    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(sf_dir, f"{table}.parquet")).count_rows()


def _with_norm(e, extra_cols=()):
    """Double-cast embedding + fold-norm (the convention every cosine
    oracle replays byte-exactly); ``extra_cols`` pass through untouched
    (e.g. ``label`` for the retrieval-evaluation consumers)."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    return e.select("vec_id", *extra_cols, v.alias("v")).withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )


@register(
    "sim_topk_bruteforce",
    bench=True,
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, compute dot/norms with JVM higher-order functions, keep the
    per-query top-k with a window. The corpus is scanned once and never
    shuffled — only (n_queries × corpus) scores flow into the top-k,
    which WindowGroupLimit prunes map-side."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e)
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


IVF_K = 16      # coarse-quantizer cells
IVF_PROBES = 6  # cells probed per query (of IVF_K)
LSH_PLANES = 6  # bits per table → 64 buckets/table
LSH_TABLES = 8  # OR-construction: candidate = same bucket in ANY table


# --- Vectorized LSH signatures (guide §4.2) ---------------------------
#
# The hyperplane components depend ONLY on the constants (table, plane,
# dim) — xxhash64(t, p, d) over int32 literals with Spark's fixed seed
# 42 — so the whole tables × planes × dim hyperplane tensor is a
# compile-time constant. Evaluating it per ROW through interpreted HOFs
# (the reference form ``_lsh_signature`` in tests/test_round14_ops.py,
# which defines the bucket ids) costs ~3k interpreted hash calls per
# vector; folding it into ~3k-literal array expressions defeats codegen
# (A/B-measured 10x SLOWER in r13). The fast form: reimplement Spark's
# xxhash64 for the int32-literal case in Python (public spec,
# value-identity asserted against F.xxhash64 by
# test_lsh_python_xxhash64_matches_spark), build the hyperplane matrix
# ONCE per Python worker, and compute all tables × planes projections
# per batch in NumPy inside mapInArrow.
#
# Bit-exactness: the JVM fold accumulates proj = ((0.0 + x0*h0) + x1*h1)
# + ... in document order; the NumPy stage accumulates acc += V[:, d] *
# H[:, d] over d in the same order — the identical sequence of IEEE-754
# double multiply-then-add ops (NumPy ufuncs do not fuse), so every
# projection, sign bit and bucket id is byte-identical to the reference.

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P5 = 0x27D4EB2F165667C5
_XXH_MASK = (1 << 64) - 1


def _xxhash64_ints(vals, seed: int = 42) -> int:
    """Spark's XxHash64 over a tuple of INT columns (catalyst XXH64
    hashInt chained across children, default seed 42), returned as the
    signed int64 Spark produces. Covers exactly the literal-int case the
    LSH hyperplanes use; value-identity vs F.xxhash64 is pinned by
    test_lsh_python_xxhash64_matches_spark."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _XXH_MASK

    def fmix(h: int) -> int:
        h ^= h >> 33
        h = (h * _XXH_P2) & _XXH_MASK
        h ^= h >> 29
        h = (h * _XXH_P3) & _XXH_MASK
        h ^= h >> 32
        return h

    h = seed
    for v in vals:
        # XXH64.hashInt: the int is widened to an unsigned 32-bit long
        acc = (h + _XXH_P5 + 4) & _XXH_MASK
        acc ^= ((v & 0xFFFFFFFF) * _XXH_P1) & _XXH_MASK
        acc = (rotl(acc, 23) * _XXH_P2 + _XXH_P3) & _XXH_MASK
        h = fmix(acc)
    return h - (1 << 64) if h >= (1 << 63) else h


# Hyperplane tensors are pure functions of (n_tables, n_planes, dim) —
# cached per Python worker (spark.python.worker.reuse keeps the module
# alive across tasks; guide §4.5). NOT data-derived: nothing here reads
# or depends on fixture content.
_LSH_PLANE_CACHE: dict = {}


def _lsh_plane_matrix(n_tables: int, n_planes: int, dim: int):
    """(n_tables * n_planes, dim) float64 hyperplane matrix; row
    t * n_planes + p, component d = (pmod(xxhash64(t, p, d), 2000)
    - 1000) / 1000.0 — exactly the reference expression's constants
    (integer in [-1000, 1000) divided by 1000.0: both engines produce
    the identical double)."""
    import numpy as np

    key = (n_tables, n_planes, dim)
    m = _LSH_PLANE_CACHE.get(key)
    if m is None:
        m = np.empty((n_tables * n_planes, dim), dtype=np.float64)
        for t in range(n_tables):
            for p in range(n_planes):
                row = t * n_planes + p
                for d in range(dim):
                    m[row, d] = (_xxhash64_ints((t, p, d)) % 2000 - 1000) / 1000.0
        _LSH_PLANE_CACHE[key] = m
    return m


def _lsh_sign(df):
    """mapInArrow signature stage: (vec_id, v, norm) → (vec_id, v, norm,
    sigs) where sigs[t] is table t's bucket id — byte-identical to
    the reference _lsh_signature (see the exactness note above; pinned
    by test_lsh_arrow_signatures_match_hof). Only the columns the kernel
    needs cross the boundary (§4.1), v/norm pass through untouched so
    the exact rerank downstream scores the same doubles."""
    n_tables, n_planes = LSH_TABLES, LSH_PLANES

    def sig_batches(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            v = batch.column("v")
            if v.null_count:
                raise ValueError("null embedding in LSH signature stage")
            n = batch.num_rows
            lens = np.asarray(pa.compute.list_value_length(v), dtype=np.int64)
            vals = np.asarray(v.flatten(), dtype=np.float64)
            buckets = np.zeros((n, n_tables), dtype=np.int64)
            # fixture vectors are uniform-dim; group by length anyway so
            # a mixed batch stays correct (each group runs the same
            # sequential-order accumulation)
            for dim in np.unique(lens):
                rows = np.nonzero(lens == dim)[0]
                if dim == 0:
                    # empty vector: proj = 0.0 >= 0 → every bit set
                    buckets[rows, :] = (1 << n_planes) - 1
                    continue
                starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
                idx = starts[rows][:, None] + np.arange(dim)[None, :]
                V = vals[idx]  # (len(rows), dim)
                H = _lsh_plane_matrix(n_tables, n_planes, int(dim))
                acc = np.zeros((len(rows), n_tables * n_planes))
                for d in range(int(dim)):
                    # same IEEE op order as the JVM fold: multiply, add
                    acc += V[:, d, None] * H[None, :, d]
                bits = acc >= 0.0
                b = np.zeros((len(rows), n_tables), dtype=np.int64)
                for t in range(n_tables):
                    for p in range(n_planes):
                        b[:, t] |= bits[:, t * n_planes + p].astype(np.int64) << p
                buckets[rows] = b
            sigs = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * n_tables, n_tables, dtype=np.int32)
                ),
                pa.array(buckets.ravel()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"), v, batch.column("norm"), sigs],
                ["vec_id", "v", "norm", "sigs"],
            )

    return df.select("vec_id", "v", "norm").mapInArrow(
        sig_batches, "vec_id long, v array<double>, norm double, sigs array<long>"
    )


# Probe-budget policy: below this corpus size, bucket occupancy is so
# sparse that radius-1 multiprobe leaves recall to per-bucket luck —
# widen to radius 2 (all 2-bit flips). Real ANN deployments set the
# probe budget from corpus stats at index-build time exactly like
# this; above the threshold the plan is byte-identical to before.
LSH_SMALL_CORPUS = 1000


@register("sim_topk_lsh", oracle=None)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH, multi-table + multiprobe: vectors index
    into LSH_TABLES independent hash tables (sign pattern over
    LSH_PLANES hyperplanes each); a query probes its own bucket plus
    every 1-bit-flip bucket in each table (multiprobe radius 1; radius
    2 below LSH_SMALL_CORPUS vectors, where occupancy is too sparse
    for radius 1 — the corpus-stats-driven probe budget every ANN
    deployment picks at index-build time), the
    union of bucket members is reranked exactly, top-k kept. The scale
    path: the index is L postings of the corpus keyed by (table,
    bucket) — candidate generation is an equi-join, never a cross
    join; L and the plane count tune recall vs. candidate volume per
    dataset (single-table sign-LSH has ~p^b recall on far neighbors —
    useless on near-uniform embeddings like this fixture; the OR over
    tables × probes is what buys recall). Approximate → rows-only
    check; the recall contract lives in sim_recall_lsh."""
    import itertools

    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e)
    # probe budget from parquet FOOTER row counts (driver-side metadata
    # read, microseconds) — an index-build-time corpus stat, exactly
    # where ANN deployments read it. Not e.count(): that is an eager
    # full-scan Spark job at DataFrame-CONSTRUCTION time, paid by every
    # plan dump / EXPLAIN / composing caller (sim_recall_lsh built this
    # twice per call)
    radius = 2 if _corpus_rows(sf_dir, "embeddings") < LSH_SMALL_CORPUS else 1
    flips = [0] + [2**p for p in range(LSH_PLANES)]
    if radius >= 2:
        flips += [
            2**a | 2**b for a, b in itertools.combinations(range(LSH_PLANES), 2)
        ]

    # corpus index: one row per (table, bucket) — L postings. Signatures
    # come from the vectorized _lsh_sign stage (sigs[t] = table t's
    # bucket, so posexplode's pos IS the table id — same 0..L-1 mapping
    # the old struct-array explode produced).
    indexed = _lsh_sign(corpus).select(
        "vec_id", "v", "norm", F.posexplode("sigs").alias("table", "bucket")
    )

    # query probes: own bucket + every radius-1 bit flip, per table
    # (explode twice — tables, then probe buckets). The signature stage
    # runs on the FILTERED query relation so the vec_id predicate still
    # pushes to the scan (an opaque-stage-then-filter would ship the
    # whole corpus through Python at scale; guide §4.2 caveat).
    probes = (
        _lsh_sign(
            corpus.filter(F.col("vec_id") < N_QUERIES)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.posexplode("sigs").alias("table", "sig"),
        )
        .select(
            "query_id",
            "qv",
            "qnorm",
            "table",
            F.explode(
                F.array_distinct(
                    F.array(
                        *[F.col("sig").bitwiseXOR(F.lit(fl)) for fl in flips]
                    )
                )
            ).alias("bucket"),
        )
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        indexed.join(F.broadcast(probes), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


# The IVF rung is deterministic arithmetic end to end (seed centroids =
# first IVF_K corpus vectors; assignment = argmax of round(cos, 6) with
# a low-cell tiebreak; probe ranking = the raw left-fold dot product,
# which both engines evaluate in the identical IEEE order —
# list_prepend(0.0) ≡ F.aggregate's 0.0 init), so unlike the
# xxhash64-bucketed LSH rung it carries a FULL byte-exact oracle: the
# same cells, the same probes, the same rounded-cosine rerank.
_IVF_DIM = 64  # embedding dim (= PQ_M * PQ_SUB, defined below with the PQ rung)
_IVF_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(range(0, {_IVF_DIM}), i -> {{a}}[i + 1] * {{b}}[i + 1])), "
    "(x, y) -> x + y)"
)

def _ivf_centroids(corpus):
    """Deterministic coarse quantizer: the first IVF_K corpus vectors
    (any fixed quantizer works for IVF; swap in k-means centroids from
    ml_kmeans_update offline when the corpus has cluster structure)."""
    return corpus.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )


def _ivf_assign(corpus, centroids):
    """Nearest-centroid assignment as a map-side max_by AGGREGATE (the
    r9 SemDeDup/k-means argmax fix class, applied to the IVF rungs in
    r10): the n x IVF_K scored expansion partial-aggregates to one
    candidate per vec_id per partition BEFORE the exchange, so only n
    rows (not n x k vector-bearing rows) ever shuffle. struct ordering
    (csim, -cell) == the old window's ORDER BY csim DESC, cell ASC —
    byte-exact vs the row_number oracle because (csim, cell) is unique
    per scored row. Returns (vec_id, v, norm, cell)."""
    adot = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = corpus.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "v",
        "norm",
        "cell",
        F.round(adot / (F.col("norm") * F.col("cnorm")), 6).alias("csim"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("v", "norm", "cell"),
                F.struct(F.col("csim").alias("s"), (-F.col("cell")).alias("nc")),
            ).alias("best")
        )
        .select(
            "vec_id",
            F.col("best.v").alias("v"),
            F.col("best.norm").alias("norm"),
            F.col("best.cell").alias("cell"),
        )
    )


_IVF_ORACLE = f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)),
               (a, b) -> a + b)) AS norm
      FROM embeddings
    ), cents AS (
      SELECT CAST(vec_id AS INT) AS cell, v AS cv, norm AS cnorm
      FROM corpus WHERE vec_id < {IVF_K}
    ), cellr AS (
      SELECT c0.vec_id, c0.v, c0.norm, c.cell,
             row_number() OVER (PARTITION BY c0.vec_id
               ORDER BY round({_IVF_DOT.format(a="c0.v", b="c.cv")}
                              / (c0.norm * c.cnorm), 6) DESC, c.cell) AS arn
      FROM corpus c0, cents c
    ), assigned AS (
      SELECT vec_id, v, norm, cell FROM cellr WHERE arn = 1
    ), queries AS (
      SELECT vec_id AS query_id, v AS qv, norm AS qnorm
      FROM assigned WHERE vec_id < {N_QUERIES}
    ), prober AS (
      SELECT q.query_id, q.qv, q.qnorm, c.cell,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_IVF_DOT.format(a="q.qv", b="c.cv")} DESC, c.cell) AS prn
      FROM queries q, cents c
    ), probes AS (
      SELECT query_id, qv, qnorm, cell FROM prober WHERE prn <= {IVF_PROBES}
    ), scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round({_IVF_DOT.format(a="p.qv", b="a.v")}
                   / (p.qnorm * a.norm), 6) AS cos_sim
      FROM assigned a JOIN probes p ON p.cell = a.cell AND p.query_id <> a.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
"""


@register("sim_topk_ivf", oracle=_IVF_ORACLE)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into IVF_K
    cells, then probe only the IVF_PROBES centroids nearest each query
    and rerank exactly inside those cells. At 100 TB the corpus is
    written partitioned by cell id, so a probe reads ~probes/k of the
    data. The coarse quantizer is deterministic (centroids = the first
    IVF_K corpus vectors — any fixed quantizer works for IVF; swap in
    k-means centroids from ml_kmeans_update offline when the corpus has
    real cluster structure) so results are bit-stable across sessions
    and partitionings — a requirement for the recall contract in
    sim_recall_ivf. The probe count is the recall/cost dial:
    near-uniform embeddings (this fixture) spread true neighbors across
    many cells, so probes must be a meaningful fraction of k; clustered
    corpora get away with 1-2. Deterministic end to end → carries the
    byte-exact _IVF_ORACLE (round 6); the recall-vs-exact contract
    stays in sim_recall_ivf."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e)
    centroids = _ivf_centroids(corpus)
    # assign: nearest centroid by cosine via map-side max_by aggregate
    # (deterministic low-cell tiebreak; see _ivf_assign)
    assigned = _ivf_assign(corpus, centroids)
    centroids = centroids.select("cell", "cv")
    queries = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    qdot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    # IVF_PROBES nearest centroids per query, ranked by the RAW
    # UNNORMALIZED dot product (qdot, not cosine) — deliberate: this is
    # exactly what the byte-exact _IVF_ORACLE prober replays, so
    # "fixing" this to true cosine would break hash_match
    wq = Window.partitionBy("query_id").orderBy(F.col("cdist").desc(), "cell")
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("cdist", qdot)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVF_PROBES)
        .select("query_id", "qv", "qnorm", "cell")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


_IVF_ASSIGNED_SCHEMA = (
    "vec_id long, v array<double>, norm double, cell int"
)
_IVF_CENTROIDS_SCHEMA = "cell int, cv array<double>, cnorm double"


def _ensure_ivf_index(spark: SparkSession, sf_dir: str, rebuild: bool = False):
    """Materialize the IVF index as a lake artifact if absent: the cell
    assignment (vec_id, v, norm) written PARTITIONED BY cell — the
    physical layout that makes probing read ~probes/k of the corpus —
    plus the IVF_K-row centroid table. Build runs eagerly at call time
    (same non-laziness contract as pin_cache: callers are index
    lifecycle operators, not lazy query builders). The artifact path
    embeds the embeddings fixture's content fingerprint
    (catalog.scratch_cache), so build-if-absent is safe against in-place
    corpus regeneration: new content → new path → rebuild."""
    import os

    path = scratch_cache("ivf_index", sf_dir, "embeddings")
    apath, cpath = f"{path}/assigned", f"{path}/centroids"
    done = all(
        os.path.exists(os.path.join(p, "_SUCCESS")) for p in (apath, cpath)
    )
    if rebuild or not done:
        corpus = _with_norm(load_table(spark, sf_dir, "embeddings"))
        centroids = _ivf_centroids(corpus)
        _ivf_assign(corpus, centroids).write.partitionBy("cell").mode(
            "overwrite"
        ).parquet(apath)
        centroids.write.mode("overwrite").parquet(cpath)
    return apath, cpath


@register(
    "sim_ivf_index_build",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)),
               (a, b) -> a + b)) AS norm
      FROM embeddings
    ), cents AS (
      SELECT CAST(vec_id AS INT) AS cell, v AS cv, norm AS cnorm
      FROM corpus WHERE vec_id < {IVF_K}
    ), cellr AS (
      SELECT c0.vec_id, c.cell,
             row_number() OVER (PARTITION BY c0.vec_id
               ORDER BY round({_IVF_DOT.format(a="c0.v", b="c.cv")}
                              / (c0.norm * c.cnorm), 6) DESC, c.cell) AS arn
      FROM corpus c0, cents c
    )
    SELECT cell, count(*) AS n_vectors
    FROM cellr WHERE arn = 1
    GROUP BY cell ORDER BY cell
    """,
)
def sim_ivf_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index BUILD as its own lifecycle operator — the two-phase
    shape that makes ANN viable at 100 TB ingest cadence: production
    systems amortize one index build across every query, where
    sim_topk_ivf (kept as the self-contained reference rung)
    recomputes the assignment per query. The build runs _ivf_assign
    once (map-side max_by argmax — n rows cross the exchange) and
    lands the assignment as parquet PARTITIONED BY cell plus the
    centroid table (_ensure_ivf_index); a forced rebuild here makes
    the driver row attest this round's build path, not a stale
    artifact. Returns the per-cell occupancy read back FROM the
    artifact, so the oracle (same deterministic assignment arithmetic
    as _IVF_ORACLE's `assigned` CTE, aggregated per cell) verifies
    both the assignment math and the write/read roundtrip."""
    apath, _cpath = _ensure_ivf_index(spark, sf_dir, rebuild=True)
    # explicit schema: inference throws on an EMPTY artifact (a
    # degenerate corpus writes only _SUCCESS) and the schema is
    # known by construction anyway
    idx = spark.read.schema(_IVF_ASSIGNED_SCHEMA).parquet(apath)
    return (
        idx.groupBy(F.col("cell").cast("int").alias("cell"))
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("cell")
    )


IVF_APPEND_SPLIT = 400  # vec_id < 400 = base index; >= 400 = new arrivals

# shared verbatim by sim_ivf_index_append and its streaming twin
# streaming_ivf_append: base/new occupancy under the no-retrain rule —
# one quantizer (first IVF_K vectors, all < split) assigns both phases
_IVF_APPEND_ORACLE = f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)),
               (a, b) -> a + b)) AS norm
      FROM embeddings
    ), cents AS (
      SELECT CAST(vec_id AS INT) AS cell, v AS cv, norm AS cnorm
      FROM corpus WHERE vec_id < {IVF_K}
    ), cellr AS (
      SELECT c0.vec_id, c.cell,
             row_number() OVER (PARTITION BY c0.vec_id
               ORDER BY round({_IVF_DOT.format(a="c0.v", b="c.cv")}
                              / (c0.norm * c.cnorm), 6) DESC, c.cell) AS arn
      FROM corpus c0, cents c
    ), assigned AS (SELECT vec_id, cell FROM cellr WHERE arn = 1)
    SELECT cell,
           count(*) FILTER (WHERE vec_id < {IVF_APPEND_SPLIT}) AS n_base,
           count(*) FILTER (WHERE vec_id >= {IVF_APPEND_SPLIT}) AS n_new
    FROM assigned GROUP BY cell ORDER BY cell
    """


@register("sim_ivf_index_append", oracle=_IVF_APPEND_ORACLE)
def sim_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance — the third lifecycle operator of the
    build/probe split: new arrivals (vec_id >= IVF_APPEND_SPLIT) are
    assigned to the EXISTING coarse quantizer (no retrain — the
    production incremental path; retraining is a deliberate rebuild
    triggered by sim_ivf_index_stats' balance census) and APPENDED to
    the cell-partitioned artifact. Only the new batch is scanned,
    assigned (map-side max_by, batch-sized exchange) and written —
    at 100 TB ingest cadence the append touches the arrival batch,
    never the standing index (the partitioned layout makes the append
    pure new files inside existing cell directories). Returns combined
    per-cell occupancy split by base/new so the oracle verifies the
    assignment arithmetic, the no-retrain rule (same centroids for
    both phases — first IVF_K vectors, all < split), AND the append
    roundtrip. Base rebuild + append both run here so the driver row
    attests this round's write path."""
    import os

    path = os.path.join(
        scratch_cache("ivf_index", sf_dir, "embeddings") + "_incr", "assigned"
    )
    corpus = _with_norm(load_table(spark, sf_dir, "embeddings"))
    base = corpus.filter(F.col("vec_id") < IVF_APPEND_SPLIT)
    centroids = _ivf_centroids(base)
    _ivf_assign(base, centroids).write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(path)
    newb = corpus.filter(F.col("vec_id") >= IVF_APPEND_SPLIT)
    _ivf_assign(newb, centroids).write.partitionBy("cell").mode("append").parquet(
        path
    )
    return _ivf_occupancy_split(spark, path)


def _ivf_occupancy_split(spark: SparkSession, path: str) -> DataFrame:
    """Combined per-cell occupancy of an appended IVF artifact, split at
    the base/new vec_id boundary — the read-back both append operators
    (batch and streaming) return so _IVF_APPEND_ORACLE verifies the
    assignment arithmetic AND the append roundtrip."""
    idx = spark.read.schema(_IVF_ASSIGNED_SCHEMA).parquet(path)
    return (
        idx.groupBy(F.col("cell").cast("int").alias("cell"))
        .agg(
            F.count(F.when(F.col("vec_id") < IVF_APPEND_SPLIT, 1)).alias("n_base"),
            F.count(F.when(F.col("vec_id") >= IVF_APPEND_SPLIT, 1)).alias("n_new"),
        )
        .orderBy("cell")
    )


@register("sim_topk_ivf_prebuilt", oracle=_IVF_ORACLE)
def sim_topk_ivf_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF PROBE against the prebuilt index — the query-time half of
    the build/probe split (oracle identical to sim_topk_ivf's: the
    split must not change a single result byte). The returned plan
    reads ONLY the index artifact: queries, probes, and scoring all
    derive from the cell-partitioned assignment parquet and the
    IVF_K-row centroid table — no embeddings.parquet scan anywhere
    (plan-locked), which is the point: at 100 TB the probe touches
    ~probes/k of the index partitions (cell is the physical partition
    key, so the probe join prunes partitions) and never the raw
    corpus. Build-if-absent keeps the query self-sufficient for the
    driver; production calls the build on ingest cadence instead."""
    apath, cpath = _ensure_ivf_index(spark, sf_dir)
    assigned = spark.read.schema(_IVF_ASSIGNED_SCHEMA).parquet(apath).select(
        "vec_id", "v", "norm", F.col("cell").cast("int").alias("cell")
    )
    centroids = spark.read.schema(_IVF_CENTROIDS_SCHEMA).parquet(cpath).select(
        "cell", "cv"
    )
    queries = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    qdot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    # probe ranking replays _IVF_ORACLE's prober byte-exactly (raw
    # unnormalized dot, low-cell tiebreak — see sim_topk_ivf)
    wq = Window.partitionBy("query_id").orderBy(F.col("cdist").desc(), "cell")
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("cdist", qdot)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVF_PROBES)
        .select("query_id", "qv", "qnorm", "cell")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


@register(
    "sim_knn_classify",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    top AS (
      SELECT query_id, label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    ),
    votes AS (
      SELECT query_id, label, count(*) AS votes
      FROM top WHERE rn <= {TOP_K}
      GROUP BY query_id, label
    )
    SELECT query_id, label AS predicted_label, votes
    FROM (
      SELECT query_id, label, votes,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, label) AS vr
      FROM votes
    ) WHERE vr = 1
    ORDER BY query_id
    """,
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label voting over the embedding corpus: exact top-k neighbor
    search (same broadcast + WindowGroupLimit plan as
    sim_topk_bruteforce — corpus scanned once, never shuffled), then a
    majority vote over neighbor labels with a deterministic tiebreak
    (most votes, then smallest label). The training-pipeline use: label
    propagation / quality-bucket inference for unlabeled corpora. At
    100 TB the query set stays broadcast-sized and the vote is a
    per-query aggregate over k rows — the corpus-side cost is identical
    to one brute-force scan, or sub-linear via the LSH/IVF rungs."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    corpus = e.select("vec_id", "label", v.alias("v")).withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )
    queries = _with_norm(e).filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = corpus.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    votes = (
        scored.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= TOP_K)
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), "label")
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
        .orderBy("query_id")
    )


N_SEEDS = 8  # k-means cells: seed centroids = vec_id < 8


@register(
    "ml_kmeans_assign",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS cell, v AS cv FROM corpus WHERE vec_id < {N_SEEDS}
    ),
    scored AS (
      SELECT c.vec_id, s.cell,
             round(list_cosine_similarity(c.v, s.cv), 6) AS cos_sim
      FROM corpus c CROSS JOIN seeds s
    ),
    best AS (
      SELECT vec_id, cell, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, cell) AS rn
      FROM scored
    )
    SELECT cell, count(*) AS n_members, round(avg(cos_sim), 6) AS avg_cos
    FROM best WHERE rn = 1
    GROUP BY cell
    ORDER BY cell
    """,
)
def ml_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step with deterministic seed centroids
    (vec_id < N_SEEDS): every vector joins the broadcast centroid set,
    takes its nearest cell by cosine (tiebreak: smallest cell), and the
    per-cell membership count + mean similarity come out of one
    aggregate. This is the per-iteration heavy half of Lloyd's
    algorithm at scale — centroids broadcast (k × dim doubles), the
    corpus scans once with no shuffle before the k-row aggregate, so
    the plan is identical at 100 TB with 1000 executors. The update
    half is the same groupBy producing element-wise means (see
    sim_topk_ivf for the full Spark ML KMeans path)."""
    corpus = _with_norm(load_table(spark, sf_dir, "embeddings"))
    seeds = corpus.filter(F.col("vec_id") < N_SEEDS).select(
        F.col("vec_id").alias("cell"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    dot = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = corpus.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "cell",
        F.round(dot / (F.col("norm") * F.col("cnorm")), 6).alias("cos_sim"),
    )
    # Nearest-cell argmax as a max_by aggregate (not a row_number
    # window): the n x k scored rows partial-aggregate MAP-SIDE to one
    # candidate per vec_id per partition, so the exchange carries n
    # rows, never n x k. struct ordering (cos_sim, -cell) == the
    # window's ORDER BY cos_sim DESC, cell ASC, and is unique per row.
    best = (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cell", "cos_sim"),
                F.struct(F.col("cos_sim").alias("s"), (-F.col("cell")).alias("nc")),
            ).alias("best")
        )
        .select(F.col("best.cell").alias("cell"), F.col("best.cos_sim").alias("cos_sim"))
    )
    return (
        best.groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("cos_sim"), 6).alias("avg_cos"),
        )
        .orderBy("cell")
    )


@register(
    "ml_kmeans_update",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS cell, v AS cv FROM corpus WHERE vec_id < {N_SEEDS}
    ),
    scored AS (
      SELECT c.vec_id, s.cell,
             round(list_cosine_similarity(c.v, s.cv), 6) AS cos_sim
      FROM corpus c CROSS JOIN seeds s
    ),
    best AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, cell) AS rn
      FROM scored
    ),
    members AS (
      SELECT b.cell, c.v FROM best b JOIN corpus c USING (vec_id)
      WHERE b.rn = 1
    )
    SELECT cell, dim, round(avg(comp), 6) AS centroid_comp
    FROM (
      SELECT cell, unnest(v) AS comp,
             generate_subscripts(v, 1) AS dim
      FROM members
    )
    GROUP BY cell, dim
    ORDER BY cell, dim
    """,
)
def ml_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid-update half of a Lloyd iteration: element-wise mean
    of every member vector per cell, emitted as (cell, dim,
    centroid_comp) rows. posexplode flattens vectors to components, but
    the groupBy(cell, dim) aggregate partial-aggregates map-side, so
    the shuffle carries at most k × dim × partitions partial sums —
    never the exploded corpus. Paired with ml_kmeans_assign this is a
    full distributed k-means step whose only corpus-sized costs are one
    scan and zero shuffles before the tiny aggregates."""
    corpus = _with_norm(load_table(spark, sf_dir, "embeddings"))
    seeds = corpus.filter(F.col("vec_id") < N_SEEDS).select(
        F.col("vec_id").alias("cell"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    dot = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = corpus.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "v",
        "cell",
        F.round(dot / (F.col("norm") * F.col("cnorm")), 6).alias("cos_sim"),
    )
    # max_by argmax (see ml_kmeans_assign): n rows shuffle, not n x k.
    members = (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cell", "v"),
                F.struct(F.col("cos_sim").alias("s"), (-F.col("cell")).alias("nc")),
            ).alias("best")
        )
        .select(F.col("best.cell").alias("cell"), F.col("best.v").alias("v"))
    )
    return (
        members.select("cell", F.posexplode("v").alias("pos", "comp"))
        .groupBy("cell", (F.col("pos") + 1).cast("bigint").alias("dim"))
        .agg(F.round(F.avg("comp"), 6).alias("centroid_comp"))
        .orderBy("cell", "dim")
    )


def _recall_contract(exact: DataFrame, approx: DataFrame, threshold: float) -> DataFrame:
    """Per-query recall of ``approx`` against the exact top-k, emitted
    as (query_id, recall_met). Everything is deterministic arithmetic,
    so the driver's oracle can assert the contract holds for every
    query — ANN regressions flip rows red instead of hiding behind a
    rows-only check."""
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    totals = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return (
        totals.join(hits, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_exact")
                >= F.lit(threshold)
            ).alias("recall_met"),
        )
    )


# Floors sit BELOW the measured per-query minima at sf0.01 (0.8 / 0.6)
# so the contract flags real parameter regressions, not fixture or
# tie-break perturbations that shave one neighbor off one query.
LSH_RECALL_FLOOR = 0.75
IVF_RECALL_FLOOR = 0.55


@register(
    "sim_recall_lsh",
    oracle=f"""
    SELECT vec_id AS query_id, true AS recall_met
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def sim_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the LSH rung: every query's recall@{TOP_K}
    vs sim_topk_bruteforce meets LSH_RECALL_FLOOR. The oracle expects
    recall_met = true for all queries — a red row means the LSH
    parameters (tables/planes/probes) no longer clear the floor on this
    corpus.

    Calibration domain: the table/plane budget is tuned for the driver
    (sf0.01, 5k vectors) and bench (sf0.1, 50k) corpora, where all
    queries clear 0.8 at probe radius 1. Below LSH_SMALL_CORPUS the
    probe budget widens to radius 2 (see sim_topk_lsh), so the
    contract holds on the 500-vector smoke corpus too — at that size
    sim_topk_bruteforce is cheaper anyway; the adaptive budget exists
    so the CONTRACT is scale-invariant, not as a perf path."""
    return _recall_contract(
        sim_topk_bruteforce(spark, sf_dir),
        sim_topk_lsh(spark, sf_dir),
        LSH_RECALL_FLOOR,
    )


@register(
    "sim_recall_ivf",
    oracle=f"""
    SELECT vec_id AS query_id, true AS recall_met
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def sim_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the IVF rung: every query's recall@{TOP_K}
    vs sim_topk_bruteforce meets IVF_RECALL_FLOOR with IVF_PROBES of
    IVF_K cells probed."""
    return _recall_contract(
        sim_topk_bruteforce(spark, sf_dir),
        sim_topk_ivf(spark, sf_dir),
        IVF_RECALL_FLOOR,
    )


PQ_M = 8        # subspaces (64-dim → 8 × 8-dim subvectors)
PQ_SUB = 8      # dims per subspace
PQ_K = 32       # codes per subspace (deterministic: seed vectors vec_id < PQ_K)
PQ_RERANK = 200  # ADC shortlist fed to the exact re-rank (0.4% of sf0.1 corpus)


def _pq_parts(sf_dir, spark):
    """Shared PQ machinery: (codebook 1-row relation, encoded corpus,
    queries with ADC lookup tables). Everything is JVM higher-order
    functions over a deterministic codebook — no RNG, no training jobs,
    no Python."""

    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    # unit-normalize so ADC's L2 ranking is exactly cosine ranking.
    # Persisted: the codebook build, the corpus encode, and the query
    # LUTs all consume this relation (and the recall contracts consume
    # the whole pipeline twice) — the round-4 repeated-subtree rule. In
    # production the encode happens ONCE at write time and the codes
    # table is the stored artifact; the rebuild-per-call here is what
    # keeps the oracle able to replay the identical pipeline.
    corpus = (
        e.select("vec_id", v.alias("v"))
        .withColumn("norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)))
        .select(
            "vec_id",
            F.zip_with("v", F.array_repeat("norm", PQ_M * PQ_SUB), lambda x, n: x / n).alias("vn"),
        )
        .transform(pin_cache)
    )
    seq_m = F.sequence(F.lit(0), F.lit(PQ_M - 1))
    seq_k = F.sequence(F.lit(0), F.lit(PQ_K - 1))

    def sub(vcol, m):
        return F.slice(vcol, m * F.lit(PQ_SUB) + F.lit(1), F.lit(PQ_SUB))

    def sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
        )

    # Codebook: subvectors of the first PQ_K corpus vectors, packed into
    # ONE row (cb[m][k] = 8-dim centroid) — same deterministic-seed
    # convention as the IVF coarse quantizer; a production build swaps
    # in per-subspace k-means centroids with an identical plan shape.
    cbrow = (
        corpus.filter(F.col("vec_id") < PQ_K)
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "vn"))).alias("s"))
        .select(
            F.transform(seq_m, lambda m: F.transform(F.col("s"), lambda st: sub(st["vn"], m))).alias("cb")
        )
    )
    # Encode: per-row argmin over the broadcast codebook. 64 doubles
    # become PQ_M small ints — the 32x compression that lets a 100 TB
    # embedding corpus's scan table live in memory.
    #
    # r14 opt (guide §4.2): the argmin ran as interpreted HOFs —
    # PQ_M x PQ_K x PQ_SUB = 2048 (x-y)^2 evaluations plus 8 struct
    # sorts PER ROW (~0.8 ms/row, 1.6 s at sf0.1). The mapInArrow
    # kernel computes the identical doubles: each subspace distance
    # accumulates (x-y)*(x-y) over the 8 dims IN ORDER (the same IEEE
    # multiply-then-add sequence as the fold — NumPy ufuncs don't
    # fuse), and np.argmin's first-minimum rule IS array_sort's
    # (d, k) low-k tie-break on exact-equal doubles, so codes are
    # byte-identical (the PQ oracle replays the full encode and
    # verifies it). The codebook column is constant per row (the
    # broadcast crossJoin) — the kernel reads it once per batch; only
    # (vec_id, vn, cb) cross the boundary.
    def _encode_batches(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vn = batch.column("vn")
            V = np.asarray(vn.flatten(), dtype=np.float64).reshape(
                n, PQ_M * PQ_SUB
            )
            C = np.array(batch.column("cb")[0].as_py(), dtype=np.float64)
            codes = np.empty((n, PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                acc = np.zeros((n, PQ_K))
                for i in range(PQ_SUB):
                    d = V[:, m * PQ_SUB + i, None] - C[m, :, i][None, :]
                    acc += d * d
                codes[:, m] = np.argmin(acc, axis=1)
            code = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * PQ_M, PQ_M, dtype=np.int32)),
                pa.array(codes.ravel()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"), vn, code], ["vec_id", "vn", "code"]
            )

    encoded = (
        corpus.crossJoin(F.broadcast(cbrow))
        .select("vec_id", "vn", "cb")
        .mapInArrow(
            _encode_batches, "vec_id long, vn array<double>, code array<int>"
        )
    )
    # Per-query lookup table: lut[m][k] = ||sub_m(q) - cb[m][k]||², so
    # scoring a corpus vector is PQ_M array lookups instead of a 64-dim
    # dot product (asymmetric distance computation).
    queries = (
        corpus.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cbrow))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vn").alias("qv"),
            F.transform(
                seq_m,
                lambda m: F.transform(
                    seq_k,
                    lambda k: sqdist(sub(F.col("vn"), m), F.element_at(F.element_at("cb", m + 1), k + 1)),
                ),
            ).alias("lut"),
        )
    )
    return encoded, queries, corpus


# The PQ pipeline is deterministic arithmetic end to end, so unlike the
# hash-bucketed LSH/IVF rungs it carries a FULL byte-exact oracle: both
# engines run the identical left-fold summations (list_prepend(0.0) in
# DuckDB ≡ F.aggregate's 0.0 init in Spark — IEEE 0.0+x is exact), the
# same argmin tie-break (struct sort on (d, k)), and the same
# (adc, neighbor_id) / (cos, neighbor_id) rankings.
# Shared CTE block — corpus normalize → deterministic codebook → PQ
# encode → per-query ADC LUTs. Used verbatim by BOTH the PQ and IVF+PQ
# oracles; their plans differ only in WHICH (query, corpus-row) pairs
# reach the ADC scorer (PQ: all pairs; IVF+PQ: probed cells only).
_PQ_CTES = f"""corpus AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)),
                      (a, b) -> a + b))) AS vn
      FROM embeddings
    ), cb1 AS (
      SELECT list_transform(range(0, {PQ_M}), m ->
               list_transform(seeds, s -> list_slice(s, m * {PQ_SUB} + 1, m * {PQ_SUB} + {PQ_SUB}))) AS cb
      FROM (SELECT list(vn ORDER BY vec_id) AS seeds FROM corpus WHERE vec_id < {PQ_K})
    ), encoded AS (
      SELECT vec_id, vn,
             list_transform(range(0, {PQ_M}), m ->
               list_sort(list_transform(range(0, {PQ_K}), k ->
                 {{'d': list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(range(0, {PQ_SUB}), i ->
                           (vn[m * {PQ_SUB} + i + 1] - cb[m + 1][k + 1][i + 1])
                           * (vn[m * {PQ_SUB} + i + 1] - cb[m + 1][k + 1][i + 1]))),
                         (a, b) -> a + b),
                  'k': k}}))[1].k) AS code
      FROM corpus, cb1
    ), queries AS (
      SELECT vec_id AS query_id, vn AS qv,
             list_transform(range(0, {PQ_M}), m ->
               list_transform(range(0, {PQ_K}), k ->
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(0, {PQ_SUB}), i ->
                     (vn[m * {PQ_SUB} + i + 1] - cb[m + 1][k + 1][i + 1])
                     * (vn[m * {PQ_SUB} + i + 1] - cb[m + 1][k + 1][i + 1]))),
                   (a, b) -> a + b))) AS lut
      FROM corpus, cb1
      WHERE vec_id < {N_QUERIES}
    )"""

# Shared ranking tail: ADC shortlist (adc ASC, neighbor_id tiebreak)
# → exact-cosine re-rank of the top-PQ_RERANK, identical fold order and
# tie-breaks to the Spark plans.
_PQ_TAIL = f"""shortlist AS (
      SELECT query_id, neighbor_id, vn, qv,
             row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT query_id, neighbor_id,
             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(0, {PQ_M} * {PQ_SUB}), i -> qv[i + 1] * vn[i + 1])),
               (a, b) -> a + b), 6) AS cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list_transform(range(0, {PQ_M} * {PQ_SUB}), i -> qv[i + 1] * vn[i + 1])),
                                  (a, b) -> a + b), 6) DESC, neighbor_id) AS rn2
      FROM shortlist WHERE rn <= {PQ_RERANK}
    ) WHERE rn2 <= {TOP_K}"""

_PQ_ORACLE = f"""
    WITH {_PQ_CTES}, scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, e.vn, q.qv,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(0, {PQ_M}), m -> q.lut[m + 1][e.code[m + 1] + 1])),
               (a, b) -> a + b) AS adc
      FROM encoded e JOIN queries q ON q.query_id <> e.vec_id
    ), {_PQ_TAIL}
"""

# The IVF routing is deterministic arithmetic too (seed centroids =
# first IVF_K unit vectors; assignment/probing = argmax cosine rounded
# to 6dp with a low-cell tiebreak), so the composed IVF+PQ pipeline
# carries the same byte-exact oracle: the cells CTEs below replicate
# the Spark plan's assignment and probe windows exactly, then hand the
# surviving (query, candidate) pairs to the shared ADC tail.
_IVFPQ_DOT = (
    "round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(range(0, {PQ_M * PQ_SUB}), i -> {{a}}[i + 1] * {{b}}[i + 1])), "
    "(x, y) -> x + y), 6)"
)

_IVFPQ_ORACLE = f"""
    WITH {_PQ_CTES}, cents AS (
      SELECT vec_id AS cell, vn AS cv FROM corpus WHERE vec_id < {IVF_K}
    ), cellr AS (
      SELECT e.vec_id, e.vn, e.code, c.cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_IVFPQ_DOT.format(a="e.vn", b="c.cv")} DESC, c.cell) AS arn
      FROM encoded e, cents c
    ), assigned AS (
      SELECT vec_id, vn, code, cell FROM cellr WHERE arn = 1
    ), prober AS (
      SELECT q.query_id, q.qv, q.lut, c.cell,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {_IVFPQ_DOT.format(a="q.qv", b="c.cv")} DESC, c.cell) AS prn
      FROM queries q, cents c
    ), probes AS (
      SELECT query_id, qv, lut, cell FROM prober WHERE prn <= {IVF_PROBES}
    ), scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.vn, p.qv,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(0, {PQ_M}), m -> p.lut[m + 1][a.code[m + 1] + 1])),
               (x, y) -> x + y) AS adc
      FROM assigned a JOIN probes p ON p.cell = a.cell AND p.query_id <> a.vec_id
    ), {_PQ_TAIL}
"""


@register("sim_topk_pq", oracle=_PQ_ORACLE)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (PQ + exact re-rank), the fourth rung of
    the ladder: encode each unit-normalized vector as PQ_M codebook ids
    (32x smaller than the raw floats), score candidates with ADC table
    lookups (PQ_M adds per pair vs a 64-dim dot), keep the per-query
    top-PQ_RERANK shortlist, then exact-cosine re-rank only the
    shortlist. At 100 TB the codes table IS the index: it fits where
    the float corpus cannot, the ADC scan is memory-bandwidth-bound,
    and the exact re-rank touches 0.1-1% of rows; compose with IVF
    cells (sim_topk_ivf) to prune the ADC scan itself. Unlike the
    hash-bucketed rungs this one is deterministic arithmetic end to
    end, so it carries a FULL byte-exact DuckDB oracle (identical
    fold orders and tie-breaks); sim_recall_pq additionally holds the
    recall floor vs exact."""
    encoded, queries, _ = _pq_parts(sf_dir, spark)
    seq_m = F.sequence(F.lit(0), F.lit(PQ_M - 1))
    scored = encoded.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "vn",
        "qv",
        F.aggregate(
            seq_m,
            F.lit(0.0),
            lambda acc, m: acc + F.element_at(F.element_at("lut", m + 1), F.element_at("code", m + 1) + 1),
        ).alias("adc"),
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "neighbor_id")
    shortlist = scored.withColumn("rn", F.row_number().over(w_adc)).filter(
        F.col("rn") <= PQ_RERANK
    )
    cos = F.round(
        F.aggregate(F.zip_with("qv", "vn", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x),
        6,
    )
    w_cos = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        shortlist.select("query_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w_cos))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production ANN shape: IVF cells prune the corpus to
    IVF_PROBES/IVF_K of its rows, PQ ADC lookups score only the
    surviving candidates, and the exact re-rank touches the shortlist.
    At 100 TB: the codes table is partitioned by cell id (partition
    pruning does the IVF step at rest), the ADC scan reads ~3/8 of the
    codes (32x compressed), and the float vectors are fetched only for
    the re-rank — the three-tier storage layout every production
    vector index uses. Every step (seed centroids, argmax-cosine cell
    assignment rounded to 6dp with low-cell tiebreak, ADC, re-rank) is
    deterministic arithmetic, so like sim_topk_pq it carries a FULL
    byte-exact DuckDB oracle; sim_recall_ivfpq additionally holds the
    recall floor vs exact."""
    encoded, queries, corpus = _pq_parts(sf_dir, spark)
    seq_m = F.sequence(F.lit(0), F.lit(PQ_M - 1))
    # coarse quantizer over the same unit vectors: centroid = seed vn.
    # Derived from the PINNED pre-encode corpus, not from `encoded`:
    # the vec_id < IVF_K filter cannot push below the encode kernel's
    # opaque mapInArrow boundary, so an encoded-side derivation would
    # re-encode the whole corpus just to read 16 vn values (guide §4.2
    # pruning caveat). Identical values — encode passes vn through
    # untouched.
    centroids = corpus.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("vn").alias("cv")
    )
    cdot = F.aggregate(
        F.zip_with("vn", "cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    # nearest coarse cell via map-side max_by aggregate (same argmax
    # class as _ivf_assign — n rows cross the exchange, not n x k);
    # key (round(csim,6), -cell) == ORDER BY round DESC, cell ASC
    assigned = (
        encoded.crossJoin(F.broadcast(centroids))
        .select("vec_id", "vn", "code", "cell", F.round(cdot, 6).alias("csim"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("vn", "code", "cell"),
                F.struct(F.col("csim").alias("s"), (-F.col("cell")).alias("nc")),
            ).alias("best")
        )
        .select(
            "vec_id",
            F.col("best.vn").alias("vn"),
            F.col("best.code").alias("code"),
            F.col("best.cell").alias("cell"),
        )
    )
    qdot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    wq = Window.partitionBy("query_id").orderBy(F.round(F.col("qsim"), 6).desc(), "cell")
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("qsim", qdot)
        .withColumn("prn", F.row_number().over(wq))
        .filter(F.col("prn") <= IVF_PROBES)
        .select("query_id", "qv", "lut", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "vn",
            "qv",
            F.aggregate(
                seq_m,
                F.lit(0.0),
                lambda acc, m: acc
                + F.element_at(F.element_at("lut", m + 1), F.element_at("code", m + 1) + 1),
            ).alias("adc"),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "neighbor_id")
    shortlist = scored.withColumn("rn", F.row_number().over(w_adc)).filter(
        F.col("rn") <= PQ_RERANK
    )
    cos = F.round(
        F.aggregate(F.zip_with("qv", "vn", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x),
        6,
    )
    w_cos = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        shortlist.select("query_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w_cos))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


sim_topk_ivfpq = register("sim_topk_ivfpq", oracle=_IVFPQ_ORACLE)(sim_topk_ivfpq)


# Below the measured per-query minima (1.0 / 0.8 / 0.6 at sf0.001 /
# 0.01 / 0.1): recall falls with corpus size because PQ_RERANK is a
# fixed shortlist over a growing corpus — at production scale the
# shortlist budget scales with the IVF cell size, not the corpus.
PQ_RECALL_FLOOR = 0.55


@register(
    "sim_recall_pq",
    oracle=f"""
    SELECT vec_id AS query_id, true AS recall_met
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def sim_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the PQ rung: every query's recall@{TOP_K} vs
    sim_topk_bruteforce meets PQ_RECALL_FLOOR. A red row means the
    codebook/shortlist budget (PQ_K, PQ_RERANK) no longer clears the
    floor on this corpus."""
    return _recall_contract(
        sim_topk_bruteforce(spark, sf_dir),
        sim_topk_pq(spark, sf_dir),
        PQ_RECALL_FLOOR,
    )


IVFPQ_RECALL_FLOOR = 0.55


@register(
    "sim_recall_ivfpq",
    oracle=f"""
    SELECT vec_id AS query_id, true AS recall_met
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def sim_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the composed IVF+PQ rung (floor 0.55, below
    the measured 0.8 / 0.6 / 0.8 minima at sf0.001 / 0.01 / 0.1 —
    notably BETTER than plain PQ at bench scale: cell pruning spends
    the fixed shortlist budget on candidates that already share a
    coarse cell with the query)."""
    return _recall_contract(
        sim_topk_bruteforce(spark, sf_dir),
        sim_topk_ivfpq(spark, sf_dir),
        IVFPQ_RECALL_FLOOR,
    )


@register(
    "emb_normalize",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
      SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS l2
      FROM v
    )
    SELECT vec_id,
           round(l2, 6) AS l2_norm,
           round(list_reduce(list_transform(v, x -> x / l2), (a, b) -> a + b), 6)
             AS unit_sum,
           len(v) AS dim
    FROM n
    """,
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization — the standard embedding pre-step that turns
    cosine into plain dot product for every downstream ANN/dedup op.
    Pure per-row higher-order-function arithmetic: no shuffle, no UDF,
    stays inside whole-stage codegen, trivially scales to any corpus
    size. Output is scalar-only (norm + unit-vector component sum as a
    checksum) so the driver's hasher can canonicalize rows; the real
    pipeline would keep `unit` as the array column."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    d = e.select("vec_id", v.alias("v")).withColumn(
        "l2", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )
    unit = F.transform("v", lambda x: x / F.col("l2"))
    return d.select(
        "vec_id",
        F.round("l2", 6).alias("l2_norm"),
        F.round(F.aggregate(unit, F.lit(0.0), lambda a, x: a + x), 6).alias("unit_sum"),
        F.size("v").cast("bigint").alias("dim"),
    )


@register(
    "emb_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             list_reduce(list_transform(v, x -> abs(x)), (a, b) -> greatest(a, b)) / 127.0
               AS scale
      FROM v
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           CAST(list_reduce(list_transform(v, x -> floor(x / scale + 0.5)), (a, b) -> a + b)
                AS BIGINT) AS q_sum,
           CAST(list_reduce(list_transform(v, x -> CASE WHEN abs(floor(x / scale + 0.5)) = 127
                                                        THEN 1 ELSE 0 END), (a, b) -> a + b)
                AS BIGINT) AS n_saturated
    FROM s
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x| / 127,
    q = round-half-up(x / scale)) — the 4× storage/bandwidth compressor
    a 100 TB embedding store runs before ANN. Per-row HOF arithmetic,
    no shuffle, no UDF. floor(x/scale + 0.5) is used on BOTH sides
    because Spark's round() is HALF_UP while DuckDB's is banker's-
    adjacent half-away-from-zero — floor(+0.5) is the one formulation
    whose bit pattern agrees everywhere. Output is the quantized-sum /
    saturation-count checksum (scalar cells for the driver's hasher);
    the real pipeline keeps the int8 array."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    d = e.select("vec_id", v.alias("v")).withColumn(
        "scale",
        F.aggregate("v", F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))) / 127.0,
    )
    q = F.transform("v", lambda x: F.floor(x / F.col("scale") + 0.5))
    return d.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            q,
            F.lit(0).cast("bigint"),
            lambda a, x: a + F.when(F.abs(x) == 127, 1).otherwise(0),
        ).alias("n_saturated"),
    )


@register(
    "emb_gram_matrix",
    oracle="""
    SELECT i.i AS i, j.j AS j,
           CAST(sum(CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE)
                               * CAST(embedding[j.j + 1] AS DOUBLE)
                               * 1000000000000 + 0.5) AS BIGINT))
                AS DOUBLE) / 1000000000000 AS g
    FROM embeddings,
         LATERAL (SELECT unnest(range(len(embedding))) AS i) i,
         LATERAL (SELECT unnest(range(len(embedding))) AS j) j
    WHERE j.j >= i.i
    GROUP BY i.i, j.j
    """,
)
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed gram matrix X'X over the embedding corpus (upper
    triangle; the matrix is symmetric) — the one-pass reduction behind
    PCA/whitening/linear probes on embedding tables: each row
    contributes its d(d+1)/2 upper-triangle products, the map-side
    combiner collapses every partition to at most 2080 partial cells
    (d=64), and the shuffle moves |partitions| x d^2/2 TINY rows no
    matter how many vectors the corpus holds — the classic outer-
    product-partial-sum shape that makes second-moment statistics
    O(d^2) per partition instead of per row at 100 TB. (The d x d
    eigensolve that follows is a driver-side numpy call on 32 KB —
    deliberately out of engine scope.) Products are computed in DOUBLE
    (float inputs cast exactly) and FLOOR-quantized per-row to exact
    1e-12-scaled integers pre-sum — integer summation is order-exact,
    and the floor ladder (not a decimal CAST, whose half-way rounding
    MODE differs between engines — three sf0.1 cells flipped by 1e-12
    under the cast form) pins the quantization itself. Int64 headroom:
    |product|<=1e1 keeps per-row terms <=1e13, safe to ~1e5 rows per
    cell at this scale; at larger corpora lower the quantization scale
    or sum per-partition into DECIMAL."""
    e = load_table(spark, sf_dir, "embeddings")
    d = e.select(
        F.posexplode(F.col("embedding")).alias("i", "vi"), F.col("embedding").alias("v")
    )
    pairs = d.select(
        "i",
        F.col("vi").cast("double").alias("vid"),
        # slice from element i+1 (1-based) to the end: j ranges over i..d-1
        F.posexplode(F.expr("slice(v, i + 1, size(v) - i)")).alias("dj", "vj"),
    )
    return (
        pairs.select(
            F.col("i").cast("bigint").alias("i"),
            (F.col("i") + F.col("dj")).cast("bigint").alias("j"),
            F.floor(
                F.col("vid") * F.col("vj").cast("double") * 1000000000000 + F.lit(0.5)
            ).alias("p"),
        )
        .groupBy("i", "j")
        .agg((F.sum("p").cast("double") / 1000000000000).alias("g"))
    )


MMR_LAMBDA = 0.7
MMR_SELECT = 5
MMR_SHORTLIST = 20


def _mmr_oracle() -> str:
    """Recursive-CTE replay of the greedy MMR selection (the PageRank
    unroll trick, extended to a data-dependent argmax per step). Every
    FP value is byte-identical to the Spark side: rel and pair sims
    are ascending-dimension left-folds (list_reduce replays both the
    JVM F.aggregate folds and the kernel's explicit dimension-loop
    accumulation), and each greedy step takes max() over a
    (score, -neighbor_id, neighbor_id) STRUCT — lexicographic struct
    comparison IS the kernel's (score desc, id asc) deterministic
    argmax (arg_max doesn't accept struct keys in DuckDB 1.0; plain
    max over a struct does the same job and carries the id along).
    The chosen-so-far set threads through the recursion as a list
    column consumed by list_contains."""
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(0, {_IVF_DIM}), i -> {{a}}[i + 1] * {{b}}[i + 1])), "
        "(x, y) -> x + y)"
    )
    lam = MMR_LAMBDA
    return f"""
    WITH RECURSIVE corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)),
               (a, b) -> a + b)) AS norm
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {dot.format(a="q.v", b="c.v")} / (q.norm * c.norm) AS rel,
             c.v AS v, c.norm AS cnorm
      FROM corpus q JOIN corpus c
        ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id, rel, v, cnorm FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rel DESC, neighbor_id) AS rn FROM scored)
      WHERE rn <= {MMR_SHORTLIST}
    ),
    sims AS (
      SELECT s1.query_id, s1.neighbor_id AS ia, s2.neighbor_id AS ib,
             {dot.format(a="s1.v", b="s2.v")} / (s1.cnorm * s2.cnorm) AS sim
      FROM shortlist s1 JOIN shortlist s2
        ON s1.query_id = s2.query_id AND s1.neighbor_id <> s2.neighbor_id
    ),
    sel(query_id, rank, neighbor_id, score, chosen) AS (
      SELECT query_id, CAST(1 AS BIGINT), pick['nid'], pick['sc'],
             [pick['nid']]
      FROM (
        SELECT query_id,
               max({{'sc': {lam} * rel - (1 - {lam}) * 0.0,
                     'negid': -neighbor_id, 'nid': neighbor_id}}) AS pick
        FROM shortlist GROUP BY query_id
      )
      UNION ALL
      SELECT query_id, rank + 1, pick['nid'], pick['sc'],
             list_append(chosen, pick['nid'])
      FROM (
        SELECT g.query_id, g.rank, g.chosen,
               max({{'sc': g.score, 'negid': -g.neighbor_id,
                     'nid': g.neighbor_id}}) AS pick
        FROM (
          SELECT s.query_id, s.rank, s.chosen, sh.neighbor_id,
                 {lam} * sh.rel - (1 - {lam}) * max(si.sim) AS score
          FROM sel s
          JOIN shortlist sh ON sh.query_id = s.query_id
            AND NOT list_contains(s.chosen, sh.neighbor_id)
          JOIN sims si ON si.query_id = s.query_id
            AND si.ia = sh.neighbor_id AND list_contains(s.chosen, si.ib)
          WHERE s.rank < {MMR_SELECT}
          GROUP BY s.query_id, s.rank, s.chosen, sh.neighbor_id, sh.rel
        ) g
        GROUP BY g.query_id, g.rank, g.chosen
      )
    )
    SELECT query_id, rank, neighbor_id,
           floor(score * 1000000 + 0.5) / 1000000 AS mmr_score
    FROM sel
    """


@register("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank: from each query's exact
    top-MMR_SHORTLIST cosine shortlist, greedily select MMR_SELECT
    results balancing relevance against redundancy
    (score = 0.7*rel - 0.3*max_sim_to_selected) — the diversification
    pass retrieval stacks run between ANN candidate generation and
    serving. Two-tier shape: the shortlist comes from the broadcast
    brute-force scan (corpus never shuffles, WindowGroupLimit prunes
    map-side — sim_topk_bruteforce's plan), then the greedy selection
    runs per-query in applyInPandas over 20-row groups: O(s^2 d) per
    query on a shortlist, embarrassingly parallel across queries, and
    the only Python in the operator touches 20 rows per query, never
    the corpus. Deterministic: exact argmax with (score desc, id asc)
    tie-break on IEEE doubles, no RNG — and since the kernel's sims
    and norms accumulate in explicit ascending-dimension left-fold
    order (not BLAS pairwise summation), the recursive-CTE oracle
    (_mmr_oracle) replays the whole greedy loop byte-exactly; pytest
    additionally pins it against an independent pure-Python model."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e)
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot / (F.col("qnorm") * F.col("norm"))).alias("rel"),
            "v",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "neighbor_id")
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_SHORTLIST)
        .select("query_id", "neighbor_id", "rel", "v")
    )

    # self-contained closure (pickled by value; see multimodal.py) —
    # the module constants bind as closure cells captured here, so the
    # registered query can never drift from MMR_LAMBDA/MMR_SELECT
    # (applyInPandas rejects extra default args, hence the rebind)
    lam, k = MMR_LAMBDA, MMR_SELECT

    def mmr_group(pdf):
        import numpy as np
        import pandas as pd
        pdf = pdf.sort_values(["rel", "neighbor_id"], ascending=[False, True])
        ids = pdf["neighbor_id"].to_numpy()
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        # dimension-order LEFT-FOLD accumulation, not BLAS (@ / linalg
        # .norm use pairwise/blocked summation whose last bits differ
        # from a sequential fold): each += adds exactly one product in
        # ascending-dimension order starting from 0.0, so the oracle's
        # list_reduce(list_prepend(0.0, ...)) replays every sim
        # byte-exactly — this is what moved the operator off the
        # rows-only list. Still vectorized across the s^2 pair grid;
        # only the 64-step dim loop is Python.
        n_rows, dims = vecs.shape
        dot_acc = np.zeros((n_rows, n_rows))
        sq_acc = np.zeros(n_rows)
        for dcol in range(dims):
            col = vecs[:, dcol]
            dot_acc += col[:, None] * col[None, :]
            sq_acc += col * col
        norms = np.sqrt(sq_acc)
        sims = dot_acc / np.outer(norms, norms)
        selected: list[int] = []
        out_rows = []
        remaining = list(range(len(ids)))
        for rank in range(min(k, len(ids))):
            best_i, best_score = None, None
            for i in remaining:
                red = max((sims[i, j] for j in selected), default=0.0)
                score = lam * rel[i] - (1 - lam) * red
                # strict > plus id tie-break: deterministic argmax
                if (
                    best_score is None
                    or score > best_score
                    or (score == best_score and ids[i] < ids[best_i])
                ):
                    best_i, best_score = i, score
            selected.append(best_i)
            remaining.remove(best_i)
            out_rows.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    rank + 1,
                    int(ids[best_i]),
                    __import__("math").floor(best_score * 1e6 + 0.5) / 1e6,
                )
            )
        return pd.DataFrame(
            out_rows, columns=["query_id", "rank", "neighbor_id", "mmr_score"]
        )

    return shortlist.groupBy("query_id").applyInPandas(
        mmr_group,
        schema="query_id long, rank long, neighbor_id long, mmr_score double",
    )


@register(
    "sim_ivf_index_stats",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)),
               (a, b) -> a + b)) AS norm
      FROM embeddings
    ), cents AS (
      SELECT CAST(vec_id AS INT) AS cell, v AS cv, norm AS cnorm
      FROM corpus WHERE vec_id < {IVF_K}
    ), cellr AS (
      SELECT c0.vec_id, c.cell,
             row_number() OVER (PARTITION BY c0.vec_id
               ORDER BY round({_IVF_DOT.format(a="c0.v", b="c.cv")}
                              / (c0.norm * c.cnorm), 6) DESC, c.cell) AS arn
      FROM corpus c0, cents c
    ), assigned AS (
      SELECT vec_id, cell FROM cellr WHERE arn = 1
    ), occ AS (
      SELECT cell, count(*) AS n_vectors FROM assigned GROUP BY cell
    ), tot AS (SELECT sum(n_vectors) AS n, count(*) AS k FROM occ)
    SELECT cell, n_vectors,
           floor(n_vectors * CAST(k AS DOUBLE) / n * 1000000 + 0.5)
             / 1000000 AS balance_factor
    FROM occ, tot
    """,
)
def sim_ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health census — the check an ANN deployment runs after
    every (re)build: per-cell occupancy plus the balance factor
    (occupancy x cells / corpus; 1.0 = perfectly even). A skewed cell
    is simultaneously a recall hole (its neighbors crowd out probes)
    and a latency straggler (probing it scans a corpus-sized posting),
    and the fix — retraining the coarse quantizer — is only triggered
    by exactly this census. Reuses sim_topk_ivf's deterministic
    assignment verbatim (same seed centroids, same rounded-cosine
    argmax), so the census describes precisely the index the top-k
    rung queries; one corpus-vs-broadcast-centroids pass + one
    IVF_K-row aggregate, no shuffle bigger than the cell count."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e)
    centroids = _ivf_centroids(corpus)
    assigned = _ivf_assign(corpus, centroids).select("vec_id", "cell")

    occ = (
        assigned.groupBy("cell")
        .agg(F.count("*").alias("n_vectors"))
        .transform(pin_cache)
    )
    tot = occ.agg(F.sum("n_vectors").alias("n"), F.count("*").alias("k"))
    return occ.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        (
            F.floor(
                F.col("n_vectors") * F.col("k").cast("double") / F.col("n") * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("balance_factor"),
    )


PCA_ITERS = 6


_PCA_ORACLE = f"""
WITH RECURSIVE g0 AS (
  SELECT i.i AS i, j.j AS j,
         CAST(sum(CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE)
                             * CAST(embedding[j.j + 1] AS DOUBLE)
                             * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT) AS gq
  FROM embeddings,
       LATERAL (SELECT unnest(range(len(embedding))) AS i) i,
       LATERAL (SELECT unnest(range(len(embedding))) AS j) j
  WHERE j.j >= i.i
  GROUP BY 1, 2
),
g AS (
  SELECT i, j, CAST(gq AS DOUBLE) / 1000000000000 AS g FROM g0
  UNION ALL
  SELECT j, i, CAST(gq AS DOUBLE) / 1000000000000 FROM g0 WHERE i <> j
),
px(it, j, x) AS (
  SELECT 0, CAST(t.j AS BIGINT), CAST(0.125 AS DOUBLE) FROM range(64) t(j)
  UNION ALL
  SELECT it + 1, i,
         floor(yq / sqrt(CAST(s2 AS DOUBLE) / 1000000) * 1000000000 + 0.5)
           / 1000000000
  FROM (
    SELECT it, i, yq,
           sum(CAST(floor(yq * yq * 1000000 + 0.5) AS BIGINT))
             OVER (PARTITION BY it) AS s2
    FROM (
      SELECT px.it AS it, g.i AS i,
             CAST(sum(CAST(floor(g.g * px.x * 1000000000000 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1000000000000 AS yq
      FROM px JOIN g ON g.j = px.j
      WHERE px.it < {PCA_ITERS}
      GROUP BY px.it, g.i
    ) t1
  ) t2
)
SELECT j AS dim, x AS loading FROM px WHERE it = {PCA_ITERS} ORDER BY dim
"""


@register("emb_pca_power_iteration", oracle=_PCA_ORACLE)
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by FIXED-count
    power iteration over the distributed gram matrix — the eigensolve
    emb_gram_matrix's docstring left "out of engine scope" brought in
    scope declaratively: whitening / anisotropy diagnostics (embedding
    corpora are notoriously dominated by one direction) run this before
    any cosine-based dedup or retrieval.

    The corpus is touched ONCE (the gram reduction — O(d^2) partial
    sums per partition); every iterate then works on the d x d = 4096-
    row relation, so 100x more vectors changes only the first reduction.
    Determinism is the full ladder: gram cells are 1e-12-quantized
    exact integers; each matrix-vector product quantizes per-term
    before the order-free integer sum; the norm squares quantize at
    1e6 (int64 headroom for |y| up to ~1e6); and the iterate
    re-quantizes at 1e-9 each step so drift cannot compound across
    iterations. The DuckDB oracle replays all PCA_ITERS steps in one
    recursive CTE (aggregation + a PARTITION BY window inside the
    recursive term — the pagerank oracle's pattern, one level deeper).
    Sign is pinned by the all-positive start vector (1/8 = exact
    binary), not left to eigensolver convention."""
    g_up = emb_gram_matrix(spark, sf_dir)
    g = (
        g_up.unionByName(
            g_up.where(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "g"
            )
        )
        # pinned: referenced in every iteration; without it each step
        # would re-run the corpus-wide gram reduction
        .localCheckpoint(eager=True)
    )
    x = spark.range(64).select(
        F.col("id").cast("bigint").alias("j"),
        F.lit(0.125).cast("double").alias("x"),
    )
    for _ in range(PCA_ITERS):
        y = (
            g.join(x, "j")
            .groupBy("i")
            .agg(
                (
                    F.sum(
                        F.floor(
                            F.col("g") * F.col("x") * 1000000000000 + F.lit(0.5)
                        ).cast("long")
                    ).cast("double")
                    / 1000000000000
                ).alias("yq")
            )
        )
        s2 = y.agg(
            F.sum(
                F.floor(F.col("yq") * F.col("yq") * 1000000 + F.lit(0.5)).cast("long")
            ).alias("s2")
        )
        x = (
            y.crossJoin(F.broadcast(s2))
            .select(
                F.col("i").alias("j"),
                (
                    F.floor(
                        F.col("yq")
                        / F.sqrt(F.col("s2").cast("double") / 1000000)
                        * 1000000000
                        + F.lit(0.5)
                    )
                    / 1000000000
                ).alias("x"),
            )
            .localCheckpoint(eager=True)
        )
    return x.select(F.col("j").alias("dim"), F.col("x").alias("loading"))


KMEANS_TRAIN_K = 8
KMEANS_TRAIN_ITERS = 3


_KMEANS_TRAIN_ORACLE = f"""
WITH RECURSIVE cent(it, cell, d, v) AS (
  SELECT 0, CAST(vec_id AS BIGINT), CAST(dd.d AS BIGINT),
         CAST(embedding[dd.d + 1] AS DOUBLE)
  FROM embeddings, LATERAL (SELECT unnest(range(64)) AS d) dd
  WHERE vec_id < {KMEANS_TRAIN_K}
  UNION ALL
  SELECT it + 1, cell, d,
         floor(CAST(s AS DOUBLE) / n + 0.5) / 1000000000
  FROM (
    SELECT asg.it AS it, asg.cell AS cell, dd.d AS d,
           sum(CAST(floor(CAST(asg.emb[dd.d + 1] AS DOUBLE)
                          * 1000000000 + 0.5) AS BIGINT)) AS s,
           count(*) AS n
    FROM (
      SELECT it, vec_id, emb,
             (min(struct_pack(ds := dist, c := cell))).c AS cell
      FROM (
        SELECT c.it AS it, e.vec_id AS vec_id, e.embedding AS emb, c.cell AS cell,
               sum(CAST(floor((CAST(e.embedding[c.d + 1] AS DOUBLE) - c.v)
                              * (CAST(e.embedding[c.d + 1] AS DOUBLE) - c.v)
                              * 1000000000 + 0.5) AS BIGINT)) AS dist
        FROM cent c, embeddings e
        WHERE c.it < {KMEANS_TRAIN_ITERS}
        GROUP BY 1, 2, 3, 4
      ) dists
      GROUP BY it, vec_id, emb
    ) asg, LATERAL (SELECT unnest(range(64)) AS d) dd
    GROUP BY 1, 2, 3
  ) upd
)
SELECT cell, d AS dim, v AS centroid
FROM cent WHERE it = {KMEANS_TRAIN_ITERS}
"""


@register("ml_kmeans_train", oracle=_KMEANS_TRAIN_ORACLE)
def ml_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL distributed Lloyd training loop — ml_kmeans_assign and
    ml_kmeans_update composed over KMEANS_TRAIN_ITERS fixed iterations
    (fixed, like pagerank/BPE/PCA, so the oracle can replay it): seed
    centroids = the first K vectors, then per iteration (1) every
    vector joins the broadcast K x d centroid relation and takes the
    argmin centroid by INTEGER-EXACT squared L2 — per-dimension terms
    floor-quantize at 1e9 before the order-free integer sum, so the
    argmin has no FP boundary to disagree on, with the lexicographic
    (dist, cell) struct-min fixing ties to the lowest cell — and
    (2) new centroids are per-(cell, dim) means of 1e9-quantized
    components (exact integer sums; one double division, re-quantized
    at 1e-9). Cells that lose every vector die (documented semantics:
    no empty-cell reseeding; the fixture's 8 cells all survive).

    Scale shape: per iteration the corpus is touched exactly twice
    (distance pass + update pass) against a BROADCAST centroid
    relation of K*d rows — the corpus never shuffles on anything wider
    than the cell id; 100x more vectors is 100x those two map-side
    passes, nothing else. The exploded (vec, dim) relation is cached
    across all iterations. The DuckDB oracle replays the whole loop in
    one recursive CTE (nested aggregation + struct-min argmin inside
    the recursive term), byte-exact at all three SFs."""

    e = load_table(spark, sf_dir, "embeddings")
    ed = (
        e.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.posexplode("embedding").alias("d", "xf"),
        )
        .select("vec_id", F.col("d").cast("bigint").alias("d"), F.col("xf").cast("double").alias("x"))
        .transform(pin_cache)
    )
    cent = ed.where(F.col("vec_id") < KMEANS_TRAIN_K).select(
        F.col("vec_id").alias("cell"), "d", F.col("x").alias("v")
    )
    for _ in range(KMEANS_TRAIN_ITERS):
        diff = F.col("x") - F.col("v")
        dists = (
            ed.join(F.broadcast(cent), "d")
            .groupBy("vec_id", "cell")
            .agg(
                F.sum(
                    F.floor(diff * diff * 1000000000 + F.lit(0.5)).cast("long")
                ).alias("dist")
            )
        )
        asg = dists.groupBy("vec_id").agg(
            F.min(F.struct("dist", "cell"))["cell"].alias("cell")
        )
        cent = (
            ed.join(asg, "vec_id")
            .groupBy("cell", "d")
            .agg(
                F.sum(
                    F.floor(F.col("x") * 1000000000 + F.lit(0.5)).cast("long")
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .select(
                "cell",
                "d",
                (
                    F.floor(F.col("s").cast("double") / F.col("n") + F.lit(0.5))
                    / 1000000000
                ).alias("v"),
            )
            .localCheckpoint(eager=True)
        )
    ed.unpersist()
    return cent.select("cell", F.col("d").alias("dim"), F.col("v").alias("centroid"))


RIDGE_LAMBDA = 0.1
RIDGE_JACOBI_ITERS = 8


_RIDGE_ORACLE = f"""
WITH RECURSIVE nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
g0 AS (
  SELECT i.i AS i, j.j AS j,
         CAST(sum(CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE)
                             * CAST(embedding[j.j + 1] AS DOUBLE)
                             * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT) AS gq
  FROM embeddings,
       LATERAL (SELECT unnest(range(len(embedding))) AS i) i,
       LATERAL (SELECT unnest(range(len(embedding))) AS j) j
  WHERE j.j >= i.i GROUP BY 1, 2
),
a AS (
  SELECT i, j, CAST(gq AS DOUBLE) / 1000000000000 / n
              + CASE WHEN i = j THEN {RIDGE_LAMBDA} ELSE 0.0 END AS a
  FROM (SELECT i, j, gq FROM g0
        UNION ALL SELECT j, i, gq FROM g0 WHERE i <> j) m, nn
),
b AS (
  SELECT dd.d AS d,
         CAST(sum(CAST(floor(CAST(embedding[dd.d + 1] AS DOUBLE)
                             * CAST(label AS DOUBLE)
                             * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000000 / max(n) AS b
  FROM embeddings, nn, LATERAL (SELECT unnest(range(64)) AS d) dd
  GROUP BY dd.d
),
w(it, d, wv) AS (
  SELECT 0, CAST(t.d AS BIGINT), CAST(0.0 AS DOUBLE) FROM range(64) t(d)
  UNION ALL
  SELECT it + 1, i,
         floor((bv - CAST(off AS DOUBLE) / 1000000000000) / ad
               * 1000000000 + 0.5) / 1000000000
  FROM (
    SELECT w.it AS it, a.i AS i,
           sum(CASE WHEN a.j <> a.i
                    THEN CAST(floor(a.a * w.wv * 1000000000000 + 0.5) AS BIGINT)
                    ELSE 0 END) AS off
    FROM w JOIN a ON a.j = w.d
    WHERE w.it < {RIDGE_JACOBI_ITERS}
    GROUP BY 1, 2
  ) s
  JOIN (SELECT i AS di, a AS ad FROM a WHERE i = j) diag ON diag.di = s.i
  JOIN (SELECT d AS bd, b AS bv FROM b) bb ON bb.bd = s.i
)
SELECT d AS dim, wv AS weight FROM w WHERE it = {RIDGE_JACOBI_ITERS}
"""


@register("ml_ridge_probe_train", oracle=_RIDGE_ORACLE)
def ml_ridge_probe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge linear probe over the embedding corpus — the standard
    representation-quality diagnostic (fit label from embedding,
    judge the embedding by the fit), completing the train-in-the-engine
    family (PCA direction, Lloyd k-means, and now a supervised probe).
    Solved via the NORMAL EQUATIONS: A = X'X/n + lambda*I and b = X'y/n
    are one-pass corpus reductions (the gram shape — O(d^2) partials
    per partition), then RIDGE_JACOBI_ITERS Jacobi iterations
    w_i <- (b_i - sum_{{j!=i}} A_ij w_j) / A_ii run entirely on the
    4096-row matrix relation: the corpus is touched a constant three
    times total (count, A, b) REGARDLESS of iteration count — the property that
    makes normal-equations probes the right shape at 100 TB (contrast
    gradient descent, which rescans the corpus per step). Ridge
    regularization makes A diagonally dominant, so Jacobi contracts.

    Determinism: the same ladder as emb_pca_power_iteration — 1e-12
    quantized A/b cells, per-term quantized off-diagonal products with
    order-free integer sums, and a 1e-9 re-quantized iterate per step;
    the oracle replays all iterations in one recursive CTE. Byte-exact
    at sf0.001/0.01/0.1."""
    e = load_table(spark, sf_dir, "embeddings")
    # n folds in as a broadcast 1-row total, NOT an eager count() at
    # construction time (the sim_topk_lsh lesson: plan builds must not
    # trigger corpus jobs)
    ncnt = e.agg(F.count("*").cast("double").alias("n"))
    g_up = emb_gram_matrix(spark, sf_dir)
    a = (
        g_up.unionByName(
            g_up.where(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "g"
            )
        )
        .crossJoin(F.broadcast(ncnt))
        .select(
            "i",
            "j",
            (
                F.col("g") / F.col("n")
                + F.when(F.col("i") == F.col("j"), F.lit(RIDGE_LAMBDA)).otherwise(
                    F.lit(0.0)
                )
            ).alias("a"),
        )
        .localCheckpoint(eager=True)
    )
    xy = e.select(
        F.col("label").cast("double").alias("y"),
        F.posexplode("embedding").alias("d", "xf"),
    )
    b = (
        xy.groupBy(F.col("d").cast("bigint").alias("d"))
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("xf").cast("double") * F.col("y") * 1000000000000
                        + F.lit(0.5)
                    ).cast("long")
                ).cast("double")
                / 1000000000000
            ).alias("bq")
        )
        .crossJoin(F.broadcast(ncnt))
        .select("d", (F.col("bq") / F.col("n")).alias("b"))
        .localCheckpoint(eager=True)
    )
    diag = a.where(F.col("i") == F.col("j")).select(
        F.col("i").alias("di"), F.col("a").alias("ad")
    )
    w = spark.range(64).select(
        F.col("id").cast("bigint").alias("d"), F.lit(0.0).cast("double").alias("wv")
    )
    for _ in range(RIDGE_JACOBI_ITERS):
        off = (
            a.join(w, a.j == w.d)
            .groupBy(F.col("i"))
            .agg(
                F.sum(
                    F.when(
                        F.col("j") != F.col("i"),
                        F.floor(
                            F.col("a") * F.col("wv") * 1000000000000 + F.lit(0.5)
                        ).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                ).alias("off")
            )
        )
        w = (
            off.join(F.broadcast(diag), off.i == diag.di)
            .join(F.broadcast(b), off.i == b.d)
            .select(
                F.col("i").alias("d"),
                (
                    F.floor(
                        (F.col("b") - F.col("off").cast("double") / 1000000000000)
                        / F.col("ad")
                        * 1000000000
                        + F.lit(0.5)
                    )
                    / 1000000000
                ).alias("wv"),
            )
            .localCheckpoint(eager=True)
        )
    return w.select(F.col("d").alias("dim"), F.col("wv").alias("weight"))


RANGE_COS_MIN = 0.3  # radius threshold ~ the 99th pct of query-corpus cosine


@register(
    "sim_range_search",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE cos_sim >= {RANGE_COS_MIN}
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: ALL neighbors with cosine >=
    threshold, not a fixed top-k — what dedup-ish consumers actually
    want ('everything basically identical to this query'), where top-k
    either truncates a dense neighborhood or pads a sparse one. Same
    single corpus scan against the broadcast query set as
    sim_topk_bruteforce (round(cos, 6) convention), but the threshold
    is a plain FILTER, so there's no window, no shuffle, and no
    per-query state at all — strictly cheaper than top-k at any scale;
    the LSH/IVF bucketed variants prune the same predicate by bucket
    (sim_topk_lsh's band tables serve radius queries unchanged, since
    a cosine floor lower-bounds collision probability)."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e)
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    return (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= RANGE_COS_MIN)
    )


# Matryoshka (MRL) truncation ladder: retrieval quality of PREFIX-dim
# embeddings vs the full vector — the report that decides how small the
# stored/scanned vectors can go (truncating a Matryoshka-trained
# embedding to its first d dims is the standard storage/latency lever;
# this measures exactly what it costs on THIS corpus).
MRL_DIMS = (8, 16, 32)


@register(
    "sim_matryoshka_recall",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dims AS (SELECT unnest({list(MRL_DIMS)}) AS d),
    queries AS (SELECT vec_id AS query_id, v AS qv FROM corpus
                WHERE vec_id < {N_QUERIES}),
    full_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, c.v), 6) DESC,
                          c.vec_id) AS rn
        FROM queries q JOIN corpus c ON c.vec_id <> q.query_id
      ) WHERE rn <= {TOP_K}
    ),
    trunc_top AS (
      SELECT d, query_id, neighbor_id FROM (
        SELECT dims.d, q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY dims.d, q.query_id
                 ORDER BY round(list_cosine_similarity(
                            q.qv[1:dims.d], c.v[1:dims.d]), 6) DESC,
                          c.vec_id) AS rn
        FROM dims, queries q JOIN corpus c ON c.vec_id <> q.query_id
      ) WHERE rn <= {TOP_K}
    ),
    hits AS (
      SELECT t.d, t.query_id, count(*) AS n_hits
      FROM trunc_top t JOIN full_top f
        ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
      GROUP BY t.d, t.query_id
    ),
    per_q AS (
      SELECT dims.d, q.query_id, coalesce(h.n_hits, 0) AS n_hits
      FROM dims CROSS JOIN queries q
      LEFT JOIN hits h ON h.d = dims.d AND h.query_id = q.query_id
    )
    SELECT CAST(d AS BIGINT) AS dim_prefix,
           CAST(count(*) AS BIGINT) AS n_queries,
           floor(CAST(sum(n_hits) AS DOUBLE) * 1000000
                 / (count(*) * {TOP_K}) + 0.5) / 1000000 AS mean_recall
    FROM per_q GROUP BY d
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation recall ladder (Matryoshka embeddings): for each
    prefix length in MRL_DIMS, run the exact top-{TOP_K} search on
    TRUNCATED vectors and report mean recall@{TOP_K} against the
    full-dimension top-k. The whole ladder is ONE plan: the corpus scan
    crossJoins the broadcast (query x dim) relation, slices the prefix
    per row, and ranks with a (dim, query)-partitioned WindowGroupLimit
    — so measuring 3 truncation levels costs one corpus pass, not
    three. At 100 TB the economics are the point: if recall@8-dims
    clears the product bar, the scan table shrinks 8x. Cosines round at
    1e-6 before ranking on both engines; ties break on neighbor id."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dims = spark.range(1).select(
        F.explode(F.array(*[F.lit(d) for d in MRL_DIMS])).alias("d")
    )
    qd = queries.crossJoin(dims)

    def cos_prefix(qcol, ccol, d):
        qs = F.slice(qcol, F.lit(1), d)
        cs = F.slice(ccol, F.lit(1), d)
        dot = F.aggregate(
            F.zip_with(qs, cs, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        nq = F.sqrt(F.aggregate(qs, F.lit(0.0), lambda a, x: a + x * x))
        nc = F.sqrt(F.aggregate(cs, F.lit(0.0), lambda a, x: a + x * x))
        return F.round(dot / (nq * nc), 6)

    w_full = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    full_top = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos_prefix(F.col("qv"), F.col("v"), F.lit(64)).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w_full))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    w_trunc = Window.partitionBy("d", "query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    trunc_top = (
        corpus.join(F.broadcast(qd), F.col("query_id") != F.col("vec_id"))
        .select(
            "d",
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos_prefix(F.col("qv"), F.col("v"), F.col("d")).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w_trunc))
        .filter(F.col("rn") <= TOP_K)
        .select("d", "query_id", "neighbor_id")
    )
    hits = trunc_top.join(full_top, ["query_id", "neighbor_id"], "left_semi").groupBy(
        "d", "query_id"
    ).agg(F.count("*").alias("n_hits"))
    per_q = (
        dims.crossJoin(queries.select("query_id"))
        .join(hits, ["d", "query_id"], "left")
        .select("d", "query_id", F.coalesce("n_hits", F.lit(0)).alias("n_hits"))
    )
    return per_q.groupBy("d").agg(
        F.count("*").cast("bigint").alias("n_queries"),
        (
            F.floor(
                F.sum("n_hits").cast("double") * 1000000 / (F.count("*") * TOP_K)
                + F.lit(0.5)
            )
            / 1000000
        ).alias("mean_recall"),
    ).select(F.col("d").cast("bigint").alias("dim_prefix"), "n_queries", "mean_recall")


# Logistic probe by GRADIENT DESCENT — deliberately the OTHER training
# shape vs ml_ridge_probe_train's normal equations: GD rescans the
# corpus per step (2 bounded passes each), which is exactly what you
# buy when the loss is non-quadratic or d is too large for the d² gram
# relation. The link is the HARD sigmoid clamp(u/4 + 0.5, 0, 1): pure
# arithmetic, so no engine-specific exp()/ln() ever runs at query time
# (the fixed-function-table rule) and the oracle stays byte-exact.
LOGIT_STEPS = 3
LOGIT_ETA = 0.5   # exact in binary
LOGIT_L2 = 0.01
LOGIT_POS_LABEL_MIN = 5  # y = 1 iff label >= 5 (ml_eval convention)


_LOGIT_ORACLE = f"""
WITH RECURSIVE nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
w(it, wv) AS (
  SELECT 0, list_transform(range(64), d -> CAST(0.0 AS DOUBLE))
  UNION ALL
  SELECT it + 1,
         list_transform(range(64), d ->
           floor((wv[d+1] - {LOGIT_ETA} * (g[d+1] + {LOGIT_L2} * wv[d+1]))
                 * 1000000000 + 0.5) / 1000000000)
  FROM (
    SELECT it, wv, list(gd ORDER BY d) AS g
    FROM (
      SELECT w.it AS it, w.wv AS wv, dd.d AS d,
             CAST(sum(CAST(floor(CAST(e.embedding[dd.d + 1] AS DOUBLE) * m.r
                                 * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT)
               / 1000000000000.0 / max(nn.n) AS gd
      FROM w
      CROSS JOIN LATERAL (
        SELECT vec_id,
               greatest(0.0, least(1.0,
                 CAST(CAST(list_sum(list_transform(
                        list_zip(CAST(embedding AS DOUBLE[]), w.wv),
                        p -> CAST(floor(p[1] * p[2] * 1000000000000 + 0.5)
                               AS BIGINT)))
                   AS BIGINT) AS DOUBLE)
                 / 1000000000000 / 4.0 + 0.5))
               - CASE WHEN label >= {LOGIT_POS_LABEL_MIN} THEN 1.0 ELSE 0.0 END AS r
        FROM embeddings
      ) m
      JOIN embeddings e ON e.vec_id = m.vec_id
      CROSS JOIN nn,
      LATERAL (SELECT unnest(range(64)) AS d) dd
      WHERE w.it < {LOGIT_STEPS}
      GROUP BY w.it, w.wv, dd.d
    ) per_d
    GROUP BY it, wv
  ) s
)
SELECT CAST(t.d AS BIGINT) AS dim, wv[t.d + 1] AS weight
FROM w, LATERAL (SELECT unnest(range(64)) AS d) t
WHERE it = {LOGIT_STEPS}
"""


@register("ml_logistic_probe_gd", oracle=_LOGIT_ORACLE)
def ml_logistic_probe_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary logistic probe trained by {LOGIT_STEPS} full-batch gradient
    steps with L2 decay: w <- w - eta*(X'(p - y)/n + lambda*w), where
    p = hard_sigmoid(x·w). Complements ml_ridge_probe_train by
    demonstrating the rescan-per-step training shape Spark ML itself
    uses (LBFGS/GD): per step the CACHED exploded corpus is touched
    twice — a margin pass (dot against the broadcast 64-row weight
    relation) and a gradient pass — and nothing corpus-sized ever
    crosses an exchange on a new key: the exploded relation is
    repartitioned ONCE by vec_id at build time, so both the per-vec
    margin aggregate and the (vec_id)-keyed residual join reuse that
    partitioning every step; only the n-row residual relation shuffles
    per step. At 100 TB: steps x 2 map-side passes, weights broadcast,
    gradient reduces to 64 rows.

    Determinism ladder: per-term products floor-quantize at 1e-12
    before order-free integer sums (margins AND gradients), the hard
    sigmoid is pure arithmetic (u/4 is exact in binary; no exp), eta =
    0.5 is exact, and the iterate re-quantizes at 1e-9 per step; the
    oracle replays all steps in one recursive CTE over a LIST-typed
    weight state (list_zip keeps the correlation outside the lambda —
    DuckDB lambdas cannot capture outer columns). Byte-exact tri-scale."""
    from pyspark import StorageLevel

    e = load_table(spark, sf_dir, "embeddings")
    ed = (
        e.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
                "d", "x"
            ),
        )
        .select("vec_id", F.col("d").cast("bigint").alias("d"), "x")
        .repartition("vec_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Eager pin (the connected_components rule): ed feeds the margin
    # and gradient map stages, which race on step 1 of the GD loop as
    # independent branches of one action.
    ed.count()
    ylab = e.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        (F.col("label") >= LOGIT_POS_LABEL_MIN).cast("double").alias("y"),
    )
    nn = e.agg(F.count("*").cast("double").alias("n"))
    w_rel = spark.range(64).select(
        F.col("id").alias("d"), F.lit(0.0).alias("wv")
    )
    q12 = F.lit(1000000000000)
    for _ in range(LOGIT_STEPS):
        u = (
            ed.join(F.broadcast(w_rel), "d")
            .groupBy("vec_id")
            .agg(
                F.sum(
                    F.floor(F.col("x") * F.col("wv") * q12 + F.lit(0.5)).cast("long")
                ).alias("uq")
            )
        )
        p = F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0),
                F.col("uq").cast("double") / 1000000000000 / 4.0 + 0.5,
            ),
        )
        r = u.join(ylab, "vec_id").select("vec_id", (p - F.col("y")).alias("r"))
        grad = (
            ed.join(r, "vec_id")
            .groupBy("d")
            .agg(
                F.sum(
                    F.floor(F.col("x") * F.col("r") * q12 + F.lit(0.5)).cast("long")
                ).alias("gq")
            )
        )
        gd = F.col("gq").cast("double") / 1000000000000 / F.col("n")
        w_rel = (
            w_rel.join(grad, "d")
            .crossJoin(F.broadcast(nn))
            .select(
                "d",
                (
                    F.floor(
                        (
                            F.col("wv")
                            - LOGIT_ETA * (gd + LOGIT_L2 * F.col("wv"))
                        )
                        * 1000000000
                        + F.lit(0.5)
                    )
                    / 1000000000
                ).alias("wv"),
            )
            .localCheckpoint(eager=True)
        )
    ed.unpersist()
    return w_rel.select(F.col("d").cast("bigint").alias("dim"), F.col("wv").alias("weight"))


# int8 scalar quantization (the FAISS SQ8 shape): normalize, learn
# per-dimension [min, max] over the corpus, linear-quantize each
# component to 8 bits, search on exact INTEGER dot products. The other
# standard embedding-compression axis next to the Matryoshka dim
# ladder: 4x smaller vectors, integer SIMD dots, small recall cost.
INT8_LEVELS = 255  # quantization levels (codes -128..127 after centering)


def _sq_normalized_stats(spark: SparkSession, sf_dir: str):
    """Shared scalar-quantization front end for the int8 AND binary
    codecs: (normalized corpus, one-row per-dim [min, max] arrays).
    Per-dim min/max come from one exploded aggregate (64 rows),
    collected into two aligned arrays on a ONE-ROW relation broadcast
    back onto the corpus scan — the corpus itself is never shuffled.
    min/max (not mean) because they are order-independent aggregates:
    a parallel double mean is not bitwise reproducible across partition
    layouts, and both codecs' oracles replay these exact stats."""
    e = load_table(spark, sf_dir, "embeddings")
    nv = _with_norm(e).select(
        "vec_id",
        F.zip_with("v", F.array_repeat("norm", 64), lambda x, n: x / n).alias("u"),
    )
    dimstats = (
        nv.select(F.posexplode("u").alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    stats = dimstats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )
    return nv, stats


def _int8_quantized(spark: SparkSession, sf_dir: str):
    """SQ8 codec: each normalized vector linear-quantized to int8 codes
    per dimension against the corpus-learned [min, max] (see
    _sq_normalized_stats). Quantization is pure map-side column
    arithmetic; constant dimensions (max == min) quantize to code 0."""
    nv, stats = _sq_normalized_stats(spark, sf_dir)
    rng = F.zip_with("mns", "mxs", lambda a, b: F.struct(a.alias("mn"), b.alias("mx")))
    code = lambda x, s: (
        F.when(s["mx"] == s["mn"], F.lit(0).cast("bigint")).otherwise(
            F.floor(
                (x - s["mn"]) / (s["mx"] - s["mn"]) * INT8_LEVELS + F.lit(0.5)
            ).cast("bigint")
            - 128
        )
    )
    return nv.crossJoin(F.broadcast(stats)).select(
        "vec_id", F.zip_with(F.col("u"), rng, code).alias("q")
    )


# Shared normalize + per-dim stats CTE prefix (the oracle twin of
# _sq_normalized_stats), consumed by the int8 AND binary oracles —
# factored so neither needs string surgery on the other's CTEs.
_SQ_STATS_CTES = """corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    nv AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_reduce(
               list_prepend(0.0, list_transform(v, y -> y * y)),
               (a, y) -> a + y))) AS u
      FROM corpus
    ),
    dimstats AS (
      SELECT dim, min(x) AS mn, max(x) AS mx
      FROM (SELECT unnest(u) AS x, generate_subscripts(u, 1) AS dim FROM nv)
      GROUP BY dim
    ),
    stats AS (
      SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
      FROM dimstats
    )"""

_INT8_QUANT_CTE = f"""quant AS (
      SELECT vec_id,
             list_transform(
               list_zip(u, s.mns, s.mxs),
               p -> CASE WHEN p[3] = p[2] THEN CAST(0 AS BIGINT)
                    ELSE CAST(floor((p[1] - p[2]) / (p[3] - p[2])
                                    * {INT8_LEVELS} + 0.5) AS BIGINT) - 128 END
             ) AS q
      FROM nv, stats s
    )"""


@register(
    "sim_topk_int8",
    oracle=f"""
    WITH {_SQ_STATS_CTES},
    {_INT8_QUANT_CTE},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(list_zip(q.q, c.q),
                                           p -> p[1] * p[2])),
               (a, x) -> a + x) AS BIGINT) AS dot_q
      FROM quant q JOIN quant c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, dot_q
    FROM (
      SELECT query_id, neighbor_id, dot_q,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot_q DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
)
def sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) top-k — the FAISS SQ8 rung: vectors are
    normalized, each dimension linear-quantized to 8-bit codes against
    corpus-learned per-dim [min, max], and search ranks by the EXACT
    integer dot product of code vectors (approximates cosine since
    inputs are unit vectors). 4x memory compression and integer-SIMD
    dots at 100 TB, complementing the Matryoshka dimension ladder as
    the other standard embedding-compression axis; accuracy vs the
    full-precision ranking is held by sim_recall_int8.

    Plan shape is sim_topk_bruteforce's: one corpus scan, the 64-row
    dim-stats aggregate collapses to a ONE-ROW array relation broadcast
    back for map-side quantization, the quantized query set broadcasts
    onto the quantized corpus, and WindowGroupLimit prunes the top-k
    below the exchange. Every score is BIGINT arithmetic (|dot| <=
    64 * 128^2 < 2^21), so the oracle matches byte-exactly with no FP
    ladder at all — the one FP step (normalize + quantize) is identical
    IEEE arithmetic in both engines."""
    quant = _int8_quantized(spark, sf_dir)
    queries = quant.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    dot = F.aggregate(
        F.zip_with("qq", "q", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    scored = quant.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot.alias("dot_q"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot_q").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


INT8_RECALL_FLOOR = 0.55  # set below the measured per-query minimum


@register(
    "sim_recall_int8",
    oracle=f"""
    SELECT vec_id AS query_id, true AS recall_met
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def sim_recall_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the SQ8 rung: every query's recall@{TOP_K}
    vs sim_topk_bruteforce meets INT8_RECALL_FLOOR. 8-bit scalar
    quantization perturbs every pairwise score by at most the per-dim
    step size, so neighbors separated by more than the quantization
    noise keep their order — the floor flags a real codec regression
    (wrong scale, broken centering), not tie-break jitter."""
    return _recall_contract(
        sim_topk_bruteforce(spark, sf_dir),
        sim_topk_int8(spark, sf_dir),
        INT8_RECALL_FLOOR,
    )


@register(
    "sim_topk_binary",
    oracle=f"""
    WITH {_SQ_STATS_CTES},
    mid AS (
      SELECT list_transform(list_zip(mns, mxs), p -> (p[1] + p[2]) / 2.0) AS mids
      FROM stats
    ),
    bits AS (
      SELECT nv.vec_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(nv.u[1:32], m.mids[1:32],
                                       list_transform(range(0, 32), d -> CAST(d AS BIGINT))),
                 p -> CASE WHEN p[1] > p[2]
                           THEN CAST(1 AS BIGINT) << CAST(p[3] AS INTEGER)
                           ELSE CAST(0 AS BIGINT) END)),
               (a, x) -> a | x) AS lo,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(nv.u[33:64], m.mids[33:64],
                                       list_transform(range(0, 32), d -> CAST(d AS BIGINT))),
                 p -> CASE WHEN p[1] > p[2]
                           THEN CAST(1 AS BIGINT) << CAST(p[3] AS INTEGER)
                           ELSE CAST(0 AS BIGINT) END)),
               (a, x) -> a | x) AS hi
      FROM nv, mid m
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
                  AS BIGINT) AS hamming
      FROM bits q JOIN bits c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, hamming
    FROM (
      SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming ASC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
)
def sim_topk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized top-k — the 1-bit rung below SQ8: each
    normalized vector becomes 64 BITS (one per dimension, set when the
    component clears the corpus-learned per-dim MIDRANGE (min+max)/2 —
    midrange, not mean, because min/max are order-independent
    aggregates while a parallel double mean is not reproducible), packed
    into two 32-bit halves, and search ranks by exact integer HAMMING
    distance (bit_count of xor). 64x memory compression and 2-instruction
    distances at 100 TB — the coarse first pass real systems run before
    an int8 or full-precision re-rank; accuracy held by
    sim_recall_binary against a re-rank-depth shortlist.

    Plan shape: the same one-row broadcast stats relation as
    sim_topk_int8, bit packing entirely map-side (fold of shifted OR
    terms — pure BIGINT arithmetic, byte-exact in both engines), query
    codes broadcast, WindowGroupLimit pruning the per-query top-k. The
    corpus never shuffles."""
    return _binary_topn(spark, sf_dir, TOP_K)


def _binary_topn(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Shared binary-code search: per-query top-``n`` by exact Hamming
    distance over midrange-thresholded sign bits (see sim_topk_binary).
    ``n`` = TOP_K for the codec-exactness query, BQ_RERANK for the
    prefilter-shortlist recall contract."""
    nv, stats = _sq_normalized_stats(spark, sf_dir)
    mids = F.zip_with("mns", "mxs", lambda a, b: (a + b) / 2.0)

    # bit weights as a literal array — a shift by a COLUMN amount is not
    # expressible with shiftleft(col, int); distinct powers of two sum
    # exactly like an OR pack and stay within BIGINT
    pow2 = F.array(*[F.lit(1 << d).cast("long") for d in range(32)])

    def pack(lo_idx: int):
        return F.aggregate(
            F.zip_with(
                F.slice("u", lo_idx + 1, 32),
                F.zip_with(
                    F.slice("mid", lo_idx + 1, 32),
                    pow2,
                    lambda t, w: F.struct(t.alias("t"), w.alias("w")),
                ),
                lambda x, s: F.when(x > s["t"], s["w"]).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

    bits = (
        nv.crossJoin(F.broadcast(stats.select(mids.alias("mid"))))
        .select("vec_id", pack(0).alias("lo"), pack(32).alias("hi"))
    )
    queries = bits.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    hamming = (
        F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
        + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
    ).cast("bigint")
    scored = bits.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), hamming.alias("hamming"))
    w = Window.partitionBy("query_id").orderBy(F.col("hamming").asc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .drop("rn")
    )


# Binary codes are the coarse FIRST pass of a two-stage search: the
# Hamming shortlist feeds an exact re-rank. The shortlist depth is the
# recall/cost dial. NOTE the fixture selectivity: 500 is 25% of the
# sf0.1 embeddings corpus (2000 vectors) and spans the two smaller
# fixtures entirely — on a real corpus the same depth is a 1e4-1e6x
# cut, so tune depth against YOUR corpus, not this constant. Floor
# sits below the measured per-query minimum (0.6 at sf0.1; 1.0 at the
# smaller fixtures, where the shortlist covers everything).
BQ_RERANK = 500
BINARY_RECALL_FLOOR = 0.55


@register(
    "sim_recall_binary",
    oracle=f"""
    SELECT vec_id AS query_id, true AS recall_met
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def sim_recall_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the binary rung, stated the way binary codes
    are actually used — as a PREFILTER: every query's exact cosine
    top-{TOP_K} must be {BINARY_RECALL_FLOOR:.0%}+ contained in the
    Hamming top-{BQ_RERANK} shortlist (the set an exact re-rank would
    then order perfectly). 1-bit codes are deliberately coarse; ranking
    quality at depth {TOP_K} is the re-rank stage's job, containment at
    re-rank depth is the codec's — this contract pins the latter."""
    return _recall_contract(
        sim_topk_bruteforce(spark, sf_dir),
        _binary_topn(spark, sf_dir, BQ_RERANK),
        BINARY_RECALL_FLOOR,
    )


@register(
    "mine_hard_negatives",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id AS neighbor_id, c.label AS neighbor_label,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings q JOIN embeddings c
        ON q.label <> c.label
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim
    FROM (
      SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the ANCE /
    RocketQA recipe): for each query vector, the top-{TOP_K} most
    cosine-similar vectors with a DIFFERENT label — maximally confusable
    non-matches, the negatives that actually move a contrastive loss
    (random negatives are trivially separable; same-label neighbors are
    potential false negatives and are excluded by construction, which is
    the denoising step those papers emphasize). Same plan as
    sim_topk_bruteforce with the label-mismatch predicate fused into the
    broadcast join condition: one corpus scan, no shuffle before the
    WindowGroupLimit-pruned per-query top-k. The label filter runs
    JVM-side in the join, so at 100 TB no same-label pair is ever
    scored, let alone shuffled."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e, extra_cols=("label",))
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = corpus.join(
        F.broadcast(queries), F.col("query_label") != F.col("label")
    ).select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


# Hybrid retrieval: Reciprocal Rank Fusion (Cormack et al. 2009) of a
# dense (cosine) ranker over embeddings and a lexical (token-set
# Jaccard) ranker over documents. RRF_K=60 is the published constant;
# each system contributes a DEPTH-bounded shortlist.
RRF_K = 60
RRF_DEPTH = 20


@register(
    "search_hybrid_rrf",
    oracle=f"""
    WITH dense_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    dense AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id)
                  AS BIGINT) AS dense_rank_
      FROM dense_scored
      QUALIFY dense_rank_ <= {RRF_DEPTH}
    ),
    toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
    ),
    lex_scored AS (
      SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
             round(len(list_distinct(list_intersect(q.t, c.t))) * 1.0
                   / (len(q.t) + len(c.t)
                      - len(list_distinct(list_intersect(q.t, c.t)))), 6) AS jac
      FROM toks q JOIN toks c ON q.doc_id <> c.doc_id
      WHERE q.doc_id < {N_QUERIES}
    ),
    lex AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY jac DESC, neighbor_id)
                  AS BIGINT) AS lex_rank_
      FROM lex_scored
      QUALIFY lex_rank_ <= {RRF_DEPTH}
    ),
    fused AS (
      SELECT query_id, neighbor_id, dense_rank_, lex_rank_,
             coalesce(1.0 / ({RRF_K} + dense_rank_), 0.0)
               + coalesce(1.0 / ({RRF_K} + lex_rank_), 0.0) AS s
      FROM dense FULL JOIN lex USING (query_id, neighbor_id)
    )
    SELECT query_id, neighbor_id,
           floor(s * 1000000000 + 0.5) / 1000000000 AS rrf_score,
           dense_rank_, lex_rank_
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY s DESC, neighbor_id) AS rn
      FROM fused
    ) WHERE rn <= {TOP_K}
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009, k=60 — the constant every hybrid search deployment ships):
    a DENSE ranker (exact cosine over the embeddings corpus) and a
    LEXICAL ranker (token-set Jaccard over the documents corpus) each
    produce a depth-{RRF_DEPTH} shortlist per query; fusion scores
    every candidate 1/(k+rank) per system it appears in and re-ranks.
    Candidate universes may differ (each system indexes what it has) —
    the FULL OUTER rank join is the point: a hit found by only one
    system still fuses. Both rankers are the repo's existing verified
    shapes (broadcast query set onto a single corpus scan, top-k pruned
    below the exchange); the fusion join operates on two
    (queries x depth)-bounded relations, so at 100 TB the fusion stage
    costs nothing — the corpus-sized work stays in the two rankers.
    Ranks are integers, the two-term RRF sum is a fixed-order IEEE
    expression, and the output quantizes at 1e-9."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e)
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    wd = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    dense = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
        )
        .withColumn("dense_rank_", F.row_number().over(wd).cast("bigint"))
        .filter(F.col("dense_rank_") <= RRF_DEPTH)
        .select("query_id", "neighbor_id", "dense_rank_")
    )
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("t")
    )
    qtoks = toks.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("t").alias("qt")
    )
    inter = F.size(F.array_intersect("qt", "t"))
    jac = F.round(
        inter.cast("double") / (F.size("qt") + F.size("t") - inter), 6
    )
    wl = Window.partitionBy("query_id").orderBy(F.col("jac").desc(), "neighbor_id")
    lex = (
        toks.join(F.broadcast(qtoks), F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            jac.alias("jac"),
        )
        .withColumn("lex_rank_", F.row_number().over(wl).cast("bigint"))
        .filter(F.col("lex_rank_") <= RRF_DEPTH)
        .select("query_id", "neighbor_id", "lex_rank_")
    )
    s = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rank_")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank_")), F.lit(0.0))
    wf = Window.partitionBy("query_id").orderBy(F.col("s").desc(), "neighbor_id")
    return (
        dense.join(lex, ["query_id", "neighbor_id"], "outer")
        .withColumn("s", s)
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            (F.floor(F.col("s") * 1000000000 + F.lit(0.5)) / 1000000000).alias(
                "rrf_score"
            ),
            "dense_rank_",
            "lex_rank_",
        )
    )


# Embedding-space decontamination: the held-out set is the first
# N_EVAL_VECS vectors; a corpus vector is contaminated when its cosine
# to ANY eval vector clears the threshold. tau = 0.35 is calibrated on
# this corpus family so both sides of the flag are populated at every
# SF (16/24/90 contaminated at sf0.001/0.01/0.1) — the published
# practice filters at much higher tau on real corpora; the dial is the
# operator, the constant is fixture calibration.
N_EVAL_VECS = 20
DECON_EMB_TAU = 0.35


@register(
    "decontaminate_embedding",
    oracle=f"""
    SELECT c.vec_id,
           max(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])), 6))
             AS max_eval_cos,
           max(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])), 6))
             < {DECON_EMB_TAU} AS is_clean
    FROM embeddings c JOIN embeddings q ON q.vec_id < {N_EVAL_VECS}
    WHERE c.vec_id >= {N_EVAL_VECS}
    GROUP BY c.vec_id
    """,
)
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) benchmark decontamination — the
    complement of decontaminate_ngram's exact 5-gram overlap: a corpus
    vector is CONTAMINATED when its cosine to any held-out eval vector
    clears tau, catching paraphrased or reformatted eval leakage that
    token n-grams miss (the decontamination recipe current model
    reports pair with the n-gram pass). Emits every corpus vector with
    its max-eval-cosine and the is_clean flag rather than silently
    dropping rows, so the audit attests both populations. Plan: the
    eval set broadcasts onto one corpus scan (same shape as
    sim_topk_bruteforce), the per-vector max partial-aggregates
    map-side, and only n rows cross the exchange — at 100 TB this is
    one pass over the corpus, no pair materialization."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e).filter(F.col("vec_id") >= N_EVAL_VECS)
    evalset = _with_norm(e).filter(F.col("vec_id") < N_EVAL_VECS).select(
        F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    return (
        corpus.crossJoin(F.broadcast(evalset))
        .select(
            "vec_id",
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
        )
        .groupBy("vec_id")
        .agg(F.max("cos_sim").alias("max_eval_cos"))
        .select(
            "vec_id",
            "max_eval_cos",
            (F.col("max_eval_cos") < DECON_EMB_TAU).alias("is_clean"),
        )
    )


@register(
    "sim_topk_binary_rerank",
    oracle=f"""
    WITH {_SQ_STATS_CTES},
    mid AS (
      SELECT list_transform(list_zip(mns, mxs), p -> (p[1] + p[2]) / 2.0) AS mids
      FROM stats
    ),
    bits AS (
      SELECT nv.vec_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(nv.u[1:32], m.mids[1:32],
                                       list_transform(range(0, 32), d -> CAST(d AS BIGINT))),
                 p -> CASE WHEN p[1] > p[2]
                           THEN CAST(1 AS BIGINT) << CAST(p[3] AS INTEGER)
                           ELSE CAST(0 AS BIGINT) END)),
               (a, x) -> a | x) AS lo,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(nv.u[33:64], m.mids[33:64],
                                       list_transform(range(0, 32), d -> CAST(d AS BIGINT))),
                 p -> CASE WHEN p[1] > p[2]
                           THEN CAST(1 AS BIGINT) << CAST(p[3] AS INTEGER)
                           ELSE CAST(0 AS BIGINT) END)),
               (a, x) -> a | x) AS hi
      FROM nv, mid m
    ),
    hscored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
                  AS BIGINT) AS hamming
      FROM bits q JOIN bits c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming ASC, neighbor_id) AS rn
        FROM hscored
      ) WHERE rn <= {{rerank}}
    ),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM shortlist s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM rer
    ) WHERE rn <= {TOP_K}
    """.replace("{rerank}", str(BQ_RERANK)),
)
def sim_topk_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed two-stage binary search — the production shape the
    sim_recall_binary contract describes: Hamming distance over 1-bit
    codes prefilters the corpus to a {BQ_RERANK}-deep shortlist (64x
    compressed scan, two bit_count instructions per candidate), then
    EXACT cosine re-ranks only the shortlist and keeps the top-{TOP_K}.
    At 100 TB the full-precision vectors are touched for queries x
    {BQ_RERANK} rows only — the corpus-wide pass runs entirely on the
    packed codes. Byte-exact end to end: integer Hamming, the verified
    cosine convention on the shortlist, deterministic tiebreaks at both
    stages."""
    shortlist = _binary_topn(spark, sf_dir, BQ_RERANK).select(
        "query_id", "neighbor_id"
    )
    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e)
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    rer = (
        shortlist.join(
            corpus.select(F.col("vec_id").alias("neighbor_id"), "v", "norm"),
            "neighbor_id",
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        rer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


# --- late-interaction (multi-vector) retrieval ------------------------
#
# ColBERT-style MaxSim (Khattab & Zaharia, SIGIR 2020): a document is a
# BAG of token vectors, a query scores against it as
#   score(q, d) = sum over query tokens t of max over doc tokens u of
#                 <e(t), e(u)>
# — late interaction: no single pooled vector, token-level matching at
# ranking time. Token embeddings here are derived deterministically
# from the token's rolling hash through a universal-hash projection
# into 4 small-integer dimensions, so every dot product is exact
# BIGINT arithmetic both engines replay byte-for-byte (registry FP
# ladder rung 0: stay integer). The fixture embedding is fake; the
# PLAN is the real artifact — the corpus-side shape is identical with
# learned vectors.
LI_P = 1000000007
LI_DIM = 4
# universal-hash projection params, one (a, b) pair per dimension —
# same family as the CMS/minhash rows
LI_PARAMS = [
    (((2654435761 * (d + 13)) % LI_P) or 1, (40503 * (d + 7)) % LI_P)
    for d in range(LI_DIM)
]
LI_DOC_TOKENS = 16  # token vectors kept per corpus document
LI_QUERY_TOKENS = 6  # leading tokens forming each query
LI_QUERIES = 4  # doc_id < 4 are the query documents
LI_TOP_K = 5


def _li_tok_hash(tok):
    """Rolling hash (h*31 + ascii) mod 1e9+7 over a token column —
    the same char-rolling hash text_fingerprint proved byte-exact."""
    return F.aggregate(
        F.transform(F.split(tok, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(7).cast("long"),
        lambda h, c: (h * 31 + c) % LI_P,
    )


def _li_maxsim_oracle() -> str:
    from kinesis2sse_spark.queries.llm_text import _tok_rolling_hash_sql

    comp = "((({h} * {a} + {b}) % {p}) % 2001 - 1000)"
    dot = " + ".join(
        comp.format(h="q.qth", a=a, b=b, p=LI_P)
        + " * "
        + comp.format(h="d.th", a=a, b=b, p=LI_P)
        for a, b in LI_PARAMS
    )
    return f"""
    WITH dtok AS (
      SELECT doc_id, u.tok
      FROM documents,
           LATERAL (SELECT unnest(
             (list_filter(string_split(text, ' '), t -> t <> ''))[1:{LI_DOC_TOKENS}]
           ) AS tok) u
    ),
    dh AS (
      SELECT doc_id, {_tok_rolling_hash_sql("tok")} AS th FROM dtok
    ),
    qtok AS (
      SELECT doc_id AS query_id, u.tok
      FROM documents,
           LATERAL (SELECT unnest(
             (list_filter(string_split(text, ' '), t -> t <> ''))[1:{LI_QUERY_TOKENS}]
           ) AS tok) u
      WHERE doc_id < {LI_QUERIES}
    ),
    qh AS (
      SELECT DISTINCT query_id, {_tok_rolling_hash_sql("tok")} AS qth FROM qtok
    ),
    mx AS (
      SELECT q.query_id, q.qth, d.doc_id, max({dot}) AS mdot
      FROM qh q, dh d
      GROUP BY q.query_id, q.qth, d.doc_id
    ),
    sc AS (
      SELECT query_id, doc_id AS neighbor_id,
             CAST(sum(mdot) AS BIGINT) AS li_score
      FROM mx GROUP BY query_id, doc_id
    )
    SELECT query_id, neighbor_id, li_score
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY li_score DESC, neighbor_id) AS rn
      FROM sc
    ) WHERE rn <= {LI_TOP_K}
    """


def _li_score_batches(it):
    """mapInArrow kernel for search_maxsim_late_interaction: per batch,
    project the padded token-hash matrix to embeddings and run the
    whole MaxSim double loop as ONE int64 einsum + masked max + segment
    sum (guide §4.2 — batches to vectorized native code). Exact: every
    intermediate is int64 (|component| <= 1000, dot <= LI_DIM * 10^6,
    score <= nq * dot — far inside int64), and numpy's % matches the
    JVM's on the all-positive operands here. Emits LI_QUERIES rows per
    doc. The query set arrives as the broadcast one-row `qs` column
    (constant-size by construction), decoded once per task."""
    import numpy as np
    import pyarrow as pa

    A = np.array([a for a, _ in LI_PARAMS], dtype=np.int64)
    B = np.array([b for _, b in LI_PARAMS], dtype=np.int64)
    neg = np.int64(-(2**62))
    qmat = qids_u = qseg = None
    for batch in it:
        n = batch.num_rows
        if n == 0:
            continue
        if qmat is None:
            qs = batch.column("qs")[0].as_py()
            if not qs:  # degenerate corpus: no query docs -> no output
                return
            qids_u = np.array([q["query_id"] for q in qs], dtype=np.int64)
            qmat = np.concatenate(
                [
                    ((np.asarray(q["qths"], dtype=np.int64)[:, None] * A + B) % LI_P)
                    % 2001
                    - 1000
                    for q in qs
                ]
            )
            qseg = np.concatenate(
                [np.full(len(q["qths"]), i) for i, q in enumerate(qs)]
            )
        doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
        ths_col = batch.column("ths")
        if isinstance(ths_col, pa.ChunkedArray):
            ths_col = ths_col.combine_chunks()
        flat = ths_col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
        lens = np.diff(ths_col.offsets.to_numpy(zero_copy_only=False))
        m = int(lens.max())
        th = np.zeros((n, m), dtype=np.int64)
        mask = np.arange(m)[None, :] < lens[:, None]
        th[mask] = flat
        demb = ((th[..., None] * A + B) % LI_P) % 2001 - 1000  # (n, m, dim)
        dots = np.einsum("nmd,qd->nmq", demb, qmat)  # (n, m, nq_total)
        dots[~mask] = neg  # padding must never win the max
        mx = dots.max(axis=1)  # (n, nq_total)
        scores = np.stack(
            [mx[:, qseg == qi].sum(axis=1) for qi in range(len(qids_u))], axis=1
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.tile(qids_u, n), type=pa.int64()),
                pa.array(np.repeat(doc_ids, len(qids_u)), type=pa.int64()),
                pa.array(scores.reshape(-1), type=pa.int64()),
            ],
            names=["query_id", "neighbor_id", "li_score"],
        )


@register("search_maxsim_late_interaction", oracle=_li_maxsim_oracle())
def search_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (multi-vector) retrieval: per-query top-k by
    ColBERT MaxSim over per-token embeddings (sum over DISTINCT query
    token vectors of the max dot product against the document's first
    {LI_DOC_TOKENS} token vectors).

    Plan shape (the 100 TB story): one corpus scan computes the capped
    per-doc token-hash array map-side (JVM HOFs — measured 0.25 s of
    the operator at sf0.1); the query side is collapsed to ONE row of
    constant size and broadcast; the MaxSim double loop runs in a
    mapInArrow kernel as a single int64 einsum per batch. This is the
    r13 optimization-round change (guide §4.2): the previous all-JVM
    HOF form (aggregate x array_max x transform per row) was
    interpreted per element and cost 2.9-3.1 s at sf0.1 vs 1.2-1.4 s
    for the vectorized kernel — outputs verified identical row-for-row
    (plans/r13/search_maxsim_late_interaction_*.txt; the deliberate
    PythonMapInArrow node is the §4.2 "batches to native code" sweet
    spot, and only the three needed columns cross the boundary). The
    only exchange in the plan is the final per-query top-k window
    (WindowGroupLimit-pruned, rows = corpus x n_queries). Doc-token
    count is CAPPED at {LI_DOC_TOKENS} (ColBERT caps at 180), so the
    per-row work and the array payload are constants, not
    corpus-growing. Reference: this generalizes the reference's
    single-vector scoring path; no counterpart exists there
    (kinesis2sse serves events, not rankings).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    ths = F.transform(F.slice(toks, 1, LI_DOC_TOKENS), lambda t: _li_tok_hash(t))
    ha = d.select("doc_id", ths.alias("ths")).filter(F.size("ths") > 0)
    qall = (
        ha.filter(F.col("doc_id") < LI_QUERIES)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("ths", 1, LI_QUERY_TOKENS)).alias("qth"),
        )
        .distinct()
        .groupBy("query_id")
        .agg(F.collect_list("qth").alias("qths"))
        .agg(F.sort_array(F.collect_list(F.struct("query_id", "qths"))).alias("qs"))
    )
    scored = ha.crossJoin(F.broadcast(qall)).mapInArrow(
        _li_score_batches, "query_id bigint, neighbor_id bigint, li_score bigint"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("li_score").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= LI_TOP_K)
        .drop("rn")
    )


# --- coreset selection -------------------------------------------------
#
# k-center greedy / farthest-point traversal (Gonzalez 1985): start
# from the lowest-id vector, then repeatedly add the point FARTHEST
# from the current center set. The classic 2-approximation for
# k-center coverage, used in practice for coreset/data-pruning
# selection over embedding corpora (pick the k most mutually distant
# exemplars). Deterministic: squared-euclidean distances round to 6
# before every argmax, ties break to the smallest vec_id, already-
# selected points are excluded explicitly. The oracle UNROLLS the k
# selection steps into chained CTEs (one symbolic expansion, same
# fixed IEEE fold shape both engines).
KCG_K = 8


def _kcg_sqdist_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )


def _kcg_oracle() -> str:
    dist0 = _kcg_sqdist_sql("e.v", "s1.v")
    # every s{i} is referenced by ALL later steps; DuckDB inlines CTEs
    # by default, which re-expands the chain exponentially in k —
    # MATERIALIZED pins each selection to run once (measured: 116 s ->
    # sub-second at sf0.01)
    parts = [
        """
    ev AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                        FROM embeddings),
    s1 AS MATERIALIZED (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT 1)
    """
    ]
    mins = [f"round({dist0}, 6)"]
    sel_ids = ["(SELECT vec_id FROM s1)"]
    for i in range(2, KCG_K + 1):
        not_in = " AND ".join(f"e.vec_id <> {sid}" for sid in sel_ids)
        mind = "least(" + ", ".join(mins) + ")" if len(mins) > 1 else mins[0]
        parts.append(
            f"""
    s{i} AS MATERIALIZED (
      SELECT e.vec_id, e.v, {mind} AS radius
      FROM ev e, {", ".join(f"s{j}" for j in range(1, i))}
      WHERE {not_in}
      ORDER BY {mind} DESC, e.vec_id LIMIT 1
    )
    """
        )
        mins.append(f"round({_kcg_sqdist_sql('e.v', f's{i}.v')}, 6)")
        sel_ids.append(f"(SELECT vec_id FROM s{i})")
    selects = ["SELECT CAST(1 AS BIGINT) AS step, vec_id, CAST(NULL AS DOUBLE) AS radius FROM s1"]
    selects += [
        f"SELECT CAST({i} AS BIGINT), vec_id, radius FROM s{i}"
        for i in range(2, KCG_K + 1)
    ]
    return "WITH " + ",".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("sample_kcenter_greedy", oracle=_kcg_oracle())
def sample_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset selection (see block comment), as the
    RUNNING-MIN recurrence: the state relation carries each point's
    min squared distance to the centers selected so far, and each of
    the {KCG_K} steps is (a) one map-side-combining max_by argmax over
    the cached state (the SemDeDup rule: never a row_number window
    over the corpus for an argmax) and (b) one map-side update
    ``radius' = least(radius, round(d2(v, new_center), 6))`` against
    the 1-row broadcast of the new center. Identical output to the
    recompute-from-all-centers form (min over rounded per-center
    distances == running min of the same rounded values; taken-flag,
    ties and the empty-corpus gate unchanged — pinned oracle), but:
    per-step map work is O(dim) instead of O(k*dim) (k*n*dim total,
    not k^2*n*dim), and every step's plan has the SAME fixed shape
    over an InMemoryRelation, so codegen/planning is paid once instead
    of growing with the union of all prior steps (the before plan
    unioned k nested subplans — 7 MB of explain text at k=8; the
    after plan is flat). Only two corpus-size states are ever held
    at once: the previous state is released as soon as the next is
    populated. Each step's state and argmax are EAGER localCheckpoints,
    not cache pins: the recurrence references the previous state twice
    per step (directly and inside the broadcast argmax), so a cache pin
    leaves a logical plan that DOUBLES per step and Catalyst
    re-analysis goes exponential by ~step 5 (the connected_components
    rule, graph.py's pointer-jump loop; measured here: 245 s with pins
    vs ~2 s with checkpoints at sf0.1). localCheckpoint materializes
    the same rows AND truncates the plan to a leaf; on a real cluster
    prefer setCheckpointDir + .checkpoint() for fault tolerance."""
    e = load_table(spark, sf_dir, "embeddings")
    ev = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )

    def sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    seed = (
        ev.agg(F.min_by(F.struct("vec_id", "v"), F.col("vec_id")).alias("s"))
        .select(
            F.col("s.vec_id").alias("c_id"),
            F.col("s.v").alias("cv"),
            F.lit(None).cast("double").alias("cr"),
        )
        .localCheckpoint(eager=True)
    )
    # state after seeding: per-point min distance to the center set so
    # far (= distance to the seed), plus the taken flag. Rounding per
    # center BEFORE the running min is exactly the before-form's
    # array_min over rounded distances.
    state = (
        ev.crossJoin(F.broadcast(seed))
        .select(
            "vec_id",
            "v",
            F.round(sqdist(F.col("v"), F.col("cv")), 6).alias("radius"),
            (F.col("vec_id") == F.col("c_id")).alias("taken"),
        )
        .localCheckpoint(eager=True)
    )

    picked = [seed]
    for _ in range(2, KCG_K + 1):
        nxt = (
            state.filter(~F.col("taken"))
            .agg(
                F.max_by(
                    F.struct("vec_id", "v", "radius"),
                    F.struct(F.col("radius"), -F.col("vec_id")),
                ).alias("p")
            )
            .select(
                F.col("p.vec_id").alias("c_id"),
                F.col("p.v").alias("cv"),
                F.col("p.radius").alias("cr"),
            )
            .localCheckpoint(eager=True)
        )
        picked.append(nxt)
        if len(picked) < KCG_K:
            new_state = (
                state.crossJoin(F.broadcast(nxt))
                .select(
                    "vec_id",
                    "v",
                    F.least(
                        F.col("radius"),
                        F.round(sqdist(F.col("v"), F.col("cv")), 6),
                    ).alias("radius"),
                    (F.col("taken") | (F.col("vec_id") == F.col("c_id"))).alias(
                        "taken"
                    ),
                )
                .localCheckpoint(eager=True)
            )
            # the superseded state's checkpoint RDD is released by the
            # ContextCleaner once this reference drops (nothing else
            # holds it: nxt is already materialized)
            state = new_state

    out = None
    for i, c in enumerate(picked, start=1):
        row = c.select(
            F.lit(i).cast("long").alias("step"),
            F.col("c_id").alias("vec_id"),
            F.col("cr").alias("radius"),
        )
        out = row if out is None else out.unionByName(row)
    # empty-corpus gate: a Spark global min_by/max_by emits one
    # NULL-struct row where the oracle's LIMIT 1 emits nothing — drop
    # the placeholder rows so an empty corpus selects an empty coreset
    return out.where(F.col("vec_id").isNotNull()).select(
        "step", "vec_id", "radius"
    )


# Dense pseudo-relevance feedback — the VECTOR twin of the lexical
# search_prf_rocchio: run the exact cosine search, take each query's
# top PRF_VEC_FB neighbors as pseudo-relevant, move the query toward
# their centroid (q' = q + PRF_VEC_BETA * mean(neighbors) — the
# Rocchio update in embedding space), and re-search with the expanded
# vector. The classic recall lever for embedding retrieval when the
# query vector undershoots its cluster. Determinism: the feedback
# centroid is built from 1e6-QUANTIZED integer component sums (a
# 5-double sum's last bits depend on addition order, so raw-double
# centroids could differ between engines), the update is one
# fixed-shape expression per component, and round-2 scoring folds
# dot/norm in fixed component order on BOTH sides (the _IVF_DOT
# list_reduce idiom oracle-side — not list_cosine_similarity, whose
# internal order is only proven for raw embedding inputs).
PRF_VEC_FB = 5
PRF_VEC_BETA = 0.5


def _prf_vector_oracle() -> str:
    dot2 = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, 65), i -> q2.qv2[i] * CAST(c.embedding[i] AS DOUBLE))), "
        "(a, b) -> a + b)"
    )
    n2 = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(qv2, x -> x * x)), (a, b) -> a + b))"
    )
    cn = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(CAST(c.embedding AS DOUBLE[]), x -> x * x)), (a, b) -> a + b))"
    )
    return f"""
    WITH r1 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    fb AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM r1
      ) WHERE rn <= {PRF_VEC_FB}
    ),
    fbq AS (
      SELECT f.query_id,
             list_transform(CAST(e.embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS iq
      FROM fb f JOIN embeddings e ON e.vec_id = f.neighbor_id
    ),
    fbdim AS (
      SELECT query_id, d.d, CAST(sum(iq[d.d]) AS BIGINT) AS s
      FROM fbq, LATERAL (SELECT unnest(range(1, 65)) AS d) d
      GROUP BY query_id, d.d
    ),
    cent AS (
      SELECT query_id, list(s ORDER BY d) AS cs FROM fbdim GROUP BY query_id
    ),
    q2 AS (
      SELECT q.vec_id AS query_id,
             list_transform(range(1, 65), i ->
               CAST(q.embedding[i] AS DOUBLE)
               + {PRF_VEC_BETA} * (CAST(c.cs[i] AS DOUBLE)
                                   / ({PRF_VEC_FB} * 1000000.0))) AS qv2
      FROM embeddings q JOIN cent c ON c.query_id = q.vec_id
    ),
    r2 AS (
      SELECT q2.query_id, c.vec_id AS neighbor_id,
             round({dot2} / ({n2} * {cn}), 6) AS cos_sim
      FROM q2 JOIN embeddings c ON c.vec_id <> q2.query_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM r2
    ) WHERE rn <= {TOP_K}
    """


@register("sim_prf_vector", oracle=_prf_vector_oracle())
def sim_prf_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback in embedding space — see the
    block comment. Scale shape: two broadcast-query corpus scans
    (round 1 and round 2 are each the sim_topk_bruteforce plan —
    WindowGroupLimit-pruned per-query top-k, corpus never shuffled)
    with a constant-size centroid computation between them (PRF_VEC_FB
    x N_QUERIES quantized vectors)."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = _with_norm(e)
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    fb = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
            F.expr(
                "transform(v, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))"
            ).alias("iq"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PRF_VEC_FB)
    )
    cent = fb.groupBy("query_id").agg(
        F.array(*[F.sum(F.col("iq")[i]).cast("bigint") for i in range(64)]).alias("cs")
    )
    q2 = queries.join(F.broadcast(cent), "query_id").select(
        "query_id",
        F.zip_with(
            "qv",
            "cs",
            lambda q, s: q + PRF_VEC_BETA * (s.cast("double") / (PRF_VEC_FB * 1000000.0)),
        ).alias("qv2"),
    )
    q2 = q2.select(
        "query_id",
        "qv2",
        F.sqrt(
            F.aggregate("qv2", F.lit(0.0), lambda a, x: a + x * x)
        ).alias("qnorm2"),
    )
    dot2 = F.aggregate(
        F.zip_with("qv2", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    r2 = (
        corpus.join(F.broadcast(q2), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot2 / (F.col("qnorm2") * F.col("norm")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return r2


# --- Recall-vs-probes sweep + rank-biased overlap (round 13) ---------
#
# Two "measure, don't guess" evaluation rungs for the IVF rung's
# recall/cost dial. Both replay the full quantize→probe→rerank
# machinery per configuration inside ONE query (shared assignment,
# shared exact baseline), so the sweep costs one corpus pass plus
# |queries|-bounded work per leg — the shape of a production
# parameter-tuning job.

PROBE_SWEEP = (2, 4, 8)  # nprobe legs (IVF_PROBES=6 sits inside the range)

_SWEEP_SHARED_CTES = f"""
    corpus AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)),
               (a, b) -> a + b)) AS norm
      FROM embeddings
    ), cents AS MATERIALIZED (
      SELECT CAST(vec_id AS INT) AS cell, v AS cv, norm AS cnorm
      FROM corpus WHERE vec_id < {IVF_K}
    ), cellr AS (
      SELECT c0.vec_id, c0.v, c0.norm, c.cell,
             row_number() OVER (PARTITION BY c0.vec_id
               ORDER BY round({_IVF_DOT.format(a="c0.v", b="c.cv")}
                              / (c0.norm * c.cnorm), 6) DESC, c.cell) AS arn
      FROM corpus c0, cents c
    ), assigned AS MATERIALIZED (
      SELECT vec_id, v, norm, cell FROM cellr WHERE arn = 1
    ), queries AS MATERIALIZED (
      SELECT vec_id AS query_id, v AS qv, norm AS qnorm
      FROM assigned WHERE vec_id < {N_QUERIES}
    ), prober AS MATERIALIZED (
      SELECT q.query_id, q.qv, q.qnorm, c.cell,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_IVF_DOT.format(a="q.qv", b="c.cv")} DESC, c.cell) AS prn
      FROM queries q, cents c
    ), bf AS MATERIALIZED (
      SELECT query_id, neighbor_id, rn FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round({_IVF_DOT.format(a="q.qv", b="c.v")}
                                / (q.qnorm * c.norm), 6) DESC, c.vec_id) AS rn
        FROM queries q JOIN corpus c ON c.vec_id <> q.query_id
      ) WHERE rn <= {TOP_K}
    )
"""


def _sweep_leg_ctes(p: int) -> str:
    return f"""
    topk_p{p} AS (
      SELECT query_id, neighbor_id, rn FROM (
        SELECT s.query_id, s.neighbor_id,
               row_number() OVER (PARTITION BY s.query_id
                 ORDER BY s.cos_sim DESC, s.neighbor_id) AS rn
        FROM (
          SELECT pr.query_id, a.vec_id AS neighbor_id,
                 round({_IVF_DOT.format(a="pr.qv", b="a.v")}
                       / (pr.qnorm * a.norm), 6) AS cos_sim
          FROM assigned a
          JOIN (SELECT query_id, qv, qnorm, cell FROM prober
                WHERE prn <= {p}) pr
            ON pr.cell = a.cell AND pr.query_id <> a.vec_id
        ) s
      ) WHERE rn <= {TOP_K}
    )
"""


def _probe_sweep_oracle() -> str:
    legs = ",".join(_sweep_leg_ctes(p) for p in PROBE_SWEEP)
    rows = " UNION ALL ".join(
        f"""
        SELECT CAST({p} AS BIGINT) AS n_probes,
               CAST({N_QUERIES * TOP_K} AS BIGINT) AS n_possible,
               CAST(count(*) AS BIGINT) AS n_hits
        FROM topk_p{p} t
        JOIN bf b ON b.query_id = t.query_id
                 AND b.neighbor_id = t.neighbor_id
        """
        for p in PROBE_SWEEP
    )
    return f"""
    WITH {_SWEEP_SHARED_CTES}, {legs}
    SELECT n_probes, n_possible, n_hits,
           floor(CAST(n_hits AS DOUBLE) / n_possible * 1000000 + 0.5)
             / 1000000 AS mean_recall
    FROM ({rows})
    """


def _sweep_spark_parts(spark: SparkSession, sf_dir: str):
    """Shared Spark-side machinery for the sweep/RBO rungs: pinned
    assignment, the full per-query centroid ranking (filter to any
    nprobe downstream), and the exact top-{TOP_K} baseline WITH ranks
    (same round-6 cosine expression tree as the oracle)."""
    corpus = _with_norm(load_table(spark, sf_dir, "embeddings"))
    centroids = _ivf_centroids(corpus)
    assigned = _ivf_assign(corpus, centroids).transform(pin_cache)
    cents = centroids.select("cell", "cv")
    queries = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    qdot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cdist").desc(), "cell")
    pranked = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("cdist", qdot)
        .withColumn("prn", F.row_number().over(wq))
        .select("query_id", "qv", "qnorm", "cell", "prn")
        .transform(pin_cache)
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    bf = (
        assigned.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "rn")
        .transform(pin_cache)
    )

    def ivf_topk(p: int) -> DataFrame:
        probes = pranked.filter(F.col("prn") <= p).select(
            "query_id", "qv", "qnorm", "cell"
        )
        scored = (
            assigned.join(F.broadcast(probes), "cell")
            .filter(F.col("query_id") != F.col("vec_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(dot / (F.col("qnorm") * F.col("norm"))
                        , 6).alias("cos_sim"),
            )
        )
        return (
            scored.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "neighbor_id", "rn")
        )

    return queries, bf, ivf_topk


@register("sim_recall_vs_probes", oracle=_probe_sweep_oracle())
def sim_recall_vs_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the IVF rung as a function of nprobe — the
    tuning curve behind the IVF_PROBES=6 default: one row per leg of
    PROBE_SWEEP with the exact hit count against the brute-force
    baseline and the mean recall over the {N_QUERIES}-query set. The
    whole sweep shares ONE cell assignment, ONE centroid ranking per
    query, and ONE exact baseline (all pinned); each leg adds only a
    prn filter + |probed cells|-bounded rerank + a {TOP_K}*{N_QUERIES}-row
    join, so legs cost marginal work, not corpus passes. Scale: the
    corpus is scanned once for the assignment (map-side max_by argmax);
    every leg's rerank reads the probed cells only — the plan a
    production parameter sweep should have."""
    queries, bf, ivf_topk = _sweep_spark_parts(spark, sf_dir)
    legs = None
    for p in PROBE_SWEEP:
        leg = (
            ivf_topk(p)
            .join(bf, ["query_id", "neighbor_id"])
            .agg(F.count("*").cast("bigint").alias("n_hits"))
            .select(
                F.lit(p).cast("bigint").alias("n_probes"),
                F.lit(N_QUERIES * TOP_K).cast("bigint").alias("n_possible"),
                "n_hits",
            )
        )
        legs = leg if legs is None else legs.unionByName(leg)
    return legs.select(
        "n_probes",
        "n_possible",
        "n_hits",
        (
            F.floor(
                F.col("n_hits").cast("double") / F.col("n_possible") * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("mean_recall"),
    )


# Truncated rank-biased overlap (Webber, Moffat & Zobel 2010) at depth
# TOP_K with persistence RBO_P, NORMALIZED by its own maximum
# (1 - p^k reachable mass) so identical lists score 1.0. Because a
# common item with ranks (ra, rb) enters every prefix-overlap term
# X_d with d >= max(ra, rb), RBO decomposes into a per-item weight
# W(max(ra, rb)) — precomputed here as 1e9-scaled INTEGER literals
# inlined into both engines, so the per-query score is an exact
# integer sum (no cross-engine FP summation-order risk), divided once
# at the end.
RBO_P = 0.9


def _rbo_weights_scaled() -> list[int]:
    """W_norm(m)*1e9 for m = 1..TOP_K, W(m) = (1-p) * sum_{d=m..k}
    p^(d-1)/d, normalized by sum_d W(d) = (1-p^k)."""
    raw = [
        (1 - RBO_P) * sum(RBO_P ** (d - 1) / d for d in range(m, TOP_K + 1))
        for m in range(1, TOP_K + 1)
    ]
    total = 1 - RBO_P ** TOP_K
    return [round(w / total * 1e9) for w in raw]


def _rbo_weight_case(m_expr: str) -> str:
    ws = _rbo_weights_scaled()
    clauses = " ".join(
        f"WHEN {m} THEN {w}" for m, w in zip(range(1, TOP_K + 1), ws)
    )
    return f"(CASE {m_expr} {clauses} ELSE 0 END)"


def _rbo_oracle() -> str:
    leg = _sweep_leg_ctes(IVF_PROBES)
    return f"""
    WITH {_SWEEP_SHARED_CTES}, {leg}
    SELECT q.query_id,
           CAST(coalesce(o.n_common, 0) AS BIGINT) AS n_common,
           CAST((CAST(coalesce(o.w, 0) AS BIGINT) + 500) // 1000
                AS DOUBLE) / 1000000 AS rbo
    FROM queries q
    LEFT JOIN (
      SELECT t.query_id,
             count(*) AS n_common,
             sum({_rbo_weight_case("greatest(t.rn, b.rn)")}) AS w
      FROM topk_p{IVF_PROBES} t
      JOIN bf b ON b.query_id = t.query_id
               AND b.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    ) o ON o.query_id = q.query_id
    """


@register("sim_rbo_ivf_vs_exact", oracle=_rbo_oracle())
def sim_rbo_ivf_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized truncated RBO@{TOP_K} between the IVF rung (at its
    production IVF_PROBES setting) and the exact baseline, per query —
    a TOP-WEIGHTED agreement metric where plain recall treats rank 1
    and rank {TOP_K} alike (an ANN index that nails the top hits but
    shuffles the tail scores near 1 here while plain recall can't see
    the difference). Per-item decomposition + 1e9-scaled integer
    weights make the score an exact integer sum (see block comment).
    Scale shape: shares _sweep_spark_parts' one-pass machinery; the
    RBO join touches {TOP_K}*{N_QUERIES} rows."""
    queries, bf, ivf_topk = _sweep_spark_parts(spark, sf_dir)
    ws = _rbo_weights_scaled()
    weight = F.element_at(
        F.array(*[F.lit(w) for w in ws]),
        F.greatest(F.col("rn"), F.col("brn")).cast("int"),
    ).cast("bigint")
    o = (
        ivf_topk(IVF_PROBES)
        .join(
            bf.select(
                "query_id", "neighbor_id", F.col("rn").alias("brn")
            ),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum(weight).cast("bigint").alias("w"),
        )
    )
    return (
        queries.select("query_id")
        .join(o, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_common"), F.lit(0))
            .cast("bigint")
            .alias("n_common"),
            (
                F.expr("(CAST(coalesce(w, 0) AS BIGINT) + 500) div 1000")
                .cast("double")
                / 1000000
            ).alias("rbo"),
        )
    )


# --- cosine-similarity histogram --------------------------------------------
# Embedding-space geometry diagnostic: the distribution of cosine
# similarity between deterministically sampled vector pairs — the
# cheap "is this embedding space collapsing?" probe (anisotropy /
# modal collapse shows up as the mass piling into the top buckets;
# healthy spaces spread around their mean). One partner per vector via
# the overflow-safe multiplicative hash modulo the corpus size, so the
# sample is LINEAR in the corpus (never all-pairs), unbiased across
# id ranges, and replayable: partner(v) = (v * 2654435761 mod
# 1000000007) mod n. Pairs where the hash lands on the vector itself
# drop (documented, counted). The cosine is the corpus-wide fold
# convention (double-cast, sequential fold — order fixed, engine-
# identical) rounded 1e6, so bucket edges cut identically; buckets are
# the 20 width-0.1 cells of [-1, 1]. Plan: 1-row count broadcast, one
# equi-join on the hashed partner id (shuffle keyed on vec_id), one
# 20-group aggregate.
@register(
    "emb_cosine_histogram",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    pairs AS (
      SELECT a.vec_id,
             (a.vec_id * 2654435761) % 1000000007 % n.n AS pid
      FROM embeddings a, n
    ),
    scored AS (
      SELECT round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cs
      FROM pairs p
      JOIN embeddings a ON a.vec_id = p.vec_id
      JOIN embeddings b ON b.vec_id = p.pid
      WHERE p.pid <> p.vec_id
    ),
    b AS (
      SELECT least(19, greatest(0, CAST(floor((cs + 1.0) * 10) AS BIGINT)))
               AS bucket,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM scored GROUP BY 1
    )
    SELECT bucket,
           floor((CAST(bucket AS DOUBLE) / 10 - 1.0) * 1000000 + 0.5)
             / 1000000 AS cos_lo,
           n_pairs,
           floor(CAST(n_pairs AS DOUBLE)
                 / (SELECT sum(n_pairs) FROM b) * 1000000 + 0.5)
             / 1000000 AS frac
    FROM b
    """,
)
def emb_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket cosine-similarity histogram over hash-sampled vector
    pairs (one partner per vector — linear, never all-pairs); the
    embedding-space collapse diagnostic. See the block comment."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.agg(F.count("*").cast("bigint").alias("n"))
    corpus = _with_norm(e).transform(pin_cache)
    pairs = (
        corpus.crossJoin(F.broadcast(n))
        .select(
            "vec_id",
            "v",
            "norm",
            ((F.col("vec_id") * 2654435761) % 1000000007 % F.col("n")).alias("pid"),
        )
        .where(F.col("pid") != F.col("vec_id"))
    )
    b = corpus.select(
        F.col("vec_id").alias("pid"),
        F.col("v").alias("bv"),
        F.col("norm").alias("bnorm"),
    )
    dot = F.aggregate(
        F.zip_with("v", "bv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    cs = F.round(dot / (F.col("norm") * F.col("bnorm")), 6)
    scored = pairs.join(b, "pid").select(cs.alias("cs"))
    h = (
        scored.groupBy(
            F.least(
                F.lit(19),
                F.greatest(F.lit(0), F.floor((F.col("cs") + 1.0) * 10)),
            )
            .cast("bigint")
            .alias("bucket")
        )
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .transform(pin_cache)
    )
    tot = h.agg(F.sum("n_pairs").cast("bigint").alias("tp"))
    return h.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.floor((F.col("bucket").cast("double") / 10 - 1.0) * 1000000 + F.lit(0.5))
            / 1000000
        ).alias("cos_lo"),
        "n_pairs",
        (
            F.floor(
                F.col("n_pairs").cast("double") / F.col("tp") * 1000000 + F.lit(0.5)
            )
            / 1000000
        ).alias("frac"),
    )
