"""Iterative/graph operators over the near-dup pair graph: connected
components (the canonical "collapse duplicate clusters" step after pair
generation), exact triangle counting (cluster-quality signal), and
fixed-iteration PageRank (cluster ranking by duplication mass).

Spark side: driver-controlled loops over DataFrame joins — each
iteration is one shuffle; the CC loop is O(log diameter) via pointer
doubling, PageRank unrolls a fixed iteration count lazily into one
plan, and triangles use degree-ordered orientation for the O(m^1.5)
wedge bound. The oracles replay the same computations with (recursive)
CTEs, so even these iterative operators are value-checked, not just
rows-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis2sse_spark.catalog import load_table, pin_cache, scratch_cache
from kinesis2sse_spark.queries.llm_dedup import _ORACLE_CLUSTER_CTE, JACCARD_THRESHOLD
from kinesis2sse_spark.registry import register

# Near-dup pairs with EXACTLY dedup_ngram_jaccard's oracle semantics
# (exact-duplicate collapse + sliced postings + fan-out) — built from
# the same CTE fragments so the edge definition can never drift from
# the pair operator it consumes.
_PAIRS_CTES = f"""
    {_ORACLE_CLUSTER_CTE},
    repscore AS (
      SELECT doc_a, doc_b
      FROM inter i
      JOIN counts na ON na.doc_id = i.doc_a
      JOIN counts nb ON nb.doc_id = i.doc_b
      WHERE i.c * 1.0 / (na.n + nb.n - i.c) >= {JACCARD_THRESHOLD}
    ),
    pairs AS (
      SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
             greatest(ma.doc_id, mb.doc_id) AS doc_b
      FROM repscore r
      JOIN mem ma ON ma.rep_id = r.doc_a
      JOIN mem mb ON mb.rep_id = r.doc_b
      UNION ALL
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mem a
      JOIN mem b ON a.rep_id = b.rep_id AND a.doc_id < b.doc_id
      JOIN toks t ON t.doc_id = a.rep_id
      WHERE len(t.t) >= 3
    )
"""


def connected_components(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Min-label connected components over an undirected edge list
    (columns ``a``, ``b``; both directions need not be present).

    Each round does (1) a neighbor-min propagation and (2) a pointer
    jump (``label <- label(label)``), so chain depth HALVES per round:
    convergence is O(log diameter) shuffles, not the O(diameter) of
    plain label propagation — the difference between ~40 rounds and an
    unbounded loop on a pathological 100 TB path graph. ``max_rounds``
    defaults to 64, enough for any graph with < 2**64 nodes under
    doubling; a non-converged loop raises instead of running forever.
    The driver holds only a per-round convergence count; labels stay
    distributed (cached per round, unpersisted after use)."""
    # Pin the edge list BEFORE mirroring it: the a->b / b->a union
    # references ``edges`` twice, and when edges is the tail of an
    # expensive pipeline (the near-dup candidate generator here) an
    # unpersisted subtree evaluates that whole pipeline once per
    # reference. The edge list itself is tiny (pairs, not corpus), so
    # the eager persist costs one pipeline run and makes everything
    # downstream — mirror, distinct, every loop round — read from
    # memory. Measured at the 100x scale curve: the CC loop dropped
    # from ~2.3x to ~1.05x the pair-generation cost.
    from pyspark import StorageLevel

    e = (
        edges.select(F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e.count()
    # No distinct() on the mirror union: min-label propagation is
    # duplicate-edge-insensitive (a repeated edge contributes the same
    # value to the same min), so the dedup exchange bought nothing —
    # one full shuffle of the edge relation removed (guide §2.4,
    # "a distinct on data that is already unique"; pairs are unique
    # (doc_a < doc_b) tuples, so the mirrored relation has no dupes
    # anyway).
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .cache()
    )
    labels = None
    prev = None
    for rnd in range(max_rounds):
        # (1) propagate: each node adopts the min label among itself
        # and its neighbors. The round-start label rides along as
        # ``old`` so convergence detection needs no join afterwards.
        if rnd == 0:
            # Fused first round: labels start as node ids, so the
            # neighbor-min join against the identity label relation is
            # algebraically ONE aggregation over the mirrored edges —
            # min(node, min(neighbor ids)) — and the node set is its
            # grouping key (every node appears as src in und). This
            # removes the separate distinct+pin of the initial label
            # relation and round 0's two joins (one exchange + one
            # eager action fewer; output byte-identical).
            propagated = (
                und.groupBy("a")
                .agg(F.min("b").alias("nlabel"))
                .select(
                    F.col("a").alias("node"),
                    F.col("a").alias("old"),
                    F.least(F.col("a"), F.col("nlabel")).alias("label"),
                )
            )
        else:
            neighbor_min = (
                und.join(labels, und.a == labels.node)
                .groupBy(F.col("b").alias("node2"))
                .agg(F.min("label").alias("nlabel"))
            )
            propagated = labels.join(
                neighbor_min, labels.node == neighbor_min.node2, "left"
            ).select(
                "node",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
            )
        # (2) shortcut: follow one hop up the label tree. Labels only
        # ever decrease, so label(label(n)) <= label(n); combined with
        # (1) this is pointer doubling and depth halves every round.
        #
        # localCheckpoint, not cache: the self-join references
        # `propagated` TWICE, so the logical plan would double per
        # round — cache() truncates execution but Catalyst still
        # re-analyzes the full lineage, and analysis time goes
        # exponential by ~round 4. Eager localCheckpoint materializes
        # AND truncates the plan, keeping every round O(1) to analyze.
        # (On a real cluster prefer sc.setCheckpointDir + .checkpoint()
        # for fault tolerance; localCheckpoint trades that for speed.)
        ckpt = (
            propagated.alias("x")
            .join(
                propagated.select(
                    F.col("node").alias("lnode"), F.col("label").alias("llabel")
                ),
                F.col("x.label") == F.col("lnode"),
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.col("x.old").alias("old"),
                F.coalesce("llabel", F.col("x.label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        # convergence probe: a shuffle-free filter-count over the
        # checkpointed relation (the old shape joined new labels back
        # to the previous round's — one full shuffle per round spent
        # only on bookkeeping)
        changed = ckpt.filter(F.col("label") != F.col("old")).count()
        if prev is not None:
            prev.unpersist()
        prev = ckpt
        labels = ckpt.select("node", "label")
        if changed == 0:
            und.unpersist()
            e.unpersist()
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            )
    und.unpersist()
    e.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


_UND_CTE = """
    und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    deg AS (SELECT src AS node, count(*) AS d FROM und GROUP BY src)
"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_PAIRS_CTES},
    {_UND_CTE},
    oriented AS (
      SELECT u.src AS u, u.dst AS v
      FROM und u
      JOIN deg da ON da.node = u.src
      JOIN deg db ON db.node = u.dst
      WHERE da.d < db.d OR (da.d = db.d AND u.src < u.dst)
    ),
    tri AS (
      SELECT o1.u AS x, o1.v AS y, o2.v AS z
      FROM oriented o1
      JOIN oriented o2 ON o2.u = o1.u AND o1.v <> o2.v
      JOIN oriented o3 ON o3.u = o1.v AND o3.v = o2.v
    ),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node AS doc_id, count(*) AS n_triangles
    FROM corners GROUP BY node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup graph (triangle
    density separates tight duplicate cliques from chains of borderline
    matches — a standard cluster-quality signal before collapsing).
    Algorithm + scale notes: see triangle_counts."""
    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return triangle_counts(pairs).select(
        F.col("node").alias("doc_id"), "n_triangles"
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Exact per-node triangle counts over an undirected edge list
    (columns ``a``, ``b``; both directions need not be present).

    Degree-ordered orientation: each undirected edge points from the
    (degree, id)-smaller endpoint to the larger, so every node's
    out-degree is O(sqrt(m)) and the wedge self-join materializes at
    most m^1.5 candidate wedges — the classic bound that makes exact
    triangle counting feasible on skewed 100 TB graphs, where the
    naive three-way edge join explodes on hub nodes. Each triangle is
    emitted exactly once, at its orientation-minimal corner; the
    corner unnest then spreads the count to all three vertices. und,
    deg, and the oriented relation are all persisted — each has 2-3
    consumers and und's lineage is the whole upstream pair pipeline
    (the round-4 repeated-subtree rule: every un-cached consumer
    re-instantiates it)."""

    und = (
        edges.select(F.col("a").cast("long").alias("src"), F.col("b").cast("long").alias("dst"))
        .unionByName(edges.select(F.col("b").cast("long").alias("src"), F.col("a").cast("long").alias("dst")))
        .distinct()
        .transform(pin_cache)
    )
    deg = (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("d"))
        .transform(pin_cache)
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("ds"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("dd"))
    oriented = (
        und.join(da, "src")
        .join(db, "dst")
        .where(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .transform(pin_cache)
    )
    o1 = oriented
    o2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    o3 = oriented.select(F.col("u").alias("u3"), F.col("v").alias("v3"))
    tri = (
        o1.join(o2, (F.col("u") == F.col("u2")) & (F.col("v") != F.col("w")))
        .join(o3, (F.col("u3") == F.col("v")) & (F.col("v3") == F.col("w")))
        .select(F.col("u").alias("x"), F.col("v").alias("y"), F.col("w").alias("z"))
    )
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


PAGERANK_ITERS = 3

_PAGERANK_ORACLE = f"""
    WITH RECURSIVE {_PAIRS_CTES},
    {_UND_CTE},
    ncnt AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg),
    pr(iter, node, rank) AS (
      SELECT 0, node, CAST(1.0 AS DOUBLE) / nn FROM deg, ncnt
      UNION ALL
      SELECT pr.iter + 1, e.dst,
             0.15 / max(ncnt.nn)
               + 0.85 * CAST(sum(CAST(pr.rank / deg.d AS DECIMAL(27,15))) AS DOUBLE)
      FROM pr
      JOIN und e ON e.src = pr.node
      JOIN deg ON deg.node = pr.node
      CROSS JOIN ncnt
      WHERE pr.iter < {PAGERANK_ITERS}
      GROUP BY pr.iter + 1, e.dst
    )
    SELECT node AS doc_id,
           floor(rank * 1000000000 + 0.5) / 1000000000 AS rank
    FROM pr WHERE iter = {PAGERANK_ITERS}
    """


@register("graph_pagerank", oracle=_PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup graph, damping 0.85, a FIXED 3
    iterations — fixed so the oracle's recursive CTE replays the exact
    same computation (a convergence-tolerance loop is not value-
    checkable). On the symmetric near-dup graph rank concentrates in
    the big duplicate cliques, ranking clusters by "duplication mass".
    Algorithm + scale notes: see pagerank."""
    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return pagerank(pairs, PAGERANK_ITERS).select(
        F.col("node").alias("doc_id"),
        (F.floor(F.col("rank") * 1000000000 + F.lit(0.5)) / 1000000000).alias("rank"),
    )


def pagerank(edges: DataFrame, iters: int) -> DataFrame:
    """PageRank (damping 0.85) over an undirected edge list (columns
    ``a``, ``b``), run for a fixed ``iters`` iterations; returns
    (node, rank) with the raw double rank.

    Shape per iteration: one shuffle (contributions grouped by target)
    against a PERSISTED degree-annotated edge relation — the loop is
    unrolled lazily into a single plan, no driver action, no
    checkpoint needed at a handful of linear iterations (contrast the
    pointer-doubling CC loop whose self-join doubles the plan per
    round). Every node of the symmetric graph has degree >= 1, so
    there is no dangling-mass term. Determinism: per-edge
    contributions are cast to DECIMAL(27,15) before the sum (registry
    ladder step 3), so partial-aggregation order cannot move the ranks
    between engines; the scalar recombination 0.15/N + 0.85*s is the
    identical IEEE expression on both sides."""
    # und and deg are persisted alongside edges_deg: deg feeds the
    # edge annotation, the 1-row ncnt aggregate, AND the initial rank
    # relation — un-cached, each consumer re-instantiates the whole
    # upstream pair pipeline (round-4 repeated-subtree rule)
    und = (
        edges.select(F.col("a").cast("long").alias("src"), F.col("b").cast("long").alias("dst"))
        .unionByName(edges.select(F.col("b").cast("long").alias("src"), F.col("a").cast("long").alias("dst")))
        .distinct()
        .transform(pin_cache)
    )
    deg = (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("d"))
        .transform(pin_cache)
    )
    # pin_cache, not a lazy persist: edges_deg is read by EVERY
    # pagerank iteration, and all `iters` reads are branches of the
    # ONE final action — a lazy persist lets those branches race the
    # unpopulated cache (caught by the sweep's race gate in the r10
    # full run; the r9 mechanical audit missed it because the
    # multi-consumption is through the loop, not >=2 syntactic
    # references)
    edges_deg = und.join(
        deg.select(F.col("node").alias("src"), "d"), "src"
    ).transform(pin_cache)
    ncnt = deg.agg(F.count("*").cast("double").alias("nn"))
    ranks = deg.crossJoin(F.broadcast(ncnt)).select(
        "node", (F.lit(1.0) / F.col("nn")).alias("rank")
    )
    for _ in range(iters):
        contribs = edges_deg.join(
            ranks.select(F.col("node").alias("src"), "rank"), "src"
        ).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("d")).cast("decimal(27,15)").alias("contrib"),
        )
        ranks = (
            contribs.groupBy("node")
            .agg(F.sum("contrib").alias("s"))
            .crossJoin(F.broadcast(ncnt))
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("nn")
                    + F.lit(0.85) * F.col("s").cast("double")
                ).alias("rank"),
            )
        )
    return ranks


_CC_ORACLE = f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS x FROM edges),
    cc(node, label) AS (
      SELECT x, x FROM nodes
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON e.a = cc.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM cc GROUP BY node
    """


@register("dedup_connected_components", bench=True, oracle=_CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the Jaccard>=0.5 near-dup graph: every doc
    in a duplicate cluster gets the cluster's minimum doc_id as its
    canonical id (keep-one policy = keep cluster_id). Pointer-doubling
    min-label propagation — O(log diameter) shuffles, capped (see
    connected_components)."""
    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return connected_components(pairs)


@register(
    "dedup_select_canonical",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS x FROM edges),
    cc(node, label) AS (
      SELECT x, x FROM nodes
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON e.a = cc.node
    ),
    labeled AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node
    ),
    ranked AS (
      SELECT l.cluster_id, l.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, l.doc_id) AS rn,
             count(*) OVER (PARTITION BY l.cluster_id) AS n_members
      FROM labeled l JOIN documents d USING (doc_id)
    )
    SELECT cluster_id, doc_id AS canonical_id,
           CAST(n_members AS BIGINT) AS n_members,
           n_chars AS canonical_chars
    FROM ranked WHERE rn = 1
    """,
)
def dedup_select_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection — the LAST step of the dedup pipeline
    (pairs -> clusters -> keep ONE): each near-dup cluster keeps its
    longest member (ties to the lowest doc_id), the keep-best policy
    real pipelines use instead of keep-min-id (the longest variant
    usually dominates its truncated near-duplicates). One broadcast-
    joinable label relation from connected components, one join to the
    documents metadata, one per-cluster argmax window — the window
    partitions by cluster_id, so selection parallelizes across
    clusters and no relation bigger than the cluster membership table
    ever shuffles."""
    from pyspark.sql import Window

    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    labels = connected_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = labels.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    wc = Window.partitionBy("cluster_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc).cast("bigint"))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_id"),
            "n_members",
            F.col("n_chars").alias("canonical_chars"),
        )
    )


@register(
    "dedup_soft_weights",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS x FROM edges),
    cc(node, label) AS (
      SELECT x, x FROM nodes
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON e.a = cc.node
    ),
    labeled AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node
    ),
    sized AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM labeled GROUP BY cluster_id
    )
    SELECT d.doc_id,
           coalesce(l.cluster_id, d.doc_id) AS cluster_id,
           coalesce(s.cluster_size, 1) AS cluster_size,
           floor(1.0 / coalesce(s.cluster_size, 1) * 1000000 + 0.5) / 1000000
             AS weight
    FROM documents d
    LEFT JOIN labeled l USING (doc_id)
    LEFT JOIN sized s ON s.cluster_id = l.cluster_id
    """,
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication — DOWN-WEIGHT duplicates instead of dropping
    them: every document gets training weight 1/|near-dup cluster| (the
    SoftDeDup policy: each duplicate cluster contributes one document's
    worth of gradient mass in aggregate, preserving coverage that a
    hard keep-one would throw away). Singletons weigh 1. Composes the
    existing pipeline end-to-end: near-dup pairs -> connected
    components -> cluster sizes -> a weight column every downstream
    sampler (sample_weighted_pps, mix_domain_weights) can consume. At
    100 TB the only corpus-sized relation is the documents scan itself:
    the label and size relations are cluster-bounded and join back as
    broadcasts (AQE-chosen — no forced hint on anything). Weight =
    1/size rounds identically in both engines at 1e-6 (exact double
    division of small integers, then the floor ladder)."""
    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    labels = connected_components(pairs)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .join(sizes, "cluster_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            F.coalesce(F.col("cluster_size"), F.lit(1).cast("bigint")).alias(
                "cluster_size"
            ),
            (
                F.floor(
                    F.lit(1.0)
                    / F.coalesce(F.col("cluster_size"), F.lit(1).cast("bigint"))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("weight"),
        )
    )


# Cluster-anchored split hash: identical overflow-safe multiplicative
# scheme as llm_text.SPLIT_HASH, keyed on the cluster anchor instead of
# the doc — the reduced anchor stays < 1e9+7, times 2654435761 stays
# < 2.66e18 < 2^63 on both engines.
_ANCHOR_HASH = "((anchor_id % 1000000007) * 2654435761) % 1000000007 % 100"


@register(
    "pipeline_split_by_cluster",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS x FROM edges),
    cc(node, label) AS (
      SELECT x, x FROM nodes
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON e.a = cc.node
    ),
    labeled AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node
    ),
    anchored AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS anchor_id
      FROM documents d LEFT JOIN labeled l USING (doc_id)
    )
    SELECT doc_id, anchor_id,
           CASE WHEN {_ANCHOR_HASH} < 80 THEN 'train'
                WHEN {_ANCHOR_HASH} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM anchored
    """,
)
def pipeline_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe dataset splitting — the FIX for what
    pipeline_split_leakage detects: the split decision hashes the
    near-dup CLUSTER anchor (connected-component min-label), not the
    document, so an entire duplicate cluster lands in one split and a
    train/test contamination pair cannot exist by construction
    (singleton docs anchor on themselves and reduce to the plain
    id-hash split). Same 80/10/10 integer-exact multiplicative hash as
    pipeline_dataset_split — deterministic, seed-free, reproducible
    under task retry.

    Plan: the component labels cover only clustered docs (a tiny
    relation vs the corpus), so the anchor assignment is ONE broadcast
    left join onto the documents scan and the split itself is a pure
    map expression — no corpus shuffle at all beyond what the label
    computation already did. At 100 TB the labels come from the staged
    dedup output (computed once per corpus version), making this
    operator a broadcast-join + projection over any table that carries
    doc_id."""
    labels = dedup_connected_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    anchored = d.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("anchor_id")
    )
    bucket = F.expr(_ANCHOR_HASH)
    return anchored.select(
        "doc_id",
        "anchor_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


LPA_ITERS = 4

# One synchronous LPA stage in SQL: every node adopts its neighbors'
# modal label (count DESC, then lowest label — the deterministic
# tie-break that makes fixed-iteration LPA value-checkable).
_LPA_STAGE = """
    l{n} AS (
      SELECT node, label FROM (
        SELECT e.dst AS node, l.label AS label,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY count(*) DESC, l.label) AS rn
        FROM und e JOIN l{p} l ON l.node = e.src
        GROUP BY e.dst, l.label
      ) WHERE rn = 1
    )"""


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH {_PAIRS_CTES},
    und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
    {",".join(_LPA_STAGE.format(n=i + 1, p=i) for i in range(LPA_ITERS))}
    SELECT node AS doc_id, label AS community_id FROM l{LPA_ITERS}
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    near-dup graph — the cheap alternative to modularity methods for
    grouping borderline-duplicate neighborhoods that connected
    components would either merge (any single spurious edge chains two
    cliques) or miss. A FIXED LPA_ITERS (4) iterations with a fully
    deterministic update — each node adopts its neighbors' most
    frequent label, ties to the LOWEST label — so the oracle replays
    the identical computation as unrolled CTE stages (plain LPA's
    random tie-breaks and asynchronous schedules are why it is usually
    considered unstable; pinning both is what makes it value-checkable
    AND reproducible under task retry at 100 TB).

    Plan shape per iteration: join the persisted symmetric edge list
    to the current labels (broadcast-sized here; key-partitioned at
    scale), count (node, label) votes — ONE shuffle, partial counts
    map-side — then a per-node argmax window over the (node, label)
    vote relation (second shuffle, vote-relation-sized, never
    corpus-sized: bounded by the edge count). The loop unrolls lazily
    into a single linear plan like pagerank (each round references the
    previous once — no self-join, so no pointer-doubling plan blow-up
    and no checkpoint needed at a handful of rounds)."""
    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return label_propagation(pairs, LPA_ITERS).select(
        F.col("node").alias("doc_id"), F.col("label").alias("community_id")
    )


def label_propagation(edges: DataFrame, iters: int) -> DataFrame:
    """Synchronous label propagation over an undirected edge list
    (columns ``a``, ``b``) for a fixed ``iters`` rounds; returns
    (node, label). Update rule: each node adopts its neighbors' most
    frequent label, ties broken to the LOWEST label — deterministic,
    so the result is value-checkable and retry-stable. Plan/scale
    notes: see graph_label_propagation."""
    from pyspark.sql import Window

    und = (
        edges.select(F.col("a").cast("long").alias("src"), F.col("b").cast("long").alias("dst"))
        .unionByName(
            edges.select(F.col("b").cast("long").alias("src"), F.col("a").cast("long").alias("dst"))
        )
        .distinct()
        .transform(pin_cache)
    )
    labels = und.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    w = Window.partitionBy("dst").orderBy(F.col("c").desc(), "label")
    for _ in range(iters):
        votes = (
            und.join(
                labels.select(F.col("node").alias("src"), "label"), "src"
            )
            .groupBy("dst", "label")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), "label")
        )
    return labels


@register(
    "dedup_cluster_histogram",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS x FROM edges),
    cc(node, label) AS (
      SELECT x, x FROM nodes
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON e.a = cc.node
    ),
    labeled AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node
    ),
    sizes AS (
      SELECT cluster_id, count(*) AS sz FROM labeled GROUP BY cluster_id
    )
    SELECT sz AS cluster_size,
           count(*) AS n_clusters,
           sz * count(*) AS n_docs,
           (sz - 1) * count(*) AS n_removable
    FROM sizes GROUP BY sz
    """,
)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the near-dup components — the
    headline table of every dedup report: how many clusters of each
    size, how many docs they hold, and how many docs a keep-one policy
    removes ((size-1) per cluster — summed over rows this is the
    corpus's dedup rate before anyone runs the expensive removal). On
    real corpora the shape is the decision input: a fat tail of huge
    clusters means boilerplate/templating (fix extraction), while many
    pairs means true near-duplication (raise the ladder's threshold).
    Two tiny aggregates over the CC label relation (cluster count,
    then size-of-size) — nothing corpus-sized shuffles beyond what the
    pair pipeline already did."""
    labels = dedup_connected_components(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return sizes.groupBy("sz").agg(F.count("*").alias("n_clusters")).select(
        F.col("sz").alias("cluster_size"),
        "n_clusters",
        (F.col("sz") * F.col("n_clusters")).alias("n_docs"),
        ((F.col("sz") - 1) * F.col("n_clusters")).alias("n_removable"),
    )


BFS_N_SEEDS = 5  # lowest node ids seed the traversal
BFS_MAX_HOPS = 16  # hop horizon: k-hop neighborhood, not full closure


@register(
    "graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS x FROM edges),
    seeds AS (SELECT x FROM nodes ORDER BY x LIMIT {BFS_N_SEEDS}),
    bfs(node, d) AS (
      SELECT x, 0 FROM seeds
      UNION
      SELECT e.b, bfs.d + 1
      FROM bfs JOIN edges e ON e.a = bfs.node
      WHERE bfs.d < {BFS_MAX_HOPS}
    )
    SELECT node AS doc_id, CAST(min(d) AS BIGINT) AS hops
    FROM bfs GROUP BY node
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizon-bounded multi-source BFS over the near-dup graph — the
    k-hop-neighborhood traversal GNN samplers and impact analyses run
    ("every doc within k duplicate-links of these seeds"): hop distance
    from the BFS_N_SEEDS lowest node ids, out to BFS_MAX_HOPS.

    Frontier expansion, not closure recomputation: each round joins
    ONLY the newly-discovered frontier against the (cached, mirrored)
    edge list, anti-joins the visited set, and stops when the frontier
    drains or the horizon is reached — per-round shuffle cost is
    frontier x avg-degree, independent of how many nodes are already
    settled, which is what keeps level-synchronous BFS tractable on a
    100 TB graph (contrast the CC pointer-doubling loop, which must
    touch every node each round because every label can still move).
    localCheckpoint per round truncates the growing union lineage
    exactly as connected_components documents. Hop counts are integer-
    exact; the oracle replays the traversal as a recursive CTE whose
    UNION dedups (node, d) states, with the same horizon bound making
    the recursion finite on cyclic components."""
    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return bfs_hops(pairs).select(F.col("node").alias("doc_id"), "hops")


def bfs_hops(
    edges: DataFrame, n_seeds: int = BFS_N_SEEDS, max_hops: int = BFS_MAX_HOPS
) -> DataFrame:
    """Level-synchronous frontier BFS over an undirected edge list
    (columns ``a``, ``b``; both directions need not be present), seeded
    from the ``n_seeds`` lowest node ids, bounded at ``max_hops``.
    Returns (node, hops) for every node within the horizon."""
    from pyspark import StorageLevel

    e = edges.select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .cache()
    )
    seeds = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(n_seeds)
        .withColumn("hops", F.lit(0).cast("long"))
    )
    dist = seeds.localCheckpoint(eager=True)
    frontier = dist
    for d in range(1, max_hops + 1):
        nxt = (
            frontier.join(und, frontier.node == und.a)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("hops", F.lit(d).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    und.unpersist()
    e.unpersist()
    return dist


KCORE_ITERS = 16  # fixed h-index rounds: cliques converge in 1-2, and a
# chain component needs ~radius rounds, so 16 covers diameter-32 chains —
# wider than any near-dup cluster the MAX_DF-capped pair generation emits


@register(
    "graph_kcore",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    {_UND_CTE},
    core(it, node, c) AS (
      SELECT 0, node, CAST(d AS BIGINT) FROM deg
      UNION ALL
      SELECT core.it + 1, e.src,
             CAST(list_max(list_transform(list(core.c), x ->
               least(x, len(list_filter(list(core.c), y -> y >= x))))) AS BIGINT)
      FROM und e JOIN core ON core.node = e.dst
      WHERE core.it < {KCORE_ITERS}
      GROUP BY core.it + 1, e.src
    )
    SELECT node AS doc_id, c AS coreness
    FROM core WHERE it = {KCORE_ITERS}
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core decomposition of the near-dup graph via the iterated
    h-index operator (Lü et al. 2016): start every node at its degree,
    then repeatedly set c(v) = H({c(u) : u ~ v}); the sequence is
    pointwise nonincreasing and fixes at the exact coreness. Coreness
    separates dense duplicate cliques (high core) from chains and
    stars of borderline matches (core 1) — a sharper cluster-quality
    signal than triangle counts for deciding which clusters are safe
    to collapse aggressively. A FIXED {KCORE_ITERS} rounds so the
    recursive-CTE oracle replays the identical computation; every
    value is an exact integer, so there is nothing to quantize.
    Convergence caveat: the h-operator needs about one round per hop
    of eccentricity, so a path component longer than 2x{KCORE_ITERS}
    hops would still read c=2 at its center — on such a graph raise
    the constant (both sides) or stop on a driver-side fixpoint count.

    Per round: one shuffle (neighbor states grouped by node). The
    h-index is evaluated WITHOUT ranking — H = max over neighbor
    values x of least(x, #{{y : y >= x}}), an order-independent
    list-lambda identity — so collect_list order can't matter. The
    adjacency list per node is materialized once per round; the
    near-dup graph's MAX_DF posting cap bounds every degree, and on a
    graph with unbounded hubs the same rounds run with a (node)-keyed
    rank window instead (no list), same results. Plans are truncated
    per round with localCheckpoint (node-sized relation), the CC-loop
    convention."""
    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").cast("long").alias("a"), F.col("doc_b").cast("long").alias("b")
    )
    return coreness(pairs, KCORE_ITERS).select(
        F.col("node").alias("doc_id"), F.col("c").alias("coreness")
    )


def coreness(edges: DataFrame, iters: int) -> DataFrame:
    """Iterated-h-index core decomposition over an undirected edge
    list (columns ``a``, ``b``; both directions need not be present);
    returns the state after AT MOST ``iters`` rounds, stopping early
    at the first fixpoint. Early exit is oracle-safe: once no node's
    c changes, every further h-operator round is the identity, so the
    capped-round recursive-CTE oracle computes the same relation — and
    on real near-dup graphs (cliquish, small diameter) the fixpoint
    lands in 2-3 rounds, saving ~13 blocking checkpoint jobs of pure
    fixed overhead. Algorithm and determinism notes: see graph_kcore."""

    und = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .transform(pin_cache)
    )
    state = (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    state_sum = state.agg(F.sum("c")).first()[0]
    hindex = F.array_max(
        F.transform(
            F.col("cs"),
            lambda x: F.least(
                x, F.size(F.filter(F.col("cs"), lambda y: y >= x)).cast("bigint")
            ),
        )
    )
    for _ in range(iters):
        nxt = (
            und.join(state.select(F.col("node").alias("dst"), "c"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.collect_list("c").alias("cs"))
            .select("node", hindex.cast("bigint").alias("c"))
            .localCheckpoint(eager=True)
        )
        # fixpoint check on the node-sized checkpointed relation: the
        # h-operator is pointwise nonincreasing, so total c strictly
        # drops until convergence — a 1-row sum compare detects it.
        # The previous round's sum is carried forward (r14: the old
        # form re-aggregated BOTH relations, two driver actions per
        # round for one number that was already known)
        nxt_sum = nxt.agg(F.sum("c")).first()[0]
        changed = nxt_sum != state_sum
        state, state_sum = nxt, nxt_sum
        if not changed:
            break
    und.unpersist()
    return state


@register(
    "graph_source_modularity",
    oracle=f"""
    WITH {_PAIRS_CTES},
    {_UND_CTE},
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
    nodesrc AS (
      SELECT DISTINCT u.src AS node, d.source
      FROM und u JOIN documents d ON d.doc_id = u.src
    ),
    intra AS (
      SELECT da.source, CAST(count(*) AS BIGINT) AS e_c
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
      WHERE da.source = db.source
      GROUP BY da.source
    ),
    degsum AS (
      SELECT ns.source, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(dg.d) AS BIGINT) AS degree_sum
      FROM nodesrc ns JOIN deg dg ON dg.node = ns.node
      GROUP BY ns.source
    )
    SELECT ds.source, ds.n_nodes,
           CAST(coalesce(i.e_c, 0) AS BIGINT) AS intra_edges,
           ds.degree_sum,
           floor(CAST(4 * coalesce(i.e_c, 0) * m.m
                      - ds.degree_sum * ds.degree_sum AS DOUBLE)
                 / (4.0 * m.m * m.m) * 1000000 + 0.5) / 1000000
             AS modularity_term
    FROM degsum ds LEFT JOIN intra i ON i.source = ds.source CROSS JOIN m
    """,
)
def graph_source_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the near-dup graph under the SOURCE
    partition: per source c, the term e_c/m - (D_c/2m)² — positive
    means duplication concentrates INSIDE that source (crawl-internal
    boilerplate, safe to dedup per-source), negative/zero means the
    source's duplicates mostly cross into others (the contamination
    shape dedup_cross_source_overlap censuses pair-by-pair; this is its
    one-row-per-source scorecard, Σ terms = the partition's Q). The
    graph relations (pairs, und, deg) are cluster-bounded — tiny next
    to the corpus — and the source labels arrive by joining the
    graph-node relation to the documents scan, so at 100 TB the only
    corpus-sized cost is the pair generation this shares with every
    other graph operator. Numerators are exact BIGINT cross-products
    (4·e_c·m − D_c²; int64-exact through ~1.5e9 edges), divided and
    floor-quantized at 1e6 once."""
    from pyspark import StorageLevel

    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Eager pin (the connected_components rule): this query fans pairs
    # into FOUR consumers (m, und, intra, and through und the deg/
    # nodesrc chain) that land in PARALLEL stages of one action — an
    # unpopulated cache then races, and the expensive pair pipeline
    # computes ~2x concurrently (measured 659 s vs 276 s at the 100x
    # curve point). One count() serializes cache population; everything
    # downstream reads memory.
    pairs.count()
    und = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Eager pin: und feeds deg AND the nodesrc node list — independent
    # branches of one action; an unpopulated cache races the
    # union+distinct shuffle subtree and computes it twice.
    und.count()
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    m = pairs.agg(F.count("*").cast("bigint").alias("m"))
    docsrc = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # Source labels: semi-join the CORPUS-SIZED documents projection down
    # to the graph-node set by a plain equi-join (AQE broadcasts the tiny
    # node list), producing the cluster-bounded node -> source map. Never
    # broadcast docsrc itself: at 1e10 docs that projection is ~160 GB,
    # far past Spark's 8 GB broadcast ceiling, and a forced hint would
    # disable AQE's fallback. nodesrc IS broadcastable — it carries one
    # row per graph node, bounded by the near-dup cluster mass.
    nodesrc = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .join(docsrc, F.col("node") == F.col("doc_id"))
        .select("node", "source")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Eager pin: nodesrc feeds degsum and BOTH sides of the intra join.
    nodesrc.count()
    intra = (
        pairs.join(
            F.broadcast(
                nodesrc.select(F.col("node").alias("a"), F.col("source").alias("src_a"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                nodesrc.select(F.col("node").alias("b"), F.col("source").alias("src_b"))
            ),
            "b",
        )
        .filter(F.col("src_a") == F.col("src_b"))
        .groupBy(F.col("src_a").alias("source"))
        .agg(F.count("*").cast("bigint").alias("e_c"))
    )
    degsum = (
        nodesrc.join(F.broadcast(deg), "node")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("degree_sum"),
        )
    )
    num = (
        F.lit(4) * F.coalesce(F.col("e_c"), F.lit(0)) * F.col("m")
        - F.col("degree_sum") * F.col("degree_sum")
    ).cast("bigint")
    return (
        degsum.join(intra, "source", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "source",
            "n_nodes",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("intra_edges"),
            "degree_sum",
            (
                F.floor(
                    num.cast("double")
                    / (4.0 * F.col("m") * F.col("m"))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("modularity_term"),
        )
    )


# --- link prediction over the sharded kNN graph --------------------------
#
# Candidate missing edges = non-adjacent pairs sharing >= 1 common
# neighbor, scored three ways (Liben-Nowell & Kleinberg 2003):
#   - common-neighbor count,
#   - neighborhood Jaccard cn / (d_u + d_v - cn),
#   - resource allocation sum(1/d_z) (Zhou et al. 2009) — kept in
#     EXACT parts-per-billion fixed point (sum of 1e9 // d_z as
#     BIGINT) so no libm/log call can diverge between engines.
#
# The graph is a SHARDED approximate kNN graph over embeddings: each
# vector's top-LP_KNN_K cosine neighbors WITHIN its shard, where the
# shard count adapts to corpus size (smallest power of two making the
# expected shard <= LP_BLOCK_TARGET rows — pure integer arithmetic
# from the table row count, computed from parquet footer stats on the
# Spark side and by the identical formula in the oracle SQL). Shard
# size is therefore a CONSTANT as the corpus grows, so the pairwise
# stage costs n x LP_BLOCK_TARGET — linear, never sum-of-b^2 over
# growing blocks (the trap a fixed label/cell blocking falls into at
# 100x). The random shard is the NN-descent-style initialization of a
# kNN graph; production swaps it for similarity-preserving ANN cells
# (IVF) with the IDENTICAL plan shape — only the blocking key changes.
# kNN graphs are non-cliquish by construction, so open wedges — the
# link-prediction candidates — actually exist, unlike the
# transitively-fanned-out near-dup cliques.
#
# Hub guard: common neighbors with degree > LP_MAX_HUB_DEGREE are
# excluded from wedge generation — the same MAX_DF move as the shingle
# postings: a hub of degree D emits D^2 wedges, so the cap bounds the
# wedge relation at |edges| x cap instead of sum(d^2). kNN bounds
# OUT-degree at K but in-degree only by shard size, so the cap is a
# real guard, mirrored in the oracle as declared semantics.
LP_KNN_K = 3
LP_BLOCK_TARGET = 64
LP_MAX_HUB_DEGREE = 32
LP_RA_SCALE = 1_000_000_000
_LP_P = 1000000007
_LP_A = 2654435761  # Knuth multiplicative constant; (P-1)*A < 2^63


# shard-ladder ceiling shared by BOTH engines: 2^40 shards x 64 rows
# covers ~7e13 vectors (three orders past the 100 TB envelope). The
# Python loop and the oracle's pows CTE cap at the SAME exponent so
# the declared-identical blocking formulas cannot silently diverge
# (an uncapped Python loop vs a range(0,31) SQL ladder would split at
# ~7e10 rows: SQL min() over an empty set -> NULL shards).
_LP_MAX_SHARD_LOG = 40


def _lp_shard_count(n_rows: int) -> int:
    """Smallest power of two >= ceil(n / LP_BLOCK_TARGET), capped at
    2^_LP_MAX_SHARD_LOG — integer arithmetic only, mirrored verbatim
    by the oracle's pows/nbs CTEs (same cap)."""
    need = (n_rows + LP_BLOCK_TARGET - 1) // LP_BLOCK_TARGET
    nb = 1
    while nb < need and nb < 2**_LP_MAX_SHARD_LOG:
        nb *= 2
    return nb


_LP_GRAPH_CTES = f"""
    pows AS (SELECT unnest(range(0, {_LP_MAX_SHARD_LOG + 1})) AS k),
    nbs AS (
      -- the k = {_LP_MAX_SHARD_LOG} row always qualifies, so past the
      -- ladder ceiling this saturates at 2^{_LP_MAX_SHARD_LOG} exactly
      -- like the Python loop (never an empty-set NULL)
      SELECT min(CAST(1 AS BIGINT) << k) AS nb
      FROM pows, (SELECT count(*) AS n FROM embeddings) c
      WHERE (CAST(1 AS BIGINT) << k)
            >= (c.n + {LP_BLOCK_TARGET - 1}) // {LP_BLOCK_TARGET}
         OR k = {_LP_MAX_SHARD_LOG}
    ),
    sharded AS (
      SELECT e.*, ((e.vec_id % {_LP_P}) * {_LP_A}) % {_LP_P} % nbs.nb AS shard
      FROM embeddings e, nbs
    ),
    scored AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS s
      FROM sharded a
      JOIN sharded b ON a.shard = b.shard AND a.vec_id <> b.vec_id
    ),
    knn AS (
      SELECT u, v FROM (
        SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY s DESC, v) AS rn
        FROM scored
      ) WHERE rn <= {LP_KNN_K}
    ),
    kpairs AS (
      SELECT DISTINCT least(u, v) AS pa, greatest(u, v) AS pb FROM knn
    ),
    kund AS (SELECT pa AS src, pb AS dst FROM kpairs
             UNION SELECT pb, pa FROM kpairs),
    kdeg AS (SELECT src AS node, count(*) AS d FROM kund GROUP BY src)
"""


@register(
    "graph_link_prediction",
    oracle=f"""
    WITH {_LP_GRAPH_CTES},
    mid AS (SELECT node, d FROM kdeg WHERE d <= {LP_MAX_HUB_DEGREE}),
    wedges AS (
      SELECT e1.dst AS u, e2.dst AS v,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum({LP_RA_SCALE} // m.d) AS BIGINT) AS ra_ppb
      FROM kund e1
      JOIN kund e2 ON e2.src = e1.src AND e1.dst < e2.dst
      JOIN mid m ON m.node = e1.src
      GROUP BY e1.dst, e2.dst
    ),
    cand AS (
      SELECT w.* FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM kund e
                        WHERE e.src = w.u AND e.dst = w.v)
    )
    SELECT c.u AS node_u, c.v AS node_v, c.common_neighbors, c.ra_ppb,
           floor(c.common_neighbors * 1.0 / (du.d + dv.d - c.common_neighbors)
                 * 1000000 + 0.5) / 1000000 AS jaccard_nbr
    FROM cand c
    JOIN kdeg du ON du.node = c.u
    JOIN kdeg dv ON dv.node = c.v
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the sharded kNN embedding graph: score
    every NON-adjacent pair that shares a common neighbor — the
    candidate missing relations an ANN recall pass should re-examine
    first. See the module comment above for the graph definition, the
    three scores, the size-adaptive shard count, and the hub cap.

    Scale shape: the kNN build pairs only within constant-size shards
    (n x LP_BLOCK_TARGET work, linear by construction) and prunes
    per-node top-k below the exchange (WindowGroupLimit); und/deg pin
    once; the wedge self-join groups map-side by the ordered (u, v)
    pair, bounded at |edges| x LP_MAX_HUB_DEGREE rows; existing edges
    drop via a left-anti join on the same key; degrees attach from
    the node-bounded deg relation."""
    from kinesis2sse_spark.queries.llm_similarity import _corpus_rows

    nb = _lp_shard_count(_corpus_rows(sf_dir, "embeddings"))
    e = load_table(spark, sf_dir, "embeddings")
    shard = (F.col("vec_id") % _LP_P) * _LP_A % _LP_P % nb
    withn = e.select(
        "vec_id",
        shard.alias("shard"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )
    a = withn.alias("a")
    b = withn.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot / (F.col("a.norm") * F.col("b.norm")), 6)
    scored = a.join(
        b,
        (F.col("a.shard") == F.col("b.shard"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("u"),
        F.col("b.vec_id").alias("v"),
        cos.alias("s"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("u").orderBy(F.col("s").desc(), "v")
    knn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= LP_KNN_K)
        .select("u", "v")
    )
    kpairs = knn.select(
        F.least("u", "v").alias("pa"), F.greatest("u", "v").alias("pb")
    ).distinct()
    und = (
        kpairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(kpairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .transform(pin_cache)
    )
    deg = (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("d"))
        .transform(pin_cache)
    )
    mid = deg.filter(F.col("d") <= LP_MAX_HUB_DEGREE)

    e1 = und.join(mid, und.src == mid.node).select(
        F.col("src").alias("z"), F.col("dst").alias("u"), "d"
    )
    e2 = und.select(F.col("src").alias("z2"), F.col("dst").alias("v"))
    wedges = (
        e1.join(e2, (F.col("z") == F.col("z2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum((F.lit(LP_RA_SCALE) / F.col("d")).cast("long")).alias("ra_ppb"),
        )
    )
    cand = wedges.join(
        und,
        (wedges.u == und.src) & (wedges.v == und.dst),
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    jac = (
        F.col("common_neighbors")
        / (F.col("du") + F.col("dv") - F.col("common_neighbors"))
    ) * 1000000
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("node_u"),
            F.col("v").alias("node_v"),
            "common_neighbors",
            "ra_ppb",
            (F.floor(jac + 0.5) / 1000000).alias("jaccard_nbr"),
        )
    )


# HITS (Kleinberg 1999) on the near-dup graph, oriented doc_a -> doc_b
# (earlier doc points at its later near-duplicates): hubs are the
# ORIGINALS that many later copies derive from, authorities the
# accumulating copies — the provenance ranking the undirected
# PageRank rung cannot express (on an undirected graph hub and
# authority collapse into one eigenvector). Two UNNORMALIZED update
# rounds: a1 = in-degree (h0 = 1), h1 = sum of successor a1,
# a2 = sum of predecessor h1, h2 = sum of successor a2 — all exact
# int64 (values <= max_degree^4, cluster-bounded; no norm, no sqrt,
# nothing floating anywhere), so the oracle replays byte-for-byte.
# The fixed round count is the same oracle-replayability choice as
# PAGERANK_ITERS.
HITS_ROUNDS = 2


_HITS_ORACLE = f"""
    WITH {_PAIRS_CTES},
    edges AS (SELECT DISTINCT doc_a AS src, doc_b AS dst FROM pairs),
    a1 AS (SELECT dst, CAST(count(*) AS BIGINT) AS a FROM edges GROUP BY dst),
    h1 AS (SELECT e.src, CAST(sum(a1.a) AS BIGINT) AS h
           FROM edges e JOIN a1 ON a1.dst = e.dst GROUP BY e.src),
    a2 AS (SELECT e.dst, CAST(sum(h1.h) AS BIGINT) AS a
           FROM edges e JOIN h1 ON h1.src = e.src GROUP BY e.dst),
    h2 AS (SELECT e.src, CAST(sum(a2.a) AS BIGINT) AS h
           FROM edges e JOIN a2 ON a2.dst = e.dst GROUP BY e.src),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)
    SELECT n.node AS doc_id,
           coalesce(h2.h, 0) AS hub,
           coalesce(a2.a, 0) AS authority
    FROM nodes n
    LEFT JOIN h2 ON h2.src = n.node
    LEFT JOIN a2 ON a2.dst = n.node
    """


@register("graph_hits", oracle=_HITS_ORACLE)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores — see the block comment for the
    orientation semantics and the all-integer exactness. Shape: the
    near-dup edge relation pins (it feeds all {HITS_ROUNDS}x2 rounds);
    each round is one equi-join + one map-side-combined aggregate on
    edge keys — per-iteration cost is |edges|, cluster-bounded like
    every near-dup graph relation, never corpus-quadratic."""
    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    edges = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .distinct()
        .transform(pin_cache)
    )
    return _hits_scores(edges)


def _hits_scores(edges: DataFrame) -> DataFrame:
    """The HITS update rounds over a pinned (src, dst) edge relation —
    shared verbatim by the inline rung (graph_hits) and the
    prebuilt-artifact rung (graph_hits_prebuilt), so the two can only
    differ in where the edges came from."""
    a1 = edges.groupBy("dst").agg(F.count("*").cast("bigint").alias("a"))
    h1 = (
        edges.join(a1, "dst")
        .groupBy("src")
        .agg(F.sum("a").cast("bigint").alias("h"))
    )
    a2 = (
        edges.join(h1, "src")
        .groupBy("dst")
        .agg(F.sum("h").cast("bigint").alias("a"))
    )
    h2 = (
        edges.join(a2, "dst")
        .groupBy("src")
        .agg(F.sum("a").cast("bigint").alias("h"))
    )
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select("dst")
    ).distinct()
    return (
        nodes.join(h2, nodes.node == h2.src, "left")
        .join(a2, nodes.node == a2.dst, "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("h"), F.lit(0)).cast("bigint").alias("hub"),
            F.coalesce(F.col("a"), F.lit(0)).cast("bigint").alias("authority"),
        )
    )


_ASSORTATIVITY_ORACLE = f"""
    WITH {_PAIRS_CTES},
    {_UND_CTE},
    ed AS (
      SELECT da.d AS dx, db.d AS dy
      FROM und u
      JOIN deg da ON da.node = u.src
      JOIN deg db ON db.node = u.dst
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy
      FROM ed
    )
    SELECT m AS n_directed_edges,
           CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN
             floor((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                          * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                   * 1000000 + 0.5) / 1000000
           END AS assortativity
    FROM m
    """


@register("graph_degree_assortativity", oracle=_ASSORTATIVITY_ORACLE)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the near-dup graph: the
    Pearson correlation of endpoint degrees over the symmetrized edge
    list — positive means high-degree docs cluster together (one giant
    duplication hub family), negative means hubs attach to leaves (a
    few originals with many one-off copies); the structural summary a
    dedup pipeline reads before choosing cluster-canonicalization
    strategy. Exact int64 moments over the degree-annotated edge
    relation (cluster-bounded, like every near-dup graph relation);
    one fixed-shape correlation at the end (sqrt is correctly rounded,
    zero-variance graphs — e.g. pure cliques — yield NULL under the
    same guard in both engines)."""
    from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return _assortativity(pairs)


def _assortativity(pairs: DataFrame) -> DataFrame:
    """Newman correlation over an (a, b) pair relation — shared verbatim
    by the inline rung and graph_assortativity_prebuilt."""
    und = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).distinct().transform(pin_cache)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    ed = (
        und.join(deg.select(F.col("node").alias("src"), F.col("d").alias("dx")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("dy")), "dst")
        .select("dx", "dy")
    )
    m = ed.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    num = F.col("m").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    vx = F.col("m").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = F.col("m").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return m.select(
        F.col("m").alias("n_directed_edges"),
        F.when(
            (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy") > 0),
            F.floor(num / F.sqrt(vx * vy) * 1000000 + F.lit(0.5)) / 1000000,
        ).alias("assortativity"),
    )


# --- Prebuilt edge-relation lifecycle (round-12 verdict item 5) -------
#
# Every graph analytics rung above recomputes dedup_ngram_jaccard's
# near-dup pair relation inline — at 100x corpus scale that machinery
# is 90%+ of HITS/assortativity's wall clock. Production amortizes the
# pair generation exactly like the IVF build/probe split: ONE
# graph_edges_build materializes the dedup edge relation as a lake
# artifact, and analytics operators probe the artifact, so their cost
# is |edges|-bounded and decoupled from shingle/posting machinery.

_GRAPH_EDGES_SCHEMA = "src long, dst long"


def _ensure_graph_edges(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> str:
    """Materialize the distinct (src, dst) near-dup edge relation as
    parquet if absent. The artifact path embeds the documents corpus's
    content fingerprint (catalog.scratch_cache), so build-if-absent is
    safe against in-place fixture regeneration: new content → new
    path → rebuild. Same non-laziness contract as _ensure_ivf_index:
    the write runs eagerly at call time."""
    import os

    path = scratch_cache("graph_edges", sf_dir, "documents")
    if rebuild or not os.path.exists(os.path.join(path, "_SUCCESS")):
        from kinesis2sse_spark.queries.llm_dedup import dedup_ngram_jaccard

        (
            dedup_ngram_jaccard(spark, sf_dir)
            .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            .distinct()
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


@register(
    "graph_edges_build",
    oracle=f"""
    WITH {_PAIRS_CTES}
    SELECT DISTINCT doc_a AS src, doc_b AS dst FROM pairs
    """,
)
def graph_edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-relation BUILD as its own lifecycle operator: runs the
    near-dup pair generation once and lands the distinct (src, dst)
    relation as a parquet artifact (the IVF build/probe split applied
    to the graph ladder). A forced rebuild makes the driver row attest
    this round's build path; the result is read back FROM the artifact,
    so the oracle (the same _PAIRS_CTES the inline operators replay)
    verifies both the pair math and the write/read roundtrip."""
    path = _ensure_graph_edges(spark, sf_dir, rebuild=True)
    return spark.read.schema(_GRAPH_EDGES_SCHEMA).parquet(path)


@register("graph_hits_prebuilt", oracle=_HITS_ORACLE)
def graph_hits_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the PREBUILT edge artifact — byte-identical output to
    graph_hits (same _hits_scores rounds, same oracle string object),
    but the probe leg reads |edges| rows of parquet instead of
    re-running shingle extraction, posting-list self-join, and exact
    verification. At 100x corpus scale that's the difference between
    ~seconds (edge scan + 4 edge-sized joins) and the 200+ s
    pair-generation curve the inline rung carries (PERF.md r11)."""
    path = _ensure_graph_edges(spark, sf_dir)
    edges = (
        spark.read.schema(_GRAPH_EDGES_SCHEMA)
        .parquet(path)
        .transform(pin_cache)
    )
    return _hits_scores(edges)


@register("graph_assortativity_prebuilt", oracle=_ASSORTATIVITY_ORACLE)
def graph_assortativity_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity over the PREBUILT edge artifact — the probe
    twin of graph_degree_assortativity (same _assortativity moments,
    same oracle string object). The inline rung's 100x leg is 494 s,
    ~90% of it the inherited pair generation (PERF.md r11); the probe
    leg is |edges|-bounded like graph_hits_prebuilt."""
    path = _ensure_graph_edges(spark, sf_dir)
    pairs = (
        spark.read.schema(_GRAPH_EDGES_SCHEMA)
        .parquet(path)
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    return _assortativity(pairs)


# Blocking-quality census (Christen 2012's two standard metrics):
# REDUCTION RATIO = 1 - |candidate pairs| / |all pairs| (how much
# comparison work blocking saves) and PAIRS COMPLETENESS = the
# fraction of TRUE matching pairs whose members share a block (the
# recall ceiling any within-block matcher inherits). Gold = the exact
# near-dup pair relation (dedup_ngram_jaccard semantics via
# _PAIRS_CTES); blocking scheme under evaluation = first-two-token
# key, the cheap prefix block a crawler dedup pass would try first.
# Candidate-pair COUNT comes from the block histogram
# (sum nb*(nb-1)/2) — computed arithmetically, the pairs themselves
# are never materialized, so the census itself is linear.
_BLK_KEY_SQL = "array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ')"


@register(
    "er_blocking_quality",
    oracle=f"""
    WITH {_PAIRS_CTES},
    gold AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
    blocks AS (
      SELECT doc_id, {_BLK_KEY_SQL} AS bkey FROM documents
    ),
    bc AS (SELECT bkey, CAST(count(*) AS BIGINT) AS nb
           FROM blocks GROUP BY bkey),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    cand AS (SELECT CAST(sum(nb * (nb - 1) // 2) AS BIGINT) AS cand_pairs,
                    CAST(count(*) AS BIGINT) AS n_blocks
             FROM bc),
    cov AS (
      SELECT CAST(count(*) AS BIGINT) AS gold_pairs,
             CAST(sum(CASE WHEN ba.bkey = bb.bkey THEN 1 ELSE 0 END)
                  AS BIGINT) AS gold_covered
      FROM gold g
      JOIN blocks ba ON ba.doc_id = g.doc_a
      JOIN blocks bb ON bb.doc_id = g.doc_b
    )
    SELECT t.n AS n_docs, c.n_blocks, c.cand_pairs,
           CAST(t.n * (t.n - 1) // 2 AS BIGINT) AS total_pairs,
           v.gold_pairs, v.gold_covered,
           floor((1.0 - CAST(c.cand_pairs AS DOUBLE)
                        / (t.n * (t.n - 1) // 2)) * 1000000 + 0.5)
             / 1000000 AS reduction_ratio,
           CASE WHEN v.gold_pairs > 0 THEN
             floor(CAST(v.gold_covered AS DOUBLE) / v.gold_pairs
                   * 1000000 + 0.5) / 1000000
           END AS pairs_completeness
    FROM tot t, cand c, cov v
    """,
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduction ratio + pairs completeness of the first-two-token
    blocking scheme against the exact near-dup gold pairs — see the
    block comment. Scale shape: the block histogram and the candidate
    COUNT are one map-side-combined aggregate (pairs never
    materialize); gold coverage is two hash joins of the
    output-bounded gold pair relation against the doc→block map; the
    final row is a cross of three 1-row broadcasts. Gold pairs PROBE
    the prebuilt edge artifact (build-if-absent — content identical to
    the inline pair relation by _ensure_graph_edges's determinism), so
    the census costs block-histogram + two joins, not pair generation:
    the inline-gold curve was 4.9/21/278 s at 1x/10x/100x, dominated by
    the inherited dedup machinery, exactly the profile the build/probe
    split exists to amortize."""
    docs = load_table(spark, sf_dir, "documents")
    bkey = F.array_join(F.slice(F.split("text", " "), 1, 2), " ")
    blocks = docs.select("doc_id", bkey.alias("bkey")).transform(pin_cache)
    bc = blocks.groupBy("bkey").agg(F.count("*").cast("bigint").alias("nb"))
    tot = docs.agg(F.count("*").cast("bigint").alias("n"))
    cand = bc.agg(
        F.sum(F.expr("nb * (nb - 1) div 2")).cast("bigint").alias("cand_pairs"),
        F.count("*").cast("bigint").alias("n_blocks"),
    )
    gold = (
        spark.read.schema(_GRAPH_EDGES_SCHEMA)
        .parquet(_ensure_graph_edges(spark, sf_dir))
        .select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
        .distinct()
    )
    cov = (
        gold.join(
            blocks.select(F.col("doc_id").alias("doc_a"), F.col("bkey").alias("ba")),
            "doc_a",
        )
        .join(
            blocks.select(F.col("doc_id").alias("doc_b"), F.col("bkey").alias("bb")),
            "doc_b",
        )
        .agg(
            F.count("*").cast("bigint").alias("gold_pairs"),
            F.sum((F.col("ba") == F.col("bb")).cast("int"))
            .cast("bigint")
            .alias("gold_covered"),
        )
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    total_pairs = F.expr("n * (n - 1) div 2").cast("bigint")
    return (
        tot.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(cov))
        .select(
            F.col("n").alias("n_docs"),
            "n_blocks",
            "cand_pairs",
            total_pairs.alias("total_pairs"),
            "gold_pairs",
            "gold_covered",
            q6(
                1.0 - F.col("cand_pairs").cast("double") / total_pairs
            ).alias("reduction_ratio"),
            F.when(
                F.col("gold_pairs") > 0,
                q6(
                    F.col("gold_covered").cast("double") / F.col("gold_pairs")
                ),
            ).alias("pairs_completeness"),
        )
    )


@register("dedup_cc_prebuilt", oracle=_CC_ORACLE)
def dedup_cc_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the PREBUILT edge artifact — the probe
    twin of dedup_connected_components (same pointer-doubling
    propagation, same oracle string object). The inline rung is the
    most expensive headline query (pair generation dominates, 4.3 s
    quiet at sf0.1, ~90% of the 100x curve); a pipeline that already
    ran graph_edges_build — or any other artifact consumer — re-derives
    cluster ids at edge-scan cost instead."""
    path = _ensure_graph_edges(spark, sf_dir)
    pairs = (
        spark.read.schema(_GRAPH_EDGES_SCHEMA)
        .parquet(path)
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    return connected_components(pairs)


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_PAIRS_CTES},
    {_UND_CTE},
    oriented AS (
      SELECT u.src AS u, u.dst AS v
      FROM und u
      JOIN deg da ON da.node = u.src
      JOIN deg db ON db.node = u.dst
      WHERE da.d < db.d OR (da.d = db.d AND u.src < u.dst)
    ),
    tri AS (
      SELECT o1.u AS x, o1.v AS y, o2.v AS z
      FROM oriented o1
      JOIN oriented o2 ON o2.u = o1.u AND o1.v <> o2.v
      JOIN oriented o3 ON o3.u = o1.v AND o3.v = o2.v
    ),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    tc AS (SELECT node, CAST(count(*) AS BIGINT) AS t FROM corners GROUP BY node)
    SELECT d.node AS doc_id,
           CAST(d.d AS BIGINT) AS degree,
           CAST(coalesce(tc.t, 0) AS BIGINT) AS n_triangles,
           floor(coalesce(tc.t, 0) * 2.0 / (CAST(d.d AS DOUBLE) * (d.d - 1))
                 * 1000000 + 0.5) / 1000000 AS clustering_coeff
    FROM deg d LEFT JOIN tc ON tc.node = d.node
    WHERE d.d >= 2
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient c_v = 2*T_v / (d_v*(d_v-1)) over
    the PREBUILT near-dup edge artifact — how clique-like each node's
    neighborhood is (c near 1 = a tight duplicate family ready to
    collapse; c near 0 = a chain of borderline matches that
    select-canonical should NOT merge blindly). Rides
    triangle_counts' degree-ordered m^1.5 wedge machinery on the
    artifact probe leg; degree-1 nodes (coefficient undefined) are
    excluded, zero-triangle nodes surface with c = 0 via the left
    join. Same-oracle-as-inline guarantee: the artifact's content is
    provably the _PAIRS_CTES relation."""
    pairs = (
        spark.read.schema(_GRAPH_EDGES_SCHEMA)
        .parquet(_ensure_graph_edges(spark, sf_dir))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    und = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .transform(pin_cache)
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    tc = triangle_counts(pairs)
    out = (
        deg.where(F.col("d") >= 2)
        .join(tc, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
        )
    )
    return out.withColumn(
        "clustering_coeff",
        F.floor(
            F.col("n_triangles")
            * 2.0
            / (F.col("degree").cast("double") * (F.col("degree") - 1))
            * 1000000
            + F.lit(0.5)
        )
        / 1000000,
    )


# Multi-pass blocking census: production record linkage never trusts
# ONE blocking key — it runs several cheap schemes and unions the
# candidate sets, because each scheme's recall holes are (ideally)
# uncorrelated. This census quantifies that: pairs completeness of
# scheme A (first-two-token key), scheme B (lang x length-bucket key),
# and their UNION, against the same prebuilt gold pairs as
# er_blocking_quality. Coverage of the union is exact (a gold pair is
# covered iff it shares EITHER key — evaluated on the gold relation,
# which is output-bounded); the union's candidate-pair count is ALSO
# exact, and still linear: by inclusion-exclusion
# |A∪B| = |A| + |B| − |A∩B|, and a pair is in BOTH candidate sets iff
# its members share ka AND kb — i.e. they sit in the same block of the
# JOINT (ka, kb) histogram — so cand_both is one more map-side
# sum nb·(nb−1)/2 aggregate, no pair materialization anywhere (r12
# verdict item 4: the earlier cut released cand_a + cand_b as a bound).
_BLK_B_SQL = "lang || '|' || CAST(n_chars // 50 AS VARCHAR)"


@register(
    "er_blocking_union_recall",
    oracle=f"""
    WITH {_PAIRS_CTES},
    gold AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
    blocks AS (
      SELECT doc_id, {_BLK_KEY_SQL} AS ka, {_BLK_B_SQL} AS kb
      FROM documents
    ),
    ca AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_a FROM
           (SELECT count(*) AS n FROM blocks GROUP BY ka)),
    cb AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_b FROM
           (SELECT count(*) AS n FROM blocks GROUP BY kb)),
    cj AS (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT)
             AS cand_both FROM
           (SELECT count(*) AS n FROM blocks GROUP BY ka, kb)),
    cov AS (
      SELECT CAST(count(*) AS BIGINT) AS gold_pairs,
             CAST(sum(CASE WHEN ba.ka = bb.ka THEN 1 ELSE 0 END) AS BIGINT) AS cov_a,
             CAST(sum(CASE WHEN ba.kb = bb.kb THEN 1 ELSE 0 END) AS BIGINT) AS cov_b,
             CAST(sum(CASE WHEN ba.ka = bb.ka OR ba.kb = bb.kb
                      THEN 1 ELSE 0 END) AS BIGINT) AS cov_u
      FROM gold g
      JOIN blocks ba ON ba.doc_id = g.doc_a
      JOIN blocks bb ON bb.doc_id = g.doc_b
    )
    SELECT v.gold_pairs, v.cov_a, v.cov_b, v.cov_u,
           a.cand_a, b.cand_b, j.cand_both,
           CAST(a.cand_a + b.cand_b - j.cand_both AS BIGINT) AS cand_union,
           CASE WHEN v.gold_pairs > 0 THEN
             floor(CAST(v.cov_a AS DOUBLE) / v.gold_pairs * 1000000 + 0.5) / 1000000
           END AS pc_a,
           CASE WHEN v.gold_pairs > 0 THEN
             floor(CAST(v.cov_b AS DOUBLE) / v.gold_pairs * 1000000 + 0.5) / 1000000
           END AS pc_b,
           CASE WHEN v.gold_pairs > 0 THEN
             floor(CAST(v.cov_u AS DOUBLE) / v.gold_pairs * 1000000 + 0.5) / 1000000
           END AS pc_union
    FROM cov v, ca a, cb b, cj j
    """,
)
def er_blocking_union_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs completeness of two blocking schemes and their union —
    see the block comment; the union candidate count is EXACT via
    inclusion-exclusion over the joint (ka, kb) block histogram.
    Scale shape identical to er_blocking_quality: three histogram
    aggregates for candidate counts (pairs never materialize), two
    hash joins of the output-bounded gold relation against the
    doc→keys map, 1-row broadcasts at the end."""
    docs = load_table(spark, sf_dir, "documents")
    ka = F.array_join(F.slice(F.split("text", " "), 1, 2), " ")
    kb = F.concat_ws(
        "|", F.col("lang"), F.expr("CAST(n_chars div 50 AS STRING)")
    )
    blocks = docs.select(
        "doc_id", ka.alias("ka"), kb.alias("kb")
    ).transform(pin_cache)
    ca = (
        blocks.groupBy("ka")
        .count()
        .agg(F.sum(F.expr("count * (count - 1) div 2")).cast("bigint").alias("cand_a"))
    )
    cb = (
        blocks.groupBy("kb")
        .count()
        .agg(F.sum(F.expr("count * (count - 1) div 2")).cast("bigint").alias("cand_b"))
    )
    cj = (
        blocks.groupBy("ka", "kb")
        .count()
        .agg(
            F.coalesce(
                F.sum(F.expr("count * (count - 1) div 2")), F.lit(0)
            )
            .cast("bigint")
            .alias("cand_both")
        )
    )
    gold = (
        spark.read.schema(_GRAPH_EDGES_SCHEMA)
        .parquet(_ensure_graph_edges(spark, sf_dir))
        .select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
        .distinct()
    )
    cov = (
        gold.join(
            blocks.select(
                F.col("doc_id").alias("doc_a"),
                F.col("ka").alias("kaa"),
                F.col("kb").alias("kba"),
            ),
            "doc_a",
        )
        .join(
            blocks.select(
                F.col("doc_id").alias("doc_b"),
                F.col("ka").alias("kab"),
                F.col("kb").alias("kbb"),
            ),
            "doc_b",
        )
        .agg(
            F.count("*").cast("bigint").alias("gold_pairs"),
            F.sum((F.col("kaa") == F.col("kab")).cast("int"))
            .cast("bigint")
            .alias("cov_a"),
            F.sum((F.col("kba") == F.col("kbb")).cast("int"))
            .cast("bigint")
            .alias("cov_b"),
            F.sum(
                ((F.col("kaa") == F.col("kab")) | (F.col("kba") == F.col("kbb"))).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("cov_u"),
        )
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    pc = lambda c: F.when(  # noqa: E731
        F.col("gold_pairs") > 0, q6(c.cast("double") / F.col("gold_pairs"))
    )
    return (
        cov.crossJoin(F.broadcast(ca))
        .crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(cj))
        .select(
            "gold_pairs",
            "cov_a",
            "cov_b",
            "cov_u",
            "cand_a",
            "cand_b",
            "cand_both",
            (F.col("cand_a") + F.col("cand_b") - F.col("cand_both"))
            .cast("bigint")
            .alias("cand_union"),
            pc(F.col("cov_a")).alias("pc_a"),
            pc(F.col("cov_b")).alias("pc_b"),
            pc(F.col("cov_u")).alias("pc_union"),
        )
    )


@register("graph_pagerank_prebuilt", oracle=_PAGERANK_ORACLE)
def graph_pagerank_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the PREBUILT edge artifact — the probe twin of
    graph_pagerank (same pagerank() helper, same fixed 3 iterations,
    same oracle string object), completing the build/probe split
    across the whole graph ladder (HITS, assortativity, CC,
    clustering coefficient, and now PageRank all probe the one
    graph_edges_build artifact). Probe cost is |edges|-bounded: an
    edge-relation scan plus PAGERANK_ITERS edge-sized shuffles,
    decoupled from the shingle/posting pair-generation machinery the
    inline rung re-runs."""
    pairs = (
        spark.read.schema(_GRAPH_EDGES_SCHEMA)
        .parquet(_ensure_graph_edges(spark, sf_dir))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    return pagerank(pairs, PAGERANK_ITERS).select(
        F.col("node").alias("doc_id"),
        (F.floor(F.col("rank") * 1000000000 + F.lit(0.5)) / 1000000000).alias("rank"),
    )


# Pairwise clustering quality (the ER-evaluation companion of the
# blocking census): treat each blocking scheme AS a clustering
# (cluster = block) and score its induced pair set against the gold
# near-dup pairs with pairwise precision / recall / F1 — the standard
# entity-resolution triple (Menestrina, Whang & Garcia-Molina 2010,
# "Evaluating entity resolution results"). All three come from
# integer counts that never materialize a pair set: predicted pairs =
# the block histogram sum nb*(nb-1)/2, TP = gold pairs whose members
# share the block key (two hash joins of the output-bounded gold
# relation), and F1 = 2*TP / (pred + gold) — the pairwise-F1 identity
# 2TP/(2TP+FP+FN), computed from exact int64 so no rounded-rate
# composition can drift cross-engine. Scheme A (first-two-token key)
# is high-recall/low-precision, scheme B (lang x length bucket) the
# reverse — two regimes on every metric column by construction.
_ER_F1_SELECT = """
      SELECT '{name}' AS scheme,
             c.pred_pairs, g.gold_pairs, v.tp,
             CASE WHEN c.pred_pairs > 0 THEN
               floor(CAST(v.tp AS DOUBLE) / c.pred_pairs * 1000000 + 0.5)
                 / 1000000 END AS pair_precision,
             CASE WHEN g.gold_pairs > 0 THEN
               floor(CAST(v.tp AS DOUBLE) / g.gold_pairs * 1000000 + 0.5)
                 / 1000000 END AS pair_recall,
             CASE WHEN c.pred_pairs + g.gold_pairs > 0 THEN
               floor(2.0 * v.tp / (c.pred_pairs + g.gold_pairs) * 1000000
                     + 0.5) / 1000000 END AS pair_f1
      FROM
        (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT)
           AS pred_pairs FROM
         (SELECT count(*) AS n FROM blocks GROUP BY {key})) c,
        (SELECT CAST(count(*) AS BIGINT) AS gold_pairs FROM gold) g,
        (SELECT CAST(coalesce(sum(CASE WHEN ba.{key} = bb.{key}
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp
         FROM gold gg
         JOIN blocks ba ON ba.doc_id = gg.doc_a
         JOIN blocks bb ON bb.doc_id = gg.doc_b) v
"""


@register(
    "er_pairwise_f1",
    oracle=f"""
    WITH {_PAIRS_CTES},
    gold AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
    blocks AS (
      SELECT doc_id, {_BLK_KEY_SQL} AS ka, {_BLK_B_SQL} AS kb
      FROM documents
    )
    {_ER_F1_SELECT.format(name="first2tok", key="ka")}
    UNION ALL
    {_ER_F1_SELECT.format(name="lang_len", key="kb")}
    """,
)
def er_pairwise_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise precision/recall/F1 of blocking-as-clustering against
    the prebuilt gold pairs, one row per scheme — see the block
    comment. Scale shape: per scheme ONE map-side block-histogram
    aggregate (pairs never materialize) + the shared two hash joins of
    the output-bounded gold relation against the doc→keys map; the
    2-row result assembles from 1-row broadcasts. Gold probes the
    edge artifact (content-fingerprinted path), so the census cost is
    block-histogram work, not pair generation."""
    docs = load_table(spark, sf_dir, "documents")
    ka = F.array_join(F.slice(F.split("text", " "), 1, 2), " ")
    kb = F.concat_ws(
        "|", F.col("lang"), F.expr("CAST(n_chars div 50 AS STRING)")
    )
    blocks = docs.select(
        "doc_id", ka.alias("ka"), kb.alias("kb")
    ).transform(pin_cache)
    gold = (
        spark.read.schema(_GRAPH_EDGES_SCHEMA)
        .parquet(_ensure_graph_edges(spark, sf_dir))
        .select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
        .distinct()
    )
    joined = gold.join(
        blocks.select(
            F.col("doc_id").alias("doc_a"),
            F.col("ka").alias("kaa"),
            F.col("kb").alias("kba"),
        ),
        "doc_a",
    ).join(
        blocks.select(
            F.col("doc_id").alias("doc_b"),
            F.col("ka").alias("kab"),
            F.col("kb").alias("kbb"),
        ),
        "doc_b",
    ).transform(pin_cache)
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731

    def scheme_row(name: str, key: str, a: str, b: str) -> DataFrame:
        pred = (
            blocks.groupBy(key)
            .count()
            .agg(
                F.coalesce(F.sum(F.expr("count * (count - 1) div 2")), F.lit(0))
                .cast("bigint")
                .alias("pred_pairs")
            )
        )
        tp = joined.agg(
            F.count("*").cast("bigint").alias("gold_pairs"),
            F.coalesce(F.sum((F.col(a) == F.col(b)).cast("int")), F.lit(0))
            .cast("bigint")
            .alias("tp"),
        )
        return (
            tp.crossJoin(F.broadcast(pred))
            .select(
                F.lit(name).alias("scheme"),
                "pred_pairs",
                "gold_pairs",
                "tp",
                F.when(
                    F.col("pred_pairs") > 0,
                    q6(F.col("tp").cast("double") / F.col("pred_pairs")),
                ).alias("pair_precision"),
                F.when(
                    F.col("gold_pairs") > 0,
                    q6(F.col("tp").cast("double") / F.col("gold_pairs")),
                ).alias("pair_recall"),
                F.when(
                    F.col("pred_pairs") + F.col("gold_pairs") > 0,
                    q6(
                        F.lit(2.0)
                        * F.col("tp")
                        / (F.col("pred_pairs") + F.col("gold_pairs"))
                    ),
                ).alias("pair_f1"),
            )
        )

    return scheme_row("first2tok", "ka", "kaa", "kab").unionByName(
        scheme_row("lang_len", "kb", "kba", "kbb")
    )


# Edit-distance verify stage: production near-dup pipelines use cheap
# set-similarity (shingles/MinHash) to GENERATE candidates and an
# order-sensitive string metric to VERIFY them — Levenshtein sees word
# reorderings and local edits that bag-of-shingles Jaccard is blind
# to. This rung runs the verifier over the prebuilt candidate edge
# relation (never all pairs): per candidate pair, the exact edit
# distance, the normalized similarity 1 - lev/max(len), and the
# near-exact tier flag sim >= 0.98 — evaluated as the EXACT integer
# predicate 50*lev <= max(len) so no FP comparison can drift
# cross-engine (threshold calibrated to split the fixture's gold
# pairs: sub-0.98 pairs are word-reordered paraphrases, above are
# char-level edits).
EDIT_NEAR_EXACT_DEN = 50  # near_exact ⟺ lev * 50 <= greatest(len_a, len_b)


@register(
    "dedup_edit_verify",
    oracle=f"""
    WITH {_PAIRS_CTES},
    e AS (SELECT DISTINCT doc_a, doc_b FROM pairs)
    SELECT e.doc_a, e.doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
           CASE WHEN greatest(length(a.text), length(b.text)) > 0 THEN
             floor((1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                    / greatest(length(a.text), length(b.text)))
                   * 1000000 + 0.5) / 1000000
           ELSE CAST(1.0 AS DOUBLE) END AS edit_sim,
           levenshtein(a.text, b.text) * {EDIT_NEAR_EXACT_DEN}
             <= greatest(length(a.text), length(b.text)) AS near_exact
    FROM e
    JOIN documents a ON a.doc_id = e.doc_a
    JOIN documents b ON b.doc_id = e.doc_b
    """,
)
def dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein verification of the prebuilt near-dup candidates —
    see the block comment. Scale shape: |edges|-bounded like every
    artifact probe (two hash joins to fetch the texts, then a
    per-pair O(len_a*len_b) JVM levenshtein — the quadratic cost is
    paid ONLY on candidates the set-similarity stage already
    filtered, the canonical generate-then-verify split); no corpus
    self-join anywhere. The near-exact flag is an exact integer
    predicate; edit_sim is one IEEE division from int64 on both
    engines."""
    gold = (
        spark.read.schema(_GRAPH_EDGES_SCHEMA)
        .parquet(_ensure_graph_edges(spark, sf_dir))
        .select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    j = (
        gold.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("bigint").alias("lev"),
            F.greatest(F.length("ta"), F.length("tb"))
            .cast("bigint")
            .alias("mx"),
        )
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.select(
        "doc_a",
        "doc_b",
        "lev",
        F.when(
            F.col("mx") > 0,
            q6(1.0 - F.col("lev").cast("double") / F.col("mx")),
        )
        .otherwise(F.lit(1.0))
        .alias("edit_sim"),
        (F.col("lev") * EDIT_NEAR_EXACT_DEN <= F.col("mx")).alias("near_exact"),
    )


# --- closeness / harmonic centrality ----------------------------------------
# Per-seed distance profile over the PREBUILT near-dup edge artifact:
# classic closeness (reached-1)/sum-of-distances and harmonic
# centrality sum(1/d) — the "how central is this document inside its
# duplicate neighborhood" rank that picks canonical representatives
# better than raw degree when clusters are chains. Exact traversal is
# per-SEED level-synchronous BFS (the bfs_hops frontier discipline with
# a seed label riding along: per-round shuffle is frontier x degree,
# never settled x degree), horizon-bounded at BFS_MAX_HOPS like every
# traversal here so the recursion is finite on cyclic components and
# the oracle's recursive CTE replays it state-for-state. Exactness:
# distances and hop histograms are int64; harmonic terms cnt/d
# floor-quantize to the 1e12 lattice per (seed, hop) — <= MAX_HOPS
# terms per seed, summed as integers.
@register(
    "graph_closeness_centrality",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS x FROM edges),
    seeds AS (SELECT x FROM nodes ORDER BY x LIMIT {BFS_N_SEEDS}),
    bfs(seed, node, d) AS (
      SELECT x, x, 0 FROM seeds
      UNION
      SELECT bfs.seed, e.b, bfs.d + 1
      FROM bfs JOIN edges e ON e.a = bfs.node
      WHERE bfs.d < {BFS_MAX_HOPS}
    ),
    dist AS (
      SELECT seed, node, CAST(min(d) AS BIGINT) AS d
      FROM bfs GROUP BY seed, node
    ),
    hh AS (
      SELECT seed, d, CAST(count(*) AS BIGINT) AS cnt
      FROM dist WHERE d > 0 GROUP BY seed, d
    ),
    agg AS (
      SELECT seed,
             CAST(sum(cnt) AS BIGINT) AS n_reached,
             CAST(sum(cnt * d) AS BIGINT) AS sum_dist,
             CAST(sum(CAST(floor(CAST(cnt AS DOUBLE) / d
                                 * 1000000000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS hq
      FROM hh GROUP BY seed
    )
    SELECT seed AS doc_id, n_reached, sum_dist,
           floor(CAST(n_reached AS DOUBLE) / sum_dist * 1000000 + 0.5)
             / 1000000 AS closeness,
           floor(CAST(hq AS DOUBLE) / 1000000 + 0.5) / 1000000 AS harmonic
    FROM agg
    """,
)
def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness + harmonic centrality of the BFS_N_SEEDS lowest node
    ids over the prebuilt edge artifact — per-seed labeled frontier
    BFS, horizon-bounded; see the block comment for the exactness and
    plan shape. Same-oracle-as-inline guarantee: the artifact's
    content is provably the _PAIRS_CTES relation."""
    from pyspark import StorageLevel

    pairs = (
        spark.read.schema(_GRAPH_EDGES_SCHEMA)
        .parquet(_ensure_graph_edges(spark, sf_dir))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    und = (
        pairs.unionByName(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    und.count()
    seeds = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(BFS_N_SEEDS)
        .select(F.col("node").alias("seed"), F.col("node"), F.lit(0).cast("long").alias("d"))
    )
    dist = seeds.localCheckpoint(eager=True)
    frontier = dist
    for d in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(und, frontier.node == und.a)
            .select("seed", F.col("b").alias("node"))
            .distinct()
            .join(dist.select("seed", "node"), ["seed", "node"], "left_anti")
            .withColumn("d", F.lit(d).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    und.unpersist()
    hh = (
        dist.where(F.col("d") > 0)
        .groupBy("seed", "d")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    agg = hh.groupBy("seed").agg(
        F.sum("cnt").cast("bigint").alias("n_reached"),
        F.sum(F.col("cnt") * F.col("d")).cast("bigint").alias("sum_dist"),
        F.sum(
            F.floor(F.col("cnt").cast("double") / F.col("d") * 1000000000000 + F.lit(0.5))
            .cast("bigint")
        )
        .cast("bigint")
        .alias("hq"),
    )
    return agg.select(
        F.col("seed").alias("doc_id"),
        "n_reached",
        "sum_dist",
        (
            F.floor(
                F.col("n_reached").cast("double") / F.col("sum_dist") * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("closeness"),
        (F.floor(F.col("hq").cast("double") / 1000000 + F.lit(0.5)) / 1000000).alias(
            "harmonic"
        ),
    )
