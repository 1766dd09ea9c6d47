#!/usr/bin/env python
"""Scale-curve measurement for the dedup/ANN ladder (round-6 verdict
item 5): the 100 TB arguments are plan-level and the fixtures stop at
sf0.1, so this builds synthetic documents/embeddings at 1x/10x/100x the
sf0.1 row counts and measures the heavy operators at each size. A
near-linear time-vs-rows curve is the evidence that no operator bends
quadratic once the corpus outgrows fixed overheads.

Synthesis (derived from the READ-ONLY sf0.1 fixtures, written to a
scratch cache under the system temp directory, keyed by the source
documents' content fingerprint — TESTDATA.md forbids writing into the
fixture tree):
- documents x M: replica r in [0, M) re-salts every 4th token with an
  r-specific prefix. Consequences, by construction:
  * every SPAN_LEN=8-token window and every 3-token shingle crosses a
    salted position, so replicas share NO windows/shingles — duplicate
    CLUSTER COUNT scales M-fold while cluster SIZE stays the original
    corpus's (how real corpora grow: more duplicates, not bigger
    clusters);
  * 3/4 of token occurrences keep their global identity, so heavy
    hitters still sees corpus-wide heavy terms at M-fold frequency.
- embeddings x M: replica r perturbs each dim with a deterministic
  +-0.048 hash offset — distinct vectors, same distribution; the query
  set (vec_id < 10), PQ codebook (< 32) and IVF centroids (< 16) stay
  replica-0 seeds, so the quantizer is FIXED while the corpus grows,
  exactly how a trained index meets new data.

Usage: python tools/scale_curve.py [out.json] [--mults 1,10,100]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kinesis2sse_spark.catalog import scratch_cache
from kinesis2sse_spark.registry import all_queries
from kinesis2sse_spark.session import build_session

SRC = "/root/testdata/sf0.1"
QUERIES = (
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_span_removal",
    "dedup_connected_components",
    "text_heavy_hitters",
    "sim_topk_ivfpq",
    # round-6 additions: first-occurrence novelty (window over the
    # shingle universe — the largest relation any new operator touches)
    # and fixed-iteration LPA over the near-dup graph
    "dedup_ngram_novelty",
    "graph_label_propagation",
    # round-7 additions: gram-DF boilerplate (explode + reused gram-key
    # shuffle), token-set source-overlap census, frontier BFS
    "text_boilerplate_fraction",
    "dedup_cross_source_overlap",
    "graph_bfs_hops",
    # round-8 addition: SemDeDup — the sqrt-ladder cell count must keep
    # the within-cell pairwise stage near-linear as the corpus grows
    "dedup_semantic_clusters",
)


def generate(spark, mult: int) -> str:
    out = os.path.join(scratch_cache("scale_curve", SRC, "documents"), f"x{mult}")
    if os.path.exists(os.path.join(out, "_DONE")):
        generate_events(spark, mult, out)  # r13 addition, own marker
        return out
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    n_docs = docs.count()
    reps = spark.range(mult).select(F.col("id").cast("int").alias("r"))
    salted = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("r").cast("long") * n_docs).alias("doc_id"),
            F.when(F.col("r") == 0, F.col("text"))
            .otherwise(
                F.array_join(
                    F.expr(
                        "transform(split(text, ' '), (t, i) -> "
                        "CASE WHEN i % 4 = 0 THEN concat('r', r, 'x', t) ELSE t END)"
                    ),
                    " ",
                )
            )
            .alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    salted.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    n_vec = emb.count()
    perturbed = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("r").cast("long") * n_vec).alias("vec_id"),
            F.when(F.col("r") == 0, F.col("embedding"))
            .otherwise(
                F.expr(
                    "transform(embedding, (x, i) -> cast(x + "
                    "((vec_id * 31 + r * 17 + i * 7) % 97 - 48) / 1000.0 as float))"
                )
            )
            .alias("embedding"),
            "label",
        )
    )
    perturbed.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    open(os.path.join(out, "_DONE"), "w").close()
    generate_events(spark, mult, out)
    return out


def generate_events(spark, mult: int, out: str) -> None:
    """events x M (round-13, for the user/daily-series operators):
    replica r is a NEW USER COHORT — user_id and event_id offset by
    r * (original count), ts/type/value/props unchanged. Consequences:
    users (the natural key of krippendorff/fleiss/kaplan-meier/
    dp-quantile intermediates) scale M-fold with per-user activity
    constant, and daily counts (mann-kendall / cross-correlation
    series) scale M-fold on the FIXED retention-bounded day domain —
    both exactly how a real corpus grows."""
    if os.path.exists(os.path.join(out, "_DONE_EVENTS")):
        return
    from kinesis2sse_spark.catalog import load_table

    ev = load_table(spark, SRC, "events")
    n_ev = ev.count()
    n_users = ev.select("user_id").distinct().count()
    reps = spark.range(mult).select(F.col("id").cast("long").alias("r"))
    shifted = ev.crossJoin(F.broadcast(reps)).select(
        (F.col("event_id") + F.col("r") * n_ev).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("r") * n_users).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    shifted.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    open(os.path.join(out, "_DONE_EVENTS"), "w").close()


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "artifacts/SCALE_CURVE_r06.json"
    mults = [1, 10, 100]
    if "--mults" in sys.argv:
        mults = [int(m) for m in sys.argv[sys.argv.index("--mults") + 1].split(",")]
    queries = QUERIES
    if "--queries" in sys.argv:
        queries = tuple(sys.argv[sys.argv.index("--queries") + 1].split(","))
    spark = build_session(app_name="scale_curve")
    qs = all_queries()
    result: dict = {"src": SRC, "mults": mults, "queries": {}, "rows": {}}
    for m in mults:
        t0 = time.perf_counter()
        d = generate(spark, m)
        print(f"x{m}: generated in {time.perf_counter() - t0:.1f}s", flush=True)
        result["rows"][str(m)] = {
            "documents": spark.read.parquet(os.path.join(d, "documents.parquet")).count(),
            "embeddings": spark.read.parquet(os.path.join(d, "embeddings.parquet")).count(),
        }
        for name in queries:
            # TIMED action = query CONSTRUCTION + full-row noop write
            # (the bench.py r10 protocol): .count() lets Catalyst
            # eliminate count-invariant operators —
            # decontaminate_minhash's unique-key left join count-pruned
            # to a bare filtered scan and its "curve" timed an empty
            # plan (caught r11: time DROPPED with scale). Construction
            # must sit INSIDE the window because pin_cache materializes
            # EAGERLY at build time — timing only the write hid the
            # pinned corpus work (the second r11 harness catch). Rows
            # come from an untimed count after.
            t0 = time.perf_counter()
            df = qs[name](spark, d)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 2)
            n = df.count()
            result["queries"].setdefault(name, {})[str(m)] = {
                "sec": dt, "out_rows": n,
            }
            print(f"x{m} {name}: {dt}s ({n} rows)", flush=True)
            spark.catalog.clearCache()
    # linearity: time ratio vs mult ratio, largest/smallest
    lo, hi = str(mults[0]), str(mults[-1])
    for name, per in result["queries"].items():
        ratio = per[hi]["sec"] / max(per[lo]["sec"], 1e-9)
        per["time_ratio"] = round(ratio, 1)
        per["mult_ratio"] = mults[-1] // mults[0]
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
