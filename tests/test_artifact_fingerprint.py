"""Regression tests for the prebuilt-artifact staleness class (r12
verdict item 1): _ensure_graph_edges and _ensure_ivf_index must NOT
serve a stale artifact after the source fixture is regenerated in
place, and two fixture trees sharing a basename must not collide.

The fix under test: the artifact path embeds
catalog.fixture_fingerprint (abs path + sorted part list + mtimes) —
the same scheme the r11 advice installed in streaming/source.py's
_stage_links staging dirs.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd


def _write_docs(spark, d, texts):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(1, len(texts) + 1)),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["t"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        )
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )


def _write_embeddings(spark, d, vecs):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": list(range(len(vecs))),
                "embedding": vecs,
                "label": [0] * len(vecs),
            }
        ),
        schema="vec_id long, embedding array<float>, label int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet")
    )


_T_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_T_B = "one two three four five six seven eight nine ten eleven"
_T_C = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"


def _edges(spark, d):
    from kinesis2sse_spark.queries.graph import (
        _GRAPH_EDGES_SCHEMA,
        _ensure_graph_edges,
    )

    path = _ensure_graph_edges(spark, d)
    rows = {
        (r["src"], r["dst"])
        for r in spark.read.schema(_GRAPH_EDGES_SCHEMA).parquet(path).collect()
    }
    return path, rows


def test_graph_edges_rebuild_in_place_invalidates(spark, tmp_path, monkeypatch):
    """Regenerating documents.parquet at the SAME path must produce a
    fresh edge artifact reflecting the new content (no _SUCCESS-trust
    staleness)."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    d = str(tmp_path / "sf")
    _write_docs(spark, d, [_T_A, _T_A, _T_B])  # dup pair (1,2)
    p1, e1 = _edges(spark, d)
    assert (1, 2) in e1 and not any(3 in pair for pair in e1)

    _write_docs(spark, d, [_T_C, _T_B, _T_B])  # now dup pair (2,3)
    p2, e2 = _edges(spark, d)
    assert p2 != p1, "artifact path must change with fixture content"
    assert (2, 3) in e2 and (1, 2) not in e2


def test_graph_edges_basename_collision(spark, tmp_path, monkeypatch):
    """Two fixture trees whose dirs share a basename must get distinct
    artifacts (the old basename-keyed path collided)."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    da, db = os.path.join(ra, "sfx"), os.path.join(rb, "sfx")
    os.makedirs(da)
    os.makedirs(db)
    _write_docs(spark, da, [_T_A, _T_A, _T_B])
    _write_docs(spark, db, [_T_C, _T_B, _T_B])
    pa, ea = _edges(spark, da)
    pb, eb = _edges(spark, db)
    assert pa != pb
    assert (1, 2) in ea and (2, 3) in eb


def test_ivf_index_rebuild_in_place_invalidates(spark, tmp_path, monkeypatch):
    """Same staleness class for the IVF artifact family: an in-place
    embeddings rewrite must invalidate the prebuilt index (cell
    assignment recomputed from the new vectors)."""
    from kinesis2sse_spark.queries.llm_similarity import (
        IVF_K,
        _ensure_ivf_index,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    d = str(tmp_path / "sf")
    n, dim = IVF_K + 8, 8

    def basis(i, scale):
        v = [0.0] * dim
        v[i % dim] = float(scale)
        return v

    _write_embeddings(spark, d, [basis(i, 1.0) for i in range(n)])
    a1, c1 = _ensure_ivf_index(spark, d)
    n1 = spark.read.parquet(a1).count()
    assert n1 == n

    _write_embeddings(spark, d, [basis(i, 2.0) for i in range(n + 5)])
    a2, c2 = _ensure_ivf_index(spark, d)
    assert (a2, c2) != (a1, c1), "index path must change with content"
    assert spark.read.parquet(a2).count() == n + 5
    # the centroid table reflects the NEW norms (scale 2.0 → norm 2.0)
    norms = {r["cnorm"] for r in spark.read.parquet(c2).collect()}
    assert norms == {2.0}
