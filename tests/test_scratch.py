"""Scratch directories: every path the package stages, caches or
round-trips through comes from catalog.scratch_cache / scratch_fresh,
under tempfile.gettempdir() (which honours TMPDIR), so a run can be
confined to its own work directory."""

from __future__ import annotations

import os
import re
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from kinesis2sse_spark.catalog import scratch_cache, scratch_fresh
from tests.conftest import SF_SMOKE, assert_matches_oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_docs(sf_dir: str, n: int) -> None:
    os.makedirs(sf_dir)
    texts = [f"document number {i} " * (i + 1) for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": texts,
                "lang": ["en"] * n,
                "source": ["t"] * n,
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )


def test_scratch_cache_builds_once_per_content(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    sf = str(tmp_path / "sfx")
    _write_docs(sf, 3)
    built = []

    def build(d):
        built.append(d)
        open(os.path.join(d, "x"), "w").close()

    p1 = scratch_cache("t", sf, "documents", build)
    assert scratch_cache("t", sf, "documents", build) == p1
    assert len(built) == 1 and os.listdir(p1) == ["x"]
    assert os.listdir(os.path.dirname(p1)) == [os.path.basename(p1)]
    assert p1.startswith(str(tmp_path / "scratch" / "k2s_t" / "sfx-"))

    # regenerated fixture (new mtime) → new path → one more build
    os.utime(os.path.join(sf, "documents.parquet"), (1, 1))
    p2 = scratch_cache("t", sf, "documents", build)
    assert p2 != p1 and len(built) == 2


def test_scratch_fresh_empties_previous_contents(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = scratch_fresh("f", "/some/where/sfx/")
    assert d == str(tmp_path / "k2s_f_sfx")
    open(os.path.join(d, "stale"), "w").close()
    assert scratch_fresh("f", "/other/sfx") == d
    assert os.listdir(d) == []


def test_binary_files_stage_drops_a_previous_trees_files(spark, tmp_path, monkeypatch):
    """Two fixture trees sharing a basename stage binary files at the
    same basename-keyed path: the second, smaller tree must read back
    only its own documents, not the first tree's leftover .bin files."""
    from kinesis2sse_spark.queries.multimodal import source_binary_files

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    big, small = str(tmp_path / "a" / "sfx"), str(tmp_path / "b" / "sfx")
    _write_docs(big, 10)
    _write_docs(small, 3)
    assert source_binary_files(spark, big).count() == 10
    got = source_binary_files(spark, small).collect()
    assert sorted(r["doc_id"] for r in got) == [0, 1, 2]


def test_registered_queries_write_scratch_under_system_temp_dir(
    spark, tmp_path, monkeypatch
):
    """With the temp directory pointed at tmp_path, the artifact builds,
    round-trip sinks, binary-file stage and archive lake all land under
    it, and each query still matches its oracle."""
    names = (
        "graph_edges_build",
        "sim_ivf_index_build",
        "source_csv_roundtrip",
        "source_binary_files",
        "pipeline_lake_compaction",
    )
    expected = {
        "k2s_graph_edges",
        "k2s_ivf_index",
        "k2s_rt_csv_sf0.001",
        "k2s_binfiles_sf0.001",
        "k2s_compact_sf0.001",
        "k2s_stream_events",
    }
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    for name in names:
        assert_matches_oracle(spark, name, SF_SMOKE)
    assert set(os.listdir(scratch)) == expected


def test_no_tmp_path_literal_in_package_or_tools():
    """Scratch locations come only from catalog.scratch_cache /
    scratch_fresh; a hard-coded /tmp path ignores TMPDIR and lets two
    checkouts' runs clobber each other."""
    pat = re.compile(r"(?<![\w.])/tmp\b")
    hits = []
    for top in ("kinesis2sse_spark", "tools"):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    for i, line in enumerate(fh, 1):
                        if pat.search(line):
                            hits.append(f"{os.path.relpath(path, ROOT)}:{i}")
    assert hits == []
