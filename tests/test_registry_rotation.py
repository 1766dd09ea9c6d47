"""Driver-window self-rotation, two rules in priority order:

1. RED RE-FRONT — a query whose LATEST driver row is red leads the
   window unconditionally (a regression must never rotate out of
   driver scrutiny while unfixed);
2. behind those: never-checked first (registration order), then checked
   ordered least-recently-checked first (stale rows re-earn fresh
   driver rows once coverage is airtight).

These tests assert the ordering INVARIANTS against synthetic driver
histories (monkeypatched _driver_rows), never against the repo's real
CORRECTNESS files — the r04 verdict flagged snapshot-form tests as
self-breaking (they go red the moment the next driver file lands), and
the r06 verdict caught a second instance: a precondition that a
never-checked query EXISTS breaks forever the moment coverage becomes
airtight."""

from __future__ import annotations

from kinesis2sse_spark import registry

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}
ROUND = 13  # any recorded round; the rules only compare rounds
RED = {"rows_match": True, "schema_match": True, "hash_match": False}


def _fake_rows(monkeypatch, rows: dict[str, tuple[int, dict]]):
    monkeypatch.setattr(registry, "_driver_rows", lambda: rows)


def test_red_latest_row_re_fronts_unconditionally(monkeypatch):
    # every name checked GREEN in the same round, but one name late in
    # registration order has a red LATEST row → it leads the window
    registry._ensure_loaded()
    names = list(registry._REGISTRY)
    red_name = names[-1]
    rows = {n: (ROUND, dict(GREEN)) for n in names}
    rows[red_name] = (ROUND, dict(RED))
    _fake_rows(monkeypatch, rows)
    ordered = list(registry.all_queries())
    assert ordered[0] == red_name


def test_red_older_than_green_does_not_re_front(monkeypatch):
    # a red row SUPERSEDED by a later green row is fixed — only the
    # latest round's record counts
    registry._ensure_loaded()
    names = list(registry._REGISTRY)
    rows = {n: (ROUND, dict(GREEN)) for n in names}
    _fake_rows(monkeypatch, rows)
    assert registry._red_names() == []


def test_never_checked_sort_ahead_of_checked_behind_priority(monkeypatch):
    # no reds: the whole never-checked backlog leads, then the
    # already-checked remainder — no interleaving
    registry._ensure_loaded()
    all_names = list(registry._REGISTRY)
    unchecked = all_names[-5:]
    rows = {
        n: (ROUND, dict(GREEN))
        for n in all_names
        if n not in set(unchecked)
    }
    _fake_rows(monkeypatch, rows)
    names = list(registry.all_queries())
    never = [n for n in names if n in set(unchecked)]
    checked = [n for n in names if n not in set(unchecked)]
    assert names == never + checked
    assert never == unchecked


def test_every_registered_query_is_windowable():
    # every registered name appears exactly once in the ordering
    names = list(registry.all_queries())
    assert len(names) == len(set(names))
    assert set(names) == set(registry._REGISTRY)


def test_driver_rows_survives_garbage_files(tmp_path, monkeypatch):
    import glob as _glob

    import kinesis2sse_spark.registry as reg

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        '{"q_a": {"hash_match": false}, "q_b": {"hash_match": true}}'
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text("not json at all")
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        '{"q_a": {"hash_match": true}}'
    )
    monkeypatch.setattr(
        _glob,
        "glob",
        lambda pat: [
            str(tmp_path / "CORRECTNESS_r01.json"),
            str(tmp_path / "CORRECTNESS_r02.json"),
            str(tmp_path / "CORRECTNESS_r03.json"),
        ],
    )
    rows = reg._driver_rows()
    assert set(rows) == {"q_a", "q_b"}
    # q_a's red r01 row is superseded by the green r03 row
    assert rows["q_a"] == (3, {"hash_match": True})
    assert rows["q_b"][0] == 1
    assert reg._checked_names() == {"q_a", "q_b"}


def test_checked_segment_cycles_least_recently_checked_first(monkeypatch):
    # airtight coverage (no reds, no never-checked): the window must
    # front the STALEST rows, not the registration prefix — a query
    # last checked in an old round sorts ahead of one checked in the
    # latest round, regardless of registration order.
    registry._ensure_loaded()
    names = list(registry._REGISTRY)
    rows = {n: (ROUND, dict(GREEN)) for n in names}
    # registered LAST, checked LONGEST ago
    stale = names[-3:]
    for n in stale:
        rows[n] = (ROUND - 3, dict(GREEN))
    _fake_rows(monkeypatch, rows)
    ordered = list(registry.all_queries())
    assert ordered[:3] == stale
    # within the same round, registration order is preserved
    assert ordered[3:] == [n for n in names if n not in stale]


def test_coverage_header_counts_match_registry():
    """Doc-lint (r07 verdict item 4): COVERAGE.md's headline counts must
    match the live registry so they can never silently drift again. The
    header states '<N> registered queries (<M> DuckDB-oracle-checked'
    and names each rows-only query in backticks within the opening
    paragraph."""
    import os
    import re

    registry._ensure_loaded()
    n_reg = len(registry._REGISTRY)
    n_oracle = sum(1 for rq in registry._REGISTRY.values() if rq.oracle is not None)
    rows_only = sorted(
        n for n, rq in registry._REGISTRY.items() if rq.oracle is None
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "COVERAGE.md")) as f:
        head = f.read(2000)
    m = re.search(r"(\d+) registered queries \((\d+) DuckDB-oracle-checked", head)
    assert m, "COVERAGE.md headline count sentence missing or reworded"
    assert int(m.group(1)) == n_reg, (
        f"COVERAGE.md says {m.group(1)} registered, registry has {n_reg}"
    )
    assert int(m.group(2)) == n_oracle, (
        f"COVERAGE.md says {m.group(2)} oracle-checked, registry has {n_oracle}"
    )
    for name in rows_only:
        assert f"`{name}`" in head, (
            f"rows-only query {name} not named in COVERAGE.md header"
        )
