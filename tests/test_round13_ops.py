"""Round-13 operator tests: hand-computable fixtures and invariants
for the new operators, plus the sign-safe DP lattice rounding fix
(r12 advice)."""

from __future__ import annotations

import math
import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kinesis2sse_spark.registry import all_oracles, all_queries

SF = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


def test_lattice_round_sign_safe(spark):
    """The DP_CLIP lattice quantization must be round-half-up for
    NEGATIVE sums too (truncating int division is not floor): probe
    the generated SQL on both engines across the sign boundary."""
    import duckdb

    from kinesis2sse_spark.queries.privacy import DP_CLIP, _lattice_round_sql

    def model(x):
        return math.floor(x / DP_CLIP + 0.5) * DP_CLIP

    vals = [
        -750001, -750000, -500001, -500000, -300000, -299999,
        -100001, -100000, -99999, -1, 0, 1, 99999, 100000, 299999, 300000,
    ]
    con = duckdb.connect()
    for x in vals:
        got = con.execute(
            f"SELECT {_lattice_round_sql(str(x), DP_CLIP, '//')}"
        ).fetchone()[0]
        assert got == model(x), (x, got, model(x))
    df = spark.createDataFrame([(v,) for v in vals], "sum_clipped long")
    out = {
        r[0]: r[1]
        for r in df.select(
            "sum_clipped",
            F.expr(_lattice_round_sql("sum_clipped", DP_CLIP, "div")).alias("q"),
        ).collect()
    }
    for x in vals:
        assert out[x] == model(x), (x, out[x], model(x))


def test_union_recall_inclusion_exclusion(spark):
    """cand_union must equal cand_a + cand_b - cand_both, and cand_both
    must replay independently from the joint block histogram."""
    from kinesis2sse_spark.catalog import load_table

    r = all_queries()["er_blocking_union_recall"](spark, SF).collect()[0]
    assert r["cand_union"] == r["cand_a"] + r["cand_b"] - r["cand_both"]
    docs = load_table(spark, SF, "documents")
    ka = F.array_join(F.slice(F.split("text", " "), 1, 2), " ")
    kb = F.concat_ws("|", F.col("lang"), F.expr("CAST(n_chars div 50 AS STRING)"))
    expect = (
        docs.groupBy(ka.alias("a"), kb.alias("b"))
        .count()
        .agg(F.sum(F.expr("count * (count - 1) div 2")))
        .collect()[0][0]
    )
    assert r["cand_both"] == (expect or 0)


def test_pairwise_f1_identities(spark):
    """pair_f1 = 2*TP/(pred+gold) exactly; recall ranks the two schemes
    the same way the blocking census does (scheme A covers all gold at
    this fixture, scheme B does not)."""
    rows = {r["scheme"]: r for r in all_queries()["er_pairwise_f1"](spark, SF).collect()}
    for r in rows.values():
        if r["pred_pairs"] + r["gold_pairs"] > 0:
            want = math.floor(
                2.0 * r["tp"] / (r["pred_pairs"] + r["gold_pairs"]) * 1e6 + 0.5
            ) / 1e6
            assert r["pair_f1"] == want
        assert r["tp"] <= min(r["pred_pairs"], r["gold_pairs"])
    assert rows["first2tok"]["pair_recall"] > rows["lang_len"]["pair_recall"]


def test_rbo_hand_example(spark):
    """RBO weight decomposition on hand lists: identical lists → 1.0
    (±1e-6 from integer weight rounding); disjoint → 0; computed via
    the same weight table the operator inlines."""
    from kinesis2sse_spark.queries.llm_similarity import (
        TOP_K,
        _rbo_weights_scaled,
    )

    ws = _rbo_weights_scaled()
    assert len(ws) == TOP_K and all(w > 0 for w in ws)
    # identical lists: item at rank d has max(ra, rb) = d → sum = ~1e9
    assert abs(sum(ws) - 1_000_000_000) <= TOP_K  # integer rounding slack
    # weights decrease with depth (top-weightedness)
    assert ws == sorted(ws, reverse=True)


def test_rbo_vs_recall_ordering(spark):
    """A query whose IVF list exactly matches the baseline must score
    rbo = 1.0; every rbo stays in [0, 1]."""
    rows = all_queries()["sim_rbo_ivf_vs_exact"](spark, SF).collect()
    from kinesis2sse_spark.queries.llm_similarity import N_QUERIES, TOP_K

    assert len(rows) == N_QUERIES
    for r in rows:
        assert 0.0 <= r["rbo"] <= 1.0
        if r["n_common"] == TOP_K and r["rbo"] == 1.0:
            pass  # full agreement reachable
    assert any(r["rbo"] == 1.0 for r in rows)


def test_recall_vs_probes_monotone(spark):
    """Recall@k must be non-decreasing in nprobe (probing more cells
    can only add candidates)."""
    rows = sorted(
        all_queries()["sim_recall_vs_probes"](spark, SF).collect(),
        key=lambda r: r["n_probes"],
    )
    recs = [r["mean_recall"] for r in rows]
    assert recs == sorted(recs)
    assert rows[-1]["n_hits"] <= rows[-1]["n_possible"]


def test_vad_hand_fixture(spark, tmp_path, monkeypatch):
    """VAD segmentation on a hand-built waveform: two active runs
    separated by a silent window; energies verified by hand."""
    from kinesis2sse_spark.queries.multimodal import (
        VAD_MIN_ENERGY,
        VAD_WIN,
        mm_audio_vad,
    )

    # 'z' (122): 122^2*64 = 952576 > threshold; space (32): 65536 < th
    loud, quiet = "z" * VAD_WIN, " " * VAD_WIN
    text = loud + loud + quiet + loud  # windows: A A s A
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "text": [text],
                "lang": ["en"],
                "source": ["t"],
                "n_chars": [len(text)],
            }
        )
    )
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    d = str(tmp_path / "sf")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    segs = {
        (r["seg_start"], r["seg_end"]): (r["n_windows"], r["energy_sum"])
        for r in mm_audio_vad(spark, d).collect()
    }
    e = 122 * 122 * VAD_WIN
    assert segs == {(0, 1): (2, 2 * e), (3, 3): (1, e)}, segs
    assert e >= VAD_MIN_ENERGY and 32 * 32 * VAD_WIN < VAD_MIN_ENERGY


def test_edit_verify_tiers(spark):
    """Levenshtein verify: pairs are |edges|-bounded, lev is symmetric
    in construction (doc_a < doc_b canonical), both tiers populated at
    sf0.01, and edit_sim is consistent with lev."""
    rows = all_queries()["dedup_edit_verify"](spark, SF).collect()
    assert len(rows) > 0
    tiers = {r["near_exact"] for r in rows}
    assert tiers == {True, False}
    for r in rows:
        assert 0.0 <= r["edit_sim"] <= 1.0
        assert r["doc_a"] < r["doc_b"]


def test_hurst_iid_near_half(spark):
    """On the fixture's iid values H should sit near 0.5 at the
    correctness SF (loose band — it's an estimator, not a constant)."""
    rows = all_queries()["timeseries_hurst_exponent"](spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.2 <= r["hurst"] <= 0.9, r
        assert r["n_chunks_small"] > r["n_chunks_big"] > 0


def test_lsh_tuning_curve_shape(spark):
    """More rows per band (same hash budget) → lower candidate
    probability at the threshold; expected recall >= p_at_threshold
    (dup pairs sit at or above the threshold similarity)."""
    rows = sorted(
        all_queries()["dedup_lsh_tuning_curve"](spark, SF).collect(),
        key=lambda r: r["n_rows"],
    )
    ps = [r["p_at_threshold"] for r in rows]
    assert ps == sorted(ps, reverse=True)
    for r in rows:
        assert r["expected_recall"] >= r["p_at_threshold"]


def test_dp_topk_selection_properties(spark):
    """Exactly k rows at any SF, deterministic across calls, ranks
    contiguous from 1, and n_noisy within the geometric noise bound of
    n_true."""
    from kinesis2sse_spark.queries.privacy import DP_B, DP_TOPK_K

    a = all_queries()["privacy_dp_topk"](spark, SF).collect()
    b = all_queries()["privacy_dp_topk"](spark, SF).collect()
    assert a == b
    assert len(a) == DP_TOPK_K
    assert sorted(r["release_rank"] for r in a) == list(range(1, DP_TOPK_K + 1))
    for r in a:
        assert abs(r["n_noisy"] - r["n_true"]) <= DP_B


def test_wilson_ci_brackets_p_hat(spark):
    """Wilson interval must bracket p_hat and stay inside [0, 1]."""
    for r in all_queries()["stats_wilson_ci"](spark, SF).collect():
        assert 0.0 <= r["wilson_lo"] <= r["p_hat"] <= r["wilson_hi"] <= 1.0


def test_pagerank_prebuilt_matches_inline(spark):
    """The artifact probe twin must be output-identical to the inline
    rung (same helper, same oracle string object)."""
    qs = all_queries()
    inline = {tuple(r) for r in qs["graph_pagerank"](spark, SF).collect()}
    probe = {tuple(r) for r in qs["graph_pagerank_prebuilt"](spark, SF).collect()}
    assert inline == probe and len(inline) > 0
    o = all_oracles()
    assert o["graph_pagerank"] is o["graph_pagerank_prebuilt"]


@pytest.mark.parametrize(
    "name",
    [
        "graph_pagerank_prebuilt",
        "er_pairwise_f1",
        "privacy_dp_topk",
        "stats_wilson_ci",
        "mm_audio_vad",
        "dedup_edit_verify",
        "sim_recall_vs_probes",
        "sim_rbo_ivf_vs_exact",
        "timeseries_hurst_exponent",
        "dedup_lsh_tuning_curve",
    ],
)
def test_round13_ops_smoke_sf0001(spark, name):
    """Every r13 operator must run (and stay schema-stable) on the
    smoke fixture too."""
    df = all_queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0


# ---- second round-13 batch: survival / stump / agreement / trend ----


def _day(ts):
    return ts.astype("datetime64[us]").astype("int64") // 86_400_000_000


def test_mann_kendall_vs_numpy(spark):
    """Independent recompute: brute-force S and tie-corrected var on
    the day-aggregated series must match the query output per type."""
    import numpy as np

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet").dropna(subset=["ts"])
    ev["day"] = _day(ev["ts"].values)
    got = {
        r["event_type"]: r
        for r in all_queries()["stats_mann_kendall"](spark, SF_SMOKE).collect()
    }
    for et, grp in ev.groupby("event_type"):
        x = grp.groupby("day").size().sort_index().values.astype(np.int64)
        n = len(x)
        s = sum(
            np.sign(x[j] - x[i]) for i in range(n) for j in range(i + 1, n)
        )
        _, tc = np.unique(x, return_counts=True)
        var18 = n * (n - 1) * (2 * n + 5) - int(
            sum(t * (t - 1) * (2 * t + 5) for t in tc)
        )
        r = got[et]
        assert r["n_days"] == n and r["s_stat"] == s and r["var18"] == var18
        if var18 > 0:
            zed = (s - (1 if s > 0 else -1 if s < 0 else s)) / math.sqrt(
                var18 / 18.0
            )
            assert abs(r["z_stat"] - zed) < 2e-6


def test_krippendorff_alpha_vs_model(spark):
    """Independent recompute of nominal alpha from the same
    (user, type) -> band ratings."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["milli"] = (ev["value"] * 1000 + 0.5).apply(math.floor).astype("int64")
    r = ev.groupby(["user_id", "event_type"]).agg(
        sm=("milli", "sum"), cnt=("milli", "size")
    )
    r["c"] = (r["sm"] // (35000 * r["cnt"])).clip(upper=3)
    units = r.groupby("user_id")["c"]
    do_sum, n, nc = 0.0, 0, {}
    for _, cs in units:
        m = len(cs)
        if not (2 <= m <= 10):
            continue
        n += m
        vc = cs.value_counts()
        for cat, cnt in vc.items():
            nc[cat] = nc.get(cat, 0) + cnt
            do_sum += cnt * (m - cnt) / (m - 1)
    de = (n * n - sum(v * v for v in nc.values())) / (n * (n - 1))
    alpha = 1.0 - (do_sum / n) / de
    row = all_queries()["stats_krippendorff_alpha"](spark, SF_SMOKE).collect()[0]
    assert row["n_ratings"] == n
    assert abs(row["alpha"] - alpha) < 2e-6


def test_tost_consistent_with_welch(spark):
    """TOST reuses the Welch contrast: mean_diff must match
    stats_welch_ttest's, and t_lower + t_upper == 2*margin/se implies
    (t_lower + t_upper) * mean-diff-free identity holds."""
    w = all_queries()["stats_welch_ttest"](spark, SF).collect()[0]
    t = all_queries()["stats_tost_equivalence"](spark, SF).collect()[0]
    assert t["n_group1"] == w["n_group1"] and t["n_group0"] == w["n_group0"]
    assert abs(t["mean_diff"] - w["mean_diff"]) < 2e-6
    # se implied by each side agrees: (t_lower - t_upper) = 2*diff/se
    if w["t_stat"] is not None:
        se_w = w["mean_diff"] / w["t_stat"]
        assert abs((t["t_lower"] - t["t_upper"]) - 2 * t["mean_diff"] / se_w) < 1e-3


def test_ccf_lag0_is_pearson(spark):
    """At lag 0 the CCF must equal numpy's Pearson r on the dense
    daily series; all values must lie in [-1, 1]."""
    import numpy as np

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet").dropna(subset=["ts"])
    ev["day"] = _day(ev["ts"].values)
    lo, hi = ev["day"].min(), ev["day"].max()
    idx = range(lo, hi + 1)
    series = {
        et: grp.groupby("day").size().reindex(idx, fill_value=0).values
        for et, grp in ev.groupby("event_type")
    }
    out = all_queries()["timeseries_cross_correlation"](spark, SF_SMOKE).collect()
    assert all(r["ccf"] is None or -1.0 <= r["ccf"] <= 1.0 for r in out)
    for r in out:
        if r["lag"] == 0 and r["ccf"] is not None:
            expect = np.corrcoef(series[r["type_a"]], series[r["type_b"]])[0, 1]
            assert abs(r["ccf"] - expect) < 2e-6


def test_kaplan_meier_curve_properties(spark):
    """Survival must start <= 1, be non-increasing in t, and match an
    independent KM recompute on the per-(user,type) lifetimes."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet").dropna(subset=["ts"])
    ev["day"] = _day(ev["ts"].values)
    u = ev.groupby(["user_id", "event_type"])["day"].agg(["min", "max"])
    horizon = u["max"].max()
    t = (u["max"] - u["min"]).values
    died = (u["max"] <= horizon - 3).astype(int).values
    rows = sorted(
        all_queries()["ml_kaplan_meier"](spark, SF_SMOKE).collect(),
        key=lambda r: r["t_days"],
    )
    surv, prev = {}, 1.0
    import numpy as np

    for td in sorted(set(t)):
        n_risk = int((t >= td).sum())
        d = int(died[t == td].sum())
        if 0 < d < n_risk:
            prev *= 1.0 - d / n_risk
        elif d >= n_risk and d > 0:
            prev = 0.0
        surv[td] = prev
    last = 1.0 + 1e-12
    for r in rows:
        assert r["survival"] <= last + 2e-6
        last = r["survival"]
        assert abs(r["survival"] - surv[r["t_days"]]) < 2e-6


def test_decision_stump_vs_bruteforce(spark):
    """Brute-force the best Gini split over the scored vectors and
    compare threshold + gain + side counts."""
    import numpy as np

    from kinesis2sse_spark.queries.ml_eval import _scored

    sc = _scored(spark, SF_SMOKE).toPandas()
    s = sc["s"].values
    pos = sc["pos"].values
    order = np.argsort(s, kind="stable")
    su, idx = np.unique(s[order], return_index=True)
    # cumulative counts per distinct score
    csum = np.arange(1, len(s) + 1)
    psum = np.cumsum(pos[order])
    ends = np.append(idx[1:], len(s)) - 1
    ml, pl = csum[ends], psum[ends]
    n, p = len(s), int(pos.sum())
    mr, pr = n - ml, p - pl
    keep = mr > 0
    su, ml, pl, mr, pr = su[keep], ml[keep], pl[keep], mr[keep], pr[keep]
    j = (pl**2 + (ml - pl) ** 2) / ml + (pr**2 + (mr - pr) ** 2) / mr
    jq = np.floor(j / n * 1e9 + 0.5)
    best = np.lexsort((su, -jq))[0]
    row = all_queries()["ml_decision_stump"](spark, SF_SMOKE).collect()[0]
    assert row["split_threshold"] == su[best]
    assert row["n_left"] == ml[best] and row["pos_left"] == pl[best]
    gain = j[best] / n - (p / n) ** 2 - ((n - p) / n) ** 2
    assert abs(row["gini_gain"] - gain) < 2e-6


@pytest.mark.parametrize(
    "name",
    [
        "stats_mann_kendall",
        "stats_krippendorff_alpha",
        "stats_tost_equivalence",
        "timeseries_cross_correlation",
        "ml_kaplan_meier",
        "ml_decision_stump",
    ],
)
def test_round13b_ops_smoke_sf0001(spark, name):
    df = all_queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0


def test_dp_quantile_mechanism_properties(spark):
    """The selected candidate's utility must be within the Gumbel
    perturbation of the best utility (sanity), and with the noise
    removed the argmax of the pure score is the true lattice median."""
    import numpy as np

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    c = ev.groupby("user_id").size().values
    n = len(c)
    cells = np.minimum(100, c // 10)
    ranks = np.array([(cells <= ci).sum() for ci in range(101)])
    u = -np.abs(2 * ranks - n)
    row = all_queries()["privacy_dp_quantile"](spark, SF_SMOKE).collect()[0]
    assert row["n_users"] == n
    ci = row["dp_median"] // 10
    assert row["utility"] == u[ci]
    # noise-free argmax = a true median cell (u == max(u) there)
    assert u[ci] <= 0 and u.max() <= 0


def test_feature_hashing_unbiased_and_conserving(spark):
    """Per source, sum over buckets of n_terms must equal the distinct
    token count of that source, and a sign-flipped hash leaves |feat|
    bounded by total token occurrences."""
    out = all_queries()["text_feature_hashing"](spark, SF_SMOKE).toPandas()
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    for src, grp in docs.groupby("source"):
        toks = set()
        total = 0
        for t in grp["text"]:
            ws = [w for w in t.split(" ") if w]
            toks.update(ws)
            total += len(ws)
        sub = out[out["source"] == src]
        assert sub["n_terms"].sum() == len(toks)
        assert sub["feat"].abs().sum() <= total
        assert sub["bucket"].between(0, 63).all()


def test_fleiss_kappa_vs_model(spark):
    """Independent recompute of Fleiss' kappa from the same band
    ratings."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["milli"] = (ev["value"] * 1000 + 0.5).apply(math.floor).astype("int64")
    r = ev.groupby(["user_id", "event_type"]).agg(
        sm=("milli", "sum"), cnt=("milli", "size")
    )
    r["c"] = (r["sm"] // (35000 * r["cnt"])).clip(upper=3)
    m = 5
    units = [cs for _, cs in r.groupby("user_id")["c"] if len(cs) == m]
    n_units = len(units)
    p_is, nc = [], {}
    sum_sq = 0
    for cs in units:
        vc = cs.value_counts()
        sum_sq += int((vc**2).sum())
        for cat, cnt in vc.items():
            nc[cat] = nc.get(cat, 0) + cnt
    p_bar = (sum_sq - n_units * m) / (n_units * m * (m - 1))
    p_e = sum(v * v for v in nc.values()) / (n_units * m) ** 2
    kappa = (p_bar - p_e) / (1 - p_e)
    row = all_queries()["stats_fleiss_kappa"](spark, SF_SMOKE).collect()[0]
    assert row["n_units"] == n_units and row["sum_sq"] == sum_sq
    assert abs(row["p_bar"] - p_bar) < 2e-6
    assert abs(row["kappa"] - kappa) < 2e-6


def test_class_balance_exact_counts(spark):
    """Every label must appear exactly min-class-count times, and the
    kept set must be the hash-order prefix of each class."""
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")[["vec_id", "label"]]
    sizes = emb.groupby("label").size()
    n_min = int(sizes.min())
    out = all_queries()["sample_class_balance"](spark, SF_SMOKE).toPandas()
    got_sizes = out.groupby("label").size()
    assert (got_sizes == n_min).all() and set(got_sizes.index) == set(sizes.index)
    emb["h"] = ((emb["vec_id"] + 1) * 2654435761) % 2147483648
    for lbl, grp in emb.groupby("label"):
        expect = set(
            grp.sort_values(["h", "vec_id"]).head(n_min)["vec_id"]
        )
        assert set(out[out["label"] == lbl]["vec_id"]) == expect


@pytest.mark.parametrize(
    "name",
    [
        "privacy_dp_quantile",
        "text_feature_hashing",
        "stats_fleiss_kappa",
        "sample_class_balance",
    ],
)
def test_round13c_ops_smoke_sf0001(spark, name):
    df = all_queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0


def test_phash_properties_and_locality(spark):
    """pHash invariants: 63-bit range, n_bits = popcount(phash) and
    <= 31 (strict-majority bits above the rank-32 median); a one-byte
    perturbation of a payload must flip few bits (locality), while
    distinct documents typically differ in many."""
    out = all_queries()["mm_image_phash"](spark, SF_SMOKE).toPandas()
    assert (out["phash"] >= 0).all()
    pop = out["phash"].apply(lambda h: bin(h).count("1"))
    assert (pop == out["n_bits"]).all()
    assert (out["n_bits"] <= 31).all()
    # locality probe via the same integer DCT in numpy
    import numpy as np

    from kinesis2sse_spark.queries.multimodal import PH_COSTAB, PH_N, PH_PIX

    C = np.array(PH_COSTAB, dtype=np.int64).reshape(8, PH_N)

    def ph(b):
        P = np.frombuffer(b[:PH_PIX], dtype=np.uint8).astype(np.int64).reshape(PH_N, PH_N)
        Fm = np.einsum("ux,xy,vy->uv", C, P, C).reshape(64)
        ac = Fm[1:]
        med = np.sort(ac)[31]
        return (ac > med)

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    long_docs = docs[docs["text"].str.len() >= PH_PIX].head(5)
    for t in long_docs["text"]:
        b = t.encode()
        base = ph(b)
        mut = bytearray(b[:PH_PIX])
        mut[100] = (mut[100] + 1) % 128
        flipped = int((base != ph(bytes(mut))).sum())
        assert flipped <= 8, flipped  # tiny perturbation, near-identical hash


def test_round13d_phash_smoke(spark):
    assert all_queries()["mm_image_phash"](spark, SF_SMOKE).count() >= 0


# ---- third round-13 batch: anova / mcnemar / friedman / srm / NB / etc. ----


def test_anova_vs_numpy(spark):
    """F statistic must match a direct numpy computation on the same
    milli-quantized values."""
    import numpy as np

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["value"].notna()]
    v = np.floor(pdf["value"].to_numpy() * 1000 + 0.5)
    g = pdf["event_type"].to_numpy()
    groups = [v[g == t] for t in np.unique(g)]
    k, n = len(groups), len(v)
    gm = v.mean()
    ssb = sum(len(x) * (x.mean() - gm) ** 2 for x in groups)
    ssw = sum(((x - x.mean()) ** 2).sum() for x in groups)
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    r = all_queries()["stats_anova_oneway"](spark, SF).collect()[0]
    assert r["n_rows"] == n and r["n_groups"] == k
    assert r["df_between"] == k - 1 and r["df_within"] == n - k
    assert abs(r["f_stat"] - f_ref) < 1e-4


def test_mcnemar_model(spark):
    """Contingency counts and both chi-square forms replay from pandas."""
    import json

    import numpy as np

    from kinesis2sse_spark.queries.aggregates import MCNEMAR_VALUE_T

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["value"].notna() & pdf["props"].notna()]
    a = (pdf["value"] > MCNEMAR_VALUE_T).to_numpy()
    b = pdf["props"].map(lambda s: json.loads(s).get("k", None) is not None
                         and json.loads(s)["k"] >= 50).to_numpy()
    n01 = int((~a & b).sum())
    n10 = int((a & ~b).sum())
    r = all_queries()["stats_mcnemar"](spark, SF).collect()[0]
    assert (r["n01"], r["n10"]) == (n01, n10)
    assert r["n00"] + r["n01"] + r["n10"] + r["n11"] == len(pdf)
    if n01 + n10 > 0:
        assert abs(r["chi2"] - (n01 - n10) ** 2 / (n01 + n10)) < 1e-5
        cc = max(abs(n01 - n10) - 1, 0) ** 2 / (n01 + n10)
        assert abs(r["chi2_cc"] - cc) < 1e-5


def test_friedman_vs_model(spark):
    """Tie-corrected Friedman statistic must match a direct
    average-rank computation over complete blocks."""
    import numpy as np

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["value"].notna()].copy()
    pdf["v"] = np.floor(pdf["value"] * 1000 + 0.5).astype("int64")
    m = pdf.groupby(["user_id", "event_type"])["v"].sum().reset_index()
    k = m["event_type"].nunique()
    cnt = m.groupby("user_id")["event_type"].count()
    complete = cnt[cnt == k].index
    m = m[m["user_id"].isin(complete)]
    # average ranks within block
    m["rnk"] = m.groupby("user_id")["v"].rank(method="average")
    n = m["user_id"].nunique()
    rj = m.groupby("event_type")["rnk"].sum()
    a_mom = (m["rnk"] ** 2).sum()
    c_mom = n * k * (k + 1) ** 2 / 4.0
    num = (k - 1) * ((rj - n * (k + 1) / 2.0) ** 2).sum()
    ref = num / (a_mom - c_mom)
    r = all_queries()["stats_friedman"](spark, SF).collect()[0]
    assert r["n_blocks"] == n and r["n_treatments"] == k and r["df"] == k - 1
    assert abs(r["friedman_stat"] - ref) < 1e-4


def test_srm_identities(spark):
    """Arms partition the user set; chi2 is the exact 2-arm form; the
    hash assignment replays in python (overflow-free int math)."""
    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    users = pdf["user_id"].unique()
    arms = [((int(u) + 1) * 2654435761) % 1000000007 % 2 for u in users]
    n0, n1 = arms.count(0), arms.count(1)
    r = all_queries()["stats_srm_check"](spark, SF).collect()[0]
    assert (r["users_arm0"], r["users_arm1"]) == (n0, n1)
    assert r["events_arm0"] + r["events_arm1"] == int(pdf["value"].notna().sum())
    chi = (n0 - n1) ** 2 / (n0 + n1)
    assert abs(r["srm_chi2"] - chi) < 1e-5
    assert r["srm_detected"] == (chi > 3.841459)


def test_log_loss_vs_numpy(spark):
    """Per-label mean log loss must match numpy's stable formulation
    on the exact lattice scores."""
    import numpy as np

    from kinesis2sse_spark.queries.ml_eval import (
        EVAL_POS_LABEL_MIN,
        LOGLOSS_Z_DIV,
    )

    pdf = pd.read_parquet(os.path.join(SF, "embeddings.parquet"))
    emb = np.stack(pdf["embedding"].to_numpy())
    wq = np.floor(emb.astype("float64") * 1e6 + 0.5).astype("int64")
    w = ((np.arange(1, emb.shape[1] + 1, dtype="int64") * 2654435761)
         % 1000000007) % 2001 - 1000
    s = (wq * w).sum(axis=1)
    z = s / LOGLOSS_Z_DIV
    y = (pdf["label"].to_numpy() >= EVAL_POS_LABEL_MIN).astype("int64")
    loss = np.where(y == 1, np.log1p(np.exp(-z)), np.log1p(np.exp(z)))
    out = {r["label"]: r for r in all_queries()["ml_log_loss"](spark, SF).collect()}
    for lab in np.unique(pdf["label"].to_numpy()):
        sel = pdf["label"].to_numpy() == lab
        assert out[lab]["n"] == int(sel.sum())
        assert abs(out[lab]["mean_log_loss"] - loss[sel].mean()) < 1e-4


def test_naive_bayes_train_model(spark):
    """Smoothed log-likelihoods replay from raw counts; exactly <= 50
    terms per language, ordered by count."""
    import math as _m

    rows = all_queries()["ml_naive_bayes_train"](spark, SF).collect()
    pdf = pd.read_parquet(os.path.join(SF, "documents.parquet"))
    pdf = pdf[pdf["text"].notna() & pdf["lang"].notna()]
    toks = pdf.assign(term=pdf["text"].str.split(" ")).explode("term")
    toks = toks[toks["term"] != ""]
    nlt = toks.groupby(["lang", "term"]).size()
    tl = toks.groupby("lang").size()
    v = toks["term"].nunique()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r["lang"], []).append(r)
        want = _m.floor(
            _m.log((nlt[(r["lang"], r["term"])] + 1.0) / (tl[r["lang"]] + v))
            * 1e12 + 0.5
        )
        assert r["llp"] == want
        assert r["n_term"] == nlt[(r["lang"], r["term"])]
    for lang, rs in per_lang.items():
        assert len(rs) <= 50
        cnts = sorted((r["n_term"] for r in rs), reverse=True)
        assert cnts == [r["n_term"] for r in sorted(rs, key=lambda r: (-r["n_term"], r["term"]))]


def test_naive_bayes_confusion_totals(spark):
    """The confusion matrix partitions the labeled docs, and
    self-classification beats the majority-class baseline (the model
    actually learned something separable)."""
    rows = all_queries()["ml_naive_bayes_confusion"](spark, SF).collect()
    pdf = pd.read_parquet(os.path.join(SF, "documents.parquet"))
    pdf = pdf[pdf["text"].notna() & pdf["lang"].notna()]
    assert sum(r["n_docs"] for r in rows) == len(pdf)
    langs = set(pdf["lang"].unique())
    assert {r["actual"] for r in rows} <= langs
    assert {r["predicted"] for r in rows} <= langs
    correct = sum(r["n_docs"] for r in rows if r["actual"] == r["predicted"])
    majority = pdf["lang"].value_counts().max()
    assert correct >= majority


def test_perm_entropy_bounds(spark):
    """Entropy within [0, ln 8]; triple count = dense day span - 2 for
    every type (the spine densifies all of them identically)."""
    import math as _m

    rows = all_queries()["timeseries_permutation_entropy"](spark, SF).collect()
    assert len(rows) > 0
    spans = {r["n_triples"] for r in rows}
    assert len(spans) == 1  # shared dense spine
    for r in rows:
        assert 0.0 <= r["perm_entropy"] <= _m.log(8) + 1e-9
        assert 1 <= r["n_codes"] <= 8


def test_heaps_law_consistency(spark):
    """Totals match direct counts, and beta matches a numpy OLS over
    the same id-range decile growth curve. (On this fixture the
    whitespace vocab saturates in decile 0 — beta == 0 — which is
    precisely the synthetic-corpus signal the diagnostic exists to
    raise; natural corpora land in ~[0.4, 0.6].)"""
    import numpy as np

    r = all_queries()["text_heaps_law"](spark, SF).collect()[0]
    pdf = pd.read_parquet(os.path.join(SF, "documents.parquet"))
    pdf = pdf[pdf["text"].notna()].copy()
    lo, hi = pdf["doc_id"].min(), pdf["doc_id"].max()
    pdf["dec"] = np.minimum(9, (10 * (pdf["doc_id"] - lo)) // (hi - lo + 1))
    toks = pdf.assign(tok=pdf["text"].str.split(" ")).explode("tok")
    toks = toks[toks["tok"] != ""]
    assert r["total_tokens"] == len(toks)
    assert r["vocab_size"] == toks["tok"].nunique()
    assert r["n_checkpoints"] == 10
    n_cum = toks.groupby("dec").size().sort_index().cumsum().to_numpy()
    first = toks.groupby("tok")["dec"].min()
    v_new = first.value_counts().reindex(range(10), fill_value=0)
    v_cum = v_new.sort_index().cumsum().reindex(
        sorted(toks["dec"].unique())
    ).to_numpy()
    x, y = np.log(n_cum), np.log(v_cum)
    beta = np.polyfit(x, y, 1)[0]
    assert abs(r["heaps_beta"] - beta) < 1e-4
    assert 0.0 <= r["heaps_beta"] < 1.0


@pytest.mark.parametrize(
    "name",
    [
        "stats_anova_oneway",
        "stats_mcnemar",
        "stats_friedman",
        "stats_srm_check",
        "ml_log_loss",
        "ml_naive_bayes_train",
        "ml_naive_bayes_confusion",
        "timeseries_permutation_entropy",
        "text_heaps_law",
    ],
)
def test_round13_batch3_smoke_sf0001(spark, name):
    df = all_queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0


# ---- fourth round-13 batch: closeness / CvM / AC1 / SAX / peaks / entropy ---


def test_closeness_invariants(spark):
    """Seeds are the lowest artifact node ids; closeness <= 1;
    harmonic <= n_reached <= harmonic * max_hops (d in [1, 16])."""
    rows = all_queries()["graph_closeness_centrality"](spark, SF).collect()
    assert 0 < len(rows) <= 5
    for r in rows:
        assert r["sum_dist"] >= r["n_reached"]
        assert r["closeness"] <= 1.0 + 1e-9
        assert r["harmonic"] <= r["n_reached"] + 1e-6
        assert r["harmonic"] >= r["n_reached"] / 16 - 1e-6


def test_cvm_vs_numpy(spark):
    """T must match the rank-form computation with average pooled
    ranks and per-sample position indices."""
    import numpy as np

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["event_type"].isin(["click", "view"]) & pdf["value"].notna()]
    pooled = pdf["value"].rank(method="average")
    a = np.sort(pooled[pdf["event_type"] == "click"].to_numpy())
    b = np.sort(pooled[pdf["event_type"] == "view"].to_numpy())
    n, m = len(a), len(b)
    u = n * ((a - np.arange(1, n + 1)) ** 2).sum() + m * (
        (b - np.arange(1, m + 1)) ** 2
    ).sum()
    t_ref = u / (n * m * (n + m)) - (4.0 * n * m - 1) / (6.0 * (n + m))
    r = all_queries()["stats_cvm_two_sample"](spark, SF).collect()[0]
    assert (r["n_a"], r["n_b"]) == (n, m)
    assert abs(r["cvm_t"] - t_ref) < 1e-4


def test_gwet_ac1_vs_model(spark):
    """p_a must equal Fleiss' p_bar on the shared rater matrix, and
    AC1 must replay from the python chance model."""
    qs = all_queries()
    g = qs["stats_gwet_ac1"](spark, SF).collect()[0]
    f = qs["stats_fleiss_kappa"](spark, SF).collect()[0]
    assert g["n_units"] == f["n_units"] and g["sum_sq"] == f["sum_sq"]
    assert abs(g["p_a"] - f["p_bar"]) < 1e-9
    ac1 = (g["p_a"] - g["p_e_gamma"]) / (1.0 - g["p_e_gamma"])
    assert abs(g["ac1"] - ac1) < 2e-6


def test_sax_vs_pandas_model(spark):
    """The SAX word replays from a full pandas reimplementation of
    z-normalize -> PAA -> Gaussian-breakpoint binning."""
    import numpy as np

    rows = {
        r["event_type"]: r
        for r in all_queries()["timeseries_sax"](spark, SF).collect()
    }
    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["ts"].notna()].copy()
    pdf["day"] = pdf["ts"].astype("datetime64[us]").astype("int64") // 86_400_000_000
    lo, hi = pdf["day"].min(), pdf["day"].max()
    length = hi - lo + 1
    for et, g in pdf.groupby("event_type"):
        x = np.zeros(length)
        cnt = g.groupby("day").size()
        x[cnt.index.to_numpy() - lo] = cnt.to_numpy()
        z = (x - x.mean()) / np.sqrt(((x - x.mean()) ** 2).mean())
        segs = (8 * np.arange(length)) // length
        word = ""
        for s in range(8):
            zv = z[segs == s].mean()
            word += "abcd"[int(np.searchsorted([-0.6745, 0.0, 0.6745], zv, "right"))]
        assert rows[et]["sax_word"] == word, (et, rows[et]["sax_word"], word)
        assert rows[et]["n_segments"] == 8


def test_peak_detection_vs_pandas(spark):
    """Peak set and excess heights replay from the dense series."""
    import numpy as np

    rows = all_queries()["timeseries_peak_detection"](spark, SF).collect()
    got = {(r["event_type"], r["day"]): (r["height"], r["left_excess"], r["right_excess"]) for r in rows}
    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["ts"].notna()].copy()
    pdf["day"] = pdf["ts"].astype("datetime64[us]").astype("int64") // 86_400_000_000
    lo, hi = pdf["day"].min(), pdf["day"].max()
    length = hi - lo + 1
    want = {}
    for et, g in pdf.groupby("event_type"):
        x = np.full(length, 0, dtype="int64")
        cnt = g.groupby("day").size()
        x[cnt.index.to_numpy() - lo] = cnt.to_numpy()
        pad = np.concatenate([[-1, -1], x, [-1, -1]])
        for i in range(length):
            lmax = max(pad[i], pad[i + 1])
            rmax = max(pad[i + 3], pad[i + 4])
            if x[i] > lmax and x[i] > rmax:
                want[(et, lo + i)] = (x[i], x[i] - lmax, x[i] - rmax)
    assert got == want


def test_payload_entropy_vs_numpy(spark):
    """Per-doc entropy matches numpy on a sample; uniform upper bound
    ln(n_distinct) holds everywhere."""
    import math as _m

    import numpy as np

    rows = all_queries()["mm_payload_entropy"](spark, SF).collect()
    pdf = pd.read_parquet(os.path.join(SF, "documents.parquet")).set_index("doc_id")
    by_id = {r["doc_id"]: r for r in rows}
    assert len(rows) == int(pdf["text"].notna().sum())
    for doc_id in list(by_id)[:25]:
        txt = pdf.loc[doc_id, "text"]
        vals, cnts = np.unique(list(txt), return_counts=True)
        p = cnts / cnts.sum()
        ref = float(-(p * np.log(p)).sum())
        r = by_id[doc_id]
        assert r["n_symbols"] == len(txt)
        assert r["n_distinct"] == len(vals)
        assert abs(r["byte_entropy"] - ref) < 1e-4
        assert r["byte_entropy"] <= _m.log(r["n_distinct"]) + 1e-6


@pytest.mark.parametrize(
    "name",
    [
        "graph_closeness_centrality",
        "stats_cvm_two_sample",
        "stats_gwet_ac1",
        "timeseries_sax",
        "timeseries_peak_detection",
        "mm_payload_entropy",
    ],
)
def test_round13_batch4_smoke_sf0001(spark, name):
    df = all_queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0


# ---- fifth round-13 batch: dunn / cochran / granger / cosine histogram -----


def test_dunn_vs_model(spark):
    """Every pairwise z replays from pandas average ranks with the
    tie-corrected pooled variance."""
    import numpy as np

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["value"].notna()].copy()
    pdf["v"] = np.floor(pdf["value"] * 1000 + 0.5).astype("int64")
    pdf["rnk"] = pdf["v"].rank(method="average")
    n = len(pdf)
    vc = pdf["v"].value_counts()
    tie = float((vc**3 - vc).sum())
    varp = n * (n + 1) / 12.0 - tie / (12.0 * (n - 1))
    mean_rank = pdf.groupby("event_type")["rnk"].mean()
    sizes = pdf.groupby("event_type").size()
    rows = all_queries()["stats_dunn_posthoc"](spark, SF).collect()
    k = len(sizes)
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        za = (mean_rank[r["type_a"]] - mean_rank[r["type_b"]]) / math.sqrt(
            varp * (1.0 / sizes[r["type_a"]] + 1.0 / sizes[r["type_b"]])
        )
        assert abs(r["z_stat"] - za) < 1e-4
        assert r["n_comparisons"] == k * (k - 1) // 2
        assert (r["n_a"], r["n_b"]) == (sizes[r["type_a"]], sizes[r["type_b"]])


def test_cochran_q_vs_model(spark):
    """Q replays from the pandas binary block matrix."""
    import numpy as np

    from kinesis2sse_spark.queries.aggregates import COCHRAN_T

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["value"].notna()].copy()
    pdf["v"] = np.floor(pdf["value"] * 1000 + 0.5).astype("int64")
    m = (pdf.groupby(["user_id", "event_type"])["v"].sum() > COCHRAN_T).unstack()
    m = m.dropna()  # complete blocks only
    x = m.to_numpy().astype("int64")
    n, k = x.shape
    cj, ru, s = x.sum(axis=0), x.sum(axis=1), x.sum()
    q_ref = (k - 1) * (k * (cj**2).sum() - s**2) / (k * s - (ru**2).sum())
    r = all_queries()["stats_cochran_q"](spark, SF).collect()[0]
    assert (r["n_blocks"], r["n_treatments"], r["df"]) == (n, k, k - 1)
    assert abs(r["cochran_q"] - q_ref) < 1e-4


def test_granger_vs_numpy(spark):
    """The F statistic replays from numpy least squares for every
    directed pair (restricted vs full SSE)."""
    import numpy as np

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["ts"].notna()].copy()
    pdf["day"] = pdf["ts"].astype("datetime64[us]").astype("int64") // 86_400_000_000
    lo, hi = pdf["day"].min(), pdf["day"].max()
    length = hi - lo + 1
    series = {}
    for et, g in pdf.groupby("event_type"):
        x = np.zeros(length)
        cnt = g.groupby("day").size()
        x[cnt.index.to_numpy() - lo] = cnt.to_numpy()
        series[et] = x
    rows = all_queries()["timeseries_granger_lead"](spark, SF).collect()
    assert len(rows) == len(series) * (len(series) - 1)
    for r in rows:
        xa, xb = series[r["cause_type"]], series[r["effect_type"]]
        z, u, w = xb[1:], xb[:-1], xa[:-1]
        t = len(z)
        xr = np.column_stack([np.ones(t), u])
        xf = np.column_stack([np.ones(t), u, w])
        sser = ((z - xr @ np.linalg.lstsq(xr, z, rcond=None)[0]) ** 2).sum()
        ssef = ((z - xf @ np.linalg.lstsq(xf, z, rcond=None)[0]) ** 2).sum()
        f_ref = (sser - ssef) / (ssef / (t - 3))
        assert r["n_samples"] == t and r["df_resid"] == t - 3
        assert abs(r["f_stat"] - f_ref) < 1e-3, (r, f_ref)


def test_cosine_histogram_model(spark):
    """Bucket fractions sum to ~1; pair count = vectors whose hash
    partner differs; a spot pair's cosine lands in its bucket."""
    import numpy as np

    rows = all_queries()["emb_cosine_histogram"](spark, SF).collect()
    pdf = pd.read_parquet(os.path.join(SF, "embeddings.parquet"))
    n = len(pdf)
    pid = (pdf["vec_id"].to_numpy() * 2654435761) % 1000000007 % n
    valid = pid != pdf["vec_id"].to_numpy()
    assert sum(r["n_pairs"] for r in rows) == int(valid.sum())
    assert abs(sum(r["frac"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0 <= r["bucket"] <= 19
    # spot-check: the first valid pair's cosine lands in a reported bucket
    i = int(np.argmax(valid))
    a = pdf.set_index("vec_id")
    va = np.array(a.loc[pdf["vec_id"].iloc[i], "embedding"], dtype="float64")
    vb = np.array(a.loc[int(pid[i]), "embedding"], dtype="float64")
    cs = round(float(va @ vb / np.sqrt((va @ va) * (vb @ vb))), 6)
    bucket = min(19, max(0, int(math.floor((cs + 1.0) * 10))))
    assert bucket in {r["bucket"] for r in rows}


@pytest.mark.parametrize(
    "name",
    [
        "stats_dunn_posthoc",
        "stats_cochran_q",
        "timeseries_granger_lead",
        "emb_cosine_histogram",
    ],
)
def test_round13_batch5_smoke_sf0001(spark, name):
    df = all_queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0


def test_streaming_srm_matches_batch(spark):
    """The streaming monitor's final counts and chi2 must equal the
    batch stats_srm_check user columns exactly."""
    qs = all_queries()
    s = qs["streaming_srm_monitor"](spark, SF).collect()[0]
    b = qs["stats_srm_check"](spark, SF).collect()[0]
    assert (s["users_arm0"], s["users_arm1"]) == (
        b["users_arm0"],
        b["users_arm1"],
    )
    assert s["srm_chi2"] == b["srm_chi2"]
    assert s["srm_detected"] == b["srm_detected"]


def test_streaming_srm_smoke_sf0001(spark):
    df = all_queries()["streaming_srm_monitor"](spark, SF_SMOKE)
    assert df.count() >= 0


# ---- sixth round-13 batch: platt / ks separation / mode --------------------


def test_platt_vs_numpy(spark):
    """The unrolled Newton ladder replays in numpy (same targets, same
    iteration count) and the fitted sigmoid calibrates: higher scores
    -> higher p, and the fit reduces loss vs the initial params."""
    import numpy as np

    from kinesis2sse_spark.queries.ml_eval import (
        EVAL_POS_LABEL_MIN,
        LOGLOSS_Z_DIV,
        PLATT_ITERS,
    )

    pdf = pd.read_parquet(os.path.join(SF, "embeddings.parquet"))
    emb = np.stack(pdf["embedding"].to_numpy())
    wq = np.floor(emb.astype("float64") * 1e6 + 0.5).astype("int64")
    wv = ((np.arange(1, emb.shape[1] + 1, dtype="int64") * 2654435761)
          % 1000000007) % 2001 - 1000
    z = (wq * wv).sum(axis=1) / LOGLOSS_Z_DIV
    y = (pdf["label"].to_numpy() >= EVAL_POS_LABEL_MIN).astype("float64")
    np_, nn_ = y.sum(), (1 - y).sum()
    tgt = np.where(y == 1, (np_ + 1) / (np_ + 2), 1.0 / (nn_ + 2))
    a, b = 1.0, math.log((nn_ + 1) / (np_ + 1))
    for _ in range(PLATT_ITERS):
        p = 1.0 / (1.0 + np.exp(-(a * z + b)))
        gx, gb = ((p - tgt) * z).sum(), (p - tgt).sum()
        hxx = (p * (1 - p) * z * z).sum()
        hxb = (p * (1 - p) * z).sum()
        hbb = (p * (1 - p)).sum()
        det = hxx * hbb - hxb * hxb
        a, b = a - (hbb * gx - hxb * gb) / det, b - (hxx * gb - hxb * gx) / det
    r = all_queries()["ml_platt_scaling"](spark, SF).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (int(np_), int(nn_))
    assert abs(r["platt_a"] - a) < 1e-3 and abs(r["platt_b"] - b) < 1e-3
    assert r["platt_a"] > 0  # calibration preserves score direction


def test_ks_separation_vs_numpy(spark):
    """KS = max CDF gap replayed from numpy; bounded by [0, 1] and
    consistent with AUC direction (AUC > 0.5 iff positives rank high)."""
    import numpy as np

    from kinesis2sse_spark.queries.ml_eval import EVAL_POS_LABEL_MIN

    pdf = pd.read_parquet(os.path.join(SF, "embeddings.parquet"))
    emb = np.stack(pdf["embedding"].to_numpy())
    wq = np.floor(emb.astype("float64") * 1e6 + 0.5).astype("int64")
    wv = ((np.arange(1, emb.shape[1] + 1, dtype="int64") * 2654435761)
          % 1000000007) % 2001 - 1000
    s = (wq * wv).sum(axis=1)
    y = pdf["label"].to_numpy() >= EVAL_POS_LABEL_MIN
    grid = np.unique(s)
    ca = np.searchsorted(np.sort(s[y]), grid, "right") / y.sum()
    cb = np.searchsorted(np.sort(s[~y]), grid, "right") / (~y).sum()
    ks_ref = np.abs(ca - cb).max()
    r = all_queries()["ml_ks_separation"](spark, SF).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (int(y.sum()), int((~y).sum()))
    assert abs(r["ks_stat"] - ks_ref) < 1e-5
    assert 0.0 <= r["ks_stat"] <= 1.0


def test_agg_mode_vs_pandas(spark):
    """Mode value/count/share replay per type with the smallest-value
    tie-break."""
    import numpy as np

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["value"].notna()].copy()
    pdf["v"] = np.floor(pdf["value"] * 1000 + 0.5).astype("int64")
    rows = {r["event_type"]: r for r in all_queries()["agg_mode"](spark, SF).collect()}
    for et, g in pdf.groupby("event_type"):
        vc = g["v"].value_counts()
        top = vc.max()
        mode_v = min(vc[vc == top].index)
        r = rows[et]
        assert r["mode_count"] == top
        assert abs(r["mode_value"] - mode_v / 1000) < 1e-6
        assert abs(r["mode_share"] - top / len(g)) < 1e-5


@pytest.mark.parametrize(
    "name",
    ["ml_platt_scaling", "ml_ks_separation", "agg_mode"],
)
def test_round13_batch6_smoke_sf0001(spark, name):
    df = all_queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0


# ---- seventh round-13 batch: preference pairs / regression metrics ---------


def test_preference_pairs_properties(spark):
    """Pairs respect margin, rank bounds, chosen-quality dominance, and
    per-group cardinality; chosen/rejected replay from the released
    quality relation."""
    from kinesis2sse_spark.queries.llm_text import (
        PREF_MIN_MARGIN,
        PREF_PAIRS_PER,
        text_quality_score,
    )

    qdf = {
        r["doc_id"]: r["quality"]
        for r in text_quality_score(spark, SF).collect()
    }
    rows = all_queries()["pipeline_preference_pairs"](spark, SF).collect()
    assert rows
    per_group = {}
    for r in rows:
        per_group.setdefault(r["source"], []).append(r)
        assert 1 <= r["pair_rank"] <= PREF_PAIRS_PER
        assert r["chosen_doc"] != r["rejected_doc"]
        got_margin = qdf[r["chosen_doc"]] - qdf[r["rejected_doc"]]
        assert got_margin >= PREF_MIN_MARGIN - 1e-9
        assert abs(r["margin"] - got_margin) < 2e-6
    for g, rs in per_group.items():
        assert len(rs) <= PREF_PAIRS_PER
        # rank-1 pair has the widest margin in its group
        m1 = [r["margin"] for r in rs if r["pair_rank"] == 1]
        if m1:
            assert m1[0] >= max(r["margin"] for r in rs) - 1e-9


def test_regression_metrics_vs_numpy(spark):
    """MAE/RMSE/R2/MAPE replay from numpy on the lattice values."""
    import json

    import numpy as np

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["value"].notna() & pdf["props"].notna()]
    k = pdf["props"].map(lambda s: json.loads(s).get("k"))
    pdf = pdf[k.notna()]
    k = k[k.notna()].astype("int64")
    ym = np.floor(pdf["value"].to_numpy() * 1000 + 0.5).astype("int64")
    fm = 500 * k.to_numpy() + 10000
    sel = ym > 0
    ym, fm = ym[sel], fm[sel]
    e = ym - fm
    r = all_queries()["ml_regression_metrics"](spark, SF).collect()[0]
    assert r["n"] == len(ym)
    assert abs(r["mae"] - np.abs(e).mean() / 1000) < 1e-4
    assert abs(r["rmse"] - np.sqrt((e.astype("float64") ** 2).mean()) / 1000) < 1e-4
    r2_ref = 1.0 - (e.astype("float64") ** 2).sum() / ((ym - ym.mean()) ** 2).sum()
    assert abs(r["r2"] - r2_ref) < 1e-4
    assert abs(r["mape"] - (np.abs(e) / ym).mean()) < 1e-4


@pytest.mark.parametrize(
    "name", ["pipeline_preference_pairs", "ml_regression_metrics"]
)
def test_round13_batch7_smoke_sf0001(spark, name):
    df = all_queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0


def test_global_stat_folds_emit_on_empty(spark, tmp_path, monkeypatch):
    """Kruskal-Wallis / Friedman / Platt must emit their single
    summary row on EMPTY input exactly like their oracles' ungrouped
    aggregates do (the keyed-groupBy-over-empty divergence class
    caught by the round-13 empty audit)."""
    import pyarrow.parquet as _pq

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    d = str(tmp_path / "k2s_empty_stats")
    os.makedirs(d)
    for t in ("events", "embeddings"):
        tbl = _pq.read_table(f"/root/testdata/sf0.001/{t}.parquet").slice(0, 0)
        _pq.write_table(tbl, os.path.join(d, f"{t}.parquet"))
    qs = all_queries()
    for name in ("stats_kruskal_wallis", "stats_friedman", "ml_platt_scaling"):
        rows = qs[name](spark, d).collect()
        assert len(rows) == 1, (name, rows)


# ---- eighth round-13 batch: two-proportion z / Page-Hinkley ----------------


def test_two_proportion_z_vs_model(spark):
    """Counts and z replay from pandas with the pooled-variance form;
    arms consistent with stats_srm_check."""
    import numpy as np

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    from kinesis2sse_spark.queries.aggregates import TWO_PROP_VALUE_T

    pdf["hit"] = (pdf["event_type"] == "purchase") & (
        pdf["value"] > TWO_PROP_VALUE_T
    )
    u = pdf.groupby("user_id")["hit"].any()
    arms = ((u.index.to_numpy() + 1) * 2654435761) % 1000000007 % 2
    conv = u.to_numpy()
    n0, n1 = int((arms == 0).sum()), int((arms == 1).sum())
    c0 = int(conv[arms == 0].sum())
    c1 = int(conv[arms == 1].sum())
    r = all_queries()["stats_two_proportion_z"](spark, SF).collect()[0]
    assert (r["users_arm0"], r["users_arm1"]) == (n0, n1)
    assert (r["conv_arm0"], r["conv_arm1"]) == (c0, c1)
    pp = (c0 + c1) / (n0 + n1)
    z = (c0 / n0 - c1 / n1) / math.sqrt(pp * (1 - pp) * (1 / n0 + 1 / n1))
    assert abs(r["z_stat"] - z) < 1e-5
    srm = all_queries()["stats_srm_check"](spark, SF).collect()[0]
    assert (srm["users_arm0"], srm["users_arm1"]) == (n0, n1)


def test_page_hinkley_vs_model(spark):
    """max PH and alarm day replay from a sequential python walk of
    the same lattice-quantized deviations."""
    import numpy as np

    from kinesis2sse_spark.queries.timeseries import PH_DELTA, PH_LAMBDA

    pdf = pd.read_parquet(os.path.join(SF, "events.parquet"))
    pdf = pdf[pdf["ts"].notna()].copy()
    pdf["day"] = pdf["ts"].astype("datetime64[us]").astype("int64") // 86_400_000_000
    lo, hi = pdf["day"].min(), pdf["day"].max()
    length = hi - lo + 1
    rows = {r["event_type"]: r for r in
            all_queries()["timeseries_page_hinkley"](spark, SF).collect()}
    for et, g in pdf.groupby("event_type"):
        x = np.zeros(length, dtype="int64")
        cnt = g.groupby("day").size()
        x[cnt.index.to_numpy() - lo] = cnt.to_numpy()
        pre, m, mmin, max_ph, alarm = 0, 0, 0, 0, None
        for i in range(length):
            pre += int(x[i])
            dev = math.floor((x[i] - pre / (i + 1) - PH_DELTA) * 1e12 + 0.5)
            m += dev
            mmin = min(mmin, m)
            ph = m - mmin
            max_ph = max(max_ph, ph)
            if alarm is None and ph / 1e12 > PH_LAMBDA:
                alarm = lo + i
        r = rows[et]
        assert r["n_days"] == length
        assert abs(r["max_ph"] - max_ph / 1e12) < 1e-5
        assert r["alarm_day"] == alarm
        assert r["drift_detected"] == (alarm is not None)


@pytest.mark.parametrize(
    "name", ["stats_two_proportion_z", "timeseries_page_hinkley"]
)
def test_round13_batch8_smoke_sf0001(spark, name):
    df = all_queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0
