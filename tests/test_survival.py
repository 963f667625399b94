"""plans/survival.py: independent sequential Python recounts and
structural invariants beyond the DuckDB value oracle (McNemar's paired
test, propensity caliper matching)."""

from __future__ import annotations

import math

import pandas as pd

SF = "/root/testdata/sf0.001"


def test_mcnemar_recount(spark):
    from clinical_data_platform_spark.plans.survival import mcnemar_filter_test

    got = {r.lang: r for r in mcnemar_filter_test(spark, SF).collect()}
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    for lang, grp in docs.groupby("lang"):
        a_only = b_only = n = 0
        for r in grp.itertuples():
            text = r.text
            sym = sum(1 for ch in text if not (ch.isalnum() or ch.isspace()))
            ra = 1 if sym / max(len(text), 1) <= 0.1 else 0
            ws = text.strip().split()
            mean_len = sum(len(w) for w in ws) / len(ws) if ws else 0.0
            rb = 1 if len(ws) >= 20 and 3.0 <= mean_len <= 12.0 else 0
            n += 1
            a_only += ra * (1 - rb)
            b_only += (1 - ra) * rb
        r = got[lang]
        assert (r.n, r.a_only, r.b_only) == (n, a_only, b_only), lang
        disc = a_only + b_only
        chi2 = (abs(a_only - b_only) - 1.0) ** 2 / disc if disc else 0.0
        assert abs(r.chi2 - round(chi2, 6)) < 2e-6
        # p from the same A&S erf closed form the repo's tests use
        z = math.sqrt(chi2) / math.sqrt(2.0)
        t = 1.0 / (1.0 + 0.3275911 * z)
        poly = (
            ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
              - 0.284496736) * t + 0.254829592) * t
        )
        p = poly * math.exp(-z * z) if disc else 1.0
        assert abs(r.p_value - round(p, 6)) < 5e-6, (lang, r.p_value, p)


def test_psm_recount(spark):
    from clinical_data_platform_spark.plans.survival import psm_matched_att

    r = psm_matched_att(spark, SF).collect()[0]
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    oc = orders.groupby("o_custkey").agg(
        n_orders=("o_orderkey", "size"),
        treated=("o_orderpriority", lambda s: int((s == "1-URGENT").sum() >= 3)),
        y_cents=("o_totalprice", lambda s: int((s * 100.0).round().sum())),
    )
    u = cust.merge(oc, left_on="c_custkey", right_index=True, how="left")
    u[["n_orders", "treated", "y_cents"]] = (
        u[["n_orders", "treated", "y_cents"]].fillna(0).astype("int64")
    )
    u["ps_fp"] = [
        math.floor(
            1e6
            / (
                1.0
                + math.exp(
                    -(-1.0 + 0.0002 * ab + 0.03 * nk + 0.2 * no)
                )
            )
        )
        for ab, nk, no in zip(u.c_acctbal, u.c_nationkey, u.n_orders)
    ]
    u["bucket"] = u.ps_fp // 10000
    pairs = []
    for _, grp in u.groupby("bucket"):
        tr = grp[grp.treated == 1].sort_values(["ps_fp", "c_custkey"])
        co = grp[grp.treated == 0].sort_values(["ps_fp", "c_custkey"])
        for (t_row, c_row) in zip(tr.itertuples(), co.itertuples()):
            pairs.append(
                (t_row.y_cents - c_row.y_cents, abs(t_row.ps_fp - c_row.ps_fp))
            )
    n_treated = int(u.treated.sum())
    n_matched = len(pairs)
    assert r.n_treated == n_treated
    assert r.n_matched == n_matched
    assert r.match_rate == math.floor(n_matched * 1e6 / n_treated) / 1e6
    att = math.floor(sum(d for d, _ in pairs) * 1e4 / n_matched) / 1e6
    assert r.att_dollars == att
    gap = math.floor(sum(g for _, g in pairs) * 1.0 / n_matched) / 1e6
    assert r.mean_ps_gap == gap


def test_psm_matching_is_within_caliper(spark):
    """Structural invariant: every pair's propensity gap is below the
    bucket width (pairs share a 1%-bucket), and matching is substantial."""
    from clinical_data_platform_spark.plans.survival import psm_matched_att

    r = psm_matched_att(spark, SF).collect()[0]
    assert 0 < r.n_matched <= r.n_treated
    assert r.mean_ps_gap < 0.01
    assert r.match_rate > 0.5  # most treated find a same-bucket control
