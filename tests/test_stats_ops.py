"""Independent ground truth for the round-8 statistics tier.

Oracle parity (tests/test_oracle_parity.py) proves Spark == DuckDB; these
tests prove both equal a THIRD implementation — plain pandas/numpy recompute
from the parquet — so a shared template bug can't self-validate. Plus the
statistical invariants each operator must satisfy regardless of data.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest

from emr_with_custom_metrics_spark.dialect import DUCK
from tests.conftest import SF_DIR


def _md5_nibble(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[0], 16)


@pytest.fixture(scope="module")
def events_pdf():
    return pd.read_parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="module")
def docs_pdf():
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


def test_ab_ttest_matches_numpy(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _TTEST_SQL

    got = duck.sql(_TTEST_SQL).df().set_index("event_type")
    ev = events_pdf.copy()
    ev["arm"] = [
        "A" if _md5_nibble(f"ab|{u}") < 8 else "B" for u in ev.user_id
    ]
    # replicate the engine's 1e-3 quantization so the variance agrees exactly
    ev["vq"] = (ev.value * 1000).round() / 1000.0
    for etype, g in ev.groupby("event_type"):
        a = g[g.arm == "A"].vq.to_numpy()
        b = g[g.arm == "B"].vq.to_numpy()
        va, vb = a.var(ddof=1), b.var(ddof=1)
        se2 = va / len(a) + vb / len(b)
        t = (a.mean() - b.mean()) / math.sqrt(se2)
        df = se2 * se2 / (
            (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
        )
        row = got.loc[etype]
        assert row.n_a == len(a) and row.n_b == len(b)
        assert abs(row.t_e6 / 1e6 - t) < 1e-4, (etype, row.t_e6 / 1e6, t)
        assert abs(row.df_e3 / 1e3 - df) < 0.5
        assert bool(row.significant) == (abs(t) > 1.96)


def test_chi2_matches_pandas_crosstab(duck, docs_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _CHI2_SQL

    got = duck.sql(_CHI2_SQL).df()
    ct = pd.crosstab(docs_pdf.lang, docs_pdf.source)
    n = ct.to_numpy().sum()
    exp = np.outer(ct.sum(axis=1), ct.sum(axis=0)) / n
    chi2 = ((ct.to_numpy() - exp) ** 2 / exp).sum()
    assert len(got) == ct.shape[0] * ct.shape[1]
    assert got.chi2_e9.nunique() == 1
    # per-cell 1e-9 quantization: total drift bounded by #cells half-ulps
    assert abs(got.chi2_e9.iloc[0] / 1e9 - chi2) < len(got) * 1e-9 + 1e-6
    assert got.dof.iloc[0] == (ct.shape[0] - 1) * (ct.shape[1] - 1)
    v = math.sqrt(chi2 / (n * min(ct.shape[0] - 1, ct.shape[1] - 1)))
    assert abs(got.cramers_v_e6.iloc[0] / 1e6 - v) < 1e-4
    # zero cells must be present with O=0 and E>0
    zero = got[got.observed == 0]
    assert (zero.exp_e6 > 0).all()


def test_theta_overlap_matches_python_kmv(duck, docs_pdf):
    from emr_with_custom_metrics_spark.operators.sketches import _THETA_DUCK

    got = duck.sql(_THETA_DUCK).df().iloc[0]
    halves: dict[str, set[str]] = {"train": set(), "eval": set()}
    for _, r in docs_pdf.iterrows():
        half = "train" if _md5_nibble(f"theta|{r.doc_id}") < 8 else "eval"
        toks = r.text.split(" ")
        for i in range(len(toks) - 2):
            halves[half].add(" ".join(toks[i : i + 3]))
    assert got.n_train == len(halves["train"])
    assert got.n_eval == len(halves["eval"])
    inter = halves["train"] & halves["eval"]
    union = halves["train"] | halves["eval"]
    assert got.exact_overlap == len(inter)
    assert got.exact_union == len(union)

    def h32(s: str) -> int:
        return int(hashlib.md5(f"th|{s}".encode()).hexdigest()[:8], 16)

    ska = sorted({h32(s) for s in halves["train"]})[:64]
    skb = sorted({h32(s) for s in halves["eval"]})[:64]
    theta = min(ska[-1] if len(ska) == 64 else 1 << 32,
                skb[-1] if len(skb) == 64 else 1 << 32)
    matches = len({h for h in ska if h < theta} & {h for h in skb if h < theta})
    assert got.theta == theta and got.matches == matches
    # the estimates must actually be good on this corpus (not just bounded)
    assert abs(got.est_union - got.exact_union) < 0.35 * got.exact_union
    assert abs(got.est_overlap - got.exact_overlap) < 0.5 * got.exact_overlap
    assert bool(got.within_bounds)


def test_seasonal_decompose_matches_pandas(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import (
        _DECOMP_CORE,
        spine_from_counts,
    )

    got = duck.sql(spine_from_counts(DUCK) + _DECOMP_CORE).df()
    ev = events_pdf.copy()
    # unit-safe epoch-hour (parquet ts may arrive as datetime64[us] or [ns])
    ev["h"] = ((ev.ts - pd.Timestamp(0)) // pd.Timedelta(hours=1)).astype("int64")
    hmin, hmax = ev.h.min(), ev.h.max()
    spine = np.arange(hmin, hmax + 1)
    for etype, g in ev.groupby("event_type"):
        c = (
            g.groupby("h").size().reindex(spine, fill_value=0).astype(float)
        )
        trend = c.rolling(24, center=True).mean().shift(-1)  # 11 back, 12 fwd
        sub = got[got.event_type == etype].set_index("h").sort_index()
        valid = trend.dropna()
        assert len(sub) == len(valid)
        np.testing.assert_allclose(
            sub.trend_e6 / 1e6, valid.loc[sub.index], atol=1e-5
        )
        detr = (c - trend).dropna()
        seasonal = detr.groupby(detr.index % 24).mean()
        np.testing.assert_allclose(
            sub.seasonal_e6 / 1e6,
            seasonal.loc[sub.index % 24].to_numpy(),
            atol=1e-5,
        )
        # the three components must re-assemble the observed counts
        recon = sub.trend_e6 + sub.seasonal_e6 + sub.remainder_e6
        np.testing.assert_allclose(recon / 1e6, sub.c, atol=2e-6)


def test_random_projection_distortion_concentrates(duck):
    from emr_with_custom_metrics_spark.llm.embeddings import _rp_sql

    got = duck.sql(_rp_sql(DUCK)).df()
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    emb = emb[emb.vec_id < 40].set_index("vec_id")
    q = {
        i: np.round(np.asarray(v, dtype=np.float64) * 1e6).astype(np.int64)
        for i, v in emb.embedding.items()
    }
    # independent recompute of one pair's orig_d2 + all signs
    signs = np.array(
        [
            [
                1 if int(hashlib.md5(f"rp|{k}|{d}".encode()).hexdigest()[0], 16) % 2
                else -1
                for d in range(64)
            ]
            for k in range(16)
        ]
    )
    row = got.iloc[0]
    a, b = q[row.a_id], q[row.b_id]
    assert row.orig_d2 == int(((a - b) ** 2).sum())
    pa, pb = signs @ a, signs @ b
    assert row.proj_d2 == int(((pa - pb) ** 2).sum())
    # JL: mean distortion near 1, k=16 keeps individual pairs within ~3x
    mean_dist = got.distortion_e6.mean() / 1e6
    assert 0.85 < mean_dist < 1.15
    assert (got.distortion_e6 > 0).all()
    assert got.distortion_e6.max() / 1e6 < 4.0


def test_mann_whitney_matches_pandas_ranks(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _MWU_SQL

    got = duck.sql(_MWU_SQL).df().set_index("event_type")
    ev = events_pdf.copy()
    ev["arm"] = ["A" if _md5_nibble(f"ab|{u}") < 8 else "B" for u in ev.user_id]
    ev["vq"] = (ev.value * 1000).round()
    for etype, g in ev.groupby("event_type"):
        ranks = g.vq.rank(method="average")
        a_mask = g.arm == "A"
        na, nb = int(a_mask.sum()), int((~a_mask).sum())
        n = na + nb
        u = ranks[a_mask].sum() - na * (na + 1) / 2
        ties = g.vq.value_counts()
        tie_sum = float((ties**3 - ties).sum())
        var_u = (na * nb / 12) * ((n + 1) - tie_sum / (n * (n - 1)))
        z = (u - na * nb / 2) / math.sqrt(var_u)
        row = got.loc[etype]
        assert row.n_a == na and row.n_b == nb
        assert row.u2 == int(round(2 * u))
        assert abs(row.z_e6 / 1e6 - z) < 1e-4
        assert bool(row.significant) == (abs(z) > 1.96)


def test_cuped_matches_pandas(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _CUPED_SQL

    got = duck.sql(_CUPED_SQL).df().set_index("event_type")
    ev = events_pdf.copy()
    ev["vq"] = (ev.value * 100).round() / 100.0
    ev["post"] = ev.ts.dt.day > 15
    for etype, g in ev.groupby("event_type"):
        pu = g.pivot_table(
            index="user_id", columns="post", values="vq", aggfunc="sum"
        ).fillna(0.0)
        x, y = pu.get(False, 0.0), pu.get(True, 0.0)
        cov = np.cov(x, y, ddof=1)
        theta = cov[0, 1] / cov[0, 0]
        reduction = cov[0, 1] ** 2 / (cov[0, 0] * cov[1, 1])
        row = got.loc[etype]
        assert row.n_users == len(pu)
        assert abs(row.theta_e6 / 1e6 - theta) < 1e-4
        assert abs(row.reduction_e6 / 1e6 - reduction) < 1e-4
        # CUPED can only shrink variance
        assert row.var_adj_units <= row.var_y_units


def test_bootstrap_ci_matches_python_replay(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import (
        _POIS_THRESH,
        _boot_sql,
    )

    got = duck.sql(_boot_sql(DUCK)).df().set_index("event_type")
    ev = events_pdf.copy()
    ev["vq"] = (ev.value * 1000).round()

    def weight(b: int, eid: int) -> int:
        digest = hashlib.md5(f"boot|{b}|{eid}".encode()).hexdigest()
        u32 = int(digest[:8], 16)
        for k, t in enumerate(_POIS_THRESH):
            if u32 < t:
                return k
        return 7

    for etype, g in ev.groupby("event_type"):
        eids = g.event_id.to_numpy()
        vq = g.vq.to_numpy()
        means = []
        for b in range(32):
            w = np.array([weight(b, e) for e in eids])
            means.append((w * vq).sum() / w.sum() / 1000.0)
        means.sort()
        row = got.loc[etype]
        assert abs(row.ci_lo_e6 / 1e6 - means[1]) < 2e-6   # rank 2 of 32
        assert abs(row.ci_hi_e6 / 1e6 - means[30]) < 2e-6  # rank 31 of 32
        assert bool(row.point_in_ci)
        assert row.width_e6 > 0
        # CI of the mean at n~2000 should be tight around the point
        assert row.width_e6 / 1e6 < 0.2 * row.point_mean_e6 / 1e6


def test_anomaly_residual_is_top10_of_decomposition(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import (
        _ANOM_DUCK,
        _DECOMP_CORE,
        spine_from_counts,
    )

    got = duck.sql(_ANOM_DUCK).df()
    dec = duck.sql(spine_from_counts(DUCK) + _DECOMP_CORE).df()
    for etype, g in dec.groupby("event_type"):
        r = g.remainder_e6.astype(float)
        z = (r - r.mean()) / r.std(ddof=1)
        top = set(
            g.assign(az=z.abs())
            .sort_values(["az", "h"], ascending=[False, True])
            .head(10)
            .h
        )
        sub = got[got.event_type == etype]
        assert len(sub) == 10
        assert set(sub.h) == top


def test_power_analysis_matches_numpy(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _POWER_SQL

    got = duck.sql(_POWER_SQL).df().set_index("event_type")
    ev = events_pdf.copy()
    ev["vq"] = (ev.value * 1000).round() / 1000.0
    for etype, g in ev.groupby("event_type"):
        m, v = g.vq.mean(), g.vq.var(ddof=1)
        row = got.loc[etype]
        assert row.n_observed == len(g)
        for col, mde in (("n_per_arm_mde1pct", 0.01), ("n_per_arm_mde5pct", 0.05)):
            expect = math.ceil(2 * 7.848886 * v / (mde * m) ** 2)
            assert abs(row[col] - expect) <= 1, (etype, col)
        # 5x the MDE needs ~1/25 the sample
        assert abs(row.n_per_arm_mde1pct / row.n_per_arm_mde5pct - 25) < 0.1


def test_rake_matches_python_reimplementation(duck, docs_pdf):
    from emr_with_custom_metrics_spark.llm.keywords import _RAKE_DUCK

    got = duck.sql(_RAKE_DUCK).df()
    from collections import Counter, defaultdict

    tok_counts = Counter(t for txt in docs_pdf.text for t in txt.split(" "))
    stop = {
        t
        for t, _ in sorted(tok_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    }
    phrases = []
    for txt in docs_pdf.text:
        run: list[str] = []
        for t in txt.split(" ") + ["\x00stop"]:
            if t in stop or t == "\x00stop":
                if run:
                    phrases.append(tuple(run))
                run = []
            else:
                run.append(t)
    freq: Counter = Counter()
    degree: Counter = Counter()
    for p in phrases:
        for w in p:
            freq[w] += 1
            degree[w] += len(p)
    wscore = {w: round(degree[w] / freq[w] * 1e6) for w in freq}
    best: defaultdict = defaultdict(lambda: (0, 0))
    for p in phrases:
        if not (2 <= len(p) <= 4):
            continue
        s = sum(wscore[w] for w in p)
        cur = best[" ".join(p)]
        best[" ".join(p)] = (max(cur[0], s), cur[1] + 1)
    top = sorted(best.items(), key=lambda kv: (-kv[1][0], kv[0]))[:15]
    assert list(got.phrase) == [p for p, _ in top]
    assert list(got.score_e6) == [s for _, (s, _) in top]
    assert list(got.n_occurrences) == [c for _, (_, c) in top]


def test_collocation_llr_matches_python(duck, docs_pdf):
    from emr_with_custom_metrics_spark.llm.keywords import _LLR_DUCK

    got = duck.sql(_LLR_DUCK).df()
    from collections import Counter

    bg: Counter = Counter()
    for txt in docs_pdf.text:
        toks = txt.split(" ")
        for i in range(len(toks) - 1):
            bg[(toks[i], toks[i + 1])] += 1
    n = sum(bg.values())
    r = Counter()
    c = Counter()
    for (w1, w2), k in bg.items():
        r[w1] += k
        c[w2] += k

    def llr(w1, w2):
        k11 = bg[(w1, w2)]
        k12 = r[w1] - k11
        k21 = c[w2] - k11
        k22 = n - r[w1] - c[w2] + k11

        def term(k, row, col):
            return 0.0 if k == 0 else k * math.log(k * n / (row * col))

        return 2 * (
            term(k11, r[w1], c[w2])
            + term(k12, r[w1], n - c[w2])
            + term(k21, n - r[w1], c[w2])
            + term(k22, n - r[w1], n - c[w2])
        )

    for _, row in got.iterrows():
        expect = llr(row.w1, row.w2)
        assert abs(row.llr_e4 / 1e4 - expect) < 1e-3, (row.w1, row.w2)
        assert row.llr_e4 >= 0
    # the reported list must be the global top-20 by that same score
    all_scores = sorted(
        (round(llr(w1, w2) * 1e4), w1, w2) for (w1, w2) in bg
    )
    top20 = [(w1, w2) for s, w1, w2 in
             sorted(all_scores, key=lambda t: (-t[0], t[1], t[2]))[:20]]
    assert list(zip(got.w1, got.w2)) == top20


def test_autocorrelation_matches_numpy(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _ACF_DUCK

    got = duck.sql(_ACF_DUCK).df()
    ev = events_pdf.copy()
    ev["h"] = ((ev.ts - pd.Timestamp(0)) // pd.Timedelta(hours=1)).astype("int64")
    spine = np.arange(ev.h.min(), ev.h.max() + 1)
    for etype, g in ev.groupby("event_type"):
        c = g.groupby("h").size().reindex(spine, fill_value=0).to_numpy(float)
        d = c - c.mean()
        den = (d * d).sum()
        sub = got[got.event_type == etype].set_index("lag").sort_index()
        assert list(sub.index) == list(range(1, 25))
        for lag in range(1, 25):
            acf = (d[:-lag] * d[lag:]).sum() / den
            assert abs(sub.loc[lag].acf_e6 / 1e6 - acf) < 1e-5, (etype, lag)
            assert sub.loc[lag].n_pairs == len(c) - lag


def test_zipf_fit_matches_numpy(duck, docs_pdf):
    from emr_with_custom_metrics_spark.llm.keywords import _zipf_sql

    got = duck.sql(_zipf_sql(DUCK)).df().iloc[0]
    from collections import Counter

    freq = Counter(t for txt in docs_pdf.text for t in txt.split(" "))
    f = np.array(sorted(freq.values(), reverse=True), dtype=float)
    x = np.log(np.arange(1, len(f) + 1))
    y = np.log(f)
    slope, intercept = np.polyfit(x, y, 1)
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    assert got.n_words == len(f)
    assert abs(got.slope_e6 / 1e6 - slope) < 1e-4
    assert abs(got.intercept_e6 / 1e6 - intercept) < 1e-4
    assert abs(got.r2_e6 / 1e6 - r2) < 1e-4
    # synthetic corpus: far shallower than natural-language slope -1
    assert got.slope_e6 / 1e6 > -0.5


def _ntile(values: pd.Series, tiebreak: pd.Series, n: int = 5) -> pd.Series:
    order = pd.DataFrame({"v": values, "t": tiebreak}).sort_values(["v", "t"])
    cnt = len(order)
    base, extra = divmod(cnt, n)
    sizes = [base + (1 if i < extra else 0) for i in range(n)]
    tiles = np.repeat(np.arange(1, n + 1), sizes)
    return pd.Series(tiles, index=order.index).reindex(values.index)


def test_rfm_segments_match_pandas(duck):
    from emr_with_custom_metrics_spark.operators.analytics import _rfm_sql

    got = duck.sql(_rfm_sql(DUCK)).df().set_index("segment")
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    maxd = orders.o_orderdate.max()
    cust = orders.groupby("o_custkey").agg(
        recency=("o_orderdate", lambda s: (maxd - s.max()).days),
        frequency=("o_orderdate", "size"),
        monetary=("o_totalprice", lambda s: int(round(s.round(2).sum() * 100))),
    )
    ids = pd.Series(cust.index, index=cust.index)
    r = 6 - _ntile(cust.recency, ids)
    f = _ntile(cust.frequency, ids)
    m = _ntile(cust.monetary, ids)
    seg = pd.Series("core", index=cust.index)
    seg[(r >= 4) & (f >= 4) & (m >= 4)] = "champions"
    seg[(r <= 2) & (f >= 4)] = "at_risk_loyal"
    seg[(r >= 4) & (f <= 2)] = "new_promising"
    seg[(r <= 2) & (f <= 2)] = "hibernating"
    counts = seg.value_counts()
    assert got.n_customers.sum() == len(cust)
    for s_name, n in counts.items():
        assert got.loc[s_name].n_customers == n, s_name
    mon = cust.monetary.groupby(seg).sum()
    for s_name, v in mon.items():
        assert got.loc[s_name].total_monetary_c == v, s_name


def test_pareto_abc_matches_pandas(duck):
    from emr_with_custom_metrics_spark.operators.analytics import _ABC_SQL

    got = duck.sql(_ABC_SQL).df().set_index("abc_class")
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    rev = (
        (li.l_extendedprice.round(2) * (1 - li.l_discount.round(2)) * 10000)
        .round()
        .astype("int64")
        .groupby(li.l_partkey)
        .sum()
    )
    # deterministic part-id tie-break within equal revenues
    df = rev.reset_index()
    df.columns = ["part", "rev"]
    df = df.sort_values(["rev", "part"], ascending=[False, True])
    cum = df.rev.cumsum()
    tot = df.rev.sum()
    cls = pd.Series("C", index=df.index)
    cls[cum * 10 <= tot * 9] = "B"
    cls[cum * 10 <= tot * 7] = "A"
    counts = cls.value_counts()
    for c in ("A", "B", "C"):
        assert got.loc[c].n_parts == counts[c], c
    assert got.revenue_e4.sum() == tot
    # classes partition the rank space contiguously
    assert got.loc["A"].first_rank == 1
    assert got.loc["A"].last_rank + 1 == got.loc["B"].first_rank
    assert got.loc["B"].last_rank + 1 == got.loc["C"].first_rank


def test_anova_matches_numpy(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _ANOVA_SQL

    got = duck.sql(_ANOVA_SQL).df().iloc[0]
    ev = events_pdf.copy()
    ev["vq"] = (ev.value * 1000).round() / 1000.0
    groups = [g.vq.to_numpy() for _, g in ev.groupby("event_type")]
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    k, n = len(groups), sum(len(g) for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert got.n_groups == k and got.n_total == n
    assert abs(got.ssb_e3 / 1e3 - ssb) < 0.5
    assert abs(got.ssw_e3 / 1e3 - ssw) < 0.5
    assert abs(got.f_e6 / 1e6 - f) < 1e-4
    assert abs(got.eta2_e6 / 1e6 - ssb / (ssb + ssw)) < 1e-4
    assert bool(got.significant) == (f > 2.37)


def test_proportion_ztest_matches_numpy(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _PROP_SQL

    got = duck.sql(_PROP_SQL).df().iloc[0]
    ev = events_pdf.copy()
    conv = (
        ((ev.event_type == "purchase") & (ev.value >= 150))
        .groupby(ev.user_id)
        .max()
    )
    arm = pd.Series(
        ["A" if _md5_nibble(f"ab|{u}") < 8 else "B" for u in conv.index],
        index=conv.index,
    )
    na, nb = (arm == "A").sum(), (arm == "B").sum()
    ca, cb = conv[arm == "A"].sum(), conv[arm == "B"].sum()
    pa, pb = ca / na, cb / nb
    pp = (ca + cb) / (na + nb)
    z = (pa - pb) / math.sqrt(pp * (1 - pp) * (1 / na + 1 / nb))
    assert (got.n_a, got.conv_a, got.n_b, got.conv_b) == (na, ca, nb, cb)
    assert abs(got.z_e6 / 1e6 - z) < 1e-4
    # both rates must be non-degenerate at this SF for the test to mean much
    assert 0 < ca < na and 0 < cb < nb


def test_cuped_ttest_adjustment_reduces_variance(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _CUPED_TTEST_SQL

    got = duck.sql(_CUPED_TTEST_SQL).df()
    assert len(got) == events_pdf.event_type.nunique()
    # null data: neither raw nor adjusted t should scream
    assert (got.t_raw_e6.abs() / 1e6 < 4).all()
    assert (got.t_adj_e6.abs() / 1e6 < 4).all()
    # the adjustment can only help on average; allow tiny per-metric slack
    assert (got.var_ratio_e6 / 1e6 <= 1.02).all()
    # independent recompute of the raw Welch t per metric at user grain
    ev = events_pdf.copy()
    ev["vq"] = (ev.value * 100).round()
    ev["post"] = ev.ts.dt.day > 15
    for etype, g in ev.groupby("event_type"):
        y = g[g.post].groupby("user_id").vq.sum()
        y = y.reindex(g.user_id.unique(), fill_value=0)
        arm = pd.Series(
            ["A" if _md5_nibble(f"ab|{u}") < 8 else "B" for u in y.index],
            index=y.index,
        )
        a, b = y[arm == "A"].to_numpy(float), y[arm == "B"].to_numpy(float)
        t = (a.mean() - b.mean()) / math.sqrt(
            a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
        )
        row = got[got.event_type == etype].iloc[0]
        assert abs(row.t_raw_e6 / 1e6 - t) < 1e-4, etype


def test_active_users_rolling_matches_bruteforce(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.analytics import _AU_DUCK

    got = duck.sql(_AU_DUCK).df().set_index("day").sort_index()
    ev = events_pdf.copy()
    ev["day"] = ((ev.ts - pd.Timestamp(0)) // pd.Timedelta(days=1)).astype(
        "int64"
    )
    pairs = ev[["user_id", "day"]].drop_duplicates()
    days = np.arange(ev.day.min(), ev.day.max() + 1)
    assert list(got.index) == list(days)
    for d in days:
        row = got.loc[d]
        assert row.dau == pairs[pairs.day == d].user_id.nunique()
        wau = pairs[(pairs.day >= d - 6) & (pairs.day <= d)].user_id.nunique()
        mau = pairs[(pairs.day >= d - 29) & (pairs.day <= d)].user_id.nunique()
        assert row.wau == wau, d
        assert row.mau == mau, d
        assert row.stickiness_e6 == round(row.dau / mau * 1e6)


def test_path_topk_matches_pandas(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.analytics import _PATHS_SQL

    got = duck.sql(_PATHS_SQL).df()
    ev = events_pdf.sort_values(["user_id", "ts", "event_id"])
    g = ev.groupby("user_id").event_type
    paths = (
        ev.event_type + ">" + g.shift(-1) + ">" + g.shift(-2)
    ).dropna()
    counts = paths.value_counts()
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert list(got.path) == [p for p, _ in top]
    assert list(got.n_occurrences) == [c for _, c in top]


def test_srm_check_matches_recompute(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _SRM_SQL

    got = duck.sql(_SRM_SQL).df().iloc[0]
    users = events_pdf.user_id.unique()
    na = sum(1 for u in users if _md5_nibble(f"ab|{u}") < 8)
    nb = len(users) - na
    chi2 = (na - nb) ** 2 / (na + nb)
    assert (got.n_a, got.n_b) == (na, nb)
    assert abs(got.chi2_e6 / 1e6 - chi2) < 2e-6
    assert bool(got.srm_detected) == (chi2 > 3.841459)
    # deterministic md5 bucketing on this population must NOT trip SRM
    assert not got.srm_detected


def test_sql_scripting_threshold_selects_rows(duck):
    """Regression pin for the wave-7 gotcha: the scripting block's
    data-derived threshold must actually select rows at this SF — a
    zero-row hash match is a vacuous green (the first draft's 2x-mean
    threshold sat above the data's maximum)."""
    from emr_with_custom_metrics_spark.operators.extended import (
        sql_scripting_block,  # noqa: F401 — import proves registration
    )
    from emr_with_custom_metrics_spark import registry

    oracle = registry.all_specs()["sql_scripting_block"].oracle
    got = duck.sql(oracle).df()
    assert got.n_large.sum() > 0


def test_driver_order_is_one_key():
    """The driver walk is unverified rows first (the ~50-row budget
    certifies them before re-verifying old greens), then verified rows
    oldest green first, ties by name — independent of import order."""
    from emr_with_custom_metrics_spark import registry

    names = list(registry.all_specs())
    assert [n for n in registry._DRIVER_VERIFIED if n not in names] == []
    unverified = [n for n in names if n not in registry._DRIVER_VERIFIED]
    assert names[: len(unverified)] == sorted(unverified), "unverified rows not first"
    verified = names[len(unverified):]
    assert verified == sorted(verified, key=lambda n: (registry._VERIFIED_ROUND[n], n))


def test_registry_discovers_every_registering_module():
    """Discovery completeness: every package module whose source uses
    ``@register(`` is imported by ``all_specs()``, and the CLI entry
    ``__main__`` is not (importing it must never be a side effect)."""
    import pathlib
    import sys

    import emr_with_custom_metrics_spark as pkg
    from emr_with_custom_metrics_spark import registry

    registry.all_specs()
    root = pathlib.Path(pkg.__file__).parent
    registering = [
        ".".join((pkg.__name__, *path.relative_to(root).with_suffix("").parts))
        for path in sorted(root.rglob("*.py"))
        if "@register(" in path.read_text()
    ]
    assert len(registering) > 70
    assert [m for m in registering if m not in sys.modules] == []
    assert f"{pkg.__name__}.__main__" not in sys.modules


def test_driver_verified_matches_ledgers():
    """Independent recompute of the derived set: a query is verified iff
    its latest official CORRECTNESS row is fully green. Catches loader
    regressions (wrong round ordering, err/None handling)."""
    import glob
    import json
    import os

    from emr_with_custom_metrics_spark import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows: dict[str, tuple[int, dict]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        for name, row in json.load(open(path)).items():
            if name not in rows or rnd > rows[name][0]:
                rows[name] = (rnd, row)
    expect = {
        n
        for n, (_, r) in rows.items()
        if not r.get("err")
        and r.get("rows_match") is True
        and r.get("schema_match") is not False
        and r.get("hash_match") is not False
    }
    assert set(registry._DRIVER_VERIFIED) == expect


def test_effect_sizes_match_numpy(duck, events_pdf):
    from emr_with_custom_metrics_spark.operators.stats import _EFFECT_SQL

    got = duck.sql(_EFFECT_SQL).df().set_index("event_type")
    ev = events_pdf.copy()
    ev["arm"] = ["A" if _md5_nibble(f"ab|{u}") < 8 else "B" for u in ev.user_id]
    ev["vq"] = (ev.value * 1000).round() / 1000.0
    for etype, g in ev.groupby("event_type"):
        a = g[g.arm == "A"].vq.to_numpy()
        b = g[g.arm == "B"].vq.to_numpy()
        na, nb = len(a), len(b)
        pooled = (
            ((a - a.mean()) ** 2).sum() + ((b - b.mean()) ** 2).sum()
        ) / (na + nb - 2)
        d = (a.mean() - b.mean()) / math.sqrt(pooled)
        gcorr = d * (1 - 3 / (4 * (na + nb) - 9))
        row = got.loc[etype]
        assert abs(row.cohens_d_e6 / 1e6 - d) < 1e-4
        assert abs(row.hedges_g_e6 / 1e6 - gcorr) < 1e-4
        bands = [(0.2, "negligible"), (0.5, "small"), (0.8, "medium")]
        mag = next((m for t, m in bands if abs(d) < t), "large")
        assert row.magnitude == mag
