"""Semantic tests for the model-monitoring operators
(operators/model_monitor.py) beyond DuckDB hash parity:

- KS is cross-checked against an independent pure-python/numpy CDF
  computation on the same scored rows (no SQL engine involved);
- velocity features are cross-checked against a pandas per-user
  rolling reference, including the range-frame tie semantics;
- PSI terms reconstruct from raw band counts; lift is verified
  monotone-decreasing in capture-ordered bands and lift(total) == 1;
- Benford digits are verified against python int(str(cents)[0]);
- the scale contracts are pinned via plan assertions: target encoding
  broadcasts the encoding table (fact side never builds), velocity's
  window is partitioned (no "move all data to a single partition"
  WindowExec), the KS/lift windows run over bounded band tables only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from fraud_detection_spark.plans.checks import assert_broadcast_join
from fraud_detection_spark.registry import load_all

REGISTRY = load_all()


def _scored_pdf(spark, sf_dir) -> pd.DataFrame:
    from fraud_detection_spark.operators.ml_metrics import scored

    return scored(spark, sf_dir).toPandas()


def test_ks_matches_pandas_reference(spark, sf_dir):
    s = _scored_pdf(spark, sf_dir)
    g = (
        pd.DataFrame(
            {"b": np.floor(s.score.values * 1000).astype(np.int64), "label": s.label}
        )
        .groupby("b")
        .agg(pos=("label", "sum"), n=("label", "count"))
        .sort_index()
    )
    cum_pos = g.pos.cumsum() / g.pos.sum()
    cum_neg = (g.n - g.pos).cumsum() / (g.n - g.pos).sum()
    want = float(np.max(np.abs(cum_pos.values - cum_neg.values)))
    got = REGISTRY["q_ks_stat"].fn(spark, sf_dir).collect()[0]["ks"]
    assert abs(got - want) < 1e-6, (got, want)
    assert 0.0 < got < 1.0  # the published model does separate classes


def test_velocity_matches_pandas_rolling(spark, sf_dir):
    out = REGISTRY["q_velocity"].fn(spark, sf_dir).toPandas()
    ev = out[["event_id", "user_id", "ts_sec"]].copy()
    # rebuild value from the raw table for the reference computation
    from fraud_detection_spark.sources import events_with_time

    raw = events_with_time(spark, sf_dir).select(
        "event_id", "user_id", "ts_sec", "value"
    ).toPandas()
    got = out.set_index("event_id").sort_index()
    for uid, g in raw.groupby("user_id"):
        g = g.sort_values(["ts_sec", "event_id"])
        ts = g["ts_sec"].values
        cents = np.floor(g["value"].values * 10000 + 0.5).astype(np.int64)
        for i, (eid, t) in enumerate(zip(g["event_id"].values, ts)):
            in1h = (ts >= t - 3600) & (ts <= t)
            in24 = (ts >= t - 86400) & (ts <= t)
            assert got.loc[eid, "n_1h"] == in1h.sum(), (uid, eid)
            assert got.loc[eid, "n_24h"] == in24.sum(), (uid, eid)
            want_amt = cents[in1h].sum() / 10000
            assert abs(got.loc[eid, "amt_1h"] - want_amt) < 1e-9, (uid, eid)
        if uid > 40:  # a spread of users is plenty; keep the test fast
            break


def test_psi_terms_reconstruct_and_lift_shape(spark, sf_dir):
    psi = REGISTRY["q_psi"].fn(spark, sf_dir).toPandas()
    tot_e, tot_a = psi.n_expected.sum(), psi.n_actual.sum()
    for _, r in psi.iterrows():
        if r.n_expected > 0 and r.n_actual > 0:
            pa, pe = r.n_actual / tot_a, r.n_expected / tot_e
            want = np.floor((pa - pe) * np.log(pa / pe) * 1e6 + 0.5) / 1e6
            assert abs(r.psi_term - want) < 1e-9
    # the two halves of a deterministic hash split barely drift
    assert psi.psi_term.abs().sum() < 0.05

    lift = (
        REGISTRY["q_lift_bands"].fn(spark, sf_dir).toPandas()
        .sort_values("band", ascending=False)
    )
    # capture is cumulative from the top band down; the final row
    # captures everything at lift exactly 1
    assert (np.diff(lift.capture.values) >= -1e-12).all()
    assert abs(lift.capture.values[-1] - 1.0) < 1e-9
    assert abs(lift.lift.values[-1] - 1.0) < 1e-9
    # the top band concentrates fraud (the model separates classes)
    assert lift.lift.values[0] > 1.0


def test_benford_digits_match_python(spark, sf_dir):
    from fraud_detection_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice").toPandas()
    cents = np.floor(li.l_extendedprice.values * 100 + 0.5).astype(np.int64)
    want = pd.Series([int(str(c)[0]) for c in cents]).value_counts()
    got = (
        REGISTRY["q_benford"].fn(spark, sf_dir).toPandas().set_index("digit")["n"]
    )
    for d in want.index:
        assert got[d] == want[d], d
    assert got.sum() == len(cents)


def test_target_encode_broadcasts_and_bounds(spark, sf_dir):
    df = REGISTRY["q_target_encode"].fn(spark, sf_dir)
    assert_broadcast_join(df)
    pdf = df.toPandas()
    # a smoothed mean encoding is a probability-like score
    assert (pdf.te > 0).all() and (pdf.te < 1).all()
    # same supplier -> same encoding
    assert (pdf.groupby("l_suppkey").te.nunique() == 1).all()


def test_velocity_window_is_partitioned(spark, sf_dir):
    plan = (
        REGISTRY["q_velocity"].fn(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the window must carry the user_id partition spec — an empty
    # partitionBy would be the move-everything-to-one-task trap
    assert "windowspecdefinition(user_id" in plan, plan


def test_woe_iv_zero_sum_property(spark, sf_dir):
    woe = REGISTRY["q_woe_iv"].fn(spark, sf_dir).toPandas()
    # Σ pos% == Σ neg% == 1 by construction; IV terms are nonnegative
    # ((p-q) and ln(p/q) always share a sign)
    assert (woe.iv_term.dropna() >= -1e-12).all()
    assert woe.pos_c.sum() > 0 and woe.neg_c.sum() > 0


# ---------------------------------------------------------------------------
# Independent pandas/numpy references for the monitor queries that the
# tests above do not check. Both engines evaluate one formula text per
# column, so the oracle no longer cross-checks a formula against a
# second hand-written copy: these recompute each query from the raw
# parquet with numpy and compare within 1e-6 (counts exactly).


def _close(got, want, label):
    got, want = np.asarray(got, dtype=float), np.asarray(want, dtype=float)
    both_nan = np.isnan(got) & np.isnan(want)
    ok = both_nan | (np.abs(got - want) <= 1e-6 + 1e-12)
    assert ok.all(), (label, got[~ok][:5], want[~ok][:5])


def _round(x, n):
    return np.floor(np.asarray(x, dtype=float) * 10**n + 0.5) / 10**n


def _lineitem(sf_dir) -> pd.DataFrame:
    """Raw lineitem plus the published model's label and 6-dp score,
    recomputed in numpy."""
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    logit = (
        -2.0
        + 0.03 * li.l_quantity.values
        + 9.0 * li.l_discount.values
        + 0.8 * (li.l_extendedprice.values / 100000.0)
    )
    li["score"] = _round(1.0 / (1.0 + np.exp(-logit)), 6)
    li["label"] = (li.l_returnflag.values == "R").astype(np.int64)
    return li


def _bands(li, k) -> pd.DataFrame:
    """Per score band floor(score·k): n, positives and the exact
    fixed-point mean score."""
    units = np.floor(li.score.values * 1e6 + 0.5).astype(np.int64)
    g = (
        pd.DataFrame(
            {"band": np.floor(li.score.values * k).astype(np.int64),
             "label": li.label.values, "units": units}
        )
        .groupby("band")
        .agg(n=("label", "size"), pos=("label", "sum"), su=("units", "sum"))
        .sort_index()
    )
    g["mean_score"] = g.su / 1e6 / g.n
    g["rate"] = g.pos / g.n
    return g


def _by(df, key):
    return df.set_index(key).sort_index()


def test_calibration_matches_numpy_reference(spark, sf_dir):
    want = _bands(_lineitem(sf_dir), 20)
    got = _by(REGISTRY["q_calibration"].fn(spark, sf_dir).toPandas(), "band")
    assert list(got.index) == list(want.index)
    assert (got.n.values == want.n.values).all()
    _close(got.mean_score, _round(want.mean_score, 6), "mean_score")
    _close(got.pos_rate, _round(want.rate, 6), "pos_rate")


def test_ece_matches_numpy_reference(spark, sf_dir):
    g = _bands(_lineitem(sf_dir), 20)
    want = (g.n * (g.mean_score - g.rate).abs()).sum() / g.n.sum()
    got = REGISTRY["q_ece"].fn(spark, sf_dir).collect()[0]
    assert got["n_bands"] == len(g)
    _close([got["ece"]], [want], "ece")


def test_threshold_sweep_matches_numpy_reference(spark, sf_dir):
    g = _bands(_lineitem(sf_dir), 50).sort_index(ascending=False)
    tp, fp = g.pos.cumsum().values, (g.n - g.pos).cumsum().values
    p_all, n_all = g.pos.sum(), (g.n - g.pos).sum()
    got = (
        REGISTRY["q_threshold_sweep"].fn(spark, sf_dir).toPandas()
        .sort_values("threshold", ascending=False)
    )
    _close(got.threshold, g.index.values / 50.0, "threshold")
    assert (got.tp.values == tp).all() and (got.fp.values == fp).all()
    assert (got.fn.values == p_all - tp).all()
    _close(got.precision, tp / (tp + fp), "precision")
    _close(got.recall, tp / p_all, "recall")
    _close(got.f1, 2.0 * tp / (2.0 * tp + fp + (p_all - tp)), "f1")
    _close(got.youden_j, tp / p_all - fp / n_all, "youden_j")


def test_auc_by_segment_matches_numpy_trapezoid(spark, sf_dir):
    li = _lineitem(sf_dir)
    want = {}
    for seg, s in li.groupby("l_linestatus"):
        g = _bands(s, 50).sort_index(ascending=False)
        tpr = g.pos.cumsum().values / g.pos.sum()
        fpr = (g.n - g.pos).cumsum().values / (g.n - g.pos).sum()
        # trapezoid from (0, 0) through the points in (fpr, tpr) order
        pts = sorted(zip(fpr, tpr))
        xs = np.array([0.0] + [p[0] for p in pts])
        ys = np.array([0.0] + [p[1] for p in pts])
        want[seg] = float(np.sum(np.diff(xs) * (ys[1:] + ys[:-1]) / 2.0))
    got = _by(REGISTRY["q_auc_by_segment"].fn(spark, sf_dir).toPandas(), "seg")
    assert sorted(got.index) == sorted(want)
    _close(got.auc.values, [want[s] for s in got.index], "auc")
    assert ((got.auc >= 0.0) & (got.auc <= 1.0)).all()


def test_champion_challenger_matches_numpy_reference(spark, sf_dir):
    from fraud_detection_spark.operators.feature_eng import _TREE_BIAS, _TREES

    li = _lineitem(sf_dir)

    def margin(node):
        """Leaf margin of every row for one published tree spec."""
        if isinstance(node, tuple):
            return np.full(len(li), node[1])
        go_left = li[node["feat"]].values < node["thr"]
        return np.where(go_left, margin(node["left"]), margin(node["right"]))

    m = _TREE_BIAS + sum(margin(t) for t in _TREES)
    chall = _round(1.0 / (1.0 + np.exp(-m)), 6)
    champ = li.score.values
    d = pd.DataFrame({
        "decile": np.floor(champ * 10).astype(np.int64),
        "label": li.label.values,
        "cu": np.floor(champ * 1e6 + 0.5).astype(np.int64),
        "hu": np.floor(chall * 1e6 + 0.5).astype(np.int64),
        "b": ((champ >= 0.5) & (chall < 0.5)).astype(np.int64),
        "c": ((champ < 0.5) & (chall >= 0.5)).astype(np.int64),
        "agree": ((champ >= 0.5) == (chall >= 0.5)).astype(np.int64),
    })
    want = d.groupby("decile").agg(
        n=("label", "size"), n_pos=("label", "sum"), cu=("cu", "sum"),
        hu=("hu", "sum"), b=("b", "sum"), c=("c", "sum"), agree=("agree", "sum"),
    )
    got = _by(REGISTRY["q_champion_challenger"].fn(spark, sf_dir).toPandas(), "decile")
    assert list(got.index) == list(want.index)
    for g, w in (("n", "n"), ("n_pos", "n_pos"), ("mcnemar_b", "b"),
                 ("mcnemar_c", "c"), ("n_agree", "agree")):
        assert (got[g].values == want[w].values).all(), g
    _close(got.mean_champ, _round(want.cu / 1e6 / want.n, 6), "mean_champ")
    _close(got.mean_chall, _round(want.hu / 1e6 / want.n, 6), "mean_chall")


def test_drift_profile_matches_numpy_reference(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    is_train = (
        (li.l_orderkey.values * 2654435761 + li.l_linenumber.values) % 1000 < 800
    )
    rows = []
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        x = li[c].values
        # discrete percentile: the smallest value whose empirical CDF
        # reaches q
        cuts = np.quantile(x, [i / 10 for i in range(1, 10)], method="inverted_cdf")
        band = 1 + (x[:, None] > cuts[None, :]).sum(axis=1)
        g = pd.DataFrame({"band": band, "t": is_train}).groupby("band").t
        ne, na = g.sum(), g.size() - g.sum()
        pe, pa = ne / ne.sum(), na / na.sum()
        with np.errstate(divide="ignore", invalid="ignore"):
            term = np.where((pe > 0) & (pa > 0), (pa - pe) * np.log(pa / pe), np.nan)
        for b, e, a, t in zip(ne.index, ne.values, na.values, term):
            rows.append((c, b, e, a, t))
    want = pd.DataFrame(
        rows, columns=["feature", "band", "n_expected", "n_actual", "psi_term"]
    ).sort_values(["feature", "band"]).reset_index(drop=True)
    got = (
        REGISTRY["q_drift_profile"].fn(spark, sf_dir).toPandas()
        .sort_values(["feature", "band"]).reset_index(drop=True)
    )
    assert got[["feature", "band", "n_expected", "n_actual"]].values.tolist() == (
        want[["feature", "band", "n_expected", "n_actual"]].values.tolist()
    )
    _close(got.psi_term, _round(want.psi_term, 6), "psi_term")


def _events(sf_dir) -> pd.DataFrame:
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["sec"] = ev.ts.values.astype("datetime64[s]").astype(np.int64)
    return ev


def test_ab_test_matches_numpy_reference(spark, sf_dir):
    ev = _events(sf_dir)
    ev = ev[ev.event_type.isin(["click", "purchase"])]
    g = ev.assign(conv=(ev.value > 100.0).astype(np.int64)).groupby("event_type").agg(
        n=("conv", "size"), conv=("conv", "sum")
    )
    n_all, conv_all = g.n.sum(), g.conv.sum()
    p, p_all = g.conv / g.n, conv_all / n_all
    z = (p - p_all) / np.sqrt(p_all * (1 - p_all) * (1 / g.n + 1 / (n_all - g.n)))
    got = _by(REGISTRY["q_ab_test"].fn(spark, sf_dir).toPandas(), "variant")
    assert list(got.index) == list(g.index)
    assert (got.n.values == g.n.values).all() and (got.conv.values == g.conv.values).all()
    _close(got.rate, _round(p, 6), "rate")
    _close(got.z, _round(z, 6), "z")


def test_hourly_profile_matches_numpy_reference(spark, sf_dir):
    ev = _events(sf_dir)
    units = np.floor(ev.value.values * 1e4 + 0.5).astype(np.int64)
    g = pd.DataFrame({"hod": (ev.sec.values % 86400) // 3600, "u": units}).groupby(
        "hod"
    ).agg(n=("u", "size"), su=("u", "sum"))
    z = (g.n - g.n.mean()) / g.n.std(ddof=1)
    got = _by(REGISTRY["q_hourly_profile"].fn(spark, sf_dir).toPandas(), "hod")
    assert list(got.index) == list(g.index)
    assert (got.n.values == g.n.values).all()
    _close(got.share, _round(g.n / g.n.sum(), 6), "share")
    _close(got.mean_value, _round(g.su / 1e4 / g.n, 4), "mean_value")
    _close(got.volume_z, _round(z, 6), "volume_z")


def test_monitor_formulas_are_one_text():
    """Every model_monitor formula is SQL text that both engines run:
    the module calls none of the Column formula helpers, and the tree
    ensemble has no Column twin of its CASE text."""
    import ast
    import inspect

    from fraud_detection_spark.operators import feature_eng, model_monitor

    banned_names = {"pround", "fp_units", "fixed_sum", "fixed_avg"}
    banned_attrs = {"when", "log", "log10", "exp", "sqrt", "nullif", "abs", "floor"}
    tree = ast.parse(inspect.getsource(model_monitor))
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id in banned_names:
            used.add(node.id)
        elif isinstance(node, ast.alias) and node.name in banned_names:
            used.add(node.name)
        elif (
            isinstance(node, ast.Attribute)
            and node.attr in banned_attrs
            and isinstance(node.value, ast.Name)
            and node.value.id == "F"
        ):
            used.add(f"F.{node.attr}")
    assert not used, sorted(used)
    defs = {
        n.name
        for n in ast.walk(ast.parse(inspect.getsource(feature_eng)))
        if isinstance(n, ast.FunctionDef)
    }
    assert "_tree_col" not in defs
