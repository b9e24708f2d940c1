"""Round-16 operators. Oracle parity is auto-covered by
test_oracle_parity's registry sweep; these tests pin semantics against
independent python references and pin the composition claims
(VERDICT r15 #1 + #6).
"""

from __future__ import annotations

from fraud_detection_spark.registry import load_all, sql_round

REGISTRY = load_all()


# ---------------------------------------------------------------------------
# Shared python Newton reference (the test_round15_ops helpers,
# restated — per-round test files are self-contained by house style).

_FEAT_SQL = {
    "disc": "CAST(l_discount AS DOUBLE)",
    "price": "(CAST(l_extendedprice AS DOUBLE) / 100000.0)",
    "qty": "CAST(l_quantity AS DOUBLE)",
}

_SIG_SQL = (
    "1.0 / (1.0 + EXP(-(-2.0 + 0.03 * l_quantity + 9.0 * l_discount "
    "+ 0.8 * (l_extendedprice / 100000.0))))"
)


def _fetch_gh_rows(duck):
    sel = ", ".join(
        f"{sql_round(_FEAT_SQL[f], 6)} AS {f}" for f in ("disc", "price", "qty")
    )
    rows = duck.execute(
        "SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label, "
        f"{sel}, CAST(FLOOR(({sql_round(_SIG_SQL, 6)}) * 1000000 + 0.5) "
        "AS BIGINT) AS u FROM lineitem"
    ).fetchall()
    return [
        (int(l), {"disc": float(d), "price": float(p), "qty": float(q)}, int(u))
        for l, d, p, q, u in rows
    ]


def _newton_round_reference(rows, lam=1.0, eta=0.1):
    """Pure-python single Newton pick: exact integer g/h sufficient
    statistics per distinct (feat, val), prefix sums in sorted-value
    order, gain key argmin with the (key, feat, val) tie-break."""
    n = len(rows)
    gt_u = sum(u - l * 1000000 for l, _, u in rows)
    ht_u = sum(u * (1000000 - u) for _, _, u in rows)
    GT, HT = gt_u / 1e6, ht_u / 1e12
    best = None
    for feat in ("disc", "price", "qty"):
        agg = {}
        for l, v, u in rows:
            cur = agg.setdefault(v[feat], [0, 0, 0])
            cur[0] += 1
            cur[1] += u - l * 1000000
            cur[2] += u * (1000000 - u)
        cn = cg = ch = 0
        vals = sorted(agg)
        for val in vals[:-1]:  # the top value is never a candidate
            cn += agg[val][0]
            cg += agg[val][1]
            ch += agg[val][2]
            GL, HL = cg / 1e6, ch / 1e12
            GR, HR = (gt_u - cg) / 1e6, (ht_u - ch) / 1e12
            kl = GL * GL / (HL + lam)
            kr = GR * GR / (HR + lam)
            cand = (-(kl + kr), feat, val, cn, GL, HL, GR, HR, kl, kr)
            if best is None or cand[:3] < best[:3]:
                best = cand
    if best is None:
        return None
    key, feat, val, cn, GL, HL, GR, HR, kl, kr = best
    gain = 0.5 * ((kl + kr) - GT * GT / (HT + lam))
    return {
        "feat": feat,
        "threshold": val,
        "n_left": cn,
        "n_right": n - cn,
        "gain": gain,
        "w_left": -eta * GL / (HL + lam),
        "w_right": -eta * GR / (HR + lam),
    }


def _tree_reference(rows):
    """Depth-2 Newton tree: root pick + per-branch picks with branch
    totals as parent terms (the test_round15_ops per-branch form)."""
    root = _newton_round_reference(rows)
    out = {"root": root}
    for b, node in ((0, "left"), (1, "right")):
        sub = [
            r
            for r in rows
            if (r[1][root["feat"]] <= root["threshold"]) == (b == 0)
        ]
        out[node] = _newton_round_reference(sub)
    return out


def _r6(x: float) -> float:
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def _assert_pick(got: dict, want: dict):
    assert got["feat"] == want["feat"]
    assert got["threshold"] == want["threshold"]
    assert got["n_left"] == want["n_left"]
    assert got["n_right"] == want["n_right"]
    assert got["gain"] == _r6(want["gain"])
    assert got["w_left"] == _r6(want["w_left"])
    assert got["w_right"] == _r6(want["w_right"])


# ---------------------------------------------------------------------------
# q_xgb_boosted_tree2 (VERDICT r15 #1): 2 shrinkage-chained Newton
# rounds of depth-2 trees — round-1 pin, python tree-2 reference on
# the oracle's own u2, coherence.


def test_xgb_boosted_tree2_round1_is_q_xgb_tree2(spark, sf_dir):
    """Round 1 of the chain IS q_xgb_tree2's exact tree (the
    q_boosted_mf_tree2 / q_xgb_round2 pin style)."""
    tree = {
        r["node"]: r.asDict()
        for r in REGISTRY["q_xgb_tree2"].fn(spark, sf_dir).collect()
    }
    rows = REGISTRY["q_xgb_boosted_tree2"].fn(spark, sf_dir).collect()
    r1 = {r["node"]: r.asDict() for r in rows if r["round"] == 1}
    assert set(r1) == set(tree)
    for node, d in r1.items():
        d.pop("round")
        assert d == tree[node]


def test_xgb_boosted_tree2_tree2_matches_python_reference(spark, duck, sf_dir):
    """Tree 2 grows off the updated margin integer u2. The reference
    fetches u2 BY DUCKDB with the oracle's own margin-update text (so
    the LN/EXP house class cannot skew the python fold) and runs the
    pure-python depth-2 tree reference on it."""
    from fraud_detection_spark.operators.ml_metrics import _xgb_boost_sql

    # q_xgb_boosted_tree2's chain (the grower's (2, 2) run) read out at
    # the round-2 margin table
    rows = duck.execute(
        _xgb_boost_sql(2, 2, tail=" SELECT label, disc, price, qty, u2 FROM f2")
    ).fetchall()
    gh_rows = [
        (int(l), {"disc": float(d), "price": float(p), "qty": float(q)}, int(u))
        for l, d, p, q, u in rows
    ]
    want = _tree_reference(gh_rows)
    got = {
        r["node"]: r.asDict()
        for r in REGISTRY["q_xgb_boosted_tree2"].fn(spark, sf_dir).collect()
        if r["round"] == 2
    }
    for node in ("root", "left", "right"):
        _assert_pick(got[node], want[node])


def test_xgb_boosted_tree2_margin_update_is_4leaf_case(duck, sf_dir):
    """Pin the compiled 4-leaf CASE: recompute u2 in python from the
    oracle's OWN published tree-1 rows (root split -> branch ->
    child split -> 6-dp leaf weight -> saturation-guarded sigmoid
    step) and compare to the oracle's f2 margin column row-for-row
    on the (u, disc, price, qty) histogram."""
    import math

    from fraud_detection_spark.operators.ml_metrics import (
        _xgb_boost_sql,
        _xgb_boosted_tree2_oracle,
    )

    # tree 1: the oracle's published round-1 picks
    t1 = {
        r[0]: r
        for r in duck.execute(
            f"SELECT * FROM ({_xgb_boosted_tree2_oracle()}) WHERE round = 1"
        ).fetchall()
    }
    # columns: node, round, feat, threshold, n_left, n_right, g_left,
    # h_left, g_right, h_right, gain, w_left, w_right
    cols = (
        "node round feat threshold n_left n_right g_left h_left "
        "g_right h_right gain w_left w_right"
    ).split()
    t1 = {k: dict(zip(cols, v)) for k, v in t1.items()}
    # order-free comparison: the margin update is a deterministic
    # function of (disc, price, qty, u), so the (cell -> count)
    # histogram of f maps exactly onto the histogram of f2 — no
    # reliance on DuckDB preserving row order across queries
    fact = duck.execute(
        _xgb_boost_sql(
            2, 2, tail=" SELECT disc, price, qty, u, COUNT(*) FROM f GROUP BY disc, price, qty, u"
        )
    ).fetchall()
    got = {}
    for d, p, q, u2, cnt in duck.execute(
        _xgb_boost_sql(
            2,
            2,
            tail=" SELECT disc, price, qty, u2, COUNT(*) FROM f2 GROUP BY disc, price, qty, u2",
        )
    ).fetchall():
        got[(d, p, q, u2)] = got.get((d, p, q, u2), 0) + cnt

    def leaf_w(disc, price, qty):
        fv = {"disc": disc, "price": price, "qty": qty}
        br = "left" if fv[t1["root"]["feat"]] <= t1["root"]["threshold"] else "right"
        c = t1[br]
        return c["w_left"] if fv[c["feat"]] <= c["threshold"] else c["w_right"]

    want = {}
    for d, p, q, u, cnt in fact:
        if u in (0, 1000000):
            u2 = u
        else:
            w = leaf_w(d, p, q)
            pr = 1.0 / (1.0 + math.exp(-(math.log(u / (1000000 - u)) + w)))
            u2 = math.floor(pr * 1000000 + 0.5)
        want[(d, p, q, u2)] = want.get((d, p, q, u2), 0) + cnt
    assert want == got


def test_xgb_boosted_tree2_coherence(spark, sf_dir):
    rows = REGISTRY["q_xgb_boosted_tree2"].fn(spark, sf_dir).collect()
    assert len(rows) == 6
    assert {(r["round"], r["node"]) for r in rows} == {
        (rnd, node)
        for rnd in (1, 2)
        for node in ("root", "left", "right")
    }
    for r in rows:
        d = r.asDict()
        assert d["gain"] > 0
        assert (d["w_left"] < 0) == (d["g_left"] > 0)
        assert (d["w_right"] < 0) == (d["g_right"] > 0)
    for rnd in (1, 2):
        byn = {r["node"]: r.asDict() for r in rows if r["round"] == rnd}
        root, left, right = byn["root"], byn["left"], byn["right"]
        assert left["n_left"] + left["n_right"] == root["n_left"]
        assert right["n_left"] + right["n_right"] == root["n_right"]
    # every round sees the full fact table (margins chain, rows never
    # drop out)
    n1 = next(r for r in rows if r["round"] == 1 and r["node"] == "root")
    n2 = next(r for r in rows if r["round"] == 2 and r["node"] == "root")
    assert n1["n_left"] + n1["n_right"] == n2["n_left"] + n2["n_right"]


# ---------------------------------------------------------------------------
# q_xgb_gamma (VERDICT r15 #6a): cover-gated python reference + the
# gates visibly bind.


def _newton_pick_gated(rows, lam=1.0, eta=0.1, cover_units=None, mono=None):
    """_newton_round_reference with the r16 gates: ``cover_units``
    drops candidates whose either side carries Σhu < cover (1e-12
    integer units); ``mono`` maps feat -> +1/-1/0 and drops candidates
    whose Newton weights violate the sign (exact cross-multiplied
    integer comparison, mirroring the engine)."""
    n = len(rows)
    gt_u = sum(u - l * 1000000 for l, _, u in rows)
    ht_u = sum(u * (1000000 - u) for _, _, u in rows)
    GT, HT = gt_u / 1e6, ht_u / 1e12
    best = None
    total = kept = 0
    for feat in ("disc", "price", "qty"):
        agg = {}
        for l, v, u in rows:
            cur = agg.setdefault(v[feat], [0, 0, 0])
            cur[0] += 1
            cur[1] += u - l * 1000000
            cur[2] += u * (1000000 - u)
        cn = cg = ch = 0
        vals = sorted(agg)
        for val in vals[:-1]:
            cn += agg[val][0]
            cg += agg[val][1]
            ch += agg[val][2]
            total += 1
            if cover_units is not None and (
                ch < cover_units or ht_u - ch < cover_units
            ):
                continue
            if mono is not None and mono.get(feat, 0):
                lhs = cg * (ht_u - ch + 10**12)
                rhs = (gt_u - cg) * (ch + 10**12)
                if mono[feat] > 0 and not lhs >= rhs:
                    continue
                if mono[feat] < 0 and not lhs <= rhs:
                    continue
            kept += 1
            GL, HL = cg / 1e6, ch / 1e12
            GR, HR = (gt_u - cg) / 1e6, (ht_u - ch) / 1e12
            kl = GL * GL / (HL + lam)
            kr = GR * GR / (HR + lam)
            cand = (-(kl + kr), feat, val, cn, GL, HL, GR, HR, kl, kr)
            if best is None or cand[:3] < best[:3]:
                best = cand
    if best is None:
        return None, total, kept
    key, feat, val, cn, GL, HL, GR, HR, kl, kr = best
    gain = 0.5 * ((kl + kr) - GT * GT / (HT + lam))
    return (
        {
            "feat": feat,
            "threshold": val,
            "n_left": cn,
            "n_right": n - cn,
            "gain": gain,
            "w_left": -eta * GL / (HL + lam),
            "w_right": -eta * GR / (HR + lam),
        },
        total,
        kept,
    )


def test_xgb_gamma_matches_python_reference(spark, duck, sf_dir):
    rows = _fetch_gh_rows(duck)
    want, total, kept = _newton_pick_gated(
        rows, cover_units=100 * 10**12
    )
    got = REGISTRY["q_xgb_gamma"].fn(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0].asDict()
    _assert_pick(r, want)
    assert r["cand_total"] == total
    assert r["cand_cover"] == kept
    assert r["gamma_pass"] == (1 if _r6(want["gain"]) > 50.0 else 0)


def test_xgb_gamma_gates_bind(spark, sf_dir):
    """min_child_weight = 100.0 must actually exclude candidates on
    the shipped data (a non-binding literal would be the inert
    library default the VERDICT warned against)."""
    r = REGISTRY["q_xgb_gamma"].fn(spark, sf_dir).collect()[0].asDict()
    assert 0 < r["cand_cover"] < r["cand_total"]
    # both children clear the cover by construction
    assert r["h_left"] >= 100.0 and r["h_right"] >= 100.0


# ---------------------------------------------------------------------------
# q_xgb_monotone (VERDICT r15 #6c): constrained python reference + the
# constraint visibly binds (the unconstrained winner is excluded).

_MONO = {"qty": 1, "disc": -1, "price": 0}


def test_xgb_monotone_matches_python_reference(spark, duck, sf_dir):
    rows = _fetch_gh_rows(duck)
    want, total, kept = _newton_pick_gated(rows, mono=_MONO)
    got = REGISTRY["q_xgb_monotone"].fn(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0].asDict()
    _assert_pick(r, want)
    assert r["cand_total"] == total
    assert r["cand_allowed"] == kept


def test_xgb_monotone_binds_and_respects_signs(spark, sf_dir):
    """The gate excludes candidates AND moves the argmin off the
    unconstrained q_xgb_round winner (the shipped data's best qty
    split is decreasing, banned under qty:+1); the emitted pick obeys
    its own constraint sign."""
    r = REGISTRY["q_xgb_monotone"].fn(spark, sf_dir).collect()[0].asDict()
    unc = REGISTRY["q_xgb_round"].fn(spark, sf_dir).collect()[0].asDict()
    assert r["cand_allowed"] < r["cand_total"]
    assert (r["feat"], r["threshold"]) != (unc["feat"], unc["threshold"])
    sign = _MONO[r["feat"]]
    if sign > 0:
        assert r["w_left"] <= r["w_right"]
    elif sign < 0:
        assert r["w_left"] >= r["w_right"]


# ---------------------------------------------------------------------------
# q_cal_in_large (VERDICT r15 #6d): exact-moment python reference +
# decile-table consistency.


def test_cal_in_large_matches_python_reference(spark, duck, sf_dir):
    import math

    rows = duck.execute(
        "SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label, "
        f"CAST(FLOOR(({sql_round(_SIG_SQL, 6)}) * 1000000 + 0.5) AS BIGINT) "
        "AS u FROM lineitem"
    ).fetchall()
    n = len(rows)
    pos = sum(l for l, _ in rows)
    su = sum(u for _, u in rows)
    var0 = sum(u * (1000000 - u) for _, u in rows)
    num = sum((l * 10**6 - u) * (10**6 - 2 * u) for l, u in rows)
    var = sum((10**6 - 2 * u) ** 2 * u * (10**6 - u) for _, u in rows)
    got = REGISTRY["q_cal_in_large"].fn(spark, sf_dir).collect()[0].asDict()
    assert got["n"] == n
    assert got["mean_obs"] == _r6(pos / n)
    assert got["mean_pred"] == _r6(su / 1e6 / n)
    assert got["cal_gap"] == _r6((pos * 10**6 - su) / 1e6 / n)
    assert got["z_oe"] == _r6(
        ((pos * 10**6 - su) / 1e6) / math.sqrt(var0 / 1e12)
    )
    assert got["num_spieg"] == _r6(num / 1e12)
    assert got["z_spieg"] == _r6((num / 1e12) / math.sqrt(var / 1e24))


def test_cal_in_large_consistent_with_decile_table(spark, sf_dir):
    """The one-row summary must aggregate the q_spiegelhalter decile
    table exactly: n and events sum, and the overall Spiegelhalter
    numerator equals the decile numerators' sum (same 1e-12 units)."""
    overall = (
        REGISTRY["q_cal_in_large"].fn(spark, sf_dir).collect()[0].asDict()
    )
    deciles = [
        r.asDict()
        for r in REGISTRY["q_spiegelhalter"].fn(spark, sf_dir).collect()
    ]
    assert overall["n"] == sum(d["n"] for d in deciles)
    assert overall["mean_obs"] == _r6(
        sum(d["events"] for d in deciles) / overall["n"]
    )
    assert abs(
        overall["num_spieg"] - sum(d["num_spieg"] for d in deciles)
    ) < 1e-3
    # the published scorer is globally over-confident (the
    # q_pseudo_r2 finding): it over-predicts events
    assert overall["cal_gap"] < 0
    assert overall["z_spieg"] > 2


# ---------------------------------------------------------------------------
# q_km_bands (VERDICT r15 #6b): python band reference + KM-curve
# consistency pins.


def test_km_bands_matches_python_reference(spark, duck, sf_dir):
    import math

    rows = duck.execute(
        "WITH u AS (SELECT user_id, "
        "MIN(epoch_ns(ts) // 1000000000) AS first_sec, "
        "MAX(epoch_ns(ts) // 1000000000) AS last_sec, "
        "MIN(CASE WHEN event_type = 'error' THEN epoch_ns(ts) // 1000000000 "
        "END) AS err_sec FROM events GROUP BY user_id) "
        "SELECT CASE WHEN err_sec IS NOT NULL "
        "THEN (err_sec - first_sec) // 86400 "
        "ELSE (last_sec - first_sec) // 86400 END AS dur, "
        "CASE WHEN err_sec IS NOT NULL THEN 1 ELSE 0 END AS ev FROM u"
    ).fetchall()
    from collections import defaultdict

    cell = defaultdict(lambda: [0, 0])
    for dur, ev in rows:
        cell[dur][0] += 1
        cell[dur][1] += ev
    durs = sorted(cell)
    at_risk = len(rows)
    z = 1.959964
    ln_s, gw, alive = 0.0, 0.0, True
    want = {}
    for dur in durs:
        cnt, ev = cell[dur]
        if ev == at_risk:
            alive = False
        if alive:
            ln_s += math.log(1 - ev / at_risk)
            gw += (ev / at_risk) / (at_risk - ev)
        if not alive:
            surv = lo = hi = 0.0
        elif ln_s == 0 or gw == 0:
            surv = _r6(math.exp(ln_s))
            lo = hi = None
        else:
            surv = _r6(math.exp(ln_s))
            th = z * math.sqrt(gw) / (0.0 - ln_s)
            c = math.log(0.0 - ln_s)
            lo = _r6(math.exp(0.0 - math.exp(c + th)))
            hi = _r6(math.exp(0.0 - math.exp(c - th)))
        want[dur] = (at_risk, ev, surv, lo, hi)
        at_risk -= cnt
    got = REGISTRY["q_km_bands"].fn(spark, sf_dir).collect()
    assert len(got) == len(durs)
    for r in got:
        n_risk, ev, surv, lo, hi = want[r["dur_days"]]
        assert r["n_risk"] == n_risk
        assert r["n_event"] == ev
        assert r["survival"] == surv
        assert r["ci_lo"] == lo
        assert r["ci_hi"] == hi


def test_km_bands_consistent_with_km_curve(spark, sf_dir):
    """survival ≡ q_kaplan_meier's column per duration; non-null bands
    bracket the estimate inside [0,1] and are strictly ordered."""
    km = {
        r["dur_days"]: r["survival"]
        for r in REGISTRY["q_kaplan_meier"].fn(spark, sf_dir).collect()
    }
    rows = REGISTRY["q_km_bands"].fn(spark, sf_dir).collect()
    assert {r["dur_days"] for r in rows} == set(km)
    saw_band = False
    for r in rows:
        assert r["survival"] == km[r["dur_days"]]
        if r["ci_lo"] is not None:
            saw_band = True
            assert 0.0 <= r["ci_lo"] <= r["survival"] <= r["ci_hi"] <= 1.0
    assert saw_band


# ---------------------------------------------------------------------------
# q_xgb_alpha (r16 widening): L1 soft-threshold python reference +
# sparsity/shrinkage pins.

_ALPHA_U = 20 * 10**6


def _newton_pick_alpha(rows, lam=1.0, eta=0.1, alpha_u=_ALPHA_U):
    """Newton pick with reg_alpha: every branch gradient (in exact
    1e-6 integer units) soft-thresholded before score and weight."""
    n = len(rows)
    gt_u = sum(u - l * 1000000 for l, _, u in rows)
    ht_u = sum(u * (1000000 - u) for _, _, u in rows)

    def T(g):
        if g > alpha_u:
            return g - alpha_u
        if g < -alpha_u:
            return g + alpha_u
        return 0

    GT, HT = T(gt_u) / 1e6, ht_u / 1e12
    best = None
    for feat in ("disc", "price", "qty"):
        agg = {}
        for l, v, u in rows:
            cur = agg.setdefault(v[feat], [0, 0, 0])
            cur[0] += 1
            cur[1] += u - l * 1000000
            cur[2] += u * (1000000 - u)
        cn = cg = ch = 0
        vals = sorted(agg)
        for val in vals[:-1]:
            cn += agg[val][0]
            cg += agg[val][1]
            ch += agg[val][2]
            GL, HL = T(cg) / 1e6, ch / 1e12
            GR, HR = T(gt_u - cg) / 1e6, (ht_u - ch) / 1e12
            kl = GL * GL / (HL + lam)
            kr = GR * GR / (HR + lam)
            cand = (-(kl + kr), feat, val, cn, GL, HL, GR, HR, kl, kr)
            if best is None or cand[:3] < best[:3]:
                best = cand
    key, feat, val, cn, GL, HL, GR, HR, kl, kr = best
    gain = 0.5 * ((kl + kr) - GT * GT / (HT + lam))
    return {
        "feat": feat,
        "threshold": val,
        "n_left": cn,
        "n_right": n - cn,
        "tg_left": GL,
        "h_left": HL,
        "tg_right": GR,
        "h_right": HR,
        "gain": gain,
        "w_left": -eta * GL / (HL + lam),
        "w_right": -eta * GR / (HR + lam),
    }


def test_xgb_alpha_matches_python_reference(spark, duck, sf_dir):
    rows = _fetch_gh_rows(duck)
    want = _newton_pick_alpha(rows)
    got = REGISTRY["q_xgb_alpha"].fn(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0].asDict()
    assert r["feat"] == want["feat"]
    assert r["threshold"] == want["threshold"]
    assert r["n_left"] == want["n_left"]
    assert r["n_right"] == want["n_right"]
    assert r["tg_left"] == _r6(want["tg_left"])
    assert r["tg_right"] == _r6(want["tg_right"])
    assert r["gain"] == _r6(want["gain"])
    assert r["w_left"] == _r6(want["w_left"])
    assert r["w_right"] == _r6(want["w_right"])


def test_xgb_alpha_binds_shrinkage_and_stability(spark, sf_dir):
    """alpha strictly shrinks both leaf weights toward 0 relative to
    the unregularized q_xgb_round pick (|w_alpha| <= |w|, equality
    only at 0), reduces the gain, and keeps the same argmin split on
    this data (the alpha-stability pin; the sf0.001 left leaf hits
    EXACT 0 — covered by the reference test's value equality)."""
    a = REGISTRY["q_xgb_alpha"].fn(spark, sf_dir).collect()[0].asDict()
    u = REGISTRY["q_xgb_round"].fn(spark, sf_dir).collect()[0].asDict()
    assert (a["feat"], a["threshold"]) == (u["feat"], u["threshold"])
    assert abs(a["w_left"]) <= abs(u["w_left"])
    assert abs(a["w_right"]) <= abs(u["w_right"])
    assert a["gain"] <= u["gain"]
    # soft-threshold direction: thresholded gradients move toward 0
    # by at most alpha/1e6 = 20.0
    assert abs(a["tg_left"]) <= abs(u["g_left"]) + 1e-9
    assert abs(u["g_left"]) - abs(a["tg_left"]) <= 20.0 + 1e-9


# ---------------------------------------------------------------------------
# q_km_median (r16 widening): python crossing reference + bracket pins.


def test_km_median_matches_python_reference(spark, sf_dir):
    """Recompute the three crossings in python from q_km_bands' OWN
    rows (already pinned against an independent reference above), so
    this pins the inversion logic."""
    bands = sorted(
        (r.asDict() for r in REGISTRY["q_km_bands"].fn(spark, sf_dir).collect()),
        key=lambda r: r["dur_days"],
    )
    def first(key):
        for r in bands:
            if r[key] is not None and r[key] <= 0.5:
                return r["dur_days"]
        return None

    got = REGISTRY["q_km_median"].fn(spark, sf_dir).collect()[0].asDict()
    assert got["median_days"] == first("survival")
    assert got["ci_lo_days"] == first("ci_lo")
    assert got["ci_hi_days"] == first("ci_hi")
    # n is the whole cohort: the first duration's risk set
    assert got["n"] == bands[0]["n_risk"]


def test_km_median_bracket_order(spark, sf_dir):
    """ci_lo_days <= median_days <= ci_hi_days wherever defined (the
    band-inversion bracket), and the median is real on this data."""
    got = REGISTRY["q_km_median"].fn(spark, sf_dir).collect()[0].asDict()
    assert got["median_days"] is not None
    if got["ci_lo_days"] is not None:
        assert got["ci_lo_days"] <= got["median_days"]
    if got["ci_hi_days"] is not None:
        assert got["median_days"] <= got["ci_hi_days"]


# ---------------------------------------------------------------------------
# q_xgb_hist (r16 widening): python binned reference + the
# exact-vs-approx comparison pin.


def _hist_pick_reference(rows, bins=256, lam=1.0, eta=0.1):
    """Count-quantile binned Newton pick: per feature, distinct values
    in order, bin = ((cum_n-1)*bins)//n, candidates = last value of
    each bin (inclusive cums), argmin by the same gain key."""
    n = len(rows)
    gt_u = sum(u - l * 1000000 for l, _, u in rows)
    ht_u = sum(u * (1000000 - u) for _, _, u in rows)
    GT, HT = gt_u / 1e6, ht_u / 1e12
    best = None
    n_cand = 0
    for feat in ("disc", "price", "qty"):
        agg = {}
        for l, v, u in rows:
            cur = agg.setdefault(v[feat], [0, 0, 0])
            cur[0] += 1
            cur[1] += u - l * 1000000
            cur[2] += u * (1000000 - u)
        vals = sorted(agg)
        cn = cg = ch = 0
        cums = []
        for val in vals:
            cn += agg[val][0]
            cg += agg[val][1]
            ch += agg[val][2]
            cums.append((val, cn, cg, ch, ((cn - 1) * bins) // n))
        # last value per bin, excluding the full-mass boundary
        by_bin = {}
        for val, cn, cg, ch, b in cums:
            by_bin[b] = (val, cn, cg, ch)
        for b, (val, cn, cg, ch) in by_bin.items():
            if cn >= n:
                continue
            n_cand += 1
            GL, HL = cg / 1e6, ch / 1e12
            GR, HR = (gt_u - cg) / 1e6, (ht_u - ch) / 1e12
            kl = GL * GL / (HL + lam)
            kr = GR * GR / (HR + lam)
            cand = (-(kl + kr), feat, val, b, cn, GL, HL, GR, HR, kl, kr)
            if best is None or cand[:3] < best[:3]:
                best = cand
    key, feat, val, b, cn, GL, HL, GR, HR, kl, kr = best
    gain = 0.5 * ((kl + kr) - GT * GT / (HT + lam))
    return {
        "feat": feat,
        "threshold": val,
        "bin": b,
        "n_left": cn,
        "n_right": n - cn,
        "gain": gain,
        "w_left": -eta * GL / (HL + lam),
        "w_right": -eta * GR / (HR + lam),
        "cand_bins": n_cand,
    }


def test_xgb_hist_matches_python_reference(spark, duck, sf_dir):
    rows = _fetch_gh_rows(duck)
    want = _hist_pick_reference(rows)
    got = REGISTRY["q_xgb_hist"].fn(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0].asDict()
    assert r["feat"] == want["feat"]
    assert r["threshold"] == want["threshold"]
    assert r["bin"] == want["bin"]
    assert r["n_left"] == want["n_left"]
    assert r["n_right"] == want["n_right"]
    assert r["gain"] == _r6(want["gain"])
    assert r["w_left"] == _r6(want["w_left"])
    assert r["w_right"] == _r6(want["w_right"])
    assert r["cand_bins"] == want["cand_bins"]


def test_xgb_hist_vs_exact_pick(spark, sf_dir):
    """The exact-vs-approx comparison of the XGBoost paper on this
    data: the binned candidate set is a subset of the exact one, so
    binned gain <= exact gain; with 256 equal-mass bins the binned
    pick RECOVERS the exact split here (the exact threshold is a bin
    boundary at every SF — qty's distinct-value count is far below
    256, so qty candidates survive binning unchanged)."""
    h = REGISTRY["q_xgb_hist"].fn(spark, sf_dir).collect()[0].asDict()
    e = REGISTRY["q_xgb_round"].fn(spark, sf_dir).collect()[0].asDict()
    assert h["gain"] <= e["gain"] + 1e-9
    assert (h["feat"], h["threshold"]) == (e["feat"], e["threshold"])
    assert h["gain"] == e["gain"]
    # the whole point of hist: bounded candidate table
    assert h["cand_bins"] <= 3 * 256

def test_xgb_boosted_tree2_improves_objective(duck, sf_dir):
    """Objective-level pin for the chain: each depth-2 Newton round
    must strictly increase the Bernoulli log-likelihood it
    Newton-steps (the q_xgb_fit argument applied to trees), and the
    depth-2 round-1 improvement must be at least the stump round-1
    improvement (a tree's leaf partition refines the stump's, with
    every leaf weight chosen by the same second-order rule). All
    margins derived in python from the oracles' OWN pick rows applied
    to the order-free (label, feats, u) cell histogram — the margin
    chain is a deterministic per-cell function (its engine agreement
    is pinned by the 4-leaf-CASE test above), so this pins the
    SEMANTICS without relying on any cross-query row order."""
    import math

    from fraud_detection_spark.operators.ml_metrics import (
        _xgb_boost_sql,
        _xgb_boosted_tree2_oracle,
        _xgb_round2_oracle,
    )

    sql = _xgb_boosted_tree2_oracle()
    cols = (
        "node round feat threshold n_left n_right g_left h_left "
        "g_right h_right gain w_left w_right"
    ).split()

    def tree(rnd):
        """The oracle's published picks of round ``rnd``."""
        return {
            r[0]: dict(zip(cols, r))
            for r in duck.execute(f"SELECT * FROM ({sql}) WHERE round = {rnd}").fetchall()
        }

    t1, t2 = tree(1), tree(2)
    cells = duck.execute(
        _xgb_boost_sql(
            2,
            2,
            tail=" SELECT label, disc, price, qty, u, COUNT(*) FROM f "
            "GROUP BY label, disc, price, qty, u",
        )
    ).fetchall()

    def leaf_w(t, disc, price, qty):
        fv = {"disc": disc, "price": price, "qty": qty}
        root = t["root"]
        br = "left" if fv[root["feat"]] <= root["threshold"] else "right"
        c = t[br]
        return c["w_left"] if fv[c["feat"]] <= c["threshold"] else c["w_right"]

    def step(u, w):
        if u in (0, 1000000):
            return u
        p = 1.0 / (1.0 + math.exp(-(math.log(u / (1000000 - u)) + w)))
        return math.floor(p * 1000000 + 0.5)

    def ll(margin_of_cell):
        return sum(
            cnt * (math.log(u / 1e6) if y else math.log((1e6 - u) / 1e6))
            for (y, d, p, q, u0, cnt) in cells
            for u in [margin_of_cell(d, p, q, u0)]
            if 0 < u < 1000000
        )

    ll0 = ll(lambda d, p, q, u: u)
    ll1 = ll(lambda d, p, q, u: step(u, leaf_w(t1, d, p, q)))
    ll2 = ll(
        lambda d, p, q, u: step(
            step(u, leaf_w(t1, d, p, q)), leaf_w(t2, d, p, q)
        )
    )
    assert ll1 > ll0
    assert ll2 > ll1
    # the tree refines the stump: round-1 LL gain at least the stump
    # chain's round-1 gain (q_xgb_round2's own p1 row applied to the
    # same cells)
    p1 = duck.execute(
        f"SELECT * FROM ({_xgb_round2_oracle()}) WHERE round = 1"
    ).fetchall()[0]
    sp = dict(zip(["round"] + cols[2:], p1))

    def stump_w(d, p, q):
        v = {"disc": d, "price": p, "qty": q}[sp["feat"]]
        return sp["w_left"] if v <= sp["threshold"] else sp["w_right"]

    ll1_stump = ll(lambda d, p, q, u: step(u, stump_w(d, p, q)))
    assert ll1 - ll0 >= ll1_stump - ll0 - 1e-6


# ---------------------------------------------------------------------------
# Hypothesis pins for the round-16 exact-integer gate algebra (the
# test_portable_round_hypothesis style): the engine claims the float
# comparisons were replaced by EQUIVALENT integer arithmetic — prove
# the equivalence on random sufficient statistics, not just the
# shipped data.


def test_monotone_gate_cross_multiplication_identity():
    """The q_xgb_monotone admissibility rule: for any branch stats,
    w_l <= w_r (in exact rational arithmetic) iff
    G_L*(H_R+lam) >= G_R*(H_L+lam) — the cross-multiplied integer
    predicate the engines evaluate. Checked against the FRACTION
    comparison (exact), so float rounding can't vote."""
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    g = st.integers(min_value=-10**14, max_value=10**14)
    h = st.integers(min_value=0, max_value=10**16)
    LAM = 10**12

    @settings(max_examples=300, deadline=None)
    @given(gl=g, gr=g, hl=h, hr=h)
    def run(gl, gr, hl, hr):
        # w = -(G/1e6) / ((H/1e12) + 1), denominators > 0
        wl = -Fraction(gl, 10**6) / (Fraction(hl, 10**12) + 1)
        wr = -Fraction(gr, 10**6) / (Fraction(hr, 10**12) + 1)
        pred = gl * (hr + LAM) >= gr * (hl + LAM)
        assert (wl <= wr) == pred

    run()


def test_alpha_soft_threshold_matches_rational_form():
    """q_xgb_alpha's integer CASE is the textbook soft-threshold:
    T(G) = sign(G)*max(|G|-alpha, 0) in the same 1e-6 units, for any
    integer gradient sum."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    A = 20 * 10**6

    @settings(max_examples=300, deadline=None)
    @given(gu=st.integers(min_value=-10**15, max_value=10**15))
    def run(gu):
        case = gu - A if gu > A else (gu + A if gu < -A else 0)
        textbook = (1 if gu > 0 else -1) * max(abs(gu) - A, 0)
        assert case == textbook

    run()


def test_hist_bin_rule_is_quantile_partition():
    """q_xgb_hist's bin = ((cum_n-1)*B) div n maps every prefix count
    1..n into 0..B-1, is monotone in cum_n, and the resulting
    partition is equal-mass within one bin-width — the exact
    count-quantile property the 100 TB boundedness claim rides on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    B = 256

    @settings(max_examples=200, deadline=None)
    @given(n=st.integers(min_value=1, max_value=10**12))
    def run(n):
        # endpoints and monotone sample points (clamped to 1..n)
        pts = sorted(
            {c for c in (1, 2, n // 3 + 1, n // 2 + 1, n - 1, n) if 1 <= c <= n}
        )
        bins = [((c - 1) * B) // n for c in pts]
        assert all(0 <= b <= B - 1 for b in bins)
        assert bins == sorted(bins)
        # a bin holds at most ceil(n/B) distinct prefix positions:
        # positions c, c' in one bin satisfy |c-c'| < n/B + 1
        for c, b in zip(pts, bins):
            lo = (b * n) // B + 1  # first count that can land in b
            hi = ((b + 1) * n + B - 1) // B  # last count in b
            assert lo <= c <= hi

    run()
