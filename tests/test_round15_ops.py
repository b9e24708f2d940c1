"""Round-15 operators. Oracle parity is auto-covered by
test_oracle_parity's registry sweep; these tests pin semantics against
independent python references and pin the composition claims.
"""

from __future__ import annotations

from fraud_detection_spark.registry import load_all, sql_round

REGISTRY = load_all()


# ---------------------------------------------------------------------------
# q_xgb_round (VERDICT r14 #1): independent python Newton round —
# gradients/hessians from the 6-dp published score, XGBoost gain
# argmax over all three features, shrunken Newton leaf weights.

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
    """(label, {feat: 6-dp val}, u) per lineitem row — values rounded
    BY DUCKDB with the registry's exact sql_round text so the python
    reference sees the identical doubles/integers both engines use."""
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
    """Pure-python single Newton round: exact integer g/h sufficient
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


def _r6(x: float) -> float:
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def test_xgb_round_matches_python_reference(spark, duck, sf_dir):
    rows = _fetch_gh_rows(duck)
    want = _newton_round_reference(rows)
    got = REGISTRY["q_xgb_round"].fn(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0].asDict()
    assert r["feat"] == want["feat"]
    assert r["threshold"] == want["threshold"]
    assert r["n_left"] == want["n_left"]
    assert r["n_right"] == want["n_right"]
    assert r["gain"] == _r6(want["gain"])
    assert r["w_left"] == _r6(want["w_left"])
    assert r["w_right"] == _r6(want["w_right"])


def test_xgb_round_gh_identities(duck):
    """Pin the g/h integer encodings: sum(g) = sum(u)/1e6 - positives
    and h = p(1-p) exactly, so the Newton stats are integer-exact."""
    rows = _fetch_gh_rows(duck)
    gt_u = sum(u - l * 1000000 for l, _, u in rows)
    su = sum(u for _, _, u in rows)
    pos = sum(l for l, _, _ in rows)
    assert gt_u == su - pos * 1000000
    for l, _, u in rows[:100]:
        p = u / 1e6
        # double-arithmetic reconstruction agrees to ~1 ulp of 0.25
        assert abs(u * (1000000 - u) / 1e12 - p * (1 - p)) < 1e-12


def test_xgb_round_gain_positive_and_weights_signed(spark, sf_dir):
    """The published scorer is miscalibrated on lineitem (q_pseudo_r2's
    finding), so one Newton round MUST find positive structure gain;
    leaf weights carry the correction sign of their branch G."""
    r = REGISTRY["q_xgb_round"].fn(spark, sf_dir).collect()[0].asDict()
    assert r["gain"] > 0
    assert (r["w_left"] < 0) == (r["g_left"] > 0)
    assert (r["w_right"] < 0) == (r["g_right"] > 0)


# ---------------------------------------------------------------------------
# Shared KM duration-fold helper (VERDICT r14 #5): the 13 survival
# oracles open with _km_dur_sql; pin the generated text to the exact
# pre-refactor per-query bytes so the extraction can never silently
# change a hash-green oracle. The risk-set tables built on the fold
# (_km_sql, _risk2_sql, _arm_sum_sql) are pinned the same way.

_KM_PREFIX_PLAIN = (
    "WITH u AS (SELECT user_id, "
    "MIN(epoch_ns(ts) // 1000000000) AS first_sec, "
    "MAX(epoch_ns(ts) // 1000000000) AS last_sec, "
    "MIN(CASE WHEN event_type = 'error' THEN epoch_ns(ts) // 1000000000 "
    "END) AS err_sec FROM events GROUP BY user_id), "
    "d AS (SELECT CASE WHEN err_sec IS NOT NULL "
    "THEN (err_sec - first_sec) // 86400 "
    "ELSE (last_sec - first_sec) // 86400 END AS dur, "
    "CASE WHEN err_sec IS NOT NULL THEN 1 ELSE 0 END AS ev FROM u), "
)

_KM_PREFIX_ARM = (
    "WITH u AS (SELECT user_id % 2 AS arm, "
    "MIN(epoch_ns(ts) // 1000000000) AS first_sec, "
    "MAX(epoch_ns(ts) // 1000000000) AS last_sec, "
    "MIN(CASE WHEN event_type = 'error' THEN epoch_ns(ts) // 1000000000 "
    "END) AS err_sec FROM events GROUP BY user_id), "
    "d AS (SELECT arm, CASE WHEN err_sec IS NOT NULL "
    "THEN (err_sec - first_sec) // 86400 "
    "ELSE (last_sec - first_sec) // 86400 END AS dur, "
    "CASE WHEN err_sec IS NOT NULL THEN 1 ELSE 0 END AS ev FROM u), "
)

_KM_PREFIX_STRAT = (
    "WITH u AS (SELECT user_id % 2 AS arm, (user_id // 2) % 3 AS stratum, "
    "MIN(epoch_ns(ts) // 1000000000) AS first_sec, "
    "MAX(epoch_ns(ts) // 1000000000) AS last_sec, "
    "MIN(CASE WHEN event_type = 'error' THEN epoch_ns(ts) // 1000000000 "
    "END) AS err_sec FROM events GROUP BY user_id), "
    "d AS (SELECT arm, stratum, CASE WHEN err_sec IS NOT NULL "
    "THEN (err_sec - first_sec) // 86400 "
    "ELSE (last_sec - first_sec) // 86400 END AS dur, "
    "CASE WHEN err_sec IS NOT NULL THEN 1 ELSE 0 END AS ev FROM u), "
)

_KM_FAMILY = {
    "q_kaplan_meier": _KM_PREFIX_PLAIN,
    "q_nelson_aalen": _KM_PREFIX_PLAIN,
    "q_rmst": _KM_PREFIX_PLAIN,
    "q_km_bands": _KM_PREFIX_PLAIN,
    "q_km_median": _KM_PREFIX_PLAIN,
    "q_logrank": _KM_PREFIX_ARM,
    "q_gehan": _KM_PREFIX_ARM,
    "q_tarone_ware": _KM_PREFIX_ARM,
    "q_fleming_harrington": _KM_PREFIX_ARM,
    "q_schoenfeld_trend": _KM_PREFIX_ARM,
    "q_logrank_strat": _KM_PREFIX_STRAT,
}

# the pre-refactor bytes of the product-limit table (through ln_s),
# the two-arm at-risk table and the arm summary
_KM_TABLE = (
    "t AS (SELECT dur, CAST(SUM(ev) AS BIGINT) AS n_event, "
    "CAST(COUNT(*) - SUM(ev) AS BIGINT) AS n_censored FROM d GROUP BY dur), "
    "r AS (SELECT *, CAST(SUM(n_event + n_censored) OVER "
    "(ORDER BY dur DESC) AS BIGINT) AS n_risk FROM t), "
    "s AS (SELECT *, "
    "MIN(CASE WHEN n_event = n_risk THEN 0 ELSE 1 END) OVER (ORDER BY dur)"
    " AS alive, "
    "SUM(CASE WHEN n_event < n_risk THEN LN(1 - n_event * 1.0 / n_risk) "
    "ELSE NULL END) OVER (ORDER BY dur) AS ln_s"
)

_RISK2_TABLE = (
    "t AS (SELECT dur, "
    "CAST(SUM(ev) AS BIGINT) AS de, "
    "CAST(SUM(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1, "
    "CAST(COUNT(*) AS BIGINT) AS tot, "
    "CAST(SUM(arm) AS BIGINT) AS tot1 FROM d GROUP BY dur), "
    "r AS (SELECT dur, de, d1, "
    "CAST(SUM(tot) OVER (ORDER BY dur DESC) AS BIGINT) AS n, "
    "CAST(SUM(tot1) OVER (ORDER BY dur DESC) AS BIGINT) AS n1 FROM t), "
)

_ARM_SUMMARY = (
    "g AS (SELECT "
    "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control, "
    "CAST(SUM(arm) AS BIGINT) AS n_treat, "
    "CAST(SUM(CASE WHEN arm = 0 THEN ev ELSE 0 END) AS BIGINT) "
    "AS events_control, "
    "CAST(SUM(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) "
    "AS events_treat FROM d), "
)


def test_km_fold_sql_generation():
    from fraud_detection_spark.operators.timeseries import _km_dur_sql

    assert _km_dur_sql() == _KM_PREFIX_PLAIN
    assert _km_dur_sql(arm=True) == _KM_PREFIX_ARM
    assert _km_dur_sql(arm=True, strat=True) == _KM_PREFIX_STRAT
    for name, prefix in _KM_FAMILY.items():
        assert REGISTRY[name].oracle.startswith(prefix), name


def test_km_table_sql_in_oracles():
    """Each risk-set table's SQL helper text appears verbatim in every
    oracle built on it, and the default forms keep the pre-refactor
    bytes."""
    from fraud_detection_spark.operators import timeseries as ts

    assert ts._km_sql() == _KM_TABLE + " FROM r)"
    assert ts._risk2_sql() == _RISK2_TABLE
    assert ts._arm_sum_sql() == _ARM_SUMMARY
    members = {
        ts._km_sql(): ("q_kaplan_meier", "q_rmst"),
        ts._km_sql("na", "gw"): ("q_nelson_aalen",),
        ts._km_sql("gw"): ("q_km_bands", "q_km_median"),
        ts._km_surv_sql("de", "n"): ("q_fleming_harrington",),
        ts._KM_S6_SQL: (
            "q_kaplan_meier",
            "q_rmst",
            "q_fleming_harrington",
            "q_km_bands",
            "q_km_median",
        ),
        ts._risk2_sql(): (
            "q_logrank",
            "q_gehan",
            "q_tarone_ware",
            "q_fleming_harrington",
            "q_schoenfeld_trend",
        ),
        ts._risk2_sql(strat=True): ("q_logrank_strat",),
        ts._risk2_sql(src="dz"): ("q_cox_score",),
        ts._arm_sum_sql(): (
            "q_logrank",
            "q_gehan",
            "q_tarone_ware",
            "q_fleming_harrington",
        ),
        ts._arm_sum_sql(("z0", "z1"), src="dz"): ("q_cox_score",),
    }
    for text, names in members.items():
        for name in names:
            assert text in REGISTRY[name].oracle, name
    for name in ("q_km_bands", "q_km_median"):
        for op in "+-":
            assert ts._km_band_sql(op) in REGISTRY[name].oracle, (name, op)
    # the two covariate members open with the fold carrying their
    # per-user aggregate
    covariates = {
        "q_cox_score": (
            "pc",
            "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
            "AS BIGINT)",
        ),
        "q_cindex": (
            "pred",
            "CAST((SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) * 10) "
            "// (COUNT(*) * 10000) AS BIGINT)",
        ),
    }
    for name, (col, agg) in covariates.items():
        prefix = _KM_PREFIX_PLAIN.replace(
            "user_id, ", f"user_id, {agg} AS {col}, ", 1
        ).replace("d AS (SELECT ", f"d AS (SELECT {col}, ", 1)
        assert ts._km_dur_sql(extra={col: agg}) == prefix, name
        assert REGISTRY[name].oracle.startswith(prefix), name


def test_km_fold_spark_columns(spark, sf_dir):
    from fraud_detection_spark.operators.timeseries import _km_durations

    from fraud_detection_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    d = _km_durations(ev)
    assert d.columns == ["dur", "ev"]
    a = _km_durations(ev, arm=True)
    assert a.columns == ["arm", "dur", "ev"]
    # the arm split partitions the same duration multiset
    tot = d.groupBy().count().collect()[0][0]
    tot_a = a.groupBy().count().collect()[0][0]
    assert tot == tot_a


# ---------------------------------------------------------------------------
# Round-15 widenings (VERDICT r14 #7): python references for
# q_lift_gain, q_logrank_strat, q_schoenfeld_trend.


def _fetch_durations(duck, arm=False, strat=False):
    from fraud_detection_spark.operators.timeseries import _km_dur_sql

    sql = _km_dur_sql(arm=arm, strat=strat) + "x AS (SELECT 1) SELECT * FROM d"
    return duck.execute(sql).fetchall()


def _logrank_terms(rows, key=lambda r: None):
    """Per-(stratum, duration) hypergeometric O/E/V in exact 1e-9
    units, risk sets within stratum. rows = (arm, [stratum,] dur, ev);
    key extracts the stratum (None = unstratified)."""
    import math
    from collections import defaultdict

    groups = defaultdict(list)
    for r in rows:
        groups[key(r)].append(r)
    o1 = eu = vu = 0
    for _, g in groups.items():
        durs = defaultdict(lambda: [0, 0, 0, 0])  # de, d1, tot, tot1
        for r in g:
            arm, dur, ev = r[0], r[-2], r[-1]
            c = durs[dur]
            c[0] += ev
            c[1] += ev if arm == 1 else 0
            c[2] += 1
            c[3] += arm
        n = n1 = 0
        for dur in sorted(durs, reverse=True):
            de, d1, tot, tot1 = durs[dur]
            n += tot
            n1 += tot1
            if de == 0:
                continue
            share = n1 * 1.0 / n
            o1 += d1
            eu += math.floor(de * share * 1e9 + 0.5)
            if n > 1:
                vu += math.floor(
                    de * share * (1 - share) * (n - de) * 1.0 / (n - 1) * 1e9
                    + 0.5
                )
    return o1, eu, vu


def test_logrank_strat_matches_python_reference(spark, duck, sf_dir):
    rows = _fetch_durations(duck, arm=True, strat=True)
    o1, eu, vu = _logrank_terms(rows, key=lambda r: r[1])
    got = REGISTRY["q_logrank_strat"].fn(spark, sf_dir).collect()[0].asDict()
    assert got["o_treat"] == o1
    assert got["e_treat"] == _r6(eu / 1e9)
    assert got["var_treat"] == _r6(vu / 1e9)
    assert got["n_strata"] == len({r[1] for r in rows})
    if vu:
        import math

        assert got["z"] == _r6((o1 - eu / 1e9) / math.sqrt(vu / 1e9))


def test_logrank_strat_reduces_to_logrank_on_one_stratum(spark, duck, sf_dir):
    """Coherence: pooling all strata into one reproduces q_logrank's
    O/E/V exactly (the stratified machinery is the plain machinery
    when the stratum is constant)."""
    rows = _fetch_durations(duck, arm=True)
    o1, eu, vu = _logrank_terms(rows)
    lr = REGISTRY["q_logrank"].fn(spark, sf_dir).collect()[0].asDict()
    assert lr["o_treat"] == o1
    assert lr["e_treat"] == _r6(eu / 1e9)
    assert lr["var_treat"] == _r6(vu / 1e9)


def test_schoenfeld_trend_matches_python_reference(spark, duck, sf_dir):
    import math
    from collections import defaultdict

    rows = _fetch_durations(duck, arm=True)
    durs = defaultdict(lambda: [0, 0, 0, 0])
    for arm, dur, ev in rows:
        c = durs[dur]
        c[0] += ev
        c[1] += ev if arm == 1 else 0
        c[2] += 1
        c[3] += arm
    n = n1 = 0
    pts = []
    for dur in sorted(durs, reverse=True):
        de, d1, tot, tot1 = durs[dur]
        n += tot
        n1 += tot1
        if de == 0:
            continue
        su = d1 * 10**9 - math.floor(de * (n1 * 1.0 / n) * 1e9 + 0.5)
        pts.append((dur, su))
    k = len(pts)
    sx = sum(x for x, _ in pts)
    sxx = sum(x * x for x, _ in pts)
    sy = sum(y for _, y in pts)
    syy = sum(y * y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    num = k * (sxy / 1e9) - sx * (sy / 1e9)
    denx = float(k) * sxx - float(sx) * sx
    deny = k * (syy / 1e18) - (sy / 1e9) * (sy / 1e9)
    got = (
        REGISTRY["q_schoenfeld_trend"].fn(spark, sf_dir).collect()[0].asDict()
    )
    assert got["n_event_days"] == k
    if denx * deny <= 0:
        assert got["trend_corr"] is None
    else:
        assert got["trend_corr"] == _r6(num / math.sqrt(denx * deny))


def test_lift_gain_matches_python_reference(spark, duck, sf_dir):
    import math
    from collections import defaultdict

    rows = duck.execute(
        "SELECT CAST(FLOOR((" + sql_round(_SIG_SQL, 6) + ") * 10) AS BIGINT)"
        " AS decile, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"
        " FROM lineitem"
    ).fetchall()
    dec = defaultdict(lambda: [0, 0])
    for d, l in rows:
        dec[d][0] += 1
        dec[d][1] += l
    nn = sum(c[0] for c in dec.values())
    tev = sum(c[1] for c in dec.values())
    got = {
        r["decile"]: r
        for r in REGISTRY["q_lift_gain"].fn(spark, sf_dir).collect()
    }
    assert len(got) == len(dec)
    cum_n = cum_ev = 0
    for d in sorted(dec, reverse=True):
        cum_n += dec[d][0]
        cum_ev += dec[d][1]
        r = got[d].asDict()
        assert (r["n"], r["ev"], r["cum_n"], r["cum_ev"]) == (
            dec[d][0],
            dec[d][1],
            cum_n,
            cum_ev,
        )
        assert r["capture"] == _r6(cum_ev / tev)
        assert r["lift"] == _r6((cum_ev / cum_n) / (tev / nn))
    # identities: the bottom cut captures everything at lift exactly 1
    bottom = got[min(dec)].asDict()
    assert bottom["capture"] == 1.0 and bottom["lift"] == 1.0


# ---------------------------------------------------------------------------
# q_xgb_round2 (VERDICT r14 #7d): the shrinkage-chained second Newton
# round — round-1 pin, python round-2 reference, sign coherence.


def test_xgb_round2_round1_is_q_xgb_round(spark, sf_dir):
    """Round 1 of the chain IS q_xgb_round's pick (both are runs of the
    one Newton grower, _xgb_boost — the q_boosted_mf_tree2 pin style)."""
    one = REGISTRY["q_xgb_round"].fn(spark, sf_dir).collect()[0].asDict()
    two = REGISTRY["q_xgb_round2"].fn(spark, sf_dir).collect()
    r1 = next(r.asDict() for r in two if r["round"] == 1)
    r1.pop("round")
    assert r1 == one


def test_xgb_round2_round2_matches_python_reference(spark, duck, sf_dir):
    """Round 2 re-derives g/h off the updated margin integer u2. The
    reference fetches u2 BY DUCKDB with the oracle's own margin-update
    text (so the LN/EXP house class cannot skew the python fold) and
    runs the pure-python Newton pick on it."""
    from fraud_detection_spark.operators.ml_metrics import _xgb_boost_sql

    # q_xgb_round2's chain (the grower's (1, 2) run) read out at the
    # round-2 margin table
    rows = duck.execute(
        _xgb_boost_sql(1, 2, tail=" SELECT label, disc, price, qty, u2 FROM f2")
    ).fetchall()
    gh_rows = [
        (int(l), {"disc": float(d), "price": float(p), "qty": float(q)}, int(u))
        for l, d, p, q, u in rows
    ]
    want = _newton_round_reference(gh_rows)
    two = REGISTRY["q_xgb_round2"].fn(spark, sf_dir).collect()
    r2 = next(r.asDict() for r in two if r["round"] == 2)
    assert r2["feat"] == want["feat"]
    assert r2["threshold"] == want["threshold"]
    assert r2["n_left"] == want["n_left"]
    assert r2["n_right"] == want["n_right"]
    assert r2["gain"] == _r6(want["gain"])
    assert r2["w_left"] == _r6(want["w_left"])
    assert r2["w_right"] == _r6(want["w_right"])


def test_xgb_round2_coherence(spark, sf_dir):
    """Both rounds find positive structure gain; each leaf weight
    carries the Newton correction sign of its branch gradient."""
    for r in REGISTRY["q_xgb_round2"].fn(spark, sf_dir).collect():
        d = r.asDict()
        assert d["gain"] > 0
        assert (d["w_left"] < 0) == (d["g_left"] > 0)
        assert (d["w_right"] < 0) == (d["g_right"] > 0)


# ---------------------------------------------------------------------------
# q_xgb_fit: the Newton rounds' LL improvement — fold reference +
# coherence pins against q_pseudo_r2 and the Newton objective.


def test_xgb_fit_matches_python_fold_reference(spark, duck, sf_dir):
    """Recompute the three LLs in python from the oracle's own s3v
    cell table (so the chain machinery — already pinned by the
    q_xgb_round2 tests — is held fixed and the FOLD is what's
    checked)."""
    import math

    from fraud_detection_spark.operators.ml_metrics import _xgb_fit_oracle

    cells = duck.execute(
        _xgb_fit_oracle(tail=" SELECT u, u2, u3, cnt, pos FROM s3v")
    ).fetchall()
    n = sum(c[3] for c in cells)

    def ll(cells, idx):
        return sum(
            math.floor(
                (
                    pos * math.log(c[idx] / 1e6)
                    + (cnt - pos) * math.log((1e6 - c[idx]) / 1e6)
                )
                * 1e9
                + 0.5
            )
            for c in cells
            for cnt, pos in [(c[3], c[4])]
        )

    got = REGISTRY["q_xgb_fit"].fn(spark, sf_dir).collect()[0].asDict()
    assert got["n"] == n
    assert got["ll_base"] == _r6(ll(cells, 0) / 1e9)
    assert got["ll_round1"] == _r6(ll(cells, 1) / 1e9)
    assert got["ll_round2"] == _r6(ll(cells, 2) / 1e9)


def test_xgb_fit_coherence(spark, sf_dir):
    """Each Newton round steps the SAME objective it is fit on, so LL
    must strictly improve per round; and with no saturated margins
    (the published scorer's logit spans ~±2) ll_base equals
    q_pseudo_r2's ll_model exactly — the cross-query pin tying the
    r14 metric finding to the r15 fix."""
    got = REGISTRY["q_xgb_fit"].fn(spark, sf_dir).collect()[0].asDict()
    assert got["delta_round1"] > 0
    assert got["delta_round2"] > 0
    pr2 = REGISTRY["q_pseudo_r2"].fn(spark, sf_dir).collect()[0].asDict()
    assert got["n"] == pr2["n"]
    assert got["ll_base"] == pr2["ll_model"]


# ---------------------------------------------------------------------------
# q_xgb_tree2: exact Newton depth-2 tree — root pin, python per-branch
# reference, gain/weight coherence.


def test_xgb_tree2_root_is_q_xgb_round(spark, sf_dir):
    one = REGISTRY["q_xgb_round"].fn(spark, sf_dir).collect()[0].asDict()
    rows = REGISTRY["q_xgb_tree2"].fn(spark, sf_dir).collect()
    root = next(r.asDict() for r in rows if r["node"] == "root")
    root.pop("node")
    assert root == one


def test_xgb_tree2_children_match_python_reference(spark, duck, sf_dir):
    """Per-branch Newton picks recomputed in pure python: assign each
    row to the root branch, run the reference pick within each branch
    with branch totals as parent terms."""
    rows = _fetch_gh_rows(duck)
    root = _newton_round_reference(rows)
    got = {
        r["node"]: r.asDict()
        for r in REGISTRY["q_xgb_tree2"].fn(spark, sf_dir).collect()
    }
    for b, node in ((0, "left"), (1, "right")):
        sub = [
            r
            for r in rows
            if (r[1][root["feat"]] <= root["threshold"]) == (b == 0)
        ]
        want = _newton_round_reference(sub)
        r = got[node]
        assert r["feat"] == want["feat"]
        assert r["threshold"] == want["threshold"]
        assert r["n_left"] == want["n_left"]
        assert r["n_right"] == want["n_right"]
        assert r["gain"] == _r6(want["gain"])
        assert r["w_left"] == _r6(want["w_left"])
        assert r["w_right"] == _r6(want["w_right"])


def test_xgb_tree2_coherence(spark, sf_dir):
    rows = REGISTRY["q_xgb_tree2"].fn(spark, sf_dir).collect()
    assert {r["node"] for r in rows} == {"root", "left", "right"}
    for r in rows:
        d = r.asDict()
        assert d["gain"] > 0
        assert (d["w_left"] < 0) == (d["g_left"] > 0)
        assert (d["w_right"] < 0) == (d["g_right"] > 0)
    # the two children partition the root's branch counts exactly
    root = next(r.asDict() for r in rows if r["node"] == "root")
    left = next(r.asDict() for r in rows if r["node"] == "left")
    right = next(r.asDict() for r in rows if r["node"] == "right")
    assert left["n_left"] + left["n_right"] == root["n_left"]
    assert right["n_left"] + right["n_right"] == root["n_right"]
