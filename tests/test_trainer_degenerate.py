"""Degenerate-input parity: each query below must return its DuckDB
oracle's rows exactly (the test_partition_stress rule) on inputs the
fixtures never hold. The trainer family, the other oracle-checked
ML metrics and the lineitem-reading model monitors run with lineitem
empty, holding a single row, or holding one class only (no
l_returnflag = 'R'), and the trainers also with lineitem holding two
rows; the queries that divide by a
fact count run with lineitem and events both empty; the survival
family runs with events empty, holding a single user, holding no
'error' event, or holding one parity arm only (even user ids), and
the events-reading model monitors run on those cases and with one
A/B variant only (no 'purchase' event);
q_gini_index runs with orders empty, holding a single row, or
holding a single customer. The inputs derive from the test SF's
parquet under a pytest tmp dir: each rewritten table is a DuckDB COPY
of a SELECT tail over the shipped one, and every other table is
symlinked."""

from __future__ import annotations

import os

import duckdb
import pytest
from test_partition_stress import assert_exact

from fraud_detection_spark.registry import load_all
from fraud_detection_spark.sources import TABLES

REGISTRY = load_all()

TRAINERS = (
    "q_stump",
    "q_tree2",
    "q_tree3",
    "q_tree5",
    "q_tree5_confusion",
    "q_tree_multifeat",
    "q_boosted_stumps",
    "q_boosted_tree2",
    "q_boosted_multifeat",
    "q_boosted_mf_tree2",
    "q_xgb_round",
    "q_xgb_round2",
    "q_xgb_fit",
    "q_xgb_tree2",
    "q_xgb_boosted_tree2",
    "q_xgb_gamma",
    "q_xgb_monotone",
    "q_xgb_alpha",
    "q_xgb_hist",
)

# the oracle-checked ml_metrics queries outside the trainer family
METRICS = (
    "q_lr_proba",
    "q_lr_predict",
    "q_standard_scale",
    "q_shap_linear",
    "q_linear_attr",
    "q_confusion",
    "q_prf",
    "q_auc",
    "q_roc_points",
    "q_fold_assign",
    "q_split",
    "q_pr_points",
    "q_avg_precision",
    "q_mcc",
    "q_logloss",
    "q_parity_gap",
    "q_cohen_kappa",
    "q_ridge",
    "q_delong",
)

# the model_monitor queries that read lineitem
MONITORS = (
    "q_ks_stat",
    "q_psi",
    "q_calibration",
    "q_lift_bands",
    "q_benford",
    "q_target_encode",
    "q_woe_iv",
    "q_isotonic",
    "q_champion_challenger",
    "q_brier",
    "q_ece",
    "q_drift_profile",
    "q_auc_by_segment",
    "q_threshold_sweep",
    "q_spiegelhalter",
    "q_brier_decomp",
    "q_hosmer_lemeshow",
    "q_calibration_slope",
    "q_pseudo_r2",
    "q_lift_gain",
    "q_cal_in_large",
)

# the model_monitor queries that read events
EVENT_MONITORS = ("q_velocity", "q_ab_test", "q_hourly_profile")

# lineitem rewrite per case (a SELECT tail over the shipped table)
CASES = {
    "empty": "WHERE FALSE",
    "one_row": "ORDER BY l_orderkey, l_linenumber LIMIT 1",
    "one_class": "WHERE l_returnflag <> 'R'",
}


# lineitem rewrite per case, for the trainers only: with two rows the
# depth-2 Newton trees split the root and leave one row per branch, so
# no branch picks a child and q_xgb_boosted_tree2's margin update takes
# each branch's own weight (the no-split fallback the shipped data
# never reaches)
TRAINER_CASES = {"two_rows": "ORDER BY l_orderkey, l_linenumber LIMIT 2"}


# queries that divide by a fact-table count
EMPTY_FACTS_QUERIES = ("q_funnel_steps", "q_pagerank", "q_hits")

SURVIVAL = (
    "q_kaplan_meier",
    "q_nelson_aalen",
    "q_rmst",
    "q_km_bands",
    "q_km_median",
    "q_logrank",
    "q_gehan",
    "q_tarone_ware",
    "q_fleming_harrington",
    "q_logrank_strat",
    "q_schoenfeld_trend",
    "q_cox_score",
    "q_cindex",
)

# events rewrite per case
EVENT_CASES = {
    "empty": "WHERE FALSE",
    "one_user": "QUALIFY user_id = MIN(user_id) OVER ()",
    "no_errors": "WHERE event_type <> 'error'",
    "one_arm": "WHERE user_id % 2 = 0",
}


# events rewrite for the event monitors only: q_ab_test compares the
# click and purchase variants, so one variant leaves no complement
VARIANT_CASES = {"one_variant": "WHERE event_type <> 'purchase'"}


# orders rewrite per case, for q_gini_index
ORDER_CASES = {
    "empty": "WHERE FALSE",
    "one_row": "ORDER BY o_orderkey LIMIT 1",
    "one_customer": "QUALIFY o_custkey = MIN(o_custkey) OVER ()",
}


def _rewrite(d, sf_dir: str, tails: dict[str, str]):
    """A DuckDB connection with views over ``d``, where each table of
    ``tails`` is the shipped one filtered by its SELECT tail and every
    other table is a symlink to the shipped one."""
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(d, f"{t}.parquet")
        if t in tails:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}') {tails[t]}) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
        elif os.path.exists(src):
            os.symlink(src, dst)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dst}')")
    return con


def _case_dirs(tmp_path_factory, sf_dir, table: str, cases: dict[str, str]):
    """case -> (sf dir, DuckDB connection) with ``table`` rewritten by
    the case's SELECT tail; closes the connections on teardown."""
    out = {}
    for case, tail in cases.items():
        d = tmp_path_factory.mktemp(f"degenerate_{table}_{case}")
        out[case] = (str(d), _rewrite(d, sf_dir, {table: tail}))
    yield out
    for _, con in out.values():
        con.close()


@pytest.fixture(scope="module")
def degenerate(tmp_path_factory, sf_dir):
    yield from _case_dirs(tmp_path_factory, sf_dir, "lineitem", CASES)


@pytest.fixture(scope="module")
def degenerate_trainers(tmp_path_factory, sf_dir):
    yield from _case_dirs(tmp_path_factory, sf_dir, "lineitem", TRAINER_CASES)


@pytest.fixture(scope="module")
def empty_facts(tmp_path_factory, sf_dir):
    """(sf dir, DuckDB connection) with lineitem and events empty."""
    d = tmp_path_factory.mktemp("degenerate_empty_facts")
    con = _rewrite(d, sf_dir, {"lineitem": "WHERE FALSE", "events": "WHERE FALSE"})
    yield str(d), con
    con.close()


@pytest.fixture(scope="module")
def degenerate_events(tmp_path_factory, sf_dir):
    yield from _case_dirs(tmp_path_factory, sf_dir, "events", EVENT_CASES)


@pytest.fixture(scope="module")
def degenerate_variants(tmp_path_factory, sf_dir):
    yield from _case_dirs(tmp_path_factory, sf_dir, "events", VARIANT_CASES)


@pytest.fixture(scope="module")
def degenerate_orders(tmp_path_factory, sf_dir):
    yield from _case_dirs(tmp_path_factory, sf_dir, "orders", ORDER_CASES)


def _assert_matches(spark, dir_con, name, case):
    d, con = dir_con
    q = REGISTRY[name]
    want = con.execute(q.oracle).df()
    got = q.fn(spark, d).toPandas()
    assert_exact(got, want, f"{name}@{case}")


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("name", TRAINERS + METRICS)
def test_trainer_degenerate_input_matches_oracle(spark, degenerate, name, case):
    _assert_matches(spark, degenerate[case], name, case)


@pytest.mark.parametrize("case", sorted(TRAINER_CASES))
@pytest.mark.parametrize("name", TRAINERS)
def test_trainer_only_degenerate_input_matches_oracle(
    spark, degenerate_trainers, name, case
):
    _assert_matches(spark, degenerate_trainers[case], name, case)


def test_two_rows_reach_the_newton_no_split_fallback(degenerate_trainers):
    """The two_rows case is not vacuous: the depth-2 Newton tree picks
    its root and no child, so both of q_xgb_boosted_tree2's round-1
    branches update the margin by their own weight."""
    _d, con = degenerate_trainers["two_rows"]
    q = REGISTRY["q_xgb_tree2"]
    assert con.execute(f"SELECT node FROM ({q.oracle})").fetchall() == [("root",)]


@pytest.mark.parametrize("name", EMPTY_FACTS_QUERIES)
def test_empty_facts_matches_oracle(spark, empty_facts, name):
    _assert_matches(spark, empty_facts, name, "empty_facts")


@pytest.mark.parametrize("case", sorted(EVENT_CASES))
@pytest.mark.parametrize("name", SURVIVAL)
def test_survival_degenerate_input_matches_oracle(
    spark, degenerate_events, name, case
):
    _assert_matches(spark, degenerate_events[case], name, case)


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("name", MONITORS)
def test_monitor_degenerate_input_matches_oracle(spark, degenerate, name, case):
    _assert_matches(spark, degenerate[case], name, case)


@pytest.mark.parametrize("case", sorted({**EVENT_CASES, **VARIANT_CASES}))
@pytest.mark.parametrize("name", EVENT_MONITORS)
def test_event_monitor_degenerate_input_matches_oracle(
    spark, degenerate_events, degenerate_variants, name, case
):
    _assert_matches(spark, {**degenerate_events, **degenerate_variants}[case], name, case)


def test_pseudo_r2_null_model_needs_both_classes(spark, degenerate):
    """With one class only the base-rate null model has no likelihood
    (LN(0)): ll_null, mcfadden and nagelkerke are NULL on both engines,
    and ll_model is still reported."""
    d, con = degenerate["one_class"]
    q = REGISTRY["q_pseudo_r2"]
    cols = "ll_null, mcfadden, nagelkerke"
    assert con.execute(f"SELECT {cols} FROM ({q.oracle})").fetchall() == [(None,) * 3]
    (row,) = q.fn(spark, d).collect()
    assert (row.ll_null, row.mcfadden, row.nagelkerke) == (None,) * 3
    assert row.ll_model is not None


@pytest.mark.parametrize("case", sorted(ORDER_CASES))
def test_gini_index_degenerate_orders_matches_oracle(spark, degenerate_orders, case):
    _assert_matches(spark, degenerate_orders[case], "q_gini_index", case)


@pytest.mark.parametrize("case", ["one_row", "one_class"])
def test_delong_se_null_without_both_classes(spark, degenerate, case):
    """A class with < 2 rows has no DeLong variance term: se is NULL on
    both engines (like auc_a and z), not the 0.0 a NULL-skipping clamp
    would read."""
    d, con = degenerate[case]
    q = REGISTRY["q_delong"]
    assert con.execute(f"SELECT se FROM ({q.oracle})").fetchall() == [(None,)]
    assert [r.se for r in q.fn(spark, d).collect()] == [None]
