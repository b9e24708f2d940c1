"""Degenerate-input parity: each query below must return its DuckDB
oracle's rows exactly (the test_partition_stress rule) on inputs the
fixtures never hold. The trainer family runs with lineitem empty,
holding a single row, or holding one class only (no
l_returnflag = 'R'); the queries that divide by a fact count run with
lineitem and events both empty; the survival family runs with events
empty, holding a single user, holding no 'error' event, or holding one
parity arm only (even user ids). The inputs derive from the test SF's
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

# lineitem rewrite per case (a SELECT tail over the shipped table)
CASES = {
    "empty": "WHERE FALSE",
    "one_row": "ORDER BY l_orderkey, l_linenumber LIMIT 1",
    "one_class": "WHERE l_returnflag <> 'R'",
}


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


@pytest.fixture(scope="module")
def degenerate(tmp_path_factory, sf_dir):
    """case -> (sf dir, DuckDB connection with views over it)."""
    out = {}
    for case, tail in CASES.items():
        d = tmp_path_factory.mktemp(f"degenerate_{case}")
        out[case] = (str(d), _rewrite(d, sf_dir, {"lineitem": tail}))
    yield out
    for _, con in out.values():
        con.close()


@pytest.fixture(scope="module")
def empty_facts(tmp_path_factory, sf_dir):
    """(sf dir, DuckDB connection) with lineitem and events empty."""
    d = tmp_path_factory.mktemp("degenerate_empty_facts")
    con = _rewrite(d, sf_dir, {"lineitem": "WHERE FALSE", "events": "WHERE FALSE"})
    yield str(d), con
    con.close()


@pytest.fixture(scope="module")
def degenerate_events(tmp_path_factory, sf_dir):
    """case -> (sf dir, DuckDB connection) with events rewritten."""
    out = {}
    for case, tail in EVENT_CASES.items():
        d = tmp_path_factory.mktemp(f"degenerate_events_{case}")
        out[case] = (str(d), _rewrite(d, sf_dir, {"events": tail}))
    yield out
    for _, con in out.values():
        con.close()


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("name", TRAINERS)
def test_trainer_degenerate_input_matches_oracle(spark, degenerate, name, case):
    d, con = degenerate[case]
    q = REGISTRY[name]
    want = con.execute(q.oracle).df()
    got = q.fn(spark, d).toPandas()
    assert_exact(got, want, f"{name}@{case}")


@pytest.mark.parametrize("name", EMPTY_FACTS_QUERIES)
def test_empty_facts_matches_oracle(spark, empty_facts, name):
    d, con = empty_facts
    q = REGISTRY[name]
    want = con.execute(q.oracle).df()
    got = q.fn(spark, d).toPandas()
    assert_exact(got, want, f"{name}@empty_facts")


@pytest.mark.parametrize("case", sorted(EVENT_CASES))
@pytest.mark.parametrize("name", SURVIVAL)
def test_survival_degenerate_input_matches_oracle(
    spark, degenerate_events, name, case
):
    d, con = degenerate_events[case]
    q = REGISTRY[name]
    want = con.execute(q.oracle).df()
    got = q.fn(spark, d).toPandas()
    assert_exact(got, want, f"{name}@{case}")
