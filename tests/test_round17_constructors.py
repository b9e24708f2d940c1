"""Round-17 constructor rewrites (VERDICT r16 #1): the py4j-chattiest
lazy constructors were recomposed as SQL-text blocks (selectExpr /
F.expr) that parse to the IDENTICAL Catalyst trees. Correctness is
covered by the existing oracle-parity and fingerprint pins; what those
cannot see is the mechanism this round changed — the number of py4j
round trips issued while BUILDING the plan. This test pins a generous
ceiling on that count (the pre-rewrite constructors sat 2-4x above
these bounds), so a refactor that silently reintroduces per-column
Column-object chains fails here before it costs bench seconds.

The count is taken on the SECOND construction in the session so
first-use lazy imports and py4j object-cache warmup don't inflate it,
and it skips py4j's object-release commands: Python's garbage collector
sends those for objects of EARLIER constructions at arbitrary times
(the same q_stump construction read 376-817 commands with them, 376
every time without).

The lazy trainers joined once their formulas became SQL text that
both engines run (Spark parses the oracle's expression instead of a
hand-built Column twin).
"""

from __future__ import annotations

import pytest

from fraud_detection_spark.registry import load_all

# name -> (ceiling, pre-rewrite measured band)
BOUNDS = {
    "q_friedman": (900, "1069-1946 before r17"),
    "q_autocorrelation": (450, "696-726 before r17"),
    # _coarse_cell + ADC SQL-text rewrites (similarity.py)
    "q_cell_balance": (700, "1516 before r17"),
    "q_knn_ivf_pq": (2500, "8237-9766 before r17"),
    # trainer formulas as shared SQL text (ml_metrics.py)
    "q_stump": (440, "502 with Column twins"),
    "q_xgb_round": (800, "911 with Column twins"),
    "q_xgb_gamma": (925, "1032 with Column twins"),
    "q_xgb_alpha": (820, "950 with Column twins"),
    "q_xgb_hist": (900, "1009 with Column twins"),
}

# py4j's release command for a Python-side object the JVM may drop
_RELEASE = "m\nd\n"


@pytest.mark.parametrize("name", sorted(BOUNDS))
def test_constructor_py4j_budget(name, spark, sf_dir):
    q = load_all()[name]
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    counter = {"n": 0}

    def counted(command, *a, **kw):
        if not command.startswith(_RELEASE):
            counter["n"] += 1
        return orig(command, *a, **kw)

    q.fn(spark, sf_dir)  # warm lazy imports / py4j caches
    client.send_command = counted
    try:
        q.fn(spark, sf_dir)
    finally:
        client.send_command = orig
    ceiling, before = BOUNDS[name]
    assert counter["n"] <= ceiling, (
        f"{name} issued {counter['n']} py4j commands during construction "
        f"(ceiling {ceiling}; was {before}) — a Column-object chain has "
        "crept back into a rewritten constructor"
    )
