"""Scale smokes for the round-10 heavyweights (q_boosted_stumps,
q_ktruss), the tests/test_graph_scale.py discipline: replicate the
input 10x, assert the OUTPUT is exactly the replica-invariant /
replica-product prediction and the wall-clock stays ~linear. The
timed runs are gated behind SPARK_GRAFT_SCALE_TESTS=1; the
q_boosted_stumps replica invariance, which needs no timing, also runs
ungated at the test SF."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

SCALE_SF_DIR = os.environ.get("SPARK_GRAFT_SCALE_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = 10

scale = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_TESTS") != "1",
    reason="scale exercise; run with SPARK_GRAFT_SCALE_TESTS=1",
)


def _boosted_stumps_replicated(spark, sf_dir):
    """Replicating every (score, label) row 10x multiplies every
    weight numerator uniformly, so the chosen thresholds, polarities,
    weighted errors, alphas, AND ensemble accuracies are bit-identical
    — the exact-integer argmin cannot move under uniform scaling.
    Returns the 1x and 10x seconds."""
    from fraud_detection_spark.operators import ml_metrics as mm

    base = mm.scored(spark, sf_dir)
    rep = base.crossJoin(
        F.broadcast(spark.range(REPLICAS).select(F.col("id").alias("_r")))
    ).drop("_r")

    def run(s):
        orig = mm.scored
        mm.scored = lambda *_: s
        try:
            t0 = time.time()
            pdf = (
                mm.q_boosted_stumps(spark, sf_dir)
                .toPandas()
                .sort_values("round")
                .reset_index(drop=True)
            )
            return pdf, time.time() - t0
        finally:
            mm.scored = orig

    p1, t1 = run(base)
    p10, t10 = run(rep)
    for col in ("round", "threshold", "polarity", "w_err", "alpha", "acc"):
        assert (p1[col] == p10[col]).all(), (col, p1[col].tolist(), p10[col].tolist())
    return t1, t10


def test_boosted_stumps_replica_invariant_closed_form(spark, sf_dir):
    """The replica invariance at the test SF, ungated: pins
    q_boosted_stumps' prefix-count pass in tier-1."""
    _boosted_stumps_replicated(spark, sf_dir)


@scale
def test_boosted_stumps_replica_invariant(spark):
    """Time should stay near-flat under 10x replication (the
    distinct-score table is unchanged; only the fact fold grows)."""
    t1, t10 = _boosted_stumps_replicated(spark, SCALE_SF_DIR)
    assert t10 <= 3.0 * t1 + 10.0, (t1, t10)
    print(f"SCALE boosted_stumps: 1x={t1:.2f}s 10x={t10:.2f}s")


@scale
def test_ktruss_scales_linearly(spark):
    """Ten disjoint isomorphic copies of the projected edge list peel
    identically: exactly 10x the surviving edges, per-edge support
    equal to the base replica's, ~linear wall-clock."""
    from fraud_detection_spark.operators.graph import _heavy_pairs, q_ktruss
    from fraud_detection_spark.operators import graph as g

    pe1 = _heavy_pairs(spark, SCALE_SF_DIR).localCheckpoint()
    pe10 = (
        pe1.crossJoin(
            F.broadcast(spark.range(REPLICAS).select(F.col("id").alias("_rep")))
        )
        .select(
            (F.col("ca") * 16 + F.col("_rep")).alias("ca"),
            (F.col("cb") * 16 + F.col("_rep")).alias("cb"),
        )
        .localCheckpoint()
    )

    def run(pe):
        orig = g._heavy_pairs
        g._heavy_pairs = lambda *_: pe
        try:
            t0 = time.time()
            pdf = q_ktruss(spark, SCALE_SF_DIR).toPandas()
            return pdf, time.time() - t0
        finally:
            g._heavy_pairs = orig

    p1, t1 = run(pe1)
    p10, t10 = run(pe10)
    assert len(p10) == REPLICAS * len(p1), (len(p1), len(p10))
    assert t10 <= 2.5 * REPLICAS * t1 + 5.0, (t1, t10)
    # per-edge support identity: base edge (a,b) with support s must
    # appear in every replica with the same support
    base = {(r.ca, r.cb): r.support for r in p1.itertuples()}
    got = {}
    for r in p10.itertuples():
        key = (r.ca // 16, r.cb // 16)
        rep = r.ca % 16
        assert r.cb % 16 == rep, "edge straddles replicas"
        got.setdefault(key, []).append(r.support)
        assert base[key] == r.support, (key, rep, base[key], r.support)
    assert all(len(v) == REPLICAS for v in got.values())
    print(f"SCALE ktruss: 1x={t1:.2f}s 10x={t10:.2f}s ratio={t10 / t1:.1f}")
