"""10x scale smoke for the graph family (VERDICT r7 #6).

The heaviest graph queries are self-join-shaped — the class where
sf0.1 numbers hide quadratic blow-ups (round 6 caught three such bugs
only by widening). This replicates the REAL sf0.1 projected edge
structure ~10x with salted keys (each replica r maps vertex v to
v*16+r: ten disjoint isomorphic copies, so every vertex keeps its
exact degree and the per-replica work is identical) and asserts

- result cardinality scales exactly 10x (isomorphic copies), and
- wall time grows ~linearly, not quadratically: t(10x) <= 10 * 2.5 *
  t(1x) + scheduling slack. A quadratic kernel would show ~100x.

Covered kernels: ``triangle_counts`` (wedge self-join + close join)
and ``project_pairs`` (bipartite counterparty self-join — the shared
front end of q_triangle_count / q_neighbor_jaccard /
q_shared_counterparties).

The timed runs are gated behind SPARK_GRAFT_SCALE_TESTS=1 (~1-2 min
at sf0.1): scale-exercise budget, not unit-suite budget. Measured
numbers live in SCALE.md ("Graph family, 10x smoke") — re-measure here
when the kernels change. The exact 10x closed forms of
triangle_counts, project_pairs and two_core_delta_peel also run
ungated at the test SF, so a reshaped kernel fails the normal suite
instead of rotting behind the gate.
"""

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


def _replicate(df, cols, k=REPLICAS):
    """k disjoint isomorphic copies: vertex v -> v*16+r per replica r
    (16 > k keeps replicas collision-free), preserving every degree."""
    r = df.crossJoin(F.broadcast(
        df.sparkSession.range(k).select(F.col("id").alias("_rep"))
    ))
    return r.select(
        *[(F.col(c) * 16 + F.col("_rep")).alias(c) for c in cols]
    )


def _timed_count(df):
    t0 = time.time()
    n = df.count()
    return n, time.time() - t0


def _triangles_replicated(spark, sf_dir):
    """Ten isomorphic copies close exactly 10x the triangles. Returns
    the 1x/10x counts and count seconds."""
    from fraud_detection_spark.operators.graph import (
        _heavy_pairs,
        triangle_counts,
    )

    pe1 = _heavy_pairs(spark, sf_dir).localCheckpoint()
    pe10 = _replicate(pe1, ["ca", "cb"]).localCheckpoint()
    # warm the JVM/codegen paths once so t1 is not charged for startup
    triangle_counts(pe1).count()

    tri1, t1 = _timed_count(triangle_counts(pe1))
    tri10, t10 = _timed_count(triangle_counts(pe10))
    assert tri10 == REPLICAS * tri1, (tri1, tri10)
    return tri1, t1, tri10, t10


def test_triangle_counts_replication_closed_form(spark, sf_dir):
    """The 10x closed form at the test SF, ungated: pins
    triangle_counts' signature and semantics in tier-1."""
    tri1, _, _, _ = _triangles_replicated(spark, sf_dir)
    assert tri1 > 0


@scale
def test_triangle_counts_scales_linearly(spark):
    tri1, t1, tri10, t10 = _triangles_replicated(spark, SCALE_SF_DIR)
    # linear bound with generous local-mode slack; quadratic would be ~100x
    assert t10 <= 2.5 * REPLICAS * t1 + 5.0, (t1, t10)
    print(f"SCALE triangle_counts: 1x={t1:.2f}s 10x={t10:.2f}s ratio={t10 / t1:.1f}")


def _pairs_replicated(spark, sf_dir):
    """Ten isomorphic copies project exactly 10x the counterparty
    pairs. Returns the 1x/10x counts and count seconds."""
    from fraud_detection_spark.operators.graph import (
        RING_FACTOR,
        edges,
        project_pairs,
    )

    e = edges(spark, sf_dir)
    thr = e.agg(F.ceil(F.lit(RING_FACTOR) * F.avg("n")).alias("k"))
    heavy1 = (
        e.crossJoin(F.broadcast(thr))
        .filter(F.col("n") >= F.col("k"))
        .select("custkey", "suppkey")
        .localCheckpoint()
    )
    heavy10 = _replicate(heavy1, ["custkey", "suppkey"]).localCheckpoint()
    project_pairs(heavy1).count()  # warm

    p1, t1 = _timed_count(project_pairs(heavy1))
    p10, t10 = _timed_count(project_pairs(heavy10))
    assert p10 == REPLICAS * p1, (p1, p10)
    return p1, t1, p10, t10


def test_project_pairs_replication_closed_form(spark, sf_dir):
    """The 10x closed form at the test SF, ungated: pins
    project_pairs' signature and semantics in tier-1."""
    p1, _, _, _ = _pairs_replicated(spark, sf_dir)
    assert p1 > 0


@scale
def test_project_pairs_scales_linearly(spark):
    p1, t1, p10, t10 = _pairs_replicated(spark, SCALE_SF_DIR)
    assert t10 <= 2.5 * REPLICAS * t1 + 5.0, (t1, t10)
    print(f"SCALE project_pairs: 1x={t1:.2f}s 10x={t10:.2f}s ratio={t10 / t1:.1f}")


@scale
def test_hits_vectors_scales_linearly(spark):
    """Round 9: the HITS kernel is 2*iters sequential broadcast-join
    folds over the edge list — linear in |E| by construction; this
    pins it. Ten disjoint isomorphic copies share the global L1
    renormalization, and by symmetry each replica holds exactly 1/10
    of every half-step total, so a base vertex's final score is
    IDENTICAL across all ten replicas — asserted exactly, which also
    re-derives the kernel's partition-order-free integer-fold claim
    on a 10x input."""
    from fraud_detection_spark.operators.graph import edges, hits_vectors

    e1 = edges(spark, SCALE_SF_DIR).localCheckpoint()
    e10 = (
        e1.crossJoin(F.broadcast(
            spark.range(REPLICAS).select(F.col("id").alias("_rep"))
        ))
        .select(
            (F.col("custkey") * 16 + F.col("_rep")).alias("custkey"),
            (F.col("suppkey") * 16 + F.col("_rep")).alias("suppkey"),
            "n",
        )
        .localCheckpoint()
    )
    hits_vectors(e1)  # warm (kernel checkpoints are eager)

    def timed(e):
        t0 = time.time()
        a, h = hits_vectors(e)
        n = a.count() + h.count()
        return a, h, n, time.time() - t0

    a1, h1, n1, t1 = timed(e1)
    a10, h10, n10, t10 = timed(e10)
    assert n10 == REPLICAS * n1, (n1, n10)
    assert t10 <= 2.5 * REPLICAS * t1 + 5.0, (t1, t10)
    for v1, v10 in ((a1, a10), (h1, h10)):
        # Per-VERTEX equality across replicas (ADVICE r9): every base
        # key must carry exactly REPLICAS rows with exactly one
        # distinct score — (sum,count) equality would pass permuted
        # scores, countDistinct cannot.
        diverged = (
            v10.groupBy(F.expr("k div 16").alias("base"))
            .agg(
                F.countDistinct("u").alias("d"),
                F.count("*").alias("c"),
            )
            .filter((F.col("d") != 1) | (F.col("c") != REPLICAS))
            .count()
        )
        assert diverged == 0, "replicas diverged: renorm not symmetric"
        # Element-wise vs the 1x run: the global L1 renorm spreads the
        # same unit mass over 10x the vertices, so each replica score
        # is the 1x score / REPLICAS up to the per-half-step floor
        # rounding (±0.5 unit per step, ~1e-9 relative on ~1e9-unit
        # scores). Compare (k, u) PAIRS, not key sets, with a rounding
        # allowance far below any real divergence.
        base0 = {
            r.k: r.u
            for r in v10.filter(F.col("k") % 16 == 0)
            .select(F.expr("k div 16").alias("k"), "u")
            .collect()
        }
        orig = {r.k: r.u for r in v1.collect()}
        assert set(base0) == set(orig)
        worst = max(abs(base0[k] - orig[k] / REPLICAS) for k in orig)
        assert worst <= 64, f"replica scores drifted from 1x/{REPLICAS}: {worst}"
    print(f"SCALE hits_vectors: 1x={t1:.2f}s 10x={t10:.2f}s ratio={t10 / t1:.1f}")


def _two_core_replicated(spark, sf_dir):
    """The delta-peel kernel's per-round work is proportional to edges
    incident to the frontier, and each of ten disjoint isomorphic
    copies peels identically: exactly 10x the survivors. Returns the
    1x/10x survivor counts and seconds."""
    from fraud_detection_spark.operators.graph import (
        _CORE_ROUNDS,
        _heavy_pairs,
        two_core_delta_peel,
    )

    pe1 = _heavy_pairs(spark, sf_dir).localCheckpoint()

    def sym(pe):
        return pe.select(
            F.col("ca").alias("src"), F.col("cb").alias("dst")
        ).unionAll(pe.select(F.col("cb").alias("src"), F.col("ca").alias("dst")))

    pe10 = _replicate(pe1, ["ca", "cb"]).localCheckpoint()
    two_core_delta_peel(sym(pe1), _CORE_ROUNDS).count()  # warm

    def timed(pe):
        # the kernel's localCheckpoints are EAGER — time construction
        # AND count, not just the final count
        t0 = time.time()
        n = two_core_delta_peel(sym(pe), _CORE_ROUNDS).count()
        return n, time.time() - t0

    n1, t1 = timed(pe1)
    n10, t10 = timed(pe10)
    assert n10 == REPLICAS * n1, (n1, n10)
    return n1, t1, n10, t10


def test_two_core_delta_peel_replication_closed_form(spark, sf_dir):
    """The 10x closed form at the test SF, ungated: pins
    two_core_delta_peel (q_graph_2core's kernel) in tier-1."""
    n1, _, _, _ = _two_core_replicated(spark, sf_dir)
    assert n1 > 0


@scale
def test_two_core_delta_peel_scales_linearly(spark):
    """VERDICT r8 #6: ~10x the time for 10x the edges."""
    n1, t1, n10, t10 = _two_core_replicated(spark, SCALE_SF_DIR)
    assert t10 <= 2.5 * REPLICAS * t1 + 5.0, (t1, t10)
    print(f"SCALE two_core_delta_peel: 1x={t1:.2f}s 10x={t10:.2f}s ratio={t10 / t1:.1f}")
