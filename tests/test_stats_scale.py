"""10x value-domain scale smoke for the Kendall pair-counting kernel
(round 9 batch 4).

q_kendall_tau's cost driver is the DENSE CONTINGENCY GRID (|distinct
vx| x |distinct vy| cells), not the fact row count — replicating rows
alone leaves the grid (and so the window passes) the same size. This
smoke scales the thing that actually grows the windows: each
observation (vx, vy) becomes REPLICAS observations (vx*REPLICAS + r,
vy), multiplying the distinct-vx count (and the grid) by exactly 10
while preserving every cross-observation STRICT order relation.
Invariants (all exact integers):

- each original concordant/discordant pair turns into 10x10 replica
  pairs with the same orientation (vx order preserved, vy unchanged);
- each original pair tied on x with DIFFERENT y splits: of its 100
  replica pairs, 10 (same-rep) stay x-ties and the other 90 acquire a
  strict vx order — 45 concordant + 45 discordant;
- same-cell pairs and same-observation replica pairs stay vy-ties,
  never counted. So with T = #pairs tied on x only (Σ_x C(t_x,2) −
  Σ_cells C(c,2)): nc10 = 100*nc1 + 45*T and nd10 = 100*nd1 + 45*T;
- n scales exactly x10;
- wall time grows ~linearly in the grid size, not quadratically — the
  regression guard for the shrinking-frame WindowExec bug this kernel
  shipped with (O(rows^2) per partition; 67.7 s at sf0.1 before the
  total-minus-running-prefix rewrite).

The timed run on the sf0.1 events is gated behind
SPARK_GRAFT_SCALE_TESTS=1 like tests/test_graph_scale.py; measured
numbers live in SCALE.md. The timing-free closed form also runs
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


def _kendall_replicated(spark, sf_dir):
    """The kernel on the (vx, vy) grid and on its 10x value-domain
    replica: n exactly 10x, nc10 = 100*nc1 + 45*T and nd10 = 100*nd1 +
    45*T on a non-empty 1x grid. Returns the 1x/10x collect seconds."""
    from fraud_detection_spark.operators.stats_tests import kendall_tau
    from fraud_detection_spark.sources import events_with_time

    p1 = events_with_time(spark, sf_dir).select(
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint").alias("vx"),
        (F.expr("ts_sec div 3600") % 24).cast("bigint").alias("vy"),
    ).localCheckpoint()
    p10 = (
        p1.crossJoin(
            F.broadcast(spark.range(REPLICAS).select(F.col("id").alias("_rep")))
        )
        .select(
            (F.col("vx") * REPLICAS + F.col("_rep")).alias("vx"),
            "vy",
        )
        .localCheckpoint()
    )
    kendall_tau(p1).collect()  # warm codegen paths

    def timed(p):
        t0 = time.time()
        (row,) = kendall_tau(p).collect()
        return row, time.time() - t0

    r1, t1 = timed(p1)
    r10, t10 = timed(p10)

    # T = pairs tied on x only, from the 1x contingency marginals
    gv = p1.groupBy("vx", "vy").agg(F.count("*").alias("c"))
    t_x = (
        gv.groupBy("vx")
        .agg(F.sum("c").alias("t"))
        .agg(F.sum(F.expr("t * (t - 1) div 2")).alias("p"))
        .collect()[0].p
    )
    t_cell = gv.agg(F.sum(F.expr("c * (c - 1) div 2")).alias("p")).collect()[0].p
    tie_x_only = t_x - t_cell
    half_split = REPLICAS * (REPLICAS - 1) // 2  # 45 of the 90 ordered replica pairs

    assert r1.n > 0, "empty 1x grid: the closed form would hold vacuously"
    assert r10.n == REPLICAS * r1.n
    assert r10.nc == REPLICAS * REPLICAS * r1.nc + half_split * tie_x_only, (
        r10.nc, r1.nc, tie_x_only,
    )
    assert r10.nd == REPLICAS * REPLICAS * r1.nd + half_split * tie_x_only, (
        r10.nd, r1.nd, tie_x_only,
    )
    return t1, t10


def test_kendall_replication_closed_form(spark, sf_dir):
    _kendall_replicated(spark, sf_dir)


@scale
def test_kendall_kernel_scales_linearly_in_grid_size(spark):
    t1, t10 = _kendall_replicated(spark, SCALE_SF_DIR)
    # linear bound with generous local-mode slack; the shrinking-frame
    # bug this guards against would read ~100x
    assert t10 <= 2.5 * REPLICAS * t1 + 5.0, (t1, t10)
    print(f"SCALE kendall_tau: 1x={t1:.2f}s 10x={t10:.2f}s ratio={t10 / t1:.1f}")
