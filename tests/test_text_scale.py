"""10x corpus scale smoke for the PMI co-occurrence kernel (round 9).

q_pmi_cooccurrence is the round's only self-join-shaped text query —
the class where small-SF numbers hide quadratic blow-ups. The
vocabulary cut bounds per-document pair fan-out at C(50,2); this
replicates the corpus 10x with salted doc_ids (identical text per
replica, so the vocabulary, per-doc structure, and PMI VALUES are
invariant while df/n_ab/N scale exactly 10x) and asserts

- the emitted pair set and PMI values are IDENTICAL to the 1x run
  (PMI is scale-free: (10*n_ab)*(10*N) / ((10*df_a)*(10*df_b)) is the
  same ratio) with n_ab exactly 10x, and
- wall time grows ~linearly, not quadratically.

The timed run on the sf0.1 corpus is gated behind
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


def _pmi_replicated(spark, sf_dir):
    """The kernel on the corpus and on 10 salted replicas of it: the same
    non-empty pair set and PMI values, n_ab exactly 10x. Returns the 1x
    rows and the 1x/10x construction + collect seconds."""
    from fraud_detection_spark.operators.text import pmi_cooccurrence
    from fraud_detection_spark.sources import load_table

    d1 = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).localCheckpoint()
    d10 = (
        d1.crossJoin(
            F.broadcast(spark.range(REPLICAS).select(F.col("id").alias("_rep")))
        )
        .select((F.col("doc_id") * 16 + F.col("_rep")).alias("doc_id"), "text")
        .localCheckpoint()
    )
    pmi_cooccurrence(d1).count()  # warm codegen/python-worker paths

    def timed(d):
        # the kernel's localCheckpoints are EAGER — time construction
        # AND collection
        t0 = time.time()
        rows = pmi_cooccurrence(d).collect()
        return rows, time.time() - t0

    r1, t1 = timed(d1)
    r10, t10 = timed(d10)
    assert r1, "empty 1x result: the closed form would hold vacuously"
    assert len(r1) == len(r10) <= 20
    m1 = {(r.token_a, r.token_b): (r.n_ab, r.pmi) for r in r1}
    m10 = {(r.token_a, r.token_b): (r.n_ab, r.pmi) for r in r10}
    assert set(m1) == set(m10)
    for k, (n_ab, pmi) in m1.items():
        assert m10[k][0] == REPLICAS * n_ab, (k, n_ab, m10[k])
        assert abs(m10[k][1] - pmi) < 2e-6, (k, pmi, m10[k])
    return r1, t1, t10


def test_pmi_replication_closed_form(spark, sf_dir):
    _pmi_replicated(spark, sf_dir)


@scale
def test_pmi_kernel_scales_linearly(spark):
    r1, t1, t10 = _pmi_replicated(spark, SCALE_SF_DIR)
    assert len(r1) == 20
    assert t10 <= 2.5 * REPLICAS * t1 + 5.0, (t1, t10)
    print(f"SCALE pmi_cooccurrence: 1x={t1:.2f}s 10x={t10:.2f}s ratio={t10 / t1:.1f}")
