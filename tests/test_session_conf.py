"""session.get_spark conf contract.

- ANSI mode stays on, so the exact BIGINT histogram sums of the Newton
  trainers (ml_metrics._sum_gu_dec / _sum_hu_dec, whose overflow bound
  is proven on paper) fail loudly instead of wrapping if that bound is
  ever breached.
- The generated-class cache holds the eager ladders' working set, so a
  re-run reuses its compiled classes instead of recompiling them all
  (at Spark's default 100 entries the LRU evicted every class of a
  suite-eager pass before its next use)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# the perfbench suite-eager queries: ~145 generated classes per pass
EAGER_PASS = ("q_tree5", "q_graph_2core", "q_knn_ivf_pq")
# classes a warm re-run may still compile: Spark numbers codegenStageId
# (in AQE stage-completion order) and fresh variable names per run, so
# a few sources differ between runs (see ROADMAP item 2)
RESIDUAL_COMPILES = 15


def test_get_spark_pins_ansi(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_bigint_sum_overflow_raises(spark):
    df = spark.createDataFrame([(2**63 - 1,), (1,)], "x bigint")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.agg(F.sum("x")).collect()


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_rerun_reuses_generated_classes(spark, sf_dir):
    from fraud_detection_spark.registry import load_all

    R = load_all()
    compile_time = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def one_pass():
        c0 = compile_time.getCount()
        for name in EAGER_PASS:
            R[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compile_time.getCount() - c0

    first = one_pass()
    second = one_pass()
    # a first pass that found its classes cached by an earlier test
    # compiles little itself; the residual bound covers that case
    assert second <= max(RESIDUAL_COMPILES, first // 10), (first, second)
