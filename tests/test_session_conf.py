"""session.get_spark conf contract: ANSI mode stays on, so the exact
BIGINT histogram sums of the Newton trainers (ml_metrics._sum_gu_dec /
_sum_hu_dec, whose overflow bound is proven on paper) fail loudly
instead of wrapping if that bound is ever breached."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_get_spark_pins_ansi(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_bigint_sum_overflow_raises(spark):
    df = spark.createDataFrame([(2**63 - 1,), (1,)], "x bigint")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.agg(F.sum("x")).collect()
