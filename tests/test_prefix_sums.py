"""functions.prefix_sums against the global-window form it replaces:
SUM(m) OVER (PARTITION BY keys ORDER BY order ROWS BETWEEN UNBOUNDED
PRECEDING AND CURRENT ROW). Rows tied on the order key are exact
duplicates here, so the multiset of output rows does not depend on
the order the ROWS frame visits them in."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fraud_detection_spark.functions import prefix_sums


def _check(df, bucket, order, sums, keys=(), cast="bigint"):
    got = prefix_sums(df, bucket, order, sums, keys, cast)
    w = (
        Window.partitionBy(*keys)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = df.select(
        *df.columns, *[F.sum(m).over(w).cast(cast).alias(out) for m, out in sums]
    )
    assert got.columns == want.columns
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    return got


def test_ties_on_the_order_key(spark):
    rows = [(v / 100, (v % 3) + 1) for v in range(40) for _ in range(v % 4 + 1)]
    df = spark.createDataFrame(rows, "v double, m bigint")
    _check(
        df, F.floor(F.col("v") * 10).cast("bigint"), "v",
        [("m", "cum_m"), (F.lit(1), "cum_rows")],
    )


def test_every_row_in_one_bucket(spark):
    df = spark.createDataFrame([(v, v * 7 % 5) for v in range(30)], "v bigint, m bigint")
    _check(df, F.lit(0).cast("bigint"), "v", [("m", "cum_m")])


def test_negative_bucket_ids(spark):
    df = spark.createDataFrame(
        [(v / 4 - 3.5, v % 5 - 2) for v in range(28)], "v double, m bigint"
    )
    _check(df, F.floor("v").cast("bigint"), "v", [("m", "cum_m")])


def test_composite_keys_with_missing_buckets(spark):
    rows = [("a", 0, v / 10, v) for v in range(30)]  # buckets 0, 1, 2
    rows += [("a", 1, v / 10, 2 * v) for v in range(10, 20)]  # bucket 1 only
    rows += [("b", 0, v / 10, 1) for v in (0, 1, 25, 29)]  # buckets 0 and 2
    df = spark.createDataFrame(rows, "k1 string, k2 int, v double, m bigint")
    _check(
        df, F.floor("v").cast("bigint"), "v",
        [("m", "cum_m"), (F.lit(1), "cum_rows")], keys=("k1", "k2"),
    )


def test_multi_column_order(spark):
    df = spark.createDataFrame(
        [(v % 7, v, v + 1) for v in range(35)], "x bigint, id bigint, m bigint"
    )
    _check(
        df, F.length(F.bin("x")).cast("bigint"), ["x", "id"], [(F.lit(1), "i")]
    )


def test_empty_input(spark):
    df = spark.createDataFrame([], "v double, m bigint")
    got = _check(df, F.floor("v").cast("bigint"), "v", [("m", "cum_m")])
    assert got.count() == 0


def test_decimal38_cast(spark):
    big = 10**30  # the sums pass BIGINT range by 12 digits
    df = spark.createDataFrame(
        [(v / 10, Decimal(big * (v + 1))) for v in range(25)],
        "v double, m decimal(38,0)",
    )
    got = _check(
        df, F.floor("v").cast("bigint"), "v", [("m", "cum_m")],
        cast="decimal(38,0)",
    )
    assert dict(got.dtypes)["cum_m"] == "decimal(38,0)"
    assert max(int(r.cum_m) for r in got.collect()) == big * 25 * 26 // 2
