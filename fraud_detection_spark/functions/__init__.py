"""Reusable column-expression helpers (all JVM-side, codegen-friendly)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pround(x: Column, n: int) -> Column:
    """Portable round: FLOOR(x*10^n + 0.5)/10^n — pure IEEE double ops,
    bit-identical in Spark and DuckDB (see registry.sql_round; Spark's
    native ROUND rounds the decimal string, DuckDB rounds the binary
    double, and they disagree on half-way-looking values)."""
    p = float(10 ** n)
    return F.floor(x * p + F.lit(0.5)) / p


def fp_units(x: Column, n: int) -> Column:
    """Per-row fixed-point units: FLOOR(x*10^n + 0.5) as BIGINT.

    Exact and order-free (one IEEE multiply + add + floor per row, no
    accumulation), so summing the units is an exact integer aggregate.
    Building block of fixed_sum / fixed_avg; SQL twin embedded in
    registry.sql_fixed_sum / sql_fixed_avg. Under ANSI mode an
    out-of-long-range unit throws instead of wrapping — at cents scale
    (n=2) that needs |x| > ~9.2e16, far beyond any money column."""
    return F.floor(x * float(10**n) + F.lit(0.5)).cast("bigint")


def fixed_sum(x: Column, n: int = 2) -> Column:
    """Order-independent SUM of a double column.

    SUM(double) depends on the partition/merge tree order, so rounding
    it afterwards can flip the last digit between layouts (the round-2
    q_tpch_q9 one-cent flake at local[32]). Instead: per-row fixed-point
    units (exact) -> exact BIGINT SUM (associative + commutative) ->
    /10^n for display. The result is bit-identical on every layout and
    every engine that evaluates the same expression. Sum headroom:
    cents of a 1e5-magnitude money column are ~1e7/row, so 2^63 allows
    ~1e11 rows per group before ANSI raises — and a raise is loud, not
    a wrong answer. SQL twin: registry.sql_fixed_sum."""
    return F.sum(fp_units(x, n)).cast("double") / float(10**n)


def fixed_avg(x: Column, n: int) -> Column:
    """Order-independent AVG: exact units SUM / 10^n / COUNT(x).

    Deterministic for the same reason as fixed_sum (the only
    accumulations are exact integer SUM and COUNT). Not a multiple of
    10^-n after the COUNT division — wrap in pround for the displayed
    rounding. SQL twin: registry.sql_fixed_avg."""
    return F.sum(fp_units(x, n)).cast("double") / float(10**n) / F.count(x)


def sigmoid(x: Column) -> Column:
    """Logistic function 1/(1+e^{-x}) — the predict_proba kernel
    (ref: model.predict_proba, evaluate_model.py:27)."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def linear_logit(bias: float, terms: list[tuple[float, Column]]) -> Column:
    """b + Σ wᵢ·xᵢ as a single codegen'd expression."""
    out: Column = F.lit(bias)
    for w, col in terms:
        out = out + F.lit(w) * col
    return out


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns (sequential fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def zscore(x: Column, mu: Column, sd: Column) -> Column:
    """StandardScaler transform (ref: train_model.py:36-40)."""
    return (x - mu) / sd


def prefix_sums(
    df: DataFrame,
    bucket: Column,
    order: str | list[str],
    sums: Sequence[tuple[str | Column, str]],
    keys: Sequence[str] = (),
    cast: str = "bigint",
) -> DataFrame:
    """``df`` plus, for each ``(measure, out)`` of ``sums``, the column
    ``out`` = SUM(measure) OVER (PARTITION BY keys ORDER BY bucket,
    order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), cast to
    ``cast`` — a distributed prefix sum with no window that sorts a
    whole key group in one task.

    How: ``bucket`` cuts each key group into coarse ranges. The
    (keys, bucket) totals table is summed over lower buckets by a
    broadcast self-join (the cross-bucket offsets), and the
    within-bucket running sum is a window PARTITIONED by (keys,
    bucket). The offsets table has one row per (keys, bucket), so a
    1e-3 bucket of a [0, 1] score bounds it at 1001 rows per key
    whatever the input size.

    When ``bucket`` is non-decreasing in ``order`` (floor(v*1000) of a
    value, the bit length of a non-negative integer) the order is
    ``order`` alone; a hash bucket gives some fixed order, enough for a
    dense index. Rows tied on (bucket, order) take distinct running
    sums in an arbitrary order, as in any ROWS frame. Sums are exact
    for integer and DECIMAL measures; ``cast`` = "decimal(38,0)" keeps
    wide weights unnarrowed."""
    keys = list(keys)
    b = df.withColumn("_bkt", bucket)
    tot = b.groupBy(*keys, "_bkt").agg(
        *[F.sum(m).alias(f"_t{i}") for i, (m, _) in enumerate(sums)]
    )
    lower = tot.select(
        *[F.col(k).alias(f"_k{j}") for j, k in enumerate(keys)],
        F.col("_bkt").alias("_lb"),
        *[F.col(f"_t{i}").alias(f"_l{i}") for i in range(len(sums))],
    )
    cond = F.col("_lb") < F.col("_bkt")
    for j, k in enumerate(keys):
        cond = cond & (F.col(f"_k{j}") == F.col(k))
    offs = (
        tot.join(F.broadcast(lower), cond, "left")
        .groupBy(*keys, "_bkt")
        .agg(
            *[
                F.coalesce(F.sum(f"_l{i}"), F.lit(0)).alias(f"_o{i}")
                for i in range(len(sums))
            ]
        )
    )
    w = (
        Window.partitionBy(*keys, "_bkt")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return b.join(F.broadcast(offs), [*keys, "_bkt"]).select(
        *df.columns,
        *[
            (F.col(f"_o{i}") + F.sum(m).over(w)).cast(cast).alias(out)
            for i, (m, out) in enumerate(sums)
        ],
    )
