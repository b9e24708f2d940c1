"""UDF surface (SURVEY.md §2h): the three Python extension points,
each demonstrated on a real operator — and each oracle-checked, since
the Python code computes the same IEEE-double formulas as the SQL.

Performance ladder (pyspark guide §UDFs):
1. built-in column expressions  — JVM codegen, the default everywhere
   else in this engine;
2. @pandas_udf                  — Arrow-vectorized batches, ~10-100x
   over row-at-a-time Python;
3. applyInPandas                — per-group pandas (grouped-map), for
   group-local algorithms (the first-cut SMOTE shape);
4. row-at-a-time @udf           — kept ONLY as a measured bad example
   (not in any hot path; see tests/test_udfs.py).

The declared queries here intentionally duplicate pure-SQL semantics so
the driver's oracle can verify that the Python path is *correct*, while
plan tests verify the rest of the engine never needs it.
"""

# NOTE: no `from __future__ import annotations` here — stringified type
# hints break @pandas_udf eval-type inference (it would warn and fall
# back instead of registering a vectorized SCALAR udf).
import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fraud_detection_spark.operators.ml_metrics import SCORE_SQL
from fraud_detection_spark.registry import query, sql_round
from fraud_detection_spark.sources import load_table


def _pround_np(x, n: int = 6):
    """numpy twin of functions.pround — identical IEEE ops."""
    p = float(10**n)
    return np.floor(x * p + 0.5) / p


@F.pandas_udf(T.DoubleType())
def sigmoid_score_udf(qty: pd.Series, disc: pd.Series, price: pd.Series) -> pd.Series:
    """Vectorized scoring kernel (Arrow batches): the same published
    model as operators/ml_metrics.py — sigmoid(-2 + 0.03q + 9d + 0.8p')."""
    logit = -2.0 + 0.03 * qty + 9.0 * disc + 0.8 * (price / 100000.0)
    return pd.Series(_pround_np(1.0 / (1.0 + np.exp(-logit)), 6))


@query(
    "q_pandas_udf_score",
    oracle=f"SELECT l_orderkey, l_linenumber, {SCORE_SQL} AS score FROM lineitem",
    tags=("udf", "pandas_udf"),
)
def q_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoring via @pandas_udf — numerically identical to the codegen'd
    q_lr_proba (same doubles, same portable round), proving the Arrow
    path computes what the SQL oracle computes. Exists to demonstrate
    the vectorized-UDF surface; q_lr_proba remains the production path."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        sigmoid_score_udf("l_quantity", "l_discount", "l_extendedprice").alias("score"),
    )


GROUP_Z_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("z_price", T.DoubleType()),
    ]
)


def _group_zscore(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group standardization (grouped-map). pandas std(ddof=1)
    matches STDDEV_SAMP."""
    mu = pdf["l_extendedprice"].mean()
    sd = pdf["l_extendedprice"].std(ddof=1)
    return pd.DataFrame(
        {
            "l_orderkey": pdf["l_orderkey"],
            "l_linenumber": pdf["l_linenumber"],
            "z_price": _pround_np((pdf["l_extendedprice"] - mu) / sd, 6),
        }
    )


@query(
    "q_group_zscore_pandas",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        + sql_round(
            "(l_extendedprice - AVG(l_extendedprice) OVER (PARTITION BY l_returnflag)) / "
            "STDDEV_SAMP(l_extendedprice) OVER (PARTITION BY l_returnflag)",
            6,
        )
        + " AS z_price FROM lineitem"
    ),
    tags=("udf", "applyInPandas"),
)
def q_group_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score via groupBy().applyInPandas — the grouped-map
    surface (the first-cut SMOTE shape per SURVEY §2h). Verified
    against the equivalent SQL window. One shuffle on the group key;
    each group is a bounded pandas frame.

    Numerical note: pandas mean/std and SQL window moments agree to
    ~1e-12 relative here; the portable round at 6 dp absorbs it."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"
    )
    return li.groupBy("l_returnflag").applyInPandas(_group_zscore, GROUP_Z_SCHEMA)


def _slow_label(flag):
    """Row-at-a-time Python UDF body — the measured BAD example
    (per-row pickle round-trip). Equivalent to CASE WHEN; see
    tests/test_udfs.py for the speed comparison. Never in a hot path.
    (No type hints: they trigger pandas-udf eval-type inference and an
    import-time warning.)"""
    return "returned" if flag == "R" else "kept"


slow_label_udf = F.udf(_slow_label, T.StringType())


def slow_label_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undeclared (it's the anti-pattern): the slow-path twin of a
    one-line CASE expression, used by tests to quantify the gap."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", slow_label_udf("l_returnflag").alias("label"))


@F.pandas_udf(T.DoubleType())
def weighted_mean_udf(price: pd.Series, qty: pd.Series) -> float:
    """GROUPED_AGG kernel: quantity-weighted mean price. One scalar per
    group, computed over the group's Arrow batch; portable-rounded
    inside the UDF (same IEEE ops as functions.pround)."""
    wm = float(np.dot(price.to_numpy(), qty.to_numpy()) / qty.to_numpy().sum())
    return float(np.floor(wm * 1e6 + 0.5) / 1e6)


@query(
    "q_grouped_agg_pandas",
    oracle=(
        "SELECT l_returnflag, "
        + sql_round(
            "SUM(l_extendedprice * l_quantity) / SUM(l_quantity)", 6
        )
        + " AS w_mean_price FROM lineitem GROUP BY l_returnflag"
    ),
    tags=("udf", "pandas_udf", "grouped_agg"),
)
def q_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED_AGG pandas_udf surface (the one §2h shape the other
    UDF examples don't cover): a custom aggregate evaluated per group
    on Arrow batches — here the quantity-weighted mean price per return
    flag, oracle-checked against the pure-SQL formulation. Map-side
    partial aggregation does NOT apply to grouped-agg UDFs (each
    group's full batch reaches Python), which is exactly why the
    engine's hot paths use built-in aggregates; this exists to prove
    the surface works and stays correct."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        weighted_mean_udf("l_extendedprice", "l_quantity").alias("w_mean_price")
    )
