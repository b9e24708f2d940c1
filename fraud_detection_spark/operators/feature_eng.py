"""Feature-engineering & tree-model serving operators.

The reference trains tree ensembles next to its logistic model
(train_model.py: XGBoost candidate) and serves scores row-by-row
(predict_single.py:30, api/app.py:209), but has no distributed way to
apply a trained tree model to a full table, encode categoricals, or
draw weighted samples — all standard steps between its preprocessing
(preprocess.py) and training. This module adds them Spark-first:

- q_tree_score      GBT-style ensemble inference as pure codegen CASE
- q_onehot_topk     top-K one-hot category encoding (broadcast ranks)
- q_robust_scale    median/IQR robust scaler (outlier-immune twin of
                    q_standard_scale / q_minmax_scale)
- q_sample_weighted weighted sampling without replacement
                    (Efraimidis–Spirakis exponential-sort keys)

Scale posture: tree inference and the sampling key are per-row
whole-stage-codegen expressions (zero shuffle before the final top-N);
the encoders aggregate once into a bounded category/stats table and
broadcast it back — the fact table never shuffles. No Python UDFs.

Parity trick for the tree: ONE CASE text is generated from the python
tree spec, and both engines evaluate it (Spark with selectExpr, the
DuckDB oracle embedded in its SQL), so the two run identical
arithmetic; tests/test_feature_timeseries.py re-derives the ensemble
independently with a python tree walk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fraud_detection_spark.functions import pround
from fraud_detection_spark.registry import query, sql_round, sql_sigmoid
from fraud_detection_spark.sources import load_table

# ---------------------------------------------------------------------------
# q_tree_score — ensemble of 3 depth-2 regression trees + sigmoid, the
# exact inference shape of a small GBT fraud scorer. Published spec:
# (feature, threshold, left, right); leaves are (leaf_id, margin).
# Splits use strict `<` in both engines.

_TREES = [
    # tree 0: price-driven
    {
        "feat": "l_extendedprice",
        "thr": 30000.25,
        "left": {
            "feat": "l_quantity",
            "thr": 25.5,
            "left": (0, -0.8),
            "right": (1, -0.1),
        },
        "right": {
            "feat": "l_discount",
            "thr": 0.045,
            "left": (2, 0.3),
            "right": (3, 0.9),
        },
    },
    # tree 1: discount-driven
    {
        "feat": "l_discount",
        "thr": 0.065,
        "left": {
            "feat": "l_extendedprice",
            "thr": 15000.5,
            "left": (0, -0.5),
            "right": (1, 0.05),
        },
        "right": {
            "feat": "l_quantity",
            "thr": 40.5,
            "left": (2, 0.45),
            "right": (3, 1.1),
        },
    },
    # tree 2: quantity/tax interaction
    {
        "feat": "l_quantity",
        "thr": 12.5,
        "left": {
            "feat": "l_tax",
            "thr": 0.035,
            "left": (0, -0.35),
            "right": (1, -0.05),
        },
        "right": {
            "feat": "l_tax",
            "thr": 0.055,
            "left": (2, 0.15),
            "right": (3, 0.55),
        },
    },
]
_TREE_BIAS = -0.4


def _tree_sql(node, pick) -> str:
    """CASE text for one tree, from the spec; both engines evaluate it
    (``pick`` renders a leaf as SQL text)."""
    if isinstance(node, tuple):
        return pick(node)
    return (
        f"CASE WHEN {node['feat']} < {node['thr']} "
        f"THEN {_tree_sql(node['left'], pick)} "
        f"ELSE {_tree_sql(node['right'], pick)} END"
    )


def _dbl(x: float) -> str:
    # a DOUBLE literal: a bare decimal literal would make Spark SQL sum
    # the margins in DECIMAL
    return f"CAST({x!r} AS DOUBLE)"


def _leaf_margin(leaf) -> str:
    return _dbl(leaf[1])


def _leaf_id(leaf) -> str:
    return repr(leaf[0])


_MARGIN_SQL = " + ".join(f"({_tree_sql(t, _leaf_margin)})" for t in _TREES)
_TREE_SCORE_SQL = sql_round(sql_sigmoid(f"{_dbl(_TREE_BIAS)} + {_MARGIN_SQL}"), 6)

# q_tree_score's select items over lineitem
_TREE_SCORE_ITEMS = [
    "l_orderkey",
    "l_linenumber",
    *(f"CAST({_tree_sql(t, _leaf_id)} AS INT) AS leaf{i}" for i, t in enumerate(_TREES)),
    f"{_TREE_SCORE_SQL} AS tree_score",
]


@query(
    "q_tree_score",
    oracle=f"SELECT {', '.join(_TREE_SCORE_ITEMS)} FROM lineitem",
    tags=("ml", "serve", "tree"),
)
def q_tree_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed GBT-ensemble inference: 3 depth-2 trees with fixed
    published splits, summed margins + bias through a sigmoid — the
    batch-apply the reference's single-row scorer (predict_single.py:30,
    XGBoost candidate in train_model.py) cannot do.

    Spark-first shape: the whole ensemble compiles to nested
    CASE WHEN inside one whole-stage-codegen projection — no model
    object on the executors, no UDF, zero shuffle. This is exactly how
    a real exported GBT (leaf tables from XGBoost/LightGBM dump) runs
    fastest at 100 TB: codegen the trees, never ship the library. The
    leaf ids are emitted per tree so the oracle checks routing, not
    just the blended score."""
    return load_table(spark, sf_dir, "lineitem").selectExpr(*_TREE_SCORE_ITEMS)


# ---------------------------------------------------------------------------

_TOPK = 5


@query(
    "q_onehot_topk",
    oracle=(
        "WITH ranked AS (SELECT p_type, ROW_NUMBER() OVER "
        "(ORDER BY COUNT(*) DESC, p_type) AS rk "
        "FROM part GROUP BY p_type) "
        "SELECT p.p_partkey, p.p_type, "
        f"CAST(CASE WHEN r.rk <= {_TOPK} THEN r.rk ELSE 0 END AS INT) AS cat_idx, "
        + ", ".join(
            f"CAST(CASE WHEN r.rk = {i} THEN 1 ELSE 0 END AS INT) AS oh_{i}"
            for i in range(1, _TOPK + 1)
        )
        + " FROM part p JOIN ranked r ON p.p_type = r.p_type"
    ),
    tags=("ml", "encode"),
)
def q_onehot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K one-hot encoding: the K most frequent categories get
    indicator columns, everything else folds into index 0 ("other") —
    the vocabulary-bounded encoder a 100 TB categorical column needs
    (full one-hot is unbounded; hashing loses interpretability). The
    reference's preprocessing has no categorical path at all (its
    checked-in credit_card.csv categoricals are dead data,
    SURVEY §1) — this is that missing encoder, Spark-first.

    Plan: one hash aggregate folds the fact table into a ≤|categories|
    row table; ranks come from a window over that bounded table only;
    the rank map broadcast-joins back. Ties broken by category value,
    so ranking is total and deterministic on both engines."""
    p = load_table(spark, sf_dir, "part")
    ranked = (
        p.groupBy("p_type")
        .agg(F.count("*").alias("n"))
        .select(
            "p_type",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc("p_type")))
            .alias("rk"),
        )
    )
    enc = p.join(F.broadcast(ranked), "p_type")
    return enc.select(
        "p_partkey",
        "p_type",
        F.when(F.col("rk") <= _TOPK, F.col("rk"))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("cat_idx"),
        *[
            (F.col("rk") == i).cast("int").alias(f"oh_{i}")
            for i in range(1, _TOPK + 1)
        ],
    )


# ---------------------------------------------------------------------------


@query(
    "q_robust_scale",
    oracle=(
        "WITH s AS (SELECT "
        "quantile_disc(l_extendedprice, 0.50) AS med_p, "
        "quantile_disc(l_extendedprice, 0.75) - quantile_disc(l_extendedprice, 0.25) AS iqr_p, "
        "quantile_disc(l_quantity, 0.50) AS med_q, "
        "quantile_disc(l_quantity, 0.75) - quantile_disc(l_quantity, 0.25) AS iqr_q "
        "FROM lineitem) "
        "SELECT l_orderkey, l_linenumber, "
        + sql_round("(l_extendedprice - med_p) / iqr_p", 6) + " AS r_price, "
        + sql_round("(l_quantity - med_q) / iqr_q", 6) + " AS r_qty "
        "FROM lineitem, s"
    ),
    tags=("ml", "scale"),
)
def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RobustScaler transform (x − median)/IQR — the outlier-immune
    scaler a fraud Amount column (log-normal, reference
    generate_synthetic_data.py:15) actually wants; μ/σ scaling
    (q_standard_scale, ref train_model.py:36-40) lets the 0.1% tail set
    the scale. percentile_disc keeps both engines exact: the discrete
    percentile *selects* an element (no interpolation arithmetic to
    disagree on).

    Plan: same shape as q_standard_scale — one tiny stats aggregate,
    broadcast back over the fact table, pure column math; lineitem
    itself never shuffles. At 100 TB swap percentile_disc for
    approx_percentile (GK sketch, mergeable) — the q_quantiles ↔
    q_approx_quantile twin documented in SCALE.md."""
    li = load_table(spark, sf_dir, "lineitem")

    # One array-fraction percentile_disc per column: each
    # percentile_disc expression is its own buffering aggregate, so
    # six scalar calls cost 6 buffers/sorts where two array calls cost
    # 2 (measured 4.7 s -> 1.6 s per pair at sf0.1).
    def pd3(col: str):
        return F.expr(
            f"percentile_disc(array(0.25, 0.50, 0.75)) WITHIN GROUP (ORDER BY {col})"
        )

    stats = li.agg(
        pd3("l_extendedprice").alias("pp"), pd3("l_quantity").alias("pq")
    ).select(
        F.col("pp")[1].alias("med_p"),
        (F.col("pp")[2] - F.col("pp")[0]).alias("iqr_p"),
        F.col("pq")[1].alias("med_q"),
        (F.col("pq")[2] - F.col("pq")[0]).alias("iqr_q"),
    )
    return li.crossJoin(F.broadcast(stats)).select(
        "l_orderkey",
        "l_linenumber",
        pround((F.col("l_extendedprice") - F.col("med_p")) / F.col("iqr_p"), 6).alias(
            "r_price"
        ),
        pround((F.col("l_quantity") - F.col("med_q")) / F.col("iqr_q"), 6).alias(
            "r_qty"
        ),
    )


# ---------------------------------------------------------------------------

_WS_N = 100  # sample size
_U32 = 4294967296.0


def _u_pos_expr(col: str) -> Column:
    """Deterministic uniform in (0,1): md5 32-bit bits + 0.5, so ln()
    is always finite (the sampling-module _u_expr allows exactly 0)."""
    bits = F.conv(
        F.substring(F.md5(F.col(col).cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("bigint")
    return (bits.cast("double") + F.lit(0.5)) / F.lit(_U32)


def _u_pos_sql(col: str) -> str:
    return (
        f"(CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)"
        f" / {_U32}"
    )


@query(
    "q_sample_weighted",
    oracle=(
        "SELECT o_orderkey, o_totalprice, "
        + sql_round(f"-LN({_u_pos_sql('o_orderkey')}) / o_totalprice", 10)
        + " AS es_key "
        "FROM orders "
        f"ORDER BY -LN({_u_pos_sql('o_orderkey')}) / o_totalprice, o_orderkey "
        f"LIMIT {_WS_N}"
    ),
    tags=("sample",),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis):
    per-row key −ln(u)/w with u a deterministic md5-uniform and
    w = o_totalprice; the N smallest keys ARE a weighted sample. The
    reference's imblearn undersampling (preprocess.py) is uniform; a
    100 TB curriculum/importance sampler needs weights.

    Scale shape: the key is one codegen'd expression per row (zero
    shuffle), and ORDER BY + LIMIT plans as TakeOrderedAndProject —
    per-partition top-N then a driver merge of N·partitions rows, never
    a global sort. Deterministic: u is hash-derived (retry-stable, same
    sample on re-run — the q_sample_uniform property) and ties are
    impossible at these weights but broken by key anyway."""
    o = load_table(spark, sf_dir, "orders")
    key = -F.log(_u_pos_expr("o_orderkey")) / F.col("o_totalprice")
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            key.alias("_k"),
            pround(key, 10).alias("es_key"),
        )
        .orderBy(F.asc("_k"), F.asc("o_orderkey"))
        .limit(_WS_N)
        .drop("_k")
    )


# ---------------------------------------------------------------------------

_TS_SEC_SQL = "(epoch_ns(ts) // 1000000000)"


@query(
    "q_time_split",
    oracle=(
        f"WITH c AS (SELECT quantile_disc({_TS_SEC_SQL}, 0.8) AS cutoff FROM events) "
        f"SELECT CASE WHEN {_TS_SEC_SQL} <= cutoff THEN 1 ELSE 0 END AS is_train, "
        "CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, "
        f"CAST(MIN({_TS_SEC_SQL}) AS BIGINT) AS ts_min, "
        f"CAST(MAX({_TS_SEC_SQL}) AS BIGINT) AS ts_max "
        "FROM events, c GROUP BY is_train"
    ),
    tags=("ml", "split", "timeseries"),
)
def q_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split at the 80th time percentile: train on
    the past, evaluate on the future — the evaluation protocol
    time-dependent fraud data actually requires. The reference's
    random row split (preprocess.py:36-38, mirrored by q_split) lets
    the model train on events *after* its test set, inflating offline
    AUC relative to deployment; fraud patterns drift, so the honest
    estimate comes from a time cut.

    The cutoff is PERCENTILE_DISC of epoch seconds (selects an actual
    element — engine-exact, see q_percentiles) computed in one tiny
    aggregate and broadcast back; the split itself is a codegen'd
    comparison. Output is the per-side summary (counts, user counts,
    time ranges) whose ts_max(train) <= ts_min(test)+1s boundary the
    test asserts."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.expr("ts div 1000000000")
    e = ev.select(sec.alias("ts_sec"), "user_id")
    cutoff = e.agg(
        F.expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY ts_sec)").alias("cutoff")
    )
    return (
        e.crossJoin(F.broadcast(cutoff))
        .select(
            F.when(F.col("ts_sec") <= F.col("cutoff"), 1).otherwise(0).alias("is_train"),
            "ts_sec",
            "user_id",
        )
        .groupBy("is_train")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.min("ts_sec").cast("bigint").alias("ts_min"),
            F.max("ts_sec").cast("bigint").alias("ts_max"),
        )
    )
