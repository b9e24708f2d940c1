"""ML feature/metric operators, SQL-expressible form.

A deterministic "published model" over lineitem lets the DuckDB oracle
replicate every scoring/metric query exactly (SURVEY.md §2f strategy:
store coefficients as literals):

    label  = 1 iff l_returnflag = 'R'          (the 'fraud' class)
    x1     = l_quantity
    x2     = l_discount
    x3     = l_extendedprice / 100000
    logit  = -2.0 + 0.03*x1 + 9.0*x2 + 0.8*x3
    score  = sigmoid(logit)

Reference parity:
- predict / predict_proba      -> evaluate_model.py:26-27, deploy.py:36-37
- standard scaling (z-score)   -> train_model.py:36-40 (fit on stats,
  transform via broadcast — no shuffle of the fact table)
- SHAP LinearExplainer         -> explain_model.py:24-27: w·(x−μ)
- simplified attribution w·x   -> xai_tasks.py:102-115
- confusion matrix             -> evaluate_model.py:31
- precision/recall/F1          -> evaluate_model.py:45
- ROC curve / AUC              -> evaluate_model.py:49-50,
  train_model.py:83 — AUC via tie-aware Mann–Whitney rank-sum; ROC via
  score-binned cumulative sums (the scale-safe two-pass form, see
  SURVEY.md §4.2)
- stratified split / K folds   -> preprocess.py:36-38, train_model.py:49
  — deterministic multiplicative-hash bucketing instead of RNG so the
  assignment is stable across retries and partitionings.

Scale posture: scoring is pure whole-stage-codegen column math; μ/σ and
rank statistics are tiny aggregates broadcast back; the only ordered
window (q_auc) ranks *rounded* scores and is documented as the
test-scale form — q_roc_points is the binned form that survives 100 TB.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fraud_detection_spark.functions import prefix_sums, pround
from fraud_detection_spark.registry import query, sql_double_lit, sql_round, sql_sigmoid
from fraud_detection_spark.sources import load_table

# Published model coefficients (literals on both engines).
B0, W_QTY, W_DISC, W_PRICE = -2.0, 0.03, 9.0, 0.8

# The published model as SQL text, evaluated verbatim by both engines:
# the oracles embed it and Spark runs it with selectExpr. Every DECIMAL
# literal meets a DOUBLE column, so Spark SQL computes in DOUBLE too.
LOGIT_SQL = (
    f"{B0} + {W_QTY} * l_quantity + {W_DISC} * l_discount "
    f"+ {W_PRICE} * (l_extendedprice / 100000.0)"
)
SCORE_SQL = sql_round(sql_sigmoid(LOGIT_SQL), 6)
LABEL_SQL = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"
# the deterministic ~80/20 train split (Knuth multiplicative hash of
# the row key, q_split)
TRAIN_SQL = (
    "CASE WHEN (l_orderkey * 2654435761 + l_linenumber) % 1000 < 800 "
    "THEN 1 ELSE 0 END"
)

# (l_orderkey, l_linenumber, label, score) from lineitem
_SCORED_ITEMS = [
    "l_orderkey",
    "l_linenumber",
    f"{LABEL_SQL} AS label",
    f"{SCORE_SQL} AS score",
]
SCORED_SQL = f"SELECT {', '.join(_SCORED_ITEMS)} FROM lineitem"


def scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> (l_orderkey, l_linenumber, label, score).

    Score is rounded to 6 decimals *before* any ranking so tie structure
    is identical across engines.
    """
    return load_table(spark, sf_dir, "lineitem").selectExpr(*_SCORED_ITEMS)


@query(
    "q_lr_proba",
    oracle=SCORED_SQL,
    tags=("ml", "scoring"),
)
def q_lr_proba(spark: SparkSession, sf_dir: str) -> DataFrame:
    """predict_proba: sigmoid(w·x + b). Ref: model.predict_proba(X)[:,1]
    evaluate_model.py:27 / predict_single.py:31."""
    return scored(spark, sf_dir)


@query(
    "q_lr_predict",
    oracle=(
        f"WITH s AS ({SCORED_SQL}) "
        "SELECT l_orderkey, l_linenumber, label, "
        "CASE WHEN score > 0.5 THEN 1 ELSE 0 END AS prediction FROM s"
    ),
    tags=("ml", "scoring"),
)
def q_lr_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """predict: class = score > 0.5. Ref: model.predict evaluate_model.py:26."""
    s = scored(spark, sf_dir)
    return s.select(
        "l_orderkey",
        "l_linenumber",
        "label",
        F.when(F.col("score") > 0.5, 1).otherwise(0).alias("prediction"),
    )


@query(
    "q_standard_scale",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        + sql_round("(l_quantity - AVG(l_quantity) OVER ()) / STDDEV_SAMP(l_quantity) OVER ()", 6)
        + " AS z_qty, "
        + sql_round("(l_extendedprice - AVG(l_extendedprice) OVER ()) / STDDEV_SAMP(l_extendedprice) OVER ()", 6)
        + " AS z_price FROM lineitem"
    ),
    tags=("ml", "feature"),
)
def q_standard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardScaler transform z=(x−μ)/σ. Ref: train_model.py:36-40.

    Spark plan: one tiny agg (μ,σ) -> broadcast cross-join back onto the
    fact table -> pure column math. No shuffle of lineitem itself; the
    oracle's window-over-() form is only for DuckDB equivalence."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.avg("l_quantity").alias("mu_q"),
        F.stddev_samp("l_quantity").alias("sd_q"),
        F.avg("l_extendedprice").alias("mu_p"),
        F.stddev_samp("l_extendedprice").alias("sd_p"),
    )
    return (
        li.crossJoin(F.broadcast(stats))
        .select(
            "l_orderkey",
            "l_linenumber",
            pround((F.col("l_quantity") - F.col("mu_q")) / F.col("sd_q"), 6).alias("z_qty"),
            pround((F.col("l_extendedprice") - F.col("mu_p")) / F.col("sd_p"), 6).alias("z_price"),
        )
    )


@query(
    "q_shap_linear",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        + sql_round("0.03 * (l_quantity - AVG(l_quantity) OVER ())", 6) + " AS shap_qty, "
        + sql_round("9.0 * (l_discount - AVG(l_discount) OVER ())", 6) + " AS shap_disc, "
        + sql_round("0.8 * (l_extendedprice / 100000.0 - AVG(l_extendedprice / 100000.0) OVER ())", 6)
        + " AS shap_price FROM lineitem"
    ),
    tags=("ml", "explain"),
)
def q_shap_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAP LinearExplainer (interventional): φᵢ = wᵢ·(xᵢ − μᵢ).
    Ref: explain_model.py:24-27 — for linear models SHAP is exactly
    coef ⊙ (x − μ_background); no shap library needed, pure column math
    with broadcast background means."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.avg("l_quantity").alias("mu_q"),
        F.avg("l_discount").alias("mu_d"),
        F.avg(F.col("l_extendedprice") / 100000.0).alias("mu_p"),
    )
    return (
        li.crossJoin(F.broadcast(stats))
        .select(
            "l_orderkey",
            "l_linenumber",
            pround(F.lit(W_QTY) * (F.col("l_quantity") - F.col("mu_q")), 6).alias("shap_qty"),
            pround(F.lit(W_DISC) * (F.col("l_discount") - F.col("mu_d")), 6).alias("shap_disc"),
            pround(
                F.lit(W_PRICE) * (F.col("l_extendedprice") / 100000.0 - F.col("mu_p")), 6
            ).alias("shap_price"),
        )
    )


@query(
    "q_linear_attr",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        + sql_round("0.03 * l_quantity", 6) + " AS attr_qty, "
        + sql_round("9.0 * l_discount", 6) + " AS attr_disc, "
        + sql_round("0.8 * l_extendedprice / 100000.0", 6) + " AS attr_price FROM lineitem"
    ),
    tags=("ml", "explain"),
)
def q_linear_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified linear attribution wᵢ·xᵢ (no centering).
    Ref: coefs * x_arr[0] xai_tasks.py:102-115."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        pround(F.lit(W_QTY) * F.col("l_quantity"), 6).alias("attr_qty"),
        pround(F.lit(W_DISC) * F.col("l_discount"), 6).alias("attr_disc"),
        pround(F.lit(W_PRICE) * F.col("l_extendedprice") / 100000.0, 6).alias("attr_price"),
    )


@query(
    "q_confusion",
    oracle=(
        f"WITH s AS ({SCORED_SQL}) "
        "SELECT label, CASE WHEN score > 0.5 THEN 1 ELSE 0 END AS prediction, "
        "CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY label, prediction"
    ),
    tags=("ml", "metric"),
)
def q_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix as (label, prediction, n) triples.
    Ref: confusion_matrix(y_test, y_pred) evaluate_model.py:31."""
    s = scored(spark, sf_dir)
    return (
        s.withColumn("prediction", F.when(F.col("score") > 0.5, 1).otherwise(0))
        .groupBy("label", "prediction")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_prf",
    oracle=(
        f"WITH s AS ({SCORED_SQL}), c AS ("
        "SELECT SUM(CASE WHEN label = 1 AND score > 0.5 THEN 1 ELSE 0 END) AS tp, "
        "SUM(CASE WHEN label = 0 AND score > 0.5 THEN 1 ELSE 0 END) AS fp, "
        "SUM(CASE WHEN label = 1 AND score <= 0.5 THEN 1 ELSE 0 END) AS fn, "
        "SUM(CASE WHEN label = 0 AND score <= 0.5 THEN 1 ELSE 0 END) AS tn FROM s) "
        "SELECT " + sql_round("tp * 1.0 / NULLIF(tp + fp, 0)", 6) + " AS precision_1, "
        + sql_round("tp * 1.0 / NULLIF(tp + fn, 0)", 6) + " AS recall_1, "
        + sql_round("2.0 * tp / NULLIF(2.0 * tp + fp + fn, 0)", 6) + " AS f1_1, "
        "CAST(tp + fn AS BIGINT) AS support_1, "
        "CAST(tn + fp AS BIGINT) AS support_0 FROM c"
    ),
    tags=("ml", "metric"),
)
def q_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1/support for the positive class.
    Ref: classification_report evaluate_model.py:45 — conditional sums,
    one aggregate pass."""
    s = scored(spark, sf_dir)
    pred = F.col("score") > 0.5
    lab = F.col("label") == 1
    agg = s.agg(
        F.sum(F.when(lab & pred, 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~lab & pred, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(lab & ~pred, 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~lab & ~pred, 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return agg.select(
        pround(tp * 1.0 / F.nullif(tp + fp, F.lit(0)), 6).alias("precision_1"),
        pround(tp * 1.0 / F.nullif(tp + fn, F.lit(0)), 6).alias("recall_1"),
        pround(2.0 * tp / F.nullif(2.0 * tp + fp + fn, F.lit(0)), 6).alias("f1_1"),
        (tp + fn).cast("bigint").alias("support_1"),
        (tn + fp).cast("bigint").alias("support_0"),
    )


@query(
    "q_auc",
    oracle=(
        f"WITH s AS ({SCORED_SQL}), r AS ("
        "SELECT label, "
        "RANK() OVER (ORDER BY score) + (COUNT(*) OVER (PARTITION BY score) - 1) / 2.0 AS arank "
        "FROM s) "
        "SELECT " + sql_round(
            "(SUM(CASE WHEN label = 1 THEN arank ELSE 0 END) "
            "- SUM(label) * (SUM(label) + 1) / 2.0) "
            "/ (SUM(label) * (COUNT(*) - SUM(label)))", 6)
        + " AS auc FROM r"
    ),
    tags=("ml", "metric"),
)
def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC via tie-aware Mann–Whitney rank-sum:
    AUC = (Σ rank⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻), with average ranks over
    score ties (scores pre-rounded so tie structure matches the oracle).
    Ref: roc_auc_score train_model.py:83 / evaluate_model.py:50.

    Scale: scores are pre-rounded to 6 dp, so the distinct-score table
    is bounded at ~10⁶ rows regardless of input size; one shuffle agg
    (score -> pos, cnt), then ranks from prefix_sums over that table.
    arank(score) = rows_below + (cnt+1)/2 with rows_below = cum − cnt,
    and Σ over positive rows of arank = Σ_groups pos·arank — identical
    math to the global RANK() oracle, exact in IEEE double (all terms
    integer or half-integer)."""
    s = scored(spark, sf_dir)
    # NOT cached, deliberately (round 4 A/B): the distinct-score table
    # feeds both the bucket-offset branch and the ranked join with no
    # ReusedExchange, so the scoring scan + score agg do run twice —
    # but in a run-once query the duplicated map work overlaps across
    # cores, while cache() serializes a 347k-row materialization onto
    # the critical path (measured consistently slower end-to-end).
    per = s.groupBy("score").agg(
        F.sum("label").alias("pos"), F.count("*").alias("cnt")
    )
    ranked = prefix_sums(
        per, F.floor(F.col("score") * 1000).cast("bigint"), "score",
        [("cnt", "cum")],
    ).withColumn(
        "arank",
        F.col("cum") - F.col("cnt") + (F.col("cnt") + 1) / 2.0,
    )
    n_pos = F.sum("pos")
    n_all = F.sum("cnt")
    return ranked.agg(
        pround(
            (F.sum(F.col("pos") * F.col("arank")) - n_pos * (n_pos + 1) / 2.0)
            / F.nullif(n_pos * (n_all - n_pos), F.lit(0)),
            6,
        ).alias("auc")
    )


def _curve_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 50-bucket score histogram of q_roc_points, q_pr_points and
    q_avg_precision with descending cumulative (cum_pos, cum_neg) and
    the class totals (tot_pos, tot_neg) — NULL, not 0, when a class is
    absent, so the curve's ratios are NULL as the oracle's x/0 is.
    Bounded: <=51 buckets by construction, so the windows sort a
    <=51-row table."""
    b = scored(spark, sf_dir).groupBy(
        F.floor(F.col("score") * 50).cast("bigint").alias("bucket")
    ).agg(
        F.sum("label").alias("pos"),
        (F.count("*") - F.sum("label")).alias("neg"),
    )
    w_cum = Window.orderBy(F.desc("bucket")).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    return b.select(
        "bucket",
        F.sum("pos").over(w_cum).alias("cum_pos"),
        F.sum("neg").over(w_cum).alias("cum_neg"),
        F.nullif(F.sum("pos").over(w_all), F.lit(0)).alias("tot_pos"),
        F.nullif(F.sum("neg").over(w_all), F.lit(0)).alias("tot_neg"),
    )


@query(
    "q_roc_points",
    oracle=(
        f"WITH s AS ({SCORED_SQL}), b AS ("
        "SELECT CAST(FLOOR(score * 50) AS BIGINT) AS bucket, "
        "SUM(label) AS pos, COUNT(*) - SUM(label) AS neg FROM s GROUP BY bucket), "
        "c AS (SELECT bucket, "
        "SUM(pos) OVER (ORDER BY bucket DESC) AS cum_pos, "
        "SUM(neg) OVER (ORDER BY bucket DESC) AS cum_neg, "
        "SUM(pos) OVER () AS tot_pos, SUM(neg) OVER () AS tot_neg FROM b) "
        "SELECT bucket, " + sql_round("cum_pos * 1.0 / tot_pos", 6) + " AS tpr, "
        + sql_round("cum_neg * 1.0 / tot_neg", 6) + " AS fpr FROM c"
    ),
    tags=("ml", "metric"),
)
def q_roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned ROC curve — the scale-safe two-pass form: histogram scores
    into 50 buckets (one aggregate), then a cumulative window over the
    ~50-row bucket table only. Ref: roc_curve evaluate_model.py:49."""
    return _curve_cum(spark, sf_dir).select(
        "bucket",
        pround(F.col("cum_pos") * 1.0 / F.col("tot_pos"), 6).alias("tpr"),
        pround(F.col("cum_neg") * 1.0 / F.col("tot_neg"), 6).alias("fpr"),
    )


_FOLD_ITEMS = ["(l_orderkey * 9973 + l_linenumber) % 5 AS fold", f"{LABEL_SQL} AS label"]


@query(
    "q_fold_assign",
    oracle=(
        f"SELECT {', '.join(_FOLD_ITEMS)}, "
        "CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY fold, label"
    ),
    tags=("ml", "split"),
)
def q_fold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold assignment via multiplicative hash of the
    row key — stable across retries/partitionings (SURVEY.md §4.3),
    unlike RNG folds. Ref: StratifiedKFold(n_splits=5, random_state=42)
    train_model.py:49."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.selectExpr(*_FOLD_ITEMS).groupBy("fold", "label").agg(F.count("*").alias("n"))


_SPLIT_ITEMS = [f"{TRAIN_SQL} AS is_train", f"{LABEL_SQL} AS label"]


@query(
    "q_split",
    oracle=(
        f"SELECT {', '.join(_SPLIT_ITEMS)}, "
        "CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY is_train, label"
    ),
    tags=("ml", "split"),
)
def q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/20 train/test split via Knuth multiplicative
    hash of the row key. Ref: train_test_split(test_size=0.2,
    stratify=y, random_state=42) preprocess.py:36-38 — hash bucketing
    replaces RNG so the split is reproducible on any cluster layout."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.selectExpr(*_SPLIT_ITEMS).groupBy("is_train", "label").agg(F.count("*").alias("n"))
    )


# --- PR curve / average precision / MCC-kappa / log-loss --------------
#
# Completes the evaluation surface next to q_confusion / q_prf /
# q_auc / q_roc_points: the PR view (the one that matters at fraud's
# class imbalance — ROC flatters a 0.2% positive rate), its scalar
# summary (average precision), the chance-corrected agreement scalars
# (MCC, Cohen's kappa, balanced accuracy), and the proper scoring rule
# the reference's logloss eval_metric names (train_model.py:74) but
# never reports.

_PR_SQL = (
    f"WITH s AS ({SCORED_SQL}), b AS ("
    "SELECT CAST(FLOOR(score * 50) AS BIGINT) AS bucket, "
    "SUM(label) AS pos, COUNT(*) - SUM(label) AS neg FROM s GROUP BY bucket), "
    "c AS (SELECT bucket, "
    "SUM(pos) OVER (ORDER BY bucket DESC) AS cum_pos, "
    "SUM(neg) OVER (ORDER BY bucket DESC) AS cum_neg, "
    "SUM(pos) OVER () AS tot_pos FROM b)"
)


@query(
    "q_pr_points",
    oracle=(
        _PR_SQL + " SELECT bucket, "
        + sql_round("cum_pos * 1.0 / (cum_pos + cum_neg)", 6) + " AS precision, "
        + sql_round("cum_pos * 1.0 / tot_pos", 6) + " AS recall FROM c"
    ),
    tags=("ml", "metric"),
)
def q_pr_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned precision-recall curve: precision and recall at each
    descending score threshold — the curve fraud teams read instead of
    ROC once positives are rare (q_roc_points' FPR axis hides a 100×
    false-alarm blowup at 0.2% prevalence; precision shows it).

    Scale shape: identical to q_roc_points — one histogram aggregate
    (map-side combinable), cumulative windows over the ≤51-row bucket
    table only."""
    c = _curve_cum(spark, sf_dir)
    return c.select(
        "bucket",
        pround(F.col("cum_pos") * 1.0 / (F.col("cum_pos") + F.col("cum_neg")), 6).alias(
            "precision"
        ),
        pround(F.col("cum_pos") * 1.0 / F.col("tot_pos"), 6).alias("recall"),
    )


@query(
    "q_avg_precision",
    oracle=(
        _PR_SQL + ", r AS (SELECT bucket, "
        "cum_pos * 1.0 / (cum_pos + cum_neg) AS prec, "
        "cum_pos * 1.0 / tot_pos AS rec, "
        "COALESCE(LAG(cum_pos * 1.0 / tot_pos) OVER (ORDER BY bucket DESC), 0)"
        " AS rec_prev FROM c) "
        "SELECT " + sql_round(
            "CAST(SUM(CAST(FLOOR((rec - rec_prev) * prec * 1000000000 + 0.5) "
            "AS BIGINT)) AS DOUBLE) / 1000000000",
            6,
        ) + " AS ap FROM r"
    ),
    tags=("ml", "metric"),
)
def q_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (AP): Σ (R_i − R_{i−1})·P_i over descending
    thresholds — sklearn's average_precision_score on the binned
    curve; the scalar PR summary that, unlike trapezoidal PR-AUC,
    never optimistically interpolates. Same bounded bucket-table plan
    as q_pr_points; each ΔR·P step folds to 1e-9 fixed-point units so
    the final sum over the ≤51 rows is an exact integer sum."""
    c = _curve_cum(spark, sf_dir)
    w_lag = Window.orderBy(F.desc("bucket"))
    r = c.select(
        (F.col("cum_pos") * 1.0 / (F.col("cum_pos") + F.col("cum_neg"))).alias("prec"),
        (F.col("cum_pos") * 1.0 / F.col("tot_pos")).alias("rec"),
        F.coalesce(
            F.lag(F.col("cum_pos") * 1.0 / F.col("tot_pos")).over(w_lag), F.lit(0.0)
        ).alias("rec_prev"),
    )
    # per-step fixed-point units before the sum (layout-proof; the
    # q_chi2 discipline — round-7 self-review)
    step_units = F.floor(
        (F.col("rec") - F.col("rec_prev")) * F.col("prec") * 1000000000
        + F.lit(0.5)
    ).cast("bigint")
    return r.agg(
        pround(F.sum(step_units).cast("double") / 1000000000, 6).alias("ap")
    )


@query(
    "q_mcc",
    oracle=(
        f"WITH s AS ({SCORED_SQL}), c AS ("
        "SELECT CAST(SUM(CASE WHEN label = 1 AND score > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp, "
        "CAST(SUM(CASE WHEN label = 0 AND score > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp, "
        "CAST(SUM(CASE WHEN label = 1 AND score <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn, "
        "CAST(SUM(CASE WHEN label = 0 AND score <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tn FROM s) "
        "SELECT " + sql_round("(tp + tn) * 1.0 / (tp + fp + fn + tn)", 6)
        + " AS accuracy, "
        + sql_round(
            "(tp * 1.0 / NULLIF(tp + fn, 0) + tn * 1.0 / NULLIF(tn + fp, 0)) / 2",
            6,
        )
        + " AS balanced_accuracy, "
        + sql_round(
            "(CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) "
            "/ NULLIF(SQRT(CAST(tp + fp AS DOUBLE)) "
            "* SQRT(CAST(tp + fn AS DOUBLE)) * SQRT(CAST(tn + fp AS DOUBLE)) "
            "* SQRT(CAST(tn + fn AS DOUBLE)), 0)",
            6,
        )
        + " AS mcc, "
        + sql_round(
            "2.0 * (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) / NULLIF("
            "CAST(tp + fp AS DOUBLE) * (fp + tn) "
            "+ CAST(tp + fn AS DOUBLE) * (fn + tn), 0)",
            6,
        )
        + " AS kappa FROM c"
    ),
    tags=("ml", "metric"),
)
def q_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement scalars from one confusion pass:
    accuracy, balanced accuracy, Matthews correlation coefficient, and
    Cohen's kappa — the metrics that stay honest at fraud's class
    imbalance (accuracy at 0.2% prevalence is 99.8% for the
    always-predict-0 model; MCC and kappa are ~0 for it). MCC's denominator multiplies
    FOUR marginals (can overflow 64-bit at ~10⁹ rows), so each takes
    its own SQRT as a double first — a fixed multiplication order both
    engines share; kappa's products stay within BIGINT by pairing.
    One aggregate over the scored scan — no shuffle beyond the
    4-counter fold."""
    s = scored(spark, sf_dir)
    pred = F.col("score") > 0.5
    lab = F.col("label") == 1
    c = s.agg(
        F.sum(F.when(lab & pred, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(~lab & pred, 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(lab & ~pred, 1).otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when(~lab & ~pred, 1).otherwise(0)).cast("bigint").alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    num = tp.cast("double") * tn - fp.cast("double") * fn
    mcc_den = (
        F.sqrt((tp + fp).cast("double"))
        * F.sqrt((tp + fn).cast("double"))
        * F.sqrt((tn + fp).cast("double"))
        * F.sqrt((tn + fn).cast("double"))
    )
    kap_den = (tp + fp).cast("double") * (fp + tn) + (tp + fn).cast("double") * (
        fn + tn
    )
    return c.select(
        pround((tp + tn) * 1.0 / (tp + fp + fn + tn), 6).alias("accuracy"),
        pround(
            (
                tp * 1.0 / F.nullif(tp + fn, F.lit(0))
                + tn * 1.0 / F.nullif(tn + fp, F.lit(0))
            )
            / 2,
            6,
        ).alias("balanced_accuracy"),
        pround(num / F.nullif(mcc_den, F.lit(0.0)), 6).alias("mcc"),
        pround(2.0 * num / F.nullif(kap_den, F.lit(0.0)), 6).alias("kappa"),
    )


@query(
    "q_logloss",
    oracle=(
        f"WITH s AS ({SCORED_SQL}), t AS ("
        "SELECT CAST(FLOOR(-(CASE WHEN label = 1 THEN LN(score) "
        "ELSE LN(1.0 - score) END) * 1000000000 + 0.5) AS BIGINT) AS u FROM s) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        + sql_round("CAST(SUM(u) AS DOUBLE) / 1000000000 / COUNT(*)", 6)
        + " AS logloss FROM t"
    ),
    tags=("ml", "metric"),
)
def q_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary cross-entropy (log-loss) of the published scorer — the
    eval_metric the reference trains against (train_model.py:74,
    'logloss') but never reports, and the proper scoring rule that
    q_brier complements. Scores here live in ~[0.12, 0.77] (bounded
    logit), so no clamping epsilon is needed; each row's −ln term
    folds to 1e-9 fixed-point units (exact per-row op) and the total
    is an exact integer sum — layout-proof, the functions.fixed_sum
    discipline. One map-side-combinable aggregate over the scored
    scan."""
    s = scored(spark, sf_dir)
    term = -F.when(F.col("label") == 1, F.log("score")).otherwise(
        F.log(F.lit(1.0) - F.col("score"))
    )
    u = F.floor(term * 1000000000 + F.lit(0.5)).cast("bigint")
    t = s.select(u.alias("u"))
    return t.agg(
        F.count("*").cast("bigint").alias("n"),
        pround(F.sum("u").cast("double") / 1000000000 / F.count("*"), 6).alias(
            "logloss"
        ),
    )


@query(
    "q_parity_gap",
    oracle=(
        "WITH s AS (" + SCORED_SQL + "), "
        "seg AS (SELECT c.c_mktsegment AS segment, "
        "CASE WHEN s.score > 0.5 THEN 1 ELSE 0 END AS pred, s.label "
        "FROM s JOIN orders o ON s.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey), "
        "g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n, "
        "SUM(pred) AS np, SUM(label) AS nl, "
        "SUM(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END) AS tp, "
        "SUM(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END) AS fp "
        "FROM seg GROUP BY segment), "
        "t AS (SELECT SUM(n) AS n, SUM(np) AS np, SUM(nl) AS nl, "
        "SUM(tp) AS tp, SUM(fp) AS fp FROM g) "
        "SELECT g.segment, g.n, "
        + sql_round("g.np * 1.0 / g.n", 6) + " AS flag_rate, "
        + sql_round("g.tp * 1.0 / g.nl", 6) + " AS tpr, "
        + sql_round("g.fp * 1.0 / (g.n - g.nl)", 6) + " AS fpr, "
        + sql_round("g.np * 1.0 / g.n - t.np * 1.0 / t.n", 6)
        + " AS flag_rate_gap, "
        + sql_round("g.tp * 1.0 / g.nl - t.tp * 1.0 / t.nl", 6) + " AS tpr_gap "
        "FROM g CROSS JOIN t"
    ),
    tags=("ml", "fairness", "monitor"),
)
def q_parity_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment fairness audit of the published fraud model:
    flag rate (demographic parity), TPR (equal opportunity) and FPR
    per customer market segment, each with its gap against the
    overall book — the screen a model-risk review runs before a
    fraud model ships, because a flag-rate or missed-fraud rate that
    differs by segment is both a compliance finding and a fraud-ops
    blind spot. Extends q_auc_by_segment's discrimination view with
    the threshold-level rates regulators actually quote.

    Exactness: every rate is an integer/integer ratio from exact
    counts (the q_confusion discipline), gaps are one subtraction of
    two such ratios — identical IEEE on both engines, then 6-dp
    fixed-point.

    Scale: score the fact scan once (codegen'd sigmoid), one
    co-partitioned join chain to the customer dimension, one
    map-side-combinable count aggregate per segment (|segments| ≤ 5
    rows out), overall totals broadcast back."""
    s = scored(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        s.join(o, s.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            (F.col("score") > 0.5).cast("int").alias("pred"),
            "label",
        )
    )
    g = seg.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pred").alias("np"),
        F.sum("label").alias("nl"),
        F.sum(((F.col("pred") == 1) & (F.col("label") == 1)).cast("int")).alias("tp"),
        F.sum(((F.col("pred") == 1) & (F.col("label") == 0)).cast("int")).alias("fp"),
    )
    t = g.agg(
        F.sum("n").alias("tn_"),
        F.sum("np").alias("tnp"),
        F.sum("nl").alias("tnl"),
        F.sum("tp").alias("ttp"),
    )
    # a segment (or the book) without positives or negatives has NULL
    # rates, as the oracle's x/0
    nl = F.nullif(F.col("nl"), F.lit(0))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "segment",
            "n",
            pround(F.col("np") * 1.0 / F.col("n"), 6).alias("flag_rate"),
            pround(F.col("tp") * 1.0 / nl, 6).alias("tpr"),
            pround(
                F.col("fp") * 1.0 / F.nullif(F.col("n") - F.col("nl"), F.lit(0)), 6
            ).alias("fpr"),
            pround(
                F.col("np") * 1.0 / F.col("n") - F.col("tnp") * 1.0 / F.col("tn_"),
                6,
            ).alias("flag_rate_gap"),
            pround(
                F.col("tp") * 1.0 / nl
                - F.col("ttp") * 1.0 / F.nullif(F.col("tnl"), F.lit(0)),
                6,
            ).alias("tpr_gap"),
        )
    )


@query(
    "q_cohen_kappa",
    oracle=(
        f"WITH s AS ({SCORED_SQL}), c AS ("
        "SELECT CAST(SUM(CASE WHEN label = 1 AND score > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp, "
        "CAST(SUM(CASE WHEN label = 0 AND score > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp, "
        "CAST(SUM(CASE WHEN label = 1 AND score <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn, "
        "CAST(SUM(CASE WHEN label = 0 AND score <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tn FROM s), "
        "k AS (SELECT tp + fp + fn + tn AS n, "
        "CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS po, "
        "(CAST(tp + fp AS DOUBLE) * (tp + fn) + CAST(fn + tn AS DOUBLE) * (fp + tn)) "
        "/ (CAST(tp + fp + fn + tn AS DOUBLE) * (tp + fp + fn + tn)) AS pe FROM c) "
        "SELECT CAST(n AS BIGINT) AS n, "
        + sql_round("po", 6) + " AS accuracy, "
        + sql_round("pe", 6) + " AS expected_accuracy, "
        + sql_round("(po - pe) / (1 - pe)", 6) + " AS kappa FROM k"
    ),
    tags=("ml", "metric"),
)
def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the 0.5-threshold classifier: chance-corrected
    agreement κ = (p_o − p_e)/(1 − p_e) between predictions and
    labels, with the observed and chance-expected accuracies — the
    imbalance-honest companion to raw accuracy (a 99%-negative fraud
    table gives a constant-0 model p_o ≈ 0.99 but κ ≈ 0) next to
    q_mcc's correlation view of the same confusion matrix.

    Exactness: one conditional-sum confusion pass (exact integers);
    κ/p_o/p_e are scalar IEEE formulas on those integers — identical
    on both engines. The pairwise products sit far inside double's
    exact-integer range until n ~ 9e7 per cell pair, and p_e's ratio
    form keeps the scalars in [0, 1] at any n.

    Scale: identical single map-side-combinable aggregate as q_prf —
    no extra shuffle, no new scan."""
    s = scored(spark, sf_dir)
    pred = F.col("score") > 0.5
    lab = F.col("label") == 1
    agg = s.agg(
        F.sum(F.when(lab & pred, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(~lab & pred, 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(lab & ~pred, 1).otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when(~lab & ~pred, 1).otherwise(0)).cast("bigint").alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    n = tp + fp + fn + tn
    po = (tp + tn).cast("double") / n
    pe = (
        (tp + fp).cast("double") * (tp + fn) + (fn + tn).cast("double") * (fp + tn)
    ) / (n.cast("double") * n)
    return agg.select(
        n.cast("bigint").alias("n"),
        pround(po, 6).alias("accuracy"),
        pround(pe, 6).alias("expected_accuracy"),
        # NULL when chance agreement is certain (p_e = 1), as the
        # oracle's x/0
        pround((po - pe) / F.nullif(1 - pe, F.lit(0.0)), 6).alias("kappa"),
    )


# The Gini split formulas, one text per formula: the DuckDB oracles
# embed it and the Spark side evaluates the same text with F.expr /
# selectExpr, so both engines run one IEEE expression tree. A bare
# decimal literal (1.0) parses as DECIMAL in Spark SQL; these texts use
# one only where it meets a DOUBLE operand.


def _gini_key_sql(n0: str, p0: str, nb: str, pb: str) -> str:
    """Branch-offset Gini split key at a candidate threshold: the
    branch starts at absolute cums (n0, p0) and holds (nb, pb). Exact
    integer counts cast once to DOUBLE."""
    nl = f"CAST(cum_n - {n0} AS DOUBLE)"
    pl = f"CAST(cum_p - {p0} AS DOUBLE)"
    nr = f"CAST({nb} - (cum_n - {n0}) AS DOUBLE)"
    pr = f"CAST({pb} - (cum_p - {p0}) AS DOUBLE)"
    return (
        f"({nl} - ({pl} * {pl} + ({nl} - {pl}) * ({nl} - {pl})) / {nl}) "
        f"+ ({nr} - ({pr} * {pr} + ({nr} - {pr}) * ({nr} - {pr})) / {nr})"
    )


def _gini_base_sql(nb: str, pb: str) -> str:
    p_ = f"(CAST({pb} AS DOUBLE) / {nb})"
    q_ = f"(CAST({nb} - {pb} AS DOUBLE) / {nb})"
    return f"(1.0 - {p_} * {p_} - {q_} * {q_})"


def _wgini_sql(lp: str, ln: str, P: str, N: str) -> str:
    """Weighted Gini split key: left weighted (pos, neg) = (lp, ln)
    against branch weighted totals (P, N). Exact integer arithmetic up
    to ONE cast per factor, then a fixed double expression."""
    nl = f"CAST({lp} + {ln} AS DOUBLE)"
    pl = f"CAST({lp} AS DOUBLE)"
    nr = f"CAST(({P} + {N}) - (({lp}) + ({ln})) AS DOUBLE)"
    pr = f"CAST(({P}) - ({lp}) AS DOUBLE)"
    return (
        f"({nl} - ({pl} * {pl} + ({nl} - {pl}) * ({nl} - {pl})) / {nl}) "
        f"+ ({nr} - ({pr} * {pr} + ({nr} - {pr}) * ({nr} - {pr})) / {nr})"
    )


def _split_cols_sql(nl: str, pl: str, nb: str, pb: str) -> list[str]:
    """A Gini split's published select items from its left (n, pos)
    ``nl``, ``pl``, its branch's (n, pos) ``nb``, ``pb`` and the split
    key column ``key``: branch counts, then 6-dp impurity scalars."""
    gb = _gini_base_sql(nb, pb)
    return [
        f"CAST({nl} AS BIGINT) AS n_left",
        f"CAST({pl} AS BIGINT) AS pos_left",
        f"CAST({nb} - ({nl}) AS BIGINT) AS n_right",
        f"CAST({pb} - ({pl}) AS BIGINT) AS pos_right",
        sql_round(f"(key) / {nb}", 6) + " AS gini_split",
        sql_round(gb, 6) + " AS gini_base",
        sql_round(f"{gb} - (key) / {nb}", 6) + " AS gain",
    ]


def _union_all(frames) -> DataFrame:
    """The ``frames``' rows, unioned in order."""
    return reduce(lambda a, b: a.unionAll(b), frames)


# a fold's exact (cnt, pos) class counts per group
_COUNT_ITEMS = ("CAST(COUNT(*) AS BIGINT) AS cnt", "CAST(SUM(label) AS BIGINT) AS pos")
_COUNTS_SQL = ", ".join(_COUNT_ITEMS)


# the oracle form of _tree_cum over the scored rows s: per-score counts
# g, totals t (n, p) and prefix sums c (cum_n, cum_p)
_TREE_CUM_SQL = (
    f"WITH s AS ({SCORED_SQL}), "
    f"g AS (SELECT score, {_COUNTS_SQL} FROM s GROUP BY score), "
    "t AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS n, "
    "CAST(SUM(pos) AS BIGINT) AS p FROM g), "
    "c AS MATERIALIZED (SELECT score, "
    "CAST(SUM(cnt) OVER (ORDER BY score) AS BIGINT) AS cum_n, "
    "CAST(SUM(pos) OVER (ORDER BY score) AS BIGINT) AS cum_p FROM g)"
)


# ---------------------------------------------------------------------------
# Decision-stump training (round 9 batch 4): EXACT optimal Gini split
# on the published model score — the one training operator with a full
# DuckDB oracle (every other training op is rows-only by nature; a
# stump's split search is a deterministic aggregate, so it hashes).
# ---------------------------------------------------------------------------


@query(
    "q_stump",
    oracle=(
        f"{_TREE_CUM_SQL}, "
        "k AS (SELECT score, cum_n, cum_p, n, p, "
        + _gini_key_sql("0", "0", "n", "p")
        + " AS key FROM c, t WHERE cum_n < n), "
        "b AS (SELECT * FROM k ORDER BY key, score LIMIT 1) "
        "SELECT score AS threshold, "
        + ", ".join(_split_cols_sql("cum_n", "cum_p", "n", "p"))
        + " FROM b"
    ),
    tags=("ml", "train", "split"),
)
def q_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a depth-1 decision tree (stump) on the published model
    score by EXACT Gini split search: for every candidate threshold t
    (left leaf: score ≤ t), the weighted Gini impurity of the induced
    partition, minimized with a (impurity, threshold) deterministic
    tiebreak. The one TRAINING operator with a full DuckDB oracle —
    split search is a deterministic aggregate over exact counts, so it
    hash-verifies where fit()-style ops (q_train_auc, q_smote) are
    rows-only by nature. Doubles as exact operating-point selection:
    the threshold that best separates the classes in Gini terms.
    Ref: the reference tunes its RandomForest stumps upward from this
    primitive (train_model.py:57-66); sklearn's best-split scan is
    this exact computation per feature.

    Exactness: scores are pre-rounded to 6 dp (the scored() contract),
    so candidate thresholds are the ≤1e6-row distinct-score table;
    per-threshold (n≤, pos≤) are exact integer prefix sums, and the
    split key N·G(t) = Σ_side [n_s − (p_s² + (n_s−p_s)²)/n_s] is the
    same IEEE-double expression on both engines over those exact
    integers (identical bits, so the ORDER BY key, score argmin is
    engine-identical; dividing by the constant N is order-preserving
    and deferred to display). p_s² exceeds double's exact-integer
    range only past n ≈ 9.4e7 positives — beyond that both engines
    still compute identical doubles (same inputs, same ops), so the
    argmin stays parity-safe; document-scale drift of the DISPLAYED
    6-dp gini would need n ≈ 1e9+.

    Scale: tree_cum_table's lazy kernel (_tree_cum: one
    map-side-combinable (score → cnt, pos) fold bounded by the 6-dp
    score domain, NOT row count, and its prefix sums) and a top-1
    ordered take. One shuffle agg + bounded-table ops."""
    c = _tree_cum(scored(spark, sf_dir)).filter("cum_n < n")
    best = (
        c.withColumn("key", F.expr(_gini_key_sql("0", "0", "n", "p")))
        .orderBy("key", "score")
        .limit(1)
    )
    return best.selectExpr(
        "score AS threshold", *_split_cols_sql("cum_n", "cum_p", "n", "p")
    )


# ---------------------------------------------------------------------------
# Boosted stumps (round 10, VERDICT r9 #5a): 3 rounds of EXACT
# AdaBoost over q_stump's bounded distinct-score machinery — the
# oracle-checked TRAINING frontier q_stump opened, extended to the
# reference's actual shape (an additive ensemble of axis splits,
# train_model.py:69-80), still hash-verifiable because every weighted
# error is an exact integer.
# ---------------------------------------------------------------------------

_BOOST_ROUNDS = 3


# AdaBoost round pieces, one text per formula, shared by every
# q_boosted_* trainer and its oracle: alpha, the model row (leaf signs,
# error, next-round multipliers), the ensemble-accuracy fold and the
# published round row.


def _ada_alpha_sql(e: str, d: str) -> str:
    """alpha = 0.5·ln((d − e)/e) for weighted error e out of d. A
    perfect learner (e = 0) gets NULL, as DuckDB's x/0 does, instead of
    ANSI's DIVIDE_BY_ZERO."""
    return (
        f"(0.5 * LN(CAST({d} - {e} AS DOUBLE) / "
        f"CAST(NULLIF({e}, 0) AS DOUBLE)))"
    )


def _ada_model_sql(
    leaves, d: str, r: int, t: str, wide: str | None = None
) -> list[list[str]]:
    """Round ``r``'s AdaBoost model columns as the select items of one
    or two stacked projections, given the exact per-leaf weighted
    (pos, neg) ``leaves`` and denominator ``d``: leaf signs pr{r}_{i}
    (weighted majority, ties negative) and error e{r} (the minority
    weight summed over leaves) and d{r}, typed ``t``. With ``wide``, the
    exact-integer type (DECIMAL(38,0) on Spark, HUGEINT on DuckDB), a
    second projection adds the next round's rational reweighting:
    per-leaf multipliers mp{i}/mn{i} for positive/negative rows (a
    correctly classified row x e, a misclassified one x d − e) and the
    reweighted totals wpt/wnt."""
    model = [
        f"CASE WHEN {p} > {n} THEN 1 ELSE -1 END AS pr{r}_{i}"
        for i, (p, n) in enumerate(leaves)
    ] + [
        "CAST("
        + " + ".join(f"CASE WHEN {p} > {n} THEN {n} ELSE {p} END" for p, n in leaves)
        + f" AS {t}) AS e{r}",
        f"CAST({d} AS {t}) AS d{r}",
    ]
    if wide is None:
        return [model]

    def mult(i: int, sign: int) -> str:
        return (
            f"CAST(CASE WHEN pr{r}_{i} = {sign} THEN e{r} "
            f"ELSE d{r} - e{r} END AS {wide})"
        )

    n_leaves = range(len(leaves))
    return [
        model,
        [f"{mult(i, 1)} AS mp{i}" for i in n_leaves]
        + [f"{mult(i, -1)} AS mn{i}" for i in n_leaves]
        + [
            " + ".join(
                f"CAST({p} AS {wide}) * {mult(i, 1)}"
                for i, (p, _) in enumerate(leaves)
            )
            + " AS wpt",
            " + ".join(
                f"CAST({n} AS {wide}) * {mult(i, -1)}"
                for i, (_, n) in enumerate(leaves)
            )
            + " AS wnt",
        ],
    ]


def _ada_model(df: DataFrame, leaves, d: str, r: int, t: str, wide=None):
    """``df`` plus round ``r``'s _ada_model_sql columns."""
    for cols in _ada_model_sql(leaves, d, r, t, wide):
        df = df.selectExpr("*", *cols)
    return df


def _ada_model_oracle(src: str, leaves, d: str, r: int, t: str, wide=None):
    """Round ``r``'s _ada_model_sql columns over the FROM list ``src``."""
    first, *rest = _ada_model_sql(leaves, d, r, t, wide)
    q = f"SELECT *, {', '.join(first)} FROM {src}"
    for cols in rest:
        q = f"SELECT *, {', '.join(cols)} FROM ({q})"
    return q


def _ada_acc_sql(terms, cnt: str = "cnt", pos: str = "pos") -> list[str]:
    """The ensemble-accuracy fold's select items over (cnt, pos) cells:
    nn = rows, and per round prefix r the rows u{r} whose margin
    Σ_{j<=r} alpha_j·h_j has the label's sign (margin > 0 predicts
    positive). ``terms`` holds (alpha_j, h_j) per round; the margin sign
    inherits the LN house 1-ulp risk documented on q_boosted_stumps."""
    out = [f"CAST(SUM({cnt}) AS BIGINT) AS nn"]
    margin = ""
    for r, (a, h) in enumerate(terms, 1):
        margin += (" + " if margin else "") + f"{a} * {h}"
        out.append(
            f"CAST(SUM(CASE WHEN {margin} > 0 THEN {pos} "
            f"ELSE {cnt} - {pos} END) AS BIGINT) AS u{r}"
        )
    return out


def _ada_round_sql(r: int, sfx: str = "") -> list[str]:
    """Round ``r``'s published scalars from e{r}, d{r}, u{r} and nn:
    weighted error, alpha and ensemble train accuracy, 6-dp."""
    return [
        sql_round(f"CAST(e{r} AS DOUBLE) / CAST(d{r} AS DOUBLE)", 6)
        + f" AS w_err{sfx}",
        sql_round(_ada_alpha_sql(f"e{r}", f"d{r}"), 6) + f" AS alpha{sfx}",
        sql_round(f"CAST(u{r} AS DOUBLE) / CAST(nn AS DOUBLE)", 6)
        + f" AS acc{sfx}",
    ]


def _stump_pol_sql(u: str, d: str) -> str:
    """+1 when the stump voting +1 right of its threshold errs by
    weight ``u`` <= its flip's ``d`` − ``u``, else −1."""
    return f"CASE WHEN {u} <= {d} - ({u}) THEN 1 ELSE -1 END"


def _stump_err_sql(u: str, d: str) -> str:
    """The weighted error of the better polarity."""
    return f"LEAST({u}, {d} - ({u}))"


def _boost_terms() -> list[tuple[str, str]]:
    """q_boosted_stumps' (alpha_j, h_j) per round over the per-score
    rows p: stump j votes pol_j right of t_j and −pol_j at or left."""
    return [
        (
            _ada_alpha_sql(f"e{j}", f"d{j}"),
            f"(CASE WHEN p.score > t{j} THEN pol{j} ELSE -pol{j} END)",
        )
        for j in range(1, _BOOST_ROUNDS + 1)
    ]


def _boost_oracle() -> str:
    """DuckDB twin of the fixed-3-round exact AdaBoost. The key trick:
    AdaBoost's reweighting w <- w * exp(+-alpha) / Z is RATIONAL when
    tracked as integer numerators — after round j a point's weight
    numerator multiplies by (d_j - e_j) if misclassified else e_j
    (e_j = round-j weighted error units, d_j = that round's
    denominator), so every candidate stump's weighted error is an
    exact HUGEINT and the per-round argmin is engine-identical. Floats
    appear only in the displayed error/alpha/accuracy scalars and the
    ensemble margin sign (the margin sums alpha·h terms with
    alpha = 0.5·LN(...), so the sign inherits the LN house 1-ulp
    risk — see the query docstring)."""
    R = _BOOST_ROUNDS
    # the +1-right stump's weighted error u out of the round's total d
    u, d = "cwp + (wnt - cwn)", "(wpt + wnt)"
    parts = [
        f"WITH s AS ({SCORED_SQL}), ",
        f"per AS MATERIALIZED (SELECT score, {_COUNTS_SQL} FROM s GROUP BY score), ",
        "t AS MATERIALIZED (SELECT MAX(score) AS smax FROM per), ",
    ]
    for r in range(1, R + 1):
        if r == 1:
            parts.append(
                "w1 AS MATERIALIZED (SELECT score, "
                "CAST(pos AS HUGEINT) AS wp, "
                "CAST(cnt - pos AS HUGEINT) AS wn FROM per), "
            )
        else:
            fp = " * ".join(
                f"(CASE WHEN (pol{j} = 1) = (p.score <= t{j}) "
                f"THEN d{j} - e{j} ELSE e{j} END)"
                for j in range(1, r)
            )
            fn = " * ".join(
                f"(CASE WHEN (pol{j} = 1) = (p.score > t{j}) "
                f"THEN d{j} - e{j} ELSE e{j} END)"
                for j in range(1, r)
            )
            srcs = ", ".join(f"b{j}" for j in range(1, r))
            parts.append(
                f"w{r} AS MATERIALIZED (SELECT p.score, "
                f"CAST(p.pos AS HUGEINT) * {fp} AS wp, "
                f"CAST(p.cnt - p.pos AS HUGEINT) * {fn} AS wn "
                f"FROM per p, {srcs}), "
            )
        parts.append(
            f"c{r} AS (SELECT score, "
            f"SUM(wp) OVER (ORDER BY score) AS cwp, "
            f"SUM(wn) OVER (ORDER BY score) AS cwn FROM w{r}), "
            f"tw{r} AS (SELECT CAST(SUM(wp) AS HUGEINT) AS wpt, "
            f"CAST(SUM(wn) AS HUGEINT) AS wnt FROM w{r}), "
            f"b{r} AS MATERIALIZED (SELECT score AS t{r}, "
            f"{_stump_pol_sql(u, d)} AS pol{r}, {_stump_err_sql(u, d)} "
            f"AS e{r}, wpt + wnt AS d{r} "
            f"FROM c{r}, tw{r}, t WHERE score < smax "
            f"ORDER BY e{r}, t{r} LIMIT 1), "
        )

    allb = ", ".join(f"b{j}" for j in range(1, R + 1))
    acc = ", ".join(_ada_acc_sql(_boost_terms(), "p.cnt", "p.pos"))
    parts.append(f"acc AS (SELECT {acc} FROM per p, {allb}) ")
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS round, t{r} AS threshold, "
        f"CAST(pol{r} AS BIGINT) AS polarity, {', '.join(_ada_round_sql(r))} "
        f"FROM {allb}, acc"
        for r in range(1, R + 1)
    )
    return "".join(parts) + selects


@query(
    "q_boosted_stumps",
    oracle=_boost_oracle(),
    tags=("ml", "train", "boost"),
    eager=True,
)
def q_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 3-round AdaBoost ensemble of decision stumps on the
    published model score by EXACT weighted split search — the
    additive-ensemble extension of q_stump and the closest
    oracle-checked analog of the reference's tree-ensemble training
    loop (train_model.py:69-80). Each round emits (threshold,
    polarity, weighted error, alpha, ensemble train accuracy).

    Exactness: AdaBoost's multiplicative reweighting stays RATIONAL —
    after round j every point's weight numerator multiplies by
    (d_j − e_j) if misclassified else e_j, so round-r candidate
    errors are exact DECIMAL(38,0)/HUGEINT integers (numerators grow
    like n^(2r-1): within 38 digits through round 3 for n up to
    ~1.5e9 rows; PAST that the engines diverge in failure mode —
    DuckDB's HUGEINT overflow raises while non-ANSI Spark would
    silently NULL the products, so _pick_stump NULL-propagates an
    overflowed candidate's e: ascending ORDER BY puts NULLS FIRST so
    that candidate is guaranteed to be the picked row, and a
    raise_error on the picked 1-ROW table fails loudly on the Spark
    side too — without re-evaluating the u/d product-sum trees per
    candidate, which the r12 per-candidate guard did at a measured
    2x wall cost, VERDICT r12 #1). The per-round
    argmin ORDER BY (e, score) compares exact integers; floats appear
    in the displayed scalars AND the ensemble-margin sign — the
    margin is Σ alpha_j·h_j with alpha = 0.5·LN(...), so its sign
    inherits the q_lr/q_chi2 LN house 1-ulp library risk (a score
    group whose margin lands within ~1 ulp of 0 could flip acc by
    cnt/nn between engines; displayed scalars round at 6 dp).

    Scale: ONE fact fold to the distinct-score table (bounded by the
    6-dp score domain) and ONE raw prefix-count pass over it
    (prefix_sums), checkpointed once.
    Every round's WEIGHTED prefix sums are then CLOSED FORMS over the
    raw counts: the weight of a point after round j is piecewise
    constant with a breakpoint at t_j, so cum_w(t) is a linear
    combination of cp(t)/cn(t) and the scalars cp(t_j)/cn(t_j) carried
    on the chosen-stump row — each round costs one scan of the
    checkpointed cum table + a TakeOrdered(1), zero additional
    shuffles (the first cut re-ran the bucket-offset window machinery
    per round: 7.9 s warm at sf0.1; this form reads 3.0-4.4 s warm
    isolated — the residual is the fact fold + the one checkpointed
    cum pass, not per-round work). One more
    scan folds the three ensemble accuracies. Eager by construction
    (the checkpointed stump chain); the registry eager contract
    applies."""
    s = scored(spark, sf_dir)
    per = s.groupBy("score").agg(*map(F.expr, _COUNT_ITEMS))

    # raw prefix counts over score — computed ONCE
    cum0 = (
        prefix_sums(
            per, F.floor(F.col("score") * 1000).cast("bigint"), "score",
            [("cnt", "cum_n"), ("pos", "cp")],
        )
        .selectExpr("score", "cnt", "pos", "cp", "cum_n - cp AS cn")
        .localCheckpoint()
    )
    tot = cum0.selectExpr(
        "MAX(score) AS smax", "MAX(cp) AS tp", "MAX(cn) AS tn"
    ).localCheckpoint()
    cand0 = cum0.crossJoin(F.broadcast(tot)).filter("score < smax")
    dec = "decimal(38,0)"

    def _pick_stump(cands, u, d, r: int):
        # fail LOUDLY if the DECIMAL(38,0) weight numerators overflow
        # (non-ANSI Spark silently NULLs them, and DuckDB's HUGEINT
        # overflow raises; ADVICE r10 #2). Guard the INPUTS, not the
        # least() result: least() skips NULL operands, so a NULLed d
        # with a representable u would otherwise fall through as e = u
        # and pol = -1 silently (ADVICE r11 #1). Cost discipline
        # (VERDICT r12 #1): the r12 form wrapped every candidate's
        # e/pol in F.when(bad, raise_error(...)), which re-evaluated
        # the full u/d product-sum trees ~4x per candidate row and
        # doubled the query's wall (5.3 -> 10.1 s driver). Instead:
        # (1) materialize u/d ONCE per candidate behind an alias
        # boundary (CollapseProject won't inline a non-cheap alias
        # referenced multiple times, so each evaluates once);
        # (2) NULL-PROPAGATE e on any overflow — ascending ORDER BY
        # puts NULLS FIRST, so an overflowed candidate is guaranteed
        # to BE the picked row; (3) raise_error fires on the picked
        # 1-row table only — equally loud, zero per-candidate cost.
        # Inside the documented n^(2r-1) < 10^38 headroom the NULL
        # branch never materializes.
        pre = cands.select(
            F.col("score"),
            F.col("cp"),
            F.col("cn"),
            u.cast(dec).alias("_u"),
            d.cast(dec).alias("_d"),
        )
        picked = (
            pre.selectExpr(
                f"score AS t{r}",
                f"{_stump_pol_sql('_u', '_d')} AS pol{r}",
                "CASE WHEN _u IS NULL OR _d IS NULL THEN NULL "
                f"ELSE {_stump_err_sql('_u', '_d')} END AS e{r}",
                f"_d AS d{r}",
                f"cp AS cp{r}",
                f"cn AS cn{r}",
            )
            # explicit NULLS FIRST: the loud-failure invariant (an
            # overflowed NULL-e candidate must BE the picked row, so
            # the raise_error below fires) is stated in code rather
            # than inherited from ascending-order defaults
            # (ADVICE r13 #4)
            .orderBy(F.asc_nulls_first(f"e{r}"), F.asc(f"t{r}"))
            .limit(1)
        )
        overflow = F.raise_error(
            F.lit(
                "q_boosted_stumps: DECIMAL(38,0) weight-numerator "
                "overflow — exactness headroom exhausted"
            )
        ).cast(dec)
        guarded = picked.withColumn(
            f"e{r}",
            F.when(F.col(f"e{r}").isNull(), overflow).otherwise(
                F.col(f"e{r}")
            ),
        )
        return guarded.localCheckpoint()

    def ab(j: int):
        up = F.col(f"d{j}") - F.col(f"e{j}")
        A = F.when(F.col(f"pol{j}") == 1, up).otherwise(F.col(f"e{j}"))
        B = F.when(F.col(f"pol{j}") == 1, F.col(f"e{j}")).otherwise(up)
        return A, B

    # round 1: uniform weights — the raw counts ARE the weighted cums
    u1 = (F.col("cp") + (F.col("tn") - F.col("cn"))).cast(dec)
    d1 = (F.col("tp") + F.col("tn")).cast(dec)
    b1 = _pick_stump(cand0, u1, d1, 1)

    # round 2: one breakpoint t1 — cum_w(t) is linear in cp(t)/cn(t)
    # with the scalars cp(t1)/cn(t1) carried on b1
    c2 = cand0.crossJoin(F.broadcast(b1))
    A1, B1 = ab(1)
    le1 = F.col("score") <= F.col("t1")
    cpm1 = F.when(le1, F.col("cp")).otherwise(F.col("cp1"))
    cnm1 = F.when(le1, F.col("cn")).otherwise(F.col("cn1"))
    cwp2 = A1 * cpm1 + B1 * (F.col("cp") - cpm1)
    cwn2 = B1 * cnm1 + A1 * (F.col("cn") - cnm1)
    WP2 = A1 * F.col("cp1") + B1 * (F.col("tp") - F.col("cp1"))
    WN2 = B1 * F.col("cn1") + A1 * (F.col("tn") - F.col("cn1"))
    u2 = (cwp2 + (WN2 - cwn2)).cast(dec)
    d2 = (WP2 + WN2).cast(dec)
    b2 = _pick_stump(c2, u2, d2, 2)

    # round 3: two breakpoints — inclusion-exclusion over the
    # (s<=t1, s<=t2) quadrants, coefficients A/B products
    c3 = cand0.crossJoin(F.broadcast(b1)).crossJoin(F.broadcast(b2))
    A2, B2 = ab(2)
    le2 = F.col("score") <= F.col("t2")
    t1le2 = F.col("t1") <= F.col("t2")
    cpm2 = F.when(le2, F.col("cp")).otherwise(F.col("cp2"))
    cnm2 = F.when(le2, F.col("cn")).otherwise(F.col("cn2"))
    cp12 = F.when(t1le2, F.col("cp1")).otherwise(F.col("cp2"))
    cn12 = F.when(t1le2, F.col("cn1")).otherwise(F.col("cn2"))
    cpm12 = F.when(le1 & le2, F.col("cp")).otherwise(cp12)
    cnm12 = F.when(le1 & le2, F.col("cn")).otherwise(cn12)
    cwp3 = (
        A1 * A2 * cpm12
        + A1 * B2 * (cpm1 - cpm12)
        + B1 * A2 * (cpm2 - cpm12)
        + B1 * B2 * (F.col("cp") - cpm1 - cpm2 + cpm12)
    )
    cwn3 = (
        B1 * B2 * cnm12
        + B1 * A2 * (cnm1 - cnm12)
        + A1 * B2 * (cnm2 - cnm12)
        + A1 * A2 * (F.col("cn") - cnm1 - cnm2 + cnm12)
    )
    WP3 = (
        A1 * A2 * cp12
        + A1 * B2 * (F.col("cp1") - cp12)
        + B1 * A2 * (F.col("cp2") - cp12)
        + B1 * B2 * (F.col("tp") - F.col("cp1") - F.col("cp2") + cp12)
    )
    WN3 = (
        B1 * B2 * cn12
        + B1 * A2 * (F.col("cn1") - cn12)
        + A1 * B2 * (F.col("cn2") - cn12)
        + A1 * A2 * (F.col("tn") - F.col("cn1") - F.col("cn2") + cn12)
    )
    u3 = (cwp3 + (WN3 - cwn3)).cast(dec)
    d3 = (WP3 + WN3).cast(dec)
    b3 = _pick_stump(c3, u3, d3, 3)

    bests = [b1, b2, b3]
    wide = cum0
    for bb in bests:
        wide = wide.crossJoin(F.broadcast(bb))

    accrow = wide.alias("p").selectExpr(
        *_ada_acc_sql(_boost_terms(), "p.cnt", "p.pos")
    )

    out = accrow
    for bb in bests:
        out = out.crossJoin(F.broadcast(bb))
    wide2 = out.selectExpr(
        *[f"t{r}" for r in range(1, _BOOST_ROUNDS + 1)],
        *[f"pol{r}" for r in range(1, _BOOST_ROUNDS + 1)],
        *[c for r in range(1, _BOOST_ROUNDS + 1) for c in _ada_round_sql(r, str(r))],
    )
    stack_args = ", ".join(
        f"cast({r} as int), t{r}, cast(pol{r} as bigint), "
        f"w_err{r}, alpha{r}, acc{r}"
        for r in range(1, _BOOST_ROUNDS + 1)
    )
    return wide2.select(
        F.expr(
            f"stack({_BOOST_ROUNDS}, {stack_args}) "
            "AS (round, threshold, polarity, w_err, alpha, acc)"
        )
    )


# ---------------------------------------------------------------------------
# Closed-form ridge regression (round 10 batch 4): the second
# oracle-checked TRAINING operator family next to the stump/boosting
# split search — an actual fitted linear model (weights + training
# RMSE), hash-exact because the normal equations are a fixed Cramer
# expression over exact integer moments and BOTH engines evaluate the
# SAME expression text.
# ---------------------------------------------------------------------------

_RIDGE_LAMBDA = 1.0


def _ridge_exprs() -> dict[str, str]:
    """Shared expression text for the 3x3 ridge solve — used verbatim
    by Spark (selectExpr) and DuckDB (oracle SQL), so every double op
    is the identical IEEE expression tree on both engines. Inputs are
    the integer moment columns (n, squ, sdu, syc, squ2, squdu, sdu2,
    squy, sduy) in 1e-4 fixed-point regressor units / cent response
    units; the design variables are x1 = quantity, x2 = discount,
    y = extendedprice / 1e5 (the scored() feature scaling)."""
    lam = repr(_RIDGE_LAMBDA)
    a = {
        "A11": "CAST(n AS DOUBLE)",
        "A12": "CAST(squ AS DOUBLE) / 10000",
        "A13": "CAST(sdu AS DOUBLE) / 10000",
        "A22": f"(CAST(squ2 AS DOUBLE) / 100000000 + {lam})",
        "A23": "CAST(squdu AS DOUBLE) / 100000000",
        "A33": f"(CAST(sdu2 AS DOUBLE) / 100000000 + {lam})",
        "b1": "CAST(syc AS DOUBLE) / 10000000",
        "b2": "CAST(squy AS DOUBLE) / 100000000000",
        "b3": "CAST(sduy AS DOUBLE) / 100000000000",
    }

    def det(c1, c2, c3):
        # 3x3 determinant of columns c1,c2,c3 (each a (r1,r2,r3) tuple
        # of expression names), expanded along the first row — fixed
        # association order on both engines
        return (
            f"({a[c1[0]]} * ({a[c2[1]]} * {a[c3[2]]} - {a[c2[2]]} * {a[c3[1]]}) "
            f"- {a[c2[0]]} * ({a[c1[1]]} * {a[c3[2]]} - {a[c1[2]]} * {a[c3[1]]}) "
            f"+ {a[c3[0]]} * ({a[c1[1]]} * {a[c2[2]]} - {a[c1[2]]} * {a[c2[1]]}))"
        )

    A1 = ("A11", "A12", "A13")  # symmetric matrix columns
    A2 = ("A12", "A22", "A23")
    A3 = ("A13", "A23", "A33")
    B = ("b1", "b2", "b3")
    d = det(A1, A2, A3)
    return {
        "w0": f"{det(B, A2, A3)} / {d}",
        "w1": f"{det(A1, B, A3)} / {d}",
        "w2": f"{det(A1, A2, B)} / {d}",
    }


# per-row fixed-point units: 1e-4 regressor units, cent response units
_RIDGE_UNITS = {
    "qu": "CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT)",
    "du": "CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT)",
    "yc": "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)",
}
# the moment sums: name -> the unit products summed
_RIDGE_MOMENTS = {
    "squ": ("qu",), "sdu": ("du",), "syc": ("yc",),
    "squ2": ("qu", "qu"), "squdu": ("qu", "du"), "sdu2": ("du", "du"),
    "squy": ("qu", "yc"), "sduy": ("du", "yc"),
}
# a row's residual against the broadcast solution (w0, w1, w2)
_RIDGE_RESID_SQL = (
    "(l_extendedprice / 100000.0 - (w0 + w1 * l_quantity + w2 * l_discount))"
)
# per-row squared residual in 1e-6 fixed point (resid*resid, NOT
# pow(resid, 2): POWER is not guaranteed correctly rounded and could
# drift 1 ulp between engines at a fixed-point floor boundary — the
# ADVICE r9 #1 class)
_RIDGE_SQ_SQL = (
    f"CAST(FLOOR({_RIDGE_RESID_SQL} * {_RIDGE_RESID_SQL} * 1000000 + 0.5) "
    "AS BIGINT)"
)
_RIDGE_OUT_ITEMS = [
    "n",
    sql_round("w0", 6) + " AS w0",
    sql_round("w1", 6) + " AS w_qty",
    sql_round("w2", 6) + " AS w_disc",
    sql_round("SQRT(CAST(ssr AS DOUBLE) / 1000000 / n)", 6) + " AS rmse",
]


def _ridge_sums_sql(wide: str) -> list[str]:
    """The fact fold's items: n and the exact moment sums, accumulated
    in the integer type ``wide``."""
    u, items = _RIDGE_UNITS, ["CAST(COUNT(*) AS BIGINT) AS n"]
    for name, (x, *ys) in _RIDGE_MOMENTS.items():
        prod = " * ".join([f"CAST({u[x]} AS {wide})", *(u[y] for y in ys)])
        items.append(f"CAST(SUM({prod}) AS {wide}) AS {name}")
    return items


def _ridge_solve_sql() -> list[str]:
    """The solve's items over the moment row: n and the weights."""
    e = _ridge_exprs()
    return ["n"] + [f"{e[w]} AS {w}" for w in ("w0", "w1", "w2")]


def _ridge_oracle() -> str:
    return (
        f"WITH m AS MATERIALIZED (SELECT {', '.join(_ridge_sums_sql('HUGEINT'))} "
        "FROM lineitem), "
        f"w AS MATERIALIZED (SELECT {', '.join(_ridge_solve_sql())} FROM m), "
        "r AS (SELECT n, w0, w1, w2, "
        f"CAST(SUM({_RIDGE_SQ_SQL}) AS HUGEINT) AS ssr "
        "FROM lineitem, w GROUP BY n, w0, w1, w2) "
        f"SELECT {', '.join(_RIDGE_OUT_ITEMS)} FROM r"
    )


@query(
    "q_ridge",
    oracle=_ridge_oracle(),
    tags=("ml", "train", "regression"),
)
def q_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression (lambda=1, intercept unpenalized):
    fit extendedprice/1e5 ~ quantity + discount by solving the 3x3
    normal equations exactly, and report the fitted weights plus the
    training RMSE — a real TRAINED model with a full DuckDB oracle,
    extending the oracle-checked training frontier (q_stump,
    q_boosted_stumps) from split search to continuous-response
    fitting. Ref: the reference's sklearn models fit on exactly these
    engineered columns (train_model.py:31-33).

    Exactness: every moment (n, Σx, Σx², Σxy, ...) is an exact integer
    sum of 1e-4 fixed-point regressor units / cent response units in
    DECIMAL(38,0)/HUGEINT; the Cramer solve is ONE shared expression
    TEXT (_ridge_exprs) evaluated by Spark selectExpr and DuckDB
    alike, so every double op is the identical IEEE tree and the
    weights are bit-equal; the RMSE pass folds per-row squared
    residuals (identical doubles) to 1e-6 fixed point before the sum.

    Scale: two map-side-combinable fact folds — one for the moment
    matrix, one for residuals against the broadcast 1-row solution.
    No shuffle beyond the two 1-row aggregates, no window, no UDF;
    the solve itself is driver-free column arithmetic on a single
    row. The classic scale story for linear training: the data never
    moves, only the 3x3 moment matrix does."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "DECIMAL(38,0)"
    w = li.selectExpr(*_ridge_sums_sql(dec)).selectExpr(*_ridge_solve_sql())
    r = (
        li.crossJoin(F.broadcast(w))
        .groupBy("n", "w0", "w1", "w2")
        .agg(F.expr(f"CAST(SUM(CAST({_RIDGE_SQ_SQL} AS {dec})) AS {dec})").alias("ssr"))
    )
    return r.selectExpr(*_RIDGE_OUT_ITEMS)


# ---------------------------------------------------------------------------
# Exact Gini tree machinery: the bounded distinct-score prefix table and
# the branch-offset split key every Gini tree rung (q_tree2, q_tree3,
# q_tree5, q_boosted_tree2) searches — toward the reference's depth-5
# trees (train_model.py:69-80).
# ---------------------------------------------------------------------------


def _tree_cum_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE fact fold to the distinct-score table (bounded by the 6-dp
    score domain) + ONE prefix-count pass over it, checkpointed once.
    Shared by the Gini tree ladder: every level's argmin at any depth
    is a bounded scan of this table."""
    return tree_cum_table(scored(spark, sf_dir))


def _tree_cum(s: DataFrame) -> DataFrame:
    """Per distinct score of a (label, score) DataFrame: (cnt, pos),
    their prefix sums (cum_n, cum_p) and the totals (n, p). Lazy, for
    q_stump; tree_cum_table checkpoints it."""
    per = s.groupBy("score").agg(*map(F.expr, _COUNT_ITEMS))
    tot = per.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    # per-score counts ride along for consumers that fold over score
    # groups (q_boosted_tree2's accuracy pass); Catalyst prunes them
    # everywhere else
    return prefix_sums(
        per, F.floor(F.col("score") * 1000).cast("bigint"), "score",
        [("cnt", "cum_n"), ("pos", "cum_p")],
    ).crossJoin(F.broadcast(tot))


def tree_cum_table(s: DataFrame) -> DataFrame:
    """_tree_cum, checkpointed — module-level so the scale tests
    (tests/test_unit_table_scale.py) can drive it on a replicated fact
    set and assert the distinct-score table stays FIXED while fact
    rows grow."""
    return _tree_cum(s).localCheckpoint()


# ---------------------------------------------------------------------------
# q_delong — paired DeLong comparison of two scorers (VERDICT r11 #6a):
# the paired counterpart to q_auc, completing the paired battery
# q_mcnemar opened. Statistic only (z) — erf/p-values stay excluded
# from twin contracts (the q_cochran_armitage precedent).
# ---------------------------------------------------------------------------

# (label, sa, sb) over lineitem: the published model's 6-dp score sa
# and a weaker challenger's sb (coefficients -1.0, 0.05, 5.0, 0.3 —
# literals on both engines) to compare against it on the SAME rows
_SCORED2_ITEMS = [
    f"{LABEL_SQL} AS label",
    f"{SCORE_SQL} AS sa",
    sql_round(
        sql_sigmoid(
            "-1.0 + 0.05 * l_quantity + 5.0 * l_discount "
            "+ 0.3 * (l_extendedprice / 100000.0)"
        ),
        6,
    )
    + " AS sb",
]
_SCORED2_SQL = f"SELECT {', '.join(_SCORED2_ITEMS)} FROM lineitem"


def _delong_final_sql() -> dict[str, str]:
    """The DeLong scalar formulas as ONE shared expression text per
    output column, evaluated verbatim by BOTH engines over the 1-row
    exact-integer aggregate (np, nn, sua..svab) — the q_ridge
    shared-Cramer-text discipline, so every double op has identical
    structure and the results are bit-identical."""
    d = {c: f"CAST({c} AS DOUBLE)" for c in (
        "np", "nn", "sua", "suaa", "sub", "subb", "suab",
        "sva", "svaa", "svb", "svbb", "svab",
    )}
    # NULLIF: with a class absent (or a single positive/negative for
    # the variances) each term is NULL on both engines, not an ANSI
    # DIVIDE_BY_ZERO on the Spark side
    auc_a = f"({d['sua']} / NULLIF(2.0 * {d['nn']} * {d['np']}, 0))"
    auc_b = f"({d['sub']} / NULLIF(2.0 * {d['nn']} * {d['np']}, 0))"
    # sample-covariance combination S_AA + S_BB - 2*S_AB per class,
    # numerators as (n*Sxy - Sx*Sy) over exact integer sums
    d10 = (
        f"(({d['np']} * {d['suaa']} - {d['sua']} * {d['sua']} "
        f"+ {d['np']} * {d['subb']} - {d['sub']} * {d['sub']} "
        f"- 2.0 * ({d['np']} * {d['suab']} - {d['sua']} * {d['sub']})) "
        f"/ NULLIF({d['np']} * {d['np']} * ({d['np']} - 1.0) "
        f"* (2.0 * {d['nn']}) * (2.0 * {d['nn']}), 0))"
    )
    d01 = (
        f"(({d['nn']} * {d['svaa']} - {d['sva']} * {d['sva']} "
        f"+ {d['nn']} * {d['svbb']} - {d['svb']} * {d['svb']} "
        f"- 2.0 * ({d['nn']} * {d['svab']} - {d['sva']} * {d['svb']})) "
        f"/ NULLIF({d['nn']} * {d['nn']} * ({d['nn']} - 1.0) "
        f"* (2.0 * {d['np']}) * (2.0 * {d['np']}), 0))"
    )
    # The CASE clamps the tiny-negative cancellation case to 0 so SQRT
    # never sees a negative (DuckDB errors where Spark returns NaN).
    # It keeps a NULL sum NULL (GREATEST would skip it and read 0), so
    # a class with < 2 rows (a NULL variance term) gives NULL se and
    # z. The var = 0 case (identical scorers) emits NULL z explicitly
    # so both engines agree — bare division yields inf whose 6-dp
    # rounding diverges across engines (ADVICE r12 #3)
    var = (
        f"(CASE WHEN {d10} + {d01} < 0.0 THEN 0.0 "
        f"ELSE {d10} + {d01} END)"
    )
    return {
        "auc_a": auc_a,
        "auc_b": auc_b,
        "delta": f"({auc_a} - {auc_b})",
        "se": f"SQRT({var})",
        "z": (
            f"(CASE WHEN {var} = 0.0 THEN NULL "
            f"ELSE (({auc_a} - {auc_b}) / SQRT({var})) END)"
        ),
    }


# a distinct score's doubled DeLong units off its (pos, neg) counts,
# their prefix sums and the positives' total tp
_DELONG_UNIT_ITEMS = ("2 * cum_neg - neg AS uval", "2 * (tp - cum_pos) + pos AS vval")


def _delong_sums_sql(wide: str) -> list[str]:
    """The exact 1-row aggregate's items over (label, ua, va, ub, vb)
    rows: class counts np/nn, then per class (positives: u units,
    negatives: v units) the sums, squares and cross product of its
    two scorers' units, accumulated in the integer type ``wide``."""
    items = [
        "CAST(SUM(label) AS BIGINT) AS np",
        "CAST(COUNT(*) - SUM(label) AS BIGINT) AS nn",
    ]
    for lab, x in ((1, "u"), (0, "v")):
        for f in ("a", "aa", "b", "bb", "ab"):
            prod = " * ".join([f"CAST({x}{f[0]} AS {wide})", *(x + c for c in f[1:])])
            items.append(
                f"SUM(CASE WHEN label = {lab} THEN {prod} ELSE 0 END) AS s{x}{f}"
            )
    return items


def _delong_out_sql() -> list[str]:
    """q_delong's published items off the exact aggregate."""
    fin = _delong_final_sql()
    return ["np AS n_pos", "nn AS n_neg"] + [
        sql_round(fin[c], 6) + f" AS {c}"
        for c in ("auc_a", "auc_b", "delta", "se", "z")
    ]


def _delong_oracle() -> str:
    units = (
        f"SELECT s, {', '.join(_DELONG_UNIT_ITEMS)} FROM ("
        "SELECT {col} AS s, SUM(label) AS pos, "
        "COUNT(*) - SUM(label) AS neg, "
        "SUM(SUM(label)) OVER (ORDER BY {col}) AS cum_pos, "
        "SUM(COUNT(*) - SUM(label)) OVER (ORDER BY {col}) AS cum_neg "
        "FROM r GROUP BY {col}), tot"
    )
    return (
        f"WITH r AS MATERIALIZED ({_SCORED2_SQL}), "
        "tot AS MATERIALIZED (SELECT CAST(SUM(label) AS BIGINT) AS tp "
        "FROM r), "
        f"ta AS MATERIALIZED ({units.format(col='sa')}), "
        f"tb AS MATERIALIZED ({units.format(col='sb')}), "
        "j AS (SELECT r.label, ta.uval AS ua, ta.vval AS va, "
        "tb.uval AS ub, tb.vval AS vb "
        "FROM r JOIN ta ON r.sa = ta.s JOIN tb ON r.sb = tb.s), "
        f"agg AS MATERIALIZED (SELECT {', '.join(_delong_sums_sql('HUGEINT'))} "
        f"FROM j) SELECT {', '.join(_delong_out_sql())} FROM agg"
    )


def _rank_units(rows: DataFrame, scol: str) -> DataFrame:
    """Per distinct score of ``scol``: doubled DeLong structural-
    component units — uval = 2·(negatives strictly below) + (negative
    ties) for positive rows at that score, vval = 2·(positives
    strictly above) + (positive ties) for negative rows. Prefix sums
    by prefix_sums over the distinct-score table, bounded by the 6-dp
    domain regardless of input size."""
    per = rows.groupBy(scol).agg(
        F.sum("label").cast("bigint").alias("pos"),
        (F.count("*") - F.sum("label")).cast("bigint").alias("neg"),
    )
    tot = per.agg(F.sum("pos").cast("bigint").alias("tp"))
    return (
        prefix_sums(
            per, F.floor(F.col(scol) * 1000).cast("bigint"), scol,
            [("pos", "cum_pos"), ("neg", "cum_neg")],
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(f"{scol} AS s", *_DELONG_UNIT_ITEMS)
    )


@query(
    "q_delong",
    oracle=_delong_oracle(),
    tags=("ml", "stats", "eval"),
)
def q_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong paired comparison of two ROC-AUCs on the SAME rows: the
    published model (q_auc's scorer) vs a literal-coefficient
    challenger. Emits both AUCs, their difference, the DeLong standard
    error of the difference, and the z statistic — the test a model
    bake-off actually needs (two AUCs on the same eval set are highly
    correlated; unpaired comparison wildly overstates the variance).
    Statistic only, no p-value — erf stays outside the twin contract
    (q_cochran_armitage precedent). Ref: the reference's single-model
    roc_auc_score at train_model.py:83 / evaluate_model.py:50 has no
    challenger comparison; this is the evaluation-side completion of
    that metric, DeLong/Sun-Xu fast form.

    Exactness: with 6-dp scores, each positive row's structural
    component V10(i) = (#neg below + #neg ties/2)/nn is carried
    DOUBLED as the exact integer uval = 2·neg_below + neg_ties
    (likewise vval per negative row); all five per-class sums
    (Σu_A, Σu_A², Σu_B, Σu_B², Σu_A·u_B and the v twins) accumulate in
    DECIMAL(38,0)/HUGEINT, and the final AUC/variance/z scalars are
    ONE shared expression text evaluated over those exact integers on
    both engines (_delong_final_sql — the q_ridge discipline), so the
    z statistic is bit-identical. Per-row products fit BIGINT while
    2·max(nn,np) < 3e9 (true at every test SF; the Spark side is
    exact to DECIMAL(38,0) — the (2·n·N)² < 10³⁸ headroom holds to
    ~4-billion-row eval sets, far beyond any single eval split).

    Scale: two bounded distinct-score tables (6-dp domain, prefix
    sums by _rank_units — no global sort), two shuffle joins of the
    fact rows against those <=1e6-row tables on the score key, ONE
    map-side-combinable 12-expression aggregate. No window over fact
    rows, no driver collection."""
    r = load_table(spark, sf_dir, "lineitem").selectExpr(*_SCORED2_ITEMS)
    ta = _rank_units(r, "sa").select(
        F.col("s").alias("sa"), F.col("uval").alias("ua"), F.col("vval").alias("va")
    )
    tb = _rank_units(r, "sb").select(
        F.col("s").alias("sb"), F.col("uval").alias("ub"), F.col("vval").alias("vb")
    )
    # the unit tables are bounded by the 6-dp score domain (<=1e6+1
    # rows each, ~24 MB) REGARDLESS of fact size — broadcast them so
    # the fact rows are never shuffled at all: scan -> two broadcast
    # hash joins -> one map-side-combinable aggregate
    j = r.join(F.broadcast(ta), "sa").join(F.broadcast(tb), "sb")
    agg = j.selectExpr(*_delong_sums_sql("decimal(38,0)"))
    return agg.selectExpr(*_delong_out_sql())


# ---------------------------------------------------------------------------
# q_tree5 — depth-5 exact Gini tree, PER-LEVEL form (round 12): the
# reference's actual model depth (train_model.py:69-80 — XGBClassifier
# depth-5) reached on the oracle-checked training ladder. Each LEVEL
# is ONE broadcast interval-join of the checkpointed prefix table
# against the <=2^k live-branch rows + ONE per-branch argmin aggregate
# — depth d costs d bounded jobs (not 2^d - 1 per-node scans), the
# form that extends to any depth without job-count blow-up. q_tree2
# and q_tree3 are its depth-2 and depth-3 runs.
# ---------------------------------------------------------------------------

_TREE5_DEPTH = 5

# the root branch row off the totals (n, p): every score in (-1, 2)
_TREE5_ROOT_ITEMS = (
    "CAST(0 AS BIGINT) AS branch", "CAST(-1.0 AS DOUBLE) AS lo",
    "CAST(2.0 AS DOUBLE) AS hi", "CAST(0 AS BIGINT) AS n0",
    "CAST(0 AS BIGINT) AS p0", "n AS nb", "p AS pb",
)
# a level pick's (left, right) child branch rows: the branch bit path
# grows by one bit, the pick's score bounds the interval and its cum
# counts become the right child's offsets
_TREE5_CHILD_ITEMS = (
    [
        "branch * 2 AS branch", "lo", "score AS hi", "n0", "p0",
        "CAST(cum_n - n0 AS BIGINT) AS nb",
        "CAST(cum_p - p0 AS BIGINT) AS pb",
    ],
    [
        "branch * 2 + 1 AS branch", "score AS lo", "hi",
        "cum_n AS n0", "cum_p AS p0",
        "CAST(nb - (cum_n - n0) AS BIGINT) AS nb",
        "CAST(pb - (cum_p - p0) AS BIGINT) AS pb",
    ],
)


def _tree5_live_sql(c: str = "", b: str = "") -> str:
    """A cum row (qualifier ``c``) is a split candidate of a branch row
    (qualifier ``b``): its score lies inside the branch interval and
    leaves at least one branch row on the right."""
    return (
        f"{c}score > {b}lo AND {c}score < {b}hi "
        f"AND {c}cum_n - {b}n0 < {b}nb"
    )


def _tree5_vote_sql(q: str = "") -> str:
    """A leaf's (qualifier ``q``) exact majority vote 2·pos > n."""
    return f"CAST(CASE WHEN 2 * {q}pb > {q}nb THEN 1 ELSE 0 END AS INT)"


def _tree5_chain_sql(
    depth: int = _TREE5_DEPTH, with_final_children: bool = False
) -> str:
    """The shared WITH-chain of the Gini ladder oracles: scored ->
    distinct-score cum table -> per level k, cand_k = c x branches_k
    (interval containment), pick_k = per-branch (key, score) argmin
    via ROW_NUMBER, branches_{k+1} = the two children of every pick.
    Branch ids are bit paths (left=2b, right=2b+1); an empty branch
    emits no pick and therefore no children."""
    key = _gini_key_sql("b.n0", "b.p0", "b.nb", "b.pb")
    left, right = (", ".join(items) for items in _TREE5_CHILD_ITEMS)
    parts = [
        f"{_TREE_CUM_SQL}, "
        f"b0 AS (SELECT {', '.join(_TREE5_ROOT_ITEMS)} FROM t)"
    ]
    for k in range(depth):
        parts.append(
            f", cand{k} AS (SELECT b.branch, b.lo, b.hi, b.n0, b.p0, "
            "b.nb, b.pb, c.score, c.cum_n, c.cum_p, "
            f"({key}) AS key FROM c, b{k} b "
            f"WHERE {_tree5_live_sql('c.', 'b.')}), "
            f"pick{k} AS MATERIALIZED (SELECT * FROM ("
            f"SELECT *, ROW_NUMBER() OVER (PARTITION BY branch "
            f"ORDER BY key, score) AS rn FROM cand{k}) WHERE rn = 1)"
        )
        if k + 1 < depth or with_final_children:
            parts.append(
                f", b{k + 1} AS (SELECT {left} FROM pick{k} "
                f"UNION ALL SELECT {right} FROM pick{k})"
            )
    return "".join(parts)


def _tree5_oracle(depth: int = _TREE5_DEPTH) -> str:
    """DuckDB twin of the ladder's level frames: the shared chain + the
    per-level pick projections."""
    cols = ", ".join(_split_cols_sql("cum_n - n0", "cum_p - p0", "nb", "pb"))
    return _tree5_chain_sql(depth) + " " + " UNION ALL ".join(
        f"SELECT {k} AS level, CAST(branch AS BIGINT) AS branch, "
        f"score AS threshold, {cols} FROM pick{k}"
        for k in range(depth)
    )


def _tree5_ladder(
    spark: SparkSession, sf_dir: str, depth: int = _TREE5_DEPTH
):
    """Runs the per-level ladder to ``depth`` once and returns
    (level_display_frames, leaves): the ≤2^k-row pick of every level
    projected to the q_tree5 output columns, plus the LAZY leaf
    partition of the trained tree — every branch row that produced no
    pick (pure / single-valued) at its level, union the children of
    the last level's picks, each carrying (lo, hi, nb, pb) and the
    exact majority vote 2·pb > nb. Leaves cost nothing unless
    materialized (they are set algebra over the already-checkpointed
    picks)."""
    c = _tree_cum_table(spark, sf_dir)
    branches = c.select("n", "p").limit(1).selectExpr(*_TREE5_ROOT_ITEMS)
    levels = []
    leaf_parts = []
    for k in range(depth):
        cand = (
            c.crossJoin(F.broadcast(branches))
            .filter(_tree5_live_sql())
            .withColumn("key", F.expr(_gini_key_sql("n0", "p0", "nb", "pb")))
        )
        payload = F.struct(
            "key", "score", "cum_n", "cum_p", "lo", "hi", "n0", "p0", "nb", "pb"
        )
        pick = (
            cand.groupBy("branch")
            .agg(F.min(payload).alias("s"))
            .select("branch", "s.*")
            .localCheckpoint()
        )
        leaf_parts.append(
            branches.join(pick.select("branch"), "branch", "left_anti").select(
                "lo", "hi", "nb", "pb"
            )
        )
        levels.append(
            pick.selectExpr(
                f"{k} AS level",
                "CAST(branch AS BIGINT) AS branch",
                "score AS threshold",
                *_split_cols_sql("cum_n - n0", "cum_p - p0", "nb", "pb"),
            )
        )
        left, right = _TREE5_CHILD_ITEMS
        branches = pick.selectExpr(*left).unionAll(pick.selectExpr(*right))
    leaf_parts.append(branches.select("lo", "hi", "nb", "pb"))
    leaves = _union_all(leaf_parts).selectExpr(
        "lo", "hi", "nb", "pb", _tree5_vote_sql() + " AS pred"
    )
    return levels, leaves


def _tree5_levels(
    spark: SparkSession, sf_dir: str, depth: int = _TREE5_DEPTH
) -> DataFrame:
    """The ladder's per-level pick frames, unioned level by level."""
    return _union_all(_tree5_ladder(spark, sf_dir, depth)[0])


@query(
    "q_tree5",
    oracle=_tree5_oracle(),
    tags=("ml", "train", "split"),
    eager=True,
)
def q_tree5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a depth-5 greedy decision tree on the published model
    score by EXACT Gini split search — the reference's actual model
    depth (train_model.py:69-80, XGBClassifier max_depth=5), reached
    on the oracle-checked ladder q_stump -> q_tree2 -> q_tree3 opened.
    Emits up to 31 rows keyed (level, branch): branch is the bit path
    from the root (left = 2b, right = 2b+1), so (0,0) is the root and
    (1,0)/(1,1) are q_tree2's left/right — pinned equal in tests.

    Per-LEVEL plan (the any-depth form): level k is ONE broadcast
    interval-join of the checkpointed prefix-count table against the
    <=2^k live-branch rows (each candidate row lands in exactly one
    branch interval) + ONE per-branch argmin — min over the orderable
    (key, score, payload) struct, exact because (key, score) is unique
    within a branch (distinct scores, disjoint intervals) and Spark
    struct comparison is lexicographic, the same total order as the
    oracle's ROW_NUMBER. Depth d costs d bounded jobs + d tiny
    checkpoints — vs 2^d - 1 jobs for a per-node TakeOrdered form —
    and ZERO new fact passes beyond _tree_cum_table's single fold.

    Exactness: branch-offset integer counts (children carry
    (n0, p0) = the parent pick's absolute cumulative position); the
    argmin key is the same IEEE expression on both engines; a
    pure/single-valued branch emits no pick and no children on either
    engine (empty join)."""
    return _tree5_levels(spark, sf_dir)


# q_tree2/q_tree3 publish the first 2/3 levels of the ladder keyed by
# node name instead of (level, branch) — one relabelling, both engines.
_TREE_NODE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN level = {k} AND branch = {b} THEN '{name}'"
        for (k, b), name in (
            ((0, 0), "root"),
            ((1, 0), "left"),
            ((1, 1), "right"),
            ((2, 0), "ll"),
            ((2, 1), "lr"),
            ((2, 2), "rl"),
            ((2, 3), "rr"),
        )
    )
    + " END"
)
_TREE_NODE_COLS = (
    "threshold", "n_left", "pos_left", "n_right", "pos_right",
    "gini_split", "gini_base", "gain",
)


def _tree_nodes_oracle(depth: int) -> str:
    """DuckDB twin of _tree_nodes."""
    return (
        f"SELECT {_TREE_NODE_SQL} AS node, {', '.join(_TREE_NODE_COLS)} "
        f"FROM ({_tree5_oracle(depth)}) AS lv"
    )


def _tree_nodes(spark: SparkSession, sf_dir: str, depth: int) -> DataFrame:
    """The ladder's first ``depth`` levels keyed by node name."""
    return _tree5_levels(spark, sf_dir, depth).select(
        F.expr(_TREE_NODE_SQL).alias("node"), *_TREE_NODE_COLS
    )


@query(
    "q_tree2",
    oracle=_tree_nodes_oracle(2),
    tags=("ml", "train", "split"),
    eager=True,
)
def q_tree2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a depth-2 greedy decision tree on the published model
    score by EXACT Gini split search: q_stump's root split, then the
    best split INSIDE each branch (left: score <= t_root, right:
    score > t_root), each with its own branch-conditional impurity and
    gain. Emits up to 3 rows (node = root/left/right; a pure or
    single-valued branch emits none) — the first two levels of
    q_tree5's ladder, relabelled from (level, branch).

    Exactness: branch split keys are the q_stump expression on
    BRANCH-OFFSET exact integers — with branch base (n0, p0) and
    totals (nb, pb), the candidate at t has left counts
    (cum_n(t)-n0, cum_p(t)-p0) — the same IEEE doubles on both
    engines, so each per-branch (key, score) argmin is
    engine-identical; display values round at 6 dp.

    Scale: _tree_cum_table's one fact fold + checkpointed prefix pass,
    then one bounded per-level job per level (2 here)."""
    return _tree_nodes(spark, sf_dir, 2)


@query(
    "q_tree3",
    oracle=_tree_nodes_oracle(3),
    tags=("ml", "train", "split"),
    eager=True,
)
def q_tree3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a depth-3 greedy decision tree on the published model
    score by EXACT Gini split search: q_tree2's root + branch picks,
    then the best split inside each of the four depth-2 leaves
    (ll: score < t_left; lr: t_left < score < t_root;
    rl: t_root < score < t_right; rr: score > t_right). Emits up to 7
    rows (node = root/left/right/ll/lr/rl/rr; a pure or single-valued
    branch emits none, and its children then emit none too) — the
    first three levels of q_tree5's ladder, relabelled.

    Exactness: identical to q_tree2 one level down — every leaf
    candidate's branch-conditional counts are offsets from the parent
    pick's absolute cumulative position (for rr:
    root.n_left + right.n_left = cum_n(t_right)).

    Scale: q_tree2's plan plus one more bounded per-level job."""
    return _tree_nodes(spark, sf_dir, 3)


def _tree5_confusion_oracle() -> str:
    """Leaf partition = every branch row with no pick at its level,
    union the level-5 children; routing interval is (lo, hi] (left
    child keeps score <= threshold, matching the cumulative counts);
    majority vote by the exact integer comparison 2*pb > nb."""
    anti = " UNION ALL ".join(
        f"SELECT lo, hi, nb, pb FROM b{k} WHERE branch NOT IN "
        f"(SELECT branch FROM pick{k})"
        for k in range(_TREE5_DEPTH)
    )
    return (
        _tree5_chain_sql(with_final_children=True)
        + f", leaves AS MATERIALIZED ({anti} UNION ALL "
        f"SELECT lo, hi, nb, pb FROM b{_TREE5_DEPTH}) "
        f"SELECT {_tree5_vote_sql('l.')} AS prediction, s.label AS label, "
        "CAST(COUNT(*) AS BIGINT) AS n "
        "FROM s JOIN leaves l ON s.score > l.lo AND s.score <= l.hi "
        "GROUP BY 1, 2"
    )


@query(
    "q_tree5_confusion",
    oracle=_tree5_confusion_oracle(),
    tags=("ml", "train", "eval"),
    eager=True,
)
def q_tree5_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained depth-5 Gini tree back to every scored row
    and emit the confusion matrix — the train-then-SERVE completion of
    the ladder (the reference trains depth-5 then scores the eval
    split, train_model.py:69-83): prediction = the majority class of
    the leaf the row routes to, by the EXACT integer vote 2·pos > n,
    so no float enters the decision.

    Leaf partition: every ladder branch that produced no split at its
    level (pure or single-valued — it keeps its interval) union the
    children of the level-5 picks; intervals are (lo, hi] so a row at
    a threshold routes LEFT, exactly matching the training counts
    (n_left = cum_n(t)). The leaf table is <=63 rows and carries its
    own (n, pos) — the per-leaf class counts need NO scoring pass;
    only the confusion matrix touches the fact rows.

    Scale (the serving shape): the <=63-row leaf table is collected to
    the driver (a bounded-scalar collect, the established
    pbucket/threshold-list pattern) and COMPILED into a per-row CASE
    chain over the contiguous intervals sorted by upper bound — the
    first `score <= hi_k` match IS the routing leaf, so scoring is
    pure whole-stage codegen on the single fact scan + one 4-cell
    aggregate, exactly how a 100 TB tree scorer ships its model. (The
    declarative BroadcastNestedLoop interval-join form was measured
    ~4 s slower at sf0.1: 63x600k filtered pairs vs <=63 sequential
    comparisons per row.) The ladder itself adds zero fact passes
    beyond _tree_cum_table's fold; leaves are set algebra over the
    checkpointed picks."""
    _levels, leaves = _tree5_ladder(spark, sf_dir)
    # bounded collect: <=2^5 * 2 - 1 rows, the compiled model
    whens = "".join(
        f"WHEN score <= {sql_double_lit(float(r['hi']))} THEN {int(r['pred'])} "
        for r in sorted(leaves.collect(), key=lambda r: r["hi"])
    )
    # no leaves only when no row is scored: the grouping then emits no
    # rows, matching the oracle's empty routing join
    pred = f"CAST(CASE {whens}ELSE -1 END AS INT)" if whens else "CAST(-1 AS INT)"
    return (
        scored(spark, sf_dir)
        .groupBy(F.expr(pred).alias("prediction"), "label")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# The multi-feature trainer (VERDICT r12 #4, r13 #4): the reference's
# XGB trees search every feature column per node (train_model.py:69-80),
# where the q_stump..q_tree5 ladder splits on the single published
# score. ONE level-by-level grower over the three published model
# features, written once per engine; its only depths are 1 and 2:
# - q_tree_multifeat is round 1 of the depth-2 run;
# - q_boosted_multifeat is the depth-1 two-round AdaBoost run;
# - q_boosted_mf_tree2 is the depth-2 two-round AdaBoost run.
# ---------------------------------------------------------------------------

# (name, 6-dp-rounded value expression) — names sorted so the
# (key, feat, val) argmin tie-break is engine-identical
_MF_FEATS = ("disc", "price", "qty")

_MF_VAL_SQL = {
    "disc": "CAST(l_discount AS DOUBLE)",
    "price": "(CAST(l_extendedprice AS DOUBLE) / 100000.0)",
    "qty": "CAST(l_quantity AS DOUBLE)",
}

# _mf_base's select items over lineitem; the oracles' base CTE f is
# _MF_BASE_SQL FROM lineitem
_MF_BASE_ITEMS = [
    f"{LABEL_SQL} AS label",
    *(sql_round(_MF_VAL_SQL[f], 6) + f" AS {f}" for f in _MF_FEATS),
]
_MF_BASE_SQL = "SELECT " + ", ".join(_MF_BASE_ITEMS)


def _mf_base(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """lineitem -> (label, disc, price, qty, ``extra`` items): the
    reference model's three raw feature columns, 6-dp-rounded BEFORE
    any grouping so distinct-value/tie structure is identical across
    engines (the scored() discipline applied to inputs instead of the
    score)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.selectExpr(*_MF_BASE_ITEMS, *extra)


def _mf_unpivot(base: DataFrame, extra: list[str]) -> DataFrame:
    """(.., disc, price, qty, label) -> (.., feat, val, label): one
    pass, stack-style explode — the per-(feat,val) fold after it is
    map-side-combinable so the tripled row count never shuffles raw."""
    return base.select(
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("feat"), F.col(f).alias("val")
                    )
                    for f in _MF_FEATS
                ]
            )
        ).alias("fv"),
        "label",
    ).select(*extra, F.col("fv.feat").alias("feat"),
             F.col("fv.val").alias("val"), "label")


def _mf_fold(rows: DataFrame, keys: list[str]) -> DataFrame:
    """One fact pass: exact per-(keys, feat, val) (cnt, pos) counts."""
    return (
        _mf_unpivot(rows, keys)
        .groupBy(*keys, "feat", "val")
        .agg(*map(F.expr, _COUNT_ITEMS))
    )


def _mf_cum(
    grouped: DataFrame,
    keys: list[str],
    out_cast: str = "bigint",
    measures: tuple[tuple[str, str], ...] = (
        ("cnt", "cum_n"),
        ("pos", "cum_p"),
    ),
) -> DataFrame:
    """Per-key prefix sums over val of the bounded distinct-(feat,val)
    table (prefix_sums on floor(val*1000) buckets): one feature
    (price) has ~1e5 distinct values, and no key group is ever sorted
    in one task. ``measures`` names the summed columns, so the
    grower's weighted (wp, wn) and q_xgb_round's Newton (cnt, g, h)
    sufficient statistics ride it too; ``out_cast`` keeps the boosted
    rounds' DECIMAL(38,0) weighted counts unnarrowed."""
    return prefix_sums(
        grouped, F.floor(F.col("val") * 1000).cast("bigint"), "val",
        measures, keys, out_cast,
    ).select(*keys, "val", *[out for _, out in measures])


def _mf_val_case(fcol: str, q: str = "f.") -> str:
    """The value of the feature named in column ``fcol`` of the fact
    row qualified by ``q`` (empty for an unaliased Spark row)."""
    return (
        f"CASE {fcol} WHEN 'disc' THEN {q}disc "
        f"WHEN 'price' THEN {q}price ELSE {q}qty END"
    )


def _mf_split_sql(fcol: str, t: str, left: str, right: str, q: str = "f.") -> str:
    """``left`` where the row's value of feature ``fcol`` is <= the
    threshold ``t`` (the row goes left), else ``right``."""
    return f"CASE WHEN ({_mf_val_case(fcol, q)}) <= {t} THEN {left} ELSE {right} END"


def _case_sql(col: str, names: list[str]) -> str:
    """Column names[i] for col = i (the last name otherwise)."""
    if len(names) == 1:
        return names[0]
    whens = " ".join(f"WHEN {i} THEN {n}" for i, n in enumerate(names[:-1]))
    return f"CASE {col} {whens} ELSE {names[-1]} END"


def _mf_leaf_sql(depth: int, q: str = "f.", k: int = 0, b: int = 0) -> str:
    """Bit-path leaf of a fact row under the first ``depth`` levels of
    a tree row (split columns f{k}_{b}/t{k}_{b}): a row at branch b of
    level k goes left (value <= threshold) to 2b, else to 2b+1."""
    if k == depth:
        return str(b)
    return _mf_split_sql(
        f"f{k}_{b}",
        f"t{k}_{b}",
        _mf_leaf_sql(depth, q, k + 1, 2 * b),
        _mf_leaf_sql(depth, q, k + 1, 2 * b + 1),
        q,
    )


def _mf_weights_sql(depth: int, wide: str) -> list[str]:
    """A fold cell's weighted (pos, neg) under the previous round's
    model row: its counts times the mp/mn multiplier of its leaf lf,
    exact in the integer type ``wide``."""
    return [
        f"CAST({x} AS {wide}) * ("
        + _case_sql("lf", [f"{m}{i}" for i in range(2**depth)])
        + ")"
        for x, m in (("pos", "mp"), ("cnt - pos", "mn"))
    ]


def _mf_pivot_cols(k: int, b: int, last: bool) -> list[tuple[str, str]]:
    """(expression, name) pairs that pivot branch b's pick at level k
    into the tree row: its split, the root's totals (rp, rn) and, on
    the last level, the weighted (pos, neg) of its two leaves."""
    cols = [("feat", f"f{k}_{b}"), ("val", f"t{k}_{b}")]
    if k == 0:
        cols += [("bp", "rp"), ("bn", "rn")]
    if last:
        cols += [
            ("cwp", f"lp{2 * b}"),
            ("cwn", f"ln{2 * b}"),
            ("bp - cwp", f"lp{2 * b + 1}"),
            ("bn - cwn", f"ln{2 * b + 1}"),
        ]
    return cols


# a level's root branch totals (br, bp, bn): round 1 counts the fact
# rows' classes, later rounds read the model row's reweighted totals
_MF_ROOT_ITEMS = (
    [
        "0 AS br",
        "CAST(SUM(label) AS BIGINT) AS bp",
        "CAST(COUNT(*) - SUM(label) AS BIGINT) AS bn",
    ],
    ["0 AS br", "wpt AS bp", "wnt AS bn"],
)
# a round-1 fold cell's (wp, wn): its class counts
_MF_COUNT_ITEMS = ["pos AS wp", "cnt - pos AS wn"]
# a cum row is a split candidate: it leaves weight on the right
_MF_CAND_SQL = "cwp + cwn < bp + bn"
# a level pick's (left, right) child branch totals
_MF_CHILD_ITEMS = (
    ["br * 2 AS br", "cwp AS bp", "cwn AS bn"],
    ["br * 2 + 1 AS br", "bp - cwp AS bp", "bn - cwn AS bn"],
)


def _mf_grow(
    base: DataFrame,
    depth: int,
    prev: DataFrame | None = None,
    keep: bool = False,
):
    """Grows one round's tree over the _mf_base rows level by level and
    returns (picks, tree row, last fold). Round 1 weighs every row 1
    (bigint counts) from the root branch of all rows; ``prev``, the
    previous round's model row, routes each row to its leaf lf and
    weighs it by that leaf's mp/mn multiplier (DECIMAL(38,0)) from the
    root branch of prev's reweighted totals. Level k is ONE fact pass
    keyed by lf and the row's branch under the levels above, folded to
    weighted (wp, wn) per (branch, feat, val), prefix-summed per
    (branch, feature) by _mf_cum, then ONE per-branch argmin against
    the level's branch totals (br, bp, bn), checkpointed — the min
    over the orderable (key, feat, val, ..) struct is the
    (key, feat, val) order, unique within a branch. The tree row
    pivots every level's picks into one row and is empty unless every
    branch picked. ``keep`` materializes the last fold for a caller
    that reads it again."""
    dec = "decimal(38,0)"
    if prev is None:
        keys, rows = [], base
        branches = base.selectExpr(*_MF_ROOT_ITEMS[0])
    else:
        keys = ["lf"]
        rows = base.crossJoin(F.broadcast(prev)).selectExpr(
            *base.columns, _mf_leaf_sql(depth, "") + " AS lf"
        )
        branches = prev.selectExpr(*_MF_ROOT_ITEMS[1])
    picks, tree = [], None
    for k in range(depth):
        # level 0 has one branch: keeping its literal id out of the fold
        # and prefix keys lets each aggregate reuse its input's
        # partitioning (a folded literal key costs one more exchange)
        kb = ["br"] if k else []
        if k:
            rows_k = rows.crossJoin(F.broadcast(tree)).selectExpr(
                *rows.columns, _mf_leaf_sql(k, "") + " AS br"
            )
        else:
            rows_k = rows
        g = _mf_fold(rows_k, keys + kb)
        if keep and k == depth - 1:
            g = g.localCheckpoint()
        if prev is None:
            w = g.selectExpr(*kb, "feat", "val", *_MF_COUNT_ITEMS)
        else:
            mults = [f"{m}{i}" for m in ("mp", "mn") for i in range(2**depth)]
            wp, wn = _mf_weights_sql(depth, dec)
            w = (
                g.crossJoin(F.broadcast(prev.select(*mults)))
                .selectExpr(*kb, "feat", "val", f"{wp} AS wp", f"{wn} AS wn")
                .groupBy(*kb, "feat", "val")
                .agg(
                    F.sum("wp").cast(dec).alias("wp"),
                    F.sum("wn").cast(dec).alias("wn"),
                )
            )
        c = _mf_cum(
            w,
            [*kb, "feat"],
            out_cast="bigint" if prev is None else dec,
            measures=(("wp", "cwp"), ("wn", "cwn")),
        )
        cj = c.join(F.broadcast(branches), "br") if k else c.crossJoin(
            F.broadcast(branches)
        )
        cand = cj.filter(_MF_CAND_SQL).withColumn(
            "key", F.expr(_wgini_sql("cwp", "cwn", "bp", "bn"))
        )
        pay = ("key", "feat", "val", "cwp", "cwn", "bp", "bn")
        if k:
            pick = (
                cand.groupBy("br")
                .agg(F.min(F.struct(*pay)).alias("s"))
                .select("br", "s.*")
            )
        else:
            # one branch: a top-1 take, which needs no shuffle stage
            pick = cand.orderBy("key", "feat", "val").limit(1).select("br", *pay)
        # materialized once: the next level's routing and branches and
        # the tree row all read it
        pick = pick.localCheckpoint()
        picks.append(pick)
        for b in range(2**k):
            part = pick.filter(F.col("br") == b).select(
                *[
                    F.expr(e).alias(n)
                    for e, n in _mf_pivot_cols(k, b, k == depth - 1)
                ]
            )
            tree = part if tree is None else tree.crossJoin(F.broadcast(part))
        left, right = _MF_CHILD_ITEMS
        branches = pick.selectExpr(*left).unionAll(pick.selectExpr(*right))
    return picks, tree, g


def _mf_grow_sql(depth: int, r: int) -> str:
    """SQL twin of _mf_grow: round ``r``'s CTEs over the fact CTE f.
    From round 2 on, f{r} adds each row's leaf lf under the previous
    round's model row m{r-1}, which also weighs the folds. Per level k
    the CTEs are suffixed r{k}: x (routed fact rows), g (fold), w
    (weighted fold), c (prefix cums), b (branch totals: f's label
    counts, m{r-1}'s reweighted totals, or the parent picks'
    children), p (per-branch ROW_NUMBER argmin) and s (the level's
    picks pivoted to one row)."""
    weighted = r > 1
    keys = "lf, br" if weighted else "br"
    t = "HUGEINT" if weighted else "BIGINT"
    key = _wgini_sql("cwp", "cwn", "bp", "bn")
    src = f"f{r}" if weighted else "f"
    out = (
        [f"f{r} AS (SELECT f.*, {_mf_leaf_sql(depth)} AS lf FROM f, m{r - 1})"]
        if weighted
        else []
    )
    for k in range(depth):
        s = f"{r}{k}"
        unpivot = " UNION ALL ".join(
            f"SELECT {keys}, '{f}' AS feat, {f} AS val, label FROM x{s}"
            for f in _MF_FEATS
        )
        if weighted:
            wp, wn = _mf_weights_sql(depth, "HUGEINT")
            weigh = (
                f"SELECT br, feat, val, CAST(SUM({wp}) AS HUGEINT) AS wp, "
                f"CAST(SUM({wn}) AS HUGEINT) AS wn "
                f"FROM g{s}, m{r - 1} GROUP BY br, feat, val"
            )
        else:
            weigh = f"SELECT br, feat, val, {', '.join(_MF_COUNT_ITEMS)} FROM g{s}"
        if k > 0:
            p = f"p{r}{k - 1}"
            left, right = (", ".join(items) for items in _MF_CHILD_ITEMS)
            branches = f"SELECT {left} FROM {p} UNION ALL SELECT {right} FROM {p}"
        else:
            root = ", ".join(_MF_ROOT_ITEMS[weighted])
            branches = f"SELECT {root} FROM {f'm{r - 1}' if weighted else 'f'}"
        cums = ", ".join(
            f"CAST(SUM({m}) OVER (PARTITION BY br, feat ORDER BY val) "
            f"AS {t}) AS c{m}"
            for m in ("wp", "wn")
        )
        pivot = ", ".join(
            "(SELECT "
            + ", ".join(
                f"{e} AS {n}" for e, n in _mf_pivot_cols(k, b, k == depth - 1)
            )
            + f" FROM p{s} WHERE br = {b}) AS q{b}"
            for b in range(2**k)
        )
        tree = "".join(f", s{r}{j}" for j in range(k))
        out.append(
            f"x{s} AS (SELECT f.*, {_mf_leaf_sql(k)} AS br FROM {src} f{tree}), "
            f"g{s} AS (SELECT {keys}, feat, val, {_COUNTS_SQL} FROM ({unpivot}) "
            f"GROUP BY {keys}, feat, val), "
            f"w{s} AS ({weigh}), "
            f"c{s} AS (SELECT br, feat, val, {cums} FROM w{s}), "
            f"b{s} AS ({branches}), "
            f"p{s} AS MATERIALIZED (SELECT * FROM (SELECT *, {key} AS key, "
            f"ROW_NUMBER() OVER (PARTITION BY br ORDER BY {key}, feat, val) "
            f"AS rn FROM c{s} JOIN b{s} USING (br) "
            f"WHERE {_MF_CAND_SQL}) WHERE rn = 1), "
            f"s{s} AS (SELECT * FROM {pivot})"
        )
    return ", ".join(out)


def _tree_mf_oracle() -> str:
    """DuckDB twin of q_tree_multifeat: round 1 of the depth-2 chain,
    the two levels' picks relabelled by _TREE_NODE_SQL."""
    cols = ", ".join(_split_cols_sql("cwp + cwn", "cwp", "(bp + bn)", "bp"))
    lv = " UNION ALL ".join(
        f"SELECT {k} AS level, br AS branch, feat, val AS threshold, {cols} "
        f"FROM p1{k}"
        for k in range(2)
    )
    return (
        f"WITH f AS ({_MF_BASE_SQL} FROM lineitem), "
        + _mf_grow_sql(2, 1)
        + f" SELECT {_TREE_NODE_SQL} AS node, feat, "
        f"{', '.join(_TREE_NODE_COLS)} FROM ({lv}) AS lv"
    )


@query(
    "q_tree_multifeat",
    oracle=_tree_mf_oracle(),
    tags=("ml", "train", "split"),
    eager=True,
)
def q_tree_multifeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini split search across ALL THREE published feature
    columns (discount, scaled price, quantity) at the root and inside
    both root branches — the multi-feature per-node search the
    reference's XGBClassifier performs (train_model.py:69-80), which
    the single-score q_stump..q_tree5 ladder could not express. Emits
    up to 3 rows (root/left/right; a pure or single-valued branch
    emits none), each carrying the WINNING feature name, threshold,
    exact branch counts, and impurity scalars — round 1 of the
    multi-feature grower at depth 2, relabelled from (level, branch)
    by the q_tree2 node mapping.

    Exactness: per-(branch, feature) prefix counts are exact integers;
    the split key is the weighted Gini expression (_wgini_sql) on those
    integers — the same doubles as q_tree2's branch-offset key, one
    cast per factor — and the argmin order (key, feat, val) compares
    exact doubles then strings — engine-identical. Feature values are
    6-dp pround-ed BEFORE grouping so distinct/tie structure matches
    DuckDB's.

    Scale: TWO fact passes total (the honest multi-feature cost — the
    child search conditions every feature's distribution on the root
    branch, so branch folds cannot be closed forms over root-level
    prefix tables). Each pass is one stack-explode (3x rows,
    map-side-combined before the only shuffle on (br, feat, val)),
    then _mf_cum's prefix sums per (branch, feature) and one
    per-branch argmin job. At depth d this costs
    d fact passes — the level-synchronous multi-feature trainer shape
    (each level's branch assignment rides ONE pass), exactly how a
    distributed tree trainer scales to 100 TB. Eager by construction
    (the checkpointed picks); the registry eager contract applies."""
    picks, _tree, _fold = _mf_grow(_mf_base(spark, sf_dir), 2)
    lv = _union_all(
        pick.selectExpr(
            f"{k} AS level",
            "br AS branch",
            "feat",
            "val AS threshold",
            *_split_cols_sql("cwp + cwn", "cwp", "(bp + bn)", "bp"),
        )
        for k, pick in enumerate(picks)
    )
    return lv.select(F.expr(_TREE_NODE_SQL).alias("node"), "feat", *_TREE_NODE_COLS)


# ---------------------------------------------------------------------------
# q_boosted_tree2 — 2-round exact AdaBoost of DEPTH-2 Gini trees
# (round 13, VERDICT r12 #6d): q_boosted_stumps' closed-form rational
# reweighting composed with q_tree2's greedy branch picks — the
# genuine gradient-boosted-ensemble shape at the reference's design
# (train_model.py:69-80 boosts depth-5 trees; this is the
# hash-checkable 2-round/depth-2 form of that loop).
# ---------------------------------------------------------------------------


# the positive/negative totals off the tree_cum_table columns
_BT2_TOT = ("p AS tp", "n - p AS tn")
# a prefix row is a split candidate: it leaves a row on the right
_BT2_LIVE_SQL = "cp + cn < tp + tn"


def _bt2_leaves(p: str, n: str, tp: str, tn: str) -> list[tuple[str, str]]:
    """Per-leaf (pos, neg) of a depth-2 score tree from its left cums
    ({p}, {n} suffixed l/0/r at the sorted thresholds) and totals."""
    return [
        (f"{p}l", f"{n}l"),
        (f"{p}0 - {p}l", f"{n}0 - {n}l"),
        (f"{p}r - {p}0", f"{n}r - {n}0"),
        (f"{tp} - {p}r", f"{tn} - {n}r"),
    ]


def _bt2_leaf_case(u: str, vals: list[str]) -> str:
    """vals[k] for the leaf index 0..3 of row p's score over the
    sorted thresholds {u}l < {u}0 < {u}r."""
    return (
        f"CASE WHEN p.score <= {u}l THEN {vals[0]} "
        f"WHEN p.score <= {u}0 THEN {vals[1]} "
        f"WHEN p.score <= {u}r THEN {vals[2]} ELSE {vals[3]} END"
    )


def _bt2_terms() -> list[tuple[str, str]]:
    """The two trees' (alpha_r, h_r) over the per-score rows p."""
    return [
        (
            _ada_alpha_sql(f"e{r}", f"d{r}"),
            f"({_bt2_leaf_case(u, [f'pr{r}_{i}' for i in range(4)])})",
        )
        for r, u in ((1, "t"), (2, "u"))
    ]


def _btree2_oracle() -> str:
    """DuckDB twin. The oracle recomputes each round's weighted
    per-score table directly (region-CASE multipliers x raw counts,
    then plain cumulative windows) — the readable form; the Spark side
    computes the SAME integers as clamp closed forms over the one
    checkpointed prefix table. Leaf index k(s) = 1..4 over the sorted
    thresholds tl < t0 < tr; AdaBoost multiplier for a correct row is
    e, for a misclassified row d - e (the q_boosted_stumps rational
    trick), so round-2 weighted counts are exact HUGEINTs."""
    acc = _ada_acc_sql(_bt2_terms(), "p.cnt", "p.pos")
    key_root1 = _wgini_sql("cp", "cn", "tp", "tn")
    key_l1 = _wgini_sql("cp", "cn", "cp0", "cn0")
    key_r1 = _wgini_sql("(cp - cp0)", "(cn - cn0)", "(tp - cp0)", "(tn - cn0)")
    key_root2 = _wgini_sql("cwp", "cwn", "wpt", "wnt")
    key_l2 = _wgini_sql("cwp", "cwn", "wp0", "wn0")
    key_r2 = _wgini_sql(
        "(cwp - wp0)", "(cwn - wn0)", "(wpt - wp0)", "(wnt - wn0)"
    )

    m1 = _ada_model_oracle(
        "root1, l1, r1, t", _bt2_leaves("cp", "cn", "tp", "tn"), "tp + tn", 1,
        "BIGINT", "HUGEINT",
    )
    m2 = _ada_model_oracle(
        "root2, l2, r2, tw2", _bt2_leaves("wp", "wn", "wpt", "wnt"),
        "wpt + wnt", 2, "HUGEINT",
    )
    mp = _bt2_leaf_case("t", [f"mp{i}" for i in range(4)])
    mn = _bt2_leaf_case("t", [f"mn{i}" for i in range(4)])
    rows = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS round, {u}0 AS t_root, {u}l AS t_left, "
        f"{u}r AS t_right, "
        + "".join(
            f"CAST(pr{r}_{i} AS BIGINT) AS pred_l{i + 1}, " for i in range(4)
        )
        + f"{', '.join(_ada_round_sql(r))} FROM m{r}, acc"
        for r, u in ((1, "t"), (2, "u"))
    )
    return (
        f"WITH s AS ({SCORED_SQL}), "
        f"per AS MATERIALIZED (SELECT score, {_COUNTS_SQL} FROM s GROUP BY score), "
        "t AS MATERIALIZED (SELECT CAST(SUM(pos) AS BIGINT) AS tp, "
        "CAST(SUM(cnt - pos) AS BIGINT) AS tn, MAX(score) AS smax FROM per), "
        "c AS MATERIALIZED (SELECT score, cnt, pos, "
        "CAST(SUM(pos) OVER (ORDER BY score) AS BIGINT) AS cp, "
        "CAST(SUM(cnt - pos) OVER (ORDER BY score) AS BIGINT) AS cn "
        "FROM per), "
        "root1 AS MATERIALIZED (SELECT score AS t0, cp AS cp0, cn AS cn0 "
        f"FROM c, t WHERE {_BT2_LIVE_SQL} ORDER BY {key_root1}, score "
        "LIMIT 1), "
        "l1 AS MATERIALIZED (SELECT score AS tl, cp AS cpl, cn AS cnl "
        f"FROM c, root1 WHERE score < t0 ORDER BY {key_l1}, score LIMIT 1), "
        "r1 AS MATERIALIZED (SELECT score AS tr, cp AS cpr, cn AS cnr "
        f"FROM c, root1, t WHERE score > t0 AND {_BT2_LIVE_SQL} "
        f"ORDER BY {key_r1}, score LIMIT 1), "
        f"m1 AS MATERIALIZED ({m1}), "
        "w2 AS MATERIALIZED (SELECT p.score, p.cnt, p.pos, "
        f"CAST(p.pos AS HUGEINT) * ({mp}) AS wp, "
        f"CAST(p.cnt - p.pos AS HUGEINT) * ({mn}) AS wn "
        "FROM per p, m1), "
        "c2 AS (SELECT score, "
        "CAST(SUM(wp) OVER (ORDER BY score) AS HUGEINT) AS cwp, "
        "CAST(SUM(wn) OVER (ORDER BY score) AS HUGEINT) AS cwn FROM w2), "
        "tw2 AS MATERIALIZED (SELECT CAST(SUM(wp) AS HUGEINT) AS wpt, "
        "CAST(SUM(wn) AS HUGEINT) AS wnt FROM w2), "
        "root2 AS MATERIALIZED (SELECT score AS u0, cwp AS wp0, "
        "cwn AS wn0 FROM c2, tw2, t WHERE score < smax "
        f"ORDER BY {key_root2}, score LIMIT 1), "
        "l2 AS MATERIALIZED (SELECT score AS ul, cwp AS wpl, cwn AS wnl "
        f"FROM c2, root2 WHERE score < u0 ORDER BY {key_l2}, score LIMIT 1), "
        "r2 AS MATERIALIZED (SELECT score AS ur, cwp AS wpr, cwn AS wnr "
        "FROM c2, root2, tw2, t WHERE score > u0 AND score < smax "
        f"ORDER BY {key_r2}, score LIMIT 1), "
        f"m2 AS MATERIALIZED ({m2}), "
        f"acc AS MATERIALIZED (SELECT {', '.join(acc)} "
        "FROM per p, m1, m2) " + rows
    )


@query(
    "q_boosted_tree2",
    oracle=_btree2_oracle(),
    tags=("ml", "train", "boost"),
    eager=True,
)
def q_boosted_tree2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 2-round AdaBoost ensemble whose weak learner is a
    DEPTH-2 greedy Gini tree on the published model score — 
    q_boosted_stumps' closed-form rational reweighting composed with
    q_tree2's branch picks: the hash-checkable form of the reference's
    boosted-tree training loop (train_model.py:69-80 — XGB boosts
    depth-5 trees; round 1 here IS q_tree2's exact tree, test-pinned).
    Emits one row per round: thresholds (root/left/right), the four
    leaf sign predictions (weighted majority), weighted error, alpha,
    and ensemble train accuracy.

    Exactness: round-1 weighted counts ARE the raw prefix counts;
    round-2 weights multiply by (d1−e1) if tree-1 misclassified the
    row else e1 (the q_boosted_stumps rational trick), so every
    round-2 candidate's weighted (pos, neg) cums are exact
    DECIMAL(38,0)/HUGEINT integers. Split keys are the weighted Gini
    expression on exact integers with ONE cast per factor
    (_wgini_sql — one text, both engines); argmins ORDER
    BY (key, score). Assumes the weak learner is imperfect and better
    than chance (1 <= e < d — true on any non-separable stream; a
    perfect tree would make alpha infinite in ANY AdaBoost).

    Scale: zero fact passes beyond the shared tree_cum_table fold —
    round-2 weighted cums are CLAMP CLOSED FORMS over the ONE
    checkpointed prefix table: cum weight at t = Σ_regions
    M_k·(clamp(cp(t), lo_k, hi_k) − lo_k) with the region boundaries
    carried as scalars on the broadcast round-1 model row (the oracle
    recomputes them as plain windows — same integers, readable form).
    Six bounded scans + TakeOrdered(1) each (2 rounds x 3 picks), one
    accuracy fold; at R rounds the closed form costs R·3 bounded scans
    and never re-windows. Eager by construction (the checkpointed
    model chain); the registry eager contract applies."""
    c = tree_cum_table(scored(spark, sf_dir))
    cc = c.selectExpr(
        "score", "cnt", "pos", "cum_p AS cp", "cum_n - cum_p AS cn", *_BT2_TOT
    )

    def _bt2_pick(cands, key, xp, xn, names):
        return (
            cands.withColumn("key", F.expr(key))
            .orderBy("key", "score")
            .limit(1)
            .selectExpr(
                f"score AS {names[0]}", f"{xp} AS {names[1]}",
                f"{xn} AS {names[2]}", *names[3:],
            )
            .localCheckpoint()
        )

    def _bt2_branch_picks(cands, xp, xn, p0, n0, tp, tn, names):
        """BOTH branch argmins in ONE job (the q_tree5 per-level
        struct-argmin: groupBy branch + min(struct(key, score, ...))
        is the (key, score) order because key/score lead and score is
        unique per branch) — vs two sequential TakeOrdered jobs. The
        right branch (br = 1) starts at the root pick's cums
        (``p0``, ``n0``) and ends at the totals (``tp``, ``tn``)."""

        def side(left: str, right: str) -> str:
            return f"CASE WHEN br = 0 THEN {left} ELSE {right} END"

        key = _wgini_sql(
            f"({xp} - {side('0', p0)})",
            f"({xn} - {side('0', n0)})",
            side(p0, f"{tp} - {p0}"),
            side(n0, f"{tn} - {n0}"),
        )
        payload = f"struct({key} AS key, score, {xp} AS _xp, {xn} AS _xn)"
        pick = (
            cands.groupBy("br")
            .agg(F.expr(f"MIN({payload})").alias("s"))
            .select("br", "s.*")
            .localCheckpoint()
        )

        def side_pick(b, nm):
            return pick.filter(f"br = {b}").selectExpr(
                f"score AS {nm[0]}", f"_xp AS {nm[1]}", f"_xn AS {nm[2]}"
            )

        return side_pick(0, names[0]), side_pick(1, names[1])

    cp, cn = F.col("cp"), F.col("cn")
    cands1 = cc.filter(_BT2_LIVE_SQL)
    root1 = _bt2_pick(
        cands1, _wgini_sql("cp", "cn", "tp", "tn"), "cp", "cn",
        ("t0", "cp0", "cn0"),
    )
    b1 = (
        cc.crossJoin(F.broadcast(root1))
        .filter(f"score < t0 OR (score > t0 AND {_BT2_LIVE_SQL})")
        .withColumn("br", F.expr("CASE WHEN score < t0 THEN 0 ELSE 1 END"))
    )
    l1, r1 = _bt2_branch_picks(
        b1, "cp", "cn", "cp0", "cn0", "tp", "tn",
        (("tl", "cpl", "cnl"), ("tr", "cpr", "cnr")),
    )
    tot = c.selectExpr(*_BT2_TOT).limit(1)

    # the round-1 model row carries the per-region multipliers and the
    # weighted TOTALS as scalars: leaving them as per-row when()/product
    # expressions tripled the c2 expression tree (measured on the first
    # cut — cold plan compile dominated). ONE materialization covers
    # the picks' join and the model columns.
    dec = "DECIMAL(38,0)"
    m1w = (
        _ada_model(
            root1.crossJoin(F.broadcast(l1))
            .crossJoin(F.broadcast(r1))
            .crossJoin(F.broadcast(tot)),
            _bt2_leaves("cp", "cn", "tp", "tn"),
            "tp + tn",
            1,
            "BIGINT",
            dec,
        )
        # tp/tn are NOT carried out: cc already has them, and the
        # round-2 crossJoin would make the reference ambiguous
        .drop("tp", "tn")
        .localCheckpoint()
    )

    cand2 = cc.crossJoin(F.broadcast(m1w.drop("wpt", "wnt")))
    loP = [F.lit(0), F.col("cpl"), F.col("cp0"), F.col("cpr")]
    hiP = [F.col("cpl"), F.col("cp0"), F.col("cpr"), F.col("tp")]
    loN = [F.lit(0), F.col("cnl"), F.col("cn0"), F.col("cnr")]
    hiN = [F.col("cnl"), F.col("cn0"), F.col("cnr"), F.col("tn")]

    def clamp(x, lo, hi):
        return F.least(F.greatest(x, lo), hi)

    cwp = sum(
        F.col(f"mp{k}") * (clamp(cp, loP[k], hiP[k]) - loP[k]).cast(dec)
        for k in range(4)
    )
    cwn = sum(
        F.col(f"mn{k}") * (clamp(cn, loN[k], hiN[k]) - loN[k]).cast(dec)
        for k in range(4)
    )
    wtot = m1w.select("wpt", "wnt")
    # materialize the weighted cum table ONCE: the three round-2 picks
    # each scan it, and without the checkpoint every pick would
    # re-evaluate the 8 clamp/DECIMAL products per row (measured ~3x
    # the wall)
    c2 = (
        cand2.filter(_BT2_LIVE_SQL)
        .crossJoin(F.broadcast(wtot))
        .select(
            "score",
            cwp.alias("cwp"),
            cwn.alias("cwn"),
            "wpt",
            "wnt",
        )
        .localCheckpoint()
    )
    root2 = _bt2_pick(
        c2, _wgini_sql("cwp", "cwn", "wpt", "wnt"), "cwp", "cwn",
        ("u0", "wp0", "wn0", "wpt", "wnt"),
    )
    b2 = (
        c2.drop("wpt", "wnt")
        .crossJoin(F.broadcast(root2))
        .filter("score != u0")
        .withColumn("br", F.expr("CASE WHEN score < u0 THEN 0 ELSE 1 END"))
    )
    l2, r2 = _bt2_branch_picks(
        b2, "cwp", "cwn", "wp0", "wn0", "wpt", "wnt",
        (("ul", "wpl", "wnl"), ("ur", "wpr", "wnr")),
    )
    m2 = (
        _ada_model(
            root2.crossJoin(F.broadcast(l2)).crossJoin(F.broadcast(r2)),
            _bt2_leaves("wp", "wn", "wpt", "wnt"),
            "wpt + wnt",
            2,
            dec,
        )
        .select("u0", "ul", "ur", *[f"pr2_{k}" for k in range(4)], "e2", "d2")
        .localCheckpoint()
    )

    # consume the MATERIALIZED m1w (m1's columns ride on it) so the
    # residual plan references only checkpointed tables
    m1s = m1w.drop(
        "wpt", "wnt", *[f"{m}{k}" for m in ("mp", "mn") for k in range(4)]
    )
    w = cc.crossJoin(F.broadcast(m1s)).crossJoin(F.broadcast(m2))

    accrow = w.alias("p").selectExpr(*_ada_acc_sql(_bt2_terms(), "p.cnt", "p.pos"))
    wide = accrow.crossJoin(F.broadcast(m1s)).crossJoin(F.broadcast(m2))
    return _union_all(
        wide.selectExpr(
            f"CAST({r} AS INT) AS round",
            f"{u}0 AS t_root",
            f"{u}l AS t_left",
            f"{u}r AS t_right",
            *[f"CAST(pr{r}_{k} AS BIGINT) AS pred_l{k + 1}" for k in range(4)],
            *_ada_round_sql(r),
        )
        for r, u in ((1, "t"), (2, "u"))
    )


# ---------------------------------------------------------------------------
# q_boosted_multifeat / q_boosted_mf_tree2 — 2-round exact AdaBoost of
# MULTI-FEATURE depth-1 / depth-2 Gini trees (round 14, VERDICT r13 #4):
# the multi-feature grower's rounds chained by q_boosted_tree2's
# rational reweighting — the structural form of the reference's
# XGBClassifier loop (train_model.py:69-80: boosted rounds over
# multi-feature trees) at the hash-checkable 2-round scale.
# ---------------------------------------------------------------------------


def _mf_split_names(depth: int) -> list[tuple[int, int]]:
    """(level, branch) of every split, root first."""
    return [(k, b) for k in range(depth) for b in range(2**k)]


def _mf_boost_sql(depth: int, br: str = "br") -> tuple[list, str, str]:
    """The boosting texts both engines share at ``depth``: the model
    row's leaves (lp{i}, ln{i}), and the accuracy cells' filter and
    round-2 leaf k2 over round 2's last fold keyed by branch ``br`` — a
    (branch, feat, val) row belongs to its branch's winning feature and
    goes left at its threshold."""
    k = depth - 1
    fs = [f"f{k}_{b}" for b in range(2**k)]
    ts = [f"t{k}_{b}" for b in range(2**k)]
    leaves = [(f"lp{i}", f"ln{i}") for i in range(2**depth)]
    return (
        leaves,
        f"feat = {_case_sql(br, fs)}",
        f"{br} * 2 + CASE WHEN val <= {_case_sql(br, ts)} THEN 0 ELSE 1 END",
    )


def _mf_terms(nleaf: int) -> list[tuple[str, str]]:
    """The two rounds' (alpha_j, h_j) over cells keyed by the rows'
    round-j leaf k{j}."""
    return [
        (
            _ada_alpha_sql(f"e{j}", f"d{j}"),
            "(" + _case_sql(f"k{j}", [f"pr{j}_{i}" for i in range(nleaf)]) + ")",
        )
        for j in (1, 2)
    ]


def _mf_boost_oracle(depth: int, splits, preds) -> str:
    """DuckDB twin of _mf_boost: two rounds of the grower's SQL chain,
    each closed by its model row m{r}; the (round-1 leaf, round-2 leaf)
    accuracy cells read off the last fold restricted to each branch's
    winning feature."""
    leaves, where, k2 = _mf_boost_sql(depth)
    parts = [f"WITH f AS ({_MF_BASE_SQL} FROM lineitem)"]
    for r in (1, 2):
        parts.append(_mf_grow_sql(depth, r))
        model = _ada_model_oracle(
            ", ".join(f"s{r}{j}" for j in range(depth)),
            leaves,
            "rp + rn",
            r,
            "BIGINT" if r == 1 else "HUGEINT",
            "HUGEINT" if r == 1 else None,
        )
        parts.append(f"m{r} AS MATERIALIZED ({model})")
    parts.append(
        f"cells AS (SELECT lf AS k1, {k2} AS k2, "
        "CAST(SUM(cnt) AS BIGINT) AS cnt, CAST(SUM(pos) AS BIGINT) AS pos "
        f"FROM g2{depth - 1}, m2 WHERE {where} GROUP BY 1, 2)"
    )
    acc = ", ".join(_ada_acc_sql(_mf_terms(len(leaves))))
    parts.append(f"acc AS (SELECT {acc} FROM cells, m1, m2)")
    rows = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS round, "
        + "".join(
            f"f{lk}_{b} AS {fn}, t{lk}_{b} AS {tn}, "
            for (lk, b), (fn, tn) in zip(_mf_split_names(depth), splits)
        )
        + "".join(f"CAST(pr{r}_{i} AS BIGINT) AS {p}, " for i, p in enumerate(preds))
        + f"{', '.join(_ada_round_sql(r))} FROM m{r}, acc"
        for r in (1, 2)
    )
    return ", ".join(parts) + " " + rows


def _mf_boost(
    spark: SparkSession, sf_dir: str, depth: int, splits, preds
) -> DataFrame:
    """Two AdaBoost rounds of the multi-feature grower at ``depth``,
    one row per round: the ``splits`` (feature, threshold) column
    pairs, the leaf sign ``preds``, w_err, alpha, acc. Round 1 grows on
    raw counts; round 2 re-routes every fact row through round 1's
    tree (its leaf lf) and weighs it by that leaf's multiplier. Each
    round's model row is checkpointed once. The accuracy cells read
    off round 2's materialized last fold: restricted to each branch's
    winning feature, its rows partition the fact table exactly once,
    lf is the round-1 leaf and the threshold test gives the round-2
    leaf — so accuracy costs no extra fact scan. A round with no model
    row (some branch did not pick) publishes no row; its successors
    publish none and the accuracies read NULL."""
    dec = "DECIMAL(38,0)"
    base = _mf_base(spark, sf_dir)
    # the depth-1 fold has no branch key: its one branch is 0
    leaves, where, k2 = _mf_boost_sql(depth, "br" if depth > 1 else "0")
    models = []
    for r in (1, 2):
        prev = models[-1] if models else None
        _picks, tree, fold = _mf_grow(base, depth, prev, keep=r == 2)
        models.append(
            _ada_model(
                tree,
                leaves,
                "rp + rn",
                r,
                "BIGINT" if r == 1 else dec,
                dec if r == 1 else None,
            ).localCheckpoint()
        )
    k = depth - 1
    splits2 = [f"{x}{k}_{b}" for x in "ft" for b in range(2**k)]
    cells = (
        fold.crossJoin(F.broadcast(models[1].select(*splits2)))
        .filter(F.expr(where))
        .groupBy(F.col("lf").alias("k1"), F.expr(k2).alias("k2"))
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("pos").cast("bigint").alias("pos"),
        )
    )
    for j, m in enumerate(models, 1):
        pr = [f"pr{j}_{i}" for i in range(len(leaves))]
        cells = cells.crossJoin(F.broadcast(m.select(*pr, f"e{j}", f"d{j}")))
    acc = cells.selectExpr(*_ada_acc_sql(_mf_terms(len(leaves))))
    return _union_all(
        acc.crossJoin(F.broadcast(m)).selectExpr(
            f"CAST({r} AS INT) AS round",
            *[
                c
                for (lk, b), (fn, tn) in zip(_mf_split_names(depth), splits)
                for c in (f"f{lk}_{b} AS {fn}", f"t{lk}_{b} AS {tn}")
            ],
            *[f"CAST(pr{r}_{i} AS BIGINT) AS {p}" for i, p in enumerate(preds)],
            *_ada_round_sql(r),
        )
        for r, m in enumerate(models, 1)
    )


_BMF_SPEC = (1, (("feat", "threshold"),), ("pred_left", "pred_right"))
_BMF2_SPEC = (
    2,
    (("feat_root", "t_root"), ("feat_left", "t_left"), ("feat_right", "t_right")),
    ("pred_l1", "pred_l2", "pred_l3", "pred_l4"),
)


@query(
    "q_boosted_multifeat",
    oracle=_mf_boost_oracle(*_BMF_SPEC),
    tags=("ml", "train", "boost"),
    eager=True,
)
def q_boosted_multifeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 2-round AdaBoost ensemble whose weak learner is a
    MULTI-FEATURE depth-1 stump: each round runs q_tree_multifeat's
    root split search (exact Gini argmin across all three published
    feature columns), and rounds are chained by q_boosted_tree2's
    rational reweighting — the multi-feature grower's depth-1
    two-round run (round 1 here IS q_tree_multifeat's root,
    test-pinned). Emits one row per round: winning feature, threshold,
    leaf sign predictions, weighted error, alpha, ensemble accuracy.

    Exactness: round-1 counts are the raw per-(feat,val) prefix
    integers; round-2 weights multiply each (branch, label) class by
    e1 (correct) or d1-e1 (misclassified) — the q_boosted_stumps
    rational trick — so every weighted cell, cum, total, and error is
    an exact DECIMAL(38,0)/HUGEINT integer (max magnitude d1^2 = n^2:
    headroom to n ~ 1e19). Split keys are the shared _wgini_sql
    text; argmins order by (key, feat, val); alphas are the documented
    LN house class (rounded, never compared to a threshold across
    engines except through the sign tests both engines evaluate on the
    same doubles). A perfect round 1 (e1 = 0, e.g. one class) gets a
    NULL alpha and leaves round 2 nothing to weigh: round 1 is
    published with NULL alpha and accuracy, round 2 not at all — on
    both engines.

    Scale: TWO fact passes — the honest R-pass shape for R boosting
    rounds over multi-feature learners (pass r's per-(feat,val) fold
    must condition on the previous stumps' branch bits, which no
    closed form over round-1 prefix tables can express for feat !=
    f1). Each pass is one stack-explode map-side-combined fold;
    prefix cums ride _mf_cum (DECIMAL-preserving); picks are top-1
    takes; all model state moves as broadcast 1-row tables,
    checkpointed once per round. The ensemble-accuracy fold costs NO extra fact scan (see
    _mf_boost).
    Eager by construction (the checkpointed model chain)."""
    return _mf_boost(spark, sf_dir, *_BMF_SPEC)


@query(
    "q_boosted_mf_tree2",
    oracle=_mf_boost_oracle(*_BMF2_SPEC),
    tags=("ml", "train", "boost"),
    eager=True,
)
def q_boosted_mf_tree2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 2-round AdaBoost ensemble whose weak learner is a
    DEPTH-2 MULTI-FEATURE greedy Gini tree — the FULL composition of
    the trainer ladder: every node of every round searches all three
    published feature columns exactly, and rounds chain by
    q_boosted_tree2's rational reweighting per round-1 LEAF (correct
    rows x e1, misclassified x d1−e1) — the multi-feature grower's
    depth-2 two-round run. Round 1 IS q_tree_multifeat's exact tree
    (test-pinned). This is the reference XGBClassifier loop's
    structure (train_model.py:69-80: boosted rounds over multi-feature
    trees) at the hash-checkable 2-round/depth-2 scale. Emits one row
    per round: the three (feature, threshold) splits, four leaf sign
    predictions, weighted error, alpha, ensemble accuracy.

    Exactness: round-1 counts are raw per-(branch, feat, val) prefix
    integers; round-2 weights are one of eight per-(leaf, class)
    integer multipliers, so every weighted cell, cum, total and error
    is an exact DECIMAL(38,0)/HUGEINT integer (magnitudes <= d1² = n²,
    headroom to n ~ 1e19). Split keys are the shared _wgini_sql text;
    argmins order by (key, feat, val); alphas are the LN house class
    (q_boosted_tree2 precedent); a perfect round 1 publishes as in
    q_boosted_multifeat.

    Scale: FOUR fact passes — R·depth for R rounds of depth-d
    multi-feature learners, the level-synchronous distributed-trainer
    schedule (each pass one stack-explode map-side-combined fold; no
    closed form can cross a feature boundary, so every (round, level)
    pair honestly costs one pass). Both child picks per level run in
    ONE per-branch struct-argmin job (the q_tree5 discipline); model
    state moves as broadcast 1-row tables; the ensemble-accuracy
    (leaf1, leaf2) joint reads off the checkpointed pass-4 fold — no
    extra fact scan. Off-HEADLINE with a recorded BASELINE floor (the
    q_dedup_funnel double-charging precedent: its member costs are
    already benched via q_tree_multifeat / q_boosted_multifeat /
    q_boosted_tree2). Eager by construction."""
    return _mf_boost(spark, sf_dir, *_BMF2_SPEC)


# ---------------------------------------------------------------------------
# q_xgb_round — ONE exact second-order (Newton) boosting round on the
# logistic objective (round 15, VERDICT r14 #1): the last algorithmic
# piece of the reference XGBClassifier loop (train_model.py:69-80,
# objective='binary:logistic', learning_rate=0.1, reg_lambda=1) not
# mirrored by the AdaBoost ladder. Starting from the published
# scorer's logit as the base margin (so p_i IS the 6-dp score), one
# round computes per-row gradients g = p - y and hessians h = p(1-p),
# searches all three features for the split maximizing the XGBoost
# gain G_L^2/(H_L+lambda) + G_R^2/(H_R+lambda) - G^2/(H+lambda), and
# emits the Newton leaf weights w = -G/(H+lambda) with shrinkage eta.
# ---------------------------------------------------------------------------

# XGBoost defaults mirrored from the reference config: reg_lambda = 1.0,
# learning_rate = 0.1 (train_model.py:69-80). Literals on both engines.

# the 6-dp published-score integer u = round(score*1e6): the base margin
_XGB_U_SQL = f"CAST(FLOOR(({SCORE_SQL}) * 1000000 + 0.5) AS BIGINT) AS u"


def _xgb_fold_sql(
    sfx: str, src: str | None = None, u: str = "u", key: str = ""
) -> str:
    """The Newton histogram CTE chain, every name suffixed ``sfx``:
    r (per-row exact integer gradient g = p - y in 1e-6 units and
    hessian h = p(1-p) in 1e-12 units — integer functions of the 6-dp
    margin integer column ``u``, no rounding anywhere), up (the
    per-feature unpivot), g (the per-(key, feat, val) HUGEINT fold),
    t (totals: the fact fold, or per key the g table's 'disc' slice —
    the exact closed form the Spark side uses) and c (prefix cums with
    the totals attached). ``src`` carries (label, disc, price, qty,
    ``key``, ``u``); without one the chain opens with the shared base
    CTE f: lineitem -> label, the 6-dp feature grid and the 6-dp score
    integer u (_xgb_base). The oracle form of
    _xgb_fold/_xgb_hist."""
    head = ""
    if src is None:
        src = "f"
        head = f"WITH f AS ({_MF_BASE_SQL}, {_XGB_U_SQL} FROM lineitem), "
    k = f"{key}, " if key else ""
    unpivot = " UNION ALL ".join(
        f"SELECT {k}'{f}' AS feat, {f} AS val, gu, hu FROM r{sfx}"
        for f in _MF_FEATS
    )
    if key:
        tot = (
            f"SELECT {key}, CAST(SUM(cnt) AS BIGINT) AS n, "
            "CAST(SUM(g) AS HUGEINT) AS gt, CAST(SUM(h) AS HUGEINT) AS ht "
            f"FROM g{sfx} WHERE feat = 'disc' GROUP BY {key}"
        )
        gt_join = f"g{sfx} JOIN t{sfx} USING ({key})"
    else:
        tot = (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(SUM(gu) AS HUGEINT) AS gt, "
            f"CAST(SUM(hu) AS HUGEINT) AS ht FROM r{sfx}"
        )
        gt_join = f"g{sfx}, t{sfx}"
    cums = ", ".join(
        f"CAST(SUM({m}) OVER (PARTITION BY {k}feat ORDER BY val) "
        f"AS HUGEINT) AS {o}"
        for m, o in (("cnt", "cum_n"), ("g", "cum_g"), ("h", "cum_h"))
    )
    return (
        head
        + f"r{sfx} AS (SELECT {k}label, disc, price, qty, "
        f"{', '.join(_xgb_gh_sql(u))} FROM {src}), "
        f"up{sfx} AS ({unpivot}), "
        f"g{sfx} AS (SELECT {k}feat, val, CAST(COUNT(*) AS BIGINT) AS cnt, "
        "CAST(SUM(gu) AS HUGEINT) AS g, "
        f"CAST(SUM(hu) AS HUGEINT) AS h FROM up{sfx} GROUP BY {k}feat, val), "
        f"t{sfx} AS ({tot}), "
        f"c{sfx} AS (SELECT {k}feat, val, {cums}, n, gt, ht FROM {gt_join})"
    )


def _xgb_gh_sql(u: str) -> list[str]:
    """The exact integer gradient gu = p − y in 1e-6 units and hessian
    hu = p(1 − p) in 1e-12 units of a row with 6-dp margin integer
    ``u`` (p = u/1e6) and 0/1 ``label``."""
    return [f"{u} - label * 1000000 AS gu", f"{u} * (1000000 - {u}) AS hu"]


def _newton_sql(
    cg: str = "cum_g", ch: str = "cum_h", gt: str = "gt", ht: str = "ht",
    grad=None,
) -> dict[str, str]:
    """The Newton split terms off exact integer sums — left cums
    ``cg``/``ch`` and totals ``gt``/``ht`` (g in 1e-6, h in 1e-12
    units): branch sums gl/hl/gr/hr as doubles, the argmin key
    −(GL²/(HL+λ) + GR²/(HR+λ)), the structure gain
    ½(GL²/(HL+λ) + GR²/(HR+λ) − G²/(H+λ)) and the shrunken leaf
    weights −G/(H+λ)·η (λ = 1, η = 0.1). ``grad`` maps each integer
    gradient sum (left, right, total) first — q_xgb_alpha's soft
    threshold."""
    g = grad or (lambda x: x)
    gl = f"CAST({g(cg)} AS DOUBLE) / 1000000"
    hl = f"CAST({ch} AS DOUBLE) / 1000000000000"
    gr = f"CAST({g(f'{gt} - {cg}')} AS DOUBLE) / 1000000"
    hr = f"CAST({ht} - {ch} AS DOUBLE) / 1000000000000"
    gtd = f"CAST({g(gt)} AS DOUBLE) / 1000000"
    htd = f"CAST({ht} AS DOUBLE) / 1000000000000"
    kl = f"(({gl}) * ({gl}) / (({hl}) + 1.0))"
    kr = f"(({gr}) * ({gr}) / (({hr}) + 1.0))"
    return {
        "gl": gl,
        "hl": hl,
        "gr": gr,
        "hr": hr,
        "key": f"(0.0 - ({kl} + {kr}))",
        "gain": f"0.5 * (({kl} + {kr}) - ({gtd}) * ({gtd}) / (({htd}) + 1.0))",
        "w_left": f"0.0 - 0.1 * ({gl}) / (({hl}) + 1.0)",
        "w_right": f"0.0 - 0.1 * ({gr}) / (({hr}) + 1.0)",
    }


def _newton_pick_cols_sql(grad=None, g_names=("g_left", "g_right")) -> list[str]:
    """A Newton pick's select items over a cum row (val, cum_n, n and
    the g/h sums): threshold, branch counts and the 6-dp terms of
    _newton_sql (``grad`` as there), the gradient sums published as
    ``g_names``."""
    t = _newton_sql(grad=grad)
    names = (g_names[0], "h_left", g_names[1], "h_right", "gain", "w_left", "w_right")
    terms = ("gl", "hl", "gr", "hr", "gain", "w_left", "w_right")
    return [
        "val AS threshold",
        "CAST(cum_n AS BIGINT) AS n_left",
        "CAST(n - cum_n AS BIGINT) AS n_right",
        *(sql_round(t[k], 6) + f" AS {n}" for k, n in zip(terms, names)),
    ]


# a cum row is a split candidate: it leaves a row on the right
_XGB_CAND_SQL = "cum_n < n"


def _xgb_pick_sql(
    rnd: int | None,
    src: str,
    node: str | None = None,
    where: str = "",
    feat: str = "feat",
    grad=None,
    g_names: tuple[str, str] = ("g_left", "g_right"),
) -> str:
    """One Newton pick as SQL over a cum CTE ``src`` carrying
    (feat, val, cum_n, cum_g, cum_h, n, gt, ht): the gain-key argmin
    over the candidates with cum_n < n (and ``where``), tie-broken by
    (key, feat, val). ``node``/``rnd`` label tree-node and
    boosting-round outputs; ``feat`` may add columns after feat;
    ``grad``/``g_names`` as in _newton_pick_cols_sql. The
    oracle form of _newton_take."""
    head = (f"'{node}' AS node, " if node is not None else "") + (
        f"CAST({rnd} AS INT) AS round, " if rnd is not None else ""
    )
    cond = _XGB_CAND_SQL + (f" AND ({where})" if where else "")
    return (
        f"SELECT {head}{feat}, "
        + ", ".join(_newton_pick_cols_sql(grad, g_names))
        + f" FROM {src} WHERE {cond} ORDER BY {_newton_sql(grad=grad)['key']}, "
        "feat, val LIMIT 1"
    )


def _xgb_step_sql(u: str, w: str) -> str:
    """One margin step on the 6-dp margin integer ``u``:
    round(sigmoid(logit(u/1e6) + w)·1e6)."""
    sig = sql_sigmoid(f"LN(CAST({u} AS DOUBLE) / (1000000 - {u})) + ({w})")
    return f"CAST(FLOOR(({sig}) * 1000000 + 0.5) AS BIGINT)"


def _xgb_update_sql(u: str, w: str) -> str:
    """_xgb_step_sql with saturated margins (u = 0 or 1e6) kept as they
    are."""
    return (
        f"CASE WHEN {u} = 0 OR {u} = 1000000 THEN {u} "
        f"ELSE {_xgb_step_sql(u, w)} END"
    )


# Exact integer g/h sums WITHOUT Decimal aggregation (round 17,
# VERDICT r16 #6 — the bounded-width integer encoding, with the
# overflow-safety proof at the 100 TB row count N <= 1e12):
#
# * gu = u - label*1e6, so |gu| <= 1e6 per row and |SUM(gu)| <=
#   1e6 * N = 1e18 < 2^63-1 = 9.22e18 — BIGINT-safe through
#   N = 9.2e12 rows with >9x headroom at 1e12. The bound holds for
#   every partial sum too (a partial sums a subset), so it is
#   task-layout independent.
# * hu = u*(1e6-u) <= 2.5e11 per row — BIGINT sums overflow past
#   3.7e7 rows, which is why round 15 used DECIMAL(38,0). Instead,
#   split per ROW: hi = hu div 2^18 (<= 953675), lo = hu mod 2^18
#   (< 262144). SUM(hi) <= 9.54e17 and SUM(lo) <= 2.62e17 at
#   N = 1e12 — both BIGINT-safe with >9x headroom, every partial
#   included — and SUM(hu) = SUM(hi)*2^18 + SUM(lo) EXACTLY
#   (per-row integer identity, summed). The recombination runs in
#   DECIMAL(38,0) on the bounded aggregate table (one multiply-add
#   per group), so the emitted column is the same DECIMAL(38,0)
#   value and type as before — every downstream consumer
#   (prefix cums, the integer cover/monotone gates, the oracle
#   comparison) is bit-identical.
# * The bound is enforced at runtime: session.get_spark pins ANSI mode
#   (the Spark 4 default), under which a BIGINT SUM overflow raises
#   ARITHMETIC_OVERFLOW instead of wrapping. Only a caller session with
#   ANSI turned off could wrap silently past the bound.
#
# Measured (r17, interleaved A/B at sf0.1): the (feat,val) histogram
# pass drops ~25-30% (1.4-1.8 s -> 1.0-1.3 s warm) because the hash
# aggregate runs on BIGINT instead of Decimal128 buffers; the shuffle
# also narrows (3 BIGINTs = 24 B vs 2 Decimals = 32 B per cell).
# The DuckDB oracles are untouched (they always summed in HUGEINT).

_HU_SPLIT = 262144  # 2^18


def _sum_gu_dec(col: str) -> F.Column:
    """Exact SUM of the 1e-6-unit gradient integers as DECIMAL(38,0),
    aggregated in BIGINT (proof above: safe through 9.2e12 rows)."""
    return F.sum(col).cast("decimal(38,0)")


def _sum_hu_dec(col: str) -> F.Column:
    """Exact SUM of the 1e-12-unit hessian integers as DECIMAL(38,0),
    via the two-column BIGINT hi/lo split (proof above)."""
    return (
        F.sum(F.expr(f"{col} div {_HU_SPLIT}")).cast("decimal(38,0)")
        * _HU_SPLIT
        + F.sum(F.expr(f"{col} % {_HU_SPLIT}"))
    ).cast("decimal(38,0)")


def _xgb_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> (label, disc, price, qty, u): the _mf_base feature
    grid plus the 6-dp published-score integer u = round(score*1e6) —
    the shared input of the Newton boosting rounds (the oracles' base
    CTE f)."""
    return _mf_base(spark, sf_dir, _XGB_U_SQL)


def _xgb_gh(base: DataFrame, ucol: str = "u") -> DataFrame:
    """(label, feats, u*) -> (label, feats, gu, hu): the exact integer
    gradient/hessian encodings off the 6-dp margin integer."""
    return base.selectExpr("label", "disc", "price", "qty", *_xgb_gh_sql(ucol))


def _xgb_hist(rows: DataFrame, keys: tuple = ()) -> tuple[DataFrame, DataFrame]:
    """(g, c) of (keys, label, feats, gu, hu) rows: the stack-explode
    per-(keys, feat, val) exact g/h histogram and its _mf_cum prefix
    sums (cum_n, cum_g, cum_h) per (keys, feat)."""
    g = (
        _mf_unpivot(rows, [*keys, "gu", "hu"])
        .groupBy(*keys, "feat", "val")
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            _sum_gu_dec("gu").alias("g"),
            _sum_hu_dec("hu").alias("h"),
        )
    )
    c = _mf_cum(
        g,
        [*keys, "feat"],
        out_cast="decimal(38,0)",
        measures=(("cnt", "cum_n"), ("g", "cum_g"), ("h", "cum_h")),
    )
    return g, c


def _xgb_fold(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(label, feats, gu, hu) -> (c, tot): the 3-scalar totals fold
    (n, gt, ht) and the _xgb_hist prefix sums with the totals
    broadcast onto every row."""
    tot = base.agg(
        F.count("*").cast("bigint").alias("n"),
        _sum_gu_dec("gu").alias("gt"),
        _sum_hu_dec("hu").alias("ht"),
    )
    _g, c = _xgb_hist(base)
    return c.crossJoin(F.broadcast(tot)), tot


def _newton_take(
    cand: DataFrame,
    head: tuple = (),
    feat: tuple = ("feat",),
    grad=None,
    g_names: tuple[str, str] = ("g_left", "g_right"),
) -> DataFrame:
    """The gain-key TakeOrdered(1) over candidate cum rows by the
    (key, feat, val) tie-break, projected to the pick schema: ``head``
    items, ``feat`` items, then _newton_pick_cols_sql's (``grad``/``g_names``
    as there) — _xgb_pick_sql's text."""
    return (
        cand.withColumn("key", F.expr(_newton_sql(grad=grad)["key"]))
        .orderBy("key", "feat", "val")
        .limit(1)
        .selectExpr(*head, *feat, *_newton_pick_cols_sql(grad, g_names))
    )


# ---------------------------------------------------------------------------
# The Newton grower: one level-wise histogram tree per boosting round
# (the XGBoost paper's split finding, Chen & Guestrin KDD 2016 §3.3),
# written once per engine at depth 1 or 2:
# - q_xgb_round is its (depth 1, 1 round) run, q_xgb_round2 (1, 2);
# - q_xgb_tree2 is (2, 1), q_xgb_boosted_tree2 (2, 2);
# - q_xgb_fit reads its two picks from the (1, 2) run.
# A depth-1 tree is the root pick. A depth-2 tree routes every row
# through the root split and picks again inside each branch off the
# per-(branch, feature) histogram, with exact branch totals as the
# parent terms. Between rounds the tree's leaf text updates the 6-dp
# margin integer, and the next round re-derives g/h off it.
# ---------------------------------------------------------------------------


def _xgb_branch_picks(c2: DataFrame) -> DataFrame:
    """Both child picks in ONE per-branch struct-argmin job over the
    per-(br, feat) cum rows with their branch totals (n, gt, ht):
    (br, key, feat, val, cum_n, cum_g, cum_h, n, gt, ht)."""
    key = F.expr(_newton_sql()["key"]).alias("key")
    return (
        c2.filter(_XGB_CAND_SQL)
        .groupBy("br")
        .agg(
            F.min(
                F.struct(key, "feat", "val", "cum_n", "cum_g", "cum_h", "n", "gt", "ht")
            ).alias("s")
        )
        .select("br", "s.*")
    )


def _xgb_children(picks: DataFrame, head: tuple = ()) -> DataFrame:
    """The _xgb_branch_picks rows in the pick schema, node left/right."""
    return picks.selectExpr(
        *head,
        "CASE WHEN br = 0 THEN 'left' ELSE 'right' END AS node",
        "feat",
        *_newton_pick_cols_sql(),
    )


# a branch's own Newton weight off its totals (gt, ht): the left weight
# of a split that keeps the whole branch on its left
_XGB_BRANCH_W_SQL = sql_round(_newton_sql("gt", "ht")["w_left"], 6)

# a fact row's branch under the root pick (feat, threshold): 0 = left
_XGB_ROUTE_SQL = _mf_split_sql("feat", "threshold", "0", "1", "")

# a depth-2 tree's published child row as its branch's leaf split
_XGB_CHILD_LEAF_ITEMS = (
    "CASE WHEN node = 'left' THEN 0 ELSE 1 END AS br",
    "feat AS cfeat", "threshold AS ct", "w_left AS cwl", "w_right AS cwr",
)

# the leaf weight a fact row takes from a tree: at depth 1 the root
# pick's (feat, threshold, w_left, w_right); at depth 2 its branch's
# child pick (cfeat, ct, cwl, cwr), or the branch's own weight wb when
# the branch has no split (no candidate: never on the shipped data)
_XGB_LEAF_SQL = {
    1: _mf_split_sql("feat", "threshold", "w_left", "w_right", ""),
    2: "CASE WHEN cfeat IS NULL THEN wb ELSE "
    + _mf_split_sql("cfeat", "ct", "cwl", "cwr", "")
    + " END",
}


def _xgb_margin_items(u: str, depth: int, out: str) -> list[str]:
    """A margin step's fact items: label, features and the next 6-dp
    margin integer ``out`` off ``u`` plus the row's leaf weight in the
    depth-``depth`` tree — round(sigmoid(logit(u/1e6) + w)·1e6),
    saturated margins kept."""
    step = _xgb_update_sql(u, _XGB_LEAF_SQL[depth])
    return ["label", "disc", "price", "qty", f"{step} AS {out}"]


def _xgb_boost(
    base: DataFrame, depth: int, rounds: int, keep=None
) -> list[DataFrame]:
    """Grows one exact Newton tree of ``depth`` (1 or 2) per round over
    the _xgb_base rows and returns each round's published rows: one
    pick row per node, labeled with the round when there is more than
    one, and at depth 2 with the node (root/left/right; a branch with
    no splittable candidate emits no row). Each round re-derives the
    exact g/h integers off the current 6-dp margin integer; between
    rounds _xgb_margin_items steps the margin by the tree's leaf.
    ``keep`` materializes a pick or branch-total table that a later
    pass of the same query reads (the eager callers pass
    localCheckpoint; the one-round depth-1 tree reads none). The
    oracle form is _xgb_boost_sql."""
    trees, u = [], "u"
    for r in range(1, rounds + 1):
        more = r < rounds
        kept = keep if more else (lambda t: t)
        lab = (f"CAST({r} AS INT) AS round",) if rounds > 1 else ()
        c, _tot = _xgb_fold(_xgb_gh(base, u))
        pick = _newton_take(c.filter(_XGB_CAND_SQL), lab if depth == 1 else ())
        if depth == 1:
            tree = kept(pick)
        else:
            root = keep(pick)
            routed = base.crossJoin(
                F.broadcast(root.select("feat", "threshold"))
            ).withColumn("br", F.expr(_XGB_ROUTE_SQL))
            g2, c2 = _xgb_hist(
                routed.selectExpr(
                    "label", "disc", "price", "qty", "br", *_xgb_gh_sql(u)
                ),
                ("br",),
            )
            # exact branch totals off the 'disc' slice (a closed form —
            # never the rounded root-row doubles)
            bt = kept(
                g2.filter("feat = 'disc'")
                .groupBy("br")
                .agg(
                    F.sum("cnt").cast("bigint").alias("n"),
                    F.sum("g").cast("decimal(38,0)").alias("gt"),
                    F.sum("h").cast("decimal(38,0)").alias("ht"),
                )
            )
            children = _xgb_children(
                kept(_xgb_branch_picks(c2.join(F.broadcast(bt), "br"))), lab
            )
            tree = root.selectExpr(*lab, "'root' AS node", "*").unionAll(children)
        trees.append(tree)
        if not more:
            break
        if depth == 1:
            cols = ("feat", "threshold", "w_left", "w_right")
            rows = base.crossJoin(F.broadcast(tree.select(*cols)))
        else:
            cp = children.selectExpr(*_XGB_CHILD_LEAF_ITEMS)
            wb = bt.selectExpr("br", _XGB_BRANCH_W_SQL + " AS wb")
            rows = routed.join(F.broadcast(cp), "br", "left").join(
                F.broadcast(wb), "br", "left"
            )
        base = rows.selectExpr(*_xgb_margin_items(u, depth, f"u{r + 1}"))
        u = f"u{r + 1}"
    return trees


def _xgb_boost_sql(depth: int, rounds: int, tail: str = "") -> str:
    """DuckDB twin of _xgb_boost: round r's fold CTEs carry the suffix
    r (depth 2 adds the per-(branch, feature) fold rb -> r{r}b..c{r}b,
    branch totals off its 'disc' slice), its MATERIALIZED picks are
    p{r} at depth 1 and pr, lp, rp at depth 2, tagged a, b, ... when
    there is more than one round; the margin update writes f{r+1} with
    margin u{r+1}
    (depth 2: LEFT JOIN on the branch's child pick cp and fallback
    weight fb). The query publishes every pick, or runs ``tail`` after
    the chain."""
    parts, pubs, src, u = [], [], None, "u"
    for r in range(1, rounds + 1):
        s, t = str(r), "" if rounds == 1 else chr(ord("a") + r - 1)
        rnd = r if rounds > 1 else None
        node = "root" if depth == 2 else None
        root = f"p{r}" if depth == 1 else f"pr{t}"
        parts += [
            _xgb_fold_sql(s, src, u),
            f"{root} AS MATERIALIZED ({_xgb_pick_sql(rnd, f'c{s}', node)})",
        ]
        pubs.append(root)
        rows = f"{src or 'f'}, {root}"
        if depth == 2:
            parts += [
                f"rb{t} AS (SELECT f.*, {_XGB_ROUTE_SQL} AS br "
                f"FROM {src or 'f'} AS f, pr{t})",
                _xgb_fold_sql(f"{s}b", f"rb{t}", u, key="br"),
            ]
            for b, side in enumerate(("left", "right")):
                pick = _xgb_pick_sql(rnd, f"c{s}b", side, where=f"br = {b}")
                parts.append(f"{side[0]}p{t} AS MATERIALIZED ({pick})")
                pubs.append(f"{side[0]}p{t}")
            rows = f"rb{t} LEFT JOIN cp{t} USING (br) LEFT JOIN fb{t} USING (br)"
        if r == rounds:
            break
        if depth == 2:
            parts += [
                f"cp{t} AS (SELECT {', '.join(_XGB_CHILD_LEAF_ITEMS)} FROM "
                f"(SELECT * FROM lp{t} UNION ALL SELECT * FROM rp{t}))",
                f"fb{t} AS (SELECT br, {_XGB_BRANCH_W_SQL} AS wb FROM t{s}b)",
            ]
        items = ", ".join(_xgb_margin_items(u, depth, f"u{r + 1}"))
        parts.append(f"f{r + 1} AS (SELECT {items} FROM {rows})")
        src, u = f"f{r + 1}", f"u{r + 1}"
    return ", ".join(parts) + (
        tail or " SELECT * FROM " + " UNION ALL SELECT * FROM ".join(pubs)
    )


@query(
    "q_xgb_round",
    oracle=_xgb_boost_sql(1, 1),
    tags=("ml", "train", "boosting"),
)
def q_xgb_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Newton (second-order) boosting round on the logistic
    objective — the algorithmic core of the reference's
    XGBClassifier(objective='binary:logistic', learning_rate=0.1)
    (train_model.py:69-80) that AdaBoost reweighting does not express.
    The published scorer's logit is the base margin, so p_i is exactly
    the 6-dp score: per-row gradient g_i = p_i - y_i and hessian
    h_i = p_i(1-p_i) are INTEGER functions of the score integer
    u = round(score*1e6) — g in 1e-6 units (u - y*1e6), h in 1e-12
    units (u*(1e6-u)) — with no rounding anywhere. The split search
    maximizes the XGBoost structure-score gain
    G_L^2/(H_L+lambda) + G_R^2/(H_R+lambda) - G^2/(H+lambda) over all
    three published feature columns (the q_tree_multifeat candidate
    grid), lambda = 1 (the library default the reference inherits);
    leaf weights are the Newton step w = -G/(H+lambda) scaled by the
    reference's learning_rate 0.1. One row out: winning (feat,
    threshold), exact branch counts, the G/H sums, gain, and both
    shrunken leaf weights — the grower's one-round depth-1 tree.

    Exactness: all sufficient statistics (per-(feat,val) counts and
    g/h sums, their prefix cums, and the totals) are EXACT integers —
    DECIMAL(38,0) on Spark, HUGEINT on DuckDB (per-row |gu| <= 1e6 and
    hu <= 2.5e11, so sums stay exact past 1e12 rows on both engines);
    the gain key and all emitted doubles are computed from those
    integers with IDENTICAL expression text, and the argmin ORDER BY
    (key, feat, val) is the q_tree_multifeat tie-break. Feature values
    and the score are 6-dp pround-ed BEFORE grouping so distinct/tie
    structure matches DuckDB's.

    Scale: ONE stack-explode fact pass (3x rows, map-side-combined
    before the only shuffle on (feat, val)) + one 3-scalar fact fold
    for the totals; prefix cums ride _mf_cum; the pick is
    TakeOrdered(1) over the bounded distinct-value table. Adding rounds
    costs one such pass each with the margin updated by the compiled
    leaf CASE — the exact
    distributed-XGBoost histogram shape at 100 TB."""
    return _xgb_boost(_xgb_base(spark, sf_dir), 1, 1)[0]


# ---------------------------------------------------------------------------
# q_xgb_round2 — TWO shrinkage-chained Newton rounds (round 15,
# VERDICT r14 #7d): round 1 is exactly q_xgb_round's pick
# (test-pinned); the margin is then updated by the compiled leaf CASE
# (logit(p) + the picked 6-dp leaf weight) and round 2 re-derives
# g/h off the new 6-dp margin integer and searches again — the
# reference XGBoost loop's actual iteration, one level-synchronous
# histogram pass per round.
# ---------------------------------------------------------------------------


def _xgb_round2_oracle() -> str:
    """DuckDB twin of the 2-round chain: round-1 CTEs are the
    q_xgb_round oracle's verbatim; the MATERIALIZED pick drives the
    margin update; round-2 repeats the fold on u2."""
    return _xgb_boost_sql(1, 2)


@query(
    "q_xgb_round2",
    oracle=_xgb_round2_oracle(),
    tags=("ml", "train", "boosting"),
    eager=True,
)
def q_xgb_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO shrinkage-chained exact Newton boosting rounds — the
    reference XGBoost loop's actual iteration
    (train_model.py:69-80: each tree fits g/h of the CURRENT margin,
    margins chain with learning_rate 0.1). Round 1 is exactly
    q_xgb_round's pick (test-pinned equal); the margin then updates by
    the compiled leaf CASE — logit(p) + the picked 6-dp leaf weight,
    i.e. m2 = LN(u/(1e6-u)) + w with the score integer u — and round 2
    re-derives the g/h integers off the new 6-dp margin integer
    u2 = round(sigmoid(m2)*1e6) and searches all three features again.
    Two rows out (round, feat, threshold, counts, G/H, gain, both leaf
    weights).

    Exactness: the round-1 machinery is q_xgb_round's verbatim (the
    grower's depth-1 round); the margin update uses LN/EXP of exact
    integer ratios plus the 6-dp picked weight with IDENTICAL
    expression text on both engines (the documented LN/EXP house
    class — mitigated by the 6-dp re-rounding of u2 and swept at
    sf0.001/0.01/0.1); saturated rows (u = 0 or 1e6, impossible for
    the published scorer whose logit spans ±2 but guarded anyway)
    stay saturated on both engines. All round-2 sufficient statistics
    are again exact DECIMAL(38,0)/HUGEINT integers.

    Scale: TWO stack-explode fact passes + two 3-scalar totals folds —
    one level-synchronous histogram pass per round, the honest R-pass
    boosting cost (the q_boosted_multifeat precedent); the round-1
    pick is a localCheckpoint'd 1-row broadcast (eager by
    construction, the registry eager contract). R more rounds cost
    one pass each."""
    return _union_all(
        _xgb_boost(_xgb_base(spark, sf_dir), 1, 2, lambda t: t.localCheckpoint())
    )


# ---------------------------------------------------------------------------
# q_xgb_fit — log-likelihood improvement of the Newton rounds (round
# 15, 6th widening): q_pseudo_r2 found the published scorer's raw
# likelihood fits WORSE than the base-rate null (McFadden ~ -0.08 —
# it ranks well but is over-confident); the Newton rounds exist to
# fix exactly that. This query MEASURES the fix: the Bernoulli LL of
# the base margin, after round 1, and after round 2, over one common
# row subset — the trainer's objective read back as a metric.
# ---------------------------------------------------------------------------


def _xgb_ll_sql(u: str) -> str:
    """A (cnt, pos) cell's Bernoulli log-likelihood at the 6-dp margin
    integer ``u``, in 1e-9 fixed-point units."""
    return (
        "CAST(FLOOR((CAST(pos AS DOUBLE) "
        f"* LN(CAST({u} AS DOUBLE) / 1000000) "
        "+ CAST(cnt - pos AS DOUBLE) "
        f"* LN(CAST(1000000 - {u} AS DOUBLE) / 1000000)) "
        "* 1000000000 + 0.5) AS BIGINT)"
    )


# (margin column, LL sum) of the base margin and the two rounds
_XGB_LL_COLS = (("u", "llb"), ("u2", "ll1"), ("u3", "ll2"))


def _xgb_live_sql(u: str) -> str:
    """The 6-dp margin integer ``u`` is not saturated (LN-safe)."""
    return f"{u} > 0 AND {u} < 1000000"


# the per-cell margin steps: (margin, branch bit, round pick, next margin)
_XGB_FIT_STEPS = (("u", "b1", "p1", "u2"), ("u2", "b2", "p2", "u3"))

# a fact row's (u, b1, b2, label) cell: the branch bits of the two
# round picks, evaluated on the original features
_XGB_FIT_CELL_ITEMS = [
    "CAST(u AS BIGINT) AS u",
    *(
        _mf_split_sql(f"{p}.feat", f"{p}.threshold", "1", "0", "") + f" AS {b}"
        for _u, b, p, _out in _XGB_FIT_STEPS
    ),
    "label",
]


def _xgb_fit_step_sql(u: str, b: str, p: str, out: str) -> str:
    """A cell's next 6-dp margin integer ``out``: ``u`` stepped by the
    leaf weight of round pick ``p`` on the cell's branch bit ``b``."""
    w = f"CASE WHEN {b} = 1 THEN {p}.w_left ELSE {p}.w_right END"
    return f"{_xgb_step_sql(u, w)} AS {out}"


def _xgb_fit_cols_sql() -> list[str]:
    """q_xgb_fit's published items off the exact LL sums."""
    ll = {o: f"CAST({o} AS DOUBLE) / 1000000000" for _, o in _XGB_LL_COLS}
    return ["n"] + [
        sql_round(x, 6) + f" AS {name}"
        for x, name in (
            (ll["llb"], "ll_base"),
            (ll["ll1"], "ll_round1"),
            (ll["ll2"], "ll_round2"),
            (f"{ll['ll1']} - {ll['llb']}", "delta_round1"),
            (f"{ll['ll2']} - {ll['ll1']}", "delta_round2"),
        )
    ]


def _xgb_fit_oracle(tail: str = "") -> str:
    """DuckDB twin: the q_xgb_round2 pick chain (p1, p2
    MATERIALIZED), then ONE fact fold to the bounded (u, b1, b2) cell
    table; u2/u3 and the three LL terms are closed forms per cell.
    ``tail`` replaces the LL fold after the live cell table s3v."""
    step1, step2 = (_xgb_fit_step_sql(*st) for st in _XGB_FIT_STEPS)
    return _xgb_boost_sql(
        1,
        2,
        # ONE fact fold to the bounded (u, b1, b2) cell table; branch
        # bits evaluated on the original features (trees split on
        # features); u must be LN-safe before anything downstream
        f", v AS (SELECT {', '.join(_XGB_FIT_CELL_ITEMS)} FROM f, p1, p2 "
        f"WHERE {_xgb_live_sql('u')}), "
        f"cells AS (SELECT u, b1, b2, {_COUNTS_SQL} FROM v GROUP BY u, b1, b2), "
        f"s2 AS (SELECT cells.*, {step1} FROM cells, p1 WHERE TRUE), "
        f"s2v AS (SELECT * FROM s2 WHERE {_xgb_live_sql('u2')}), "
        f"s3 AS (SELECT s2v.*, {step2} FROM s2v AS s2v, p2), "
        f"s3v AS (SELECT * FROM s3 WHERE {_xgb_live_sql('u3')})"
        + (
            tail
            or ", m AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, "
            + ", ".join(
                f"CAST(SUM({_xgb_ll_sql(u)}) AS HUGEINT) AS {o}"
                for u, o in _XGB_LL_COLS
            )
            + " FROM s3v) "
            f"SELECT {', '.join(_xgb_fit_cols_sql())} FROM m"
        ),
    )


@query(
    "q_xgb_fit",
    oracle=_xgb_fit_oracle(),
    tags=("ml", "train", "boosting", "calibration"),
    eager=True,
)
def q_xgb_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-likelihood improvement of the Newton boosting rounds — the
    trainer's objective read back as a metric. q_pseudo_r2 surfaced
    the round-14 finding that the published scorer's raw likelihood
    fits WORSE than the base-rate null (McFadden ~ -0.08: ranks well,
    over-confident); second-order boosting on the logistic objective
    is the reference loop's mechanism for fixing exactly that. One
    row: the Bernoulli LL of the base margin, after round 1, and
    after round 2 (both picks the exact q_xgb_round2 chain), plus the
    per-round deltas — each round MUST increase LL (it Newton-steps
    the same objective), and the deltas quantify by how much.

    Exactness: both picks are the grower's (1, 2) run (hash-exact);
    the fact table folds ONCE to the bounded
    (u, b1, b2) cell table (<=4x the 6-dp score domain — b1/b2 are
    the two branch bits, evaluated on the original features), and
    u2/u3/all three LL terms are closed forms per cell: LN of exact
    integer ratios (the LN house class), folded to 1e-9 units per
    cell BEFORE the sums (fixed_sum rule), DECIMAL(38,0)/HUGEINT
    accumulation. Rows whose margin saturates at any stage (u, u2 or
    u3 in {0, 1e6} — impossible for the published scorer, guarded
    anyway) are excluded by identical staged predicates on both
    engines, so all three LLs cover ONE common subset.

    Scale: the q_xgb_round2 cost (two histogram passes) + ONE more
    map-side-combinable fact fold to the bounded cell table + a
    4-scalar fold. No fact-scale window, no join beyond broadcast
    1-row model tables."""
    base = _xgb_base(spark, sf_dir)
    dec = "decimal(38,0)"
    keep = lambda t: t.localCheckpoint()  # noqa: E731
    p1, p2 = _xgb_boost(base, 1, 2, keep)
    # the round-2 pick is read by the cell fold below
    picks = {"p1": p1, "p2": keep(p2)}
    v = base
    for name, pick in picks.items():
        v = v.crossJoin(F.broadcast(pick.alias(name)))
    s = (
        v.filter(_xgb_live_sql("u"))
        .selectExpr(*_XGB_FIT_CELL_ITEMS)
        .groupBy("u", "b1", "b2")
        .agg(*map(F.expr, _COUNT_ITEMS))
    )
    cols = ["u", "b1", "b2", "cnt", "pos"]
    for u, b, p, out in _XGB_FIT_STEPS:
        s = (
            s.crossJoin(F.broadcast(picks[p].alias(p)))
            .selectExpr(*cols, _xgb_fit_step_sql(u, b, p, out))
            .filter(_xgb_live_sql(out))
        )
        cols.append(out)
    # the per-cell 1e-9 units sum in DECIMAL(38,0), the oracle's HUGEINT
    m = s.selectExpr(
        "CAST(SUM(cnt) AS BIGINT) AS n",
        *[
            f"CAST(SUM(CAST({_xgb_ll_sql(u)} AS {dec})) AS {dec}) AS {o}"
            for u, o in _XGB_LL_COLS
        ],
    )
    return m.selectExpr(*_xgb_fit_cols_sql())


# ---------------------------------------------------------------------------
# q_xgb_tree2 — exact Newton DEPTH-2 tree (round 15, 8th widening):
# q_tree_multifeat grows a depth-2 tree by GINI; the reference's
# XGBClassifier grows its depth-5 trees by the second-order GAIN.
# This is that growth rule at hash-checkable depth: the q_xgb_round
# root pick, then per-branch gain searches over all three features,
# four Newton leaf weights.
# ---------------------------------------------------------------------------


@query(
    "q_xgb_tree2",
    oracle=_xgb_boost_sql(2, 1),
    tags=("ml", "train", "boosting", "split"),
    eager=True,
)
def q_xgb_tree2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Newton DEPTH-2 tree — the reference XGBClassifier's tree
    GROWTH RULE (max gain of GL²/(HL+λ)+GR²/(HR+λ)−GB²/(HB+λ) at every
    node, leaf weights −G/(H+λ)·η) at hash-checkable depth, closing
    the Gini-vs-gain delta q_tree_multifeat left: same two-pass
    level-synchronous schedule, second-order split criterion. Root =
    exactly q_xgb_round's pick (test-pinned); both children search all
    three features WITHIN their branch with branch totals as the
    parent terms. Up to 3 rows (root/left/right), each with exact
    branch counts, rounded G/H sums, the node's structure gain, and
    both shrunken Newton leaf weights (the children's four w's are the
    depth-2 tree's leaf values).

    Exactness: all sufficient statistics are exact DECIMAL(38,0)/
    HUGEINT integers; branch totals are recomputed from the
    per-(branch, feature) cell table's 'disc' slice (an exact closed
    form — never the rounded root-row doubles); gain keys and emitted
    doubles use IDENTICAL expression text; per-branch argmins are the
    (key, feat, val) tie-break; a branch with no splittable candidate
    emits no row on both engines.

    Scale: TWO stack-explode fact passes (root + children — the
    q_tree_multifeat d+1 schedule with Newton statistics) + one
    3-scalar totals fold; per-(branch, feature) prefix cums by
    _mf_cum; both child picks ride ONE per-branch
    struct-argmin job (the q_boosted_mf_tree2 pattern). Depth d costs
    d+1 passes — the distributed XGBoost histogram schedule."""
    return _xgb_boost(
        _xgb_base(spark, sf_dir), 2, 1, lambda t: t.localCheckpoint()
    )[0]


# ---------------------------------------------------------------------------
# q_xgb_boosted_tree2 — TWO shrinkage-chained Newton rounds of DEPTH-2
# trees (round 16, VERDICT r15 #1): the reference XGBClassifier's
# actual iteration — boosted TREES, not stumps
# (train_model.py:69-80) — at the next hash-checkable
# rung. Round 1 is exactly q_xgb_tree2's tree (test-pinned); margins
# update by the compiled 4-leaf CASE (with the branch's own Newton
# weight as the no-split fallback — totality, never hit on shipped
# data); round 2 re-derives exact g/h integers off the new 6-dp margin
# and grows a second depth-2 tree. R*(d+1) = 4 stack-explode fact
# passes — the distributed-XGBoost histogram schedule.
# ---------------------------------------------------------------------------


def _xgb_boosted_tree2_oracle() -> str:
    """DuckDB twin of the 2-round depth-2 chain: tree-1 CTEs are the
    q_xgb_tree2 oracle's text (round/node-labeled picks MATERIALIZED),
    the margin update is the q_xgb_round2 text with the 4-leaf CASE
    (LEFT JOIN on the branch pick, branch-weight fallback), tree 2
    repeats the fold on u2."""
    return _xgb_boost_sql(2, 2)


@query(
    "q_xgb_boosted_tree2",
    oracle=_xgb_boosted_tree2_oracle(),
    tags=("ml", "train", "boosting", "split"),
    eager=True,
)
def q_xgb_boosted_tree2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO shrinkage-chained Newton rounds of DEPTH-2 trees — the
    reference XGBClassifier's genuine iteration (boosted TREES on the
    logistic objective, train_model.py:69-80) composed from the
    round-15 ladder: q_xgb_tree2's exact tree as round 1 (test-pinned
    equal), margins updated by the compiled 4-leaf CASE
    (logit(u/1e6) + the row's 6-dp leaf weight, saturation-guarded;
    a branch with no splittable candidate falls back to its own
    shrunken Newton weight −G_b/(H_b+λ)·η — totality, never hit on
    shipped data), then a SECOND depth-2 tree grown by the same
    second-order gain rule off the new 6-dp margin integer. Six rows
    out: (round, node) ∈ {1,2}×{root,left,right} with exact branch
    counts, rounded G/H sums, structure gain, and both shrunken Newton
    leaf weights. Remaining delta to the reference trainer is SIZE
    only (depth 2 vs 5, rounds 2 vs 100), not shape.

    Exactness: all sufficient statistics are exact DECIMAL(38,0)/
    HUGEINT integers; branch totals recomputed from the cell table's
    'disc' slice (exact closed form); the margin update is LN/EXP of
    exact integer ratios plus 6-dp picked weights with IDENTICAL
    expression text on both engines (the documented LN/EXP house
    class — mitigated by 6-dp re-rounding of u2 and swept at
    sf0.001/0.01/0.1); per-node argmins are the (key, feat, val)
    tie-break; the 4-leaf CASE routes by LEFT JOIN on the branch pick
    on both engines.

    Scale: R·(d+1) = 4 stack-explode fact passes (map-side-combined
    before the only shuffles, on (feat,val) and (br,feat,val)) + two
    3-scalar totals folds + one margin-update fact pass fused into
    round 2's scan; the bounded pick tables (<=2 rows) that round 2
    reads are localCheckpoint'd and broadcast. 100 rounds × depth 5
    is 600 such passes — the honest distributed-XGBoost histogram
    schedule, each pass one shuffle of a bounded histogram, no
    fact-scale joins anywhere."""
    return _union_all(
        _xgb_boost(_xgb_base(spark, sf_dir), 2, 2, lambda t: t.localCheckpoint())
    )


# ---------------------------------------------------------------------------
# q_xgb_gamma — gamma (min split loss) + min_child_weight (hessian
# cover) gates on the Newton pick (round 16, VERDICT r15 #6a): the
# actual XGBoost regularizers (train_model.py:69-80 inherits the
# library defaults gamma=0, min_child_weight=1; literal NON-default
# values 50.0 / 100.0 here so both gates BIND on the shipped data).
# Closed forms over the existing candidate cell table — the cover gate
# is an exact INTEGER comparison, the gamma gate reads the 6-dp gain.
# ---------------------------------------------------------------------------

_XGB_GAMMA = 50.0
_XGB_MCW_UNITS = 100 * 1000000000000  # min_child_weight 100.0 in 1e-12 units


def _xgb_gated_cnts_sql(gate: str, counted: str) -> list[str]:
    """The candidate counts before (cand_total) and after (``counted``)
    the SQL ``gate``."""
    return [
        "CAST(COUNT(*) AS BIGINT) AS cand_total",
        f"CAST(SUM(CASE WHEN {gate} THEN 1 ELSE 0 END) AS BIGINT) AS {counted}",
    ]


def _xgb_gated(
    spark: SparkSession, sf_dir: str, gate: str, counted: str, extra=()
) -> DataFrame:
    """The counted gated pick: q_xgb_round's pick over the candidates
    that pass the SQL ``gate``, then the ``extra`` items over the pick
    and the candidate counts before/after the gate."""
    c, _tot = _xgb_fold(_xgb_gh(_xgb_base(spark, sf_dir)))
    cand = c.filter(_XGB_CAND_SQL)
    cnts = cand.selectExpr(*_xgb_gated_cnts_sql(gate, counted))
    p = _newton_take(cand.filter(gate)).alias("p")
    return p.crossJoin(F.broadcast(cnts)).selectExpr(
        "p.*", *extra, "cand_total", counted
    )


def _xgb_gated_sql(gate: str, counted: str, extra=()) -> str:
    """DuckDB twin of _xgb_gated."""
    return (
        _xgb_fold_sql("1")
        + f", cnts AS (SELECT {', '.join(_xgb_gated_cnts_sql(gate, counted))} "
        f"FROM c1 WHERE {_XGB_CAND_SQL}), "
        "p AS (" + _xgb_pick_sql(None, "c1", where=gate) + ") "
        f"SELECT {', '.join(('p.*', *extra, 'cand_total', counted))} "
        "FROM p, cnts"
    )


# the cover gate (both children carry Σh >= min_child_weight, exact
# integers) and the gamma flag off the 6-dp gain
_XGB_COVER_SQL = (
    f"cum_h >= {_XGB_MCW_UNITS} AND ht - cum_h >= {_XGB_MCW_UNITS}"
)
_XGB_GAMMA_ITEMS = (
    f"CASE WHEN gain > {_XGB_GAMMA!r} THEN 1 ELSE 0 END AS gamma_pass",
)


@query(
    "q_xgb_gamma",
    oracle=_xgb_gated_sql(_XGB_COVER_SQL, "cand_cover", _XGB_GAMMA_ITEMS),
    tags=("ml", "train", "boosting", "regularization"),
)
def q_xgb_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The XGBoost split REGULARIZERS on the exact Newton pick —
    min_child_weight (hessian cover: both children must carry
    Σh ≥ 100.0) and gamma (min split loss: the split only stands if
    gain > 50.0) — the two gates the reference's XGBClassifier
    applies to every split it grows (train_model.py:69-80; library
    defaults 0/1 are inert, so literal NON-default values are used
    here to make both gates bind on the shipped data). One row: the
    cover-constrained argmin pick (q_xgb_round's schema), gamma_pass
    off the identical 6-dp gain, and the candidate counts before/after
    the cover gate (cand_cover < cand_total — the gate visibly binds
    at every SF; pinned by tests).

    Exactness: the cover gate is an exact INTEGER comparison
    (cum_h ≥ 100e12 in 1e-12 hessian units on DECIMAL(38,0)/HUGEINT —
    no doubles in the predicate, so the candidate SET is bit-identical
    across engines); the gamma flag reads the 6-dp-rounded gain both
    engines already agree on; everything else is q_xgb_round's pinned
    machinery (same fold text, same (key, feat, val) tie-break). If no
    candidate passes cover, both engines emit zero rows (vacuous on
    shipped data — asserted non-vacuous in tests).

    Scale: identical to q_xgb_round — ONE stack-explode fact pass +
    one 3-scalar totals fold; the counts ride the same bounded
    candidate table (one extra 2-scalar fold over <=~1.5k rows). The
    gates are WHERE clauses on the bounded cell table, free at any
    scale — exactly how distributed XGBoost evaluates them."""
    return _xgb_gated(
        spark, sf_dir, _XGB_COVER_SQL, "cand_cover", _XGB_GAMMA_ITEMS
    )


# ---------------------------------------------------------------------------
# q_xgb_monotone — monotone-constraint Newton pick (round 16, VERDICT
# r15 #6c): XGBoost's monotone_constraints gate at the split level — a
# candidate split on a +1 (increasing) feature is admissible only if
# w_left <= w_right, on a -1 feature only if w_left >= w_right.
# Constraint vector here: qty +1, disc -1, price 0 — literal
# non-trivial values chosen so the gate BINDS on the shipped data (it
# excludes the unconstrained q_xgb_round winner at every SF: the best
# qty split is decreasing, so the constrained argmin moves to disc).
# The weight comparison is cross-multiplied into EXACT integer
# arithmetic — no doubles in the predicate.
# ---------------------------------------------------------------------------

# w_l <= w_r  <=>  -G_L/(H_L+l) <= -G_R/(H_R+l)
#             <=>  G_L*(H_R+l) >= G_R*(H_L+l)   (denominators > 0)
# with G in 1e-6 and H in 1e-12 units the scale factors cancel, so the
# gate is the integer comparison below; lambda = 1 is 1e12 h-units.
_MONO_GATE_SQL = (
    "((feat = 'price') OR "
    "(feat = 'qty' AND cum_g * (ht - cum_h + 1000000000000) "
    ">= (gt - cum_g) * (cum_h + 1000000000000)) OR "
    "(feat = 'disc' AND cum_g * (ht - cum_h + 1000000000000) "
    "<= (gt - cum_g) * (cum_h + 1000000000000)))"
)


@query(
    "q_xgb_monotone",
    oracle=_xgb_gated_sql(_MONO_GATE_SQL, "cand_allowed"),
    tags=("ml", "train", "boosting", "regularization"),
)
def q_xgb_monotone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone-constraint Newton split pick — XGBoost's
    monotone_constraints applied to the exact second-order split
    search (the split-level admissibility rule: a +1/increasing
    feature may only split with w_left <= w_right, a -1/decreasing
    feature only with w_left >= w_right; the reference's
    XGBClassifier exposes exactly this knob). Constraint vector
    (qty +1, disc -1, price 0) — non-trivial literals that BIND on
    the shipped data: the unconstrained q_xgb_round winner (a
    decreasing qty split) is excluded at every SF and the constrained
    argmin moves to disc (pinned by tests). One row: the constrained
    pick in q_xgb_round's schema + candidate counts before/after the
    gate.

    Exactness: the admissibility predicate is cross-multiplied into
    EXACT integer arithmetic — w_l <= w_r iff
    cum_g·(ht−cum_h+1e12) >= (gt−cum_g)·(cum_h+1e12) (the 1e-6/1e-12
    unit factors cancel; denominators H+λ > 0 preserve the
    inequality; products ≤ ~2.5e17·n² stay inside DECIMAL(38,0)/
    HUGEINT past 1e10 rows — the q_schoenfeld_trend headroom
    discipline). No doubles in the gate, so the candidate set is
    bit-identical across engines; everything else is q_xgb_round's
    pinned machinery.

    Scale: identical to q_xgb_round — ONE stack-explode fact pass +
    one totals fold; the gate is a WHERE on the bounded candidate
    table (plus one 2-scalar fold over it), free at any scale —
    exactly how distributed XGBoost enforces the constraint during
    split enumeration."""
    return _xgb_gated(spark, sf_dir, _MONO_GATE_SQL, "cand_allowed")


# ---------------------------------------------------------------------------
# q_xgb_alpha — L1 (reg_alpha) soft-thresholded Newton pick (round 16,
# widening #6): the LAST of XGBoost's three split regularizers
# (lambda=1 has been in the house gain since q_xgb_round; gamma +
# min_child_weight landed as q_xgb_gamma) — reg_alpha soft-thresholds
# every branch gradient before both the structure score and the leaf
# weight: T(G) = G−α if G>α, G+α if G<−α, else 0;
# w = −T(G)/(H+λ)·η; gain terms T(G)²/(H+λ). Literal non-default
# α = 20.0 (library default 0 is inert): it ZEROES the left leaf at
# sf0.001 (|G_L| = 8.99 < α) and strictly shrinks every weight at all
# SFs — the gate binds on values (the pick itself is α-stable on this
# data, pinned by tests).
# ---------------------------------------------------------------------------

_XGB_ALPHA_UNITS = 20 * 1000000  # alpha = 20.0 in 1e-6 gradient units


def _xgb_soft_sql(x: str) -> str:
    """The L1 soft threshold T(x) of an exact integer gradient sum."""
    A = _XGB_ALPHA_UNITS
    return (
        f"(CASE WHEN {x} > {A} THEN {x} - {A} "
        f"WHEN {x} < -{A} THEN {x} + {A} ELSE 0 END)"
    )


def _xgb_alpha_oracle() -> str:
    """DuckDB twin: the q_xgb_round fold with both branch gradients
    soft-thresholded by the EXACT integer alpha before the gain key,
    the emitted weights, and the gain."""
    return _xgb_fold_sql("1") + " " + _xgb_pick_sql(
        None, "c1", grad=_xgb_soft_sql, g_names=("tg_left", "tg_right")
    )


@query(
    "q_xgb_alpha",
    oracle=_xgb_alpha_oracle(),
    tags=("ml", "train", "boosting", "regularization"),
)
def q_xgb_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1-regularized (reg_alpha) exact Newton split pick — the last
    of the three XGBoost split regularizers (λ has been in the house
    gain since q_xgb_round; γ/min_child_weight are q_xgb_gamma):
    every branch gradient is soft-thresholded BEFORE the structure
    score and the leaf weight — T(G) = G∓α inside the |G| > α cone,
    else 0 — so w = −T(G)/(H+λ)·η and the gain terms are T(G)²/(H+λ),
    exactly the xgboost CalcWeight/CalcGain closed forms with
    reg_alpha set. Literal non-default α = 20.0: it ZEROES the left
    leaf at sf0.001 (|G_L| = 8.99 < α → w_left = 0 exactly — the L1
    sparsity effect) and strictly shrinks every weight toward 0 at
    all SFs (pinned by tests); the argmin itself is α-stable on this
    data (also pinned). One row, q_xgb_round's schema with the
    THRESHOLDED gradients (tg_left/tg_right) published.

    Exactness: the soft-threshold is EXACT integer CASE arithmetic on
    the DECIMAL(38,0)/HUGEINT gradient sums (α in 1e-6 units =
    20000000 — no doubles in the threshold), so T(G) is bit-identical
    across engines; the gain key and emitted doubles are computed
    from those integers with IDENTICAL expression text; argmin
    tie-break (key, feat, val) as always.

    Scale: identical to q_xgb_round — ONE stack-explode fact pass +
    one 3-scalar totals fold; the soft-threshold is per-candidate
    column math on the bounded cell table. α at 100 TB costs
    nothing — it is a CASE on already-exact histogram sums, exactly
    where distributed XGBoost applies it."""
    c, _tot = _xgb_fold(_xgb_gh(_xgb_base(spark, sf_dir)))
    return _newton_take(
        c.filter(_XGB_CAND_SQL),
        grad=_xgb_soft_sql,
        g_names=("tg_left", "tg_right"),
    )


# ---------------------------------------------------------------------------
# q_xgb_hist — histogram (binned) Newton split finding (round 16,
# widening #8): the reference trainer's ACTUAL split algorithm at
# scale — tree_method='hist' (XGBoost paper §3.3 approximate/quantile
# split finding; also LightGBM's core): candidate thresholds are
# restricted to ~256 equal-mass quantile boundaries per feature and
# g/h histograms are accumulated per bin. Here the binning is the
# deterministic count-quantile rule bin = ((cum_n−1)·256) div n over
# the exact per-(feat,val) cum table — a bin's boundary row IS its
# last distinct value, carrying exact inclusive cums, so the binned
# search is a restriction of the exact q_xgb_round candidate set to
# the 256-quantile boundary subset. No RNG, no sketch approximation
# to pin: the quantile sketch is EXACT count quantiles.
# ---------------------------------------------------------------------------

_XGB_HIST_BINS = 256


def _xgb_hist_oracle() -> str:
    """DuckDB twin: q_xgb_round's fold + the integer bin assignment,
    per-(feat, bin) boundary rows via MAX(val) + self-join on the
    bounded cum table, candidate count, and the gain argmin."""
    B = _XGB_HIST_BINS
    return (
        _xgb_fold_sql("1")
        + ", cb AS (SELECT feat, val, cum_n, cum_g, cum_h, n, gt, ht, "
        f"((CAST(cum_n AS BIGINT) - 1) * {B}) // n AS bin FROM c1), "
        "bb AS (SELECT feat, bin, MAX(val) AS bval FROM cb "
        "GROUP BY feat, bin), "
        "cand AS (SELECT cb.* FROM cb JOIN bb "
        "ON cb.feat = bb.feat AND cb.bin = bb.bin AND cb.val = bb.bval "
        "WHERE cb.cum_n < cb.n), "
        "cnts AS (SELECT CAST(COUNT(*) AS BIGINT) AS cand_bins FROM cand), "
        "p AS ("
        + _xgb_pick_sql(None, "cand", feat="feat, CAST(bin AS BIGINT) AS bin")
        + ") SELECT p.*, cand_bins FROM p, cnts"
    )


@query(
    "q_xgb_hist",
    oracle=_xgb_hist_oracle(),
    tags=("ml", "train", "boosting", "split"),
)
def q_xgb_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram (binned) Newton split finding — the split algorithm
    the reference's XGBClassifier actually runs at scale
    (tree_method='hist'; XGBoost paper §3.3 approximate split finding
    with a quantile sketch; the LightGBM core): candidate thresholds
    restricted to 256 equal-mass count-quantile boundaries per
    feature, g/h accumulated per bin. The binning is the DETERMINISTIC
    integer rule bin = ((cum_n−1)·256) div n over the exact
    per-(feat,val) cum table; a bin's candidate row is its LAST
    distinct value, which carries exact inclusive cum statistics — so
    the binned search is exactly the q_xgb_round argmin restricted to
    the ≤256·|feats| boundary subset (no RNG, no approximation to
    hand-wave: the quantile sketch is exact count quantiles). One
    row: the binned pick (feat, bin id, boundary threshold,
    q_xgb_round's stat columns) + the candidate-boundary count.

    The q_xgb_round/q_xgb_hist PAIR is the exact-vs-approx
    split-finding comparison of the XGBoost paper: on this data the
    256-bin pick recovers the exact pick's split (or a neighbor with
    near-identical gain — pinned by tests: binned gain is within the
    exact pick's, and equals it when the exact threshold lands on a
    boundary).

    Exactness: the bin id is pure BIGINT arithmetic ((cum_n−1)·256
    fits BIGINT past 3.6e16 rows); the boundary row per (feat, bin)
    is MAX(val) over identical 6-dp doubles (struct-max on Spark,
    MAX+equi-join on DuckDB — same row, values are distinct within a
    feature); all stats are the exact DECIMAL(38,0)/HUGEINT cums;
    gain text identical; tie-break (key, feat, val).

    Scale: q_xgb_round's ONE stack-explode fact pass + totals fold,
    plus one bounded group-by over the cell table (≤ distinct values)
    to the ≤768-row boundary table. At 100 TB this is the WHOLE
    point of hist: the pick runs on 768 rows no matter how many
    distinct feature values the data carries — the exact shape
    distributed XGBoost/LightGBM ship."""
    B = _XGB_HIST_BINS
    c, tot = _xgb_fold(_xgb_gh(_xgb_base(spark, sf_dir)))
    cb = c.withColumn("bin", F.expr(f"((CAST(cum_n AS BIGINT) - 1) * {B}) DIV n"))
    cand = (
        cb.groupBy("feat", "bin")
        .agg(F.expr("MAX(struct(val, cum_n, cum_g, cum_h))").alias("s"))
        .select("feat", "bin", "s.*")
        .crossJoin(F.broadcast(tot))
        .filter(_XGB_CAND_SQL)
    )
    cnts = cand.agg(F.count("*").cast("bigint").alias("cand_bins"))
    p = _newton_take(cand, feat=("feat", "CAST(bin AS BIGINT) AS bin"))
    return p.crossJoin(F.broadcast(cnts))
