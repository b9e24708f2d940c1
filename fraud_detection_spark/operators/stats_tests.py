"""Categorical association tests: chi-square / Cramér's V and mutual
information over a contingency table.

The reference monitors its model with scalar drift alerts
(monitoring/prometheus/rules); a feature platform also needs
ASSOCIATION screens between categorical dimensions — is event type
independent of day-of-week? — both as a drift test (independence
breaking = behavior mix shift) and as the classic filter-method
feature-selection score (MI). Both are textbook single-scan
aggregations over a bounded |types| × 7 contingency table.

Determinism: every cell contribution is folded to fixed-point units
(FLOOR(term·1e9 + 0.5), an exact per-cell operation) BEFORE the sum,
so the statistic is an exact integer sum — no float-summation-order
hazard on any layout (same discipline as functions.fixed_sum). The
cell expectations/probabilities themselves are scalar IEEE ops on
exact integer counts, identical on both engines.

Scale: the event stream folds map-side into ≤ |types| × 7 cells; the
margin windows run over that bounded table only. One shuffle total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fraud_detection_spark.functions import pround
from fraud_detection_spark.registry import query, sql_round
from fraud_detection_spark.sources import events_with_time

_SEC_SQL = "(epoch_ns(ts) // 1000000000)"
_DOW_SQL = f"(({_SEC_SQL} // 86400) % 7)"
_FP = 10**9  # fixed-point resolution for per-cell contributions

# shared contingency prefix: cells + margins from ONE aggregate
_CONT_SQL = (
    f"g AS (SELECT event_type, {_DOW_SQL} AS dow, COUNT(*) AS o "
    "FROM events GROUP BY event_type, dow), "
    "m AS (SELECT *, SUM(o) OVER (PARTITION BY event_type) AS r, "
    "SUM(o) OVER (PARTITION BY dow) AS c, SUM(o) OVER () AS n FROM g)"
)


@query(
    "q_chi2",
    oracle=(
        "WITH " + _CONT_SQL + ", "
        "t AS (SELECT n, "
        "CAST(FLOOR((o - r * c * 1.0 / n) * (o - r * c * 1.0 / n) "
        "/ (r * c * 1.0 / n) "
        f"* {_FP} + 0.5) AS BIGINT) AS units, event_type, dow FROM m), "
        "a AS (SELECT MAX(n) AS n, "
        "CAST(SUM(units) AS DOUBLE) / " + str(_FP) + " AS chi2, "
        "COUNT(DISTINCT event_type) AS nr, COUNT(DISTINCT dow) AS nc FROM t) "
        "SELECT CAST(n AS BIGINT) AS n, "
        "CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof, "
        + sql_round("chi2", 6) + " AS chi2, "
        + sql_round(
            "SQRT(chi2 / (n * CASE WHEN nr - 1 < nc - 1 THEN nr - 1 "
            "ELSE nc - 1 END))",
            6,
        )
        + " AS cramers_v FROM a"
    ),
    tags=("stats", "monitoring", "agg"),
)
def q_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test of event_type × day-of-week
    with Cramér's V effect size — the categorical drift screen (a mix
    shift between weekday and weekend behavior breaks independence
    long before any single-dimension histogram moves) and the
    categorical-feature association score.

    Plan: one map-side-combinable aggregate to the ≤|types|×7 cell
    table; margin windows over that bounded table only (the
    unpartitioned SUM() OVER () runs on ≤35 rows by construction).
    Per-cell (o−e)²/e folds to fixed-point units before summing, so
    chi2 is an exact integer sum — layout-proof."""
    ev = events_with_time(spark, sf_dir)
    g = ev.groupBy(
        "event_type", (F.expr("ts_sec div 86400") % 7).alias("dow")
    ).agg(F.count("*").alias("o"))
    # bounded table: ≤ |types| × 7 cells
    m = g.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("dow")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("r") * F.col("c") * 1.0 / F.col("n")
    # (o-e)*(o-e), not POWER(o-e,2): Math.pow is not guaranteed
    # correctly rounded (1-ulp cross-engine risk at the fixed-point
    # floor boundary); IEEE multiplication is.
    dev = F.col("o") - e
    units = F.floor(dev * dev / e * _FP + F.lit(0.5)).cast("bigint")
    t = m.select("n", "event_type", "dow", units.alias("units"))
    a = t.agg(
        F.max("n").alias("n"),
        (F.sum("units").cast("double") / _FP).alias("chi2"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("dow").alias("nc"),
    )
    return a.select(
        F.col("n").cast("bigint").alias("n"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof"),
        pround(F.col("chi2"), 6).alias("chi2"),
        pround(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "q_mutual_info",
    oracle=(
        "WITH " + _CONT_SQL + ", "
        "t AS (SELECT n, "
        "CAST(FLOOR((o * 1.0 / n) * LOG2(o * 1.0 * n / (r * c)) "
        f"* {_FP} + 0.5) AS BIGINT) AS mi_u, event_type, dow, o, r, c FROM m), "
        "hx AS (SELECT CAST(SUM(CAST(FLOOR(-(r * 1.0 / n) * LOG2(r * 1.0 / n) "
        f"* {_FP} + 0.5) AS BIGINT)) AS DOUBLE) / {_FP} AS h FROM "
        "(SELECT DISTINCT event_type, r, n FROM m)), "
        "hy AS (SELECT CAST(SUM(CAST(FLOOR(-(c * 1.0 / n) * LOG2(c * 1.0 / n) "
        f"* {_FP} + 0.5) AS BIGINT)) AS DOUBLE) / {_FP} AS h FROM "
        "(SELECT DISTINCT dow, c, n FROM m)), "
        f"a AS (SELECT CAST(SUM(mi_u) AS DOUBLE) / {_FP} AS mi FROM t) "
        "SELECT " + sql_round("a.mi", 6) + " AS mi_bits, "
        + sql_round("hx.h", 6) + " AS h_type, "
        + sql_round("hy.h", 6) + " AS h_dow, "
        + sql_round("a.mi / CASE WHEN hx.h < hy.h THEN hx.h ELSE hy.h END", 6)
        + " AS nmi FROM a, hx, hy"
    ),
    tags=("stats", "monitoring", "agg"),
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; day-of-week) in bits, with the
    marginal entropies and min-normalized MI — the filter-method
    feature-selection score (how much does knowing the weekday tell
    you about behavior mix) on the same contingency scan as q_chi2.

    Plan: identical shape to q_chi2 — one bounded cell table, margin
    windows over ≤35 rows, per-cell and per-margin terms folded to
    fixed-point units before their integer sums. MI of observed cells
    is non-negative up to the 1e-9 quantization."""
    ev = events_with_time(spark, sf_dir)
    g = ev.groupBy(
        "event_type", (F.expr("ts_sec div 86400") % 7).alias("dow")
    ).agg(F.count("*").alias("o"))
    m = g.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("dow")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    mi_u = F.floor(
        (F.col("o") * 1.0 / F.col("n"))
        * F.log2(F.col("o") * 1.0 * F.col("n") / (F.col("r") * F.col("c")))
        * _FP
        + F.lit(0.5)
    ).cast("bigint")
    a = m.select(mi_u.alias("u")).agg(
        (F.sum("u").cast("double") / _FP).alias("mi")
    )

    def ent(col_key: str, col_margin: str) -> DataFrame:
        d = m.select(col_key, col_margin, "n").distinct()
        u = F.floor(
            -(F.col(col_margin) * 1.0 / F.col("n"))
            * F.log2(F.col(col_margin) * 1.0 / F.col("n"))
            * _FP
            + F.lit(0.5)
        ).cast("bigint")
        return d.select(u.alias("u")).agg(
            (F.sum("u").cast("double") / _FP).alias("h")
        )

    hx = ent("event_type", "r")
    hy = ent("dow", "c")
    return (
        a.crossJoin(F.broadcast(hx.select(F.col("h").alias("h_type"))))
        .crossJoin(F.broadcast(hy.select(F.col("h").alias("h_dow"))))
        .select(
            pround(F.col("mi"), 6).alias("mi_bits"),
            pround(F.col("h_type"), 6).alias("h_type"),
            pround(F.col("h_dow"), 6).alias("h_dow"),
            pround(F.col("mi") / F.least("h_type", "h_dow"), 6).alias("nmi"),
        )
    )


# --- Sequential probability ratio test (SPRT) -------------------------

_SPRT_LIFT = 1.5          # H1: positive rate = 1.5x the H0 rate
_SPRT_ALPHA = 0.05        # type-I error target
_SPRT_BETA = 0.10         # type-II error target
# Wald decision boundaries: log((1-b)/a), log(b/(1-a))
_SPRT_UPPER = "LN((1 - 0.10) / 0.05)"
_SPRT_LOWER = "LN(0.10 / (1 - 0.05))"


@query(
    "q_sprt",
    oracle=(
        "WITH s AS (SELECT year(o_orderdate) * 10000 + month(o_orderdate) "
        "* 100 + day(o_orderdate) AS datekey, "
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
        "d AS (SELECT datekey, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(y) AS BIGINT) AS k FROM s GROUP BY datekey), "
        "g AS (SELECT SUM(k) * 1.0 / SUM(n) AS p0 FROM d), "
        f"p AS (SELECT p0, LEAST(p0 * {_SPRT_LIFT}, 0.999) AS p1 FROM g), "
        "u AS (SELECT datekey, n, k, "
        "CAST(FLOOR((k * LN(p1 / p0) + (n - k) * LN((1 - p1) / (1 - p0))) "
        "* 1000000000 + 0.5) AS BIGINT) AS llr_u FROM d, p), "
        "c AS (SELECT datekey, n, k, "
        "CAST(SUM(llr_u) OVER (ORDER BY datekey) AS DOUBLE) / 1000000000 "
        "AS llr FROM u) "
        "SELECT CAST(datekey AS BIGINT) AS datekey, n, k, "
        + sql_round("llr", 6) + " AS llr, "
        f"CAST(CASE WHEN llr >= {_SPRT_UPPER} THEN 1 "
        f"WHEN llr <= {_SPRT_LOWER} THEN -1 ELSE 0 END AS INT) AS decision "
        "FROM c"
    ),
    tags=("stats", "monitoring", "sequential"),
)
def q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test over the daily positive
    rate: cumulative log-likelihood ratio of H1 (rate = 1.5× baseline)
    vs H0 (baseline), with the (α=0.05, β=0.10) decision boundaries —
    the ONLINE hypothesis test that ends the peeking problem fixed-n
    tests have (q_ab_test's z is only valid at its planned n; a
    monitor that checks daily needs SPRT's anytime-valid boundaries).
    decision: 1 = rate shift confirmed, −1 = baseline confirmed,
    0 = keep monitoring.

    Determinism: daily (n, k) are exact integer counts; each day's LLR
    increment folds to 1e-9 fixed-point units (the one float op is two
    logs of the broadcast scalar rates, identical per row), the
    cumulative sum is an exact integer window over the bounded day
    table, and the boundary comparison is scalar IEEE. Plan: one
    fact-fact join folds map-side to ≤|days| rows; everything after is
    bounded."""
    from fraud_detection_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    datekey = (
        F.year("o_orderdate") * 10000
        + F.month("o_orderdate") * 100
        + F.dayofmonth("o_orderdate")
    )
    s = li.join(o, li.l_orderkey == o.o_orderkey).select(
        datekey.alias("datekey"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    d = s.groupBy("datekey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("k"),
    )
    g = d.agg((F.sum("k") * 1.0 / F.sum("n")).alias("p0"))
    p = g.select("p0", F.least(F.col("p0") * _SPRT_LIFT, F.lit(0.999)).alias("p1"))
    u = d.crossJoin(F.broadcast(p)).select(
        "datekey",
        "n",
        "k",
        F.floor(
            (
                F.col("k") * F.log(F.col("p1") / F.col("p0"))
                + (F.col("n") - F.col("k"))
                * F.log((1 - F.col("p1")) / (1 - F.col("p0")))
            )
            * 1000000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("llr_u"),
    )
    w = Window.orderBy("datekey").rowsBetween(Window.unboundedPreceding, 0)
    # bounded: ≤|days| rows by construction
    c = u.select(
        "datekey",
        "n",
        "k",
        (F.sum("llr_u").over(w).cast("double") / 1000000000).alias("llr"),
    )
    upper = F.expr(_SPRT_UPPER)
    lower = F.expr(_SPRT_LOWER)
    return c.select(
        F.col("datekey").cast("bigint").alias("datekey"),
        "n",
        "k",
        pround(F.col("llr"), 6).alias("llr"),
        F.when(F.col("llr") >= upper, 1)
        .when(F.col("llr") <= lower, -1)
        .otherwise(0)
        .cast("int")
        .alias("decision"),
    )


@query(
    "q_kl_mix",
    oracle=(
        f"WITH e AS (SELECT ({_SEC_SQL} // 86400) AS day, event_type FROM events), "
        "c AS (SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS o "
        "FROM e GROUP BY day, event_type), "
        "m AS (SELECT *, SUM(o) OVER (PARTITION BY day) AS nd, "
        "SUM(o) OVER (PARTITION BY event_type) AS nt, "
        "SUM(o) OVER () AS n FROM c), "
        "t AS (SELECT day, nd, "
        "CAST(FLOOR((o * 1.0 / nd) * LOG2((o * 1.0 / nd) / (nt * 1.0 / n)) "
        f"* {_FP} + 0.5) AS BIGINT) AS u FROM m) "
        "SELECT CAST(day AS BIGINT) AS day, CAST(MAX(nd) AS BIGINT) AS n, "
        + sql_round(f"CAST(SUM(u) AS DOUBLE) / {_FP}", 6)
        + " AS kl_bits FROM t GROUP BY day"
    ),
    tags=("stats", "monitoring", "drift"),
)
def q_kl_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day KL divergence (bits) of the day's event-type mix from
    the corpus-wide mix — the categorical drift DISTANCE per day, where
    q_chi2 gives one global independence verdict (a bot campaign that
    skews one day's click/view ratio spikes that day's KL while the
    global test dilutes it). Absent types contribute 0 by the standard
    0·log 0 convention — they simply have no cell row.

    Plan: one map-side aggregate to the ≤|days|×|types| cell table,
    margin windows over that bounded table, per-cell terms folded to
    1e-9 fixed-point units so each day's KL is an exact integer sum
    (the module's discipline)."""
    ev = events_with_time(spark, sf_dir)
    c = ev.groupBy(
        F.expr("ts_sec div 86400").alias("day"), "event_type"
    ).agg(F.count("*").alias("o"))
    # bounded table: ≤ |days| × |types| cells
    m = c.select(
        "day",
        "o",
        F.sum("o").over(Window.partitionBy("day")).alias("nd"),
        F.sum("o").over(Window.partitionBy("event_type")).alias("nt"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    u = F.floor(
        (F.col("o") * 1.0 / F.col("nd"))
        * F.log2((F.col("o") * 1.0 / F.col("nd")) / (F.col("nt") * 1.0 / F.col("n")))
        * _FP
        + F.lit(0.5)
    ).cast("bigint")
    return (
        m.select("day", "nd", u.alias("u"))
        .groupBy("day")
        .agg(
            F.max("nd").cast("bigint").alias("n"),
            pround(F.sum("u").cast("double") / _FP, 6).alias("kl_bits"),
        )
        .select(F.col("day").cast("bigint").alias("day"), "n", "kl_bits")
    )


@query(
    "q_anova",
    oracle=(
        f"WITH v AS (SELECT {_DOW_SQL} AS dow, "
        "CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v FROM events), "
        "g AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS ng, "
        "SUM(v) AS sg, SUM(CAST(v AS HUGEINT) * v) AS ssg FROM v GROUP BY dow), "
        "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, "
        "CAST(SUM(ng) AS BIGINT) AS n, "
        "SUM(sg) AS s, CAST(SUM(ssg) AS DOUBLE) AS ss, "
        "SUM(CAST(FLOOR(CAST(CAST(sg AS DOUBLE) * sg / ng + 0.5 "
        "AS DECIMAL(38,6))) AS HUGEINT)) AS a "
        "FROM g), "
        "f AS (SELECT k, n, "
        "CAST(a - CAST(FLOOR(CAST(CAST(s AS DOUBLE) * s / n + 0.5 "
        "AS DECIMAL(38,6))) AS HUGEINT) AS DOUBLE) AS ssb, "
        "ss - CAST(a AS DOUBLE) AS ssw FROM t) "
        "SELECT k, n, "
        + sql_round("ssb / 100000000", 4) + " AS ss_between, "
        + sql_round("ssw / 100000000", 4) + " AS ss_within, "
        + sql_round("(ssb / (k - 1)) / (ssw / (n - k))", 6) + " AS f_stat, "
        + sql_round("ssb / (ssb + ssw)", 6) + " AS eta_sq FROM f"
    ),
    tags=("stats", "test", "agg"),
)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of transaction value across weekdays: F =
    (SSB/(k−1)) / (SSW/(n−k)) plus effect size η² = SSB/SST — the
    continuous-outcome companion to q_chi2's categorical independence
    test ("does the AMOUNT distribution move by day-of-week", the
    mean-level complement of q_seasonal_strength's variance share).

    Exactness: per-event values fold to 1e-4 fixed-point BIGINTs;
    per-group (n, Σv, Σv²) are exact integer sums (Σv² in
    DECIMAL(38,0)/HUGEINT — overflows BIGINT at fact scale). Each
    between-group term S_g²/n_g is floored to an integer in v² units
    BEFORE the k-term sum (the q_chi2 discipline: k=7 doubles summed
    in engine order could flip the final round), and every remaining
    op is IEEE on exact integers — identical on both engines.

    Scale: ONE map-side-combinable aggregate folds the fact stream to
    k=7 rows; everything after is driver-trivial arithmetic on the
    bounded group table."""
    ev = events_with_time(spark, sf_dir)
    v = ev.select(
        (F.expr("ts_sec div 86400") % 7).alias("dow"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    g = v.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum("v").alias("sg"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("ssg"),
    )
    sgd = F.col("sg").cast("double")
    t = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("ssg").cast("double").alias("ss"),
        # decimal BEFORE floor (the q_moments round-8 treatment): Spark's
        # floor(DOUBLE) returns LONG and silently saturates at
        # Long.MaxValue once S_g^2/n_g passes ~9.2e18 (reachable around
        # sf10 in 1e-4 fixed-point units); flooring the DECIMAL(38,6)
        # keeps the whole path in decimal, matching the oracle's
        # CAST(FLOOR(...) AS HUGEINT) which never saturates.
        F.sum(
            F.floor((sgd * F.col("sg") / F.col("ng") + F.lit(0.5)).cast("decimal(38,6)"))
        ).alias("a"),
    )
    sd = F.col("s").cast("double")
    ssb = (
        F.col("a")
        - F.floor((sd * F.col("s") / F.col("n") + F.lit(0.5)).cast("decimal(38,6)"))
    ).cast("double")
    ssw = F.col("ss") - F.col("a").cast("double")
    return t.select(
        "k",
        "n",
        pround(ssb / 100000000, 4).alias("ss_between"),
        pround(ssw / 100000000, 4).alias("ss_within"),
        pround((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6).alias(
            "f_stat"
        ),
        pround(ssb / (ssb + ssw), 6).alias("eta_sq"),
    )


@query(
    "q_abtest",
    oracle=(
        "WITH u AS (SELECT user_id % 2 AS arm, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv "
        "FROM events), "
        "g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(conv) AS BIGINT) AS x FROM u GROUP BY arm), "
        "w AS (SELECT "
        "MAX(CASE WHEN arm = 0 THEN n END) AS na, "
        "MAX(CASE WHEN arm = 0 THEN x END) AS xa, "
        "MAX(CASE WHEN arm = 1 THEN n END) AS nb, "
        "MAX(CASE WHEN arm = 1 THEN x END) AS xb FROM g), "
        "c AS (SELECT na, xa, nb, xb, "
        "xa * 1.0 / na AS pa, xb * 1.0 / nb AS pb, "
        "(xa + xb) * 1.0 / (na + nb) AS pp FROM w) "
        "SELECT na AS n_control, xa AS x_control, nb AS n_treat, xb AS x_treat, "
        + sql_round("pa", 6) + " AS p_control, "
        + sql_round("pb", 6) + " AS p_treat, "
        + sql_round("pb - pa", 6) + " AS lift, "
        + sql_round(
            "(pb - pa) / SQRT(pp * (1 - pp) * (1.0 / na + 1.0 / nb))", 6
        )
        + " AS z, "
        + sql_round(
            "(pb - pa) - 1.959963984540054 * "
            "SQRT(pa * (1 - pa) / na + pb * (1 - pb) / nb)",
            6,
        )
        + " AS ci_lo, "
        + sql_round(
            "(pb - pa) + 1.959963984540054 * "
            "SQRT(pa * (1 - pa) / na + pb * (1 - pb) / nb)",
            6,
        )
        + " AS ci_hi FROM c"
    ),
    tags=("stats", "test", "experiment"),
)
def q_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test of the purchase-event share between
    deterministic hash arms (user_id parity — the q_split bucketing
    idea as an experiment assignment): pooled-SE z statistic plus the
    unpooled Wald 95% CI of the lift — the decision readout every
    experimentation platform serves. The z uses the POOLED variance
    (correct under H₀: p_a = p_b), the CI the UNPOOLED one (correct
    for estimation) — the textbook pairing. Event-level shares, not
    per-user any-conversion: with ~10² events per user the latter
    saturates at p = 1 in both arms (zero pooled variance — observed
    at sf0.001) and the test degenerates.

    Exactness: all four cell counts are exact integers; rates, z, and
    CI bounds are a fixed chain of IEEE ops on them (the 1.96 critical
    value is spelled to full double precision as a shared literal).

    Scale: one map-side-combinable count aggregate folds the fact
    stream to 2 rows; everything downstream is trivial arithmetic."""
    ev = events_with_time(spark, sf_dir)
    u = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    g = u.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("x"),
    )
    w = g.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("xa"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("xb"),
    )
    pa = F.col("xa") * 1.0 / F.col("na")
    pb = F.col("xb") * 1.0 / F.col("nb")
    pp = (F.col("xa") + F.col("xb")) * 1.0 / (F.col("na") + F.col("nb"))
    z195 = F.lit(1.959963984540054)
    wald = F.sqrt(
        pa * (1 - pa) / F.col("na") + pb * (1 - pb) / F.col("nb")
    )
    return w.select(
        F.col("na").alias("n_control"),
        F.col("xa").alias("x_control"),
        F.col("nb").alias("n_treat"),
        F.col("xb").alias("x_treat"),
        pround(pa, 6).alias("p_control"),
        pround(pb, 6).alias("p_treat"),
        pround(pb - pa, 6).alias("lift"),
        pround(
            (pb - pa)
            / F.sqrt(pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb"))),
            6,
        ).alias("z"),
        pround((pb - pa) - z195 * wald, 6).alias("ci_lo"),
        pround((pb - pa) + z195 * wald, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Rank-based tests (round 9): Kruskal–Wallis and Mann–Whitney share one
# exact-integer rank construction.
#
# Average ranks with ties are half-integers, so both tests work in
# DOUBLED ranks: for a distinct value v with c_less values strictly
# below it and c_eq copies, every copy's doubled average rank is
# R2(v) = 2*c_less + c_eq + 1 — an integer. Per-group doubled rank
# sums are then exact integer sums; squared terms accumulate in
# DECIMAL(38,0)/HUGEINT with integer `div` so the cross-group folds
# never touch float order (the q_chi2 / q_anova discipline). The only
# float ops are final scalar formulas on exact integers — identical
# IEEE on both engines.
#
# Scale: the fact stream folds map-side into a (group x distinct
# value) contingency table; the doubled-rank window runs over DISTINCT
# VALUES ONLY (bounded by value cardinality, not row count — 1e-4
# fixed-point amounts on a bounded domain), then broadcasts back.
# One shuffle total, same shape as q_chi2.
# ---------------------------------------------------------------------------

_RANK2_SQL = (
    # gv: (group, value) counts; vc: per-value counts + doubled avg rank
    f"b AS (SELECT {_DOW_SQL} AS dow, "
    "CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v FROM events), "
    "gv AS (SELECT dow, v, CAST(COUNT(*) AS BIGINT) AS c FROM b "
    "GROUP BY dow, v), "
    "vc AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t, "
    "CAST(2 * (SUM(SUM(c)) OVER (ORDER BY v) - SUM(c)) + SUM(c) + 1 "
    "AS BIGINT) AS r2 FROM gv GROUP BY v), "
    "n AS (SELECT CAST(SUM(t) AS BIGINT) AS n, "
    "CAST(SUM(t * t * t - t) AS HUGEINT) AS ties FROM vc)"
)


def _rank2_tables(spark: SparkSession, sf_dir: str):
    """(gv, vc) per the _RANK2_SQL construction: gv = (dow, v, c)
    contingency rows, vc = (v, t, r2) with r2 the doubled average
    rank of value v and t its total multiplicity."""
    ev = events_with_time(spark, sf_dir)
    gv = (
        ev.select(
            (F.expr("ts_sec div 86400") % 7).alias("dow"),
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint").alias("v"),
        )
        .groupBy("dow", "v")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = Window.orderBy("v")
    vc = (
        gv.groupBy("v")
        .agg(F.sum("c").cast("bigint").alias("t"))
        .select(
            "v",
            "t",
            (
                2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1
            ).cast("bigint").alias("r2"),
        )
    )
    return gv, vc


@query(
    "q_kruskal_wallis",
    oracle=(
        "WITH " + _RANK2_SQL + ", "
        "g AS (SELECT gv.dow, CAST(SUM(gv.c) AS BIGINT) AS ng, "
        "CAST(SUM(gv.c * CAST(vc.r2 AS HUGEINT)) AS HUGEINT) AS r2g "
        "FROM gv JOIN vc USING (v) GROUP BY gv.dow), "
        "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, "
        "CAST(SUM(r2g * r2g // ng) AS HUGEINT) AS q4 FROM g), "
        "f AS (SELECT k, n.n AS n, n.ties AS ties, "
        "3.0 * CAST(q4 AS DOUBLE) / (CAST(n.n AS DOUBLE) * (n.n + 1)) "
        "- 3.0 * (n.n + 1) AS h FROM a, n) "
        "SELECT k, n, " + sql_round("h", 6) + " AS h, "
        + sql_round(
            "h / (1 - CAST(ties AS DOUBLE) / "
            "(CAST(n AS DOUBLE) * n * n - n))",
            6,
        )
        + " AS h_adj, "
        + sql_round("(h - k + 1) / (n - k)", 6) + " AS eps_sq FROM f"
    ),
    tags=("stats", "test", "rank"),
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis rank test of transaction value across weekdays:
    H = 12/(N(N+1)) ΣR_g²/n_g − 3(N+1), tie-corrected H_adj = H/C with
    C = 1 − Σ(t³−t)/(N³−N), plus the ε² effect size — the
    distribution-free companion to q_anova (no normality assumption;
    detects any stochastic-dominance shift in the AMOUNT distribution
    by day-of-week, not just a mean shift).

    Exactness: doubled ranks keep tie-averaging integral (see the
    rank-machinery note above); per-group Σc·r2 folds in HUGEINT /
    DECIMAL(38,0); ΣR_g²/n_g uses integer `div` per group (floor
    division, identical on both engines) summed exactly, and the final
    H/C/ε² are scalar IEEE on those integers. The doubled-rank square
    `r2g²` bounds at (2N·n_g)² — inside DECIMAL(38,0) through ~1e9
    rows per group; beyond that, rescale ranks to coarser units (the
    q_anova overflow note).

    Scale: one map-side-combinable (dow × value) fold, a window over
    DISTINCT values only, one broadcast-sized join back — the q_chi2
    shape with a value-rank twist."""
    gv, vc = _rank2_tables(spark, sf_dir)
    g = (
        gv.join(vc.select("v", "r2"), "v")
        .groupBy("dow")
        .agg(
            F.sum("c").cast("bigint").alias("ng"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("r2")).alias("r2g"),
        )
    )
    a = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.expr("r2g * r2g div ng")).alias("q4"),
    )
    n = vc.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
    )
    # q4 = Σ (2R_g)² div n_g is in QUADRUPLED rank-square units, so
    # H = 12/(N(N+1))·(q4/4) − 3(N+1) = 3·q4/(N(N+1)) − 3(N+1)
    nd = F.col("n").cast("double")
    h = 3.0 * F.col("q4").cast("double") / (nd * (F.col("n") + 1)) - 3.0 * (
        F.col("n") + 1
    )
    return a.crossJoin(n).select(
        "k",
        "n",
        pround(h, 6).alias("h"),
        pround(
            h / (1 - F.col("ties").cast("double") / (nd * F.col("n") * F.col("n") - F.col("n"))),
            6,
        ).alias("h_adj"),
        pround((h - F.col("k") + 1) / (F.col("n") - F.col("k")), 6).alias("eps_sq"),
    )


@query(
    "q_mann_whitney",
    oracle=(
        "WITH " + _RANK2_SQL + ", "
        "g AS (SELECT CASE WHEN gv.dow IN (5, 6) THEN 1 ELSE 0 END AS grp, "
        "CAST(SUM(gv.c) AS BIGINT) AS ng, "
        "CAST(SUM(gv.c * CAST(vc.r2 AS HUGEINT)) AS HUGEINT) AS r2g "
        "FROM gv JOIN vc USING (v) GROUP BY 1), "
        "w AS (SELECT "
        "MAX(CASE WHEN grp = 1 THEN ng END) AS n1, "
        "MAX(CASE WHEN grp = 0 THEN ng END) AS n2, "
        "MAX(CASE WHEN grp = 1 THEN r2g END) AS r21 FROM g), "
        "u AS (SELECT n1, n2, "
        "CAST(r21 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2 AS u1, "
        "CAST(n1 AS DOUBLE) * n2 AS n12, n.n AS n, n.ties AS ties FROM w, n) "
        "SELECT n1, n2, " + sql_round("u1", 1) + " AS u, "
        + sql_round(
            "(u1 - n12 / 2) / sqrt(n12 / 12 * ((n + 1) - "
            "CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))))",
            6,
        )
        + " AS z, "
        + sql_round("2 * u1 / n12 - 1", 6) + " AS rank_biserial FROM u"
    ),
    tags=("stats", "test", "rank"),
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test: does the transaction
    AMOUNT distribution on the two high days (dow 5–6) stochastically
    dominate the rest of the week? U₁ = R₁ − n₁(n₁+1)/2, tie-corrected
    normal z, and the rank-biserial correlation 2U₁/(n₁n₂) − 1 as the
    effect size — the two-sample special case of q_kruskal_wallis's
    machinery, sharing its doubled-rank construction verbatim.

    Exactness: R₁ is an exact HUGEINT/DECIMAL doubled-rank sum; U₁,
    z, and the effect size are scalar IEEE formulas on exact
    integers. Same bounded-window scale shape as q_kruskal_wallis."""
    gv, vc = _rank2_tables(spark, sf_dir)
    g = (
        gv.join(vc.select("v", "r2"), "v")
        .groupBy(F.col("dow").isin(5, 6).cast("int").alias("grp"))
        .agg(
            F.sum("c").cast("bigint").alias("ng"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("r2")).alias("r2g"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 1, F.col("ng"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("ng"))).alias("n2"),
        F.max(F.when(F.col("grp") == 1, F.col("r2g"))).alias("r21"),
    )
    n = vc.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
    )
    u1 = F.col("r21").cast("double") / 2 - F.col("n1").cast("double") * (
        F.col("n1") + 1
    ) / 2
    n12 = F.col("n1").cast("double") * F.col("n2")
    nd = F.col("n").cast("double")
    return w.crossJoin(n).select(
        "n1",
        "n2",
        pround(u1, 1).alias("u"),
        pround(
            (u1 - n12 / 2)
            / F.sqrt(
                n12 / 12 * ((F.col("n") + 1) - F.col("ties").cast("double") / (nd * (F.col("n") - 1)))
            ),
            6,
        ).alias("z"),
        pround(2 * u1 / n12 - 1, 6).alias("rank_biserial"),
    )


@query(
    "q_levene",
    oracle=(
        f"WITH b AS (SELECT {_DOW_SQL} AS dow, "
        "CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v FROM events), "
        "m AS (SELECT dow, CAST(quantile_disc(v, 0.5) AS BIGINT) AS med "
        "FROM b GROUP BY dow), "
        "d AS (SELECT b.dow, ABS(b.v - m.med) AS z FROM b JOIN m USING (dow)), "
        "g AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS ng, "
        "CAST(SUM(z) AS HUGEINT) AS sg, "
        "SUM(CAST(z AS HUGEINT) * z) AS ssg FROM d GROUP BY dow), "
        "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, "
        "CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s, "
        "CAST(SUM(ssg) AS DOUBLE) AS ss, "
        "SUM(CAST(FLOOR(CAST(CAST(sg AS DOUBLE) * sg / ng + 0.5 "
        "AS DECIMAL(38,6))) AS HUGEINT)) AS a "
        "FROM g), "
        "f AS (SELECT k, n, "
        "CAST(a - CAST(FLOOR(CAST(CAST(s AS DOUBLE) * s / n + 0.5 "
        "AS DECIMAL(38,6))) AS HUGEINT) AS DOUBLE) AS ssb, "
        "ss - CAST(a AS DOUBLE) AS ssw FROM t) "
        "SELECT k, n, "
        + sql_round("(ssb / (k - 1)) / (ssw / (n - k))", 6) + " AS w_stat, "
        + sql_round("ssb / (ssb + ssw)", 6) + " AS eta_sq FROM f"
    ),
    tags=("stats", "test", "agg"),
)
def q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) test of variance
    homogeneity across weekdays: one-way ANOVA on z = |v − median_g|
    — "does the SPREAD of transaction amounts move by day-of-week",
    the dispersion companion to q_anova's mean test (and the
    assumption check q_anova itself leans on). Median centering is
    the robust Brown–Forsythe variant.

    Exactness: per-group medians are PERCENTILE_DISC elements
    (engine-exact, the q_winsorized_stats discipline), so z is an
    exact integer; group (n, Σz, Σz²) are exact integer sums (Σz² in
    HUGEINT/DECIMAL(38,0)); the between-group fold reuses q_anova's
    decimal-before-floor treatment verbatim. The only float ops are
    final scalars on exact integers.

    Scale: one grouped exact-percentile pass (≤7 rows out, broadcast
    back) + one map-side-combinable moment aggregate — the
    q_winsorized_stats shape."""
    ev = events_with_time(spark, sf_dir)
    b = ev.select(
        (F.expr("ts_sec div 86400") % 7).alias("dow"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    m = b.groupBy("dow").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .cast("bigint")
        .alias("med")
    )
    z = F.abs(F.col("v") - F.col("med"))
    g = (
        b.join(F.broadcast(m), "dow")
        .groupBy("dow")
        .agg(
            F.count("*").cast("bigint").alias("ng"),
            # Widen BEFORE the sum (the q_moments treatment): summing the
            # raw BIGINT z in 64-bit and casting afterwards would silently
            # wrap at fact scale, while the oracle sums in HUGEINT.
            F.sum(z.cast("decimal(38,0)")).alias("sg"),
            F.sum(z.cast("decimal(38,0)") * z).alias("ssg"),
        )
    )
    sgd = F.col("sg").cast("double")
    t = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("ssg").cast("double").alias("ss"),
        F.sum(
            F.floor((sgd * F.col("sg") / F.col("ng") + F.lit(0.5)).cast("decimal(38,6)"))
        ).alias("a"),
    )
    sd = F.col("s").cast("double")
    ssb = (
        F.col("a")
        - F.floor((sd * F.col("s") / F.col("n") + F.lit(0.5)).cast("decimal(38,6)"))
    ).cast("double")
    ssw = F.col("ss") - F.col("a").cast("double")
    return t.select(
        "k",
        "n",
        pround((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6).alias(
            "w_stat"
        ),
        pround(ssb / (ssb + ssw), 6).alias("eta_sq"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (round 9 batch 3): monotone association
# between transaction amount and hour-of-day, exact under ties via the
# same doubled-rank machinery as q_kruskal_wallis / q_mann_whitney.
# ---------------------------------------------------------------------------

_SPEAR_SQL = (
    # joint contingency of (1e-4 fixed-point value, hour) pairs, then
    # per-marginal doubled average ranks over DISTINCT values only
    f"b AS (SELECT CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS vx, "
    f"CAST(({_SEC_SQL} // 3600) % 24 AS BIGINT) AS vy FROM events), "
    "gv AS (SELECT vx, vy, CAST(COUNT(*) AS BIGINT) AS c FROM b "
    "GROUP BY vx, vy), "
    "mx AS (SELECT vx, CAST(SUM(c) AS BIGINT) AS t, "
    "CAST(2 * (SUM(SUM(c)) OVER (ORDER BY vx) - SUM(c)) + SUM(c) + 1 "
    "AS BIGINT) AS r2x FROM gv GROUP BY vx), "
    "my AS (SELECT vy, CAST(SUM(c) AS BIGINT) AS t, "
    "CAST(2 * (SUM(SUM(c)) OVER (ORDER BY vy) - SUM(c)) + SUM(c) + 1 "
    "AS BIGINT) AS r2y FROM gv GROUP BY vy), "
    "s AS (SELECT CAST(SUM(c) AS BIGINT) AS n, "
    "CAST(SUM(c * CAST(r2x AS HUGEINT)) AS HUGEINT) AS sx, "
    "CAST(SUM(c * CAST(r2y AS HUGEINT)) AS HUGEINT) AS sy, "
    "CAST(SUM(c * CAST(r2x AS HUGEINT) * r2x) AS HUGEINT) AS sxx, "
    "CAST(SUM(c * CAST(r2y AS HUGEINT) * r2y) AS HUGEINT) AS syy, "
    "CAST(SUM(c * CAST(r2x AS HUGEINT) * r2y) AS HUGEINT) AS sxy "
    "FROM gv JOIN mx USING (vx) JOIN my USING (vy))"
)


@query(
    "q_spearman",
    oracle=(
        "WITH " + _SPEAR_SQL + ", "
        "f AS (SELECT n, "
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
        "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho FROM s) "
        "SELECT n, " + sql_round("rho", 6) + " AS rho, "
        + sql_round("rho * SQRT((n - 2) / (1 - rho * rho))", 6)
        + " AS t_stat FROM f"
    ),
    tags=("stats", "test", "rank"),
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between transaction AMOUNT and
    HOUR-OF-DAY: the distribution-free monotone-association screen
    (does spend drift across the day?) that Pearson q_corr misses
    whenever the trend is monotone but non-linear. ρ = Pearson on
    average ranks; with doubled ranks R2 = 2·c_less + c_eq + 1 every
    term is an integer and the doubling cancels in the ratio:

      ρ = (N·Sxy − Sx·Sy) / √((N·Sxx − Sx²)(N·Syy − Sy²))

    over per-cell sums S.. = Σ c·R2x·R2y etc. of the (vx, vy) joint
    contingency. All six sums fold exactly in DECIMAL(38,0)/HUGEINT
    (bounds: c·R2x·R2y ≤ 4N²·c, inside 38 digits through ~1e11 rows);
    the final ρ and its t-statistic are scalar IEEE on the exact
    integers — identical on both engines, like q_kruskal_wallis's H.

    Scale: one map-side-combinable (vx × vy) fold bounded by the
    1e-4-quantized amount domain × 24 hours (NOT row count), marginal
    rank windows over distinct values only, two broadcast-sized joins
    back — the q_chi2 contingency shape with two rank twists.
    Ref: the reference's EDA correlation heatmap (notebooks/eda):
    scale-safe rank correlation replaces pandas .corr(method=
    'spearman')."""
    ev = events_with_time(spark, sf_dir)
    gv = (
        ev.select(
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint").alias("vx"),
            (F.expr("ts_sec div 3600") % 24).cast("bigint").alias("vy"),
        )
        .groupBy("vx", "vy")
        .agg(F.count("*").cast("bigint").alias("c"))
    )

    def marginal(col: str, rcol: str) -> DataFrame:
        w = Window.orderBy(col)
        return (
            gv.groupBy(col)
            .agg(F.sum("c").cast("bigint").alias("t"))
            .select(
                col,
                (2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1)
                .cast("bigint")
                .alias(rcol),
            )
        )

    j = gv.join(marginal("vx", "r2x"), "vx").join(marginal("vy", "r2y"), "vy")
    cd = F.col("c").cast("decimal(38,0)")
    s = j.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(cd * F.col("r2x")).alias("sx"),
        F.sum(cd * F.col("r2y")).alias("sy"),
        F.sum(cd * F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(cd * F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(cd * F.col("r2x") * F.col("r2y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    rho = (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / F.sqrt(
        (nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return s.select(
        "n",
        pround(rho, 6).alias("rho"),
        pround(rho * F.sqrt((F.col("n") - 2) / (1 - rho * rho)), 6).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b (round 9 batch 4): ordinal association between amount
# and hour-of-day by EXACT pair counting on the dense contingency grid
# — concordant/discordant pairs via two directional suffix-sum windows
# over grid CELLS (|values| x 24), never over fact rows.
# ---------------------------------------------------------------------------

_KENDALL_SQL = (
    f"b AS (SELECT CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS vx, "
    f"CAST(({_SEC_SQL} // 3600) % 24 AS BIGINT) AS vy FROM events), "
    "gv AS (SELECT vx, vy, CAST(COUNT(*) AS BIGINT) AS c FROM b "
    "GROUP BY vx, vy), "
    # dense grid: every (distinct vx) x (distinct vy) cell, zero-filled
    "dense AS (SELECT dx.vx, dy.vy, COALESCE(gv.c, 0) AS c "
    "FROM (SELECT DISTINCT vx FROM gv) dx "
    "CROSS JOIN (SELECT DISTINCT vy FROM gv) dy "
    "LEFT JOIN gv USING (vx, vy)), "
    # gt(vx,vy) = #observations with vx' strictly greater, same vy row
    "g1 AS (SELECT vx, vy, c, CAST(COALESCE(SUM(c) OVER ("
    "PARTITION BY vy ORDER BY vx "
    "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS HUGEINT) "
    "AS gt FROM dense), "
    "g2 AS (SELECT vx, vy, c, "
    "COALESCE(SUM(gt) OVER (PARTITION BY vx ORDER BY vy "
    "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS sc, "
    "COALESCE(SUM(gt) OVER (PARTITION BY vx ORDER BY vy "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sd "
    "FROM g1), "
    "p AS (SELECT CAST(SUM(c * sc) AS BIGINT) AS nc, "
    "CAST(SUM(c * sd) AS BIGINT) AS nd FROM g2), "
    # doubled tie-pair counts: n1_2 = Σ t(t-1) over the x-marginal etc.
    "tx AS (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT) "
    "AS n1_2 FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM gv GROUP BY vx)), "
    "ty AS (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT) "
    "AS n2_2 FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM gv GROUP BY vy)), "
    "nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM gv)"
)


@query(
    "q_kendall_tau",
    oracle=(
        "WITH " + _KENDALL_SQL + ", "
        "f AS (SELECT n, nc, nd, "
        "CAST(n AS DOUBLE) * (n - 1) AS n0_2, "
        "CAST(n1_2 AS DOUBLE) AS t1, CAST(n2_2 AS DOUBLE) AS t2 "
        "FROM p, tx, ty, nn) "
        "SELECT n, nc, nd, "
        + sql_round(
            "2.0 * (nc - nd) / SQRT((n0_2 - t1) * (n0_2 - t2))", 6
        )
        + " AS tau_b, "
        + sql_round("(nc - nd) * 1.0 / (nc + nd)", 6) + " AS gamma, "
        + sql_round(
            "3.0 * (nc - nd) / SQRT(CAST(n AS DOUBLE) * (n - 1) * (2.0 * n + 5) / 2)",
            6,
        )
        + " AS z FROM f"
    ),
    tags=("stats", "test", "rank"),
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between transaction AMOUNT and HOUR-OF-DAY: the
    pair-concordance companion to q_spearman (τ weights every pair
    equally where ρ weights by rank distance, so τ is the more robust
    ordinal-association screen under heavy ties — and hour-of-day has
    only 24 levels, so ties dominate).

    Exact pair counting WITHOUT the O(n²) pair join: concordant pairs
    fold on the dense (vx × vy) contingency grid as nc = Σ c_ij ·
    S_ij where S_ij = Σ_{{vx'>vx, vy'>vy}} c — two directional
    suffix-sum windows (per-row over vx, then per-column over vy)
    count every pair exactly once at its lower-left cell; discordant
    pairs mirror with the preceding-vy frame. Tie pairs come from the
    marginals in doubled units (n1_2 = Σ t(t−1), exact HUGEINT /
    DECIMAL(38,0)), and τ-b = 2(nc−nd)/√((n(n−1)−n1_2)(n(n−1)−n2_2))
    cancels the doubling. nc/nd emit as BIGINT — exact through ~4e9
    rows (nc ≤ n(n−1)/2); beyond that re-emit as DECIMAL(38,0) (the
    q_spearman bound note). γ (Goodman–Kruskal, ignores ties) and the
    normal z (untied approximation) are scalar IEEE on exact integers.

    Scale: one map-side-combinable fact fold to the contingency grid
    bounded by the 1e-4-quantized amount domain × 24 hours (NOT row
    count); the dense grid is |vx|·24 cells and both window passes run
    there (the vy-partitioned pass has 24 partitions of |vx| rows, the
    vx-partitioned pass |vx| partitions of 24 rows). Ref: completes
    the reference's EDA correlation family (notebooks/eda) — Pearson
    q_corr, Spearman q_spearman, Kendall here — each scale-safe."""
    ev = events_with_time(spark, sf_dir)
    pairs = ev.select(
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint").alias("vx"),
        (F.expr("ts_sec div 3600") % 24).cast("bigint").alias("vy"),
    )
    return kendall_tau(pairs)


def kendall_tau(pairs: DataFrame) -> DataFrame:
    """The q_kendall_tau kernel on a (vx, vy) BIGINT-pair DataFrame —
    module-level so the env-gated 10x scale smoke
    (tests/test_stats_scale.py) can drive it on a value-domain-scaled
    replica set. Returns the 1-row (n, nc, nd, tau_b, gamma, z)
    statistic table; see q_kendall_tau's docstring for the math and
    the linear-frame discipline."""
    gv = (
        pairs.groupBy("vx", "vy")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    dense = (
        gv.select("vx")
        .distinct()
        .crossJoin(F.broadcast(gv.select("vy").distinct()))
        .join(gv, ["vx", "vy"], "left")
        .na.fill({"c": 0})
    )
    # Suffix sums as (full-partition total − running prefix), NEVER as
    # a (1 FOLLOWING, UNBOUNDED FOLLOWING) frame: Spark's WindowExec
    # recomputes shrinking frames (moving lower bound + unbounded
    # following) from scratch per row — O(rows²) per partition, 54 s at
    # sf0.1 vs sub-second for the two O(n)-incremental frames below
    # (the full frame folds once per partition, the running frame
    # grows). Same integers, linear plan.
    w_tot_y = Window.partitionBy("vy")
    w_run_y = (
        Window.partitionBy("vy").orderBy("vx").rowsBetween(Window.unboundedPreceding, 0)
    )
    g1 = dense.select(
        "vx",
        "vy",
        "c",
        (F.sum("c").over(w_tot_y) - F.sum("c").over(w_run_y))
        .cast("decimal(38,0)")
        .alias("gt"),
    )
    w_tot_x = Window.partitionBy("vx")
    w_run_x = (
        Window.partitionBy("vx").orderBy("vy").rowsBetween(Window.unboundedPreceding, 0)
    )
    run_x = F.sum("gt").over(w_run_x)
    g2 = g1.select(
        "c",
        (F.sum("gt").over(w_tot_x) - run_x).alias("sc"),
        (run_x - F.col("gt")).alias("sd"),
    )
    p = g2.agg(
        F.sum(F.col("c") * F.col("sc")).cast("bigint").alias("nc"),
        F.sum(F.col("c") * F.col("sd")).cast("bigint").alias("nd"),
    )

    def tie2(col: str, out: str) -> DataFrame:
        return (
            gv.groupBy(col)
            .agg(F.sum("c").cast("bigint").alias("t"))
            .agg(
                F.sum(F.col("t").cast("decimal(38,0)") * (F.col("t") - 1)).alias(out)
            )
        )

    nn = gv.agg(F.sum("c").cast("bigint").alias("n"))
    f = p.crossJoin(tie2("vx", "n1_2")).crossJoin(tie2("vy", "n2_2")).crossJoin(nn)
    nd_ = F.col("n").cast("double")
    n0_2 = nd_ * (F.col("n") - 1)
    diff = (F.col("nc") - F.col("nd")).cast("double")
    return f.select(
        "n",
        "nc",
        "nd",
        pround(
            2.0 * diff
            / F.sqrt(
                (n0_2 - F.col("n1_2").cast("double"))
                * (n0_2 - F.col("n2_2").cast("double"))
            ),
            6,
        ).alias("tau_b"),
        pround(diff / (F.col("nc") + F.col("nd")).cast("double"), 6).alias("gamma"),
        pround(
            3.0 * diff / F.sqrt(nd_ * (F.col("n") - 1) * (2.0 * F.col("n") + 5) / 2),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank (round 9 batch 4): the PAIRED companion to
# q_mann_whitney — did per-user spend shift between the early and late
# half of the observation window?
# ---------------------------------------------------------------------------


@query(
    "q_wilcoxon_signed_rank",
    oracle=(
        f"WITH e AS (SELECT user_id, {_SEC_SQL} AS sec, "
        "CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v FROM events), "
        "m AS (SELECT (MIN(sec) + MAX(sec)) // 2 AS mid FROM e), "
        "d0 AS (SELECT user_id, CAST(SUM(CASE WHEN sec > mid THEN v "
        "ELSE -v END) AS BIGINT) AS d FROM e, m GROUP BY user_id), "
        "d AS (SELECT d FROM d0 WHERE d <> 0), "
        "g AS (SELECT ABS(d) AS a, CAST(COUNT(*) AS BIGINT) AS t, "
        "CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp "
        "FROM d GROUP BY 1), "
        "r AS (SELECT a, t, tp, "
        "CAST(2 * (SUM(t) OVER (ORDER BY a) - t) + t + 1 AS BIGINT) AS r2 "
        "FROM g), "
        "s AS (SELECT CAST(SUM(t) AS BIGINT) AS n, "
        "CAST(SUM(tp * CAST(r2 AS HUGEINT)) AS HUGEINT) AS w2p, "
        "CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS ties "
        "FROM r), "
        "f AS (SELECT n, CAST(w2p AS DOUBLE) / 2 AS wp, "
        "CAST(n AS DOUBLE) * (n + 1) / 2 - CAST(w2p AS DOUBLE) / 2 AS wm, "
        "CAST(ties AS DOUBLE) AS td FROM s) "
        "SELECT n, " + sql_round("wp", 1) + " AS w_plus, "
        + sql_round("wm", 1) + " AS w_minus, "
        + sql_round(
            "(wp - CAST(n AS DOUBLE) * (n + 1) / 4) / "
            "SQRT(CAST(n AS DOUBLE) * (n + 1) * (2.0 * n + 1) / 24 - td / 48)",
            6,
        )
        + " AS z, "
        + sql_round("(wp - wm) / (wp + wm)", 6) + " AS r_rb FROM f"
    ),
    tags=("stats", "test", "rank"),
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-user spend: for every
    user, d = (total 1e-4 fixed-point spend in the late half of the
    observed time range) − (early half); zero differences drop
    (standard); |d| gets doubled average ranks; W⁺ = Σ_{d>0} rank.
    The paired companion to q_mann_whitney's independent-samples U —
    "did the SAME population shift?", the within-subjects drift screen
    (cohort spend migration) none of the existing tests cover.

    Exactness: the half-split midpoint (min+max) div 2 and every d are
    exact integers; the rank machinery is the q_kruskal_wallis doubled
    construction over DISTINCT |d| (so tie-averaging stays integral);
    W²⁺ = Σ t⁺·r2 folds in HUGEINT/DECIMAL(38,0); W⁻ derives exactly
    as n(n+1)/2 − W⁺. Final z (tie-corrected: σ² = n(n+1)(2n+1)/24 −
    Σ(t³−t)/48) and the matched-pairs rank-biserial r = (W⁺−W⁻)/(W⁺+W⁻)
    are scalar IEEE on exact integers.

    Scale: one map-side-combinable per-user fold (|users| rows out),
    one window over DISTINCT |d| values (≤ |users|), one scalar
    aggregate — bounded by entity cardinality, never fact rows. The
    global (min, max) pair is a 1-row broadcast."""
    ev = events_with_time(spark, sf_dir).select(
        "user_id",
        "ts_sec",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    mid = ev.agg(F.expr("(min(ts_sec) + max(ts_sec)) div 2").alias("mid"))
    d = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts_sec") > F.col("mid"), F.col("v")).otherwise(
                    -F.col("v")
                )
            )
            .cast("bigint")
            .alias("d")
        )
        .filter(F.col("d") != 0)
    )
    g = (
        d.select(F.abs(F.col("d")).alias("a"), (F.col("d") > 0).cast("int").alias("pos"))
        .groupBy("a")
        .agg(
            F.count("*").cast("bigint").alias("t"),
            F.sum("pos").cast("bigint").alias("tp"),
        )
    )
    w = Window.orderBy("a")
    r = g.select(
        "t",
        "tp",
        (2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1)
        .cast("bigint")
        .alias("r2"),
    )
    s = r.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("tp").cast("decimal(38,0)") * F.col("r2")).alias("w2p"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
    )
    nd_ = F.col("n").cast("double")
    wp = F.col("w2p").cast("double") / 2
    wm = nd_ * (F.col("n") + 1) / 2 - wp
    return s.select(
        "n",
        pround(wp, 1).alias("w_plus"),
        pround(wm, 1).alias("w_minus"),
        pround(
            (wp - nd_ * (F.col("n") + 1) / 4)
            / F.sqrt(
                nd_ * (F.col("n") + 1) * (2.0 * F.col("n") + 1) / 24
                - F.col("ties").cast("double") / 48
            ),
            6,
        ).alias("z"),
        pround((wp - wm) / (wp + wm), 6).alias("r_rb"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR (round 10, VERDICT r9 #5b): the engine now
# emits a whole per-segment test battery (chi2/ANOVA/KW/MW/Levene) —
# a monitoring stack that alerts on every nominal p < 0.05 across
# dozens of segments drowns in false discoveries; BH step-up is how
# the battery is actually consumed. One exact df=2 goodness-of-fit
# test per customer nation, then the step-up over the <=25 p-values.
# ---------------------------------------------------------------------------

_BH_Q = 0.05
_BH_BUCKET_SQL = (
    "CASE WHEN o_totalprice < 100000 THEN 1 "
    "WHEN o_totalprice < 250000 THEN 2 ELSE 3 END"
)


def _battery_sql() -> str:
    """Shared oracle prefix: the per-nation df=2 chi-square battery,
    p-ranked — CTE ``r`` ends with (nationkey, n, m, chi2, p, k).
    Consumed by q_bh_fdr (step-up) and q_holm (step-down)."""
    chi2 = (
        "(CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / e1 "
        "+ (CAST(o2 AS DOUBLE) - e2) * (CAST(o2 AS DOUBLE) - e2) / e2 "
        "+ (CAST(o3 AS DOUBLE) - e3) * (CAST(o3 AS DOUBLE) - e3) / e3"
    )
    return (
        "WITH cells AS MATERIALIZED (SELECT c.c_nationkey AS nationkey, "
        f"{_BH_BUCKET_SQL} AS bucket, COUNT(*) AS o "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY nationkey, bucket), "
        "seg AS (SELECT nationkey, "
        "CAST(SUM(CASE WHEN bucket = 1 THEN o ELSE 0 END) AS BIGINT) AS o1, "
        "CAST(SUM(CASE WHEN bucket = 2 THEN o ELSE 0 END) AS BIGINT) AS o2, "
        "CAST(SUM(CASE WHEN bucket = 3 THEN o ELSE 0 END) AS BIGINT) AS o3, "
        "CAST(SUM(o) AS BIGINT) AS n FROM cells GROUP BY nationkey), "
        "gl AS (SELECT CAST(SUM(CASE WHEN bucket = 1 THEN o ELSE 0 END) AS BIGINT) AS t1, "
        "CAST(SUM(CASE WHEN bucket = 2 THEN o ELSE 0 END) AS BIGINT) AS t2, "
        "CAST(SUM(CASE WHEN bucket = 3 THEN o ELSE 0 END) AS BIGINT) AS t3, "
        "CAST(SUM(o) AS BIGINT) AS nn, "
        "CAST(COUNT(DISTINCT nationkey) AS BIGINT) AS m FROM cells), "
        "x AS (SELECT nationkey, n, m, "
        "CAST(n AS DOUBLE) * t1 / nn AS e1, "
        "CAST(n AS DOUBLE) * t2 / nn AS e2, "
        "CAST(n AS DOUBLE) * t3 / nn AS e3, o1, o2, o3 FROM seg, gl), "
        f"s AS (SELECT nationkey, n, m, {chi2} AS chi2, "
        f"EXP(-({chi2}) / 2) AS p FROM x), "
        "r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p, nationkey) "
        "AS BIGINT) AS k FROM s)"
    )


_BATTERY_TAIL_SQL = (
    "SELECT CAST(nationkey AS BIGINT) AS nationkey, n, "
    + sql_round("chi2", 6) + " AS chi2, "
    + sql_round("p", 8) + " AS p_value, k, "
)


def _nation_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Spark twin of _battery_sql: one fact fold to the <=75
    (nation, bucket) cells, exact df=2 chi-square per nation against
    the pooled mix, elementary p = exp(-x/2), p-ranked with
    (p, nationkey) tiebreak. Returns (nationkey, n, m, chi2, p, k)."""
    from fraud_detection_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    bucket = (
        F.when(F.col("o_totalprice") < 100000, 1)
        .when(F.col("o_totalprice") < 250000, 2)
        .otherwise(3)
    )
    cells = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), bucket.alias("bucket"))
        .agg(F.count("*").alias("o"))
    )

    def bsum(j: int, alias: str):
        return (
            F.sum(F.when(F.col("bucket") == j, F.col("o")).otherwise(0))
            .cast("bigint")
            .alias(alias)
        )

    seg = cells.groupBy("nationkey").agg(
        bsum(1, "o1"),
        bsum(2, "o2"),
        bsum(3, "o3"),
        F.sum("o").cast("bigint").alias("n"),
    )
    glob = cells.agg(
        bsum(1, "t1"),
        bsum(2, "t2"),
        bsum(3, "t3"),
        F.sum("o").cast("bigint").alias("nn"),
        F.countDistinct("nationkey").cast("bigint").alias("m"),
    )
    x = seg.crossJoin(F.broadcast(glob)).select(
        "nationkey",
        "n",
        "m",
        "o1",
        "o2",
        "o3",
        (F.col("n").cast("double") * F.col("t1") / F.col("nn")).alias("e1"),
        (F.col("n").cast("double") * F.col("t2") / F.col("nn")).alias("e2"),
        (F.col("n").cast("double") * F.col("t3") / F.col("nn")).alias("e3"),
    )

    def term(o: str, e: str):
        d = F.col(o).cast("double") - F.col(e)
        return d * d / F.col(e)

    chi2 = term("o1", "e1") + term("o2", "e2") + term("o3", "e3")
    s = x.select(
        "nationkey", "n", "m", chi2.alias("chi2"), F.exp(-chi2 / 2).alias("p")
    )
    w_rank = Window.orderBy("p", "nationkey")  # bounded: <=25 rows
    return s.withColumn("k", F.row_number().over(w_rank).cast("bigint"))


def _battery_out(df: DataFrame, rejected) -> DataFrame:
    return df.select(
        F.col("nationkey").cast("bigint").alias("nationkey"),
        "n",
        pround(F.col("chi2"), 6).alias("chi2"),
        pround(F.col("p"), 8).alias("p_value"),
        "k",
        rejected.cast("bigint").alias("rejected"),
    )


@query(
    "q_bh_fdr",
    oracle=(
        _battery_sql() + ", "
        "f AS (SELECT *, "
        # CAST the q literal to DOUBLE: DuckDB types a bare 0.05 as
        # DECIMAL, making k*0.05 exact before the double division while
        # Spark computes all-double — a verified threshold divergence
        # (k=3, m=7). The cast makes both engines evaluate the identical
        # double expression (ADVICE r10 #1).
        f"CASE WHEN p <= k * CAST({_BH_Q!r} AS DOUBLE) / m THEN k END"
        " AS flagk FROM r), "
        "ks AS (SELECT *, MAX(flagk) OVER () AS kstar FROM f) "
        + _BATTERY_TAIL_SQL
        + "CAST(CASE WHEN k <= COALESCE(kstar, 0) THEN 1 ELSE 0 END "
        "AS BIGINT) AS rejected FROM ks"
    ),
    tags=("stats", "test", "fdr"),
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up over a per-nation test battery:
    for every customer nation, an exact df=2 chi-square goodness-of-fit
    of the nation's order-value mix (3 fixed price buckets) against
    the pooled global mix, then the BH procedure at q=0.05 over the
    m<=25 p-values — reject p_(k) for all k <= k* where k* is the
    largest k with p_(k) <= k*q/m. This is how a monitoring stack
    actually consumes the engine's per-segment battery (q_chi2/
    q_anova/q_levene emit the raw statistics; BH controls the
    false-discovery rate across segments). FWER-controlling companion:
    q_holm (step-down over the same battery).

    Exactness: all cell counts are exact integers folded ONCE from
    the fact table; each chi2 is a fixed 3-term IEEE expression on
    those integers (explicit term order — never a SQL SUM over rows),
    and df=2 makes the p-value ELEMENTARY: P(X > x) = exp(-x/2), so
    no incomplete-gamma approximation enters. EXP is the one
    library-rounding risk (the q_lr/q_chi2 LN/LOG2 house class) —
    identical doubles feed identical flag comparisons on both
    engines, and displayed values round at 6/8 dp. Ranks tiebreak by
    (p, nationkey); k* via a full-window MAX of flagged ranks.

    Scale: ONE fact fold to the <=75-cell (nation, bucket) table
    (customer joins broadcast), then everything — margins, p-values,
    the BH sort and step-up — runs on bounded metadata. The rank
    window orders <=25 rows; no fact-scale sort anywhere."""
    r = _nation_battery(spark, sf_dir)
    f = r.withColumn(
        "flagk",
        F.when(F.col("p") <= F.col("k") * F.lit(_BH_Q) / F.col("m"), F.col("k")),
    )
    ks = f.withColumn("kstar", F.max("flagk").over(Window.partitionBy()))
    return _battery_out(
        ks, F.when(F.col("k") <= F.coalesce(F.col("kstar"), F.lit(0)), 1).otherwise(0)
    )


@query(
    "q_holm",
    oracle=(
        _battery_sql() + ", "
        "f AS (SELECT *, "
        f"CASE WHEN p > {_BH_Q!r} / (m - k + 1) THEN k END AS failk FROM r), "
        "ks AS (SELECT *, MIN(failk) OVER () AS kstop FROM f) "
        + _BATTERY_TAIL_SQL
        + "CAST(CASE WHEN k < COALESCE(kstop, m + 1) THEN 1 ELSE 0 END "
        "AS BIGINT) AS rejected FROM ks"
    ),
    tags=("stats", "test", "fdr"),
)
def q_holm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni step-DOWN over the same per-nation df=2 battery
    as q_bh_fdr: walk the p-values ascending, rejecting while
    p_(k) <= q/(m-k+1), and STOP at the first failure — controls the
    family-wise error rate (any false positive at all), the stricter
    guarantee a fraud team wants before an auto-action (freeze, SAR)
    where BH's false-discovery RATE is the right bar for triage
    queues. Same battery, both corrections — the pair is how the
    segment monitor is actually consumed.

    Exactness: identical battery integers/doubles as q_bh_fdr (shared
    _nation_battery / _battery_sql construction); the step-down stop
    is a full-window MIN over failed ranks — identical comparisons of
    identical doubles on both engines.

    Scale: the q_bh_fdr plan verbatim — one fact fold to <=75 cells,
    all correction machinery on <=25 bounded rows."""
    r = _nation_battery(spark, sf_dir)
    f = r.withColumn(
        "failk",
        F.when(
            F.col("p") > F.lit(_BH_Q) / (F.col("m") - F.col("k") + 1), F.col("k")
        ),
    )
    ks = f.withColumn("kstop", F.min("failk").over(Window.partitionBy()))
    return _battery_out(
        ks,
        F.when(
            F.col("k") < F.coalesce(F.col("kstop"), F.col("m") + 1), 1
        ).otherwise(0),
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage dose-trend test (round 11, VERDICT r10 #5c): the
# third test family feeding the q_bh_fdr/q_holm correction battery —
# per customer nation, is the fulfillment rate MONOTONE in the order
# value (3 ordered price buckets as the dose)? A chi-square sees any
# mix difference; this sees the DIRECTION, which is what a
# risk-by-exposure monitor actually asks.
# ---------------------------------------------------------------------------


def _catrend_oracle() -> str:
    # exact integer score moments per nation: with bucket scores
    # s_j = j (1,2,3), T = sum(j*r_j), b = sum(j*n_j), a = sum(j^2*n_j)
    z_num = "(CAST(t_stat AS DOUBLE) - CAST(r AS DOUBLE) * b / n)"
    bracket = (
        "GREATEST(CAST(a AS DOUBLE) - CAST(b AS DOUBLE) * b / n, 0.0)"
    )
    var = (
        "((CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n) "
        f"* {bracket})"
    )
    return (
        "WITH cells AS (SELECT c.c_nationkey AS nationkey, "
        f"{_BH_BUCKET_SQL} AS j, "
        "CAST(COUNT(*) AS BIGINT) AS nj, "
        "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS rj "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY nationkey, j), "
        "seg AS (SELECT nationkey, CAST(SUM(nj) AS BIGINT) AS n, "
        "CAST(SUM(rj) AS BIGINT) AS r, "
        "CAST(SUM(j * rj) AS BIGINT) AS t_stat, "
        "CAST(SUM(j * nj) AS BIGINT) AS b, "
        "CAST(SUM(j * j * nj) AS BIGINT) AS a FROM cells GROUP BY nationkey) "
        "SELECT CAST(nationkey AS BIGINT) AS nationkey, n, r AS n_pos, "
        "t_stat, "
        + sql_round("CAST(r AS DOUBLE) * b / n", 6) + " AS e_t, "
        + sql_round(var, 6) + " AS var_t, "
        + sql_round(f"{z_num} / SQRT({var})", 6) + " AS z FROM seg"
    )


@query(
    "q_cochran_armitage",
    oracle=_catrend_oracle(),
    tags=("stats", "test", "trend"),
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test per customer nation: is the
    fulfilled-order rate (o_orderstatus = 'F') monotone in the order
    value, with the 3 fixed price buckets (the q_bh_fdr battery's
    buckets) as ordered doses scored s_j = j? Emits per nation the
    exact trend statistic T = Σ j·r_j, its null mean E[T] = R·b/N,
    variance Var[T] = p(1-p)(a - b²/N) with p = R/N, and
    Z = (T-E)/sqrt(Var) — the signed direction a chi-square
    independence test (q_chi2/q_bh_fdr's battery) cannot express. The
    third test family for the q_bh_fdr/q_holm correction battery.

    Exactness: every moment is an exact BIGINT from ONE fact fold —
    T, b = Σ j·n_j, a = Σ j²·n_j, N, R — and E/Var/Z are scalar IEEE
    expressions on those integers (mul/div/sqrt are correctly rounded,
    so identical on both engines; no LN/EXP enters — Z is emitted
    WITHOUT a p-value precisely because the normal CDF would import
    the erf library-divergence class). A zero-variance nation
    (all orders in one bucket, or all/no fulfilled) divides by zero:
    NULL on both engines (DuckDB double x/0 and non-ANSI Spark agree);
    the sqrt argument is clamped at 0.0 on both sides because
    a - b²/N can land 1 ulp negative when the dose variance is
    exactly 0 and DuckDB SQRT(negative) raises where Spark says NaN.

    Scale: ONE map-side-combinable fact fold to the <=75-cell
    (nation, bucket) table (customer broadcast into the join), then a
    <=25-row aggregate — the q_bh_fdr shape; no fact-scale shuffle
    beyond the fold, no window anywhere."""
    from fraud_detection_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    bucket = (
        F.when(F.col("o_totalprice") < 100000, 1)
        .when(F.col("o_totalprice") < 250000, 2)
        .otherwise(3)
    )
    cells = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"), bucket.alias("j")
        )
        .agg(
            F.count("*").cast("bigint").alias("nj"),
            F.sum((F.col("o_orderstatus") == "F").cast("int"))
            .cast("bigint")
            .alias("rj"),
        )
    )
    seg = cells.groupBy("nationkey").agg(
        F.sum("nj").cast("bigint").alias("n"),
        F.sum("rj").cast("bigint").alias("r"),
        F.sum(F.col("j") * F.col("rj")).cast("bigint").alias("t_stat"),
        F.sum(F.col("j") * F.col("nj")).cast("bigint").alias("b"),
        F.sum(F.col("j") * F.col("j") * F.col("nj"))
        .cast("bigint")
        .alias("a"),
    )
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    bd = F.col("b").cast("double")
    ad = F.col("a").cast("double")
    p = rd / nd
    bracket = F.greatest(ad - bd * F.col("b") / nd, F.lit(0.0))
    var = p * (F.lit(1.0) - p) * bracket
    z = (F.col("t_stat").cast("double") - rd * bd / nd) / F.sqrt(var)
    return seg.select(
        F.col("nationkey").cast("bigint").alias("nationkey"),
        "n",
        F.col("r").alias("n_pos"),
        "t_stat",
        pround(rd * bd / nd, 6).alias("e_t"),
        pround(var, 6).alias("var_t"),
        pround(z, 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# McNemar paired test (round 11, batch 2): the PAIRED binary shift
# test the battery lacks — chi2/CA compare independent groups, but
# "did the SAME customers change behavior between periods" is a
# paired question, and the discordant-pair statistic is the correct
# (and exactly computable) answer.
# ---------------------------------------------------------------------------


def _mcnemar_oracle() -> str:
    return (
        "WITH o AS (SELECT o_custkey AS custkey, "
        "CAST(year(o_orderdate) AS BIGINT) AS y FROM orders), "
        "yr AS (SELECT (MIN(y) + MAX(y) + 1) // 2 AS mid FROM o), "
        "per AS (SELECT custkey, "
        "MAX(CASE WHEN y < mid THEN 1 ELSE 0 END) AS h1, "
        "MAX(CASE WHEN y >= mid THEN 1 ELSE 0 END) AS h2 "
        "FROM o, yr GROUP BY custkey), "
        "j AS (SELECT COALESCE(p.h1, 0) AS h1, COALESCE(p.h2, 0) AS h2 "
        "FROM customer c LEFT JOIN per p ON p.custkey = c.c_custkey), "
        "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_customers, "
        "CAST(SUM(h1 * h2) AS BIGINT) AS n_both, "
        "CAST(SUM(h1 * (1 - h2)) AS BIGINT) AS b, "
        "CAST(SUM((1 - h1) * h2) AS BIGINT) AS c, "
        "CAST(SUM((1 - h1) * (1 - h2)) AS BIGINT) AS n_neither FROM j) "
        "SELECT n_customers, n_both, b, c, n_neither, "
        + sql_round(
            "CAST((b - c) * (b - c) AS DOUBLE) / (b + c)", 6
        )
        + " AS chi2, "
        + sql_round(
            "CAST(GREATEST(ABS(b - c) - 1, 0) AS DOUBLE) "
            "* GREATEST(ABS(b - c) - 1, 0) / (b + c)",
            6,
        )
        + " AS chi2_cc FROM a"
    )


@query(
    "q_mcnemar",
    oracle=_mcnemar_oracle(),
    tags=("stats", "test", "paired"),
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test of customer activity shift between the two
    halves of the order-date range (split at the integer year midpoint
    (min_year + max_year + 1) // 2, a data-derived constant both
    engines compute identically in integer arithmetic): with b =
    customers active ONLY in the first half and c = active ONLY in the
    second, chi2 = (b-c)²/(b+c) — the discordant-pair statistic. The
    paired complement of the battery's independent-group tests
    (q_chi2/q_cochran_armitage): the marginal activity rates can be
    identical while HALF the population churned and was replaced, and
    only the paired view sees it. Also emits the Edwards
    continuity-corrected (max(|b-c|-1, 0))²/(b+c) (clamped so a
    zero-discordance population reads 0, not the textbook 1/(b+c)
    artifact). No p-value by design: df=1 needs erf, the
    cross-engine library class q_cochran_armitage also excludes.

    Exactness: every cell is an exact integer from ONE per-customer
    fold left-joined to the customer dim (never-ordering customers
    count as concordant-absent); the two statistics are (b-c)*(b-c)
    style IEEE expressions on exact integers — multiplication, not
    POWER (the r11 house rule); b + c = 0 divides to NULL on both
    engines. Displayed at 6 dp.

    Scale: one map-side-combinable fact fold to |customers| rows, a
    broadcast 1-row year-midpoint, one dim-sized left join, one 1-row
    aggregate. No window, no fact-scale shuffle beyond the fold."""
    from fraud_detection_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.year("o_orderdate").cast("bigint").alias("y"),
    )
    yr = o.agg(
        F.floor((F.min("y") + F.max("y") + 1) / 2).cast("bigint").alias("mid")
    )
    per = (
        o.crossJoin(F.broadcast(yr))
        .groupBy("custkey")
        .agg(
            F.max((F.col("y") < F.col("mid")).cast("int")).alias("h1"),
            F.max((F.col("y") >= F.col("mid")).cast("int")).alias("h2"),
        )
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    j = cust.join(per, cust.c_custkey == per.custkey, "left").select(
        F.coalesce(F.col("h1"), F.lit(0)).alias("h1"),
        F.coalesce(F.col("h2"), F.lit(0)).alias("h2"),
    )
    a = j.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum(F.col("h1") * F.col("h2")).cast("bigint").alias("n_both"),
        F.sum(F.col("h1") * (1 - F.col("h2"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("h1")) * F.col("h2")).cast("bigint").alias("c"),
        F.sum((1 - F.col("h1")) * (1 - F.col("h2")))
        .cast("bigint")
        .alias("n_neither"),
    )
    d = F.col("b") - F.col("c")
    dc = F.greatest(F.abs(d) - 1, F.lit(0))
    return a.select(
        "n_customers",
        "n_both",
        "b",
        "c",
        "n_neither",
        pround((d * d).cast("double") / (F.col("b") + F.col("c")), 6).alias(
            "chi2"
        ),
        pround(
            dc.cast("double") * dc / (F.col("b") + F.col("c")), 6
        ).alias("chi2_cc"),
    )


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-trend test (round 11, batch 3): the
# CONTINUOUS-response member of the trend family — q_cochran_armitage
# reads a binary rate across ordered doses, q_kruskal_wallis reads ANY
# shift across unordered groups; JT is the test for "does the VALUE
# distribution shift monotonically across ordered groups", here the
# transaction amount across the four day-parts.
# ---------------------------------------------------------------------------


def _jt_oracle() -> str:
    # JT2 = doubled JT statistic (ties count 1 -> 2 units, strict
    # wins 2 units), summed over ordered group pairs g < h via
    # per-value strict-prefix counts L_g(v) = cum_g(v) - c_g(v).
    pair_terms = " + ".join(
        f"CAST(c{h} AS HUGEINT) * (2 * (cum{g} - c{g}) + c{g})"
        for g in range(1, 4)
        for h in range(g + 1, 5)
    )
    return (
        "WITH e AS (SELECT ((epoch_ns(ts) // 1000000000 // 3600) % 24) // 6 + 1 "
        "AS grp, CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v FROM events), "
        "gp AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c FROM e "
        "GROUP BY grp, v), "
        "t AS (SELECT v, "
        + ", ".join(
            f"CAST(SUM(CASE WHEN grp = {g} THEN c ELSE 0 END) AS BIGINT) AS c{g}"
            for g in range(1, 5)
        )
        + " FROM gp GROUP BY v), "
        "cumt AS (SELECT v, c1, c2, c3, c4, "
        + ", ".join(
            f"CAST(SUM(c{g}) OVER (ORDER BY v) AS BIGINT) AS cum{g}"
            for g in range(1, 5)
        )
        + " FROM t), "
        f"jt AS (SELECT CAST(SUM({pair_terms}) AS HUGEINT) AS jt2 FROM cumt), "
        "gs AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS ng FROM gp GROUP BY grp), "
        "gm AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, "
        "CAST(SUM(ng) AS BIGINT) AS n, "
        "CAST(SUM(CAST(ng AS HUGEINT) * ng) AS HUGEINT) AS s2g, "
        "CAST(SUM(CAST(ng AS HUGEINT) * (ng - 1) * (2 * ng + 5)) AS HUGEINT) AS ag, "
        "CAST(SUM(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2)) AS HUGEINT) AS bg, "
        "CAST(SUM(CAST(ng AS HUGEINT) * (ng - 1)) AS HUGEINT) AS cg FROM gs), "
        "tm AS (SELECT "
        "CAST(SUM(CAST(tv AS HUGEINT) * (tv - 1) * (2 * tv + 5)) AS HUGEINT) AS at, "
        "CAST(SUM(CAST(tv AS HUGEINT) * (tv - 1) * (tv - 2)) AS HUGEINT) AS bt, "
        "CAST(SUM(CAST(tv AS HUGEINT) * (tv - 1)) AS HUGEINT) AS ct "
        "FROM (SELECT c1 + c2 + c3 + c4 AS tv FROM t)), "
        "f AS (SELECT k, n, "
        "CAST(jt2 AS DOUBLE) / 2 AS jtv, "
        "(CAST(n AS DOUBLE) * n - CAST(s2g AS DOUBLE)) / 4 AS e_jt, "
        "(CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - CAST(ag AS DOUBLE) "
        "- CAST(at AS DOUBLE)) / 72 "
        "+ CAST(bg AS DOUBLE) * CAST(bt AS DOUBLE) "
        "/ (36.0 * n * (n - 1) * (n - 2)) "
        "+ CAST(cg AS DOUBLE) * CAST(ct AS DOUBLE) / (8.0 * n * (n - 1)) "
        "AS var_jt FROM jt, gm, tm) "
        "SELECT k, n, " + sql_round("jtv", 1) + " AS jt, "
        + sql_round("e_jt", 2) + " AS e_jt, "
        + sql_round("var_jt", 2) + " AS var_jt, "
        + sql_round("(jtv - e_jt) / SQRT(var_jt)", 6) + " AS z FROM f"
    )


@query(
    "q_jonckheere",
    oracle=_jt_oracle(),
    tags=("stats", "test", "trend", "rank"),
)
def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test: does the
    transaction-value distribution shift monotonically across the four
    ordered day-parts (night 0-5h, morning 6-11h, afternoon 12-17h,
    evening 18-23h)? JT = Σ_{g<h} U_{gh} (pairwise Mann-Whitney counts
    between every LOWER and HIGHER dose, ties ½), with the
    TIE-CORRECTED normal moments (Hollander-Wolfe three-term
    variance). Completes the trend family: q_cochran_armitage reads a
    binary rate over doses, q_kruskal_wallis any unordered shift —
    this is the ordered continuous case, strictly more powerful than
    KW when the alternative is monotone.

    Exactness: values fold to 1e-4 fixed-point units; the doubled
    statistic JT2 = Σ_v Σ_{g<h} c_h(v)·(2·L_g(v) + c_g(v)) is an
    exact HUGEINT/DECIMAL(38,0) integer (L_g = strict-prefix counts
    from ONE growing-frame window pass), so JT = JT2/2 is exact at
    1 dp. Group/tie moment factors (Σn(n-1)(2n+5) etc.) are exact
    integers; only the FINAL E/Var/z combination runs in IEEE doubles
    (per-factor casts then mul/div/sqrt — all correctly rounded,
    identical both engines; the B and C cross terms are kept as
    double PRODUCTS of exact integer factors because their n⁶-scale
    product would overflow DECIMAL(38,0) past ~1e6 rows — same
    inputs, same ops, engine-identical). No p-value: the normal CDF
    is the erf class this house excludes (q_cochran_armitage
    precedent).

    Scale: one map-side (grp, v) fold bounded by 4 × the 1e-4 value
    DOMAIN (≤4e6 cells regardless of row count); the per-group prefix
    windows are GROWING frames over the ≤1e6-row distinct-value table
    (the q_kruskal_wallis/_rank2_tables pattern — domain-bounded, and
    functions.prefix_sums is the documented scale-up if the
    domain widens); everything after is 1-row scalar math."""
    ev = events_with_time(spark, sf_dir)
    gp = (
        ev.select(
            (F.expr("ts_sec div 3600") % 24)
            .cast("bigint")
            .alias("hour"),
            F.floor(F.col("value") * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("v"),
        )
        .select((F.expr("hour div 6") + 1).alias("grp"), "v")
        .groupBy("grp", "v")
        .agg(F.count("*").cast("bigint").alias("c"))
    )

    def csum(g: int):
        return (
            F.sum(F.when(F.col("grp") == g, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias(f"c{g}")
        )

    t = gp.groupBy("v").agg(*[csum(g) for g in range(1, 5)])
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cumt = t.select(
        "v",
        *[F.col(f"c{g}") for g in range(1, 5)],
        *[
            F.sum(f"c{g}").over(w).cast("bigint").alias(f"cum{g}")
            for g in range(1, 5)
        ],
    )
    dec = "decimal(38,0)"
    pair_terms = None
    for g in range(1, 4):
        for h in range(g + 1, 5):
            term = F.col(f"c{h}").cast(dec) * (
                2 * (F.col(f"cum{g}") - F.col(f"c{g}")) + F.col(f"c{g}")
            )
            pair_terms = term if pair_terms is None else pair_terms + term
    jt = cumt.agg(F.sum(pair_terms).alias("jt2"))
    gs = gp.groupBy("grp").agg(F.sum("c").cast("bigint").alias("ng"))
    ngd = F.col("ng").cast(dec)
    gm = gs.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.sum(ngd * F.col("ng")).alias("s2g"),
        F.sum(ngd * (F.col("ng") - 1) * (2 * F.col("ng") + 5)).alias("ag"),
        F.sum(ngd * (F.col("ng") - 1) * (F.col("ng") - 2)).alias("bg"),
        F.sum(ngd * (F.col("ng") - 1)).alias("cg"),
    )
    tv = (F.col("c1") + F.col("c2") + F.col("c3") + F.col("c4")).alias("tv")
    tvd = F.col("tv").cast(dec)
    tm = t.select(tv).agg(
        F.sum(tvd * (F.col("tv") - 1) * (2 * F.col("tv") + 5)).alias("at"),
        F.sum(tvd * (F.col("tv") - 1) * (F.col("tv") - 2)).alias("bt"),
        F.sum(tvd * (F.col("tv") - 1)).alias("ct"),
    )
    f = jt.crossJoin(F.broadcast(gm)).crossJoin(F.broadcast(tm))
    nd = F.col("n").cast("double")
    jtv = F.col("jt2").cast("double") / 2
    e_jt = (nd * F.col("n") - F.col("s2g").cast("double")) / 4
    var_jt = (
        (
            nd * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("ag").cast("double")
            - F.col("at").cast("double")
        )
        / 72
        + F.col("bg").cast("double")
        * F.col("bt").cast("double")
        / (F.lit(36.0) * F.col("n") * (F.col("n") - 1) * (F.col("n") - 2))
        + F.col("cg").cast("double")
        * F.col("ct").cast("double")
        / (F.lit(8.0) * F.col("n") * (F.col("n") - 1))
    )
    return f.select(
        "k",
        "n",
        pround(jtv, 1).alias("jt"),
        pround(e_jt, 2).alias("e_jt"),
        pround(var_jt, 2).alias("var_jt"),
        pround((jtv - e_jt) / F.sqrt(var_jt), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# Friedman blocked rank test + Page's L ordered alternative (round 11,
# batch 4): the BLOCKED members of the rank family — q_kruskal_wallis
# compares independent groups, but "does the same user's value level
# differ by day-part" is a repeated-measures question; Friedman ranks
# WITHIN each user (block) so between-user level differences cancel,
# and Page's L is its ordered-alternative refinement (the blocked
# analog of q_jonckheere).
# ---------------------------------------------------------------------------

_FRIED_K = 4  # day-parts


def _fried_oracle() -> str:
    k = _FRIED_K

    def less(a: int, b: int) -> str:
        # mean_a < mean_b exactly: s_a*n_b < s_b*n_a (integer cross-mul)
        return (
            f"CAST(s{a} AS HUGEINT) * n{b} < CAST(s{b} AS HUGEINT) * n{a}"
        )

    def eq(a: int, b: int) -> str:
        return (
            f"CAST(s{a} AS HUGEINT) * n{b} = CAST(s{b} AS HUGEINT) * n{a}"
        )

    r2_cols = []
    for j in range(1, k + 1):
        c_less = " + ".join(
            f"CASE WHEN {less(o, j)} THEN 1 ELSE 0 END"
            for o in range(1, k + 1)
            if o != j
        )
        t_j = " + ".join(
            f"CASE WHEN {eq(o, j)} THEN 1 ELSE 0 END"
            for o in range(1, k + 1)
            if o != j
        )
        r2_cols.append(f"2 * ({c_less}) + ({t_j}) + 2 AS r2_{j}")
    tie_sq = " + ".join(
        "(" + " + ".join(
            f"CASE WHEN {eq(o, j)} THEN 1 ELSE 0 END"
            for o in range(1, k + 1)
            if o != j
        )
        + f" + 1) * ("
        + " + ".join(
            f"CASE WHEN {eq(o, j)} THEN 1 ELSE 0 END"
            for o in range(1, k + 1)
            if o != j
        )
        + " + 1) - 1"
        for j in range(1, k + 1)
    )
    piv = ", ".join(
        f"CAST(SUM(CASE WHEN j = {j} THEN cnt ELSE 0 END) AS BIGINT) AS n{j}, "
        f"CAST(SUM(CASE WHEN j = {j} THEN sv ELSE 0 END) AS BIGINT) AS s{j}"
        for j in range(1, k + 1)
    )
    complete = " AND ".join(f"n{j} > 0" for j in range(1, k + 1))
    sum_r2sq = " + ".join(
        f"CAST(SUM(r2_{j}) AS HUGEINT) * CAST(SUM(r2_{j}) AS HUGEINT)"
        for j in range(1, k + 1)
    )
    l2 = " + ".join(f"{j} * CAST(SUM(r2_{j}) AS HUGEINT)" for j in range(1, k + 1))
    return (
        "WITH e AS (SELECT user_id, "
        "((epoch_ns(ts) // 1000000000 // 3600) % 24) // 6 + 1 AS j, "
        "CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v FROM events), "
        "g AS (SELECT user_id, j, COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) "
        "AS sv FROM e GROUP BY user_id, j), "
        f"p AS (SELECT user_id, {piv} "
        "FROM g GROUP BY user_id), "
        f"c AS (SELECT * FROM p WHERE {complete}), "
        f"r AS (SELECT user_id, {', '.join(r2_cols)}, {tie_sq} AS tsq FROM c), "
        "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(SUM(tsq) AS BIGINT) AS tt, {sum_r2sq} AS q4, {l2} AS l2 FROM r), "
        "f AS (SELECT n, "
        f"3.0 * CAST(q4 AS DOUBLE) / (CAST(n AS DOUBLE) * {k} * {k + 1}) "
        f"- 3.0 * n * {k + 1} AS q, "
        f"1.0 - CAST(tt AS DOUBLE) / (CAST(n AS DOUBLE) * {k} * {k * k - 1}) AS cc, "
        "CAST(l2 AS DOUBLE) / 2 AS lv, "
        f"CAST(n AS DOUBLE) * {k} * {(k + 1) * (k + 1)} / 4 AS e_l, "
        f"CAST(n AS DOUBLE) * {k * k} * {k + 1} * {k * k - 1} / 144 AS var_l "
        "FROM a) "
        f"SELECT n AS n_blocks, CAST({k} AS INT) AS k, "
        + sql_round("q", 6) + " AS q, "
        + sql_round("q / cc", 6) + " AS q_tie_adj, "
        + sql_round("lv", 1) + " AS page_l, "
        + sql_round("e_l", 2) + " AS e_l, "
        + sql_round("(lv - e_l) / SQRT(var_l)", 6) + " AS z_l FROM f"
    )


@query(
    "q_friedman",
    oracle=_fried_oracle(),
    tags=("stats", "test", "rank", "trend"),
)
def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman repeated-measures rank test + Page's L ordered trend:
    does a USER's mean transaction value differ across the four
    day-parts, ranking day-parts WITHIN each user so between-user
    level differences cancel (the blocked complement of
    q_kruskal_wallis, which would confound user mix with day-part) —
    and, because day-parts are ORDERED, Page's L = Σ j·R_j with its
    normal z as the blocked analog of q_jonckheere. Blocks are users
    with activity in all four day-parts (incomplete blocks are
    excluded — the standard complete-block design; both engines apply
    the identical filter).

    Exactness: a user's per-day-part means are RATIONALS (1e-4
    fixed-point sums / counts), and within-block ranking needs only
    mean COMPARISONS — done exactly by integer cross-multiplication
    s_a·n_b vs s_b·n_a in HUGEINT/DECIMAL(38,0), so the doubled ranks
    r2 = 2·c_less + t + 1 (t incl. self) are exact integers and NO
    float enters before the final scalars. Column sums R2_j, the tie
    term Σ(t²−1), ΣR2_j² and L2 fold as exact integers; Friedman
    Q = 3·ΣR2_j²/(nk(k+1)) − 3n(k+1) (the doubled-rank form), the
    tie-corrected Q/C with C = 1 − Σ(t³−t)/(nk(k²−1)), and Page's
    E[L] = nk(k+1)²/4, Var[L] = nk²(k+1)(k²−1)/144 (untied variance —
    ties across a user's four means are rare at 1e-4 resolution and
    the tie-corrected Q is the guarded statistic) are scalar IEEE on
    those integers. No p-value (the erf house exclusion).

    Scale: one map-side (user, day-part) fold, one |users|-row pivot
    aggregate, per-row constant-size rank expressions (12 integer
    comparisons), one 1-row fold — no window at all, no shuffle
    beyond the two hash aggregates. Blocks parallelize perfectly.

    Construction (round 17, VERDICT r16 #1): the per-day-part
    expression loops are composed as SQL-text blocks (selectExpr /
    F.expr) instead of Column-object chains — this was the
    py4j-chattiest constructor in the suite (5,758 commands per
    construction pre-r16; still ~1,100-1,900 after the r16 session
    fixes). The SQL text parses to the IDENTICAL Catalyst tree
    (rows, schema and plan fingerprint pinned equal in
    tests/test_round17_constructors.py): ~1,100-1,900 py4j commands
    -> ~150-480, construct wall 0.34-0.49 s -> 0.14-0.19 s (>=2.3x)
    measured interleaved same-session at sf0.1. Double literals use
    the D suffix (a bare 0.5 parses as DECIMAL(1,1) in SQL text,
    which would change result types)."""
    ev = events_with_time(spark, sf_dir)
    k = _FRIED_K
    g = (
        ev.selectExpr(
            "user_id",
            "((ts_sec div 3600) % 24 div 6 + 1) AS j",
            "CAST(FLOOR(value * 10000 + 0.5D) AS BIGINT) AS v",
        )
        .groupBy("user_id", "j")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("cnt"),
            F.expr("CAST(SUM(v) AS BIGINT)").alias("sv"),
        )
    )
    p = g.groupBy("user_id").agg(
        *[
            F.expr(
                f"CAST(SUM(CASE WHEN j = {j} THEN cnt ELSE 0 END) AS BIGINT)"
            ).alias(f"n{j}")
            for j in range(1, k + 1)
        ],
        *[
            F.expr(
                f"CAST(SUM(CASE WHEN j = {j} THEN sv ELSE 0 END) AS BIGINT)"
            ).alias(f"s{j}")
            for j in range(1, k + 1)
        ],
    )
    cb = p.filter(F.expr(" AND ".join(f"n{j} > 0" for j in range(1, k + 1))))

    def cross(a: int, b: int) -> str:
        return f"CAST(s{a} AS DECIMAL(38,0)) * n{b}"

    r2_cols, tsq_terms = [], []
    for j in range(1, k + 1):
        lt = " + ".join(
            f"(CASE WHEN {cross(o, j)} < {cross(j, o)} THEN 1 ELSE 0 END)"
            for o in range(1, k + 1)
            if o != j
        )
        eqc = " + ".join(
            f"(CASE WHEN {cross(o, j)} = {cross(j, o)} THEN 1 ELSE 0 END)"
            for o in range(1, k + 1)
            if o != j
        )
        r2_cols.append(f"2 * ({lt}) + ({eqc}) + 2 AS r2_{j}")
        tsq_terms.append(f"(({eqc}) + 1) * (({eqc}) + 1) - 1")
    r = cb.selectExpr(
        "user_id",
        *r2_cols,
        " + ".join(f"({t})" for t in tsq_terms) + " AS tsq",
    )
    a = r.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
        F.expr("CAST(SUM(tsq) AS BIGINT)").alias("tt"),
        *[
            F.expr(f"CAST(SUM(r2_{j}) AS BIGINT)").alias(f"rs{j}")
            for j in range(1, k + 1)
        ],
    )
    q4 = " + ".join(
        f"CAST(rs{j} AS DECIMAL(38,0)) * rs{j}" for j in range(1, k + 1)
    )
    l2 = " + ".join(
        f"CAST({j} AS DECIMAL(38,0)) * rs{j}" for j in range(1, k + 1)
    )
    nd = "CAST(n AS DOUBLE)"
    qstat = (
        f"(3.0D * CAST({q4} AS DOUBLE) / ({nd} * {k} * {k + 1}) "
        f"- 3.0D * n * {k + 1})"
    )
    cc = f"(1.0D - CAST(tt AS DOUBLE) / ({nd} * {k} * {k * k - 1}))"
    lv = f"(CAST({l2} AS DOUBLE) / 2)"
    e_l = f"({nd} * {k} * {k + 1} * {k + 1} / 4)"
    var_l = f"({nd} * {k * k} * {k + 1} * {k * k - 1} / 144)"

    def pr(e: str, n: int) -> str:
        p10 = 10**n
        return f"FLOOR(({e}) * {p10} + 0.5D) / {p10}"

    return a.selectExpr(
        "n AS n_blocks",
        f"CAST({k} AS INT) AS k",
        pr(qstat, 6) + " AS q",
        pr(f"{qstat} / {cc}", 6) + " AS q_tie_adj",
        pr(lv, 1) + " AS page_l",
        pr(e_l, 2) + " AS e_l",
        pr(f"({lv} - {e_l}) / SQRT({var_l})", 6) + " AS z_l",
    )
