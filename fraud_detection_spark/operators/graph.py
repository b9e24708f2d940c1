"""Transaction-graph and robust-statistics operators.

Fraud detection is ultimately about relationships (who transacts with
whom) and outliers (amounts that don't fit the counterparty's
pattern). The reference models each transaction in isolation
(predict_single.py scores one row; eda.py looks at one column at a
time); these operators add the graph/robust layer a fraud platform
builds on the same data:

- q_graph_degree  counterparty-degree + concentration features per
                  customer over the customer—supplier edge set
- q_mad_outlier   median/MAD robust outlier flags per user (plus the
                  approx_percentile scale twin mad_outlier_approx)
- q_pagerank      iterative PageRank over the bipartite transaction
                  graph (rows-only: iterative fixpoint, not a single
                  SQL expression)

Scale posture: the edge list is one fact-fact shuffle join
(lineitem ⋈ orders on the order key — the standard co-partitioned
join, AQE-planned) followed by hash aggregates; medians use
PERCENTILE_DISC (an element of the group — engine-exact, see
q_percentiles) with the tiny per-group stats broadcast back; PageRank
iterations are join+agg rounds over the edge list with
localCheckpoint every few rounds to cut lineage — the classic
DataFrame-iterative shape that survives 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_spark.functions import pround
from fraud_detection_spark.registry import query, sql_round
from fraud_detection_spark.sources import load_table

_EDGE_SQL = (
    "SELECT o_custkey AS custkey, l_suppkey AS suppkey, COUNT(*) AS n "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "GROUP BY custkey, suppkey"
)

# "suspicious" = edge weight >= RING_FACTOR x the typical relationship;
# ONE definition shared by the AML ring screens (operators/aml.py
# imports it) and the projected-graph structure below, so tuning the
# cut can never de-synchronize them (round-7 self-review).
RING_FACTOR = 2.5


def edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer—supplier edge list with transaction counts."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_graph_degree",
    oracle=(
        f"WITH e AS ({_EDGE_SQL}) "
        "SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_counterparties, "
        "CAST(SUM(n) AS BIGINT) AS n_txn, "
        + sql_round("MAX(n) * 1.0 / SUM(n)", 6)
        + " AS concentration FROM e GROUP BY custkey"
    ),
    tags=("graph", "fraud", "feature"),
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterparty-degree features per customer: number of distinct
    suppliers transacted with, total transactions, and concentration
    (share of the single busiest counterparty) — the first-order graph
    features of every fraud network model (a stolen card fans out; a
    mule concentrates).

    Plan: one fact-fact shuffle join on the order key (AQE picks the
    strategy), then two nested hash aggregates — (custkey, suppkey)
    edge weights, then per-custkey degree stats. Both are map-side
    combinable; ratios are integer/integer."""
    e = edges(spark, sf_dir)
    return e.groupBy("custkey").agg(
        F.count("*").cast("bigint").alias("n_counterparties"),
        F.sum("n").cast("bigint").alias("n_txn"),
        pround(F.max("n") * 1.0 / F.sum("n"), 6).alias("concentration"),
    )


@query(
    "q_mad_outlier",
    oracle=(
        "WITH med AS (SELECT user_id, "
        "quantile_disc(value, 0.5) AS med FROM events GROUP BY user_id), "
        "dev AS (SELECT e.event_id, e.user_id, e.value, m.med, "
        "ABS(e.value - m.med) AS adev "
        "FROM events e JOIN med m ON e.user_id = m.user_id), "
        "mad AS (SELECT user_id, quantile_disc(adev, 0.5) AS mad "
        "FROM dev GROUP BY user_id) "
        "SELECT d.event_id, d.user_id, "
        + sql_round("d.value", 4) + " AS value, "
        + sql_round("d.med", 4) + " AS med, "
        + sql_round("m.mad", 4) + " AS mad "
        "FROM dev d JOIN mad m ON d.user_id = m.user_id "
        "WHERE m.mad > 0 AND d.adev > 10 * m.mad"
    ),
    tags=("fraud", "stats", "outlier"),
)
def q_mad_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per user: flag events whose value
    deviates from the user's MEDIAN by more than 10× the user's MAD
    (median absolute deviation) — "this transaction is wildly out of
    this account's pattern", the robust screen that, unlike z-scores,
    is not dragged by the outliers it hunts (50% breakdown point
    vs 0%). The events table's heavy-tailed values are exactly the
    reference's log-normal Amount shape
    (scripts/generate_synthetic_data.py:15).

    Plan: two grouped PERCENTILE_DISC aggregates (median of value,
    then median of |value − med|), each an element of its group so
    both engines agree exactly; the per-user stats tables are
    broadcast back onto the fact scan. The fact table shuffles once
    per percentile pass on the group key — the unavoidable cost of an
    exact median; an approx_percentile twin is the beyond-100 TB
    fallback, same shape as q_quantiles ↔ q_approx_quantile."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    med = ev.groupBy("user_id").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "user_id")
        .filter((F.col("mad") > 0) & (F.col("adev") > 10 * F.col("mad")))
        .select(
            "event_id",
            "user_id",
            pround(F.col("value"), 4).alias("value"),
            pround(F.col("med"), 4).alias("med"),
            pround(F.col("mad"), 4).alias("mad"),
        )
    )


_PR_ITERS = 8
_PR_DAMP = 0.85
_PR_TOPK = 20


def _pagerank_oracle() -> str:
    """DuckDB twin of the fixed-8-iteration lazy PageRank: the
    iteration count is FIXED, so the fixpoint unrolls into a chain of
    plain CTEs r0..r8 (no recursion needed — the same determinism that
    lets the driver hash-compare an 'iterative' algorithm). Every
    arithmetic step mirrors the Spark expression op-for-op in IEEE
    double — explicit CAST(... AS DOUBLE) keeps DuckDB's decimal
    literals out of the hot path — and the per-iteration 12-dp
    fixed-point round (sql_round ≡ functions.pround) snaps away
    partial-sum-order jitter on both engines, exactly as it does for
    Spark's own partition-stress determinism.

    Every multi-referenced CTE is AS MATERIALIZED: each r{i} is read
    twice (by c{i+1} and r{i+1}), so DuckDB's default inlining would
    double the plan per iteration — 2^8 copies of the whole chain
    (observed: minutes of planner CPU). Materialization is the DuckDB
    twin of the Spark side's localCheckpoint() lineage cut."""
    sql = [
        "WITH e0 AS MATERIALIZED (SELECT o_custkey * 2 AS src, "
        "l_suppkey * 2 + 1 AS dst, "
        "COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY src, dst), "
        "ed AS MATERIALIZED (SELECT src, dst, n FROM e0 "
        "UNION ALL SELECT dst, src, n FROM e0), "
        "ow AS (SELECT src, SUM(n) AS w_out FROM ed GROUP BY src), "
        "sh AS MATERIALIZED (SELECT ed.src, ed.dst, "
        "CAST(ed.n AS DOUBLE) / ow.w_out AS share "
        "FROM ed JOIN ow ON ed.src = ow.src), "
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sh), "
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes), "
        "r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank "
        "FROM nodes, nn), "
    ]
    step = (
        f"(CAST(1 AS DOUBLE) - {_PR_DAMP}) / nn.n + {_PR_DAMP} * "
        "(0.5 * r.rank + 0.5 * COALESCE(c.c_in, CAST(0 AS DOUBLE)))"
    )
    for i in range(1, _PR_ITERS + 1):
        sql.append(
            f"c{i} AS MATERIALIZED (SELECT sh.dst AS node, "
            "SUM(r.rank * sh.share) AS c_in "
            f"FROM sh JOIN r{i - 1} r ON sh.src = r.node GROUP BY sh.dst), "
            f"r{i} AS MATERIALIZED (SELECT nodes.node, "
            + sql_round(step, 12) + " AS rank "
            f"FROM nodes CROSS JOIN nn "
            f"JOIN r{i - 1} r ON nodes.node = r.node "
            f"LEFT JOIN c{i} c ON nodes.node = c.node), "
        )
    sql[-1] = sql[-1].rstrip(", ") + " "  # last CTE: no trailing comma
    sql.append(
        "SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END "
        "AS side, CAST(node // 2 AS BIGINT) AS key, "
        + sql_round("rank", 8)
        + f" AS rank FROM r{_PR_ITERS} "
        f"ORDER BY rank DESC, side ASC, key ASC LIMIT {_PR_TOPK}"
    )
    return "".join(sql)


@query(
    "q_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative"),
    eager=True,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted lazy-walk PageRank over the bipartite customer—
    supplier transaction graph (each edge taken in both directions,
    weight = transaction count): the standard network-centrality
    feature for mule/hub detection. The walk is LAZY (stay put with
    probability ½, else step) because a bipartite transition matrix
    has eigenvalue −1: the plain damped iteration ping-pongs mass
    between the two sides and still carries ~0.85⁸ ≈ 27% of the
    oscillation after 8 rounds (measured), while laziness maps that
    mode to eigenvalue 0 and kills it outright. Fixed 8 iterations,
    damping 0.85, uniform init; emits the top-20 nodes by rank.

    Oracle (round 8, VERDICT r7 #7): the iteration count is FIXED, so
    the fixpoint unrolls into a chain of eight plain CTEs in DuckDB
    (_pagerank_oracle) — hash-exact parity, upgraded from the r1-r7
    rows-only posture. The per-iteration 12-dp fixed-point round wipes
    partial-sum-order jitter on BOTH engines, which is what makes an
    iterative float algorithm hash-comparable at all; the property
    tests (Σrank = 1, contraction, repartition determinism) still pin
    the semantics independently.

    Scale: each iteration is one join of the rank vector (|nodes|
    rows) with the edge list + one hash aggregate — the canonical
    DataFrame-iterative shape. localCheckpoint() every other
    iteration cuts the exponentially-growing lineage so the plan
    stays constant-size; at cluster scale the same call persists to
    executor-local storage and AQE re-plans each round."""
    ranks = pagerank_ranks(spark, sf_dir)
    side = F.when(F.col("node") % 2 == 0, F.lit("customer")).otherwise(
        F.lit("supplier")
    )
    key = F.floor(F.col("node") / 2).cast("bigint")
    return (
        ranks.select(
            side.alias("side"),
            key.alias("key"),
            pround(F.col("rank"), 8).alias("rank"),
        )
        .orderBy(F.desc("rank"), F.asc("side"), F.asc("key"))
        .limit(_PR_TOPK)
    )


def pagerank_ranks(
    spark: SparkSession, sf_dir: str, iters: int = _PR_ITERS
) -> DataFrame:
    """Full rank vector (node -> rank) after ``iters`` damped
    iterations — q_pagerank's core, exposed for the property tests
    (Σrank = 1, layout determinism, contraction)."""
    e = edges(spark, sf_dir)
    # undirected: both directions; node ids disambiguated by side
    # (customer ids are even, supplier ids odd)
    fwd = e.select(
        (F.col("custkey") * 2).alias("src"),
        (F.col("suppkey") * 2 + 1).alias("dst"),
        F.col("n"),
    )
    rev = e.select(
        (F.col("suppkey") * 2 + 1).alias("src"),
        (F.col("custkey") * 2).alias("dst"),
        F.col("n"),
    )
    ed = fwd.union(rev)
    out_w = ed.groupBy("src").agg(F.sum("n").alias("w_out"))
    ed = ed.join(out_w, "src").withColumn(
        "share", F.col("n").cast("double") / F.col("w_out")
    ).select("src", "dst", "share").localCheckpoint()

    nodes = ed.select(F.col("src").alias("node")).distinct()
    # bounded: |customers| + |suppliers|; with no edges there are no
    # nodes to rank and the 1/n literals below are never evaluated
    n_nodes = max(nodes.count(), 1)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for i in range(iters):
        contrib = (
            ed.join(ranks, ed.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") * F.col("share")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c_in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .join(ranks.select("node", F.col("rank").alias("r_prev")), "node")
            .select(
                "node",
                pround(
                    F.lit((1.0 - _PR_DAMP) / n_nodes)
                    + F.lit(_PR_DAMP)
                    * (
                        F.lit(0.5) * F.col("r_prev")  # lazy: stay with p=1/2
                        + F.lit(0.5) * F.coalesce(F.col("c_in"), F.lit(0.0))
                    ),
                    12,
                ).alias("rank"),
            )
        )
        if i % 2 == 1:
            ranks = ranks.localCheckpoint()
    return ranks


def mad_outlier_approx(
    spark: SparkSession, sf_dir: str, accuracy: int = 10000
) -> DataFrame:
    """Beyond-100 TB twin of q_mad_outlier: same two-pass median/MAD
    shape with ``approx_percentile`` (Greenwald–Khanna sketch —
    mergeable, single-pass per stage, no per-group sort) in place of
    the exact PERCENTILE_DISC. Not a declared query: the sketch's
    rank-error bound (1/accuracy) makes results engine-specific, so
    there is no DuckDB oracle — the equivalence test instead bounds
    the flag-set disagreement against the exact form."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    med = ev.groupBy("user_id").agg(
        F.expr(f"approx_percentile(value, 0.5, {accuracy})").alias("med")
    )
    dev = ev.join(F.broadcast(med), "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(
        F.expr(f"approx_percentile(adev, 0.5, {accuracy})").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "user_id")
        .filter((F.col("mad") > 0) & (F.col("adev") > 10 * F.col("mad")))
        .select("event_id", "user_id")
    )


_MAHA_FEATS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CHI2_95_DF4 = 9.488  # chi-square 0.95 critical value, 4 degrees of freedom


@query(
    "q_mahalanobis",
    oracle=(
        "WITH s AS (SELECT "
        + ", ".join(
            f"AVG({c}) AS mu_{i}, STDDEV_SAMP({c}) AS sd_{i}"
            for i, c in enumerate(_MAHA_FEATS)
        )
        + " FROM lineitem) "
        "SELECT l_orderkey, l_linenumber, "
        + sql_round(
            " + ".join(
                f"(({c} - mu_{i}) / sd_{i}) * (({c} - mu_{i}) / sd_{i})"
                for i, c in enumerate(_MAHA_FEATS)
            ),
            6,
        )
        + " AS d2, CAST(CASE WHEN "
        + " + ".join(
            f"(({c} - mu_{i}) / sd_{i}) * (({c} - mu_{i}) / sd_{i})"
            for i, c in enumerate(_MAHA_FEATS)
        )
        + f" > {_CHI2_95_DF4} THEN 1 ELSE 0 END AS INT) AS is_outlier "
        "FROM lineitem, s"
    ),
    tags=("ml", "outlier"),
)
def q_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-covariance Mahalanobis screen: d² = Σᵢ((xᵢ−μᵢ)/σᵢ)²
    over the four lineitem numerics, flagged against the χ²₀.₉₅ (df=4)
    critical value — the multivariate companion to the per-group
    median/MAD screen (q_mad_outlier): a row can be unremarkable on
    every axis yet jointly improbable. Diagonal Σ on purpose: the full
    inverse-covariance form needs a 4×4 solve (driver numpy on the
    collected covariance — trivial) but its matrix arithmetic is not
    reproducible across engines, while the diagonal form is pure
    column math both engines evaluate identically.

    Plan: identical shape to q_standard_scale — one tiny stats
    aggregate (map-side combinable), broadcast back, zero shuffle of
    the fact table, whole-stage codegen throughout."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        *[
            a
            for i, c in enumerate(_MAHA_FEATS)
            for a in (
                F.avg(c).alias(f"mu_{i}"),
                F.stddev_samp(c).alias(f"sd_{i}"),
            )
        ]
    )
    d2 = None
    for i, c in enumerate(_MAHA_FEATS):
        z = (F.col(c) - F.col(f"mu_{i}")) / F.col(f"sd_{i}")
        term = z * z
        d2 = term if d2 is None else d2 + term
    return li.crossJoin(F.broadcast(stats)).select(
        "l_orderkey",
        "l_linenumber",
        pround(d2, 6).alias("d2"),
        (d2 > F.lit(_CHI2_95_DF4)).cast("int").alias("is_outlier"),
    )


@query(
    "q_neighbor_degree",
    oracle=(
        f"WITH e AS ({_EDGE_SQL}), "
        "sd AS (SELECT suppkey, COUNT(*) AS s_degree FROM e GROUP BY suppkey) "
        "SELECT e.custkey, CAST(COUNT(*) AS BIGINT) AS n_counterparties, "
        + sql_round(
            "CAST(SUM(CAST(sd.s_degree AS BIGINT)) AS DOUBLE) / COUNT(*)", 6
        )
        + " AS avg_nbr_degree, "
        "CAST(MAX(sd.s_degree) AS BIGINT) AS max_nbr_degree "
        "FROM e JOIN sd USING (suppkey) GROUP BY e.custkey"
    ),
    tags=("graph", "fraud", "feature"),
)
def q_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order graph features: for each customer, the mean and max
    popularity (customer-degree) of its counterparties — first-order
    degree (q_graph_degree) says HOW MANY counterparties; this says
    WHAT KIND. Low neighbor degree is the mule tell (money moves
    through obscure counterparties); high is normal retail. One
    neighbor-aggregation hop is also the hand-rolled form of a
    GraphSAGE-style feature layer.

    Plan: supplier degrees are one hash aggregate over the edge list
    (≤|suppliers| rows — broadcast back onto the edges), then one
    aggregate per customer. Exact integer sums; the mean is an
    int-sum / count division — engine-exact before rounding."""
    e = edges(spark, sf_dir)
    sd = e.groupBy("suppkey").agg(F.count("*").alias("s_degree"))
    return (
        e.join(F.broadcast(sd), "suppkey")
        .groupBy("custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_counterparties"),
            pround(
                F.sum(F.col("s_degree").cast("bigint")).cast("double") / F.count("*"),
                6,
            ).alias("avg_nbr_degree"),
            F.max("s_degree").cast("bigint").alias("max_nbr_degree"),
        )
    )


@query(
    "q_hhi",
    oracle=(
        f"WITH e AS ({_EDGE_SQL}), "
        "t AS (SELECT custkey, SUM(n) AS n_tot FROM e GROUP BY custkey) "
        "SELECT e.custkey, CAST(t.n_tot AS BIGINT) AS n_txn, "
        "CAST(COUNT(*) AS BIGINT) AS n_counterparties, "
        + sql_round(
            "CAST(SUM(CAST(FLOOR((e.n * 1.0 / t.n_tot) * (e.n * 1.0 / t.n_tot)"
            " * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000",
            6,
        )
        + " AS hhi FROM e JOIN t USING (custkey) GROUP BY e.custkey, t.n_tot"
    ),
    tags=("graph", "fraud", "feature"),
)
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of each customer's
    counterparty mix: Σ shareᵢ² over its suppliers — 1.0 = everything
    through one counterparty (the mule-funnel shape), 1/k = spread
    evenly over k. Completes q_graph_degree's max-share concentration
    with the full-distribution index regulators actually use for
    concentration. Shares are integer/integer ratios (identical
    doubles per row on both engines); each share² folds to 1e-9
    fixed-point units BEFORE the per-customer sum — the round-10
    sf0.1 parity sweep caught the previous raw SUM(double) flipping a
    6-dp boundary at one 63-counterparty customer (partial-sum-order
    dependence, the round-2 q_tpch_q9 class; invisible at the smaller
    test SFs). Integer sums are associative — layout-proof."""
    e = edges(spark, sf_dir)
    t = e.groupBy("custkey").agg(F.sum("n").alias("n_tot"))
    share = F.col("n") * 1.0 / F.col("n_tot")
    hhi_units = F.floor(share * share * 1000000000 + F.lit(0.5)).cast("bigint")
    return (
        e.join(F.broadcast(t), "custkey")
        .groupBy("custkey", "n_tot")
        .agg(
            F.count("*").cast("bigint").alias("n_counterparties"),
            pround(F.sum(hhi_units).cast("double") / 1000000000, 6).alias("hhi"),
        )
        .select(
            "custkey",
            F.col("n_tot").cast("bigint").alias("n_txn"),
            "n_counterparties",
            "hhi",
        )
    )


# --- projected-graph structure: triangles + neighbor similarity -------
#
# Both run on the suspicion-FILTERED projection of the bipartite graph
# (q_fraud_rings' >= 2.5x-mean edge cut, aml.py) — the relative cut
# keeps the pair space sparse at every SF, which is what makes the
# self-joins below bounded (the q_shared_counterparties argument).

_HEAVY_PAIR_SQL = (
    "e AS (SELECT o_custkey AS custkey, l_suppkey AS suppkey, COUNT(*) AS n "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "GROUP BY custkey, suppkey), "
    f"t AS (SELECT CEIL({RING_FACTOR} * AVG(n)) AS k FROM e), "
    "heavy AS (SELECT custkey, suppkey FROM e, t WHERE n >= k), "
    "pe AS (SELECT DISTINCT a.custkey AS ca, b.custkey AS cb "
    "FROM heavy a JOIN heavy b "
    "ON a.suppkey = b.suppkey AND a.custkey < b.custkey)"
)


def _heavy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct projected edges (ca < cb) between customers sharing a
    heavy counterparty — the vertex-ordered edge list triangle
    enumeration wants (each triangle materializes exactly once as
    a < b < c)."""
    e = edges(spark, sf_dir)
    thr = e.agg(F.ceil(F.lit(RING_FACTOR) * F.avg("n")).alias("k"))
    # NOT cached: a cache boundary here hides the filtered table's
    # runtime stats from AQE and the pair self-join degrades to
    # sort-merge (measured 2.8 -> 6.0 s at sf0.1); the caller caches
    # the far smaller pe projection instead, which bounds the
    # recompute to two edge-aggregate passes
    heavy = (
        e.crossJoin(F.broadcast(thr))
        .filter(F.col("n") >= F.col("k"))
        .select("custkey", "suppkey")
    )
    return project_pairs(heavy)


def project_pairs(heavy: DataFrame) -> DataFrame:
    """Distinct projected pairs (ca < cb) of a bipartite edge list
    (columns custkey, suppkey): customers sharing a counterparty,
    self-joined on the counterparty key. The kernel behind
    _heavy_pairs, factored out so the 10x scale smoke
    (tests/test_graph_scale.py) can drive it with a replicated edge
    list — per-counterparty fan-out is quadratic in that
    counterparty's degree, which is exactly what the suspicion cut
    (and, at 100 TB, a per-counterparty degree cap) keeps bounded."""
    a = heavy.select(F.col("custkey").alias("ca"), "suppkey")
    b = heavy.select(F.col("custkey").alias("cb"), "suppkey")
    return (
        a.join(b, "suppkey")
        .filter(F.col("ca") < F.col("cb"))
        .select("ca", "cb")
        .distinct()
    )


def oriented_edges(pe: DataFrame) -> DataFrame:
    """Degree-ordered orientation of an undirected edge list (columns
    ``ca < cb``, distinct): every edge re-oriented from its
    lower-(degree, key) endpoint to its higher one, emitted as
    (src, dst, rank_dst).

    The orientation is the point (VERDICT r7 #4): with raw-key
    ordering a hub vertex of degree d contributes O(d²) wedges no
    matter how peripheral its neighbors are; ordering by degree first
    bounds every vertex's OUT-degree by O(√|E|) (a vertex keeps an
    out-edge only toward same-or-higher-degree endpoints, and at most
    2√|E| vertices have degree ≥ √|E|), so wedge fan-out — the shuffle
    that kills MapReduce triangle jobs on skewed graphs — is
    sub-quadratic in the hub degree. Star-graph wedge count drops from
    C(d, 2) to 0. Ties break on key, keeping the order total and the
    enumeration exact."""
    d = (
        pe.select(F.explode(F.array("ca", "cb")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    # degree table is |V|-sized (vertices of the sparse projection, a
    # strict subset of customers) — broadcast both lookups so the edge
    # list is annotated map-side without a shuffle
    e = (
        pe.join(
            F.broadcast(
                d.withColumnRenamed("v", "ca").withColumnRenamed("deg", "da")
            ),
            "ca",
        ).join(
            F.broadcast(
                d.withColumnRenamed("v", "cb").withColumnRenamed("deg", "db")
            ),
            "cb",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("ca") < F.col("cb"))
    )
    # rank as an orderable (deg, key) STRUCT — Spark compares structs
    # lexicographically field-by-field, so this is the exact (deg, key)
    # total order with no width assumption. (A shiftleft(deg, 31) + key
    # packing is only a valid order while keys < 2^31 and deg < 2^32;
    # a custkey at or above 2^31 — plausible at the 100 TB design
    # point — would silently corrupt the orientation. ADVICE r8.)
    return e.select(
        F.when(a_first, F.col("ca")).otherwise(F.col("cb")).alias("src"),
        F.when(a_first, F.col("cb")).otherwise(F.col("ca")).alias("dst"),
        F.struct(
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("deg"),
            F.when(a_first, F.col("cb")).otherwise(F.col("ca")).alias("key"),
        ).alias("rank_dst"),
    )


def oriented_wedges(pe: DataFrame, directed: DataFrame | None = None) -> DataFrame:
    """Degree-ordered wedge candidates (u, v, w) with rank(u) <
    rank(v) < rank(w) and edges u—v, u—w present: the out-neighbors of
    each source paired. Each triangle yields exactly one wedge whose
    closing edge v—w exists; total wedge volume is O(|E|^1.5)
    regardless of degree skew (see ``oriented_edges``). The self-join
    reads one aliased copy of the directed list, so both shuffle sides
    hash the same child on ``src`` and AQE reuses the exchange."""
    if directed is None:
        directed = oriented_edges(pe)
    x, y = directed.alias("x"), directed.alias("y")
    return (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.rank_dst") < F.col("y.rank_dst"))
        .select(
            F.col("x.src").alias("u"),
            F.col("x.dst").alias("v"),
            F.col("y.dst").alias("w"),
        )
    )


def triangle_counts(pe: DataFrame) -> DataFrame:
    """Per-vertex triangle participation of an undirected edge list
    (``ca < cb``, distinct): pair the out-neighbors of each source in
    the degree-ordered orientation (wedge (u, v, w), rank v < rank w),
    then close against the DIRECTED edge list — orientation is a
    total order, so the closing edge {v, w} can only be stored as
    v→w — and count each triangle once at all three corners."""
    directed = oriented_edges(pe)
    wedge = oriented_wedges(pe, directed)
    close = directed.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedge.join(close, ["v", "w"])
    corners = (
        tri.select(F.col("u").alias("custkey"))
        .unionAll(tri.select(F.col("v").alias("custkey")))
        .unionAll(tri.select(F.col("w").alias("custkey")))
    )
    return corners.groupBy("custkey").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )


@query(
    "q_triangle_count",
    oracle=(
        "WITH " + _HEAVY_PAIR_SQL + ", "
        "tri AS (SELECT p1.ca AS a, p1.cb AS b, p2.cb AS c "
        "FROM pe p1 JOIN pe p2 ON p2.ca = p1.cb "
        "JOIN pe p3 ON p3.ca = p1.ca AND p3.cb = p2.cb), "
        "v AS (SELECT a AS custkey FROM tri UNION ALL "
        "SELECT b FROM tri UNION ALL SELECT c FROM tri) "
        "SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_triangles "
        "FROM v GROUP BY custkey"
    ),
    tags=("graph", "fraud", "join"),
    eager=True,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer triangle participation in the projected collusion
    graph: three accounts pairwise linked through shared heavy
    counterparties are the tightest ring evidence there is (an open
    pair can be coincidence; a closed triangle rarely is) — triangle
    count is the standard graph feature fraud models add after degree.

    Plan (round 8, VERDICT r7 #4): degree-ordered triangle
    enumeration — edges oriented from lower- to higher-degree
    endpoint (ties on key), wedges paired per source, closed against
    the undirected edge list (``oriented_wedges``/``triangle_counts``
    above). Same triangles as the r7 raw-key orientation — the oracle
    is unchanged — but hub-vertex join fan-out drops from O(d_max²)
    to O(|E|^1.5) total, the bound that survives a skewed collusion
    graph at 100 TB. All joins run on the suspicion-filtered
    projection (sparse by the relative cut); nothing touches the raw
    fact tables after the one edge aggregate.

    localCheckpoint (not cache): the orientation adds a degree pass
    and a second small join layer over pe, and a cache boundary hides
    pe's true size from Catalyst (InMemoryRelation defaults to huge
    sizeInBytes) so every downstream join planned sort-merge —
    measured 7.3 s vs 3.4 s warm at sf0.1. Checkpointing materializes
    pe once, truncates the fact-scan lineage, and exposes exact size
    stats, so the deg/wedge/close joins auto-broadcast when pe is
    small and fall back to shuffle when it isn't — the adaptive
    behavior a 100 TB projection needs."""
    pe = _heavy_pairs(spark, sf_dir).localCheckpoint()
    return triangle_counts(pe)


@query(
    "q_neighbor_jaccard",
    oracle=(
        "WITH e AS (SELECT o_custkey AS custkey, l_suppkey AS suppkey, "
        "COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY custkey, suppkey), "
        f"t AS (SELECT CEIL({RING_FACTOR} * AVG(n)) AS k FROM e), "
        "heavy AS (SELECT custkey, suppkey FROM e, t WHERE n >= k), "
        "deg AS (SELECT custkey, COUNT(DISTINCT suppkey) AS d "
        "FROM heavy GROUP BY custkey), "
        "pe AS (SELECT a.custkey AS ca, b.custkey AS cb, "
        "COUNT(DISTINCT a.suppkey) AS n_shared FROM heavy a JOIN heavy b "
        "ON a.suppkey = b.suppkey AND a.custkey < b.custkey "
        "GROUP BY ca, cb) "
        "SELECT pe.ca AS cust_a, pe.cb AS cust_b, "
        "CAST(pe.n_shared AS BIGINT) AS n_shared, "
        + sql_round("pe.n_shared * 1.0 / (da.d + db.d - pe.n_shared)", 6)
        + " AS jaccard "
        "FROM pe JOIN deg da ON da.custkey = pe.ca "
        "JOIN deg db ON db.custkey = pe.cb"
    ),
    tags=("graph", "fraud", "join"),
)
def q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity per projected customer pair:
    |shared heavy counterparties| / |union| — the normalized form of
    q_shared_counterparties' raw count (two accounts sharing 2 of
    their 2 counterparties are a far stronger mule-pair signal than
    two sharing 2 of 40). The standard link-prediction / entity-merge
    score on transaction graphs.

    Plan: degree table and shared counts both come off the same
    suspicion-filtered edge list (two hash aggregates); the pair table
    joins the per-vertex degree twice on the projected keys. Sparse by
    the relative cut — no quadratic stage touches the raw graph."""
    e = edges(spark, sf_dir)
    thr = e.agg(F.ceil(F.lit(RING_FACTOR) * F.avg("n")).alias("k"))
    # cache: three consumers (deg + both join sides) — uncached, each
    # would recompute the full fact-fact edge aggregate (see
    # _heavy_pairs); the filtered table itself is sparse. Same
    # no-unpersist LRU trade as q_triangle_count's pe cache.
    heavy = (
        e.crossJoin(F.broadcast(thr))
        .filter(F.col("n") >= F.col("k"))
        .select("custkey", "suppkey")
        .cache()
    )
    deg = heavy.groupBy("custkey").agg(F.countDistinct("suppkey").alias("d"))
    a = heavy.select(F.col("custkey").alias("ca"), "suppkey")
    b = heavy.select(F.col("custkey").alias("cb"), "suppkey")
    pe = (
        a.join(b, "suppkey")
        .filter(F.col("ca") < F.col("cb"))
        .groupBy("ca", "cb")
        .agg(F.countDistinct("suppkey").alias("n_shared"))
    )
    return (
        pe.join(deg.select(F.col("custkey").alias("ca"), F.col("d").alias("da")), "ca")
        .join(deg.select(F.col("custkey").alias("cb"), F.col("d").alias("db")), "cb")
        .select(
            F.col("ca").alias("cust_a"),
            F.col("cb").alias("cust_b"),
            F.col("n_shared").cast("bigint").alias("n_shared"),
            pround(
                F.col("n_shared") * 1.0
                / (F.col("da") + F.col("db") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "q_new_edges",
    oracle=(
        "WITH a AS (SELECT DISTINCT o_custkey AS custkey, "
        "l_suppkey AS suppkey, "
        "year(o_orderdate) * 10000 + month(o_orderdate) * 100 "
        "+ day(o_orderdate) AS datekey "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
        "f AS (SELECT custkey, suppkey, MIN(datekey) AS first_day "
        "FROM a GROUP BY custkey, suppkey) "
        "SELECT a.datekey AS datekey, "
        "CAST(COUNT(*) AS BIGINT) AS n_active_edges, "
        "CAST(SUM(CASE WHEN a.datekey = f.first_day THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_new_edges, "
        + sql_round(
            "SUM(CASE WHEN a.datekey = f.first_day THEN 1 ELSE 0 END) "
            "* 1.0 / COUNT(*)",
            6,
        )
        + " AS new_rate "
        "FROM a JOIN f ON a.custkey = f.custkey AND a.suppkey = f.suppkey "
        "GROUP BY a.datekey"
    ),
    tags=("graph", "fraud", "agg"),
)
def q_new_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterparty-novelty rate per day: of the (customer, supplier)
    relationships active each day, how many are transacting for the
    FIRST time — the temporal-graph feature behind "sudden fan-out to
    unknown counterparties" alerts (a takeover wires to fresh mules;
    organic books re-use edges). A rising new-edge rate is the
    earliest macro sign of a mule-network build-out.

    Plan: distinct (edge, day) activity from the one fact-fact join,
    per-edge first-day aggregate joined back on the co-partitioned
    edge key, one day-level hash aggregate. All integer date math."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    # bigint to match the oracle's int64 (year()*10000 is int32 in
    # Spark but BIGINT in DuckDB — the driver hash is type-sensitive)
    datekey = (
        F.year("o_orderdate") * 10000
        + F.month("o_orderdate") * 100
        + F.dayofmonth("o_orderdate")
    ).cast("bigint")
    a = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_suppkey").alias("suppkey"),
            datekey.alias("datekey"),
        )
        .distinct()
    )
    f = a.groupBy("custkey", "suppkey").agg(F.min("datekey").alias("first_day"))
    return (
        a.join(f, ["custkey", "suppkey"])
        .groupBy("datekey")
        .agg(
            F.count("*").cast("bigint").alias("n_active_edges"),
            F.sum((F.col("datekey") == F.col("first_day")).cast("int"))
            .cast("bigint")
            .alias("n_new_edges"),
            pround(
                F.sum((F.col("datekey") == F.col("first_day")).cast("int"))
                * 1.0
                / F.count("*"),
                6,
            ).alias("new_rate"),
        )
    )


# --- round 8: projected-graph structure completion --------------------


@query(
    "q_clustering_coeff",
    oracle=(
        "WITH " + _HEAVY_PAIR_SQL + ", "
        "tri AS (SELECT p1.ca AS a, p1.cb AS b, p2.cb AS c "
        "FROM pe p1 JOIN pe p2 ON p2.ca = p1.cb "
        "JOIN pe p3 ON p3.ca = p1.ca AND p3.cb = p2.cb), "
        "v AS (SELECT a AS custkey FROM tri UNION ALL "
        "SELECT b FROM tri UNION ALL SELECT c FROM tri), "
        "tc AS (SELECT custkey, COUNT(*) AS n_tri FROM v GROUP BY custkey), "
        "deg AS (SELECT custkey, COUNT(*) AS d FROM "
        "(SELECT ca AS custkey FROM pe UNION ALL SELECT cb FROM pe) "
        "GROUP BY custkey) "
        "SELECT deg.custkey, CAST(deg.d AS BIGINT) AS degree, "
        "CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_triangles, "
        + sql_round(
            "2.0 * COALESCE(tc.n_tri, 0) / (deg.d * (deg.d - 1))", 6
        )
        + " AS clustering_coeff "
        "FROM deg LEFT JOIN tc ON deg.custkey = tc.custkey "
        "WHERE deg.d >= 2"
    ),
    tags=("graph", "fraud"),
    eager=True,
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per projected-graph customer:
    2·triangles(v) / (deg(v)·(deg(v)−1)) — what fraction of a
    customer's co-conspirator candidates are themselves pairwise
    linked. The normalized form of q_triangle_count (a hub in 3
    triangles out of 3 possible is a closed cell; one in 3 of 4,950
    is a popular counterparty), i.e. the standard second-order graph
    feature after degree and triangle count.

    Plan: triangle counts and degrees both come off the ONE
    localCheckpoint'd projected edge list (triangle_counts reuses the
    degree-ordered enumeration — same skew bound as
    q_triangle_count); the final join is |V|-sized both sides.
    Only deg ≥ 2 vertices emit (the coefficient is undefined below),
    which also keeps the output the analyst-relevant core."""
    pe = _heavy_pairs(spark, sf_dir).localCheckpoint()
    tc = triangle_counts(pe)
    deg = (
        pe.select(F.explode(F.array("ca", "cb")).alias("custkey"))
        .groupBy("custkey")
        .agg(F.count("*").alias("d"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tc, "custkey", "left")
        .select(
            "custkey",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            pround(
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )


@query(
    "q_assortativity",
    oracle=(
        "WITH " + _HEAVY_PAIR_SQL + ", "
        "deg AS (SELECT custkey, COUNT(*) AS d FROM "
        "(SELECT ca AS custkey FROM pe UNION ALL SELECT cb FROM pe) "
        "GROUP BY custkey), "
        "de AS (SELECT da.d AS x, db.d AS y FROM pe "
        "JOIN deg da ON pe.ca = da.custkey "
        "JOIN deg db ON pe.cb = db.custkey), "
        "sym AS (SELECT x, y FROM de UNION ALL SELECT y, x FROM de), "
        "s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, "
        "SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy, "
        "SUM(CAST(x AS HUGEINT) * y) AS sxy, "
        "SUM(CAST(x AS HUGEINT) * x) AS sxx FROM sym) "
        "SELECT CAST(n // 2 AS BIGINT) AS n_edges, "
        + sql_round(
            "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / "
            "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)",
            6,
        )
        + " AS assortativity FROM s"
    ),
    tags=("graph", "stats"),
    eager=True,
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the projected collusion graph: the
    Pearson correlation of endpoint degrees over all edges (each edge
    taken in both directions, the standard Newman convention — which
    also makes the x/y marginals identical, so one Sxx serves as both
    variances). Negative assortativity (hubs attaching to leaves) is
    the mule-star signature; positive (hubs linking hubs) is the
    dense-ring signature — one scalar that characterizes which regime
    the suspicious subgraph is in.

    Exactness: degrees are integers, so every accumulated moment
    (Σx, Σxy, Σx²) is an exact integer sum — DECIMAL(38,0) on Spark,
    HUGEINT on DuckDB (the q_corr_matrix discipline); the only float
    ops are the final two divisions, identical IEEE on both engines,
    then the 6-dp fixed-point round."""
    pe = _heavy_pairs(spark, sf_dir).localCheckpoint()
    deg = (
        pe.select(F.explode(F.array("ca", "cb")).alias("custkey"))
        .groupBy("custkey")
        .agg(F.count("*").alias("d"))
    )
    de = (
        pe.join(
            F.broadcast(deg.withColumnRenamed("custkey", "ca").withColumnRenamed("d", "x")),
            "ca",
        )
        .join(
            F.broadcast(deg.withColumnRenamed("custkey", "cb").withColumnRenamed("d", "y")),
            "cb",
        )
        .select("x", "y")
    )
    sym = de.unionAll(de.select(F.col("y").alias("x"), F.col("x").alias("y")))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = sym.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        F.floor(F.col("n") / 2).cast("bigint").alias("n_edges"),
        pround(
            (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")),
            6,
        ).alias("assortativity"),
    )


_LP_ITERS = 4


def _label_prop_oracle() -> str:
    """DuckDB twin of the fixed-4-iteration min-label propagation:
    the same unrolled-CTE construction as _pagerank_oracle (fixed
    iteration count → plain CTE chain; every multi-referenced CTE
    MATERIALIZED against exponential inlining). Pure integer MIN
    semantics — no float reconciliation needed at all."""
    sql = [
        "WITH " + _HEAVY_PAIR_SQL + ", "
        "sym AS MATERIALIZED (SELECT ca AS src, cb AS dst FROM pe "
        "UNION ALL SELECT cb, ca FROM pe), "
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label "
        "FROM sym), "
    ]
    for i in range(1, _LP_ITERS + 1):
        sql.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS node, MIN(p.label) AS nl "
            f"FROM sym e JOIN l{i - 1} p ON e.src = p.node GROUP BY e.dst), "
            f"l{i} AS MATERIALIZED (SELECT l.node, "
            "LEAST(l.label, COALESCE(c.nl, l.label)) AS label "
            f"FROM l{i - 1} l LEFT JOIN c{i} c ON l.node = c.node), "
        )
    sql[-1] = sql[-1].rstrip(", ") + " "
    sql.append(
        "SELECT CAST(label AS BIGINT) AS community, "
        "CAST(COUNT(*) AS BIGINT) AS n_members "
        f"FROM l{_LP_ITERS} GROUP BY label"
    )
    return "".join(sql)


@query(
    "q_label_prop",
    oracle=_label_prop_oracle(),
    tags=("graph", "iterative", "fraud"),
    eager=True,
)
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the projected collusion graph by
    synchronous min-label propagation, fixed 4 iterations: every
    vertex starts labeled with its own id and repeatedly takes the
    minimum label among itself and its neighbors — after k rounds,
    labels have flooded k hops, so each emitted community is (a
    4-hop-radius approximation of) a connected component of the
    suspicious subgraph, the ring-candidate grouping a fraud desk
    triages by size. Deterministic by construction (MIN is
    order-free), hence hash-exact against the unrolled DuckDB CTE
    chain — the q_pagerank treatment applied to a pure-integer
    iteration.

    Plan: per iteration ONE join of the |V|-row label vector against
    the sparse symmetric edge list + one MIN aggregate, then a left
    join back — the same DataFrame-iterative shape as PageRank, with
    localCheckpoint every other round cutting the exponential lineage.
    At 100 TB the edge list is hash-partitioned on src once and every
    iteration reuses that layout; label convergence (usually < 10
    rounds on social-scale graphs) bounds the chain."""
    pe = _heavy_pairs(spark, sf_dir).localCheckpoint()
    sym = pe.select(F.col("ca").alias("src"), F.col("cb").alias("dst")).unionAll(
        pe.select(F.col("cb").alias("src"), F.col("ca").alias("dst"))
    )
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for i in range(_LP_ITERS):
        nl = (
            sym.join(labels, sym.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nl"))
        )
        labels = (
            labels.join(nl, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                ).alias("label"),
            )
        )
        if i % 2 == 1:
            labels = labels.localCheckpoint()
    return labels.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_members")
    ).select(F.col("label").cast("bigint").alias("community"), "n_members")


_CORE_ROUNDS = 3


def _two_core_oracle() -> str:
    """DuckDB twin of the fixed-3-round 2-core peel: unrolled CTE
    chain (the _pagerank_oracle/_label_prop_oracle construction),
    every multi-referenced CTE MATERIALIZED. Pure integer set
    semantics — no float reconciliation anywhere."""
    sql = [
        "WITH " + _HEAVY_PAIR_SQL + ", "
        "s0 AS MATERIALIZED (SELECT ca AS src, cb AS dst FROM pe "
        "UNION ALL SELECT cb, ca FROM pe), "
    ]
    for r in range(1, _CORE_ROUNDS + 1):
        sql.append(
            f"d{r} AS MATERIALIZED (SELECT src, COUNT(*) AS deg "
            f"FROM s{r - 1} GROUP BY src), "
            f"k{r} AS MATERIALIZED (SELECT src AS node FROM d{r} "
            "WHERE deg >= 2), "
            f"s{r} AS MATERIALIZED (SELECT s.src, s.dst FROM s{r - 1} s "
            f"JOIN k{r} a ON s.src = a.node "
            f"JOIN k{r} b ON s.dst = b.node), "
        )
    sql[-1] = sql[-1].rstrip(", ") + " "
    sql.append(
        "SELECT src AS custkey, CAST(COUNT(*) AS BIGINT) AS core_degree "
        f"FROM s{_CORE_ROUNDS} GROUP BY src"
    )
    return "".join(sql)


@query(
    "q_graph_2core",
    oracle=_two_core_oracle(),
    tags=("graph", "iterative", "fraud"),
    eager=True,
)
def q_graph_2core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core peel of the projected collusion graph, fixed 3 rounds:
    repeatedly delete degree-<2 vertices (and their edges), keeping
    the subgraph where every member has ≥2 ties — the standard
    densest-region pre-filter for ring investigation (a pendant
    vertex can be an innocent shared counterparty; surviving the
    2-core peel means being MUTUALLY embedded). Three rounds reach
    the fixpoint on short-chain graphs; the emitted residual degree
    is the triage weight. Pure-integer set semantics → hash-exact
    against the unrolled MATERIALIZED-CTE chain, like q_label_prop.

    Plan (delta-peeling, VERDICT r8 #6): ONE full degree aggregate
    over the edge list, then per round only the neighbors of the
    just-removed frontier are re-checked — the frontier (vertices
    that fell below 2 this round, a shrinking set) broadcasts
    against the STATIC edge list to count each alive vertex's lost
    edges, and the |V|-row degree table is patched by subtraction.
    The edge list is never rewritten; per-round cost is proportional
    to edges INCIDENT TO REMOVED VERTICES, not to |E| — the classic
    100 TB refinement over recompute-everything peeling. Correctness
    invariant: after applying round r's losses, ``alive_deg`` equals
    each survivor's degree in the subgraph induced by the alive set,
    so frontier selection matches the oracle's full recompute round
    for round, and the final emit (degree >= 1) is the oracle's
    end-state degree table. localCheckpoint pins the small degree
    table between rounds (lineage cut + exact sizeInBytes for the
    broadcast)."""
    pe = _heavy_pairs(spark, sf_dir).localCheckpoint()
    edges_r = pe.select(F.col("ca").alias("src"), F.col("cb").alias("dst")).unionAll(
        pe.select(F.col("cb").alias("src"), F.col("ca").alias("dst"))
    )
    return two_core_delta_peel(edges_r, _CORE_ROUNDS).select(
        F.col("src").alias("custkey"), F.col("deg").alias("core_degree")
    )


def two_core_delta_peel(edges_r: DataFrame, rounds: int) -> DataFrame:
    """Delta-peeling 2-core kernel on a symmetric directed edge list
    (both (u,v) and (v,u) present): ``rounds`` removal rounds of
    degree-<2 vertices, returning the survivors' end-state degree
    table (src, deg) — vertices with deg >= 1 in the induced
    subgraph, identical to recomputing degrees on the fully filtered
    edge list (the oracle's unrolled-CTE semantics; see
    ``q_graph_2core``). Edge list is read ``rounds`` times but never
    rewritten; each round touches only edges incident to that
    round's frontier."""
    edges_r = edges_r.localCheckpoint()

    def patch(alive: DataFrame, frontier: DataFrame) -> DataFrame:
        # subtract each alive vertex's edges into the just-removed
        # frontier; only frontier-adjacent vertices change, everyone
        # else passes through the left join untouched
        lost = (
            edges_r.join(F.broadcast(frontier), "dst")
            .groupBy("src")
            .agg(F.count("*").alias("lost"))
        )
        return alive.join(lost, "src", "left").select(
            "src",
            (F.col("deg") - F.coalesce(F.col("lost"), F.lit(0))).alias("deg"),
        ).localCheckpoint()

    deg = edges_r.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    frontier = deg.filter(F.col("deg") < 2).select(F.col("src").alias("dst"))
    alive = deg.filter(F.col("deg") >= 2)
    for _ in range(1, rounds):
        patched = patch(alive, frontier)
        frontier = patched.filter(F.col("deg") < 2).select(F.col("src").alias("dst"))
        alive = patched.filter(F.col("deg") >= 2)
    # the oracle's final round also FILTERS the last frontier's edges
    # before its end-state degree emit — apply that round's losses,
    # then emit survivors that still touch >= 1 edge
    final = patch(alive, frontier)
    return final.filter(F.col("deg") >= 1).select(
        "src", F.col("deg").cast("bigint").alias("deg")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (round 9 batch 3): power iteration on the
# weighted bipartite graph in EXACT fixed-point — every vector fold is
# an integer sum, so no float-summation-order hazard anywhere (a
# strictly stronger determinism posture than q_pagerank's
# round-after-float-sum snap).
# ---------------------------------------------------------------------------

_HITS_ITERS = 4
_HITS_TOPK = 15
_HITS_FP = 1_000_000_000_000  # 1e-12 fixed-point units for scores


def _hits_oracle() -> str:
    """DuckDB twin of the fixed-4-iteration fixed-point HITS. Each
    half-step: exact HUGEINT fold of (units x weight) along the edges,
    then the per-row renormalization u' = FLOOR(r/t * 1e12 + 0.5) —
    the only float op, a scalar IEEE expression on exact integers,
    identical on both engines. Multi-referenced CTEs are MATERIALIZED
    (the DuckDB inline-explosion rule, see _pagerank_oracle)."""
    fp = float(_HITS_FP)
    sql = [
        f"WITH e AS MATERIALIZED ({_EDGE_SQL}), "
        "cu AS MATERIALIZED (SELECT DISTINCT custkey FROM e), "
        "h0 AS MATERIALIZED (SELECT custkey AS k, "
        f"CAST(FLOOR({fp!r} / (SELECT COUNT(*) FROM cu) + 0.5) AS BIGINT) "
        "AS u FROM cu), "
    ]
    renorm = (
        "CAST(FLOOR(CAST(r AS DOUBLE) / CAST(t AS DOUBLE) "
        f"* {fp!r} + 0.5) AS BIGINT)"
    )
    for i in range(1, _HITS_ITERS + 1):
        sql.append(
            f"a{i}r AS MATERIALIZED (SELECT e.suppkey AS k, "
            f"CAST(SUM(CAST(h.u AS HUGEINT) * e.n) AS HUGEINT) AS r "
            f"FROM e JOIN h{i - 1} h ON e.custkey = h.k GROUP BY e.suppkey), "
            f"a{i} AS MATERIALIZED (SELECT k, {renorm} AS u FROM a{i}r "
            f"CROSS JOIN (SELECT SUM(r) AS t FROM a{i}r) tt), "
            f"h{i}r AS MATERIALIZED (SELECT e.custkey AS k, "
            f"CAST(SUM(CAST(a.u AS HUGEINT) * e.n) AS HUGEINT) AS r "
            f"FROM e JOIN a{i} a ON e.suppkey = a.k GROUP BY e.custkey), "
            f"h{i} AS MATERIALIZED (SELECT k, {renorm} AS u FROM h{i}r "
            f"CROSS JOIN (SELECT SUM(r) AS t FROM h{i}r) tt), "
        )
    sql[-1] = sql[-1].rstrip(", ") + " "
    sql.append(
        "SELECT side, key, score FROM ("
        "(SELECT 'authority' AS side, k AS key, "
        f"CAST(u AS DOUBLE) / {fp!r} AS score FROM a{_HITS_ITERS} "
        f"ORDER BY u DESC, k ASC LIMIT {_HITS_TOPK}) "
        "UNION ALL "
        "(SELECT 'hub' AS side, k AS key, "
        f"CAST(u AS DOUBLE) / {fp!r} AS score FROM h{_HITS_ITERS} "
        f"ORDER BY u DESC, k ASC LIMIT {_HITS_TOPK})) uu "
        "ORDER BY side, score DESC, key"
    )
    return "".join(sql)


def hits_vectors(e0: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The HITS power-iteration kernel on a (custkey, suppkey, n)
    edge DataFrame: returns the final (authority, hub) score vectors
    as (k, u) DataFrames in 1e-12 fixed-point units. Factored out of
    q_hits so the env-gated 10x scale smoke (tests/test_graph_scale
    .py) can drive it on a replicated edge list; see q_hits for the
    exactness and scale discipline."""
    e0 = e0.localCheckpoint()
    spark = e0.sparkSession
    parts = max(2, min(
        spark.sparkContext.defaultParallelism, -(-e0.count() // 100_000)
    ))
    e = e0.coalesce(parts)
    ids = e.select("custkey").distinct().localCheckpoint()
    # with no edges there are no ids and the start vector is empty
    n_cust = max(ids.count(), 1)
    h = ids.select(
        F.col("custkey").alias("k"),
        F.lit(int(float(_HITS_FP) / n_cust + 0.5)).cast("bigint").alias("u"),
    )

    def half(vec: DataFrame, src: str, dst: str) -> DataFrame:
        r = (
            e.join(F.broadcast(vec), F.col(src) == F.col("k"))
            .rollup(dst)
            .agg(
                F.sum(F.col("u").cast("decimal(38,0)") * F.col("n")).alias("r"),
                F.grouping(dst).alias("g"),
            )
            .localCheckpoint()
        )
        # 1-row L1 total off the same checkpointed fold (bounded
        # metadata); float(int-Decimal) is the same nearest-double
        # CAST(.. AS DOUBLE) performs, so the renorm stays
        # engine-identical.
        # An empty fold has no total row (and no rows to scale).
        tot = r.filter(F.col("g") == 1).collect()
        t = float(int(tot[0]["r"])) if tot else 1.0
        return r.filter(F.col("g") == 0).select(
            F.col(dst).alias("k"),
            F.floor(
                F.col("r").cast("double") / F.lit(t)
                * F.lit(float(_HITS_FP)) + F.lit(0.5)
            ).cast("bigint").alias("u"),
        )

    a = None
    for _ in range(_HITS_ITERS):
        a = half(h, "custkey", "suppkey")
        h = half(a, "suppkey", "custkey")
    return a, h


@query(
    "q_hits",
    oracle=_hits_oracle(),
    tags=("graph", "iterative"),
    eager=True,
)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the weighted customer—supplier
    bipartite graph: authority(s) = Σ hub(c)·w(c,s) and hub(c) =
    Σ auth(s)·w(c,s), L1-renormalized each half-step — the
    two-sided centrality that separates "account that sprays money
    widely" (hub) from "account that concentrates it" (authority),
    the money-mule pair q_pagerank's single lazy-walk score blends
    together. Fixed 4 iterations (power iteration on A·Aᵀ — the
    leading eigengap makes more rounds cosmetic for a ranking
    feature); emits the top-15 per side.

    Exact fixed-point determinism: scores live as 1e-12-unit BIGINTs.
    Each half-step folds units × weight in DECIMAL(38,0)/HUGEINT — an
    EXACT integer sum, immune to partition/summation order — and the
    renormalization FLOOR(r/t·1e12 + 0.5) is per-row scalar IEEE on
    exact integers, identical on both engines. (No float ever enters
    a SUM; q_pagerank instead rounds after float sums.) floor() here
    cannot saturate: r/t ≤ 1 by construction, so the argument is
    ≤ 1e12 + 0.5.

    Scale: per half-step, ONE broadcast join of the |V|-row score
    vector with the edge list + one rollup aggregate that emits the
    per-key fold AND the L1 total in the same job (grouping() tells
    them apart), checkpointed once — so the edge list is scanned
    exactly 2·iters times and no fold is ever recomputed (a naive
    crossJoin-with-total plan would double every half-step).
    localCheckpoint() per half-step cuts the lineage; the total is a
    1-row driver-side scalar (bounded metadata). The iteration
    working set is coalesced to ~100k-row partitions (narrow, no
    shuffle): 2·iters sequential re-scans otherwise pay fixed task
    overhead × partitions × iters on a small-per-partition table,
    while the row-derived count grows back to cluster width at
    100 TB. The vector broadcast degrades gracefully to AQE's
    shuffle hash join once |V| exceeds the broadcast threshold.
    Weights n are transaction counts, so hub/authority skew follows
    real counterparty concentration.
    Ref: network-feature companion to the reference's per-transaction
    model (train_model.py) — same motivation as q_pagerank."""
    a, h = hits_vectors(edges(spark, sf_dir))

    def top(vec: DataFrame, side: str) -> DataFrame:
        return (
            vec.orderBy(F.desc("u"), F.asc("k"))
            .limit(_HITS_TOPK)
            .select(
                F.lit(side).alias("side"),
                F.col("k").alias("key"),
                (F.col("u").cast("double") / F.lit(float(_HITS_FP))).alias("score"),
            )
        )

    return (
        top(a, "authority")
        .unionAll(top(h, "hub"))
        .orderBy(F.asc("side"), F.desc("score"), F.asc("key"))
    )


# ---------------------------------------------------------------------------
# k-truss (round 10, VERDICT r9 #5d): the EDGE-level ring refinement
# of q_graph_2core — an edge survives the 3-truss iff it closes at
# least one triangle among surviving edges, so chains and stars fall
# away and only mutually-embedded tie BUNDLES remain (the collusion
# pattern q_fraud_rings triages at vertex level, sharpened to ties).
# ---------------------------------------------------------------------------

_TRUSS_ROUNDS = 3  # support passes; filters between, emit after the last


def _ktruss_oracle() -> str:
    """DuckDB twin of the fixed-3-round 3-truss peel: per round,
    per-edge triangle support = |N(ca) ∩ N(cb)| within the current
    edge set via the common-neighbor join, then drop support-0 edges;
    after the last pass emit survivors with that pass's support.
    Unrolled MATERIALIZED CTE chain (the _two_core_oracle
    construction). Pure integer set semantics — hash-exact."""
    sql = [
        "WITH " + _HEAVY_PAIR_SQL + ", "
        "e0 AS MATERIALIZED (SELECT ca, cb FROM pe), "
    ]
    for r in range(1, _TRUSS_ROUNDS + 1):
        sql.append(
            f"y{r} AS MATERIALIZED (SELECT ca AS a, cb AS b FROM e{r - 1} "
            f"UNION ALL SELECT cb, ca FROM e{r - 1}), "
            f"p{r} AS MATERIALIZED (SELECT e.ca, e.cb, COUNT(s2.b) AS supp "
            f"FROM e{r - 1} e "
            f"LEFT JOIN y{r} s1 ON s1.a = e.ca "
            f"LEFT JOIN y{r} s2 ON s2.a = e.cb AND s2.b = s1.b "
            "GROUP BY e.ca, e.cb), "
            f"e{r} AS MATERIALIZED (SELECT ca, cb FROM p{r} WHERE supp >= 1), "
        )
    sql[-1] = sql[-1].rstrip(", ") + " "
    sql.append(
        f"SELECT ca, cb, CAST(supp AS BIGINT) AS support FROM p{_TRUSS_ROUNDS} "
        "WHERE supp >= 1"
    )
    return "".join(sql)


@query(
    "q_ktruss",
    oracle=_ktruss_oracle(),
    tags=("graph", "iterative", "fraud"),
    eager=True,
)
def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the projected collusion graph, fixed 3 support
    rounds: repeatedly delete edges that close no triangle among the
    surviving edges, then emit the survivors with their support — the
    edge-level refinement of q_graph_2core (a vertex can survive the
    2-core on two independent chains; an edge survives the 3-truss
    only inside a mutually-embedded bundle, the collusion-ring tie
    signature). Pure-integer set semantics → hash-exact against the
    unrolled MATERIALIZED-CTE chain, like q_graph_2core; the emitted
    support is the last pass's count, which equals the induced-
    subgraph support once the peel has converged (asserted at test
    scales by tests/test_round10_ops.py).

    Plan: per round, per-edge support is ONE common-neighbor count —
    the symmetric adjacency list (bounded by the q_fraud_rings
    suspicion cut that defines this projection) broadcasts into a
    two-hop join, grouped per edge; support-0 edges drop and the
    shrunken edge list localCheckpoints (lineage cut + exact
    sizeInBytes keeps every later join broadcast). Per-round cost is
    the oriented-wedge bound q_triangle_count documents, paid
    _TRUSS_ROUNDS times on a shrinking set; at 100 TB the same
    per-counterparty degree cap that bounds the projection bounds the
    wedge fan-out. Eager by construction (checkpointed peel rounds);
    the registry eager contract applies."""
    e = _heavy_pairs(spark, sf_dir).localCheckpoint()

    def _truss_support(cur: DataFrame) -> DataFrame:
        sym = cur.select(F.col("ca").alias("a"), F.col("cb").alias("b")).unionAll(
            cur.select(F.col("cb").alias("a"), F.col("ca").alias("b"))
        )
        tri = (
            cur.join(
                F.broadcast(sym.select(F.col("a").alias("ca"), F.col("b").alias("d"))),
                "ca",
            )
            .join(
                F.broadcast(sym.select(F.col("a").alias("cb"), F.col("b").alias("d"))),
                ["cb", "d"],
            )
            .groupBy("ca", "cb")
            .agg(F.count("*").alias("supp"))
        )
        return cur.join(F.broadcast(tri), ["ca", "cb"], "left").select(
            "ca", "cb", F.coalesce(F.col("supp"), F.lit(0)).alias("supp")
        )

    p = _truss_support(e)
    for _ in range(1, _TRUSS_ROUNDS):
        e = p.filter(F.col("supp") >= 1).select("ca", "cb").localCheckpoint()
        p = _truss_support(e)
    return p.filter(F.col("supp") >= 1).select(
        "ca", "cb", F.col("supp").cast("bigint").alias("support")
    )
