"""AML / fraud-pattern screens.

The reference scores transactions one at a time against a learned
model (predict_single.py); a production fraud desk additionally runs
RULE screens for the patterns regulators name explicitly. These are
those screens as declared, oracle-checked queries — each a direct
translation of a classic AML typology onto the event stream:

- q_structuring   "smurfing": many just-below-threshold amounts per
                  account (31 CFR structuring; the [81,90) band below
                  the value-90 reporting line here)
- q_dormancy      dormancy reactivation: an account silent >2 days
                  whose reactivation event is followed by ≥2 more
                  within the hour (burst_n counts the event itself,
                  so the flag fires at burst_n ≥ 3) — the
                  account-takeover tell
- q_round_amount  round-amount bias: fraudsters favor round numbers;
                  per-account share of near-integer amounts with a
                  binomial z against the global rate
- q_fraud_rings   ring detection: connected components over the
                  customer—supplier transaction graph restricted to
                  repeat-business edges — members of one component move
                  money through shared counterparties

Scale posture: the three screens are hash aggregates / user-partitioned
windows (one shuffle each, map-side combinable); ring detection reuses
the engine's min-label propagation (operators/dedup.py) over a
suspicion-filtered — therefore sparse — edge list, with a DuckDB
recursive-CTE oracle (same pattern as q_dedup_cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fraud_detection_spark.functions import fp_units, prefix_sums, pround
from fraud_detection_spark.operators.dedup import label_propagation
from fraud_detection_spark.operators.graph import _EDGE_SQL, RING_FACTOR, edges
from fraud_detection_spark.registry import query, sql_round
from fraud_detection_spark.sources import load_table

_SEC_SQL = "(epoch_ns(ts) // 1000000000)"

# Structuring band: amounts in [81, 90) sit just under the value-90
# "reporting threshold" of this dataset's [0,100) amount range.
_STRUCT_LO, _STRUCT_HI = 81.0, 90.0
_STRUCT_EXPECTED = (_STRUCT_HI - _STRUCT_LO) / 100.0  # uniform prior share


@query(
    "q_structuring",
    oracle=(
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(SUM(CASE WHEN value >= {_STRUCT_LO} AND value < {_STRUCT_HI} "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_band, "
        + sql_round(
            f"SUM(CASE WHEN value >= {_STRUCT_LO} AND value < {_STRUCT_HI} "
            f"THEN 1 ELSE 0 END) * 1.0 / COUNT(*) / {_STRUCT_EXPECTED}",
            6,
        )
        + " AS lift, "
        f"CAST(CASE WHEN SUM(CASE WHEN value >= {_STRUCT_LO} AND value < "
        f"{_STRUCT_HI} THEN 1 ELSE 0 END) >= 10 AND "
        f"SUM(CASE WHEN value >= {_STRUCT_LO} AND value < {_STRUCT_HI} "
        f"THEN 1 ELSE 0 END) * 1.0 / COUNT(*) > 2 * {_STRUCT_EXPECTED} "
        "THEN 1 ELSE 0 END AS INT) AS flag "
        "FROM events GROUP BY user_id"
    ),
    tags=("aml", "fraud", "agg"),
)
def q_structuring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structuring screen: per account, the count and lift of amounts
    parked just below the reporting threshold. Flag = ≥10 band hits AND
    band share >2× the uniform prior. One hash aggregate — the whole
    100 TB stream folds map-side into |accounts| rows."""
    ev = load_table(spark, sf_dir, "events")
    in_band = (
        (F.col("value") >= _STRUCT_LO) & (F.col("value") < _STRUCT_HI)
    ).cast("int")
    g = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(in_band).cast("bigint").alias("n_band"),
    )
    share = F.col("n_band") * 1.0 / F.col("n")
    return g.select(
        "user_id",
        "n",
        "n_band",
        pround(share / F.lit(_STRUCT_EXPECTED), 6).alias("lift"),
        (
            (F.col("n_band") >= 10) & (share > 2 * _STRUCT_EXPECTED)
        ).cast("int").alias("flag"),
    )


_DORMANT_SEC = 2 * 86400
_BURST_N = 3


@query(
    "q_dormancy",
    oracle=(
        f"WITH e AS (SELECT event_id, user_id, {_SEC_SQL} AS ts_sec FROM events), "
        "g AS (SELECT *, ts_sec - LAG(ts_sec) OVER "
        "(PARTITION BY user_id ORDER BY ts_sec, event_id) AS gap, "
        "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_sec "
        "RANGE BETWEEN CURRENT ROW AND 3600 FOLLOWING) AS burst_n FROM e) "
        # // not CAST(x/y): DuckDB's double->BIGINT cast ROUNDS where Spark
        # truncates — integer floor division agrees on both engines
        "SELECT event_id, user_id, CAST(gap // 86400 AS BIGINT) AS gap_days, "
        "CAST(burst_n AS BIGINT) AS burst_n, "
        f"CAST(CASE WHEN burst_n >= {_BURST_N} THEN 1 ELSE 0 END AS INT) AS flag "
        f"FROM g WHERE gap > {_DORMANT_SEC}"
    ),
    tags=("aml", "fraud", "window"),
)
def q_dormancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy-reactivation screen: events that break a >2-day silence
    for their account (threshold tuned to the synthetic stream's gap
    distribution, whose maximum inter-event gap is ~6 days — a 7-day
    rule would be vacuously empty), with the burst size in the
    following hour. ``burst_n``'s forward RANGE frame INCLUDES the
    reactivation event itself, so the flag fires when the event is
    followed by ≥2 more within the hour (burst_n ≥ 3) — documented to
    match the frame exactly (ADVICE r6). Silent-then-burst is the
    classic account-takeover signature. Two user-partitioned windows
    (LAG + forward RANGE count) over one shuffle; the output is only
    the reactivation events."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", F.expr("ts div 1000000000").alias("ts_sec"))
    w_ord = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    w_fwd = Window.partitionBy("user_id").orderBy("ts_sec").rangeBetween(0, 3600)
    g = e.select(
        "event_id",
        "user_id",
        (F.col("ts_sec") - F.lag("ts_sec").over(w_ord)).alias("gap"),
        F.count("*").over(w_fwd).cast("bigint").alias("burst_n"),
    )
    return g.filter(F.col("gap") > _DORMANT_SEC).select(
        "event_id",
        "user_id",
        F.floor(F.col("gap") / 86400).cast("bigint").alias("gap_days"),
        "burst_n",
        (F.col("burst_n") >= _BURST_N).cast("int").alias("flag"),
    )


_ROUND_TOL = 0.05  # |value - nearest integer| < tol => "round" amount


@query(
    "q_round_amount",
    oracle=(
        "WITH r AS (SELECT user_id, "
        f"CASE WHEN ABS(value - FLOOR(value + 0.5)) < {_ROUND_TOL} "
        "THEN 1 ELSE 0 END AS is_round FROM events), "
        "g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(is_round) AS BIGINT) AS n_round FROM r GROUP BY user_id), "
        "t AS (SELECT SUM(n_round) * 1.0 / SUM(n) AS p0 FROM g) "
        "SELECT user_id, n, n_round, "
        + sql_round("n_round * 1.0 / n", 6) + " AS share, "
        + sql_round(
            "(n_round * 1.0 / n - p0) / SQRT(p0 * (1 - p0) / n)", 6
        )
        + " AS z FROM g, t"
    ),
    tags=("aml", "fraud", "agg"),
)
def q_round_amount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-amount bias screen: fraudulent transfers over-index on
    round figures. Per account: share of near-integer amounts and the
    binomial z of that share against the global rate (broadcast one-row
    prior). Two hash aggregates + a broadcast — no fact-table
    reshuffle."""
    ev = load_table(spark, sf_dir, "events")
    is_round = (
        F.abs(F.col("value") - F.floor(F.col("value") + F.lit(0.5))) < _ROUND_TOL
    ).cast("int")
    g = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(is_round).cast("bigint").alias("n_round"),
    )
    t = g.agg((F.sum("n_round") * 1.0 / F.sum("n")).alias("p0"))
    share = F.col("n_round") * 1.0 / F.col("n")
    return g.crossJoin(F.broadcast(t)).select(
        "user_id",
        "n",
        "n_round",
        pround(share, 6).alias("share"),
        pround(
            (share - F.col("p0"))
            / F.sqrt(F.col("p0") * (1 - F.col("p0")) / F.col("n")),
            6,
        ).alias("z"),
    )


_RING_FACTOR = RING_FACTOR  # single definition lives in operators/graph.py


@query(
    "q_fraud_rings",
    oracle=(
        "WITH RECURSIVE "
        f"e AS ({_EDGE_SQL}), "
        f"t AS (SELECT CEIL({_RING_FACTOR} * AVG(n)) AS k FROM e), "
        "heavy AS (SELECT custkey, suppkey FROM e, t WHERE n >= k), "
        # bipartite vertex ids: customer -> 2k, supplier -> 2k+1
        "pairs AS (SELECT custkey * 2 AS x, suppkey * 2 + 1 AS y FROM heavy "
        "UNION ALL SELECT suppkey * 2 + 1, custkey * 2 FROM heavy), "
        "verts AS (SELECT DISTINCT x AS v FROM pairs), "
        "reach(v, r) AS ("
        "SELECT v, v FROM verts "
        "UNION "
        "SELECT p.x, reach.r FROM pairs p JOIN reach ON p.y = reach.v) "
        "SELECT CAST(v // 2 AS BIGINT) AS custkey, "
        "CAST(MIN(r) AS BIGINT) AS ring_id "
        "FROM reach WHERE v % 2 = 0 GROUP BY v"
    ),
    tags=("aml", "fraud", "graph", "iterative"),
    eager=True,
)
def q_fraud_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ring detection: connected components over the customer—supplier
    graph restricted to suspicious edges — accounts in one component
    transact through shared counterparties, the money-mule ring shape.

    The suspicion cut is RELATIVE: an edge is heavy when its
    transaction count is ≥2.5× the mean observed counterparty
    relationship. An absolute threshold cannot survive scale on this
    graph — the pair space grows as |customers|×|suppliers| while
    transactions grow linearly, so the mean edge weight FALLS with SF
    and any fixed n≥k is either a giant component (k low: one ring of
    7,897 customers at sf0.1 with k=2) or vacuous (k high: one lone
    edge at sf0.1 with k=4). The 2.5×-mean rule lands on non-trivial
    multi-ring structure at every SF (7/73/157 components at
    sf0.001/0.01/0.1). The threshold is one tiny aggregate broadcast
    into the edge filter; AVG = exact-int SUM / COUNT is one IEEE
    division, identical on both engines, so the CEIL cannot disagree.

    Bipartite vertices are disambiguated as 2k / 2k+1 and only
    customers are emitted, labeled with their component's minimum
    vertex id. Spark reuses the engine's min-label propagation (one
    join + aggregate per round over the suspicion-FILTERED edge list —
    sparse by construction); the oracle is a DuckDB recursive CTE over
    the identical pair set (q_dedup_cluster pattern)."""
    e = edges(spark, sf_dir)
    thr = e.agg(F.ceil(F.lit(_RING_FACTOR) * F.avg("n")).alias("k"))
    heavy = e.crossJoin(F.broadcast(thr)).filter(F.col("n") >= F.col("k"))
    fwd = heavy.select(
        (F.col("custkey") * 2).alias("src"), (F.col("suppkey") * 2 + 1).alias("dst")
    )
    pairs = fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    verts = pairs.select(F.col("src").alias("v")).distinct()
    labeled = label_propagation(verts, pairs, "v")
    return (
        labeled.filter(F.col("v") % 2 == 0)
        .select(
            # integer div, not /2-then-cast: the double division is
            # inexact for vertex ids above 2^53, and the oracle uses
            # v // 2 (ADVICE r6)
            F.expr("v div 2").cast("bigint").alias("custkey"),
            F.col("cluster_id").cast("bigint").alias("ring_id"),
        )
    )


@query(
    "q_shared_counterparties",
    oracle=(
        f"WITH e AS ({_EDGE_SQL}), "
        f"t AS (SELECT CEIL({_RING_FACTOR} * AVG(n)) AS k FROM e), "
        "heavy AS (SELECT custkey, suppkey FROM e, t WHERE n >= k) "
        "SELECT a.custkey AS cust_a, b.custkey AS cust_b, "
        "CAST(COUNT(*) AS BIGINT) AS n_shared "
        "FROM heavy a JOIN heavy b "
        "ON a.suppkey = b.suppkey AND a.custkey < b.custkey "
        "GROUP BY cust_a, cust_b"
    ),
    tags=("aml", "fraud", "graph", "join"),
)
def q_shared_counterparties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the suspicious transaction graph:
    customer pairs sharing a heavy counterparty, with the shared
    count as the tie strength — the pairwise evidence behind
    q_fraud_rings' components (a component tells you WHO is connected;
    this says HOW STRONGLY each pair is). Two accounts repeatedly
    routing through the same two-plus counterparties is the
    collusion/mule-pair signature analysts actually review.

    Scale: the self-join runs on the suspicion-FILTERED edge list only
    (≥2.5×-mean edges — sparse by the q_fraud_rings argument), keyed
    on suppkey; the quadratic blowup of a hub supplier is bounded by
    that same relative cut. The n_shared strength lets the consumer
    raise the evidence bar (≥2 shared keys is the classic collusion
    cut — on this uniform synthetic graph it is empty at every SF, so
    the query emits all pairs and keeps the count)."""
    e = edges(spark, sf_dir)
    thr = e.agg(F.ceil(F.lit(_RING_FACTOR) * F.avg("n")).alias("k"))
    heavy = (
        e.crossJoin(F.broadcast(thr))
        .filter(F.col("n") >= F.col("k"))
        .select("custkey", "suppkey")
    )
    a = heavy.select(F.col("custkey").alias("cust_a"), "suppkey")
    b = heavy.select(F.col("custkey").alias("cust_b"), "suppkey")
    return (
        a.join(b, "suppkey")
        .filter(F.col("cust_a") < F.col("cust_b"))
        .groupBy("cust_a", "cust_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )


_DUP_WINDOW_SEC = 3600


@query(
    "q_duplicate_amounts",
    oracle=(
        "WITH e AS (SELECT event_id, user_id, "
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents, "
        f"{_SEC_SQL} AS ts_sec FROM events), "
        "p AS (SELECT a.event_id AS event_a, b.event_id AS event_b, "
        "a.user_id AS user_a, b.user_id AS user_b, a.cents, "
        "CAST(ABS(a.ts_sec - b.ts_sec) AS BIGINT) AS dt_sec "
        "FROM e a JOIN e b ON a.cents = b.cents "
        "AND a.event_id < b.event_id AND a.user_id <> b.user_id "
        f"AND ABS(a.ts_sec - b.ts_sec) <= {_DUP_WINDOW_SEC}) "
        "SELECT event_a, event_b, user_a, user_b, cents, dt_sec FROM p"
    ),
    tags=("aml", "fraud", "join"),
)
def q_duplicate_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinated-duplicate screen: pairs of events from DIFFERENT
    accounts with the exact same amount (to the cent) within an hour —
    the duplicate-invoice / split-payment tell (one actor pushing the
    same charge through several accounts). Complements q_debounce,
    which watches repeats WITHIN one account.

    Blocked self-join: the equi-key is the exact cent amount, so
    candidates exist only inside an amount bucket (uniform amounts →
    ~|events|/10⁴ per bucket); the hour cut and a<b canonicalization
    are residual predicates. Never all-pairs — the amount IS the
    block, the same discipline as every blocked join in this engine."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.expr("ts div 1000000000").alias("ts_sec"),
    )
    a = e.select(
        F.col("event_id").alias("event_a"),
        F.col("user_id").alias("user_a"),
        "cents",
        F.col("ts_sec").alias("sec_a"),
    )
    b = e.select(
        F.col("event_id").alias("event_b"),
        F.col("user_id").alias("user_b"),
        "cents",
        F.col("ts_sec").alias("sec_b"),
    )
    return (
        a.join(b, "cents")
        .filter(
            (F.col("event_a") < F.col("event_b"))
            & (F.col("user_a") != F.col("user_b"))
            & (F.abs(F.col("sec_a") - F.col("sec_b")) <= _DUP_WINDOW_SEC)
        )
        .select(
            "event_a",
            "event_b",
            "user_a",
            "user_b",
            "cents",
            F.abs(F.col("sec_a") - F.col("sec_b")).cast("bigint").alias("dt_sec"),
        )
    )


@query(
    "q_peer_group_outlier",
    oracle=(
        "WITH sp AS (SELECT c.c_custkey, c.c_nationkey, "
        "CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS HUGEINT)) AS cents "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_custkey, c.c_nationkey), "
        "pg AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_peers, "
        "SUM(cents) AS s1, SUM(cents * cents) AS s2 "
        "FROM sp GROUP BY c_nationkey), "
        "z AS (SELECT sp.c_custkey, sp.c_nationkey, sp.n_orders, "
        "sp.cents, pg.n_peers, "
        "CAST(pg.s1 AS DOUBLE) / pg.n_peers AS mu, "
        "SQRT((CAST(pg.s2 AS DOUBLE) - CAST(pg.s1 AS DOUBLE) * pg.s1 "
        "/ pg.n_peers) / (pg.n_peers - 1)) AS sd "
        "FROM sp JOIN pg ON sp.c_nationkey = pg.c_nationkey "
        "WHERE pg.n_peers >= 3) "
        "SELECT c_custkey, c_nationkey, n_orders, "
        + sql_round("CAST(cents AS DOUBLE) / 100", 2) + " AS total_spend, "
        + sql_round("(CAST(cents AS DOUBLE) - mu) / sd", 6) + " AS z "
        "FROM z WHERE sd > 0 AND ABS((CAST(cents AS DOUBLE) - mu) / sd) >= 2"
    ),
    tags=("aml", "fraud", "stats"),
)
def q_peer_group_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peer-group spend outliers: each customer's total order value
    z-scored against their NATION peer group, flagging |z| ≥ 2 — the
    classic AML peer-deviation screen (an account is suspicious
    relative to accounts LIKE it, not relative to the whole book:
    a z that mixes retail and institutional peers flags nothing but
    size). Complements q_mad_outlier's within-account screen with the
    across-account one; peer sets with < 3 members are excluded (a
    z-score against one peer is noise).

    Exactness: spends fold to integer cents; both peer moments are
    exact integer sums (DECIMAL(38,0) / HUGEINT — cents² overflows
    BIGINT at fact scale, the q_corr_matrix discipline); mean, std,
    and z are a handful of IEEE ops on exact integers, identical on
    both engines, so even the |z| ≥ 2 BOUNDARY decides identically.

    Scale: per-customer totals are one co-partitioned orders⋈customer
    join + hash aggregate; peer moments are a second tiny aggregate
    (|nations| rows) broadcast back onto the |customers|-row table.
    Nothing re-touches facts after the first fold."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    sp = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(cents.cast("decimal(38,0)")).alias("cents"),
        )
    )
    pg = sp.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_peers"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    cd = F.col("cents").cast("double")
    s1d = F.col("s1").cast("double")
    mu = s1d / F.col("n_peers")
    sd = F.sqrt(
        (F.col("s2").cast("double") - s1d * F.col("s1").cast("double") / F.col("n_peers"))
        / (F.col("n_peers") - 1)
    )
    z = (cd - mu) / sd
    return (
        sp.join(F.broadcast(pg.filter(F.col("n_peers") >= 3)), "c_nationkey")
        .filter(sd > 0)
        .filter(F.abs(z) >= 2)
        .select(
            "c_custkey",
            "c_nationkey",
            "n_orders",
            pround(cd / 100, 2).alias("total_spend"),
            pround(z, 6).alias("z"),
        )
    )


@query(
    "q_fan_in_out",
    oracle=(
        "WITH e AS (SELECT l_suppkey AS suppkey, o_custkey AS custkey "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
        "pc AS (SELECT suppkey, custkey, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM e GROUP BY suppkey, custkey), "
        "s AS (SELECT suppkey, CAST(COUNT(*) AS BIGINT) AS fan_in, "
        "CAST(SUM(n) AS BIGINT) AS n_tx, CAST(MAX(n) AS BIGINT) AS top_n "
        "FROM pc GROUP BY suppkey), "
        "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, "
        "CAST(SUM(fan_in) AS BIGINT) AS sf, "
        "SUM(CAST(fan_in AS HUGEINT) * fan_in) AS sff FROM s), "
        "z AS (SELECT s.suppkey, s.fan_in, s.n_tx, s.top_n, "
        "(s.fan_in - CAST(t.sf AS DOUBLE) / t.m) / "
        "sqrt(CAST(t.sff AS DOUBLE) / t.m "
        "- (CAST(t.sf AS DOUBLE) / t.m) * (CAST(t.sf AS DOUBLE) / t.m)) AS fz "
        "FROM s, t) "
        "SELECT suppkey, fan_in, n_tx, "
        + sql_round("CAST(top_n AS DOUBLE) / n_tx", 6) + " AS top_share, "
        + sql_round("fz", 6) + " AS fan_z "
        "FROM z WHERE fz >= 2"
    ),
    tags=("aml", "graph", "agg"),
)
def q_fan_in_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan-in concentration screen: entities (suppliers) collecting
    from an anomalously WIDE set of counterparties — the
    funnel-account typology (many senders, one collector; the
    structural sibling of q_structuring's many-small-amounts and
    q_fraud_rings' shared-counterparty patterns). Emits every entity
    whose distinct-counterparty fan-in sits ≥ 2 population σ above
    the mean, with its transaction volume and top-counterparty share
    (a LOW top share plus high fan-in = genuinely dispersed inflow,
    the riskier shape).

    Exactness: fan-in/volume/top are exact integers from one grouped
    pass; the population z uses Σf and Σf² exact-integer sums (NOT
    the engines' streaming STDDEV implementations, which differ) so
    mean/σ/z are identical IEEE scalars; the ≥2σ cut compares the
    unrounded z on both engines.

    Scale: one (supplier × customer) fold (map-side combinable), one
    supplier-level aggregate over it, a 1-row global broadcast back —
    two shuffles, both on shrinking keys; no window over fact rows."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pc = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_suppkey").alias("suppkey"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    s = pc.groupBy("suppkey").agg(
        F.count("*").cast("bigint").alias("fan_in"),
        F.sum("n").cast("bigint").alias("n_tx"),
        F.max("n").cast("bigint").alias("top_n"),
    )
    t = s.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("fan_in").cast("bigint").alias("sf"),
        F.sum(F.col("fan_in").cast("decimal(38,0)") * F.col("fan_in")).alias("sff"),
    )
    mu = F.col("sf").cast("double") / F.col("m")
    fz = (F.col("fan_in") - mu) / F.sqrt(
        F.col("sff").cast("double") / F.col("m") - mu * mu
    )
    return (
        s.crossJoin(F.broadcast(t))
        .filter(fz >= 2)
        .select(
            "suppkey",
            "fan_in",
            "n_tx",
            pround(F.col("top_n").cast("double") / F.col("n_tx"), 6).alias(
                "top_share"
            ),
            pround(fz, 6).alias("fan_z"),
        )
    )


# ---------------------------------------------------------------------------
# Reciprocal cross-border flows (round 9 batch 3): trade-based
# laundering / carousel screen on the nation-level flow matrix.
# ---------------------------------------------------------------------------

_RECIP_MIN_RATIO = 0.5

_RECIP_SQL = (
    # directed nation->nation revenue flows (buyer nation pays seller
    # nation), integer cents so the per-direction sums are exact
    "d AS (SELECT c_nationkey AS na, s_nationkey AS nb, "
    "CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) "
    "AS BIGINT)) AS HUGEINT) AS units "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "WHERE c_nationkey <> s_nationkey "
    "GROUP BY c_nationkey, s_nationkey), "
    "p AS (SELECT LEAST(na, nb) AS ka, GREATEST(na, nb) AS kb, "
    "CAST(SUM(CASE WHEN na < nb THEN units ELSE 0 END) AS HUGEINT) AS u_ab, "
    "CAST(SUM(CASE WHEN na > nb THEN units ELSE 0 END) AS HUGEINT) AS u_ba "
    "FROM d GROUP BY 1, 2)"
)


@query(
    "q_reciprocal_flows",
    oracle=(
        "WITH " + _RECIP_SQL + " "
        "SELECT x.n_name AS nation_a, y.n_name AS nation_b, "
        "CAST(u_ab AS DOUBLE) / 100 AS flow_ab, "
        "CAST(u_ba AS DOUBLE) / 100 AS flow_ba, "
        "CAST(u_ab + u_ba AS DOUBLE) / 100 AS gross, "
        + sql_round(
            "CAST(LEAST(u_ab, u_ba) AS DOUBLE) / GREATEST(u_ab, u_ba)", 6
        )
        + " AS reciprocity "
        "FROM p JOIN nation x ON x.n_nationkey = p.ka "
        "JOIN nation y ON y.n_nationkey = p.kb "
        "WHERE u_ab > 0 AND u_ba > 0 "
        "AND CAST(LEAST(u_ab, u_ba) AS DOUBLE) / GREATEST(u_ab, u_ba) "
        f">= {_RECIP_MIN_RATIO} "
        "ORDER BY gross DESC, nation_a, nation_b LIMIT 15"
    ),
    tags=("aml", "graph", "flows"),
)
def q_reciprocal_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal cross-border flow screen — the trade-based-
    laundering / carousel typology: jurisdiction pairs whose money
    flows BOTH ways at comparable volume (reciprocity = min/max of
    the two directed flows ≥ 0.5), ranked by gross value. Round-trip
    value movement between two jurisdictions is the aggregate tell
    for circular trading that no single-account screen sees.
    Ref: complements predict-time screens (predict_single.py) with
    the FATF trade-based-laundering aggregate view.

    Exactness: flows fold as integer CENTS (fixed_sum discipline) so
    each directed sum is an exact DECIMAL(38,0)/HUGEINT; reciprocity
    and the display /100 are scalar IEEE on those integers.

    Scale: ONE fact-level fold — lineitem ⋈ orders (the fact-fact
    shuffle join AQE plans) with customer/supplier dims broadcast —
    map-side combinable down to ≤ |nations|² ≈ 625 directed cells;
    the pair fold, nation-name joins, and the top-15 all run on that
    bounded table. No new shuffle shape at 100 TB: the flow matrix is
    the same (dim × dim) contingency q_chi2 folds to."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("na"), F.col("s_nationkey").alias("nb")
        )
        .agg(F.sum(cents.cast("decimal(38,0)")).alias("units"))
    )
    p = (
        d.groupBy(
            F.least("na", "nb").alias("ka"), F.greatest("na", "nb").alias("kb")
        )
        .agg(
            F.sum(F.when(F.col("na") < F.col("nb"), F.col("units")).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("u_ab"),
            F.sum(F.when(F.col("na") > F.col("nb"), F.col("units")).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("u_ba"),
        )
    )
    recip = F.least("u_ab", "u_ba").cast("double") / F.greatest("u_ab", "u_ba").cast(
        "double"
    )
    x = n.select(F.col("n_nationkey").alias("ka"), F.col("n_name").alias("nation_a"))
    y = n.select(F.col("n_nationkey").alias("kb"), F.col("n_name").alias("nation_b"))
    return (
        p.filter((F.col("u_ab") > 0) & (F.col("u_ba") > 0))
        .filter(recip >= _RECIP_MIN_RATIO)
        .join(F.broadcast(x), "ka")
        .join(F.broadcast(y), "kb")
        .select(
            "nation_a",
            "nation_b",
            (F.col("u_ab").cast("double") / 100).alias("flow_ab"),
            (F.col("u_ba").cast("double") / 100).alias("flow_ba"),
            ((F.col("u_ab") + F.col("u_ba")).cast("double") / 100).alias("gross"),
            pround(recip, 6).alias("reciprocity"),
        )
        .orderBy(F.desc("gross"), F.asc("nation_a"), F.asc("nation_b"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Gini concentration of customer spend (round 10): the classic
# inequality coefficient over per-customer total order value — the
# AML "concentration of flow" screen (a spike in Gini means volume is
# consolidating into few hands, the structuring/mule-network
# precondition q_structuring looks for per account, measured at
# population level).
# ---------------------------------------------------------------------------


def _gini_oracle() -> str:
    g = (
        "(2 * CAST(six AS DOUBLE) - (CAST(n AS DOUBLE) + 1) "
        "* CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return (
        "WITH ct AS (SELECT o_custkey AS custkey, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS x FROM orders GROUP BY o_custkey), "
        "r AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, custkey) "
        "AS BIGINT) AS i FROM ct), "
        "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(x) AS HUGEINT) AS sx, "
        "CAST(SUM(CAST(i AS HUGEINT) * x) AS HUGEINT) AS six FROM r) "
        "SELECT n AS n_customers, "
        + sql_round("CAST(sx AS DOUBLE) / 100", 2) + " AS total_spend, "
        + sql_round(g, 6) + " AS gini FROM a"
    )


@query(
    "q_gini_index",
    oracle=_gini_oracle(),
    tags=("aml", "stats", "agg"),
)
def q_gini_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer total spend: with per-customer
    cent totals x_(1) <= ... <= x_(n) (ties broken by custkey),
    G = (2*Σ i*x_(i) − (n+1)*Σx) / (n*Σx) — 0 when every customer
    moves the same volume, →1 as flow concentrates into few hands.
    Population-level companion to q_structuring/q_fan_in_out: ring
    consolidation moves this number before any single account trips a
    per-account screen. This is the EXACT twin of behavior.py's
    q_gini (trapezoid over a 50-band Lorenz curve, resolution 1/50) —
    the q_auc ↔ q_auc_binned relationship: banded stays the cheap
    dashboard path, this one is the exact rank-based value on the
    distributed prefix machinery (and runs on customer ORDER totals,
    the AML book, not event values).

    Exactness: cent totals are exact integer sums; ranks come from a
    deterministic (x, custkey) order; Σ i*x accumulates in
    DECIMAL(38,0)/HUGEINT; the final G is one scalar IEEE expression
    on exact integers — identical on both engines, rounded at 6 dp.

    Scale: per-customer totals are ONE map-side-combinable fact fold.
    The rank i is the running count of customers in (x, custkey)
    order — prefix_sums over <=64 bit-length buckets, no global
    window. One more one-row aggregate finishes."""
    orders = load_table(spark, sf_dir, "orders")
    ct = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(fp_units(F.col("o_totalprice"), 2)).cast("bigint").alias("x")
    )
    # bucket by the integer bit length of x (length of the binary
    # string), not floor(log2(x)): prefix_sums needs the bucket to be
    # exactly monotone in x, and floating-point LOG2 (~1-ulp error) is
    # not provably monotone across power-of-two boundaries — an ulp
    # inversion at an integer floor boundary would silently corrupt
    # ranks. bin() is exact integer work (ADVICE r10).
    r = prefix_sums(
        ct, F.length(F.bin("x")).cast("bigint"), ["x", "custkey"],
        [(F.lit(1), "i")],
    )
    a = r.agg(
        F.count("*").cast("bigint").alias("n"),
        # widen BEFORE the sum (the q_moments/q_levene discipline):
        # DuckDB's SUM(BIGINT) accumulates in HUGEINT natively
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("six"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    g = (2 * F.col("six").cast("double") - (nd + 1) * sxd) / (nd * sxd)
    return a.select(
        F.col("n").alias("n_customers"),
        pround(sxd / 100, 2).alias("total_spend"),
        pround(g, 6).alias("gini"),
    )
