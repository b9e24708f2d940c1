"""Declared-query registry.

Every engine operator that the driver verifies is registered here as a
named query: a callable ``(spark, sf_dir) -> DataFrame`` plus, when the
semantics are SQL-expressible, the equivalent DuckDB oracle SQL. The
driver hash-compares Spark output against the oracle (order-insensitive,
columns sorted by name), so:

- every computed column is aliased identically on both sides;
- double outputs are rounded on BOTH sides (default 4-6 decimals) so
  summation-order jitter cannot flip the hash;
- integer aggregates are cast to BIGINT on both sides (DuckDB SUM(int)
  is HUGEINT otherwise);
- raw timestamps are never emitted — epoch seconds (BIGINT) instead,
  which is timezone-independent in both engines;
- computed double literals embedded in oracle text go through
  ``sql_double_lit``: a bare decimal literal with >15 significant
  digits parses as DECIMAL first and DuckDB's DECIMAL→DOUBLE cast is
  not correctly rounded (found by tests/test_portable_round_hypothesis
  — 180143985.25465846 lands 1 ulp high), while a quoted-string cast
  takes the correctly-rounded strtod path.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def sql_round(expr: str, n: int) -> str:
    """Portable rounding for oracle SQL: FLOOR(x*10^n + 0.5)/10^n.

    Spark's ROUND goes through the decimal string representation
    (HALF_UP on the shortest repr) while DuckDB rounds the binary
    double — they disagree on values like 37704.575. This formula is
    pure IEEE double arithmetic, so both engines produce bit-identical
    results; the Spark twin is fraud_detection_spark.functions.pround.
    """
    p = 10 ** n
    return f"FLOOR(({expr}) * {p} + 0.5) / {p}"


def sql_sigmoid(x: str) -> str:
    """The logistic 1/(1+e^{-x}) as SQL text, valid in both dialects.
    EXP returns DOUBLE, so each bare ``1.0`` meets a DOUBLE operand and
    Spark SQL evaluates the same double arithmetic as DuckDB; ``x``
    must be DOUBLE-typed in Spark SQL as well (no DECIMAL-only sums)."""
    return f"1.0 / (1.0 + EXP(-({x})))"


def sql_double_lit(x: float) -> str:
    """Render a Python float as an EXACT double literal for oracle SQL.

    ``repr(x)`` is the shortest decimal that round-trips to x's bits;
    parsing it with strtod (the quoted-string cast path) is correctly
    rounded in DuckDB, so the oracle sees bit-identical doubles to the
    ``F.lit(x)`` on the Spark side. A *bare* numeric literal would
    parse as DECIMAL(w,s) first, and the DECIMAL→DOUBLE conversion can
    land 1 ulp off for >15-significant-digit values."""
    return f"CAST('{x!r}' AS DOUBLE)"


def sql_fixed_sum(expr: str, n: int = 2) -> str:
    """Order-independent SUM for oracle SQL: per-row fixed-point units
    (FLOOR(x*10^n + 0.5) — exact, no accumulation) -> exact integer SUM
    -> /10^n for display.

    SUM(double) is partition-order dependent, so sql_round(SUM(x))
    could disagree with the Spark twin by one last digit depending on
    cluster layout (the round-2 q_tpch_q9 one-cent flake). The integer
    SUM is associative/commutative => bit-identical everywhere. The
    CAST before SUM keeps DuckDB's FLOOR (double) aligned with Spark's
    (bigint); the CAST after absorbs DuckDB's HUGEINT SUM. Spark twin:
    functions.fixed_sum. Valid in both dialects."""
    p = 10**n
    return f"CAST(SUM(CAST(FLOOR(({expr}) * {p} + 0.5) AS BIGINT)) AS DOUBLE) / {p}"


def sql_fixed_avg(expr: str, n: int) -> str:
    """Order-independent AVG for oracle SQL: exact units SUM / 10^n /
    COUNT. Wrap in sql_round for display. Spark twin: functions.fixed_avg.
    Valid in both dialects (usable inside a shared spark.sql text)."""
    p = 10**n
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {p} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {p} / COUNT({expr})"
    )


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    #: True when ``fn(spark, sf_dir)`` executes distributed work at
    #: DataFrame-CONSTRUCTION time (collect of a bounded pool,
    #: localCheckpoint inside an iterative loop, index build) rather
    #: than returning a fully lazy plan. Consequences, encoded in the
    #: test suite: (a) the static plan fingerprint covers only the
    #: final bounded plan — the real distributed passes run before the
    #: plan exists (tests/test_plan_fingerprints.py); (b) schema-only
    #: tooling (tests/test_oracle_dtypes.py) pays the construction
    #: cost; (c) timing must wrap construction + materialization, as
    #: bench.py does.
    eager: bool = False


REGISTRY: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    eager: bool = False,
):
    """Decorator registering a declared query.

    ``oracle`` is ANSI SQL runnable by DuckDB against pre-registered
    views (region nation customer supplier part orders lineitem events
    documents embeddings). ``None`` => rows-only check (non-SQL-
    expressible op: RNG, LSH, ML training, ...). ``eager`` declares
    that construction itself runs Spark jobs (see Query.eager).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "", eager=eager
        )
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every operator module so decorators run, then return REGISTRY."""
    from fraud_detection_spark.operators import (  # noqa: F401
        aggregates,
        aml,
        analytics,
        behavior,
        corpus,
        curation,
        dedup,
        feature_eng,
        graph,
        incremental,
        linkage,
        ml_metrics,
        model_monitor,
        multimodal,
        partsupp,
        profiling,
        relational,
        relational2,
        relational3,
        sampling,
        scale,
        similarity,
        stats_tests,
        text,
        timeseries,
        udf_examples,
        windows,
    )
    from fraud_detection_spark.ml import queries as ml_queries  # noqa: F401
    from fraud_detection_spark.sources import synthetic  # noqa: F401

    return REGISTRY
