"""SparkSession factory tuned for the engine.

Local test mode runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
same settings scale to a multi-executor cluster because every knob here
is about the *logical* plan (AQE, shuffle partitioning, Arrow) rather
than hand-placed physical scheduling.

Scale notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replaces hand-tuned ``spark.sql.shuffle.partitions`` at scale.
- Arrow on: every pandas_udf / mapInPandas boundary is Arrow-batched.
- UTC session timezone: deterministic timestamp semantics, matching the
  DuckDB oracle (naive timestamps treated as UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory that holds this package, for the worker daemon's import
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, else the smaller of
    16g and half the machine's physical memory. A fixed 16g on a 15 GB
    machine let the JVM grow until the kernel killed it once a second
    Spark process ran beside it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError):  # no sysconf, or no such name here
        return "16g"
    return f"{min(16 * 1024, phys // 2 // 2**20)}m"


def get_spark(app_name: str = "fraud_detection_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python-client call-site capture (DataFrame debugging context,
        # Spark 4 default ON) wraps EVERY DataFrame/Column op in ~3
        # extra py4j round trips (conf.get + origin set/clear) plus a
        # stack inspection. At ~1 ms per round trip that tax dominates
        # plan CONSTRUCTION for expression-heavy operators (measured
        # r16: interleaved A/B halves q_friedman/q_autocorrelation/
        # q_delong construction; the 178-query suite spends ~50% of
        # wall-clock in construction). Client-side only: plans,
        # results and scale posture are bit-identical — the flag only
        # drops the py4j chatter that attaches Python call sites to
        # JVM error messages (guide §1.2 "per-task work" applied to
        # the driver's own hot loop).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # ANSI is the Spark 4 default; pinned because the trainers' exact
        # BIGINT sums (ml_metrics._sum_gu_dec/_sum_hu_dec) rely on an
        # overflow raising ARITHMETIC_OVERFLOW instead of wrapping.
        .config("spark.sql.ansi.enabled", "true")
        # Generated-class cache: one LRU per JVM, sized at the first
        # codegen, so this static conf applies only when this builder
        # creates the context. Spark's default of 100 entries is below
        # the engine's working set: the LRU evicted every class before
        # its next use, so each re-run recompiled all of them and ran
        # code the JIT had not warmed. Measured at sf0.01, local[4]:
        # two passes of the 18 eager HEADLINE queries compile 889 then
        # 896 classes at 100 entries, 731 then 24 at 1,000; one cold
        # pass of all 178 HEADLINE queries compiles 2,756 distinct
        # classes (3,783 at 100 entries). The cached classes cost no
        # measurable memory: after two eager passes metaspace reads 182
        # vs 178 MB and the JIT code cache 101 vs 98 MB at 100 vs 1,000
        # entries (the process tree's RSS, 2.7 vs 3.0 GB, moves with
        # the committed G1 heap, not with the cache). Bounded, not 0
        # (unbounded): the serving stream compiles 2 new classes per
        # warm micro-batch at either cap, for as long as it runs (14
        # batches of 1,000 requests: 24, 14, then 2 each, 62 in all).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Python-worker daemon (pyworker.py): pyspark's worker re-reads
        # the directory of every zip on its path at the start of each
        # task (importlib.invalidate_caches() in setup_spark_files; on
        # CPython 3.11 each of an Arrow worker's 16 zip importers reads
        # its archive at once: ~26.7k entries of pyspark.zip, the py4j
        # zip and the spark-core jar, 0.15-0.25 s of Python CPU per
        # task). The daemon re-reads an archive only when its mtime or
        # size has changed. Spark's own pyspark.zip stays first on the
        # daemon's path; this entry only lets it import the module.
        # Measured at local[4], 3 alternating processes per side: 16
        # directory reads per task -> 0; a warm 32-partition Python RDD
        # job 1.83-2.43 -> 0.54-0.62 s, a 1-partition one 0.19-0.34 ->
        # 0.10-0.13 s, a warm 32-partition mapInPandas 2.29-2.84 ->
        # 0.85-0.99 s, bench.py's warmup in a fresh JVM 9.8-11.6 ->
        # 8.3-8.8 s.
        # Both this and the class cache are static confs, applied only
        # when this builder creates the context: a session built before
        # get_spark, such as the one the driver hands __spark_entry__,
        # keeps Spark's stock daemon and 100-entry class cache, and no
        # engine code can change either on a live context.
        .config("spark.python.daemon.module", "fraud_detection_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ADVICE r16: PySpark latches is_debugging_enabled process-globally
    # (pyspark/errors/utils.py: _enable_debugging_cache) at the FIRST
    # DataFrame op against the then-active session. If a session
    # existed (or any DataFrame op ran) before this factory applied the
    # flag, the disable would silently not take effect for the process.
    # Make it deterministic: ensure the runtime conf is false where the
    # session lets it be set, and reset the latch so the next op
    # re-reads the conf. On a pre-existing session Spark 4.1 treats the
    # flag as static (setting it raises CANNOT_MODIFY_STATIC_CONFIG);
    # there the session's own value stands.
    # The latch is private PySpark API: if a release moves it, skip the
    # reset and keep the (slower, still correct) debugging path.
    flag = "spark.python.sql.dataFrameDebugging.enabled"
    if spark.conf.get(flag, "true") != "false" and spark.conf.isModifiable(flag):
        spark.conf.set(flag, "false")
    try:
        import pyspark.errors.utils as _pyspark_errors_utils
    except ImportError:
        return spark
    latch = getattr(_pyspark_errors_utils, "_enable_debugging_cache", False)
    if latch is not False:
        _pyspark_errors_utils._enable_debugging_cache = None
    return spark


def health_check(spark: SparkSession) -> dict:
    """Liveness/readiness probe (reference /status + /health,
    api/app.py:130-175): a trivial query proves the session executes;
    streaming query states are reported per active stream."""
    ok = spark.sql("SELECT 1 AS ok").collect()[0]["ok"] == 1
    return {
        "session": "UP" if ok else "DOWN",
        "version": spark.version,
        "streams": {
            q.name or q.id: ("ACTIVE" if q.isActive else "STOPPED")
            for q in spark.streams.active
        },
    }
