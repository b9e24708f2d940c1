"""Online serving path — Structured Streaming re-expression of the
reference's EP2 (POST /predict -> Celery queue -> SHAP worker ->
Postgres upsert; api/app.py:178-260 -> xai_tasks.py:63-167).

Mapping (SURVEY.md §2g):
- request queue (Redis/Celery)       -> file/Kafka ``readStream`` of
  request records {transaction_id, correlation_id, features...}
- synchronous score + async explain  -> one streaming DAG computing
  score AND attribution columns (pure column math, broadcast weights)
- at-least-once + ON CONFLICT upsert -> ``foreachBatch`` idempotent
  MERGE keyed on transaction_id (checkpointed; replays overwrite the
  same keys — exactly-once effect)
- PENDING/COMPLETED status machine   -> status column set per batch
- correlation-id middleware          -> passthrough column

At scale the upsert target is a Delta/Iceberg table with MERGE INTO;
this container has plain parquet, so the merge is an incremental,
crash-safe file MERGE:

- the target is hash-bucketed on ``transaction_id`` (``pmod(xxhash64)``)
  so a batch reads and rewrites ONLY the buckets its keys fall in —
  cost is O(touched buckets), not O(table), per batch;
- a warm batch runs three Spark jobs: one fills the batch's cache and
  observes the touched buckets, one shuffles the batch rows with the
  touched buckets' committed rows on the bucket id, and one writes.
  A row_number over (bucket, key), batch rows first, keeps one row
  per key in that shuffle's sort: the in-batch dedup and the merge
  need no pass of their own;
- each commit writes ONE parquet file per touched bucket: the merged
  rows are shuffled on the bucket id before the write, so every
  bucket's rows sit in one write task. Write parallelism is one task
  per touched bucket, less where bucket ids collide in the shuffle
  hash and share a task; the next batch opens one file per bucket it
  reads;
- each bucket directory holds immutable version subdirs plus a
  ``_CURRENT`` pointer file; a commit writes the new version, then
  atomically flips the pointer (``os.replace``). The live version is
  never deleted before the flip (a replay whose version name is live
  commits under a fresh name), so a crash at ANY point leaves every
  bucket readable at a consistent version — recovery never sees an
  empty or half-swapped target, and checkpoint replay of the same
  batch converges (merge is keyed on transaction_id).

Read the table through :func:`read_results` (current version of every
bucket), which preserves the idempotence contract the reference gets
from ON CONFLICT (api/worker.py:90-95).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fraud_detection_spark.functions import linear_logit, sigmoid

REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType(), False),
        T.StructField("correlation_id", T.StringType(), True),
        T.StructField("f_value", T.DoubleType(), True),
        T.StructField("f_k", T.DoubleType(), True),
        T.StructField("f_hour", T.DoubleType(), True),
    ]
)

# published model (same convention as operators/ml_metrics.py)
WEIGHTS = [("f_value", 0.02), ("f_k", 0.01), ("f_hour", -0.05)]
BIAS = -1.0


def score_requests(df: DataFrame) -> DataFrame:
    """Scoring + linear attribution columns (works identically on a
    batch or streaming DataFrame — single definition for both paths).

    score   ≡ predict_proba (api/app.py:221-235)
    shap_*  ≡ LinearExplainer w·x attribution (xai_tasks.py:102-115)
    status  ≡ COMPLETED state (db/models.py:11-14)
    """
    logit = linear_logit(BIAS, [(w, F.col(c)) for c, w in WEIGHTS])
    out = df.withColumn("score", F.round(sigmoid(logit), 6))
    for c, w in WEIGHTS:
        out = out.withColumn(f"shap_{c}", F.round(F.lit(w) * F.col(c), 6))
    return (
        out.withColumn("prediction", (F.col("score") > 0.5).cast("int"))
        # dead-letter branch: rows whose features can't be scored end
        # in terminal FAILED (reference: MaxRetriesExceeded -> FAILED,
        # xai_tasks.py:150-152; PENDING/COMPLETED/FAILED enum
        # db/models.py:11-14)
        .withColumn(
            "status",
            F.when(F.col("score").isNull(), "FAILED").otherwise("COMPLETED"),
        )
        .withColumn(
            "correlation_id", F.coalesce(F.col("correlation_id"), F.expr("uuid()"))
        )
        # CURRENT_TIMESTAMP column default of the results DDL
        # (api/app.py:57, alembic 0001 :25-26)
        .withColumn("created_at", F.current_timestamp())
    )


def observed_scores(df: DataFrame):
    """Engine-side metrics (reference Prometheus counters/histograms,
    api/app.py:66-68): df.observe attaches named aggregates evaluated
    with the job — read them from the returned Observation without a
    second pass over the data."""
    obs = Observation("serving_metrics")
    out = score_requests(df).observe(
        obs,
        F.count(F.lit(1)).alias("predictions_submitted_total"),
        F.avg("score").alias("mean_score"),
        F.sum((F.col("score") > 0.5).cast("int")).alias("n_flagged"),
    )
    return out, obs


NUM_BUCKETS = 8


def _bucket_root(results_dir: str) -> str:
    return os.path.join(results_dir, "buckets")


def _current_version(bucket_dir: str) -> str | None:
    """Name of the bucket's live version dir, or None. A pointer naming
    a missing dir (impossible under the commit protocol, defensive
    anyway) reads as 'no data'."""
    p = os.path.join(bucket_dir, "_CURRENT")
    if os.path.isfile(p):
        with open(p) as f:
            v = f.read().strip()
        if v and os.path.isdir(os.path.join(bucket_dir, v)):
            return v
    return None


def _flip_pointer(bucket_dir: str, version: str) -> None:
    """Atomically repoint the bucket at ``version`` (os.replace is
    atomic on POSIX): readers see the old version or the new one,
    never nothing."""
    tmp = os.path.join(bucket_dir, "_CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, os.path.join(bucket_dir, "_CURRENT"))


def current_result_paths(results_dir: str) -> list[str]:
    root = _bucket_root(results_dir)
    paths = []
    if os.path.isdir(root):
        for b in sorted(os.listdir(root)):
            bdir = os.path.join(root, b)
            v = _current_version(bdir)
            if v is not None:
                paths.append(os.path.join(bdir, v))
    return paths


def read_results(spark: SparkSession, results_dir: str) -> DataFrame | None:
    """Current state of the upsert target (each bucket at its committed
    version), or None if nothing has been committed yet."""
    paths = current_result_paths(results_dir)
    if not paths:
        return None
    return spark.read.parquet(*paths)


def _commit_name(bucket_dir: str, version: str) -> str:
    """Directory name for this commit of the bucket: ``version``, unless
    that is the live version (a replay of an already-committed batch),
    which must survive until the pointer flips — then the first
    ``version.k`` that is not live. A dir of the chosen name is a
    leftover of a crashed commit and is safe to replace."""
    live, name, k = _current_version(bucket_dir), version, 0
    while name == live:
        k += 1
        name = f"{version}.{k}"
    return name


def upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    results_dir: str,
    num_buckets: int = NUM_BUCKETS,
) -> None:
    """Incremental idempotent MERGE keyed on transaction_id: new
    versions of a key replace old rows (ON CONFLICT DO UPDATE
    semantics, api/worker.py:90-99). Replayed batches converge.

    Only the hash buckets containing incoming keys are read and
    rewritten; untouched buckets' files are not opened, moved, or
    rewritten. A warm batch runs three Spark jobs:

    1. one fill job: a noop write of the bucket-keyed batch fills its
       cache and observes the set of touched buckets on the way;
    2. one shuffle: the batch rows and the committed rows of the touched
       buckets, unioned, are hash-partitioned on the bucket id; a
       row_number over (bucket, transaction_id), batch rows first,
       keeps one row per key. The in-batch dedup, the batch-beats-
       committed merge and the one-file-per-bucket layout share it (the
       bucket partitioning satisfies the window's distribution, and the
       window's sort the partitioned writer's);
    3. one write job stages every touched bucket as a hive partition,
       one file per bucket.

    Per-bucket commit = rename staged version into place, then atomic
    pointer flip — crash-safe at every step.

    The batch is persisted and unpersisted, for two reasons. Uncached,
    the fill and the merge would each re-scan the micro-batch's source
    files (the stream's input count then doubles). A
    ``localCheckpoint`` would scan once too, but ``unpersist`` does not
    free its blocks: a long-running stream would hold one batch per
    micro-batch until a JVM garbage collection."""
    spark = batch_df.sparkSession
    bucket_of = F.pmod(F.xxhash64("transaction_id"), F.lit(num_buckets))
    keyed = batch_df.withColumn("pbucket", bucket_of).persist()
    try:
        obs = Observation()
        fill = keyed.observe(obs, F.collect_set("pbucket").alias("touched"))
        fill.write.format("noop").mode("overwrite").save()
        touched = sorted(obs.get["touched"])
        if not touched:
            return
        root = _bucket_root(results_dir)
        os.makedirs(root, exist_ok=True)
        # sweep stage dirs from crashed prior runs (never referenced by a
        # pointer, so always safe to drop)
        for d in os.listdir(results_dir):
            if d.startswith(".stage-"):
                shutil.rmtree(os.path.join(results_dir, d), ignore_errors=True)

        existing_paths = []
        for b in touched:
            bdir = os.path.join(root, str(b))
            v = _current_version(bdir)
            if v is not None:
                existing_paths.append(os.path.join(bdir, v))
        rows = keyed.withColumn("_src", F.lit(0))
        if existing_paths:
            # the committed rows have the batch's own schema: passing it
            # skips the footer schema-inference job
            existing = (
                spark.read.schema(batch_df.schema)
                .parquet(*existing_paths)
                .withColumn("pbucket", bucket_of)
                .withColumn("_src", F.lit(1))
            )
            rows = rows.unionByName(existing)
        first = Window.partitionBy("pbucket", "transaction_id").orderBy("_src")
        merged = (
            rows.repartition(num_buckets, "pbucket")
            .withColumn("_rn", F.row_number().over(first))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        stage = os.path.join(results_dir, f".stage-{batch_id}")
        merged.write.mode("overwrite").partitionBy("pbucket").parquet(stage)
    finally:
        keyed.unpersist()

    for b in touched:
        src = os.path.join(stage, f"pbucket={b}")
        if not os.path.isdir(src):
            continue
        bdir = os.path.join(root, str(b))
        os.makedirs(bdir, exist_ok=True)
        version = _commit_name(bdir, f"v{batch_id}")
        dst = os.path.join(bdir, version)
        if os.path.isdir(dst):  # leftover of a crashed commit, not live
            shutil.rmtree(dst)
        os.rename(src, dst)
        _flip_pointer(bdir, version)
        for old in os.listdir(bdir):  # GC superseded versions
            if old.startswith("v") and old != version:
                old_p = os.path.join(bdir, old)
                if os.path.isdir(old_p):
                    shutil.rmtree(old_p, ignore_errors=True)
    shutil.rmtree(stage, ignore_errors=True)


def run_serving_stream_jdbc(
    spark: SparkSession,
    requests_dir: str,
    url: str,
    table: str = "results",
    checkpoint_dir: str | None = None,
) -> None:
    """The same serving DAG with a real database sink: foreachBatch ->
    staging write -> server-side MERGE (sources/jdbc.py) — the closest
    Spark expression of the reference's Celery worker upserting
    Postgres with ON CONFLICT (api/worker.py:90-99). Checkpoint replay
    re-runs the MERGE with the same batch: idempotent."""
    from fraud_detection_spark.sources.jdbc import (
        table_exists,
        upsert_jdbc,
        write_jdbc,
    )

    checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(prefix="fds-ckpt-")

    def sink(bdf: DataFrame, batch_id: int) -> None:
        batch = bdf.dropDuplicates(["transaction_id"])
        if not table_exists(spark, url, table):
            write_jdbc(batch, url, table, mode="overwrite")
        else:
            upsert_jdbc(batch, url, table, key_cols=["transaction_id"])

    q = (
        spark.readStream.schema(REQUEST_SCHEMA)
        .json(requests_dir)
        .transform(score_requests)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_serving_stream_managed(
    spark: SparkSession,
    requests_dir: str,
    table: str = "results_managed",
    checkpoint_dir: str | None = None,
) -> None:
    """The same serving DAG with a Spark-SQL-managed-table sink:
    foreachBatch -> MERGE INTO via sources/managed.py (real MERGE on a
    Delta/Iceberg catalog, anti-join+union overwrite fallback on this
    sandbox's parquet catalog). First batch creates the table;
    checkpoint replay re-merges the same keys — idempotent, like the
    JDBC and bucket-file twins."""
    from fraud_detection_spark.sources.managed import merge_into_managed

    checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(prefix="fds-ckpt-")

    def sink(bdf: DataFrame, batch_id: int) -> None:
        batch = bdf.dropDuplicates(["transaction_id"])
        if not bdf.sparkSession.catalog.tableExists(table):
            batch.write.saveAsTable(table)
        else:
            merge_into_managed(bdf.sparkSession, table, batch, ["transaction_id"])

    q = (
        spark.readStream.schema(REQUEST_SCHEMA)
        .json(requests_dir)
        .transform(score_requests)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the sink's refresh runs on the micro-batch CLONE session; this
    # session's v1 relation cache still points at pre-overwrite files
    spark.catalog.refreshTable(table)


def run_serving_stream(
    spark: SparkSession,
    requests_dir: str,
    results_dir: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Consume JSON request files, score, and upsert results —
    ``availableNow`` trigger processes the backlog and stops (tests);
    a production deployment runs the same query continuously with a
    processing-time trigger and Kafka source. ``max_files_per_trigger``
    caps each micro-batch (availableNow still drains the backlog, in
    more batches — how the sf0.1 scale exercise gets a real batch
    cadence out of a static backlog).

    Returns the query's progress summary: per-batch rows and
    batchDuration (ms) from recentProgress, plus total rows, total ms,
    and end-to-end rows/s — the numbers SCALE.md's serving-throughput
    section records (reference latency budget: 500 ms P95,
    monitoring/prometheus/rules HighAPILatency). recentProgress is
    retained per spark.sql.streaming.numRecentProgressUpdates (default
    100) — a backlog draining in more batches would silently
    undercount (round-7 self-review), so the retention is raised to
    cover availableNow's worst case (one batch per input file) before
    the query starts, and restored after."""
    import json as _json

    checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(prefix="fds-ckpt-")
    _PROG_CONF = "spark.sql.streaming.numRecentProgressUpdates"
    prev_retention = spark.conf.get(_PROG_CONF, "100")
    reader = spark.readStream.schema(REQUEST_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(requests_dir).transform(score_requests)
    try:
        n_files = sum(
            1 for f in os.listdir(requests_dir) if not f.startswith(("_", "."))
        )
        spark.conf.set(_PROG_CONF, str(max(100, n_files + 10)))
        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, bid: upsert_batch(bdf, bid, results_dir)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        batches = []
        for p in q.recentProgress:
            d = p if isinstance(p, dict) else _json.loads(p.json)
            if d.get("numInputRows", 0):
                batches.append(
                    {"rows": d["numInputRows"], "ms": d.get("batchDuration", 0)}
                )
    finally:
        spark.conf.set(_PROG_CONF, prev_retention)
    total_rows = sum(b["rows"] for b in batches)
    total_ms = sum(b["ms"] for b in batches)
    return {
        "batches": batches,
        "rows": total_rows,
        "ms": total_ms,
        "rows_per_sec": (total_rows * 1000.0 / total_ms) if total_ms else None,
    }
