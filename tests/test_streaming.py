"""Integration test for the Structured Streaming serving path
(reference EP2: request -> score -> async explain -> idempotent upsert).
"""

from __future__ import annotations

import json
import os

import pytest


@pytest.fixture()
def dirs(tmp_path):
    req = tmp_path / "requests"
    req.mkdir()
    return str(req), str(tmp_path / "results"), str(tmp_path / "ckpt")


def write_requests(req_dir: str, rows: list[dict], fname: str) -> None:
    with open(os.path.join(req_dir, fname), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def parquet_files(version_dir: str) -> int:
    return sum(1 for n in os.listdir(version_dir) if n.endswith(".parquet"))


def parquet_files_per_version(res_dir: str) -> list[int]:
    """Number of parquet files in each bucket's current version."""
    from fraud_detection_spark.streaming.serving import current_result_paths

    return [parquet_files(v) for v in current_result_paths(res_dir)]


def scored(spark, rows: list[tuple]):
    from fraud_detection_spark.streaming.serving import REQUEST_SCHEMA, score_requests

    return score_requests(spark.createDataFrame(rows, REQUEST_SCHEMA))


def by_id(df) -> dict:
    return {r["transaction_id"]: r.asDict() for r in df.collect()}


def test_serving_stream_end_to_end(spark, dirs):
    from fraud_detection_spark.streaming.serving import run_serving_stream

    req_dir, res_dir, ckpt = dirs
    write_requests(
        req_dir,
        [
            {"transaction_id": "t1", "correlation_id": "c1", "f_value": 10.0, "f_k": 1.0, "f_hour": 3.0},
            {"transaction_id": "t2", "correlation_id": None, "f_value": 99.0, "f_k": 5.0, "f_hour": 12.0},
            # poison record: unscorable features -> terminal FAILED
            {"transaction_id": "t_bad", "correlation_id": "cx", "f_value": None, "f_k": None, "f_hour": None},
        ],
        "batch1.json",
    )
    run_serving_stream(spark, req_dir, res_dir, ckpt)
    from fraud_detection_spark.streaming.serving import read_results

    out = read_results(spark, res_dir)
    rows = {r["transaction_id"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"t1", "t2", "t_bad"}
    assert rows["t1"]["status"] == "COMPLETED"
    assert rows["t_bad"]["status"] == "FAILED" and rows["t_bad"]["score"] is None
    assert rows["t1"]["correlation_id"] == "c1"
    assert rows["t2"]["correlation_id"] is not None  # uuid assigned
    assert 0.0 <= rows["t1"]["score"] <= 1.0
    assert rows["t1"]["prediction"] in (0, 1)
    assert "shap_f_value" in out.columns

    # second batch: new key + UPDATED version of t1 -> upsert must
    # replace, not duplicate (ON CONFLICT DO UPDATE parity)
    write_requests(
        req_dir,
        [
            {"transaction_id": "t1", "correlation_id": "c1b", "f_value": 20.0, "f_k": 1.0, "f_hour": 3.0},
            {"transaction_id": "t3", "correlation_id": "c3", "f_value": 1.0, "f_k": 0.0, "f_hour": 0.0},
        ],
        "batch2.json",
    )
    # snapshot every committed file before batch 2 so we can prove the
    # merge is incremental (untouched buckets' files byte-identical)
    from fraud_detection_spark.streaming.serving import current_result_paths

    def snapshot(res_dir):
        files = {}
        for vdir in current_result_paths(res_dir):
            for name in sorted(os.listdir(vdir)):
                if name.endswith(".parquet"):
                    p = os.path.join(vdir, name)
                    with open(p, "rb") as f:
                        files[p] = f.read()
        return files

    before = snapshot(res_dir)

    run_serving_stream(spark, req_dir, res_dir, ckpt)
    out2 = read_results(spark, res_dir)
    rows2 = {r["transaction_id"]: r.asDict() for r in out2.collect()}
    assert set(rows2) == {"t1", "t2", "t3", "t_bad"}
    assert out2.count() == 4, "upsert duplicated keys"
    assert rows2["t1"]["correlation_id"] == "c1b", "t1 not updated in place"

    # incremental MERGE: buckets NOT containing t1/t3 must be untouched
    # (same path, same bytes) — the batch rewrites only what it touches
    after = snapshot(res_dir)
    surviving = {p: b for p, b in before.items() if p in after}
    assert surviving, "expected at least one untouched bucket to survive batch 2"
    for p, b in surviving.items():
        assert after[p] == b, f"untouched bucket file rewritten: {p}"


def test_upsert_crash_recovery(spark, tmp_path):
    """Commit protocol: a crash between writing a new version dir and
    flipping the bucket pointer must leave the committed state fully
    readable, and replaying the batch must converge (exactly-once
    effect of the checkpoint + keyed merge)."""
    from fraud_detection_spark.streaming.serving import (
        REQUEST_SCHEMA,
        _bucket_root,
        read_results,
        score_requests,
        upsert_batch,
    )

    res_dir = str(tmp_path / "results")
    os.makedirs(res_dir)
    df1 = score_requests(
        spark.createDataFrame(
            [("a", "c", 1.0, 1.0, 1.0), ("b", "c", 2.0, 2.0, 2.0)], REQUEST_SCHEMA
        )
    )
    upsert_batch(df1, 0, res_dir)
    assert {r["transaction_id"] for r in read_results(spark, res_dir).collect()} == {
        "a",
        "b",
    }

    # simulate the crash window: an uncommitted version dir exists but
    # its bucket pointer was never flipped — reader must ignore it
    root = _bucket_root(res_dir)
    bdir = os.path.join(root, sorted(os.listdir(root))[0])
    os.makedirs(os.path.join(bdir, "v1"))
    assert {r["transaction_id"] for r in read_results(spark, res_dir).collect()} == {
        "a",
        "b",
    }

    # replay of that batch id commits cleanly over the leftover dir
    df2 = score_requests(
        spark.createDataFrame([("a", "c2", 9.0, 9.0, 9.0)], REQUEST_SCHEMA)
    )
    upsert_batch(df2, 1, res_dir)
    out = {r["transaction_id"]: r.asDict() for r in read_results(spark, res_dir).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"]["correlation_id"] == "c2"

    # double-applying the same batch converges to the same keys
    upsert_batch(df2, 1, res_dir)
    out2 = {r["transaction_id"]: r.asDict() for r in read_results(spark, res_dir).collect()}
    assert set(out2) == {"a", "b"}
    assert out2["a"]["correlation_id"] == "c2"


def test_upsert_replay_crash_keeps_committed_rows(spark, tmp_path, monkeypatch):
    """A replay of an already-committed batch finds its version name
    live. A crash during that replay's commit must not lose the bucket:
    the live version may not be deleted before the pointer flips."""
    from fraud_detection_spark.streaming.serving import (
        _bucket_root,
        current_result_paths,
        read_results,
        upsert_batch,
    )

    res_dir = str(tmp_path / "results")
    os.makedirs(res_dir)
    upsert_batch(
        scored(spark, [(f"t{i}", "c", float(i), 1.0, 1.0) for i in range(40)]),
        0,
        res_dir,
    )
    batch1 = scored(spark, [("t1", "c1b", 50.0, 1.0, 1.0)])
    upsert_batch(batch1, 1, res_dir)
    assert read_results(spark, res_dir).count() == 40

    def crash(src, dst):
        raise OSError("crash before rename")

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError, match="crash before rename"):
        upsert_batch(batch1, 1, res_dir)
    monkeypatch.undo()
    after_crash = by_id(read_results(spark, res_dir))
    assert len(after_crash) == 40, "a crashed replay lost committed rows"
    assert after_crash["t1"]["correlation_id"] == "c1b"

    # the replay, re-run to completion, converges under a fresh name
    # and GCs the one it replaced
    upsert_batch(batch1, 1, res_dir)
    out = read_results(spark, res_dir)
    rows = by_id(out)
    assert out.count() == len(rows) == 40
    assert rows["t1"]["correlation_id"] == "c1b"
    assert parquet_files_per_version(res_dir) == [1] * 8
    assert "v1.1" in {os.path.basename(v) for v in current_result_paths(res_dir)}
    root = _bucket_root(res_dir)
    for b in os.listdir(root):
        assert sum(d.startswith("v") for d in os.listdir(os.path.join(root, b))) == 1


def test_serving_stream_one_file_per_bucket_version(spark, tmp_path):
    """Each commit writes one parquet file per touched bucket, so after
    a multi-batch stream every current bucket version holds one file."""
    from fraud_detection_spark.streaming.serving import read_results, run_serving_stream

    req_dir = str(tmp_path / "requests")
    os.makedirs(req_dir)
    for k in range(3):
        # each file updates half of the previous file's keys
        write_requests(
            req_dir,
            [
                {"transaction_id": f"t{i}", "correlation_id": f"c{k}",
                 "f_value": float(i), "f_k": float(k), "f_hour": 1.0}
                for i in range(20 * k, 20 * k + 40)
            ],
            f"batch{k}.json",
        )
        # the file source orders a backlog by modification time
        os.utime(os.path.join(req_dir, f"batch{k}.json"), (1e9 + k, 1e9 + k))
    res_dir = str(tmp_path / "results")
    stats = run_serving_stream(
        spark, req_dir, res_dir, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    assert len(stats["batches"]) == 3 and stats["rows"] == 120
    out = read_results(spark, res_dir)
    rows = by_id(out)
    assert out.count() == len(rows) == 80
    assert rows["t39"]["correlation_id"] == "c1"  # updated by file 1
    assert rows["t79"]["correlation_id"] == "c2"
    assert parquet_files_per_version(res_dir) == [1] * 8


def test_upsert_merges_into_multi_file_versions(spark, tmp_path):
    """Tables committed before one-file-per-bucket hold several files
    per bucket version. A merge into them (reading with the batch's
    schema instead of inferring it) must keep every untouched row
    exactly and replace the updated keys."""
    from pyspark.sql import functions as F

    from fraud_detection_spark.streaming.serving import (
        NUM_BUCKETS,
        _bucket_root,
        _flip_pointer,
        current_result_paths,
        read_results,
        upsert_batch,
    )

    res_dir = str(tmp_path / "results")
    stage = str(tmp_path / "legacy")
    (
        scored(spark, [(f"t{i}", "c0", float(i), 2.0, 3.0) for i in range(60)])
        .withColumn("pbucket", F.pmod(F.xxhash64("transaction_id"), F.lit(NUM_BUCKETS)))
        .repartition(4)
        .write.partitionBy("pbucket")
        .parquet(stage)
    )
    for d in os.listdir(stage):
        if d.startswith("pbucket="):
            bdir = os.path.join(_bucket_root(res_dir), d.split("=")[1])
            os.makedirs(bdir)
            os.rename(os.path.join(stage, d), os.path.join(bdir, "v0"))
            _flip_pointer(bdir, "v0")
    assert max(parquet_files_per_version(res_dir)) > 1
    before = by_id(read_results(spark, res_dir))
    assert len(before) == 60

    updates = [(f"t{i}", "c1", float(i), 9.0, 9.0) for i in range(0, 80, 4)]
    upsert_batch(scored(spark, updates), 1, res_dir)
    after = by_id(read_results(spark, res_dir))
    updated = {u[0] for u in updates}
    assert set(after) == set(before) | updated
    for k, row in after.items():
        if k in updated:
            assert row["correlation_id"] == "c1" and row["f_k"] == 9.0, k
        else:
            assert row == before[k], k
    rewritten = [
        parquet_files(v)
        for v in current_result_paths(res_dir)
        if os.path.basename(v) == "v1"
    ]
    assert rewritten and set(rewritten) == {1}, rewritten


# jobs one warm upsert into an existing table runs, measured at local[4]:
# the noop write that fills the batch's cache and observes the touched
# buckets, the bucket shuffle's map stage (batch + committed rows) and
# the staged write
UPSERT_JOB_CEILING = 3


def test_warm_upsert_job_budget(spark, tmp_path):
    """Pins the jobs of one warm upsert (job group + status tracker), so
    a re-added pass over the batch or the table fails here."""
    from fraud_detection_spark.streaming.serving import upsert_batch

    res_dir = str(tmp_path / "results")
    os.makedirs(res_dir)
    def batch(lo, hi):
        rows = [(f"t{i}", "c", float(i), 1.0, 1.0) for i in range(lo, hi)]
        return scored(spark, rows)

    upsert_batch(batch(0, 40), 0, res_dir)
    upsert_batch(batch(30, 70), 1, res_dir)
    sc = spark.sparkContext
    group = "test-warm-upsert-job-budget"
    sc.setJobGroup(group, group)
    try:
        upsert_batch(batch(50, 90), 2, res_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= UPSERT_JOB_CEILING, (
        f"one warm upsert ran {jobs} Spark jobs (ceiling {UPSERT_JOB_CEILING})"
    )


def test_upsert_batch_row_wins_and_in_batch_duplicates(spark, tmp_path):
    """A key already committed takes the batch's row, and a key the batch
    holds twice (an identical redelivery) lands once."""
    from fraud_detection_spark.streaming.serving import read_results, upsert_batch

    res_dir = str(tmp_path / "results")
    os.makedirs(res_dir)
    upsert_batch(scored(spark, [("t1", "c0", 10.0, 1.0, 1.0)]), 0, res_dir)
    redelivered = ("t1", "c1", 20.0, 1.0, 1.0)
    batch = scored(spark, [redelivered, redelivered, ("t9", "c1", 5.0, 1.0, 1.0)])
    expected = by_id(batch)
    upsert_batch(batch, 1, res_dir)
    out = read_results(spark, res_dir)
    rows = by_id(out)
    assert out.count() == len(rows) == 2
    assert set(rows) == {"t1", "t9"}
    assert rows["t1"]["f_value"] == 20.0
    assert rows["t1"]["score"] == expected["t1"]["score"]
    assert rows["t1"]["correlation_id"] == "c1"


def test_upserts_leave_no_cached_blocks(spark, tmp_path):
    """Each upsert frees the batch it cached: a long-running stream must
    not hold one batch per micro-batch."""
    from fraud_detection_spark.streaming.serving import upsert_batch

    res_dir = str(tmp_path / "results")
    os.makedirs(res_dir)
    sc = spark.sparkContext
    # RDD ids grow: anything cached with a larger id came from the upserts
    # (other tests' cached data is not this test's business)
    first_id = sc.emptyRDD()._jrdd.id()
    for k in range(3):
        rows = [(f"t{i}", "c", float(i), 1.0, 1.0) for i in range(20 * k, 20 * k + 40)]
        upsert_batch(scored(spark, rows), k, res_dir)
    infos = sc._jsc.sc().getRDDStorageInfo()
    left = {i.id(): i.numCachedPartitions() for i in infos if i.id() > first_id}
    assert sum(left.values()) == 0, left


def test_scoring_logic_batch_stream_parity(spark):
    """The same score_requests() column logic must work on a plain
    batch DataFrame (single definition for both planes)."""
    from fraud_detection_spark.streaming.serving import REQUEST_SCHEMA, score_requests

    df = spark.createDataFrame(
        [("tx", "c", 10.0, 1.0, 3.0)], schema=REQUEST_SCHEMA
    )
    out = score_requests(df).collect()[0]
    import math

    expected = 1.0 / (1.0 + math.exp(-(-1.0 + 0.02 * 10.0 + 0.01 * 1.0 - 0.05 * 3.0)))
    assert abs(out["score"] - round(expected, 6)) < 1e-9
