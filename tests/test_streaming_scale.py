"""End-to-end serving-stream exercise at sf0.1 scale (VERDICT r6 #4).

The serving/drift/stateful paths are parity-tested on small batches
elsewhere (tests/test_streaming.py, tests/test_sinks_stateful.py);
this drives the FULL sf0.1 events table (~10^5 rows) as a request
backlog through the file-source stream -> score -> foreachBatch
bucket-MERGE pipeline in a real micro-batch cadence and checks the
result table converges to one row per transaction. The measured
rows/s + batch latency figures live in SCALE.md ("Serving throughput,
measured" — re-measure here when the pipeline changes).

The sf0.1 exercises are gated behind SPARK_GRAFT_SCALE_TESTS=1: ~1-2
min of wall clock at sf0.1 is scale-exercise budget, not unit-suite
budget. The same serving run over the test SF's events runs ungated,
so a change to the serving helpers fails the normal suite instead of
rotting behind the gate.
"""

from __future__ import annotations

import json
import os

import pytest

SCALE_SF_DIR = os.environ.get("SPARK_GRAFT_SCALE_SF_DIR", "/root/testdata/sf0.1")

scale = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_TESTS") != "1",
    reason="scale exercise; run with SPARK_GRAFT_SCALE_TESTS=1",
)


def _serve_events(spark, sf_dir, tmp_path, n_files, max_files_per_trigger):
    """Every event of ``sf_dir`` as one request, written as ``n_files``
    JSON files and drained through ``run_serving_stream``; checks the
    stream read every record, the table holds one COMPLETED row per
    transaction and every current bucket version holds one file.
    Returns the stream's progress summary."""
    from pyspark.sql import functions as F

    from fraud_detection_spark.sources import events_with_time
    from fraud_detection_spark.streaming.serving import (
        read_results,
        run_serving_stream,
    )
    from tests.test_streaming import parquet_files_per_version

    ev = events_with_time(spark, sf_dir)
    n_events = ev.count()
    requests = ev.select(
        F.col("event_id").cast("string").alias("transaction_id"),
        F.concat(F.lit("corr-"), F.col("event_id")).alias("correlation_id"),
        F.col("value").alias("f_value"),
        (F.col("user_id") % 100).cast("double").alias("f_k"),
        ((F.col("ts_sec") % 86400) / 3600).cast("double").alias("f_hour"),
    )
    req_dir = str(tmp_path / "requests")
    requests.repartition(n_files).write.json(req_dir)

    results_dir = str(tmp_path / "results")
    stats = run_serving_stream(
        spark, req_dir, results_dir, max_files_per_trigger=max_files_per_trigger
    )

    # every request processed, in a real multi-batch cadence
    assert stats["rows"] == n_events
    assert len(stats["batches"]) >= n_files // max_files_per_trigger, stats
    # upsert converged: one row per transaction, all COMPLETED
    res = read_results(spark, results_dir)
    assert res is not None
    assert res.count() == n_events
    assert res.filter(F.col("status") != "COMPLETED").count() == 0
    assert res.select("transaction_id").distinct().count() == n_events
    files = parquet_files_per_version(results_dir)
    assert files and set(files) == {1}, files
    return stats


def test_serving_stream_test_sf_events(spark, sf_dir, tmp_path):
    _serve_events(spark, sf_dir, tmp_path, n_files=4, max_files_per_trigger=1)


@scale
def test_serving_stream_full_sf01_events(spark, tmp_path):
    stats = _serve_events(
        spark, SCALE_SF_DIR, tmp_path, n_files=16, max_files_per_trigger=2
    )
    per_row_ms = stats["ms"] / stats["rows"]
    print("\nSERVING_SCALE " + json.dumps(stats | {"per_row_ms": per_row_ms}))
    # sanity floor only (box-noise safe): well under the reference's
    # 500 ms/row latency budget in amortized form
    assert per_row_ms < 50, stats


@scale
def test_training_pipeline_full_sf01(spark):
    """End-to-end train->evaluate at sf0.1: the leak-free feature table
    (~10^5 rows) through the MLlib pipeline with a USER-GROUPED holdout
    — at this SF the held-out slice has plenty of positives, so
    out-of-sample AUC is meaningful (the sf0.001 unit test documents
    why it evaluates in-sample). Numbers recorded in SCALE.md."""
    import json
    import time

    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.sql import functions as F

    from fraud_detection_spark.ml.pipeline import build_pipeline
    from fraud_detection_spark.pipelines.fraud_features import feature_table

    t0 = time.perf_counter()
    df = feature_table(spark, SCALE_SF_DIR)
    feats = ["hour_of_day", "user_event_idx", "secs_since_prev", "n_1h",
             "n_24h", "amt_24h", "dev_ratio"]
    prepped = (
        df.dropna(subset=["dev_ratio"])
        .withColumn("label", F.col("target").cast("double"))
        .withColumn(
            "is_train",
            (F.abs(F.xxhash64(F.col("user_id").cast("string"))) % 1000 < 800)
            .cast("int"),
        )
        .select(*feats, "label", "is_train")
        .persist()
    )
    train = prepped.filter("is_train = 1")
    test = prepped.filter("is_train = 0")
    n_train, n_test = train.count(), test.count()
    n_pos_test = test.filter("label = 1.0").count()
    assert n_pos_test >= 20, "held-out slice must carry positives at sf0.1"
    model = build_pipeline(feats, "label", None).fit(train)
    auc = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    ).evaluate(model.transform(test))
    wall = time.perf_counter() - t0
    prepped.unpersist()
    print(
        "\nTRAIN_SCALE "
        + json.dumps(
            {
                "n_train": n_train,
                "n_test": n_test,
                "n_pos_test": n_pos_test,
                "holdout_auc": round(auc, 4),
                "wall_sec": round(wall, 1),
            }
        )
    )
    # held-out-user AUC: the leak-free claim, now tested out-of-sample
    assert auc >= 0.80, auc


@scale
def test_corpus_pipeline_full_sf01(spark, tmp_path):
    """Third end-to-end scale exercise: the full corpus-prep job at
    sf0.1 (5,000 docs) with EVERY optional stage on — exact dedup ->
    MinHash near-dup clustering -> quality filter -> decontamination ->
    temperature mix -> fingerprint -> hive-partitioned write. Numbers
    in SCALE.md next to the serving and training exercises."""
    import json
    import time

    from fraud_detection_spark.pipelines.corpus_job import run_corpus_pipeline

    t0 = time.perf_counter()
    rep = run_corpus_pipeline(
        spark,
        SCALE_SF_DIR,
        output_path=str(tmp_path / "corpus"),
        near_dedup=True,
        decontaminate=True,
        mix_temperature=0.7,
    )
    wall = time.perf_counter() - t0
    # the funnel only narrows
    assert rep.n_input >= rep.n_after_dedup >= rep.n_after_quality
    assert rep.n_after_quality >= rep.n_after_decontam >= (rep.n_after_mix or 0)
    assert rep.total_ws_tokens > 0 and rep.by_lang
    print(
        "\nCORPUS_SCALE "
        + json.dumps(
            {
                "n_input": rep.n_input,
                "n_after_dedup": rep.n_after_dedup,
                "n_after_quality": rep.n_after_quality,
                "n_after_decontam": rep.n_after_decontam,
                "n_after_mix": rep.n_after_mix,
                "total_ws_tokens": rep.total_ws_tokens,
                "wall_sec": round(wall, 1),
            }
        )
    )


@scale
def test_session_path_stream_full_sf01(spark, tmp_path):
    """Streaming session-path twin at full sf0.1 volume (VERDICT r7
    #5): the whole events table as a 3-slice in-order backlog through
    the stateful sessionizer, exact batch parity on every closed
    session. Rows/s recorded in SCALE.md ("Session-path stream")."""
    from tests.test_streaming_sessions import (
        _batch_sessions,
        run_session_stream,
    )

    got, wall, n_in = run_session_stream(
        spark, SCALE_SF_DIR, tmp_path, query_name="sessions_sf01"
    )
    batch = _batch_sessions(spark, SCALE_SF_DIR).toPandas()
    last_sid = batch.groupby("user_id")["sid"].transform("max")
    want = batch[batch["sid"] < last_sid]

    key = ["user_id", "sid"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s), (len(got_s), len(want_s))
    for c in ["user_id", "sid", "path", "n_events", "t0_sec", "t1_sec"]:
        assert (got_s[c].values == want_s[c].values).all(), c
    print(
        json.dumps(
            {
                "exercise": "session_path_stream_sf01",
                "input_rows": n_in,
                "closed_sessions": int(len(got_s)),
                "wall_seconds": round(wall, 2),
                "rows_per_sec": round(n_in / wall, 1),
            }
        )
    )
