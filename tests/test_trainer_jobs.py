"""Spark jobs per run of the Newton trainers and q_tree5: construction
plus collect, counted by job group (the eager ladders run their jobs
while the DataFrame is built). A re-added fact pass, checkpoint or
collect fails here before it shows in a timing."""

from __future__ import annotations

import pytest

from fraud_detection_spark.registry import load_all

REGISTRY = load_all()

# jobs of one warm run, measured the same at sf0.001 and sf0.01 on
# local[4]; q_xgb_boosted_tree2 ran 60 while it checkpointed round 2's
# branch totals and child picks, which no later pass reads
JOB_CEILINGS = {
    "q_xgb_round": 10,
    "q_xgb_round2": 20,
    "q_xgb_fit": 27,
    "q_xgb_tree2": 21,
    "q_xgb_boosted_tree2": 54,
    "q_xgb_gamma": 18,
    "q_xgb_monotone": 13,
    "q_xgb_alpha": 9,
    "q_xgb_hist": 14,
    "q_tree5": 27,
}


@pytest.fixture(scope="module")
def warm(spark, sf_dir):
    """A session's first query runs one job more than a warm run."""
    REGISTRY["q_xgb_alpha"].fn(spark, sf_dir).collect()


@pytest.mark.parametrize("name", sorted(JOB_CEILINGS))
def test_trainer_job_ceiling(spark, sf_dir, warm, name):
    sc = spark.sparkContext
    group = f"test-trainer-job-ceiling-{name}"
    sc.setJobGroup(group, group)
    try:
        REGISTRY[name].fn(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= JOB_CEILINGS[name], (
        f"{name} ran {jobs} Spark jobs (ceiling {JOB_CEILINGS[name]})"
    )
