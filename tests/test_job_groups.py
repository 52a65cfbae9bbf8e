"""Every Spark job a request fires carries the caller's job group, also
the jobs the engine submits from its worker threads, so a caller can
attribute a request's work (and cancel it with ``cancelJobGroup``)."""

from __future__ import annotations

import pytest

from itemsjs_spark.data.transcripts import transcripts_df
from itemsjs_spark.engine import itemsjs_spark

CFG = {
    "aggregations": {"role": {"size": 10}, "tool": {"size": 10}},
    "searchableFields": ["text"],
}

CALLS = {
    "facet_only_search": lambda e: e.search({"filters": {"role": ["assistant"]}}),
    "query_facet_search": lambda e: e.search(
        {"query": "spark", "filters": {"role": ["assistant"]}}
    ),
    # last: aggregation() permanently resizes the facet it names
    "aggregation": lambda e: e.aggregation({"name": "tool"}),
}


@pytest.fixture(scope="module")
def eng(spark):
    df = transcripts_df(spark, n_turns=300, n_convs=30, seed=5)
    e = itemsjs_spark(spark, df, CFG, order_by=["conv_id", "turn_idx"])
    e.materialize()
    for call in CALLS.values():  # warm the engine's lazy driver caches
        call(e)
    return e


def _job_ids(sc) -> set:
    """Ids of every job in the status store behind statusTracker(),
    whatever its group; waits for the listener bus to deliver first."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


@pytest.mark.parametrize("name", list(CALLS))
def test_request_jobs_carry_callers_job_group(spark, eng, name):
    sc = spark.sparkContext
    group = f"itemsjs-job-group-{name}"
    last = max(_job_ids(sc), default=-1)
    sc.setJobGroup(group, "job-group propagation test")
    try:
        CALLS[name](eng)
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    fired = {j for j in _job_ids(sc) if j > last}
    assert fired, name
    tagged = set(sc.statusTracker().getJobIdsForGroup(group))
    assert fired <= tagged, (name, sorted(fired - tagged))
