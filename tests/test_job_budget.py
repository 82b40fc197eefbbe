"""Spark-job budget of an epoch: the fixed cost a step pays whatever its size.

Counts every job bootstrap and one step start, through the status tracker
of a job group, and the jobs each checkpoint write starts. The step runs on
both grant paths: unthrottled (no budget binds, the grant is the frontier)
and throttled (the window tournament runs).
A regression that puts a Spark job back on the token-bucket or small-table
path (a host_state plan, a metrics frame, a separate count) fails here
without running the benchmark."""

from __future__ import annotations

import pytest

from gsccca_tax_records_scraper_spark.operators import politeness
from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine
from gsccca_tax_records_scraper_spark.sources.checkpoint import CheckpointStore

SEEDS = [11, 12, 13, 14]
# jobs of one step on a 4-core session, by grant path (40 on both before
# the token bucket and the small tables moved to the driver): an
# unthrottled drain step runs 20 (no tournament), a throttled one 26 (the
# window tournament, its cache and the left-anti carry of the rest). The
# margin absorbs AQE plan differences between session configurations.
STEP_JOB_BUDGET = {"unthrottled": 26, "throttled": 30}
# 1e7 s: no host's budget binds; 60 s: 0.25 URL/s x 60 s = 15 tokens per
# host, below the backlog of the seeds' hosts, so the tournament runs
EPOCH_SECONDS = {"unthrottled": 1e7, "throttled": 60.0}


@pytest.mark.parametrize("path", ["unthrottled", "throttled"])
def test_step_job_budget(spark, tmp_path, monkeypatch, path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    write_jobs: dict[tuple[str, str], int] = {}
    write = CheckpointStore.write

    def counted_write(self, table, epoch, data):
        group = sc.getLocalProperty("spark.jobGroup.id")
        before = len(tracker.getJobIdsForGroup(group))
        write(self, table, epoch, data)
        write_jobs[(group, table)] = len(tracker.getJobIdsForGroup(group)) - before

    grants = []
    grant = politeness.grant

    def counted_grant(*args, **kwargs):
        grants.append(sc.getLocalProperty("spark.jobGroup.id"))
        return grant(*args, **kwargs)

    monkeypatch.setattr(CheckpointStore, "write", counted_write)
    monkeypatch.setattr(politeness, "grant", counted_grant)
    eng = CrawlEngine(spark, tmp_path / "wd", epoch_seconds=EPOCH_SECONDS[path])
    step_group = f"budget-step-{path}"
    try:
        sc.setJobGroup("budget-bootstrap", "bootstrap")
        eng.bootstrap(SEEDS)
        sc.setJobGroup(step_group, "step")
        m = eng.step()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert m is not None and m["granted"] > 0
    # the step took the grant path under test
    assert grants == ([step_group] if path == "throttled" else [])
    n_step = len(tracker.getJobIdsForGroup(step_group))
    assert 0 < n_step <= STEP_JOB_BUDGET[path], n_step
    for group in ("budget-bootstrap", step_group):
        assert write_jobs[(group, "host_state")] == 0
        assert write_jobs[(group, "metrics")] == 0
        # the frame writes did run as Spark jobs (the counter works)
        assert write_jobs[(group, "frontier")] > 0


def test_write_labels_its_jobs_and_restores_description(spark, tmp_path):
    """A Spark write runs under the description `write:<table>` (its tasks
    see it); the caller's own description is back afterwards."""
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    store = CheckpointStore(tmp_path / "wd", spark)
    label = F.udf(
        lambda _: TaskContext.get().getLocalProperty("spark.job.description"), "string"
    )
    sc.setJobDescription("caller")
    try:
        store.write("probe", 0, spark.range(1).select(label("id").alias("desc")))
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert store.read_snapshot(spark, "probe", 0).first()["desc"] == "write:probe"
