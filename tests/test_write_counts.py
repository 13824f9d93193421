"""Row counts taken from the work itself: ``merge_upsert_parquet`` returns
the rows its write produced and ``run_pipeline`` reads ``rows_out`` off a
final ``checkpoint`` barrier, so neither re-scans what it just produced.
Each test checks the count against a re-read and, through a job group and
``statusTracker``, that no Spark job runs after the producing action."""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F
import pytest

from bytesme_etl_batch_pipeline_spark.plans.pipeline import STAGES, run_pipeline
from bytesme_etl_batch_pipeline_spark.sources.files import merge_upsert_parquet

_groups = itertools.count()


class JobWatch:
    """Runs its body in a fresh job group and records which of the group's
    jobs had started when the watched method last returned."""

    def __init__(self, spark, monkeypatch, owner, method: str):
        self.sc = spark.sparkContext
        self.group = f"write-counts-{next(_groups)}"
        self.at_return: set[int] | None = None
        inner = getattr(owner, method)

        def watched(*args, **kwargs):
            result = inner(*args, **kwargs)
            self.at_return = self.jobs()
            return result

        monkeypatch.setattr(owner, method, watched)

    def jobs(self) -> set[int]:
        # job starts reach the status store through the async listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs_after(self) -> set[int]:
        assert self.at_return is not None, "the watched method never ran"
        return self.jobs() - self.at_return


def _rows(spark, *rs):
    return spark.createDataFrame(list(rs), "k long, v string, version long, deleted boolean")


def test_merge_upsert_count_comes_from_the_write(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "tbl")
    cases = [
        # first load
        (_rows(spark, (1, "a", 1, False), (2, "b", 1, False), (3, "c", 1, False)), {}),
        # upsert: update k=1, insert k=4
        (_rows(spark, (1, "a2", 2, False), (4, "d", 2, False)), {}),
        # delete_col drops k=2 and k=3
        (_rows(spark, (2, "b", 3, True), (3, "c", 3, True), (5, "e", 3, False)), {}),
        # schema evolution: an added column
        (
            spark.createDataFrame(
                [(6, "f", 4, False, "x")],
                "k long, v string, version long, deleted boolean, w string",
            ),
            {"allow_schema_evolution": True},
        ),
    ]
    for updates, kwargs in cases:
        with JobWatch(spark, monkeypatch, type(updates.write), "parquet") as watch:
            n = merge_upsert_parquet(spark, base, updates, ["k"], "version", "deleted", **kwargs)
            assert watch.jobs(), "the merge ran no job in its group"
            assert watch.jobs_after() == set(), "a job ran after the staging write"
        monkeypatch.undo()
        assert n == spark.read.parquet(base).count()
    assert n == 4  # k = 1, 4, 5, 6


def test_merge_upsert_counts_an_empty_result(spark, tmp_path):
    base = str(tmp_path / "tbl")
    n = merge_upsert_parquet(spark, base, _rows(spark, (1, "a", 1, True)), ["k"], "version", "deleted")
    assert n == 0
    assert spark.read.parquet(base).count() == 0


@pytest.mark.parametrize(
    "stages",
    [
        ["plus1", "checkpoint"],
        ["plus1", "checkpoint", "keep_odd"],
        ["plus1", "keep_odd"],
        ["drop_all", "checkpoint"],
    ],
    ids=["barrier_last", "barrier_then_stage", "no_barrier", "empty_barrier_last"],
)
def test_run_pipeline_rows_out_equals_count(spark, stages):
    STAGES["plus1"] = lambda df: df.withColumn("v", F.col("v") + 1)
    STAGES["keep_odd"] = lambda df: df.filter(F.col("v") % 2 == 1)
    STAGES["drop_all"] = lambda df: df.filter(F.col("v") < 0)
    try:
        src = spark.range(17).withColumnRenamed("id", "v")
        outputs, report = run_pipeline({"a": src}, stages)
        assert report.n_success == 1
        assert report.results[0].rows_out == outputs["a"].count()
        report.free_barriers(spark)
    finally:
        for name in ("plus1", "keep_odd", "drop_all"):
            STAGES.pop(name, None)


def test_run_pipeline_runs_no_job_after_a_final_barrier(spark, monkeypatch):
    STAGES["plus1"] = lambda df: df.withColumn("v", F.col("v") + 1)
    try:
        src = spark.range(23).withColumnRenamed("id", "v")
        with JobWatch(spark, monkeypatch, type(src), "localCheckpoint") as watch:
            outputs, report = run_pipeline({"a": src}, ["plus1", "checkpoint"])
            assert watch.jobs(), "the barrier ran no job in its group"
            assert watch.jobs_after() == set(), "a job ran after the checkpoint"
        monkeypatch.undo()
        assert report.results[0].rows_out == 23
        report.free_barriers(spark)
    finally:
        STAGES.pop("plus1", None)
