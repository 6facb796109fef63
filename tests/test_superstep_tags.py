"""Every Spark job a SuperstepRunner launches carries the job tag of its
phase: `phase:<run_id>/<slot stem>` for a tick, `.../checkpoint` for a
durable checkpoint. The tags are read inside the running job, from the
task context, so they are the ones Spark records for it."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from detectingscc_spark.plans.superstep import SuperstepRunner

CALLER = "caller-tag"


@F.udf(StringType())
def _job_tags(_):
    from pyspark import TaskContext

    return TaskContext.get().getLocalProperty("spark.job.tags")


def _tags_seen(df):
    """Job tags recorded in `df`'s rows, less the ones Spark SQL adds per session."""
    return {t for r in df.collect() for t in r["tags"].split(",") if not t.startswith("spark-session-")}


@pytest.fixture
def caller_tag(spark):
    sc = spark.sparkContext
    sc.addJobTag(CALLER)
    yield sc
    sc.removeJobTag(CALLER)


def test_tick_tags_its_jobs_and_restores_the_callers(spark, caller_tag):
    runner = SuperstepRunner(spark, run_id="tagtest")
    out, _ = runner.tick("bfs_new_7", spark.range(2).select(_job_tags("id").alias("tags")), count=False)
    assert _tags_seen(out) == {CALLER, "phase:tagtest/bfs_new"}
    assert set(caller_tag.getJobTags()) == {CALLER}

    with pytest.raises(Exception, match="boom"):
        runner.tick("done_3", spark.range(2).select(F.raise_error(F.lit("boom")).alias("x")))
    assert set(caller_tag.getJobTags()) == {CALLER}
    runner.release_all()


def test_checkpoint_tags_its_jobs(spark, caller_tag, tmp_path):
    runner = SuperstepRunner(spark, checkpoint_dir=str(tmp_path), run_id="tagtest")
    states = {"s": spark.range(2).select(_job_tags("id").alias("tags"))}
    assert runner.maybe_checkpoint(states, force=True)
    written = spark.read.parquet(str(tmp_path / "state_0" / "s"))
    assert _tags_seen(written) == {CALLER, "phase:tagtest/checkpoint"}
    assert set(caller_tag.getJobTags()) == {CALLER}
