"""Every Spark job a SuperstepRunner launches carries the job tag of its
phase: `phase:<run_id>/<slot stem>` for a tick, `.../checkpoint` for a
durable checkpoint. The tags are read inside the running job, from the
task context, so they are the ones Spark records for it."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from detectingscc_spark.operators.hits import eigencentrality, hits, salsa
from detectingscc_spark.operators.pagerank import pagerank, personalized_pagerank
from detectingscc_spark.plans.superstep import SuperstepRunner
from detectingscc_spark.sources.gtgraph import gtgraph_meta, read_gtgraph

from .conftest import FIXTURE_DATA

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


# operator call on (spark, edges, verts), its run_id, its slot stems
LINK_OPERATORS = {
    "pagerank": (lambda s, e, v: pagerank(s, e, v, fixed_iters=3), "pagerank", ("verts", "edges", "rank")),
    "pagerank_tol": (lambda s, e, v: pagerank(s, e, v, max_iters=3), "pagerank", ("verts", "edges", "rank")),
    "personalized_pagerank": (
        lambda s, e, v: personalized_pagerank(s, e, s.range(1, 4), fixed_iters=3),
        "ppr",
        ("sources", "verts", "edges", "rank"),
    ),
    "hits": (lambda s, e, v: hits(s, e, v, iters=3), "hits", ("verts", "auth_e", "hub_e", "auth", "hub")),
    "salsa": (lambda s, e, v: salsa(s, e, v, iters=3), "salsa", ("verts", "auth_e", "hub_e", "auth", "hub")),
    "eigencentrality": (lambda s, e, v: eigencentrality(s, e, iters=3), "eigen", ("verts", "sym", "score")),
}


@pytest.mark.parametrize("op", list(LINK_OPERATORS))
def test_link_analysis_jobs_all_carry_a_phase_tag(spark, op):
    """Every Spark job a link-analysis operator launches runs inside one of
    its runner's ticks; only the caller's own action on the lazy result
    (its own job group here) is untagged."""
    call, run_id, stems = LINK_OPERATORS[op]
    path = os.path.join(FIXTURE_DATA, "sample1.gr")
    v, _ = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    sc = spark.sparkContext
    group = f"phase-tags-{op}"
    sc.setJobGroup(group, "phase tag coverage")
    try:
        out = call(spark, edges, spark.range(1, v + 1))
        sc.setJobGroup(f"{group}-action", "caller's action")
        assert out.count() > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    tracker = sc._jsc.sc().statusTracker()
    tagged = set()
    for stem in stems:
        tagged |= set(tracker.getJobIdsForTag(f"phase:{run_id}/{stem}"))
    assert jobs, f"{op} launched no job before its result was read"
    assert jobs <= tagged, f"{op}: jobs {sorted(jobs - tagged)} of {len(jobs)} carry no phase tag of {stems}"
