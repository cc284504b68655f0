"""cluster()'s two paths — one DFS task for small graphs, distributed CC
for large ones — on the edge cases where they could drift apart, plus the
small path's Spark job budget."""
import pandas as pd

from bib_dedupe_spark.operators.cluster import SINGLE_TASK_MAX_EDGES, cluster


def cluster_both_paths(matched, **kwargs):
    """cluster() rows as a set of (ID, component), after checking that
    forced distributed CC and the single DFS task return identical rows."""
    distributed, single = (
        {
            tuple(r)
            for r in cluster(
                matched, single_task_max_edges=bound, **kwargs
            ).collect()
        }
        for bound in (0, SINGLE_TASK_MAX_EDGES)
    )
    assert distributed == single
    return single


def _matched(spark, rows):
    """rows = [(ID_1, ID_2, set_1, set_2, label)]."""
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "ID_1", "ID_2", "search_set_1", "search_set_2",
                "duplicate_label",
            ],
        )
    )


def test_self_loops_are_dropped(spark):
    m = _matched(
        spark,
        [
            ("z", "z", "", "", "duplicate"),
            ("a", "a", "", "", "duplicate"),
            ("a", "b", "", "", "duplicate"),
        ],
    )
    assert cluster_both_paths(m) == {("a", "a"), ("b", "a")}


def test_search_sets_ignored_when_not_enforced(spark):
    # a and c share set S: enforced, c is split out; not enforced, one blob
    m = _matched(
        spark,
        [("a", "b", "S", "", "duplicate"), ("b", "c", "", "S", "duplicate")],
    )
    assert cluster_both_paths(m, enforce_search_sets=False) == {
        ("a", "a"),
        ("b", "a"),
        ("c", "a"),
    }


def test_no_labeled_edges(spark):
    m = _matched(spark, [("a", "b", "", "", "maybe")])
    assert cluster(m).collect() == []


def test_checkpoint_dir_only_used_by_distributed_path(spark, tmp_path):
    m = _matched(
        spark,
        [("a", "b", "", "", "duplicate"), ("b", "c", "", "", "duplicate")],
    )
    small = tmp_path / "small"
    cluster(m, checkpoint_dir=str(small)).collect()
    assert not small.exists()

    large = tmp_path / "large"
    cluster(m, checkpoint_dir=str(large), single_task_max_edges=0).collect()
    assert any(p.name.startswith("cc_iter_") for p in large.iterdir())


# measured on this fixture (local[4], 4 shuffle partitions): the gate's
# aggregate plus the single DFS task; distributed CC took 44 here
SMALL_PATH_JOB_BUDGET = 4


def test_small_path_job_budget(spark):
    m = _matched(
        spark,
        [
            ("a", "b", "S", "", "duplicate"),
            ("b", "c", "", "S", "duplicate"),
            ("x", "y", "", "", "duplicate"),
            ("p", "q", "", "", "maybe"),
        ],
    ).persist()
    m.count()
    sc = spark.sparkContext
    group = "cluster-small-path-budget"
    sc.setJobGroup(group, group)
    try:
        rows = cluster(m).collect()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        m.unpersist()
    assert len(rows) == 5
    assert jobs <= SMALL_PATH_JOB_BUDGET
