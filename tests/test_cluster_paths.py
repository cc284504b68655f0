"""The two paths of connected_components' size gate — one DFS task for
small graphs, distributed CC for large ones — on the edge cases where they
could drift apart, through connected_components() and cluster(), plus the
small path's Spark job budget."""
from pathlib import Path

import pandas as pd
import pytest

from bib_dedupe_spark import harness
from bib_dedupe_spark.operators.cluster import (
    SINGLE_TASK_MAX_EDGES,
    cluster,
    connected_components,
)
from tests.test_oracle_parity import SF_DIR


def _both_paths(run, frame, **kwargs):
    """run(frame) rows as a set of (ID, component), after checking that
    forced distributed CC and the single DFS task return identical rows."""
    distributed, single = (
        {
            tuple(r)
            for r in run(
                frame, single_task_max_edges=bound, **kwargs
            ).collect()
        }
        for bound in (0, SINGLE_TASK_MAX_EDGES)
    )
    assert distributed == single
    return single


def cluster_both_paths(matched, **kwargs):
    """cluster() rows, identical on both paths."""
    return _both_paths(cluster, matched, **kwargs)


def cc_both_paths(edges):
    """connected_components() rows, identical on both paths."""
    return _both_paths(connected_components, edges)


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


def _cached_rdd_ids(spark):
    """Ids of the persisted RDDs that back DataFrame caches (distributed
    CC's localCheckpoint RDDs are persisted too, but hold its output)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        k
        for k in rdds.keySet().toArray()
        if not rdds.get(k).rdd().isLocallyCheckpointed()
    }


def test_distributed_conflict_path_releases_its_cache(spark):
    # a and c share set S, so their component conflicts and is re-split
    m = _matched(
        spark,
        [("a", "b", "S", "", "duplicate"), ("b", "c", "", "S", "duplicate")],
    )
    before = _cached_rdd_ids(spark)
    rows = cluster(m, single_task_max_edges=0).collect()
    assert len({r["component"] for r in rows}) == 2
    assert _cached_rdd_ids(spark) <= before


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


def test_int64_ids_keep_their_type_and_numeric_minima(spark):
    # string order differs from numeric order: "10" < "100" < "9", "20" < "3"
    edges = spark.createDataFrame(
        [(100, 10), (10, 9), (20, 3)], "src long, dst long"
    )
    for bound in (0, SINGLE_TASK_MAX_EDGES):
        out = connected_components(edges, single_task_max_edges=bound)
        assert dict(out.dtypes) == {"ID": "bigint", "component": "bigint"}
    assert cc_both_paths(edges) == {
        (9, 9),
        (10, 9),
        (100, 9),
        (3, 3),
        (20, 3),
    }


# measured on sf0.01 (local[4], 4 shuffle partitions): the gate's
# aggregate and the single DFS task, each re-reading the blocked pairs,
# took 7 jobs; the distributed CC it replaced took 23
CC_QUERY_JOB_BUDGET = 10


@pytest.mark.skipif(
    not Path(SF_DIR).is_dir(), reason="sf0.01 test data not available"
)
def test_cluster_components_query_job_budget(spark):
    sc = spark.sparkContext
    group = "cluster-components-query-budget"
    sc.setJobGroup(group, group)
    try:
        harness.QUERIES["cluster_components"](spark, SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs <= CC_QUERY_JOB_BUDGET
