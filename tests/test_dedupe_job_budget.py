"""Job budget of one ``dedupe()`` call, the exchange reuse in
``block()``'s plan, and the caches a call leaves behind."""
import pandas as pd
import pytest

from bib_dedupe_spark import block, dedupe, prep
from bib_dedupe_spark.sources.synthetic import generate

# measured on this corpus (local[4], 4 shuffle partitions): prep's ID
# check 2, block's two checkpoints 1 each and its pre-check collect 2,
# the matched checkpoint 8, the cluster gate 2 and the final collect 4;
# with persisted inputs and two pre-check actions it took 29, and 22
# with a two-shuffle ID check and two broadcasts of the components in
# merge
DEDUPE_JOB_BUDGET = 20


@pytest.fixture(scope="module")
def records(spark):
    rows, _ = generate(n_base=200, seed=31)
    return spark.createDataFrame(pd.DataFrame(rows))


def test_dedupe_job_budget(spark, records):
    sc = spark.sparkContext
    group = "dedupe-job-budget"
    sc.setJobGroup(group, group)
    try:
        merged = dedupe(records).collect()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(merged) < records.count()
    assert jobs <= DEDUPE_JOB_BUDGET


def test_block_reuses_the_key_row_exchange(records):
    """Both sides of the cold self-join read one shuffle of the key rows:
    the executed plan reuses the repartition exchange."""
    pairs = block(prep(records))
    assert pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    reused = [
        line
        for line in plan.splitlines()
        if "ReusedExchange" in line and "REPARTITION_BY_COL" in line
    ]
    assert reused, plan


def test_dedupe_leaves_no_cache_behind(spark, records):
    """Match's stage-1 cache is released once the matched checkpoint
    holds its rows: repeated calls add no CacheManager entries."""
    spark.catalog.clearCache()
    for _ in range(2):
        assert dedupe(records).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_bounded_collects_read_each_partition_once(spark, records):
    """prep's ID check and block's pre-check collect are bounded
    collects over an aggregate. With many post-shuffle partitions and no
    qualifying row, each runs the aggregate's map stage and ONE result
    job: no growing rounds of partition scans, one job each."""
    from bib_dedupe_spark.operators.block import _key_rows, _precheck_rows
    from pyspark.sql import functions as F

    keys = _key_rows(prep(records, validate=False), F.col("ID"))
    conf = {
        "spark.sql.shuffle.partitions": "64",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        id_check = _jobs(spark, "prep-id-check", lambda: prep(records))
        precheck = _jobs(
            spark,
            "block-precheck",
            lambda: _precheck_rows(keys, None, 10**9, False),
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert (id_check, precheck) == (2, 2)
