"""Parquet reads with a known schema declare it: a read without one runs a
Spark job to sample file footers before the query's own jobs."""
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from bench import SF_DIR
from bib_dedupe_spark.harness import QUERIES, TABLE_SCHEMAS

# the bench's scale-factor directories sit side by side
TESTDATA = os.path.dirname(SF_DIR)
SCALES = ("sf0.001", "sf0.01", "sf0.1")


@pytest.fixture
def inferring_reads(monkeypatch):
    """Paths passed to ``DataFrameReader.parquet`` by a reader that was
    given no schema."""
    reads: list = []
    schema, parquet = DataFrameReader.schema, DataFrameReader.parquet

    def declared_schema(self, *args, **kwargs):
        self._declared = True
        return schema(self, *args, **kwargs)

    def checked_parquet(self, *paths, **options):
        if not getattr(self, "_declared", False):
            reads.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "schema", declared_schema)
    monkeypatch.setattr(DataFrameReader, "parquet", checked_parquet)
    return reads


@pytest.mark.parametrize("scale", SCALES)
@pytest.mark.parametrize("table", sorted(TABLE_SCHEMAS))
def test_declared_schema_equals_inferred(spark, scale, table):
    path = f"{TESTDATA}/{scale}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    declared = spark.read.schema(TABLE_SCHEMAS[table]).parquet(path).schema
    assert declared == spark.read.parquet(path).schema


def test_harness_queries_declare_their_schemas(spark, inferring_reads):
    sf_dir = f"{TESTDATA}/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    for name, query in QUERIES.items():
        query(spark, sf_dir)
        assert inferring_reads == [], name


def test_pipeline_read_backs_declare_their_schemas(
    spark, tmp_path, inferring_reads
):
    from bib_dedupe_spark.lineage import run_pipeline
    from bib_dedupe_spark.sources.synthetic import generate

    records, _ = generate(n_base=40, seed=5)
    df = spark.createDataFrame(pd.DataFrame(records))
    merged = run_pipeline(spark, df, str(tmp_path / "pipe"))
    assert merged.count() > 0
    assert inferring_reads == []


def test_distributed_cc_checkpoint_reads_declare_their_schema(
    spark, tmp_path, inferring_reads
):
    from bib_dedupe_spark.operators.cluster import connected_components

    edges = spark.range(6).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    labels = connected_components(
        edges, checkpoint_dir=str(tmp_path / "cc"), single_task_max_edges=0
    ).collect()
    assert {r["component"] for r in labels} == {0}
    assert inferring_reads == []
