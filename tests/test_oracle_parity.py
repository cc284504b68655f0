"""Spark-vs-DuckDB parity for every harness query (mirrors the driver's
correctness gate: row count + column names + order-insensitive values)."""
import math
from pathlib import Path

import duckdb
import pytest

from bib_dedupe_spark import harness

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not Path(SF_DIR).is_dir(), reason="driver testdata not available"
)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if Path(path).is_file():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _normalize(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return round(value, 6)
    return value


def _canon(rows, columns):
    return sorted(
        tuple(_normalize(row[c]) for c in sorted(columns)) for row in rows
    )


@pytest.mark.parametrize("name", sorted(harness.QUERIES))
def test_query_matches_oracle(name, spark, ddb):
    spark_df = harness.QUERIES[name](spark, SF_DIR)
    got_rows = [r.asDict() for r in spark_df.collect()]

    oracle_df = ddb.execute(harness.ORACLES[name]).df()
    want_rows = oracle_df.to_dict("records")

    got_cols = sorted(spark_df.columns)
    want_cols = sorted(oracle_df.columns)
    assert got_cols == want_cols, f"{name}: column mismatch"
    assert len(got_rows) == len(want_rows), f"{name}: row count mismatch"
    assert _canon(got_rows, got_cols) == _canon(want_rows, want_cols), (
        f"{name}: value mismatch"
    )


@pytest.mark.parametrize("name", ["cluster_components", "near_dup_clusters"])
def test_distributed_cc_matches_oracle(name, spark, ddb, monkeypatch):
    """These queries' graphs fit connected_components' single task, so the
    case above checks only the DFS; forcing the distributed path keeps the
    recursive-CTE oracle checking large-star/small-star too."""
    from bib_dedupe_spark.operators import cluster as cl

    single_or_distributed = cl.connected_components
    calls = []

    def distributed(edges, **kwargs):
        calls.append(edges)
        return single_or_distributed(edges, single_task_max_edges=0, **kwargs)

    monkeypatch.setattr(cl, "connected_components", distributed)
    test_query_matches_oracle(name, spark, ddb)
    assert calls, f"{name} did not reach connected_components"
