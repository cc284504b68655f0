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


# the textops operators each query must run itself, so that its oracle
# checks the library rather than a private copy in the harness
TEXTOPS_CALLS = {
    "minhash_lsh_pairs": (
        "dedup.shingles",
        "dedup.minhash_signatures",
        "dedup.lsh_candidates",
    ),
    "ngram_jaccard": ("dedup.shingles", "dedup.ngram_jaccard"),
    "near_dup_clusters": ("dedup.shingles", "dedup.ngram_jaccard"),
    "simhash": ("dedup.simhash",),
    "embedding_topk": (
        "similarity_search.brute_force_topk",
        "similarity_search.cosine",
    ),
    "embedding_near_dup": ("similarity_search.cosine",),
    "embedding_sign_lsh": ("similarity_search.sign_lsh_bucket",),
}


@pytest.mark.parametrize("name", sorted(TEXTOPS_CALLS))
def test_query_runs_textops_operators(name, spark, ddb, monkeypatch):
    from bib_dedupe_spark.textops import dedup, similarity_search

    modules = {"dedup": dedup, "similarity_search": similarity_search}
    reached = set()

    def recording(qualname, fn):
        def wrapper(*args, **kwargs):
            reached.add(qualname)
            return fn(*args, **kwargs)

        return wrapper

    for qualname in set().union(*TEXTOPS_CALLS.values()):
        module, attr = qualname.split(".")
        original = getattr(modules[module], attr)
        monkeypatch.setattr(
            modules[module], attr, recording(qualname, original)
        )
    test_query_matches_oracle(name, spark, ddb)
    missing = set(TEXTOPS_CALLS[name]) - reached
    assert not missing, f"{name} did not reach {sorted(missing)}"
