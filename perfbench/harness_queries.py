"""harness_queries: bench.py's 10 headline harness queries, in rounds.

Each unit is one round of the 10 queries over seed-derived documents /
embeddings / events parquet tables shaped like the repository's sf0.1 test
data (``inputs.harness_tables``: 5,000 documents, 2,000 embeddings,
100,000 events), staged under the run's work directory, each result written
to a noop sink as bench.py does. A traced round runs each query in a span,
its result persisted and counted.

The check runs once, after the first round has ended: one more round over
sf0.01-shaped tables from the same seed, collected to the driver and
hash-compared with the program's DuckDB oracle SQL on those tables. (At
sf0.1 the oracle of ``token_overlap_prune`` alone takes about 30 s.)
"""
from __future__ import annotations

import hashlib

from bench import HEADLINE

SF = 0.1
CHECK_SF = 0.01
QUALITY = "oracle_match_frac"
GATE = 1.0
SPANS = tuple(HEADLINE)
TABLES = ("documents", "embeddings", "events")


def stage(ctx, spark, n_units: int) -> dict:
    from perfbench.inputs import harness_tables

    dirs = {"bench": ctx.path("inputs", "sf"),
            "check": ctx.path("inputs", "check")}
    harness_tables(ctx.unit_seed(0), dirs["bench"], SF)
    harness_tables(ctx.unit_seed(0), dirs["check"], CHECK_SF)
    return dirs


def unit(spark, dirs: dict, index: int, tracer=None, tag: str = "") -> None:
    from bib_dedupe_spark.harness import QUERIES

    for q in SPANS:
        if tracer is None:
            QUERIES[q](spark, dirs["bench"]).write.format("noop").mode(
                "overwrite"
            ).save()
            continue
        with tracer.span(q, tag) as sp:
            df = QUERIES[q](spark, dirs["bench"]).persist()
            sp.rows_out = df.count()
        df.unpersist()


def _canonical_hash(pdf) -> str:
    """Columns sorted by name, rows sorted, CSV-hashed."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


def quality(spark, dirs: dict, index: int, out) -> float | None:
    """Share of the queries whose result on the check tables matches the
    oracle; taken once, after the first round (None after the others)."""
    if index != 0:
        return None
    import duckdb

    from bib_dedupe_spark.harness import ORACLES, QUERIES

    sf_dir = dirs["check"]
    results = {q: QUERIES[q](spark, sf_dir).toPandas() for q in SPANS}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        matched = sum(
            _canonical_hash(con.execute(ORACLES[q]).df())
            == _canonical_hash(pdf)
            for q, pdf in results.items()
        )
    finally:
        con.close()
    return matched / len(SPANS)


def layer_extra(dirs: dict, index: int, out) -> dict:
    return {}
