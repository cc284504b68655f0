"""bib_batch: the program's one-shot ``dedupe`` over fresh corpora.

Each unit runs ``bib_dedupe_spark.dedupe`` (prep -> block -> match ->
cluster -> merge) over a new seed-derived corpus of about 1.5k records from
the program's own ``sources.synthetic.generate`` and collects the merged
records to the driver. The check, outside the timed unit, takes every pair
of records merged into one (the ``origin`` column) and scores it against
the generator's golden pairs.

A traced unit calls the five layers one by one, as ``dedupe`` composes
them, each in a span whose output is materialized before the next call.
"""
from __future__ import annotations

from itertools import combinations

N_BASE = 1000
QUALITY = "f1"
GATE = 0.99
SPANS = ("prep", "block", "match", "cluster", "merge")


def stage(ctx, spark, n_units: int) -> list:
    import pandas as pd

    from bib_dedupe_spark.sources.synthetic import generate

    units = []
    for i in range(n_units):
        records, golden = generate(n_base=N_BASE, seed=ctx.unit_seed(i))
        units.append(
            {"df": spark.createDataFrame(pd.DataFrame(records)),
             "golden": golden}
        )
    return units


def unit(spark, state: list, index: int, tracer=None, tag: str = "") -> dict:
    rdf = state[index]["df"]
    if tracer is None:
        from bib_dedupe_spark import dedupe

        return {"merged": dedupe(rdf).collect()}

    from bib_dedupe_spark import block, cluster, match, merge, prep

    with tracer.span("prep", tag) as sp:
        prepared = prep(rdf).persist()
        sp.rows_out = prepared.count()
    with tracer.span("block", tag) as sp:
        pairs = block(prepared).persist()
        sp.rows_out = pairs.count()
    with tracer.span("match", tag) as sp:
        matched = match(pairs).persist()
        sp.rows_out = matched.count()
    with tracer.span("cluster", tag) as sp:
        components = cluster(matched).persist()
        sp.rows_out = components.count()
    with tracer.span("merge", tag) as sp:
        merged = merge(rdf, components).collect()
        sp.rows_out = len(merged)
    return {
        "merged": merged,
        "prepared": prepared,
        "pairs": pairs,
        "matched": matched,
        "components": components,
    }


def _merged_pairs(merged: list) -> set:
    from bib_dedupe_spark import constants as C

    return {
        frozenset(pair)
        for row in merged
        for pair in combinations(row[C.ORIGIN].split(";"), 2)
    }


def quality(spark, state: list, index: int, out: dict) -> float:
    from bib_dedupe_spark.sources.synthetic import pairwise_scores

    return pairwise_scores(
        _merged_pairs(out["merged"]), state[index]["golden"]
    )["f1"]


def layer_extra(state: list, index: int, out: dict) -> dict:
    """Useful-to-attempted ratios of a traced unit, taken after it."""
    from bib_dedupe_spark.operators.block import (
        SALT_BUCKET_SIZE,
        blocking_key_stats,
    )
    from bib_dedupe_spark.operators.match import staged_decision_stats

    golden = state[index]["golden"]
    candidates = {
        frozenset((r["ID_1"], r["ID_2"]))
        for r in out["pairs"].select("ID_1", "ID_2").collect()
    }
    edges = {
        frozenset((r["ID_1"], r["ID_2"]))
        for r in out["matched"]
        .filter("duplicate_label = 'duplicate'")
        .select("ID_1", "ID_2")
        .collect()
    }
    stats = staged_decision_stats(out["pairs"])
    hot_keys = (
        blocking_key_stats(out["prepared"])
        .filter(f"group_size > {SALT_BUCKET_SIZE}")
        .count()
    )
    return {
        "block.recall": (
            len(golden & candidates) / len(golden) if golden else 1.0
        ),
        "block.pair_yield": len(edges) / len(candidates) if candidates else 0.0,
        "block.hot_keys": hot_keys,
        "match.undecided_frac": (
            stats["undecided"] / stats["total"] if stats["total"] else 0.0
        ),
        "cluster.components_out": out["components"]
        .select("component")
        .distinct()
        .count(),
    }
