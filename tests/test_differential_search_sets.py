"""Differential test with populated search_sets.

Same-set pair pruning (block F3) is order-independent and must match the
reference exactly; the clustering search-set constraint is order-
dependent in the reference (DFS visit order), so cluster parity is
asserted on canonically sorted edge lists. Each cluster case pins its
expected components, checks the reference against them when the
reference checkout is present, and checks both ``cluster()`` paths (one
DFS task, forced distributed CC) against them — and against each other
row for row — either way.
"""
import sys
from pathlib import Path

import pandas as pd
import pytest

from bib_dedupe_spark import block, match, prep
from bib_dedupe_spark.sources.synthetic import generate
from tests.reference_cases import REFERENCE_ROOT, reference_available
from tests.test_cluster_paths import cluster_both_paths

requires_reference = pytest.mark.skipif(
    not reference_available(), reason="reference checkout not available"
)

_SHIMS = str(Path(__file__).parent / "_shims")


@requires_reference
def test_search_set_pipeline_parity(spark):
    for p in (_SHIMS, str(REFERENCE_ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    import bib_dedupe.block as ref_block
    import bib_dedupe.match as ref_match
    import bib_dedupe.prep as ref_prep

    records, _ = generate(n_base=150, seed=47)
    # assign overlapping search sets: duplicates usually land in
    # different sets (same-set pairs are pruned at blocking)
    for i, rec in enumerate(records):
        rec["search_set"] = f"set{i % 3}"

    records_pd = pd.DataFrame(records)
    prep_ref = ref_prep.prep(records_pd.copy(), cpu=1)
    pairs_ref = ref_block.block(prep_ref.copy(), cpu=1)
    matched_ref = ref_match.match(pairs_ref.copy(), cpu=1)

    prepared = prep(spark.createDataFrame(records_pd))
    pairs = block(prepared, max_block_size=None)
    matched = match(pairs)

    got_pairs = {
        frozenset((r["ID_1"], r["ID_2"]))
        for r in pairs.select("ID_1", "ID_2").collect()
    }
    want_pairs = {
        frozenset((a, b))
        for a, b in zip(pairs_ref["ID_1"], pairs_ref["ID_2"])
    }
    assert got_pairs == want_pairs  # F3 pruning identical

    got_edges = {
        (frozenset((r.ID_1, r.ID_2)), r.duplicate_label)
        for r in matched.toPandas().itertuples()
    }
    want_edges = {
        (frozenset((r.ID_1, r.ID_2)), r.duplicate_label)
        for r in matched_ref.itertuples()
    }
    assert got_edges == want_edges


def _ref_components(matched_pd):
    for p in (_SHIMS, str(REFERENCE_ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    from bib_dedupe.cluster import get_connected_components

    return {frozenset(c) for c in get_connected_components(matched_pd)}


def _our_components(spark, matched_pd):
    comps = {}
    for node, comp in cluster_both_paths(spark.createDataFrame(matched_pd)):
        comps.setdefault(comp, set()).add(node)
    return {frozenset(v) for v in comps.values()}


def _check(spark, matched_pd, want):
    if reference_available():
        assert _ref_components(matched_pd) == want
    assert _our_components(spark, matched_pd) == want


def _matched(rows):
    """rows = [(ID_1, ID_2, set_1, set_2)]; canonical (ID_1, ID_2) order."""
    df = pd.DataFrame(
        rows, columns=["ID_1", "ID_2", "search_set_1", "search_set_2"]
    )
    df["duplicate_label"] = "duplicate"
    return df.sort_values(["ID_1", "ID_2"]).reset_index(drop=True)


def test_transitive_same_set_chain_parity(spark):
    """a-b, b-c with a,c in one set: DFS keeps first-visited a, evicts c."""
    m = _matched(
        [("a", "b", "S", ""), ("b", "c", "", "S")]
    )
    _check(spark, m, {frozenset({"a", "b"}), frozenset({"c"})})


def test_evicted_node_keeps_downstream_subtree(spark):
    """a-b, b-c, c-d with a,c in one set: evicted c anchors {c,d}."""
    m = _matched(
        [("a", "b", "S", ""), ("b", "c", "", "S"), ("c", "d", "S", "")]
    )
    _check(spark, m, {frozenset({"a", "b"}), frozenset({"c", "d"})})


def test_first_visited_beats_min_id(spark):
    """DFS reaches c (set S) before b (set S, smaller ID): c is kept.

    This is exactly the case where the round-1 min-ID tie-break diverged
    from the reference; pins the reference's visit-order semantics.
    """
    m = _matched(
        [("a", "c", "", "S"), ("c", "d", "S", ""), ("b", "d", "S", "")]
    )
    _check(spark, m, {frozenset({"a", "c", "d"}), frozenset({"b"})})


def test_multi_conflict_and_clean_components_mixed(spark):
    """Conflicted and clean components in one edge list resolve independently."""
    m = _matched(
        [
            ("a", "b", "S", ""),
            ("b", "c", "", "S"),
            ("x", "y", "T", "U"),
            ("p", "q", "", ""),
        ]
    )
    _check(
        spark,
        m,
        {
            frozenset({"a", "b"}),
            frozenset({"c"}),
            frozenset({"x", "y"}),
            frozenset({"p", "q"}),
        },
    )


def test_giant_conflicted_component_fails_loudly(spark):
    """A pathological conflicted component must error with guidance, not
    grind one task forever. The limit also caps the single-task path, so
    this 3-edge graph runs distributed CC and trips it there."""
    from bib_dedupe_spark.operators import cluster as cl

    m = _matched(
        [("a", "b", "S", ""), ("b", "c", "", "S"), ("c", "d", "S", "")]
    )
    with pytest.raises(Exception, match="MAX_CONFLICTED_COMPONENT_EDGES"):
        cl.cluster(
            spark.createDataFrame(m), max_conflicted_edges=2
        ).collect()
