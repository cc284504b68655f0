"""Connected-components stress test: a larger random graph checked
against a union-find oracle in plain Python, through both paths of
connected_components() and of cluster()."""
import random

import pandas as pd

from tests.test_cluster_paths import cc_both_paths, cluster_both_paths


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for node in list(parent):
        comp.setdefault(find(node), set()).add(node)
    return {frozenset(v) for v in comp.values()}


def _stress_edges():
    rng = random.Random(99)
    n_nodes = 3000
    edges = []
    # mixture: long chains (worst case for label propagation), random
    # edges, and a few hub stars
    for i in range(0, 900, 3):
        edges.append((f"n{i:05d}", f"n{i+1:05d}"))
        edges.append((f"n{i+1:05d}", f"n{i+2:05d}"))
    for _ in range(2500):
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edges.append((f"n{a:05d}", f"n{b:05d}"))
    hub = "n00001"
    for _ in range(300):
        edges.append((hub, f"n{rng.randrange(n_nodes):05d}"))
    return edges


def _as_sets(rows):
    got = {}
    for node, comp in rows:
        got.setdefault(comp, set()).add(node)
    return got


def test_cc_matches_union_find_on_random_graph(spark):
    edges = _stress_edges()
    want = _union_find_components(edges)

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = _as_sets(cc_both_paths(df))
    got_sets = {frozenset(v) for v in got.values()}
    assert got_sets == want
    # min-ID labeling invariant
    for comp, members in got.items():
        assert comp == min(members)


def _stress_matched(search_sets):
    """The stress graph as a labeled edge list; ``search_sets`` puts every
    node in one of 7 sets, so most large components hold conflicts."""
    df = pd.DataFrame(_stress_edges(), columns=["ID_1", "ID_2"])
    for i in (1, 2):
        df[f"search_set_{i}"] = (
            "s" + (df[f"ID_{i}"].str[1:].astype(int) % 7).astype(str)
            if search_sets
            else ""
        )
    df["duplicate_label"] = "duplicate"
    return df


def test_cluster_paths_match_union_find_on_random_graph(spark):
    rows = cluster_both_paths(
        spark.createDataFrame(_stress_matched(search_sets=False))
    )
    got = _as_sets(rows)
    assert {frozenset(v) for v in got.values()} == _union_find_components(
        _stress_edges()
    )
    for comp, members in got.items():
        assert comp == min(members)


def test_cluster_paths_agree_under_search_set_conflicts(spark):
    """Whole-graph DFS == CC + per-conflicted-component DFS, on a graph
    where the constraint binds inside large components."""
    rows = cluster_both_paths(
        spark.createDataFrame(_stress_matched(search_sets=True))
    )
    got = _as_sets(rows)
    assert len(got) > len(_union_find_components(_stress_edges()))
