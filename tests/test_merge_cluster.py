"""Tests for the cluster and merge stages.

Merge expectations mirror /root/reference/tests/merge_test.py:13-41;
cluster tests pin the connected-components semantics (min-ID labeling,
chains, search-set splitting) on both paths of connected_components()
and cluster().
"""
from pyspark.sql import functions as F

from bib_dedupe_spark.operators.merge import merge
from tests.test_cluster_paths import cc_both_paths, cluster_both_paths


def test_merge_survivorship(spark):
    records = spark.createDataFrame(
        [
            ("001", "source1", "title1", "AUTHOR", "2000", "journal1", "1"),
            ("002", "source2", "title2", "author2", "2001", "journal2", "11--20"),
        ],
        ["ID", "origin", "title", "author", "year", "journal", "pages"],
    )
    components = spark.createDataFrame(
        [("001", "001"), ("002", "001")], ["ID", "component"]
    )
    merged = merge(records, components).collect()
    assert len(merged) == 1
    row = merged[0].asDict()
    assert row["ID"] == "001"
    assert row["origin"] == "source1;source2"
    assert row["title"] == "title1"
    assert row["author"] == "author2"
    assert row["year"] == "2001"
    assert row["journal"] == "journal1"
    assert row["pages"] == "11--20"


def test_merge_keeps_singletons(spark):
    records = spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", "z")], ["ID", "title"]
    )
    components = spark.createDataFrame(
        [("a", "a"), ("b", "a")], ["ID", "component"]
    )
    merged = merge(records, components)
    ids = sorted(r["ID"] for r in merged.collect())
    assert ids == ["a", "c"]


def test_connected_components_chain(spark):
    # a chain plus a separate pair: CC must label by min ID
    edges = spark.createDataFrame(
        [("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("x1", "x2")],
        ["src", "dst"],
    )
    got = dict(cc_both_paths(edges))
    assert got == {
        "n1": "n1",
        "n2": "n1",
        "n3": "n1",
        "n4": "n1",
        "x1": "x1",
        "x2": "x1",
    }


def test_cluster_search_set_split(spark):
    # two nodes of the same non-empty search_set cannot share a component
    matched = spark.createDataFrame(
        [
            ("a", "s1", "s2", "b", "duplicate"),
            ("b", "s2", "s1", "c", "duplicate"),
        ],
        ["ID_1", "search_set_1", "search_set_2", "ID_2", "duplicate_label"],
    )
    got = dict(cluster_both_paths(matched))
    # a and c share search_set s1 → c (larger ID) is split out
    assert got["a"] == "a"
    assert got["b"] == "a"
    assert got["c"] == "c"


def test_cluster_ignores_maybe_edges(spark):
    matched = spark.createDataFrame(
        [
            ("a", "", "", "b", "maybe"),
            ("c", "", "", "d", "duplicate"),
        ],
        ["ID_1", "search_set_1", "search_set_2", "ID_2", "duplicate_label"],
    )
    got = dict(cluster_both_paths(matched))
    assert got == {"c": "c", "d": "c"}


def test_merge_applies_reducers_to_singleton_components(spark):
    """Reference merge.py:176,227-231: merge functions run on size-1 sets
    too — origin 'b; a' normalizes to 'a;b' for a singleton component."""
    records = spark.createDataFrame(
        [("s1", "b; a", "t"), ("s2", "d; c", "t2")], ["ID", "origin", "title"]
    )
    components = spark.createDataFrame([("s1", "s1")], ["ID", "component"])
    rows = {r["ID"]: r.asDict() for r in merge(records, components).collect()}
    assert rows["s1"]["origin"] == "a;b"  # singleton set, reducer applied
    assert rows["s2"]["origin"] == "d; c"  # not in any set: untouched


def test_merge_nr_intext_citations_on_non_duplicates(spark):
    """Reference merge.py:236-247: a supplied nr_intext_citations merge
    function also runs on non-duplicates (single-value lists)."""
    records = spark.createDataFrame(
        [("a", "3", "t1"), ("b", "4", "t2"), ("c", "5", "t3")],
        ["ID", "nr_intext_citations", "title"],
    )
    components = spark.createDataFrame(
        [("a", "a"), ("b", "a")], ["ID", "component"]
    )
    fn = lambda vals: str(sum(int(v) for v in vals if v))
    rows = {
        r["ID"]: r.asDict()
        for r in merge(
            records, components, merge_functions={"nr_intext_citations": fn}
        ).collect()
    }
    assert rows["a"]["nr_intext_citations"] == "7"  # merged 3+4
    assert rows["c"]["nr_intext_citations"] == "5"  # fn applied to ['5']


def test_merge_custom_id_function(spark):
    """Reference merge.py:210-221: custom ID picker with first-ID fallback."""
    records = spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", "z"), ("d", "w")], ["ID", "title"]
    )
    components = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")], ["ID", "component"]
    )
    pick_last = lambda ids: sorted(ids)[-1]
    rows = {
        r["ID"]: r.asDict()
        for r in merge(
            records, components, merge_functions={"ID": pick_last}
        ).collect()
    }
    assert set(rows) == {"b", "d"}


def test_merge_duplicate_row_order_ties_break_on_id(spark):
    """_row_order should be unique, but a caller-supplied column with
    duplicates must still give a DETERMINISTIC value order: ties break on
    ID (the struct's explicit secondary sort key), pinned here via the
    order-sensitive origin reducer."""
    records = spark.createDataFrame(
        [
            ("b", "from_b", "0"),
            ("a", "from_a", "0"),
            ("c", "from_c", "0"),
        ],
        ["ID", "origin", "_row_order"],
    )
    components = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], ["ID", "component"]
    )
    for _ in range(3):  # stable across plan re-executions
        row = (
            merge(
                records,
                components,
                # order-sensitive reducer (the default origin reducer
                # sorts, which would mask a nondeterministic row order)
                merge_functions={"origin": lambda vs: "|".join(vs)},
            )
            .collect()[0]
            .asDict()
        )
        assert row["origin"] == "from_a|from_b|from_c"
