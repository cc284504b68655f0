"""Hot-key refinement for require-title-overlap rules.

Over-threshold groups of rto rules skip the quadratic salted self-join:
pairs come from a wildcard pass plus a prefix-filtered word join
(operators/block._refined_hot_pairs), which generates a superset of the
downstream title-overlap prune's survivors — so the FINAL pruned pair
set, and first-rule attribution (via the post-prune recovery join), must
be bit-identical to both the unrefined salted path and the unsalted
path. Mirrors reference semantics block.py:96-98,152-198,272-277.
"""
import math

import pandas as pd
import pytest

from bib_dedupe_spark.operators import block as block_mod
from bib_dedupe_spark.operators.block import candidate_pairs
from bib_dedupe_spark.operators.prep import prep


@pytest.fixture(scope="module")
def refine_prepared(spark):
    """One hot author_first+container group (rule 1, rto=True) holding:

    * 8 records sharing most title words (pass the overlap prune),
    * 40 records with globally unique title words (fail the prune) —
      enough entropy that the cost router picks the word join,
    * 2 wildcard records (single-word, no-space titles — prune-exempt),
    * 2 records with mutually disjoint titles but the SAME DOI: kept via
      the DOI rule (AND of rto flags = False) yet attributed to rule 1
      in the reference — exercises the attribution-recovery join.
    Years all differ so the author_first+year rule stays cold.
    """
    rows = []

    def rec(i, title, doi=""):
        return {
            "ID": f"r{i:03d}",
            "ENTRYTYPE": "article",
            "author": "Hotkey, Anna",
            "title": title,
            "journal": "journal of heat studies",
            "year": str(1950 + i),
            "volume": "",
            "number": "",
            "pages": "",
            "abstract": "",
            "doi": doi,
        }

    for i in range(8):
        rows.append(rec(i, f"effects of heat on mice cohort {i}"))
    for i in range(8, 48):
        rows.append(
            rec(i, f"zqx{i} wvu{i} ktn{i} plm{i} brd{i} fgh{i}")
        )
    rows.append(rec(48, "heatstudy"))
    rows.append(rec(49, "thermoreport"))
    rows.append(
        rec(50, "aaa bbb ccc ddd eee fff", doi="10.1000/same-doi")
    )
    rows.append(
        rec(51, "ggg hhh iii jjj kkk lll", doi="10.1000/same-doi")
    )
    return prep(spark.createDataFrame(pd.DataFrame(rows))).persist()


def _pairs(df):
    return {(r["ID_1"], r["ID_2"], r["rule_idx"]) for r in df.collect()}


@pytest.fixture(scope="module")
def truth(refine_prepared):
    """Unsalted, unrefined pruned pair set — the semantic ground truth."""
    return _pairs(
        candidate_pairs(refine_prepared, max_block_size=None)
    )


def test_refined_equals_unrefined_and_unsalted(refine_prepared, truth):
    refined = _pairs(
        candidate_pairs(
            refine_prepared,
            max_block_size=10,
            hot_key_strategy="salt",
            refine_min_quad=0,
        )
    )
    unrefined = _pairs(
        candidate_pairs(
            refine_prepared,
            max_block_size=10,
            hot_key_strategy="salt",
            refine_min_quad=math.inf,
        )
    )
    assert unrefined == truth
    assert refined == truth


def test_refinement_actually_engaged(refine_prepared, monkeypatch):
    calls = []
    orig = block_mod._refined_hot_pairs

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(block_mod, "_refined_hot_pairs", spy)
    candidate_pairs(
        refine_prepared, max_block_size=10, refine_min_quad=0
    ).collect()
    assert calls, "hot rto group did not route through the refined path"


def test_dense_vocabulary_group_falls_back_to_salt(spark, monkeypatch):
    """A hot group whose titles all share words (word-join emission ≥
    the quadratic volume) must be routed BACK to the salted join by the
    cost model — and still produce the exact pair set."""
    rows = []
    for i in range(30):
        rows.append(
            {
                "ID": f"d{i:03d}",
                "ENTRYTYPE": "article",
                "author": "Dense, Dana",
                "title": f"effects of heat on mice cohort {i}",
                "journal": "journal of dense vocabularies",
                "year": str(1950 + i),
                "volume": "",
                "number": "",
                "pages": "",
                "abstract": "",
                "doi": "",
            }
        )
    prepared = prep(spark.createDataFrame(pd.DataFrame(rows))).persist()
    calls = []
    orig = block_mod._refined_hot_pairs

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(block_mod, "_refined_hot_pairs", spy)
    refined = _pairs(
        candidate_pairs(
            prepared, max_block_size=10, refine_min_quad=0
        )
    )
    assert not calls, "dense group should have routed back to salt"
    truth = _pairs(
        candidate_pairs(prepared, max_block_size=None)
    )
    assert refined == truth
    prepared.unpersist()


def test_attribution_recovery_for_skipped_pairs(refine_prepared, truth):
    """The same-DOI disjoint-title pair survives via the DOI rule but is
    attributed to rule 1 (the hot rto rule) — min over ALL qualifying
    rules, even though the word join never emits it."""
    refined = _pairs(
        candidate_pairs(
            refine_prepared, max_block_size=10,
            refine_min_quad=0,
        )
    )
    doi_pair = [p for p in refined if {p[0], p[1]} == {"r050", "r051"}]
    assert doi_pair, "same-DOI pair missing from refined output"
    assert doi_pair[0][2] == 1
    assert doi_pair[0] in truth


def test_wildcards_pair_with_whole_group(refine_prepared, truth):
    refined = _pairs(
        candidate_pairs(
            refine_prepared, max_block_size=10,
            refine_min_quad=0,
        )
    )
    wc_partners = {
        other
        for (a, b, _r) in refined
        for other in ((b,) if a == "r048" else (a,) if b == "r048" else ())
    }
    # the no-space title is prune-exempt against every group member
    assert len(wc_partners) == 51
    assert {p for p in refined if "r048" in (p[0], p[1])} == {
        p for p in truth if "r048" in (p[0], p[1])
    }


def test_disjoint_title_pairs_still_pruned(refine_prepared):
    refined = _pairs(
        candidate_pairs(
            refine_prepared, max_block_size=10,
            refine_min_quad=0,
        )
    )
    # two unique-word records share no rule but rule 1 → must be absent
    assert not any(
        {a, b} == {"r012", "r013"} for (a, b, _r) in refined
    )


def test_refined_block_end_to_end(refine_prepared, spark):
    from bib_dedupe_spark.operators.block import block

    on = block(refine_prepared, max_block_size=10, refine_min_quad=0)
    off = block(refine_prepared, max_block_size=10, refine_min_quad=math.inf)
    key = ["ID_1", "ID_2", "block_rule"]
    assert sorted(map(tuple, on.select(*key).collect())) == sorted(
        map(tuple, off.select(*key).collect())
    )


def test_cache_out_shares_prefix_table(refine_prepared, truth):
    """cache_out persists the shared prefix table (the routing estimate
    materializes it; the downstream word join re-reads the cache instead
    of recomputing the wdf + window shuffles), the pair set is unchanged,
    and the CALLER releases the cache."""
    caches: list = []
    out = candidate_pairs(
        refine_prepared,
        max_block_size=10,
        cache_out=caches,
        refine_min_quad=0,
    )
    assert caches, "refined routing should have persisted the prefix table"
    assert all(df.storageLevel.useMemory or df.storageLevel.useDisk
               for df in caches)
    # the persisted prefix feeds the downstream join as a cache read
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert _pairs(out) == truth
    for df in caches:
        df.unpersist()
    assert not caches[0].storageLevel.useMemory
