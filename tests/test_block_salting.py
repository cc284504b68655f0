"""Hot-key handling in the blocking stage: the salted bucket join must
reproduce EXACTLY the unsalted pair set (full coverage, bounded groups);
the drop strategy must remove only hot-key pairs."""
import math

import pandas as pd
import pytest

from bib_dedupe_spark.operators.block import blocking_key_stats, candidate_pairs
from bib_dedupe_spark.operators.prep import prep


def _skewed_rows():
    # 40 records sharing one author_first+year key (hot), plus distinct tail
    rows = []
    for i in range(40):
        rows.append(
            {
                "ID": f"h{i:03d}",
                "ENTRYTYPE": "article",
                "author": "Hotkey, Anna",
                "title": f"totally distinct title number {i} about topic {i}",
                "journal": f"venue {i}",
                "year": "2020",
                "volume": str(i),
                "number": "",
                "pages": "",
                "abstract": "",
                "doi": "",
            }
        )
    for i in range(10):
        rows.append(
            {
                "ID": f"c{i:03d}",
                "ENTRYTYPE": "article",
                "author": f"Cold{i}, Ben",
                "title": f"cold title {i} something else entirely",
                "journal": "journal of cold",
                "year": str(1990 + i),
                "volume": "1",
                "number": "",
                "pages": "",
                "abstract": "",
                "doi": "",
            }
        )
    return rows


@pytest.fixture(scope="module")
def skewed_prepared(spark):
    return prep(spark.createDataFrame(pd.DataFrame(_skewed_rows()))).persist()


@pytest.fixture(scope="module")
def repeated_id_prepared(spark):
    """The skewed corpus plus two records that re-use existing IDs;
    ``prep(validate=False)`` lets them through. Their titles repeat too:
    a pair's prune verdict is taken from any one of its rows, so two
    titles under one ID would make the pair set order-dependent."""
    rows = _skewed_rows()
    rows.append(dict(rows[0], year="2019", volume="99"))
    rows.append(dict(rows[41]))
    return prep(
        spark.createDataFrame(pd.DataFrame(rows)), validate=False
    ).persist()


def _pair_set(df):
    """Pruned (ID_1, ID_2, rule_idx) set; candidate_pairs always prunes."""
    return {(r["ID_1"], r["ID_2"], r["rule_idx"]) for r in df.collect()}


def _hot_key_pairs(pairs):
    """Pairs inside the 40-record hot group: they must survive pruning,
    or a salted/dropped comparison would say nothing about hot keys."""
    return {p for p in pairs if p[0].startswith("h") and p[1].startswith("h")}


def test_salted_equals_unsalted(skewed_prepared):
    unlimited = _pair_set(candidate_pairs(skewed_prepared, max_block_size=None))
    assert _hot_key_pairs(unlimited)
    salted = _pair_set(
        candidate_pairs(
            skewed_prepared, max_block_size=10, hot_key_strategy="salt"
        )
    )
    assert salted == unlimited
    # sanity: the hot key really is above the cap
    stats = blocking_key_stats(skewed_prepared)
    assert stats.filter("group_size > 10").count() > 0


def test_drop_strategy_removes_hot_pairs(skewed_prepared):
    unlimited = _pair_set(candidate_pairs(skewed_prepared, max_block_size=None))
    assert _hot_key_pairs(unlimited)
    dropped = _pair_set(
        candidate_pairs(
            skewed_prepared, max_block_size=10, hot_key_strategy="drop"
        )
    )
    assert dropped < unlimited
    assert not _hot_key_pairs(dropped)


def test_block_delta_equals_combined_restriction(spark):
    """block_delta(batch, corpus_keys, corpus) must produce exactly the
    pairs of block(corpus ∪ batch) that touch the batch — the delta-index
    path regenerates nothing and misses nothing."""
    import pandas as pd

    from bib_dedupe_spark import block as block_fn
    from bib_dedupe_spark import prep
    from bib_dedupe_spark.operators.block import block_delta, corpus_key_table
    from bib_dedupe_spark.sources.synthetic import generate

    records, _ = generate(n_base=120, seed=31)
    corpus_records = records[:90]
    batch_records = records[90:]
    corpus = prep(spark.createDataFrame(pd.DataFrame(corpus_records)))
    batch = prep(
        spark.createDataFrame(pd.DataFrame(batch_records)), validate=False
    )
    corpus_keys = corpus_key_table(corpus)

    delta = block_delta(batch, corpus_keys, corpus)

    combined = block_fn(
        corpus.unionByName(batch), max_block_size=None
    )
    batch_ids = {r["ID"] for r in batch.select("ID").collect()}
    want = {
        (r["ID_1"], r["ID_2"], r["block_rule"])
        for r in combined.select("ID_1", "ID_2", "block_rule").collect()
        if r["ID_1"] in batch_ids or r["ID_2"] in batch_ids
    }
    got = {
        (r["ID_1"], r["ID_2"], r["block_rule"])
        for r in delta.select("ID_1", "ID_2", "block_rule").collect()
    }
    assert got == want
    assert want, "test corpus produced no batch-touching pairs"


def _hot_corpus(spark, n_hot=30, n_cold=20):
    """Records sharing one giant (author_first, year) key + a cold tail."""
    import pandas as pd

    from bib_dedupe_spark import prep

    rows = []
    for i in range(n_hot):
        rows.append(
            {
                "ID": f"H{i:03d}",
                "ENTRYTYPE": "article",
                "author": "Shared, Sam",
                "title": f"hot record number {i} on subject {i}",
                "journal": f"venue {i}",
                "year": "2021",
                "volume": str(i),
                "number": "",
                "pages": "",
                "abstract": "",
                "doi": "",
            }
        )
    for i in range(n_cold):
        rows.append(
            {
                "ID": f"Z{i:03d}",
                "ENTRYTYPE": "article",
                "author": f"Cold{i}, Casey",
                "title": f"cold record {i} entirely different",
                "journal": "journal of misc",
                "year": str(1990 + i),
                "volume": "1",
                "number": "",
                "pages": "",
                "abstract": "",
                "doi": "",
            }
        )
    return prep(spark.createDataFrame(pd.DataFrame(rows)))


def test_block_delta_hot_key_salt_preserves_pairs(spark):
    """A degenerate key shared corpus-wide: salted delta must reproduce
    the uncapped delta pair set exactly (salting only bounds join
    groups, never changes output)."""
    from bib_dedupe_spark.operators.block import block_delta, corpus_key_table

    prepared = _hot_corpus(spark).persist()
    corpus = prepared.filter("ID < 'H020' OR ID >= 'Z'")
    batch = prepared.filter("ID >= 'H020' AND ID < 'Z'")
    corpus_keys = corpus_key_table(corpus)

    def pairset(df):
        return {
            (r["ID_1"], r["ID_2"], r["block_rule"])
            for r in df.select("ID_1", "ID_2", "block_rule").collect()
        }

    plain = pairset(block_delta(batch, corpus_keys, corpus))
    salted = pairset(
        block_delta(
            batch, corpus_keys, corpus,
            max_block_size=5, hot_key_strategy="salt",
        )
    )
    assert salted == plain and plain


def test_block_delta_hot_key_drop_matches_combined(spark):
    """Drop strategy: delta with combined-membership hot detection ==
    block(corpus ∪ batch, drop) restricted to batch-touching pairs."""
    from bib_dedupe_spark import block as block_fn
    from bib_dedupe_spark.operators.block import block_delta, corpus_key_table

    prepared = _hot_corpus(spark).persist()
    corpus = prepared.filter("ID < 'H020' OR ID >= 'Z'")
    batch = prepared.filter("ID >= 'H020' AND ID < 'Z'")
    batch_ids = {r["ID"] for r in batch.select("ID").collect()}

    delta = block_delta(
        batch, corpus_key_table(corpus), corpus,
        max_block_size=5, hot_key_strategy="drop",
    )
    combined = block_fn(
        corpus.unionByName(batch), max_block_size=5, hot_key_strategy="drop"
    )
    want = {
        (r["ID_1"], r["ID_2"], r["block_rule"])
        for r in combined.select("ID_1", "ID_2", "block_rule").collect()
        if r["ID_1"] in batch_ids or r["ID_2"] in batch_ids
    }
    got = {
        (r["ID_1"], r["ID_2"], r["block_rule"])
        for r in delta.select("ID_1", "ID_2", "block_rule").collect()
    }
    assert got == want
    # and the hot key really was dropped: no H-H pairs from the hot rule
    full = block_fn(corpus.unionByName(batch), max_block_size=None)
    assert full.count() > combined.count()


def test_surrogate_ids_equal_string_path(spark):
    """Surrogate-long blocking must reproduce the string-id pair set and
    attribution exactly, including string-order pair orientation, on a
    url-shaped-id corpus."""
    import pandas as pd

    from bib_dedupe_spark import block as block_fn
    from bib_dedupe_spark import prep

    from bib_dedupe_spark.sources.synthetic import generate

    records, _ = generate(n_base=150, seed=53, messy=True)
    for r in records:
        r["ID"] = f"https://site-{hash(r['ID']) % 97}.org/doc/{r['ID']}"
    prepared = prep(spark.createDataFrame(pd.DataFrame(records))).persist()

    def pairset(df):
        return {
            (r["ID_1"], r["ID_2"], r["block_rule"])
            for r in df.select("ID_1", "ID_2", "block_rule").collect()
        }

    plain = pairset(block_fn(prepared, surrogate_ids=False))
    surr = pairset(block_fn(prepared, surrogate_ids=True))
    assert surr == plain and plain
    # orientation: ID_1 < ID_2 in STRING order on every surrogate pair
    for a, b, _ in surr:
        assert a < b


def test_block_delta_leaves_no_cache_behind(spark, monkeypatch):
    """The hot-key tables are driver-materialized, not persist()ed, and
    the refinements' persists go to ``cache_out``: streaming calls
    block_delta() per micro-batch, and a lingering cached frame per call
    accumulates forever. After a salt-mode call with both refinements
    engaged (crossing floor 0, in-batch volume floor 0) and ``cache_out``
    released, no RDD created by the call may remain in the block
    manager. (RDD ids, not a count: earlier tests' checkpoint RDDs may
    be cleaned up meanwhile.)"""
    from bib_dedupe_spark.operators import block as block_mod
    from bib_dedupe_spark.operators.block import block_delta, corpus_key_table

    monkeypatch.setattr(block_mod, "REFINE_MIN_QUAD_PAIRS", 0)
    prepared = _cross_refine_corpus(spark).persist()
    prepared.count()  # settle the fixture's own persist
    corpus = prepared.filter("CAST(substring(ID, 2, 6) AS INT) % 2 = 0")
    batch = prepared.filter("CAST(substring(ID, 2, 6) AS INT) % 2 = 1")
    sc = spark.sparkContext
    first_id = sc.parallelize([0]).id()  # ids are assigned in order
    caches: list = []
    assert block_delta(
        batch, corpus_key_table(corpus), corpus,
        max_block_size=5, hot_key_strategy="salt",
        crossing_refine_min_pairs=0, cache_out=caches,
    ).count()
    assert len(caches) == 2, "a refinement was not engaged"
    for df in caches:
        df.unpersist()
    prepared.unpersist()
    left = [
        i.id() for i in sc._jsc.sc().getRDDStorageInfo() if i.id() > first_id
    ]
    assert left == []


def test_block_delta_builds_batch_key_rows_once(spark, monkeypatch):
    """A salt-mode block_delta call explodes the batch's key rows once
    and prunes its within-batch and crossing pairs in one aggregate."""
    from bib_dedupe_spark.operators import block as block_mod
    from bib_dedupe_spark.operators.block import block_delta, corpus_key_table

    prepared = _hot_corpus(spark).persist()
    corpus = prepared.filter("ID < 'H020' OR ID >= 'Z'")
    batch = prepared.filter("ID >= 'H020' AND ID < 'Z'")
    corpus_keys = corpus_key_table(corpus)
    calls = []

    def counting(name):
        orig = getattr(block_mod, name)

        def spy(*a, **k):
            calls.append(name)
            return orig(*a, **k)

        return spy

    for name in ("_key_rows", "_prune_aggregate"):
        monkeypatch.setattr(block_mod, name, counting(name))
    pairs = block_delta(
        batch, corpus_keys, corpus, max_block_size=5, hot_key_strategy="salt"
    )
    assert sorted(calls) == ["_key_rows", "_prune_aggregate"]
    assert pairs.count()
    prepared.unpersist()


def _block_rows(df):
    return sorted(
        (r["ID_1"], r["ID_2"], r["block_rule"])
        for r in df.select("ID_1", "ID_2", "block_rule").collect()
    )


def test_surrogate_ids_fall_back_on_repeated_ids(repeated_id_prepared):
    """A repeated input id is caught by block's pre-check aggregate: the
    surrogate path warns and gives the string-id path's pairs."""
    from bib_dedupe_spark import block as block_fn

    plain = _block_rows(block_fn(repeated_id_prepared, surrogate_ids=False))
    with pytest.warns(UserWarning, match="surrogate-id collision"):
        surr = _block_rows(block_fn(repeated_id_prepared, surrogate_ids=True))
    assert surr == plain and plain


def test_repeated_ids_sharing_the_collect_bound(
    repeated_id_prepared, monkeypatch
):
    """Repeated-id rows and hot keys share one bounded collect. When the
    id rows push it over the bound, the hot keys are collected again
    from the string-id key rows instead of failing or losing keys (a
    lost key would escape the drop and add pairs)."""
    from bib_dedupe_spark.operators import block as block_mod

    hot = (
        blocking_key_stats(repeated_id_prepared)
        .filter("group_size > 10")
        .count()
    )
    assert hot >= 2
    monkeypatch.setattr(block_mod, "HOT_KEY_COLLECT_LIMIT", hot)
    precheck = block_mod._precheck_rows
    asked_ids = []

    def recording(keys, base, salt_threshold, ids):
        asked_ids.append(ids)
        return precheck(keys, base, salt_threshold, ids)

    monkeypatch.setattr(block_mod, "_precheck_rows", recording)

    def pairs(surrogate_ids):
        return _pair_set(
            candidate_pairs(
                repeated_id_prepared,
                max_block_size=10,
                hot_key_strategy="drop",
                surrogate_ids=surrogate_ids,
            )
        )

    plain = pairs(False)
    with pytest.warns(UserWarning, match="surrogate-id collision"):
        surr = pairs(True)
    assert asked_ids == [False, True, False]
    # every pair of this corpus sits in a dropped hot group, so both are
    # empty, and a hot key lost on the way would show as extra pairs
    assert surr == plain


def test_salt_bucket_size_decoupled(skewed_prepared, monkeypatch):
    """The salt BUCKET size (execution granularity) is decoupled from
    max_block_size (semantics): any bucket size must reproduce exactly
    the unsalted pair set, and groups between the bucket size and
    max_block_size route through the salted join too."""
    from bib_dedupe_spark.operators import block as block_mod

    unlimited = _pair_set(candidate_pairs(skewed_prepared, max_block_size=None))
    assert _hot_key_pairs(unlimited)
    for bucket in (3, 7, 100):
        monkeypatch.setattr(block_mod, "SALT_BUCKET_SIZE", bucket)
        salted = _pair_set(
            candidate_pairs(
                skewed_prepared,
                max_block_size=100,  # far above every group: nothing hot
                hot_key_strategy="salt",
            )
        )
        assert salted == unlimited, bucket
    # drop-mode threshold stays max_block_size (NOT the bucket size)
    dropped = _pair_set(
        candidate_pairs(
            skewed_prepared,
            max_block_size=100,
            hot_key_strategy="drop",
        )
    )
    assert dropped == unlimited  # no group exceeds 100 -> nothing dropped


def test_hot_key_collect_bound_fails_loudly(skewed_prepared, monkeypatch):
    """A degenerate corpus with more hot keys than the driver-collect
    bound must raise a clear error instead of materializing an unbounded
    hot table on the driver."""
    import pytest

    from bib_dedupe_spark.operators import block as block_mod

    # the skewed fixture has several hot keys at threshold 10 (the one
    # author_first+year group blocks under multiple rules); squeeze the
    # bound below that count
    monkeypatch.setattr(block_mod, "HOT_KEY_COLLECT_LIMIT", 1)
    with pytest.raises(ValueError, match="hot-key threshold"):
        candidate_pairs(
            skewed_prepared, max_block_size=10, hot_key_strategy="salt"
        ).collect()


def _cross_refine_corpus(spark):
    """Degenerate corpus for the crossing-side word-join refinement:
    one corpus-wide (author_first, year) rto key holding shared-word
    titles (pairs pass the overlap prune), unique-word titles (pairs
    fail it), wildcards (single-word and empty titles — prune-exempt),
    and a same-DOI disjoint-title crossing pair (attribution recovery:
    survives via the DOI rule, attributed to the hot rto rule)."""
    import pandas as pd

    from bib_dedupe_spark import prep

    def rec(i, title, doi=""):
        return {
            "ID": f"X{i:03d}",
            "ENTRYTYPE": "article",
            "author": "Shared, Sam",
            "title": title,
            "journal": f"venue {i}",
            "year": "2021",
            "volume": "",
            "number": "",
            "pages": "",
            "abstract": "",
            "doi": doi,
        }

    rows = []
    for i in range(8):
        rows.append(rec(i, f"common theme heat mice cohort {i}"))
    for i in range(8, 72):
        rows.append(rec(i, f"uq{i}a uq{i}b uq{i}c uq{i}d uq{i}e"))
    rows.append(rec(72, "singleword"))
    rows.append(rec(73, ""))
    rows.append(rec(74, "alpha beta gamma delta", doi="10.1/same"))
    rows.append(rec(75, "epsilon zeta eta theta", doi="10.1/same"))
    return prep(spark.createDataFrame(pd.DataFrame(rows)))


def test_block_delta_crossing_refinement_matches_combined(spark):
    """Crossing-side refinement (forced via crossing_refine_min_pairs=0)
    must equal both the unrefined salted delta and block(corpus ∪ batch)
    restricted to batch-touching pairs."""
    from bib_dedupe_spark import block as block_fn
    from bib_dedupe_spark.operators.block import block_delta, corpus_key_table

    prepared = _cross_refine_corpus(spark).persist()
    # parity split: both sides hold shared-word, unique-word and special
    # rows (X072 wildcard → corpus, X073 empty title → batch, the
    # same-DOI pair X074/X075 crosses)
    corpus = prepared.filter("CAST(substring(ID, 2, 6) AS INT) % 2 = 0")
    batch = prepared.filter("CAST(substring(ID, 2, 6) AS INT) % 2 = 1")
    corpus_keys = corpus_key_table(corpus)
    batch_ids = {r["ID"] for r in batch.select("ID").collect()}

    def pairset(df):
        return {
            (r["ID_1"], r["ID_2"], r["block_rule"])
            for r in df.select("ID_1", "ID_2", "block_rule").collect()
        }

    from bib_dedupe_spark.operators import block as block_mod

    outcome = []
    orig = block_mod._refined_crossing_pairs

    def spy(*a, **k):
        res = orig(*a, **k)
        outcome.append(res is not None)
        return res

    block_mod._refined_crossing_pairs = spy
    try:
        refined = pairset(
            block_delta(
                batch, corpus_keys, corpus,
                max_block_size=5, hot_key_strategy="salt",
                crossing_refine_min_pairs=0,
            )
        )
        # an infinite floor asks no crossing question at all
        plain = pairset(
            block_delta(
                batch, corpus_keys, corpus,
                max_block_size=5, hot_key_strategy="salt",
                crossing_refine_min_pairs=math.inf,
            )
        )
    finally:
        block_mod._refined_crossing_pairs = orig
    assert outcome == [True], (
        "crossing refinement was not engaged (router sent every key "
        "back to the fan-out join) — the differential no longer pins "
        "the word-join generator"
    )
    combined = block_fn(corpus.unionByName(batch), max_block_size=None)
    want = {
        (r["ID_1"], r["ID_2"], r["block_rule"])
        for r in combined.select("ID_1", "ID_2", "block_rule").collect()
        if r["ID_1"] in batch_ids or r["ID_2"] in batch_ids
    }
    prepared.unpersist()
    assert refined == plain == want
    assert want, "crossing-refinement corpus produced no pairs"
    # the recovery case is actually present: the same-DOI crossing pair
    # is attributed to an rto rule despite failing the overlap prune
    doi_pair = [p for p in want if {p[0], p[1]} == {"X074", "X075"}]
    assert doi_pair, "same-DOI crossing pair missing"


def test_crossing_estimate_blind_batch_side_routes_to_fanout(
    spark, monkeypatch
):
    """The crossing router estimates from a 1/16 record sample. A key
    whose 8 batch members are all outside the sample would read its
    batch→corpus emission as 0 from the sample, although every batch
    title shares a word with every corpus title. Such a key must be
    estimated from all its records and stay on the fan-out join; the
    pair set is the same either way."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bib_dedupe_spark import block as block_fn
    from bib_dedupe_spark import prep
    from bib_dedupe_spark.operators import block as block_mod
    from bib_dedupe_spark.operators.block import block_delta, corpus_key_table

    ids = spark.createDataFrame([(f"B{i:03d}",) for i in range(64)], "ID string")
    batch_ids = [
        r["ID"]
        for r in ids.filter(F.pmod(F.xxhash64("ID"), 16) != 0)
        .orderBy("ID")
        .limit(8)
        .collect()
    ]
    letters = "abcdefghijklmnopqrstuvwxyz"

    def rec(rid, title):
        return {
            "ID": rid,
            "ENTRYTYPE": "article",
            "author": "Shared, Sam",
            "title": title,
            "journal": f"venue {rid}",
            "year": "2021",
            "volume": "",
            "number": "",
            "pages": "",
            "abstract": "",
            "doi": "",
        }

    # batch prefixes: "delta" (batch-only) and one shared word, so each
    # batch record meets every corpus record; corpus prefixes are their
    # three record-unique words, which meet nothing
    rows = [rec(b, "alpha beta gamma delta") for b in batch_ids]
    for i in range(40):
        uniq = [f"{w}{letters[i % 26]}{letters[i // 26]}" for w in "xyz"]
        rows.append(rec(f"C{i:03d}", " ".join([*uniq, "alpha beta gamma"])))
    prepared = prep(spark.createDataFrame(pd.DataFrame(rows))).persist()
    batch = prepared.filter(F.col("ID").startswith("B"))
    corpus = prepared.filter(F.col("ID").startswith("C"))
    corpus_keys = corpus_key_table(corpus)

    def pairset(df):
        return {
            (r["ID_1"], r["ID_2"], r["block_rule"])
            for r in df.select("ID_1", "ID_2", "block_rule").collect()
        }

    considered, outcome = [], []
    orig_tables = block_mod._word_prefix_tables
    orig_cross = block_mod._refined_crossing_pairs

    def tables_spy(*a, **k):
        considered.append(True)
        return orig_tables(*a, **k)

    def cross_spy(*a, **k):
        res = orig_cross(*a, **k)
        outcome.append(res is not None)
        return res

    monkeypatch.setattr(block_mod, "_word_prefix_tables", tables_spy)
    monkeypatch.setattr(block_mod, "_refined_crossing_pairs", cross_spy)
    routed = pairset(
        block_delta(
            batch, corpus_keys, corpus,
            max_block_size=5, hot_key_strategy="salt",
            crossing_refine_min_pairs=0,
        )
    )
    assert considered, "the hot crossing key was never a refine candidate"
    fanout = pairset(
        block_delta(
            batch, corpus_keys, corpus,
            max_block_size=5, hot_key_strategy="salt",
            crossing_refine_min_pairs=math.inf,
        )
    )
    assert outcome == [False], "dense key was routed to the word join"
    combined = block_fn(prepared, max_block_size=None)
    want = {
        (r["ID_1"], r["ID_2"], r["block_rule"])
        for r in combined.select("ID_1", "ID_2", "block_rule").collect()
        if r["ID_1"] in batch_ids or r["ID_2"] in batch_ids
    }
    prepared.unpersist()
    assert routed == fanout == want
    assert len(want) >= 8 * 40, "batch×corpus pairs missing"
