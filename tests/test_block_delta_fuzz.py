"""Randomized streaming ≡ batch differential for incremental blocking.

``block_delta(batch, corpus_key_table(corpus), corpus)`` must emit
exactly the pairs of ``block(corpus ∪ batch)`` that touch the batch.
The corpora are test_block_fuzz's 200 tagged mini-corpora (dense and
sparse vocabularies, wildcard and empty titles, repeated words,
same-DOI disjoint-title pairs, search-set conflicts); each record lands
in the batch or the corpus by a seeded coin whose bias varies per
corpus. Every physical path of the delta blocker is compared on
(ID_1, ID_2, block_rule):

  * salt with the crossing floor at 0, so every batch rto key is a
    crossing-refinement candidate (a spy asserts the word-join
    generator really ran);
  * salt with the crossing floor at ``math.inf``, so no key is a
    candidate and every crossing pair takes the pure fan-out;
  * ``"drop"`` against ``block(..., "drop")`` at the same cap;
  * ``max_block_size=None`` (no hot-key handling at all).
"""
import math
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bib_dedupe_spark.operators import block as block_mod
from bib_dedupe_spark.operators.block import block, block_delta, corpus_key_table
from bib_dedupe_spark.operators.prep import prep
from tests.test_block_fuzz import N_CORPORA, _corpus

MAX_BLOCK = 8


def _split(master_seed: int):
    rng = random.Random(master_seed)
    corpus_rows, batch_rows = [], []
    for ci in range(N_CORPORA):
        frac = rng.uniform(0.2, 0.6)
        for row in _corpus(ci, random.Random(master_seed * 1000 + ci)):
            (batch_rows if rng.random() < frac else corpus_rows).append(row)
    return corpus_rows, batch_rows


def _pairs(df):
    return df.select("ID_1", "ID_2", "block_rule")


def _touching(df, batch_ids):
    return _pairs(df).filter(
        F.col("ID_1").isin(batch_ids) | F.col("ID_2").isin(batch_ids)
    )


def _signature(df):
    """(rows, xor of row hashes): equal signatures ⇔ equal pair tables,
    without collecting millions of pairs to the driver."""
    r = df.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(ID_1, ID_2, block_rule))").alias("x"),
    ).first()
    return r["n"], r["x"]


def _assert_same(name, got, want, want_sig):
    if _signature(got) == want_sig:
        return
    missing = want.exceptAll(got).limit(5).collect()
    extra = got.exceptAll(want).limit(5).collect()
    raise AssertionError(
        f"{name} diverged from block(corpus ∪ batch): missing e.g. "
        f"{missing}, extra e.g. {extra}"
    )


@pytest.mark.parametrize("master_seed", [20261018])
def test_block_delta_equals_block_restriction_fuzz(
    spark, master_seed, monkeypatch
):
    corpus_rows, batch_rows = _split(master_seed)
    corpus = prep(spark.createDataFrame(pd.DataFrame(corpus_rows))).persist()
    batch = prep(
        spark.createDataFrame(pd.DataFrame(batch_rows)), validate=False
    ).persist()
    corpus_keys = corpus_key_table(corpus).persist()
    union = corpus.unionByName(batch)
    batch_ids = [r["ID"] for r in batch.select("ID").collect()]

    truth = _touching(block(union, max_block_size=None), batch_ids).persist()
    truth_drop = _touching(
        block(union, max_block_size=MAX_BLOCK, hot_key_strategy="drop"),
        batch_ids,
    ).persist()
    truth_sig, drop_sig = _signature(truth), _signature(truth_drop)
    assert truth_sig[0], "fuzz split produced no batch-touching pairs"
    assert drop_sig != truth_sig, "drop cap changed nothing — not exercised"

    engaged = []
    orig = block_mod._refined_crossing_pairs

    def spy(*a, **k):
        res = orig(*a, **k)
        engaged.append(res is not None)
        return res

    monkeypatch.setattr(block_mod, "_refined_crossing_pairs", spy)
    refined = block_delta(
        batch, corpus_keys, corpus,
        max_block_size=MAX_BLOCK, hot_key_strategy="salt",
        crossing_refine_min_pairs=0,
    )
    _assert_same("salt+refined", _pairs(refined), truth, truth_sig)
    assert engaged == [True], (
        "crossing refinement never engaged — the differential no longer "
        "pins the word-join generator"
    )

    fanout = block_delta(
        batch, corpus_keys, corpus,
        max_block_size=MAX_BLOCK, hot_key_strategy="salt",
        crossing_refine_min_pairs=math.inf,
    )
    _assert_same("salt fan-out", _pairs(fanout), truth, truth_sig)
    dropped = block_delta(
        batch, corpus_keys, corpus,
        max_block_size=MAX_BLOCK, hot_key_strategy="drop",
    )
    _assert_same("drop", _pairs(dropped), truth_drop, drop_sig)
    uncapped = block_delta(batch, corpus_keys, corpus)
    _assert_same("uncapped", _pairs(uncapped), truth, truth_sig)
    for df in (truth, truth_drop, corpus_keys, batch, corpus):
        df.unpersist()
