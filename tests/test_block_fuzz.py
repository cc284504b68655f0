"""Randomized differential for the blocking refinement boundary.

VERDICT r5 item #5: the hot-key router and the refined generator are
correctness-critical and were pinned by one crafted corpus. This test
generates 200 seeded random mini-corpora spanning the risky regimes —
mixed vocabulary entropy (dense groups that must route back to salt,
sparse ones the word join takes), wildcard-heavy groups, zero-token and
empty titles, repeated words (multiset-vs-distinct denominators),
same-DOI disjoint-title pairs (attribution recovery), and search-set
conflicts — and asserts the three physical paths produce IDENTICAL
(ID_1, ID_2, rule_idx) sets:

  * unsalted    (max_block_size=None — ground truth)
  * salted      (refine_min_quad=math.inf: the volume floor is never
                 reached, so every hot key takes the salted join)
  * refined     (refine_min_quad=0 so the router considers every hot
                 key regardless of the volume floor)

All 200 corpora run in ONE DataFrame per mode, so one Spark action
covers all seeds. Title words keep their per-corpus tag through prep,
but the author and journal tags do not: author normalization strips
digits (functions/authors.py, ``_RE_DIGITS``), so every corpus's
``Fuzz{ci}, Anna`` prepares to the author ``fuzz``, and every
``journal of c{ci} studies`` to the container_title ``j c stud``. The
author+year and author+container keys are therefore shared by all
corpora and form groups hundreds of records wide, a wanted hot-key
case. The comparison is over the union, so it is exact either way.
"""
import math
import random

import pandas as pd
import pytest

from bib_dedupe_spark.operators.block import candidate_pairs
from bib_dedupe_spark.operators.prep import prep

N_CORPORA = 200


def _corpus(ci: int, rng: random.Random) -> list:
    """One random mini-corpus with its keys tagged by corpus index."""
    tag = f"c{ci}"
    dense_vocab = [f"{tag}w{j}" for j in range(rng.randint(3, 6))]
    sparse_vocab = [f"{tag}s{j}" for j in range(120)]
    sets = ["", f"{tag}seta", f"{tag}setb"]
    rows = []
    n = rng.randint(10, 28)
    for i in range(n):
        kind = rng.random()
        if kind < 0.35:  # dense: titles share words with everyone
            words = [rng.choice(dense_vocab) for _ in range(rng.randint(1, 6))]
        elif kind < 0.75:  # sparse: mostly-unique words
            words = rng.sample(sparse_vocab, rng.randint(2, 8))
            if rng.random() < 0.3:  # repeated words: multiset != distinct
                words += [rng.choice(words)] * rng.randint(1, 3)
        elif kind < 0.85:  # wildcard: single-word, no-space title
            words = [rng.choice(dense_vocab + sparse_vocab)]
        elif kind < 0.95:  # near-duplicate of a dense title
            words = [rng.choice(dense_vocab) for _ in range(4)]
        else:  # empty title (zero tokens)
            words = []
        rows.append(
            {
                "ID": f"{tag}r{i:03d}",
                "ENTRYTYPE": "article",
                # prepares to "fuzz" in every corpus (module docstring):
                # author+container and author+year groups go hot
                "author": f"Fuzz{ci}, Anna",
                "title": " ".join(words),
                "journal": f"journal of {tag} studies",
                # a few repeated years so author+year also forms groups
                "year": str(1980 + (i % rng.randint(2, 7))),
                "volume": "",
                "number": "",
                "pages": "",
                "abstract": "",
                # same-DOI pairs exercise the attribution-recovery join
                "doi": (
                    f"10.1000/{tag}-{i % 3}" if rng.random() < 0.25 else ""
                ),
            }
        )
    return rows


def _pairs(df):
    return {
        (r["ID_1"], r["ID_2"], r["rule_idx"]) for r in df.collect()
    }


@pytest.mark.parametrize("master_seed", [20260821])
def test_refined_salted_unsalted_differential_fuzz(spark, master_seed):
    rows = []
    for ci in range(N_CORPORA):
        rows.extend(_corpus(ci, random.Random(master_seed * 1000 + ci)))
    prepared = prep(spark.createDataFrame(pd.DataFrame(rows))).persist()
    prepared.count()

    truth = _pairs(
        candidate_pairs(prepared, max_block_size=None)
    )
    salted = _pairs(
        candidate_pairs(
            prepared,
            max_block_size=8,
            hot_key_strategy="salt",
            refine_min_quad=math.inf,
        )
    )
    refined = _pairs(
        candidate_pairs(
            prepared,
            max_block_size=8,
            hot_key_strategy="salt",
            refine_min_quad=0,
        )
    )
    prepared.unpersist()

    assert truth, "fuzz corpus produced no pairs — generator broken"
    # readable diffs: report the first few offending corpora
    for name, got in (("salted", salted), ("refined", refined)):
        missing = sorted(truth - got)[:5]
        extra = sorted(got - truth)[:5]
        assert got == truth, (
            f"{name} path diverged: {len(truth - got)} missing "
            f"(e.g. {missing}), {len(got - truth)} extra (e.g. {extra})"
        )
