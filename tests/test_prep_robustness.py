"""Robustness: prep must never throw and always emit the string contract,
whatever unicode garbage arrives in the record fields."""
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bib_dedupe_spark import constants as C

_weird = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",),  # no lone surrogates (not utf-8-able)
    ),
    max_size=40,
)


@settings(max_examples=20, deadline=None)
@given(st.lists(_weird, min_size=9, max_size=9))
def test_prep_kernels_never_throw(fields):
    """Drive the per-field normalizers directly (the mapInPandas batch
    body) with adversarial unicode — no exceptions, str outputs."""
    from bib_dedupe_spark.functions import authors, containers, fields as ff
    from bib_dedupe_spark.functions import titles

    a, t, c, y, v, n, p, ab, d = fields
    outs = [
        authors.norm_author(a),
        titles.norm_title(t),
        containers.norm_container_title(c),
        ff.norm_year(y),
        ff.norm_volume(v),
        ff.norm_number(n),
        ff.norm_pages(p),
        ff.norm_abstract(ab),
        ff.norm_doi(d),
    ]
    for o in outs:
        assert isinstance(o, str)


def test_prep_stage_handles_adversarial_rows(spark):
    rows = [
        # nulls everywhere
        {"ID": "x1", "ENTRYTYPE": None, "title": None, "author": None,
         "year": None, "journal": None, "booktitle": None, "series": None,
         "volume": None, "number": None, "pages": None, "abstract": None,
         "doi": None, "search_set": None},
        # control chars, emoji, RTL, combining marks
        {"ID": "x2", "ENTRYTYPE": "article", "title": "T\x00itle ‮😈 éé́",
         "author": "نص عربي; 中文名", "year": "٢٠٢٠", "journal": "J Med",
         "booktitle": "", "series": "", "volume": "١٢", "number": "\t",
         "pages": "e12—14", "abstract": "a" * 5000, "doi": "HTTPS://DOI.ORG/10.1/Ab",
         "search_set": ""},
        # numerals-as-words and giant fields
        {"ID": "x3", "ENTRYTYPE": "article", "title": "twenty one " * 50,
         "author": "A; " * 200, "year": "19999", "journal": "x" * 1000,
         "booktitle": "", "series": "", "volume": "IV", "number": "12a",
         "pages": "iii-x", "abstract": "", "doi": "", "search_set": "s"},
    ]
    from bib_dedupe_spark import prep

    out = prep(spark.createDataFrame(pd.DataFrame(rows))).collect()
    assert len(out) == 3
    for r in out:
        for k, v in r.asDict().items():
            assert v is None or isinstance(v, str)


def test_prep_rejects_repeated_ids(spark):
    from bib_dedupe_spark import prep

    rows = [
        {"ID": i, "ENTRYTYPE": "article", "author": "A, B", "title": t,
         "journal": "J", "year": "2020"}
        for i, t in (("a", "one title"), ("b", "two title"), ("a", "three"))
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    with pytest.raises(ValueError, match="must be unique"):
        prep(df)
    assert prep(df, validate=False).count() == 3
