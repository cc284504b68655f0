"""Prep stage: record normalization as a Spark plan.

Behavioral spec: /root/reference/bib_dedupe/prep.py:75-254 (general prep
:122-179, per-split normalization :75-119, derived blocking columns
:240-246). The reference's process-pool row chunking (X1) disappears into
Spark partition parallelism: the stage is

  native column expressions (defaults, casts, sentinel sweeps,
  container-title dispatch)  →  ONE mapInPandas pass applying the
  Python normalizer cascade per Arrow batch  →  prepared records

— zero shuffles; scans stay pruned to the record columns.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from bib_dedupe_spark import constants as C
from bib_dedupe_spark.functions import authors, containers, fields, schema_fix, titles

# full-cell value rewrites (pandas .replace semantics = whole-cell equality,
# see reference prep.py:85-96)
_CELL_REPLACEMENTS = {
    "UNKNOWN": "",
    "n/a": "",
    "N/A": "",
    "NA": "",
    "&amp;": "and",
    " & ": " and ",
    " + ": " and ",
}

_SENTINELS = ("#NAME?", "UNKNOWN")


def _clean_column(df: DataFrame, name: str) -> Column:
    """Cast to string, fix float artifacts, sweep sentinel values.

    Memoized on (name, is_float) per JVM gateway: the flat CASE over the
    replacement table costs py4j round-trips per build, and streaming
    rebuilds the prep plan every micro-batch.
    """
    from bib_dedupe_spark.plancache import cached_fragment

    is_float = isinstance(df.schema[name].dataType, (DoubleType, FloatType))

    def _build() -> Column:
        col = F.col(name)
        if is_float:
            # avoid "3.0" string artifacts from float-typed inputs
            col = F.when(col.isNull(), "").otherwise(
                col.cast("long").cast("string")
            )
        else:
            col = col.cast("string")
        base = F.coalesce(col, F.lit(""))
        # ONE flat CASE (conditions are all full-cell tests on the same
        # base value — never nest when().otherwise(prev): the tree
        # doubles per step)
        cleaned = F.when(base.isin(*_SENTINELS), "")
        for old, new in _CELL_REPLACEMENTS.items():
            cleaned = cleaned.when(base == old, new)
        return cleaned.otherwise(base).alias(name)

    return cached_fragment(("prep._clean_column", name, is_float), _build)


def _map_unique(series: pd.Series, fn) -> pd.Series:
    """Apply ``fn`` once per distinct value (dictionary-encoding style).

    Venue/volume/year/doi columns have few distinct values per batch, so
    normalizing the dictionary instead of every row cuts the dominant
    per-record cost (the journal-variant table scan) by the repeat factor.
    """
    table = {v: fn(v) for v in pd.unique(series)}
    return series.map(table)


def _prep_batches(iterator):
    """Arrow-batched normalizer cascade (runs on executors)."""
    variants = containers.load_journal_variants()
    for pdf in iterator:
        if pdf.empty:
            yield pd.DataFrame(columns=C.PREPARED_FIELDS)
            continue

        pdf = pdf.copy()
        pdf[C.AUTHOR_FULL] = pdf[C.AUTHOR]

        fixed = [
            schema_fix.fix_row(t, j, v, n, p, y)
            for t, j, v, n, p, y in zip(
                pdf[C.TITLE],
                pdf[C.JOURNAL],
                pdf[C.VOLUME],
                pdf[C.NUMBER],
                pdf[C.PAGES],
                pdf[C.YEAR],
            )
        ]
        (
            pdf[C.TITLE],
            pdf[C.JOURNAL],
            pdf[C.VOLUME],
            pdf[C.NUMBER],
            pdf[C.PAGES],
            pdf[C.YEAR],
        ) = map(list, zip(*fixed))

        pdf[C.AUTHOR] = _map_unique(pdf[C.AUTHOR], authors.norm_author)
        pdf[C.TITLE] = [titles.norm_title(v) for v in pdf[C.TITLE]]
        pdf[C.CONTAINER_TITLE] = _map_unique(
            pdf[C.CONTAINER_TITLE],
            lambda v: containers.norm_container_title(v, variants),
        )
        pdf[C.YEAR] = _map_unique(pdf[C.YEAR], fields.norm_year)
        pdf[C.VOLUME] = _map_unique(pdf[C.VOLUME], fields.norm_volume)
        pdf[C.NUMBER] = _map_unique(pdf[C.NUMBER], fields.norm_number)
        pdf[C.PAGES] = _map_unique(pdf[C.PAGES], fields.norm_pages)
        pdf[C.ABSTRACT] = [fields.norm_abstract(v) for v in pdf[C.ABSTRACT]]
        pdf[C.DOI] = _map_unique(pdf[C.DOI], fields.norm_doi)

        pdf[C.AUTHOR] = _map_unique(pdf[C.AUTHOR], authors.select_surnames)

        # years erroneously entered in the pages field
        pdf.loc[pdf[C.PAGES] == pdf[C.YEAR], C.PAGES] = ""

        # derived blocking columns; empty author → null first token
        # (mirrors the reference's .str.split().str[0] NaN, prep.py:241)
        pdf[C.AUTHOR_FIRST] = [
            v.split()[0] if v.split() else None for v in pdf[C.AUTHOR]
        ]
        pdf[C.TITLE_SHORT] = [" ".join(v.split()[:10]) for v in pdf[C.TITLE]]
        pdf[C.CONTAINER_TITLE_SHORT] = [
            containers.container_title_short(v) for v in pdf[C.CONTAINER_TITLE]
        ]

        out = pdf[C.PREPARED_FIELDS]
        # literal-"nan" sweep over every column (reference prep.py:248-249)
        out = out.where(out != "nan", "")
        yield out


def prep(records_df: DataFrame, validate: bool = True) -> DataFrame:
    """Normalize a raw records DataFrame into the prepared record model."""
    df = records_df

    if C.ID not in df.columns:
        df = df.withColumn(
            C.ID, (F.monotonically_increasing_id() + 1).cast("string")
        )
    if C.ENTRYTYPE not in df.columns:
        df = df.withColumn(C.ENTRYTYPE, F.lit("article"))

    missing = [f for f in C.REQUIRED_FIELDS if f not in df.columns]
    if missing:
        raise ValueError(f"records are missing required fields: {missing}")

    if validate:
        # one shuffle; a null ID is missing, not repeated. On an orderBy
        # the limit is a per-partition top-N read in one job; a bare
        # limit reads the partitions in growing rounds, one job each,
        # when no ID repeats (block._precheck_rows bounds the same way)
        repeated = (
            df.filter(F.col(C.ID).isNotNull())
            .groupBy(C.ID)
            .count()
            .filter(F.col("count") > 1)
            .orderBy(C.ID)
            .limit(1)
            .collect()
        )
        if repeated:
            raise ValueError("ID column in records_df must be unique.")

    for field in C.OPTIONAL_FIELDS:
        if field not in df.columns:
            df = df.withColumn(field, F.lit(""))

    work_cols = [c for c in C.ALL_FIELDS if c != C.CONTAINER_TITLE] + [
        C.JOURNAL,
        C.BOOKTITLE,
    ]
    if C.CONTAINER_TITLE in df.columns:
        work_cols.append(C.CONTAINER_TITLE)
    # dedupe while preserving order
    work_cols = list(dict.fromkeys(work_cols))
    df = df.select(*[_clean_column(df, c) for c in work_cols])
    existing_container = (
        F.col(C.CONTAINER_TITLE)
        if C.CONTAINER_TITLE in df.columns
        else F.lit("")
    )

    # ENTRYTYPE-dispatched container title (prep_container_title.py:85-95)
    df = df.withColumn(
        C.CONTAINER_TITLE,
        F.when(F.col(C.ENTRYTYPE) == "article", F.col(C.JOURNAL))
        .when(
            F.col(C.ENTRYTYPE).isin("inproceedings", "proceedings", "inbook"),
            F.col(C.BOOKTITLE),
        )
        .when(F.col(C.ENTRYTYPE) == "book", F.col(C.TITLE))
        .otherwise(existing_container),
    )

    return df.mapInPandas(_prep_batches, schema=C.PREPARED_SCHEMA)
