"""Merge stage: per-cluster field survivorship.

Behavioral spec: /root/reference/bib_dedupe/merge.py (default merge
functions :21-147, driver loop :150-248; golden expectations
tests/merge_test.py). The reference loops clusters on the driver; here
survivorship is a ``groupBy(component).applyInPandas`` over only the
multi-member clusters, unioned with the untouched singletons — one
shuffle on the component key.

The per-column reducers consume values in input-row order (the reference's
``sub_df`` order); callers may provide a ``_row_order`` column to pin that
order, otherwise rows are ordered by ID (deterministic at any scale).
``_row_order`` values should be UNIQUE per row; ties are broken
deterministically by ID (not by input arrival order).
Reducers are pluggable via ``merge_functions`` exactly like the reference.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bib_dedupe_spark import constants as C

_ROW_ORDER = "_row_order"


def _upper_fraction(text: str) -> float:
    if len(text) == 0:
        return 0.0
    return sum(map(str.isupper, text)) / len(text)


def _non_empty(values: list) -> list:
    return [v for v in values if not (pd.isnull(v) or v == "")]


def merge_title(values: list) -> str:
    """Prefer less-uppercased titles; avoid '*'/'1'/'2'-suffixed variants."""
    if len(_non_empty(values)) <= 1:
        return values[0]
    best = values[0]
    for candidate in values[1:]:
        if best.replace(" - ", ": ") == candidate.replace(" - ", ": "):
            return best
    best_upper = _upper_fraction(best)
    for candidate in values[1:]:
        if candidate[-1] not in ("*", "1", "2"):
            if best_upper > _upper_fraction(candidate):
                best = candidate
    return best


def merge_author(values: list) -> str:
    """Prefer not-all-caps author strings."""
    if len(_non_empty(values)) <= 1:
        return values[0]
    best = values[0]
    best_upper = _upper_fraction(best)
    for candidate in values[1:]:
        if best_upper > 0.8 and _upper_fraction(candidate) <= 0.8:
            best = candidate
    return best


def merge_container_title(values: list) -> str:
    """Prefer unabbreviated (dot-free), less-uppercased venue strings."""
    if len(_non_empty(values)) <= 1:
        return values[0]
    values = _non_empty(values)
    best = values[0]
    best_upper = _upper_fraction(best)
    for candidate in values[1:]:
        if "." in best and "." not in candidate:
            best = candidate
        if best_upper > _upper_fraction(candidate):
            best = candidate
    return best


def merge_year(values: list) -> str:
    """Max year (published beats forthcoming)."""
    years = [str(v) for v in values if not (pd.isnull(v) or v == "")]
    if not any(y.isdigit() for y in years):
        return ""
    return str(max(int(y) for y in years if y.isdigit()))


def merge_pages(values: list) -> str:
    """Prefer '--' full ranges."""
    if len(_non_empty(values)) <= 1:
        return values[0]
    values = _non_empty(values)
    best = values[0]
    for candidate in values[1:]:
        if "--" in candidate and "--" not in best:
            best = candidate
    return best


def merge_origin(values: list) -> str:
    """Union of ';'-separated provenance tokens, sorted."""
    tokens: set = set()
    for value in values:
        tokens.update(value.split(";"))
    tokens = {t.strip() for t in tokens if t.strip() != ""}
    return ";".join(sorted(tokens))


DEFAULT_MERGE_FUNCTIONS = {
    C.ORIGIN: merge_origin,
    C.TITLE: merge_title,
    C.AUTHOR: merge_author,
    C.YEAR: merge_year,
    C.JOURNAL: merge_container_title,
    C.PAGES: merge_pages,
}


def merge(
    records_df: DataFrame,
    components: DataFrame,
    merge_functions: dict | None = None,
    origin_column: str = C.ORIGIN,
) -> DataFrame:
    """Collapse each duplicate cluster to one surviving row.

    ``components`` is the DataFrame[ID, component] produced by the cluster
    stage; records absent from it are untouched singletons. The surviving
    row keeps the cluster's minimum ID (the reference's first-of-sorted
    convention) with the pluggable per-column reducers applied.
    """
    functions = dict(DEFAULT_MERGE_FUNCTIONS)
    if merge_functions:
        functions.update(merge_functions)
    if origin_column not in functions:
        functions[origin_column] = merge_origin

    df = records_df
    string_cols = [c for c in df.columns]
    for col in string_cols:
        df = df.withColumn(col, F.coalesce(F.col(col).cast("string"), F.lit("")))
    if origin_column not in df.columns:
        df = df.withColumn(origin_column, F.col(C.ID))
        string_cols.append(origin_column)

    has_order = _ROW_ORDER in df.columns
    if not has_order:
        df = df.withColumn(_ROW_ORDER, F.monotonically_increasing_id())

    # ALL records in the cluster map go through survivorship — the
    # reference applies merge functions to singleton duplicate_id_sets too
    # (merge.py:176,227-231: e.g. origin 'b; a' normalizes to 'a;b' even
    # for a one-member set), so size-1 components must not shortcut.
    # Both filters are explicit so the left-join branch and the branch
    # Catalyst turns into an inner join broadcast the same plan, and AQE
    # reuses one broadcast (and the clustering under it) for both.
    clustered_ids = components.select(C.ID, C.COMPONENT).filter(
        F.col(C.ID).isNotNull() & F.col(C.COMPONENT).isNotNull()
    )

    # AQE promotes this to a broadcast join when the cluster map is small
    tagged = df.join(clustered_ids, C.ID, "left")

    untouched = tagged.filter(F.col(C.COMPONENT).isNull()).select(*string_cols)
    to_merge = tagged.filter(F.col(C.COMPONENT).isNotNull())

    # reference merge.py:236-247: the nr_intext_citations merge function
    # (when supplied) is also applied to non-duplicates as 1-value lists
    if "nr_intext_citations" in functions and "nr_intext_citations" in string_cols:
        _cite_fn = functions["nr_intext_citations"]

        @F.pandas_udf("string")
        def _apply_cite_single(s: pd.Series) -> pd.Series:
            return s.map(lambda v: _cite_fn([v]))

        untouched = untouched.withColumn(
            "nr_intext_citations", _apply_cite_single("nr_intext_citations")
        )

    out_cols = list(string_cols)
    id_fn = functions.get(C.ID)

    # Pack each cluster into ONE array row (sort_array orders by the
    # leading _row_order field = the reference's sub_df row order), then
    # run survivorship as a SCALAR Arrow UDF: hundreds of clusters per
    # Arrow batch instead of applyInPandas' per-group pandas framing —
    # the per-cluster overhead is a dict loop, not a DataFrame build.
    # The second struct field pins ties: the auto-generated _row_order is
    # unique, but a CALLER-supplied one may carry duplicates, and without
    # an explicit secondary key sort_array would tie-break on arbitrary
    # payload-column order (nondeterministic survivor vs the stable-sort
    # pandas path it replaced). ID makes equal-_row_order ordering
    # deterministic and documented.
    packed = to_merge.groupBy(C.COMPONENT).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(_ROW_ORDER).alias("_o"),
                    F.col(C.ID).alias("_tie"),
                    *[F.col(c).alias(c) for c in out_cols],
                )
            )
        ).alias("_rows")
    )

    from pyspark.sql.types import StringType, StructField, StructType

    out_schema = StructType(
        [StructField(c, StringType(), True) for c in out_cols]
    )

    @F.pandas_udf(out_schema)
    def _survive_clusters(rows: pd.Series) -> pd.DataFrame:
        out: dict = {c: [] for c in out_cols}
        for cluster in rows:
            ids = sorted(r[C.ID] for r in cluster)
            keep_id = ids[0]
            if id_fn is not None:
                # reference merge.py:210-221: custom ID picker, with
                # fallback to the first (min) ID when its choice is absent
                candidate = id_fn(list(ids))
                if candidate in set(ids):
                    keep_id = candidate
            keep = next(r for r in cluster if r[C.ID] == keep_id)
            for col in out_cols:
                if col in functions:
                    out[col].append(
                        functions[col]([r[col] for r in cluster])
                    )
                else:
                    out[col].append(keep[col])
        return pd.DataFrame(out, columns=out_cols)

    merged = packed.select(
        _survive_clusters("_rows").alias("_s")
    ).select("_s.*")

    return untouched.unionByName(merged)
