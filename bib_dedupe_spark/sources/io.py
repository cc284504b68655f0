"""Record table sources/sinks.

The reference loads CSV via pandas (bib_dedupe.py:208) and writes review
CSVs (maybe_cases.py:133-150). Here records move through Spark readers
with the all-string record contract applied at the edge; parquet is the
default interchange (columnar scans, predicate pushdown), CSV/JSON are
supported for interop.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_records(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Load a records table; all columns arrive as non-null strings."""
    if fmt == "csv":
        df = spark.read.option("header", "true").csv(path)
    elif fmt == "json":
        df = spark.read.json(path)
    elif fmt == "parquet":
        df = spark.read.parquet(path)
    else:
        raise ValueError(f"unsupported record format: {fmt}")
    return df.select(
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c)
            for c in df.columns
        ]
    )


def write_records(
    df: DataFrame, path: str, fmt: str = "parquet", single_file: bool = False
) -> None:
    """Write a records/review table (coalesced when a single CSV is wanted)."""
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "parquet":
        writer.parquet(path)
    else:
        raise ValueError(f"unsupported record format: {fmt}")


def write_records_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 64,
    bucket_col: str = "ID",
    path: str | None = None,
) -> None:
    """Persist records hash-bucketed (and sorted) on ``bucket_col``.

    Pre-bucketing co-locates the blocking enrichment joins and the
    merge-stage cluster join: two tables bucketed the same way join with
    NO shuffle exchange on the bucketed key — the 100 TB layout for a
    corpus that is linked repeatedly (e.g. per crawl increment).

    ``path`` makes the table external, with its files there: a later
    write overwrites them even from a session whose catalog does not
    know the table. Without it the table is managed, in the warehouse,
    and such a write fails with ``LOCATION_ALREADY_EXISTS``.
    """
    writer = df.write.mode("overwrite")
    if path is not None:
        writer = writer.option("path", path)
    (
        writer.bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


MAYBE_EXPORT_MAX_ROWS = 100_000


def write_maybe_cases(
    df: DataFrame,
    file_path: str,
    now: "datetime | None" = None,
    max_rows: int | None = MAYBE_EXPORT_MAX_ROWS,
) -> str | None:
    """Write the maybe-review table as ONE csv file, rotating any prior
    export first.

    Mirrors the reference's rotation convention (maybe_cases.py:133-142):
    an existing review file is renamed to ``<stem>_<YYYYmmddHHMMSS><ext>``
    before the new export is written, so a reviewer's in-progress edits are
    never clobbered by a re-export. Deviation: the rotated file stays in
    the SAME directory (the reference renames into the process CWD, which
    strands the backup when run from elsewhere).

    The review table is human-scale by definition, so a single driver-side
    file (collect via pandas) is the right shape here — the distributed
    writers above remain for machine-scale sinks. Because the collect is
    driver-side, ``max_rows`` (default 100k) guards against a pathological
    rule set flooding the review set and OOMing the driver: over the
    limit, the export refuses with guidance (raise the limit explicitly,
    pass ``max_rows=None``, or write the full set with a distributed
    writer and review a sample).

    Returns the rotation target path when a prior file existed.
    """
    import shutil
    from datetime import datetime
    from pathlib import Path

    if max_rows is not None:
        n = df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"maybe-cases export has more than {max_rows} rows — this "
                "is a driver-side single-file csv for HUMAN review, and a "
                "review set that size suggests a runaway maybe rule. "
                "Tighten the rules, export a sample (df.limit(...)), use "
                "a distributed writer (df.write.csv), or pass a higher "
                "max_rows / max_rows=None to override."
            )

    target = Path(file_path)
    rotated: str | None = None
    if target.exists():
        stamp = (now or datetime.now()).strftime("%Y%m%d%H%M%S")
        rotated = str(target.with_name(f"{target.stem}_{stamp}{target.suffix}"))
        shutil.move(str(target), rotated)
    target.parent.mkdir(parents=True, exist_ok=True)
    df.toPandas().to_csv(str(target), index=False)
    return rotated


def read_maybe_cases(spark: SparkSession, file_path: str) -> DataFrame:
    """Load a (possibly reviewer-edited) maybe-cases csv for import_maybe.

    cluster_ID comes back as long (it is a pair-key hash), similarity
    as double, everything else as string (maybe_cases.py:170 reads with
    pandas defaults; the import path only consumes duplicate_label,
    cluster_ID and ID).
    """
    df = spark.read.option("header", "true").csv(file_path)
    casts = []
    for c in df.columns:
        if c == "cluster_ID":
            casts.append(F.col(c).cast("long").alias(c))
        elif c == "similarity_score":
            casts.append(F.col(c).cast("double").alias(c))
        else:
            casts.append(F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c))
    return df.select(*casts)


def compact_corpus_index(
    spark: SparkSession,
    keys_path: str,
    table: str,
    buckets: int = 64,
) -> None:
    """Compact the append-mode blocking-key index into a bucketed table.

    The incremental-linkage key index (see ``block_delta``) accumulates
    one small parquet append per micro-batch; periodically compacting it
    into a table bucketed on the join key (rule_idx, key) both fixes the
    small-files problem and makes the non-broadcast candidate join
    exchange-free on the (big) index side.

    A ``_compaction.json`` manifest (underscore-prefixed: invisible to
    Spark's parquet reader) is written into ``keys_path`` recording the
    table name and the highest ``_batch`` id folded in —
    ``link_batch`` reads it to consume the bucketed table plus only the
    NEWER parquet appends. Returns the manifest dict. Run compaction only
    while the linkage stream is stopped (a retry of a batch that was
    compacted mid-flight would double-count its keys).
    """
    import json
    from pathlib import Path

    df = spark.read.parquet(keys_path)
    max_batch = -1
    if "_batch" in df.columns:
        max_batch = df.agg({"_batch": "max"}).first()[0]
    (
        df.repartition(buckets, "rule_idx", "key")
        .write.mode("overwrite")
        .bucketBy(buckets, "rule_idx", "key")
        .sortBy("rule_idx", "key")
        .format("parquet")
        .saveAsTable(table)
    )
    manifest = {"table": table, "max_batch": int(max_batch)}
    (Path(keys_path) / "_compaction.json").write_text(json.dumps(manifest))
    from bib_dedupe_spark.streaming.dedup_stream import (
        invalidate_read_schema_cache,
    )

    invalidate_read_schema_cache(keys_path)
    return manifest


def compact_edges(
    spark: SparkSession,
    edges_path: str,
    table: str,
    buckets: int = 64,
) -> dict:
    """Compact the append-mode matched-edge sink into a bucketed table.

    A long-lived linkage stream writes one small parquet partition per
    micro-batch under ``edges_path`` — at web-scale horizons (10^5+
    batches) the file count itself becomes the read bottleneck for every
    downstream clustering pass. Compaction folds everything at or below
    the current high-water ``_batch`` into ONE table bucketed on ID_1
    (the key the clustering stage's edge scan groups by first), and
    records a ``_compaction.json`` manifest exactly like the key-index
    compactor. :func:`read_all_edges` consumes the manifest. Run only
    while the stream is stopped (same retry caveat as
    ``compact_corpus_index``).
    """
    import json
    from pathlib import Path

    df = spark.read.parquet(edges_path)
    max_batch = -1
    if "_batch" in df.columns:
        max_batch = df.agg({"_batch": "max"}).first()[0]
        df = df.drop("_batch")
    (
        df.repartition(buckets, "ID_1")
        .write.mode("overwrite")
        .bucketBy(buckets, "ID_1")
        .sortBy("ID_1")
        .format("parquet")
        .saveAsTable(table)
    )
    manifest = {"table": table, "max_batch": int(max_batch)}
    (Path(edges_path) / "_compaction.json").write_text(json.dumps(manifest))
    from bib_dedupe_spark.streaming.dedup_stream import (
        invalidate_read_schema_cache,
    )

    invalidate_read_schema_cache(edges_path)
    return manifest


def read_all_edges(spark: SparkSession, edges_path: str) -> DataFrame:
    """All matched edges: compacted bucketed table ∪ newer appends.

    Without a compaction manifest this is a plain parquet read of every
    ``_batch`` partition; with one, the bulk comes from the bucketed
    table (few large files) and only appends NEWER than the compaction
    watermark are read from parquet — the input shape the clustering
    stage wants at long stream horizons.
    """
    import json
    from pathlib import Path

    manifest_file = Path(edges_path) / "_compaction.json"
    raw = spark.read.parquet(edges_path)
    if "_batch" in raw.columns:
        raw_no_batch = raw.drop("_batch")
    else:
        raw_no_batch = raw
    if not manifest_file.is_file():
        return raw_no_batch
    manifest = json.loads(manifest_file.read_text())
    table = manifest["table"]
    if not spark.catalog.tableExists(table):
        return raw_no_batch
    bulk = spark.table(table)
    if "_batch" in raw.columns:
        fresh = raw.filter(
            F.col("_batch") > manifest["max_batch"]
        ).drop("_batch")
    else:
        fresh = raw_no_batch.limit(0)
    return bulk.unionByName(fresh)
