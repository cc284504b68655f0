"""Structured Streaming entry points for incremental deduplication.

The reference is strictly batch (SURVEY.md §2.11); these operators extend
the engine to continuous ingestion — the natural deployment for a
Common-Crawl-style pipeline where new captures arrive as an append-only
stream:

* :func:`stream_exact_dedup` — watermarked exact dedup on content hash
  (state-bounded ``dropDuplicatesWithinWatermark``).
* :func:`run_incremental_linkage` — foreachBatch incremental record
  linkage: each micro-batch is prepped, blocked against the accumulated
  corpus (delta × corpus, not corpus × corpus), scored with the same
  similarity kernels, and appended to a matched-edge sink.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# path -> StructType of the parquet sink, filled in after the first read.
# Passing the schema explicitly on subsequent micro-batch reads skips the
# footer-sampling schema-inference job spark.read.parquet launches per
# call — profiled at ~2 s per read (×2 reads per batch), the single
# largest per-batch fixed cost in link_batch.
_READ_SCHEMA_CACHE: dict = {}


def invalidate_read_schema_cache(path: str | None = None) -> None:
    """Drop cached sink schemas (one path, or all when ``path is None``).

    The cache is keyed by path forever; a sink deleted and recreated with
    a different schema in the same process — or compacted in place —
    would otherwise be read with the stale schema. Compaction and stream
    start call this; callers that rewrite a sink themselves should too.
    """
    if path is None:
        _READ_SCHEMA_CACHE.clear()
    else:
        _READ_SCHEMA_CACHE.pop(path, None)


def _read_parquet_cached_schema(spark, path: str) -> DataFrame:
    reader = spark.read
    cached = _READ_SCHEMA_CACHE.get(path)
    if cached is not None:
        reader = reader.schema(cached)
    df = reader.parquet(path)
    if cached is None:
        _READ_SCHEMA_CACHE[path] = df.schema
    return df


def stream_exact_dedup(
    pages_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop exact re-crawls within the watermark horizon.

    State is bounded by the watermark: a duplicate arriving later than the
    horizon re-emits (acceptable for dedup-before-training workloads —
    the batch dedup pass downstream catches stragglers).
    """
    fingerprinted = pages_stream.withColumn(
        "fingerprint", F.md5(F.col(text_col))
    ).withWatermark(ts_col, watermark)
    return fingerprinted.dropDuplicatesWithinWatermark(["fingerprint"])


def stream_stateful_first_seen(
    pages_stream: DataFrame,
    key_col: str = "lang",
    text_col: str = "text",
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator: emit only first-seen content per group.

    ``applyInPandasWithState`` keeps the set of content fingerprints seen
    per ``key_col`` group (e.g. crawl shard / language) and suppresses
    re-occurrences across micro-batches — unlike the watermarked variant,
    the suppression horizon is unbounded (state grows with distinct
    content per group; shard the key accordingly). Pass
    ``state_timeout_ms`` to add a processing-time TTL — note that
    processing-time timeouts make ``availableNow`` triggers run state-
    cleanup batches until the TTL fires, so TTLs suit continuous
    (long-lived) queries, not drain-and-stop runs.
    """
    import hashlib

    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType(), True),
            StructField("fingerprint", StringType(), True),
            StructField(text_col, StringType(), True),
        ]
    )
    state_schema = StructType(
        [StructField("seen", StringType(), True)]  # ';'-joined fingerprints
    )

    def first_seen(key, pdf_iter, state: GroupState):
        seen = set()
        if state.exists:
            (joined,) = state.get
            if joined:
                seen = set(joined.split(";"))
        rows = []
        for pdf in pdf_iter:
            for text in pdf[text_col]:
                fp = hashlib.md5(str(text).encode()).hexdigest()
                if fp not in seen:
                    seen.add(fp)
                    rows.append(
                        {
                            "key": key[0],
                            "fingerprint": fp,
                            text_col: text,
                        }
                    )
        state.update((";".join(sorted(seen)),))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(rows, columns=["key", "fingerprint", text_col])

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return pages_stream.groupBy(F.col(key_col)).applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def _resolve_corpus_index(spark, keys_path: str, batch_id: int):
    """(bulk_keys, fresh_keys_or_None) for delta blocking.

    With no compaction manifest: the whole parquet index (minus the
    current batch's own partition). With one: the bucketed table as the
    bulk side plus only the appends NEWER than the compaction watermark —
    the shape block_delta keeps exchange-free on the bulk side.
    """
    import json
    from pathlib import Path

    manifest_file = Path(keys_path) / "_compaction.json"
    raw = _read_parquet_cached_schema(spark, keys_path).filter(
        F.col("_batch") != batch_id
    )
    if not manifest_file.is_file():
        return raw, None
    manifest = json.loads(manifest_file.read_text())
    table = manifest["table"]
    if not spark.catalog.tableExists(table):
        return raw, None
    bulk = spark.table(table)
    if "_batch" in bulk.columns:
        bulk = bulk.filter(F.col("_batch") != batch_id)
    fresh = raw.filter(F.col("_batch") > manifest["max_batch"])
    return bulk, fresh


def link_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    edges_path: str,
    keys_path: str,
    max_block_size: int | None = 1000,
    hot_key_strategy: str = "salt",
) -> None:
    """Link one micro-batch of pages against the accumulated corpus.

    IDEMPOTENT: every sink write lands in a ``_batch=<id>`` partition
    directory with mode=overwrite, so a foreachBatch RETRY of the same
    batch replaces its own partial output instead of double-appending
    (parquet append in foreachBatch is the classic at-least-once
    pitfall). Reads for dedup/blocking exclude the current batch's own
    partition, so a retry sees exactly the pre-batch state.
    """
    from pyspark.sql.window import Window

    from bib_dedupe_spark import block, prep
    from bib_dedupe_spark.operators.block import block_delta, corpus_key_table
    from bib_dedupe_spark.operators.match import match
    from bib_dedupe_spark.sources.webpages import records_from_webpages

    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return
    # corpus ID uniqueness (ID := url): FIRST capture wins. Re-crawls
    # of a url already linked carry the same entity identity, so a
    # duplicate ID would only fan out enrichment joins and violate
    # the ID_1 < ID_2 pair invariant. Within the batch keep the
    # earliest warc_ts per url (per-url window — no global shuffle
    # skew: partitionBy bounds each partition to one url's captures).
    batch_df = (
        batch_df.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("url").orderBy("warc_ts")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    prepared_batch = prep(records_from_webpages(batch_df), validate=False)

    try:
        # exclude this batch's own (possibly partial, failed-attempt)
        # partition: a retry must see the pre-batch corpus
        corpus = _read_parquet_cached_schema(spark, corpus_path).filter(
            F.col("_batch") != batch_id
        )
        if _corpus_is_empty(corpus, corpus_path, batch_id):
            corpus = None
    except Exception:
        corpus = None

    if corpus is not None:
        # drop urls already in the corpus (first capture wins) so the
        # accumulating corpus keeps exactly one row per ID
        prepared_batch = prepared_batch.join(
            corpus.select("ID"), "ID", "left_anti"
        )

    # the prepared batch feeds FOUR consumers (the delta-block key join +
    # enrichment, the corpus write, and the key-index write) — without a
    # persist each one re-runs the prep Arrow UDF over the batch
    from pyspark.storagelevel import StorageLevel

    prepared_batch = prepared_batch.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if prepared_batch.limit(1).count() == 0:
            # nothing new in this batch (all urls already linked)
            return

        # SEVER the per-batch lineage through the corpus write that has
        # to happen anyway: every DataFrame transformation eagerly
        # re-ANALYZES its whole logical plan, so feeding the blocking +
        # match chain (~a dozen transformations) from the deep
        # stream-source → prep-UDF → window → anti-join tree costs
        # seconds of driver-serial time PER MICRO-BATCH (measured ~2 s
        # at 8 cores — the plan, not the data, is what's slow; the data
        # is cached). Writing first and reading the sealed partition
        # back gives the downstream consumers a two-node parquet-scan
        # plan, costs no extra storage (the write is required output),
        # and unlike localCheckpoint is fault-tolerant and needs no
        # GC-dependent block cleanup. Retry-safe: a failed later step
        # re-enters with mode=overwrite replacing this same partition,
        # and all corpus/key reads exclude _batch=<this id>.
        prepared_batch.write.mode("overwrite").parquet(
            f"{corpus_path}/_batch={batch_id}"
        )
        sealed_batch = spark.read.schema(prepared_batch.schema).parquet(
            f"{corpus_path}/_batch={batch_id}"
        )

        if corpus is not None:
            # delta blocking against the persisted key INDEX: candidate
            # generation is batch-keys (broadcast) ⋈ corpus_keys — the
            # corpus is never re-exploded, and corpus-internal pairs
            # (handled by earlier batches) are never regenerated. When a
            # compaction manifest exists, the bulk of the index comes from
            # the (rule_idx, key)-bucketed table and only the newer
            # appends are read from parquet (small-files fix +
            # exchange-free join shape for non-broadcast batches).
            corpus_keys, fresh_keys = _resolve_corpus_index(
                spark, keys_path, batch_id
            )
            # max_block_size now applies to EVERY batch, not just batch
            # 0's full block: the salted within-batch join bounds
            # degenerate-key groups (pair set unchanged). block_caches
            # collects the crossing-refinement's per-batch persists
            # (hot-group + prefix tables) — released with the other
            # batch caches below.
            block_caches: list = []
            pairs = block_delta(
                sealed_batch,
                corpus_keys,
                corpus.drop("_batch"),
                fresh_corpus_keys=fresh_keys,
                max_block_size=max_block_size,
                hot_key_strategy=hot_key_strategy,
                cache_out=block_caches,
            )
        else:
            block_caches = []
            pairs = block(
                sealed_batch,
                max_block_size=max_block_size,
                hot_key_strategy=hot_key_strategy,
            )

        # cache_out: the staged match persists an internal stage-1 frame;
        # a long-running stream must release it per batch or caches
        # accumulate
        batch_caches: list = []
        matched = match(pairs, cache_out=batch_caches)
        matched.write.mode("overwrite").parquet(
            f"{edges_path}/_batch={batch_id}"
        )
        # maintain the blocking-key index alongside the corpus
        corpus_key_table(sealed_batch).write.mode("overwrite").parquet(
            f"{keys_path}/_batch={batch_id}"
        )
        for df in batch_caches:
            df.unpersist()
        for df in block_caches:
            df.unpersist()
    finally:
        prepared_batch.unpersist()


def _corpus_is_empty(corpus: DataFrame, corpus_path: str, batch_id: int) -> bool:
    """Is the (batch-excluded) corpus empty — without a Spark job if
    possible.

    The corpus sink is ``_batch=<id>``-partitioned and only non-empty
    batches are written, so on a local filesystem the partition
    directories answer exactly; remote/object-store paths fall back to
    the one-row Spark probe (a per-batch job, ~0.5 s driver latency).
    """
    import os

    if os.path.isdir(corpus_path):
        own = f"_batch={batch_id}"
        for e in os.scandir(corpus_path):
            if not (e.name.startswith("_batch=") and e.name != own):
                continue
            # a crashed prior write can leave the partition dir with no
            # committed part files — require at least one data file
            # before declaring the corpus non-empty (parity with the
            # row-based probe this path replaces)
            with os.scandir(e.path) as inner:
                if any(
                    f.name.startswith("part-") and not f.name.endswith(".crc")
                    for f in inner
                ):
                    return False
        return True
    return corpus.limit(1).count() == 0


def run_incremental_linkage(
    pages_stream: DataFrame,
    corpus_path: str,
    edges_path: str,
    checkpoint_dir: str,
    max_block_size: int | None = 1000,
    hot_key_strategy: str = "salt",
):
    """foreachBatch incremental linkage against an accumulating corpus.

    Each micro-batch of web pages is extracted to the record model and
    prepped; candidate pairs are generated ONLY between the batch and the
    previously accumulated prepared corpus plus within the batch (never
    corpus × corpus again) — the streaming analogue of delta blocking.
    Matched duplicate/maybe edges land under ``edges_path``; the prepared
    batch under ``corpus_path``, and its exploded blocking keys under
    ``<corpus_path>_keys`` — the persisted index that keeps per-batch
    candidate generation O(|batch|) instead of O(|corpus|). All three are
    ``_batch=<id>``-partitioned overwrites: retries are idempotent (see
    :func:`link_batch`).
    """
    keys_path = corpus_path.rstrip("/") + "_keys"
    # a fresh stream run may follow a delete-and-recreate of the sinks;
    # never let it start from a stale cached schema
    for p in (corpus_path, edges_path, keys_path):
        invalidate_read_schema_cache(p)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        link_batch(
            batch_df,
            batch_id,
            corpus_path,
            edges_path,
            keys_path,
            max_block_size=max_block_size,
            hot_key_strategy=hot_key_strategy,
        )

    return (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def stream_host_rates(
    pages_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Watermarked event-time window: pages per host per window.

    Crawl-rate observability for the streaming path (the batch analogue
    is ``textops.urls.host_doc_counts``): late captures inside the
    watermark horizon still land in their window; state is bounded by
    the watermark. Partial aggregation applies — at 10^12 pages/day the
    shuffle carries one row per (host, window) per task, not per page.
    """
    from bib_dedupe_spark.textops.urls import url_host

    return (
        pages_stream.withColumn("host", url_host(url_col))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("host"))
        .agg(
            F.count("*").alias("n_pages"),
            F.approx_count_distinct(url_col).alias("n_urls_approx"),
        )
    )
