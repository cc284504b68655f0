"""bib_dedupe_spark — a PySpark-native record-linkage / deduplication engine.

From-scratch re-implementation of the capabilities of
CoLRev-Environment/bib-dedupe (reference at /root/reference, studied for
behavior only) as idiomatic Spark: declarative DataFrame plans, Arrow-
batched pandas UDFs for the string kernels, a distributed
large-star/small-star connected-components loop, and groupBy/applyInPandas
survivorship — designed for multi-executor clusters at web scale.

Pipeline:  prep → block → match (sim + rules) → cluster → merge

Companion surfaces: textops (minhash/simhash/jaccard dedup, cosine /
LSH / IVF similarity search, quality + language + fingerprint analysis,
multimodal column plumbing), streaming (watermarked + stateful dedup,
incremental delta-blocking linkage), lineage (resumable checkpoints +
per-partition metrics).
"""
from __future__ import annotations

from pyspark.sql import DataFrame

from bib_dedupe_spark.operators.block import block
from bib_dedupe_spark.operators.cluster import cluster, connected_components
from bib_dedupe_spark.operators.match import match
from bib_dedupe_spark.operators.maybe import export_maybe, import_maybe
from bib_dedupe_spark.operators.merge import merge
from bib_dedupe_spark.operators.prep import prep
from bib_dedupe_spark.operators.sim import score

__all__ = [
    "prep",
    "block",
    "score",
    "match",
    "cluster",
    "merge",
    "dedupe",
    "export_maybe",
    "import_maybe",
]

__version__ = "0.1.0"


def dedupe(records_df: DataFrame, max_block_size: int | None = 1000) -> DataFrame:
    """One-shot pipeline: raw records → merged records.

    Mirrors the reference's ``merge(records_df)`` entry point
    (/root/reference/bib_dedupe/bib_dedupe.py:144-176).
    """
    prepared = prep(records_df)
    pairs = block(prepared, max_block_size=max_block_size)
    # feeds clustering + search-set maps; a checkpoint, not a persist(),
    # so AQE can reuse exchanges over it (see block.candidate_pairs).
    # Nothing reads match's stage-1 cache once the checkpoint holds it.
    match_caches: list = []
    try:
        matched = match(pairs, cache_out=match_caches).localCheckpoint()
    finally:
        for cached in match_caches:
            cached.unpersist()
    components = cluster(matched)
    return merge(records_df, components)
