"""End-to-end pipeline at larger synthetic scale: stage walls + F1.

Usage: python scripts/scale_e2e.py [n_base] [hot_key_strategy] [max_block_size] [refine] [vocab]

    n_base           corpus scale (default 40000)
    hot_key_strategy salt | drop   (default salt)
    max_block_size   semantic block-size cap (default 2000)
    refine           1 | 0 — 0 keeps every hot key salted
                     (refine_min_quad=inf; default 1)
    vocab            dense | zipf — generator title vocabulary (default dense)

Runs prep -> block -> sim+match -> cluster -> merge on a seeded corpus
with known duplicate pairs and reports per-stage wall time plus pairwise
precision/recall/F1 against the generator's golden pairs. The
correctness claim is scale-invariant (same operators as the sf0.001
entry); this probe shows the WALL-TIME shape at ~10x the bench corpus.
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000
    strategy = sys.argv[2] if len(sys.argv) > 2 else "salt"
    max_block_size = int(sys.argv[3]) if len(sys.argv) > 3 else 2000
    refine = (sys.argv[4] != "0") if len(sys.argv) > 4 else True
    vocab = sys.argv[5] if len(sys.argv) > 5 else "dense"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from bib_dedupe_spark.session import get_spark

    # shuffle partitions scale with the corpus: pair-stage partitions
    # hold O(partition) aggregation state, and 64 partitions at 1M
    # records blew the (local-mode, shared) heap; ~2.5k records/partition
    # keeps per-task state flat as n grows — the local stand-in for what
    # a real cluster gets from dynamic allocation + AQE coalescing
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = get_spark(
        app_name="scale-e2e",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, n_base // 2500),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from bib_dedupe_spark import block, merge, prep
    from bib_dedupe_spark.operators.cluster import cluster
    from bib_dedupe_spark.operators.match import match
    from bib_dedupe_spark.sources.synthetic import generate

    records, golden = generate(n_base=n_base, seed=17, title_vocab=vocab)
    golden = {frozenset(g) for g in golden}
    rdf = spark.createDataFrame(pd.DataFrame(records)).repartition(cpus * 2)

    walls = {}
    t0 = time.time()
    prepared = prep(rdf).persist()
    n_rec = prepared.count()
    walls["prep_s"] = round(time.time() - t0, 1)

    t0 = time.time()
    block_caches: list = []
    pairs = block(
        prepared,
        max_block_size=max_block_size,
        hot_key_strategy=strategy,
        cache_out=block_caches,
        refine_min_quad=None if refine else math.inf,
    ).persist()
    n_pairs = pairs.count()
    walls["block_s"] = round(time.time() - t0, 1)
    for df in block_caches:
        df.unpersist()

    t0 = time.time()
    matched = match(pairs).persist()
    n_edges = matched.count()
    walls["sim_match_s"] = round(time.time() - t0, 1)

    t0 = time.time()
    components = cluster(matched).persist()
    n_nodes = components.count()
    walls["cluster_s"] = round(time.time() - t0, 1)

    t0 = time.time()
    merged = merge(prepared, components)
    n_merged = merged.count()
    walls["merge_s"] = round(time.time() - t0, 1)

    # pairwise quality from final clusters (transitive closure included)
    comp_map = {}
    for r in components.collect():
        comp_map.setdefault(r["component"], []).append(r["ID"])
    found = {
        frozenset((a, b))
        for members in comp_map.values()
        for i, a in enumerate(members)
        for b in members[i + 1 :]
    }
    tp = len(found & golden)
    fp = len(found - golden)
    fn = len(golden - found)
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    # driver-memory evidence (the scale probe's job is to catch driver-
    # side plan/footprint growth before a real cluster does)
    import resource

    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    jvm_used_mb = int((rt.totalMemory() - rt.freeMemory()) / (1024 * 1024))
    py_maxrss_mb = int(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    )
    print(
        json.dumps(
            {
                "records": n_rec,
                "title_vocab": vocab,
                "hot_key_strategy": strategy,
                "max_block_size": max_block_size,
                "refine_hot_keys": refine,
                "candidate_pairs": n_pairs,
                "matched_edges": n_edges,
                "clustered_nodes": n_nodes,
                "merged_rows": n_merged,
                **walls,
                "total_s": round(sum(walls.values()), 1),
                "precision": round(precision, 5),
                "recall": round(recall, 5),
                "f1": round(f1, 5),
                "e2e_records_per_s": round(
                    n_rec / sum(walls.values()), 1
                ),
                "e2e_pairs_per_s": round(
                    n_pairs / sum(walls.values()), 1
                ),
                "jvm_heap_used_end_mb": jvm_used_mb,
                "driver_py_maxrss_mb": py_maxrss_mb,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
