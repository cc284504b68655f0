"""Crossing-side refinement probe: block_delta wall vs corpus size.

Usage: python scripts/cross_refine_probe.py [corpus_sizes_csv] [batch_n]
       (defaults 3000,6000,12000 and 1500)

Builds a DEGENERATE-key corpus with ENTROPIC titles — every record
shares one (author_first, container) blocking key (the webpages-adapter
failure shape), titles drawn from the zipf pool — and measures the
batch×corpus crossing cost of block_delta with the word-join
refinement on vs off (noop sink, best of 2 each, same JVM, interleaved).
This is the regime VERDICT r5 #4 targets: the fan-out join generates
|batch∩key|·|corpus∩key| raw rows per batch while the refined word join
emits only near-survivors. The dense-title regime (where the est router
correctly declines) is covered by incremental_probe INCR_HOT=1.
"""
from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _records(n: int, seed: int, vocab: str = "entropic") -> list:
    """Degenerate blocking key + controllable title entropy.

    ``entropic``: mostly record-unique tokens (surrogate-ish web titles
    — handles, codes, hostnames) with a small shared spine — the regime
    where the word join's emission collapses. ``zipf``: the synthetic
    generator's zipf pool, whose top-heavy frequencies keep emission at
    ~40% of the fan-out (measured) — the est router declines there.
    """
    import random

    from bib_dedupe_spark.sources.synthetic import generate

    records, _ = generate(n_base=n, seed=seed, title_vocab="zipf")
    rng = random.Random(seed * 7 + 1)
    out = []
    for i, r in enumerate(records[:n]):
        r = dict(r)
        r["author"] = "Shared, Sam"      # one degenerate author key
        r["journal"] = "shared venue"    # ... and container key
        r["year"] = "2020"
        if vocab == "entropic":
            uniq = [f"tk{seed}x{i}y{j}" for j in range(6)]
            spine = rng.choice(["report", "notes", "draft"])
            r["title"] = " ".join([spine, *uniq])
        out.append(r)
    return out


def main() -> None:
    sizes = [
        int(s) for s in (sys.argv[1] if len(sys.argv) > 1 else
                         "3000,6000,12000").split(",")
    ]
    batch_n = int(sys.argv[2]) if len(sys.argv) > 2 else 1500
    vocab = os.environ.get("CROSS_PROBE_VOCAB", "entropic")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

    from pyspark.sql import functions as F

    from bib_dedupe_spark import prep
    from bib_dedupe_spark.operators.block import block_delta, corpus_key_table
    from bib_dedupe_spark.session import get_spark

    spark = get_spark(
        app_name="cross-refine-probe",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")

    batch = prep(
        spark.createDataFrame(
            pd.DataFrame(_records(batch_n, seed=17, vocab=vocab))
        ),
        validate=False,
    ).persist()
    batch.count()

    results = []
    for n in sizes:
        corpus = prep(
            spark.createDataFrame(
                pd.DataFrame(_records(n, seed=23, vocab=vocab))
            ).withColumn("ID", F.concat(F.lit("c"), F.col("ID")))
        ).persist()
        corpus.count()
        corpus_keys = corpus_key_table(corpus).persist()
        corpus_keys.count()

        walls = {}
        for _ in range(2):
            # an infinite crossing floor keeps every key on the fan-out
            for mode, floor in (("refined", None), ("fanout", math.inf)):
                caches: list = []
                t0 = time.time()
                block_delta(
                    batch,
                    corpus_keys,
                    corpus,
                    max_block_size=1000,
                    hot_key_strategy="salt",
                    crossing_refine_min_pairs=floor,
                    cache_out=caches,
                ).write.format("noop").mode("overwrite").save()
                w = round(time.time() - t0, 2)
                walls[mode] = min(walls.get(mode, w), w)
                for df in caches:
                    df.unpersist()
        row = {"corpus": n, "batch": batch_n, **walls}
        print(json.dumps(row), flush=True)
        results.append(row)
        corpus.unpersist()
        corpus_keys.unpersist()

    print(json.dumps({"probe": "cross_refine", "rows": results}))


if __name__ == "__main__":
    main()
