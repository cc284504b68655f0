"""Hot-key refinement probe: block wall + volumes, refined vs salted.

Usage: python scripts/refine_probe.py [n_base] [vocab]

    n_base  corpus scale (default 150000)
    vocab   dense | zipf   (default zipf)

``dense`` keeps the synthetic generator's ~34-word title vocabulary —
the adversarial case for prefix filtering (every pair shares words), in
which the cost-based router must FALL BACK to the salted join.
``zipf`` rewrites titles from a 5000-word Zipf(1.07) vocabulary — the
realistic web/bibliographic shape where prefixes are rare and the word
join wins.

Each mode (refined on/off) runs the block stage in its OWN subprocess
JVM (fair timing on a co-tenanted host) and prints an order-independent
pair-set signature (count + bit_xor of row hashes); the outer process
asserts the signatures agree and reports both walls plus hot-key
routing stats.
"""
from __future__ import annotations

import hashlib
import json
import math
import os
import random
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ZIPF_VOCAB = 5000
ZIPF_S = 1.07


def _zipf_titles(records: list) -> None:
    """Rewrite titles from a Zipf vocabulary, deterministically per base
    title (case/markup variants of one title map to one new title)."""
    pool = [f"w{i:04d}" for i in range(ZIPF_VOCAB)]
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(ZIPF_VOCAB)]
    cache: dict = {}
    for rec in records:
        base = rec["title"].lower().strip()
        if base not in cache:
            seed = int(hashlib.md5(base.encode()).hexdigest()[:12], 16)
            rng = random.Random(seed)
            n = rng.randint(6, 12)
            cache[base] = " ".join(
                rng.choices(pool, weights=weights, k=n)
            ).capitalize()
        rec["title"] = cache[base]


def inner(n_base: int, vocab: str, refine: bool) -> None:
    import pandas as pd

    from bib_dedupe_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = get_spark(
        app_name=f"refine-probe-{refine}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, n_base // 2500),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from bib_dedupe_spark import prep
    from bib_dedupe_spark.operators.block import (
        REFINE_COST_RATIO,
        REFINE_MIN_QUAD_PAIRS,
        SALT_BUCKET_SIZE,
        _RTO_RULE_IDXS,
        _refine_base,
        _word_prefix_tables,
        block,
        blocking_key_stats,
        corpus_key_table,
    )
    from bib_dedupe_spark.sources.synthetic import generate

    records, _ = generate(n_base=n_base, seed=17)
    if vocab == "zipf":
        _zipf_titles(records)
    rdf = spark.createDataFrame(pd.DataFrame(records)).repartition(cpus * 2)
    prepared = prep(rdf).persist()
    n_records = prepared.count()
    max_block_size = 2000
    salt_threshold = min(max_block_size, SALT_BUCKET_SIZE)

    t0 = time.time()
    caches: list = []
    pairs = block(
        prepared,
        max_block_size=max_block_size,
        cache_out=caches,
        # an infinite volume floor keeps every hot key on the salted join
        refine_min_quad=None if refine else math.inf,
    ).persist()
    n_pairs = pairs.count()
    wall = time.time() - t0
    for df in caches:
        df.unpersist()

    sig = (
        pairs.select(
            F.xxhash64("ID_1", "ID_2", "block_rule").alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("x"))
        .first()["x"]
    )

    out = {
        "mode": "refined" if refine else "salted",
        "records": n_records,
        "pairs": n_pairs,
        "signature": int(sig) if sig is not None else 0,
        "block_s": round(wall, 1),
        "load_1m": round(os.getloadavg()[0], 2),
    }

    if refine:
        # routing stats: how many hot rto keys the cost model sent to
        # the word join vs back to the salted join
        stats = blocking_key_stats(prepared)
        hot = stats.filter(
            (F.col("group_size") > salt_threshold)
            & F.col("rule_idx").isin(list(_RTO_RULE_IDXS))
        ).withColumnRenamed("group_size", "_block_n")
        hot_rows = hot.collect()
        if hot_rows:
            # the same per-key emission estimate candidate_pairs routes on:
            # Σ _wdf over the prefix rows of each hot group
            _words, prefix = _word_prefix_tables(
                _refine_base(
                    corpus_key_table(prepared),
                    spark.createDataFrame(hot_rows, schema=hot.schema),
                )
            )
            est = {
                (r["rule_idx"], r["key"]): r["_est"]
                for r in prefix.groupBy("rule_idx", "key")
                .agg(F.sum("_wdf").alias("_est"))
                .collect()
            }
            routed = fallback = 0
            raw_hot = est_word = 0
            # aggregate floor first (matches candidate_pairs): below it
            # the whole set goes to salt; above it, per-key est routing
            total_quad = sum(
                r["_block_n"] * (r["_block_n"] - 1) / 2 for r in hot_rows
            )
            floor_passed = total_quad >= REFINE_MIN_QUAD_PAIRS
            for r in hot_rows:
                n = r["_block_n"]
                e = est.get((r["rule_idx"], r["key"]), 0)
                raw_hot += n * (n - 1) // 2
                if (
                    floor_passed
                    and e < REFINE_COST_RATIO * n * (n - 1) / 2
                ):
                    routed += 1
                    est_word += e
                else:
                    fallback += 1
                    est_word += n * (n - 1) // 2
            out["routing"] = {
                "hot_rto_keys": len(hot_rows),
                "word_routed": routed,
                "salt_fallback": fallback,
                "raw_pairs_allpairs": int(raw_hot),
                "raw_pairs_after_routing": int(est_word),
            }
    print("RESULT " + json.dumps(out), flush=True)
    spark.stop()


def main() -> None:
    if os.environ.get("REFINE_PROBE_MODE"):
        n_base, vocab, refine = (
            int(sys.argv[1]),
            sys.argv[2],
            os.environ["REFINE_PROBE_MODE"] == "refined",
        )
        inner(n_base, vocab, refine)
        return

    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    vocab = sys.argv[2] if len(sys.argv) > 2 else "zipf"
    # best-of-N INTERLEAVED (R,S,R,S): the host is co-tenanted — a
    # back-to-back layout lets one tenant spike land entirely on one
    # mode and flip the comparison (observed 2x both directions)
    passes = int(os.environ.get("REFINE_PROBE_PASSES", "2"))
    results: dict = {}
    loads: dict = {"refined": [], "salted": []}
    for _ in range(passes):
        for mode in ("refined", "salted"):
            env = dict(os.environ, REFINE_PROBE_MODE=mode)
            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    str(n_base),
                    vocab,
                ],
                env=env,
                stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL,
                text=True,
            )
            line = [
                ln
                for ln in proc.stdout.splitlines()
                if ln.startswith("RESULT ")
            ]
            if proc.returncode != 0 or not line:
                raise SystemExit(f"{mode} pass failed rc={proc.returncode}")
            res = json.loads(line[-1][len("RESULT "):])
            loads[mode].append(res["load_1m"])
            prev = results.get(mode)
            if prev is not None:
                assert (res["pairs"], res["signature"]) == (
                    prev["pairs"],
                    prev["signature"],
                ), f"{mode} passes disagree"
            if prev is None or res["block_s"] < prev["block_s"]:
                results[mode] = res

    same = (
        results["refined"]["pairs"] == results["salted"]["pairs"]
        and results["refined"]["signature"] == results["salted"]["signature"]
    )
    print(
        json.dumps(
            {
                "vocab": vocab,
                "records": results["refined"]["records"],
                "passes": passes,
                "pair_sets_identical": same,
                "pairs": results["refined"]["pairs"],
                "block_refined_s": results["refined"]["block_s"],
                "block_salted_s": results["salted"]["block_s"],
                "load_1m_per_pass": loads,
                "routing": results["refined"].get("routing"),
            }
        )
    )
    assert same, "refined and salted pair sets must be identical"


if __name__ == "__main__":
    main()
