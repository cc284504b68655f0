#!/usr/bin/env python3
"""Crossover of connected_components' two paths: single-task DFS vs
distributed CC, the bound behind ``SINGLE_TASK_MAX_EDGES``.

Times ``cluster()`` on synthetic labeled edge lists of several sizes,
once with every edge in one DFS task (``single_task_max_edges`` above the
size) and once forced onto distributed connected components
(``single_task_max_edges=0``); cluster() passes the bound through to
``connected_components``' size gate. The edges form disjoint duplicate clusters
of 2-5 records, the shape dedupe produces and the one on which CC needs
the fewest rounds; search sets are empty, so the distributed path skips
conflict detection. Both choices favor the distributed path, so the
measured crossover is a lower bound.

Every measurement runs in its own fresh JVM at ``local[2]`` with a 2 GB
driver heap (the benchmark's session), after both paths were warmed on a
4-edge graph; the two paths alternate order between repeats. Host load
and the kernel gauge (``bench.run_kernels``'s
``abstract_exact_900x1400_ms``) are recorded before each repeat.

    python scripts/cluster_crossover.py [--edges 10000,100000,300000,1000000]
                                        [--repeats 3]

Prints one JSON line per measurement, then a median table.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PATHS = {"single": 10**12, "distributed": 0}


def _matched_frame(spark, n_edges: int, seed: int):
    import random

    import pandas as pd

    # duplicate-cluster shape: disjoint clusters of 2-5 records, each a
    # chain plus one closing edge from 3 members on (few CC rounds: the
    # distributed path's best case)
    rng = random.Random(seed)
    pairs = []
    node = 0
    while len(pairs) < n_edges:
        members = list(range(node, node + rng.randint(2, 5)))
        node += len(members)
        rng.shuffle(members)
        links = list(zip(members, members[1:]))
        if len(members) > 2:
            links.append((members[0], members[-1]))
        pairs.extend((min(a, b), max(a, b)) for a, b in links)
    pairs = pairs[:n_edges]
    pdf = pd.DataFrame(
        [(f"{a:08d}", f"{b:08d}") for a, b in sorted(pairs)],
        columns=["ID_1", "ID_2"],
    )
    pdf["search_set_1"] = ""
    pdf["search_set_2"] = ""
    pdf["duplicate_label"] = "duplicate"
    return spark.createDataFrame(pdf).persist()


def child(n_edges: int, path: str, seed: int) -> dict:
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from bib_dedupe_spark.operators.cluster import cluster
    from bib_dedupe_spark.session import get_spark

    spark = get_spark(app_name="cluster-crossover", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    tiny = _matched_frame(spark, 4, seed)
    for bound in PATHS.values():
        cluster(tiny, single_task_max_edges=bound).write.format("noop").mode(
            "overwrite"
        ).save()
    matched = _matched_frame(spark, n_edges, seed)
    matched.count()
    sc = spark.sparkContext
    sc.setJobGroup("timed", "cluster")
    t0 = time.perf_counter()
    cluster(matched, single_task_max_edges=PATHS[path]).write.format(
        "noop"
    ).mode("overwrite").save()
    wall = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup("timed"))
    spark.stop()
    return {"edges": n_edges, "path": path, "wall_s": round(wall, 3), "jobs": jobs}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", default="10000,100000,300000,1000000")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--child", nargs=3, metavar=("EDGES", "PATH", "SEED"))
    args = ap.parse_args()
    if args.child:
        n, path, seed = args.child
        print(json.dumps(child(int(n), path, int(seed))))
        return

    sys.path.insert(0, str(ROOT))
    from bench import run_kernels

    sizes = [int(s) for s in args.edges.split(",")]
    rows = []
    for rep in range(args.repeats):
        host = {
            "load_1m": round(os.getloadavg()[0], 2),
            "gauge_ms": run_kernels()["abstract_exact_900x1400_ms"],
        }
        order = list(PATHS) if rep % 2 == 0 else list(reversed(PATHS))
        for n in sizes:
            for path in order:
                out = subprocess.run(
                    [sys.executable, __file__, "--child", str(n), path, str(rep)],
                    cwd=ROOT,
                    env={**os.environ, "PYTHONPATH": str(ROOT)},
                    capture_output=True,
                    text=True,
                    check=True,
                )
                row = {**json.loads(out.stdout.strip().splitlines()[-1]),
                       "repeat": rep, **host}
                rows.append(row)
                print(json.dumps(row), flush=True)

    print("\n| edges | single-task DFS s | distributed CC s | jobs (single / distributed) |")
    print("|---|---|---|---|")
    for n in sizes:
        med = {}
        jobs = {}
        for path in PATHS:
            mine = [r for r in rows if r["edges"] == n and r["path"] == path]
            med[path] = statistics.median(r["wall_s"] for r in mine)
            jobs[path] = mine[0]["jobs"]
        print(
            f"| {n:,} | {med['single']:.2f} | {med['distributed']:.2f} "
            f"| {jobs['single']} / {jobs['distributed']} |"
        )


if __name__ == "__main__":
    main()
