#!/usr/bin/env python3
"""The repository's benchmark: one command, every metric, checked outputs.

    python3 perfbench/run.py --workload <bib_batch|harness_queries> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one fresh process with one
Spark session from the program's own ``session.get_spark`` at local[2];
everything it writes stays under ``.perfbench_work/`` and is removed at
the end. ``--trace 0`` measures the end-to-end metrics, ``--trace 1`` the
per-layer metrics (a separate process, so tracing never touches the
end-to-end figures). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
the line before it carries what is measured but not gated (unit walls,
peak memory) and host context (load, stolen CPU, kernel gauge).

A workload module supplies its inputs and its unit of work; this file runs
every workload the same way: set-up, a cold unit in the fresh JVM, then
the timed units (``--trace 0``) or a traced, an untraced and a traced unit
(``--trace 1``). Each unit's output is checked after the unit has ended.
"""
from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("bib_batch", "harness_queries")
# a run must end within 180 s; give up early enough to clean up
DEADLINE_S = 165
# one timed unit per this many seconds of --seconds: the count depends on
# the run length alone, so both sides of a comparison run the same units
UNIT_NOMINAL_S = 10.0

BIB_FIELDS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "driver_gap_s": "s",
    "task_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "rows_out": "count",
}
BIB_EXTRA = {
    "block.recall": "frac",
    "block.pair_yield": "frac",
    "block.hot_keys": "count",
    "match.undecided_frac": "frac",
    "cluster.components_out": "count",
}
# per workload: the prefix of its span metrics and the fields each reports
SPAN_METRICS = {
    "bib_batch": ("", BIB_FIELDS),
    "harness_queries": ("harness.", {"wall_s": "s", "jobs": "count"}),
}
END_TO_END = {
    "setup_s": "s",
    "jobs_per_unit": "count",
    "quality": "frac",
    "success_rate": "frac",
}


def per_layer_units() -> dict:
    units = {
        "session.start_s": "s",
        "session.input_s": "s",
        "unit.cold_s": "s",
        "unit.warm_s": "s",
    }
    for name, (prefix, fields) in SPAN_METRICS.items():
        for span in importlib.import_module(f"perfbench.{name}").SPANS:
            for field, unit in fields.items():
                units[f"{prefix}{span}.{field}"] = unit
        if name == "bib_batch":
            units.update(BIB_EXTRA)
    units.update(
        {"host.load_1m": "load", "host.gauge_ms": "ms",
         "trace.overhead_frac": "frac"}
    )
    return units


def run_units(ctx, workload) -> dict:
    """Set-up and every unit of one run; a failed unit counts as missing."""
    from perfbench.tracer import LayerTracer

    spark = ctx.start_session()
    if ctx.trace:
        kinds = ["cold", "t0", "untraced", "t1"]
    else:
        kinds = ["cold"] + ["timed"] * max(1, round(ctx.seconds / UNIT_NOMINAL_S))
    t_in = time.time()
    state = workload.stage(ctx, spark, len(kinds))
    ctx.input_s = time.time() - t_in
    ctx.setup_done()

    tracer = LayerTracer(spark)
    done, qualities, extra, failed = {}, [], {}, 0
    for index, kind in enumerate(kinds):
        traced = kind in ("t0", "t1")
        try:
            with tracer.span("unit", f"u{index}") as sp:
                out = workload.unit(
                    spark, state, index, tracer if traced else None, kind
                )
            q = workload.quality(spark, state, index, out)
            if q is not None:
                qualities.append(q)
            if kind == "t1":
                extra = workload.layer_extra(state, index, out)
            done.setdefault(kind, []).append(sp)
        except Exception as exc:
            failed += 1
            ctx.log(f"{ctx.workload} unit {index} ({kind}) failed: {exc!r}")
        finally:
            spark.catalog.clearCache()

    quality = min(qualities) if qualities else 0.0
    gate = bool(qualities) and quality >= workload.GATE and failed == 0
    if ctx.trace and gate:
        first, second = tracer.by_tag("t0"), tracer.by_tag("t1")
        repeat = all(first[n].jobs == second[n].jobs for n in workload.SPANS)
        if not repeat:
            ctx.log(
                "job counts differ between traced units: "
                + str({n: (first[n].jobs, second[n].jobs)
                       for n in workload.SPANS})
            )
        gate = repeat
    return {
        "attempted": len(kinds),
        "failed": failed,
        "gate": gate,
        "quality": quality,
        "units": done,
        "spans": tracer.by_tag("t1"),
        "layer_extra": extra,
    }


def _layer_values(ctx, workload, result: dict) -> dict:
    """Per-layer metrics of a traced run. A layer the workload never calls
    reads 0: it did no work."""
    from perfbench.tracer import event_log_stats, layer_metrics

    log = event_log_stats(ctx.path("eventlog"))
    values = {name: 0.0 for name in per_layer_units()}
    values["session.start_s"] = ctx.session_start_s
    values["session.input_s"] = ctx.input_s
    if not result["gate"]:
        return values  # a unit failed or was wrong: nothing to attribute
    units = result["units"]
    # wall times of the traced run's untraced units: too noisy on a shared
    # host to gate on, kept here as per-layer evidence
    values["unit.cold_s"] = units["cold"][0].wall_s
    values["unit.warm_s"] = units["untraced"][0].wall_s
    prefix, fields = SPAN_METRICS[ctx.workload]
    for name in workload.SPANS:
        rec = layer_metrics(result["spans"][name], log)
        for field in fields:
            values[f"{prefix}{name}.{field}"] = rec[field]
    values.update(result["layer_extra"])
    traced = [sp.wall_s for sp in units["t0"] + units["t1"]]
    # traced, untraced, traced: the JVM's warm-up trend cancels out
    values["trace.overhead_frac"] = (
        sum(traced) / len(traced) / units["untraced"][0].wall_s - 1.0
    )
    return values


def _parse_args(argv: list):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bib_dedupe_spark", "__init__.py")):
        print(
            "perfbench: no bib_dedupe_spark package in the working directory;"
            " run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    for path in (root, os.path.dirname(HERE)):
        if path not in sys.path:
            sys.path.insert(0, path)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)

    from perfbench.common import (
        Run,
        cpu_jiffies,
        kernel_gauge_ms,
        median,
        steal_frac,
    )

    ctx = Run(root, args.workload, args.seed, args.seconds, bool(args.trace),
              T_PROCESS)
    try:
        workload = importlib.import_module(f"perfbench.{args.workload}")
        try:
            result = run_units(ctx, workload)
        finally:
            ctx.close()
        steal = steal_frac(ctx.cpu_start, cpu_jiffies())
        load_end = os.getloadavg()[0]
        gauge = kernel_gauge_ms()
        if args.trace:
            metrics = _layer_values(ctx, workload, result)
            metrics["host.load_1m"] = max(ctx.load_start, load_end)
            metrics["host.gauge_ms"] = gauge
            units = per_layer_units()
        else:
            untraced = result["units"].get("cold", []) + result[
                "units"
            ].get("timed", [])
            metrics = {
                "setup_s": ctx.setup_s,
                "jobs_per_unit": (
                    median([sp.jobs for sp in untraced]) if untraced else 0.0
                ),
                "quality": result["quality"],
                "success_rate": (
                    (result["attempted"] - result["failed"])
                    / result["attempted"]
                ),
            }
            units = END_TO_END
    except BaseException:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        ctx.cleanup()

    walls = result["units"]
    print(
        json.dumps(
            {
                "context": {
                    "workload": args.workload,
                    "seed": args.seed,
                    "trace": args.trace,
                    "load_1m_start": ctx.load_start,
                    "load_1m_end": load_end,
                    "gauge_ms": gauge,
                    "steal_frac": steal,
                    workload.QUALITY: result["quality"],
                    "cold_s": walls["cold"][0].wall_s if "cold" in walls else None,
                    "warm_s": [
                        sp.wall_s
                        for kind in ("timed", "untraced")
                        for sp in walls.get(kind, [])
                    ],
                    "peak_rss_mb": ctx.rss.peak_mb,
                }
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": result["gate"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    name: {"value": float(metrics[name]), "unit": unit}
                    for name, unit in units.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
