#!/usr/bin/env python3
"""Seeded benchmark for metaprofi_spark.

    python3 perfbench/run.py --workload <build_append_search|sketch_dedup>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  It starts a local Spark session
on every core of the host, makes the workload's inputs from the seed,
and runs the workload's rounds of calls, checking every result: its
warm-up rounds, then measured rounds until ``--seconds`` have passed
(at least MIN_MEASURED_ROUNDS).  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).  The line before it holds diagnostics: input
properties, host calibration and the per-call figures under their
long names.  Everything the run writes goes under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
MIN_MEASURED_ROUNDS = 2


def driver_memory() -> str:
    """A quarter of the host's RAM, between 1 and 6 GiB, for the driver heap
    (local mode: the driver JVM also runs every executor thread)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(max(kb // 4096, 1024), 6144)}m"


def calibrate() -> float:
    """Milliseconds of a fixed numpy loop, to show the host's CPU allotment."""
    import numpy as np

    a = np.random.default_rng(0).random(1 << 20)
    walls = []
    for _ in range(7):
        t = time.perf_counter()
        np.sort(a)
        walls.append(time.perf_counter() - t)
    return statistics.median(walls) * 1e3


def start_spark(cores: int):
    from metaprofi_spark.plans.session import get_spark

    spark = get_spark(cores=cores, app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and its python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # the JVM did not exit on its own
            proc.kill()
            proc.wait()


def metric(value, unit: str) -> dict:
    return {"value": value if isinstance(value, (int, float)) and math.isfinite(value) else None,
            "unit": unit}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import SLOTS, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        import metaprofi_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    tmp = os.path.join(WORK, "tmp")
    # every JVM spark-submit starts (its launcher too) keeps its temp
    # files in the checkout and writes no perf-data file to /tmp
    os.environ.update(TMPDIR=tmp, JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                      SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
                      SPARK_DRIVER_MEMORY=driver_memory())
    cores = len(os.sched_getaffinity(0))
    calibration_ms = calibrate()

    from perfbench import layers
    from perfbench.tracing import Tracer
    from perfbench.workloads import Run

    t = time.perf_counter()
    spark = start_spark(cores)
    session_s = time.perf_counter() - t
    try:
        run = Run(spark, args.seed, WORK, Tracer(spark, cores))
        setup_walls = []
        for _ in range(SETUP_REPS):
            wl = WORKLOADS[args.workload]()
            t = time.perf_counter()
            wl.setup(run)
            setup_walls.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(setup_walls)

        # warm-up rounds are checked but not sampled; measured rounds run
        # until --seconds have passed.  A traced run alternates untraced
        # and traced measured rounds, so the difference of their walls is
        # the tracing overhead; its extra round puts an untraced round on
        # each side of the traced one, so a leftover warm-up trend cancels
        run.warmup_rounds = wl.warmup_rounds
        min_rounds = wl.warmup_rounds + MIN_MEASURED_ROUNDS + args.trace
        round_walls = {False: [], True: []}
        deadline = None
        while run.rounds < min_rounds or time.perf_counter() < deadline:
            measured = run.rounds - wl.warmup_rounds
            if measured == 0:
                deadline = time.perf_counter() + args.seconds
            run.tracer.active = bool(args.trace) and measured % 2 == 1
            with run.tracer.span(f"round{run.rounds}") as sp:
                wl.round(run)
            if measured >= 0:
                round_walls[run.tracer.active].append(sp.end - sp.start)
            run.rounds += 1
        run.tracer.active = False

        corpus = wl.corpus
        diag = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "host_calibration_ms": calibration_ms,
            "inputs": {"doc_offset": corpus.offset, "docs": len(corpus.docs),
                       "append_docs": len(corpus.append), "text_bytes": corpus.text_bytes,
                       "kgram_insertions": corpus.kgram_insertions,
                       "near_dup_share": len(corpus.planted) / (len(corpus.docs) - len(corpus.planted))},
            "calls": wl.calls, "rounds": run.rounds,
            "session_s": session_s, "setup_walls": setup_walls,
            "samples": run.samples, "named_metrics": wl.named_metrics(run),
        }
        if args.trace:
            metrics = run.tracer.session_metrics(SLOTS)
            metrics.update(layers.kernel_metrics())
            metrics.update(layers.layer_sweep(run, corpus))
            metrics.update({
                "sources.generate_s": statistics.median(run.generate_walls),
                "sources.text_bytes": corpus.text_bytes,
                "sources.kgram_insertions": corpus.kgram_insertions,
                "trace.overhead_s": statistics.median(round_walls[True]) - statistics.median(round_walls[False]),
                "trace.collect_s": run.tracer.collect_s,
            })
            trace_file = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            run.tracer.write(trace_file, {"diagnostics": diag})
            diag["trace_file"] = os.path.relpath(trace_file, ROOT)
            units = {k: layer_unit(k) for k in metrics}
        else:
            metrics = {"setup_s": setup_s, **{f"{s}_s": run.median(s) for s in SLOTS}}
            units = dict.fromkeys(metrics, "s")
    finally:
        stop_spark(spark)
        for store in ("store", "layer_store"):
            shutil.rmtree(os.path.join(WORK, store), ignore_errors=True)

    print(json.dumps({"perfbench": diag}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: metric(v, units[k]) for k, v in metrics.items()},
    }))
    return 0


def layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if "_ns_per_" in leaf:
        return "ns"
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if leaf.endswith(("ratio", "recall")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
