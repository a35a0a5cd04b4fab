"""Repo benchmark: one workload per invocation, run from the repository root.

    python3 perfbench/run.py --workload full_suite --seed 1 --seconds 5 --trace 0

Builds a fresh session at local[nproc], generates the workload's inputs from
``--seed``, warms up, then repeats the workload's operation for ``--seconds``
and checks every output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it records the host context (nproc, 1-minute loadavg at start and end, seed,
operation count). Workloads, metrics and the layer map: perfbench/README.md.
All state lives under ``.perfbench_work/<pid>/`` in the repository root and
is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    # BENCHMARK.json is the one catalogue of workloads and metrics
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lk_data_test_spark")):
        print("perfbench: engine package lk_data_test_spark not found", file=sys.stderr)
        return 2

    from perfbench.harness import Bench, host_cores, loadavg_1m, median
    from perfbench.trace import Tracer
    from perfbench.wl_queries import OperatorQueries
    from perfbench.wl_suite import FullSuite

    # one directory per process: a concurrent run cannot delete this one's files
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # keep every temporary file of this process, its JVM and its Python
    # workers inside the work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["LK_ANN_CACHE_DIR"] = os.path.join(work, "ann_cache")

    load_start = loadavg_1m()
    b = Bench(work, args.seed, args.seconds, bool(args.trace))
    wl = {
        "full_suite": FullSuite,
        "operator_queries": OperatorQueries,
    }[args.workload](b)
    try:
        t0 = time.perf_counter()
        b.layers["session.start_s"] = b.start_spark()
        wl.setup()
        setup_s = time.perf_counter() - t0
        times = b.timed_loop(args.workload, wl.op)
        if b.trace:
            tracer = Tracer(b.spark)
            wl.trace(tracer, times)
            b.layers["trace.overhead_s"] = tracer.cost_s
        b.layers["mem.peak_rss_mb"] = b.peak_rss_mb()
    finally:
        wl.close()
        b.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    if b.trace:
        values = b.layers
        wanted = spec["per_layer"]
    else:
        values = {"setup_s": setup_s, "op_s": median(times)}
        wanted = spec["end_to_end"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": host_cores(), "loadavg_start": load_start, "loadavg_end": loadavg_1m(),
        "timed_ops": len(times), "op_s_all": times, "failures": b.failures[:5],
        "setup_parts": {
            k: v for k, v in b.layers.items() if k.startswith(("session.", "datagen.", "mem."))
        },
        "warmup_s": getattr(wl, "warmup_s", None),
    }))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
