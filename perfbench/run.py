#!/usr/bin/env python3
"""Benchmark of the rasteret_spark engine: one workload, one seed.

    python3 perfbench/run.py --workload zonal --seed 42 --seconds 8 --trace 0

Run from the root of a checkout.  Workloads (see ``workloads.py``):

* ``zonal``  -- cell-cover AOI join, exact refine, tile-window decode +
  polygon mask + zonal reduce;
* ``sample`` -- point-in-bbox join, then tile-window point sampling with
  a nodata ring search.

The ingest path (header enrichment through the checkpointed lineage stage,
then a no-op resume) is measured in the ``sample`` traced run.

The seed drives every input (``sources.synthetic`` images, AOIs, points).
The image table is built once per (seed, size, generator fingerprint)
without a JVM and cached under ``.perfbench_work/`` (see ``inputs.py``);
the build is never part of any timing, and a run starts equally cold
whether or not its input was cached.  Load is one driver process with
``local[nproc]`` task threads.

``--trace 0`` sets up several times in one JVM (session start, input
open, one full-size warm-up rep; the first also launches the JVM), makes a
few untimed reps while the JIT settles,
then times reps for ``--seconds`` seconds and prints the end-to-end
metrics; throughput is table images per second of the median rep, timed
from the first operator call.  ``--trace 1`` prints the per-layer ledger
instead (see ``ledger.py``).  Every rep's output is checked; the last line
of stdout is one JSON object, and a correctness failure exits with 1.
A checkout without the engine exits with 2 before printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

SIZES = {"images": 400, "aois": 200, "points": 16000}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["zonal", "sample"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--images", type=int, default=SIZES["images"])
    ap.add_argument("--aois", type=int, default=SIZES["aois"])
    ap.add_argument("--points", type=int, default=SIZES["points"])
    return ap.parse_args(argv)


def engine_present() -> str | None:
    """None when the engine and the contention probe import, else why not."""
    try:
        import benchguard  # noqa: F401

        import rasteret_spark.operators.decode  # noqa: F401
    except ImportError as e:
        return str(e)
    return None


def run_untraced(args, sizes: dict, path: str) -> tuple[dict, dict]:
    from perfbench import host
    from perfbench.timing import WARM_REPS, measure, set_up
    from perfbench.workloads import WORKLOADS

    cores = host.nproc()
    t0 = time.perf_counter()
    with host.RssSampler() as rss:
        wl, setups = set_up(WORKLOADS[args.workload], path, args.seed, sizes, cores)
        for _ in range(WARM_REPS):
            wl.rep()
        t1 = time.perf_counter()
        m = measure(wl, args.seconds)
    t2 = time.perf_counter()
    bad = wl.oracle(m["last"])
    attempted, failed = m["attempted"], m["failed"] + bad
    wall = host.median(m["walls"])
    metrics = {
        "images_per_s": (sizes["images"] / wall, "images/s"),
        "setup_s": (host.median(setups), "s"),
        "ok_share": (1.0 - failed / max(attempted, 1), "ratio"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores, **sizes,
        "rows": len(m["last"]), "rows_per_s": len(m["last"]) / wall,
        "rep_walls_s": m["walls"],
        "ext_cores_per_rep": m["ext_cores"], "setup_walls_s": setups,
        "oracle_mismatches": bad,
        "phase_s": {"set_up": t1 - t0, "measure": t2 - t1,
                    "oracle": time.perf_counter() - t2},
    }
    return {"attempted": attempted, "failed": failed, "metrics": metrics}, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = engine_present()
    if missing:
        print(f"perfbench: engine not importable from {ROOT}: {missing}", file=sys.stderr)
        return 2

    from perfbench import host, inputs

    host.isolate_temp()
    sizes = {"images": args.images, "aois": args.aois, "points": args.points}
    t0 = time.perf_counter()
    try:
        path, gen_s = inputs.ensure_images(args.seed, args.images, host.nproc())
        t_input = time.perf_counter() - t0
        if args.trace:
            from perfbench import ledger

            res, detail = ledger.run_traced(args, sizes, path, gen_s)
        else:
            res, detail = run_untraced(args, sizes, path)
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            host.stop_session(active)
        host.shutdown_jvm()
        for scratch in ("ingest", "eventlog"):
            host.rmtree(os.path.join(host.WORK, scratch))
        left = host.wait_children_gone()
        if left:
            print(f"perfbench: child processes still alive: {left}", file=sys.stderr)

    correct = res["failed"] == 0
    detail["input_s"] = t_input
    detail["total_s"] = time.perf_counter() - t0
    print(json.dumps(detail, default=float))
    print(json.dumps({
        "correct": correct,
        "attempted": max(int(res["attempted"]), 1),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in res["metrics"].items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
