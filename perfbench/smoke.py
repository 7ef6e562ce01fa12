#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny size.

    python3 perfbench/smoke.py

1. Runs ``run.py`` for every declared workload, untraced and traced, on a tiny
   table and checks that the last line names every metric of
   ``BENCHMARK.json`` (end-to-end or per-layer) with its unit, and that
   the run reads correct.
2. In one session, perturbs one output row of each workload (the ingest
   path the ``sample`` traced run measures too) and checks that the
   workload's own checks reject it.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

TINY = {"images": 48, "aois": 40, "points": 600}
TINY_ARGS = ["--images", "48", "--aois", "40", "--points", "600"]


def declared() -> tuple[list, dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([w["name"] for w in b["workloads"]],
            {m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), *TINY_ARGS],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def check_metrics(errors: list[str]) -> None:
    workloads, e2e, layers = declared()
    for workload in workloads:
        for trace, want in ((0, e2e), (1, layers)):
            res = run(workload, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                errors.append(f"{workload} trace={trace}: metrics {got} != {want}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errors.append(f"{workload} trace={trace}: not correct: {res}")
            print(f"ok: {workload} trace={trace}", flush=True)


def check_perturbation(errors: list[str]) -> None:
    from perfbench import host, inputs
    from perfbench.workloads import WORKLOADS, seeded_rows, ORACLE_ROWS

    host.isolate_temp()
    path = inputs.images_path(3, TINY["images"])
    spark = host.start_session(host.nproc())
    try:
        for name, cls in WORKLOADS.items():
            wl = cls(spark, path, 3, TINY)
            _, out = wl.rep()
            a, f = wl.verify(out)
            if f or wl.oracle(out):
                errors.append(f"{name}: clean output rejected")
            # one value changed in a row the oracle samples
            bad = out.copy()
            if name == "zonal":
                rows = seeded_rows(out, 3, ORACLE_ROWS)
                row = rows.index[rows["v_sum"].notna().to_numpy()][0]
                bad.loc[row, "v_sum"] = bad.loc[row, "v_sum"] + 1.0
            elif name == "sample":
                rows = seeded_rows(out, 3, ORACLE_ROWS * 8)
                row = rows.index[rows["in_bounds"].to_numpy()][0]
                bad.loc[row, "value"] = bad.loc[row, "value"] + 1.0
            else:
                row = out.index[0]
                bad.at[row, "meta"] = {**out.at[row, "meta"], "width": -1}
            if wl.oracle(bad) < 1:
                errors.append(f"{name}: oracle accepted a perturbed row")
            if wl.verify(bad)[1] < 1:
                errors.append(f"{name}: verify accepted a perturbed later rep")
            if wl.verify(out.drop(index=out.index[-1]))[1] < 1:
                errors.append(f"{name}: verify accepted a missing row")
            print(f"ok: {name} perturbation", flush=True)
    finally:
        host.stop_session(spark)
        host.shutdown_jvm()


def main() -> int:
    errors: list[str] = []
    check_metrics(errors)
    check_perturbation(errors)
    for e in errors:
        print("FAIL:", e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
