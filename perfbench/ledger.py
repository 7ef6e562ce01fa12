"""The traced run: per-layer ledger of one workload.

Layers are timed from this file, around calls into each module's public
functions; nothing inside the engine is instrumented.  The run:

1. in a session with the Spark event log on, after as many warm-up reps as
   an untraced run makes, times traced reps, recording a span around every
   call;
2. splits the chain into layers by timing nested prefixes of it into a
   noop sink (scan, candidate join, refine, grouped side, Python boundary,
   kernel), each the median of ``LAYER_REPS`` runs; every layer but the
   scan and the candidate join is a difference of two prefixes, and one
   that comes out negative is counted in ``ledger.negative_layers``;
3. times the window, mask and reduce steps single-process on a seeded
   sample of the output's image/AOI pairs; scaled to the output's pair
   count over the cores, they give a kernel wall measured on its own;
4. reads stage and task totals of the traced reps from the event log;
5. times untraced reps in a plain session (the reference wall); traced
   minus untraced wall is the tracing overhead;
6. for ``zonal``, times one rep at ``local[1]`` for the scaling efficiency.

The prefix layers telescope to the operator call plus the boundary prefix,
so ``ledger.layer_sum_ratio`` (the layers with the single-process kernel
in place of the derived one, over the untraced wall) tests the one layer
measured on its own: it misses 1 when that kernel estimate misses the
kernel's share of the wall (task skew, per-batch overhead).

The ``sample`` run also measures the ingest path (header enrichment through
``plans.lineage.checkpointed_run``, then a no-op resume) on the same table
and session, so the ``enrich`` and ``lineage`` layers are in every ledger
the benchmark's declared workloads produce.

Spans are kept in memory and written to ``.perfbench_work/spans/`` at the
end.  A metric of a layer the workload does not run reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager

import numpy as np
import pandas as pd

from perfbench import host
from perfbench.timing import SETUPS, WARM_REPS, measure, open_workload
from perfbench.workloads import WORKLOADS

LAYER_REPS = 3
TRACED_REPS = 3
MICRO_IMAGES = 40  # seeded images whose pairs the single-process timings use
PARSE_SAMPLE = 200

# every per-layer metric with its unit, in BENCHMARK.json order
LAYER_METRICS = {
    "scan.wall_s": "s",
    "scan.mb": "MB",
    "spatial_join.cand_pairs": "count",
    "spatial_join.cand_wall_s": "s",
    "spatial_join.refine_wall_s": "s",
    "spatial_join.refine_hit_ratio": "ratio",
    "decode.group_wall_s": "s",
    "decode.boundary_wall_s": "s",
    "decode.boundary_mb": "MB",
    "decode.boundary_useful_ratio": "ratio",
    "decode.kernel_wall_s": "s",
    "decode.reduce_ms_per_pair": "ms",
    "miniraster.window_ms_per_pair": "ms",
    "miniraster.tiles_decoded_per_pair": "count",
    "miniraster.tile_reuse_ratio": "ratio",
    "geom.mask_ms_per_pair": "ms",
    "enrich.parse_ms_per_image": "ms",
    "enrich.prefix_mb": "MB",
    "lineage.transform_wall_s": "s",
    "lineage.write_wall_s": "s",
    "lineage.files_written": "count",
    "lineage.bytes_written_per_input_byte": "ratio",
    "lineage.resume_wall_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.task_skew": "ratio",
    "synthetic.gen_s": "s",
    "zonal.scaling_eff_1ton": "ratio",
    "ledger.untraced_wall_s": "s",
    "ledger.layer_sum_ratio": "ratio",
    "ledger.negative_layers": "count",
    "trace.overhead_s": "s",
    "host.ext_cores_max": "cores",
}


class Tracer:
    """In-memory spans: name, start, end, parent span, rep id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.rep = ""

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        s = {
            "id": len(self.spans), "name": name, "rep": self.rep,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def span_wall(span: dict) -> float:
    return span["end"] - span["start"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _boundary_passthrough(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Receives every row of the decode input in Python; returns one small
    row per batch (rows, blob bytes) instead of echoing the blobs."""
    for pdf in batches:
        yield pd.DataFrame({
            "n": [len(pdf)],
            "blob_bytes": [int(sum(len(b) for b in pdf["bytes"]))],
        })


# --- traced reps ---------------------------------------------------------------
def traced_rep(wl, tr: Tracer) -> tuple[float, pd.DataFrame]:
    """One rep of the workload's chain with a span around every call."""
    from rasteret_spark.operators import decode

    with tr.span(f"{wl.name}.rep") as rep:
        if wl.name == "zonal":
            with tr.span("spatial_join.bbox_join"):
                cands = wl.candidates()
            with tr.span("spatial_join.refine_rect_polygon"):
                refined = wl.refined(cands)
            with tr.span("decode.zonal_stats"):
                df = decode.zonal_stats(refined, wl.blob_side)
            with tr.span("collect"):
                out = df.toPandas()
        else:
            from rasteret_spark.operators import sampling

            with tr.span("spatial_join.point_in_bbox_join"):
                cands = wl.candidates()
            with tr.span("sampling.sample_points"):
                df = sampling.sample_points(cands, wl.blob_side, max_ring=3)
            with tr.span("collect"):
                out = df.toPandas()
    with tr.span("decode.release_grouped_caches"):
        decode.release_grouped_caches()
    return span_wall(rep), out


# --- layer ledger -----------------------------------------------------------------
def _timed(tr: Tracer, name: str, fn) -> float:
    walls = []
    for k in range(LAYER_REPS):
        tr.rep = f"layer-{k}"
        with tr.span(name) as s:
            fn()
        walls.append(span_wall(s))
    return host.median(walls)


def _scan(wl, tr: Tracer) -> dict:
    from pyspark.sql import functions as F  # noqa: N812

    cols = ["image_id", "bytes", "xmin", "ymin", "xmax", "ymax"]
    scan = wl.images.select(*cols)
    wall = _timed(tr, "layer.scan", lambda: noop(scan))
    size = scan.select(
        F.sum(F.length("bytes") + F.length("image_id") + 8 * (len(cols) - 2))
    ).first()[0]
    return {"scan.wall_s": wall, "scan.mb": size / 1e6}


def _boundary(agg, blob_side, tr: Tracer, agg_col: str) -> tuple[float, float]:
    """The decode input (blob scan joined to the broadcast grouped side)
    crossing into a pass-through ``mapInPandas``: (wall, blob MB)."""
    from pyspark.sql import functions as F  # noqa: N812

    agg = agg.persist()
    agg.count()
    src = blob_side.select("image_id", "bytes").join(F.broadcast(agg), "image_id")
    through = src.select("image_id", "bytes", agg_col).mapInPandas(
        _boundary_passthrough, schema="n long, blob_bytes long"
    )
    box = {}

    def run():
        box["rows"] = through.collect()

    wall = _timed(tr, "layer.boundary", run)
    agg.unpersist()
    return wall, sum(r["blob_bytes"] for r in box["rows"]) / 1e6


def _decode_split(wl, tr: Tracer, call) -> tuple[float, float]:
    """(wall of the operator call, wall of collecting its result)."""
    from rasteret_spark.operators import decode

    calls, actions = [], []
    for k in range(LAYER_REPS):
        tr.rep = f"layer-{k}"
        with tr.span("layer.call") as c:
            df = call()
        with tr.span("layer.collect") as a:
            df.toPandas()
        decode.release_grouped_caches()
        calls.append(span_wall(c))
        actions.append(span_wall(a))
    return host.median(calls), host.median(actions)


def zonal_layers(wl, tr: Tracer) -> dict:
    from pyspark.sql import functions as F  # noqa: N812

    from rasteret_spark.operators import decode

    m = _scan(wl, tr)
    n_cand = wl.candidates().count()
    n_hit = wl.refined(wl.candidates()).count()
    cand = _timed(tr, "layer.candidates", lambda: noop(wl.candidates()))
    refine = _timed(tr, "layer.refine", lambda: noop(wl.refined(wl.candidates())))
    call, action = _decode_split(
        wl, tr, lambda: decode.zonal_stats(wl.refined(wl.candidates()), wl.blob_side)
    )
    agg = wl.refined(wl.candidates()).groupBy("image_id").agg(
        F.collect_list(
            F.struct("aoi_id", "aoi_geometry", "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax")
        ).alias("_aois")
    )
    through, boundary_mb = _boundary(agg, wl.blob_side, tr, "_aois")
    m.update({
        "spatial_join.cand_pairs": n_cand,
        "spatial_join.cand_wall_s": cand,
        "spatial_join.refine_wall_s": refine - cand,
        "spatial_join.refine_hit_ratio": n_hit / max(n_cand, 1),
        "decode.group_wall_s": call - refine,
        "decode.boundary_wall_s": through - m["scan.wall_s"],
        "decode.boundary_mb": boundary_mb,
        "decode.kernel_wall_s": action - through,
    })
    return m


def sample_layers(wl, tr: Tracer) -> dict:
    from pyspark.sql import functions as F  # noqa: N812

    from rasteret_spark.operators import sampling

    m = _scan(wl, tr)
    n_cand = wl.candidates().count()
    cand = _timed(tr, "layer.candidates", lambda: noop(wl.candidates()))
    call, action = _decode_split(
        wl, tr, lambda: sampling.sample_points(wl.candidates(), wl.blob_side, max_ring=3)
    )
    agg = wl.candidates().groupBy("image_id").agg(
        F.collect_list(F.struct("point_index", "x", "y")).alias("_pts")
    )
    through, boundary_mb = _boundary(agg, wl.blob_side, tr, "_pts")
    m.update({
        "spatial_join.cand_pairs": n_cand,
        "spatial_join.cand_wall_s": cand,
        "decode.group_wall_s": call - cand,
        "decode.boundary_wall_s": through - m["scan.wall_s"],
        "decode.boundary_mb": boundary_mb,
        # the sampling kernel: sample_points' own decode stage
        "decode.kernel_wall_s": action - through,
    })
    return m


def ingest_layers(wl, tr: Tracer) -> tuple[dict, int, int]:
    """The ingest path: header transform alone, then checkpointed run +
    resume into fresh directories.  Every run's output is verified.
    Returns (metrics, rows attempted, rows failed)."""
    from pyspark.sql import functions as F  # noqa: N812

    from rasteret_spark.operators import enrich
    from perfbench.workloads import blobs_of

    bucketed = wl.source.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("image_id")), F.lit(32)).cast("int")
    )
    transform = _timed(tr, "layer.transform", lambda: noop(wl.transform(bucketed)))
    walls, attempted, failed, out = [], 0, 0, None
    for k in range(LAYER_REPS):
        tr.rep = f"layer-{k}"
        with tr.span("layer.checkpointed_run+resume"):
            wall, out = wl.rep()
        a, f = wl.verify(out)
        walls.append(wall)
        attempted, failed = attempted + a, failed + f
    failed += wl.oracle(out)
    files, written = host.dir_bytes(wl.out_dir)
    _, input_bytes = host.dir_bytes(wl.path)
    host.rmtree(wl.out_dir)
    prefix_mb = wl.source.select(
        F.sum(F.least(F.length("bytes"), F.lit(enrich.HEADER_PREFIX)))
    ).first()[0] / 1e6

    # single-process header parse over a seeded sample of prefixes
    ids = sorted(out["image_id"])
    rng = np.random.default_rng(wl.seed)
    pick = rng.choice(ids, size=min(PARSE_SAMPLE, len(ids)), replace=False).tolist()
    prefixes = pd.Series(
        [b[: enrich.HEADER_PREFIX] for b in blobs_of(wl.path, pick).values()]
    )
    enrich.parse_header_udf.func(prefixes)  # first call imports the parsers
    t0 = time.perf_counter()
    enrich.parse_header_udf.func(prefixes)
    parse_ms = (time.perf_counter() - t0) * 1e3 / len(prefixes)

    run = host.median(walls)
    m = {
        "enrich.parse_ms_per_image": parse_ms,
        "enrich.prefix_mb": prefix_mb,
        "lineage.transform_wall_s": transform,
        "lineage.write_wall_s": run - transform,
        "lineage.files_written": files,
        "lineage.bytes_written_per_input_byte": written / max(input_bytes, 1),
        "lineage.resume_wall_s": host.median(wl.resume_walls[-LAYER_REPS:]),
    }
    return m, attempted, failed


# --- single-process kernel steps ---------------------------------------------------
def micro(wl, out: pd.DataFrame) -> dict:
    """Window read, polygon mask and reduce timed per pair on the pairs of
    a seeded sample of output images, with the same public functions the
    decode kernel calls.  The private key ``_kernel_s`` is the
    single-process time of those steps scaled to every pair of ``out``."""
    from rasteret_spark import crs, geom
    from rasteret_spark.format import miniraster as mr
    from rasteret_spark.operators import decode
    from perfbench.workloads import blobs_of

    ok = out[out["status"] == "ok"]
    if wl.name == "zonal":
        ok = ok[(ok["win_w"] > 0) & (ok["win_h"] > 0)]
    else:
        ok = ok[ok["in_bounds"].astype(bool)]
    ids = sorted(ok["image_id"].unique())
    rng = np.random.default_rng(wl.seed)
    pick = sorted(rng.choice(ids, size=min(MICRO_IMAGES, len(ids)), replace=False))
    blobs = blobs_of(wl.path, pick)
    geoms = dict(zip(wl.aois["aoi_id"], wl.aois["geometry"])) if wl.name == "zonal" else {}
    t_win = t_mask = t_red = 0.0
    pairs = requested = decoded = useful = blob_bytes = 0
    for image_id in pick:
        blob = blobs[image_id]
        rows = ok[ok["image_id"] == image_id]
        reader = mr.CachedReader(blob)
        meta = reader.meta
        tiles: set[int] = set()
        if wl.name == "zonal":
            wins = [(r.win_col, r.win_row, r.win_w, r.win_h, r.aoi_id)
                    for r in rows.itertuples(index=False)]
        else:
            wins = [(r.px_col, r.px_row, 1, 1, None) for r in rows.itertuples(index=False)]
        for c0, r0, ww, wh, aoi_id in wins:
            c0, r0, ww, wh = int(c0), int(r0), int(ww), int(wh)
            planned = mr.plan_window_tiles(meta, c0, r0, ww, wh, 0)
            requested += len(planned)
            tiles.update(t[0] for t in planned)
            t0 = time.perf_counter()
            arr = reader.window(c0, r0, ww, wh, band=0)
            t1 = time.perf_counter()
            t_win += t1 - t0
            pairs += 1
            if aoi_id is None:
                continue
            lon, lat = decode.pixel_axes_lonlat(meta.transform, meta.epsg, c0, r0, ww, wh)
            if not crs.is_separable(meta.epsg):
                raise RuntimeError(f"EPSG {meta.epsg}: the ledger times the grid mask only")
            inside = geom.points_in_polygon_grid(lon, lat, geoms[aoi_id])
            t2 = time.perf_counter()
            valid = inside
            if meta.nodata is not None:
                if np.isnan(meta.nodata):
                    valid = valid & ~np.isnan(arr.astype(np.float64))
                else:
                    valid = valid & (arr != np.asarray(meta.nodata).astype(arr.dtype))
            v = arr[valid].astype(np.float64)
            if v.size:
                v.sum(), v.mean(), v.min(), v.max()
            t3 = time.perf_counter()
            t_mask += t2 - t1
            t_red += t3 - t2
        decoded += len(tiles)
        useful += meta.header_len + int(sum(int(meta.tile_byte_counts[t]) for t in tiles))
        blob_bytes += len(blob)
    pairs = max(pairs, 1)
    m = {
        "miniraster.window_ms_per_pair": t_win * 1e3 / pairs,
        "miniraster.tiles_decoded_per_pair": decoded / pairs,
        "miniraster.tile_reuse_ratio": requested / max(decoded, 1),
        "_kernel_s": (t_win + t_mask + t_red) / pairs * len(ok),
    }
    if wl.name == "zonal":
        m.update({
            "geom.mask_ms_per_pair": t_mask * 1e3 / pairs,
            "decode.reduce_ms_per_pair": t_red * 1e3 / pairs,
            "decode.boundary_useful_ratio": useful / max(blob_bytes, 1),
        })
    return m


# --- event log -------------------------------------------------------------------
def event_log_totals(log_dir: str, prefix: str, reps: int) -> dict:
    """Per-rep stage/task totals of the jobs whose description starts with
    ``prefix``; task skew is max/median task run time of the stage with the
    most executor run time (the Python stage)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    stage_job_desc: dict[int, str] = {}
    stages: set[int] = set()
    tasks: dict[int, list[float]] = {}
    shuffle = run_ms = gc_ms = 0
    with open(files[-1]) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            for sid in ev["Stage IDs"]:
                stage_job_desc[sid] = desc
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if stage_job_desc.get(sid, "").startswith(prefix):
                stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if not stage_job_desc.get(sid, "").startswith(prefix):
                continue
            tm = ev.get("Task Metrics") or {}
            run_ms += tm.get("Executor Run Time", 0)
            gc_ms += tm.get("JVM GC Time", 0)
            shuffle += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tasks.setdefault(sid, []).append(tm.get("Executor Run Time", 0))
    heavy = max(tasks.values(), key=sum) if tasks else [1]
    return {
        "spark.stages": len(stages) / reps,
        "spark.tasks": sum(len(t) for t in tasks.values()) / reps,
        "spark.shuffle_write_mb": shuffle / 1e6 / reps,
        "spark.executor_run_s": run_ms / 1e3 / reps,
        "spark.jvm_gc_s": gc_ms / 1e3 / reps,
        "spark.task_skew": max(heavy) / max(float(np.median(heavy)), 1.0),
    }


# --- the traced run ----------------------------------------------------------------
# the chain's layers, in order; all but the scan and the candidate join are
# differences of two timed prefixes.  The kernel is last: the layer sum
# takes the single-process estimate in its place.
CHAIN = {
    "zonal": ["scan.wall_s", "spatial_join.cand_wall_s", "spatial_join.refine_wall_s",
              "decode.group_wall_s", "decode.boundary_wall_s", "decode.kernel_wall_s"],
    "sample": ["scan.wall_s", "spatial_join.cand_wall_s", "decode.group_wall_s",
               "decode.boundary_wall_s", "decode.kernel_wall_s"],
}


def run_traced(args, sizes: dict, path: str, gen_s: float) -> tuple[dict, dict]:
    cores = host.nproc()
    cls = WORKLOADS[args.workload]
    tr = Tracer()
    attempted = failed = 0

    # 1. traced reps with the event log on, after as many untimed reps as an
    #    untraced run makes
    log_dir = host.work_dir("eventlog", f"{args.workload}-{args.seed}-{os.getpid()}")
    wl = open_workload(cls, path, args.seed, sizes, cores, event_log=log_dir)
    spark = wl.spark
    for _ in range(SETUPS - 1 + WARM_REPS):
        wl.rep()
    walls, out = [], None
    for k in range(TRACED_REPS):
        tr.rep = f"rep-{k}"
        spark.sparkContext.setJobDescription(f"perfbench.rep.{k}")
        wall, out = traced_rep(wl, tr)
        a, f = wl.verify(out)
        attempted, failed = attempted + a, failed + f
        walls.append(wall)
    traced = host.median(walls)

    # 2-3. layers and single-process kernel steps
    spark.sparkContext.setJobDescription("perfbench.layers")
    m = zonal_layers(wl, tr) if args.workload == "zonal" else sample_layers(wl, tr)
    m.update(micro(wl, out))
    failed += wl.oracle(out)
    if args.workload == "sample":
        # the ingest path's layers ride on the sample run's table and session
        tr.rep = "ingest"
        ingest, a, f = ingest_layers(WORKLOADS["ingest"](spark, path, args.seed, sizes), tr)
        m.update(ingest)
        attempted, failed = attempted + a, failed + f
    spark.sparkContext.setJobDescription(None)
    host.stop_session(spark)

    # 4. event log of the traced reps
    m.update(event_log_totals(log_dir, "perfbench.rep.", TRACED_REPS))
    host.rmtree(log_dir)

    # 5. untraced reference wall in a plain session of the same, warm JVM,
    #    after as many untimed reps in that session as an untraced run makes
    #    in its last one
    ref_wl = open_workload(cls, path, args.seed, sizes, cores)
    for _ in range(WARM_REPS):
        ref_wl.rep()
    ref = measure(ref_wl, 0)
    untraced = host.median(ref["walls"])
    attempted, failed = attempted + ref["attempted"], failed + ref["failed"]
    host.stop_session(ref_wl.spark)

    # 6. scaling, zonal only: local[1] against local[nproc]
    if args.workload == "zonal" and cores > 1:
        one = open_workload(cls, path, args.seed, sizes, 1)
        wall1, out1 = one.rep()
        a, f = one.verify(out1)
        attempted, failed = attempted + a, failed + f
        m["zonal.scaling_eff_1ton"] = wall1 / (cores * untraced)
        host.stop_session(one.spark)

    chain = CHAIN[args.workload]
    kernel_est = m.pop("_kernel_s") / cores
    negative = [k for k in chain if m[k] < 0]
    if negative:
        print(f"perfbench: negative derived layers: {negative}", file=sys.stderr)
    m.update({
        "synthetic.gen_s": gen_s,
        "ledger.untraced_wall_s": untraced,
        "ledger.layer_sum_ratio": (sum(m[k] for k in chain[:-1]) + kernel_est) / untraced,
        "ledger.negative_layers": len(negative),
        "trace.overhead_s": traced - untraced,
        "host.ext_cores_max": max(ref["ext_cores"]),
    })
    tr.write(os.path.join(host.work_dir("spans"), f"{args.workload}-{args.seed}.json"))
    metrics = {k: (float(m.get(k, 0.0)), u) for k, u in LAYER_METRICS.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores, **sizes,
        "rows": len(out), "untraced_walls_s": ref["walls"], "traced_walls_s": walls,
        "kernel_est_s": kernel_est, "negative_layers": negative, "spans": len(tr.spans),
    }
    return {"attempted": attempted, "failed": failed, "metrics": metrics}, detail
