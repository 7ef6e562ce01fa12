"""The three workloads: the operator chain each one runs, and the
correctness check each one applies to its own output.

A workload object holds the DataFrames opened from the cached inputs.
``rep()`` runs the chain once, timed from the first operator call to the
collected result, and releases the grouped side that ``zonal_stats`` and
``sample_points`` persist.  ``verify(out)`` checks one rep's output and
returns ``(rows_attempted, rows_failed)``: failed rows are quarantined rows
(``status != 'ok'``), rows missing from or extra to a driver-side
brute-force answer, and rows that differ from the first rep.
``oracle(out)`` re-derives a seeded sample of rows with an independent
full-image oracle and returns the number that disagree.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

from perfbench import host, inputs

ZONAL_FIELDS = ["px_count", "valid_count", "v_sum", "v_mean", "v_min", "v_max"]
ORACLE_ROWS = 32  # seeded output rows re-derived by a full-image oracle per run


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and np.isnan(v))


def same(a, b) -> bool:
    """Exact equality, None and NaN read as one missing value; sequences
    compare element by element."""
    if isinstance(b, (list, tuple, np.ndarray)):
        return (
            a is not None and len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
        )
    if _missing(a) or _missing(b):
        return _missing(a) and _missing(b)
    return a == b


def blobs_of(path: str, image_ids) -> dict[str, bytes]:
    import pyarrow.parquet as pq

    t = pq.read_table(
        path, columns=["image_id", "bytes"], filters=[("image_id", "in", sorted(image_ids))]
    )
    return dict(zip(t.column("image_id").to_pylist(), t.column("bytes").to_pylist()))


def _canon(df: pd.DataFrame, key: list[str]) -> pd.DataFrame:
    return df.sort_values(key).reset_index(drop=True)


def _differing_rows(a: pd.DataFrame, b: pd.DataFrame) -> int:
    """Rows of canonically sorted ``b`` that differ from ``a``."""
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return max(len(a), len(b))
    bad = np.zeros(len(a), dtype=bool)
    for c in a.columns:
        x, y = a[c], b[c]
        bad |= ~((x == y) | (x.isna() & y.isna())).to_numpy()
    return int(bad.sum())


def seeded_rows(out: pd.DataFrame, seed: int, k: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    pick = rng.choice(len(out), size=min(k, len(out)), replace=False)
    return out.iloc[np.sort(pick)]


class Workload:
    name = ""
    key: list[str] = []

    def __init__(self, spark, images_path: str, seed: int, sizes: dict):
        from pyspark.sql import functions as F  # noqa: N812

        self.spark = spark
        self.path = images_path
        self.seed = seed
        self.images = spark.read.parquet(images_path)
        self.img_light = self.images.select(
            "image_id",
            F.col("xmin").alias("img_xmin"), F.col("ymin").alias("img_ymin"),
            F.col("xmax").alias("img_xmax"), F.col("ymax").alias("img_ymax"),
        )
        self._first: pd.DataFrame | None = None
        self._want: set | None = None

    # the chain -----------------------------------------------------------
    def call(self):
        """Operator calls up to the DataFrame whose collection ends a rep."""
        raise NotImplementedError

    def rep(self) -> tuple[float, pd.DataFrame]:
        from rasteret_spark.operators import decode

        t0 = time.perf_counter()
        out = self.call().toPandas()
        wall = time.perf_counter() - t0
        decode.release_grouped_caches()
        return wall, out

    # checks --------------------------------------------------------------
    def expected_pairs(self) -> set:
        raise NotImplementedError

    def pairs_of(self, out: pd.DataFrame) -> list:
        raise NotImplementedError

    def verify(self, out: pd.DataFrame) -> tuple[int, int]:
        if self._want is None:
            self._want = self.expected_pairs()
        want = self._want
        got = self.pairs_of(out)
        got_set = set(got)
        failed = int((out["status"] != "ok").sum())
        failed += len(got_set ^ want) + (len(got) - len(got_set))
        canon = _canon(out, self.key)
        if self._first is None:
            self._first = canon
        else:
            failed += _differing_rows(self._first, canon)
        attempted = max(len(out), len(want))
        return attempted, min(failed, attempted)

    def oracle(self, out: pd.DataFrame) -> int:
        raise NotImplementedError


# --- zonal -------------------------------------------------------------------
class Zonal(Workload):
    name = "zonal"
    key = ["image_id", "aoi_id", "band"]

    def __init__(self, spark, images_path, seed, sizes):
        from pyspark.sql import functions as F  # noqa: N812

        from rasteret_spark.sources.synthetic import aois_table

        super().__init__(spark, images_path, seed, sizes)
        self.aois = aois_table(sizes["aois"], seed=seed).to_pandas()
        self.aoi = spark.createDataFrame(self.aois).select(
            "aoi_id", F.col("geometry").alias("aoi_geometry"),
            F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
            F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
        )
        self.blob_side = self.images.select("image_id", "bytes").withColumn(
            "caption", F.lit("")
        )

    def candidates(self):
        from rasteret_spark.operators import spatial_join as sj

        return sj.bbox_join(self.img_light, self.aoi, res=7, salts=4)

    def refined(self, cands):
        from pyspark.sql import functions as F  # noqa: N812

        from rasteret_spark.operators import spatial_join as sj

        return sj.refine_rect_polygon(cands).filter(F.col("intersects")).select(
            "image_id", "aoi_id", "aoi_geometry",
            "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax",
        )

    def call(self):
        from rasteret_spark.operators import decode

        return decode.zonal_stats(self.refined(self.candidates()), self.blob_side)

    def expected_pairs(self) -> set:
        """Brute force over every (image, AOI): closed bbox overlap, then
        the exact rectangle x polygon test."""
        from rasteret_spark import geom

        b = inputs.read_columns(self.path, ["image_id", "xmin", "ymin", "xmax", "ymax"])
        ids = b["image_id"].to_numpy()
        x0, y0, x1, y1 = (b[c].to_numpy(float) for c in ("xmin", "ymin", "xmax", "ymax"))
        pairs = set()
        for a in self.aois.itertuples(index=False):
            m = (x1 >= a.xmin) & (x0 <= a.xmax) & (y1 >= a.ymin) & (y0 <= a.ymax)
            idx = np.nonzero(m)[0]
            if idx.size:
                hit = geom.rects_intersect_polygon(x0[idx], y0[idx], x1[idx], y1[idx], a.geometry)
                pairs.update((ids[i], a.aoi_id) for i in idx[hit])
        return pairs

    def pairs_of(self, out):
        return list(zip(out["image_id"], out["aoi_id"]))

    def oracle(self, out) -> int:
        from rasteret_spark.operators import decode

        rows = seeded_rows(out, self.seed, ORACLE_ROWS)
        blobs = blobs_of(self.path, set(rows["image_id"]))
        geoms = dict(zip(self.aois["aoi_id"], self.aois["geometry"]))
        bad = 0
        for r in rows.itertuples(index=False):
            want = decode.zonal_oracle_row(
                {"image_id": r.image_id, "bytes": blobs[r.image_id]},
                {"aoi_id": r.aoi_id, "geometry": geoms[r.aoi_id]},
                band=int(r.band),
            )
            bad += not all(same(getattr(r, f), want[f]) for f in ZONAL_FIELDS)
        return bad


# --- sample ------------------------------------------------------------------
class Sample(Workload):
    name = "sample"
    key = ["point_index", "image_id", "band"]

    def __init__(self, spark, images_path, seed, sizes):
        from rasteret_spark.sources.synthetic import points_table

        super().__init__(spark, images_path, seed, sizes)
        self.points = points_table(sizes["points"], seed=seed).to_pandas()
        self.pts = spark.createDataFrame(self.points)
        self.blob_side = self.images.select("image_id", "bytes")

    def candidates(self):
        from rasteret_spark.operators import spatial_join as sj

        return sj.point_in_bbox_join(self.pts, self.img_light, res=8).select(
            "point_index", "x", "y", "image_id"
        )

    def call(self):
        from rasteret_spark.operators import sampling

        return sampling.sample_points(self.candidates(), self.blob_side, max_ring=3)

    def expected_pairs(self) -> set:
        """Brute force over every (point, image): closed bbox containment."""
        b = inputs.read_columns(self.path, ["image_id", "xmin", "ymin", "xmax", "ymax"])
        ids = b["image_id"].to_numpy()
        x0, y0, x1, y1 = (b[c].to_numpy(float) for c in ("xmin", "ymin", "xmax", "ymax"))
        px = self.points["x"].to_numpy(float)
        py = self.points["y"].to_numpy(float)
        pi = self.points["point_index"].to_numpy()
        pairs = set()
        step = 1024
        for s in range(0, len(px), step):
            qx, qy = px[s : s + step, None], py[s : s + step, None]
            m = (qx >= x0) & (qx <= x1) & (qy >= y0) & (qy <= y1)
            rr, cc = np.nonzero(m)
            pairs.update(zip(pi[s + rr].tolist(), ids[cc].tolist()))
        return pairs

    def pairs_of(self, out):
        return list(zip(out["point_index"].astype(int).tolist(), out["image_id"]))

    def oracle(self, out) -> int:
        """Sampled values against a full-image decode of the same band."""
        from rasteret_spark.format import container

        rows = seeded_rows(out, self.seed, ORACLE_ROWS * 8)
        blobs = blobs_of(self.path, set(rows["image_id"]))
        full: dict[tuple[str, int], np.ndarray] = {}
        bad = 0
        for r in rows.itertuples(index=False):
            k = (r.image_id, int(r.band))
            if k not in full:
                full[k] = container.decode_full_any(blobs[r.image_id], band=int(r.band))
            if r.in_bounds:
                # a point whose ring search found nothing keeps its own
                # (nodata) pixel and reads valid=False
                steps = max(abs(r.sample_row - r.px_row), abs(r.sample_col - r.px_col))
                ok = same(r.value, float(full[k][r.sample_row, r.sample_col]))
                ok = ok and int(r.ring_steps) == steps and (r.valid or steps == 0)
            else:
                ok = _missing(r.value) and not r.valid
            bad += not ok
        return bad


# --- ingest ------------------------------------------------------------------
class Ingest(Workload):
    """Header-cache ingest through ``plans.lineage.checkpointed_run`` into a
    fresh directory, then a resume call on that directory that must find
    every part complete and write nothing."""

    name = "ingest"
    key = ["image_id"]
    STAGE = "enrich"

    def __init__(self, spark, images_path, seed, sizes):
        super().__init__(spark, images_path, seed, sizes)
        self.source = self.images.select("image_id", "bytes")
        self.runs = 0
        self.resume_walls: list[float] = []
        self.out_dir = ""  # the last rep's output, kept until the next rep

    @staticmethod
    def transform(df):
        from rasteret_spark.operators import enrich

        return enrich.enrich_headers(df).select("image_id", "part_id", "meta")

    def checkpointed(self, out_dir: str):
        from rasteret_spark.plans import lineage

        return lineage.checkpointed_run(
            self.spark, self.source, self.transform, out_dir,
            key_col="image_id", stage=self.STAGE,
        )

    def rep(self) -> tuple[float, pd.DataFrame]:
        from rasteret_spark.plans import lineage

        self.runs += 1
        if self.out_dir:
            host.rmtree(self.out_dir)
        out_dir = os.path.join(host.work_dir("ingest"), f"run-{id(self)}-{self.runs}")
        self.out_dir = out_dir
        t0 = time.perf_counter()
        self.checkpointed(out_dir)
        wall = time.perf_counter() - t0

        log_dir = os.path.join(out_dir, "_lineage")
        logs_before = sorted(os.listdir(log_dir))
        t1 = time.perf_counter()
        res = self.checkpointed(out_dir)
        self.resume_walls.append(time.perf_counter() - t1)
        resumed_clean = sorted(os.listdir(log_dir)) == logs_before
        done = lineage.completed_parts(self.spark, out_dir, self.STAGE)
        out = res.select("image_id", "part_id", "meta").toPandas()
        # every bucket present in the output must be logged complete
        out["status"] = np.where(
            resumed_clean & out["part_id"].isin(list(done)), "ok", "not resumed"
        )
        return wall, out.drop(columns=["part_id"])

    def expected_pairs(self) -> set:
        return set(inputs.read_columns(self.path, ["image_id"])["image_id"])

    def pairs_of(self, out):
        return list(out["image_id"])

    def verify(self, out):
        # the meta struct compares across reps as canonical JSON text
        text = [
            json.dumps(m, sort_keys=True, default=lambda v: getattr(v, "tolist", lambda: str(v))())
            for m in out["meta"]
        ]
        return super().verify(out.assign(meta=text))

    def oracle(self, out) -> int:
        """Every written header against a driver-side ``parse_header``."""
        from rasteret_spark.format import miniraster as mr

        blobs = inputs.read_columns(self.path, ["image_id", "bytes"])
        blob_of = dict(zip(blobs["image_id"], blobs["bytes"]))
        bad = 0
        for image_id, meta in zip(out["image_id"], out["meta"]):
            blob = blob_of[image_id]
            want = mr.parse_header(blob[: mr.header_len_from_prefix(blob[:8])]).to_row()
            bad += meta is None or not all(same(meta.get(k), v) for k, v in want.items())
        return bad


WORKLOADS = {w.name: w for w in (Zonal, Sample, Ingest)}
