"""Vectorized numpy kernels for the focal operators.

`operators/focal.py` runs each chip row through one of these kernels, one
numpy pass per row inside ``mapInPandas`` (``map_chip_rows``); focal
statistics reduce their stacked taps with ``band_math._stat_matrix``, the
same per-pixel reduction the temporal composites use.  Written as Catalyst
higher-order functions instead, the lambdas are interpreted per element: a
3x3 stencil over a 4096-px chip is ~37k lambda invocations per row.

The float discipline that lets the independent truth mirrors
(`sources/truth.py`) reproduce every non-trig surface bit for bit:

* null-skipping folds accumulate in tap (or collected) order through
  ``np.where(valid, acc + term, acc)`` chains — never pairwise ``np.sum``,
  and never a spurious ``0.0`` add (which would turn a ``-0.0`` partial
  into ``+0.0``);
* order statistics use a stable sort on the values themselves, so
  ``-0.0`` and ``0.0`` tie and keep their input order (Spark's
  ``array_sort`` / ``array_min`` / ``array_max`` semantics); NaN sorts last;
* expressions keep one fixed association order.

Inputs arrive through ``mapInPandas``: Arrow hands ``array<double>`` cells
to pandas as float64 ndarrays with nulls already NaN, so null<->NaN is the
(lossless) interchange convention here, exactly as in ``timeseries.gap_fill``.
Rows whose ``values`` is null pass through with null outputs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from rasteret_spark.operators.band_math import _stat_matrix
from rasteret_spark.operators.util import nanlist


def _row_array(cell) -> np.ndarray | None:
    """One DataFrame array cell -> float64 ndarray (nulls -> NaN), or None
    for a null cell."""
    if cell is None or (isinstance(cell, float) and np.isnan(cell)):
        return None
    return np.asarray(cell, dtype=np.float64)


def _clamped_taps(v2d: np.ndarray, radius: int):
    """Replicate-clamped window taps of a 2-D array in row-major offset
    order (the order every fold accumulates in).  Yields (dr, dc, tap)
    where ``tap`` has the input shape."""
    p = np.pad(v2d, radius, mode="edge")
    h, w = v2d.shape
    for dr in range(-radius, radius + 1):
        for dc in range(-radius, radius + 1):
            yield dr, dc, p[radius + dr : radius + dr + h, radius + dc : radius + dc + w]


def focal_stat_2d(v2d: np.ndarray, stat: str, radius: int) -> np.ndarray:
    """``focal.focal_stats`` over one chip: the statistic over the VALID
    taps of the replicate-clamped window (taps stacked K x N, reduced per
    pixel by ``band_math._stat_matrix``); a pixel with zero valid taps is
    NaN (null)."""
    taps = np.stack([t.ravel() for _, _, t in _clamped_taps(v2d, radius)])
    return _stat_matrix(taps, stat).reshape(v2d.shape)


def convolve_2d(
    v2d: np.ndarray, kernel: list[list[float]], normalize: bool
) -> np.ndarray:
    """``focal.convolve`` over one chip (strict stencil or
    valid-renormalized)."""
    radius = len(kernel) // 2
    terms = [
        (t, float(kernel[dr + radius][dc + radius]))
        for dr, dc, t in _clamped_taps(v2d, radius)
    ]
    if normalize:
        num = np.zeros(v2d.shape)
        den = np.zeros(v2d.shape)
        for t, w in terms:
            m = ~np.isnan(t)
            num = num + np.where(m, t * w, 0.0)
            den = den + np.where(m, w, 0.0)
        return np.where(den != 0.0, num / den, np.nan)
    s = None
    any_null = np.zeros(v2d.shape, dtype=bool)
    for t, w in terms:
        any_null |= np.isnan(t)
        term = t * w
        s = term if s is None else s + term
    return np.where(any_null, np.nan, s)


SOBEL_X = ((-1.0, 0.0, 1.0), (-2.0, 0.0, 2.0), (-1.0, 0.0, 1.0))
SOBEL_Y = ((-1.0, -2.0, -1.0), (0.0, 0.0, 0.0), (1.0, 2.0, 1.0))


def sobel_2d(v2d: np.ndarray) -> np.ndarray:
    """``focal.sobel`` over one chip: gx/gy as ordered weighted sums over
    ALL taps (zero weights included, tap order), strict null."""
    taps = list(_clamped_taps(v2d, 1))
    gx = None
    gy = None
    any_null = np.zeros(v2d.shape, dtype=bool)
    for dr, dc, t in taps:
        any_null |= np.isnan(t)
        tx = t * SOBEL_X[dr + 1][dc + 1]
        ty = t * SOBEL_Y[dr + 1][dc + 1]
        gx = tx if gx is None else gx + tx
        gy = ty if gy is None else gy + ty
    return np.where(any_null, np.nan, np.sqrt(gx * gx + gy * gy))


def terrain_2d(
    v2d: np.ndarray,
    outs: tuple[str, ...],
    xres: float,
    yres: float,
    z_factor: float,
    altitude: float,
    azimuth: float,
) -> dict[str, np.ndarray]:
    """``focal.terrain``'s per-pixel Horn expressions over one chip.  The
    gradient surfaces (dzdx/dzdy) are reproducible bit for bit;
    slope/aspect/hillshade go through libm atan/atan2/cos (tests pin those
    by tolerance, like the reference pins gdaldem parity)."""
    import math

    t = {(dr, dc): tap for dr, dc, tap in _clamped_taps(v2d, 1)}
    a, b, cc = t[(-1, -1)], t[(-1, 0)], t[(-1, 1)]
    d, f_ = t[(0, -1)], t[(0, 1)]
    g, h, ii = t[(1, -1)], t[(1, 0)], t[(1, 1)]
    p = ((cc + 2.0 * f_ + ii) - (a + 2.0 * d + g)) / (8.0 * abs(float(xres)))
    q = ((a + 2.0 * b + cc) - (g + 2.0 * h + ii)) / (8.0 * abs(float(yres)))
    any_null = np.zeros(v2d.shape, dtype=bool)
    for tap in t.values():
        any_null |= np.isnan(tap)
    out = {"dzdx": p, "dzdy": q}
    if not {"slope", "aspect", "hillshade"}.isdisjoint(outs):
        deg = 180.0 / math.pi
        zen = math.radians(90.0 - float(altitude))
        azm = math.radians((360.0 - float(azimuth) + 90.0) % 360.0)
        srad = np.arctan(float(z_factor) * np.sqrt(p * p + q * q))
        out["slope"] = srad * deg
        arad = np.arctan2(-q, -p)
        if "aspect" in outs:
            flat = (p == 0.0) & (q == 0.0)
            out["aspect"] = np.where(flat, np.nan, (450.0 - arad * deg) % 360.0)
        if "hillshade" in outs:
            hs = 255.0 * (
                math.cos(zen) * np.cos(srad)
                + math.sin(zen) * np.sin(srad) * np.cos(azm - arad)
            )
            out["hillshade"] = np.maximum(0.0, hs)
    return {k: np.where(any_null, np.nan, v) for k, v in out.items()}


def _masked_fold(terms: np.ndarray) -> float:
    """Sequential sum of the non-null terms of a flat per-pixel term array
    (NaN = null) in pixel order, no spurious 0.0 additions; 0.0 when all
    terms are null."""
    kept = terms[~np.isnan(terms)]
    if kept.size == 0:
        return 0.0
    return float(np.cumsum(kept)[-1])


def spatial_stats_row(v2d: np.ndarray) -> dict:
    """``focal.spatial_stats`` for one chip: rook-contiguity Moran's I /
    Geary's C, every sum accumulated in a fixed (pixel-major, then
    N/S/W/E) order."""
    h, w = v2d.shape
    valid = ~np.isnan(v2d)
    n_valid = int(valid.sum())
    flat_vals = v2d.ravel()
    mean = (
        _masked_fold(flat_vals) / float(n_valid) if n_valid > 0 else np.nan
    )
    pad = np.pad(v2d, 1, mode="constant", constant_values=np.nan)
    north = pad[0:h, 1 : w + 1]
    south = pad[2 : h + 2, 1 : w + 1]
    west = pad[1 : h + 1, 0:w]
    east = pad[1 : h + 1, 2 : w + 2]
    nbrs = (north, south, west, east)

    # links: count of valid neighbours, null where the center is null
    cnt = np.zeros(v2d.shape)
    for nb in nbrs:
        cnt = cnt + (~np.isnan(nb))
    links = np.where(valid, cnt, np.nan)

    dev = v2d - mean
    # cross: dev(v) * sum(coalesce(dev(nb), 0.0)) accumulated N/S/W/E
    s = np.zeros(v2d.shape)
    for nb in nbrs:
        dn = nb - mean
        s = s + np.where(np.isnan(dn), 0.0, dn)
    cross = np.where(valid, dev * s, np.nan)

    # sqdiff: sum(coalesce((v - nb)^2, 0.0)) accumulated N/S/W/E
    s2 = np.zeros(v2d.shape)
    for nb in nbrs:
        d = v2d - nb
        dd = d * d
        s2 = s2 + np.where(np.isnan(dd), 0.0, dd)
    sqdiff = np.where(valid, s2, np.nan)

    ssdev = np.where(valid, dev * dev, np.nan)

    w_pairs = _masked_fold(links.ravel())
    num_i = _masked_fold(cross.ravel())
    num_c = _masked_fold(sqdiff.ravel())
    den = _masked_fold(ssdev.ravel())
    nv = float(n_valid)
    ok = (w_pairs > 0) and (den != 0.0)
    morans = (nv / w_pairs) * (num_i / den) if ok else None
    gearys = (
        ((nv - 1.0) / (2.0 * w_pairs)) * (num_c / den)
        if ok and nv > 1.0
        else None
    )
    return {
        "n_valid": n_valid,
        "w_pairs": int(w_pairs),
        "morans_i": morans,
        "gearys_c": gearys,
    }


def _out_schema(df: DataFrame, extra: list[tuple[str, str]]) -> str:
    base = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    add = ", ".join(f"{n} {t}" for n, t in extra)
    return f"{base}, {add}" if add else base


def map_chip_rows(
    df: DataFrame,
    extra_cols: list[tuple[str, str]],
    row_fn,
    value_col: str = "values",
) -> DataFrame:
    """Shared mapInPandas runner: for each row, ``row_fn(row_dict, arr2d)``
    returns a dict of new-column values (arrays as float ndarrays, converted
    with ``nanlist``; scalars passed through).  ``arr2d`` is the row's
    ``value_col`` reshaped (chip_h, chip_w), or None for a null cell.  All
    input columns pass through unchanged."""
    schema = _out_schema(df, extra_cols)
    names = [n for n, _ in extra_cols]
    arr_outs = {n for n, t in extra_cols if t.startswith("array<double>")}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            adds: dict[str, list] = {n: [] for n in names}
            w_col = pdf["chip_w"].to_numpy() if "chip_w" in pdf else None
            h_col = pdf["chip_h"].to_numpy() if "chip_h" in pdf else None
            for i, cell in enumerate(pdf[value_col]):
                arr = _row_array(cell)
                if arr is not None and w_col is not None:
                    w, h = int(w_col[i]), int(h_col[i])
                    if w * h == arr.size and w > 0:
                        arr = arr.reshape(h, w)
                    else:
                        arr = None
                res = row_fn(pdf.iloc[i], arr)
                for n in names:
                    v = res.get(n)
                    if v is None:
                        adds[n].append(None)
                    elif n in arr_outs:
                        adds[n].append(nanlist(np.asarray(v, dtype=np.float64).ravel()))
                    else:
                        adds[n].append(v)
            out = pdf.copy()
            for n in names:
                out[n] = adds[n]
            yield out

    return df.mapInPandas(run, schema=schema)
