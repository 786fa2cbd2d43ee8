"""Hierarchical spatial cell index (H3/S2 analog, dependency-free).

The container has no native h3/s2 bindings, so we define an
equal-angle quadtree index with the same roles H3 plays in the design
(SURVEY.md §1.1, §2.3): a coarse resolution (default 5) keys the
grid-tile side table and the polygon cover prune-join; a fine
resolution (default 9) keys the sampled/dedup transform path.

Resolution r partitions lon ∈ [-180, 180) into 2^(r+2) columns and
lat ∈ [-90, 90) into 2^(r+1) rows (square-ish degree cells,
size = 180 / 2^(r+1) degrees). Cell ids are 64-bit:

    cell = (r << 58) | (ix << 29) | iy

Crucially the encoding is pure integer/double arithmetic, so it exists
in four equivalent forms used throughout the repo:

- numpy (tiler, kernels, test oracles)          -> :func:`encode_np`
- Spark Column (JVM-side, whole-stage codegen)  -> :func:`encode_col`
- ANSI SQL text (the SQL transform's plan text,
  DuckDB correctness oracles)                   -> :func:`encode_sql`
- scalar Python (driver-side covers)            -> :func:`encode_one`

On finite coordinates all four are bit-identical by construction;
tests assert it. Non-finite input is where they part: ``encode_np``
maps NaN to -1 and ``encode_one`` raises, while the two Spark forms
agree with each other — FLOOR(NaN) casts to 0, so a NaN longitude
lands in column 0 (at res 5 and latitude 0: 1441151880758558752) —
and a null coordinate gives a null cell.

Replaces: the reference has no spatial index at all (it loops region
files and lets PROJ grid I/O resolve coverage — core.py:86-158,
283-311); the index is what makes the transform a pruned hash join at
10^12-row scale.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

COARSE_RES = 5  # grid-tile / cover join key (~2.8° cells)
FINE_RES = 9  # sampled-transform key (~0.18° cells)


def cell_size_deg(res: int) -> float:
    return 180.0 / float(1 << (res + 1))


def encode_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized numpy encoding; NaN coords -> -1."""
    sz = cell_size_deg(res)
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / sz)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / sz)
    ok = np.isfinite(ix) & np.isfinite(iy)
    ix = np.where(ok, ix, 0).astype(np.int64)
    iy = np.where(ok, iy, 0).astype(np.int64)
    cell = (np.int64(res) << 58) | (ix << 29) | iy
    return np.where(ok, cell, np.int64(-1))


def encode_one(lon: float, lat: float, res: int) -> int:
    sz = cell_size_deg(res)
    ix = int(math.floor((lon + 180.0) / sz))
    iy = int(math.floor((lat + 90.0) / sz))
    return (res << 58) | (ix << 29) | iy


def encode_col(lon: Column, lat: Column, res: int) -> Column:
    """Spark Column form — stays inside whole-stage codegen."""
    sz = F.lit(cell_size_deg(res))
    ix = F.floor((lon + F.lit(180.0)) / sz).cast("long")
    iy = F.floor((lat + F.lit(90.0)) / sz).cast("long")
    return (
        F.shiftleft(F.lit(int(res)).cast("long"), 58)
        .bitwiseOR(F.shiftleft(ix, 29))
        .bitwiseOR(iy)
    )


def encode_sql(lon_sql: str, lat_sql: str, res: int) -> str:
    """Same arithmetic as ANSI SQL text: the SQL transform's cell
    encodes and the DuckDB oracles both use it."""
    sz = repr(cell_size_deg(res))
    return (
        f"((CAST({res} AS BIGINT) << 58)"
        f" | (CAST(FLOOR(({lon_sql} + 180.0) / {sz}) AS BIGINT) << 29)"
        f" | CAST(FLOOR(({lat_sql} + 90.0) / {sz}) AS BIGINT))"
    )


def decode(cell: int) -> tuple[int, int, int]:
    """cell -> (res, ix, iy)."""
    res = cell >> 58
    ix = (cell >> 29) & ((1 << 29) - 1)
    iy = cell & ((1 << 29) - 1)
    return int(res), int(ix), int(iy)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """cell -> (lon_min, lat_min, lon_max, lat_max)."""
    res, ix, iy = decode(cell)
    sz = cell_size_deg(res)
    lon0 = -180.0 + ix * sz
    lat0 = -90.0 + iy * sz
    return lon0, lat0, lon0 + sz, lat0 + sz


def cell_center(cell: int) -> tuple[float, float]:
    x0, y0, x1, y1 = cell_bounds(cell)
    return (x0 + x1) / 2.0, (y0 + y1) / 2.0


def parent(cell: int, parent_res: int) -> int:
    res, ix, iy = decode(cell)
    if parent_res > res:
        raise ValueError("parent_res must be <= cell res")
    shift = res - parent_res
    return (parent_res << 58) | ((ix >> shift) << 29) | (iy >> shift)


def parent_col(cell: Column, res: int, parent_res: int) -> Column:
    """Column form of parent() for fixed res->parent_res."""
    shift = res - parent_res
    ix = F.shiftrightunsigned(cell, 29).bitwiseAND(F.lit((1 << 29) - 1))
    iy = cell.bitwiseAND(F.lit((1 << 29) - 1))
    return (
        F.shiftleft(F.lit(parent_res).cast("long"), 58)
        .bitwiseOR(F.shiftleft(F.shiftrightunsigned(ix, shift), 29))
        .bitwiseOR(F.shiftrightunsigned(iy, shift))
    )


def neighbors(cell: int, k: int = 1) -> list[int]:
    """grid_disk analog: the (2k+1)² block around a cell (clipped)."""
    res, ix, iy = decode(cell)
    nx, ny = 1 << (res + 2), 1 << (res + 1)
    out = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            jx, jy = ix + dx, iy + dy
            if 0 <= jx < nx and 0 <= jy < ny:
                out.append((res << 58) | (jx << 29) | jy)
    return out


def cover_bbox(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> list[int]:
    """All cells at ``res`` whose rectangle intersects the bbox —
    the driver-side polygon-cover used by the J1 prune join
    (reference set_region_by_bounds, core.py:86-158)."""
    sz = cell_size_deg(res)
    ix0 = int(math.floor((lon_min + 180.0) / sz))
    ix1 = int(math.floor((lon_max + 180.0) / sz))
    iy0 = int(math.floor((lat_min + 90.0) / sz))
    iy1 = int(math.floor((lat_max + 90.0) / sz))
    return [
        (res << 58) | (ix << 29) | iy
        for ix in range(ix0, ix1 + 1)
        for iy in range(iy0, iy1 + 1)
    ]
