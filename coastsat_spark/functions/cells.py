"""Hierarchical quad-cell spatial index (H3/S2-style, own implementation).

Public-knowledge design (quadtree / slippy-map tiling): at resolution ``r``
the world is an equirectangular 2^r x 2^r grid over lon [-180,180] x
lat [-90,90]. A cell id packs (r, x, y) into one int64::

    cell_id = r * 2^58 + x * 2^29 + y        (r <= 28)

Crucially the encode is expressible as *pure column arithmetic* (floor,
multiply, add) in both Spark SQL and ANSI SQL, so:

- cell keys are **materialized columns** -> stock Catalyst partition
  pruning / predicate pushdown, no custom rules (SURVEY.md §4.2 decision);
- the DuckDB oracle can recompute identical cell ids for the correctness
  gate.

Pixel addressing inside a tile uses one shared float->floor at the *fine*
resolution (tile res + log2(grid)), then integer shifts — tile id and
pixel index can never disagree. This is the analog of the reference's
grid-aligned crop ``adjust_polygon`` (SDS_download.py:770-809) and the
pixel<->world affine (SDS_tools.py:31-120), minus its list-branch bug
(SDS_tools.py:106-110, deliberately not reproduced).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

R_BITS = 58
X_BITS = 29
MAX_RES = 28

# engine defaults for the shoreline pipeline
TILE_RES = 6  # 64x64 world tiles, 5.625 deg lon per tile
GRID_LOG2 = 3  # 8x8 pixel grid per tile
GRID = 1 << GRID_LOG2
FINE_RES = TILE_RES + GRID_LOG2


# ------------------------------------------------------------- numpy side

def np_xy(lat, lon, res: int):
    n = 1 << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((90.0 - np.asarray(lat, dtype=np.float64)) / 180.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def np_encode(lat, lon, res: int) -> np.ndarray:
    x, y = np_xy(lat, lon, res)
    return np.int64(res) * (1 << R_BITS) + x * (1 << X_BITS) + y


def np_decode(cell: np.ndarray):
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> R_BITS
    x = (cell >> X_BITS) & ((1 << X_BITS) - 1)
    y = cell & ((1 << X_BITS) - 1)
    return res, x, y


def np_parent(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    res, x, y = np_decode(cell)
    r2 = res - steps
    return r2 * (1 << R_BITS) + (x >> steps) * (1 << X_BITS) + (y >> steps)


def np_children(cell: int) -> np.ndarray:
    res, x, y = np_decode(np.asarray([cell]))
    r2 = int(res[0]) + 1
    xs = np.array([0, 0, 1, 1]) + 2 * int(x[0])
    ys = np.array([0, 1, 0, 1]) + 2 * int(y[0])
    return np.int64(r2) * (1 << R_BITS) + xs * (1 << X_BITS) + ys


def np_neighbors(cell: np.ndarray, include_self: bool = True) -> np.ndarray:
    """8-neighborhood (lon wraps, lat clamps => out-of-range rows dropped).

    Returns a 2-D array (n_cells, <=9) padded with -1.
    """
    res, x, y = np_decode(np.asarray(cell, dtype=np.int64))
    n = np.int64(1) << res
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0 and not include_self:
                continue
            nx = (x + dx) % n
            ny = y + dy
            valid = (ny >= 0) & (ny < n)
            c = np.where(valid, res * (1 << R_BITS) + nx * (1 << X_BITS) + ny, -1)
            out.append(c)
    return np.stack(out, axis=1)


def np_cell_bounds(cell: np.ndarray):
    """(lon0, lat0_top, dlon, dlat) per cell — the tile georef affine.

    World coords of pixel (i,j) center in a G-grid tile:
    lon = lon0 + (j+0.5)*dlon/G ; lat = lat0_top - (i+0.5)*dlat/G.
    Mirrors the reference's 6-element affine vector (SDS_tools.py:43).
    """
    res, x, y = np_decode(cell)
    n = (np.int64(1) << res).astype(np.float64)
    dlon = 360.0 / n
    dlat = 180.0 / n
    lon0 = -180.0 + x * dlon
    lat0 = 90.0 - y * dlat
    return lon0, lat0, dlon, dlat


def np_fine_to_tile_pixel(lat, lon, tile_res: int = TILE_RES, grid_log2: int = GRID_LOG2):
    """(tile_cell, px_row, px_col) via one shared fine-resolution floor."""
    xf, yf = np_xy(lat, lon, tile_res + grid_log2)
    tx, ty = xf >> grid_log2, yf >> grid_log2
    tile = np.int64(tile_res) * (1 << R_BITS) + tx * (1 << X_BITS) + ty
    g = (1 << grid_log2) - 1
    return tile, (yf & g), (xf & g)


# ------------------------------------------------------------- spark side

def sql_lit(v: "int | float") -> str:
    """A Python number as Spark SQL text, typed exactly as `F.lit` types
    it: a float is a DOUBLE (`0.5D`; a bare `0.5` would parse as DECIMAL
    and change the arithmetic), an int an INT, or a BIGINT (`...L`) past
    the int32 range; a negative value is parenthesized. Operators that
    build their row-local math as one `F.expr` per column (one JVM round
    trip instead of one per operator) embed their constants through this,
    so the SQL text plans to the same typed expression tree as the
    `Column` API."""
    if isinstance(v, float):
        s = f"{v!r}D"
    else:
        s = str(v) if -(1 << 31) <= v < (1 << 31) else f"{v}L"
    return f"({s})" if v < 0 else s


def xy_cols(lat: Column, lon: Column, res: int) -> tuple[Column, Column]:
    n = 1 << res
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("long")
    y = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(n)).cast("long")
    x = F.least(F.greatest(x, F.lit(0)), F.lit(n - 1))
    y = F.least(F.greatest(y, F.lit(0)), F.lit(n - 1))
    return x, y


def encode_cell(lat: Column, lon: Column, res: int) -> Column:
    """Cell id as a pure column expression (stays in whole-stage codegen)."""
    x, y = xy_cols(lat, lon, res)
    return (F.lit(res) * F.lit(1 << R_BITS) + x * F.lit(1 << X_BITS) + y).alias("cell")


def cell_parent(cell: Column, steps: int = 1) -> Column:
    res = (cell / F.lit(1 << R_BITS)).cast("long")
    x = (cell / F.lit(1 << X_BITS)).cast("long") % F.lit(1 << X_BITS)
    y = cell % F.lit(1 << X_BITS)
    return (
        (res - F.lit(steps)) * F.lit(1 << R_BITS)
        + F.shiftright(x, steps) * F.lit(1 << X_BITS)
        + F.shiftright(y, steps)
    )


def encode_cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """The same encode as ANSI SQL text — used to build DuckDB oracles.

    The interpolated expressions are parenthesized: a compound lat like
    ``x - 85.0`` must read ``90.0 - (x - 85.0)``, not ``90.0 - x - 85.0``
    (this bit: the r1-r2 cell_assign oracle used the unwrapped string on
    BOTH engines, so the hash still matched; the adaptive-tile rewrite
    parses the expression Spark-side and exposed the divergence)."""
    n = 1 << res
    x = (
        f"least(greatest(cast(floor((({lon_expr}) + 180.0) / 360.0 * {n}) as bigint), 0), {n - 1})"
    )
    y = (
        f"least(greatest(cast(floor((90.0 - ({lat_expr})) / 180.0 * {n}) as bigint), 0), {n - 1})"
    )
    return f"(cast({res} as bigint) * {1 << R_BITS} + {x} * {1 << X_BITS} + {y})"


# ------------------------------------------------------------- z-order

def np_z_index(x, y) -> np.ndarray:
    """Morton/Z-order interleave of two <=29-bit coords (numpy, no loop
    over rows): classic bit-spreading via shift-or-mask passes."""
    def spread(v):
        v = np.asarray(v, dtype=np.uint64)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    return (spread(x) | (spread(y) << np.uint64(1))).astype(np.int64)


def z_order_col(lat: Column, lon: Column, res: int) -> Column:
    """Z-order (Morton) index at `res` as a pure column expression — the
    table-layout key for spatial data skipping: sorting a write by this
    column clusters spatially-near rows into the same parquet row groups,
    so min/max statistics prune 2-D bounding-box predicates (what Delta's
    OPTIMIZE ZORDER BY and Iceberg's sort orders do). The interleave is
    the same shift-or-mask ladder as `np_z_index`, expressed with
    shiftleft/bitwise ops inside whole-stage codegen."""
    x, y = xy_cols(lat, lon, res)

    def spread(v: Column) -> Column:
        for sh, mask in (
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ):
            v = F.shiftleft(v, sh).bitwiseOR(v).bitwiseAND(F.lit(mask))
        return v

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))
