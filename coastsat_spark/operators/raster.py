"""Raster layer: pixel aggregation, scene gates, shoreline extraction.

Pipeline shape (the two-shuffle plan of SURVEY.md §3 EP2):

  docs --(shuffle 1: groupBy tile,scene,px)--> pixel aggregates (JVM,
  partial+final hash agg — raw docs never cross into Python) --(shuffle 2:
  groupBy tile,scene)--> applyInPandas(extract) --> shoreline points.

The Python stage receives at most GRID*GRID rows per scene (64 for the
default 8x8 grid), so executor memory is bounded regardless of how many
billions of docs feed a scene — the doc-volume skew of coastal-dense
cells is absorbed by the JVM partial aggregation (map-side combine), the
engine's primary skew defense; AQE skew-join/partition splitting is the
backstop (SURVEY.md §4.2).

Scene-local kernels (Otsu -> marching squares -> contour cleanup ->
world-coordinate shoreline + cloud proximity filter) mirror
SDS_shoreline.py:419-709 but run once per (tile, month) group.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import kernels
from ..functions import cells
from ..functions.cells import sql_lit
from .tiling import BANDS


@dataclass(frozen=True)
class ShorelineSettings:
    """Knobs mirroring the reference's `settings` dict (example.py:96-120)."""

    grid_log2: int = cells.GRID_LOG2
    min_docs_per_px: int = 1  # px with fewer docs = nodata
    cloud_mask_frac: float = 0.5  # px cloud_frac above this -> cloud px (R1)
    max_cloud_frac_combined: float = 0.99  # F2 gate (SDS_shoreline.py:159-162)
    max_cloud_frac: float = 0.95  # F3 gate (SDS_shoreline.py:163-171)
    min_filled_frac: float = 0.30  # F7 empty-scene guard
    min_contour_len_px: float = 1.0  # min_length_sl analog (R12)
    dist_cloud_px: float = 1.0  # J7 proximity anti-join radius (px units)
    # two-class presence gate (analog of the >=50-sand-px branch,
    # SDS_shoreline.py:195): a scene must show clearly-water and
    # clearly-land pixels before thresholding is meaningful.
    water_cut: float = -0.2
    land_cut: float = 0.1
    min_water_px: int = 2
    min_land_px: int = 2
    # class-refined Otsu switch (SDS_shoreline.py:195-202): when set, a
    # scene with >= min_sand_px classified sand pixels (inside the ref
    # buffer if one is given) thresholds on the balanced sand+water class
    # values (find_wl_contours2) instead of the global MNDWI histogram
    # (find_wl_contours1). None = always the contours1 path.
    min_sand_px: int | None = None
    # reference-shoreline buffer gate (create_shoreline_buffer,
    # SDS_shoreline.py:525-584): restrict thresholding + contouring to
    # pixels within max_dist_ref (px units) of the reference shoreline.
    # None = no buffer (reference_shoreline=False behavior).
    max_dist_ref: float | None = None


def aggregate_pixels(docs: DataFrame) -> DataFrame:
    """Shuffle 1: per-(tile, scene_month, pixel) band means + cloud fraction.

    All-JVM hash aggregate with map-side combine; the analog of building
    the scene raster from observations (gdal_merge mosaic, §2.1 S12).
    """
    aggs = [F.avg(b).alias(b) for b in BANDS]
    aggs += [
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("cloud").cast("double")).alias("cloud_frac"),
    ]
    return docs.groupBy("tile", "scene_month", "px_row", "px_col").agg(*aggs)


def scene_quality(pixels: DataFrame, s: ShorelineSettings) -> DataFrame:
    """Per-scene cloud/nodata stats + keep flag (gates F2/F3/F7).

    Exposed as its own operator so the gate is a relational filter *before*
    the Python stage (cheap-filter-first staging, SURVEY.md §4.1). Each
    aggregate and gate is one SQL-text expression with `sql_lit`-typed
    constants (one JVM round trip each, the `Column` API's tree).
    """
    g = 1 << s.grid_log2
    total_px = g * g
    cut = sql_lit(s.cloud_mask_frac)
    clear_mndwi = f"cloud_frac <= {cut} AND (swir - green) / (swir + green)"
    st = pixels.groupBy("tile", "scene_month").agg(
        F.expr("count(1) AS filled_px"),
        F.expr(f"sum(cast(cloud_frac > {cut} as int)) AS cloud_px"),
        F.expr("sum(n_docs) AS n_docs"),
        F.expr(f"sum(cast({clear_mndwi} < {sql_lit(s.water_cut)} as int)) AS water_px"),
        F.expr(f"sum(cast({clear_mndwi} > {sql_lit(s.land_cut)} as int)) AS land_px"),
    )
    filled_frac = f"filled_px / {sql_lit(float(total_px))}"
    cloud_frac = "cloud_px / filled_px"
    combined_bad = f"(cloud_px + {sql_lit(total_px)} - filled_px) / {sql_lit(float(total_px))}"
    keep = (
        f"{filled_frac} >= {sql_lit(s.min_filled_frac)}"
        f" AND {cloud_frac} <= {sql_lit(s.max_cloud_frac)}"
        f" AND {combined_bad} <= {sql_lit(s.max_cloud_frac_combined)}"
        f" AND water_px >= {sql_lit(s.min_water_px)}"
        f" AND land_px >= {sql_lit(s.min_land_px)}"
    )
    return st.selectExpr(
        "tile",
        "scene_month",
        "filled_px",
        "cloud_px",
        "n_docs",
        "water_px",
        "land_px",
        f"{filled_frac} AS filled_frac",
        f"{cloud_frac} AS cloud_frac",
        f"{combined_bad} AS combined_bad_frac",
        f"{keep} AS keep",
    )


def with_halo(
    pixels: DataFrame,
    grid_log2: int = cells.GRID_LOG2,
) -> DataFrame:
    """Append 1-px ghost rows from the 8 neighboring tiles to every tile's
    pixel set, so marching squares stitches contours across tile borders
    (the reference contours whole scenes, SDS_shoreline.py:433-436; this
    restores that continuity for tiled extraction — SURVEY §7.3 halos).

    Ghost rows keep the same columns with px_row/px_col in the OWNING
    tile's frame extended to [-1, g]: a border pixel of a neighbor lands
    on the ghost ring; `scene_extract_pdf` assembles them into a
    (g+2)^2 grid, contours the extension, and emits only core-owned
    points, so every world point is emitted by exactly one tile.

    Pure JVM, SINGLE-SCAN plan: every row carries a literal 9-offset
    array (identity + 8 neighbors); a higher-order `filter` keeps the
    identity always and a neighbor offset only when the pixel lands on
    that neighbor's ghost ring, then one `explode` emits the surviving
    copies. Non-border pixels emit exactly themselves, border pixels
    also emit 1-3 ghost copies. No union and no second branch over the
    input, so an expensive upstream (doc scan + pixel aggregate) is
    consumed exactly ONCE whether or not the caller persisted it —
    callers need no `.persist()` contract (asserted by the single-scan
    plan test in tests/test_plans.py). The ghosts ride the existing
    groupBy(tile, scene) shuffle — no extra exchange; the added bytes
    are <= 8 copies of the ~4g/g^2 border fraction of shuffle-2, which
    is already the small side of the pipeline.
    """
    g = 1 << grid_log2
    # bitwise decode (float division would lose precision at 2^60-scale
    # ids); tile res is read from the id itself so the operator works at
    # any tiling resolution. SQL shiftleft accepts a column shift count.
    # Every column is one SQL-text expression (one JVM round trip each).
    res = f"shiftright(tile, {cells.R_BITS})"
    n = f"shiftleft(1L, cast({res} as int))"
    x = f"(shiftright(tile, {cells.X_BITS}) % {sql_lit(1 << cells.X_BITS)})"
    y = f"(tile % {sql_lit(1 << cells.X_BITS)})"
    offsets = ", ".join(
        f"named_struct('dx', {sql_lit(dx)}, 'dy', {sql_lit(dy)})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    # identity (dx=dy=0) passes UNCONDITIONALLY — original rows are never
    # touched (tile ids outside the cell encoding, e.g. ad-hoc test tiles,
    # survive byte-identical); ghost copies additionally require landing
    # on the neighbor's [-1, g] ring and a valid tile row (lat clamps;
    # lon wraps via pmod below)
    frow = f"px_row - o.dy * {g}"
    fcol = f"px_col - o.dx * {g}"
    emits = (
        f"o -> (o.dx = 0 AND o.dy = 0) OR ("
        f"{frow} >= -1 AND {frow} <= {g} AND {fcol} >= -1 AND {fcol} <= {g}"
        f" AND {y} + o.dy >= 0 AND {y} + o.dy < {n})"
    )
    tile = (
        f"CASE WHEN _o.dx = 0 AND _o.dy = 0 THEN tile ELSE {res} * {sql_lit(1 << cells.R_BITS)}"
        f" + pmod({x} + _o.dx, {n}) * {sql_lit(1 << cells.X_BITS)} + ({y} + _o.dy) END"
    )
    return (
        pixels.withColumn("_o", F.expr(f"explode(filter(array({offsets}), {emits}))"))
        .withColumns(
            {
                "px_row": F.expr(f"px_row - _o.dy * {g}"),
                "px_col": F.expr(f"px_col - _o.dx * {g}"),
                "tile": F.expr(tile),
            }
        )
        .drop("_o")
    )


def _shoreline_schema(pixels: DataFrame) -> str:
    # scene_month is a timestamp on the webpages path but a derived bigint
    # on the oracle-mirror path; carry the input's type through
    mt = dict(pixels.dtypes).get("scene_month", "timestamp")
    return (
        f"tile long, scene_month {mt}, contour_id int, point_idx int, "
        "px_x double, px_y double, lon double, lat double, t_mndwi double"
    )


def _no_points(pdf: pd.DataFrame) -> pd.DataFrame:
    """`scene_extract_pdf`'s zero-row result (scene_month keeps the input's
    dtype), built only at the return sites that need it."""
    return pd.DataFrame(
        {
            k: pd.Series(dtype=t)
            for k, t in [
                ("tile", "int64"),
                ("scene_month", pdf["scene_month"].dtype),
                ("contour_id", "int32"),
                ("point_idx", "int32"),
                ("px_x", "float64"),
                ("px_y", "float64"),
                ("lon", "float64"),
                ("lat", "float64"),
                ("t_mndwi", "float64"),
            ]
        }
    )


def scene_extract_pdf(
    pdf: pd.DataFrame,
    s: ShorelineSettings,
    ref_px: tuple[np.ndarray, np.ndarray] | None = None,
) -> pd.DataFrame:
    """Scene-local kernel: grid assembly -> masks -> (optional) reference
    buffer -> MNDWI -> global or class-refined Otsu -> marching squares ->
    min-length + cloud-proximity filters -> world coords.

    Shared verbatim by the pytest NumPy oracle. `ref_px` = (rows, cols) of
    the reference shoreline rasterized onto this tile's grid (R7 buffer
    gate, only used when s.max_dist_ref is set).

    Operates on a (g+2)^2 EXTENDED grid: `with_halo` ghost rows (px_row /
    px_col in [-1, g]) fill the 1-px ring so marching squares traces
    contours across tile borders and `min_contour_len_px` measures the
    full visible polyline; without halo rows the ring stays NaN and
    behavior is identical to a plain g^2 grid (NaN corners emit no
    segments). Scene gates, Otsu, and the classification-refined
    threshold all use ONLY core pixels, so thresholds are
    tile-deterministic with or without halo. Only core-owned points
    (core frame [-0.5, g-0.5) half-open) are emitted, so each stitched
    world point comes from exactly one tile.
    """
    g = 1 << s.grid_log2
    E = g + 2  # extended (halo) grid side; index = core coord + 1
    core = (slice(1, g + 1), slice(1, g + 1))
    tile = int(pdf["tile"].iloc[0])
    month = pdf["scene_month"].iloc[0]

    grid = np.full((E, E, 2), np.nan)  # [:, :, 0]=green, 1=swir
    cloudm = np.zeros((E, E), dtype=bool)
    filled = np.zeros((E, E), dtype=bool)
    r = pdf["px_row"].to_numpy(int)
    c = pdf["px_col"].to_numpy(int)
    ok = pdf["n_docs"].to_numpy() >= s.min_docs_per_px
    grid[r[ok] + 1, c[ok] + 1, 0] = pdf["green"].to_numpy()[ok]
    grid[r[ok] + 1, c[ok] + 1, 1] = pdf["swir"].to_numpy()[ok]
    filled[r[ok] + 1, c[ok] + 1] = True
    cl = ok & (pdf["cloud_frac"].to_numpy() > s.cloud_mask_frac)
    cloudm[r[cl] + 1, c[cl] + 1] = True
    is_core = (r >= 0) & (r < g) & (c >= 0) & (c < g)

    # scene gates on CORE pixels only (redundant with scene_quality
    # filter; cheap safety) — halo rows never change a tile's gates
    n_filled = int(filled[core].sum())
    if n_filled == 0 or n_filled / (g * g) < s.min_filled_frac:
        return _no_points(pdf)
    if cloudm[core].sum() / max(n_filled, 1) > s.max_cloud_frac:
        return _no_points(pdf)

    mndwi = (grid[:, :, 1] - grid[:, :, 0]) / (grid[:, :, 1] + grid[:, :, 0])
    mndwi[cloudm | ~filled] = np.nan

    # R7: reference-shoreline buffer — thresholding and contouring are
    # restricted to pixels near the prior shoreline, exactly like the
    # reference masks im_mndwi with im_ref_buffer (SDS_shoreline.py:453,
    # 497). No reference points for the tile => no gate (buffer off).
    # Extended-size so the buffer dilates into the halo ring and border
    # contours keep stitching.
    if s.max_dist_ref is not None and ref_px is not None and len(ref_px[0]):
        buf = kernels.buffer_mask(
            (E, E), np.asarray(ref_px[0]) + 1, np.asarray(ref_px[1]) + 1, s.max_dist_ref
        )
        mndwi[~buf] = np.nan

    vals = mndwi[core][np.isfinite(mndwi[core])]
    if (vals < s.water_cut).sum() < s.min_water_px or (vals > s.land_cut).sum() < s.min_land_px:
        return _no_points(pdf)

    # SDS_shoreline.py:195-202: >= min_sand_px classified sand pixels in
    # the (buffered) scene -> class-refined Otsu (find_wl_contours2 path),
    # else the global-histogram threshold (find_wl_contours1 path).
    # Core-only, like the gates: the refined threshold must not depend on
    # neighbor-tile pixels.
    t = np.nan
    if s.min_sand_px is not None:
        from . import classify as _classify

        rc, cc_ = r[ok & is_core], c[ok & is_core]
        grids = {b: np.full((g, g), np.nan) for b in BANDS}
        for b in BANDS:
            grids[b][rc, cc_] = pdf[b].to_numpy()[ok & is_core]
        labels = _classify.classify_grid(grids, cloudm[core], _classify.DEFAULT_MODEL)
        labels[~np.isfinite(mndwi[core])] = -1  # outside buffer/nodata
        if (labels == _classify.CLASS_SAND).sum() >= s.min_sand_px:
            t = _classify.refined_otsu_threshold(mndwi[core], labels)
    if not np.isfinite(t):
        t = kernels.otsu_threshold(vals)
    if not np.isfinite(t):
        return _no_points(pdf)

    contours = kernels.marching_squares(mndwi, t)

    # cloud-proximity anti-join (J7, SDS_shoreline.py:679-692): drop points
    # within dist_cloud_px of any cloud pixel center (scene-local exact).
    # Windowed neighborhood scan: a cloud pixel within dist_cloud_px of a
    # sub-pixel point lies within ceil(dist+1) integer steps of the
    # rounded point, so checking the (2R+1)^2 local mask window gives the
    # exact same keep decisions as the former full points x cloud_px
    # distance matrix at O(points * R^2) instead of O(points * cloud_px)
    # — quadratic-free when the cloud mask is dense.
    has_cloud = bool(cloudm.any())
    _cloud_R = int(np.ceil(s.dist_cloud_px + 1.0))

    def _cloud_keep(pts: np.ndarray) -> np.ndarray:
        base_y = np.round(pts[:, 0]).astype(np.int64)
        base_x = np.round(pts[:, 1]).astype(np.int64)
        d2min = np.full(len(pts), np.inf)
        for di in range(-_cloud_R, _cloud_R + 1):
            for dj in range(-_cloud_R, _cloud_R + 1):
                ny = base_y + di
                nx = base_x + dj
                inb = (ny >= 0) & (ny < E) & (nx >= 0) & (nx < E)
                iscloud = inb & cloudm[np.where(inb, ny, 0), np.where(inb, nx, 0)]
                d2 = (ny - pts[:, 0]) ** 2 + (nx - pts[:, 1]) ** 2
                d2min = np.where(iscloud, np.minimum(d2min, d2), d2min)
        return d2min > s.dist_cloud_px**2

    lon0, lat0, dlon, dlat = cells.np_cell_bounds(np.array([tile]))
    lon0, lat0, dlon, dlat = float(lon0[0]), float(lat0[0]), float(dlon[0]), float(dlat[0])

    kept: list[np.ndarray] = []
    cids: list[np.ndarray] = []
    idxs: list[np.ndarray] = []
    cid = 0
    for cont in contours:
        # length measured on the FULL traced polyline (including halo
        # points): a short border fragment whose continuation is visible
        # in the ghost ring is no longer dropped
        if kernels.polyline_length(cont) < s.min_contour_len_px:
            continue
        pts = cont  # (n, 2) as (row, col) sub-pixel, EXTENDED coords
        if has_cloud:
            pts = pts[_cloud_keep(pts)]
        # core ownership (half-open [-0.5, g-0.5) in core frame): each
        # stitched world point is emitted by exactly one tile
        pts = pts - 1.0  # extended -> core frame
        own = (
            (pts[:, 0] >= -0.5) & (pts[:, 0] < g - 0.5)
            & (pts[:, 1] >= -0.5) & (pts[:, 1] < g - 0.5)
        )
        pts = pts[own]
        # no per-contour point-count re-check after cloud removal /
        # ownership: the reference length-filters FULL contours, then
        # flattens every surviving contour into one point array and
        # drops individual cloud-near points from it
        # (SDS_shoreline.py:661-692) — a contour reduced to a single
        # point keeps that point, and a tile legitimately owns a single
        # point of a long stitched polyline
        if len(pts) < 1:
            continue
        kept.append(pts)
        cids.append(np.full(len(pts), cid, dtype=np.int64))
        idxs.append(np.arange(len(pts), dtype=np.int64))
        cid += 1
    if not kept:
        return _no_points(pdf)
    allpts = np.concatenate(kept)
    # pixel -> world affine: pixel centers at (index + 0.5)
    return pd.DataFrame(
        {
            "tile": tile,
            "scene_month": month,
            "contour_id": np.concatenate(cids),
            "point_idx": np.concatenate(idxs),
            "px_x": allpts[:, 1],
            "px_y": allpts[:, 0],
            "lon": lon0 + (allpts[:, 1] + 0.5) * dlon / g,
            "lat": lat0 - (allpts[:, 0] + 0.5) * dlat / g,
            "t_mndwi": t,
        }
    )


def rescale_pixels(pixels: DataFrame, cols: list[str] | None = None, prc_clip: float = 99.9) -> DataFrame:
    """R14/A10 relational form: per-scene percentile clip + stretch to
    [0,1] with the lower bound pinned at 0 (rescale_image_intensity,
    SDS_preprocess.py:516-571, prc_low = 0).

    One window percentile + pure arithmetic per band — all JVM-side, no
    Python; the NumPy mirror (kernels.rescale_intensity) serves grid-level
    viz paths and the parity test. Appends ``<band>_adj`` columns.
    """
    from pyspark.sql import Window as W

    cols = cols if cols is not None else list(BANDS)
    w = W.partitionBy("tile", "scene_month")
    out = pixels
    q = prc_clip / 100.0
    for c in cols:
        hi = F.expr(f"percentile({c}, {q!r})").over(w)
        out = out.withColumn(
            f"{c}_adj",
            F.when(hi <= 0.0, F.lit(0.0)).otherwise(
                F.least(F.greatest(F.col(c), F.lit(0.0)), hi) / hi
            ),
        )
    return out


def _pansharp_schema(pixels: DataFrame) -> str:
    # tile/scene_month types follow the input (timestamp scenes from the
    # flagship path, integer scene keys from the oracle-mirror path)
    in_types = dict(pixels.dtypes)
    return (
        f"tile {in_types['tile']}, scene_month {in_types['scene_month']}, "
        "px_row int, px_col int, " + ", ".join(f"{b} double" for b in BANDS)
    )


def pansharpen_scenes(pixels: DataFrame, s: ShorelineSettings | None = None) -> DataFrame:
    """R4: per-scene PCA pansharpening over the pixel-aggregate table
    (SDS_preprocess.py:466-514): PC1 of the band stack is replaced by the
    histogram-matched pan band, then inverse-transformed.

    The engine's sensor model carries no separate panchromatic band, so
    pan = mean of the visible bands (the same spectral role; documented
    stand-in). Cloudy pixels are excluded from the PCA exactly like the
    reference's cloud_mask argument.
    """
    s = s or ShorelineSettings()
    g = 1 << s.grid_log2

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        tile = int(pdf["tile"].iloc[0])
        month = pdf["scene_month"].iloc[0]
        ms = np.full((g, g, len(BANDS)), np.nan)
        r = pdf["px_row"].to_numpy(int)
        c = pdf["px_col"].to_numpy(int)
        ok = pdf["n_docs"].to_numpy() >= s.min_docs_per_px
        for i, b in enumerate(BANDS):
            ms[r[ok], c[ok], i] = pdf[b].to_numpy()[ok]
        cloudm = np.zeros((g, g), dtype=bool)
        cl = ok & (pdf["cloud_frac"].to_numpy() > s.cloud_mask_frac)
        cloudm[r[cl], c[cl]] = True
        pan = np.nanmean(ms[:, :, :3], axis=2)  # blue/green/red mean
        sharp = kernels.pansharpen(ms, pan, mask=cloudm)
        rr, cc = np.nonzero(np.isfinite(sharp).all(axis=2))
        out = {"tile": tile, "scene_month": month,
               "px_row": rr.astype(np.int32), "px_col": cc.astype(np.int32)}
        for i, b in enumerate(BANDS):
            out[b] = sharp[rr, cc, i]
        return pd.DataFrame(out)

    return pixels.groupBy("tile", "scene_month").applyInPandas(
        fn, schema=_pansharp_schema(pixels)
    )


def pansharpen_oracle_tail_sql(
    s: ShorelineSettings | None = None,
    px_cte: str = "px",
    max_iters: int = 3000,
) -> str:
    """DuckDB mirror of pansharpen_scenes over a relational pixel CTE
    (`px_cte` must expose tile, scene_month, px_row, px_col, the five
    bands, n_docs, cloud_frac). Returns a CTE chain ending in
    `pansharp_out`; embed after `WITH RECURSIVE {obs_ctes},`.

    The mirror exploits two exact identities of the kernel
    (kernels.pansharpen / kernels.hist_match):

    1. Since Vt is orthonormal and only PC1 is replaced,
       Xs = pcs @ Vt + mu  ==  X + (matched - pc1) * v1
       so ONLY the top eigenvector v1 of the band covariance is needed —
       computed here by a converged power iteration in a recursive CTE
       (the kernel's SVD and the iteration agree to ~1e-13, far inside
       the round-4 output tolerance).
    2. hist_match on equal-length arrays is an exact rank swap: the
       pixel holding the j-th smallest pan value receives the j-th
       smallest PC1 value (np.interp lands exactly on the (j+.5)/n
       quantile nodes), with numpy's stable argsort tie-break = grid
       scan order (px_row, px_col).

    numpy's sign fix (largest-|component| entry of v1 made positive,
    first index wins ties, np.sign(0)=0 quirk included) is replicated
    verbatim so the PC1 rank direction matches.
    """
    s = s or ShorelineSettings()
    k = len(BANDS)
    mu = [f"mu{i}" for i in range(k)]
    v = [f"v{i}" for i in range(k)]
    mus = ", ".join(f"avg({b}) AS mu{i}" for i, b in enumerate(BANDS))
    covs = ", ".join(
        f"covar_pop({BANDS[i]}, {BANDS[j]}) AS c{i}{j}"
        for i in range(k)
        for j in range(i, k)
    )
    cof = lambda i, j: f"c{min(i, j)}{max(i, j)}"  # noqa: E731
    matvec = ", ".join(
        " + ".join(f"{cof(i, j)} * u{j}" for j in range(k)) + f" AS w{i}"
        for i in range(k)
    )
    nrm2 = " + ".join(f"w{i} * w{i}" for i in range(k))
    # the carried vector is renamed u* inside the step: DuckDB lateral
    # column aliases would otherwise bind v* in the delta expression to
    # the same-SELECT "w/nrm AS v*" aliases, making delta identically 0
    delta = ", ".join(f"abs(w{i} / nrm - u{i})" for i in range(k))
    # base-case literals MUST be cast: DuckDB locks the recursive CTE's
    # column types to the base case, and a bare `1.0 AS delta` is
    # DECIMAL(2,1) — every subsequent delta would round to one decimal
    start = ", ".join(f"{1.0 / k**0.5!r}::DOUBLE AS v{i}" for i in range(k))
    sgn_cases = []
    for i in range(k):
        conds = " AND ".join(
            f"abs(v{i}) >= abs(v{j})" for j in range(i + 1, k)
        )
        branch = f"CASE WHEN v{i} < 0 THEN -1.0 WHEN v{i} > 0 THEN 1.0 ELSE 0.0 END"
        sgn_cases.append(f"WHEN {conds} THEN {branch}" if conds else f"ELSE {branch}")
    sgn = "CASE " + " ".join(sgn_cases[:-1]) + " " + sgn_cases[-1] + " END"
    pc1 = " + ".join(f"({b} - {mu[i]}) * {v[i]}" for i, b in enumerate(BANDS))
    xform = ", ".join(f"{b} + (m - pc1) * {v[i]} AS {b}" for i, b in enumerate(BANDS))
    bands_csv = ", ".join(BANDS)
    min_n = k + 1
    return f"""
      okpx AS (
        SELECT tile, scene_month, px_row, px_col, {bands_csv},
               (cloud_frac > {s.cloud_mask_frac!r}) AS is_cloud,
               ({" + ".join(BANDS[:3])}) / 3.0 AS pan
        FROM {px_cte} WHERE n_docs >= {s.min_docs_per_px}
      ), goodpx AS (
        SELECT * FROM okpx WHERE NOT is_cloud
      ), pstats AS (
        SELECT tile, scene_month, count(*) AS n_good, {mus}, {covs}
        FROM goodpx GROUP BY 1, 2
      ), pit AS (
        SELECT tile, scene_month, 0 AS it, 1.0::DOUBLE AS delta, {start}
        FROM pstats WHERE n_good >= {min_n}
        UNION ALL
        SELECT tile, scene_month, it + 1,
               greatest({delta}) AS delta,
               {", ".join(f"w{i} / nrm AS v{i}" for i in range(k))}
        FROM (
          SELECT tile, scene_month, it,
                 {", ".join(f"u{i}" for i in range(k))},
                 {", ".join(f"w{i}" for i in range(k))},
                 sqrt({nrm2}) AS nrm
          FROM (
            SELECT p.tile, p.scene_month, p.it,
                   {", ".join(f"p.v{i} AS u{i}" for i in range(k))},
                   {matvec}
            FROM pit p JOIN pstats USING (tile, scene_month)
            WHERE p.it < {max_iters} AND p.delta > 1e-15
          )
        ) WHERE nrm > 0
      ), veig AS (
        SELECT tile, scene_month,
               {", ".join(f"v{i} * sgn AS v{i}" for i in range(k))}
        FROM (
          SELECT *, {sgn} AS sgn FROM pit
          QUALIFY row_number() OVER (
            PARTITION BY tile, scene_month ORDER BY it DESC) = 1
        )
      ), pc AS (
        SELECT g.tile, g.scene_month, g.px_row, g.px_col, {bands_csv}, pan,
               {", ".join(v)}, {pc1} AS pc1
        FROM goodpx g
        JOIN pstats USING (tile, scene_month)
        JOIN veig USING (tile, scene_month)
        WHERE n_good >= {min_n}
      ), rs AS (
        SELECT *, row_number() OVER (
          PARTITION BY tile, scene_month ORDER BY pan, px_row, px_col) AS r
        FROM pc
      ), rt AS (
        SELECT tile, scene_month, pc1 AS m,
               row_number() OVER (PARTITION BY tile, scene_month ORDER BY pc1) AS r
        FROM pc
      ), pansharp_out AS (
        SELECT rs.tile, rs.scene_month, rs.px_row, rs.px_col, {xform}
        FROM rs JOIN rt ON rs.tile = rt.tile
          AND rs.scene_month = rt.scene_month AND rs.r = rt.r
        UNION ALL
        -- passthrough: cloud px of live scenes; every ok px of scenes
        -- with < {min_n} PCA-eligible pixels (kernel's early return)
        SELECT o.tile, o.scene_month, o.px_row, o.px_col, {bands_csv}
        FROM okpx o LEFT JOIN pstats t USING (tile, scene_month)
        WHERE COALESCE(t.n_good, 0) < {min_n}
           OR (t.n_good >= {min_n} AND o.is_cloud)
      )"""


def _scene_groups(
    pixels: DataFrame,
    s: ShorelineSettings,
    quality: DataFrame | None = None,
    halo: bool = True,
) -> DataFrame:
    """The contour kernel's input: pixel rows (plus halo ghosts) hash
    partitioned and sorted on (tile, scene_month), holding only groups
    that can yield points."""
    if quality is not None:
        keep = quality.filter("keep").select("tile", "scene_month")
        pixels = pixels.join(keep, ["tile", "scene_month"], "left_semi")
    if halo:
        pixels = with_halo(pixels, grid_log2=s.grid_log2)
    # deliberately the coalescible (no pinned count) repartition form:
    # an r6 A/B that pinned spark.sql.shuffle.partitions here doubled
    # the stage's summed task time (per-task Python dispatch overhead,
    # 16 -> 32 tasks) with NO wall gain — at sf0.1 this stage is bound
    # by per-task fixed cost, not parallelism, so AQE's coalescing is
    # the right call and scales with data volume at larger sf.
    rep = pixels.repartition("tile", "scene_month").sortWithinPartitions(
        "tile", "scene_month"
    )
    if not halo:
        return rep
    # ghosts also land in tiles with no pixels of their own in the scene
    # (a gated-out or empty neighbor). Such a group holds only ring rows,
    # so filled[core] is 0 and the kernel can only return empty: drop it
    # JVM-side, before the Python boundary. The window reuses the
    # repartition's clustering and sort (no extra exchange or sort).
    g = 1 << s.grid_log2
    core = f"px_row >= 0 AND px_row < {g} AND px_col >= 0 AND px_col < {g}"
    return (
        rep.withColumn("_core", F.expr(f"max({core}) OVER (PARTITION BY tile, scene_month)"))
        .filter("_core")
        .drop("_core")
    )


def extract_shorelines(
    pixels: DataFrame,
    s: ShorelineSettings | None = None,
    quality: DataFrame | None = None,
    reference: pd.DataFrame | None = None,
    halo: bool = True,
) -> DataFrame:
    """Shuffle 2: scene-grouped contour extraction (<=(G+2)^2 rows per group).

    `halo=True` (default) emits 1-px ghost rows into the 8 neighbor
    tiles (`with_halo`, single-scan explode) before the scene group, so
    contours stitch across tile borders and border fragments keep their
    full visible length. The halo consumes `pixels` exactly once —
    callers do NOT need to persist the pixel aggregate for this call
    (persisting is still right when OTHER consumers share it, e.g.
    run_flagship's quality gate + metrics).

    `quality` (from scene_quality) pre-filters scenes relationally; pass
    None to gate inside the kernel only. `reference` is a small pandas
    frame (tile, px_row, px_col) of the prior/reference shoreline
    rasterized per tile — a bounded dimension (one polyline per world
    tile, like the reference's single reference_shoreline input,
    SDS_shoreline.py:525), shipped as an explicit
    `sparkContext.broadcast` so each executor receives it once (closure
    capture would re-serialize it into every task).

    Execution shape: one hash shuffle on the scene key, then a
    mapInPandas UDF that loops over groups: rows arrive key-sorted
    within the partition, each ~10k-row Arrow batch is sliced at key
    boundaries with one numpy flatnonzero, and only the possibly
    incomplete trailing group is carried to the next batch (bounded
    memory: one group + one batch). The stage's cost was Python work
    that produced nothing, not Arrow framing: on the 30,000-doc
    benchmark input (seed 0) 835 groups reached the kernel, 634 of them
    holding only halo ghosts of kept neighbors, and every call built its
    empty result frame up front. Dropping ghost-only groups in the JVM
    (`_scene_groups`) and building the empty frame only where it is
    returned took the isolated stage from 1.83 s to 1.01 s (local[2]).
    With only live groups left, a `mapInArrow` identity pass over this
    input runs within 0.05 s of a `mapInPandas` one (0.51 s vs 0.55 s),
    so the framing is not the lever at this scale.
    """
    s = s or ShorelineSettings()
    ref_bc = None
    if reference is not None and s.max_dist_ref is not None:
        ref_map = {
            int(t): (grp["px_row"].to_numpy(int), grp["px_col"].to_numpy(int))
            for t, grp in reference.groupby("tile")
        }
        ref_bc = pixels.sparkSession.sparkContext.broadcast(ref_map)

    def run_group(grp: pd.DataFrame) -> pd.DataFrame:
        rp = (
            ref_bc.value.get(int(grp["tile"].iloc[0]))
            if ref_bc is not None
            else None
        )
        return scene_extract_pdf(grp, s, rp)

    def map_fn(batches):
        tail: pd.DataFrame | None = None
        out: list[pd.DataFrame] = []
        out_rows = 0

        def emit(grp):
            nonlocal out_rows
            res = run_group(grp)
            if len(res):
                out.append(res)
                out_rows += len(res)

        for pdf in batches:
            if tail is not None:
                pdf = pd.concat([tail, pdf], ignore_index=True)
                tail = None
            if not len(pdf):
                continue
            k1 = pdf["tile"].to_numpy()
            k2 = pdf["scene_month"].to_numpy()
            change = (k1[1:] != k1[:-1]) | (k2[1:] != k2[:-1])
            starts = np.flatnonzero(np.concatenate(([True], change)))
            for a, b in zip(starts[:-1], starts[1:]):
                emit(pdf.iloc[a:b])
            # the last group may continue in the next Arrow batch
            tail = pdf.iloc[starts[-1]:]
            if out_rows >= 8192:  # coalesce return batches as well
                yield pd.concat(out, ignore_index=True)
                out, out_rows = [], 0
        if tail is not None and len(tail):
            emit(tail)
        if out:
            yield pd.concat(out, ignore_index=True)

    groups = _scene_groups(pixels, s, quality, halo)
    return groups.mapInPandas(map_fn, schema=_shoreline_schema(groups))


def crossings_oracle_sql(
    grid_log2: int,
    s: "ShorelineSettings | None" = None,
    tile_res: int = cells.TILE_RES,
) -> str:
    """DuckDB mirror of the marching-squares crossing-point SET that
    `extract_shorelines` emits (min_contour_len_px=0, global-Otsu path,
    halo on): thresholding (bit-faithful 256-bin NumPy histogram
    semantics incl. the fast-path FP corrections), sub-pixel linear
    interpolation on sign-change grid edges (R10/R12,
    SDS_shoreline.py:433-436), NaN-cell suppression, the J7
    cloud-proximity anti-join, and the per-tile ownership rule — all as
    SQL over the relational pixel CTE `px`.

    The polyline STRUCTURE (contour_id/point_idx stitching order) is the
    only part not mirrored: the Spark query projects the distinct point
    set, which this SQL reproduces exactly. Candidate owner tiles per
    edge are the (<=2) tiles containing its endpoint pixels; each
    computes the crossing with ITS OWN per-scene threshold and keeps the
    point only if it falls in the tile's half-open core box — the same
    rule the kernel applies, including the (rare, documented) border
    cases where differing neighbor thresholds emit zero or two points.
    """
    s = s or ShorelineSettings(grid_log2=grid_log2)
    g = 1 << grid_log2
    XB_MASK = (1 << cells.X_BITS) - 1
    total_px = g * g
    # world width in fine pixels: longitude wraps (with_halo pmods tile
    # x), so horizontal adjacency, ownership frames and cloud distances
    # are all computed modulo W — the antimeridian seam stitches exactly
    # like any interior border
    W = (1 << tile_res) * g
    # np.histogram fast path: bin = trunc((v-lo)*norm), ==nbins -> -1,
    # then -1 where v < edge[bin], +1 where v >= edge[bin+1] (not last)
    return f"""
        f AS (
          SELECT tile, scene_month,
                 ((tile >> {cells.X_BITS}) & {XB_MASK}) * {g} + px_col AS gx,
                 (tile & {XB_MASK}) * {g} + px_row AS gy,
                 CASE WHEN cloud_frac > {s.cloud_mask_frac!r} THEN NULL
                      ELSE (swir - green) / (swir + green) END AS v,
                 CASE WHEN cloud_frac > {s.cloud_mask_frac!r} THEN 1 ELSE 0 END AS cloud
          FROM px
        ), sc AS (
          SELECT tile, scene_month,
                 count(*) AS filled,
                 sum(cloud) AS cloud_px,
                 min(v) AS lo, max(v) AS hi,
                 count(v) AS n_vals,
                 sum(CASE WHEN v < {s.water_cut!r} THEN 1 ELSE 0 END) AS water_px,
                 sum(CASE WHEN v > {s.land_cut!r} THEN 1 ELSE 0 END) AS land_px
          FROM f GROUP BY 1, 2
        ), gated AS (
          SELECT * FROM sc
          WHERE filled > 0
            AND filled / {float(total_px)!r} >= {s.min_filled_frac!r}
            AND cloud_px / filled <= {s.max_cloud_frac!r}
            AND water_px >= {s.min_water_px} AND land_px >= {s.min_land_px}
            AND hi > lo
        ), b0 AS (
          SELECT f.tile, f.scene_month, f.v, sc.lo, sc.hi,
                 CAST(floor((f.v - sc.lo) * (256.0 / (sc.hi - sc.lo))) AS INT) AS k0
          FROM f JOIN gated sc USING (tile, scene_month)
          WHERE f.v IS NOT NULL
        ), b1 AS (
          SELECT *, CASE WHEN k0 = 256 THEN 255 ELSE k0 END AS k1 FROM b0
        ), b2 AS (
          SELECT tile, scene_month,
                 CASE WHEN v < (k1 * ((hi - lo) / 256.0) + lo) THEN k1 - 1
                      WHEN k1 <> 255
                           AND v >= ((k1 + 1) * ((hi - lo) / 256.0) + lo) THEN k1 + 1
                      ELSE k1 END AS k
          FROM b1
        ), bins AS (SELECT CAST(range AS INT) AS k FROM range(256)
        ), hist AS (
          SELECT g.tile, g.scene_month, b.k, g.lo, g.hi,
                 CAST(count(b2.k) AS DOUBLE) AS cnt
          FROM gated g CROSS JOIN bins b
          LEFT JOIN b2 ON b2.tile = g.tile AND b2.scene_month = g.scene_month
                      AND b2.k = b.k
          GROUP BY 1, 2, 3, 4, 5
        ), cum AS (
          SELECT tile, scene_month, k, lo, hi,
                 sum(cnt) OVER w AS w0,
                 sum(cnt * ((k * ((hi - lo) / 256.0) + lo
                             + (k + 1) * ((hi - lo) / 256.0) + lo) / 2.0)) OVER w AS m,
                 sum(cnt) OVER t AS n_tot,
                 sum(cnt * ((k * ((hi - lo) / 256.0) + lo
                             + (k + 1) * ((hi - lo) / 256.0) + lo) / 2.0)) OVER t AS m_tot
          FROM hist
          WINDOW w AS (PARTITION BY tile, scene_month ORDER BY k
                       ROWS UNBOUNDED PRECEDING),
                 t AS (PARTITION BY tile, scene_month)
        ), betw AS (
          SELECT tile, scene_month, k, lo, hi,
                 w0 * (n_tot - w0)
                 * pow(CASE WHEN w0 > 0 THEN m / greatest(w0, 1.0) ELSE 0.0 END
                       - CASE WHEN (n_tot - w0) > 0
                              THEN (m_tot - m) / greatest(n_tot - w0, 1.0)
                              ELSE 0.0 END, 2) AS between_var
          FROM cum WHERE k <= 254
        ), otsu AS (
          -- numpy's argmax takes the FIRST bin of the max plateau (the
          -- plateau over empty bins is bit-identical in the incremental
          -- cumsum), but DuckDB's windowed sums carry last-bit jitter —
          -- so take the smallest k within a 1e-12 relative band of the
          -- max instead of ordering on the raw float
          SELECT tile, scene_month,
                 (k * ((hi - lo) / 256.0) + lo
                  + (k + 1) * ((hi - lo) / 256.0) + lo) / 2.0 AS t
          FROM (SELECT *,
                       max(between_var) OVER (PARTITION BY tile, scene_month) AS mxv
                FROM betw)
          WHERE between_var >= mxv - abs(mxv) * 1e-12
          QUALIFY row_number() OVER (PARTITION BY tile, scene_month ORDER BY k ASC) = 1
        ), valid_cells AS (
          SELECT p00.scene_month, p00.gy AS r, p00.gx AS c
          FROM f p00
          JOIN f p01 ON p01.scene_month = p00.scene_month
                    AND p01.gy = p00.gy AND p01.gx = (p00.gx + 1) % {W}
          JOIN f p10 ON p10.scene_month = p00.scene_month
                    AND p10.gy = p00.gy + 1 AND p10.gx = p00.gx
          JOIN f p11 ON p11.scene_month = p00.scene_month
                    AND p11.gy = p00.gy + 1 AND p11.gx = (p00.gx + 1) % {W}
          WHERE p00.v IS NOT NULL AND p01.v IS NOT NULL
            AND p10.v IS NOT NULL AND p11.v IS NOT NULL
        ), ed AS (
          SELECT a.scene_month, a.gx, a.gy, 'v' AS dir, a.v AS va, b.v AS vb,
                 a.tile AS ta, b.tile AS tb
          FROM f a JOIN f b ON b.scene_month = a.scene_month
                           AND b.gx = a.gx AND b.gy = a.gy + 1
          WHERE a.v IS NOT NULL AND b.v IS NOT NULL
          UNION ALL
          SELECT a.scene_month, a.gx, a.gy, 'h', a.v, b.v, a.tile, b.tile
          FROM f a JOIN f b ON b.scene_month = a.scene_month
                           AND b.gy = a.gy AND b.gx = (a.gx + 1) % {W}
          WHERE a.v IS NOT NULL AND b.v IS NOT NULL
        ), cand AS (
          SELECT DISTINCT e.scene_month, e.gx, e.gy, e.dir, e.va, e.vb, ct.tile
          FROM ed e
          CROSS JOIN LATERAL (SELECT e.ta AS tile UNION SELECT e.tb) ct
        ), pts AS (
          SELECT c.tile, c.scene_month,
                 CASE WHEN c.dir = 'v' THEN c.gy + (o.t - c.va) / (c.vb - c.va)
                      ELSE CAST(c.gy AS DOUBLE) END AS pgy,
                 CASE WHEN c.dir = 'h' THEN c.gx + (o.t - c.va) / (c.vb - c.va)
                      ELSE CAST(c.gx AS DOUBLE) END AS pgx,
                 c.gx, c.gy, c.dir, o.t
          FROM cand c JOIN otsu o USING (tile, scene_month)
          WHERE (c.va > o.t) <> (c.vb > o.t)
        ), owned AS (
          -- frame x = minimal wrap representative of (pgx - tile_x*g)
          -- modulo W, so seam tiles own their ghost-interpolated points
          -- exactly like interior borders; y never wraps (lat clamps)
          SELECT p.*,
                 p.pgy - (p.tile & {XB_MASK}) * {g} AS fy,
                 (p.pgx - ((p.tile >> {cells.X_BITS}) & {XB_MASK}) * {g})
                   - {W} * round((p.pgx - ((p.tile >> {cells.X_BITS}) & {XB_MASK}) * {g}) / {W}.0) AS fx
          FROM pts p
          WHERE p.pgy - (p.tile & {XB_MASK}) * {g} >= -0.5
            AND p.pgy - (p.tile & {XB_MASK}) * {g} < {g} - 0.5
        ), owned2 AS (
          SELECT * FROM owned WHERE fx >= -0.5 AND fx < {g} - 0.5
        ), kept AS (
          SELECT o.* FROM owned2 o
          WHERE EXISTS (
            SELECT 1 FROM valid_cells vc
            WHERE vc.scene_month = o.scene_month
              AND ((o.dir = 'v' AND vc.r = o.gy
                    AND vc.c IN ((o.gx - 1 + {W}) % {W}, o.gx))
                OR (o.dir = 'h' AND vc.c = o.gx AND vc.r IN (o.gy - 1, o.gy)))
          )
          AND NOT EXISTS (
            -- J7 mirror with the kernel's VISIBILITY: scene_extract_pdf
            -- only sees cloud pixels inside the owning tile's (g+2)^2
            -- extended grid (core + 1-px halo ring), so the anti-join
            -- restricts cl to that window (tile-frame coords in [-1, g],
            -- x wrapped) before the distance test — without the bound
            -- the oracle would drop border points the kernel keeps
            -- whenever dist_cloud_px reaches past the halo ring
            SELECT 1 FROM f cl
            WHERE cl.scene_month = o.scene_month AND cl.cloud = 1
              AND cl.gy BETWEEN (o.tile & {XB_MASK}) * {g} - 1
                            AND (o.tile & {XB_MASK}) * {g} + {g}
              AND ((cl.gx - ((o.tile >> {cells.X_BITS}) & {XB_MASK}) * {g})
                   - {W} * round((cl.gx - ((o.tile >> {cells.X_BITS}) & {XB_MASK}) * {g}) / {W}.0))
                  BETWEEN -1 AND {g}
              AND (cl.gy - o.pgy) * (cl.gy - o.pgy)
                + ((cl.gx - o.pgx) - {W} * round((cl.gx - o.pgx) / {W}.0))
                  * ((cl.gx - o.pgx) - {W} * round((cl.gx - o.pgx) / {W}.0))
                  <= {s.dist_cloud_px!r} * {s.dist_cloud_px!r}
          )
        )
        SELECT DISTINCT tile, scene_month,
               round(fx, 6) AS px_x, round(fy, 6) AS px_y,
               round(t, 6) AS t_mndwi
        FROM kept
    """


def _otsu_tile_ctes(src: str, p: str) -> str:
    """CTE text: per-(tile, scene_month) NumPy-faithful 256-bin Otsu over
    the value rows of CTE ``src(tile, scene_month, v)`` -> ``{p}otsu(tile,
    scene_month, t)``. Degenerate groups (all values equal) emit t = lo,
    exactly kernels.otsu_threshold; empty groups emit no row (NaN analog).
    Shares the binning fast-path corrections and the argmax-plateau rule
    with crossings_oracle_sql (see the comments there)."""
    return f"""
    {p}lh AS (
      SELECT tile, scene_month, min(v) AS lo, max(v) AS hi
      FROM {src} GROUP BY 1, 2),
    {p}b0 AS (
      SELECT s.tile, s.scene_month, s.v, l.lo, l.hi,
             CAST(floor((s.v - l.lo) * (256.0 / (l.hi - l.lo))) AS INT) AS k0
      FROM {src} s JOIN {p}lh l USING (tile, scene_month) WHERE l.hi > l.lo),
    {p}b1 AS (SELECT *, CASE WHEN k0 = 256 THEN 255 ELSE k0 END AS k1 FROM {p}b0),
    {p}b2 AS (
      SELECT tile, scene_month,
             CASE WHEN v < (k1 * ((hi - lo) / 256.0) + lo) THEN k1 - 1
                  WHEN k1 <> 255
                       AND v >= ((k1 + 1) * ((hi - lo) / 256.0) + lo) THEN k1 + 1
                  ELSE k1 END AS k
      FROM {p}b1),
    {p}hist AS (
      SELECT l.tile, l.scene_month, b.k, l.lo, l.hi,
             CAST(count({p}b2.k) AS DOUBLE) AS cnt
      FROM {p}lh l CROSS JOIN bins b
      LEFT JOIN {p}b2 ON {p}b2.tile = l.tile AND {p}b2.scene_month = l.scene_month
                     AND {p}b2.k = b.k
      WHERE l.hi > l.lo
      GROUP BY 1, 2, 3, 4, 5),
    {p}cum AS (
      SELECT tile, scene_month, k, lo, hi,
             sum(cnt) OVER w AS w0,
             sum(cnt * ((k * ((hi - lo) / 256.0) + lo
                         + (k + 1) * ((hi - lo) / 256.0) + lo) / 2.0)) OVER w AS m,
             sum(cnt) OVER t AS n_tot,
             sum(cnt * ((k * ((hi - lo) / 256.0) + lo
                         + (k + 1) * ((hi - lo) / 256.0) + lo) / 2.0)) OVER t AS m_tot
      FROM {p}hist
      WINDOW w AS (PARTITION BY tile, scene_month ORDER BY k
                   ROWS UNBOUNDED PRECEDING),
             t AS (PARTITION BY tile, scene_month)),
    {p}betw AS (
      SELECT tile, scene_month, k, lo, hi,
             w0 * (n_tot - w0)
             * pow(CASE WHEN w0 > 0 THEN m / greatest(w0, 1.0) ELSE 0.0 END
                   - CASE WHEN (n_tot - w0) > 0
                          THEN (m_tot - m) / greatest(n_tot - w0, 1.0)
                          ELSE 0.0 END, 2) AS between_var
      FROM {p}cum WHERE k <= 254),
    {p}otsu AS (
      SELECT tile, scene_month,
             (k * ((hi - lo) / 256.0) + lo
              + (k + 1) * ((hi - lo) / 256.0) + lo) / 2.0 AS t
      FROM (SELECT *,
                   max(between_var) OVER (PARTITION BY tile, scene_month) AS mxv
            FROM {p}betw)
      WHERE between_var >= mxv - abs(mxv) * 1e-12
      QUALIFY row_number() OVER (PARTITION BY tile, scene_month ORDER BY k ASC) = 1
      UNION ALL
      SELECT tile, scene_month, lo AS t FROM {p}lh WHERE hi = lo)"""


def _crossing_tile_ctes(p: str, w: str, vc: str, tsrc: str, g: int, dist_cloud_px: float) -> str:
    """CTE text: marching-squares crossing points per OWNER TILE from the
    frame-coordinate window view ``w(otile, scene_month, ptile, fy, fx,
    <vc>, cloud)`` and thresholds ``tsrc(tile, scene_month, t)`` ->
    ``{p}kept(otile, scene_month, py, px_, t)`` (raw sub-pixel coords).
    Mirrors crossings_oracle_sql's edge/ownership/NaN-cell/J7 logic, but
    in per-tile frame coordinates so the VALUE column itself may be
    owner-dependent (the R7 buffer NaNs pixels per owning tile)."""
    return f"""
    {p}ed AS (
      SELECT a.otile, a.scene_month, a.fy, a.fx, 'v' AS dir,
             a.{vc} AS va, b.{vc} AS vb
      FROM {w} a JOIN {w} b
        ON b.otile = a.otile AND b.scene_month = a.scene_month
       AND b.fx = a.fx AND b.fy = a.fy + 1
      WHERE a.{vc} IS NOT NULL AND b.{vc} IS NOT NULL
      UNION ALL
      SELECT a.otile, a.scene_month, a.fy, a.fx, 'h',
             a.{vc}, b.{vc}
      FROM {w} a JOIN {w} b
        ON b.otile = a.otile AND b.scene_month = a.scene_month
       AND b.fy = a.fy AND b.fx = a.fx + 1
      WHERE a.{vc} IS NOT NULL AND b.{vc} IS NOT NULL),
    {p}pt AS (
      SELECT e.otile, e.scene_month, e.fy, e.fx, e.dir, t.t,
             CASE WHEN e.dir = 'v' THEN e.fy + (t.t - e.va) / (e.vb - e.va)
                  ELSE CAST(e.fy AS DOUBLE) END AS py,
             CASE WHEN e.dir = 'h' THEN e.fx + (t.t - e.va) / (e.vb - e.va)
                  ELSE CAST(e.fx AS DOUBLE) END AS px_
      FROM {p}ed e JOIN {tsrc} t
        ON t.tile = e.otile AND t.scene_month = e.scene_month
      WHERE (e.va > t.t) <> (e.vb > t.t)),
    {p}own AS (
      SELECT * FROM {p}pt
      WHERE py >= -0.5 AND py < {g} - 0.5 AND px_ >= -0.5 AND px_ < {g} - 0.5),
    {p}vcell AS (
      SELECT c00.otile, c00.scene_month, c00.fy AS r, c00.fx AS c
      FROM {w} c00
      JOIN {w} c01 ON c01.otile = c00.otile AND c01.scene_month = c00.scene_month
                  AND c01.fy = c00.fy AND c01.fx = c00.fx + 1
      JOIN {w} c10 ON c10.otile = c00.otile AND c10.scene_month = c00.scene_month
                  AND c10.fy = c00.fy + 1 AND c10.fx = c00.fx
      JOIN {w} c11 ON c11.otile = c00.otile AND c11.scene_month = c00.scene_month
                  AND c11.fy = c00.fy + 1 AND c11.fx = c00.fx + 1
      WHERE c00.{vc} IS NOT NULL AND c01.{vc} IS NOT NULL
        AND c10.{vc} IS NOT NULL AND c11.{vc} IS NOT NULL),
    {p}kept AS (
      SELECT o.otile, o.scene_month, o.py, o.px_, o.t FROM {p}own o
      WHERE EXISTS (
        SELECT 1 FROM {p}vcell vc
        WHERE vc.otile = o.otile AND vc.scene_month = o.scene_month
          AND ((o.dir = 'v' AND vc.r = o.fy AND vc.c IN (o.fx - 1, o.fx))
            OR (o.dir = 'h' AND vc.c = o.fx AND vc.r IN (o.fy - 1, o.fy))))
      AND NOT EXISTS (
        SELECT 1 FROM {w} cl
        WHERE cl.otile = o.otile AND cl.scene_month = o.scene_month
          AND cl.cloud = 1
          AND (cl.fy - o.py) * (cl.fy - o.py)
            + (cl.fx - o.px_) * (cl.fx - o.px_)
            <= {dist_cloud_px!r} * {dist_cloud_px!r}))"""


def refined_crossings_oracle_sql(
    grid_log2: int,
    s: "ShorelineSettings | None" = None,
    tile_res: int = cells.TILE_RES,
) -> str:
    """DuckDB mirror of the CLASS-REFINED extraction's crossing-point set
    (R7 reference buffer + R9 refined Otsu, find_wl_contours2 path,
    SDS_shoreline.py:195-202, 453-519, 525-584): a base pass (global
    Otsu, min_contour_len_px=0) produces the reference shoreline, its
    rounded distinct points dilate into a per-tile buffer (radius
    max_dist_ref, grid-aligned disk exactly like kernels.buffer_mask),
    and the refined pass NaNs pixels outside the buffer PER OWNING TILE,
    gates water/land presence on the buffered values, classifies the core
    grid (the literal-weight mirror classify_oracle_sql, nested), picks
    the class-refined threshold when >= min_sand_px sand pixels survive
    (balanced smallest-hash_stream-key subsample of water+sand values,
    931/932 streams) with global-Otsu fallback, and re-extracts.

    Unlike crossings_oracle_sql (world-coordinate edges, tile-independent
    values), everything here runs in per-owner-tile FRAME coordinates
    because the buffer makes the value grid owner-dependent: each
    candidate owner sees its own buffered view of the shared pixels, and
    the half-open core-box ownership rule dedups exactly as the kernel
    does. Composes after the `px` CTE like the sibling oracles.
    """
    from ..hashing import (
        SM_GOLDEN,
        SM_MUL,
        U64,
        addmod64_sql,
        mulmod64_sql,
        splitmix64_steps,
        staged_sql,
    )
    from .classify import CLASS_SAND, CLASS_WATER, classify_oracle_sql

    s = s or ShorelineSettings(grid_log2=grid_log2, min_sand_px=2, max_dist_ref=1.5)
    assert s.min_sand_px is not None and s.max_dist_ref is not None
    g = 1 << grid_log2
    XB_MASK = (1 << cells.X_BITS) - 1
    W = (1 << tile_res) * g
    total_px = g * g
    r2 = s.max_dist_ref * s.max_dist_ref

    def wrapx(d: str) -> str:
        return f"CAST(({d}) - {W} * round(({d}) / {W}.0) AS BIGINT)"

    txe = f"((t.otile >> {cells.X_BITS}) & {XB_MASK}) * {g}"
    tye = f"(t.otile & {XB_MASK}) * {g}"
    # selection keys: hash_stream(idx, 931|932, 42) = splitmix64(
    # idx*SM_MUL + stream*GOLDEN + seed), stream by class
    c_w = (931 * SM_GOLDEN + 42) % U64
    c_s = (932 * SM_GOLDEN + 42) % U64
    keyed = staged_sql(
        "SELECT * FROM sel0",
        [
            ("m0", mulmod64_sql("idx", SM_MUL)),
            ("m1", f"CASE WHEN label = {CLASS_WATER} THEN {addmod64_sql('m0', c_w)}"
                   f" ELSE {addmod64_sql('m0', c_s)} END"),
        ]
        + splitmix64_steps("m1", "key", "k_"),
    )
    water_gate = (
        f"sum(CASE WHEN {{v}} < {s.water_cut!r} THEN 1 ELSE 0 END) AS water_px,"
        f" sum(CASE WHEN {{v}} > {s.land_cut!r} THEN 1 ELSE 0 END) AS land_px"
    )
    return f"""
    f AS (
      SELECT tile, scene_month,
             ((tile >> {cells.X_BITS}) & {XB_MASK}) * {g} + px_col AS gx,
             (tile & {XB_MASK}) * {g} + px_row AS gy,
             CASE WHEN cloud_frac > {s.cloud_mask_frac!r} THEN NULL
                  ELSE (swir - green) / (swir + green) END AS v,
             CASE WHEN cloud_frac > {s.cloud_mask_frac!r} THEN 1 ELSE 0 END AS cloud
      FROM px
    ),
    bins AS (SELECT CAST(range AS INT) AS k FROM range(256)),
    tiles AS (SELECT DISTINCT tile AS otile FROM f),
    w0 AS (
      SELECT * FROM (
        SELECT t.otile, f.scene_month, f.tile AS ptile,
               f.gy - {tye} AS fy,
               {wrapx(f"f.gx - {txe}")} AS fx,
               f.v, f.cloud
        FROM tiles t CROSS JOIN f
      ) WHERE fy BETWEEN -1 AND {g} AND fx BETWEEN -1 AND {g}
    ),
    sc1 AS (
      SELECT tile, scene_month, count(*) AS filled, sum(cloud) AS cloud_px,
             {water_gate.format(v='v')}
      FROM f GROUP BY 1, 2
    ),
    gcore AS (
      SELECT tile, scene_month, filled, cloud_px FROM sc1
      WHERE filled > 0 AND filled / {float(total_px)!r} >= {s.min_filled_frac!r}
        AND cloud_px / filled <= {s.max_cloud_frac!r}
    ),
    g1 AS (
      SELECT s1.tile, s1.scene_month FROM sc1 s1 JOIN gcore USING (tile, scene_month)
      WHERE s1.water_px >= {s.min_water_px} AND s1.land_px >= {s.min_land_px}
    ),
    bsrc AS (
      SELECT f.tile, f.scene_month, f.v FROM f JOIN g1 USING (tile, scene_month)
      WHERE f.v IS NOT NULL
    ),
    {_otsu_tile_ctes('bsrc', 'b')},
    {_crossing_tile_ctes('c1', 'w0', 'v', 'botsu', g, s.dist_cloud_px)},
    refp AS (
      SELECT DISTINCT otile AS tile,
             CAST(round(py) AS BIGINT) AS rr, CAST(round(px_) AS BIGINT) AS rc
      FROM c1kept
    ),
    refcnt AS (SELECT tile, count(*) AS nr FROM refp GROUP BY 1),
    w2 AS (
      SELECT w.otile, w.scene_month, w.ptile, w.fy, w.fx, w.cloud,
             CASE WHEN rc.nr IS NULL THEN w.v
                  WHEN EXISTS (
                    SELECT 1 FROM refp rp WHERE rp.tile = w.otile
                      AND (w.fy - rp.rr) * (w.fy - rp.rr)
                        + (w.fx - rp.rc) * (w.fx - rp.rc) <= {r2!r})
                  THEN w.v END AS v2
      FROM w0 w LEFT JOIN refcnt rc ON rc.tile = w.otile
    ),
    sc2 AS (
      SELECT otile AS tile, scene_month,
             {water_gate.format(v='v2')}
      FROM w2 WHERE ptile = otile GROUP BY 1, 2
    ),
    g2 AS (
      SELECT s2.tile, s2.scene_month FROM sc2 s2 JOIN gcore USING (tile, scene_month)
      WHERE s2.water_px >= {s.min_water_px} AND s2.land_px >= {s.min_land_px}
    ),
    labels AS (WITH {classify_oracle_sql('px', grid_log2)}),
    sel0 AS (
      SELECT l.tile, l.scene_month, l.label, w.v2 AS v,
             CAST(l.px_row * {g} + l.px_col AS UBIGINT) AS idx
      FROM labels l
      JOIN g2 USING (tile, scene_month)
      JOIN w2 w ON w.otile = l.tile AND w.ptile = l.tile
               AND w.scene_month = l.scene_month
               AND w.fy = l.px_row AND w.fx = l.px_col
      WHERE w.v2 IS NOT NULL AND l.label IN ({CLASS_SAND}, {CLASS_WATER})
    ),
    keyed AS ({keyed}),
    cnts AS (
      SELECT tile, scene_month,
             sum(CASE WHEN label = {CLASS_SAND} THEN 1 ELSE 0 END) AS n_s,
             sum(CASE WHEN label = {CLASS_WATER} THEN 1 ELSE 0 END) AS n_w
      FROM sel0 GROUP BY 1, 2
    ),
    rsrc AS (
      SELECT tile, scene_month, v FROM (
        SELECT k.tile, k.scene_month, k.v,
               row_number() OVER (PARTITION BY k.tile, k.scene_month, k.label
                                  ORDER BY k.key, k.idx) AS rn,
               least(c.n_s, c.n_w) AS kk
        FROM keyed k JOIN cnts c USING (tile, scene_month)
      ) WHERE rn <= kk
    ),
    {_otsu_tile_ctes('rsrc', 'r')},
    gsrc AS (
      SELECT w2.otile AS tile, w2.scene_month, w2.v2 AS v
      FROM w2 JOIN g2 ON g2.tile = w2.otile AND g2.scene_month = w2.scene_month
      WHERE w2.ptile = w2.otile AND w2.v2 IS NOT NULL
    ),
    {_otsu_tile_ctes('gsrc', 'q')},
    thr AS (
      SELECT g2.tile, g2.scene_month,
             CASE WHEN coalesce(c.n_s, 0) >= {s.min_sand_px}
                       AND coalesce(c.n_w, 0) >= 1
                  THEN r.t ELSE q.t END AS t
      FROM g2
      LEFT JOIN cnts c USING (tile, scene_month)
      LEFT JOIN rotsu r USING (tile, scene_month)
      LEFT JOIN qotsu q USING (tile, scene_month)
    ),
    thrf AS (SELECT * FROM thr WHERE t IS NOT NULL),
    {_crossing_tile_ctes('c2', 'w2', 'v2', 'thrf', g, s.dist_cloud_px)}
    SELECT DISTINCT otile AS tile, scene_month,
           round(px_, 6) AS px_x, round(py, 6) AS px_y, round(t, 6) AS t_mndwi
    FROM c2kept
    """
