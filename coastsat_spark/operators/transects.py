"""Transect x shoreline spatial theta-join (J1/J2) and the QC policy.

The reference computes these with per-(shoreline, transect) Python loops
(compute_intersection SDS_transects.py:174-245, compute_intersection_QC
:247-395). Here the same predicates are pure column arithmetic on a
broadcast nested-loop join — transects are a tiny dimension (SURVEY.md
§2.3 J1: "broadcast nested-loop join is also exact and acceptable"), so
the join is shuffle-free and stays entirely inside whole-stage codegen.
For very large transect inventories use `cover_cells`/`transect_join_cells`
— an equi-join on quad-cell keys that prunes the cross product first.

Faithful reference quirks kept (documented, SURVEY.md §4.3):
- J1's angle predicate uses the *unwrapped* angle difference
  |phi - atan2(dy,dx)| < pi/2 (SDS_transects.py:222-227) — NOT the
  wrapped angular distance;
- J2 (QC) drops the angle predicate entirely and hard-codes the origin
  radius (SDS_transects.py:320-321) — both variants exist here;
- chainage below min_chainage becomes NaN *before* the stats
  (SDS_transects.py:336-337), so it still occupies no slot in n.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..datagen import COAST_AMP, COAST_WAVELEN, LON_MAX, LON_MIN, coast_lat
from ..functions import cells
from ..functions.cells import sql_lit

# engine-world (degrees) defaults; the reference's metre defaults
# (along_dist=25m, origin 1000m, example.py:214-220) scale to our pixel
# size (~0.7 deg) the same way: ~half a pixel alongshore tolerance.
ALONG_DIST = 0.4
MAX_DIST_ORIGIN = 4.0
MIN_CHAINAGE = -100.0


def make_transects_pdf(n: int = 41, land_len: float = 1.5, sea_len: float = 2.0) -> pd.DataFrame:
    """Deterministic shore-normal transects along the synthetic coast.

    Origin landward, orientation point seaward (matching the convention of
    SDS_transects.py:33-71 / NARRA_transects.geojson). Name = T{i:03d}.
    """
    lons = np.linspace(LON_MIN + 2.0, LON_MAX - 2.0, n)
    lats = coast_lat(lons)
    m = COAST_AMP * (2.0 * math.pi / COAST_WAVELEN) * np.cos(
        2.0 * math.pi * lons / COAST_WAVELEN
    )
    # unit normal pointing seaward (negative-lat side = water)
    norm = np.sqrt(1.0 + m * m)
    nx, ny = m / norm, -1.0 / norm
    return pd.DataFrame(
        {
            "transect": [f"T{i:03d}" for i in range(n)],
            "x0": lons - nx * land_len,
            "y0": lats - ny * land_len,
            "x1": lons + nx * sea_len,
            "y1": lats + ny * sea_len,
        }
    )


def transects_df(spark: SparkSession, n: int = 41) -> DataFrame:
    return spark.createDataFrame(make_transects_pdf(n))


def _with_geometry(j: DataFrame) -> DataFrame:
    """Shore-normal frame geometry columns of (point, transect) rows.

    d_line: distance to the infinite transect line (cross-product formula,
    SDS_transects.py:213-216); d_origin: distance to origin; chainage:
    coordinate along the transect direction (rotated x, :233-238). One
    SQL-text expression per column (one JVM round trip each).
    """
    dx, dy, tx, ty = "(lon - x0)", "(lat - y0)", "(x1 - x0)", "(y1 - y0)"
    tlen = f"sqrt({tx} * {tx} + {ty} * {ty})"
    return j.withColumns(
        {
            "d_line": F.expr(f"abs({tx} * {dy} - {ty} * {dx}) / {tlen}"),
            "d_origin": F.expr(f"sqrt({dx} * {dx} + {dy} * {dy})"),
            "chainage": F.expr(f"({dx} * {tx} + {dy} * {ty}) / {tlen}"),
            "phi": F.expr(f"atan2({ty}, {tx})"),
            "phi_sl": F.expr(f"atan2({dy}, {dx})"),
        }
    )


def _refine(j: DataFrame, along_dist: float, max_dist_origin: float, use_bearing: bool) -> DataFrame:
    """The J1/J2 match predicates over `_with_geometry` rows."""
    cond = f"d_line <= {sql_lit(along_dist)} AND d_origin <= {sql_lit(max_dist_origin)}"
    if use_bearing:
        cond += f" AND abs(phi - phi_sl) < {sql_lit(math.pi / 2.0)}"
    return j.filter(cond).drop("phi", "phi_sl")


def transect_join(
    points: DataFrame,
    transects: DataFrame,
    along_dist: float = ALONG_DIST,
    max_dist_origin: float = MAX_DIST_ORIGIN,
    use_bearing: bool = True,
) -> DataFrame:
    """J1: matched (point, transect) pairs with chainage, over a broadcast
    cross join.

    With use_bearing=True this is `compute_intersection`'s predicate set
    (raw |phi - phi_sl| < pi/2, SDS_transects.py:220-227); False gives the
    QC variant's predicate set (J2, :318-322).
    """
    j = _with_geometry(points.crossJoin(F.broadcast(transects)))
    return _refine(j, along_dist, max_dist_origin, use_bearing)


def median_intersections(pairs: DataFrame, time_col: str = "scene_month") -> DataFrame:
    """A1: median chainage per (transect, scene) — compute_intersection's
    aggregate (SDS_transects.py:233-238). Exact interpolated median."""
    return pairs.groupBy("transect", time_col).agg(
        F.expr("percentile(chainage, 0.5)").alias("chainage"),
        F.count(F.lit(1)).alias("n_points"),
    )


def qc_intersections(
    pairs: DataFrame,
    n_scenes: int | DataFrame,
    time_col: str = "scene_month",
    min_chainage: float = MIN_CHAINAGE,
    max_std: float = 0.25,
    max_range: float = 0.6,
    min_points: int = 3,
    multiple_inter: str = "nan",
    auto_prc: float = 0.1,
) -> DataFrame:
    """J2/A2: the QC aggregate + nan/max/auto policy
    (SDS_transects.py:339-381), as one relational plan:

    groupBy(transect, scene) stats -> when() cascade; 'auto' needs the
    per-transect fraction of high-dispersion scenes (prc_over,
    :358-361) -> window over transect. `n_scenes` is the total number of
    scenes in the output (the reference's len(shorelines) denominator —
    scenes with no nearby points count toward it). Pass either a Python
    int or a 1-row/1-column DataFrame: the DataFrame form keeps the
    scalar IN-PLAN via a broadcast cross join — no driver-side action,
    so a caller deriving the denominator from an expensive upstream
    (e.g. the extracted shorelines) never forces an extra eager pass.
    """
    chain = F.when(F.col("chainage") < min_chainage, F.lit(None)).otherwise(F.col("chainage"))
    st = (
        pairs.withColumn("chain", chain)
        .groupBy("transect", time_col)
        .agg(
            F.expr("percentile(chain, 0.5)").alias("med"),
            F.stddev_pop("chain").alias("std"),
            F.max("chain").alias("mx"),
            F.min("chain").alias("mn"),
            F.count("chain").alias("n"),
        )
    )
    n_scenes_col = None
    if isinstance(n_scenes, DataFrame) and multiple_inter == "auto":
        scalar = n_scenes.select(
            F.col(n_scenes.columns[0]).cast("double").alias("_n_scenes")
        )
        st = st.crossJoin(F.broadcast(scalar))
        n_scenes_col = F.col("_n_scenes")
    # nanstd of a single value is 0.0 in numpy; stddev_pop gives 0.0 too.
    # A scene whose every chainage was min-chainage-nulled has n=0 -> NaN row.
    good = (
        (F.col("std") <= max_std)
        & ((F.col("mx") - F.col("mn")) <= max_range)
        & (F.col("n") >= min_points)
    )
    enough = F.col("n") >= min_points
    if multiple_inter == "nan":
        out = F.when(good, F.col("med"))
    elif multiple_inter == "max":
        out = F.when(good, F.col("med")).when(enough, F.col("mx"))
    elif multiple_inter == "auto":
        w = W.partitionBy("transect")
        denom = (
            n_scenes_col if n_scenes_col is not None else F.lit(float(n_scenes))
        )
        prc_over = F.sum((F.col("std") > max_std).cast("int")).over(w) / denom
        use_max = prc_over > auto_prc
        out = F.when(good, F.col("med")).when(use_max & enough, F.col("mx"))
    else:
        raise ValueError("multiple_inter must be one of: nan, max, auto")
    return st.select(
        "transect",
        time_col,
        out.alias("chainage"),
        F.col("med").alias("med_chainage"),
        "std",
        F.col("mx").alias("max_chainage"),
        F.col("mn").alias("min_chainage"),
        "n",
    )


# ------------------------------------------------- cell-pruned variant

def cover_cells(transects_pdf: pd.DataFrame, res: int, pad: float) -> pd.DataFrame:
    """Cells within `pad` of each transect segment (driver-side, tiny dim).

    Samples the segment densely at half-cell steps and dilates by the
    8-neighborhood — a superset cover, exactness restored by the refine
    predicates of transect_join.
    """
    rows = []
    n_side = 1 << res
    step = min(360.0 / n_side, 180.0 / n_side) / 2.0
    for _, t in transects_pdf.iterrows():
        x0, y0, x1, y1 = t.x0, t.y0, t.x1, t.y1
        # extend segment by pad on both ends
        L = math.hypot(x1 - x0, y1 - y0)
        ux, uy = (x1 - x0) / L, (y1 - y0) / L
        a = np.arange(-pad, L + pad + step, step)
        xs = x0 + ux * a
        ys = y0 + uy * a
        cs = cells.np_encode(ys, xs, res)
        neigh = cells.np_neighbors(cs, include_self=True).ravel()
        for c in np.unique(neigh[neigh >= 0]):
            rows.append((t.transect, int(c)))
    return pd.DataFrame(rows, columns=["transect", "cell"]).drop_duplicates()


def transect_join_cells(
    points: DataFrame,
    transects: DataFrame,
    transects_pdf: pd.DataFrame,
    res: int,
    along_dist: float = ALONG_DIST,
    max_dist_origin: float = MAX_DIST_ORIGIN,
    use_bearing: bool = True,
) -> DataFrame:
    """Scale path for J1: equi-join points to transect covering cells at
    resolution `res`, then refine exactly. Prunes the cross product from
    |points| x |transects| to |points in covered cells| x |covering
    transects| — the shuffle partitions by cell, salted naturally by the
    resolution choice."""
    spark = points.sparkSession
    cover = spark.createDataFrame(cover_cells(transects_pdf, res, pad=max_dist_origin))
    pts = points.withColumn("cell", cells.encode_cell(F.col("lat"), F.col("lon"), res))
    cand = pts.join(F.broadcast(cover), "cell").drop("cell")
    tr = transects.withColumnRenamed("transect", "_t")
    j = cand.join(F.broadcast(tr), cand["transect"] == tr["_t"]).drop("_t")
    return _refine(_with_geometry(j), along_dist, max_dist_origin, use_bearing)
