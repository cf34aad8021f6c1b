"""Document -> tile/pixel assignment and the deterministic sensor model.

This is the engine's ingestion surface (analog of the reference's
EP1 download+warp chain, SDS_download.py:680-964): web pages carrying a
geotag become "observations" on a world-fixed pixel grid.

Scale design:
- geotag parse is one Arrow-batched pandas UDF (the only Python hop);
- cell/tile/pixel keys and all five band values are pure column
  arithmetic — they stay inside whole-stage codegen and are available to
  Catalyst for pruning (materialized-column decision, SURVEY.md §4.2);
- the "scene" partition key is (tile, month(warc_ts)) — the analog of the
  reference's (satname, timestamp) scene — so every downstream raster
  kernel groups on a bounded, pre-aggregated key.

Sensor model (deterministic spec, shared with the NumPy oracle): a doc's
five band values derive from its position. Water side (lat below the
synthetic coast curve) darkens SWIR/NIR exactly as water does in the
reference's imagery (MNDWI separability, SDS_tools.py:167-203); noise
comes from the micro-degree digits of the quantized geotag — integer
arithmetic, bit-identical in Spark SQL, DuckDB and NumPy.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datagen import COAST_AMP, COAST_WAVELEN
from ..functions import cells
from ..functions.cells import sql_lit

BANDS = ["blue", "green", "red", "nir", "swir"]

# (P, Q, base, water_delta, noise_amp) per band; land value = base + noise,
# water value = base + water_delta + noise. Chosen so
# mndwi = (swir-green)/(swir+green) ≈ +0.29 land / -0.58 water.
_BAND_MODEL = {
    "blue": (7919, 104729, 90.0, 30.0, 8.0),
    "green": (7927, 104723, 100.0, 50.0, 8.0),
    "red": (7933, 104717, 110.0, 20.0, 8.0),
    "nir": (7937, 104711, 140.0, -80.0, 8.0),
    "swir": (7949, 104707, 180.0, -140.0, 8.0),
}
_CLOUD_P, _CLOUD_Q = 7951, 104701
CLOUD_FRAC = 0.06
_NOISE_MOD = 9973


def _noise_sql(lat_i: str, lon_i: str, p: int, q: int) -> str:
    """Deterministic noise in [-0.5, 0.5) from quantized geotag digits."""
    m = _NOISE_MOD
    return f"(pmod({lat_i} * {p} + {lon_i} * {q}, {m}) / {sql_lit(float(m))} - 0.5D)"


# single capture: grab "lat;lon" in ONE regex pass and split on ';'
# afterwards. A two-group form needed two regexp_extract calls
# (group 1 + group 2) which are DIFFERENT expressions to Catalyst, so
# codegen's common-subexpression elimination could not merge them and
# the regex ran twice per row; the pair+split form runs the regex once
# (the shared regexp_extract/split subexpressions are CSE'd).
_GEO_JVM_RE_PAIR = r'<meta name="geo" content="(-?\d+\.\d+;-?\d+\.\d+)"'


def with_geo(docs: DataFrame) -> DataFrame:
    """Parse the html geotag into lat/lon columns.

    Pure JVM: the geo meta sits in the document head, so
    `regexp_extract` over the first bytes cast to string stays inside
    whole-stage codegen — NO Python on the ingestion hot path at all.
    `functions.text.parse_geotag_bytes` is the pure-Python reference the
    parity test compares against.
    """
    head = F.substring(F.col("html"), 1, 160).cast("string")
    pair = F.regexp_extract(head, _GEO_JVM_RE_PAIR, 1)
    parts = F.split(pair, ";")
    # lat/lon strings cannot contain ';' (pattern is digits/dot/sign),
    # so splitting the joint capture is exactly the two-group parse
    return docs.withColumn(
        "lat", F.when(pair != "", parts.getItem(0).cast("double"))
    ).withColumn("lon", F.when(pair != "", parts.getItem(1).cast("double")))


def with_bands(docs: DataFrame) -> DataFrame:
    """Materialize the five band values + cloud flag as column arithmetic.

    Each output column is one SQL-text `F.expr` with `sql_lit`-typed
    constants: the same expression tree the `Column` API makes, in one
    JVM round trip per column instead of one per operator."""
    lat_i = "cast(round(lat * 1000000.0D) as bigint)"
    lon_i = "cast(round(lon * 1000000.0D) as bigint)"
    freq = sql_lit(2.0 * math.pi / COAST_WAVELEN)
    water = f"cast(lat < {sql_lit(COAST_AMP)} * sin(lon * {freq}) as double)"
    cloud = f"{_noise_sql(lat_i, lon_i, _CLOUD_P, _CLOUD_Q)} + 0.5D < {sql_lit(CLOUD_FRAC)}"
    bands = {
        b: F.expr(
            f"CASE WHEN cloud THEN 250.0D ELSE {sql_lit(base)} + {water} * {sql_lit(wd)}"
            f" + {_noise_sql(lat_i, lon_i, p, q)} * {sql_lit(2.0 * amp)} END"
        )
        for b, (p, q, base, wd, amp) in _BAND_MODEL.items()
    }
    return docs.withColumn("cloud", F.expr(cloud)).withColumns(bands)


def with_tiles(
    docs: DataFrame, tile_res: int = cells.TILE_RES, grid_log2: int = cells.GRID_LOG2
) -> DataFrame:
    """Tile + in-tile pixel assignment via one shared fine-resolution floor
    (grid-aligned snap, analog of adjust_polygon SDS_download.py:770-809).
    One SQL-text `F.expr` per output column, like `with_bands`."""
    n_fine = 1 << (tile_res + grid_log2)

    def fine(frac: str) -> str:
        n = sql_lit(n_fine)
        return f"least(greatest(cast(floor({frac} * {n}) as bigint), 0), {sql_lit(n_fine - 1)})"

    xf = fine("(lon + 180.0D) / 360.0D")
    yf = fine("(90.0D - lat) / 180.0D")
    g = (1 << grid_log2) - 1
    tile = (
        f"{sql_lit(tile_res)} * {sql_lit(1 << cells.R_BITS)}"
        f" + shiftright({xf}, {grid_log2}) * {sql_lit(1 << cells.X_BITS)}"
        f" + shiftright({yf}, {grid_log2})"
    )
    return docs.withColumns(
        {
            "tile": F.expr(tile),
            "px_row": F.expr(f"cast(({yf}) & {g} as int)"),
            "px_col": F.expr(f"cast(({xf}) & {g} as int)"),
        }
    )


def with_scene(docs: DataFrame, granularity: str = "quarter") -> DataFrame:
    """Scene key = (tile, time bucket) — the engine's analog of one
    satellite acquisition (SDS_download.py:512-513 catalog rows).

    Quarterly buckets keep scene rasters dense at small SF; a real
    deployment would use monthly/daily buckets as doc volume allows.
    """
    return docs.withColumn("scene_month", F.date_trunc(granularity, F.col("warc_ts")))


def prepare_documents(
    docs: DataFrame,
    tile_res: int = cells.TILE_RES,
    grid_log2: int = cells.GRID_LOG2,
    granularity: str = "quarter",
) -> DataFrame:
    """Full ingestion transform: html -> geo -> bands -> tile/pixel -> scene."""
    return with_scene(with_tiles(with_bands(with_geo(docs)), tile_res, grid_log2), granularity)


# -------------------------------------------------------------- SQL oracle

def bands_sql() -> dict[str, str]:
    """ANSI-SQL mirror of with_bands for the DuckDB correctness oracle.

    Expects columns ``lat``, ``lon`` in scope; every constant is embedded
    via repr() so both engines evaluate the *same* doubles in the *same*
    operation order (e.g. the coast frequency 2*pi/WAVELEN is one
    precomputed literal, exactly as F.lit builds it — re-deriving it as
    2*pi()/90 in SQL would round differently).
    """
    lat_i = "cast(round(lat * 1e6) as bigint)"
    lon_i = "cast(round(lon * 1e6) as bigint)"

    def noise(p: int, q: int) -> str:
        m = _NOISE_MOD
        return (
            f"(((({lat_i} * {p} + {lon_i} * {q}) % {m}) + {m}) % {m}) / {float(m)!r} - 0.5"
        )

    freq = repr(2.0 * math.pi / COAST_WAVELEN)
    water = f"(CASE WHEN lat < {COAST_AMP!r} * sin(lon * {freq}) THEN 1.0 ELSE 0.0 END)"
    cloud = f"((({noise(_CLOUD_P, _CLOUD_Q)}) + 0.5) < {CLOUD_FRAC!r})"
    out = {"cloud": cloud}
    for b, (p, q, base, wd, amp) in _BAND_MODEL.items():
        clear = f"{base!r} + {water} * {wd!r} + ({noise(p, q)}) * {2.0 * amp!r}"
        out[b] = f"(CASE WHEN {cloud} THEN 250.0 ELSE {clear} END)"
    return out


def tiles_sql(tile_res: int = cells.TILE_RES, grid_log2: int = cells.GRID_LOG2) -> dict[str, str]:
    """ANSI-SQL mirror of with_tiles (same shared fine-resolution floor)."""
    n_fine = 1 << (tile_res + grid_log2)
    xf = f"least(greatest(cast(floor((lon + 180.0) / 360.0 * {n_fine}) as bigint), 0), {n_fine - 1})"
    yf = f"least(greatest(cast(floor((90.0 - lat) / 180.0 * {n_fine}) as bigint), 0), {n_fine - 1})"
    g = (1 << grid_log2) - 1
    step = 1 << grid_log2
    return {
        "tile": (
            f"(cast({tile_res} as bigint) * {1 << cells.R_BITS} "
            f"+ ({xf} // {step}) * {1 << cells.X_BITS} + ({yf} // {step}))"
        ),
        "px_row": f"cast({yf} % {step} as int)",
        "px_col": f"cast({xf} % {step} as int)",
    }


# ------------------------------------------------------------ numpy oracle

def np_bands(lat: np.ndarray, lon: np.ndarray) -> dict[str, np.ndarray]:
    """NumPy mirror of with_bands for the pytest oracle."""
    from ..datagen import coast_lat

    lat_i = np.round(np.asarray(lat) * 1e6).astype(np.int64)
    lon_i = np.round(np.asarray(lon) * 1e6).astype(np.int64)
    water = (np.asarray(lat) < coast_lat(lon)).astype(np.float64)

    def noise(p, q):
        return np.mod(lat_i * p + lon_i * q, _NOISE_MOD) / float(_NOISE_MOD) - 0.5

    cloud = noise(_CLOUD_P, _CLOUD_Q) + 0.5 < CLOUD_FRAC
    out = {"cloud": cloud}
    for b, (p, q, base, wd, amp) in _BAND_MODEL.items():
        v = base + water * wd + noise(p, q) * (2.0 * amp)
        out[b] = np.where(cloud, 250.0, v)
    return out


# ---------------------------------------------------- adaptive tile split

def adaptive_tiles(
    docs: DataFrame,
    lat: "F.Column | str" = "lat",
    lon: "F.Column | str" = "lon",
    base_res: int = cells.TILE_RES,
    cap: int = 100_000,
    max_levels: int = 2,
) -> DataFrame:
    """Adaptive tile splitting (north-star skew defense): every row gets
    an `atile` cell id at `base_res`, except rows in HOT tiles (count >
    cap), which re-key one resolution finer — repeated up to `max_levels`
    times, so a coastal-dense tile fans out into 4^levels subtiles while
    empty ocean stays coarse.

    Shape per level: one map-side-combined count aggregate whose key
    cardinality is the number of occupied tiles (bounded by 4^res, tiny
    next to the corpus), a broadcast anti-join to peel off the cold rows
    and a broadcast join to keep the hot ones. The docs scan repeats once
    per level (levels <= 3 by design); no shuffle is ever keyed by the
    skewed raw tile alone. Quad-tree parentage is exact by construction:
    floor at res r+1 right-shifted once IS floor at res r, clips
    included, so every subtile nests inside the hot tile it split from.
    """
    la = F.col(lat) if isinstance(lat, str) else lat
    lo = F.col(lon) if isinstance(lon, str) else lon
    work = docs.withColumn("_ac", cells.encode_cell(la, lo, base_res))
    done: list[DataFrame] = []
    for lvl in range(max_levels):
        counts = work.groupBy("_ac").agg(F.count(F.lit(1)).alias("_n"))
        hot = counts.filter(F.col("_n") > cap).select("_ac")
        done.append(work.join(F.broadcast(hot), "_ac", "left_anti"))
        work = work.join(F.broadcast(hot), "_ac").withColumn(
            "_ac", cells.encode_cell(la, lo, base_res + lvl + 1)
        )
    done.append(work)
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out.withColumnRenamed("_ac", "atile")


def adaptive_tile_counts_sql(
    lat_expr: str,
    lon_expr: str,
    table: str,
    base_res: int,
    cap: int,
    max_levels: int = 2,
) -> str:
    """DuckDB mirror of counting docs per adaptive tile (oracle): the
    same peel-off chain as `adaptive_tiles`, written as one CTE per
    level. Must stay in lockstep with the operator's semantics."""
    cs = [
        cells.encode_cell_sql(lat_expr, lon_expr, base_res + l)
        for l in range(max_levels + 1)
    ]
    parts = [
        "WITH d AS (SELECT "
        + ", ".join(f"{c} AS c{i}" for i, c in enumerate(cs))
        + f" FROM {table})"
    ]
    prev = "d"
    selects = []
    for l in range(max_levels):
        parts.append(
            f", n{l} AS (SELECT c{l}, count(*) AS n FROM {prev} GROUP BY c{l})"
        )
        parts.append(
            f", h{l} AS (SELECT c{l} FROM n{l} WHERE n > {cap})"
        )
        parts.append(
            f", d{l + 1} AS (SELECT {prev}.* FROM {prev} JOIN h{l} USING (c{l}))"
        )
        selects.append(
            f"SELECT c{l} AS atile, n AS n_docs FROM n{l} WHERE n <= {cap}"
        )
        prev = f"d{l + 1}"
    selects.append(
        f"SELECT c{max_levels} AS atile, count(*) AS n_docs FROM {prev} GROUP BY c{max_levels}"
    )
    return "".join(parts) + " " + " UNION ALL ".join(selects)
