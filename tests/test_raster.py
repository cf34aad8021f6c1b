"""Raster pipeline parity: Spark plan vs NumPy/pandas oracle, plus
geometric sanity of extracted shorelines (FIXTURES.md §6)."""

import numpy as np
import pandas as pd
import pytest

from coastsat_spark import kernels
from coastsat_spark.datagen import coast_lat, gen_batch, webpages_df
from coastsat_spark.functions import cells
from coastsat_spark.operators import raster, tiling

N_DOCS = 20_000


def oracle_shorelines(n_docs: int, s: raster.ShorelineSettings) -> pd.DataFrame:
    """Pandas/NumPy re-implementation of docs->pixels->scenes->points."""
    pdf = gen_batch(np.arange(n_docs))
    lat, lon = pdf["_lat"].to_numpy(), pdf["_lon"].to_numpy()
    bands = tiling.np_bands(lat, lon)
    tile, pr, pc = cells.np_fine_to_tile_pixel(lat, lon)
    df = pd.DataFrame(
        {
            "tile": tile,
            "scene_month": pdf["warc_ts"].dt.to_period("Q").dt.start_time.astype(
                "datetime64[us]"
            ),
            "px_row": pr,
            "px_col": pc,
            "green": bands["green"],
            "swir": bands["swir"],
            "cloud": bands["cloud"].astype(float),
        }
    )
    px = (
        df.groupby(["tile", "scene_month", "px_row", "px_col"], as_index=False)
        .agg(
            green=("green", "mean"),
            swir=("swir", "mean"),
            n_docs=("green", "size"),
            cloud_frac=("cloud", "mean"),
        )
    )
    px = _halo_pdf(px, 1 << s.grid_log2)
    outs = []
    for _, grp in px.groupby(["tile", "scene_month"]):
        outs.append(raster.scene_extract_pdf(grp.reset_index(drop=True), s))
    return pd.concat(outs, ignore_index=True)


def _halo_pdf(px: pd.DataFrame, g: int) -> pd.DataFrame:
    """Pandas mirror of raster.with_halo (1-px ghost ring from the 8
    neighbor tiles, lon wraps / lat clamps)."""
    res, x, y = cells.np_decode(px["tile"].to_numpy())
    n = np.int64(1) << res
    parts = [px]
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            fr = px["px_row"].to_numpy() - dy * g
            fc = px["px_col"].to_numpy() - dx * g
            ny = y + dy
            nx = (x + dx) % n
            m = (
                (fr >= -1) & (fr <= g) & (fc >= -1) & (fc <= g)
                & (ny >= 0) & (ny < n)
            )
            if m.any():
                ghost = px[m].copy()
                ghost["tile"] = (
                    res[m] * (1 << cells.R_BITS)
                    + nx[m] * (1 << cells.X_BITS)
                    + ny[m]
                )
                ghost["px_row"] = fr[m]
                ghost["px_col"] = fc[m]
                parts.append(ghost)
    return pd.concat(parts, ignore_index=True)


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df["scene_month"] = pd.to_datetime(df["scene_month"]).astype("datetime64[us]")
    return df.sort_values(
        ["tile", "scene_month", "contour_id", "point_idx"]
    ).reset_index(drop=True)


def test_spark_pipeline_matches_numpy_oracle(spark):
    s = raster.ShorelineSettings()
    docs = webpages_df(spark, N_DOCS)
    prepared = tiling.prepare_documents(docs)
    px = raster.aggregate_pixels(prepared)
    got = _norm(raster.extract_shorelines(px, s).toPandas())
    exp = _norm(oracle_shorelines(N_DOCS, s))
    assert len(got) == len(exp), (len(got), len(exp))
    assert (got["tile"].to_numpy() == exp["tile"].to_numpy()).all()
    assert (got["contour_id"].to_numpy() == exp["contour_id"].to_numpy()).all()
    assert (got["point_idx"].to_numpy() == exp["point_idx"].to_numpy()).all()
    for col in ("px_x", "px_y", "lon", "lat", "t_mndwi"):
        assert np.allclose(got[col].to_numpy(), exp[col].to_numpy(), atol=1e-9), col


def test_shoreline_lies_near_coast(spark):
    docs = webpages_df(spark, N_DOCS)
    prepared = tiling.prepare_documents(docs)
    px = raster.aggregate_pixels(prepared)
    q = raster.scene_quality(px, raster.ShorelineSettings())
    pts = raster.extract_shorelines(px, quality=q).toPandas()
    assert len(pts) > 50
    err = np.abs(pts["lat"].to_numpy() - coast_lat(pts["lon"].to_numpy()))
    # pixel size is ~0.7 deg; the median shoreline point sits within a pixel
    assert np.median(err) < 0.75, np.median(err)


def test_scene_quality_gates_match_kernel(spark):
    s = raster.ShorelineSettings()
    docs = webpages_df(spark, 6_000)
    prepared = tiling.prepare_documents(docs)
    px = raster.aggregate_pixels(prepared).cache()
    q = raster.scene_quality(px, s)
    # extraction WITHOUT the relational gate must produce points only for
    # scenes the kernel's internal gates accept; the relational filter is
    # a superset check (combined-bad + class gates)
    gated = raster.extract_shorelines(px, s, quality=q).select("tile", "scene_month").distinct()
    ungated = raster.extract_shorelines(px, s).select("tile", "scene_month").distinct()
    extra = ungated.exceptAll(gated).count()
    missing = gated.exceptAll(ungated).count()
    assert missing == 0  # gate never *adds* scenes
    # kernel-only path may keep a few scenes the relational gate rejects
    # (combined_bad) — they must be a small minority
    assert extra <= max(1, int(0.2 * max(ungated.count(), 1)))


def test_pixel_aggregate_counts(spark):
    docs = webpages_df(spark, 6_000)
    prepared = tiling.prepare_documents(docs)
    px = raster.aggregate_pixels(prepared)
    total = px.agg({"n_docs": "sum"}).collect()[0][0]
    assert total == 6_000


def _scene_pdf(g: int = 8, sand_rows: int = 3, seed: int = 5) -> pd.DataFrame:
    """Synthetic full-band scene: water in the bottom rows, sand band in
    the middle, 'other' (bright) on top — deterministic."""
    rng = np.random.default_rng(seed)
    rows, cols = np.mgrid[0:g, 0:g]
    rows, cols = rows.ravel(), cols.ravel()
    kind = np.where(rows >= g - 3, "water", np.where(rows >= g - 3 - sand_rows, "sand", "other"))
    base = {
        # engine sensor-model convention: water darkens swir/nir
        "water": dict(blue=90.0, green=150.0, red=110.0, nir=60.0, swir=40.0),
        "sand": dict(blue=120.0, green=100.0, red=130.0, nir=140.0, swir=180.0),
        # bright whitewater-like signature with mndwi ~ -0.2: pulls the
        # GLOBAL histogram toward the gap the refined threshold ignores,
        # so the two branches give measurably different thresholds
        "other": dict(blue=250.0, green=150.0, red=250.0, nir=250.0, swir=100.0),
    }
    data = {
        "tile": np.full(g * g, 100, dtype=np.int64),
        "scene_month": np.repeat(pd.Timestamp("2024-01-01"), g * g),
        "px_row": rows,
        "px_col": cols,
        "n_docs": np.ones(g * g, dtype=np.int64),
        "cloud_frac": np.zeros(g * g),
    }
    for b in tiling.BANDS:
        data[b] = np.array([base[k][b] for k in kind]) + rng.normal(0, 2.0, g * g)
    return pd.DataFrame(data)


def test_refined_otsu_branch_taken_with_sand():
    """min_sand_px set + enough classified sand -> find_wl_contours2 path
    (class-refined threshold differs from the global-histogram one)."""
    pdf = _scene_pdf()
    s_global = raster.ShorelineSettings(min_water_px=1, min_land_px=1)
    s_refined = raster.ShorelineSettings(min_water_px=1, min_land_px=1, min_sand_px=2)
    out_g = raster.scene_extract_pdf(pdf, s_global)
    out_r = raster.scene_extract_pdf(pdf, s_refined)
    assert len(out_g) and len(out_r)
    t_g, t_r = out_g["t_mndwi"].iloc[0], out_r["t_mndwi"].iloc[0]
    # refined threshold balances sand vs water classes -> different value
    # ('other' bright px no longer pull the histogram)
    assert t_g != t_r
    # both thresholds separate the same interface: between water mndwi
    # (~ -0.58) and land/sand mndwi (~ +0.29)
    assert -0.58 < t_r < 0.29 and -0.58 < t_g < 0.29


def test_refined_otsu_falls_back_without_sand():
    """A scene with no sand class falls back to the contours1 path: same
    threshold with and without the refinement switch."""
    pdf = _scene_pdf(sand_rows=0)
    s_global = raster.ShorelineSettings(min_water_px=1, min_land_px=1)
    s_refined = raster.ShorelineSettings(min_water_px=1, min_land_px=1, min_sand_px=2)
    out_g = raster.scene_extract_pdf(pdf, s_global)
    out_r = raster.scene_extract_pdf(pdf, s_refined)
    assert len(out_g) == len(out_r)
    if len(out_g):
        assert out_g["t_mndwi"].iloc[0] == out_r["t_mndwi"].iloc[0]


def test_reference_buffer_gates_extraction():
    """R7: with max_dist_ref set, every extracted point lies within the
    buffer radius of a reference-shoreline pixel; points elsewhere are
    dropped (create_shoreline_buffer semantics, SDS_shoreline.py:552-584)."""
    pdf = _scene_pdf()
    s_buf = raster.ShorelineSettings(min_water_px=1, min_land_px=1, max_dist_ref=1.0)
    # reference shoreline along the true water/sand interface row
    ref_rows = np.full(8, 5)
    ref_cols = np.arange(8)
    out_b = raster.scene_extract_pdf(pdf, s_buf, (ref_rows, ref_cols))
    out_nb = raster.scene_extract_pdf(
        pdf, raster.ShorelineSettings(min_water_px=1, min_land_px=1)
    )
    assert len(out_b) > 0
    # every buffered point is within radius+0.5 px of the reference row
    assert (np.abs(out_b["px_y"].to_numpy() - 5) <= 1.5).all()
    # a far-away reference buffer suppresses extraction entirely
    out_far = raster.scene_extract_pdf(
        pdf, s_buf, (np.zeros(8, dtype=int), np.arange(8))
    )
    assert len(out_far) == 0
    # and the unbuffered output is a superset in point count
    assert len(out_nb) >= len(out_b)


def test_buffered_extraction_through_spark(spark):
    """extract_shorelines(reference=...) ships the per-tile buffer to the
    kernel: tiles with no reference entry are ungated."""
    pdf = _scene_pdf()
    sdf = spark.createDataFrame(pdf)
    ref = pd.DataFrame({"tile": [100] * 8, "px_row": [5] * 8, "px_col": list(range(8))})
    s_buf = raster.ShorelineSettings(min_water_px=1, min_land_px=1, max_dist_ref=1.0)
    out = raster.extract_shorelines(sdf, s_buf, reference=ref).toPandas()
    assert len(out) > 0
    assert (np.abs(out["px_y"].to_numpy() - 5) <= 1.5).all()


def test_rescale_pixels_matches_kernel(spark):
    """R14: the relational per-scene stretch equals kernels.rescale_intensity
    applied to each scene's band values."""
    pdf = _scene_pdf()
    out = raster.rescale_pixels(
        spark.createDataFrame(pdf), cols=["green"], prc_clip=99.0
    ).toPandas()
    exp = kernels.rescale_intensity(pdf["green"].to_numpy(), prc_clip=99.0)
    got = out.sort_values(["px_row", "px_col"])["green_adj"].to_numpy()
    want = pdf.assign(adj=exp).sort_values(["px_row", "px_col"])["adj"].to_numpy()
    assert np.allclose(got, want, atol=1e-9)


def _two_tile_px(water_a: set, water_b: set) -> pd.DataFrame:
    """Two horizontally adjacent tiles (full 8x8 grids, no cloud) with the
    given sets of (row, col) water pixels; everything else land."""
    res = cells.TILE_RES
    A = res * (1 << cells.R_BITS) + 10 * (1 << cells.X_BITS) + 20
    B = res * (1 << cells.R_BITS) + 11 * (1 << cells.X_BITS) + 20
    rows = []
    for tile, water in ((A, water_a), (B, water_b)):
        for r in range(8):
            for c in range(8):
                swir = 43.0 if (r, c) in water else 233.0  # mndwi -/+0.399
                rows.append((tile, pd.Timestamp("2022-01-01"), r, c, 100.0, swir, 3, 0.0))
    return pd.DataFrame(
        rows,
        columns=["tile", "scene_month", "px_row", "px_col", "green", "swir", "n_docs", "cloud_frac"],
    )


def test_halo_stitches_and_rescues_border_fragments(spark):
    """A shoreline notch that pokes 1 px of tile A at the border: without
    halo its contour fragment (length < min_contour_len_px) is dropped;
    with halo the ghost ring shows the continuation into tile B, the full
    visible polyline passes the length gate, and each world point is
    emitted by exactly one tile."""
    res = cells.TILE_RES
    A = res * (1 << cells.R_BITS) + 10 * (1 << cells.X_BITS) + 20
    B = res * (1 << cells.R_BITS) + 11 * (1 << cells.X_BITS) + 20
    water_b = {(r, c) for r in range(4) for c in range(8)}  # top half water
    water_a = {(0, 7), (1, 7)}  # 2-px notch at A's right border
    pdf = _two_tile_px(water_a, water_b)
    sdf = spark.createDataFrame(pdf)
    s = raster.ShorelineSettings(min_contour_len_px=2.0)

    no_halo = raster.extract_shorelines(sdf, s, halo=False).toPandas()
    halo = raster.extract_shorelines(sdf, s, halo=True).toPandas()

    # without halo the short A fragment is dropped entirely
    assert len(no_halo[no_halo["tile"] == A]) == 0
    assert len(no_halo[no_halo["tile"] == B]) > 0
    # with halo A's fragment survives (continuation visible in the ghost
    # ring lifts it past the length gate) and B still emits
    a_pts = halo[halo["tile"] == A]
    b_pts = halo[halo["tile"] == B]
    assert len(a_pts) >= 2 and len(b_pts) > 0
    # A's points hug the border notch
    assert (a_pts["px_x"] >= 6.0).all() and (a_pts["px_y"] <= 2.0).all()
    # ownership: no world point emitted twice
    world = halo[["lon", "lat"]].round(9)
    assert not world.duplicated().any()
    # every no-halo B point still exists with halo (stitching only adds)
    merged = no_halo[no_halo["tile"] == B][["lon", "lat"]].round(9).merge(
        b_pts[["lon", "lat"]].round(9), how="left", indicator=True
    )
    assert (merged["_merge"] == "both").all()


def test_crossings_oracle_sql_matches_kernel():
    """Randomized parity: the DuckDB crossing-set mirror
    (raster.crossings_oracle_sql — NumPy-faithful Otsu, edge
    interpolation, NaN suppression, J7, ownership) reproduces the
    kernel's DISTINCT point set on dense multi-tile scenes with clouds,
    holes and halo stitching."""
    import duckdb

    total = 0
    for seed in range(20):
        rng = np.random.default_rng(seed)
        # alternate world sizes and cloud radii: odd seeds use the entry
        # registry's res=4 world (the antimeridian modulus W=64, not the
        # default 256) and a dist_cloud_px reaching PAST the 1-px halo
        # ring — the two configs that caught real oracle bugs (a dropped
        # tile_res= in the entry wiring; a cloud anti-join without the
        # kernel's extended-grid visibility bound)
        g, res = 4, (4 if seed % 2 else 6)
        dist_cloud = 3.2 if seed % 2 else 1.5
        n_side = 1 << res
        y0 = 5 if res == 4 else 20  # must fit the 1<<res grid
        tiles = [
            res * (1 << cells.R_BITS) + 10 * (1 << cells.X_BITS) + y0,
            res * (1 << cells.R_BITS) + 11 * (1 << cells.X_BITS) + y0,
            res * (1 << cells.R_BITS) + 10 * (1 << cells.X_BITS) + (y0 + 1),
            # wrap-adjacent pair across the antimeridian seam (x = n-1, x = 0)
            res * (1 << cells.R_BITS) + (n_side - 1) * (1 << cells.X_BITS) + y0,
            res * (1 << cells.R_BITS) + 0 * (1 << cells.X_BITS) + y0,
        ]
        rows = []
        for ti, t in enumerate(tiles):
            for r in range(g):
                for c in range(g):
                    if rng.random() < 0.92:
                        # water->land gradient spanning both class gates
                        # within every tile -> many crossings per scene
                        green = 120.0 + rng.normal(0, 4)
                        swir = 40.0 + 160.0 * (r + c) / 6.0 + rng.normal(0, 20)
                        cf = 1.0 if rng.random() < 0.06 else 0.0
                        rows.append((t, 0, r, c, green, swir, 2, cf))
        px = pd.DataFrame(
            rows,
            columns=["tile", "scene_month", "px_row", "px_col", "green", "swir", "n_docs", "cloud_frac"],
        )

        s = raster.ShorelineSettings(
            grid_log2=2, min_contour_len_px=0.0, dist_cloud_px=dist_cloud
        )
        hp = _halo_pdf(px, g)
        outs = [
            raster.scene_extract_pdf(grp.reset_index(drop=True), s)
            for _, grp in hp.groupby(["tile", "scene_month"])
        ]
        kern = pd.concat(outs, ignore_index=True)
        kern = kern[["tile", "scene_month", "px_x", "px_y", "t_mndwi"]].round(6).drop_duplicates()

        con = duckdb.connect()
        con.register("px_src", px)
        orc = con.execute(
            "WITH px AS (SELECT * FROM px_src), "
            + raster.crossings_oracle_sql(2, s=s, tile_res=res)
        ).df()

        k = kern.sort_values(["tile", "scene_month", "px_x", "px_y"]).reset_index(drop=True)
        o = orc.sort_values(["tile", "scene_month", "px_x", "px_y"]).reset_index(drop=True)
        assert len(k) == len(o), (seed, len(k), len(o))
        if len(k):
            assert (k["tile"].to_numpy() == o["tile"].to_numpy()).all(), seed
            assert (k["scene_month"].to_numpy() == o["scene_month"].to_numpy()).all(), seed
            assert np.allclose(
                k[["px_x", "px_y", "t_mndwi"]].to_numpy(),
                o[["px_x", "px_y", "t_mndwi"]].to_numpy(),
                atol=2e-6,
            ), seed
        total += len(k)
    assert total > 200, total  # the cases must actually exercise crossings


def test_with_halo_wraps_lon_and_clamps_lat(spark):
    """Ghost generation at the grid edges: longitude wraps (x=0 tile gets
    ghosts keyed from x=n-1) and latitude clamps (y=0 tile emits no
    ghosts beyond the pole) — same contract as cells.np_neighbors."""
    res = cells.TILE_RES
    n = 1 << res
    g = 8
    # tile at x=0, y=0 (NW corner of the grid)
    corner = res * (1 << cells.R_BITS) + 0 * (1 << cells.X_BITS) + 0
    # its west neighbor across the antimeridian: x = n-1, same y
    west = res * (1 << cells.R_BITS) + (n - 1) * (1 << cells.X_BITS) + 0
    pdf = pd.DataFrame(
        {
            "tile": [corner],
            "scene_month": [pd.Timestamp("2022-01-01")],
            "px_row": [0],
            "px_col": [0],  # NW corner pixel: borders both edges
            "green": [100.0],
            "swir": [50.0],
            "n_docs": [1],
            "cloud_frac": [0.0],
        }
    )
    out = raster.with_halo(spark.createDataFrame(pdf), grid_log2=3).toPandas()
    ghosts = out[out["tile"] != corner]
    # a (row 0, col 0) pixel of tile (0, 0) can ghost ONLY westward: the
    # north / northwest neighbors are beyond the pole (lat clamps), the
    # south neighbor needs our row g-1, the east our col g-1
    assert len(ghosts) == 1
    w = ghosts.iloc[0]
    assert w["tile"] == west  # lon wrapped to x = n-1
    assert w["px_col"] == g and w["px_row"] == 0  # our col 0 = west's col-g ghost


def test_gated_neighbor_ghosts_never_reach_kernel(spark):
    """Tile A is kept, its east neighbor B is gated out (all water: no
    land pixels). A's ghosts land in B's group and B's pixels would ghost
    into A: only A's group reaches the kernel, and the output equals the
    pandas halo mirror run over the kept scenes alone."""
    res = cells.TILE_RES
    A = res * (1 << cells.R_BITS) + 10 * (1 << cells.X_BITS) + 20
    B = res * (1 << cells.R_BITS) + 11 * (1 << cells.X_BITS) + 20
    water_a = {(r, c) for r in range(4) for c in range(8)}  # top half water
    water_b = {(r, c) for r in range(8) for c in range(8)}
    pdf = _two_tile_px(water_a, water_b)
    sdf = spark.createDataFrame(pdf)
    s = raster.ShorelineSettings()
    q = raster.scene_quality(sdf, s)
    keep = q.filter("keep").select("tile", "scene_month").toPandas()
    assert keep["tile"].tolist() == [A]

    groups = raster._scene_groups(sdf, s, q).select("tile", "scene_month").distinct()
    assert [r["tile"] for r in groups.collect()] == [A]

    got = _norm(raster.extract_shorelines(sdf, s, quality=q).toPandas())
    kept_px = pdf.merge(keep, on=["tile", "scene_month"])
    exp = _norm(
        pd.concat(
            [
                raster.scene_extract_pdf(grp.reset_index(drop=True), s)
                for _, grp in _halo_pdf(kept_px, 8).groupby(["tile", "scene_month"])
            ],
            ignore_index=True,
        )
    )
    assert len(got) > 0 and len(got) == len(exp)
    assert (got["tile"] == A).all()
    for col in ("contour_id", "point_idx"):
        assert (got[col].to_numpy() == exp[col].to_numpy()).all(), col
    for col in ("px_x", "px_y", "lon", "lat", "t_mndwi"):
        assert np.allclose(got[col].to_numpy(), exp[col].to_numpy(), atol=1e-9), col
    # B's border column ghosts into A's east ring (px_col == 8) only
    # without the gate
    def east_ring_rows(quality):
        rows = raster._scene_groups(sdf, s, quality).filter(f"tile = {A} AND px_col = 8")
        return rows.count()

    assert east_ring_rows(q) == 0
    assert east_ring_rows(None) == 8


@pytest.mark.parametrize(
    "month", [pd.Timestamp("2022-01-01"), 202201], ids=["timestamp", "bigint"]
)
def test_scene_extract_pdf_empty_result_schema(month):
    """A group the kernel cannot contour (here: only halo ring rows, so
    no core pixel) returns the 9-column empty frame, with scene_month in
    the input's dtype."""
    pdf = pd.DataFrame(
        {
            "tile": np.full(3, 7, dtype=np.int64),
            "scene_month": [month] * 3,
            "px_row": [-1, 8, 3],
            "px_col": [2, 2, -1],
            "green": [100.0] * 3,
            "swir": [50.0] * 3,
            "n_docs": np.ones(3, dtype=np.int64),
            "cloud_frac": [0.0] * 3,
        }
    )
    out = raster.scene_extract_pdf(pdf, raster.ShorelineSettings())
    assert len(out) == 0
    assert list(out.dtypes.items()) == [
        ("tile", np.dtype("int64")),
        ("scene_month", pdf["scene_month"].dtype),
        ("contour_id", np.dtype("int32")),
        ("point_idx", np.dtype("int32")),
        ("px_x", np.dtype("float64")),
        ("px_y", np.dtype("float64")),
        ("lon", np.dtype("float64")),
        ("lat", np.dtype("float64")),
        ("t_mndwi", np.dtype("float64")),
    ]


def _digest(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
    ).first()
    return int(row[0]), int(row[1] or 0)


def test_prepare_and_halo_same_under_ansi_on_and_off(spark):
    """The SQL-text band, tile and halo expressions evaluate to the same
    rows with ANSI mode on and off (no overflow or cast that one mode
    raises on and the other wraps)."""
    docs = webpages_df(spark, 6_000)
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    got = {}
    try:
        for mode in ("true", "false"):
            spark.conf.set(key, mode)
            prepared = tiling.prepare_documents(docs).drop("html")
            halo = raster.with_halo(raster.aggregate_pixels(prepared))
            got[mode] = (_digest(prepared), _digest(halo))
    finally:
        spark.conf.set(key, old)
    assert got["true"] == got["false"]
    assert got["true"][0][0] == 6_000
