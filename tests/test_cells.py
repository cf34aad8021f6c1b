"""Quad-cell index: numpy/Spark/SQL parity + structural properties."""

import numpy as np
from pyspark.sql import functions as F

from coastsat_spark.functions import cells


def _rand_latlon(n=2000, seed=1):
    rng = np.random.default_rng(seed)
    return rng.uniform(-84, 84, n), rng.uniform(-179, 179, n)


def test_decode_roundtrip():
    lat, lon = _rand_latlon()
    for res in (2, 6, 12):
        c = cells.np_encode(lat, lon, res)
        r, x, y = cells.np_decode(c)
        assert (r == res).all()
        n = 1 << res
        assert (x >= 0).all() and (x < n).all() and (y >= 0).all() and (y < n).all()


def test_bounds_contain_point():
    lat, lon = _rand_latlon()
    c = cells.np_encode(lat, lon, 8)
    lon0, lat0, dlon, dlat = cells.np_cell_bounds(c)
    assert ((lon >= lon0) & (lon < lon0 + dlon)).all()
    assert ((lat <= lat0) & (lat > lat0 - dlat)).all()


def test_parent_contains_children():
    lat, lon = _rand_latlon()
    c = cells.np_encode(lat, lon, 10)
    p = cells.np_parent(c, 2)
    expected = cells.np_encode(lat, lon, 8)
    assert (p == expected).all()


def test_children_cover_parent():
    c = int(cells.np_encode(np.array([10.0]), np.array([20.0]), 5)[0])
    ch = cells.np_children(c)
    assert len(set(ch.tolist())) == 4
    assert (cells.np_parent(ch) == c).all()


def test_neighbors_shape_and_wrap():
    c = cells.np_encode(np.array([0.0, 89.0]), np.array([179.9, 0.0]), 4)
    nb = cells.np_neighbors(c)
    assert nb.shape == (2, 9)
    # equator cell: all 9 valid; near-pole cell: top row clamped away
    assert (nb[0] >= 0).all()
    assert (nb[1] == -1).sum() == 3


def test_fine_pixel_consistent_with_tile():
    lat, lon = _rand_latlon()
    tile, pr, pc = cells.np_fine_to_tile_pixel(lat, lon, 6, 3)
    t2 = cells.np_encode(lat, lon, 6)
    assert (tile == t2).all()
    assert (pr >= 0).all() and (pr < 8).all() and (pc >= 0).all() and (pc < 8).all()


def test_spark_column_encode_matches_numpy(spark):
    lat, lon = _rand_latlon(500)
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    got = (
        df.select(cells.encode_cell(F.col("lat"), F.col("lon"), 6).alias("cell"))
        .toPandas()["cell"]
        .to_numpy()
    )
    exp = cells.np_encode(lat, lon, 6)
    assert (got == exp).all()


def test_sql_encode_matches_numpy():
    import duckdb

    lat, lon = _rand_latlon(500)
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (lat DOUBLE, lon DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?, ?)", list(zip(lat, lon)))
    sql = cells.encode_cell_sql("lat", "lon", 6)
    got = np.array(con.execute(f"SELECT {sql} FROM pts").fetchall()).ravel()
    assert (got == cells.np_encode(lat, lon, 6)).all()


def test_spark_parent_matches_numpy(spark):
    lat, lon = _rand_latlon(300)
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    got = (
        df.select(
            cells.cell_parent(cells.encode_cell(F.col("lat"), F.col("lon"), 10), 2).alias("p")
        )
        .toPandas()["p"]
        .to_numpy()
    )
    assert (got == cells.np_encode(lat, lon, 8)).all()


def test_adaptive_tiles_split_semantics(spark):
    """North-star skew defense: hot tiles re-key finer, cold tiles stay
    coarse, rows are preserved, and every subtile nests in the hot
    parent it split from."""
    from pyspark.sql import functions as F

    from coastsat_spark.datagen import ensure_webpages
    from coastsat_spark.operators.tiling import adaptive_tiles

    docs = spark.read.parquet(ensure_webpages(spark, 0.001))
    from coastsat_spark.operators.tiling import with_geo

    geo = with_geo(docs).select("url", "lat", "lon")
    base_res, cap, levels = 4, 120, 2
    out = adaptive_tiles(geo, base_res=base_res, cap=cap, max_levels=levels)
    assert out.count() == geo.count()  # no row lost or duplicated

    counts = out.groupBy("atile").count().toPandas()
    res = counts["atile"].to_numpy() >> 58
    assert set(res) >= {base_res, base_res + 1}  # Zipf skew actually split
    # every tile above cap must be at max depth (can't split further)
    over = counts[counts["count"] > cap]
    assert (over["atile"].to_numpy() >> 58 == base_res + levels).all()

    # cold base tiles match the plain base-res assignment exactly
    plain = (
        geo.select(cells.encode_cell(F.col("lat"), F.col("lon"), base_res).alias("c"))
        .groupBy("c").count().toPandas()
    )
    plain_cold = plain[plain["count"] <= cap]
    got_base = counts[res == base_res].set_index("atile")["count"]
    assert got_base.to_dict() == plain_cold.set_index("c")["count"].to_dict()

    # nesting: every finer tile's ancestor at base res was hot
    hot = set(plain[plain["count"] > cap]["c"])
    finer = counts[res > base_res]["atile"].to_numpy()
    anc = finer.copy()
    for a in finer:
        steps = int(a >> 58) - base_res
        assert int(cells.np_parent(np.asarray([a]), steps)[0]) in hot


def test_z_order_spark_matches_numpy_and_nests(spark):
    rng = np.random.default_rng(7)
    lat = rng.uniform(-90, 90, 500)
    lon = rng.uniform(-180, 180, 500)
    res = 12
    x, y = cells.np_xy(lat, lon, res)
    want = cells.np_z_index(x, y)
    import pandas as pd

    sdf = spark.createDataFrame(pd.DataFrame({"i": range(500), "lat": lat, "lon": lon}))
    got = (
        sdf.select("i", cells.z_order_col(F.col("lat"), F.col("lon"), res).alias("z"))
        .toPandas().sort_values("i")["z"].to_numpy()
    )
    assert (got == want).all()
    # quadtree nesting: z at res-1 is z at res shifted right two bits
    xp, yp = cells.np_xy(lat, lon, res - 1)
    assert (cells.np_z_index(xp, yp) == (want >> 2)).all()
    # locality: sorting by z and chunking into "row groups" bounds each
    # chunk's lat/lon spread far tighter than a random order would
    order = np.argsort(want, kind="stable")
    spans = []
    for c in range(0, 500, 50):
        idx = order[c : c + 50]
        spans.append((lon[idx].max() - lon[idx].min()) + (lat[idx].max() - lat[idx].min()))
    assert np.median(spans) < 0.5 * (360.0 + 180.0)


def test_sql_lit_types_like_f_lit(spark):
    """`sql_lit` text parses to a literal of the type `F.lit` gives the
    same Python number (a bare `0.5` would be DECIMAL in Spark SQL)."""
    vals = [0.5, -0.2, 1e6, 7, -1, (1 << 31) - 1, 1 << 31, 1 << cells.R_BITS]
    got = spark.range(1).select(
        *[F.expr(cells.sql_lit(v)).alias(f"c{i}") for i, v in enumerate(vals)]
    )
    want = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(vals)])
    assert got.dtypes == want.dtypes
    assert got.first() == want.first()
