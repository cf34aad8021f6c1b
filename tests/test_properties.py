"""Property-based tests (hypothesis) for the pure-NumPy layers: cell
index algebra, Otsu bounds, marching-squares level invariant, MinHash
batch equivariance. No Spark session needed."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from coastsat_spark import kernels as K
from coastsat_spark.functions import cells
from coastsat_spark.operators.dedup import np_minhash_from_flat

lat_s = st.floats(min_value=-89.999, max_value=89.999, allow_nan=False)
lon_s = st.floats(min_value=-179.999, max_value=179.999, allow_nan=False)
res_s = st.integers(min_value=0, max_value=20)


@settings(max_examples=200, deadline=None)
@given(lat=lat_s, lon=lon_s, res=res_s)
def test_cell_encode_decode_roundtrip(lat, lon, res):
    c = cells.np_encode(np.array([lat]), np.array([lon]), res)
    r, x, y = cells.np_decode(c)
    assert r[0] == res
    n = 1 << res
    assert 0 <= x[0] < n and 0 <= y[0] < n
    # the cell's bounds contain the point (tolerance: a point within one
    # rounding ulp of a cell edge legitimately floors into either cell)
    lon0, lat0, dlon, dlat = cells.np_cell_bounds(c)
    assert lon0[0] - 1e-6 <= lon <= lon0[0] + dlon[0] + 1e-6
    assert lat0[0] - dlat[0] - 1e-6 <= lat <= lat0[0] + 1e-6


@settings(max_examples=200, deadline=None)
@given(lat=lat_s, lon=lon_s, res=st.integers(min_value=1, max_value=20))
def test_cell_parent_contains_child(lat, lon, res):
    c = cells.np_encode(np.array([lat]), np.array([lon]), res)
    p = cells.np_parent(c)
    # the parent is exactly the direct encode at res-1
    p2 = cells.np_encode(np.array([lat]), np.array([lon]), res - 1)
    assert p[0] == p2[0]
    # and the child appears among the parent's children
    assert c[0] in set(cells.np_children(int(p[0])))


@settings(max_examples=100, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=2,
        max_size=200,
    )
)
def test_otsu_threshold_within_range(vals):
    v = np.asarray(vals)
    t = K.otsu_threshold(v)
    assert v.min() - 1e-9 <= t <= v.max() + 1e-9


@settings(max_examples=50, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_marching_squares_level_invariant(seed):
    """Every contour point, bilinearly interpolated back into the grid,
    sits on the iso-level (the defining property of the sub-pixel
    contour)."""
    rng = np.random.default_rng(seed)
    g = rng.normal(size=(8, 8)).cumsum(axis=0).cumsum(axis=1)
    level = float(np.nanmedian(g))
    for cont in K.marching_squares(g, level):
        for r, c in cont:
            i, j = int(np.floor(r)), int(np.floor(c))
            i = min(i, g.shape[0] - 2)
            j = min(j, g.shape[1] - 2)
            fr, fc = r - i, c - j
            val = (
                g[i, j] * (1 - fr) * (1 - fc)
                + g[i + 1, j] * fr * (1 - fc)
                + g[i, j + 1] * (1 - fr) * fc
                + g[i + 1, j + 1] * fr * fc
            )
            # marching-squares points lie on cell EDGES, where bilinear
            # interpolation degenerates to the linear edge interpolation
            assert abs(val - level) < 1e-6, (r, c, val, level)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_minhash_batch_equivariance(seed):
    """Signatures depend only on the doc's own token hashes — batch
    order and neighbors must not matter."""
    rng = np.random.default_rng(seed)
    docs = [rng.integers(-(2**60), 2**60, rng.integers(1, 50)) for _ in range(8)]

    def sigs(ds):
        return np_minhash_from_flat(np.concatenate(ds), np.array([len(d) for d in ds]), k=16)

    full = sigs(docs)
    perm = rng.permutation(8)
    permuted = sigs([docs[i] for i in perm])
    assert (permuted == full[perm]).all()
    solo = np.vstack([sigs([d]) for d in docs])
    assert (solo == full).all()
