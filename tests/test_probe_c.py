"""The C TIN probe must be a BIT-IDENTICAL twin of the NumPy
_probe_batch_core path (zp/var to the last ulp, found equal): the
headline stream's numbers and the propagate oracles ride on it."""

import numpy as np

from gpiv_spark.functions import geocode
from gpiv_spark.operators import tin


def _mini_pack():
    rng = np.random.default_rng(9)
    n = 3000
    pts = {
        "pid": np.arange(n, dtype=np.int64),
        "x": geocode.X0 + rng.random(n) * geocode.EXTENT,
        "y": geocode.Y0 + rng.random(n) * geocode.EXTENT,
        "z": rng.random(n) * 10.0,
        "var_x": rng.random(n) * 1e-4,
        "var_y": rng.random(n) * 1e-4,
        "var_z": rng.random(n) * 1e-4,
        "cov_xy": rng.random(n) * 1e-5,
        "cov_xz": rng.random(n) * 1e-5,
        "cov_yz": rng.random(n) * 1e-5,
    }
    import pandas as pd

    pdf = pd.DataFrame(pts)
    # the production pack path: every one of 4x4 cells sees the whole
    # cloud, so its kernel certifies all its owned triangles, and
    # merge_pack_blobs joins the 16 shards
    n = 4
    kern = tin._make_cell_blob_kernel(
        n, geocode.EXTENT / n, 256, geocode.EXTENT / 256,
        geocode.EXTENT, geocode.EXTENT, "pid")
    rows = [kern((c,), pdf).iloc[0] for c in range(n * n)]
    assert not any(r["n_uncert"] for r in rows)
    return tin.merge_pack_blobs(rows, 8)


def test_c_probe_matches_numpy_bitwise():
    pack = _mini_pack()
    rng = np.random.default_rng(4)
    m = 20000
    # queries spread inside AND outside the extent (clip/miss paths)
    qx = geocode.X0 + (rng.random(m) * 1.2 - 0.1) * geocode.EXTENT
    qy = geocode.Y0 + (rng.random(m) * 1.2 - 0.1) * geocode.EXTENT
    cen = (geocode.X0 + 239.0, geocode.Y0 + 239.0, 5.0)

    zc, vc, fc = tin._probe_c(pack, qx, qy, cen)
    zn = np.empty(m)
    vn = np.empty(m)
    fn = np.empty(m, dtype=bool)
    for s in range(0, m, tin.PROBE_CHUNK):
        e = s + tin.PROBE_CHUNK
        z, v, f = tin._probe_batch_core(pack, qx[s:e], qy[s:e], cen)
        zn[s:e] = z
        vn[s:e] = v
        fn[s:e] = f
    assert np.array_equal(fc, fn)
    assert fn.any() and not fn.all()
    assert np.array_equal(zc[fc], zn[fn])       # exact, not allclose
    assert np.array_equal(vc[fc], vn[fn])
    assert np.isnan(zc[~fc]).all() and np.isnan(vc[~fc]).all()


def test_probe_c_loads():
    assert tin._probe_c(_mini_pack(), np.array([geocode.X0 + 1.0]),
                        np.array([geocode.Y0 + 1.0]),
                        (0.0, 0.0, 0.0)) is not None, (
        "C probe core failed to build — NumPy fallback keeps results "
        "correct but the stream loses its round-6 kernel speedup")
