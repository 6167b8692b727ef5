"""Halo-sufficiency certificate for the distributed Delaunay build.

The per-cell kernel certifies each OWNED triangle by checking that its
circumcircle — clamped to the data bbox, where points can exist — fits
inside the cell+halo region the kernel actually saw (operators/tin.py,
_make_cell_blob_kernel). The certify ladder (certify_pack_blobs) then
retries failed cells with wider halos until every owned triangle
certifies, which is
what makes a density-adaptive halo SAFE: certified triangles are
provably in the global Delaunay no matter how small the starting halo
was (soundness); only the thin band between local and global convex
hulls is not claimed (F4 hull probes there return NULL either way).
"""

import numpy as np
import pytest

from gpiv_spark.functions import delaunay as dl
from gpiv_spark.functions import geocode
from gpiv_spark.operators import tin
from gpiv_spark.operators.tin import _EXT, _X0, _Y0, build_broadcast_pack

TPU_DEFAULTS = {
    "var_x": 0.0001, "var_y": 0.0002, "var_z": 0.0003,
    "cov_xy": 0.0, "cov_xz": 0.0, "cov_yz": 0.0,
}


def _cloud_pdf(n, seed=11, stray=False):
    import pandas as pd

    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "x": _X0 + rng.random(n) * _EXT,
        "y": _Y0 + rng.random(n) * _EXT,
        "z": rng.random(n) * 10.0,
    })
    for c, v in TPU_DEFAULTS.items():
        pdf[c] = v
    if stray:
        pdf.loc[0, "x"] = _X0 - 25.0  # outside the nominal extent
    return pdf


def _cloud_df(spark, n, seed=11, stray=False):
    pdf = _cloud_pdf(n, seed, stray)
    return pdf, spark.createDataFrame(pdf)


def _pack_triples(pack, pids_sorted):
    return {tuple(sorted(pids_sorted[row])) for row in pack["tv"].tolist()}


def _global_triples(pdf):
    p = pdf[["x", "y"]].to_numpy(np.float64)
    tri = dl.delaunay(p)
    pid = pdf["pid"].to_numpy(np.int64)
    return {tuple(sorted(pid[row])) for row in tri.tolist()}


@pytest.mark.parametrize("halo", [2.0, 0.1])
def test_certified_pack_is_sound_subset_of_global(spark, halo):
    """Whatever the starting halo — even one far below the point
    spacing — the certified build emits only triangles of the GLOBAL
    Delaunay (retries repair undersized halos), and misses at most a
    sliver-thin hull band."""
    pdf, points = _cloud_df(spark, 4000, seed=7)
    bc = build_broadcast_pack(spark, points, cell_res=4, index_res=8,
                              halo_m=halo, id_col="pid")
    pack = bc.value
    bc.destroy()
    got = _pack_triples(pack, np.sort(pdf["pid"].to_numpy(np.int64)))
    want = _global_triples(pdf)
    rogue = got - want
    assert not rogue, f"{len(rogue)} non-global triangles emitted"
    missing = want - got
    assert len(missing) < 0.002 * len(want), (
        f"hull-band completeness gap too large: {len(missing)}")


def test_kernel_certificate_counts_every_rogue_triangle():
    """Control for the test above, on the kernel itself (no Spark): at
    the same undersized halo the cell-local triangulations DO contain
    triangles that are not in the global Delaunay, and the certificate
    counts every one of them in its cell's n_uncert — it is the
    certificate that keeps them out of the pack."""
    import pickle

    pdf = _cloud_pdf(4000, seed=7)
    n, halo = 16, 0.1
    csize = _EXT / n
    kern = tin._make_cell_blob_kernel(n, csize, 256, _EXT / 256, halo,
                                      halo, "pid")
    want = _global_triples(pdf)
    x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    n_rogue = n_uncert = 0
    for cell in range(n * n):
        cy, cx = divmod(cell, n)
        # fan-in: every point within ``halo`` of the cell box (per axis,
        # as fan_out_points replicates), so the claimed halo holds
        seen = ((x >= _X0 + cx * csize - halo) & (x < _X0 + (cx + 1) * csize + halo)
                & (y >= _Y0 + cy * csize - halo) & (y < _Y0 + (cy + 1) * csize + halo))
        row = kern((cell,), pdf[seen].reset_index(drop=True)).iloc[0]
        shard = pickle.loads(row["payload"])
        got = {tuple(sorted(t)) for t in
               zip(shard["v1"].tolist(), shard["v2"].tolist(), shard["v3"].tolist())}
        rogue = len(got - want)
        assert rogue <= row["n_uncert"], (
            f"cell {cell}: {rogue} non-global triangles, n_uncert={row['n_uncert']}")
        n_rogue += rogue
        n_uncert += int(row["n_uncert"])
    assert n_rogue > 0, "expected rogue triangles at halo=0.1"
    assert n_uncert > 0


def test_certify_false_rejected():
    """Every pack is certified: the vestigial flag accepts only True."""
    with pytest.raises(ValueError, match="every pack is certified"):
        build_broadcast_pack(None, None, certify=False)


def test_wide_reach_retry_starts_from_last_in_ring_need(spark, monkeypatch):
    """After the in-ring ladder, the first wide-reach retry's halo comes
    from the halo_need the LAST in-ring retry reported (the first
    pass's need is stale: at halo=0.1 it is most of the extent)."""
    _, points = _cloud_df(spark, 4000, seed=7)
    calls = []
    ring_fn, wide_fn = tin.build_pack_blobs, tin.build_pack_blobs_at_cells

    def ring(*a, **k):
        df = ring_fn(*a, **k)
        if k.get("only_cells"):
            calls.append(("ring", a[4], df))
        return df

    def wide(*a, **k):
        calls.append(("wide", a[5], None))
        return wide_fn(*a, **k)

    monkeypatch.setattr(tin, "build_pack_blobs", ring)
    monkeypatch.setattr(tin, "build_pack_blobs_at_cells", wide)
    build_broadcast_pack(spark, points, cell_res=4, index_res=8,
                         halo_m=0.1, id_col="pid").destroy()
    i = next(i for i, c in enumerate(calls) if c[0] == "wide")
    assert i > 0 and calls[i - 1][0] == "ring", (
        "the cloud must take the in-ring step before the wide-reach retry")
    _, halo_r, df = calls[i - 1]
    need = max(df.toArrow().column("halo_need").to_pylist())
    assert calls[i][1] == min(max(1.02 * need, 2.0 * halo_r), _EXT)


def test_stray_points_void_bbox_clamp(spark):
    """A point outside the nominal extent makes the certificate's bbox
    clamp unsound; certify must refuse rather than certify wrongly."""
    _, points = _cloud_df(spark, 500, seed=3, stray=True)
    with pytest.raises(ValueError, match="outside the nominal extent"):
        build_broadcast_pack(spark, points, cell_res=4, index_res=8,
                             halo_m=2.0, id_col="pid")


def test_certified_build_total_on_clustered_cloud(spark):
    """Clustered clouds (big inter-cluster voids => huge circumcircles
    everywhere) exercise the whole repair ladder: halo doubling, then
    grid auto-coarsening. The build must still terminate and emit only
    globally-Delaunay triangles."""
    import pandas as pd

    rng = np.random.default_rng(23)
    centers = np.stack([_X0 + rng.random(5) * _EXT,
                        _Y0 + rng.random(5) * _EXT], axis=1)
    pts = np.concatenate([
        c + rng.normal(0, _EXT * 0.02, (300, 2)) for c in centers
    ])
    pts = np.clip(pts, [_X0, _Y0],
                  [_X0 + _EXT * 0.999, _Y0 + _EXT * 0.999])
    pdf = pd.DataFrame({
        "pid": np.arange(len(pts), dtype=np.int64),
        "x": pts[:, 0], "y": pts[:, 1],
        "z": rng.random(len(pts)),
    })
    for c, v in TPU_DEFAULTS.items():
        pdf[c] = v
    bc = build_broadcast_pack(spark, spark.createDataFrame(pdf),
                              cell_res=3, index_res=8, halo_m=1.0,
                              id_col="pid")
    pack = bc.value
    bc.destroy()
    got = _pack_triples(pack, np.sort(pdf["pid"].to_numpy(np.int64)))
    want = _global_triples(pdf)
    assert not (got - want), "rogue triangles on clustered cloud"
    assert len(want - got) < 0.01 * len(want)
