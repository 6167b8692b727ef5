"""Distributed TIN interpolation + error propagation (SURVEY §2 J1-J3,
P1-P3, P5, E3, F4).

Physical plan (tin_interpolation.py:35-58, re-expressed for Spark):

1. points and grid cells are encoded to Z-order cells (the engine's
   partition key);
2. points are fanned out to their cell AND its 8 neighbors (the halo:
   one full cell ring — local Delaunay is correct wherever the
   containing triangle's circumcircle fits inside the halo, SURVEY
   §7.3; cell size is chosen >= a few mean point spacings);
3. ``groupBy(cell).cogroup(...).applyInPandas`` pairs each cell's
   grid points with its haloed point set; the kernel runs the
   from-scratch Bowyer-Watson (J1), containment query (J2,
   find_simplex == -1 -> NaN row, F4), vertex gather (J3), centroid
   conditioning (P1), plane coeffs (P2), interpolation (P3), partial
   derivatives (P5) and the block-diagonal quadratic form (E3) — all
   vectorized NumPy, one Python call per cell.

Skew: the fan-out is bounded (9x) and cells are equal-area; hot cells
(doc clustering) are split by the optional salt on the grid side.
At 100 TB the shuffle carries (cell, x, y, z, 6 tpu) doubles only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpiv_spark.functions import delaunay as dl
from gpiv_spark.functions.cells import numpy_zcell, zcell_expr
from gpiv_spark.dialect import SPARK as SD

TIN_SCHEMA = (
    "grid_id long, x double, y double, zp double, var_zp double, found boolean"
)

TPU_COLS = ["var_x", "var_y", "var_z", "cov_xy", "cov_xz", "cov_yz"]

# Fixed task count for build_triangles' gather stage. Fixed (not
# cores-derived) so task granularity is identical at every measured
# parallelism level, and small: each Python task costs ~20 ms of
# serialized runner handshake regardless of size (measured: 128 no-op
# mapInPandas tasks = 2.8 s at ANY core count), so fewer, bigger tasks
# win as long as waves stay balanced (64 = 2 waves at 32 cores).
KERNEL_TASKS = 64
# The PACK BUILD's task-count tradeoff flipped in round 6: with the C
# Delaunay core the per-cell kernel is ~20x cheaper, so per-task
# channel/handshake overhead outweighs wave balance. Re-measured
# (best-of-2 certified builds): 32 cores/1.6M pts 10.6 s (128 tasks)
# -> 9.8 s (64); 8 cores/400k 5.2/4.3 -> 4.2/4.5. 32 tasks is
# slightly faster still at 8 cores but leaves a single skew-sensitive
# wave at 32 cores; 64 keeps two waves. (Pre-C-kernel, 128 beat 64 at
# 32 cores — the r5 measurement in git history.)
PACK_TASKS = 64


def fan_out_points(spark: SparkSession, points: DataFrame, cell_res: int,
                   halo_m: float | None = None,
                   extra_cols: tuple[str, ...] = (),
                   edge_halo_m: float | None = None) -> DataFrame:
    """Replicate each point into its Z-order cell + the neighbor cells
    within ``halo_m`` metres (None = the full 8-neighbor ring).

    The halo makes per-cell Delaunay agree with the global one wherever
    boundary-triangle circumcircles fit inside it (SURVEY §7.3). A
    margin of a few mean point spacings keeps the fan-out factor near
    1 + 4*halo/cell instead of the naive 9x (which made the build
    memory-bound rather than compute-bound).

    ``edge_halo_m`` (default: same as ``halo_m``) is the halo used for
    fan-in to cells on the extent boundary: hull slivers there have
    circumcircles running along the data edge, so those cells need a
    wider margin than the interior for the certificate to pass without
    a retry pass (see build_broadcast_pack).
    """
    n = 1 << cell_res
    csize = _EXT / n
    if halo_m is None:
        halo_m = csize  # degenerate: full neighbor ring
    if edge_halo_m is None:
        edge_halo_m = halo_m
    neigh = spark.createDataFrame(
        [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)], "dr int, dc int"
    )
    # offset of the point inside its home cell, in metres
    fx = f"((x - {_X0!r}) - _ix * {csize!r})"
    fy = f"((y - {_Y0!r}) - _iy * {csize!r})"
    # halo of the TARGET cell (_ix+dc, _iy+dr): extent-boundary cells
    # use the wider edge margin
    h = (f"(CASE WHEN (_ix + dc) IN (0, {n - 1})"
         f" OR (_iy + dr) IN (0, {n - 1})"
         f" THEN {edge_halo_m!r} ELSE {halo_m!r} END)")
    keep = (
        f"(dc = 0 OR (dc = -1 AND {fx} < {h})"
        f" OR (dc = 1 AND {csize!r} - {fx} < {h}))"
        f" AND (dr = 0 OR (dr = -1 AND {fy} < {h})"
        f" OR (dr = 1 AND {csize!r} - {fy} < {h}))"
    )
    return (
        points.withColumn("_ix", F.expr(
            f"greatest(0, least({n - 1}, CAST(floor((x - {_X0!r}) / {_EXT!r} * {n}) AS BIGINT)))"))
        .withColumn("_iy", F.expr(
            f"greatest(0, least({n - 1}, CAST(floor((y - {_Y0!r}) / {_EXT!r} * {n}) AS BIGINT)))"))
        .crossJoin(F.broadcast(neigh))
        .filter(F.expr(keep))
        .withColumn("_jx", F.col("_ix") + F.col("dc"))
        .withColumn("_jy", F.col("_iy") + F.col("dr"))
        .filter((F.col("_jx") >= 0) & (F.col("_jx") < n)
                & (F.col("_jy") >= 0) & (F.col("_jy") < n))
        .withColumn("cell", F.col("_jy") * n + F.col("_jx"))
        .select("cell", *extra_cols, "x", "y", "z", *TPU_COLS)
    )


def tin_numpy(points: np.ndarray, tpu: np.ndarray, grids: np.ndarray,
              centroid: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Reference math on one point set: returns (zp, var_zp, found).

    points (n,3), tpu (n,6) fixed order, grids (m,2), centroid (3,).
    Formula twins of operators.tin_math (validated cross-engine) —
    vectorized over grid points.
    """
    m = len(grids)
    zp = np.full(m, np.nan)
    var = np.full(m, np.nan)
    found = np.zeros(m, dtype=bool)
    if len(points) < 3 or m == 0:
        return zp, var, found

    tri = dl.delaunay(points[:, :2])
    if len(tri) == 0:
        return zp, var, found
    fs = dl.find_simplex(points[:, :2], tri, grids)
    ok = fs >= 0
    if not ok.any():
        return zp, var, found
    t = tri[fs[ok]]

    pv = points - centroid  # P1 centroid conditioning
    g = grids[ok] - centroid[:2]
    x1, y1, z1 = pv[t[:, 0], 0], pv[t[:, 0], 1], pv[t[:, 0], 2]
    x2, y2, z2 = pv[t[:, 1], 0], pv[t[:, 1], 1], pv[t[:, 1], 2]
    x3, y3, z3 = pv[t[:, 2], 0], pv[t[:, 2], 1], pv[t[:, 2], 2]
    xp, yp = g[:, 0], g[:, 1]

    # P2 (tin_interpolation.py:125-141)
    A = y1 * z3 - y1 * z2 + y2 * z1 - y2 * z3 + y3 * z2 - y3 * z1
    B = x1 * z2 - x1 * z3 + x2 * z3 - x2 * z1 + x3 * z1 - x3 * z2
    C = x1 * y2 - x1 * y3 + x2 * y3 - x2 * y1 + x3 * y1 - x3 * y2
    D = (x1 * y2 * z3 - x1 * y3 * z2 + x2 * y3 * z1 - x2 * y1 * z3
         + x3 * y1 * z2 - x3 * y2 * z1)

    # P3 (tin_interpolation.py:185-211)
    zp[ok] = (A / C) * xp + (B / C) * yp + D / C + centroid[2]

    # P5 (tin_interpolation.py:88-119)
    C2 = C * C
    E = xp * A + yp * B + D
    d = np.empty((ok.sum(), 9))
    d[:, 0] = ((y3 - y2) * E + ((z2 - z3) * yp + (y2 * z3 - y3 * z2)) * C) / C2
    d[:, 3] = ((y1 - y3) * E + ((z3 - z1) * yp + (y3 * z1 - y1 * z3)) * C) / C2
    d[:, 6] = ((y2 - y1) * E + ((z1 - z2) * yp + (y1 * z2 - y2 * z1)) * C) / C2
    d[:, 1] = ((x2 - x3) * E + ((z3 - z2) * xp + (x3 * z2 - x2 * z3)) * C) / C2
    d[:, 4] = ((x3 - x1) * E + ((z1 - z3) * xp + (x1 * z3 - x3 * z1)) * C) / C2
    d[:, 7] = ((x1 - x2) * E + ((z2 - z1) * xp + (x2 * z1 - x1 * z2)) * C) / C2
    d[:, 2] = ((y2 - y3) * xp + (x3 - x2) * yp + (x2 * y3 - x3 * y2)) / C
    d[:, 5] = ((y3 - y1) * xp + (x1 - x3) * yp + (x3 * y1 - x1 * y3)) / C
    d[:, 8] = ((y1 - y2) * xp + (x2 - x1) * yp + (x1 * y2 - x2 * y1)) / C

    # E3 block-diagonal quadratic form (tin_interpolation.py:146-181)
    v = np.zeros(ok.sum())
    for k in range(3):
        tp = tpu[t[:, k]]
        dx, dy, dz = d[:, 3 * k], d[:, 3 * k + 1], d[:, 3 * k + 2]
        v += (dx * dx * tp[:, 0] + dy * dy * tp[:, 1] + dz * dz * tp[:, 2]
              + 2 * dx * dy * tp[:, 3] + 2 * dx * dz * tp[:, 4]
              + 2 * dy * dz * tp[:, 5])
    var[ok] = v
    found[ok] = True
    return zp, var, found


def tin_interpolate(
    spark: SparkSession,
    points: DataFrame,
    grid: DataFrame,
    cell_res: int = 4,
    centroid: tuple[float, float, float] | None = None,
    halo_m: float | None = None,
) -> DataFrame:
    """points(x,y,z,+TPU) x grid(grid_id,x,y) -> TIN_SCHEMA rows.

    ``centroid`` defaults to the exact P1 data centroid computed by a
    Spark agg; pass explicitly for bit-reproducible comparisons.
    """
    if centroid is None:
        c = points.agg(
            F.avg("x").alias("cx"), F.avg("y").alias("cy"), F.avg("z").alias("cz")
        ).collect()[0]
        centroid = (c["cx"], c["cy"], c["cz"])
    cen = np.asarray(centroid, dtype=np.float64)

    n = 1 << cell_res
    pts = fan_out_points(spark, points, cell_res, halo_m)
    grd = grid.withColumn(
        "cell",
        F.expr(
            f"greatest(0, least({n - 1}, CAST(floor((y - {_Y0!r}) / {_EXT!r} * {n}) AS BIGINT)))"
        ) * n
        + F.expr(
            f"greatest(0, least({n - 1}, CAST(floor((x - {_X0!r}) / {_EXT!r} * {n}) AS BIGINT)))"
        ),
    ).select("cell", "grid_id", "x", "y")

    def _cell_kernel(key, gpdf, ppdf):  # untyped: full hints or none for pyspark eval-type inference
        if gpdf.empty:
            return pd.DataFrame(
                columns=["grid_id", "x", "y", "zp", "var_zp", "found"]
            )
        # dedupe exact-duplicate XY (degenerate for Delaunay);
        # sort first so the kept row is deterministic — plain
        # drop_duplicates keeps whichever duplicate the shuffle
        # delivered first, so coincident points with different z/TPU
        # made re-runs nondeterministic
        ppdf = ppdf.sort_values(
            list(ppdf.columns), kind="mergesort"
        ).drop_duplicates(subset=["x", "y"])
        p = ppdf[["x", "y", "z"]].to_numpy(dtype=np.float64)
        tpu = ppdf[TPU_COLS].to_numpy(dtype=np.float64)
        g = gpdf[["x", "y"]].to_numpy(dtype=np.float64)
        zp, var, found = tin_numpy(p, tpu, g, cen)
        return pd.DataFrame(
            {
                "grid_id": gpdf["grid_id"].to_numpy(),
                "x": g[:, 0],
                "y": g[:, 1],
                "zp": zp,
                "var_zp": var,
                "found": found,
            }
        )

    return (
        grd.groupBy("cell")
        .cogroup(pts.groupBy("cell"))
        .applyInPandas(_cell_kernel, TIN_SCHEMA)
    )


from gpiv_spark.functions.geocode import EXTENT as _EXT, X0 as _X0, Y0 as _Y0  # noqa: E402


# ---------------------------------------------------------------------------
# Scale path: ONE certified triangulation, consumed two ways.
#
# The cogrouped kernel above is the exact per-cell reference semantics.
# For doc-scale throughput the TIN is built ONCE by the certified blob
# build (one per-cell kernel does Delaunay + the halo-sufficiency
# certificate + its pack shard; certify_pack_blobs repairs failed
# cells; merge_pack_blobs + PackFileHandle make the pack). Documents
# then either
#   1. probe the mmap'd pack in mapInPandas (probe_docs: no shuffle), or
#   2. equi-join the pack's triangles on the fine Z-order cell with a
#      barycentric-sign refine and the P2/P3/P5/E3 closed forms as
#      Catalyst column arithmetic (build_triangles + propagate_at,
#      Raptor-style equi+refine) — zero Python per doc.
# Both pick the lowest pack row among containing triangles, so they
# return identical rows.
# ---------------------------------------------------------------------------

TRI_SCHEMA = (
    "tri_id long, "
    + ", ".join(f"{c}{k} double" for k in (1, 2, 3) for c in ("x", "y", "z"))
    + ", "
    + ", ".join(
        f"{t}_{k} double" for k in (1, 2, 3)
        for t in ("var_x", "var_y", "var_z", "cov_xy", "cov_xz", "cov_yz")
    )
)


def build_triangles(spark: SparkSession, points: DataFrame, cell_res: int = 4,
                    halo_m: float | None = None,
                    id_col: str = "pid") -> DataFrame:
    """Certified triangle table: one TRI_SCHEMA row per triangle of the
    certified pack (build_broadcast_pack), tri_id = its pack row.

    A fixed-task range gathers each triangle's vertices and TPU from
    the worker-mapped pack, so propagate_at's min(tri_id) tie-break is
    the probe's lowest-row pick. The returned DataFrame reads the pack
    on every evaluation: its directory lives until the Spark driver
    process exits.
    """
    handle = build_broadcast_pack(spark, points, cell_res, halo_m=halo_m,
                                  id_col=id_col)
    n_tri = len(handle.value["tv"])

    def _gather(batches):
        idx = handle.value
        for pdf in batches:
            row = pdf["id"].to_numpy(np.int64)
            tv = idx["tv"][row]
            data = {"tri_id": row}
            for k in range(3):
                for c in ("x", "y", "z"):
                    data[f"{c}{k + 1}"] = idx[f"p{c}"][tv[:, k]]
            for k in range(3):
                for t in TPU_COLS:
                    data[f"{t}_{k + 1}"] = idx[f"p_{t}"][tv[:, k]]
            yield pd.DataFrame(data)

    return (spark.range(0, n_tri, 1, KERNEL_TASKS)
            .mapInPandas(_gather, TRI_SCHEMA))


PACK_BLOB_SCHEMA = ("cell long, n_pts long, n_tri long, n_pairs long, "
                    "n_uncert long, n_outside long, halo_need double, "
                    "payload binary")


def _make_cell_blob_kernel(n: int, csize: float, nf: int, fs: float,
                           halo_eff: float, edge_eff: float, id_col: str):
    """Factory for THE per-cell TIN kernel: local Delaunay, the
    halo-sufficiency certificate and the cell's pack shard (shared by
    the ring-1 pass of build_pack_blobs and the wide-reach certify
    retries of build_pack_blobs_at_cells). ``halo_eff``/``edge_eff``
    are the halo the CERTIFICATE may claim — callers must guarantee the
    fan-in actually delivered every point within that distance of the
    cell."""
    import pickle

    def _cell_blob(key, pdf):
        import numpy as _np

        cell = int(key[0])
        cy, cx = divmod(cell, n)
        x_lo, x_hi = _X0 + cx * csize, _X0 + (cx + 1) * csize
        y_lo, y_hi = _Y0 + cy * csize, _Y0 + (cy + 1) * csize
        # ownership bounds for POINTS mirror the clamped home-cell expr:
        # edge cells absorb out-of-extent points.
        px_lo = -_np.inf if cx == 0 else x_lo
        px_hi = _np.inf if cx == n - 1 else x_hi
        py_lo = -_np.inf if cy == 0 else y_lo
        py_hi = _np.inf if cy == n - 1 else y_hi

        ax = pdf["x"].to_numpy(_np.float64)
        ay = pdf["y"].to_numpy(_np.float64)
        own_pt = (ax >= px_lo) & (ax < px_hi) & (ay >= py_lo) & (ay < py_hi)
        shard = {
            "cell": cell,  # lets merge_pack_blobs order shards by cell
            "pid": pdf[id_col].to_numpy(_np.int64)[own_pt],
            "px": ax[own_pt],
            "py": ay[own_pt],
            "pz": pdf["z"].to_numpy(_np.float64)[own_pt],
        }
        for t in TPU_COLS:
            shard[f"p_{t}"] = pdf[t].to_numpy(_np.float64)[own_pt]

        # deterministic keeper: min id wins for coincident XY
        ddf = pdf.sort_values(id_col, kind="mergesort").drop_duplicates(
            subset=["x", "y"])
        p = ddf[["x", "y"]].to_numpy(_np.float64)
        pid = ddf[id_col].to_numpy(_np.int64)
        tri = dl.delaunay(p) if len(p) >= 3 else _np.empty((0, 3), _np.int64)
        n_uncert = 0
        halo_need = 0.0
        # strays outside the nominal extent, counted on OWNED points so
        # the per-cell sums add up to the global count (ownership is a
        # partition); any stray voids the certificate's bbox clamp
        n_outside = int((
            (shard["px"] < _X0) | (shard["px"] >= _X0 + _EXT)
            | (shard["py"] < _Y0) | (shard["py"] >= _Y0 + _EXT)
        ).sum())
        if len(tri):
            cen_x = p[tri, 0].mean(axis=1)
            cen_y = p[tri, 1].mean(axis=1)
            own = ((cen_x >= x_lo) & (cen_x < x_hi)
                   & (cen_y >= y_lo) & (cen_y < y_hi))
            tri = tri[own]
        if len(tri):
            # Halo-sufficiency certificate (distributed-Delaunay
            # soundness): an owned triangle provably belongs to the
            # GLOBAL Delaunay iff its circumcircle is empty of points
            # this kernel never saw — i.e. the circle, restricted to
            # where points can exist, fits inside cell + halo band.
            # "Where points can exist" is the nominal data bbox
            # [X0, X0+EXT]^2, valid only when no point lies outside it
            # (the kernel counts strays in n_outside; the driver must
            # see zero before trusting bbox-clamped counts). Hull
            # slivers have huge circumcircles bulging OUTSIDE the bbox
            # — the clamp uses the true chord extent so they certify.
            # Coordinates are centered on the cell before the
            # circumcircle math: at UTM magnitudes the squares lose
            # ~13 digits to cancellation (see functions/delaunay.py).
            ccx0, ccy0 = 0.5 * (x_lo + x_hi), 0.5 * (y_lo + y_hi)
            pc = p - _np.array([[ccx0, ccy0]])
            cc, r2 = dl._circumcircles(pc, tri)
            on_edge = cx in (0, n - 1) or cy in (0, n - 1)
            half = 0.5 * csize + (edge_eff if on_edge else halo_eff)
            # data bbox in cell-centered coords
            bx_lo, bx_hi = _X0 - ccx0, _X0 + _EXT - ccx0
            by_lo, by_hi = _Y0 - ccy0, _Y0 + _EXT - ccy0
            # true extent of (circle ∩ bbox): chord half-length at
            # horizontal/vertical distance h from the center to the
            # bbox's x/y-interval (0 when the center is inside it)
            hx = _np.maximum(0.0, _np.maximum(bx_lo - cc[:, 0],
                                              cc[:, 0] - bx_hi))
            hy = _np.maximum(0.0, _np.maximum(by_lo - cc[:, 1],
                                              cc[:, 1] - by_hi))
            chord_y = _np.sqrt(_np.maximum(0.0, r2 - hx * hx))
            chord_x = _np.sqrt(_np.maximum(0.0, r2 - hy * hy))
            ok = _np.ones(len(tri), dtype=bool)
            if cx > 0:
                ok &= _np.maximum(cc[:, 0] - chord_x, bx_lo) >= -half
            if cx < n - 1:
                ok &= _np.minimum(cc[:, 0] + chord_x, bx_hi) <= half
            if cy > 0:
                ok &= _np.maximum(cc[:, 1] - chord_y, by_lo) >= -half
            if cy < n - 1:
                ok &= _np.minimum(cc[:, 1] + chord_y, by_hi) <= half
            n_uncert = int((~ok).sum())
            if n_uncert:
                # the halo at which every CURRENTLY-failing triangle's
                # clamped circumcircle would fit — lets the driver
                # retry once at the reported need instead of walking a
                # blind doubling ladder (a wider build can still
                # surface new slivers; the driver keeps doubling then)
                req = _np.zeros(len(tri))
                if cx > 0:
                    req = _np.maximum(
                        req, -_np.maximum(cc[:, 0] - chord_x, bx_lo))
                if cx < n - 1:
                    req = _np.maximum(
                        req, _np.minimum(cc[:, 0] + chord_x, bx_hi))
                if cy > 0:
                    req = _np.maximum(
                        req, -_np.maximum(cc[:, 1] - chord_y, by_lo))
                if cy < n - 1:
                    req = _np.maximum(
                        req, _np.minimum(cc[:, 1] + chord_y, by_hi))
                halo_need = float(req[~ok].max() - 0.5 * csize)
        shard["tri_id"] = (cell * (1 << 24)
                           + _np.arange(len(tri), dtype=_np.int64))
        for k in range(3):
            shard[f"v{k + 1}"] = pid[tri[:, k]] if len(tri) else _np.empty(0, _np.int64)
        # fine-cell bbox covering, vectorized per cell (same math as the
        # old driver-side pack, now embarrassingly parallel)
        if len(tri):
            vx = p[tri, 0]
            vy = p[tri, 1]
            ix_lo = _np.clip(((vx.min(1) - _X0) / fs).astype(_np.int64), 0, nf - 1)
            ix_hi = _np.clip(((vx.max(1) - _X0) / fs).astype(_np.int64), 0, nf - 1)
            iy_lo = _np.clip(((vy.min(1) - _Y0) / fs).astype(_np.int64), 0, nf - 1)
            iy_hi = _np.clip(((vy.max(1) - _Y0) / fs).astype(_np.int64), 0, nf - 1)
            nx = ix_hi - ix_lo + 1
            ny = iy_hi - iy_lo + 1
            reps = nx * ny
            total = int(reps.sum())
            rows = _np.repeat(_np.arange(len(tri), dtype=_np.int32), reps)
            base = _np.concatenate([[0], _np.cumsum(reps)[:-1]])
            within = _np.arange(total) - _np.repeat(base, reps)
            wx = within % _np.repeat(nx, reps)
            wy = within // _np.repeat(nx, reps)
            shard["pair_icell"] = (
                (_np.repeat(iy_lo, reps) + wy) * nf
                + (_np.repeat(ix_lo, reps) + wx)
            ).astype(_np.int64)
            shard["pair_tri"] = rows
        else:
            shard["pair_icell"] = _np.empty(0, _np.int64)
            shard["pair_tri"] = _np.empty(0, _np.int32)
        return pd.DataFrame(
            {
                "cell": [cell],
                "n_pts": [len(shard["pid"])],
                "n_tri": [len(tri)],
                "n_pairs": [len(shard["pair_icell"])],
                "n_uncert": [n_uncert],
                "halo_need": [halo_need],
                "n_outside": [n_outside],
                "payload": [pickle.dumps(shard, protocol=4)],
            }
        )

    return _cell_blob


def build_pack_blobs(spark: SparkSession, points: DataFrame,
                     cell_res: int = 4, index_res: int = 9,
                     halo_m: float | None = None,
                     id_col: str = "point_id",
                     only_cells: list[int] | None = None,
                     edge_halo_m: float | None = None) -> DataFrame:
    """Distributed pack build: one kernel call per coarse cell does the
    local Delaunay AND packs its shard of the broadcast index — owned
    points (no dedupe: any pid a neighbor cell's triangle references
    must resolve), owned triangles as global-pid refs, and each owned
    triangle's fine-cell bbox covering pairs. The driver's only job is
    concatenation + two O(n log n) sorts (merge_pack_blobs) — no
    toArrow() of the full triangle/point tables, no single-threaded
    covering computation (kills the round-1 scale/Amdahl bottleneck
    flagged at tin.py:722/bench.py:68).
    """
    n = 1 << cell_res
    nf = 1 << index_res
    fs = _EXT / nf
    csize = _EXT / n
    # The halo the CERTIFICATE may claim is capped at csize:
    # fan_out_points only ever reaches the 8-neighbor ring, so the
    # seen region is cell + csize no matter how large halo_m is — a
    # larger claimed halo would certify triangles against points the
    # kernel never saw (wide-reach retries go through
    # build_pack_blobs_at_cells, whose fan-in honors any halo; this
    # clamp closes the caller-supplied halo_m > csize hole here).
    halo_eff = min(csize, csize if halo_m is None else halo_m)
    edge_eff = min(csize, halo_eff if edge_halo_m is None else edge_halo_m)
    pts = fan_out_points(spark, points, cell_res, halo_m,
                         extra_cols=(id_col,), edge_halo_m=edge_halo_m)
    npart = PACK_TASKS
    if only_cells is not None:
        # certify-retry path: re-derive just these cells' shards. A
        # per-cell bbox prefilter on the POINTS (before the 9-way
        # neighbor cross join) keeps the retry's JVM scan proportional
        # to the failed region, and the task count tracks the retry's
        # actual group count instead of paying PACK_TASKS handshakes
        # for a handful of cells (task count stays data-derived, never
        # cores-derived — the granularity discipline in CLAUDE.md).
        reach = max(halo_eff, edge_eff) + csize
        pre = " OR ".join(
            f"(x >= {_X0 + (c % n) * csize - reach!r} AND "
            f"x < {_X0 + (c % n + 1) * csize + reach!r} AND "
            f"y >= {_Y0 + (c // n) * csize - reach!r} AND "
            f"y < {_Y0 + (c // n + 1) * csize + reach!r})"
            for c in only_cells[:64]
        )
        if pre and len(only_cells) <= 64:
            points = points.filter(F.expr(pre))
            pts = fan_out_points(spark, points, cell_res, halo_m,
                                 extra_cols=(id_col,),
                                 edge_halo_m=edge_halo_m)
        pts = pts.filter(F.col("cell").isin([int(c) for c in only_cells]))
        npart = max(8, min(PACK_TASKS, 4 * len(only_cells)))

    _cell_blob = _make_cell_blob_kernel(n, csize, nf, fs, halo_eff,
                                        edge_eff, id_col)
    return (
        pts.repartition(npart, "cell")
        .groupBy("cell")
        .applyInPandas(_cell_blob, PACK_BLOB_SCHEMA)
    )


def build_pack_blobs_at_cells(spark: SparkSession, points: DataFrame,
                              cells: list[int], cell_res: int,
                              index_res: int, halo_m: float,
                              id_col: str = "point_id") -> DataFrame:
    """Wide-reach certify retry: rebuild the given cells' shards with a
    halo that may exceed the 8-neighbor ring's reach. Fan-in is a
    broadcast join of points against the (tiny) failed-cell list — each
    point reaches every listed cell whose bbox it lies within ``halo_m``
    of (Chebyshev distance, the same per-axis rule fan_out_points
    applies inside the ring). Cost is O(n_points * n_cells) predicate
    work with no 9-way row multiplication, so escalating the halo all
    the way to the full extent stays a bounded, targeted job instead of
    the old global grid-coarsen rebuild."""
    n = 1 << cell_res
    nf = 1 << index_res
    fs = _EXT / nf
    csize = _EXT / n
    cell_rows = [(int(c),
                  _X0 + (int(c) % n) * csize, _X0 + (int(c) % n + 1) * csize,
                  _Y0 + (int(c) // n) * csize, _Y0 + (int(c) // n + 1) * csize)
                 for c in cells]
    tgt = spark.createDataFrame(
        cell_rows, "cell long, cx_lo double, cx_hi double, "
        "cy_lo double, cy_hi double")
    keep = (f"(x >= cx_lo - {halo_m!r} AND x < cx_hi + {halo_m!r} "
            f"AND y >= cy_lo - {halo_m!r} AND y < cy_hi + {halo_m!r})")
    pts = (points.crossJoin(F.broadcast(tgt))
           .filter(F.expr(keep))
           .select("cell", id_col, "x", "y", "z", *TPU_COLS))
    _cell_blob = _make_cell_blob_kernel(n, csize, nf, fs, halo_m, halo_m,
                                        id_col)
    npart = max(8, min(PACK_TASKS, 4 * len(cells)))
    return (
        pts.repartition(npart, "cell")
        .groupBy("cell")
        .applyInPandas(_cell_blob, PACK_BLOB_SCHEMA)
    )


def merge_pack_blobs(blob_rows, index_res: int) -> dict:
    """Concatenate per-cell shards into the pack dict: points (pid
    order) with z/TPU, triangles as int32 vertex rows ``tv`` plus dense
    x/y per vertex for the containment test, and the CSR fine-cell
    index (``offsets``, ``cell_tri``). Driver cost: memcpy-level
    concatenation, one radix argsort over points, one over covering
    pairs."""
    import pickle

    nf = 1 << index_res
    if not isinstance(blob_rows, list):  # pyarrow Table from toArrow()
        payloads = blob_rows.column("payload").to_pylist()
    else:
        payloads = [r["payload"] for r in blob_rows]
    shards = [pickle.loads(b) for b in payloads]
    if not shards:
        raise ValueError(
            "merge_pack_blobs: no cell shards — the points input was "
            "empty (or an only_cells filter matched nothing)"
        )
    # Cell-ascending shard order makes the concatenated tri_id column
    # ALREADY sorted (tri_id = cell*(1<<24) + arange), which deletes
    # the 3M-row triangle argsort + inverse-permutation gathers, and
    # makes the concatenated covering pairs pre-sorted by global tri
    # row — so the (icell, tri) order the probe needs is ONE stable
    # radix pass on the short icell key instead of an introsort on a
    # 64-bit composite. Bit-identical pack (r6; shards carry their
    # cell since the same round).
    shards.sort(key=lambda s: s["cell"])

    def cat(name, dtype):
        return np.concatenate([s[name] for s in shards]).astype(dtype, copy=False)

    pack = {"nf": nf}

    # The covering-pair pipeline (concat + radix argsort + gather +
    # bincount, ~2/3 of the merge's memory traffic) shares no data
    # with the point/vertex pipeline, and numpy's sorts/gathers
    # release the GIL — run it on a thread so the driver's serial
    # merge wall is max(pipelines), not their sum (the merge is the
    # build's one remaining parallelism-independent term).
    def _pairs():
        # pairs reference blob-local triangle rows; lift to global rows
        # (int32: triangle counts are < 2^31 by the pack's own tri_id
        # layout, and halving the bandwidth matters at 10^7 pairs)
        bases = np.cumsum([0] + [len(s["tri_id"]) for s in shards[:-1]],
                          dtype=np.int64)
        pair_tri = np.concatenate(
            [s["pair_tri"].astype(np.int32) + np.int32(b)
             for s, b in zip(shards, bases)]
        )
        pair_icell = cat("pair_icell", np.int64)
        # icell-major, tri-row-minor: the probe's reversed scan then
        # picks the LOWEST tri row (= min tri_id) per doc, same as the
        # old pack. pair_tri is globally ascending (cell-sorted shards,
        # in-shard covering order), so a STABLE sort on icell alone
        # preserves the tri-minor order — numpy's stable int sort is a
        # radix sort.
        porder = np.argsort(pair_icell, kind="stable")
        counts = np.bincount(pair_icell, minlength=nf * nf)
        offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
        return offsets, pair_tri[porder]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        pairs_fut = pool.submit(_pairs)

        pid = cat("pid", np.int64)
        order = np.argsort(pid, kind="stable")  # radix for ints
        pid_sorted = pid[order]
        pack["px"] = cat("px", np.float64)[order]
        pack["py"] = cat("py", np.float64)[order]
        pack["pz"] = cat("pz", np.float64)[order]
        for t in TPU_COLS:
            pack[f"p_{t}"] = cat(f"p_{t}", np.float64)[order]

        tri_id = cat("tri_id", np.int64)
        n_tri = len(tri_id)
        assert n_tri < 2 or (np.diff(tri_id) > 0).all(), (
            "tri_id not globally ascending after cell-sorted shard concat")
        # pid -> sorted-row lookup: dense inverse table when ids are
        # compact (O(1) gathers), searchsorted fallback for sparse ids
        lo = int(pid_sorted[0]) if len(pid_sorted) else 0
        hi = int(pid_sorted[-1]) if len(pid_sorted) else 0
        dense = len(pid_sorted) > 0 and (hi - lo + 1) <= 4 * len(pid_sorted)
        if dense:
            # int32 table: the gather then lands in tv's dtype directly
            # (no 3 int64->int32 astype passes over 3n rows)
            inv_pid = np.empty(hi - lo + 1, dtype=np.int32)
            inv_pid[pid_sorted - lo] = np.arange(len(pid_sorted),
                                                 dtype=np.int32)
        tv = np.empty((n_tri, 3), dtype=np.int32)
        for k in range(3):
            vk = cat(f"v{k + 1}", np.int64)
            if dense:
                tv[:, k] = inv_pid[vk - lo]
            else:
                tv[:, k] = np.searchsorted(pid_sorted, vk).astype(np.int32)
        pack["tv"] = tv
        for k in range(3):
            # direct per-column gathers: an (m,3) temp + slice copies
            # doubled the traffic on this 3-6M-triangle phase
            pack[f"x{k + 1}"] = pack["px"][tv[:, k]]
            pack[f"y{k + 1}"] = pack["py"][tv[:, k]]

        pack["offsets"], pack["cell_tri"] = pairs_fut.result()
    return pack


# Per-process cache of opened pack views, handle dir -> (local dir,
# views). Worker processes are reused across tasks; the mmap views live
# as long as the entry stays cached.
_PACK_CACHE: dict = {}


class PackFileHandle:
    """Broadcast-compatible handle (.value / .destroy / .unpersist) for
    a merged TIN pack, backed by one .npy file per array + mmap.

    Why not sc.broadcast(pack): the pickled broadcast cost 2.5-4 s of
    serial driver time at a 336 MB pack (1.6M points), and every
    reused worker process then held its OWN unpickled copy — 32
    workers x 336 MB = 10.7 GB of duplicated, cache-hostile heap. The
    file handle writes the arrays once (page cache), ships only the
    directory path + tiny metadata in the task closure, and every
    worker maps the SAME physical pages read-only (np.load
    mmap_mode='r'). On a real cluster the constructor registers the
    directory with sc.addFile(recursive=True) so executors fetch it
    once per node — the same per-node distribution a TorrentBroadcast
    gives, minus the per-process deserialization.
    """

    def __init__(self, spark: SparkSession, pack: dict):
        import atexit
        import os
        import shutil
        import tempfile

        self._dir = tempfile.mkdtemp(prefix="gpiv_pack_")
        # callers that drop the handle without destroy() (bench children
        # loop builds) must not leak ~100-340 MB dirs per build — clean
        # at driver-interpreter exit; workers only ever read.
        atexit.register(shutil.rmtree, self._dir, ignore_errors=True)
        meta = {}
        arrays = []
        for k, v in pack.items():
            if isinstance(v, np.ndarray):
                np.save(os.path.join(self._dir, f"{k}.npy"), v)
                arrays.append(k)
            else:
                meta[k] = v
        self._meta = meta
        self._arrays = arrays
        if not spark.sparkContext.master.startswith("local"):
            spark.sparkContext.addFile(self._dir, recursive=True)

    @property
    def value(self) -> dict:
        import os

        hit = _PACK_CACHE.get(self._dir)
        if hit is not None:
            return hit[1]
        # drop views of destroyed packs first: destroy() runs in the Spark
        # driver only, and a reused worker would otherwise pin every
        # deleted pack's mmaps for the rest of its life
        for k in [k for k, (b, _) in _PACK_CACHE.items()
                  if not os.path.isdir(b)]:
            del _PACK_CACHE[k]
        base = self._dir
        if not os.path.isdir(base):  # executor without shared fs
            from pyspark import SparkFiles

            base = SparkFiles.get(os.path.basename(self._dir))
        d = dict(self._meta)
        for k in self._arrays:
            d[k] = np.load(os.path.join(base, f"{k}.npy"), mmap_mode="r")
        _PACK_CACHE[self._dir] = (base, d)
        return d

    def destroy(self, blocking: bool = False) -> None:
        import shutil

        _PACK_CACHE.pop(self._dir, None)
        shutil.rmtree(self._dir, ignore_errors=True)

    def unpersist(self, blocking: bool = False) -> None:
        _PACK_CACHE.pop(self._dir, None)


def certify_pack_blobs(spark: SparkSession, points: DataFrame,
                       cell_res: int = 4, index_res: int = 9,
                       halo_m: float | None = None,
                       id_col: str = "point_id") -> dict[int, bytes]:
    """The certify ladder: {cell: blob payload} for every populated cell,
    every owned triangle carrying the halo-sufficiency certificate.

    Cells with uncertified owned triangles (in practice a handful of
    hull-edge cells whose sliver circumcircles run along the data
    boundary) are rebuilt with wider halos — only their fan-in rows
    reshuffle — until every owned triangle certifies. This is what
    makes a density-adaptive halo safe: the fixed-metre default is
    wasteful on dense clouds and silently insufficient on sparse ones.
    The certificate guarantees every EMITTED triangle is globally
    Delaunay (soundness); completeness of the thin band between the
    local and global convex hulls is not claimed (F4 hull-membership
    probes there return NULL either way). Raises ValueError when a
    point lies outside the nominal extent (the certificate's bbox
    clamp would be unsound).
    """
    csize = _EXT / (1 << cell_res)
    # extent-boundary cells get 4x the halo up front: hull slivers
    # along the data edge are where the certificate fails in practice,
    # and paying their wider fan-in immediately beats a whole extra
    # retry job (capped at csize — the 8-ring's reach).
    base_halo = csize if halo_m is None else halo_m
    blobs = build_pack_blobs(spark, points, cell_res, index_res, halo_m,
                             id_col,
                             edge_halo_m=min(4.0 * base_halo, csize))
    arr = blobs.toArrow()

    strays = int(sum(arr.column("n_outside").to_pylist()))
    if strays:
        raise ValueError(
            f"{strays} points lie outside the nominal extent: the "
            "certificate's bbox clamp is unsound for this cloud — "
            "re-extent the data or pass halo_m=None")
    payload_by_cell = dict(zip(arr.column("cell").to_pylist(),
                               arr.column("payload").to_pylist()))
    failed = [c for c, u in zip(arr.column("cell").to_pylist(),
                                arr.column("n_uncert").to_pylist()) if u]
    halo_need = max(arr.column("halo_need").to_pylist(), default=0.0)
    # Repair ladder (round 6 shape): (1) cheap in-ring halo doublings
    # via only_cells, exactly as before; (2) if failures remain and are
    # WIDESPREAD (a large share of populated cells), the grid itself is
    # too fine for the cloud's density — coarsen globally, the round-5
    # behavior, which also keeps the hull-band completeness of a
    # coarser rebuild; (3) if only a FEW stubborn cells remain (dense
    # clouds: hull slivers along the extent edge), rebuild just those
    # cells with halos beyond the 8-ring's reach
    # (build_pack_blobs_at_cells) instead of re-running the whole
    # build one resolution coarser — the old coarsen path measured
    # ~12 s of the 23 s 8-core/400k-point bench build for ONE stubborn
    # cell. At halo >= n*csize a retried kernel sees the entire cloud
    # and the certificate's cell+halo region contains the whole data
    # bbox, so the targeted loop provably terminates.
    halo_r = min(4.0 * base_halo, csize)
    few = max(2, 0.05 * len(payload_by_cell))
    if len(failed) > few:
        # widespread failures: walk the cheap in-ring ladder first (it
        # fixes interior cells whose adaptive halo was merely a bit
        # small), then coarsen if most cells still fail — the grid
        # itself is too fine for this cloud's density
        while failed and halo_r < csize:
            halo_r = min(2.0 * halo_r, csize)
            retry = build_pack_blobs(spark, points, cell_res, index_res,
                                     halo_r, id_col, only_cells=failed,
                                     edge_halo_m=halo_r).toArrow()
            payload_by_cell.update(zip(retry.column("cell").to_pylist(),
                                       retry.column("payload").to_pylist()))
            failed = [c for c, u in zip(retry.column("cell").to_pylist(),
                                        retry.column("n_uncert").to_pylist())
                      if u]
            # the wide-reach step below starts from the need the LAST
            # retry reported, not the first pass's stale one
            halo_need = max(retry.column("halo_need").to_pylist(),
                            default=0.0)
        if failed and cell_res > 0 and len(failed) > few:
            return certify_pack_blobs(spark, points, cell_res - 1,
                                      index_res, halo_m, id_col)
    max_halo = (1 << cell_res) * csize
    while failed:
        # one wide-reach rebuild of just the stubborn cells, at the
        # halo the certificate REPORTED it needs (+2% slack) — the old
        # in-ring-then-blind-doubling chain spent two sequential Spark
        # jobs (~3 s of the 6 s 8-core/400k bench build) fixing 2
        # cells. A wider build can surface new slivers with their own
        # reported need; doubling is the progress guarantee when the
        # report alone does not grow.
        halo_r = min(max(1.02 * halo_need, 2.0 * halo_r), max_halo)
        retry = build_pack_blobs_at_cells(
            spark, points, failed, cell_res, index_res, halo_r,
            id_col).toArrow()
        payload_by_cell.update(zip(retry.column("cell").to_pylist(),
                                   retry.column("payload").to_pylist()))
        failed = [c for c, u in zip(retry.column("cell").to_pylist(),
                                    retry.column("n_uncert").to_pylist())
                  if u]
        halo_need = max(retry.column("halo_need").to_pylist(),
                        default=0.0)
        if failed and halo_r >= max_halo:
            raise ValueError(
                f"halo certificate still failing for cells {failed[:8]} "
                f"at a whole-extent halo ({halo_r:.1f} m) — unreachable "
                "unless the certificate itself is broken")
    return payload_by_cell


def build_broadcast_pack(spark: SparkSession, points: DataFrame,
                         cell_res: int = 4, index_res: int = 9,
                         halo_m: float | None = None,
                         id_col: str = "point_id", certify: bool = True):
    """points -> certified per-cell shards (certify_pack_blobs) ->
    merged pack (merge_pack_blobs) -> PackFileHandle.

    Every pack is certified; ``certify`` stays only so that callers
    passing ``certify=True`` keep working, and any other value raises.
    """
    if certify is not True:
        raise ValueError("build_broadcast_pack: every pack is certified "
                         f"(certify={certify!r} is not supported)")
    blobs = certify_pack_blobs(spark, points, cell_res, index_res, halo_m,
                               id_col)
    pack = merge_pack_blobs([{"payload": b} for b in blobs.values()],
                            index_res)
    return PackFileHandle(spark, pack)


def index_triangles(triangles: DataFrame, index_res: int) -> DataFrame:
    """Explode each triangle to the fine Z-order cells its bbox covers.

    Pure JVM (explode(sequence(...)) twice) — the Raptor-style equi-join
    index for the shuffle path. The pack carries the same mapping as
    its CSR index (cell_tri), built per cell by the blob kernel.
    """
    nf = 1 << index_res
    fs = _EXT / nf

    def lo(c, o):
        return (f"greatest(0, least({nf - 1}, "
                f"CAST(floor((least(x1,x2,x3) - {o!r}) / {fs!r}) AS BIGINT)))"
                .replace("x1,x2,x3", c))

    def hi(c, o):
        return (f"greatest(0, least({nf - 1}, "
                f"CAST(floor((greatest(x1,x2,x3) - {o!r}) / {fs!r}) AS BIGINT)))"
                .replace("x1,x2,x3", c))

    return (
        triangles
        .withColumn("_iy", F.expr(
            f"explode(sequence({lo('y1,y2,y3', _Y0)}, {hi('y1,y2,y3', _Y0)}))"))
        .withColumn("_ix", F.expr(
            f"explode(sequence({lo('x1,x2,x3', _X0)}, {hi('x1,x2,x3', _X0)}))"))
        .withColumn("icell", F.col("_iy") * nf + F.col("_ix"))
        .drop("_ix", "_iy")
    )


def propagate_at(docs_geo: DataFrame, triangles: DataFrame, index_res: int = 7,
                 centroid: tuple[float, float, float] = (0.0, 0.0, 0.0),
                 ) -> DataFrame:
    """Per-doc TIN interpolation + E3 variance — pure Catalyst exprs.

    docs_geo needs (doc_id, x, y). Returns doc_id, zp, var_zp (docs whose
    location is outside every owned triangle are dropped — hull edge).

    Physical shape (semi-join reduction): the high-fanout containment
    probe (docs x candidate triangles, ~10-30 candidates/doc) runs on a
    NARROW index projection (icell, tri_id, 3 vertex xy pairs); only
    each doc's single winning tri_id survives to the second, 1:1 join
    that gathers the full 27-column triangle payload for the E3 math.
    A wide-row fanout join was memory-traffic-bound and anti-scaled
    with executor threads; the narrow probe is ~5x less traffic.
    """
    from gpiv_spark.operators import tin_math

    nf = 1 << index_res
    d = docs_geo.withColumn(
        "icell",
        F.expr(
            f"greatest(0, least({nf - 1}, CAST(floor((y - {_Y0!r}) / {_EXT!r} * {nf}) AS BIGINT)))"
        ) * nf
        + F.expr(
            f"greatest(0, least({nf - 1}, CAST(floor((x - {_X0!r}) / {_EXT!r} * {nf}) AS BIGINT)))"
        ),
    )
    narrow = index_triangles(
        triangles.select("tri_id", "x1", "y1", "x2", "y2", "x3", "y3"),
        index_res,
    )
    j = d.join(narrow, "icell")

    # barycentric containment (boundary-inclusive, CCW triangles) —
    # the ONE edge-sign template (pip.edge_sign), not a byte-for-byte
    # copy that could drift from it
    from gpiv_spark.operators.pip import edge_sign as _sign

    s1 = _sign("x", "y", "x1", "y1", "x2", "y2")
    s2 = _sign("x", "y", "x2", "y2", "x3", "y3")
    s3 = _sign("x", "y", "x3", "y3", "x1", "y1")
    inside = (
        f"(({s1} >= 0 AND {s2} >= 0 AND {s3} >= 0) OR "
        f"({s1} <= 0 AND {s2} <= 0 AND {s3} <= 0))"
    )
    # a doc on a shared edge matches 2 triangles: deterministic pick
    hits = (
        j.filter(F.expr(inside))
        .groupBy("doc_id")
        .agg(
            F.min("tri_id").alias("tri_id"),
            F.first("x").alias("x"),
            F.first("y").alias("y"),
        )
    )

    j = hits.join(triangles, "tri_id")

    cx, cy, cz = centroid
    v = {}
    for k in (1, 2, 3):
        v[f"x{k}"] = f"(x{k} - {cx!r})"
        v[f"y{k}"] = f"(y{k} - {cy!r})"
        v[f"z{k}"] = f"(z{k} - {cz!r})"
    co = tin_math.tin_coeffs_exprs(v)
    xp, yp = f"(x - {cx!r})", f"(y - {cy!r})"
    zp = tin_math.tin_interp_expr(co["A"], co["B"], co["C"], co["D"], xp, yp,
                                  repr(cz))
    pd9 = tin_math.tin_partials_exprs(v, xp, yp, co["A"], co["B"], co["C"],
                                      co["D"])
    tpus = [
        {t: f"{t}_{k}" for t in TPU_COLS}
        for k in (1, 2, 3)
    ]
    var = tin_math.tin_propagate_expr(pd9, tpus)
    return j.select(
        "doc_id",
        F.expr(zp).alias("zp"),
        F.expr(var).alias("var_zp"),
    )


# Cache-blocking for the probe kernel: at Arrow's 65536-row batches
# every intermediate array (~3.4 candidates/point x 8 B x dozens of
# temporaries in the geometry/Jacobian chain) is ~1.8 MB — past L2, so
# each numpy op round-trips DRAM, and 32 concurrent workers saturate
# memory bandwidth. Measured on this box (pinned multiprocessing,
# 2 waves/level, best-of-2): 8->32 weak-scaling efficiency 0.67 at
# 65536-row chunks vs 0.78-0.82 at 2-8k chunks, with 32-way absolute
# throughput +25%; single-threaded the 4k chunk is also ~24% faster.
# Results are bit-identical (per-point math, chunking only).
PROBE_CHUNK = 4096


_PROBE_ARGTYPES = None


def _probe_c(idx: dict, x: np.ndarray, y: np.ndarray, centroid: tuple):
    """C probe (functions/_probe_core.c): exact expression-order port —
    bit-identical to _probe_batch_core, pinned by tests/test_probe_c.py.
    Returns None when the core is unavailable."""
    import ctypes
    from pathlib import Path

    from gpiv_spark.functions import _delaunay_cc

    lib = _delaunay_cc.load_lib(
        Path(_delaunay_cc.__file__).resolve().parent / "_probe_core.c")
    if lib is None:
        return None
    global _PROBE_ARGTYPES
    fn = lib.gpiv_probe_batch
    if _PROBE_ARGTYPES is None:
        V, D, I = ctypes.c_void_p, ctypes.c_double, ctypes.c_int64
        fn.restype = None
        fn.argtypes = ([V, V, I, D, D, D, I] + [V] * 16
                       + [D, D, D] + [V] * 3)
        _PROBE_ARGTYPES = fn.argtypes
    n = len(x)
    zp = np.empty(n)
    var = np.empty(n)
    found = np.empty(n, dtype=np.uint8)

    def p(a):
        return a.ctypes.data_as(ctypes.c_void_p)

    x = np.ascontiguousarray(x, dtype=np.float64)
    y = np.ascontiguousarray(y, dtype=np.float64)
    cx, cy, cz = centroid
    fn(p(x), p(y), ctypes.c_int64(n),
       ctypes.c_double(_X0), ctypes.c_double(_Y0), ctypes.c_double(_EXT),
       ctypes.c_int64(idx["nf"]),
       p(idx["offsets"]), p(idx["cell_tri"]), p(idx["tv"]),
       p(idx["x1"]), p(idx["y1"]), p(idx["x2"]), p(idx["y2"]),
       p(idx["x3"]), p(idx["y3"]), p(idx["pz"]),
       p(idx["p_var_x"]), p(idx["p_var_y"]), p(idx["p_var_z"]),
       p(idx["p_cov_xy"]), p(idx["p_cov_xz"]), p(idx["p_cov_yz"]),
       ctypes.c_double(cx), ctypes.c_double(cy), ctypes.c_double(cz),
       p(zp), p(var), p(found))
    return zp, var, found.astype(bool)


def _probe_batch(idx: dict, x: np.ndarray, y: np.ndarray,
                 centroid: tuple) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cache-blocked driver over _probe_batch_core (see PROBE_CHUNK)."""
    res = _probe_c(idx, x, y, centroid)
    if res is not None:
        return res
    n = len(x)
    if n <= PROBE_CHUNK:
        return _probe_batch_core(idx, x, y, centroid)
    zp = np.empty(n)
    var = np.empty(n)
    found = np.empty(n, dtype=bool)
    for s in range(0, n, PROBE_CHUNK):
        e = s + PROBE_CHUNK
        z, v, f = _probe_batch_core(idx, x[s:e], y[s:e], centroid)
        zp[s:e] = z
        var[s:e] = v
        found[s:e] = f
    return zp, var, found


def _probe_batch_core(idx: dict, x: np.ndarray, y: np.ndarray,
                      centroid: tuple
                      ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized containment + P2/P3/P5/E3 for one batch of points."""
    nf = idx["nf"]
    fsize = _EXT / nf
    ix = np.clip(((x - _X0) / fsize).astype(np.int64), 0, nf - 1)
    iy = np.clip(((y - _Y0) / fsize).astype(np.int64), 0, nf - 1)
    cell = iy * nf + ix
    off = idx["offsets"]
    lo = off[cell]
    hi = off[cell + 1]
    ncand = hi - lo
    doc_idx = np.repeat(np.arange(len(x)), ncand)
    # candidate slots: ranges [lo_i, hi_i) concatenated, vectorized
    total = int(ncand.sum())
    if total == 0:
        return (np.full(len(x), np.nan), np.full(len(x), np.nan),
                np.zeros(len(x), bool))
    starts = np.repeat(lo, ncand)
    within = np.arange(total) - np.repeat(
        np.concatenate([[0], np.cumsum(ncand)[:-1]]), ncand
    )
    tri_idx = idx["cell_tri"][starts + within]
    if len(tri_idx) == 0:
        return (np.full(len(x), np.nan), np.full(len(x), np.nan),
                np.zeros(len(x), bool))
    px = x[doc_idx]
    py = y[doc_idx]
    x1, y1 = idx["x1"][tri_idx], idx["y1"][tri_idx]
    x2, y2 = idx["x2"][tri_idx], idx["y2"][tri_idx]
    x3, y3 = idx["x3"][tri_idx], idx["y3"][tri_idx]
    d1 = (px - x2) * (y1 - y2) - (x1 - x2) * (py - y2)
    d2 = (px - x3) * (y2 - y3) - (x2 - x3) * (py - y3)
    d3 = (px - x1) * (y3 - y1) - (x3 - x1) * (py - y1)
    inside = ((d1 >= 0) & (d2 >= 0) & (d3 >= 0)) | (
        (d1 <= 0) & (d2 <= 0) & (d3 <= 0)
    )
    # first (lowest tri row id == min tri_id order) hit per doc
    sel = np.full(len(x), -1, dtype=np.int64)
    hit_docs = doc_idx[inside][::-1]
    hit_tris = tri_idx[inside][::-1]
    sel[hit_docs] = hit_tris  # reversed: earliest candidate wins
    found = sel >= 0
    s = sel[found]
    cx, cy, cz = centroid
    v = {}
    # one (m,3) vertex-id gather, shared with the E3 loop below (it was
    # re-gathered 3x per chunk — wasted DRAM traffic in the kernel the
    # PROBE_CHUNK cache blocking exists to keep bandwidth-lean)
    tvs = idx["tv"][s]
    for k in (1, 2, 3):
        v[f"x{k}"] = idx[f"x{k}"][s] - cx
        v[f"y{k}"] = idx[f"y{k}"][s] - cy
        v[f"z{k}"] = idx["pz"][tvs[:, k - 1]] - cz
    xp = x[found] - cx
    yp = y[found] - cy
    x1, y1, z1 = v["x1"], v["y1"], v["z1"]
    x2, y2, z2 = v["x2"], v["y2"], v["z2"]
    x3, y3, z3 = v["x3"], v["y3"], v["z3"]
    A = y1 * z3 - y1 * z2 + y2 * z1 - y2 * z3 + y3 * z2 - y3 * z1
    B = x1 * z2 - x1 * z3 + x2 * z3 - x2 * z1 + x3 * z1 - x3 * z2
    C = x1 * y2 - x1 * y3 + x2 * y3 - x2 * y1 + x3 * y1 - x3 * y2
    D = (x1 * y2 * z3 - x1 * y3 * z2 + x2 * y3 * z1 - x2 * y1 * z3
         + x3 * y1 * z2 - x3 * y2 * z1)
    zp = np.full(len(x), np.nan)
    var = np.full(len(x), np.nan)
    zp[found] = (A / C) * xp + (B / C) * yp + D / C + cz
    C2 = C * C
    E = xp * A + yp * B + D
    dmat = np.empty((9, found.sum()))
    dmat[0] = ((y3 - y2) * E + ((z2 - z3) * yp + (y2 * z3 - y3 * z2)) * C) / C2
    dmat[3] = ((y1 - y3) * E + ((z3 - z1) * yp + (y3 * z1 - y1 * z3)) * C) / C2
    dmat[6] = ((y2 - y1) * E + ((z1 - z2) * yp + (y1 * z2 - y2 * z1)) * C) / C2
    dmat[1] = ((x2 - x3) * E + ((z3 - z2) * xp + (x3 * z2 - x2 * z3)) * C) / C2
    dmat[4] = ((x3 - x1) * E + ((z1 - z3) * xp + (x1 * z3 - x3 * z1)) * C) / C2
    dmat[7] = ((x1 - x2) * E + ((z2 - z1) * xp + (x2 * z1 - x1 * z2)) * C) / C2
    dmat[2] = ((y2 - y3) * xp + (x3 - x2) * yp + (x2 * y3 - x3 * y2)) / C
    dmat[5] = ((y3 - y1) * xp + (x1 - x3) * yp + (x3 * y1 - x1 * y3)) / C
    dmat[8] = ((y1 - y2) * xp + (x2 - x1) * yp + (x1 * y2 - x2 * y1)) / C
    acc = np.zeros(found.sum())
    for k in range(3):
        dx, dy, dz = dmat[3 * k], dmat[3 * k + 1], dmat[3 * k + 2]
        tp = {t: idx[f"p_{t}"][tvs[:, k]] for t in TPU_COLS}
        acc += (dx * dx * tp["var_x"]
                + dy * dy * tp["var_y"]
                + dz * dz * tp["var_z"]
                + 2 * dx * dy * tp["cov_xy"]
                + 2 * dx * dz * tp["cov_xz"]
                + 2 * dy * dz * tp["cov_yz"])
    var[found] = acc
    return zp, var, found


def probe_docs(docs_geo: DataFrame, bc,
               centroid: tuple[float, float, float]) -> DataFrame:
    """mapInPandas containment+E3 probe of (doc_id, x, y) rows against
    a pack handle (build_broadcast_pack's PackFileHandle)."""
    cen = tuple(centroid)

    def probe(batches):
        idx = bc.value
        for pdf in batches:
            x = pdf["x"].to_numpy(np.float64)
            y = pdf["y"].to_numpy(np.float64)
            zp, var, found = _probe_batch(idx, x, y, cen)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[found],
                    "zp": zp[found],
                    "var_zp": var[found],
                }
            )
            yield out

    return docs_geo.mapInPandas(probe, "doc_id long, zp double, var_zp double")


# rough bytes/point of the merged pack: 10 point doubles +
# ~2 triangles/point x (12B tv + 32B dense xy) + ~3.4 covering pairs/tri
# x 4B cell_tri + offsets; measured 90 MB at 400k points => ~225 B/pt.
PACK_BYTES_PER_POINT = 240


def propagate_auto(spark: SparkSession, docs_geo: DataFrame,
                   points: DataFrame, cell_res: int = 4, index_res: int = 9,
                   halo_m: float | None = None, id_col: str = "point_id",
                   centroid: tuple[float, float, float] = (0.0, 0.0, 0.0),
                   broadcast_budget_bytes: int = 1 << 30,
                   ) -> tuple[DataFrame, str]:
    """Size-based probe-plan switch over ONE certified pack (VERDICT r1
    'What's wrong' #1).

    Both branches build the same certified pack, merged on the Spark
    driver. Small TIN (est. pack <= budget): workers mmap the pack and
    probe docs in mapInPandas, no shuffle. Large TIN: the pack's triangles
    become a distributed table (build_triangles) that docs equi-join
    on the fine cell (propagate_at). Both return the same rows, bit
    for bit.

    Returns (result_df, 'broadcast'|'shuffle').
    """
    n_pts = points.count()
    if n_pts * PACK_BYTES_PER_POINT <= broadcast_budget_bytes:
        bc = build_broadcast_pack(spark, points, cell_res, index_res,
                                  halo_m, id_col)
        return probe_docs(docs_geo, bc, centroid), "broadcast"
    tris = build_triangles(spark, points, cell_res, halo_m, id_col)
    return propagate_at(docs_geo, tris, index_res, centroid), "shuffle"
