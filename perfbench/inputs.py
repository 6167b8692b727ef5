"""Benchmark inputs and plans, kept in the benchmark's own files.

The generators and the doc-stream plan are copies of the shapes the
repository's harness uses (point cloud from the quadratic-scramble
geocode, documents from the linear geocode, geocode -> Z-order cell ->
GPIV tile -> broadcast PIP join -> probe). They live here so that
later changes to the repository's own bench scripts cannot change
what this benchmark measures.

The workload seed picks the doc_id range and the point-id range fed to
the deterministic geocode: the same seed gives the same inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# The 13-query sf0.1 subset; names in queries.RETIRED are resolved
# through it (pip_cells, minhash_sig and ngram_jaccard are retired twins).
QUERY_NAMES = [
    "cells_zorder", "tile_assign", "pip_triangles", "pip_cells",
    "knn_anchors", "minhash_sig", "simhash", "ngram_jaccard",
    "embed_topk", "cosine_neardup_lsh", "piv_kernel", "piv_covariance",
    "tin_plane_kernel",
]
# The e2e query_suite job times the queries over the sf0.1 tables. The
# three kernel queries generate their own inputs and cost as much as
# the other ten together; the traced run times them, and the reference
# PIV job in the e2e job runs the same PIV kernels.
KERNEL_QUERIES = ("piv_kernel", "piv_covariance", "tin_plane_kernel")
TABLE_QUERIES = [q for q in QUERY_NAMES if q not in KERNEL_QUERIES]

# Task count of the doc stream: fixed, so task granularity is the same
# at every core level.
STREAM_TASKS = 32
CELL_RES = 4
INDEX_RES = 9
# Spacing of the seed-selected ranges. Both geocodes are periodic in
# the id modulo ~1e6, so distinct seeds land on distinct residues.
_DOC_STRIDE = 7_919_993
_PID_STRIDE = 104_729


def doc_offset(seed: int) -> int:
    return int(seed) * _DOC_STRIDE


def pid_offset(seed: int) -> int:
    return int(seed) * _PID_STRIDE


def centroid() -> tuple[float, float, float]:
    from gpiv_spark.functions import geocode

    return (geocode.X0 + 239.0, geocode.Y0 + 239.0, 7.0)


def halo_for(n_points: int) -> float:
    """Density-adaptive halo: ~6 mean point spacings, 1 m floor."""
    from gpiv_spark.functions import geocode

    return min(6.0, max(1.0, 6.0 * geocode.EXTENT / max(1.0, float(n_points)) ** 0.5))


def z_surface(x, y):
    """Smooth z of the synthetic cloud; works on NumPy arrays and on
    SQL expression strings alike."""
    from gpiv_spark.functions import geocode

    if isinstance(x, str):
        dx, dy = f"({x} - {geocode.X0!r})", f"({y} - {geocode.Y0!r})"
        return f"5.0 + 0.01 * {dx} + 0.004 * {dy} + 0.00005 * ({dx} * {dy})"
    dx, dy = x - geocode.X0, y - geocode.Y0
    return 5.0 + 0.01 * dx + 0.004 * dy + 0.00005 * (dx * dy)


def points_df(spark, n_points: int, seed: int):
    """Point cloud (pid, x, y, z, 6 TPU columns) for the seed's pid range."""
    from pyspark.sql import functions as F

    from gpiv_spark.dialect import SPARK as d
    from gpiv_spark.functions import geocode

    p0 = pid_offset(seed)
    pts = spark.range(p0, p0 + n_points).select(F.col("id").alias("pid"))
    px = geocode.xq_expr(d, "pid")
    py = geocode.yq_expr(d, "pid")
    return pts.select(
        F.col("pid"),
        F.expr(px).alias("x"),
        F.expr(py).alias("y"),
        F.expr(z_surface(px, py)).alias("z"),
        F.expr("(1 + pid % 7) * 0.0001").alias("var_x"),
        F.expr("(1 + pid % 5) * 0.0001").alias("var_y"),
        F.expr("(1 + pid % 3) * 0.0001").alias("var_z"),
        F.lit(0.0).alias("cov_xy"),
        F.lit(0.0).alias("cov_xz"),
        F.lit(0.0).alias("cov_yz"),
    )


def points_numpy(n_points: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    from gpiv_spark.functions import geocode

    p0 = pid_offset(seed)
    return geocode.numpy_geocode_q(np.arange(p0, p0 + n_points, dtype=np.int64))


def docs_numpy(doc_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    from gpiv_spark.functions import geocode

    return geocode.numpy_geocode(np.asarray(doc_ids, dtype=np.int64))


def geo_docs(docs):
    """docs(doc_id long) -> geocode, Z-order cell, pixel, GPIV tile."""
    from pyspark.sql import functions as F

    from gpiv_spark.dialect import SPARK as d
    from gpiv_spark.functions import cells, geocode
    from gpiv_spark.operators import tiling

    x = geocode.x_expr(d, "doc_id")
    y = geocode.y_expr(d, "doc_id")
    geo = docs.select(
        "*",
        F.expr(x).alias("x"),
        F.expr(y).alias("y"),
        F.expr(cells.zcell_expr(d, x, y, 6)).alias("cell_id"),
        F.expr(geocode.px_row_expr(d, y)).alias("px_row"),
        F.expr(geocode.px_col_expr(d, x)).alias("px_col"),
    )
    return tiling.assign_tiles(geo, tiling.PivConfig())


def pip_join(spark, geo, keep: list[str]):
    """Broadcast PIP left join of geocoded rows against the ROI triangles."""
    from pyspark.sql import functions as F

    from gpiv_spark.operators import pip as pip_op

    roi = spark.createDataFrame(
        pip_op.roi_triangles(),
        "roi_id int, x1 double, y1 double, x2 double, y2 double, "
        "x3 double, y3 double",
    ).alias("r")
    pred = pip_op.inside_triangle_pred(
        "g.x", "g.y", {k: f"r.{k}" for k in ("x1", "y1", "x2", "y2", "x3", "y3")}
    )
    return geo.alias("g").join(F.broadcast(roi), F.expr(pred), "left").select(
        *[f"g.{c}" for c in keep], "r.roi_id"
    )


def doc_range(spark, seed: int, n_docs: int):
    from pyspark.sql import functions as F

    d0 = doc_offset(seed)
    return spark.range(d0, d0 + n_docs, 1, STREAM_TASKS).select(
        F.col("id").alias("doc_id"))


STREAM_SCHEMA = "doc_id long, tile_r long, roi_id double, zp double, var_zp double"


def stream_joined(spark, docs):
    """The JVM half of the doc stream: geocode, cells, tiling, PIP join."""
    return pip_join(spark, geo_docs(docs), ["doc_id", "x", "y", "tile_r"])


def probe_fn(pack, stage: str = "probe"):
    """mapInPandas body. ``stage='passthrough'`` forwards the same
    columns without probing (the Arrow channel alone)."""
    from gpiv_spark.operators.tin import _probe_batch

    cen = centroid()

    def probe(batches):
        idx = pack.value if stage == "probe" else None
        for pdf in batches:
            if idx is None:
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "tile_r": pdf["tile_r"].to_numpy(),
                    "roi_id": pdf["roi_id"].to_numpy(dtype="float64"),
                    "zp": pdf["x"].to_numpy(np.float64),
                    "var_zp": pdf["y"].to_numpy(np.float64),
                })
                continue
            xv = pdf["x"].to_numpy(np.float64)
            yv = pdf["y"].to_numpy(np.float64)
            zp, var, found = _probe_batch(idx, xv, yv, cen)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[found],
                "tile_r": pdf["tile_r"].to_numpy()[found],
                "roi_id": pdf["roi_id"].to_numpy(dtype="float64")[found],
                "zp": zp[found],
                "var_zp": var[found],
            })

    return probe


def stream_df(spark, docs, pack, stage: str = "probe"):
    """Per-doc stream output; ``stage`` in {'jvm', 'passthrough', 'probe'}."""
    joined = stream_joined(spark, docs)
    if stage == "jvm":
        return joined
    return joined.mapInPandas(probe_fn(pack, stage), STREAM_SCHEMA)


def stream_agg(spark, seed: int, n_docs: int, pack):
    """The timed stream: one aggregate row, built fresh for every run
    (re-collecting one DataFrame reuses AQE's materialised stages)."""
    from pyspark.sql import functions as F

    return stream_df(spark, doc_range(spark, seed, n_docs), pack).agg(
        F.count("*").alias("n"),
        F.avg("var_zp").alias("mean_var"),
        F.avg("zp").alias("mean_zp"),
    )


def build_pack(spark, n_points: int, seed: int):
    """The certified broadcast pack build. A certify failure raises."""
    from gpiv_spark.operators.tin import build_broadcast_pack

    return build_broadcast_pack(
        spark, points_df(spark, n_points, seed), cell_res=CELL_RES,
        index_res=INDEX_RES, halo_m=halo_for(n_points), id_col="pid",
        certify=True,
    )


def shuffle_plan(spark, seed: int, n_points: int, n_docs: int, budget: int):
    """propagate_auto with a broadcast budget below the pack estimate, so
    it takes the shuffle branch. Returns (result_df, branch)."""
    from gpiv_spark.operators.tin import propagate_auto

    geo = geo_docs(doc_range(spark, seed, n_docs)).select("doc_id", "x", "y")
    return propagate_auto(
        spark, geo, points_df(spark, n_points, seed), cell_res=CELL_RES,
        index_res=INDEX_RES, halo_m=halo_for(n_points), id_col="pid",
        centroid=centroid(), broadcast_budget_bytes=budget,
    )


def reference_piv(spark) -> int:
    """The paper's own PIV job: 478x478 rasters, template=100, step=50,
    search_scale=2, covariance propagation and the bias two-pass.
    Returns the number of cells (25)."""
    from gpiv_spark.operators.piv import (
        add_bias_variance,
        bias_variance_fused,
        run_piv_arrays,
    )
    from gpiv_spark.operators.tiling import PivConfig
    from gpiv_spark.sources.raster import translated_pair

    before, after = translated_pair(478, (3, -2), seed=42)
    rng = np.random.default_rng(3)
    unc = np.abs(rng.normal(0.08, 0.01, (478, 478)))
    piv = run_piv_arrays(spark, before, after, PivConfig(), propagate=True,
                         before_unc=unc, after_unc=unc, with_bias=True)
    piv = piv.cache()
    try:
        bias = bias_variance_fused(piv)
        return add_bias_variance(
            piv.drop("bias_dx", "bias_dy").filter("NOT isnan(dx_px)"), bias
        ).count()
    finally:
        piv.unpersist()
