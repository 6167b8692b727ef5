"""Output checks, computed independently of the engine where possible.

Each check returns a list of failure strings (empty = pass).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench import inputs


def convex_hull(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """CCW hull vertices, (h, 2). Akl-Toussaint prefilter, then Andrew's
    monotone chain on the survivors."""
    pts = np.column_stack([x, y])
    ext = pts[[np.argmin(x), np.argmin(y), np.argmax(x), np.argmax(y)]]
    inside = np.ones(len(pts), bool)
    for i in range(4):
        a, b = ext[i], ext[(i + 1) % 4]
        cross = (b[0] - a[0]) * (pts[:, 1] - a[1]) - (b[1] - a[1]) * (pts[:, 0] - a[0])
        inside &= cross > 0
    cand = np.unique(pts[~inside], axis=0)  # sorted by x, then y

    def half(seq):
        out: list = []
        for p in seq:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(tuple(p))
        return out

    lower = half(cand)
    upper = half(cand[::-1])
    return np.array(lower[:-1] + upper[:-1])


def hull_margin(hull: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Smallest signed distance to the edge lines of a CCW convex
    polygon: >= 0 inside (boundary-inclusive), < 0 outside."""
    out = np.full(len(x), np.inf)
    for i in range(len(hull)):
        a, b = hull[i], hull[(i + 1) % len(hull)]
        cross = (b[0] - a[0]) * (y - a[1]) - (b[1] - a[1]) * (x - a[0])
        np.minimum(out, cross / np.hypot(b[0] - a[0], b[1] - a[1]), out=out)
    return out


def hull_counts(n_points: int, seed: int, n_docs: int) -> dict:
    """Docs inside the cloud's convex hull ('max'), and that count minus
    the docs within one mean point spacing of the hull boundary ('min').

    The certified build guarantees every emitted triangle is globally
    Delaunay, not that the triangles cover the thin band between the
    local and global hulls, so a correct stream finds between 'min'
    and 'max' docs."""
    from gpiv_spark.functions import geocode

    band = geocode.EXTENT / n_points ** 0.5
    hull = convex_hull(*inputs.points_numpy(n_points, seed))
    d0 = inputs.doc_offset(seed)
    inside = near = 0
    for s in range(0, n_docs, 1 << 20):
        ids = np.arange(d0 + s, d0 + min(n_docs, s + (1 << 20)), dtype=np.int64)
        m = hull_margin(hull, *inputs.docs_numpy(ids))
        inside += int((m >= 0).sum())
        near += int(((m >= 0) & (m < band)).sum())
    return {"max": inside, "min": inside - near}


def sample_ids(seed: int, n_docs: int, k: int = 4096) -> np.ndarray:
    """A fixed, evenly spaced sample of the seed's doc_ids."""
    return inputs.doc_offset(seed) + np.linspace(0, n_docs - 1, k).astype(np.int64)


def _tile_closed_form(p: np.ndarray) -> np.ndarray:
    from gpiv_spark.operators.tiling import PivConfig

    cfg = PivConfig()
    k = np.clip((p - cfg.offset) // cfg.step, 0, cfg.count - 1)
    lo = k * cfg.step + cfg.offset
    return np.where((p >= lo) & (p < lo + cfg.template), k, -1)


def _roi_closed_form(x: np.ndarray, y: np.ndarray) -> list[list[int]]:
    """ROI ids whose triangle contains each point (same edge-sign
    arithmetic as the Spark predicate, boundary-inclusive)."""
    from gpiv_spark.operators.pip import roi_triangles

    hits: list[list[int]] = [[] for _ in range(len(x))]
    for rid, x1, y1, x2, y2, x3, y3 in roi_triangles():
        d1 = (x - x2) * (y1 - y2) - (x1 - x2) * (y - y2)
        d2 = (x - x3) * (y2 - y3) - (x2 - x3) * (y - y3)
        d3 = (x - x1) * (y3 - y1) - (x3 - x1) * (y - y1)
        for i in np.flatnonzero((d1 >= 0) & (d2 >= 0) & (d3 >= 0)):
            hits[i].append(rid)
    return hits


def check_sample(spark, seed: int, n_docs: int, pack) -> list[str]:
    """On a fixed sample of doc_ids: (zp, var_zp) equal the NumPy
    reference probe bit for bit on the same pack; tile_r and roi_id
    equal their closed forms."""
    from pyspark.sql import functions as F

    from gpiv_spark.functions import geocode
    from gpiv_spark.operators.tin import _probe_batch_core

    ids = sample_ids(seed, n_docs)
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": ids})).select(
        F.col("doc_id").cast("long"))
    got = inputs.stream_df(spark, docs, pack).toPandas()
    x, y = inputs.docs_numpy(ids)
    zp, var, found = _probe_batch_core(pack.value, x, y, inputs.centroid())
    tile = _tile_closed_form(np.floor((geocode.Y1 - y) / geocode.PIXEL).astype(np.int64))
    rois = _roi_closed_form(x, y)
    exp = []
    for i in np.flatnonzero(found):
        for rid in rois[i] or [None]:
            exp.append((int(ids[i]), int(tile[i]), rid, zp[i], var[i]))
    exp_df = pd.DataFrame(exp, columns=["doc_id", "tile_r", "roi_id", "zp", "var_zp"])
    fails = []
    key = ["doc_id", "roi_id"]
    a = got.assign(roi_id=got["roi_id"].fillna(-1)).sort_values(key).reset_index(drop=True)
    b = exp_df.assign(roi_id=exp_df["roi_id"].fillna(-1).astype(float)).sort_values(key).reset_index(drop=True)
    if len(a) != len(b) or not (a["doc_id"].to_numpy() == b["doc_id"].to_numpy()).all():
        return [f"sample: {len(a)} stream rows vs {len(b)} expected rows"]
    for col in ("tile_r", "roi_id"):
        bad = int((a[col].to_numpy() != b[col].to_numpy()).sum())
        if bad:
            fails.append(f"sample: {col} differs from its closed form on {bad} rows")
    for col in ("zp", "var_zp"):
        # bit-for-bit: compare the IEEE bit patterns
        bad = int((a[col].to_numpy(np.float64).view(np.int64)
                   != b[col].to_numpy(np.float64).view(np.int64)).sum())
        if bad:
            fails.append(f"sample: {col} differs from the NumPy reference probe on {bad} rows")
    return fails


def check_spans(spark, n_docs: int = 300) -> list[str]:
    """Span-sequence invariant: fixtures.spans_documents goes through
    the same geocode -> tile -> PIP stages and comes out unchanged."""
    from pyspark.sql import functions as F

    from gpiv_spark.fixtures import spans_documents

    src = spans_documents(spark, n_docs)
    keyed = src.withColumn("doc_key", F.expr("CAST(substr(doc_id, 5) AS BIGINT)"))
    staged = inputs.pip_join(
        spark,
        inputs.geo_docs(keyed.withColumnRenamed("doc_id", "doc_name")
                        .withColumnRenamed("doc_key", "doc_id")),
        ["doc_name", "spans"],
    )
    want = {r["doc_id"]: r["spans"] for r in src.collect()}
    got = staged.select("doc_name", "spans").collect()
    fails = []
    seen = {r["doc_name"] for r in got}
    if seen != set(want):
        fails.append(f"spans: {len(set(want) - seen)} docs lost, "
                     f"{len(seen - set(want))} docs invented")
    changed = sum(1 for r in got if r["spans"] != want.get(r["doc_name"]))
    if changed:
        fails.append(f"spans: {changed} rows changed their span sequence")
    return fails


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """tools/check_oracles.py's canonical form: sorted columns, floats
    rounded to 9 decimals, integers as int64, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64).round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_canon(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """tools/check_oracles.py's comparison rule on canonical frames."""
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return [f"{name}: columns {list(a.columns)} vs {list(b.columns)}"]
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows vs {len(b)} oracle rows"]
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                      rtol=1e-7, atol=1e-9)
    except AssertionError as e:
        return [f"{name}: " + str(e).split("\n")[0]]
    return []
