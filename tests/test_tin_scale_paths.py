"""The two doc-scale TIN plans (shuffle equi+refine join over
build_triangles, mapInPandas probe over the pack) read ONE certified
pack: they must return identical rows and interpolate planes exactly."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from gpiv_spark.dialect import SPARK as d
from gpiv_spark.functions import geocode
from gpiv_spark.operators.tin import build_triangles, propagate_at

X0, Y0 = geocode.X0, geocode.Y0
CEN = (X0 + 239.0, Y0 + 239.0, 7.0)


def _point_df(spark, n):
    pts = spark.range(n).select(F.col("id").alias("pid"))
    px = geocode.xq_expr(d, "pid")
    py = geocode.yq_expr(d, "pid")
    return pts.select(
        F.col("pid"),
        F.expr(px).alias("x"),
        F.expr(py).alias("y"),
        F.expr(f"0.01 * ({px} - {X0!r}) - 0.02 * ({py} - {Y0!r}) + 5.0").alias("z"),
        F.expr("(1 + pid % 7) * 0.0001").alias("var_x"),
        F.expr("(1 + pid % 5) * 0.0001").alias("var_y"),
        F.expr("(1 + pid % 3) * 0.0001").alias("var_z"),
        F.lit(0.0).alias("cov_xy"),
        F.lit(0.0).alias("cov_xz"),
        F.lit(0.0).alias("cov_yz"),
    )


@pytest.fixture(scope="module")
def tris(spark):
    t = build_triangles(spark, _point_df(spark, 20_000), cell_res=3,
                        halo_m=8.0).cache()
    t.count()
    yield t
    t.unpersist()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.expr(geocode.x_expr(d, "id")).alias("x"),
        F.expr(geocode.y_expr(d, "id")).alias("y"),
    )


def test_shuffle_path_plane_exact(spark, tris, docs):
    res = propagate_at(docs, tris, index_res=8, centroid=CEN).toPandas()
    assert len(res) > 4900  # nearly all docs inside the hull
    dgeo = docs.toPandas().set_index("doc_id")
    exp = 0.01 * (dgeo.loc[res["doc_id"], "x"].to_numpy() - X0) - 0.02 * (
        dgeo.loc[res["doc_id"], "y"].to_numpy() - Y0
    ) + 5.0
    np.testing.assert_allclose(res["zp"], exp, atol=1e-7)
    assert (res["var_zp"] > 0).all()


def test_run_pipeline_entry_switch(spark, monkeypatch, tmp_path, capsys):
    """The spark-submit entry ships the size-switched physical plan over
    one certified pack: broadcast branch = the certify ladder's blob
    rows (checkpointed) merged into an mmap'd pack, shuffle branch =
    the pack's triangles equi-joined; both resumable, and both return
    the same rows bit for bit."""
    import json
    import sys as _sys

    from pyspark.sql import SparkSession

    import jobs.run_pipeline as rp

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    def run(argv):
        monkeypatch.setattr(_sys, "argv", ["run_pipeline.py"] + argv)
        rp.main()
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    ck = str(tmp_path / "ckpt")
    base = ["--docs", "20000", "--points", "4000", "--checkpoint", ck]
    r1 = run(base)
    assert r1["mode"] == "bcast"
    assert r1["resumed"] == {"pack_blobs": False, "propagated": False}
    assert (tmp_path / "ckpt" / "pack_blobs" / "data").exists()
    assert r1["n_docs_out"] > 0.9 * 20000  # hull-edge docs drop (4k-pt TIN)

    r2 = run(base)  # same args -> full resume, identical output
    assert r2["resumed"] == {"pack_blobs": True, "propagated": True}
    assert r2["n_docs_out"] == r1["n_docs_out"]
    assert r2["mean_var"] == r1["mean_var"]

    def propagated():
        return (spark.read.parquet(str(tmp_path / "ckpt" / "propagated" / "data"))
                .toPandas().sort_values("doc_id").reset_index(drop=True))

    bcast = propagated()
    r3 = run(base + ["--broadcast-budget-mb", "0"])  # forced shuffle path
    assert r3["mode"] == "shuffle"
    assert r3["resumed"] == {"triangles": False, "propagated": False}
    shuf = propagated()
    np.testing.assert_array_equal(shuf["doc_id"], bcast["doc_id"])
    np.testing.assert_array_equal(shuf["zp"], bcast["zp"])
    np.testing.assert_array_equal(shuf["var_zp"], bcast["var_zp"])

    # LAS-sourced points through the same entry (S1 on the real format)
    from gpiv_spark import fixtures
    from gpiv_spark.sources import las as lasmod

    cloud = fixtures.points_cloud(n=4000, seed=5, planar=True)
    (tmp_path / "pts.las").write_bytes(
        lasmod.write_las(
            cloud["x"].to_numpy(), cloud["y"].to_numpy(),
            cloud["z"].to_numpy(),
            extra={
                eb: cloud[t].to_numpy()
                for eb, t in zip(
                    ["VarianceX", "VarianceY", "VarianceZ",
                     "CovarianceXY", "CovarianceXZ", "CovarianceYZ"],
                    ["var_x", "var_y", "var_z",
                     "cov_xy", "cov_xz", "cov_yz"],
                )
            },
        )
    )
    r4 = run(["--docs", "20000", "--checkpoint", str(tmp_path / "ck2"),
              "--las", str(tmp_path / "pts.las")])
    assert r4["mode"] == "bcast"
    assert r4["n_docs_out"] > 0.9 * 20000


def test_propagate_auto_switches_paths(spark, docs):
    """Budget above/below the estimated pack size selects broadcast vs
    shuffle; both read the same certified pack, so they return the same
    docs with exactly equal zp and var_zp."""
    from gpiv_spark.operators.tin import propagate_auto

    points = _point_df(spark, 20_000)
    a, mode_a = propagate_auto(spark, docs, points, cell_res=3, index_res=8,
                               halo_m=8.0, id_col="pid", centroid=CEN)
    assert mode_a == "broadcast"
    b, mode_b = propagate_auto(spark, docs, points, cell_res=3, index_res=8,
                               halo_m=8.0, id_col="pid", centroid=CEN,
                               broadcast_budget_bytes=1024)
    assert mode_b == "shuffle"
    pa = a.toPandas().set_index("doc_id").sort_index()
    pb = b.toPandas().set_index("doc_id").sort_index()
    assert len(pa) > 4900
    np.testing.assert_array_equal(pa.index, pb.index)
    np.testing.assert_array_equal(pa["zp"], pb["zp"])
    np.testing.assert_array_equal(pa["var_zp"], pb["var_zp"])


_EVICT_SCRIPT = """
import json, os
import pandas as pd
from pyspark.sql import functions as F
from gpiv_spark.functions import geocode
from gpiv_spark.operators import tin
from gpiv_spark.session import get_spark
from tests.test_tin_scale_paths import CEN, _point_df

spark = get_spark("evict", cpus=1, shuffle_partitions=1)
points = _point_df(spark, 2000)
docs = spark.range(0, 500, 1, 1).select(
    F.col("id").alias("doc_id"),
    (F.lit(geocode.X0) + F.col("id") * 0.9).alias("x"),
    (F.lit(geocode.Y0) + F.col("id") * 0.9).alias("y"))

def cache_size(batches):
    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "n": [len(tin._PACK_CACHE)]})

seen = []
for _ in range(5):
    h = tin.build_broadcast_pack(spark, points, cell_res=3, index_res=8,
                                 halo_m=8.0, id_col="pid")
    assert tin.probe_docs(docs, h, CEN).count() > 0
    row = spark.range(0, 1, 1, 1).mapInPandas(
        cache_size, "pid long, n long").collect()[0]
    seen.append([row["pid"], row["n"]])
    h.destroy()
spark.stop()
print(json.dumps(seen))
"""


def test_pack_cache_evicts_destroyed_packs(tmp_path):
    """A reused worker (local[1]) that probed five build/destroy rounds
    holds the views of ONE pack: entries whose directory is gone are
    dropped before the next pack is opened."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    out = subprocess.run([sys.executable, "-c", _EVICT_SCRIPT], cwd=root,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    seen = json.loads(out.stdout.strip().splitlines()[-1])
    assert len({pid for pid, _ in seen}) == 1, f"worker not reused: {seen}"
    assert max(n for _, n in seen) == 1, f"worker pack cache grew: {seen}"
