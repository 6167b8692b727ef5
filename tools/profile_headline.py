"""Phase-level profiler for the headline pipeline (round-2 build path).

Breaks the TIN index build into: certify ladder (distributed blob jobs
+ collect) / driver merge / pack write; then times repeated doc
streams. Run at two
pinned parallelism levels to locate any serial remainder.

Usage: python tools/profile_headline.py [cpus ...]
"""
from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402


def profile_build(spark, n_points):
    from gpiv_spark.operators.tin import (
        PackFileHandle,
        certify_pack_blobs,
        merge_pack_blobs,
    )

    points = bench.bench_points(spark, n_points)
    t0 = time.time()
    blobs = certify_pack_blobs(spark, points, cell_res=4, index_res=9,
                               halo_m=6.0, id_col="pid")
    t_job = time.time() - t0
    t0 = time.time()
    pack = merge_pack_blobs([{"payload": b} for b in blobs.values()], 9)
    t_merge = time.time() - t0
    t0 = time.time()
    bc = PackFileHandle(spark, pack)
    t_write = time.time() - t0
    nbytes = sum(v.nbytes for v in pack.values() if hasattr(v, "nbytes"))
    print(f"  build: certify_ladder={t_job:.2f} merge={t_merge:.2f} "
          f"pack_write={t_write:.2f} "
          f"pack_mb={nbytes / 1e6:.1f} ntri={len(pack['tv'])}")
    return bc


def main():
    from pyspark.sql import SparkSession

    from gpiv_spark.session import get_spark

    full = os.sched_getaffinity(0)
    for cpus in [int(a) for a in (sys.argv[1:] or ["8", "2"])]:
        bench.pin_high_cores(cpus)
        spark = get_spark(f"prof-{cpus}", cpus=cpus,
                          shuffle_partitions=2 * cpus)
        try:
            print(f"== {cpus} pinned cores ==")
            bc_w = profile_build(spark, bench.N_POINTS // 8)
            t0 = time.time()
            bench.doc_stream(spark, bench.N_DOCS // 8, bc_w)
            print(f"  warm stream(1/8): {time.time() - t0:.2f}")
            bc_w.destroy()

            t0 = time.time()
            bc = profile_build(spark, bench.N_POINTS)
            print(f"  build total: {time.time() - t0:.2f}")
            for i in range(3):
                t0 = time.time()
                bench.doc_stream(spark, bench.N_DOCS, bc)
                print(f"  stream[{i}]: {time.time() - t0:.2f}")
        finally:
            spark.stop()
            SparkSession._instantiatedSession = None
            os.sched_setaffinity(0, full)


if __name__ == "__main__":
    main()
