"""Decompose the TIN pack-build wall time (VERDICT r5 #1).

Phases, each timed separately at a pinned core count:
- fanout_jvm : fan_out_points JVM cost only (noop sink)
- noop_apply : repartition+groupBy+applyInPandas with a counting stub
               (fan-out shuffle + Arrow channel + task handshakes)
- blobs      : full build_pack_blobs -> toArrow() (adds the Delaunay
               kernel + pack shard construction + driver collect)
- merge      : merge_pack_blobs on the collected shards (serial driver)
- broadcast  : sc.broadcast(pack) (serial driver pickle + disk)
- certified  : the bench's actual build_tin_pack (certified e2e)

Usage: python tools/profile_build.py CPUS [N_POINTS [REPS]]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    cpus = int(sys.argv[1])
    n_points = int(sys.argv[2]) if len(sys.argv) > 2 else 400_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    import bench
    from gpiv_spark.session import get_spark

    bench.pin_high_cores(cpus)
    spark = get_spark(f"profile-build-{cpus}", cpus=cpus,
                      shuffle_partitions=2 * cpus)

    import pandas as pd
    from gpiv_spark.operators import tin
    from gpiv_spark.operators.tin import (
        build_pack_blobs, fan_out_points, merge_pack_blobs,
    )

    pts = lambda: bench.bench_points(spark, n_points)  # noqa: E731
    halo = min(6.0, max(1.0, 6.0 * tin._EXT / max(1.0, float(n_points)) ** 0.5))

    # warm at 1/8 scale like the bench child
    bc_w = bench.build_tin_pack(spark, min(n_points // 8, 100_000))
    bc_w.destroy()

    def timed(fn):
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return round(best, 2)

    out = {"cpus": cpus, "n_points": n_points, "halo": round(halo, 3)}

    def fanout_noop():
        fan_out_points(spark, pts(), 4, halo, extra_cols=("pid",),
                       edge_halo_m=min(4.0 * halo, tin._EXT / 16)) \
            .write.format("noop").mode("overwrite").save()

    out["fanout_jvm"] = timed(fanout_noop)

    def stub(key, pdf):
        return pd.DataFrame({"cell": [int(key[0])], "n": [len(pdf)]})

    def noop_apply():
        fanned = fan_out_points(spark, pts(), 4, halo, extra_cols=("pid",),
                                edge_halo_m=min(4.0 * halo, tin._EXT / 16))
        fanned.repartition(tin.PACK_TASKS, "cell").groupBy("cell") \
            .applyInPandas(stub, "cell long, n long") \
            .write.format("noop").mode("overwrite").save()

    out["noop_apply"] = timed(noop_apply)

    arrs = []

    def blobs():
        arrs.append(
            build_pack_blobs(spark, pts(), 4, 9, halo, "pid",
                             edge_halo_m=min(4.0 * halo, tin._EXT / 16))
            .toArrow())

    out["blobs"] = timed(blobs)
    arr = arrs[-1]
    out["n_uncert_first_pass"] = int(sum(arr.column("n_uncert").to_pylist()))
    packs = []
    out["merge"] = timed(lambda: packs.append(merge_pack_blobs(arr, 9)))
    pack = packs[-1]
    out["pack_mb"] = round(sum(
        v.nbytes for v in pack.values() if hasattr(v, "nbytes")) / 1e6, 1)
    bcs = []
    out["broadcast"] = timed(
        lambda: bcs.append(spark.sparkContext.broadcast(pack)))
    for b in bcs:
        b.destroy()
    out["certified_e2e"] = timed(lambda: bench.build_tin_pack(spark, n_points))
    out["loadavg"] = os.getloadavg()[0]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
