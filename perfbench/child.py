"""One workload run inside a CPU-pinned child process.

Started by perfbench/run.py in its own session, with the environment
that sizes Spark from the host. Writes one JSON result file; the
runner prints it. Usage (normally only through run.py):

    python3 perfbench/child.py --workload headline --seed 1 --seconds 12 \
        --trace 0 --cores 4 --n-cores 1 --out result.json
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import checks, inputs  # noqa: E402
from perfbench.trace import EventLog, Tracer  # noqa: E402

# Input sizes, chosen so that an e2e run of each workload takes about a
# minute on a 4-vCPU host (a series of runs of both workloads has a time
# budget).
HEADLINE_POINTS = 100_000
HEADLINE_DOCS = 2_000_000
# the session's first headline job, at the same point density class
WARM_POINTS = 50_000
WARM_DOCS = 500_000
SHUFFLE_POINTS = 100_000
SHUFFLE_DOCS = 1_000_000
PROBE_DOCS = 1_000_000
MAX_REPS = 5
DATA_DIR = ROOT / "perfbench" / "data" / "sf0.1"
ORACLE_DIR = ROOT / "perfbench" / "oracles"


def pin(pids: set[int], cores: set[int]) -> None:
    """Pin every thread of every process in ``pids`` to ``cores``."""
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cores)
            except OSError:
                pass


def process_tree(root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        out.add(p)
        todo.extend(kids.get(p, []))
    return out


def level_cores(k: int) -> set[int]:
    """The highest k cores this process may use."""
    return set(sorted(ALL_CORES)[-k:])


ALL_CORES = os.sched_getaffinity(0)


class Run:
    def __init__(self, args):
        self.args = args
        self.metrics: dict[str, float] = {}
        self.details: dict = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0

    def op(self, fn, *a):
        """One counted operation; an exception counts as failed."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception as e:  # the run goes on and reports it
            self.failed += 1
            self.failures.append(f"{type(e).__name__}: {str(e)[:300]}")
            return None


def timed(fn, *a):
    t0 = time.perf_counter()
    r = fn(*a)
    return r, time.perf_counter() - t0


# ---------------------------------------------------------------- headline


def headline(spark, run: Run, tr: Tracer) -> None:
    """The certified pack build, then the doc stream against it. A
    smaller first job warms the session (JIT, Python workers); job_s is
    the median of the full-size jobs that follow, repeated until
    --seconds of them have run."""
    seed = run.args.seed
    nd = HEADLINE_DOCS
    hull = checks.hull_counts(HEADLINE_POINTS, seed, nd)
    cold = run.op(headline_job, spark, run, None, WARM_POINTS, WARM_DOCS)
    if cold is None:
        return
    cold[0].destroy()
    reps, pack = [], None
    while not reps or (sum(b + s for b, s in reps) < run.args.seconds
                       and len(reps) < MAX_REPS and not run.args.trace):
        r = run.op(headline_job, spark, run, hull)
        if r is None:
            break
        if pack is not None:
            pack.destroy()
        pack, n = r[0], r[3]
        reps.append(r[1:3])
    if pack is None:
        return
    t_b = statistics.median(b for b, _ in reps)
    t_s = statistics.median(s for _, s in reps)
    run.metrics["job_s"] = statistics.median(b + s for b, s in reps)
    run.details.update(cold_job_s=cold[1] + cold[2], build_s=t_b,
                       stream_docs_per_s=nd / t_s, reps=len(reps), found_docs=n,
                       in_hull_docs=hull["max"], hull_band_docs=hull["max"] - hull["min"])
    run.failures += run.op(checks.check_sample, spark, seed, nd, pack) or []
    run.failures += run.op(checks.check_spans, spark) or []
    if run.args.trace:
        headline_trace(spark, run, tr, pack, hull, reps[0])
    pack.destroy()


def headline_job(spark, run: Run, hull: dict | None,
                 n_points: int = HEADLINE_POINTS, n_docs: int = HEADLINE_DOCS):
    """One build + stream; checks the found count against ``hull``."""
    seed = run.args.seed
    pack, t_b = timed(inputs.build_pack, spark, n_points, seed)
    row, t_s = timed(lambda: inputs.stream_agg(spark, seed, n_docs, pack).collect()[0])
    n = int(row["n"])
    if hull is not None and not hull["min"] <= n <= hull["max"]:
        run.failures.append(
            f"headline: {n} docs found, expected {hull['min']}..{hull['max']} "
            f"(in-hull {hull['max']}, hull band {hull['max'] - hull['min']})")
    return pack, t_b, t_s, n


def headline_trace(spark, run: Run, tr: Tracer, pack, hull: dict, before) -> None:
    """Per-layer split of a warm headline job, the tracing overhead
    against an untraced warm job, the N-level run and the hardware
    control."""
    import numpy as np

    from gpiv_spark.functions import _delaunay_cc
    from gpiv_spark.operators import tin

    seed = run.args.seed
    np_, nd = HEADLINE_POINTS, HEADLINE_DOCS
    m = run.metrics
    m["stream.hull_missing_docs"] = run.details["in_hull_docs"] - run.details["found_docs"]

    with BuildProbe(tr) as bp:
        with tr.span("build") as sb:
            pack2 = run.op(inputs.build_pack, spark, np_, seed)
    if pack2 is None:
        return
    m.update(bp.metrics(sb["wall_s"]))
    m["build.pack_bytes"] = sum(
        f.stat().st_size for f in Path(pack2._dir).iterdir())
    walls = {}
    for stage in ("jvm", "passthrough", "probe"):
        with tr.span(f"stream.{stage}") as s:
            run.op(lambda: inputs.stream_df(spark, inputs.doc_range(spark, seed, nd), pack2,
                                            stage).write.format("noop").mode("overwrite").save())
        walls[stage] = s["wall_s"]
    m["stream.jvm_s"] = walls["jvm"]
    m["stream.channel_s"] = walls["passthrough"] - walls["jvm"]
    m["stream.probe_s"] = walls["probe"] - walls["passthrough"]
    with tr.span("stream") as ss:
        run.op(lambda: inputs.stream_agg(spark, seed, nd, pack2).collect())
    m["stream.docs_per_s"] = nd / ss["wall_s"]
    m["build.wall_s"] = sb["wall_s"]
    m["trace.job_s"] = sb["wall_s"] + ss["wall_s"]
    pack2.destroy()
    # untraced jobs on both sides of the traced one cancel warm-up drift
    r = run.op(headline_job, spark, run, hull)
    if r is None:
        return
    r[0].destroy()
    after = r[1:3]
    m["trace.overhead_s"] = m["trace.job_s"] - (sum(before) + sum(after)) / 2

    # driver-side probe kernel, single thread, fixed 1M-doc batch
    ids = np.arange(inputs.doc_offset(seed), inputs.doc_offset(seed) + PROBE_DOCS)
    x, y = inputs.docs_numpy(ids)
    idx = pack.value
    tin._probe_batch(idx, x[:4096], y[:4096], inputs.centroid())
    t = []
    for _ in range(3):
        _, dt = timed(tin._probe_batch, idx, x, y, inputs.centroid())
        t.append(dt)
    m["probe.ns_per_doc"] = statistics.median(t) / PROBE_DOCS * 1e9
    # 1 = the C kernel ran, 0 = the NumPy fallback (6-15x slower)
    m["probe.kernel"] = int(tin._probe_c(idx, x[:8], y[:8], inputs.centroid()) is not None)
    m["build.delaunay_kernel"] = int(_delaunay_cc.load() is not None)

    # the same job pinned to N cores (whole process tree), then back
    ncores, cores = run.args.n_cores, run.args.cores
    tree = process_tree(os.getpid())
    pin(tree, level_cores(ncores))
    try:
        with tr.span("n_level.build") as nb:
            packn = run.op(inputs.build_pack, spark, np_, seed)
        with tr.span("n_level.stream") as ns:
            if packn is not None:
                run.op(lambda: inputs.stream_agg(spark, seed, nd, packn).collect())
    finally:
        pin(process_tree(os.getpid()), level_cores(cores))
    if packn is not None:
        packn.destroy()
        ratio = cores / ncores
        b4, s4 = after
        m["scale_eff.stream"] = (ns["wall_s"] / s4) / ratio
        m["scale_eff.total"] = ((nb["wall_s"] + ns["wall_s"]) / (b4 + s4)) / ratio
    m["control.scale_eff"] = control_efficiency(ncores, cores)


class BuildProbe:
    """Outside-in spans for the phases of build_broadcast_pack: for one
    traced build, wraps the operators.tin functions it calls and
    DataFrame.toArrow, which runs each blob job."""

    def __init__(self, tr: Tracer):
        self.tr = tr
        self.walls: dict[str, list[float]] = {}
        self.failed_cells = 0

    @contextmanager
    def _timed(self, name):
        with self.tr.span(name) as rec:
            yield
        self.walls.setdefault(name, []).append(rec["wall_s"])

    def __enter__(self):
        from pyspark.sql.classic.dataframe import DataFrame

        from gpiv_spark.operators import tin

        self._saved = (tin.build_pack_blobs, tin.build_pack_blobs_at_cells,
                       tin.merge_pack_blobs, tin.PackFileHandle, DataFrame.toArrow)
        bpb, bpc, merge, handle, to_arrow = self._saved
        probe = self

        def build_pack_blobs(*a, **k):
            df = bpb(*a, **k)
            df._pb_phase = "build.retry" if k.get("only_cells") else "build.blobs"
            return df

        def build_pack_blobs_at_cells(*a, **k):
            df = bpc(*a, **k)
            df._pb_phase = "build.retry"
            return df

        def to_arrow_traced(df):
            phase = getattr(df, "_pb_phase", None)
            if phase is None:
                return to_arrow(df)
            with probe._timed(phase):
                tbl = to_arrow(df)
            if phase == "build.blobs":
                probe.failed_cells = sum(1 for u in tbl.column("n_uncert").to_pylist() if u)
            return tbl

        def merge_traced(*a, **k):
            with probe._timed("build.merge"):
                return merge(*a, **k)

        class Handle(handle):
            def __init__(self, *a, **k):
                with probe._timed("build.pack_write"):
                    super().__init__(*a, **k)
                # tasks pickle the handle: drop this traced subclass
                self.__class__ = handle

        tin.build_pack_blobs = build_pack_blobs
        tin.build_pack_blobs_at_cells = build_pack_blobs_at_cells
        tin.merge_pack_blobs = merge_traced
        tin.PackFileHandle = Handle
        DataFrame.toArrow = to_arrow_traced
        return self

    def __exit__(self, *exc):
        from pyspark.sql.classic.dataframe import DataFrame

        from gpiv_spark.operators import tin

        (tin.build_pack_blobs, tin.build_pack_blobs_at_cells,
         tin.merge_pack_blobs, tin.PackFileHandle, DataFrame.toArrow) = self._saved
        return False

    def metrics(self, wall: float) -> dict:
        out = {f"{name}_s": sum(self.walls.get(name, [])) for name in
               ("build.blobs", "build.retry", "build.merge", "build.pack_write")}
        out["build.driver_s"] = wall - sum(out.values())
        out["build.retry_jobs"] = len(self.walls.get("build.retry", []))
        out["build.failed_cells"] = self.failed_cells
        return out


def _control_work(seed: int) -> float:
    import numpy as np

    a = np.random.default_rng(seed).normal(0, 1, (192, 192))
    acc = 0.0
    for _ in range(40):
        acc += float(np.abs(np.fft.rfft2(a)).sum())
        a = a * 0.999 + 0.001
    return acc


def control_efficiency(n_lo: int, n_hi: int, tasks: int = 48) -> float:
    """NumPy multiprocessing at n_lo and n_hi pinned cores, same task
    count: the host's own N->4N ceiling in the same window."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    mine = os.sched_getaffinity(0)
    walls = {}
    try:
        for procs in (n_lo, n_hi):
            os.sched_setaffinity(0, level_cores(procs))
            with ctx.Pool(procs) as pool:
                pool.map(_control_work, range(procs))
                _, walls[procs] = timed(pool.map, _control_work, range(tasks))
    finally:
        os.sched_setaffinity(0, mine)
    return (walls[n_lo] / walls[n_hi]) / (n_hi / n_lo)


# ------------------------------------------------------- the shuffle plan


def shuffle_layers(spark, run: Run, tr: Tracer) -> None:
    """The large-TIN plan: propagate_auto with a broadcast budget below
    the pack estimate, so it takes the shuffle branch (build_triangles +
    propagate_at(broadcast_triangles=False)); timed from the call to the
    collected result. The result must hold what the plan guarantees
    today (no duplicate doc_id, zp inside the cloud's z range, var_zp
    finite and > 0); its disagreement with the broadcast branch on the
    same docs is reported as shuffle.mismatch_docs."""
    from pyspark.sql import functions as F

    from gpiv_spark.operators.tin import (
        PACK_BYTES_PER_POINT,
        build_broadcast_pack,
        build_triangles,
        probe_docs,
    )

    seed = run.args.seed
    np_, nd = SHUFFLE_POINTS, SHUFFLE_DOCS
    px, py = inputs.points_numpy(np_, seed)
    z = inputs.z_surface(px, py)
    zlo, zhi = float(z.min()), float(z.max())
    m = run.metrics

    def job():
        out, branch = inputs.shuffle_plan(spark, seed, np_, nd,
                                          np_ * PACK_BYTES_PER_POINT // 2)
        if branch != "shuffle":
            raise RuntimeError(f"propagate_auto took the {branch} branch")
        row = out.agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("n_ids"),
            F.min("zp").alias("zp_min"), F.max("zp").alias("zp_max"),
            F.sum(F.expr("CASE WHEN isnan(var_zp) OR var_zp <= 0 OR "
                         "var_zp = double('inf') THEN 1 ELSE 0 END")).alias("bad_var"),
        ).collect()[0]
        if row["n"] != row["n_ids"]:
            run.failures.append(f"tin_shuffle: {row['n'] - row['n_ids']} duplicate doc_id rows")
        if row["n"] and not (zlo <= row["zp_min"] and row["zp_max"] <= zhi):
            run.failures.append(
                f"tin_shuffle: zp range [{row['zp_min']}, {row['zp_max']}] "
                f"outside the cloud's z range [{zlo}, {zhi}]")
        if row["bad_var"]:
            run.failures.append(f"tin_shuffle: {row['bad_var']} rows with var_zp not finite and > 0")
        return out

    with tr.span("shuffle") as s:
        out = run.op(job)
    if out is None:
        return
    m["shuffle.docs_per_s"] = nd / s["wall_s"]
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    m["shuffle.exchanges"] = plan.count("Exchange")
    points = inputs.points_df(spark, np_, seed)
    halo = inputs.halo_for(np_)
    with tr.span("shuffle.build") as sb:
        run.op(lambda: build_triangles(spark, points, inputs.CELL_RES, halo)
               .write.format("noop").mode("overwrite").save())
    m["shuffle.build_s"] = sb["wall_s"]
    m["shuffle.probe_s"] = s["wall_s"] - sb["wall_s"]

    # the broadcast branch of propagate_auto on the same docs and points
    def mismatch():
        geo = inputs.geo_docs(inputs.doc_range(spark, seed, nd)).select("doc_id", "x", "y")
        bc = build_broadcast_pack(spark, points, inputs.CELL_RES, inputs.INDEX_RES,
                                  halo, "pid")
        try:
            b = probe_docs(geo, bc, inputs.centroid()).alias("b")
            return b.join(out.alias("s"), F.col("b.doc_id") == F.col("s.doc_id"),
                          "full_outer").filter(
                "s.doc_id IS NULL OR b.doc_id IS NULL OR NOT (s.zp <=> b.zp) "
                "OR NOT (s.var_zp <=> b.var_zp)").count()
        finally:
            bc.destroy()

    with tr.span("shuffle.mismatch"):
        mm = run.op(mismatch)
    if mm is not None:
        m["shuffle.mismatch_docs"] = mm


# ------------------------------------------------------------- query_suite


def query_suite(spark, run: Run, tr: Tracer) -> None:
    import pandas as pd

    import __spark_entry__ as entry
    from gpiv_spark.queries import RETIRED

    qs = dict(entry.queries())
    qs.update({name: q.spark for name, q in RETIRED.items()})
    sf = str(DATA_DIR)
    m = run.metrics

    def check(name, got):
        want = pd.read_parquet(ORACLE_DIR / f"{name}.parquet")
        run.failures += checks.compare_canon(name, got, want)

    def one(name, when):
        with tr.span(f"query.{name}.{when}") as s:
            with tr.span(f"query.{name}.plan_{when}") as p:
                df = qs[name](spark, sf)
            got = df.toArrow().to_pandas()
        check(name, got)
        return s["wall_s"], p["wall_s"]

    def piv():
        cells, dt = timed(inputs.reference_piv, spark)
        if cells != 25:
            run.failures.append(f"reference PIV: {cells} cells, expected 25")
        return dt

    # the traced run times all 13 queries; e2e runs the table queries
    names = inputs.QUERY_NAMES if run.args.trace else inputs.TABLE_QUERIES

    def suite(when):
        """One pass: the queries, then the reference PIV job."""
        times = {name: run.op(one, name, when) for name in names}
        t_piv = run.op(piv)
        if t_piv is None or None in times.values():
            return None
        return times, t_piv

    if run.args.trace:
        cold = suite("cold")
        if cold is None:
            return
        run.details["queries_cold_s"] = sum(v[0] for v in cold[0].values())
    else:
        # warm-up: the first run of every query, 4N at a time (not timed)
        with ThreadPoolExecutor(run.args.cores) as pool:
            futs = [pool.submit(lambda n: check(n, qs[n](spark, sf).toArrow().to_pandas()), n)
                    for n in names]
        for f in futs:
            run.op(f.result)
        if run.op(piv) is None or run.failed:
            return
    passes = []
    while not passes or (sum(sum(v[0] for v in q.values()) + p for q, p in passes)
                         < run.args.seconds and len(passes) < MAX_REPS
                         and not run.args.trace):
        p = suite("warm")
        if p is None:
            return
        passes.append(p)
    t_q = [sum(v[0] for v in q.values()) for q, _ in passes]
    t_piv = [p for _, p in passes]
    m["job_s"] = statistics.median(q + p for q, p in zip(t_q, t_piv))
    run.details.update(queries_warm_s=statistics.median(t_q),
                       piv_reference_s=statistics.median(t_piv), reps=len(passes))
    if run.args.trace:
        for name in inputs.QUERY_NAMES:
            m[f"query.{name}.cold_s"], m[f"query.{name}.plan_s"] = cold[0][name]
            m[f"query.{name}.warm_s"] = passes[0][0][name][0]
        m["queries.cold_s"] = run.details["queries_cold_s"]
        m["queries.warm_s"] = t_q[0]
        with tr.span("piv.reference") as s:
            run.op(piv)
        after = run.op(piv)  # untraced jobs on both sides cancel warm-up drift
        m["piv.reference_warm_s"] = s["wall_s"]
        m["trace.job_s"] = s["wall_s"]
        if after is not None:
            m["trace.overhead_s"] = s["wall_s"] - (t_piv[0] + after) / 2
        shuffle_layers(spark, run, tr)


WORKLOADS = {"headline": headline, "query_suite": query_suite}


def event_metrics(tr: Tracer, log_dir: Path, m: dict) -> None:
    """Task quantiles and shuffle bytes of the traced phases."""
    ev = EventLog(log_dir)
    group = {s["name"]: s["group"] for s in tr.spans if "group" in s}
    if "build.blobs" in group:
        kern = ev.last_stage(group["build.blobs"])
        m["build.kernel_task_p95_ms"] = kern["task_p95_ms"]
        m["build.kernel_task_max_ms"] = kern["task_max_ms"]
        m["build.fanout_factor"] = kern["records_read"] / HEADLINE_POINTS
        m["build.shuffle_write_bytes"] = ev.summary(group["build.blobs"])["shuffle_write_bytes"]
    if "stream" in group:
        s = ev.summary(group["stream"])
        m.update({f"stream.{k}": s[k]
                  for k in ("tasks", "task_p50_ms", "task_p95_ms", "task_max_ms")})
    if "shuffle" in group:
        s = ev.summary(group["shuffle"])
        m["shuffle.write_bytes"] = s["shuffle_write_bytes"]
        m["shuffle.task_max_ms"] = s["task_max_ms"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--n-cores", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--event-log", default="")
    args = ap.parse_args()
    os.sched_setaffinity(0, level_cores(args.cores))

    from gpiv_spark.functions import _delaunay_cc
    from gpiv_spark.session import get_spark

    run = Run(args)
    spark = get_spark(f"perfbench-{args.workload}", cpus=args.cores)
    try:
        spark.range(1).count()
        _delaunay_cc.load()
        _delaunay_cc.load_lib(Path(_delaunay_cc.__file__).resolve().parent / "_probe_core.c")
        run.metrics["setup_s"] = time.perf_counter() - T_START
        run.metrics["session.start_s"] = run.metrics["setup_s"]
        tr = Tracer(spark, bool(args.trace))
        WORKLOADS[args.workload](spark, run, tr)
    finally:
        spark.stop()
    if args.trace:
        event_metrics(tr, Path(args.event_log), run.metrics)
        tr.dump(Path(args.out).with_name("spans.json"), {"metrics": run.metrics})
    Path(args.out).write_text(json.dumps({
        "metrics": run.metrics, "details": run.details, "failures": run.failures,
        "attempted": run.attempted, "failed": run.failed}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
