"""gpiv-spark benchmark: one workload per call, in a pinned child process.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The runner sizes Spark from the host
(N = max(1, nproc // 4) cores, 4N task slots, driver heap from RAM),
starts perfbench/child.py in its own session with every scratch
directory (TMPDIR, java.io.tmpdir, SPARK_LOCAL_DIRS, the event log)
inside .perfbench_work/ of the checkout, samples the summed RSS of the
child's process tree, kills the whole tree on a timeout, and after the
child ends fails the run if any process it started is still alive or a
gpiv_pack_* directory was left in /tmp. The last line of stdout is the
JSON result; the metric names and units come from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CHILD_TIMEOUT_S = 160
EXIT_GRACE_S = 15
PAGE = os.sysconf("SC_PAGE_SIZE")


def host_sizing() -> dict:
    cpus = len(os.sched_getaffinity(0))
    n = max(1, cpus // 4)
    mem = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    try:
        limit = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if limit.isdigit():
            mem = min(mem, int(limit))
    except OSError:
        pass
    # a quarter of RAM, at most 6g: the JVM pins its heap (-Xms), and
    # the Python workers need the rest
    heap = max(1, min(6, mem // (4 << 30)))
    return {"nproc": cpus, "n": n, "cores": 4 * n, "heap_gb": heap,
            "ram_gb": round(mem / (1 << 30), 1)}


def _procs() -> list[tuple[int, int, str]]:
    """(pid, session id, comm) of every process."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
            out.append((int(name), int(tail.split()[3]), head.split("(", 1)[1]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def _tagged(token: str) -> set[int]:
    """Processes whose environment carries this run's token."""
    mark = f"PERFBENCH_RUN={token}".encode()
    out = set()
    for pid, _, _ in _procs():
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if mark in fh.read().split(b"\0"):
                    out.add(pid)
        except OSError:
            continue
    return out


def _run_procs(sid: int, token: str) -> dict[int, str]:
    names = {pid: comm for pid, s, comm in _procs() if s == sid}
    for pid in _tagged(token):
        if pid != os.getpid():
            names.setdefault(pid, "?")
    return names


def _tree_rss_mb(sid: int) -> float:
    total = 0
    for pid, s, _ in _procs():
        if s != sid:
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total / (1 << 20)


def _kill(sid: int, token: str) -> None:
    try:
        os.killpg(sid, signal.SIGKILL)
    except OSError:
        pass
    for pid in _run_procs(sid, token):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _pack_dirs() -> set[str]:
    try:
        return {p for p in os.listdir("/tmp") if p.startswith("gpiv_pack_")}
    except OSError:
        return set()


def run_child(args, host: dict, kill_after: float | None = None) -> dict:
    """Run one workload child; always returns after every process it
    started has ended and its scratch directory is gone."""
    token = uuid.uuid4().hex[:12]
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{token}"
    for sub in ("tmp", "local", "events"):
        (work / sub).mkdir(parents=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(host["cores"]),
        SPARK_GRAFT_DRIVER_MEM=f"{host['heap_gb']}g",
        SPARK_GRAFT_WORKER_PYTHONPATH=str(ROOT),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        # hsperfdata would otherwise go to /tmp whatever java.io.tmpdir says
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        PERFBENCH_RUN=token,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{work / 'events'} pyspark-shell"
            if args.trace else "pyspark-shell"),
    )
    cmd = [sys.executable, str(ROOT / "perfbench" / "child.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(host["cores"]), "--n-cores", str(host["n"]),
           "--out", str(work / "result.json"), "--event-log", str(work / "events")]
    packs_before = _pack_dirs()
    res: dict = {"problems": []}
    t0 = time.monotonic()
    with open(work / "child.log", "wb") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
    sid = proc.pid
    peak = 0.0
    try:
        while proc.poll() is None:
            peak = max(peak, _tree_rss_mb(sid))
            elapsed = time.monotonic() - t0
            if kill_after is not None and elapsed > kill_after:
                _kill(sid, token)
                res["problems"].append("killed on request")
            elif elapsed > CHILD_TIMEOUT_S:
                _kill(sid, token)
                res["problems"].append(f"timed out after {CHILD_TIMEOUT_S}s")
            time.sleep(0.2)
    except BaseException:
        _kill(sid, token)
        raise
    finally:
        proc.wait()
        deadline = time.monotonic() + EXIT_GRACE_S
        left = _run_procs(sid, token)
        while left and time.monotonic() < deadline:
            time.sleep(0.2)
            left = _run_procs(sid, token)
        if left:
            res["problems"].append(
                "processes still running after the workload ended: "
                + ", ".join(f"{c}[{p}]" for p, c in sorted(left.items())))
            _kill(sid, token)
            while _run_procs(sid, token):
                time.sleep(0.2)
        res["rc"] = proc.returncode
        res["peak_rss_mb"] = peak
        out = work / "result.json"
        if out.exists():
            res.update(json.loads(out.read_text()))
        spans = work / "spans.json"
        if spans.exists():
            dest = base / "traces" / f"{args.workload}-seed{args.seed}.json"
            dest.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(spans, dest)
            res["spans_file"] = str(dest.relative_to(ROOT))
        res["log_tail"] = (work / "child.log").read_text(errors="replace")[-3000:]
        shutil.rmtree(work, ignore_errors=True)
        for d in _pack_dirs() - packs_before:
            res["problems"].append(f"/tmp/{d} left behind")
            shutil.rmtree(Path("/tmp") / d, ignore_errors=True)
    return res


def self_test(host: dict) -> int:
    """Kill a headline run mid-way; the process table and /tmp must be
    clean afterwards."""
    ns = argparse.Namespace(workload="headline", seed=0, seconds=5, trace=0)
    packs_before = _pack_dirs()
    res = run_child(ns, host, kill_after=40)
    bad = [p for p in res["problems"] if p != "killed on request"]
    if "killed on request" not in res["problems"]:
        bad.append("the workload ended before it could be killed")
    work = ROOT / ".perfbench_work"
    if work.exists() and any(p.name != "traces" for p in work.iterdir()):
        bad.append(f"scratch left under {work}")
    if _pack_dirs() - packs_before:
        bad.append("gpiv_pack_* left in /tmp")
    for b in bad:
        print(f"self-test: {b}", file=sys.stderr)
    print("self-test:", "FAILED" if bad else "ok (killed mid-run, nothing left behind)")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not (ROOT / "gpiv_spark" / "session.py").is_file():
        print("perfbench: run from the root of a gpiv-spark checkout "
              "(no gpiv_spark/ here)", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    host = host_sizing()
    if host["cores"] > host["nproc"]:
        print(f"perfbench: needs at least 4 cores, host offers {host['nproc']}",
              file=sys.stderr)
        return 2
    if args.self_test:
        return self_test(host)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: --workload must be one of {names}", file=sys.stderr)
        return 2

    print(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
          f"N={host['n']} 4N={host['cores']} heap={host['heap_gb']}g "
          f"ram={host['ram_gb']}g loadavg={os.getloadavg()[0]:.2f}")
    res = run_child(args, host)
    problems = list(res["problems"])
    if "metrics" not in res:
        print(res["log_tail"], file=sys.stderr)
        print(f"perfbench: the workload produced no result (rc={res['rc']}); "
              + "; ".join(problems), file=sys.stderr)
        return 1
    problems += res["failures"]
    res["metrics"]["peak_rss_mb"] = res["peak_rss_mb"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            if not args.trace:
                problems.append(f"metric {m['name']} was not measured")
                continue
            v = 0  # a layer this workload does not call
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print("perfbench details: " + json.dumps(res.get("details", {})))
    if res.get("spans_file"):
        print(f"perfbench spans: {res['spans_file']}")
    for p in problems:
        print(f"perfbench problem: {p}")
    print(f"perfbench: loadavg at end {os.getloadavg()[0]:.2f}")
    correct = not problems and res["rc"] == 0
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
