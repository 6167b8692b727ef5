"""Outside-in tracing: spans around calls into the engine's public
functions, Spark job groups, and the Spark event log.

Each span sets the Spark job group of the calling thread, so every job
a span triggers is attributed to it. Task durations and shuffle bytes
come from the event log (the UI is off in session.py, so there is no
REST API). Spans stay in memory; the child writes them out when the
run ends. With tracing off, ``span`` only times the block.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Record one span; yields the span dict (its 'wall_s' is set on
        exit)."""
        rec = {"name": name, "id": len(self.spans),
               "parent": self._stack[-1]["id"] if self._stack else None}
        self.spans.append(rec)
        if self.enabled:
            rec["group"] = f"pb{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["wall_s"] = rec["t1"] - rec["t0"]
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[int, float]:
        """Span id -> wall time minus the part its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and "t1" in s:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            if "t1" not in s:
                continue
            covered, end = 0.0, s["t0"]
            for k in sorted(kids.get(s["id"], []), key=lambda k: k["t0"]):
                lo, hi = max(k["t0"], end), k["t1"]
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s["id"]] = s["wall_s"] - covered
        return out

    def dump(self, path: Path, extra: dict) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs.get(s["id"])) for s in self.spans]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": spans, **extra}, indent=1))


def quantile(vals: list[float], q: float) -> float:
    if not vals:
        return 0.0
    s = sorted(vals)
    return s[min(len(s) - 1, int(round(q * (len(s) - 1))))]


class EventLog:
    """Per job group: task durations (ms), tasks per stage and shuffle
    bytes written, read from a finished Spark event log."""

    def __init__(self, log_dir: Path):
        files = sorted(p for p in log_dir.iterdir()
                       if p.is_file() and not p.name.startswith("."))
        if not files:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        stage_group: dict[int, str] = {}
        self.tasks: dict[str, list[dict]] = {}
        with open(files[-1]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    sr = (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
                    self.tasks.setdefault(group, []).append({
                        "stage": ev["Stage ID"],
                        "ms": info["Finish Time"] - info["Launch Time"],
                        "shuffle_write": sw,
                        "records_read": sr,
                    })

    def of(self, *groups: str) -> list[dict]:
        return [t for g in groups for t in self.tasks.get(g, [])]

    def summary(self, *groups: str) -> dict:
        tasks = self.of(*groups)
        ms = [t["ms"] for t in tasks]
        return {
            "tasks": len(tasks),
            "task_p50_ms": quantile(ms, 0.5),
            "task_p95_ms": quantile(ms, 0.95),
            "task_max_ms": max(ms, default=0),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        }

    def last_stage(self, *groups: str) -> dict:
        """Tasks, task-time quantiles and shuffle records read of the
        highest-numbered stage (the result stage)."""
        tasks = self.of(*groups)
        top = max((t["stage"] for t in tasks), default=None)
        tasks = [t for t in tasks if t["stage"] == top]
        ms = [t["ms"] for t in tasks]
        return {"tasks": len(ms), "task_p95_ms": quantile(ms, 0.95),
                "task_max_ms": max(ms, default=0),
                "records_read": sum(t["records_read"] for t in tasks)}
