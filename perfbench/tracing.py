"""Spans around calls into the library, and Spark job attribution.

Tracing is off in the timed run.  In the traced run:

- every public call listed in ``TRACED`` gets a span (name, start, end,
  parent, op id), including the calls the library makes to itself, e.g.
  ``merge_segments`` -> ``save_index``; the wrappers are installed on the
  imported modules, the library's files are not changed;
- each top-level benchmark operation sets ``setJobGroup(op id)``;
- Spark writes an event log, parsed after the session stops.  Jobs whose
  group is not an op id (``save_index`` submits its derived writes from a
  ``ThreadPoolExecutor`` whose threads do not inherit the group) are
  attributed to the innermost span open when the job was submitted; jobs
  outside every span are counted as unattributed.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional

#: span name -> layer, for every traced library call
TRACED = {
    ("whoosh_reloaded_spark.index.build", "build_index"): "index.build",
    ("whoosh_reloaded_spark.index.build", "save_index"): "index.build",
    ("whoosh_reloaded_spark.index.build", "load_index"): "index.build",
    ("whoosh_reloaded_spark.streaming.append", "append_batch"): "streaming.append",
    ("whoosh_reloaded_spark.index.segments", "load_multi"): "index.segments",
    ("whoosh_reloaded_spark.index.segments", "merge_segments"): "index.segments",
    ("whoosh_reloaded_spark.index.checkpoint", "open_partitioned"): "index.checkpoint",
    ("whoosh_reloaded_spark.index.mutate", "update_documents"): "index.mutate",
    ("whoosh_reloaded_spark.index.mutate", "load_deleted"): "index.mutate",
    ("whoosh_reloaded_spark.index.mutate", "with_deleted"): "index.mutate",
    ("whoosh_reloaded_spark.query.parser", "QueryParser.parse"): "query.parser",
    ("whoosh_reloaded_spark.query.planner", "Searcher.search"): "query.planner",
}
LAYERS = sorted(set(TRACED.values())) + ["scoring", "corpus"]


class Tracer:
    """Spans kept in memory; a no-op context manager when disabled."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._op: Optional[str] = None
        self._n_ops = 0
        self.own_s = 0.0  # driver time spent in the tracer's bookkeeping

    @contextmanager
    def op(self, kind: str):
        """A top-level benchmark operation: its own op id and job group."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        self._n_ops += 1
        self._op = f"{kind}-{self._n_ops:05d}"
        self.sc.setJobGroup(self._op, kind)
        self.own_s += time.perf_counter() - t
        try:
            with self.span(kind, layer="op"):
                yield
        finally:
            t = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None
            self.own_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "op": self._op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.own_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.own_s += time.perf_counter() - t

    def install(self) -> None:
        """Wrap every ``TRACED`` call wherever the package imported it."""
        for modname, _ in TRACED:
            importlib.import_module(modname)
        pkg = [m for n, m in list(sys.modules.items())
               if n.startswith("whoosh_reloaded_spark") and m is not None]
        for (modname, attr), layer in TRACED.items():
            mod = sys.modules[modname]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth), attr, layer))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, attr, layer)
            for m in pkg:
                if getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return traced


def self_times(spans: List[dict]) -> None:
    """Set ``self_s`` on every span: duration minus the union of its
    children's intervals."""
    kids: Dict[int, List[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        s["self_s"] = (s["end"] - s["start"]) - covered


def _scan_row_accumulators(plan: dict, out: set) -> None:
    if "Scan" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _scan_row_accumulators(c, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs, their stages and per-task metrics from a Spark event log."""
    jobs, stage_job, tasks, scan_ids = {}, {}, defaultdict(list), set()
    gc_ms = 0
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    }
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = e["Job ID"]
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    rows = sum(
                        int(a.get("Update", 0))
                        for a in e["Task Info"].get("Accumulables", [])
                        if a.get("ID") in scan_ids
                    )
                    gc_ms += m.get("JVM GC Time", 0)
                    tasks[e["Stage ID"]].append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "scan_rows": rows,
                    })
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _scan_row_accumulators(e.get("sparkPlanInfo", {}), scan_ids)
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks,
            "gc_s": gc_ms / 1000.0}


def attribute(spans: List[dict], log: dict) -> dict:
    """Give every job a span; sum job, stage and task figures into each span
    and its ancestors (``incl``).  Returns attribution counts."""
    by_id = {s["id"]: s for s in spans}
    ops = {s["op"] for s in spans if s["op"]}
    for s in spans:
        s["incl"] = {"jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
                     "shuffle_write_b": 0, "spill_b": 0, "scan_rows": 0}
    stages_of = defaultdict(list)
    for sid, jid in log["stage_job"].items():
        stages_of[jid].append(sid)
    counts = {"by_group": 0, "by_window": 0, "unattributed": 0}
    for jid, job in log["jobs"].items():
        t = job["submit"]
        inside = [s for s in spans
                  if s["end"] is not None and s["start"] <= t <= s["end"]]
        if job["group"] in ops:
            inside = [s for s in inside if s["op"] == job["group"]]
            counts["by_group"] += 1
        elif inside:
            counts["by_window"] += 1
        else:
            counts["unattributed"] += 1
            continue
        if not inside:
            continue  # grouped, but submitted outside the op's spans
        span = max(inside, key=lambda s: s["start"])
        st = [sid for sid in stages_of[jid] if log["tasks"].get(sid)]
        tk = [tk for sid in st for tk in log["tasks"][sid]]
        add = {"jobs": 1, "stages": len(st), "tasks": len(tk),
               "task_run_s": sum(x["run_ms"] for x in tk) / 1000.0,
               "shuffle_write_b": sum(x["shuffle_write"] for x in tk),
               "spill_b": sum(x["spill"] for x in tk),
               "scan_rows": sum(x["scan_rows"] for x in tk)}
        while span is not None:
            for k, v in add.items():
                span["incl"][k] += v
            span = by_id.get(span["parent"])
    return counts
