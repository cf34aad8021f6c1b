"""Spans around the benchmark's calls into each layer, Spark job counters
from the public `statusTracker`, and the per-layer table.

A span records name, start, end, its parent span, the run id and the
iteration. Spans are kept in memory and written out when the run ends.
Each span also owns a Spark job group, so the jobs a layer call fires
(even while only building a plan) are attributed to that call.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran tasks, completed tasks and failed tasks of one
    job group. Stages skipped because their shuffle output was reused run
    no tasks and are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in list(info.stageIds) if info else []:
            s = st.getStageInfo(sid)
            if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                continue
            stages += 1
            tasks += s.numCompletedTasks
            failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}


class Tracer:
    """In-memory span recorder for one run."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.iteration: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self, span: dict) -> str:
        return f"{self.run_id}/span{span['id']}"

    @contextmanager
    def span(self, name: str):
        """Time one layer call. The caller may add counts to the yielded
        record's "counts" dict; "jobs" is filled with the Spark jobs fired
        inside the span, its child spans excluded."""
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "iteration": self.iteration,
            "start": None,
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(self._group(rec), name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._group(self._stack[-1]), self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["counts"]["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(self._group(rec)))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children of
    one span run one after another on the benchmark's single thread)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def nesting_errors(spans: list[dict]) -> list[str]:
    """Every child lies inside its parent's interval and shares its run id
    and iteration; siblings do not overlap."""
    by_id = {s["id"]: s for s in spans}
    errs = []
    last_end: dict = {}
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            errs.append(f"span {s['id']} {s['name']} is not closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            errs.append(f"span {s['id']} {s['name']} has unknown parent {s['parent']}")
            continue
        if p is not None:
            if not (p["start"] <= s["start"] and s["end"] <= p["end"]):
                errs.append(f"span {s['id']} {s['name']} escapes parent {p['name']}")
            if (p["run_id"], p["iteration"]) != (s["run_id"], s["iteration"]):
                errs.append(f"span {s['id']} {s['name']} differs from its parent's run/iteration")
        prev = last_end.get(s["parent"])
        if prev is not None and s["start"] < prev:
            errs.append(f"span {s['id']} {s['name']} overlaps its previous sibling")
        last_end[s["parent"]] = s["end"]
    return errs


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: median self time and median counts over iterations."""
    st = self_times(spans)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out = {}
    for name, ss in by_name.items():
        keys = sorted({k for s in ss for k in s["counts"]})
        out[name] = {
            "n": len(ss),
            "self_s": statistics.median(st[s["id"]] for s in ss),
            "counts": {
                k: statistics.median(s["counts"][k] for s in ss if k in s["counts"]) for k in keys
            },
        }
    return out


def format_table(table: dict[str, dict]) -> str:
    lines = [f"{'span':<20} {'n':>3} {'self_s':>9}  counts"]
    for name, row in table.items():
        counts = " ".join(f"{k}={v:g}" for k, v in row["counts"].items())
        lines.append(f"{name:<20} {row['n']:>3} {row['self_s']:>9.4f}  {counts}")
    return "\n".join(lines)
