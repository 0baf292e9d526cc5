"""Spans recorded around the benchmark's calls into the engine, and the
Spark counters attributed to them from Spark's event log.

A span is one public call: name, start, end, parent span and request id.
While a span is open its id is the thread's Spark job group, so every job
the call runs carries ``spark.jobGroup.id = <span id>`` in the event log.
A streaming query runs its micro-batches under its own job group (the
query's run id); the caller registers that id on the span with
:meth:`Tracer.adopt_group`.  Work from threads the engine starts itself
carries no group and is attributed by time (see :func:`attribute`).

Spans are kept in memory and written with the report when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op,
    so untraced runs pay nothing but a context-manager enter/exit."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"bench-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            "attrs": attrs,
            "groups": [],
        }
        rec["groups"].append(rec["id"])
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def adopt_group(self, group_id: str) -> None:
        """Attribute jobs of ``group_id`` (a streaming query's run id) to
        the innermost open span."""
        if self.enabled and self._stack:
            self._stack[-1]["groups"].append(group_id)


def _lines(files):
    for path in files:
        with open(path, encoding="utf-8") as f:
            yield from f


def read_event_log(log_dir: str) -> dict:
    """Jobs as ``(group, start, end)`` and executed stages as ``(group,
    submitted, counters)``, times in epoch seconds; a stage's group is that
    of the job that submitted it, its counters the sum over its tasks."""
    # Spark 4 rolls the log: <log_dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                "start": ev["Submission Time"] / 1e3,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                "submitted": info["Submission Time"] / 1e3,
                "counters": {c: 0 for c in SPARK_COUNTERS if c != "jobs"},
            }
        elif kind == "SparkListenerStageCompleted":
            stages[ev["Stage Info"]["Stage ID"]]["counters"]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            rec = stages[ev["Stage ID"]]["counters"]
            rec["tasks"] += 1
            m = ev.get("Task Metrics")
            if not m:
                continue
            rec["executor_run_s"] += m["Executor Run Time"] / 1e3
            rec["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            rec["gc_s"] += m["JVM GC Time"] / 1e3
            sr = m["Shuffle Read Metrics"]
            rec["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            rec["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rec["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return {"jobs": list(jobs.values()), "stages": list(stages.values())}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(spans: list[dict], log: dict) -> int:
    """Fill each span's ``spark`` counters (its own jobs and stages and
    those of its descendants), ``wall_s``, ``self_s`` (wall minus child
    spans) and ``driver_gap_s`` (wall minus the time its jobs cover).

    A job or stage goes to the span that owns its job group.  Threads the
    engine starts itself do not inherit the caller's job group, so work
    without a known group goes to the innermost span open when it started;
    with one closed-loop client that span is the call that caused it.
    Returns the number of jobs that fell outside every span."""
    owner = {g: s for s in spans for g in s["groups"]}
    children: dict[str, list[dict]] = {}
    for s in spans:
        s["own"] = {c: 0 for c in SPARK_COUNTERS}
        s["own_intervals"] = []
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    def span_for(group: str, t: float):
        if group in owner:
            return owner[group]
        open_ = [s for s in spans if s["start"] <= t <= s["end"]]
        return max(open_, key=lambda s: s["start"]) if open_ else None

    lost = 0
    for j in log["jobs"]:
        s = span_for(j["group"], j["start"])
        if s is None:
            lost += 1
            continue
        s["own"]["jobs"] += 1
        s["own_intervals"].append((j["start"], j["end"] or s["end"]))
    for st in log["stages"]:
        s = span_for(st["group"], st["submitted"])
        if s is not None:
            for c, v in st["counters"].items():
                s["own"][c] += v

    def walk(s: dict) -> tuple[dict, list]:
        tot = dict(s.pop("own"))
        ivs = s.pop("own_intervals")
        kids = children.get(s["id"], [])
        for k in kids:
            kt, kiv = walk(k)
            for c in SPARK_COUNTERS:
                tot[c] += kt[c]
            ivs = ivs + kiv
        wall = s["end"] - s["start"]
        s["spark"] = tot
        s["wall_s"] = wall
        s["self_s"] = wall - _covered([(k["start"], k["end"]) for k in kids], s["start"], s["end"])
        s["driver_gap_s"] = wall - _covered(ivs, s["start"], s["end"])
        return tot, ivs

    for s in spans:
        if s["parent"] is None:
            walk(s)
    return lost


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Spans grouped by phase and name (``measure/sessions.replay_sessions``):
    calls and summed wall, self, driver gap and Spark counters."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        top = s
        while top["parent"] is not None:
            top = by_id[top["parent"]]
        row = out.setdefault(
            f"{top['attrs'].get('phase')}/{s['name']}",
            {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "driver_gap_s": 0.0,
             **{c: 0 for c in SPARK_COUNTERS}},
        )
        row["calls"] += 1
        for k in ("wall_s", "self_s", "driver_gap_s"):
            row[k] += s[k]
        for c in SPARK_COUNTERS:
            row[c] += s["spark"][c]
    return out


def totals(spans: list[dict]) -> dict[str, float]:
    """Spark counters and driver gap summed over the top-level spans of
    the measured phase (``attrs["phase"] == "measure"``)."""
    top = [s for s in spans if s["parent"] is None and s["attrs"].get("phase") == "measure"]
    out = {f"spark.{c}": sum(s["spark"][c] for s in top) for c in SPARK_COUNTERS}
    out["spark.driver_gap_s"] = sum(s["driver_gap_s"] for s in top)
    return out
