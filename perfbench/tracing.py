"""Spans recorded from outside the engine, and Spark's event log.

A traced run wraps the public functions the benchmark calls (and a few the
engine calls internally, by replacing the module attribute the caller
resolves) in spans.  Each span sets the calling thread's Spark job
description to its id, so the event log attributes every job, stage, task
and SQL metric to the innermost span that launched it.  Spans stay in
memory; `EventLog` parses the uncompressed event log after the session
stops, and `ledger.Ledger` joins the two.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import pandas as pd

DESC_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": st[-1]["id"] if st else None,
                   "start": time.time(), "end": None, "attrs": attrs}
            self.spans.append(rec)
        st.append(rec)
        if self.sc is not None:
            self.sc.setJobDescription(f"{DESC_PREFIX}{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            st.pop()
            if self.sc is not None:
                self.sc.setJobDescription(
                    f"{DESC_PREFIX}{st[-1]['id']}" if st else None)

    def patch(self, owner, attr: str, new) -> None:
        """Set `owner.attr` to `new` until unwrap_all()."""
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace `owner.attr` by a spanned call; `after(rec, args, kwargs,
        result)` may add attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        self.patch(owner, attr, spanned)

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ queries

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]].append(s["id"])
        return out

    def subtree(self, sid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
        kids = self.children() if kids is None else kids
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s, []))
        return out

    def self_time(self, sid: int, kids: dict[int, list[int]] | None = None) -> float:
        """Duration minus the union of the direct children's intervals."""
        kids = self.children() if kids is None else kids
        s = self.spans[sid]
        ivs = sorted((self.spans[c]["start"], self.spans[c]["end"]) for c in kids.get(sid, []))
        return (s["end"] - s["start"]) - union_length(ivs, s["start"], s["end"])


def counting_refine(make_refine_udf, acc_in, acc_kept):
    """A stand-in for the engine's refine-UDF factory that builds the same
    UDF and counts the rows it sees and keeps in two Spark accumulators."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @functools.wraps(make_refine_udf)
    def factory(*args, **kwargs):
        body = make_refine_udf(*args, **kwargs).func

        @F.pandas_udf(T.BooleanType())
        def refine(lon: pd.Series, lat: pd.Series) -> pd.Series:
            ok = body(lon, lat)
            acc_in.add(len(ok))
            acc_kept.add(int(ok.sum()))
            return ok

        return refine

    return factory


def union_length(ivs, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(ivs):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ event log

_PY_NODE = ("Python", "InPandas", "InArrow")
_ROW_METRICS = ("number of output rows", "records read")


def _task_numbers(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "launch": info["Launch Time"] / 1000.0,
        "finish": info["Finish Time"] / 1000.0,
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "peak_mem": m.get("Peak Execution Memory", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
    }


class EventLog:
    """Per-span totals from one uncompressed Spark event log file.

    `spans[sid]` holds: jobs (list of (submit, end) seconds), tasks (list of
    task dicts, see `_task_numbers`, plus `queue_ms` = launch − stage
    submit), stages (list of (duration_s, [task run ms])), and `sql`:
    summed SQL metrics keyed "<node>/<metric>" (see `_plan_metrics`)."""

    def __init__(self, path: str):
        self.spans: dict[int, dict] = defaultdict(
            lambda: {"jobs": [], "tasks": [], "stages": [], "sql": defaultdict(float)})
        job_span: dict[int, int] = {}
        stage_span: dict[int, int] = {}
        stage_submit: dict[int, float] = {}
        stage_tasks: dict[int, list] = defaultdict(list)
        exec_span: dict[int, int] = {}
        acc_name: dict[int, str] = {}      # accumulator id -> "<node>/<metric>"
        job_submit: dict[int, float] = {}
        pending_acc: list[tuple[int, int, float]] = []   # (span, acc, value)
        driver_acc: list[tuple[int, int, float]] = []    # (execution, acc, value)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    if not desc.startswith(DESC_PREFIX):
                        continue
                    sid = int(desc[len(DESC_PREFIX):])
                    jid = ev["Job ID"]
                    job_span[jid] = sid
                    job_submit[jid] = ev["Submission Time"] / 1000.0
                    for st in ev["Stage IDs"]:
                        stage_span[st] = sid
                    if "spark.sql.execution.id" in props:
                        exec_span[int(props["spark.sql.execution.id"])] = sid
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_span:
                        self.spans[job_span[jid]]["jobs"].append(
                            (job_submit[jid], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if info.get("Submission Time"):
                        stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = ev["Stage ID"]
                    if st not in stage_span:
                        continue
                    sid = stage_span[st]
                    t = _task_numbers(ev)
                    t["queue_ms"] = max(0.0, (t["launch"] - stage_submit.get(st, t["launch"])) * 1000.0)
                    self.spans[sid]["tasks"].append(t)
                    stage_tasks[st].append(t)
                    for a in ev["Task Info"].get("Accumulables", []):
                        if not str(a.get("Name", "")).startswith("internal."):
                            pending_acc.append((sid, a["ID"], float(a.get("Update", 0) or 0)))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = info["Stage ID"]
                    if st in stage_span and info.get("Completion Time"):
                        dur = (info["Completion Time"] - info.get("Submission Time", 0)) / 1000.0
                        self.spans[stage_span[st]]["stages"].append(
                            (dur, [t["run_ms"] for t in stage_tasks.get(st, [])]))
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev["sparkPlanInfo"], acc_name)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    # posted while planning, before the execution's first job
                    driver_acc += [(ev["executionId"], acc, float(val))
                                   for acc, val in ev["accumUpdates"]]
        pending_acc += [(exec_span[ex], acc, val) for ex, acc, val in driver_acc if ex in exec_span]
        for sid, acc, val in pending_acc:
            name = acc_name.get(acc)
            if name is not None:
                self.spans[sid]["sql"][name] += val


def _plan_metrics(node: dict, acc_name: dict[int, str]) -> None:
    """Name every metric accumulator of a plan tree "<node>/<metric>", with
    "python.<node>" as the node name of every Python operator; the row count
    of the operator feeding a Python node is named "python.<node>/rows_in"."""
    name = node.get("nodeName", "").strip()
    is_py = any(p in name for p in _PY_NODE)
    prefix = f"python.{name}" if is_py else name
    for m in node.get("metrics", []):
        acc_name[m["accumulatorId"]] = f"{prefix}/{m['name']}"
    for c in node.get("children", []):
        _plan_metrics(c, acc_name)
    if is_py:
        child = (node.get("children") or [None])[0]
        while child is not None:
            rows = [m for m in child.get("metrics", []) if m["name"] in _ROW_METRICS]
            if rows:
                acc_name[rows[0]["accumulatorId"]] = f"{prefix}/rows_in"
                break
            child = (child.get("children") or [None])[0]
