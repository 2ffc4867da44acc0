"""Span recorder and Spark event-log parser for the traced benchmark run.

Spans are recorded from outside the program: ``Tracer.wrap`` replaces a
module or class attribute with a wrapper that opens a span around the
original call and returns its result unchanged. Each span tags the Spark
jobs started inside it with ``SparkContext.setJobGroup(span_id)``, so the
event log (enabled for traced runs only) attributes jobs, tasks, shuffle,
spill and Python-worker bytes to the innermost open span.

Spans live in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 2**20
PY_BYTES_ACCUMULATORS = ("data sent to Python workers",
                         "data returned from Python workers")


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: int | None = None
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        rec = {"id": f"pbspan-{next(self._ids)}",
               "name": name, "op": self.op, "start": time.time(), "end": None,
               "parent": self._stack[-1]["id"] if self._stack else None}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Open span `name` around every call of ``owner.attr``. ``after(rec,
        args, kwargs, result)`` may add counts to the span record."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, result)
                return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[str, float]:
    """{span id: duration minus the union of its children's intervals}."""
    kids: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, edge), min(b, s["end"])
            if b > a:
                covered += b - a
                edge = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def job_metrics(eventlog_dir: str, window: tuple[float, float]
                ) -> dict[str, dict[str, float]]:
    """{job group: {jobs, tasks, shuffle_mb, spill_mb, py_mb}} from the
    event log(s) in `eventlog_dir`.

    A broadcast exchange runs its job under a job group of its own; such a
    job is charged to the group of the SQL execution it belongs to. Jobs
    that still match no span are summed under "unattributed" when they were
    submitted inside `window` (epoch seconds) and dropped otherwise.
    """
    job_group: dict[int, str | None] = {}
    job_exec: dict[int, str | None] = {}
    job_time: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_acc: dict[int, dict] = {}
    exec_group: dict[str, str] = {}
    per_job: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for fname in sorted(os.listdir(eventlog_dir)):
        with open(os.path.join(eventlog_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    ex = props.get("spark.sql.execution.root.id") or props.get(
                        "spark.sql.execution.id")
                    job_group[jid], job_exec[jid] = group, ex
                    job_time[jid] = ev["Submission Time"] / 1000
                    if group and group.startswith("pbspan-") and ex is not None:
                        exec_group.setdefault(ex, group)
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                    per_job[jid]["jobs"] = 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if jid is None or not tm:
                        continue
                    m = per_job[jid]
                    m["tasks"] += 1
                    m["shuffle_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                    m["spill_mb"] += tm["Disk Bytes Spilled"] / MB
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_acc[info["Stage ID"]] = info.get("Accumulables") or []
    for sid, accs in stage_acc.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        for acc in accs:
            if acc.get("Name") in PY_BYTES_ACCUMULATORS:
                per_job[jid]["py_mb"] += float(acc["Value"]) / MB
    by_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for jid, m in per_job.items():
        group = job_group.get(jid)
        if not (group and group.startswith("pbspan-")):
            group = exec_group.get(job_exec.get(jid), "unattributed")
            if group == "unattributed" and not window[0] <= job_time[jid] <= window[1]:
                continue
        for k, v in m.items():
            by_group[group][k] += v
    return {g: dict(m) for g, m in by_group.items()}
