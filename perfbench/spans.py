"""Tracing for the traced run: in-memory spans, wrappers around the
public calls the pipeline makes, Spark event-log task metrics, and a
process-tree peak-RSS sampler.

Spans carry (id, name, parent, op, start, end).  Every span also sets
the Spark local property ``perfbench.span`` while it is open, so the
jobs a span submits are tagged with it in the event log; jobs without
the tag fall back to the innermost span whose time window holds their
submission time.  Nothing is written until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

SPAN_PROP = "perfbench.span"
# Spark totals kept per stage (from task-end events) and per span
TOTALS = {"jobs": 0, "tasks": 0, "ok": 0, "run_s": 0.0, "cpu_s": 0.0,
          "shuffle_write": 0, "shuffle_read": 0, "spill": 0}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    def current(self) -> dict | None:
        return self.spans[self._stack[-1]] if self._stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": self.op_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sid: int | None) -> None:
        self.sc.setLocalProperty(SPAN_PROP, None if sid is None else str(sid))

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of it covered by its children."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def install_pipeline_wrappers(tracer: Tracer, spark) -> None:
    """Wrap, from outside the program, the public calls through which
    ``KgPipeline.run`` does its work:

    - ``Lakehouse.write_stage`` / ``Lakehouse.merge_upsert`` ->
      ``stage.<table>`` (a write_stage nested in a merge is the merge's
      ``commit`` child);
    - ``canonicalize_entities`` as the pipeline module binds it ->
      ``stage.entity_clusters`` (connected components run eagerly
      there, before the stage's write_stage);
    - inside a write_stage/merge_upsert span: ``DataFrameWriter.parquet``
      -> ``write``, ``DataFrame.collect``/``count`` -> ``fingerprint``
      (the read-back that write_stage runs after its write).
    """
    from pyspark.sql import DataFrameWriter

    import deepie_spark.plans.pipeline as pipeline_mod
    from deepie_spark.sources.lakehouse import Lakehouse

    def stage_wrapper(fn):
        @functools.wraps(fn)
        def wrapped(self, df, name, *a, **kw):
            cur = tracer.current()
            label = ("commit" if cur is not None and cur["name"] == f"stage.{name}"
                     else f"stage.{name}")
            with tracer.span(label, table=name):
                return fn(self, df, name, *a, **kw)
        return wrapped

    def child_wrapper(fn, label):
        @functools.wraps(fn)
        def wrapped(*a, **kw):
            cur = tracer.current()
            if cur is None or "table" not in cur:
                return fn(*a, **kw)
            with tracer.span(label):
                return fn(*a, **kw)
        return wrapped

    Lakehouse.write_stage = stage_wrapper(Lakehouse.write_stage)
    Lakehouse.merge_upsert = stage_wrapper(Lakehouse.merge_upsert)
    DataFrameWriter.parquet = child_wrapper(DataFrameWriter.parquet, "write")
    frame = type(spark.range(0))  # the concrete (classic) DataFrame class
    frame.collect = child_wrapper(frame.collect, "fingerprint")
    frame.count = child_wrapper(frame.count, "fingerprint")

    canon = pipeline_mod.canonicalize_entities

    @functools.wraps(canon)
    def traced_canon(*a, **kw):
        with tracer.span("stage.entity_clusters", part="compute"):
            return canon(*a, **kw)

    pipeline_mod.canonicalize_entities = traced_canon


# ---- Spark event log --------------------------------------------------------


def read_event_log(log_dir: Path) -> dict:
    """Parse every event-log file in ``log_dir`` into jobs and per-stage
    task totals.  Returns {"jobs": [...], "stages": {(app, stage_id): {...}}}."""
    jobs, stages = [], {}
    for f in sorted(log_dir.iterdir()):
        app = f.name
        stage_prop: dict[int, str | None] = {}
        for line in f.open():
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append({
                    "app": app,
                    "submit": ev["Submission Time"] / 1000.0,
                    "span": (ev.get("Properties") or {}).get(SPAN_PROP),
                    "stages": list(ev.get("Stage IDs", [])),
                })
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_prop[sid] = (ev.get("Properties") or {}).get(SPAN_PROP)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault((app, sid), dict(TOTALS))
                st["tasks"] += 1
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                st["ok"] += reason == "Success"
                m = ev.get("Task Metrics") or {}
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)
        for (a, sid), st in stages.items():
            if a == app:
                st["span"] = stage_prop.get(sid)
    return {"jobs": jobs, "stages": stages}


def attribute(spans: list[dict], log: dict) -> dict[int, dict]:
    """span id -> Spark totals (jobs, tasks, task time, shuffle, spill)
    of the jobs and stages that span submitted directly.  A job or
    stage is matched by its span tag, else by the innermost span whose
    window holds the job's submission time."""
    def window(t: float) -> int | None:
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (
                    best is None or s["start"] >= best["start"]):
                best = s
        return None if best is None else best["id"]

    out: dict[int, dict] = {}

    def acc(sid: int | None) -> dict | None:
        if sid is None:
            return None
        return out.setdefault(sid, dict(TOTALS))

    stage_owner: dict[tuple, int | None] = {}
    for j in log["jobs"]:
        sid = int(j["span"]) if j["span"] is not None else window(j["submit"])
        a = acc(sid)
        if a is not None:
            a["jobs"] += 1
        for st in j["stages"]:
            stage_owner.setdefault((j["app"], st), sid)
    for key, st in log["stages"].items():
        sid = int(st["span"]) if st.get("span") is not None else stage_owner.get(key)
        a = acc(sid)
        if a is None:
            continue
        for k in TOTALS:
            if k != "jobs":
                a[k] += st[k]
    return out


# ---- process-tree memory ----------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Every ``interval`` s, sums VmHWM over this process and its live
    descendants (the JVM, the Python worker daemon and its workers);
    :meth:`peak_mb` is the largest such sum.  A process counts only
    while it is alive, so workers that come and go are not summed
    twice."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.peak_detail: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        per_pid = {pid: _vm_hwm_kb(pid) for pid in process_tree(os.getpid())}
        kb = sum(per_pid.values())
        if kb > self.peak_kb:
            self.peak_kb = kb
            self.peak_detail = sorted(per_pid.values(), reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self.sample()
        self._stop.set()
        self._thread.join()

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
