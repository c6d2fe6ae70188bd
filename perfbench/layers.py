"""Per-layer tracing from outside the engine.

The traced run wraps the public entry points of the engine's layers from
this file only; nothing inside the engine changes. Each wrapper adds its
time and counts to the record of the op that is running. Spark's own
numbers come from the event log: every op phase runs under a job tag, so
each job, stage and task is attributed to one op and one phase.

Layer entry points wrapped:

* ``ephemeral.memo_get`` / ``ephemeral.bounded_memo_get`` (and the
  copies operator modules import by name): lookups and hits;
* ``ephemeral.release_caches``: time releasing the previous op's caches;
* ``operators.mapreduce.create_assigned_data``: chunking time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

MB = 1024 * 1024

# SQL metrics the plan exposes on Python-worker operators (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...): summed per op from task updates.
PY_METRICS = {"data sent to Python workers": "python_out",
              "data returned from Python workers": "python_in"}


class Tracer:
    """Installs the layer wrappers; they add to ``rec``, the record of the
    op that is running (None between ops and in untraced passes)."""

    def __init__(self):
        self.rec: dict | None = None  # counters of the running op
        self._undo: list = []

    def _add(self, key: str, v: float) -> None:
        if self.rec is not None:
            self.rec[key] = self.rec.get(key, 0) + v

    def _patch(self, mod, attr: str, wrapper) -> None:
        orig = getattr(mod, attr)
        setattr(mod, attr, wrapper(orig))
        self._undo.append((mod, attr, orig))

    def install(self) -> None:
        from mapreduce_framework_simple_spark import ephemeral
        from mapreduce_framework_simple_spark.operators import dedup, mapreduce, relational

        def memo_get(orig):
            def run(key):
                df = orig(key)
                self._add("memo_lookups", 1)
                self._add("memo_hits", df is not None)
                return df
            return run

        def bounded_memo_get(orig):
            def run(memo, key, compute, *a, **kw):
                self._add("memo_lookups", 1)
                self._add("memo_hits", key in memo)
                return orig(memo, key, compute, *a, **kw)
            return run

        def timed(key):
            def wrap(orig):
                def run(*a, **kw):
                    t0 = time.perf_counter()
                    try:
                        return orig(*a, **kw)
                    finally:
                        self._add(key, time.perf_counter() - t0)
                return run
            return wrap

        self._patch(ephemeral, "memo_get", memo_get)
        for mod in (ephemeral, relational, dedup):
            self._patch(mod, "bounded_memo_get", bounded_memo_get)
        self._patch(ephemeral, "release_caches", timed("release_s"))
        self._patch(mapreduce, "create_assigned_data", timed("chunk_s"))

    def uninstall(self) -> None:
        while self._undo:
            mod, attr, orig = self._undo.pop()
            setattr(mod, attr, orig)


# ---------------------------------------------------------------------------
# Spark event log


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str, app_id: str) -> dict[str, dict]:
    """Per job tag: Spark jobs, tasks and their summed task metrics. The
    log file is deleted once read, so repeated runs do not pile logs up."""
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    stage_tag: dict[int, str] = {}
    job_tag: dict[int, str] = {}
    acc_name: dict[int, str] = {}
    job_t0: dict[int, int] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tags = ev.get("Properties", {}).get("spark.job.tags", "")
                tag = next((t for t in tags.split(",") if t.startswith("pb:")), None)
                if tag is None:
                    continue
                job_tag[ev["Job ID"]] = tag
                job_t0[ev["Job ID"]] = ev["Submission Time"]
                out[tag]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_tag[sid] = tag
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_tag:
                j = ev["Job ID"]
                out[job_tag[j]]["job_s"] += (ev["Completion Time"] - job_t0[j]) / 1e3
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_tag:
                _task(out[stage_tag[ev["Stage ID"]]], ev, acc_name)
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _plan_metrics(ev.get("sparkPlanInfo", {}), acc_name)
    os.remove(paths[0])
    return out


def _plan_metrics(node: dict, acc_name: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        if m["name"] in PY_METRICS:
            acc_name[m["accumulatorId"]] = PY_METRICS[m["name"]]
    for child in node.get("children", []):
        _plan_metrics(child, acc_name)


def _task(o: dict, ev: dict, acc_name: dict[int, str]) -> None:
    o["tasks"] += 1
    if ev["Task End Reason"]["Reason"] != "Success":
        o["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    o["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
    sw = m.get("Shuffle Write Metrics", {})
    o["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    sr = m.get("Shuffle Read Metrics", {})
    o["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    o["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    for acc in ev.get("Task Info", {}).get("Accumulables", []):
        key = acc_name.get(acc.get("ID"))
        if key is not None:
            o[key + "_mb"] += float(acc.get("Update", 0)) / MB
