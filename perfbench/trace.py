"""Spans recorded from outside the program, and Spark's own metrics per span.

A span is opened by the benchmark around a call into the package. Each
span adds a Spark job tag (``SparkContext.addJobTag``) for its
lifetime; tags nest, and Spark writes the active tags into every job's
properties in the event log. After the session stops, the event log is
parsed once and every job, stage and task is attributed to the spans
whose tags it carries.

Only the traced run uses any of this. Spans stay in memory until the
benchmark ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench import procstat

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        from pyspark import SparkContext

        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "tag": f"perfbench-span-{sid}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.addJobTag(rec["tag"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            sc = sc or SparkContext._active_spark_context
            if sc is not None:
                sc.removeJobTag(rec["tag"])
            self._stack.pop()


def path_role(path: str, run_path: str, prod_path: str, cache_path: str) -> str:
    """Role of a table path in one pipeline run."""
    p = path.rstrip("/")
    for base, role in ((prod_path, "prod"), (cache_path, "cache")):
        if p == base:
            return f"commit.{role}"
        if p == base + "__tmp":
            return f"commit.{role}_tmp"
    if p.startswith(run_path):
        rest = p[len(run_path):]
        for key, role in (
            ("/sources/", "sources"),
            ("/enrichment/raw/", "enrich_raw"),
            ("/enrichment/normalized/", "enrich_normalized"),
            ("/state_machine/processed", "processed"),
        ):
            if rest.startswith(key):
                return f"staging.{role}"
    return "other"


def wrap_pipeline_io(pipeline_mod, tracer: Tracer, role_of) -> callable:
    """Wrap ``write_table``, ``read_table`` and ``upsert_to_path`` as the
    pipeline module looks them up. Returns a function that restores
    the originals."""
    orig = {
        name: getattr(pipeline_mod, name)
        for name in ("write_table", "read_table", "upsert_to_path")
    }

    def write_table(df, path, **kw):
        with tracer.span("io.write", role=role_of(path)) as rec:
            orig["write_table"](df, path, **kw)
        rec["bytes"] = procstat.dir_bytes(path)

    def read_table(spark, path, schema, **kw):
        with tracer.span("io.read", role=role_of(path)):
            return orig["read_table"](spark, path, schema, **kw)

    def upsert_to_path(*args, **kw):
        with tracer.span("upsert"):
            return orig["upsert_to_path"](*args, **kw)

    for name, fn in (
        ("write_table", write_table),
        ("read_table", read_table),
        ("upsert_to_path", upsert_to_path),
    ):
        setattr(pipeline_mod, name, fn)

    def restore() -> None:
        for name, fn in orig.items():
            setattr(pipeline_mod, name, fn)

    return restore


# --- event log --------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _plan_accums(plan: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"], m.get("metricType", ""))
    for child in plan.get("children", ()):
        _plan_accums(child, out)


def parse_event_log(log_dir: str) -> dict:
    """Jobs (with tags and stages) and per-stage task metric sums from
    the uncompressed event log(s) under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    accums: dict[int, tuple[str, str, str]] = {}
    task_accums: list[tuple[int, int, float]] = []  # (stage, accum id, update)
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = props.get("spark.job.tags", "")
                    jobs[ev["Job ID"]] = {
                        "tags": set(t for t in tags.split(",") if t),
                        "stages": list(ev.get("Stage IDs", ())),
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages[info["Stage ID"]]
                    st["completed"] = 1
                    st["submit"] = info.get("Submission Time", 0) / 1000.0
                    st["end"] = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    tm = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    st["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / MB
                    st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    st["scan_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                    st["output_mb"] += (
                        (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        try:
                            upd = float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        task_accums.append((ev["Stage ID"], acc["ID"], upd))
                elif kind in (
                    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                    "org.apache.spark.sql.execution.ui."
                    "SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    _plan_accums(ev.get("sparkPlanInfo") or {}, accums)
    # Python worker metrics per stage, from the plan's metric ids
    for stage_id, acc_id, upd in task_accums:
        node, metric, kind = accums.get(acc_id, ("", "", ""))
        st = stages[stage_id]
        if metric == _PY_TIME:
            st["python_s"] += upd / (1e9 if kind == "nsTiming" else 1e3)
        elif metric in _PY_BYTES:
            st["python_mb"] += upd / MB
        elif node == "MapInPandas" and metric == "number of output rows":
            st["python_rows"] += upd
    return {"jobs": jobs, "stages": stages}


STAGE_SUMS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "fetch_wait_s",
    "scan_mb",
    "output_mb",
    "python_s",
    "python_mb",
    "python_rows",
)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_spark_metrics(span: dict, log: dict) -> dict[str, float]:
    """Inclusive Spark metrics of one span: every job carrying its tag.
    ``driver_gap_s`` is the span's wall time that no stage covers."""
    jobs = [j for j in log["jobs"].values() if span["tag"] in j["tags"]]
    stages = {s: log["stages"][s] for j in jobs for s in j["stages"]}
    stages = {s: st for s, st in stages.items() if st.get("completed")}
    out = {"jobs": float(len(jobs)), "stages": float(len(stages))}
    for key in STAGE_SUMS:
        out[key] = sum(st[key] for st in stages.values())
    covered = [
        (max(st["submit"], span["start"]), min(st["end"], span["end"]))
        for st in stages.values()
    ]
    busy = _union_length([(a, b) for a, b in covered if a < b])
    out["driver_gap_s"] = max(0.0, (span["end"] - span["start"]) - busy)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_length(kids.get(s["id"], []))
        for s in spans
    }
