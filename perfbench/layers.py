"""Per-layer metrics of a traced run.

Every metric is computed per timed op from the spans under that op
(and the Spark jobs they tagged), then reported as the median over the
timed ops. Metrics of a layer a workload does not reach read 0.

Times every workload measures are reported in seconds. A time that only
some workloads reach (a pipeline phase, one registry entry, Python
worker time) is reported as its share of the op's wall time, so a layer
a workload never enters reads a ratio of 0 rather than a constant time.
The run's record keeps every time in seconds.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from perfbench import trace

SPARK_KEYS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("driver_gap_s", "s"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("fetch_wait_s", "s"),
    ("scan_mb", "MB"),
    ("output_mb", "MB"),
    ("python_s", "s"),
)

LAYER_METRICS = (
    ("session.start_s", "s"),
    ("pipeline.ingest_s", "s"),
    ("pipeline.enrich_s", "s"),
    ("pipeline.state_machine_s", "s"),
    ("io.staging_write_s", "s"),
    ("io.commit_write_s", "s"),
    ("io.read_s", "s"),
    ("io.write_calls", "count"),
    ("io.staging_mb", "MB"),
    ("io.commit_mb", "MB"),
    ("enrichment.fetch_s", "s"),
    ("enrichment.rows_fetched", "count"),
    ("enrichment.python_s", "s"),
    ("enrichment.python_mb", "MB"),
    ("ttl_cache.hit_ratio", "ratio"),
    ("ttl_cache.rows", "count"),
    ("upsert.s", "s"),
    ("upsert.rows", "count"),
    ("state_machine.resolve_s", "s"),
    ("trace.run_s", "s"),
    ("trace.untraced_s", "s"),
)


EVERY_WORKLOAD_TIMES = frozenset(
    {
        "session.start_s",
        "trace.run_s",
        "trace.untraced_s",
        "spark.driver_gap_s",
        "spark.executor_run_s",
        "spark.executor_cpu_s",
        "spark.gc_s",
    }
)


def _measured_units(entries) -> list[tuple[str, str]]:
    out = list(LAYER_METRICS)
    for entry in entries:
        out += [(f"query.{entry}.s", "s"), (f"query.{entry}.jobs", "count")]
    out += [(f"spark.{k}", u) for k, u in SPARK_KEYS]
    return out


def _reported(name: str, unit: str) -> tuple[str, str]:
    if unit != "s" or name in EVERY_WORKLOAD_TIMES:
        return name, unit
    return name[:-1] + "share", "ratio"


def metric_units(entries) -> list[tuple[str, str]]:
    """Every reported per-layer metric name with its unit, in order."""
    return [_reported(n, u) for n, u in _measured_units(entries)]


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _label(span: dict) -> str:
    for key in ("role", "entry"):
        if key in span:
            return f"{span['name']}:{span[key]}"
    return span["name"]


def per_layer(ctx, wl, ops, extras) -> tuple[dict, dict]:
    from perfbench.workloads import REGISTRY_ENTRIES

    spans = ctx.tracer.spans
    log = trace.parse_event_log(os.path.join(ctx.work, "eventlog"))
    self_s = trace.self_times(spans)
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        s["self_s"] = self_s[s["id"]]
        s["spark"] = trace.span_spark_metrics(s, log)
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def below(span: dict) -> list[dict]:
        out, todo = [], list(kids[span["id"]])
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out

    session = next(s for s in spans if s["name"] == "session.start")
    timed = [s for s in spans if s["name"] == "op"][-len(ops):]
    values: dict[str, list[float]] = defaultdict(list)
    self_rows: dict[str, list[float]] = defaultdict(list)
    for op_span, extra in zip(timed, extras):
        under = below(op_span)

        def pick(name, role=""):
            return [
                s for s in under
                if s["name"] == name and s.get("role", "").startswith(role)
            ]

        v = {"session.start_s": _dur(session)}
        for phase in ("ingest", "enrich", "state_machine"):
            v[f"pipeline.{phase}_s"] = sum(map(_dur, pick(f"pipeline.{phase}")))
        staging, commit = pick("io.write", "staging."), pick("io.write", "commit.")
        v["io.staging_write_s"] = sum(map(_dur, staging))
        v["io.commit_write_s"] = sum(map(_dur, commit))
        v["io.read_s"] = sum(map(_dur, pick("io.read")))
        v["io.write_calls"] = len(staging) + len(commit) + len(pick("io.write", "other"))
        v["io.staging_mb"] = sum(s["bytes"] for s in staging) / trace.MB
        v["io.commit_mb"] = sum(s["bytes"] for s in commit) / trace.MB
        raw = pick("io.write", "staging.enrich_raw")
        v["enrichment.fetch_s"] = extra.get("fetch_s", 0.0)
        v["enrichment.rows_fetched"] = sum(s["spark"]["python_rows"] for s in raw)
        v["enrichment.python_s"] = sum(s["spark"]["python_s"] for s in raw)
        v["enrichment.python_mb"] = sum(s["spark"]["python_mb"] for s in raw)
        worklist = getattr(wl, "worklist_keys", 0)
        v["ttl_cache.hit_ratio"] = (
            1.0 - extra["staged_raw"] / worklist if worklist else 0.0
        )
        v["ttl_cache.rows"] = extra.get("cache_rows", 0)
        v["upsert.s"] = sum(map(_dur, pick("upsert")))
        v["upsert.rows"] = extra.get("prod_rows", 0)
        v["state_machine.resolve_s"] = sum(
            map(_dur, pick("io.write", "staging.processed"))
        )
        v["trace.run_s"] = _dur(op_span)
        v["trace.untraced_s"] = _dur(op_span) - sum(map(_dur, kids[op_span["id"]]))
        for entry in REGISTRY_ENTRIES:
            q = [s for s in under if s.get("entry") == entry]
            v[f"query.{entry}.s"] = sum(map(_dur, q))
            v[f"query.{entry}.jobs"] = sum(s["spark"]["jobs"] for s in q)
        for key, _unit in SPARK_KEYS:
            v[f"spark.{key}"] = op_span["spark"][key]
        for name, value in v.items():
            values[name].append(float(value))
        per_label: dict[str, float] = defaultdict(float)
        for s in [op_span, *under]:
            per_label[_label(s)] += s["self_s"]
        for label, value in per_label.items():
            self_rows[label].append(value)

    metrics = {}
    for name, unit in _measured_units(REGISTRY_ENTRIES):
        shown, shown_unit = _reported(name, unit)
        samples = values[name]
        if shown != name:
            samples = [x / op for x, op in zip(samples, values["trace.run_s"])]
        metrics[shown] = (statistics.median(samples), shown_unit)
    t0 = spans[0]["start"]
    tables = {
        "per_layer_samples": {k: v for k, v in values.items()},
        "self_time": {
            label: {"median_s": statistics.median(v), "n": len(v)}
            for label, v in sorted(
                self_rows.items(), key=lambda kv: -statistics.median(kv[1])
            )
        },
        "spans": [
            {
                **{k: v for k, v in s.items() if k not in ("start", "end", "tag")},
                "start": s["start"] - t0,
                "end": s["end"] - t0,
            }
            for s in spans
        ],
    }
    return metrics, tables
