"""The benchmark's workloads: an incremental pipeline run and a
registry pass.

Each workload runs in one fresh process on ``local[nproc]``:

1. set-up (timed as ``setup_s``): imports, ``get_spark``, and one
   untimed full-size warm-up op;
2. timed ops until ``--seconds`` of op time is measured, with a
   restored base before every op and caches and GC cleared between ops;
3. output checks after every op, the warm-up op included, outside the
   timed region.

Input generation and snapshot restores are never timed. The pipeline
base is seeded by ``seed_base`` in a process of its own, so every
measured process starts from the same cold JVM.
"""

from __future__ import annotations

import gc
import hashlib
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import inputs, procstat
from perfbench.trace import Tracer, path_role, wrap_pipeline_io

PIPELINE_KEYS = 20_000
REGISTRY_SF = 0.002
DRIVER_MEMORY = "2g"
RUN_ID = "timed"
MB = 1024.0 * 1024.0


def prod_table(cfg) -> str:
    """Where ``pipeline.run_state_machine_phase`` keeps the prod table."""
    return f"{cfg.prod_path}/state_machine/cve_state_machine"


REGISTRY_ENTRIES = (
    # advisory family: fixed per-query driver and scheduling overhead
    "flagship_advisory_resolution",
    "window_top1_per_key",
    "ci_compound_key_left_join",
    "ttl_pending_work",
    "left_anti_cache_skip",
    "upsert_anti_union",
    "state_machine_native",
    "case_ranked_order",
    "cast_projection",
    # graph fixpoint loops: one or more Spark jobs per round
    "bfs_reachable_hops",
    "k_core_suppliers",
)


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    work: str
    nproc: int
    tracer: Tracer = field(init=False)

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace)


@dataclass
class OpResult:
    run_s: float
    parts_s: list[float]  # phase calls, or registry entry executions (record only)
    cpu_s: float
    written_mb: float
    stored_mb: float
    failed: int
    attempted: int


def start_session(ctx: Context):
    from advisorydatapipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(ctx.work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(ctx.work, 'derby')}"
        ),
    }
    if ctx.trace:
        log_dir = os.path.join(ctx.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                # no Python zstd module to read the default codec
                "spark.eventLog.compress": "false",
            }
        )
    with ctx.tracer.span("session.start"):
        return get_spark(
            f"perfbench_{ctx.workload}", master=f"local[{ctx.nproc}]", extra_conf=conf
        )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process started
    under this one (the JVM, its Python daemon and workers) has ended."""
    from pyspark import SparkContext

    started = [p for p in procstat.tree_pids() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while alive := [p for p in started if procstat.is_running(p)]:
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.2)


def hygiene(spark) -> None:
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class Measure:
    """CPU and storage-write deltas of the process tree around a block."""

    def __enter__(self):
        # flush dirty pages first: a page written back during the block
        # and dirtied again would count twice
        os.sync()
        pids = procstat.tree_pids()
        self.cpu0 = procstat.cpu_seconds(pids)
        self.wb0 = procstat.write_bytes(pids)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        pids = procstat.tree_pids()
        self.cpu = procstat.cpu_seconds(pids) - self.cpu0
        self.written_mb = (procstat.write_bytes(pids) - self.wb0) / MB


# --- pipeline workload ------------------------------------------------------


class PipelineWorkload:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.adv = inputs.advisory_input(ctx.seed, PIPELINE_KEYS)
        self.input_dir = os.path.join(ctx.work, "input")
        os.makedirs(self.input_dir)
        adv = self.adv
        everything = np.ones(len(adv.cve), dtype=bool)
        for name, mask in (
            ("all", everything),
            ("base", ~adv.is_new),
            ("seed_a", adv.is_seed_a),
        ):
            pq.write_table(adv.advisories(mask), self._input(name))
            pq.write_table(adv.overrides(mask), self._input(f"overrides_{name}"))
        self.base = os.path.join(ctx.work, "base")
        self.snapshot = base_snapshot(ctx.root)
        self.expected_keys = adv.key_set()
        self.expected_pending = adv.pending(~adv.is_seed_a & ~adv.is_new)
        self.worklist_keys = adv.pending(~everything)
        self.digest: str | None = None
        self.change_types: dict[str, int] = {}

    def _input(self, name: str) -> str:
        return os.path.join(self.input_dir, f"{name}.parquet")

    def _config(self, clock):
        from advisorydatapipeline_spark.config import PipelineConfig

        return PipelineConfig(
            self.base, cache_ttl_hours=inputs.TTL_HOURS, clock=lambda: clock
        )

    def _sources(self, fetch, now):
        from pyspark.sql import types as T

        from advisorydatapipeline_spark.operators.enrichment import UpstreamSource
        from advisorydatapipeline_spark.pipeline import (
            NormalizedSource,
            default_normalize,
        )

        result_schema = T.StructType(
            [
                T.StructField("found", T.BooleanType(), True),
                T.StructField("upstream_fixed_version", T.StringType(), True),
                T.StructField("upstream_status", T.StringType(), True),
                T.StructField("query_timestamp", T.TimestampType(), True),
            ]
        )
        return [
            NormalizedSource(
                upstream=UpstreamSource("nvd", fetch, result_schema, priority=5),
                normalize=default_normalize("nvd", 5, now),
            )
        ]

    def seed(self, spark) -> None:
        """Seed the base through ``run_pipeline`` calls at two clock
        values, and keep its prod and cache as the snapshot every op
        starts from. The base does not depend on the workload seed, so
        the snapshot is kept across runs of one checkout."""
        from advisorydatapipeline_spark.pipeline import run_pipeline

        seeding = (("seed_a", "seed_a", inputs.T0), ("seed_b", "base", inputs.T1))
        for run_id, name, clock in seeding:
            run_pipeline(
                spark,
                self._config(clock),
                run_id,
                advisories=spark.read.parquet(self._input(name)),
                overrides=spark.read.parquet(self._input(f"overrides_{name}")),
                sources=self._sources(inputs.make_fetch(0, self.ctx.seed, clock), clock),
            )
            hygiene(spark)
        cfg = self._config(inputs.T1)
        tmp = f"{self.snapshot}.tmp{os.getpid()}"
        for path in (cfg.prod_path, cfg.cache_path):
            shutil.copytree(path, os.path.join(tmp, os.path.basename(path)))
        os.replace(tmp, self.snapshot)
        shutil.rmtree(self.base)

    def restore(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        shutil.copytree(self.snapshot, self.base)

    def op(self, spark) -> OpResult:
        from advisorydatapipeline_spark import pipeline

        tracer = self.ctx.tracer
        cfg = self._config(inputs.T2)
        fetch = inputs.make_fetch(1, self.ctx.seed, inputs.T2)
        if self.ctx.trace:
            fetch, self.fetch_acc = _timed_fetch(spark, fetch)
        sources = self._sources(fetch, inputs.T2)
        adv = spark.read.parquet(self._input("all"))
        ov = spark.read.parquet(self._input("overrides_all"))
        parts = []
        with Measure() as m, tracer.span("op", workload=self.ctx.workload):
            try:
                t = time.perf_counter()
                with tracer.span("pipeline.ingest"):
                    a, o = pipeline.run_ingest_phase(spark, cfg, RUN_ID, adv, ov)
                parts.append(time.perf_counter() - t)
                t = time.perf_counter()
                with tracer.span("pipeline.enrich"):
                    normalized = pipeline.run_enrich_phase(
                        spark, cfg, RUN_ID, a, o, sources
                    )
                parts.append(time.perf_counter() - t)
                t = time.perf_counter()
                with tracer.span("pipeline.state_machine"):
                    pipeline.run_state_machine_phase(spark, cfg, RUN_ID, a, o, normalized)
                parts.append(time.perf_counter() - t)
                raised = None
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                raised = exc
        stored_mb = procstat.dir_bytes(self.base) / MB
        problems = [f"raised {raised!r}"] if raised else self.check(cfg)
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        return OpResult(
            m.wall, parts, m.cpu, m.written_mb, stored_mb, int(bool(problems)), 1
        )

    def check(self, cfg) -> list[str]:
        """Invariants of one run, read straight from the files it left."""
        problems = []
        prod = pq.read_table(prod_table(cfg)).to_pandas()
        keys = set(zip(prod["cve_id"], prod["package"]))
        if len(prod) != len(keys):
            problems.append(f"prod has {len(prod) - len(keys)} duplicate keys")
        if keys != self.expected_keys:
            problems.append(
                f"prod key set differs: {len(keys - self.expected_keys)} extra, "
                f"{len(self.expected_keys - keys)} missing"
            )
        bad_status = set(prod["status"].dropna()) - set(inputs.STATES)
        if prod["status"].isna().any() or bad_status:
            problems.append(f"status outside its domain: {sorted(map(str, bad_status))}")
        bad_change = set(prod["change_type"].dropna()) - set(inputs.CHANGE_TYPES)
        if prod["change_type"].isna().any() or bad_change:
            problems.append(f"change_type outside its domain: {sorted(map(str, bad_change))}")
        raw_dir = f"{cfg.run_path(RUN_ID)}/enrichment/raw/nvd"
        staged = pads.dataset(raw_dir, format="parquet").count_rows()
        if staged != self.expected_pending:
            problems.append(
                f"staged raw enrichment rows {staged} != expected pending {self.expected_pending}"
            )
        self.staged_raw = staged
        self.cache_rows = pads.dataset(cfg.cache_path, format="parquet").count_rows()
        self.prod_rows = len(prod)
        ordered = prod.sort_values(["cve_id", "package"]).reset_index(drop=True)
        digest = hashlib.sha256(
            pd.util.hash_pandas_object(ordered, index=False).to_numpy().tobytes()
        ).hexdigest()
        if self.digest is None:
            self.digest = digest
            self.change_types = prod["change_type"].value_counts().to_dict()
        elif digest != self.digest:
            problems.append("prod digest differs from the first rep")
        return problems


def base_snapshot(root: str) -> str:
    """Where the seeded base is kept. The name hashes everything the
    base depends on: the package sources, the generator, and this file
    (the base size and the seeding runs)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "advisorydatapipeline_spark")
    files = [os.path.join(root, "perfbench", n) for n in ("inputs.py", "workloads.py")]
    for dirpath, _dirs, names in os.walk(pkg):
        files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        with open(path, "rb") as f:
            h.update(path[len(root):].encode() + f.read())
    return os.path.join(root, ".perfbench_work", "base-cache", h.hexdigest()[:16])


def seed_base(ctx: Context) -> None:
    """Seed the pipeline base snapshot in this process, then stop Spark."""
    wl = PipelineWorkload(ctx)
    spark = start_session(ctx)
    try:
        wl.seed(spark)
    finally:
        stop_session(spark)


def _timed_fetch(spark, fetch):
    """Wrap the fetch so the traced run can sum its wall time across
    Python workers with an accumulator."""
    acc = spark.sparkContext.accumulator(0.0)

    def timed(cve_id, package):
        t = time.perf_counter()
        try:
            return fetch(cve_id, package)
        finally:
            acc.add(time.perf_counter() - t)

    return timed, acc


# --- registry workload ------------------------------------------------------


class RegistryWorkload:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        inputs.write_tables(inputs.star_schema(ctx.seed, REGISTRY_SF), self.sf_dir)
        self.failed_entries: set[str] = set()

    def restore(self) -> None:
        pass

    def warm_and_check(self, spark) -> float:
        """The warm-up op: every entry once, compared with its DuckDB
        oracle. Returns the Spark-side seconds (the warm-up share)."""
        sys.path.insert(0, os.path.join(self.ctx.root, "tools"))
        from check_oracle import compare_query, connect_duck

        from advisorydatapipeline_spark.registry import ORACLES, QUERIES

        con = connect_duck(self.sf_dir)
        spark_s = 0.0
        for name in REGISTRY_ENTRIES:
            try:
                problems, _rows, s_sec, _o_sec = compare_query(
                    spark, con, name, QUERIES[name], ORACLES.get(name), self.sf_dir
                )
            except Exception as exc:  # noqa: BLE001 - recorded as a failed entry
                problems, s_sec = [repr(exc)], 0.0
            spark_s += s_sec
            print(f"perfbench: check {name} spark_s={s_sec:.3f}", file=sys.stderr)
            if problems or name not in ORACLES:
                self.failed_entries.add(name)
                why = problems or "no oracle"
                print(f"perfbench: oracle check failed: {name}: {why}", file=sys.stderr)
            hygiene(spark)
        con.close()
        return spark_s

    def op(self, spark) -> OpResult:
        from advisorydatapipeline_spark.registry import QUERIES

        tracer = self.ctx.tracer
        parts, failed = [], 0
        with Measure() as m, tracer.span("op", workload=self.ctx.workload):
            for name in REGISTRY_ENTRIES:
                t = time.perf_counter()
                try:
                    with tracer.span("query", entry=name):
                        QUERIES[name](spark, self.sf_dir).write.format("noop").mode(
                            "overwrite"
                        ).save()
                    failed += name in self.failed_entries
                except Exception as exc:  # noqa: BLE001 - counted as a failed op
                    print(f"perfbench: {name} raised {exc!r}", file=sys.stderr)
                    failed += 1
                parts.append(time.perf_counter() - t)
                spark.catalog.clearCache()
        # A placeholder: the pass is read-only and stores nothing. This is
        # the benchmark's temp dir (mostly native libraries Spark unpacks);
        # Spark's local dirs would count shuffle files, but the context
        # cleaner deletes those at GC-dependent times, so they are unsteady.
        stored_mb = procstat.dir_bytes(os.path.join(self.ctx.work, "tmp")) / MB
        return OpResult(
            sum(parts), parts, m.cpu, m.written_mb, stored_mb, failed, len(parts)
        )


# --- driver -----------------------------------------------------------------


def run(ctx: Context, process_start: float) -> tuple[dict, dict]:
    """Run one workload. Returns ``(result, record)``: the result line's
    fields, and the longer record kept beside it (samples, set-up
    parts, trace tables)."""
    import pyspark  # noqa: F401

    import advisorydatapipeline_spark.pipeline  # noqa: F401
    import advisorydatapipeline_spark.registry  # noqa: F401

    import_s = time.time() - process_start
    t = time.perf_counter()
    if ctx.workload == "registry_queries":
        wl = RegistryWorkload(ctx)
    else:
        wl = PipelineWorkload(ctx)
    input_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = start_session(ctx)
    session_s = time.perf_counter() - t
    restore_io = None
    if ctx.trace and isinstance(wl, PipelineWorkload):
        from advisorydatapipeline_spark import pipeline

        cfg = wl._config(inputs.T2)
        restore_io = wrap_pipeline_io(
            pipeline,
            ctx.tracer,
            lambda p: path_role(p, cfg.run_path(RUN_ID), prod_table(cfg), cfg.cache_path),
        )
    if isinstance(wl, RegistryWorkload):
        # an entry that fails its oracle check fails every timed execution
        warm_s, warm_attempted, warm_failed = wl.warm_and_check(spark), 0, 0
    else:
        wl.restore()
        warm = wl.op(spark)
        warm_s, warm_attempted, warm_failed = warm.run_s, warm.attempted, warm.failed
    hygiene(spark)
    setup_s = import_s + session_s + warm_s

    ops: list[OpResult] = []
    extras: list[dict] = []
    peak = procstat.PeakRss()
    timed = 0.0
    while timed < ctx.seconds or not ops:
        wl.restore()
        hygiene(spark)
        with peak:
            r = wl.op(spark)
        ops.append(r)
        extras.append(_op_extras(wl))
        timed += r.run_s
    if restore_io:
        restore_io()
    stop_session(spark)

    attempted = warm_attempted + sum(o.attempted for o in ops)
    failed = warm_failed + sum(o.failed for o in ops)
    record = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": ctx.trace,
        "ops": len(ops),
        "samples": {
            "run_s": [o.run_s for o in ops],
            "parts_s": [o.parts_s for o in ops],
            "cpu_s": [o.cpu_s for o in ops],
            "written_mb": [o.written_mb for o in ops],
            "stored_mb": [o.stored_mb for o in ops],
        },
        "setup": {
            "import_s": import_s,
            "session_s": session_s,
            "warm_up_s": warm_s,
            "input_s": input_s,
        },
        "op_extras": extras,
    }
    if isinstance(wl, PipelineWorkload):
        record["expected_pending"] = wl.expected_pending
        record["worklist_keys"] = wl.worklist_keys
        record["change_types"] = wl.change_types
        record["prod_digest"] = wl.digest
    else:
        record["oracle_failed"] = sorted(wl.failed_entries)
    if ctx.trace:
        from perfbench import layers

        metrics, tables = layers.per_layer(ctx, wl, ops, extras)
        record.update(tables)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s": (statistics.median([o.run_s for o in ops]), "s"),
            "cpu_s": (statistics.median([o.cpu_s for o in ops]), "s"),
            "written_mb": (statistics.median([o.written_mb for o in ops]), "MB"),
            "stored_mb": (statistics.median([o.stored_mb for o in ops]), "MB"),
            "peak_rss_mb": (peak.peak / MB, "MB"),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


def _op_extras(wl) -> dict:
    """Per-op values the trace tables need, read after the op."""
    if isinstance(wl, PipelineWorkload):
        out = {
            "staged_raw": getattr(wl, "staged_raw", 0),
            "cache_rows": getattr(wl, "cache_rows", 0),
            "prod_rows": getattr(wl, "prod_rows", 0),
        }
        acc = getattr(wl, "fetch_acc", None)
        if acc is not None:
            out["fetch_s"] = acc.value
        return out
    return {}
