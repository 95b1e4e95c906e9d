"""Traced-run tooling: in-memory spans, layer wrappers and Spark job stats.

A traced run wraps the public functions of each engine layer from here,
without touching the engine's code. Every wrapped call records a span
(name, start, end, parent, operation id) and bumps the layer's counters
while recording is on; with recording off a wrapper is a flag check and
a call. Spans stay in memory and are written once, when the run ends.

Spark's own numbers come from its live status stores over py4j: jobs are
attributed to operations by the job group the harness sets per operation.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: operator families (module names under iceberg_demo_spark.operators)
#: whose gates the workloads run; every traced run reports all of them
FAMILIES = ("relational", "tpch_partsupp", "temporal", "skew", "layout",
            "analytics")

TABLE_DML = ("merge", "delete_where", "update_where", "append")

#: the per-layer metrics every traced run prints, in output order, with units
PER_LAYER_UNITS: dict[str, str] = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sql_execs": "count", "spark.busy_s": "s", "spark.outside_s": "s",
    "spark.outside_share": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "sources.load_tables_calls": "count", "sources.load_tables_s": "s",
    "sources.parquet_opens": "count",
    "session.get_spark_s": "s",
    "scratch.index_builds": "count", "scratch.setup_index_builds": "count",
    "scratch.index_hits": "count", "scratch.cached_parquet_calls": "count",
    "engine.sql_calls": "count", "engine.sql_s": "s",
    "mv.rewrite_attempts": "count", "mv.rewrite_hit_ratio": "ratio",
    "mv.try_rewrite_s": "s", "mv.refresh_s": "s",
    "mv.refresh_delta_ratio": "ratio",
    "tables.commits": "count", "tables.commit_s": "s",
    "tables.meta_load_s": "s",
    **{f"tables.dml_s.{op}": "s" for op in TABLE_DML},
    "tables.bytes_written": "bytes", "tables.live_files": "count",
    "tables.manifests": "count", "tables.delete_files": "count",
    "tables.scan_plan_s": "s", "tables.files_read_ratio": "ratio",
    "procedures.rewrite_data_files_s": "s",
    "procedures.expire_snapshots_s": "s",
    "procedures.remove_orphan_files_s": "s",
    "procedures.bytes_rewritten": "bytes",
    **{f"operators.{f}.{k}": "s" for f in FAMILIES
       for k in ("build_s", "action_s")},
    "cache.pins_released": "count", "cache.release_s": "s",
    "dml.write_p50_s": "s", "dml.write_tail_s": "s",
    "dml.refresh_p50_s": "s", "dml.maint_p50_s": "s",
    "dml.write_amp": "ratio", "dml.space_amp": "ratio",
    "trace.overhead_ratio": "ratio",
}


class Tracer:
    """Span and counter store for one run. ``recording`` gates every
    wrapper; the harness turns it on for traced passes and for set-up."""

    def __init__(self) -> None:
        self.recording = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op_id: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.recording:
            yield None
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, key: str, value: float = 1.0) -> None:
        if self.recording:
            self.counters[key] += value

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper, and rebind
        every loaded ``iceberg_demo_spark`` module that imported the same
        function by name. Each recorded call adds ``<name>.calls`` and
        ``<name>.s``; ``on_result(tracer, args, kwargs, result)`` adds
        layer-specific counters."""
        orig = owner.__dict__[attr]
        static = isinstance(orig, staticmethod)
        fn = orig.__func__ if static else orig
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            with tracer.span(name):
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                tracer.counters[f"{name}.s"] += time.perf_counter() - t0
            tracer.counters[f"{name}.calls"] += 1
            if on_result is not None:
                on_result(tracer, args, kwargs, out)
            return out

        wrapper.__wrapped__ = fn
        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)
        for mod_name, mod in list(sys.modules.items()):
            if (mod_name.startswith("iceberg_demo_spark") and mod is not owner
                    and mod.__dict__.get(attr) is fn):
                setattr(mod, attr, wrapper)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": dict(self.counters),
                       **extra}, fh)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of every engine layer the workloads
    reach. Span names are ``<layer>.<function>``."""
    from pyspark.sql.readwriter import DataFrameReader

    from iceberg_demo_spark import cache, scratch
    from iceberg_demo_spark.engine import Engine
    from iceberg_demo_spark.mv.manager import MVManager
    from iceberg_demo_spark.mv.rewriter import Rewriter
    from iceberg_demo_spark.operators import layout
    from iceberg_demo_spark.sources import testdata
    from iceberg_demo_spark.tables import format as tformat
    from iceberg_demo_spark.tables import procedures
    from iceberg_demo_spark.tables.table import Table

    def on_index_current(t, _a, _kw, hit):
        t.add("scratch.index_hits", 1.0 if hit else 0.0)

    def on_rewrite(t, _a, _kw, res):
        t.add("mv.rewrite_hits", 1.0 if res is not None else 0.0)

    def on_refresh(t, args, kw, _res):
        want = ("delta" if kw.get("delta") else
                "incremental" if kw.get("incremental") else "full")
        t.add("mv.refresh_mode_matched",
              1.0 if args[0].last_refresh_mode == want else 0.0)

    def on_release(t, _a, _kw, n):
        t.add("cache.pins_released", float(n or 0))

    def on_rewrite_files(t, _a, _kw, res):
        t.add("procedures.bytes_rewritten",
              float((res or {}).get("rewritten_bytes_count", 0)))

    tracer.wrap(testdata, "load_tables", "sources.load_tables")
    tracer.wrap(DataFrameReader, "parquet", "sources.parquet_open")
    tracer.wrap(scratch, "index_current", "scratch.index_current",
                on_index_current)
    tracer.wrap(scratch, "write_index_manifest", "scratch.index_build")
    tracer.wrap(layout, "write_bucketed", "scratch.bucketed_build")
    tracer.wrap(scratch, "cached_parquet", "scratch.cached_parquet")
    tracer.wrap(Engine, "sql", "engine.sql")
    tracer.wrap(Rewriter, "try_rewrite", "mv.try_rewrite", on_rewrite)
    tracer.wrap(MVManager, "refresh", "mv.refresh", on_refresh)
    tracer.wrap(tformat.TableMetadata, "save", "tables.commit")
    tracer.wrap(tformat.TableMetadata, "load", "tables.meta_load")
    for op in TABLE_DML:
        tracer.wrap(Table, op, f"tables.dml.{op}")
    tracer.wrap(Table, "scan", "tables.scan_plan")
    for proc in ("rewrite_data_files", "expire_snapshots",
                 "remove_orphan_files"):
        tracer.wrap(procedures, proc, f"procedures.{proc}",
                    on_rewrite_files if proc == "rewrite_data_files" else None)
    tracer.wrap(cache, "release_pins", "cache.release_pins", on_release)


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_op_stats(spark, groups: set[str],
                   windows: list[tuple[float, float]]) -> dict[str, float]:
    """Totals over the Spark jobs whose job group is in ``groups``, read
    from the live status stores: jobs, stages, tasks, the union of job
    intervals, and the stages' shuffle, spill and input bytes; plus the
    SQL executions submitted inside ``windows``, the operations' timed
    intervals (temp-view registrations run no jobs of their own, so time
    is the only way to attribute them)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    intervals = []
    out = defaultdict(float)
    it = jobs.iterator()
    while it.hasNext():
        j = it.next()
        grp = j.jobGroup()
        if not grp.isDefined() or grp.get() not in groups:
            continue
        out["spark.jobs"] += 1
        out["spark.tasks"] += j.numTasks()
        ids = j.stageIds()
        sit = ids.iterator()
        while sit.hasNext():
            stage_ids.add(int(sit.next()))
        start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if start is not None and end is not None:
            intervals.append((start, end))
    out["spark.stages"] = float(len(stage_ids))
    out["spark.busy_s"] = union_seconds(intervals)
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._jvm.double, 0), None)
    sit = stages.iterator()
    while sit.hasNext():
        s = sit.next()
        if int(s.stageId()) not in stage_ids:
            continue
        out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
        out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["spark.input_bytes"] += s.inputBytes()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    eit = execs.iterator()
    while eit.hasNext():
        t = eit.next().submissionTime() / 1000.0
        if any(lo <= t <= hi for lo, hi in windows):
            out["spark.sql_execs"] += 1
    return dict(out)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
