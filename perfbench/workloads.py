"""The benchmark's run context and its gate workloads.

A run is one closed loop with one client: the harness sends the next
operation only after the previous one has finished. Operations are
grouped in passes, one pass being one run of the workload's operation
mix; passes repeat until the measuring window is spent.
"""

from __future__ import annotations

import os
import random
import sys
import time
from contextlib import contextmanager

from perfbench import harness
from perfbench.trace import FAMILIES, Tracer, spark_op_stats

#: read-only gates whose fixed cost per call is a large share of their time
#: (events_sessionization is left out: it truncates timestamps to whole
#: seconds before comparing a gap with 30 minutes, so a gap of 1800.x s
#: ends no session and the result differs from its oracle on some seeds)
OLAP_GATES = (
    "flagship_revenue_by_region", "q1_pricing_summary",
    "q5_local_supplier_volume", "q9_product_profit",
    "q18_large_volume_orders", "asof_click_attribution", "skew_salted_agg",
    "bucketed_colocated_join", "lineitem_price_qty_regression",
)


class Failure(Exception):
    """An operation returned a wrong result."""


class Run:
    """State of one benchmark run: session, tracer, samples and counts."""

    def __init__(self, spark, run_dir: str, seed: int, seconds: float,
                 trace: bool, t_process: float, jvm_pid: int | None,
                 get_spark_s: float):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_process = t_process
        self.jvm_pid = jvm_pid
        self.get_spark_s = get_spark_s
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lat: dict[str, list[float]] = {}
        self.pass_s: list[float] = []          # untraced passes
        self.traced_pass_s: list[float] = []
        self.traced_groups: set[str] = set()
        self.traced_windows: list[tuple[float, float]] = []
        self.setup_s: float | None = None
        self.setup_counters: dict[str, float] = {}
        self.check_s = 0.0      # result checks inside passes, kept out of pass_s
        self._op_seq = 0

    # -- operations ----------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            raise Failure(what)

    def record_failure(self, name: str, err: BaseException) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{name}: {type(err).__name__}: "
                                 f"{str(err)[:300]}")
        print(f"# FAIL {name}: {type(err).__name__}: {str(err)[:300]}",
              file=sys.stderr)

    def op(self, kind: str, name: str, body, timed: bool = True):
        """Run one operation. ``body(mark)`` does the work; it calls
        ``mark()`` when the timed part ends (checks after it are untimed).
        Latency samples go to ``self.lat[kind]`` when ``timed``. An
        exception or a failed check counts the operation as failed."""
        self.attempted += 1
        self._op_seq += 1
        op_id = f"op{self._op_seq}-{name}"
        tracing = self.tracer.recording
        sc = self.spark.sparkContext
        if tracing:
            self.tracer.op_id = op_id
            sc.setJobGroup(op_id, name, False)
            self.traced_groups.add(op_id)
        ends: list[float] = []
        w0, t0 = time.time(), time.perf_counter()

        def mark():
            ends.append(time.perf_counter())
            if tracing:  # the checks that follow are not the operation's
                self.traced_windows.append((w0, time.time()))
                sc.setJobGroup(f"{op_id}-check", name, False)

        try:
            with self.tracer.span(f"op.{kind}", gate=name):
                body(mark)
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            self.record_failure(name, e)
            return
        finally:
            if tracing:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.tracer.op_id = None
        t_end = time.perf_counter()
        if ends:
            self.check_s += t_end - ends[0]
        dt = (ends[0] if ends else t_end) - t0
        print(f"# {kind} {name} {dt:.3f}s", file=sys.stderr)
        if timed:
            self.lat.setdefault(kind, []).append(dt)

    @contextmanager
    def checking(self):
        """Harness work inside a pass (checks, mirror upkeep) that pass_s
        leaves out."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def begin_timing(self) -> None:
        """Set-up ends here: the next operation is the first timed one."""
        self.setup_s = time.time() - self.t_process
        self.setup_counters = dict(self.tracer.counters)
        self.tracer.counters.clear()
        self.traced_groups.clear()
        self.traced_windows.clear()
        self.tracer.recording = False

    def run_passes(self, one_pass) -> None:
        """Closed loop: run passes until the window is spent. A traced run
        alternates untraced and traced passes, at least one of each, so the
        tracing overhead is measured inside the run."""
        t_end = time.perf_counter() + self.seconds
        n = 0
        while n < (2 if self.trace else 1) or time.perf_counter() < t_end:
            traced = self.trace and n % 2 == 1
            self.tracer.recording = traced
            t0, c0 = time.perf_counter(), self.check_s
            one_pass(n)
            dt = time.perf_counter() - t0 - (self.check_s - c0)
            self.tracer.recording = False
            if traced:
                self.traced_pass_s.append(dt)
            else:
                self.pass_s.append(dt)
            n += 1

    # -- results -------------------------------------------------------------

    def per_layer(self) -> dict[str, float]:
        """Per-layer metrics per traced pass (ratios as ratios)."""
        c = self.tracer.counters
        n = max(len(self.traced_pass_s), 1)
        per = lambda v: v / n  # noqa: E731
        st = spark_op_stats(self.spark, self.traced_groups, self.traced_windows)
        wall = harness.median(self.traced_pass_s)
        busy = per(st.get("spark.busy_s", 0.0))
        out = {k: per(st.get(k, 0.0)) for k in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.sql_execs",
            "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
            "spark.spill_bytes", "spark.input_bytes")}
        out["spark.busy_s"] = busy
        out["spark.outside_s"] = max(wall - busy, 0.0)
        out["spark.outside_share"] = out["spark.outside_s"] / wall if wall else 0.0
        out["sources.load_tables_calls"] = per(c["sources.load_tables.calls"])
        out["sources.load_tables_s"] = per(c["sources.load_tables.s"])
        out["sources.parquet_opens"] = per(c["sources.parquet_open.calls"])
        out["session.get_spark_s"] = self.get_spark_s
        builds = ("scratch.index_build.calls", "scratch.bucketed_build.calls")
        out["scratch.index_builds"] = per(sum(c[k] for k in builds))
        out["scratch.setup_index_builds"] = sum(
            self.setup_counters.get(k, 0.0) for k in builds)
        out["scratch.index_hits"] = per(c["scratch.index_hits"])
        out["scratch.cached_parquet_calls"] = per(c["scratch.cached_parquet.calls"])
        out["engine.sql_calls"] = per(c["engine.sql.calls"])
        out["engine.sql_s"] = per(c["engine.sql.s"])
        attempts = c["mv.try_rewrite.calls"]
        out["mv.rewrite_attempts"] = per(attempts)
        out["mv.rewrite_hit_ratio"] = c["mv.rewrite_hits"] / attempts if attempts else 0.0
        out["mv.try_rewrite_s"] = per(c["mv.try_rewrite.s"])
        refreshes = c["mv.refresh.calls"]
        out["mv.refresh_s"] = per(c["mv.refresh.s"])
        out["mv.refresh_delta_ratio"] = (c["mv.refresh_mode_matched"] / refreshes
                                         if refreshes else 0.0)
        out["tables.commits"] = per(c["tables.commit.calls"])
        out["tables.commit_s"] = per(c["tables.commit.s"])
        out["tables.meta_load_s"] = per(c["tables.meta_load.s"])
        for op in ("merge", "delete_where", "update_where", "append"):
            out[f"tables.dml_s.{op}"] = per(c[f"tables.dml.{op}.s"])
        out["tables.scan_plan_s"] = per(c["tables.scan_plan.s"])
        for proc in ("rewrite_data_files", "expire_snapshots",
                     "remove_orphan_files"):
            out[f"procedures.{proc}_s"] = per(c[f"procedures.{proc}.s"])
        out["procedures.bytes_rewritten"] = per(c["procedures.bytes_rewritten"])
        for fam in FAMILIES:
            for k in ("build_s", "action_s"):
                out[f"operators.{fam}.{k}"] = per(c[f"operators.{fam}.{k}"])
        out["cache.pins_released"] = per(c["cache.pins_released"])
        out["cache.release_s"] = per(c["cache.release_pins.s"])
        untraced = harness.median(self.pass_s)
        out["trace.overhead_ratio"] = wall / untraced if untraced else 0.0
        return out


class GateWorkload:
    """Registered gates at a scale factor. The seed draws the data and
    permutes the gate order in every pass. Set-up checks each gate's result
    once against its DuckDB oracle; every timed repetition must then
    reproduce the checked result's digest."""

    def __init__(self, run: Run, gates: tuple[str, ...], sf: float):
        self.run = run
        self.gates = gates
        self.sf = sf
        self.sf_dir = os.path.join(run.run_dir, "data")
        self.ref: dict[str, tuple] = {}

    def setup(self) -> None:
        import duckdb

        from iceberg_demo_spark import registry
        from perfbench import datagen

        datagen.write_tables(self.sf_dir, self.sf, self.run.seed)
        con = duckdb.connect(config={"threads": 1})
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        for name in self._order(-1):
            self.run.op("warm", name, lambda mark, n=name: self._warm(
                registry, con, n), timed=False)
        con.close()

    def _order(self, pass_no: int) -> list[str]:
        order = list(self.gates)
        random.Random(f"{self.run.seed}/{pass_no}").shuffle(order)
        return order

    def _warm(self, registry, con, name: str) -> None:
        from iceberg_demo_spark import cache

        spark = self.run.spark
        try:
            df = registry.QUERIES[name](spark, self.sf_dir)
            schema, srows = df.schema, [tuple(r) for r in df.collect()]
        finally:
            cache.release_pins()
        dcols, drows = harness.duck_rows(con, registry.ORACLES[name])
        diff = harness.compare(schema.names, srows, dcols, drows)
        if diff:
            raise Failure(f"oracle: {diff}")
        # the reference digest of the checked rows, without running the
        # gate again
        self.ref[name] = harness.digest(spark.createDataFrame(srows, schema))

    def one_pass(self, pass_no: int) -> None:
        from iceberg_demo_spark import cache, registry

        run, tr = self.run, self.run.tracer
        for name in self._order(pass_no):
            fn = registry.QUERIES[name]
            fam = fn.__module__.rsplit(".", 1)[-1]

            def body(mark, name=name, fn=fn, fam=fam):
                try:
                    t0 = time.perf_counter()
                    with tr.span("gate.build", gate=name):
                        df = fn(run.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with tr.span("gate.action", gate=name):
                        got = harness.digest(df)
                    tr.add(f"operators.{fam}.build_s", t1 - t0)
                    tr.add(f"operators.{fam}.action_s", time.perf_counter() - t1)
                finally:
                    cache.release_pins()
                mark()
                run.check(name in self.ref, "no oracle-checked reference")
                run.check(got == self.ref[name],
                          f"digest {got} != reference {self.ref[name]}")

            run.op("read", name, body)
