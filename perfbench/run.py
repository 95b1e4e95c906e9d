"""Benchmark for the iceberg_demo_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one closed loop with one
client on ``local[nproc]``: it generates its inputs from ``--seed`` under
its own temporary directory in the checkout, sets the workload up, then
repeats passes of the workload's operation mix for ``--seconds`` and
checks every operation's result (see ``workloads.py`` and ``dml.py``).

Workloads:

* ``olap_read``     short read-only SQL gates, where the fixed cost per call
                    (source loading, temp views, AQE stage jobs) dominates;
* ``table_dml_mv``  MERGE/DELETE/UPDATE/append, delta-refreshed views,
                    rewritten and refused SELECTs, range and time-travel
                    scans and table maintenance on one long-lived table.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run, and
the spans go to ``.perfbench_out/`` in the checkout. The line before it
is a report with the environment, every figure's sample count and the
tail percentile used.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: scale factor of each workload's generated data (lineitem = 6M x sf)
WORKLOAD_SF = {"olap_read": 0.01, "table_dml_mv": 0.05}

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "read_p50_s": "s",
                    "peak_rss_mb": "MiB"}


def _pin_environment(run_dir: str) -> dict:
    """One process on all cores, a JVM heap well below physical RAM,
    single-threaded native math, and every temporary file under the run's
    own directory."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = f"{min(2048, phys_mb // 4)}m"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": mem,
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1", "PYSPARK_PYTHON": sys.executable,
    })
    import tempfile

    import pyarrow
    tempfile.tempdir = None  # re-read TMPDIR
    pyarrow.set_cpu_count(1)
    pyarrow.set_io_thread_count(1)
    return {"cpus": cpus, "driver_mem": mem, "phys_mb": phys_mb}


def _start_spark(run_dir: str):
    """The engine's session, with the JVM's temporary files in the run's
    directory, a heap fixed at its maximum size (so resident memory does
    not follow the collector's resizing), and room in the status stores
    for every job of the run."""
    from iceberg_demo_spark.session import get_spark

    retained = "1000000"
    return get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        "spark.ui.retainedJobs": retained, "spark.ui.retainedStages": retained,
        "spark.sql.ui.retainedExecutions": retained,
        "spark.ui.showConsoleProgress": "false",
    })


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _make_workload(name: str, run, sf: float):
    from perfbench.dml import DmlWorkload
    from perfbench.workloads import OLAP_GATES, GateWorkload

    if name == "table_dml_mv":
        return DmlWorkload(run, sf)
    return GateWorkload(run, OLAP_GATES, sf)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "iceberg_demo_spark")):
        print(f"engine package iceberg_demo_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    t_process = harness.process_start_time()
    run_dir = os.path.join(ROOT, ".perfbench_tmp",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    load_before = os.getloadavg()[0]
    spark = None
    try:
        env = _pin_environment(run_dir)
        import pyspark

        from iceberg_demo_spark import registry
        from perfbench.trace import PER_LAYER_UNITS, install_layer_wrappers
        from perfbench.workloads import Run

        registry.load_all()
        _phase("imports", t_process)
        t0 = time.perf_counter()
        spark = _start_spark(run_dir)
        get_spark_s = time.perf_counter() - t0
        _phase("session", t_process)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        run = Run(spark, run_dir, args.seed, args.seconds, bool(args.trace),
                  t_process, jvm.pid if jvm else None, get_spark_s)
        sf = args.sf if args.sf is not None else WORKLOAD_SF[args.workload]
        wl = _make_workload(args.workload, run, sf)
        if args.trace:
            install_layer_wrappers(run.tracer)
            run.tracer.recording = True
        wl.setup()
        run.begin_timing()
        _phase("setup", t_process)
        run.run_passes(wl.one_pass)
        _phase("passes", t_process)
        wl_report = wl.report() if hasattr(wl, "report") else {}
        per_layer = run.per_layer() if args.trace else {}
        rss = harness.peak_rss_mb(run.jvm_pid)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        _phase("teardown", t_process)

    reads = run.lat.get("read", [])
    read_pct, read_tail = harness.tail(reads)
    e2e = {"setup_s": run.setup_s, "pass_s": harness.median(run.pass_s),
           "read_p50_s": harness.median(reads), "read_tail_s": read_tail,
           "peak_rss_mb": rss}
    samples = {"setup_s": 1, "pass_s": len(run.pass_s), "read_p50_s": len(reads),
               "read_tail_s": len(reads), "peak_rss_mb": 1}
    writes = run.lat.get("write", [])
    write_pct, write_tail = harness.tail(writes)
    dml = {
        "dml.write_p50_s": harness.median(writes), "dml.write_tail_s": write_tail,
        "dml.refresh_p50_s": harness.median(run.lat.get("refresh", [])),
        "dml.maint_p50_s": harness.median(run.lat.get("maint", [])),
        "dml.write_amp": wl_report.get("write_amp", float("nan")),
        "dml.space_amp": wl_report.get("space_amp", float("nan")),
    } if args.workload == "table_dml_mv" else {}
    report = {
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "seconds": args.seconds, "trace": args.trace,
        "env": {**env, "pyspark": pyspark.__version__,
                "git_revision": harness.git_revision(ROOT),
                "load1_before": load_before, "load1_after": os.getloadavg()[0]},
        "passes": len(run.pass_s), "traced_passes": len(run.traced_pass_s),
        "samples": {**samples, "dml.write_p50_s": len(writes),
                    "dml.refresh_p50_s": len(run.lat.get("refresh", [])),
                    "dml.maint_p50_s": len(run.lat.get("maint", []))},
        "tail_percentile": {"read_tail_s": read_pct, "dml.write_tail_s": write_pct},
        "end_to_end": e2e, "dml": dml,
        "fail_ratio": run.failed / max(run.attempted, 1),
        "failures": run.failures, **{k: v for k, v in wl_report.items()
                                     if k not in ("write_amp", "space_amp")},
    }
    if args.trace:
        metrics = {k: (per_layer.get(k) if k in per_layer else
                       dml.get(k, wl_report.get(k, 0.0)))
                   for k in PER_LAYER_UNITS}
        units = PER_LAYER_UNITS
        path = os.path.join(ROOT, ".perfbench_out",
                            f"trace-{args.workload}-{args.seed}-{os.getpid()}.json")
        run.tracer.write(path, {"report": report, "per_layer": metrics})
        report["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics, units = e2e, END_TO_END_UNITS
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": _num(metrics[k]), "unit": units[k]}
                    for k in units},
    }))
    return 0


def _phase(name: str, t_process: float) -> None:
    print(f"# phase {name} done at {time.time() - t_process:.2f}s",
          file=sys.stderr)


def _num(v) -> float:
    v = float(v if v is not None else 0.0)
    return 0.0 if v != v else v  # NaN (no samples) reads as 0


if __name__ == "__main__":
    sys.exit(main())
