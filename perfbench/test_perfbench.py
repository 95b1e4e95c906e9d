"""Tests of the benchmark itself (not part of the engine's suite).

    python3 -m pytest perfbench -q -p no:cacheprovider

The schema tests run the benchmark command end to end on a tiny input
(sf0.001, one pass per mode), so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, harness  # noqa: E402
from perfbench.trace import PER_LAYER_UNITS, union_seconds  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from iceberg_demo_spark.session import get_spark

    return get_spark("perfbench-test")


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("perfbench-data"))
    datagen.write_tables(d, 0.001, 1)
    return d


def _grouping_aggregate(df) -> str:
    """The optimized plan's line for q1's GROUP BY aggregate."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return next(line for line in plan.splitlines()
                if "Aggregate [l_returnflag" in line)


def test_digest_keeps_every_q1_aggregate(spark, sf_dir):
    from iceberg_demo_spark import registry

    registry.load_all()
    q1 = registry.QUERIES["q1_pricing_summary"](spark, sf_dir)
    timed = _grouping_aggregate(harness.digest_df(q1))
    counted = _grouping_aggregate(q1.groupBy().count())
    # count() lets Catalyst prune all eight SUM/AVG aggregates ...
    assert "sum(" not in counted and "l_tax" not in counted
    # ... the digest action consumes every output column, so they stay
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        assert col in timed
    assert timed.count("sum(") >= 7 and "xxhash64(" in timed


def test_digest_is_order_independent_and_overflow_safe(spark):
    from pyspark.sql import functions as F

    df = spark.range(200_000).selectExpr(
        "id", "cast(id as double) * 1.5 as x", "array(id, id + 1) as a",
        "cast(id % 7 as string) as s")
    d = harness.digest(df)
    assert d[0] == 200_000
    assert harness.digest(df.repartition(7).orderBy(F.desc("id"))) == d
    assert harness.digest(df.filter("id <> 5")) != d
    # why the sum runs in DECIMAL: a BIGINT sum of 64-bit hashes overflows
    with pytest.raises(Exception, match="(?i)overflow"):
        df.select(F.sum(F.xxhash64("id", "x", "a", "s"))).collect()
    # a reference digest can be taken from collected rows
    small = df.filter("id < 1000")
    rows = [tuple(r) for r in small.collect()]
    assert harness.digest(spark.createDataFrame(rows, small.schema)) == \
        harness.digest(small)


def test_tail_keeps_ten_samples_beyond():
    assert harness.tail([float(x) for x in range(1, 20)]) == (50.0, 10.0)
    assert harness.tail([float(x) for x in range(1, 41)]) == (75.0, 30.0)
    assert harness.tail([float(x) for x in range(1, 1001)]) == (99.0, 990.0)


def test_union_seconds_merges_overlaps():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([]) == 0


def test_datagen_is_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_tables(str(a), 0.001, 9, ("documents", "orders"))
    datagen.write_tables(str(b), 0.001, 9, ("documents", "orders"))
    for t in ("documents", "orders"):
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    return p.returncode, p.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", ["olap_read", "table_dml_mv"])
def test_traced_run_schema(workload):
    code, out = _run("--workload", workload, "--seed", "1", "--seconds", "0",
                     "--trace", "1", "--sf", "0.001")
    assert code == 0
    final = json.loads(out[-1])
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] is True and final["failed"] == 0
    m = final["metrics"]
    assert set(m) == set(PER_LAYER_UNITS)
    for name, unit in PER_LAYER_UNITS.items():
        assert set(m[name]) == {"value", "unit"} and m[name]["unit"] == unit
        assert isinstance(m[name]["value"], (int, float))
    assert m["spark.jobs"]["value"] > 0 and m["spark.busy_s"]["value"] > 0
    assert m["trace.overhead_ratio"]["value"] > 0
    assert m["scratch.index_builds"]["value"] == 0  # none inside timed passes
    if workload == "olap_read":
        assert m["sources.load_tables_calls"]["value"] > 0
        assert m["tables.commits"]["value"] == 0
    else:
        assert m["tables.commits"]["value"] > 0
        assert m["mv.refresh_delta_ratio"]["value"] == 1.0
        assert m["mv.rewrite_hit_ratio"]["value"] > 0
        assert m["dml.write_amp"]["value"] > 0

    report = json.loads(out[-2])["report"]
    path = os.path.join(ROOT, report["trace_file"])
    with open(path) as fh:
        trace = json.load(fh)
    os.remove(path)
    spans = trace["spans"]
    assert spans
    for i, s in enumerate(spans):
        assert {"name", "start", "end", "parent", "op"} <= set(s)
        assert s["end"] >= s["start"]
        assert s["parent"] is None or 0 <= s["parent"] < i
    assert any(s["name"] == "op.read" and s["op"] for s in spans)


def test_end_to_end_run_schema():
    code, out = _run("--workload", "olap_read", "--seed", "2", "--seconds", "0",
                     "--trace", "0", "--sf", "0.001")
    assert code == 0
    final = json.loads(out[-1])
    assert final["correct"] is True
    assert set(final["metrics"]) == {"setup_s", "pass_s", "read_p50_s",
                                     "peak_rss_mb"}
    assert all(v["value"] > 0 for v in final["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out = _run("--workload", "olap_read", "--seed", "1", "--seconds", "1",
                     "--trace", "0", cwd=str(tmp_path))
    assert code != 0 and not out
