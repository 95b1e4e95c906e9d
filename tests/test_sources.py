"""Source loading and the bounded relation cache in ``scratch``.

``load_tables`` infers a source file's schema with a Spark job only the
first time it sees that version of the file. These pins fail if the
inference job comes back on repeated loads, if a rewritten file is served
its old schema, if two loads share one relation, if the cache outgrows
its bound, or if an index rebuild is served its old artifact handle."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from iceberg_demo_spark import scratch
from iceberg_demo_spark.sources import load_tables
from tests.conftest import jobs_submitted


def _write(path, **cols) -> None:
    pq.write_table(pa.table(cols), str(path))


def test_repeat_load_runs_no_spark_job(spark, tmp_path):
    _write(tmp_path / "t_a.parquet", k=[1, 2, 3], v=["x", "y", "z"])
    _write(tmp_path / "t_b.parquet", k=[2, 3], w=[0.5, 1.5])
    tables = ("t_a", "t_b")
    _, first = jobs_submitted(
        spark, lambda: load_tables(spark, str(tmp_path), tables))
    assert first > 0  # the footer-inference jobs are visible to the count
    t, again = jobs_submitted(
        spark, lambda: load_tables(spark, str(tmp_path), tables))
    assert again == 0
    assert sorted(tuple(r) for r in t["t_a"].collect()) == [
        (1, "x"), (2, "y"), (3, "z")]
    assert spark.sql("SELECT SUM(w) FROM t_b").first()[0] == 2.0


def test_source_rewritten_in_place_is_reinferred(spark, tmp_path):
    path = tmp_path / "t_r.parquet"
    _write(path, k=[1, 2])
    assert load_tables(spark, str(tmp_path), ("t_r",))["t_r"].columns == ["k"]
    _write(path, k=[1, 2], extra=["a", "b"])
    df = load_tables(spark, str(tmp_path), ("t_r",))["t_r"]
    assert df.columns == ["k", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_two_loads_of_one_table_join_unambiguously(spark, tmp_path):
    _write(tmp_path / "t_o.parquet", o_orderkey=[1, 2, 3],
           o_custkey=[2, 3, 9])
    a = load_tables(spark, str(tmp_path), ("t_o",))["t_o"]
    b = load_tables(spark, str(tmp_path), ("t_o",))["t_o"]
    rows = a.join(b, a.o_custkey == b.o_orderkey).select(
        a.o_orderkey, b.o_orderkey).collect()
    assert sorted(tuple(r) for r in rows) == [(1, 2), (2, 3)]


def test_relation_cache_stays_within_bound(spark, tmp_path, monkeypatch):
    bound = 3
    monkeypatch.setattr(scratch, "RELATION_CACHE_SIZE", bound)
    names = [f"t_{i}" for i in range(bound + 2)]
    for i, n in enumerate(names):
        _write(tmp_path / f"{n}.parquet", k=[i])
    sizes = []
    for n in names:
        df = load_tables(spark, str(tmp_path), (n,))[n]
        assert df.first()[0] == names.index(n)
        sizes.append(len(scratch._RELATIONS))
    assert max(sizes) == bound
    # the least recently used schema was evicted: loading it infers again
    _, jobs = jobs_submitted(
        spark, lambda: load_tables(spark, str(tmp_path), (names[0],)))
    assert jobs > 0


def test_cached_parquet_fresh_handle_after_index_rebuild(spark, tmp_path):
    src, idx = tmp_path / "src", tmp_path / "idx"
    os.makedirs(src)
    _write(src / "docs.parquet", doc_id=[1])

    def build(rows):
        spark.createDataFrame(rows, "doc_id long, n long").coalesce(1) \
            .write.mode("overwrite").parquet(str(idx / "state"))
        scratch.write_index_manifest(str(idx), str(src), ("docs",))

    build([(1, 10)])
    h1 = scratch.cached_parquet(spark, str(idx), "state")
    assert scratch.cached_parquet(spark, str(idx), "state") is h1
    assert scratch.cached_parquet_first(spark, str(idx), "state")["n"] == 10
    time.sleep(0.05)  # past the filesystem's mtime granularity
    build([(1, 20)])
    h2 = scratch.cached_parquet(spark, str(idx), "state")
    assert h2 is not h1
    assert [tuple(r) for r in h2.collect()] == [(1, 20)]
    assert scratch.cached_parquet_first(spark, str(idx), "state")["n"] == 20


def test_relation_cache_bound_holds_under_threads(monkeypatch):
    """Concurrent stores never lose an eviction or overshoot the bound."""
    import sys
    import threading
    from types import SimpleNamespace

    bound, workers, puts = 16, 8, 400
    monkeypatch.setattr(scratch, "RELATION_CACHE_SIZE", bound)
    monkeypatch.setattr(scratch, "_RELATIONS", type(scratch._RELATIONS)())
    errors = []

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="a"))

    def work(w):
        try:
            for i in range(puts):
                assert scratch._cached("schema", spark, f"/t/{w}/{i}", i,
                                       lambda: i) == i
        except Exception as exc:  # noqa: BLE001 - surfaced by the assert
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(w,))
                   for w in range(workers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(scratch._RELATIONS) == bound
