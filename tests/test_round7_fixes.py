"""Round-7 ADVICE regressions.

1. (medium) timestamp_ntz bounds pruned through the SESSION timezone:
   harvested NTZ bounds are wall-clock micros, but the literal parse used
   to route every timestamp literal through ``spark.sql.session.timeZone``,
   so under any non-UTC zone files containing matching rows were wrongly
   pruned (scans AND DML candidate planning). Fixed with a dedicated
   ``tsntz`` stats kind whose literal parse is tz-free (the scan-side
   pins live in test_stats_pruning.py).
2. (low) ``_stats_kind`` matched declared types by prefix, classifying
   ANSI interval types as numeric via the ``int`` prefix. Now an exact
   leading-token match.
3. (low) streaming writers stamped ``snapshots[-1]`` with the batch id
   unconditionally; a no-op MERGE batch (``merge`` returns None) would
   relabel the PREVIOUS batch's snapshot and burn a metadata version.
4. (low) cached-artifact paths sat directly in the world-writable temp
   dir under predictable names; now under a per-user 0o700 root whose
   ownership is verified before reuse.
"""

from __future__ import annotations

import os

import pytest

from iceberg_demo_spark.engine import Engine
from iceberg_demo_spark.tables.table import Table


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


@pytest.fixture()
def tz_la(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    yield
    spark.conf.set("spark.sql.session.timeZone", old)


def test_ntz_dml_candidate_planning_not_mispruned(engine, tz_la):
    """DELETE planning shares the prune path — an NTZ predicate under a
    non-UTC zone must still rewrite the matching file."""
    t = engine.catalog.create_table("db.ntzdml", "id bigint, ts timestamp_ntz")
    t.append(engine.spark.sql(
        "SELECT id, TIMESTAMP_NTZ'2024-06-01 12:00:00' AS ts "
        "FROM range(0, 4)").coalesce(1))
    t.delete_where("ts = '2024-06-01 12:00:00'")
    assert t.scan().count() == 0


def test_stats_kind_exact_token():
    assert Table._stats_kind("interval day to second") is None
    assert Table._stats_kind("interval year to month") is None
    assert Table._stats_kind("integer") == "num"
    assert Table._stats_kind("int") == "num"
    assert Table._stats_kind("decimal(10,2)") == "num"
    assert Table._stats_kind("timestamp_ntz") == "tsntz"
    assert Table._stats_kind("timestamp_ltz") == "ts"
    assert Table._stats_kind("timestamp") == "ts"
    assert Table._stats_kind("varchar(32)") == "str"
    assert Table._stats_kind("array<int>") is None


def test_noop_merge_batch_does_not_relabel_snapshot(engine):
    """A micro-batch whose MERGE commits nothing must neither restamp the
    previous snapshot's batch id nor write a new metadata version."""
    from iceberg_demo_spark.streaming.pipeline import _batch_summary

    t = engine.catalog.create_table("db.upsert", "k bigint, v bigint")
    t.append(engine.spark.createDataFrame([(1, 10)], "k bigint, v bigint"),
             summary=_batch_summary(0))
    assert t.metadata.snapshots[-1].summary["streaming-batch-id"] == "0"
    version = t.metadata.version
    # the no-op batch: an empty micro-batch matches and inserts nothing
    empty = engine.spark.createDataFrame([], "k bigint, v bigint")
    snap = t.merge(empty, on="t.k = s.k",
                   matched=[{"action": "update", "condition": "s.v > t.v",
                             "set": {"v": "s.v"}}],
                   not_matched=[{"values": None}],
                   summary=_batch_summary(1))
    assert snap is None
    assert t.metadata.snapshots[-1].summary["streaming-batch-id"] == "0"
    assert t.metadata.version == version


def test_scratch_dir_is_private_and_verified(tmp_path, monkeypatch):
    import tempfile as _tf

    from iceberg_demo_spark import scratch

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))
    d = scratch.scratch_dir()
    assert os.stat(d).st_mode & 0o077 == 0
    # reuse passes for the same owner; a group/other-open dir is re-tightened
    os.chmod(d, 0o755)
    d2 = scratch.scratch_dir()
    assert d2 == d and os.stat(d).st_mode & 0o077 == 0
    # a non-directory squat is refused
    squat = tmp_path / "sq"
    squat.write_text("x")
    monkeypatch.setattr(os, "getuid", lambda: os.stat(squat).st_uid)
    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path / "nosuch"))
    with pytest.raises(FileNotFoundError):
        scratch.scratch_dir()  # parent missing surfaces, never trusted


# -- round-7 self-review fixes ---------------------------------------------

def test_oracle_cte_body_strips_only_trailing_order_by():
    from iceberg_demo_spark.registry import oracle_cte_body

    assert oracle_cte_body("SELECT a FROM t ORDER BY a") == "SELECT a FROM t "
    assert (oracle_cte_body("SELECT a FROM t ORDER BY a DESC NULLS LAST, b")
            == "SELECT a FROM t ")
    assert oracle_cte_body("SELECT a FROM t") == "SELECT a FROM t"
    # a window ORDER BY with no trailing clause must refuse, not cut
    with pytest.raises(ValueError, match="refusing"):
        oracle_cte_body(
            "SELECT rank() OVER (ORDER BY a) AS r FROM t WHERE a > 0")
    # stripping an ORDER BY ... LIMIT would change the row set: refuse
    with pytest.raises(ValueError, match="refusing"):
        oracle_cte_body("SELECT a FROM t ORDER BY a LIMIT 5")


def test_drop_database_reclaims_dir_and_errors_when_absent(spark, tmp_path):
    from iceberg_demo_spark.tables.catalog import Catalog, NoSuchTableError

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_database("db1")
    cat.create_table("db1.t", "id bigint")
    # non-purge cascade drop still reclaims the namespace directory:
    # the database leaves SHOW DATABASES and can be re-created
    cat.drop_database("db1", cascade=True)
    assert "db1" not in cat.list_databases()
    cat.create_database("db1")  # would raise TableAlreadyExistsError before
    cat.drop_database("db1")
    with pytest.raises(NoSuchTableError, match="db1"):
        cat.drop_database("db1")
    assert cat.drop_database("db1", if_exists=True) is None
