"""Metadata-table surface (iceberg_it.py:1938-1989), identifier-suffix
scans (iceberg_it.py:2043-2093), SHOW CREATE TABLE / DESCRIBE EXTENDED
(docs/spark-ddl.md:658-687), write-order scopes (iceberg_it.py:391-394),
and the uuid() generator (iceberg_it.py:1084-1114)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_demo_spark.engine import Engine
from iceberg_demo_spark.tables import Catalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "warehouse"))


def _sample(catalog, name="db.t"):
    t = catalog.create_table(name, "id bigint not null, v string")
    t.append(catalog.spark.createDataFrame([(1, "a"), (2, "b")], schema=t.schema()))
    t.append(catalog.spark.createDataFrame([(3, "c")], schema=t.schema()))
    return t


def test_entries_statuses(catalog):
    t = _sample(catalog)
    head = t.metadata.current_snapshot()
    e = t.entries_df().collect()
    # head snapshot: second append's files ADDED(1), first append's EXISTING(0)
    assert sum(1 for r in e if r["status"] == 1) == len(head.added_files)
    assert sum(1 for r in e if r["status"] == 0) == \
        len(head.files) - len(head.added_files) > 0
    n_total = len(head.files)
    all_e = t.all_entries_df()
    assert all_e.filter("status = 1").count() == n_total  # every file was added once
    t.overwrite_all(catalog.spark.createDataFrame([(9, "z")], schema=t.schema()))
    assert t.all_entries_df().filter("status = 2").count() == n_total  # all removed


def test_manifests_df_shape(catalog):
    """One manifest per append: the first append's manifest is carried
    (all existing), the second's is the head's delta (all added)."""
    t = _sample(catalog)
    head = t.metadata.current_snapshot()
    m = t.manifests_df().collect()
    assert len(m) == 2
    carried, delta = m
    assert carried["added_data_files_count"] == 0
    assert carried["existing_data_files_count"] == \
        len(head.files) - len(head.added_files) > 0
    assert delta["added_data_files_count"] == len(head.added_files) > 0
    assert delta["existing_data_files_count"] == 0
    assert all(r["length"] > 0 for r in m)


def test_engine_metadata_table_suffixes(engine):
    t = engine.catalog.create_table("db.mt", "id bigint")
    t.append(engine.spark.range(5).select(F.col("id")))
    for suffix in ("files", "data_files", "delete_files", "all_files",
                   "all_data_files", "all_delete_files", "snapshots", "history",
                   "refs", "partitions", "metadata_log_entries", "entries",
                   "all_entries", "manifests", "all_manifests"):
        df = engine.table(f"db.mt.{suffix}")
        assert df.columns, suffix
    assert engine.table("db.mt.files").count() >= 1
    with pytest.raises(ValueError, match="unknown metadata table"):
        engine.table("db.mt.nope")


def test_engine_branch_tag_suffix_scan(engine):
    t = engine.catalog.create_table("db.bt", "id bigint")
    t.append(engine.spark.range(3).select(F.col("id")))
    t.create_branch("dev")
    t.create_tag("v1")
    t.append(engine.spark.range(10, 12).select(F.col("id")))
    assert engine.table("db.bt").count() == 5
    assert engine.table("db.bt.branch_dev").count() == 3
    assert engine.table("db.bt.tag_v1").count() == 3


def test_show_create_table(catalog):
    t = catalog.create_table(
        "db.sct", "id bigint not null, ts timestamp, data string",
        partition_by=[("ts", "days"), ("id", "bucket[16]")],
        properties={"owner": "me"},
    )
    t.set_properties({"write.wap.enabled": "true"})
    ddl = catalog.show_create_table("db.sct")
    assert "id BIGINT NOT NULL" in ddl
    assert "PARTITIONED BY (days(ts), bucket(16, id))" in ddl
    assert "'owner' = 'me'" in ddl
    assert "LOCATION" in ddl


def test_describe_extended(catalog):
    t = _sample(catalog, "db.de")
    t.set_identifier_fields("id")
    rows = {r["col_name"]: r["data_type"]
            for r in catalog.describe_extended("db.de").collect()}
    assert rows["id"] == "bigint"
    assert rows["Identifier Fields"] == "id"
    assert rows["Provider"] == "glacier"


def test_global_write_order_range_partitions_files(catalog, spark):
    import os

    import pyarrow.parquet as pq

    t = catalog.create_table("db.gwo", "id bigint, v double")
    t.set_write_order([{"col": "id"}], scope="global")
    t.append(spark.createDataFrame(
        [(i, float(i)) for i in range(2000)], schema=t.schema()).repartition(6))
    ranges = []
    for f in t.metadata.current_snapshot().files:
        ids = pq.ParquetFile(os.path.join(t.location, f.path)).read(
            columns=["id"]).column("id").to_pylist()
        assert ids == sorted(ids)  # sorted within each file
        ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges  # disjoint ranges across files (global order)


def test_local_write_order_sorts_within_files(catalog, spark):
    import os

    import pyarrow.parquet as pq

    t = catalog.create_table("db.lwo", "id bigint, v double")
    t.set_write_order([{"col": "id", "dir": "desc"}])
    t.append(spark.createDataFrame(
        [(i, float(i)) for i in range(500)], schema=t.schema()).repartition(4))
    for f in t.metadata.current_snapshot().files:
        ids = pq.ParquetFile(os.path.join(t.location, f.path)).read(
            columns=["id"]).column("id").to_pylist()
        assert ids == sorted(ids, reverse=True)


def test_uuid_generator_round_trip(catalog, spark):
    t = catalog.create_table("db.uu", "id bigint, u string")
    t.append(spark.range(10).select("id", F.expr("uuid()").alias("u")))
    rows = t.scan().collect()
    assert len({r["u"] for r in rows}) == 10
    import re
    pat = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")
    assert all(pat.match(r["u"]) for r in rows)


# -- view column aliases + ref retention -----------------------------------

def test_view_column_aliases(catalog, spark):
    t = _sample(catalog, "db.vsrc")
    t.scan().createOrReplaceTempView("vsrc")
    catalog.create_view(
        "v_aliased", "SELECT id, v FROM vsrc",
        column_aliases=[("ident", "the key"), ("val", None)])
    df = catalog.view_df("v_aliased")
    assert df.columns == ["ident", "val"]
    with pytest.raises(ValueError, match="aliases"):
        catalog.create_view("v_bad", "SELECT id, v FROM vsrc",
                            column_aliases=[("only_one", None)])
        catalog.view_df("v_bad")


def test_branch_retention_in_refs_and_expire(catalog, spark):
    from iceberg_demo_spark.tables import procedures as proc

    t = _sample(catalog, "db.reften")  # 2 appends => 2 snapshots
    t.append(spark.createDataFrame([(9, "z")], schema=t.schema()))  # 3rd
    t.create_branch("keepme", retention_snapshots=3, retain_days=7)
    t.create_tag("old_tag", retain_days=1.5)
    refs = {r["name"]: r for r in t.refs_df().collect()}
    assert refs["keepme"]["min_snapshots_to_keep"] == 3
    assert refs["keepme"]["max_reference_age_in_ms"] == 7 * 86_400_000
    assert refs["old_tag"]["max_reference_age_in_ms"] == int(1.5 * 86_400_000)
    # expire everything except what retention forces to stay
    res = proc.expire_snapshots(t, older_than_ms=2**62, retain_last=1)
    remaining = {s.snapshot_id for s in t.metadata.snapshots}
    # the branch's 3-snapshot retention kept the whole ancestry
    assert len(remaining) == 3
    assert res["deleted_snapshots_count"] == 0


# -- SQL time travel through Engine.sql ------------------------------------

def test_sql_time_travel_version_and_ref(engine, spark):
    import time

    t = engine.catalog.create_table("db.tt", "id bigint")
    t.append(spark.range(3).select(F.col("id")))
    v1 = t.metadata.current_snapshot().snapshot_id
    ts_between = time.time()
    time.sleep(0.05)
    t.create_tag("v1tag")
    t.append(spark.range(10, 15).select(F.col("id")))
    t.create_branch("dev", snapshot_id=v1)

    # plain (non-time-travel) reads go through an explicit register
    engine.register("db.tt", "db_tt_now")
    assert engine.sql("SELECT count(*) AS n FROM db_tt_now").collect()[0]["n"] == 8
    assert engine.sql(
        f"SELECT count(*) AS n FROM db.tt VERSION AS OF {v1}").collect()[0]["n"] == 3
    assert engine.sql(
        "SELECT count(*) AS n FROM db.tt VERSION AS OF 'v1tag'").collect()[0]["n"] == 3
    assert engine.sql(
        "SELECT count(*) AS n FROM db.tt VERSION AS OF 'dev'").collect()[0]["n"] == 3
    assert engine.sql(
        f"SELECT count(*) AS n FROM db.tt FOR SYSTEM_VERSION AS OF {v1}"
    ).collect()[0]["n"] == 3

    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(ts_between, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f")
    assert engine.sql(
        f"SELECT count(*) AS n FROM db.tt TIMESTAMP AS OF '{iso}'"
    ).collect()[0]["n"] == 3


def test_ref_retain_days_expiry(catalog, spark):
    """RETAIN d DAYS on a tag/branch: expire_snapshots drops the aged-out
    ref (and its snapshots become expirable); unaged refs survive."""
    from iceberg_demo_spark.tables import procedures as proc

    t = _sample(catalog, "db.refage")
    t.create_tag("ephemeral", retain_days=1.0)
    t.create_tag("durable")
    # age the ephemeral tag artificially past its retention
    t.metadata.refs["ephemeral"]["created_at_ms"] -= 2 * 86_400_000
    t.metadata.save()
    res = proc.expire_snapshots(t, older_than_ms=0, retain_last=1)
    assert res["deleted_refs_count"] == 1
    t.refresh()
    assert "ephemeral" not in t.metadata.refs
    assert "durable" in t.metadata.refs


# -- SQL DML through Engine.sql --------------------------------------------

def test_sql_dml_insert_delete_update(engine, spark):
    t = engine.catalog.create_table(
        "db.dml", "id bigint, name string, amount double")
    engine.sql("INSERT INTO db.dml VALUES (1, 'a', 10.0), (2, 'b', 20.0)")
    engine.sql("INSERT INTO db.dml VALUES (3, 'c', 30.0)")
    assert t.refresh().scan().count() == 3
    engine.register("db.dml", "dml_src")
    engine.sql("INSERT INTO db.dml SELECT id + 100, name, amount FROM dml_src")
    assert t.refresh().scan().count() == 6
    engine.sql("UPDATE db.dml SET amount = amount * 2, name = upper(name) "
               "WHERE id <= 2")
    rows = {r["id"]: (r["name"], r["amount"]) for r in t.refresh().scan().collect()}
    assert rows[1] == ("A", 20.0) and rows[2] == ("B", 40.0)
    assert rows[3] == ("c", 30.0)
    engine.sql("DELETE FROM db.dml WHERE id > 100")
    assert t.refresh().scan().count() == 3
    engine.sql("INSERT OVERWRITE db.dml VALUES (9, 'z', 1.0)")
    assert [r["id"] for r in t.refresh().scan().collect()] == [9]


def test_sql_dml_respects_wap_branch(engine, spark):
    t = engine.catalog.create_table("db.wapdml", "id bigint")
    t.set_properties({"write.wap.enabled": "true"})
    engine.sql("INSERT INTO db.wapdml VALUES (1), (2)")
    engine.set_wap_branch("audit_stage")
    engine.sql("INSERT INTO db.wapdml VALUES (3)")
    t.refresh()
    assert t.scan().count() == 2          # main unchanged
    assert t.scan(branch="audit_stage").count() == 3
    engine.set_wap_branch(None)


def test_sql_merge_into_all_variants(engine, spark):
    """The reference's MERGE surface through SQL (iceberg_it.py:1286-1500):
    conditional multi-clause MATCHED (first-match-wins), MATCHED DELETE,
    NOT MATCHED INSERT (cols) VALUES, NOT MATCHED BY SOURCE UPDATE."""
    t = engine.catalog.create_table("db.mrg", "id bigint, v string, amt double")
    engine.sql("INSERT INTO db.mrg VALUES (1,'a',10.0), (2,'b',20.0), (3,'c',30.0)")
    spark.createDataFrame(
        [(1, 500.0), (2, 1.0), (9, 90.0)], "id bigint, amt double"
    ).createOrReplaceTempView("mrg_src")
    engine.sql("""
        MERGE INTO db.mrg AS tgt USING mrg_src AS src ON tgt.id = src.id
        WHEN MATCHED AND src.amt >= 100 THEN UPDATE SET amt = src.amt, v = 'big'
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (id, v, amt) VALUES (src.id, 'new', src.amt)
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(tgt.v, '_stale')
    """)
    rows = {r["id"]: (r["v"], r["amt"]) for r in
            engine.catalog.load_table("db.mrg").scan().collect()}
    assert rows[1] == ("big", 500.0)     # first matched clause
    assert 2 not in rows                  # second matched clause deleted
    assert rows[9] == ("new", 90.0)       # not matched insert
    assert rows[3] == ("c_stale", 30.0)   # not matched by source
    assert len(rows) == 3


def test_sql_merge_insert_star_and_subquery_source(engine, spark):
    t = engine.catalog.create_table("db.mrg2", "id bigint, v string")
    engine.sql("INSERT INTO db.mrg2 VALUES (1, 'a')")
    spark.createDataFrame([(1, "A"), (2, "B"), (2, "B")],
                          "id bigint, v string").createOrReplaceTempView("m2src")
    engine.sql("""
        MERGE INTO db.mrg2 t USING (SELECT DISTINCT id, v FROM m2src) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *
    """)
    rows = {r["id"]: r["v"] for r in
            engine.catalog.load_table("db.mrg2").scan().collect()}
    assert rows == {1: "A", 2: "B"}


# -- SQL DDL through Engine.sql --------------------------------------------

def test_sql_ddl_full_lifecycle(engine, spark):
    engine.sql("""
        CREATE TABLE db.ddlt (
            id BIGINT NOT NULL,
            data STRING,
            ts TIMESTAMP
        ) USING glacier
        PARTITIONED BY (days(ts))
        TBLPROPERTIES ('owner' = 'me', 'format-version' = '2')
    """)
    t = engine.catalog.load_table("db.ddlt")
    assert not t.schema()["id"].nullable
    assert t.properties["owner"] == "me"
    assert [(p.source, p.transform) for p in t.metadata.partition_spec] == \
        [("ts", "days")]
    engine.sql("CREATE TABLE IF NOT EXISTS db.ddlt (x INT)")  # no-op
    assert "data" in t.refresh().scan().columns

    engine.sql("INSERT INTO db.ddlt VALUES (1, 'a', TIMESTAMP'2024-01-01 00:00:00')")
    engine.sql("ALTER TABLE db.ddlt SET TBLPROPERTIES ('k1' = 'v1')")
    engine.sql("ALTER TABLE db.ddlt ADD COLUMNS (score DOUBLE COMMENT 'the score')")
    engine.sql("ALTER TABLE db.ddlt RENAME COLUMN data TO payload")
    engine.sql("ALTER TABLE db.ddlt ALTER COLUMN id TYPE BIGINT")
    t.refresh()
    assert t.properties["k1"] == "v1"
    assert "payload" in [f.name for f in t.metadata.schema]
    assert "score" in [f.name for f in t.metadata.schema]

    engine.sql("ALTER TABLE db.ddlt CREATE BRANCH audit RETAIN 7 DAYS")
    engine.sql("ALTER TABLE db.ddlt CREATE TAG v1 AS OF VERSION 1")
    t.refresh()
    assert t.metadata.refs["audit"]["type"] == "branch"
    assert t.metadata.refs["audit"]["max_ref_age_ms"] == 7 * 86_400_000
    assert t.metadata.refs["v1"]["snapshot_id"] == 1
    engine.sql("ALTER TABLE db.ddlt DROP BRANCH IF EXISTS audit")
    assert "audit" not in t.refresh().metadata.refs

    engine.sql("ALTER TABLE db.ddlt SET IDENTIFIER FIELDS id")
    assert t.refresh().identifier_fields == ["id"]
    engine.sql("ALTER TABLE db.ddlt DROP COLUMN score")
    assert "score" not in [f.name for f in t.refresh().metadata.schema]
    engine.sql("ALTER TABLE db.ddlt RENAME TO db.ddlt2")
    assert engine.catalog.table_exists("db.ddlt2")
    engine.sql("DROP TABLE IF EXISTS db.ddlt2 PURGE")
    assert not engine.catalog.table_exists("db.ddlt2")


def test_sql_ddl_bucket_truncate_partitions(engine):
    engine.sql("""
        CREATE TABLE db.ddlp (id BIGINT, s STRING, n INT)
        PARTITIONED BY (bucket(8, id), truncate(3, s), n)
    """)
    t = engine.catalog.load_table("db.ddlp")
    assert [(p.source, p.transform) for p in t.metadata.partition_spec] == [
        ("id", "bucket[8]"), ("s", "truncate[3]"), ("n", "identity")]


def test_sql_ddl_column_comments(engine):
    engine.sql("""
        CREATE TABLE db.cmt (
            id BIGINT NOT NULL COMMENT 'unique id',
            data STRING COMMENT 'payload'
        )
    """)
    t = engine.catalog.load_table("db.cmt")
    assert t.metadata.field_by_name("id").comment == "unique id"
    assert t.metadata.field_by_name("data").comment == "payload"
    assert not t.schema()["id"].nullable


def test_sql_show_and_describe(engine):
    engine.sql("CREATE TABLE db.showme (id BIGINT COMMENT 'pk', v STRING) "
               "TBLPROPERTIES ('a' = '1')")
    tables = {r["tableName"] for r in engine.sql("SHOW TABLES").collect()}
    assert "showme" in tables
    props = {r["key"]: r["value"]
             for r in engine.sql("SHOW TBLPROPERTIES db.showme").collect()}
    assert props["a"] == "1"
    ddl = engine.sql("SHOW CREATE TABLE db.showme").collect()[0][0]
    assert "CREATE TABLE db.showme" in ddl
    desc = {r["col_name"]: (r["data_type"], r["comment"])
            for r in engine.sql("DESCRIBE db.showme").collect()}
    assert desc["id"] == ("bigint", "pk")
    ext = {r["col_name"] for r in engine.sql("DESCRIBE EXTENDED db.showme").collect()}
    assert "Provider" in ext


def test_call_rewrite_table_path(engine, tmp_path):
    t = engine.catalog.create_table("db.rtp", "id bigint")
    t.append(engine.spark.range(5).select(F.col("id")))
    target = str(tmp_path / "replica")
    res = engine.sql(
        f"CALL system.rewrite_table_path(table => 'db.rtp', "
        f"target_location => '{target}')").collect()[0]
    assert res is not None
    import os
    assert os.path.isdir(target)


def test_sql_view_lifecycle(engine, spark):
    engine.sql("CREATE TABLE db.vt (id BIGINT, v STRING)")
    engine.sql("INSERT INTO db.vt VALUES (1,'a'), (2,'b')")
    engine.register("db.vt", "vt_src")
    engine.sql("CREATE VIEW v_big COMMENT 'big ids' AS SELECT * FROM vt_src WHERE id > 1")
    assert engine.catalog.view_df("v_big").count() == 1
    assert "v_big" in {r["viewName"] for r in engine.sql("SHOW VIEWS").collect()}
    engine.sql("CREATE OR REPLACE VIEW v_big AS SELECT * FROM vt_src")
    assert engine.catalog.view_df("v_big").count() == 2
    engine.sql("DROP VIEW v_big")
    assert "v_big" not in engine.catalog.views
    engine.sql("DROP VIEW IF EXISTS v_big")  # idempotent
