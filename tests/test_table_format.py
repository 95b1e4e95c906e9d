"""Table-format tests mirroring the reference's integration-suite assertion
style (row counts + per-row values, iceberg_it.py:1294-1297): DML, schema
evolution, partitioning, time travel, branches/tags, WAP, procedures,
read-only guard."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from iceberg_demo_spark.tables import Catalog
from iceberg_demo_spark.tables.table import (
    MergeCardinalityError,
    ReadOnlyTableError,
)
from iceberg_demo_spark.tables import procedures as proc
from iceberg_demo_spark.tables.format import now_ms


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


def _sample(catalog, name="db.sample", partition_by=None):
    t = catalog.create_table(
        name, "id bigint not null, data string, category string, amount double",
        partition_by=partition_by,
    )
    df = catalog.spark.createDataFrame(
        [(1, "a", "x", 10.0), (2, "b", "x", 20.0), (3, "c", "y", 30.0)],
        schema=t.schema(),
    )
    t.append(df)
    return t


# -- create / insert / scan ------------------------------------------------

def test_create_insert_select(catalog):
    t = _sample(catalog)
    rows = sorted(t.scan().collect(), key=lambda r: r["id"])
    assert [r["id"] for r in rows] == [1, 2, 3]
    assert rows[0]["data"] == "a"
    assert not t.schema()["id"].nullable


def test_ctas_and_rtas_preserve_history(catalog, spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id bigint, v string")
    t = catalog.create_table_as("db.ctas", df)
    assert t.scan().count() == 2
    df2 = spark.createDataFrame([(9, 9.5)], "k bigint, score double")
    t2 = catalog.replace_table_as("db.ctas", df2, properties={"owner": "t2"})
    assert t2.scan().columns == ["k", "score"]
    # history survives RTAS: old snapshots still listed
    assert t2.snapshots_df().count() >= 2
    assert t2.properties["owner"] == "t2"


def test_drop_table_vs_purge(catalog):
    t = _sample(catalog, "db.dropme")
    loc = t.location
    catalog.drop_table("db.dropme")
    assert not catalog.table_exists("db.dropme")
    import os
    assert os.path.exists(os.path.join(loc, "data"))  # data retained w/o purge
    t2 = _sample(catalog, "db.purgeme")
    loc2 = t2.location
    catalog.drop_table("db.purgeme", purge=True)
    assert not os.path.exists(loc2)


# -- partitioning ----------------------------------------------------------

def test_partitioned_write_layout_and_dynamic_overwrite(catalog, spark):
    t = _sample(catalog, "db.part", partition_by=[("category",)])
    parts = {tuple(sorted(f.partition.items())) for f in t.metadata.current_snapshot().files}
    assert parts == {(("_p_category", "x"),), (("_p_category", "y"),)}
    # dynamic overwrite replaces only partition x
    newx = spark.createDataFrame([(7, "g", "x", 70.0)], schema=t.schema())
    t.overwrite_dynamic(newx)
    rows = {r["id"] for r in t.scan().collect()}
    assert rows == {3, 7}  # y untouched, x replaced


def test_transform_partitioning_bucket_and_days(catalog, spark):
    t = catalog.create_table(
        "db.tx", "id bigint, ts timestamp, data string",
        partition_by=[("id", "bucket[4]"), ("ts", "days")],
    )
    df = spark.sql(
        "SELECT * FROM VALUES (1, TIMESTAMP'2026-01-15 10:00:00', 'a'),"
        " (2, TIMESTAMP'2026-01-16 11:00:00', 'b') AS t(id, ts, data)"
    )
    t.append(df)
    files = t.metadata.current_snapshot().files
    assert all("_p_id_bucket" in f.partition and "_p_ts_day" in f.partition for f in files)
    assert {f.partition["_p_ts_day"] for f in files} == {"2026-01-15", "2026-01-16"}
    assert t.scan().count() == 2
    assert {r["data"] for r in t.scan().collect()} == {"a", "b"}


# -- row-level DML ---------------------------------------------------------

def test_delete_update(catalog):
    t = _sample(catalog, "db.dml")
    t.delete_where("id = 2")
    assert {r["id"] for r in t.scan().collect()} == {1, 3}
    t.update_where({"amount": "amount * 2"}, "category = 'y'")
    vals = {r["id"]: r["amount"] for r in t.scan().collect()}
    assert vals == {1: 10.0, 3: 60.0}


def test_delete_rewrites_only_affected_files(catalog, spark):
    t = _sample(catalog, "db.cow", partition_by=[("category",)])
    before = {f.path for f in t.metadata.current_snapshot().files}
    t.delete_where("id = 1")  # lives in partition x only
    snap = t.metadata.current_snapshot()
    untouched = {f.path for f in snap.files} & before
    # partition y's file survives unchanged
    assert any("_p_category=y" in p for p in untouched)
    assert snap.removed_files and all("_p_category=x" in p for p in snap.removed_files)


def test_overwrite_where_condition(catalog, spark):
    t = _sample(catalog, "db.ow")
    repl = spark.createDataFrame([(9, "z", "x", 90.0)], schema=t.schema())
    t.overwrite_where(repl, F.col("category") == "x")
    assert {r["id"] for r in t.scan().collect()} == {3, 9}


# -- MERGE -----------------------------------------------------------------

def test_merge_upsert(catalog, spark):
    t = _sample(catalog, "db.m1")
    src = spark.createDataFrame(
        [(2, "B2", "x", 200.0), (4, "d", "y", 40.0)], schema=t.schema()
    )
    t.merge(
        src, on="t.id = s.id",
        matched=[{"action": "update", "set": {"data": "s.data", "amount": "s.amount"}}],
        not_matched=[{}],
    )
    rows = {r["id"]: (r["data"], r["amount"]) for r in t.scan().collect()}
    assert rows == {1: ("a", 10.0), 2: ("B2", 200.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_matched_delete_and_conditions_first_wins(catalog, spark):
    t = _sample(catalog, "db.m2")
    src = spark.createDataFrame(
        [(1, "u1", "x", 0.0), (2, "u2", "x", 0.0)], schema=t.schema()
    )
    t.merge(
        src, on="t.id = s.id",
        matched=[
            {"condition": "t.id = 1", "action": "delete"},
            {"action": "update", "set": {"data": "concat(t.data, '-upd')"}},
        ],
    )
    rows = {r["id"]: r["data"] for r in t.scan().collect()}
    assert rows == {2: "b-upd", 3: "c"}


def test_merge_not_matched_by_source(catalog, spark):
    t = _sample(catalog, "db.m3")
    src = spark.createDataFrame([(1, "keep", "x", 1.0)], schema=t.schema())
    t.merge(
        src, on="t.id = s.id",
        matched=[{"action": "update", "set": {"data": "s.data"}}],
        not_matched_by_source=[{"action": "update", "set": {"data": "'archived'"}}],
    )
    rows = {r["id"]: r["data"] for r in t.scan().collect()}
    assert rows == {1: "keep", 2: "archived", 3: "archived"}


def test_merge_matched_row_with_null_first_column(catalog, spark):
    """Match detection is row-presence, not first-column nullability: a
    matched source row whose first column is NULL must still hit WHEN
    MATCHED, and must NOT fall through to NOT MATCHED BY SOURCE DELETE."""
    t = _sample(catalog, "db.m5")
    src = spark.createDataFrame(
        [(None, 2, "x", 2.0)], "data string, id bigint, category string, amount double"
    )
    t.merge(
        src, on="t.id = s.id",
        matched=[{"action": "update", "set": {"data": "coalesce(s.data, 'null-src')"}}],
        not_matched_by_source=[{"action": "delete"}],
    )
    rows = {r["id"]: r["data"] for r in t.scan().collect()}
    assert rows == {2: "null-src"}


def test_merge_cardinality_violation(catalog, spark):
    t = _sample(catalog, "db.m4")
    src = spark.createDataFrame(
        [(1, "d1", "x", 0.0), (1, "d2", "x", 0.0)], schema=t.schema()
    )
    with pytest.raises(MergeCardinalityError):
        t.merge(src, on="t.id = s.id",
                matched=[{"action": "update", "set": {"data": "s.data"}}])


# -- schema evolution ------------------------------------------------------

def test_schema_evolution_add_rename_widen_drop(catalog, spark):
    t = catalog.create_table("db.evo", "id int, data string")
    t.append(spark.createDataFrame([(1, "a")], "id int, data string"))
    t.add_column("score", "double", comment="new col")
    t.append(spark.createDataFrame([(2, "b", 9.5)], "id int, data string, score double"))
    # old file reads back with NULL score
    rows = {r["id"]: r["score"] for r in t.scan().collect()}
    assert rows == {1: None, 2: 9.5}
    t.rename_column("data", "label")
    assert {r["label"] for r in t.scan().collect()} == {"a", "b"}
    t.alter_column_type("id", "bigint")
    assert dict(t.scan().dtypes)["id"] == "bigint"
    with pytest.raises(ValueError):
        t.alter_column_type("id", "int")  # narrowing refused
    t.drop_column("score")
    assert "score" not in t.scan().columns
    # time travel still shows the OLD schema for old snapshots
    first = t.metadata.snapshots[0].snapshot_id
    assert t.scan(snapshot_id=first).columns == ["id", "data"]


def test_rename_carries_references_and_drop_refuses_referenced(catalog, spark):
    """A rename reaches the partition spec sources, the write order and the
    identifier fields, so later writes and partition pruning see the new
    name; dropping a referenced column is refused (Iceberg's rule) and
    leaves the table writable."""
    ddl = "id bigint not null, cat string, v bigint"
    t = catalog.create_table("db.refs", ddl, partition_by=[("cat", "identity")])
    t.set_write_order([{"col": "id"}])
    t.set_identifier_fields("id")
    t.append(spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ddl))

    t.rename_column("cat", "kind")
    t.append(spark.createDataFrame([(3, "a", 30)], "id bigint, kind string, v bigint"))
    assert sorted(tuple(r) for r in t.scan().collect()) == [
        (1, "a", 10), (2, "b", 20), (3, "a", 30)]
    parts, _stats = t._prune_cons("kind = 'a'")
    assert set(parts) == {"_p_cat"}  # the partition field keeps its name
    kept = t._pruned_snapshot_files(t.metadata.current_snapshot(), "kind = 'a'")
    assert len(kept) == 2 and all(f.partition == {"_p_cat": "a"} for f in kept)
    assert {r["id"] for r in t.scan(where="kind = 'a'").collect()} == {1, 3}

    t.rename_column("id", "key")
    assert t.metadata.sort_order[0]["col"] == "key"
    assert t.identifier_fields == ["key"]
    t.append(spark.createDataFrame([(4, "b", 40)], "key bigint, kind string, v bigint"))
    assert sorted(tuple(r) for r in t.scan().collect()) == [
        (1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "b", 40)]

    version = t.metadata.version
    for col in ("kind", "key"):
        with pytest.raises(ValueError, match="cannot drop column"):
            t.drop_column(col)
    assert t.metadata.version == version
    t.append(spark.createDataFrame([(5, "b", 50)], "key bigint, kind string, v bigint"))
    assert t.scan().count() == 5
    t.drop_column("v")
    assert t.scan().columns == ["key", "kind"]


def test_nested_struct_field_add_drop(catalog, spark):
    t = catalog.create_table("db.nested", "id int, point struct<x:int,y:int>")
    t.append(spark.createDataFrame([Row(id=1, point=Row(x=1, y=2))]))
    t.add_column("point.z", "int")
    t.append(spark.sql("SELECT 2 AS id, named_struct('x', 3, 'y', 4, 'z', 5) AS point"))
    rows = {r["id"]: r["point"].asDict() for r in t.scan().collect()}
    assert rows[1] == {"x": 1, "y": 2, "z": None}
    assert rows[2] == {"x": 3, "y": 4, "z": 5}
    t.drop_column("point.y")
    rows = {r["id"]: r["point"].asDict() for r in t.scan().collect()}
    assert rows[1] == {"x": 1, "z": None}


# -- time travel / branches / tags ----------------------------------------

def test_time_travel_by_snapshot_and_timestamp(catalog, spark):
    t = _sample(catalog, "db.tt")
    s1 = t.metadata.current_snapshot()
    t.append(spark.createDataFrame([(4, "d", "y", 40.0)], schema=t.schema()))
    assert t.scan().count() == 4
    assert t.scan(snapshot_id=s1.snapshot_id).count() == 3
    assert t.scan(as_of_timestamp_ms=s1.timestamp_ms).count() == 3


def test_branch_write_isolation_and_fast_forward(catalog, spark):
    t = _sample(catalog, "db.br")
    t.create_branch("audit")
    t.append(spark.createDataFrame([(4, "d", "y", 40.0)], schema=t.schema()),
             branch="audit")
    assert t.scan().count() == 3  # main unaffected
    assert t.scan(branch="audit").count() == 4
    proc.fast_forward(t, "main", "audit")
    assert t.scan().count() == 4


def test_tag_and_refs_metadata(catalog, spark):
    t = _sample(catalog, "db.tags")
    t.create_tag("v1")
    t.append(spark.createDataFrame([(4, "d", "y", 40.0)], schema=t.schema()))
    assert t.scan(tag="v1").count() == 3
    refs = {r["name"]: r["type"] for r in t.refs_df().collect()}
    assert refs == {"main": "BRANCH", "v1": "TAG"}
    with pytest.raises(ValueError):
        t.create_tag("v1")
    t.create_tag("v1", or_replace=True)
    t.drop_ref("v1")
    assert "v1" not in t.metadata.refs


def test_wap_publish(catalog, spark):
    t = _sample(catalog, "db.wap")
    t.create_branch("wap_stage")
    t.append(spark.createDataFrame([(5, "w", "y", 50.0)], schema=t.schema()),
             branch="wap_stage")
    assert t.scan().count() == 3  # audit: main clean
    proc.publish_changes(t, wap_branch="wap_stage")
    assert t.scan().count() == 4


# -- procedures ------------------------------------------------------------

def test_rollback_and_set_current_snapshot(catalog, spark):
    t = _sample(catalog, "db.rb")
    s1 = t.metadata.current_snapshot().snapshot_id
    t.append(spark.createDataFrame([(4, "d", "y", 40.0)], schema=t.schema()))
    proc.rollback_to_snapshot(t, s1)
    assert t.scan().count() == 3
    ancestors = proc.ancestors_of(t)
    assert ancestors.count() >= 1


def test_expire_snapshots_deletes_unreferenced_files(catalog, spark):
    t = _sample(catalog, "db.exp")
    t.overwrite_all(spark.createDataFrame([(9, "z", "z", 9.0)], schema=t.schema()))
    res = proc.expire_snapshots(t, older_than_ms=t.metadata.current_snapshot().timestamp_ms + 1)
    assert res["deleted_snapshots_count"] >= 1
    assert res["deleted_data_files_count"] >= 1
    assert t.scan().count() == 1  # current state intact


def test_remove_orphan_files(catalog, spark, tmp_path):
    t = _sample(catalog, "db.orph")
    import os
    orphan = os.path.join(t.data_dir(), "stray.parquet")
    spark.createDataFrame([(1,)], "x int").write.mode("overwrite").parquet(str(tmp_path / "o"))
    src = [p for p in os.listdir(str(tmp_path / "o")) if p.endswith(".parquet")][0]
    os.rename(str(tmp_path / "o" / src), orphan)
    # default cutoff is now-3d (docs/spark-procedures.md:313): a freshly
    # written file is protected — it could belong to an in-flight commit
    assert proc.remove_orphan_files(t) == []
    assert os.path.exists(orphan)
    cutoff = now_ms() + 1
    listed = proc.remove_orphan_files(t, dry_run=True, older_than_ms=cutoff)
    assert listed == ["data/stray.parquet"]
    assert os.path.exists(orphan)
    proc.remove_orphan_files(t, older_than_ms=cutoff)
    assert not os.path.exists(orphan)
    assert t.scan().count() == 3


def test_rewrite_data_files_compaction(catalog, spark):
    t = catalog.create_table("db.compact", "id bigint, v string")
    for i in range(4):  # four tiny files
        t.append(spark.createDataFrame([(i, f"v{i}")], "id bigint, v string").coalesce(1))
    n_before = len(t.metadata.current_snapshot().files)
    res = proc.rewrite_data_files(t)
    n_after = len(t.metadata.current_snapshot().files)
    assert res["rewritten_data_files_count"] == n_before >= 4
    assert n_after < n_before
    assert t.scan().count() == 4
    assert {r["id"] for r in t.scan().collect()} == {0, 1, 2, 3}


def test_changelog_view(catalog, spark):
    t = _sample(catalog, "db.cdc")
    t.append(spark.createDataFrame([(4, "d", "y", 40.0)], schema=t.schema()))
    t.delete_where("id = 1")
    cdc = proc.create_changelog_view(t, "cdc_v")
    by_type = {r["_change_type"]: 0 for r in cdc.collect()}
    for r in cdc.collect():
        by_type[r["_change_type"]] += 1
    assert by_type.get("INSERT", 0) == 4  # 3 initial + 1 appended
    assert by_type.get("DELETE", 0) == 1
    assert spark.table("cdc_v").count() == cdc.count()


def test_changelog_update_images_with_identifier_columns(catalog, spark):
    t = _sample(catalog, "db.cdc2")
    t.update_where({"amount": "amount + 1"}, "id = 1")
    cdc = proc.create_changelog_view(t, "cdc_v2", identifier_columns=["id"])
    types = {r["_change_type"] for r in cdc.filter("id = 1").collect()}
    assert "UPDATE_BEFORE" in types and "UPDATE_AFTER" in types


def test_compute_table_stats(catalog):
    t = _sample(catalog, "db.stats")
    stats = proc.compute_table_stats(t, ["category"])
    assert stats["category"] == 2
    assert t.metadata.properties["stats.row-count"] == "3"


# -- read-only guard (spark-readonly-plugin parity) ------------------------

def test_readonly_blocks_writes_and_ddl_allows_select(catalog, spark):
    t = _sample(catalog, "db.ro")
    t.set_properties({"hive-ext.readOnly": "TRUE"})  # case-insensitive value
    df = spark.createDataFrame([(9, "z", "z", 9.0)], schema=t.schema())
    for op in [
        lambda: t.append(df),
        lambda: t.overwrite_all(df),
        lambda: t.delete_where("id=1"),
        lambda: t.update_where({"data": "'x'"}, "id=1"),
        lambda: t.merge(df, on="t.id = s.id", matched=[{"action": "delete"}]),
        lambda: t.add_column("c", "int"),
        lambda: t.rename_column("data", "d2"),
        lambda: t.drop_column("data"),
        lambda: t.set_properties({"foo": "bar"}),
        lambda: catalog.drop_table("db.ro"),
        lambda: catalog.rename_table("db.ro", "db.ro2"),
        lambda: proc.rewrite_data_files(t),
        lambda: proc.expire_snapshots(t),
    ]:
        with pytest.raises(ReadOnlyTableError):
            op()
    assert t.scan().count() == 3  # SELECT always allowed
    t.set_properties({"hive-ext.readOnly": "false"})
    t.append(df)
    assert t.scan().count() == 4


def test_rewrite_table_path_stages_copy(catalog, spark, tmp_path):
    t = _sample(catalog, "db.repl")
    staging = str(tmp_path / "staged")
    res = proc.rewrite_table_path(t, "/remote/warehouse/db/repl", staging_location=staging)
    assert res["staged_files_count"] >= 1
    from iceberg_demo_spark.tables.format import TableMetadata
    from iceberg_demo_spark.tables.table import Table
    staged = Table(spark, TableMetadata.load(staging))
    assert staged.scan().count() == 3  # staged copy readable in place
    assert t.scan().count() == 3  # source untouched


def test_partition_pruned_delete_never_scans_other_partitions(catalog, spark):
    """A partition-aligned DELETE prunes candidate files driver-side: the
    non-matching partition's file is untouched AND was never a rewrite
    candidate (file list pruned before the matching scan)."""
    t = _sample(catalog, "db.prune", partition_by=[("category",)])
    files_before = list(t.metadata.current_snapshot().files)
    pruned = t._prune_files(files_before, "category = 'x' AND amount < 100")
    assert pruned and all(f.partition["_p_category"] == "x" for f in pruned)
    assert t._prune_files(files_before, "category IN ('y')") != files_before
    # OR at top level must NOT prune (could match either partition)
    assert t._prune_files(files_before, "category = 'x' OR amount > 5") == files_before
    t.delete_where("category = 'x' AND amount <= 10")
    assert {r["id"] for r in t.scan().collect()} == {2, 3}


def test_transform_partition_pruning_in_dml(catalog, spark):
    """Driver-side pruning evaluates transforms on literals: a bucket- and
    days-partitioned table prunes DELETE candidates to matching partitions
    only (no scan of other partitions' files)."""
    t = catalog.create_table(
        "db.prune", "id bigint, ts timestamp, v double",
        partition_by=[("id", "bucket[4]"), ("ts", "days")],
    )
    rows = [(i, f"2024-01-0{1 + i % 3} 12:00:00", float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, ts string, v double") \
        .withColumn("ts", F.to_timestamp("ts"))
    t.append(df)
    files = t.metadata.current_snapshot().files
    # equality on the bucketed column prunes to one bucket's files
    pruned = t._prune_files(files, "id = 7")
    assert 0 < len(pruned) < len(files)
    assert all(f.partition["_p_id_bucket"] ==
               pruned[0].partition["_p_id_bucket"] for f in pruned)
    # equality on the days-partitioned timestamp prunes to one day
    pruned_ts = t._prune_files(files, "ts = '2024-01-02 12:00:00'")
    assert 0 < len(pruned_ts) < len(files)
    assert {f.partition["_p_ts_day"] for f in pruned_ts} == {"2024-01-02"}
    # and the DELETE itself stays correct
    t.delete_where("ts = '2024-01-02 12:00:00'")
    remaining = t.scan().count()
    assert remaining == 40 - len([r for r in rows if "01-02" in r[1]])


def test_rewrite_data_files_sql_sort_order_strings(catalog, spark):
    """CALL-style sort_order strings: 'zorder(a, b)' and 'col DESC'."""
    t = catalog.create_table("db.sortstr", "id bigint, v double")
    for lo in (0, 100):
        t.append(spark.createDataFrame(
            [(lo + i, float(i)) for i in range(50)], schema=t.schema()))
    res = proc.rewrite_data_files(t, sort_order="id DESC", min_input_files=1)
    assert res["rewritten_data_files_count"] >= 2
    assert t.scan().count() == 100
    res2 = proc.rewrite_data_files(t, sort_order="zorder(id, v)",
                                   strategy="zorder", min_input_files=1)
    assert res2["added_data_files_count"] >= 1
    assert t.scan().count() == 100


def test_optimistic_concurrency_conflict(catalog, spark):
    """Two handles on one table: an APPEND that loses the metadata race
    auto-retries on refreshed metadata (round 6 — Iceberg's fast-append
    retry; its data files need no replanning), keeping both writers'
    rows. With retries disabled the conflict surfaces; row-rewriting DML
    always surfaces it (its file rewrites were planned pre-conflict)."""
    from iceberg_demo_spark.tables.format import CommitConflictError

    t1 = _sample(catalog, "db.occ")
    t2 = catalog.load_table("db.occ")
    t1.append(spark.createDataFrame([(10, "j", "x", 1.0)], schema=t1.schema()))
    # stale handle t2: append auto-retries and lands on top of t1's commit
    t2.append(spark.createDataFrame([(11, "k", "y", 2.0)], schema=t2.schema()))
    assert sorted(r["id"] for r in t2.scan().collect()) == [1, 2, 3, 10, 11]
    t1.refresh()
    assert sorted(r["id"] for r in t1.scan().collect()) == [1, 2, 3, 10, 11]

    # retries disabled → the conflict is the caller's to handle
    t1.set_properties({"commit.retry.num-retries": "0"})
    t2.append(spark.createDataFrame(  # resync t2 (auto-retry picks up props)
        [(12, "l", "z", 3.0)], schema=t2.schema()))
    t1.refresh()
    t1.append(spark.createDataFrame([(13, "m", "w", 4.0)], schema=t1.schema()))
    with pytest.raises(CommitConflictError, match="refresh"):
        t2.append(spark.createDataFrame(
            [(14, "n", "v", 5.0)], schema=t2.schema()))
    # row-rewriting DML on a stale handle still surfaces the conflict
    t2.refresh()
    t2.set_properties({"commit.retry.num-retries": "4"})
    t1.refresh()
    t1.append(spark.createDataFrame([(15, "o", "u", 6.0)], schema=t1.schema()))
    with pytest.raises(CommitConflictError, match="refresh"):
        t2.delete_where("id = 1")


def test_metadata_cas_single_winner_per_version(tmp_path):
    """True CAS (round 6): the v{N}.metadata.json hard-link is
    create-exclusive, so under genuinely concurrent save() calls exactly
    one writer owns each version — every loser gets CommitConflictError
    even inside the hint's check-then-swap window. 8 threads x 5 commits
    each, every commit a load-mutate-save retry loop: all 40 must land,
    versions must be gapless, and no property write may be lost."""
    import threading

    from iceberg_demo_spark.tables.format import (
        CommitConflictError, SchemaField, TableMetadata)

    loc = str(tmp_path / "t")
    md = TableMetadata("db.cas", loc)
    md.schemas[0] = [SchemaField(1, "id", "int", True, None)]
    md.last_field_id = 1
    md.save()  # v1

    THREADS, COMMITS = 8, 5
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            for c in range(COMMITS):
                while True:
                    cur = TableMetadata.load(loc)
                    cur.properties[f"w{wid}.c{c}"] = str(cur.version)
                    try:
                        cur.save()
                        break
                    except CommitConflictError:
                        continue
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(THREADS)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors

    final = TableMetadata.load(loc)
    # exactly one version per successful save: 1 initial + 40 commits
    assert final.version == 1 + THREADS * COMMITS
    # no lost updates: every writer's every commit survived
    assert len(final.properties) == THREADS * COMMITS
    # every intermediate version file exists (gapless history)
    import os as _os
    for v in range(1, final.version + 1):
        assert _os.path.exists(
            _os.path.join(loc, "metadata", f"v{v}.metadata.json"))


def test_metadata_load_recovers_from_stale_hint(tmp_path):
    """The hint is advisory: if a winner crashed before swapping it (or a
    slow writer's hint landed late), load() scans for the max on-disk
    version instead of resurrecting the stale one."""
    import os as _os

    from iceberg_demo_spark.tables.format import SchemaField, TableMetadata

    loc = str(tmp_path / "t")
    md = TableMetadata("db.hint", loc)
    md.schemas[0] = [SchemaField(1, "id", "int", True, None)]
    md.last_field_id = 1
    md.save()  # v1
    md.properties["k"] = "v"
    md.save()  # v2
    # simulate the crash-before-hint-swap: regress the hint to 1
    hint = _os.path.join(loc, "metadata", "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("1")
    cur = TableMetadata.load(loc)
    assert cur.version == 2 and cur.properties.get("k") == "v"
    # and the next save commits v3, not a fork of v2
    cur.save()
    assert cur.version == 3
    # explicit version= still time-travels to the requested file
    old = TableMetadata.load(loc, version=1)
    assert old.version == 1 and "k" not in old.properties


def test_changelog_replication_replica_converges(spark):
    """The CDC apply loop converges the replica to the source exactly:
    n_mismatches (full exceptAll both ways) is 0 in every group and the
    replicated totals equal a pure-Python recompute from base data."""
    from collections import defaultdict

    from iceberg_demo_spark import registry
    from iceberg_demo_spark.sources import load_tables
    from tests.conftest import SF_SMALL

    registry.load_all()
    rows = registry.QUERIES["changelog_replication"](
        spark, SF_SMALL).collect()
    assert rows and all(r.n_mismatches == 0 for r in rows)
    cust = (load_tables(spark, SF_SMALL, ("customer",))["customer"]
            .select("c_custkey", "c_mktsegment", "c_acctbal").collect())
    from decimal import ROUND_HALF_UP, Decimal

    def _round_half_away(x: float) -> int:
        # Spark's round() takes the EXACT decimal of the double then
        # HALF_UP (away from zero); Python's round() is half-even
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    exp = defaultdict(lambda: [0, 0])
    for c in cust:
        if c.c_custkey % 11 == 0:
            continue
        cents = _round_half_away(
            c.c_acctbal * 125 if c.c_custkey % 7 == 0
            else c.c_acctbal * 100)
        exp[c.c_mktsegment][0] += 1
        exp[c.c_mktsegment][1] += cents
    assert {r.c_mktsegment: [r.n_rows, r.total_bal_cents]
            for r in rows} == dict(exp)
