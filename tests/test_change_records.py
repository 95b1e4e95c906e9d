"""Row-level change records: every DELETE, UPDATE and MERGE, copy-on-write
and merge-on-read, records its change rows inside its own write job, and
the changelog reads those rows (and skips ``replace`` snapshots) instead of
diffing whole rewritten files.

The differential test runs both paths over the same seeded histories: the
changelog built from records must equal the whole-file diff over every
commit, replace commits included, for the same windows.
"""

from __future__ import annotations

import contextlib
import os
import random

import pytest
from pyspark.sql import functions as F

from iceberg_demo_spark.tables import Catalog
from iceberg_demo_spark.tables import procedures as proc
from iceberg_demo_spark.tables.format import Snapshot, TableMetadata, now_ms
from tests.conftest import jobs_submitted

SCHEMA = "id bigint, cat string, val double"
MODES = ("copy-on-write", "merge-on-read")


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@contextlib.contextmanager
def _whole_file_diff(t):
    """The changelog as it was before change records: every commit diffed
    file against file, replace commits included."""
    replaced = [s for s in t.metadata.snapshots if s.operation == "replace"]
    saved = Snapshot.changes
    Snapshot.changes = property(lambda self: None)
    for s in replaced:
        s.operation = "rewrite"
    try:
        yield
    finally:
        Snapshot.changes = saved
        for s in replaced:
            s.operation = "replace"


def _set_mode(t, op, mode):
    if t.write_mode(op) != mode:
        t.set_properties({f"write.{op}.mode": mode})


@pytest.mark.parametrize("seed,partitioned", [(8101, True), (8102, False)])
def test_changelog_from_records_equals_whole_file_diff(catalog, spark, seed,
                                                       partitioned):
    """Seeded COW and MOR DELETE/UPDATE/MERGE, appends, a static
    overwrite, rewrite_data_files and rewrite_position_delete_files: for
    several windows, with and without identifier columns and net changes,
    the record-built changelog equals the whole-file diff."""
    rng = random.Random(seed)
    t = catalog.create_table(f"db.cr{seed}", SCHEMA,
                             partition_by=[("cat",)] if partitioned else None)
    next_id = 0

    def batch(n):
        nonlocal next_id
        rows = [(next_id + i, rng.choice("abc"), float(rng.randrange(100)))
                for i in range(n)]
        next_id += n
        return spark.createDataFrame(rows, SCHEMA)

    t.append(batch(30))
    t.append(batch(10))
    heads = [t.metadata.current_snapshot().snapshot_id]
    ops = ["append", "delete", "update", "noop_update", "merge",
           "delete_matching", "overwrite_where", "compact", "compact_deletes"]
    seq = ops + [rng.choice(ops) for _ in range(6)]
    rng.shuffle(seq)
    for op in seq:
        mode = rng.choice(MODES)
        if op == "append":
            t.append(batch(rng.randint(1, 6)))
        elif op == "delete":
            _set_mode(t, "delete", mode)
            t.delete_where(f"val < {rng.randrange(30)} AND cat = '{rng.choice('abc')}'")
        elif op == "update":
            _set_mode(t, "update", mode)
            t.update_where({"val": "val + 1"}, f"id % 4 = {rng.randrange(4)}")
        elif op == "noop_update":
            # new images equal old images: netting must cancel them
            _set_mode(t, "update", mode)
            t.update_where({"val": "val"}, f"id % 5 = {rng.randrange(5)}")
        elif op == "merge":
            _set_mode(t, "merge", mode)
            ids = rng.sample(range(next_id), 5)
            src = batch(3).union(spark.createDataFrame(
                [(i, rng.choice("abc"), float(rng.randrange(100))) for i in ids],
                SCHEMA))
            t.merge(src, on="t.id = s.id",
                    matched=[{"condition": "s.val < 20", "action": "delete"},
                             {"condition": None, "action": "update",
                              "set": {"val": "s.val"}}],
                    not_matched=[{"condition": None, "values": None}])
        elif op == "delete_matching":
            # duplicate source keys: no cardinality check, EXISTS semantics
            _set_mode(t, "merge", mode)
            i = rng.randrange(next_id)
            t.delete_matching(spark.createDataFrame(
                [(i,), (i,), (i + 1,)], "id bigint"), on="t.id = s.id")
        elif op == "overwrite_where":
            cat = rng.choice("abc")
            t.overwrite_where(
                spark.createDataFrame([(next_id, cat, 1.0)], SCHEMA),
                f"cat = '{cat}' AND val > 80")
            next_id += 1
        elif op == "compact":
            proc.rewrite_data_files(t)
        else:
            proc.rewrite_position_delete_files(t)
        heads.append(t.metadata.current_snapshot().snapshot_id)
    assert any(s.changes for s in t.metadata.ancestors())
    windows = [(None, None)] + [
        tuple(sorted(rng.sample(heads, 2))) for _ in range(3)]
    for start, end in windows:
        for ids, net in ((None, False), (["id"], False), (None, True)):
            args = dict(start_snapshot_id=start, end_snapshot_id=end,
                        identifier_columns=ids, net_changes=net)
            got = _rows(proc.create_changelog_view(t, "cr_got", **args))
            with _whole_file_diff(t):
                want = _rows(proc.create_changelog_view(t, "cr_want", **args))
            assert got == want, (start, end, ids, net)


def _two_file_table(catalog, spark, name, props=None):
    t = catalog.create_table(name, SCHEMA, properties=props or {})
    t.append(spark.createDataFrame(
        [(i, "a", float(i)) for i in range(20)], SCHEMA).coalesce(1))
    t.append(spark.createDataFrame(
        [(i, "b", float(i)) for i in range(20, 40)], SCHEMA).coalesce(1))
    return t


def test_replace_only_window_yields_no_rows_and_runs_no_job(catalog, spark):
    t = _two_file_table(catalog, spark, "db.cr_repl",
                        {"write.delete.mode": "merge-on-read"})
    t.delete_where("id < 3")
    start = t.metadata.current_snapshot().snapshot_id
    proc.rewrite_position_delete_files(t)
    proc.rewrite_manifests(t)
    proc.rewrite_data_files(t)
    ops = [s.operation for s in t.metadata.ancestors()]
    assert ops[:3] == ["replace"] * 3, ops
    cl, jobs = jobs_submitted(spark, lambda: proc.create_changelog_view(
        t, "cr_repl_cl", start_snapshot_id=start))
    assert jobs == 0
    assert cl.count() == 0


def test_cow_changelog_reads_no_removed_data_file(catalog, spark):
    """A COW UPDATE's changelog never opens the files the commit removed
    (they are deleted from disk first), and a COW DELETE's reads exactly
    its old-images file."""
    t = _two_file_table(catalog, spark, "db.cr_cow")
    before = t.metadata.current_snapshot().snapshot_id
    snap = t.update_where({"val": "val * 10"}, "id IN (1, 2)")
    assert snap.changes and snap.summary["added-records"] == "2"
    for p in snap.removed_files:
        os.remove(os.path.join(t.location, p))
    got = _rows(proc.create_changelog_view(t, "cr_cow_cl",
                                           start_snapshot_id=before)
                .select("id", "val", "_change_type"))
    assert got == [(1, 1.0, "DELETE"), (1, 10.0, "INSERT"),
                   (2, 2.0, "DELETE"), (2, 20.0, "INSERT")]

    mid = t.metadata.current_snapshot().snapshot_id
    snap = t.delete_where("id = 25")
    cl = proc.create_changelog_view(t, "cr_cow_del", start_snapshot_id=mid)
    read = {os.path.relpath(p.replace("file://", "", 1), t.location)
            for p in cl.inputFiles()}
    assert read == set(snap.changes["deleted"])
    assert not read & set(snap.removed_files)
    assert _rows(cl.select("id", "_change_type")) == [(25, "DELETE")]


def _dml_jobs(catalog, spark, mode):
    """Spark jobs of each row-level DML on a two-file table."""
    t = _two_file_table(catalog, spark, f"db.cr_jobs_{mode[:3]}",
                        {f"write.{op}.mode": mode
                         for op in ("delete", "update", "merge")})
    src = spark.createDataFrame([(3, "a", 0.5), (50, "c", 1.5)], SCHEMA)
    return [
        jobs_submitted(spark, fn)[1] for fn in (
            lambda: t.delete_where("id = 1"),
            lambda: t.update_where({"val": "val + 1"}, "id = 22"),
            lambda: t.merge(src, on="t.id = s.id",
                            matched=[{"action": "update",
                                      "set": {"val": "s.val"}}],
                            not_matched=[{}]),
        )]


def test_recording_adds_no_spark_job_to_any_dml(catalog, spark):
    """The record rides the write job each DML already runs: the job
    counts are those of the same DMLs before change records existed."""
    assert _dml_jobs(catalog, spark, "copy-on-write") == [3, 3, 12]
    assert _dml_jobs(catalog, spark, "merge-on-read") == [3, 4, 14]


def test_crash_before_metadata_save_leaves_parent_and_reclaims_files(
        catalog, spark, monkeypatch):
    """A failure after the data, delete and record files are written but
    before the metadata JSON lands: readers see the parent, the changelog
    and a DELTA window over the head are unaffected, and
    remove_orphan_files reclaims every file the failed commit wrote, its
    manifest and manifest list included."""
    for mode in MODES:
        t = _two_file_table(catalog, spark, f"db.cr_crash_{mode[:3]}",
                            {"write.update.mode": mode})
        t.update_where({"val": "val + 1"}, "id = 5")
        head = t.metadata.current_snapshot().snapshot_id
        live = t.live_file_paths()
        want_scan = _rows(t.scan())
        want_cl = _rows(proc.create_changelog_view(t, "cr_crash_cl"))

        def boom(self):
            raise OSError("crash before the metadata JSON is written")

        with monkeypatch.context() as m:
            m.setattr(TableMetadata, "save", boom)
            with pytest.raises(OSError):
                t.update_where({"val": "val + 2"}, "id IN (6, 30)")
        fresh = catalog.load_table(t.name)
        assert fresh.metadata.current_snapshot().snapshot_id == head
        assert _rows(fresh.scan()) == want_scan
        assert _rows(proc.create_changelog_view(fresh, "cr_crash_cl")) == want_cl
        on_disk = {os.path.relpath(os.path.join(r, n), fresh.location)
                   for r, _d, ns in os.walk(fresh.data_dir()) for n in ns
                   if n.endswith(".parquet")}
        leftovers = on_disk - live
        assert leftovers, "the failed commit wrote no file"
        live_meta = set().union(*(s.metadata_paths()
                                  for s in fresh.metadata.snapshots))
        meta_leftovers = {os.path.join("metadata", n) for n in os.listdir(
            fresh.metadata.metadata_dir())
            if n.startswith("manifest")} - live_meta
        lists = {p for p in meta_leftovers
                 if p.startswith("metadata/manifest-list-")}
        assert lists and meta_leftovers - lists  # a list and its manifest
        assert set(proc.remove_orphan_files(
            fresh, older_than_ms=now_ms() + 1)) == leftovers | meta_leftovers
        assert not any(os.path.exists(os.path.join(fresh.location, p))
                       for p in leftovers | meta_leftovers)
        # the next commit and its changelog work on the refreshed handle
        snap = fresh.update_where({"val": "val + 2"}, "id = 6")
        assert snap.summary["deleted-records"] == "1"


def test_record_files_live_and_die_with_their_snapshot(catalog, spark,
                                                       tmp_path):
    """remove_orphan_files right after a commit keeps its record files and
    the next changelog still reads them; files_df never lists an
    old-images file as data; rewrite_table_path stages every record file;
    expire_snapshots deletes them with their snapshot."""
    t = _two_file_table(catalog, spark, "db.cr_life")
    start = t.metadata.current_snapshot().snapshot_id
    snap = t.delete_where("id IN (4, 24)")
    images = set(snap.changes["deleted"])
    assert images and not images & {f.path for f in snap.files}
    assert proc.remove_orphan_files(t, older_than_ms=now_ms() + 1) == []
    assert all(os.path.exists(os.path.join(t.location, p)) for p in images)
    assert _rows(proc.create_changelog_view(t, "cr_life_cl",
                                            start_snapshot_id=start)
                 .select("id", "_change_type")) == [(4, "DELETE"),
                                                    (24, "DELETE")]
    listed = {r["file_path"] for r in t.files_df().collect()}
    assert not listed & images

    staged = str(tmp_path / "staged")
    proc.rewrite_table_path(t, str(tmp_path / "target"), staged)
    assert all(os.path.exists(os.path.join(staged, p)) for p in images)

    t.append(spark.createDataFrame([(99, "c", 9.0)], SCHEMA))
    proc.expire_snapshots(t, older_than_ms=now_ms() + 1, retain_last=1)
    assert not any(os.path.exists(os.path.join(t.location, p)) for p in images)


def test_wide_row_images_keep_the_delete_set_broadcast(catalog, spark,
                                                       monkeypatch):
    """The broadcast gate counts (file_path, pos) entries, not delete-file
    bytes: row images make a delete file large, not its build side."""
    import iceberg_demo_spark.tables.table as tt

    t = catalog.create_table("db.cr_wide", "id bigint, blob string",
                             properties={"write.delete.mode": "merge-on-read"})
    t.append(spark.range(40).select(
        "id", F.expr("concat_ws('', transform(sequence(1, 400), "
                     "x -> sha2(cast(id * 1000 + x AS string), 256)))")
        .alias("blob")))
    t.delete_where("id < 10")
    dels = t.metadata.current_snapshot().delete_files
    entries = sum(d.records for d in dels)
    assert entries == 10
    bound = entries * tt._DELETE_ENTRY_BYTES
    assert sum(d.bytes for d in dels) > 4 * bound  # images dominate the file
    monkeypatch.setattr(tt, "_DELETE_BROADCAST_BYTES", bound)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = t.scan()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        assert df.count() == 30
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


@pytest.mark.parametrize("mode", MODES)
def test_row_level_summary_counts_match_duckdb(catalog, spark, mode):
    """added-records / deleted-records of each DML kind equal DuckDB's
    counts of the rows it inserts and deletes."""
    import duckdb

    props = {f"write.{op}.mode": mode for op in ("delete", "update", "merge")}
    t = _two_file_table(catalog, spark, f"db.cr_sum_{mode[:3]}", props)
    src_rows = [(i, "s", 0.5) for i in (2, 3, 21, 45, 46)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, cat VARCHAR, val DOUBLE)")
    con.execute("INSERT INTO t SELECT i, CASE WHEN i < 20 THEN 'a' ELSE 'b' "
                "END, i FROM range(40) r(i)")
    con.execute("CREATE TABLE s (id BIGINT, cat VARCHAR, val DOUBLE)")
    con.executemany("INSERT INTO s VALUES (?, ?, ?)", src_rows)

    def count(sql):
        return str(con.execute(sql).fetchone()[0])

    snap = t.delete_where("id >= 30")
    assert (snap.summary["added-records"], snap.summary["deleted-records"]) \
        == ("0", count("SELECT count(*) FROM t WHERE id >= 30"))
    con.execute("DELETE FROM t WHERE id >= 30")

    n = count("SELECT count(*) FROM t WHERE id % 3 = 0")
    snap = t.update_where({"val": "val + 1"}, "id % 3 = 0")
    assert (snap.summary["added-records"], snap.summary["deleted-records"]) \
        == (n, n)
    con.execute("UPDATE t SET val = val + 1 WHERE id % 3 = 0")

    matched = count("SELECT count(*) FROM t JOIN s USING (id)")
    inserted = con.execute("SELECT count(*) FROM s ANTI JOIN t USING (id)"
                           ).fetchone()[0]
    snap = t.merge(spark.createDataFrame(src_rows, SCHEMA), on="t.id = s.id",
                   matched=[{"action": "update", "set": {"val": "s.val"}}],
                   not_matched=[{}])
    assert snap.summary["deleted-records"] == matched
    assert snap.summary["added-records"] == str(int(matched) + inserted)


def test_merge_without_matched_clause_matches_duckdb(catalog, spark):
    """A MERGE without WHEN MATCHED clauses claims no matched target row:
    an insert-only MERGE rewrites no file, and under NOT MATCHED BY
    SOURCE a target row met by several source rows is still written
    once. Copy-on-write and merge-on-read agree with each other and with
    DuckDB, and their change records equal the whole-file diff."""
    import duckdb

    src_rows = [(1, "s", 1.0), (1, "s", 1.0), (3, "s", 7.0), (45, "s", 2.0)]
    nmbs = [{"condition": "t.val > 30", "action": "delete"},
            {"condition": "t.id % 2 = 0", "action": "update",
             "set": {"val": "t.val + 100"}}]
    got = {}
    for mode in MODES:
        t = _two_file_table(catalog, spark, f"db.cr_nm_{mode[:3]}",
                            {"write.merge.mode": mode})
        start = t.metadata.current_snapshot().snapshot_id
        before = {f.path for f in t._branch_files("main")}
        src = spark.createDataFrame(src_rows, SCHEMA)
        snap = t.merge(src, on="t.id = s.id", not_matched=[{}])
        assert before <= {f.path for f in snap.files}  # nothing rewritten
        assert not snap.delete_files
        t.merge(src, on="t.id = s.id", not_matched_by_source=nmbs)
        got[mode] = _rows(t.scan())
        cl = _rows(proc.create_changelog_view(t, "cr_nm_cl",
                                              start_snapshot_id=start))
        with _whole_file_diff(t):
            assert cl == _rows(proc.create_changelog_view(
                t, "cr_nm_want", start_snapshot_id=start))

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, cat VARCHAR, val DOUBLE)")
    con.execute("INSERT INTO t SELECT i, CASE WHEN i < 20 THEN 'a' ELSE 'b' "
                "END, i FROM range(40) r(i)")
    con.execute("CREATE TABLE s (id BIGINT, cat VARCHAR, val DOUBLE)")
    con.executemany("INSERT INTO s VALUES (?, ?, ?)", src_rows)
    con.execute("INSERT INTO t SELECT * FROM s "
                "WHERE id NOT IN (SELECT id FROM t)")
    unmatched = "id NOT IN (SELECT id FROM s)"
    con.execute(f"DELETE FROM t WHERE {unmatched} AND val > 30")
    con.execute(f"UPDATE t SET val = val + 100 "
                f"WHERE {unmatched} AND id % 2 = 0")
    want = sorted(con.execute("SELECT * FROM t").fetchall())
    assert got["copy-on-write"] == got["merge-on-read"] == want
