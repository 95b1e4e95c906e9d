"""Round-13 optimization pins.

1. MoR position-delete commits stay bounded at ONE on-disk file per
   commit (the small-files I/O amplifier at 100 TB — guide §6.2); the
   bound was structural in _write_delete_files since the MoR round but
   never pinned by a test (VERDICT r12 #8).
2. The shared broadcast-threshold parse honors Spark's byte-suffixed
   forms and degrades to 0 ("gate everything off") on unparseable or
   negative values (ADVICE r12) — the measured-size gate
   ``fits_broadcast`` (PageRank loop, connected_components collapse)
   depends on it.
3. The merge() source persist does not evict a CALLER-pinned source
   (ADVICE r12): after a MERGE whose source the caller cached, the
   source frame is still cached.
"""

from __future__ import annotations

import os

import pytest

from iceberg_demo_spark.cache import broadcast_threshold_bytes, fits_broadcast
from iceberg_demo_spark.tables import Catalog

MOR_PROPS = {
    "write.delete.mode": "merge-on-read",
    "write.update.mode": "merge-on-read",
    "write.merge.mode": "merge-on-read",
}


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


def test_mor_delete_commit_writes_one_file_on_disk(catalog):
    """Entries from many producing tasks land in ONE sorted parquet per
    delete commit — metadata AND on-disk reality."""
    t = catalog.create_table("db.mor13", "id bigint not null, data string")
    rows = [(i, f"d{i}") for i in range(1, 257)]
    # several appends → several data files → delete entries span files
    df = catalog.spark.createDataFrame(rows, schema=t.schema())
    t.append(df.repartition(8))
    t.set_properties(MOR_PROPS)
    snap = t.delete_where("id % 2 = 0")
    assert snap.operation == "delete"
    assert len(snap.delete_files) == 1
    d = os.path.dirname(os.path.join(t.location,
                                     snap.delete_files[0].path))
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) == 1
    assert sorted(r["id"] for r in t.scan().collect()) == list(
        range(1, 257, 2))


def test_broadcast_threshold_parses_suffixed_values(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for raw, want in [("10m", 10 * 1024 * 1024), ("1g", 1024 ** 3),
                          ("64MB", 64 * 1024 * 1024), ("512k", 512 * 1024),
                          ("1p", 1024 ** 5), ("2pb", 2 * 1024 ** 5),
                          ("10485760", 10485760), ("-1", 0)]:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
            assert broadcast_threshold_bytes(spark) == want, raw
        # the measured-size gate at its boundaries: 10 rows x 64 B is
        # exactly 640 B, 0 rows never fits, and at threshold 0 the row
        # count is never taken
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "640")
        assert fits_broadcast(spark, lambda: 10)
        assert not fits_broadcast(spark, lambda: 11)
        assert not fits_broadcast(spark, lambda: 0)
        calls = []
        for raw in ("0", "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
            assert not fits_broadcast(spark, lambda: calls.append(raw) or 1)
        assert calls == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_merge_leaves_caller_pinned_source_cached(catalog):
    t = catalog.create_table("db.mtgt13", "id bigint not null, v string")
    t.append(catalog.spark.createDataFrame(
        [(1, "a"), (2, "b")], schema=t.schema()))
    src = catalog.spark.createDataFrame(
        [(2, "B"), (3, "C")], "id bigint, v string").persist()
    try:
        src.count()  # fill the caller's cache
        t.merge(src, on="t.id = s.id",
                matched=[{"action": "update", "set": {"v": "s.v"}}],
                not_matched=[{"values": None}])
        lvl = src.storageLevel
        assert lvl.useMemory or lvl.useDisk, (
            "merge() evicted the caller's pinned source")
        assert sorted((r["id"], r["v"]) for r in t.scan().collect()) == [
            (1, "a"), (2, "B"), (3, "C")]
    finally:
        src.unpersist()
