"""Streaming tests: micro-batch ingest commits snapshots; windowed
aggregation matches the batch equivalent; maintenance loop compacts."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from iceberg_demo_spark.sources.testdata import _configure
from iceberg_demo_spark.streaming import (
    maintain_streaming_table,
    stream_hourly_event_counts,
    stream_to_table,
)
from iceberg_demo_spark.tables import Catalog
from tests.conftest import SF_SMALL


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Events parquet re-materialized (ts normalized to timestamp) as a
    stream-source directory of several files."""
    _configure(spark)
    from iceberg_demo_spark.sources import load_tables

    df = load_tables(spark, SF_SMALL, ("events",))["events"]
    src = str(tmp_path / "stream_src")
    df.repartition(4).write.parquet(src)
    return src


def test_stream_ingest_commits_snapshot_per_batch(spark, tmp_path, events_dir):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    schema = spark.read.parquet(events_dir).schema
    t = catalog.create_table(
        "db.events_stream",
        [(f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields],
    )
    stream_to_table(spark, events_dir, schema, t,
                    str(tmp_path / "ckpt"), max_files_per_trigger=2)
    t.refresh()
    n_src = spark.read.parquet(events_dir).count()
    assert t.scan().count() == n_src
    snaps = t.metadata.snapshots
    assert len(snaps) >= 2  # 4 files, 2 per trigger => >= 2 micro-batches
    assert all("streaming-batch-id" in s.summary for s in snaps)


def test_stream_restart_is_exactly_once(spark, tmp_path, events_dir):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    schema = spark.read.parquet(events_dir).schema
    t = catalog.create_table(
        "db.events_once",
        [(f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields],
    )
    ckpt = str(tmp_path / "ckpt2")
    stream_to_table(spark, events_dir, schema, t, ckpt)
    n1 = t.refresh().scan().count()
    # restart against same checkpoint: no new data => no duplicate ingestion
    stream_to_table(spark, events_dir, schema, t, ckpt)
    assert t.refresh().scan().count() == n1


def test_windowed_agg_matches_batch(spark, events_dir):
    streamed = stream_hourly_event_counts(spark, events_dir,
                                          spark.read.parquet(events_dir).schema,
                                          query_name="hc_test")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "total_value")
    )
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_maintenance_loop(spark, tmp_path, events_dir):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    schema = spark.read.parquet(events_dir).schema
    t = catalog.create_table(
        "db.events_maint",
        [(f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields],
    )
    stream_to_table(spark, events_dir, schema, t, str(tmp_path / "ckpt3"),
                    max_files_per_trigger=1)
    t.refresh()
    n = t.scan().count()
    n_files_before = len(t.metadata.current_snapshot().files)
    res = maintain_streaming_table(t, retain_last=1)
    t.refresh()
    assert res["compacted_files"] >= 2
    assert res["expired_snapshots"] >= 1
    assert len(t.metadata.current_snapshot().files) < n_files_before
    assert t.scan().count() == n  # maintenance never changes data


# -- custom stateful operators (applyInPandasWithState) ---------------------

@pytest.fixture()
def dup_stream_dir(spark, tmp_path):
    """Two source files with overlapping doc ids, ingested one per
    micro-batch so duplicates cross batch boundaries."""
    src = str(tmp_path / "dup_src")
    spark.createDataFrame(
        [(1, "a1"), (2, "b1"), (3, "c1")], "doc_id bigint, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src + "/f1")
    spark.createDataFrame(
        [(2, "b2"), (3, "c2"), (4, "d1"), (4, "d2")], "doc_id bigint, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src + "/f2")
    # flatten: move part files into one dir with ordered names
    import glob

    out = str(tmp_path / "dup_flat")
    os.makedirs(out)
    import time as _time

    now = _time.time()
    for i, sub in enumerate(("f1", "f2")):
        part = glob.glob(f"{src}/{sub}/part-*.parquet")[0]
        dst = f"{out}/{i:03d}.parquet"
        shutil.copy(part, dst)
        # the file source orders batches by modification time — make it
        # unambiguous (f1 strictly older than f2)
        os.utime(dst, (now - 100 + i * 50, now - 100 + i * 50))
    return out


def test_streaming_first_seen_dedups_across_batches(spark, tmp_path, dup_stream_dir):
    from iceberg_demo_spark.streaming import first_seen

    schema = "doc_id bigint, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dup_stream_dir)
    )
    q = (
        first_seen(stream, "doc_id")
        .writeStream.format("memory").queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {r["doc_id"]: r["text"] for r in spark.sql("select * from dedup_out").collect()}
    assert set(rows) == {1, 2, 3, 4}
    # first occurrence won: ids 2,3 keep their batch-1 text
    assert rows[2] == "b1" and rows[3] == "c1"


def test_streaming_running_counts(spark, tmp_path, dup_stream_dir):
    from iceberg_demo_spark.streaming import running_counts

    schema = "doc_id bigint, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dup_stream_dir)
    )
    q = (
        running_counts(stream, "doc_id")
        .writeStream.format("memory").queryName("counts_out")
        .option("checkpointLocation", str(tmp_path / "ck_counts"))
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # update mode: take the LAST emission per key = final running count
    rows = spark.sql("select * from counts_out").collect()
    final = {}
    for r in rows:
        final[r["doc_id"]] = max(final.get(r["doc_id"], 0), r["n"])
    assert final == {1: 1, 2: 2, 3: 2, 4: 2}


# -- streaming FROM a table (incremental append consumer) -------------------

def test_stream_table_appends_and_checkpoint(spark, tmp_path):
    from iceberg_demo_spark.streaming import (
        process_table_stream,
        stream_table_appends,
    )
    from iceberg_demo_spark.tables import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh_src"))
    t = catalog.create_table("db.src_stream", "id bigint, v double")
    for lo in (0, 10, 20):
        t.append(spark.createDataFrame(
            [(lo + i, float(lo + i)) for i in range(5)], schema=t.schema()))

    batches = list(stream_table_appends(t))
    assert len(batches) == 3
    assert [df.count() for _sid, df in batches] == [5, 5, 5]
    # start-after semantics: only snapshots newer than the given id
    tail = list(stream_table_appends(t, start_snapshot_id=batches[0][0]))
    assert [sid for sid, _ in tail] == [sid for sid, _ in batches[1:]]

    # exactly-once consumer with a checkpoint
    ckpt = str(tmp_path / "consumer.ckpt")
    seen: list[int] = []
    n = process_table_stream(t, ckpt, lambda df, sid: seen.append(df.count()))
    assert n == 3 and seen == [5, 5, 5]
    # re-run: nothing new
    assert process_table_stream(t, ckpt, lambda df, sid: seen.append(-1)) == 0
    # new append + an overwrite (skipped), then resume picks up exactly one
    t.append(spark.createDataFrame([(99, 9.9)], schema=t.schema()))
    t.update_where({"v": "v + 1"}, "id = 0")  # non-append snapshot
    assert process_table_stream(t, ckpt, lambda df, sid: seen.append(df.count())) == 1
    assert seen == [5, 5, 5, 1]


# -- stateful gates under the driver contract -------------------------------

def test_streaming_dedup_gate_equals_batch_rollup(spark):
    from iceberg_demo_spark import registry
    from tests.conftest import SF_SMALL

    registry.load_all()
    got = {r["event_type"]: r for r in
           registry.QUERIES["streaming_stateful_dedup"](spark, SF_SMALL)
           .collect()}
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    exp = {r["event_type"]: r for r in
           ev.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value"), 2).alias("total_value"))
           .collect()}
    assert set(got) == set(exp)
    for k in exp:
        assert (got[k]["n_events"], got[k]["n_users"],
                got[k]["total_value"]) == (
            exp[k]["n_events"], exp[k]["n_users"], exp[k]["total_value"])


def test_streaming_running_counts_gate_sees_redelivery(spark):
    from iceberg_demo_spark import registry
    from tests.conftest import SF_SMALL

    registry.load_all()
    got = {r["running_count"]: r["n_users"] for r in
           registry.QUERIES["streaming_running_counts"](spark, SF_SMALL)
           .collect()}
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    per_user = (
        ev.groupBy("user_id")
        .agg((F.count(F.lit(1))
              + F.sum(F.when(F.col("event_id") % 5 == 0, 1).otherwise(0))
              ).alias("rc"))
    )
    exp = {r["rc"]: r["n"] for r in
           per_user.groupBy("rc").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == exp


def test_stream_upsert_cdc_last_write_wins_and_idempotent(
        spark, tmp_path, events_dir):
    """Round 6 CDC upsert: the final table is each key's latest row by
    (ts, event_id); a restart with the same checkpoint (all batches
    already committed) is a no-op — replayed MERGEs are guarded by the
    newer-than condition so state cannot regress or duplicate."""
    from iceberg_demo_spark.streaming.pipeline import stream_upsert_to_table

    catalog = Catalog(spark, str(tmp_path / "wh_cdc"))
    schema = spark.read.parquet(events_dir).schema
    t = catalog.create_table(
        "db.cdc_state",
        [(f.name, f.dataType.simpleString(), f.nullable)
         for f in schema.fields])
    ckpt = str(tmp_path / "cdc_ckpt")
    version0 = t.metadata.version
    stream_upsert_to_table(spark, events_dir, schema, t, ckpt,
                           key_cols=["user_id"],
                           order_cols=["ts", "event_id"],
                           max_files_per_trigger=1)
    t.refresh()
    # every batch commits one MERGE snapshot stamped with its batch id
    # inside the commit: one metadata version per committing batch
    merges = t.metadata.snapshots
    assert merges
    assert all("streaming-batch-id" in s.summary for s in merges)
    assert len({s.summary["streaming-batch-id"] for s in merges}) == len(merges)
    assert t.metadata.version - version0 == len(merges)
    src = spark.read.parquet(events_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    exp = {tuple(r) for r in
           src.withColumn("_rn", F.row_number().over(w))
           .filter("_rn = 1").drop("_rn").collect()}
    got = {tuple(r) for r in t.scan().select(*src.columns).collect()}
    assert got == exp
    n_snaps = len(t.metadata.snapshots)

    # restart with the same checkpoint: no new data → no state change
    stream_upsert_to_table(spark, events_dir, schema, t, ckpt,
                           key_cols=["user_id"],
                           order_cols=["ts", "event_id"],
                           max_files_per_trigger=1)
    t.refresh()
    assert {tuple(r) for r in t.scan().select(*src.columns).collect()} == exp
    assert len(t.metadata.snapshots) == n_snaps
    assert t.metadata.version - version0 == n_snaps


def test_stream_stream_join_matches_batch_and_restarts_clean(
        spark, tmp_path, events_dir):
    """The watermarked stream-stream join must (a) emit exactly the batch
    self-join pairs even though views and purchases arrive across
    different micro-batches, and (b) be idempotent under a restart with
    the same checkpoint (no new files → no new snapshots, no new rows)."""
    from iceberg_demo_spark.streaming.pipeline import (
        stream_stream_join_to_table,
    )

    catalog = Catalog(spark, str(tmp_path / "wh"))
    schema = spark.read.parquet(events_dir).schema
    t = catalog.create_table(
        "db.ssj",
        "user_id bigint, view_id bigint, purchase_id bigint, delay_us bigint")
    ck = str(tmp_path / "ck_ssj")
    stream_stream_join_to_table(spark, events_dir, schema, t, ck,
                                max_files_per_trigger=1)
    t.refresh()
    got = sorted(
        (r["view_id"], r["purchase_id"], r["delay_us"])
        for r in t.scan().collect())

    ev = spark.read.parquet(events_dir).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"))
    want = sorted(
        (r["view_id"], r["purchase_id"], r["delay_us"])
        for r in v.join(
            p, F.expr("vu = pu AND p_ts >= v_ts "
                      "AND p_ts <= v_ts + INTERVAL 1 HOUR"))
        .select("view_id", "purchase_id",
                (F.unix_micros("p_ts") - F.unix_micros("v_ts"))
                .alias("delay_us"))
        .collect())
    assert got == want and len(got) > 0

    n_snaps = len(t.metadata.snapshots)
    stream_stream_join_to_table(spark, events_dir, schema, t, ck,
                                max_files_per_trigger=1)
    t.refresh()
    assert len(t.metadata.snapshots) == n_snaps
    assert t.scan().count() == len(got)


def test_stream_skip_delete_snapshots(spark, tmp_path):
    """Reference parity (docs/spark-structured-streaming.md:29-37): delete
    snapshots are skipped under skip_delete (default) and error when
    skip_delete=False; interleaved appends+DELETEs stream exactly the
    appended rows, restart-idempotent; compaction REPLACE snapshots are
    always silently passed over."""
    from iceberg_demo_spark.streaming import (
        process_table_stream,
        stream_table_appends,
    )
    from iceberg_demo_spark.tables import Catalog, procedures as proc

    catalog = Catalog(spark, str(tmp_path / "wh_del"))
    t = catalog.create_table("db.src_del", "id bigint, v double")
    t.append(spark.createDataFrame([(i, float(i)) for i in range(5)],
                                   schema=t.schema()))
    t.delete_where("id = 1")                      # CoW delete snapshot
    t.append(spark.createDataFrame([(10, 10.0)], schema=t.schema()))
    t.set_properties({"write.delete.mode": "merge-on-read"})
    t.delete_where("id = 2")                      # MoR delete snapshot
    t.append(spark.createDataFrame([(20, 20.0)], schema=t.schema()))
    proc.rewrite_data_files(t)                    # REPLACE snapshot

    ops = [s.operation for s in reversed(t.metadata.ancestors())]
    assert "delete" in ops and "replace" in ops

    batches = list(stream_table_appends(t))       # both skips default on
    assert [df.count() for _sid, df in batches] == [5, 1, 1]
    got = sorted(r["id"] for _sid, df in batches for r in df.collect())
    assert got == [0, 1, 2, 3, 4, 10, 20]         # the APPENDED rows only

    with pytest.raises(ValueError, match="skip_delete"):
        list(stream_table_appends(t, skip_delete=False))
    t.update_where({"v": "v + 1"}, "id = 0")  # overwrite snapshot
    with pytest.raises(ValueError, match="skip_overwrite"):
        list(stream_table_appends(t, skip_overwrite=False))

    # exactly-once consumer: restart re-delivers nothing
    ckpt = str(tmp_path / "del_consumer.ckpt")
    seen: list[int] = []
    assert process_table_stream(
        t, ckpt, lambda df, sid: seen.append(df.count())) == 3
    assert seen == [5, 1, 1]
    assert process_table_stream(
        t, ckpt, lambda df, sid: seen.append(-1)) == 0
    # a delete between restarts is invisible; the next append is not
    t.delete_where("id = 3")
    t.append(spark.createDataFrame([(30, 30.0)], schema=t.schema()))
    assert process_table_stream(
        t, ckpt, lambda df, sid: seen.append(df.count())) == 1
    assert seen == [5, 1, 1, 1]


def test_stream_from_timestamp(spark, tmp_path):
    """stream-from-timestamp parity: start with the first snapshot
    committed at/after the given wall-clock ms — no snapshot id needed
    (docs/spark-structured-streaming.md:29-37)."""
    from iceberg_demo_spark.streaming import stream_table_appends
    from iceberg_demo_spark.tables import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh_ts"))
    t = catalog.create_table("db.src_ts", "id bigint")
    for lo in (0, 10, 20):
        t.append(spark.createDataFrame([(lo,)], schema=t.schema()))
    chain = list(reversed(t.metadata.ancestors()))
    cut = chain[1].timestamp_ms  # at the 2nd commit's stamp

    got = list(stream_table_appends(t, from_timestamp_ms=cut))
    assert [sid for sid, _ in got] == [s.snapshot_id for s in chain[1:]]
    assert sorted(r["id"] for _s, df in got for r in df.collect()) == [10, 20]
    # a future timestamp yields nothing; epoch yields everything
    assert list(stream_table_appends(
        t, from_timestamp_ms=chain[-1].timestamp_ms + 10_000)) == []
    assert len(list(stream_table_appends(t, from_timestamp_ms=0))) == 3
    # combines with start_snapshot_id: the LATER of the two starts wins
    got2 = list(stream_table_appends(
        t, start_snapshot_id=chain[1].snapshot_id, from_timestamp_ms=cut))
    assert [sid for sid, _ in got2] == [chain[2].snapshot_id]


def test_streaming_dedup_ingest_grows_index_across_batches(spark):
    """streaming_dedup_ingest vs a pure-Python batch-by-batch recompute
    at sf0.001 — and proof the GROWING index bites: at least one doc
    must be dropped because of a doc KEPT in an earlier micro-batch,
    not because of the standing corpus (otherwise the gate degenerates
    to the static dedup_incremental_batch)."""
    import hashlib
    from collections import defaultdict

    from iceberg_demo_spark import registry

    registry.load_all()
    docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id", "source", "n_chars", "text").collect())

    def wins(r):
        return {hashlib.md5(r["text"][s - 1:s + 63].encode()).hexdigest()
                for s in range(1, max(r["n_chars"] - 63, 1) + 1, 32)}

    index = set()
    for r in docs:
        if r["doc_id"] % 5 != 0:
            index |= wins(r)
    corpus_only = set(index)
    batches = defaultdict(list)
    for r in docs:
        if r["doc_id"] % 5 == 0:
            batches[(r["doc_id"] // 5) % 3].append(r)
    kept, cross_batch_drop = defaultdict(lambda: [0, 0]), 0
    for b in (0, 1, 2):
        new_hashes = set()
        for r in batches[b]:
            ws = wins(r)
            a = kept[r["source"]]
            a[0] += 1
            if ws & index:
                if not ws & corpus_only:
                    cross_batch_drop += 1
            else:
                a[1] += 1
                new_hashes |= ws
        index |= new_hashes  # batch boundary: kept docs' hashes land
    got = {r["source"]: r
           for r in registry.QUERIES["streaming_dedup_ingest"](
               spark, SF_SMALL).collect()}
    assert set(got) == set(kept)
    for src, (n_in, n_kept) in kept.items():
        row = got[src]
        assert row["n_ingested"] == n_in
        assert row["n_kept"] == n_kept
        assert row["n_dropped"] == n_in - n_kept
    assert cross_batch_drop > 0, (
        "no doc was dropped due to an earlier micro-batch; the gate "
        "no longer exercises index growth")


def test_stream_dedup_restart_is_noop_and_index_stays_distinct(
        spark, tmp_path):
    """Restart discipline for the continuous-dedup writer: re-running
    with the same checkpoint re-delivers nothing (no new snapshots, no
    table change, no index growth), and the grown index never holds a
    digest twice (the anti-join guard)."""
    from iceberg_demo_spark.operators.dedup import _ingest_windows
    from iceberg_demo_spark.operators.table_ops import _dedup_ingest_src
    from iceberg_demo_spark.sources import load_tables
    from iceberg_demo_spark.streaming.pipeline import stream_dedup_to_table

    src = _dedup_ingest_src(spark, SF_SMALL)
    schema = spark.read.parquet(src).schema
    idx_dir = str(tmp_path / "idx")
    corpus = (load_tables(spark, SF_SMALL, ("documents",))["documents"]
              .filter("doc_id % 5 <> 0"))
    (_ingest_windows(corpus).select("wh").distinct()
     .write.parquet(idx_dir))
    catalog = Catalog(spark, str(tmp_path / "wh_sdi"))
    t = catalog.create_table(
        "db.clean",
        [(f.name, f.dataType.simpleString(), f.nullable)
         for f in schema.fields])
    ck = str(tmp_path / "ck")
    stream_dedup_to_table(spark, src, schema, t, ck, idx_dir,
                          _ingest_windows)
    t.refresh()
    kept = {r["doc_id"] for r in t.scan().select("doc_id").collect()}
    n_snaps = len(t.metadata.snapshots)
    n_idx = spark.read.parquet(idx_dir).count()
    assert kept and n_idx > 0
    assert spark.read.parquet(idx_dir).distinct().count() == n_idx

    stream_dedup_to_table(spark, src, schema, t, ck, idx_dir,
                          _ingest_windows)
    t.refresh()
    assert {r["doc_id"]
            for r in t.scan().select("doc_id").collect()} == kept
    assert len(t.metadata.snapshots) == n_snaps
    assert spark.read.parquet(idx_dir).count() == n_idx


def test_stream_dedup_randomized_sweep(spark, tmp_path):
    """Randomized batch-split sweep of stream_dedup_to_table (the
    discipline of the randomized DML sweep): synthetic docs built from a
    small pool of 64-char span units (so cross-doc window collisions are
    common), random corpus/batch split, 4 micro-batches — the kept set
    must equal a pure-Python simulation of the grow-as-you-keep index
    for every seed."""
    import hashlib
    import os
    import random
    import time

    from iceberg_demo_spark.operators.dedup import _ingest_windows
    from iceberg_demo_spark.streaming.pipeline import stream_dedup_to_table

    def wins(text):
        n = len(text)
        return {hashlib.md5(text[s - 1:s + 63].encode()).hexdigest()
                for s in range(1, max(n - 63, 1) + 1, 32)}

    for seed in (11, 23):
        rnd = random.Random(seed)
        units = ["%063dU" % rnd.randrange(10 ** 18) for _ in range(12)]
        docs = []
        for i in range(48):
            text = "".join(rnd.choice(units)
                           for _ in range(rnd.randrange(1, 4)))
            docs.append((i, f"s{i % 3}", len(text), text))
        corpus = [d for d in docs if rnd.random() < 0.4]
        batch_docs = [d for d in docs if d not in corpus]
        assign = {d[0]: rnd.randrange(4) for d in batch_docs}

        base = tmp_path / f"sweep{seed}"
        src = str(base / "src")
        os.makedirs(src)
        df_all = spark.createDataFrame(
            batch_docs, "doc_id long, source string, n_chars int, text string")
        now = time.time()
        for b in range(4):
            ids = [i for i, v in assign.items() if v == b]
            part = str(base / f"stage{b}")
            (df_all.filter(F.col("doc_id").isin(ids))
             .coalesce(1).write.parquet(part))
            import glob as _glob
            import shutil as _shutil
            f = _glob.glob(f"{part}/part-*.parquet")[0]
            dst = f"{src}/{b:03d}.parquet"
            _shutil.copy(f, dst)
            os.utime(dst, (now - 400 + b * 50, now - 400 + b * 50))

        idx_dir = str(base / "idx")
        corpus_df = spark.createDataFrame(
            corpus or [(10 ** 6, "s0", 64, "x" * 64)],
            "doc_id long, source string, n_chars int, text string")
        (_ingest_windows(corpus_df).select("wh").distinct()
         .write.parquet(idx_dir))

        catalog = Catalog(spark, str(base / "wh"))
        t = catalog.create_table(
            "db.sweep", "doc_id bigint, source string, n_chars int, "
            "text string")
        stream_dedup_to_table(spark, src, df_all.schema, t,
                              str(base / "ck"), idx_dir, _ingest_windows)
        t.refresh()
        got = {r["doc_id"] for r in t.scan().select("doc_id").collect()}

        index = set()
        for d in (corpus or [(10 ** 6, "s0", 64, "x" * 64)]):
            index |= wins(d[3])
        exp = set()
        for b in range(4):
            new_hashes = set()
            for d in sorted(batch_docs):
                if assign[d[0]] != b:
                    continue
                ws = wins(d[3])
                if not (ws & index):
                    exp.add(d[0])
                    new_hashes |= ws
            index |= new_hashes
        assert got == exp, f"seed {seed}: {got ^ exp}"
