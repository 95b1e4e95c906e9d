"""Stored-procedure equivalents (reference: CALL catalog.system.*,
iceberg_it.py:2349-2508 registry, docs/spark-procedures.md).

Snapshot-management procedures are pure metadata pointer swaps; maintenance
procedures (compaction, expiry, orphan cleanup) combine a Spark rewrite job
with a metadata commit. Each returns a small result dict/DataFrame mirroring
the reference procedure's output columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F, types as T

from iceberg_demo_spark.cache import pin_checkpoint as _pin_ckpt
from iceberg_demo_spark.tables.format import MAIN_BRANCH, DataFile, Snapshot, now_ms
from iceberg_demo_spark.tables.table import (
    _FILE_COL, _POS_COL, Table, _delete_set_fits_broadcast,
)

# -- snapshot management ---------------------------------------------------


def rollback_to_snapshot(table: Table, snapshot_id: int) -> dict:
    """docs/spark-procedures.md:49-79 — move main back to an ancestor."""
    table.check_writable("rollback_to_snapshot")
    md = table.metadata
    prev = md.current_snapshot()
    md.snapshot_by_id(snapshot_id)
    md.refs[MAIN_BRANCH]["snapshot_id"] = snapshot_id
    md.save()
    return {"previous_snapshot_id": prev.snapshot_id if prev else None,
            "current_snapshot_id": snapshot_id}


def rollback_to_timestamp(table: Table, timestamp_ms: int) -> dict:
    table.check_writable("rollback_to_timestamp")
    snap = table.metadata.snapshot_as_of_timestamp(timestamp_ms)
    return rollback_to_snapshot(table, snap.snapshot_id)


def set_current_snapshot(table: Table, snapshot_id: int | None = None,
                         ref: str | None = None) -> dict:
    """By id or by ref name (iceberg_it.py:1752-1757 uses ref=>branch)."""
    table.check_writable("set_current_snapshot")
    if (snapshot_id is None) == (ref is None):
        raise ValueError("provide exactly one of snapshot_id / ref")
    if ref is not None:
        snapshot_id = table.metadata.resolve_ref(ref).snapshot_id
    return rollback_to_snapshot(table, snapshot_id)


def cherrypick_snapshot(table: Table, snapshot_id: int) -> dict:
    """Re-apply a (e.g. WAP-staged) snapshot's file delta onto main
    (docs/spark-procedures.md:149-185)."""
    table.check_writable("cherrypick_snapshot")
    md = table.metadata
    snap = md.snapshot_by_id(snapshot_id)
    head = md.current_snapshot()
    if head is not None and snap.parent_id == head.snapshot_id:
        # fast path: direct child — just advance the pointer
        md.refs[MAIN_BRANCH]["snapshot_id"] = snapshot_id
        md.save()
        return {"source_snapshot_id": snapshot_id, "current_snapshot_id": snapshot_id}
    base = {f.path: f for f in (head.files if head else [])}
    for p in snap.removed_files:
        base.pop(p, None)
    by_path = {f.path: f for f in snap.files}
    added = [by_path[p] for p in snap.added_files if p in by_path]
    files = list(base.values()) + added
    new = table._commit(snap.operation, files, added, [], MAIN_BRANCH,
                        {"cherry-picked-from": str(snapshot_id)})
    return {"source_snapshot_id": snapshot_id, "current_snapshot_id": new.snapshot_id}


def publish_changes(table: Table, wap_id: str | None = None,
                    wap_branch: str | None = None) -> dict:
    """WAP publish (iceberg_it.py:2245-2254): cherry-pick the audited
    snapshot (by wap.id summary or staging branch head) onto main."""
    table.check_writable("publish_changes")
    md = table.metadata
    if wap_branch is not None:
        snap = md.resolve_ref(wap_branch)
    elif wap_id is not None:
        cands = [s for s in md.snapshots if s.summary.get("wap.id") == wap_id]
        if not cands:
            raise ValueError(f"no snapshot with wap.id={wap_id}")
        snap = cands[-1]
    else:
        raise ValueError("provide wap_id or wap_branch")
    return cherrypick_snapshot(table, snap.snapshot_id)


def fast_forward(table: Table, branch: str, to: str) -> dict:
    """Advance `branch` to `to`'s head if it is an ancestor-descendant move
    (docs/spark-procedures.md:223-248)."""
    table.check_writable("fast_forward")
    md = table.metadata
    target = md.resolve_ref(to)
    cur = md.refs.get(branch)
    if cur is not None:
        ancestor_ids = {s.snapshot_id for s in md.ancestors(to)}
        if cur["snapshot_id"] not in ancestor_ids:
            raise ValueError(f"{branch} is not an ancestor of {to}; cannot fast-forward")
        prev = cur["snapshot_id"]
    else:
        prev = None
    md.refs[branch] = {"snapshot_id": target.snapshot_id, "type": "branch"}
    md.save()
    return {"branch_updated": branch, "previous_ref": prev, "updated_ref": target.snapshot_id}


def ancestors_of(table: Table, snapshot_id: int | None = None) -> DataFrame:
    """docs/spark-procedures.md:764-803."""
    md = table.metadata
    if snapshot_id is None:
        head = md.current_snapshot()
        snapshot_id = head.snapshot_id if head else None
    rows = []
    if snapshot_id is not None:
        rows = [(s.snapshot_id, s.timestamp_ms) for s in md.ancestors(snapshot_id)]
    return table.spark.createDataFrame(rows, "snapshot_id bigint, timestamp_ms bigint")


# -- maintenance -----------------------------------------------------------


def expire_snapshots(table: Table, older_than_ms: int | None = None,
                     retain_last: int = 1,
                     snapshot_ids: list[int] | None = None) -> dict:
    """Drop expired snapshots' metadata and delete data, delete and
    change-record files no longer referenced by any surviving snapshot
    (docs/spark-procedures.md:255-302)."""
    table.check_writable("expire_snapshots")
    md = table.metadata
    # RETAIN d DAYS on a ref: the ref itself expires after that age
    # (docs/spark-ddl.md:476-554); expired refs are dropped here, and their
    # snapshots become expirable below like any other unreferenced snapshot.
    from iceberg_demo_spark.tables.format import now_ms as _now_ms

    now = _now_ms()
    expired_refs = [
        name for name, r in md.refs.items()
        if name != MAIN_BRANCH and r.get("max_ref_age_ms") is not None
        and r.get("created_at_ms") is not None
        and now - r["created_at_ms"] > r["max_ref_age_ms"]
    ]
    for name in expired_refs:
        del md.refs[name]
    keep_ids = {r["snapshot_id"] for r in md.refs.values()}
    chain = md.ancestors(MAIN_BRANCH)
    keep_ids.update(s.snapshot_id for s in chain[: max(retain_last, 1)])
    # Branch snapshot retention (CREATE BRANCH ... WITH SNAPSHOT RETENTION n
    # SNAPSHOTS): each branch keeps at least its configured ancestor count.
    for ref_name, r in md.refs.items():
        n_keep = r.get("min_snapshots_to_keep")
        if r.get("type") == "branch" and n_keep:
            keep_ids.update(
                s.snapshot_id for s in md.ancestors(ref_name)[: int(n_keep)])
    expire: set[int] = set()
    if snapshot_ids:
        expire.update(snapshot_ids)
    if older_than_ms is not None:
        expire.update(s.snapshot_id for s in md.snapshots if s.timestamp_ms < older_than_ms)
    expire -= keep_ids
    if not expire:
        if expired_refs:
            md.save()  # persist the ref expiry even with no snapshots to drop
        return {"deleted_data_files_count": 0, "deleted_snapshots_count": 0,
                "deleted_refs_count": len(expired_refs)}
    survivors = [s for s in md.snapshots if s.snapshot_id not in expire]
    live_after = {f.path for s in survivors for f in s.files}
    live_after.update(f.path for s in survivors for f in s.delete_files)
    live_after.update(p for s in survivors for p in s.change_paths())
    live_before = table.live_file_paths()
    to_delete = live_before - live_after
    for rel in to_delete:
        p = os.path.join(table.location, rel)
        if os.path.exists(p):
            os.remove(p)
    # Metadata cleanup: manifest lists and manifests referenced ONLY by
    # expired snapshots are dead — remove them (and their cache entries).
    from iceberg_demo_spark.tables.format import forget_metadata_file

    live_meta = {p for s in survivors for p in s.metadata_paths()}
    dead_meta = {p for s in md.snapshots if s.snapshot_id in expire
                 for p in s.metadata_paths()}
    for rel in dead_meta - live_meta:
        p = os.path.join(table.location, rel)
        if os.path.exists(p):
            os.remove(p)
        forget_metadata_file(p)
    md.snapshots = survivors
    for s in md.snapshots:
        if s.parent_id in expire:
            s.parent_id = None
    md.save()
    return {"deleted_data_files_count": len(to_delete),
            "deleted_snapshots_count": len(expire),
            "deleted_refs_count": len(expired_refs)}


#: Default orphan age cutoff: 3 days, matching the reference
#: (docs/spark-procedures.md:313) — protects files of in-flight commits.
_ORPHAN_DEFAULT_AGE_MS = 3 * 24 * 3600 * 1000


def remove_orphan_files(table: Table, older_than_ms: int | None = None,
                        dry_run: bool = False) -> list[str]:
    """Files not referenced by ANY snapshot (docs/spark-procedures.md:
    304-378): data, delete and change-record files under data/, and
    manifests and manifest lists under metadata/ — a commit that failed
    before its metadata JSON landed leaves both behind. Metadata JSON
    versions and the version hint are never touched. ``older_than_ms``
    defaults to now − 3 days — deleting younger files could race a
    concurrent in-flight write whose commit hasn't landed yet."""
    table.check_writable("remove_orphan_files")
    if older_than_ms is None:
        import time as _time
        older_than_ms = int(_time.time() * 1000) - _ORPHAN_DEFAULT_AGE_MS
    live = table.live_file_paths()
    for s in table.metadata.snapshots:
        live |= s.metadata_paths()
    candidates = [(root, n) for root, _d, names in os.walk(table.data_dir())
                  for n in names if n.endswith(".parquet")]
    md = table.metadata.metadata_dir()
    candidates += [(md, n) for n in os.listdir(md)
                   if n.startswith("manifest-") and n.endswith(".json")]
    orphans = []
    for root, n in candidates:
        ap = os.path.join(root, n)
        rel = os.path.relpath(ap, table.location)
        if rel in live:
            continue
        if older_than_ms is not None and os.path.getmtime(ap) * 1000 >= older_than_ms:
            continue
        orphans.append(rel)
        if not dry_run:
            os.remove(ap)
    return sorted(orphans)


def _zorder_key(df, cols: list[str], bits: int = 16):
    """A REAL Morton / Z-order key (round 9 — the prior form interleaved
    xxhash64 of the columns, which clusters EQUALITY but destroys range
    locality, so min/max file skipping gained nothing from a 'zorder'
    rewrite): each column is linearly binned into 2^bits buckets over
    its [min, max] range (dates/timestamps via their epoch integers;
    non-orderable types fall back to a hash bin, documented as
    equality-only clustering), and the per-column bits are interleaved
    most-significant-first — earlier sort columns take the higher bit
    within each group. Range-partitioning on this key gives every output
    file a TIGHT min/max box in every z-ordered dimension, which is what
    multi-column predicates skip on.

    The min/max pre-pass is one bounded driver-side aggregate (2 scalars
    per column) over the rewrite group — the rewrite_data_files planning
    discipline. Linear binning (vs rank binning) keeps the pass cheap;
    heavily skewed columns cluster less evenly, the documented tradeoff.
    NULLs land in bin 0."""
    maxbin = (1 << bits) - 1
    numeric = {}
    for c in cols:
        dt = df.schema[c].dataType.simpleString()
        if dt == "date":
            numeric[c] = F.unix_date(F.col(c)).cast("double")
        elif dt.startswith("timestamp"):
            numeric[c] = F.col(c).cast("double")
        elif (dt in ("tinyint", "smallint", "int", "bigint",
                     "float", "double")
              or dt.startswith("decimal")):
            numeric[c] = F.col(c).cast("double")
    bounds = {}
    if numeric:
        row = df.agg(*[a for c, v in numeric.items()
                       for a in (F.min(v).alias(c + "__mn"),
                                 F.max(v).alias(c + "__mx"))]).first()
        bounds = {c: (row[c + "__mn"], row[c + "__mx"]) for c in numeric}
    bins = []
    for c in cols:
        if c in numeric:
            mn, mx = bounds[c]
            if mn is None or mx is None or mx <= mn:
                bins.append(F.lit(0).cast("long"))
            else:
                bins.append(F.least(F.floor(
                    (numeric[c] - F.lit(float(mn)))
                    / F.lit(float(mx) - float(mn)) * maxbin),
                    F.lit(maxbin)).cast("long"))
        else:
            bins.append(F.pmod(F.xxhash64(F.col(c)),
                               F.lit(1 << bits)).cast("long"))
    n = len(bins)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(bins):
            z = z + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)),
                i * n + (n - 1 - j))
    return F.coalesce(z, F.lit(0))


def rewrite_data_files(table: Table, strategy: str = "binpack",
                       sort_order: list[dict] | None = None,
                       where: str | None = None,
                       target_file_size_bytes: int | None = None,
                       min_input_files: int = 2) -> dict:
    """Compaction (docs/spark-procedures.md:380-475; the BASELINE 'compaction'
    requirement). binpack: coalesce small files toward the target size;
    sort: additionally order rows (zorder approximated by hash-interleaving
    the sort columns — same clustering goal, works on any types).

    Per-partition grouping keeps rewrites shuffle-free for binpack
    (coalesce only); sort pays one exchange per rewrite group.
    """
    table.check_writable("rewrite_data_files")
    if isinstance(sort_order, str):
        # SQL CALL form (docs/spark-procedures.md:430-435,461-465):
        # 'zorder(c1, c2)' selects the zorder strategy; otherwise a sort
        # spec like 'c1 ASC NULLS LAST, c2 DESC'.
        import re as _re

        m = _re.fullmatch(r"\s*zorder\s*\(([^)]*)\)\s*", sort_order, _re.IGNORECASE)
        if m:
            strategy = "zorder"
            sort_order = [{"col": c.strip()} for c in m.group(1).split(",") if c.strip()]
        else:
            parsed = []
            for part in sort_order.split(","):
                toks = part.split()
                if not toks:
                    continue
                spec = {"col": toks[0]}
                low = [t.lower() for t in toks[1:]]
                if "desc" in low:
                    spec["dir"] = "desc"
                if "nulls" in low:
                    spec["nulls"] = low[low.index("nulls") + 1]
                parsed.append(spec)
            sort_order = parsed
            if strategy == "binpack":
                strategy = "sort"
    md = table.metadata
    head = md.current_snapshot()
    if head is None:
        return {"rewritten_data_files_count": 0, "added_data_files_count": 0, "rewritten_bytes_count": 0}
    target = target_file_size_bytes or int(
        md.properties.get("write.target-file-size-bytes", 512 * 1024 * 1024)
    )
    candidates = list(head.files)
    if where is not None:
        hit = table._matching_files(candidates, F.expr(where), head.schema_id,
                                    delete_files=head.delete_files)
        candidates = [f for f in candidates if f.path in hit]
    groups: dict[tuple, list] = {}
    for f in candidates:
        groups.setdefault(tuple(sorted(f.partition.items())), []).append(f)
    rewritten, added = [], []
    for _part, fs in sorted(groups.items()):
        small = [f for f in fs if f.bytes < target]
        if len(small) < min_input_files and strategy == "binpack":
            continue
        src = fs if strategy != "binpack" else small
        if not src:
            continue
        # Reading WITH position deletes applied folds merge-on-read deletes
        # back into clean data files (one purpose of compaction).
        df = table._read_files(src, head.schema_id, delete_files=head.delete_files)
        total = sum(f.bytes for f in src)
        n_out = max(1, -(-total // target))  # ceil
        if strategy == "sort" and sort_order:
            cols = [F.col(o["col"]).desc() if o.get("dir") == "desc" else F.col(o["col"])
                    for o in sort_order]
            df = df.repartition(n_out).sortWithinPartitions(*cols)
        elif strategy == "zorder" and sort_order:
            zcols = [o["col"] for o in sort_order]
            zkey = _zorder_key(df, zcols)
            df = df.repartitionByRange(n_out, zkey).sortWithinPartitions(zkey)
        else:
            df = df.coalesce(int(n_out))
        new = table._write_files(df, head.schema_id)
        rewritten.extend(src)
        added.extend(new)
    if not rewritten:
        return {"rewritten_data_files_count": 0, "added_data_files_count": 0, "rewritten_bytes_count": 0}
    rewritten_paths = {f.path for f in rewritten}
    files = [f for f in head.files if f.path not in rewritten_paths] + added
    table._commit("replace", files, added, rewritten, MAIN_BRANCH,
                  {"operation-detail": "rewrite_data_files"})
    return {
        "rewritten_data_files_count": len(rewritten),
        "added_data_files_count": len(added),
        "rewritten_bytes_count": sum(f.bytes for f in rewritten),
    }


def rewrite_manifests(table: Table) -> dict:
    """Compact the current snapshot's manifests
    (docs/spark-procedures.md:477-512): a snapshot that has accreted many
    small delta manifests gets ONE consolidated manifest, committed as a
    new ``replace`` snapshot (Iceberg's semantics — committed snapshots
    never change), so scan planning reads one entry instead of N. The
    replaced manifests stay referenced by the older snapshots until
    expire_snapshots drops them. Data files are untouched."""
    table.check_writable("rewrite_manifests")
    snap = table.metadata.current_snapshot()
    if snap is None or len(snap.manifests) <= 1:
        return {"rewritten_manifests_count": 0, "added_manifests_count": 0}
    from iceberg_demo_spark.tables.format import write_manifest

    n_before = len(snap.manifests)
    files = snap.files
    entry = write_manifest(table.location, files, f"rw{snap.snapshot_id}")
    table._commit("replace", files, [], [], MAIN_BRANCH,
                  {"operation-detail": "rewrite_manifests"},
                  manifests=[entry])
    return {"rewritten_manifests_count": n_before,
            "added_manifests_count": 1}


def rewrite_position_delete_files(table: Table) -> dict:
    """Compact merge-on-read position-delete files
    (docs/spark-procedures.md:514-572, iceberg_it.py:2274-2294): merge the
    accumulated per-commit delete files into one sorted file and drop
    *dangling* entries (deletes pointing at data files no longer live —
    produced when copy-on-write or compaction rewrote a file after a
    merge-on-read delete). At scale this is what keeps the read-side
    anti-join build small."""
    table.check_writable("rewrite_position_delete_files")
    head = table.metadata.current_snapshot()
    if head is None or not head.delete_files:
        return {"rewritten_delete_files_count": 0, "added_delete_files_count": 0}
    live = {f.path for f in head.files}
    entries = table._delete_entries_df(head.delete_files)
    live_df = table.spark.createDataFrame([(p,) for p in sorted(live)], "file_path string")
    kept = entries.join(F.broadcast(live_df), "file_path", "left_semi")
    new_dels = table._write_delete_files(kept)
    table._commit("replace", list(head.files), [], [], MAIN_BRANCH,
                  {"operation-detail": "rewrite_position_delete_files"},
                  delete_files=new_dels)
    return {
        "rewritten_delete_files_count": len(head.delete_files),
        "added_delete_files_count": len(new_dels),
    }


# -- table migration / registration ---------------------------------------


def snapshot_table(table: Table, dest_name: str, catalog) -> Table:
    """Lightweight independent copy referencing the same data files
    (docs/spark-procedures.md:578-626)."""
    head = table.metadata.current_snapshot()
    dest = catalog.create_table(
        dest_name,
        [(f.name, f.type, f.nullable, f.comment) for f in table.metadata.schema],
        properties={**table.metadata.properties, "snapshot-source": table.name},
    )
    if head is not None:
        # Reference absolute paths of the source's files (no copy).
        files = [
            type(f)(os.path.join(table.location, f.path) if not os.path.isabs(f.path) else f.path,
                    f.records, f.bytes, 0, f.partition)
            for f in head.files
        ]
        # snapshot tables read files by absolute path; relativize cleanly
        rel = [type(f)(os.path.relpath(fp.path, dest.location), fp.records, fp.bytes, 0, fp.partition)
               for fp in files]
        dest._commit("append", rel, rel, [], MAIN_BRANCH, {"snapshot-of": table.name})
    return dest


def migrate_parquet_path(catalog, spark, name: str, parquet_path: str,
                         properties: dict | None = None) -> Table:
    """migrate / add_files for path-based parquet sources
    (iceberg_it.py:2107-2163): import existing files into a new table by
    rewriting them into table layout (one job, no per-row Python)."""
    df = spark.read.parquet(parquet_path)
    return catalog.create_table_as(name, df, properties=properties)


def add_files(table: Table, spark, parquet_path: str,
              check_duplicate_files: bool = True) -> dict:
    """Append files from a path-based parquet dataset
    (docs/spark-procedures.md:670-726)."""
    table.check_writable("add_files")
    df = spark.read.parquet(parquet_path)
    before = table.metadata.current_snapshot()
    n_before = len(before.files) if before else 0
    table.append(df)
    after = table.metadata.current_snapshot()
    return {"added_files_count": len(after.files) - n_before}


def register_table(catalog, name: str, metadata_location: str) -> Table:
    """Attach an existing table directory to the catalog by location
    (docs/spark-procedures.md:728-760)."""
    from iceberg_demo_spark.tables.format import TableMetadata

    src = TableMetadata.load(metadata_location)
    dest_loc = catalog._location(name)
    if os.path.exists(dest_loc):
        raise ValueError(f"table location exists: {dest_loc}")
    os.makedirs(os.path.dirname(dest_loc), exist_ok=True)
    import shutil

    shutil.copytree(metadata_location, dest_loc)
    md = TableMetadata.load(dest_loc)
    md.name = name
    md.location = dest_loc
    md.save()
    return catalog.load_table(name)


# -- stats -----------------------------------------------------------------


def compute_table_stats(table: Table, columns: list[str] | None = None) -> dict:
    """NDV per column (docs/spark-procedures.md:945-978) — one Spark job with
    approx_count_distinct (HLL, the same sketch Iceberg's puffin stores)."""
    df = table.scan()
    cols = columns or df.columns
    row = df.agg(
        *[F.approx_count_distinct(c).alias(c) for c in cols],
        F.count(F.lit(1)).alias("_row_count"),
    ).collect()[0]
    stats = {c: int(row[c]) for c in cols}
    md = table.metadata
    md.properties["stats.row-count"] = str(row["_row_count"])
    for c, v in stats.items():
        md.properties[f"stats.ndv.{c}"] = str(v)
    md.save()
    return stats


def compute_partition_stats(table: Table) -> DataFrame:
    """docs/spark-procedures.md:982-1010."""
    return table.partitions_df()


# -- changelog (CDC) -------------------------------------------------------


def _record_frames(table: Table, snap: Snapshot,
                   record: dict) -> tuple[DataFrame | None, DataFrame | None]:
    """(inserted rows, deleted rows) of a commit, read from its change
    record (``Snapshot.changes``): the inserted data files as written,
    and the deleted images from the commit's new position-delete files'
    ``row`` column (merge-on-read) or its old-images file (copy-on-write)
    — one commit writes one kind. No file the commit removed or kept is
    read."""
    sid = snap.schema_id
    ins_df = (table._read_files([DataFile(p, 0, 0, sid)
                                 for p in record["inserted"]], sid)
              if record["inserted"] else None)
    deleted = record["deleted"]
    if not deleted:
        return ins_df, None
    if deleted[0] not in {d.path for d in snap.delete_files}:
        return ins_df, table._read_files(
            [DataFile(p, 0, 0, sid) for p in deleted], sid)
    schema = T.StructType([T.StructField("file_path", T.StringType()),
                           T.StructField("pos", T.LongType()),
                           T.StructField("row", table._struct(sid))])
    return ins_df, table.spark.read.schema(schema).parquet(
        *[os.path.join(table.location, p) for p in deleted]).select("row.*")


def _file_diff_frames(table: Table, snap: Snapshot
                      ) -> tuple[DataFrame | None, DataFrame | None]:
    """(rows of the files a commit added, rows it removed or newly
    masked) for a commit without a change record — tables written before
    row-level writes recorded their changes, overwrites, add_files and
    cherry-picks. Both sides read whole files; the netting in
    ``create_changelog_view`` cancels the rows they share."""
    md = table.metadata
    by_path = {f.path: f for f in snap.files}
    parent = md.snapshot_by_id(snap.parent_id) if snap.parent_id else None
    parent_by_path = {f.path: f for f in parent.files} if parent else {}
    added = [by_path[p] for p in snap.added_files if p in by_path]
    removed = [parent_by_path[p] for p in snap.removed_files if p in parent_by_path]
    # Merge-on-read commits change rows without touching data files:
    # rows newly masked by this commit's NEW delete files are DELETEs.
    parent_del_paths = {d.path for d in parent.delete_files} if parent else set()
    new_dels = [d for d in snap.delete_files if d.path not in parent_del_paths]
    schema_id = snap.schema_id
    # no delete entry of this snapshot points into a file it added, so
    # the added rows are read without the delete anti-join
    added_df = table._read_files(added, schema_id) if added else None
    removed_df = (table._read_files(removed, schema_id,
                                    delete_files=parent.delete_files if parent else None)
                  if removed else None)
    if new_dels:
        # Rows newly masked by this commit's delete files, computed
        # DIRECTLY from the (file, pos) delete entries: read the
        # referenced files once under the PARENT's delete set and
        # semi-join the new entries (position-unique, so multiset
        # semantics are exact).
        touched = {
            r["file_path"]
            for r in table._delete_entries_df(new_dels).select("file_path").distinct().collect()
        }
        ref = [f for f in (parent.files if parent else []) if f.path in touched]
        before = table._read_files(
            ref, schema_id,
            delete_files=parent.delete_files if parent else None,
            with_pos_col=True)
        ent = table._delete_entries_df(new_dels)
        if _delete_set_fits_broadcast(new_dels):
            ent = F.broadcast(ent)
        newly_masked = before.join(
            ent,
            (before[_FILE_COL] == ent["file_path"])
            & (before[_POS_COL] == ent["pos"]),
            "left_semi",
        ).drop(_FILE_COL, _POS_COL)
        removed_df = (newly_masked if removed_df is None
                      else removed_df.unionByName(newly_masked))
    return added_df, removed_df


def create_changelog_view(
    table: Table,
    view_name: str,
    start_snapshot_id: int | None = None,
    end_snapshot_id: int | None = None,
    identifier_columns: list[str] | None = None,
    net_changes: bool = False,
) -> DataFrame:
    """Row-level change stream between snapshots
    (iceberg_it.py:2301-2344, docs/spark-procedures.md:805-941):
    per ancestor step, INSERTs = rows(snapshot) ∖ rows(parent), DELETEs =
    the reverse; with identifier_columns, paired delete+insert on the same
    key becomes update_before/update_after. Registers the result as a temp
    view and returns it.

    Each step's signed rows come from the cheapest exact source:

    * ``replace`` snapshots (``rewrite_data_files``, ``rewrite_manifests``,
      ``rewrite_position_delete_files``) change no rows and are skipped,
      as Iceberg's changelog scan skips them;
    * a row-level commit reads its change record (``Snapshot.changes``):
      the new images it inserted and the old images it deleted, O(changed
      rows), never the files it rewrote;
    * any other commit diffs the files it added against the files it
      removed or newly masked (``_file_diff_frames``).

    A step with inserted rows only (an append) or deleted rows only (a
    DELETE) is its own answer; a step with both is netted, so a row an
    UPDATE rewrote unchanged cancels exactly as in a whole-file diff."""
    spark = table.spark
    md = table.metadata
    if identifier_columns is None and md.identifier_field_names:
        # SET IDENTIFIER FIELDS supplies the default row identity
        identifier_columns = list(md.identifier_field_names)
    chain = list(reversed(md.ancestors(MAIN_BRANCH)))  # oldest → newest
    if start_snapshot_id is not None:
        ids = [s.snapshot_id for s in chain]
        chain = chain[ids.index(start_snapshot_id) + 1:] if start_snapshot_id in ids else chain
    if end_snapshot_id is not None:
        ids = [s.snapshot_id for s in chain]
        if end_snapshot_id in ids:
            chain = chain[: ids.index(end_snapshot_id) + 1]
    parts = []
    # commits needing a multiset diff are batched into ONE aggregation per
    # output schema (keyed by column tuple): every commit's signed rows ride
    # the same shuffle, tagged with their ordinal/snapshot id
    diff_groups: dict[tuple[str, ...], list[DataFrame]] = {}
    for ordinal, snap in enumerate(chain):
        if snap.operation == "replace":
            continue
        record = snap.changes
        added_df, removed_df = (_record_frames(table, snap, record)
                                if record is not None
                                else _file_diff_frames(table, snap))

        def _stamp(df: DataFrame, change: str, ordinal=ordinal,
                   snap=snap) -> DataFrame:
            return df.select(
                "*", F.lit(change).alias("_change_type"),
                F.lit(ordinal).alias("_change_ordinal"),
                F.lit(snap.snapshot_id).alias("_commit_snapshot_id"),
            )

        if removed_df is None:
            if added_df is not None:
                # inserts only: the added rows ARE the inserts — no
                # multiset diff to compute
                parts.append(_stamp(added_df, "INSERT"))
            continue
        if added_df is None:
            # deletes only: the removed rows ARE the deletes
            parts.append(_stamp(removed_df, "DELETE"))
            continue
        # Both directions of the multiset diff come from ONE aggregation
        # (the very shape Spark's RewriteExceptAll rule lowers exceptAll
        # to, but shared between the two directions instead of run twice):
        # sign rows ±1, tag them with the commit's ordinal/snapshot id,
        # and defer to a single per-schema groupBy below.
        data_cols = added_df.columns
        signed = added_df.withColumn("_g_sgn", F.lit(1)).unionByName(
            removed_df.withColumn("_g_sgn", F.lit(-1)))
        diff_groups.setdefault(tuple(data_cols), []).append(
            signed.withColumn("_change_ordinal", F.lit(ordinal))
            .withColumn("_commit_snapshot_id", F.lit(snap.snapshot_id)))
    for cols, frames in diff_groups.items():
        all_signed = frames[0]
        for fr in frames[1:]:
            all_signed = all_signed.unionByName(fr)
        # One shuffle nets EVERY diff-needing commit in the window; the
        # nonzero nets are checkpointed eagerly so both output branches —
        # and any downstream re-execution, e.g. a MERGE consuming the
        # changelog — read materialized blocks instead of re-running the
        # diff. With change records the netted rows are the window's
        # changed rows (O(changed rows)); only a commit without a record
        # brings whole files into it. Two documented costs of this shape
        # (ADVICE r12): (1) creating the view RUNS the netting job even if
        # the view is never queried, and the checkpoint blocks stay pinned
        # until released — harnesses release per gate, and MV refresh
        # releases the pins it took once its backing commit has landed; a
        # long-lived session creating speculative views should
        # release_pins between them. (2) explode(sequence(1, |net|))
        # materializes one array per netted row: per-row memory is bounded
        # by the largest single-value multiplicity CHANGE in one commit
        # (duplicates of one value in one commit), which realistic tables
        # keep tiny; a pathological million-fold duplicate insert would
        # want the sequence chunked.
        net = (all_signed
               .groupBy(*cols, "_change_ordinal", "_commit_snapshot_id")
               .agg(F.sum("_g_sgn").alias("_g_net"))
               .filter(F.col("_g_net") != 0)
               .transform(_pin_ckpt))
        ins = (net.filter(F.col("_g_net") > 0)
               .withColumn("_g_i", F.explode(F.expr("sequence(1, _g_net)")))
               .select(*cols, F.lit("INSERT").alias("_change_type"),
                       "_change_ordinal", "_commit_snapshot_id"))
        dels = (net.filter(F.col("_g_net") < 0)
                .withColumn("_g_i", F.explode(F.expr("sequence(1, -_g_net)")))
                .select(*cols, F.lit("DELETE").alias("_change_type"),
                        "_change_ordinal", "_commit_snapshot_id"))
        parts.extend([ins, dels])
    if not parts:
        out = spark.createDataFrame(
            [], table.schema().add("_change_type", T.StringType())
            .add("_change_ordinal", T.IntegerType())
            .add("_commit_snapshot_id", T.LongType())
        )
        out.createOrReplaceTempView(view_name)
        return out
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if identifier_columns:
        # Pair DELETE+INSERT on the same key within one commit as an update.
        keys = list(identifier_columns)
        w_cols = keys + ["_change_ordinal"]
        counts = out.groupBy(*w_cols).agg(
            F.sum(F.when(F.col("_change_type") == "DELETE", 1).otherwise(0)).alias("_n_del"),
            F.sum(F.when(F.col("_change_type") == "INSERT", 1).otherwise(0)).alias("_n_ins"),
        )
        out = (
            out.join(counts, w_cols, "left")
            .withColumn(
                "_change_type",
                F.when(
                    (F.col("_n_del") > 0) & (F.col("_n_ins") > 0),
                    F.when(F.col("_change_type") == "DELETE", F.lit("UPDATE_BEFORE"))
                    .otherwise(F.lit("UPDATE_AFTER")),
                ).otherwise(F.col("_change_type")),
            )
            .drop("_n_del", "_n_ins")
        )
    if net_changes:
        # Keep only each row's final state across the window (drop rows that
        # were inserted then deleted, etc.) — implemented as last change wins.
        w = out.groupBy(*[c for c in out.columns
                          if c not in ("_change_type", "_change_ordinal", "_commit_snapshot_id")]) \
            .agg(F.max("_change_ordinal").alias("_change_ordinal"))
        out = out.join(w, on=list(w.columns), how="inner")
    out.createOrReplaceTempView(view_name)
    return out


def rewrite_table_path(table: Table, target_location: str,
                       staging_location: str | None = None) -> dict:
    """Replication staging (docs/spark-procedures.md:1016-1097): produce a
    copy of the table whose metadata references ``target_location`` so the
    directory can be rsync'd/distcp'd to the target system. Data files are
    hard-linked when possible (same filesystem), else copied, and so are
    the manifest lists and manifests every staged snapshot references and
    the change-record files they name, so the copy's changelog reads the
    same records."""
    import shutil as _sh

    from iceberg_demo_spark.tables.format import TableMetadata

    staging = staging_location or target_location
    os.makedirs(staging, exist_ok=True)

    def stage(rel: str) -> None:
        src = os.path.join(table.location, rel)
        dst = os.path.join(staging, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)
        except OSError:
            _sh.copy2(src, dst)

    head = table.metadata.current_snapshot()
    files = head.files if head else []
    for f in files:
        stage(f.path)
    for rel in ({p for s in table.metadata.snapshots
                 for p in s.metadata_paths() | s.change_paths()}
                | {d.path for d in (head.delete_files if head else [])}) - {
                    f.path for f in files}:
        stage(rel)
    md = TableMetadata.from_json(table.metadata.to_json())
    md.location = target_location
    md.version = 0
    md.metadata_log = []
    # staged metadata written under the STAGING dir but pointing at target
    staged_md = TableMetadata.from_json(md.to_json())
    staged_md.location = staging
    staged_md.save()
    return {"staged_files_count": len(files), "staging_location": staging,
            "target_location": target_location}
