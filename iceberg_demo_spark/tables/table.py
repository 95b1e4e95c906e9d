"""Table API: snapshot-versioned reads, copy-on-write DML, schema and
partition evolution, branches/tags, metadata tables.

Re-expresses the reference's Iceberg table surface Spark-first
(/root/reference/iceberg_it.py:1267-1681 DML, :342-396 evolution, :617-860
refs, :1938-2093 metadata/time-travel): every data movement is a DataFrame
job; every version change is a driver-side metadata commit.

Row-level DML supports both Iceberg write modes (iceberg_it.py:2279-2285,
table properties ``write.delete/update/merge.mode``):

- **copy-on-write** (default): rewrite only the data files that contain
  affected rows — at 100 TB a point-delete touches a handful of files, not
  the table. Affected files are found with one filtered scan projecting the
  file path (file-level pruning; per-file min/max stats would shortcut this
  further and slot in at ``_matching_files``).
- **merge-on-read**: write small position-delete files ``(file_path, pos)``
  instead of rewriting data files (cheap writes, reads pay an anti-join);
  positions come from the parquet reader's ``_metadata.row_index``. Deletes
  are applied scan-side via a broadcast anti-join — the Spark analogue of
  Iceberg's executor delete-file cache (docs/spark-configuration.md:195-198).
  ``rewrite_position_delete_files`` / ``rewrite_data_files`` fold the deletes
  back into data files (docs/spark-procedures.md:514-572).

Every row-level commit also records its change rows (``Snapshot.changes``)
inside the write job it already runs: merge-on-read stores each deleted
row's image in the delete file's ``row`` column and its added files hold
only new rows; copy-on-write tags each rewritten row as carried, new
image or old image and the writer splits the tags into carried data
files, new-image data files and one old-images file. The changelog reads
those files instead of diffing whole rewritten files.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
import uuid
from decimal import Decimal, InvalidOperation
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_demo_spark.tables.format import (
    MAIN_BRANCH,
    CommitConflictError,
    DataFile,
    DeleteFile,
    PartitionField,
    SchemaField,
    Snapshot,
    TableMetadata,
    now_ms,
)

READONLY_PROP = "hive-ext.readOnly"

_FILE_COL = "_g_file"
_ROW_COL = "_g_row"
_POS_COL = "_g_pos"
_S_PRESENT_COL = "_g_s_present"

#: change tag of a copy-on-write rewrite row (see _tag_rows), written as a
#: hidden directory column: carried unchanged, new image (+1), old image (−1)
_CHANGE_COL = "_g_change"
_CARRIED, _NEW_IMAGE, _OLD_IMAGE = "c", "i", "d"
_TAGGED = "_g_tagged"

#: Position-delete sets up to this size broadcast to executors (the Iceberg
#: delete-file-distribution analogue); larger sets fall back to a
#: Catalyst-chosen join so the build side can't OOM.
_DELETE_BROADCAST_BYTES = 64 * 1024 * 1024

#: in-memory width charged per (file_path, pos) entry of a delete set: the
#: build side holds entries, not the delete files' bytes, which also carry
#: the deleted rows' images
_DELETE_ENTRY_BYTES = 128

#: schema of a position-delete file (Iceberg v2 position deletes)
_DELETE_SCHEMA = "file_path string, pos bigint"

#: the literals file pruning understands: '…' without an embedded quote,
#: or a plain decimal number
_LITERAL = r"(?:'([^']*)'|(-?\d+(?:\.\d+)?))"
#: any quoted SQL string, '' escapes included: masked before looking for
#: keywords, so an OR or BETWEEN inside a string value is never seen
_QUOTED = r"'(?:[^']|'')*'"
_CMP = re.compile(rf"\s*(\w+)\s*(>=|<=|>|<|=)\s*{_LITERAL}\s*")
_IN = re.compile(r"\s*(\w+)\s+in\s*\(([^)]*)\)\s*", re.IGNORECASE)
_ITEM = re.compile(rf"\s*{_LITERAL}\s*")
_BETWEEN = re.compile(
    rf"{_QUOTED}|\b(\w+)\s+(not\s+)?between\s+{_LITERAL}\s+and\s+"
    rf"{_LITERAL}", re.IGNORECASE)
_OPS = {"=": "eq", ">=": "ge", "<=": "le", ">": "gt", "<": "lt"}


def _lit(quoted: str | None, number: str | None) -> tuple[str, bool]:
    """A matched _LITERAL as (text, quoted)."""
    return (quoted, True) if quoted is not None else (number, False)


class ReadOnlyTableError(Exception):
    """Raised for any write/DDL against a table with hive-ext.readOnly=true
    (reference: spark-readonly-plugin ReadOnlyTableCheckRule.scala:51-145)."""


class MergeCardinalityError(Exception):
    """A single target row matched multiple source rows in MERGE."""


def _col(c: str | Column) -> Column:
    return F.expr(c) if isinstance(c, str) else c


def _delete_set_fits_broadcast(delete_files: list[DeleteFile]) -> bool:
    """Whether a delete set's (file_path, pos) entries are small enough to
    broadcast, sized by entry count."""
    return (sum(d.records for d in delete_files) * _DELETE_ENTRY_BYTES
            <= _DELETE_BROADCAST_BYTES)


def _row_image(st: T.StructType, prefix: str = "") -> Column:
    """The ``row`` column of a position-delete file: the deleted row's
    image as a struct of the table row."""
    return F.struct(*[F.col(prefix + f.name).alias(f.name)
                      for f in st.fields]).alias("row")


def _tag_rows(df: DataFrame, claimed: Column, survives: Column,
              image: list[Column], old: list[Column]) -> DataFrame:
    """Copy-on-write rewrite rows tagged for the change record: a row no
    clause claimed is carried as it is (``c``); a claimed row adds its old
    image (``d``) and, when it survives, its new image (``i``). ``image``
    is the row as written (the row itself when unclaimed), ``old`` the row
    as read. Each input row yields its images through one explode, so the
    tagging rides the rewrite's own write job."""
    claimed = F.coalesce(claimed, F.lit(False))
    keep = F.struct(*image, F.when(claimed, F.lit(_NEW_IMAGE))
                    .otherwise(F.lit(_CARRIED)).alias(_CHANGE_COL))
    gone = F.struct(*old, F.lit(_OLD_IMAGE).alias(_CHANGE_COL))
    images = F.array(F.when(~claimed | survives, keep),
                     F.when(claimed, gone))
    return (df.select(F.explode(images).alias(_TAGGED))
            .filter(F.col(_TAGGED).isNotNull())
            .select(f"{_TAGGED}.*"))


class Table:
    def __init__(self, spark: SparkSession, metadata: TableMetadata):
        self.spark = spark
        self.metadata = metadata

    # -- basics ------------------------------------------------------------

    @property
    def name(self) -> str:
        return self.metadata.name

    @property
    def location(self) -> str:
        return self.metadata.location

    @property
    def properties(self) -> dict[str, str]:
        return dict(self.metadata.properties)

    def refresh(self) -> "Table":
        self.metadata = TableMetadata.load(self.location)
        return self

    def schema(self) -> T.StructType:
        return self._struct(self.metadata.current_schema_id)

    def _struct(self, schema_id: int) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f.name, _parse_type(f.type), f.nullable)
                for f in self.metadata.schemas[schema_id]
            ]
        )

    def check_writable(self, operation: str) -> None:
        # Case-insensitive value, like the reference (ReadOnlyTableSuite
        # "TRUE blocks, false doesn't").
        if self.metadata.properties.get(READONLY_PROP, "").lower() == "true":
            raise ReadOnlyTableError(
                f"Table {self.name} is read-only ({READONLY_PROP}=true). "
                f"Operation {operation} is not allowed."
            )

    # -- properties / DDL --------------------------------------------------

    def set_properties(self, props: dict[str, str]) -> None:
        # Allowed even when read-only IF it's the readOnly flag being changed
        # (otherwise a table could never be un-frozen); all other property
        # changes on a read-only table are blocked like ALTER.
        if set(props) - {READONLY_PROP}:
            self.check_writable("ALTER TABLE SET TBLPROPERTIES")
        self.metadata.properties.update(props)
        self.metadata.save()

    def unset_properties(self, keys: list[str]) -> None:
        if set(keys) - {READONLY_PROP}:
            self.check_writable("ALTER TABLE UNSET TBLPROPERTIES")
        for k in keys:
            self.metadata.properties.pop(k, None)
        self.metadata.save()

    def add_column(self, name: str, type_: str, comment: str | None = None,
                   nullable: bool = True) -> None:
        from iceberg_demo_spark.tables.catalog import _normalize_type

        self.check_writable("ALTER TABLE ADD COLUMNS")
        type_ = _normalize_type(type_)
        self.metadata.new_schema_version()
        if "." in name:  # nested struct field: parent.child
            parent, child = name.rsplit(".", 1)
            f = self.metadata.field_by_name(parent)
            st = _parse_type(f.type)
            if not isinstance(st, T.StructType):
                raise ValueError(f"{parent} is not a struct")
            st = T.StructType(list(st.fields) + [T.StructField(child, _parse_type(type_), nullable)])
            f.type = st.simpleString()
            self.metadata.save()
            return
        if any(f.name.lower() == name.lower() for f in self.metadata.schema):
            raise ValueError(f"column already exists: {name}")
        self.metadata.schema.append(
            SchemaField(self.metadata.next_field_id(), name, type_, nullable, comment)
        )
        self.metadata.save()

    def drop_column(self, name: str) -> None:
        self.check_writable("ALTER TABLE DROP COLUMN")
        # Iceberg's rule: a column the current spec, the write order or the
        # identifier fields name cannot go, or every later write fails
        md, low = self.metadata, name.lower()
        if (any(p.source.lower() == low for p in md.partition_spec)
                or any(o["col"].lower() == low for o in md.sort_order)
                or any(n.lower() == low for n in md.identifier_field_names)):
            raise ValueError(
                f"cannot drop column {name}: the partition spec, write order "
                "or identifier fields use it")
        self.metadata.new_schema_version()
        if "." in name:
            parent, child = name.rsplit(".", 1)
            f = self.metadata.field_by_name(parent)
            st = _parse_type(f.type)
            if not isinstance(st, T.StructType):
                raise ValueError(f"{parent} is not a struct")
            f.type = T.StructType(
                [x for x in st.fields if x.name.lower() != child.lower()]
            ).simpleString()
            self.metadata.save()
            return
        f = self.metadata.field_by_name(name)
        self.metadata.schema.remove(f)
        self.metadata.save()

    def rename_column(self, old: str, new: str) -> None:
        """Renames the schema field and every reference to it: partition
        spec sources, write order and identifier fields. Partition field
        names (and so ``_p_*`` directories) keep their names, as in
        Iceberg."""
        self.check_writable("ALTER TABLE RENAME COLUMN")
        md = self.metadata
        md.new_schema_version()
        f = md.field_by_name(old)
        was = f.name.lower()
        f.name = new
        for p in md.partition_spec:
            if p.source.lower() == was:
                p.source = new
        for o in md.sort_order:
            if o["col"].lower() == was:
                o["col"] = new
        md.identifier_field_names = [
            new if n.lower() == was else n for n in md.identifier_field_names]
        md.save()

    def alter_column_type(self, name: str, new_type: str) -> None:
        """Widening only (int->bigint, float->double, decimal scale-up) —
        same restriction Iceberg enforces."""
        self.check_writable("ALTER COLUMN TYPE")
        f_cur = self.metadata.field_by_name(name)
        if not _is_widening(f_cur.type, new_type):
            raise ValueError(f"cannot narrow {name}: {f_cur.type} -> {new_type}")
        self.metadata.new_schema_version()
        self.metadata.field_by_name(name).type = new_type
        self.metadata.save()

    def alter_column_nullable(self, name: str, nullable: bool) -> None:
        self.check_writable("ALTER COLUMN NULLABILITY")
        self.metadata.new_schema_version()
        self.metadata.field_by_name(name).nullable = nullable
        self.metadata.save()

    def alter_column_comment(self, name: str, comment: str) -> None:
        self.check_writable("ALTER COLUMN COMMENT")
        self.metadata.new_schema_version()
        self.metadata.field_by_name(name).comment = comment
        self.metadata.save()

    # partition evolution: only affects FUTURE writes (old files keep their
    # layout) — exactly Iceberg's spec-versioning behavior.
    def add_partition_field(self, source: str, transform: str = "identity",
                            name: str | None = None) -> None:
        self.check_writable("ALTER TABLE ADD PARTITION FIELD")
        self.metadata.field_by_name(source)  # must exist
        pname = name or _default_partition_name(source, transform)
        if any(p.name == pname for p in self.metadata.partition_spec):
            raise ValueError(f"partition field exists: {pname}")
        self.metadata.partition_spec.append(PartitionField(pname, source, transform))
        self.metadata.save()

    def drop_partition_field(self, name: str) -> None:
        self.check_writable("ALTER TABLE DROP PARTITION FIELD")
        spec = [p for p in self.metadata.partition_spec if p.name != name and p.source != name]
        if len(spec) == len(self.metadata.partition_spec):
            raise ValueError(f"no such partition field: {name}")
        self.metadata.partition_spec = spec
        self.metadata.save()

    def replace_partition_field(self, old: str, source: str, transform: str = "identity",
                                name: str | None = None) -> None:
        self.check_writable("ALTER TABLE REPLACE PARTITION FIELD")
        self.drop_partition_field(old)
        self.add_partition_field(source, transform, name)

    def set_identifier_fields(self, *names: str) -> None:
        """ALTER TABLE ... SET IDENTIFIER FIELDS (iceberg_it.py:395):
        primary-key-like row identity, used as the default
        ``identifier_columns`` of the changelog view. Fields must exist and
        be NOT NULL (Iceberg's rule)."""
        self.check_writable("SET IDENTIFIER FIELDS")
        resolved = []
        for n in names:
            f = self.metadata.field_by_name(n)
            if f.nullable:
                raise ValueError(
                    f"cannot set identifier field {f.name}: not a required field"
                )
            resolved.append(f.name)
        self.metadata.identifier_field_names = resolved
        self.metadata.save()

    def drop_identifier_fields(self, *names: str) -> None:
        """ALTER TABLE ... DROP IDENTIFIER FIELDS (iceberg_it.py:396)."""
        self.check_writable("DROP IDENTIFIER FIELDS")
        drop = {n.lower() for n in names} if names else None
        self.metadata.identifier_field_names = [
            n for n in self.metadata.identifier_field_names
            if drop is not None and n.lower() not in drop
        ]
        self.metadata.save()

    @property
    def identifier_fields(self) -> list[str]:
        return list(self.metadata.identifier_field_names)

    def set_write_order(self, order: list[dict] | None,
                        scope: str = "local") -> None:
        """order = [{"col": c, "dir": "asc"|"desc", "nulls": "first"|"last"}];
        None/[] = WRITE UNORDERED. ``scope="global"`` = WRITE ORDERED BY
        (range-exchange before the sort); ``"local"`` = WRITE LOCALLY
        ORDERED BY (per-task sort only) — iceberg_it.py:391-393."""
        self.check_writable("ALTER TABLE WRITE ORDERED BY")
        self.metadata.sort_order = order or []
        if order:
            self.metadata.properties["write.sort.scope"] = scope
        else:
            self.metadata.properties.pop("write.sort.scope", None)
        self.metadata.save()

    # -- refs: branches / tags --------------------------------------------

    def create_branch(self, name: str, snapshot_id: int | None = None,
                      if_not_exists: bool = False, or_replace: bool = False,
                      retain_days: float | None = None,
                      retention_snapshots: int | None = None,
                      retention_days: float | None = None) -> None:
        """CREATE BRANCH [AS OF VERSION v] [RETAIN d DAYS] [WITH SNAPSHOT
        RETENTION n SNAPSHOTS | d DAYS] (iceberg_it.py:617-735,
        docs/spark-ddl.md:476-505): ``retain_days`` = how long the ref
        itself lives, ``retention_*`` = how much snapshot history the branch
        keeps at expire time."""
        self.check_writable("CREATE BRANCH")
        self._create_ref(name, "branch", snapshot_id, if_not_exists, or_replace,
                         retain_days=retain_days,
                         retention_snapshots=retention_snapshots,
                         retention_days=retention_days)

    def create_tag(self, name: str, snapshot_id: int | None = None,
                   if_not_exists: bool = False, or_replace: bool = False,
                   retain_days: float | None = None) -> None:
        self.check_writable("CREATE TAG")
        self._create_ref(name, "tag", snapshot_id, if_not_exists, or_replace,
                         retain_days=retain_days)

    def _create_ref(self, name: str, type_: str, snapshot_id: int | None,
                    if_not_exists: bool, or_replace: bool,
                    retain_days: float | None = None,
                    retention_snapshots: int | None = None,
                    retention_days: float | None = None) -> None:
        if name in self.metadata.refs and not or_replace:
            if if_not_exists:
                return
            raise ValueError(f"ref already exists: {name}")
        if snapshot_id is None:
            cur = self.metadata.current_snapshot()
            if cur is None:
                raise ValueError(f"cannot create {type_} on empty table {self.name}")
            snapshot_id = cur.snapshot_id
        else:
            self.metadata.snapshot_by_id(snapshot_id)  # must exist
        ref = {"snapshot_id": snapshot_id, "type": type_,
               "created_at_ms": now_ms()}
        if retain_days is not None:
            ref["max_ref_age_ms"] = int(retain_days * 86_400_000)
        if retention_snapshots is not None:
            ref["min_snapshots_to_keep"] = int(retention_snapshots)
        if retention_days is not None:
            ref["max_snapshot_age_ms"] = int(retention_days * 86_400_000)
        self.metadata.refs[name] = ref
        self.metadata.save()

    def drop_ref(self, name: str, if_exists: bool = False) -> None:
        self.check_writable("DROP BRANCH/TAG")
        if name == MAIN_BRANCH:
            raise ValueError("cannot drop main branch")
        if name not in self.metadata.refs:
            if if_exists:
                return
            raise ValueError(f"no such ref: {name}")
        del self.metadata.refs[name]
        self.metadata.save()

    def replace_branch(self, name: str, snapshot_id: int) -> None:
        self.check_writable("REPLACE BRANCH")
        if name not in self.metadata.refs:
            raise ValueError(f"no such branch: {name}")
        self.metadata.snapshot_by_id(snapshot_id)
        self.metadata.refs[name]["snapshot_id"] = snapshot_id
        self.metadata.save()

    # -- read path ---------------------------------------------------------

    def scan(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        branch: str | None = None,
        tag: str | None = None,
        with_file_col: bool = False,
        where: str | Column | None = None,
        prune_where: str | None = None,
    ) -> DataFrame:
        """Time-travel-aware read (the 4 syntaxes of docs/spark-queries.md:47-98
        map here: VERSION AS OF -> snapshot_id or branch/tag name,
        TIMESTAMP AS OF -> as_of_timestamp_ms).

        ``where``: a predicate applied to the scan. When given as SQL
        text, it is parsed once into depth-0 conjuncts that prune
        driver-side BEFORE the read (`_pruned_snapshot_files`): whole
        manifests by their partition and column-bound summaries, then
        files by their hidden-partition values and column min/max bounds
        — the Iceberg scan-planning behavior — so a partition-aligned or
        selective read opens O(matching files) at any table size. The
        full predicate is then still applied row-wise, so semantics never
        depend on how much pruning applied.

        ``prune_where``: pruning ONLY — the caller re-applies the real
        predicate itself (Engine.sql's SELECT path, where the SQL WHERE
        filters row-wise). Purely subtractive and conservative, so a text
        the pruner can't parse simply prunes nothing."""
        snap = self._resolve_snapshot(snapshot_id, as_of_timestamp_ms, branch, tag)
        if snap is None:
            return self.spark.createDataFrame([], self.schema())
        # Current-state reads use the CURRENT schema (renames/adds visible
        # immediately); explicit time travel reads the snapshot's own schema,
        # matching Iceberg's behavior.
        time_travel = any(
            x is not None for x in (snapshot_id, as_of_timestamp_ms, tag)
        )
        out_schema = snap.schema_id if time_travel else self.metadata.current_schema_id
        prune_text = where if isinstance(where, str) else prune_where
        if prune_text is not None:
            files = self._pruned_snapshot_files(snap, prune_text)
        else:
            files = snap.files
        df = self._read_files(files, out_schema, with_file_col,
                              delete_files=snap.delete_files)
        if where is not None:
            df = df.filter(_col(where))
        return df

    def to_df(self) -> DataFrame:
        return self.scan()

    def scan_incremental(self, start_snapshot_id: int | None = None,
                         end_snapshot_id: int | None = None,
                         skip_overwrite: bool = False) -> DataFrame:
        """Incremental append-only read (docs/spark-queries.md:193-212):
        rows from files ADDED by snapshots after ``start_snapshot_id`` (
        exclusive) up to ``end_snapshot_id`` (inclusive). Non-append
        snapshots raise unless ``skip_overwrite`` (the streaming
        skip-overwrite-snapshots semantics)."""
        chain = list(reversed(self.metadata.ancestors(MAIN_BRANCH)))  # old→new
        ids = [s.snapshot_id for s in chain]
        lo = ids.index(start_snapshot_id) + 1 if start_snapshot_id in ids else 0
        hi = ids.index(end_snapshot_id) + 1 if end_snapshot_id in ids else len(chain)
        files: list[DataFile] = []
        for snap in chain[lo:hi]:
            if snap.operation != "append":
                if skip_overwrite:
                    continue
                raise ValueError(
                    f"incremental read found non-append snapshot "
                    f"{snap.snapshot_id} ({snap.operation}); pass "
                    f"skip_overwrite=True to skip it"
                )
            by_path = {f.path: f for f in snap.files}
            files.extend(by_path[p] for p in snap.added_files if p in by_path)
        return self._read_files(files, self.metadata.current_schema_id)

    def _resolve_snapshot(self, snapshot_id=None, as_of_timestamp_ms=None,
                          branch=None, tag=None) -> Snapshot | None:
        if sum(x is not None for x in (snapshot_id, as_of_timestamp_ms, branch, tag)) > 1:
            raise ValueError("specify at most one of snapshot_id/timestamp/branch/tag")
        if snapshot_id is not None:
            return self.metadata.snapshot_by_id(snapshot_id)
        if as_of_timestamp_ms is not None:
            return self.metadata.snapshot_as_of_timestamp(as_of_timestamp_ms)
        if branch is not None or tag is not None:
            return self.metadata.resolve_ref(branch or tag)
        return self.metadata.current_snapshot()

    def _eval_transform(self, p: PartitionField, literals: set[str]) -> set[str] | None:
        """Partition-transform values for literal predicates, computed with
        the SAME expression the write path uses (one tiny local job, no table
        data touched) — exact even for hash buckets."""
        try:
            src_type = self.metadata.field_by_name(p.source).type
            rows = self.spark.sql(
                "SELECT CAST(x AS {t}) AS {s} FROM VALUES {v} AS tmp(x)".format(
                    t=src_type, s=p.source,
                    v=", ".join("('{}')".format(lit.replace("'", "''"))
                                for lit in literals),
                )
            ).select(
                _transform_expr(p.transform, p.source).cast("string").alias("tv")
            ).collect()
            return {r["tv"] for r in rows if r["tv"] is not None}
        except Exception:
            return None

    def _rel_path_expr(self) -> Column:
        """Data-file path relative to the table location, computed from
        ``_metadata.file_path`` (scheme-prefix agnostic: works for
        ``file:/...`` and ``file:///...``)."""
        anchor = self.location.rstrip("/") + "/"
        return F.expr(
            f"substring(_metadata.file_path, "
            f"instr(_metadata.file_path, '{anchor}') + {len(anchor)})"
        )

    def _delete_entries_df(self, delete_files: list[DeleteFile]) -> DataFrame:
        paths = [os.path.join(self.location, f.path) for f in delete_files]
        return self.spark.read.schema(_DELETE_SCHEMA).parquet(*paths)

    def _read_files(self, files: list[DataFile], out_schema_id: int,
                    with_file_col: bool = False,
                    delete_files: list[DeleteFile] | None = None,
                    with_pos_col: bool = False) -> DataFrame:
        """Field-id-mapped read: files written under older schemas are
        selected/cast/renamed into the requested schema (rename = same id,
        new name; add = NULL for old files; widen = cast).

        ``delete_files``: position deletes applied via broadcast anti-join on
        (relative file path, row index) — delete sets are small next to the
        data they mask, so broadcasting avoids shuffling the data side; this
        is the Spark analogue of Iceberg distributing delete files to
        executors. ``with_file_col`` adds the relative file path as
        ``_g_file``; ``with_pos_col`` additionally adds ``_g_pos`` (the
        parquet row index), which together address a row for position
        deletes."""
        out_fields = self.metadata.schemas[out_schema_id]
        if not files:
            df = self.spark.createDataFrame([], self._struct(out_schema_id))
            if with_file_col or with_pos_col:
                df = df.withColumn(_FILE_COL, F.lit(None).cast("string"))
            if with_pos_col:
                df = df.withColumn(_POS_COL, F.lit(None).cast("bigint"))
            return df
        need_addr = with_file_col or with_pos_col or bool(delete_files)
        by_schema: dict[int, list[DataFile]] = {}
        for f in files:
            by_schema.setdefault(f.schema_id, []).append(f)
        parts = []
        for sid, fs in sorted(by_schema.items()):
            in_fields = {f.field_id: f for f in self.metadata.schemas[sid]}
            paths = [os.path.join(self.location, f.path) for f in fs]
            df = self.spark.read.schema(self._struct(sid)).parquet(*paths)
            cols = []
            for of in out_fields:
                inf = in_fields.get(of.field_id)
                if inf is None:
                    cols.append(F.lit(None).cast(_parse_type(of.type)).alias(of.name))
                else:
                    cols.append(
                        _align_col(F.col(inf.name), _parse_type(inf.type),
                                   _parse_type(of.type)).alias(of.name)
                    )
            if need_addr:
                cols.append(self._rel_path_expr().alias(_FILE_COL))
                cols.append(F.col("_metadata.row_index").alias(_POS_COL))
            parts.append(df.select(cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if delete_files:
            dels = self._delete_entries_df(delete_files)
            # broadcast while the delete set is comfortably small; past the
            # threshold let Catalyst/AQE pick the join (shuffle at scale) —
            # a forced broadcast of a huge delete set would OOM the build
            # side, the first-failure mode called out in SCALE.md
            if _delete_set_fits_broadcast(delete_files):
                dels = F.broadcast(dels)
            out = out.join(
                dels,
                (out[_FILE_COL] == dels["file_path"]) & (out[_POS_COL] == dels["pos"]),
                "left_anti",
            )
        if need_addr and not with_pos_col:
            out = out.drop(_POS_COL)
            if not with_file_col:
                out = out.drop(_FILE_COL)
        return out

    # -- write path --------------------------------------------------------

    def _partition_exprs(self) -> list[tuple[str, Column]]:
        out = []
        for p in self.metadata.partition_spec:
            out.append((p.partition_col, _transform_expr(p.transform, p.source)))
        return out

    def _apply_distribution(self, df: DataFrame,
                            pexprs: list[tuple[str, Column]]) -> DataFrame:
        """``write.distribution-mode`` (docs/spark-writes.md:380-430):
        ``hash`` clusters rows by partition key before the write (one shuffle;
        each partition's rows land in few tasks → few, large files — ALTER
        TABLE WRITE DISTRIBUTED BY PARTITION); ``range`` range-partitions by
        the sort order (global clustering for WRITE ORDERED BY); ``none``
        (default) keeps the incoming distribution — zero extra shuffle."""
        mode = self.metadata.properties.get("write.distribution-mode", "none").lower()
        if mode == "hash" and pexprs:
            return df.repartition(*[F.col(n) for n, _ in pexprs])
        if mode == "range":
            cols = [
                F.col(o["col"]).desc() if o.get("dir") == "desc" else F.col(o["col"])
                for o in self.metadata.sort_order
            ] or [F.col(n) for n, _ in pexprs]
            if cols:
                return df.repartitionByRange(*cols)
        return df

    def _apply_sort(self, df: DataFrame, lead: list[str]) -> DataFrame:
        """Sort by the table's write order; ``lead`` columns (a tagged
        write's hidden change column) sort first within each task, so the
        directory split keeps the write order inside every file."""
        if not self.metadata.sort_order:
            return df
        cols = []
        for o in self.metadata.sort_order:
            c = F.col(o["col"])
            c = c.desc_nulls_first() if o.get("dir") == "desc" and o.get("nulls") == "first" \
                else c.desc_nulls_last() if o.get("dir") == "desc" \
                else c.asc_nulls_first() if o.get("nulls") == "first" \
                else c.asc_nulls_last()
            cols.append(c)
        # Local (per-task) sort is the default: cheap, preserves
        # parallelism. Global (WRITE ORDERED BY) pays one range exchange of
        # the write set — worth it only when downstream scans depend on a
        # total order; large-scale writers usually want the local variant.
        lead_cols = [F.col(c) for c in lead]
        if self.metadata.properties.get("write.sort.scope") == "global":
            return df.repartitionByRange(*cols).sortWithinPartitions(
                *lead_cols, *cols)
        return df.sortWithinPartitions(*lead_cols, *cols)

    def _write_files(self, df: DataFrame, schema_id: int | None = None,
                     tagged: bool = False):
        """Write df as parquet data files under data/<commit-uuid>/ and return
        their DataFile entries. Hidden partitioning: derived _p_* columns
        drive the directory layout; source columns stay in the files so
        snapshot reads are self-contained.

        ``tagged``: df also carries the change tag of ``_tag_rows``; the
        same write job splits the rows by tag into one directory each and
        returns ``(carried, new images, old images)``. The first two are
        data files; the old images are the commit's deleted-images file."""
        schema_id = self.metadata.current_schema_id if schema_id is None else schema_id
        st = self._struct(schema_id)
        lead = [_CHANGE_COL] if tagged else []
        aligned = df.select(
            [_align_col(F.col(f.name), df.schema[f.name].dataType, f.dataType).alias(f.name)
             if f.name in df.columns else F.lit(None).cast(f.dataType).alias(f.name)
             for f in st.fields] + lead
        )
        pexprs = self._partition_exprs()
        for name, expr in pexprs:
            aligned = aligned.withColumn(name, expr.cast("string"))
        aligned = self._apply_distribution(aligned, pexprs)
        aligned = self._apply_sort(aligned, lead)
        abs_dir = os.path.join(self.location, f"data/{uuid.uuid4().hex[:16]}")
        dirs = lead + [n for n, _ in pexprs]
        writer = aligned.write.mode("overwrite")
        if dirs:
            writer = writer.partitionBy(*dirs)
        writer.parquet(abs_dir)
        if not tagged:
            return self._list_written(abs_dir, schema_id)
        return tuple(
            self._list_written(os.path.join(abs_dir, f"{_CHANGE_COL}={tag}"),
                               schema_id)
            for tag in (_CARRIED, _NEW_IMAGE, _OLD_IMAGE))

    def _list_written(self, abs_dir: str, schema_id: int) -> list[DataFile]:
        import pyarrow.parquet as pq

        out = []
        for root, _dirs, names in os.walk(abs_dir):
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                ap = os.path.join(root, n)
                rel = os.path.relpath(ap, self.location)
                partition = {}
                for comp in os.path.relpath(root, abs_dir).split(os.sep):
                    if "=" in comp:
                        k, v = comp.split("=", 1)
                        partition[k] = unquote(v)
                lower: dict[str, str] = {}
                upper: dict[str, str] = {}
                nulls: dict[str, int] = {}
                try:
                    pf = pq.ParquetFile(ap)
                    num_rows = pf.metadata.num_rows
                    lower, upper, nulls = self._harvest_stats(pf, schema_id)
                except Exception:
                    # pyarrow can't parse some newer logical types (e.g.
                    # variant) — fall back to a footer-only Spark count.
                    num_rows = self.spark.read.parquet(ap).count()
                if num_rows == 0:
                    os.remove(ap)
                    continue
                out.append(DataFile(rel, num_rows, os.path.getsize(ap),
                                    schema_id, partition, lower, upper, nulls))
        return out

    #: declared-type prefix → stats kind. float/double are DELIBERATELY
    #: absent: parquet min/max exclude NaN while Spark orders NaN above
    #: every number, so bounds on them cannot soundly prune (Iceberg
    #: needs nan_value_counts for the same reason). boolean and complex
    #: types are skipped as useless/unsupported for range pruning.
    _STATS_KINDS = {
        "tinyint": "num", "smallint": "num", "integer": "num",
        "int": "num", "bigint": "num", "long": "num",
        "decimal": "num", "date": "date",
        "timestamp": "ts", "timestamp_ltz": "ts",
        # NTZ timestamps compare as tz-FREE wall-clock micros — a distinct
        # kind so _literal never routes their literals through the
        # session timezone (that wrongly pruned matching files under any
        # non-UTC spark.sql.session.timeZone).
        "timestamp_ntz": "tsntz",
        "string": "str", "varchar": "str", "char": "str",
    }
    _STATS_TRUNC = 64  # max stored chars for a string bound

    @classmethod
    def _stats_kind(cls, decl_type: str) -> str | None:
        # exact leading-token match — prefix matching classified
        # 'interval day to second' as numeric via the 'int' prefix
        tok = decl_type.lower().split("(")[0].split()[0]
        return cls._STATS_KINDS.get(tok)

    def _harvest_stats(
            self, pf, schema_id: int
    ) -> tuple[dict[str, str], dict[str, str], dict[str, int]]:
        """Per-column min/max/null-count bounds from the parquet FOOTER —
        zero data read; the same source production Iceberg's writer uses
        for manifest ``lower_bounds``/``upper_bounds``. Keys are string
        field ids (rename-stable). Canonical encodings: num → str(value),
        ts → str(UTC epoch micros), date → isoformat (fixed 10 chars for
        years 1-9999), str → raw (lower truncated to 64 chars; upper
        truncated + last-char incremented so it stays a valid upper
        bound, or dropped). Any surprise → empty dicts (bounds are
        advisory: absent means "cannot prune", never wrong results).

        At 100 TB this footer walk runs where the files were written; in
        this single-process engine that is the driver, on a cluster the
        same harvest would ride the executor-side commit message exactly
        as Iceberg's DataWriter does — the design carries over."""
        import datetime as _dt
        from decimal import Decimal as _Dec

        fields = {f.name: f for f in self.metadata.schemas[schema_id]}
        kinds = {name: k for name, f in fields.items()
                 if (k := self._stats_kind(f.type)) is not None}
        if not kinds:
            return {}, {}, {}
        _ok_type = {"num": (int, _Dec), "ts": (_dt.datetime,),
                    "tsntz": (_dt.datetime,),
                    "date": (_dt.date,), "str": (str,)}
        md = pf.metadata
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        nullc: dict[str, int] = {}
        bad: set[str] = set()  # no usable min/max (null counts may remain:
        #                        an ALL-NULL chunk has no min/max but a
        #                        perfectly good null count)
        nbad: set[str] = set()
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                name = c.path_in_schema
                if name not in kinds or (name in bad and name in nbad):
                    continue
                try:
                    st = c.statistics
                except Exception:
                    st = None
                if name not in nbad:
                    if st is not None and st.has_null_count:
                        nullc[name] = nullc.get(name, 0) + st.null_count
                    else:
                        nbad.add(name)
                        nullc.pop(name, None)
                if name in bad:
                    continue
                try:
                    # accessing .min can itself raise (e.g. pyarrow can't
                    # extract decimal statistics) — treat as "no stats"
                    usable = (st is not None and st.has_min_max
                              and not isinstance(st.min, bool)
                              and isinstance(st.min, _ok_type[kinds[name]])
                              and not (kinds[name] == "date"
                                       and isinstance(st.min, _dt.datetime)))
                    # a ts bound must be tz-aware (instant) and a tsntz
                    # bound tz-naive (wall-clock) — a file whose parquet
                    # adjusted-to-UTC flag disagrees with the declared
                    # type records no bounds rather than wrong ones
                    if usable and kinds[name] == "ts":
                        usable = st.min.tzinfo is not None
                    elif usable and kinds[name] == "tsntz":
                        usable = st.min.tzinfo is None
                except Exception:
                    usable = False
                if not usable:
                    bad.add(name)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    continue
                mins[name] = st.min if name not in mins else min(mins[name], st.min)
                maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)

        def canon(kind: str, v, is_upper: bool) -> str | None:
            if kind == "num":
                return str(v)
            if kind in ("ts", "tsntz"):
                epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
                d = v - epoch
                return str((d.days * 86400 + d.seconds) * 10**6
                           + d.microseconds)
            if kind == "date":
                return v.isoformat()
            if len(v) <= self._STATS_TRUNC:
                return v
            t = v[:self._STATS_TRUNC]
            if not is_upper:
                return t  # a prefix is always a valid lower bound
            for k in range(len(t) - 1, -1, -1):
                o = ord(t[k])
                if o < 0xD7FF:  # bump below the surrogate range
                    return t[:k] + chr(o + 1)
            return None

        lower: dict[str, str] = {}
        upper: dict[str, str] = {}
        nulls: dict[str, int] = {}
        for name, mn in mins.items():
            fid = str(fields[name].field_id)
            lo = canon(kinds[name], mn, False)
            hi = canon(kinds[name], maxs[name], True)
            if lo is not None:
                lower[fid] = lo
            if hi is not None:
                upper[fid] = hi
        for name, n in nullc.items():
            nulls[str(fields[name].field_id)] = n
        return lower, upper, nulls

    def _plan_manifests(self, parent: Snapshot | None, files: list[DataFile],
                        added: list[DataFile], removed: list[DataFile],
                        tag: str) -> tuple[list[dict], str | None]:
        """Manifest entries for a commit, O(delta) write I/O, plus the
        path of its delta manifest (None when nothing was added).

        The parent's manifests are carried by reference; manifests that
        lose a removed path are rewritten with their survivors only; the
        added files land in one fresh delta manifest. The union is
        verified against ``files`` (the authoritative list every caller
        computes) — any mismatch, e.g. a compaction that rewrote paths in
        place, falls back to one full manifest rather than persisting a
        wrong file set; the delta manifest then still records what the
        commit added."""
        from iceberg_demo_spark.tables.format import load_manifest, write_manifest

        removed_paths = {f.path for f in removed}
        entries: list[dict] = []
        for m in (parent.manifests if parent else []):
            mfiles = load_manifest(self.location, m["path"])
            if not removed_paths or not any(
                    f.path in removed_paths for f in mfiles):
                entries.append(m)
                continue
            survivors = [f for f in mfiles if f.path not in removed_paths]
            if survivors:
                entries.append(write_manifest(self.location, survivors, tag))
        delta = None
        if added:
            delta = write_manifest(self.location, added, tag)
            entries.append(delta)
        expect = {f.path for f in files}
        got: set[str] = set()
        total = 0
        for e in entries:
            got.update(f.path for f in load_manifest(self.location, e["path"]))
            total += e["n_files"]
        # count check catches duplicates across manifests that the set
        # union alone would hide (a duplicated entry = rows read twice)
        if got != expect or total != len(files):
            entries = [write_manifest(self.location, files, tag)]
        return entries, delta["path"] if delta is not None else None

    def _commit(self, operation: str, files: list[DataFile], added: list[DataFile],
                removed: list[DataFile], branch: str, summary: dict | None = None,
                delete_files: list[DeleteFile] | None = None,
                manifests: list[dict] | None = None,
                changes: tuple[list, list] | None = None) -> Snapshot:
        """Commit ``files`` as the new head of ``branch``: one delta
        manifest, one manifest list, one metadata JSON. ``manifests``
        replaces the planned manifest entries (rewrite_manifests).
        ``changes`` = (inserted, deleted) files of a row-level commit's
        change record (``Snapshot.changes``); their footer row counts
        become the summary's ``added-records``/``deleted-records``."""
        from iceberg_demo_spark.tables.format import write_manifest_list

        parent = self.metadata.current_snapshot(branch)
        if delete_files is None:  # inherit the branch head's position deletes
            delete_files = list(parent.delete_files) if parent else []
        tag = f"s{self.metadata.last_snapshot_id + 1}"
        manifests, delta = (
            self._plan_manifests(parent, files, added, removed, tag)
            if manifests is None else (manifests, None))
        record = None
        if changes is not None:
            inserted, deleted = changes
            record = {"inserted": [f.path for f in inserted],
                      "deleted": [f.path for f in deleted]}
            # Iceberg's keys, counted over change rows: a copy-on-write
            # commit reports what a merge-on-read one would, not the
            # carried rows of the files it rewrote
            summary = {"added-records": str(sum(f.records for f in inserted)),
                       "deleted-records": str(sum(f.records for f in deleted)),
                       **(summary or {})}
        manifest_list = write_manifest_list(
            self.location, manifests, delta, [f.path for f in removed], tag,
            record)
        snap = Snapshot(
            snapshot_id=self.metadata.next_snapshot_id(),
            parent_id=parent.snapshot_id if parent else None,
            timestamp_ms=now_ms(),
            operation=operation,
            schema_id=self.metadata.current_schema_id,
            manifest_list=manifest_list,
            location=self.location,
            summary=dict(summary or {}),
            delete_files=delete_files,
            files=files,  # hot copy; a cold load reads the manifests
        )
        snap.summary.setdefault("added-data-files", str(len(added)))
        snap.summary.setdefault("removed-data-files", str(len(removed)))
        snap.summary.setdefault("total-records", str(sum(f.records for f in files)))
        if delete_files:
            snap.summary.setdefault("total-delete-files", str(len(delete_files)))
        self.metadata.snapshots.append(snap)
        self.metadata.refs.setdefault(branch, {"snapshot_id": snap.snapshot_id, "type": "branch"})
        self.metadata.refs[branch]["snapshot_id"] = snap.snapshot_id
        self.metadata.save()
        return snap

    def _branch_files(self, branch: str) -> list[DataFile]:
        cur = self.metadata.current_snapshot(branch)
        return list(cur.files) if cur else []

    def _branch_deletes(self, branch: str) -> list[DeleteFile]:
        cur = self.metadata.current_snapshot(branch)
        return list(cur.delete_files) if cur else []

    def write_mode(self, op: str) -> str:
        """Row-level operation mode: ``write.<op>.mode`` table property,
        ``copy-on-write`` (the Iceberg default) or ``merge-on-read``
        (iceberg_it.py:2279-2285)."""
        return self.metadata.properties.get(f"write.{op}.mode", "copy-on-write").lower()

    def _write_delete_files(self, entries: DataFrame) -> list[DeleteFile]:
        """Write position-delete entries (file_path, pos) as parquet, with
        the deleted rows' images in ``row`` when the entries carry them.

        Entries are globally sorted by (file_path, pos) so each delete file
        covers a contiguous path range — the reader's broadcast build then
        prunes well, and parquet min/max on file_path lets a per-file-group
        applier skip irrelevant delete files at scale. One output file per
        commit here; a 1000-executor writer would instead keep the natural
        task partitioning (one delete file per task, fanout style)."""
        import pyarrow.parquet as pq

        commit_dir = f"data/{uuid.uuid4().hex[:16]}-deletes"
        abs_dir = os.path.join(self.location, commit_dir)
        entries.orderBy("file_path", "pos").coalesce(1).write.mode("overwrite").parquet(abs_dir)
        out = []
        for root, _dirs, names in os.walk(abs_dir):
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                ap = os.path.join(root, n)
                meta = pq.ParquetFile(ap).metadata
                if meta.num_rows == 0:
                    os.remove(ap)
                    continue
                out.append(DeleteFile(os.path.relpath(ap, self.location),
                                      meta.num_rows, os.path.getsize(ap)))
        return out

    # -- DML ---------------------------------------------------------------

    def append(self, df: DataFrame, branch: str = MAIN_BRANCH,
               summary: dict | None = None) -> Snapshot:
        """INSERT INTO / fast append. An append conflicts with a
        concurrent commit only at the metadata CAS — the written data
        files stay valid — so a lost race auto-retries on refreshed
        metadata (Iceberg's `commit.retry.num-retries`, default 4;
        set 0 to surface the conflict). Row-rewriting DML
        (DELETE/UPDATE/MERGE/overwrite) does NOT auto-retry: its file
        rewrites were planned against the pre-conflict snapshot, so the
        caller must refresh and re-run the operation.

        ``summary`` entries land in the snapshot summary ATOMICALLY with
        the commit — streaming writers stamp their epoch id this way, so
        a crash can never leave a committed-but-unstamped snapshot."""
        self.check_writable("INSERT INTO / append")
        new = self._write_files(df)
        retries = int(self.metadata.properties.get(
            "commit.retry.num-retries", "4"))
        for attempt in range(retries + 1):
            try:
                return self._commit(
                    "append", self._branch_files(branch) + new, new, [],
                    branch, summary=summary)
            except CommitConflictError:
                if attempt == retries:
                    raise
                self.refresh()

    def overwrite_all(self, df: DataFrame, branch: str = MAIN_BRANCH) -> Snapshot:
        """INSERT OVERWRITE with no partition clause: replace the table."""
        self.check_writable("INSERT OVERWRITE")
        old = self._branch_files(branch)
        new = self._write_files(df)
        return self._commit("overwrite", new, new, old, branch, delete_files=[])

    def overwrite_dynamic(self, df: DataFrame, branch: str = MAIN_BRANCH) -> Snapshot:
        """Dynamic overwrite: replace exactly the partitions present in df
        (docs/spark-writes.md:129-143)."""
        self.check_writable("INSERT OVERWRITE (dynamic)")
        old = self._branch_files(branch)
        new = self._write_files(df)
        touched = {tuple(sorted(f.partition.items())) for f in new}
        kept = [f for f in old if tuple(sorted(f.partition.items())) not in touched]
        removed = [f for f in old if tuple(sorted(f.partition.items())) in touched]
        return self._commit("overwrite", kept + new, new, removed, branch)

    def overwrite_where(self, df: DataFrame, condition: str | Column,
                        branch: str = MAIN_BRANCH) -> Snapshot:
        """DataFrameWriterV2.overwrite(condition) / static INSERT OVERWRITE
        PARTITION: delete rows matching condition, then append df, as one
        commit."""
        self.check_writable("INSERT OVERWRITE (static) / overwrite(condition)")
        old = self._branch_files(branch)
        kept, rewritten, removed, images = self._cow_delete(old, condition, branch)
        new = self._write_files(df)
        return self._commit("overwrite", kept + rewritten + new, rewritten + new, removed, branch,
                            changes=(new, images))

    def delete_where(self, condition: str | Column, branch: str = MAIN_BRANCH) -> Snapshot | None:
        """Row-level DELETE. Copy-on-write: files whose rows all survive are
        untouched; a filter aligned with partition boundaries becomes a
        metadata-only delete (file drop, no rewrite). Merge-on-read
        (``write.delete.mode=merge-on-read``): no data file is touched — the
        matched (file, pos) pairs are written as a position-delete file."""
        self.check_writable("DELETE FROM")
        old = self._branch_files(branch)
        dels = self._branch_deletes(branch)
        if self.write_mode("delete") == "merge-on-read":
            cond = _col(condition)
            schema_id = self.metadata.current_schema_id
            cand = self._prune_files(
                old, condition if isinstance(condition, str) else None)
            df = self._read_files(cand, schema_id, delete_files=dels, with_pos_col=True)
            entries = df.filter(F.coalesce(cond, F.lit(False))).select(
                F.col(_FILE_COL).alias("file_path"), F.col(_POS_COL).alias("pos"),
                _row_image(self._struct(schema_id)))
            new_dels = self._write_delete_files(entries)
            if not new_dels:
                return None
            return self._commit("delete", old, [], [], branch,
                                {"operation-detail": "merge-on-read",
                                 "added-delete-files": str(len(new_dels))},
                                delete_files=dels + new_dels,
                                changes=([], new_dels))
        kept, rewritten, removed, images = self._cow_delete(old, condition, branch)
        if not removed:
            return None  # nothing matched — no new snapshot (Iceberg no-ops too)
        return self._commit("delete", kept + rewritten, rewritten, removed, branch,
                            changes=([], images))

    def _cow_delete(self, files: list[DataFile], condition: str | Column,
                    branch: str) -> tuple[list[DataFile], list[DataFile],
                                          list[DataFile], list[DataFile]]:
        """Returns (untouched, rewritten_new_files, removed_old_files,
        deleted-row images)."""
        cond = _col(condition)
        dels = self._branch_deletes(branch)
        # DML always operates on the CURRENT schema: files written under
        # older schemas are field-id-mapped up by _read_files.
        schema_id = self.metadata.current_schema_id
        hit_paths = self._matching_files(
            files, cond, schema_id,
            cond_text=condition if isinstance(condition, str) else None,
            delete_files=dels)
        if not hit_paths:
            return list(files), [], [], []
        hit = [f for f in files if f.path in hit_paths]
        kept = [f for f in files if f.path not in hit_paths]
        # A hit file whose every row matches leaves no carried file (the
        # writer drops empty files): the file is simply removed.
        src = self._read_files(hit, schema_id, delete_files=dels)
        rows = [F.col(c) for c in src.columns]
        rewritten, _, images = self._write_files(
            _tag_rows(src, cond, F.lit(False), rows, rows), schema_id,
            tagged=True)
        return kept, rewritten, hit, images

    def _matching_files(self, files: list[DataFile], cond: Column,
                        schema_id: int, cond_text: str | None = None,
                        delete_files: list[DeleteFile] | None = None) -> set[str]:
        if not files:
            return set()
        files = self._prune_files(files, cond_text)
        if not files:
            return set()
        df = self._read_files(files, schema_id, with_file_col=True,
                              delete_files=delete_files)
        rows = df.filter(F.coalesce(cond, F.lit(False))).select(_FILE_COL).distinct().collect()
        return {r[_FILE_COL] for r in rows}

    # -- file pruning --------------------------------------------------------

    #: transforms monotone non-decreasing in the source value, with the
    #: number of integer fields of their yyyy[-MM[-dd[-HH]]] rendering;
    #: identity and truncate are monotone too, bucket is not
    _TIME_FIELDS = {"year": 1, "years": 1, "month": 2, "months": 2,
                    "day": 3, "days": 3, "hour": 4, "hours": 4}
    _NUMERIC_TYPES = ("tinyint", "smallint", "int", "integer", "bigint",
                      "long", "float", "double", "real", "decimal")

    @staticmethod
    def _conjuncts(cond_text: str | None) -> list[tuple[str, str, list]]:
        """The prunable depth-0 conjuncts of a WHERE text, as ``(column,
        op, [(literal, quoted)])`` with op one of eq, in, ge, gt, le, lt;
        ``col BETWEEN a AND b`` becomes ge + le (NOT BETWEEN is skipped —
        a negated range can't prune conjunctively). A conjunct of any
        other shape (an expression, a qualified column, an IN item that
        is not a literal, such as a subquery) is skipped, which only
        keeps more files. A depth-0 OR makes every piece conditional and
        an unsplittable text proves nothing: both give ``[]``."""
        if not cond_text:
            return []
        depth = 0
        for m in re.finditer(r"[()]|\bor\b", re.sub(_QUOTED, "''", cond_text),
                             re.IGNORECASE):
            if m.group(0) == "(":
                depth += 1
            elif m.group(0) == ")":
                depth -= 1
            elif depth == 0:
                return []

        def unbetween(m: re.Match) -> str:
            if m.group(1) is None or m.group(2):
                return m.group(0)  # a quoted literal, or NOT BETWEEN
            lo = f"'{m.group(3)}'" if m.group(3) is not None else m.group(4)
            hi = f"'{m.group(5)}'" if m.group(5) is not None else m.group(6)
            return f"{m.group(1)} >= {lo} AND {m.group(1)} <= {hi}"

        from iceberg_demo_spark.mv.parser import split_conjuncts

        try:
            pieces = split_conjuncts(_BETWEEN.sub(unbetween, cond_text))
        except Exception:
            return []
        out = []
        for c in pieces:
            m = _CMP.fullmatch(c)
            if m:
                out.append((m.group(1), _OPS[m.group(2)],
                            [_lit(m.group(3), m.group(4))]))
                continue
            m = _IN.fullmatch(c)
            items = ([_ITEM.fullmatch(i) for i in m.group(2).split(",")]
                     if m else [])
            if items and all(items):
                out.append((m.group(1), "in",
                            [_lit(i.group(1), i.group(2)) for i in items]))
        return out

    def _prune_cons(self, cond_text: str | None):
        """The pruning constraints of a WHERE text, built once per prune:
        ``(parts, stats)``, or None when nothing can prune.

        ``parts`` maps a partition column to ``[(op, values, kind)]``,
        checked against a file's partition value ``v`` as the interval
        ``[v, v]``. eq/IN on any transform gives the exact transformed
        value set (an ``in`` over strings): the transform is evaluated ON
        THE LITERAL with the write path's own expression (one local job,
        no table data), exact even for hash buckets. A range on a
        monotone transform gives an inclusive bound on the transformed
        literal — strict ops weaken, as monotone transforms aren't
        injective.

        ``stats`` holds ``(field id, op, literals, kind)`` for every
        conjunct on a stats-kind column of the current schema, checked
        against each file's ``lower``/``upper`` bounds; field ids keep
        files written before a rename prunable.

        Everything unprovable is left out: pruning is purely subtractive
        and the row-wise filter still applies."""
        fields = {f.name.lower(): f for f in self.metadata.schema}
        by_source: dict[str, list[PartitionField]] = {}
        for p in self.metadata.partition_spec:
            by_source.setdefault(p.source.lower(), []).append(p)
        sets: dict[str, set[str]] = {}
        parts: dict[str, list] = {}
        stats = []
        for col, op, lits in self._conjuncts(cond_text):
            f = fields.get(col.lower())
            if f is None:
                continue
            kind = self._stats_kind(f.type)
            if kind == "str" and not all(quoted for _, quoted in lits):
                # `stringcol = 5` coerces the COLUMN numerically in SQL
                # ('05' = 5 is true): no string comparison can prune it
                continue
            raws = {raw for raw, _ in lits}
            for p in by_source.get(col.lower(), []):
                if op in ("eq", "in"):
                    pkind = None
                elif p.transform in self._TIME_FIELDS:
                    pkind = p.transform
                elif p.transform == "identity" or p.transform.startswith(
                        "truncate["):
                    pkind = ("num" if f.type.lower().startswith(
                        self._NUMERIC_TYPES) else "str")
                else:
                    continue  # bucket order says nothing about ranges
                # ALWAYS through the typed cast (identity included): '5.0'
                # on a bigint partition must match the value "5"
                tvals = self._eval_transform(p, raws)
                if not tvals:
                    # None (couldn't evaluate) and empty (every literal
                    # cast to NULL) both mean "no provable constraint" —
                    # an empty value set would prune every file
                    continue
                if pkind is None:
                    sets[p.partition_col] = sets.get(p.partition_col,
                                                     tvals) & tvals
                    continue
                bound = self._domain(pkind, next(iter(tvals)))
                if bound is not None:
                    parts.setdefault(p.partition_col, []).append(
                        ("ge" if op[0] == "g" else "le", [bound], pkind))
            if kind is not None:
                parsed = [self._literal(kind, raw, quoted)
                          for raw, quoted in lits]
                if None not in parsed:  # one unprovable literal poisons it
                    stats.append((str(f.field_id), op, parsed, kind))
        for pcol, vals in sets.items():
            parts.setdefault(pcol, []).append(("in", vals, "str"))
        return (parts, stats) if parts or stats else None

    def _literal(self, kind: str, raw: str, quoted: bool):
        """A predicate literal in a stats kind's comparison domain; None =
        not provably comparable (no pruning on this conjunct)."""
        import datetime as _dt

        if kind == "num":
            return self._domain(kind, raw)
        if not quoted:
            return None  # a bare number is no date or timestamp
        if kind == "ts":
            try:
                v = _dt.datetime.fromisoformat(raw)
            except ValueError:
                return None
            if v.tzinfo is None:
                tz = self.spark.conf.get("spark.sql.session.timeZone",
                                         "UTC") or "UTC"
                if tz.upper() in ("UTC", "GMT", "Z", "+00:00", "ETC/UTC"):
                    v = v.replace(tzinfo=_dt.timezone.utc)
                else:
                    try:
                        from zoneinfo import ZoneInfo

                        v = v.replace(tzinfo=ZoneInfo(tz))
                    except Exception:
                        return None
            d = v - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            return (d.days * 86400 + d.seconds) * 10**6 + d.microseconds
        if kind == "tsntz":
            # wall-clock comparison domain: NO timezone attachment — the
            # session zone must never shift an NTZ literal
            try:
                v = _dt.datetime.fromisoformat(raw)
            except ValueError:
                return None
            if v.tzinfo is not None:
                return None  # offset literal vs NTZ column: not provable
            d = v - _dt.datetime(1970, 1, 1)
            return (d.days * 86400 + d.seconds) * 10**6 + d.microseconds
        if kind == "date":
            return raw if re.fullmatch(r"\d{4}-\d{2}-\d{2}", raw) else None
        return raw  # str: code-point order on both sides

    @classmethod
    def _domain(cls, kind: str, s: str | None):
        """A stored value — a file bound, a partition value or a
        transformed literal — in its kind's comparison domain; None =
        unknown, which never prunes. Time-transform values compare as
        integer tuples of the transform's width, so a 5-digit year can't
        sort before '9999' and a value of another shape proves nothing."""
        if s is None:
            return None
        if kind == "num":
            try:
                d = Decimal(s)
            except (InvalidOperation, ValueError, TypeError):
                return None
            return None if d.is_nan() else d
        if kind in ("ts", "tsntz"):
            try:
                return int(s)
            except ValueError:
                return None
        if kind in cls._TIME_FIELDS:
            t = tuple(int(g) for g in re.findall(r"\d+", s))
            return t if len(t) == cls._TIME_FIELDS[kind] else None
        return s

    @staticmethod
    def _range_admits(lo, up, op: str, lits) -> bool:
        """Can a value in [lo, up] (either side None = unknown) satisfy
        ``col <op> lits``? False = provably not → prune."""
        if op in ("eq", "in"):
            return any((lo is None or v >= lo) and (up is None or v <= up)
                       for v in lits)
        if op == "ge":
            return up is None or up >= lits[0]
        if op == "gt":
            return up is None or up > lits[0]
        if op == "le":
            return lo is None or lo <= lits[0]
        return lo is None or lo < lits[0]  # lt

    @classmethod
    def _value_admits(cls, value: str, col_cons: list) -> bool:
        """Whether a partition value satisfies every constraint on its
        column, as the one-point interval [value, value]."""
        for op, lits, kind in col_cons:
            v = cls._domain(kind, value)
            if not cls._range_admits(v, v, op, lits):
                return False
        return True

    def _file_admits(self, f: DataFile, cons) -> bool:
        """The per-file pruning test, shared by DML planning and scans."""
        parts, stats = cons
        for pcol, col_cons in parts.items():
            if pcol in f.partition and not self._value_admits(
                    f.partition[pcol], col_cons):
                return False
        for fid, op, lits, kind in stats:
            if f.records and f.nulls.get(fid) == f.records:
                # every value NULL and all these predicate forms are
                # null-rejecting — no row can match
                return False
            if not self._range_admits(self._domain(kind, f.lower.get(fid)),
                                      self._domain(kind, f.upper.get(fid)),
                                      op, lits):
                return False
        return True

    def _prune_files(self, files: list[DataFile],
                     cond_text: str | None) -> list[DataFile]:
        """Driver-side file pruning before any scan: the files a WHERE
        text's partition values and column bounds can't rule out (see
        _prune_cons). At 100 TB this is what turns a partition-aligned or
        selective DELETE into an O(matching files) operation instead of
        O(table)."""
        cons = self._prune_cons(cond_text)
        if cons is None:
            return files
        return [f for f in files if self._file_admits(f, cons)]

    def _manifest_bounds_admit(self, entry: dict, stats: list) -> bool:
        """Manifest-level min/max skipping on the ``bounds`` summary
        write_manifest rolls up. The rollup ordered values numerically
        iff every bound parsed as a number, so: numeric kinds require
        both summary bounds to parse (else admit), string-ish kinds
        require that they do NOT both parse (else the rollup may have
        used numeric ordering — admit). Either way the two levels never
        compare under different orderings."""
        b = entry.get("bounds") or {}
        for fid, op, lits, kind in stats:
            pair = b.get(fid)
            if not pair:
                continue
            numeric = all(self._domain("num", s) is not None for s in pair)
            if numeric != (kind in ("num", "ts", "tsntz")):
                continue  # the rollup may have ordered this pair otherwise
            lo, up = (self._domain(kind, s) for s in pair)
            if not self._range_admits(lo, up, op, lits):
                return False
        return True

    def _pruned_snapshot_files(self, snap: Snapshot,
                               cond_text: str) -> list[DataFile]:
        """_prune_files over a snapshot, which first SKIPS whole manifests
        whose partition or column-bound summary proves no match, so scan
        planning reads O(matching manifests), not O(all)."""
        from iceberg_demo_spark.tables import format as _fmt

        cons = self._prune_cons(cond_text)
        if cons is None:
            return snap.files
        parts, stats = cons
        files: list[DataFile] = []
        for m in snap.manifests:
            psum = m.get("partitions") or {}
            if any(pcol in psum and not any(
                    self._value_admits(v, col_cons) for v in psum[pcol])
                   for pcol, col_cons in parts.items()):
                continue  # no summarized partition value can match
            if not self._manifest_bounds_admit(m, stats):
                continue  # column-bound summary proves no match
            files.extend(_fmt.load_manifest(self.location, m["path"]))
        return [f for f in files if self._file_admits(f, cons)]

    def update_where(self, assignments: dict[str, str | Column],
                     condition: str | Column | None = None,
                     branch: str = MAIN_BRANCH) -> Snapshot | None:
        """UPDATE t SET ... WHERE ... — copy-on-write rewrites affected files
        only; merge-on-read position-deletes the matched rows and appends
        their updated images as new data files."""
        self.check_writable("UPDATE")
        cond = _col(condition) if condition is not None else F.lit(True)
        old = self._branch_files(branch)
        dels = self._branch_deletes(branch)
        schema_id = self.metadata.current_schema_id
        cond_text = condition if isinstance(condition, str) else None

        if self.write_mode("update") == "merge-on-read":
            st = self._struct(schema_id)
            cand = self._prune_files(old, cond_text)
            df = self._read_files(cand, schema_id, delete_files=dels, with_pos_col=True)
            matched_rows = df.filter(F.coalesce(cond, F.lit(False))).persist()
            try:
                entries = matched_rows.select(
                    F.col(_FILE_COL).alias("file_path"), F.col(_POS_COL).alias("pos"),
                    _row_image(st))
                new_dels = self._write_delete_files(entries)
                if not new_dels:
                    return None
                updated = matched_rows.select(
                    [
                        _col(assignments[f.name]).cast(f.dataType).alias(f.name)
                        if f.name in assignments else F.col(f.name)
                        for f in st.fields
                    ]
                )
                new_files = self._write_files(updated, schema_id)
            finally:
                matched_rows.unpersist()
            return self._commit("overwrite", old + new_files, new_files, [], branch,
                                {"operation-detail": "update",
                                 "added-delete-files": str(len(new_dels))},
                                delete_files=dels + new_dels,
                                changes=(new_files, new_dels))

        hit_paths = self._matching_files(old, cond, schema_id, cond_text=cond_text,
                                         delete_files=dels)
        if not hit_paths:
            return None
        hit = [f for f in old if f.path in hit_paths]
        kept = [f for f in old if f.path not in hit_paths]
        src = self._read_files(hit, schema_id, delete_files=dels)
        matched = F.coalesce(cond, F.lit(False))
        image = [
            F.when(matched, _col(assignments[c]).cast(src.schema[c].dataType))
            .otherwise(F.col(c)).alias(c)
            if c in assignments else F.col(c)
            for c in src.columns
        ]
        carried, new_images, images = self._write_files(
            _tag_rows(src, matched, F.lit(True), image,
                      [F.col(c) for c in src.columns]),
            schema_id, tagged=True)
        rewritten = carried + new_images
        return self._commit("overwrite", kept + rewritten, rewritten, hit, branch,
                            {"operation-detail": "update"},
                            changes=(new_images, images))

    # -- DataFrame-predicate DML (subquery / EXISTS forms) ------------------

    def delete_matching(self, source: DataFrame, on: str,
                        branch: str = MAIN_BRANCH) -> Snapshot | None:
        """DELETE FROM t WHERE EXISTS (SELECT … WHERE <on>) — the
        subquery-predicate DELETE of docs/spark-writes.md:170-199, expressed
        as MERGE WHEN MATCHED DELETE so matching rows are found by a
        distributed join (never a driver-side key collection). ``on``
        references the target as ``t`` and ``source`` as ``s``. Duplicate
        source matches are EXISTS semantics — a target row matched by many
        source rows is simply deleted — so no cardinality check runs."""
        return self.merge(
            source, on=on,
            matched=[{"condition": None, "action": "delete"}],
            branch=branch, check_cardinality=False)

    def update_matching(self, assignments: dict[str, str | Column],
                        source: DataFrame, on: str,
                        branch: str = MAIN_BRANCH,
                        check_cardinality: bool = True) -> Snapshot | None:
        """UPDATE t SET … WHERE <key> IN (SELECT … ) — DataFrame-predicate
        UPDATE as MERGE WHEN MATCHED UPDATE. ``assignments`` may reference
        source columns as ``s.<col>`` (and target columns bare or as
        ``t.<col>``); the cardinality check rejects a target row matching
        multiple source rows, which would make the update ambiguous."""
        return self.merge(
            source, on=on,
            matched=[{"condition": None, "action": "update",
                      "set": dict(assignments)}],
            branch=branch, check_cardinality=check_cardinality)

    # -- MERGE -------------------------------------------------------------

    def merge(
        self,
        source: DataFrame,
        on: str,
        matched: list[dict] | None = None,
        not_matched: list[dict] | None = None,
        not_matched_by_source: list[dict] | None = None,
        branch: str = MAIN_BRANCH,
        check_cardinality: bool = True,
        summary: dict | None = None,
    ) -> Snapshot | None:
        """MERGE INTO with the reference's four variants
        (iceberg_it.py:1286-1500): multiple WHEN MATCHED clauses are
        first-match-wins; WHEN NOT MATCHED BY SOURCE updates/deletes target
        rows without a source match. ``summary`` entries are written into
        the MERGE's own snapshot summary (nothing is committed, so nothing
        is written, when the MERGE changes no row).

        Clause shapes (expressions are SQL strings; target alias ``t``,
        source alias ``s``):
          matched:              {"condition": str|None, "action": "update"|"delete", "set": {col: expr}}
          not_matched:          {"condition": str|None, "values": {col: expr} | None}  (None = insert s.* by name)
          not_matched_by_source:{"condition": str|None, "action": "update"|"delete", "set": {col: expr}}
        """
        self.check_writable("MERGE INTO")
        matched = matched or []
        not_matched = not_matched or []
        not_matched_by_source = not_matched_by_source or []
        old = self._branch_files(branch)
        dels = self._branch_deletes(branch)
        schema_id = self.metadata.current_schema_id
        st = self._struct(schema_id)
        mor = self.write_mode("merge") == "merge-on-read"

        # Row-presence marker: a matched source row must be detected by the
        # JOIN producing it, not by the nullability of any data column (a
        # matched row whose first column is NULL is still a match —
        # Iceberg/Spark MERGE semantics). The non-null literal survives the
        # left outer join iff the row matched; it never reaches projections
        # because inserts/updates project by target-schema field names.
        if _S_PRESENT_COL in source.columns:
            raise ValueError(
                f"MERGE: source column {_S_PRESENT_COL!r} collides with the "
                "engine's reserved row-presence marker")
        # The source frame feeds up to four SEQUENTIAL jobs (cardinality
        # probe, hit-file scan, rewrite join, insert anti-join); without a
        # persist each job re-executes the source's whole lineage — for a
        # changelog- or aggregate-shaped source that triples the MERGE's
        # cost. Lazy persist: the first job fills the cache, the rest read
        # it, and the blocks are dropped before returning (spills to disk
        # past memory, so a huge source degrades gracefully at scale).
        # A source the CALLER already pinned is left alone: persist() on a
        # cached frame is a no-op on the existing entry, so the finally
        # would evict the caller's cache and every later consumer would
        # silently recompute the full lineage (ADVICE r12).
        lvl = source.storageLevel
        own_pin = not (lvl.useMemory or lvl.useDisk)
        src_cached = source.persist() if own_pin else source
        try:
            return self._merge_body(
                src_cached, on, matched, not_matched, not_matched_by_source,
                branch, check_cardinality, old, dels, schema_id, st, mor,
                {**(summary or {}), "operation-detail": "merge"})
        finally:
            if own_pin:
                src_cached.unpersist()

    def _merge_body(self, source: DataFrame, on: str, matched: list[dict],
                    not_matched: list[dict], not_matched_by_source: list[dict],
                    branch: str, check_cardinality: bool, old: list[DataFile],
                    dels: list[DeleteFile], schema_id: int, st: T.StructType,
                    mor: bool, summary: dict) -> Snapshot | None:
        target = self._read_files(old, schema_id, with_file_col=True,
                                  delete_files=dels, with_pos_col=mor).alias("t")
        src = source.withColumn(_S_PRESENT_COL, F.lit(True)).alias("s")
        on_expr = F.expr(on)

        if check_cardinality and matched:
            # Reference semantics: a target row matching >1 source rows is an
            # error. One extra agg job over the matched keys only.
            t_keyed = target.withColumn(_ROW_COL, F.monotonically_increasing_id()).alias("t")
            dup = (
                t_keyed.join(src, on_expr, "inner")
                .groupBy(_ROW_COL).count().filter(F.col("count") > 1).limit(1).count()
            )
            if dup:
                raise MergeCardinalityError(
                    "MERGE: a single row from the target table matched multiple source rows"
                )

        joined = target.join(src, on_expr, "left_outer")
        has_match = F.col(f"s.{_S_PRESENT_COL}").isNotNull()
        # each rewritten row has exactly one image to record: the probe
        # above proves every target row meets at most one source row, and
        # without WHEN MATCHED clauses only unmatched rows are claimed
        unique = check_cardinality or not matched

        if mor:
            return self._merge_mor(
                old, dels, target, src, joined, on_expr, has_match, st, schema_id,
                matched, not_matched, not_matched_by_source, branch, summary,
                unique)

        # Copy-on-write: which files must be rewritten? Files with join
        # matches if there are WHEN MATCHED clauses, plus — if there are NOT
        # MATCHED BY SOURCE clauses — files with rows lacking a match (for a
        # selective ON, that is every file; unavoidable, same as Iceberg).
        # An insert-only MERGE claims no target row and rewrites no file.
        hit_paths: set[str] = set()
        if matched or not_matched_by_source:
            need = (F.lit(True) if not_matched_by_source
                    else F.coalesce(has_match, F.lit(False)))
            hit_paths = {r[_FILE_COL] for r in joined.filter(need).select(
                F.col(f"t.{_FILE_COL}")).distinct().collect()}
        hit = [f for f in old if f.path in hit_paths]
        kept = [f for f in old if f.path not in hit_paths]

        new_files: list[DataFile] = []
        inserted: list[DataFile] = []
        images: list[DataFile] = []
        if hit:
            rewrite_src = self._read_files(hit, schema_id, with_file_col=False,
                                           delete_files=dels).alias("t")
            if matched:
                j = rewrite_src.join(src, on_expr, "left_outer")
            else:
                # no clause reads a source row: a target row needs only
                # whether it has a match, once — an outer join would
                # write it once per matching source row
                j = (rewrite_src.join(src, on_expr, "left_semi")
                     .withColumn(_S_PRESENT_COL, F.lit(True))
                     .unionByName(rewrite_src.join(src, on_expr, "left_anti")
                                  .withColumn(_S_PRESENT_COL,
                                              F.lit(None).cast("boolean")))
                     .alias("t"))
                has_match = F.col(_S_PRESENT_COL).isNotNull()
            rows = self._apply_merge_clauses(
                j, st, has_match, matched, not_matched_by_source, unique)
            if unique:
                carried, inserted, images = self._write_files(
                    rows, schema_id, tagged=True)
                new_files += carried + inserted
            else:
                new_files += self._write_files(rows, schema_id)

        if not_matched:
            inserts = src.join(target, on_expr, "left_anti")
            ins = self._merge_inserts(inserts, st, not_matched)
            if ins is not None:
                ins_files = self._write_files(ins, schema_id)
                new_files += ins_files
                inserted += ins_files

        if not hit and not new_files:
            return None
        files = kept + new_files
        # without the probe a target row may meet several source rows and
        # the rewrite cannot tell its images apart: no record, and the
        # changelog diffs this commit's files
        return self._commit("overwrite", files, new_files, hit, branch, summary,
                            changes=(inserted, images) if unique or not hit
                            else None)

    def _merge_inserts(self, inserts: DataFrame, st: T.StructType,
                       not_matched: list[dict]) -> DataFrame | None:
        """NOT MATCHED clause cascade (first-match-wins) over source rows
        without a target match → target-schema insert rows."""
        ins_parts = []
        prev_not = F.lit(True)
        for cl in not_matched:
            c = F.expr(cl["condition"]) if cl.get("condition") else F.lit(True)
            rows = inserts.filter(prev_not & F.coalesce(c, F.lit(False)))
            prev_not = prev_not & ~F.coalesce(c, F.lit(False))
            values = cl.get("values")
            if values is None:
                proj = [
                    (F.col(f.name) if f.name in inserts.columns else F.lit(None))
                    .cast(f.dataType).alias(f.name)
                    for f in st.fields
                ]
            else:
                proj = [
                    (_col(values[f.name]) if f.name in values else F.lit(None))
                    .cast(f.dataType).alias(f.name)
                    for f in st.fields
                ]
            ins_parts.append(rows.select(proj))
        if not ins_parts:
            return None
        ins = ins_parts[0]
        for p in ins_parts[1:]:
            ins = ins.unionByName(p)
        return ins

    def _merge_action_idx(self, has_match: Column, matched: list[dict],
                          nmbs: list[dict]) -> tuple[Column, list[tuple[int, dict]]]:
        """First-match-wins clause index: for each (t ⟕ s) row, the index of
        the first clause whose condition holds, else -1."""
        has_match = F.coalesce(has_match, F.lit(False))
        action_idx = F.lit(-1)
        clauses: list[tuple[int, dict]] = []
        i = 0
        for cl in matched:
            cond = has_match & (
                F.coalesce(F.expr(cl["condition"]), F.lit(False)) if cl.get("condition") else F.lit(True)
            )
            action_idx = F.when(action_idx >= 0, action_idx).when(cond, F.lit(i)).otherwise(F.lit(-1))
            clauses.append((i, cl))
            i += 1
        for cl in nmbs:
            cond = (~has_match) & (
                F.coalesce(F.expr(cl["condition"]), F.lit(False)) if cl.get("condition") else F.lit(True)
            )
            action_idx = F.when(action_idx >= 0, action_idx).when(cond, F.lit(i)).otherwise(F.lit(-1))
            clauses.append((i, cl))
            i += 1
        return action_idx, clauses

    def _merge_out_cols(self, st: T.StructType,
                        clauses: list[tuple[int, dict]]) -> list[Column]:
        """Target-schema projection applying each UPDATE clause's SET list to
        the rows it claimed (by ``_g_action``)."""
        out_cols = []
        for f in st.fields:
            expr = F.col(f"t.{f.name}")
            for i, cl in clauses:
                if cl.get("action") == "update" and f.name in (cl.get("set") or {}):
                    expr = F.when(F.col("_g_action") == i,
                                  _col(cl["set"][f.name]).cast(f.dataType)).otherwise(expr)
            out_cols.append(expr.cast(f.dataType).alias(f.name))
        return out_cols

    def _apply_merge_clauses(self, joined: DataFrame, st: T.StructType,
                             has_match: Column, matched: list[dict],
                             nmbs: list[dict], tagged: bool) -> DataFrame:
        """First-match-wins cascade over the left-joined (t ⟕ s) rows →
        surviving target-schema rows (copy-on-write rewrite body); with
        ``tagged``, every row's images tagged for the change record."""
        action_idx, clauses = self._merge_action_idx(has_match, matched, nmbs)
        with_idx = joined.withColumn("_g_action", action_idx)
        delete_idx = [i for i, cl in clauses if cl.get("action") == "delete"]
        survive = ~F.col("_g_action").isin(delete_idx) if delete_idx else F.lit(True)
        out_cols = self._merge_out_cols(st, clauses)
        if tagged:
            return _tag_rows(
                with_idx, F.col("_g_action") >= 0, survive, out_cols,
                [F.col(f"t.{f.name}").cast(f.dataType).alias(f.name)
                 for f in st.fields])
        return with_idx.filter(survive).select(out_cols)

    def _merge_mor(self, old: list[DataFile], dels: list[DeleteFile],
                   target: DataFrame, src: DataFrame, joined: DataFrame,
                   on_expr: Column, has_match: Column, st: T.StructType,
                   schema_id: int, matched: list[dict], not_matched: list[dict],
                   nmbs: list[dict], branch: str, summary: dict,
                   unique: bool) -> Snapshot | None:
        """Merge-on-read MERGE: no data file is rewritten. Every row claimed
        by a MATCHED / NOT MATCHED BY SOURCE clause gets a position-delete
        entry carrying its old image; UPDATE clauses additionally append
        the updated row image; NOT MATCHED inserts append as usual. At
        scale this turns MERGE's write cost from O(touched files) into
        O(changed rows). Unless ``unique`` (the cardinality probe ran), a
        target row claimed through several source rows is entered once."""
        action_idx, clauses = self._merge_action_idx(has_match, matched, nmbs)
        affected = joined.withColumn("_g_action", action_idx).filter(
            F.col("_g_action") >= 0).persist()
        try:
            entries = affected.select(
                F.col(f"t.{_FILE_COL}").alias("file_path"),
                F.col(f"t.{_POS_COL}").alias("pos"),
                _row_image(st, "t."))
            if not unique:
                entries = entries.dropDuplicates(["file_path", "pos"])
            new_dels = self._write_delete_files(entries)
            new_files: list[DataFile] = []
            update_idx = [i for i, cl in clauses if cl.get("action") == "update"]
            if update_idx and new_dels:
                updated = affected.filter(F.col("_g_action").isin(update_idx)).select(
                    self._merge_out_cols(st, clauses))
                new_files += self._write_files(updated, schema_id)
            if not_matched:
                inserts = src.join(target, on_expr, "left_anti")
                ins = self._merge_inserts(inserts, st, not_matched)
                if ins is not None:
                    new_files += self._write_files(ins, schema_id)
        finally:
            affected.unpersist()
        if not new_dels and not new_files:
            return None
        return self._commit("overwrite", old + new_files, new_files, [], branch,
                            {**summary, "added-delete-files": str(len(new_dels))},
                            delete_files=dels + new_dels,
                            changes=(new_files, new_dels))

    # -- metadata tables ---------------------------------------------------

    def snapshots_df(self) -> DataFrame:
        rows = [
            (s.snapshot_id, s.parent_id, s.timestamp_ms, s.operation,
             {k: str(v) for k, v in s.summary.items()})
            for s in self.metadata.snapshots
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id bigint, parent_id bigint, committed_at_ms bigint, "
            "operation string, summary map<string,string>",
        )

    def history_df(self) -> DataFrame:
        ancestor_ids = {s.snapshot_id for s in self.metadata.ancestors(MAIN_BRANCH)}
        rows = [
            (s.timestamp_ms, s.snapshot_id, s.parent_id, s.snapshot_id in ancestor_ids)
            for s in self.metadata.snapshots
        ]
        return self.spark.createDataFrame(
            rows,
            "made_current_at_ms bigint, snapshot_id bigint, parent_id bigint, "
            "is_current_ancestor boolean",
        )

    _FILES_DF_SCHEMA = (
        "content int, file_path string, file_format string, record_count bigint, "
        "file_size_in_bytes bigint, partition map<string,string>, schema_id int, "
        "lower_bounds map<int,string>, upper_bounds map<int,string>, "
        "null_value_counts map<int,bigint>, "
        "readable_metrics map<string,struct<lower_bound:string,"
        "upper_bound:string,null_value_count:bigint>>"
    )

    def files_df(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``files`` metadata table: data files (content=0) and position
        delete files (content=1), Iceberg content-id convention
        (docs/spark-queries.md:215-326). ``lower_bounds``/``upper_bounds``/
        ``null_value_counts`` are keyed by field id like the reference's
        (docs/spark-queries.md:320-326); values are this format's canonical
        strings (num → decimal string, timestamp → UTC epoch micros,
        date → ISO, string → possibly truncated bound). ``readable_metrics``
        re-keys the same stats by CURRENT column name — the reference's
        human-readable per-column map."""
        snap = self._resolve_snapshot(snapshot_id)

        def ik(d: dict) -> dict:
            return {int(k): v for k, v in d.items()}

        name_of = {}
        if snap:
            for fld in self.metadata.schemas[
                    self.metadata.current_schema_id]:
                name_of[str(fld.field_id)] = fld.name

        def readable(f: DataFile) -> dict:
            out = {}
            for fid in set(f.lower) | set(f.upper) | set(f.nulls):
                name = name_of.get(fid)
                if name:
                    out[name] = (f.lower.get(fid), f.upper.get(fid),
                                 f.nulls.get(fid))
            return out

        rows = [
            (0, f.path, "PARQUET", f.records, f.bytes, f.partition,
             f.schema_id, ik(f.lower), ik(f.upper), ik(f.nulls), readable(f))
            for f in (snap.files if snap else [])
        ] + [
            (1, f.path, "PARQUET", f.records, f.bytes, {}, None, {}, {}, {},
             {})
            for f in (snap.delete_files if snap else [])
        ]
        return self.spark.createDataFrame(rows, self._FILES_DF_SCHEMA)

    def data_files_df(self, snapshot_id: int | None = None) -> DataFrame:
        return self.files_df(snapshot_id).filter("content = 0")

    def delete_files_df(self, snapshot_id: int | None = None) -> DataFrame:
        return self.files_df(snapshot_id).filter("content = 1")

    def all_files_df(self) -> DataFrame:
        seen, rows = set(), []
        for s in self.metadata.snapshots:
            for f in s.files:
                if f.path not in seen:
                    seen.add(f.path)
                    rows.append((0, f.path, "PARQUET", f.records, f.bytes, f.partition, s.snapshot_id))
            for f in s.delete_files:
                if f.path not in seen:
                    seen.add(f.path)
                    rows.append((1, f.path, "PARQUET", f.records, f.bytes, {}, s.snapshot_id))
        return self.spark.createDataFrame(
            rows,
            "content int, file_path string, file_format string, record_count bigint, "
            "file_size_in_bytes bigint, partition map<string,string>, snapshot_id bigint",
        )

    def refs_df(self) -> DataFrame:
        rows = [
            (n, r["type"].upper(), r["snapshot_id"],
             r.get("max_ref_age_ms"), r.get("min_snapshots_to_keep"),
             r.get("max_snapshot_age_ms"))
            for n, r in self.metadata.refs.items()
        ]
        return self.spark.createDataFrame(
            rows,
            "name string, type string, snapshot_id bigint, "
            "max_reference_age_in_ms bigint, min_snapshots_to_keep int, "
            "max_snapshot_age_in_ms bigint",
        )

    def partitions_df(self) -> DataFrame:
        snap = self.metadata.current_snapshot()
        agg: dict[tuple, list[int]] = {}
        for f in (snap.files if snap else []):
            key = tuple(sorted(f.partition.items()))
            a = agg.setdefault(key, [0, 0])
            a[0] += f.records
            a[1] += 1
        rows = [(dict(k), v[0], v[1]) for k, v in agg.items()]
        return self.spark.createDataFrame(
            rows, "partition map<string,string>, record_count bigint, file_count bigint"
        )

    def metadata_log_df(self) -> DataFrame:
        rows = [(e["timestamp_ms"], e["version"]) for e in self.metadata.metadata_log]
        return self.spark.createDataFrame(rows, "timestamp_ms bigint, version int")

    _ENTRIES_SCHEMA = (
        "status int, snapshot_id bigint, file_path string, record_count bigint, "
        "file_size_in_bytes bigint"
    )

    def entries_df(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``entries`` metadata table (docs/spark-queries.md manifest
        entries): per-file status at a snapshot — 1=ADDED by it, 0=EXISTING
        (carried over)."""
        snap = self._resolve_snapshot(snapshot_id)
        added = set(snap.added_files) if snap else set()
        rows = [
            (1 if f.path in added else 0, snap.snapshot_id, f.path, f.records, f.bytes)
            for f in (snap.files if snap else [])
        ]
        return self.spark.createDataFrame(rows, self._ENTRIES_SCHEMA)

    def all_entries_df(self) -> DataFrame:
        """Entries across every snapshot, including status 2=DELETED rows for
        files a snapshot removed."""
        rows = []
        for s in self.metadata.snapshots:
            added = set(s.added_files)
            for f in s.files:
                rows.append((1 if f.path in added else 0, s.snapshot_id, f.path,
                             f.records, f.bytes))
            parent = (self.metadata.snapshot_by_id(s.parent_id)
                      if s.parent_id is not None else None)
            parent_files = {f.path: f for f in parent.files} if parent else {}
            for p in s.removed_files:
                pf = parent_files.get(p)
                if pf is not None:
                    rows.append((2, s.snapshot_id, pf.path, pf.records, pf.bytes))
        return self.spark.createDataFrame(rows, self._ENTRIES_SCHEMA)

    def manifests_df(self) -> DataFrame:
        """The ``manifests`` metadata table: the current snapshot's
        manifest files with their size and, per manifest, how many of its
        files that snapshot added and how many it carried over."""
        from iceberg_demo_spark.tables.format import load_manifest

        snap = self.metadata.current_snapshot()
        rows = []
        added = set(snap.added_files) if snap is not None else set()
        for m in (snap.manifests if snap is not None else []):
            ap = os.path.join(self.location, m["path"])
            length = os.path.getsize(ap) if os.path.exists(ap) else 0
            mfiles = load_manifest(self.location, m["path"])
            n_added = sum(1 for f in mfiles if f.path in added)
            rows.append((m["path"], length, 0, snap.snapshot_id,
                         n_added, m["n_files"] - n_added, 0))
        return self.spark.createDataFrame(
            rows,
            "path string, length bigint, partition_spec_id int, "
            "added_snapshot_id bigint, added_data_files_count int, "
            "existing_data_files_count int, deleted_data_files_count int",
        )

    def position_deletes_df(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``position_deletes`` metadata table: every (file_path, pos)
        entry in the current snapshot's delete files, with the target
        file's partition and the delete file that holds the entry —
        docs/spark-queries.md:381-390. ``row`` is NULL here: the deleted
        row images a delete file may carry are read by the changelog, and
        compacted delete files have none."""
        schema = ("file_path string, pos bigint, row string, "
                  "partition map<string,string>, spec_id int, "
                  "delete_file_path string")
        snap = self._resolve_snapshot(snapshot_id)
        if snap is None or not snap.delete_files:
            return self.spark.createDataFrame([], schema)
        out = None
        for d in snap.delete_files:
            part = (self.spark.read.schema(_DELETE_SCHEMA)
                    .parquet(os.path.join(self.location, d.path))
                    .withColumn("delete_file_path", F.lit(d.path)))
            out = part if out is None else out.unionByName(part)
        parts = self.spark.createDataFrame(
            [(f.path, f.partition) for f in snap.files],
            "file_path string, partition map<string,string>")
        return (
            out.join(F.broadcast(parts), "file_path", "left")
            .select("file_path", "pos",
                    F.lit(None).cast("string").alias("row"),
                    "partition", F.lit(0).alias("spec_id"),
                    "delete_file_path")
        )

    #: metadata-table suffix → builder (the ``tbl.files`` read surface,
    #: iceberg_it.py:1938-1989)
    METADATA_TABLES = {
        "position_deletes": "position_deletes_df",
        "snapshots": "snapshots_df",
        "history": "history_df",
        "files": "files_df",
        "data_files": "data_files_df",
        "delete_files": "delete_files_df",
        "all_files": "all_files_df",
        "refs": "refs_df",
        "partitions": "partitions_df",
        "metadata_log_entries": "metadata_log_df",
        "entries": "entries_df",
        "all_entries": "all_entries_df",
        "manifests": "manifests_df",
        "all_manifests": "manifests_df",
    }

    def metadata_table(self, suffix: str) -> DataFrame:
        s = suffix.lower()
        if s == "all_data_files":
            return self.all_files_df().filter("content = 0")
        if s == "all_delete_files":
            return self.all_files_df().filter("content = 1")
        attr = self.METADATA_TABLES.get(s)
        if attr is None:
            raise ValueError(f"unknown metadata table: {self.name}.{suffix}")
        return getattr(self, attr)()

    # -- maintenance helpers used by procedures ----------------------------

    def live_file_paths(self) -> set[str]:
        """Every file under data/ some snapshot references: data files,
        delete files and change-record files."""
        out: set[str] = set()
        for s in self.metadata.snapshots:
            out.update(f.path for f in s.files)
            out.update(f.path for f in s.delete_files)
            out.update(s.change_paths())
        return out

    def data_dir(self) -> str:
        return os.path.join(self.location, "data")

    def purge(self) -> None:
        shutil.rmtree(self.location, ignore_errors=True)


# -- helpers ---------------------------------------------------------------


@functools.lru_cache(maxsize=4096)
def _parse_type(ddl: str) -> T.DataType:
    """Memoized: parsing a DDL type string is a py4j roundtrip, and every
    DML statement re-derives its schema StructType field by field — the
    cache collapses ~50 JVM calls per statement into dict hits (round-6
    MoR-drift fix). DataType instances are immutable values in practice,
    so sharing them across callers is safe."""
    return T._parse_datatype_string(ddl)


def _align_col(col: Column, in_type: T.DataType, out_type: T.DataType) -> Column:
    """Align a column from a file schema to the requested schema: recursive
    by-name struct rebuild (nested add => NULL, nested drop => omit), plain
    cast for widening/primitives."""
    if in_type == out_type:
        return col
    if isinstance(in_type, T.StructType) and isinstance(out_type, T.StructType):
        in_by_name = {f.name.lower(): f for f in in_type.fields}
        parts = []
        for f in out_type.fields:
            src = in_by_name.get(f.name.lower())
            if src is None:
                parts.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                parts.append(_align_col(col.getField(src.name), src.dataType, f.dataType).alias(f.name))
        aligned = F.struct(*parts)
        return F.when(col.isNull(), F.lit(None).cast(out_type)).otherwise(aligned)
    return col.cast(out_type)


_WIDEN = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"), ("float", "double"),
}


def _is_widening(old: str, new: str) -> bool:
    o, n = old.lower().strip(), new.lower().strip()
    if o == n:
        return True
    if (o, n) in _WIDEN:
        return True
    if o.startswith("decimal") and n.startswith("decimal"):
        op, os_ = _decimal_ps(o)
        np, ns = _decimal_ps(n)
        return ns == os_ and np >= op
    return False


def _decimal_ps(s: str) -> tuple[int, int]:
    inner = s[s.index("(") + 1 : s.index(")")]
    p, sc = inner.split(",")
    return int(p), int(sc)


def _transform_expr(transform: str, source: str) -> Column:
    c = F.col(source)
    t = transform
    if t == "identity":
        return c
    if t in ("year", "years"):
        return F.date_format(c, "yyyy")
    if t in ("month", "months"):
        return F.date_format(c, "yyyy-MM")
    if t in ("day", "days"):
        return F.date_format(c, "yyyy-MM-dd")
    if t in ("hour", "hours"):
        return F.date_format(c, "yyyy-MM-dd-HH")
    if t.startswith("bucket["):
        n = int(t[len("bucket[") : -1])
        return F.pmod(F.xxhash64(c), F.lit(n))
    if t.startswith("truncate["):
        w = int(t[len("truncate[") : -1])
        # strings: prefix; integral: floor to multiple (Iceberg semantics)
        return F.when(
            F.lit(True),
            F.expr(
                f"CASE WHEN typeof({source}) IN ('string','varchar') "
                f"THEN substring({source}, 1, {w}) "
                f"ELSE CAST({source} - pmod({source}, {w}) AS STRING) END"
            ),
        )
    raise ValueError(f"unsupported transform: {transform}")


def _default_partition_name(source: str, transform: str) -> str:
    if transform == "identity":
        return source
    base = transform.split("[")[0]
    # Iceberg-style singular names: days(ts) -> ts_day
    base = {"years": "year", "months": "month", "days": "day", "hours": "hour"}.get(base, base)
    return f"{source}_{base}"
