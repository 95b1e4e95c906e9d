"""Table-format metadata model: schemas, partition specs, snapshots, refs.

Mirrors the capability surface of the reference's Iceberg tables
(/root/reference/iceberg_it.py:267-396 DDL+evolution, :617-860 branches/tags,
:1938-2041 snapshots/time-travel) without the Iceberg runtime: a table is a
directory of parquet data files plus a JSON metadata log.

Scale notes. Every snapshot is stored the way production Iceberg stores
it: the metadata JSON keeps snapshot headers only, each header points to
ONE immutable manifest list, the list points to immutable manifests and
the manifests list the data files. A commit writes one delta manifest for
its added files, rewrites only the manifests that lose a file and writes
one manifest list (O(delta) I/O); scan planning loads manifests lazily
through one bounded cache and skips whole manifests whose partition or
column-bound summary proves no match (docs/spark-queries.md:215-472
exposes the layer through the metadata tables). All other mechanics
(field-id schema evolution, hidden partition transforms, copy-on-write
deltas, ref pointers) are scale-independent driver-side metadata and
match the production design.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field

MAIN_BRANCH = "main"

_TRANSFORM_RE = re.compile(r"^(identity|years?|months?|days?|hours?|bucket\[(\d+)\]|truncate\[(\d+)\])$")


@dataclass
class SchemaField:
    """One column; ``field_id`` is stable across renames (Iceberg semantics:
    files written before a rename are mapped by id, not by name)."""

    field_id: int
    name: str
    type: str  # Spark DDL type string, e.g. "bigint", "struct<a:int>"
    nullable: bool = True
    comment: str | None = None

    def to_json(self) -> dict:
        return {
            "id": self.field_id,
            "name": self.name,
            "type": self.type,
            "nullable": self.nullable,
            "comment": self.comment,
        }

    @staticmethod
    def from_json(d: dict) -> "SchemaField":
        return SchemaField(d["id"], d["name"], d["type"], d.get("nullable", True), d.get("comment"))


@dataclass
class PartitionField:
    """Hidden-partition field: ``transform(source)`` materialized as a
    ``_p_<name>`` directory column at write time (docs/spark-ddl.md:74-85
    transform list)."""

    name: str  # partition field name, e.g. "ts_day" or "id_bucket"
    source: str  # source column name
    transform: str  # identity | year | month | day | hour | bucket[N] | truncate[N]

    def __post_init__(self) -> None:
        if not _TRANSFORM_RE.match(self.transform):
            raise ValueError(f"unsupported partition transform: {self.transform}")

    @property
    def partition_col(self) -> str:
        return f"_p_{self.name}"

    def to_json(self) -> dict:
        return {"name": self.name, "source": self.source, "transform": self.transform}

    @staticmethod
    def from_json(d: dict) -> "PartitionField":
        return PartitionField(d["name"], d["source"], d["transform"])


@dataclass
class DataFile:
    """One parquet data file tracked by a snapshot.

    ``lower``/``upper`` are per-column min/max bounds harvested from the
    parquet footer at write time (no data read), keyed by STRING FIELD ID
    so they survive column renames — the manifest-entry
    ``lower_bounds``/``upper_bounds`` of production Iceberg
    (docs/spark-queries.md:320-326). Values are canonical strings; only
    stats-safe types are recorded (see Table._HARVEST_STATS_TYPES — float
    and double are deliberately absent because parquet min/max exclude
    NaN while Spark orders NaN above every number, so bounds on them
    cannot soundly prune). ``nulls`` carries per-column null counts.
    Absent keys always mean "unknown — cannot prune"."""

    path: str  # relative to table location
    records: int
    bytes: int
    schema_id: int
    partition: dict[str, str] = field(default_factory=dict)  # partition_col -> string value
    lower: dict[str, str] = field(default_factory=dict)  # field_id -> min bound
    upper: dict[str, str] = field(default_factory=dict)  # field_id -> max bound
    nulls: dict[str, int] = field(default_factory=dict)  # field_id -> null count

    def to_json(self) -> dict:
        d = {
            "path": self.path,
            "records": self.records,
            "bytes": self.bytes,
            "schema_id": self.schema_id,
            "partition": self.partition,
        }
        if self.lower:
            d["lower"] = self.lower
        if self.upper:
            d["upper"] = self.upper
        if self.nulls:
            d["nulls"] = self.nulls
        return d

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(d["path"], d["records"], d["bytes"], d["schema_id"],
                        d.get("partition", {}), d.get("lower", {}),
                        d.get("upper", {}), d.get("nulls", {}))


@dataclass
class DeleteFile:
    """Position-delete file (merge-on-read DML): a parquet file of
    ``(file_path string, pos bigint)`` rows marking deleted positions in data
    files. ``file_path`` is the data file's path relative to the table
    location. Mirrors Iceberg v2 position deletes
    (docs/spark-procedures.md:514-572, iceberg_it.py:2274-2294).

    A row-level write also stores each deleted row's image in Iceberg's
    optional ``row`` column (a struct of the table row under the commit's
    schema), so the changelog reads the commit's deleted rows from this
    file alone; compacted delete files
    (``rewrite_position_delete_files``) keep the two position columns
    only. ``records`` counts entries, which is what sizes the scan-side
    anti-join build."""

    path: str  # relative to table location
    records: int
    bytes: int

    def to_json(self) -> dict:
        return {"path": self.path, "records": self.records, "bytes": self.bytes}

    @staticmethod
    def from_json(d: dict) -> "DeleteFile":
        return DeleteFile(d["path"], d["records"], d["bytes"])


#: most entries the metadata-file cache holds. Manifests and manifest
#: lists are IMMUTABLE once written (a new file-set state always gets new
#: files), so evicting one only costs a re-read on its next use.
METADATA_CACHE_SIZE = 256

#: absolute path → parsed manifest (list[DataFile]) or manifest list
#: (dict), least recently used first.
_METADATA_CACHE: OrderedDict[str, object] = OrderedDict()
_METADATA_CACHE_LOCK = threading.Lock()


def _cache_put(path: str, value) -> None:
    with _METADATA_CACHE_LOCK:
        _METADATA_CACHE[path] = value
        _METADATA_CACHE.move_to_end(path)
        while len(_METADATA_CACHE) > METADATA_CACHE_SIZE:
            _METADATA_CACHE.popitem(last=False)


def _cached_json(path: str, parse):
    """``parse(json in path)``, kept in the metadata-file cache."""
    with _METADATA_CACHE_LOCK:
        hit = _METADATA_CACHE.get(path)
        if hit is not None:
            _METADATA_CACHE.move_to_end(path)
            return hit
    with open(path) as fh:
        value = parse(json.load(fh))
    _cache_put(path, value)
    return value


def forget_metadata_file(path: str) -> None:
    """Drop a deleted manifest or manifest list from the cache."""
    with _METADATA_CACHE_LOCK:
        _METADATA_CACHE.pop(path, None)


def _write_metadata_file(location: str, prefix: str, tag: str,
                         doc) -> tuple[str, str]:
    """Write ``doc`` as a new immutable JSON file under metadata/;
    returns (relative path, absolute path)."""
    md = os.path.join(location, "metadata")
    os.makedirs(md, exist_ok=True)
    name = f"{prefix}-{tag}-{uuid.uuid4().hex[:12]}.json"
    path = os.path.join(md, name)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.rename(tmp, path)
    return os.path.join("metadata", name), path


def load_manifest(location: str, rel_path: str) -> list[DataFile]:
    return _cached_json(os.path.join(location, rel_path),
                        lambda d: [DataFile.from_json(f) for f in d])


def write_manifest(location: str, files: list[DataFile], tag: str) -> dict:
    """Persist one immutable manifest (a JSON array of data-file entries)
    under metadata/ and return its manifest-list entry. The entry carries
    counts so metadata-table reads and size rollups never need to open
    the manifest."""
    rel, path = _write_metadata_file(
        location, "manifest", tag, [f.to_json() for f in files])
    _cache_put(path, list(files))
    entry = {
        "path": rel,
        "n_files": len(files),
        "n_records": sum(f.records for f in files),
        "n_bytes": sum(f.bytes for f in files),
    }
    # Per-manifest partition summary (Iceberg's manifest-pruning analog):
    # a partition column appears only when EVERY file carries it and its
    # distinct-value set is small; scan planning can then skip a whole
    # manifest whose summary proves no file matches.
    parts: dict[str, set] = {}
    counts: dict[str, int] = {}
    for f in files:
        for k, v in f.partition.items():
            parts.setdefault(k, set()).add(v)
            counts[k] = counts.get(k, 0) + 1
    psum = {k: sorted(v) for k, v in parts.items()
            if counts[k] == len(files) and len(v) <= 64}
    if psum:
        entry["partitions"] = psum
    # Per-manifest column-bound summary: [min of lowers, max of uppers]
    # for a field id only when EVERY file carries bounds for it (a file
    # with unknown bounds could hold any value, so the manifest range
    # would be unsound). Lets scan planning skip a whole manifest on a
    # non-partition comparison predicate without loading it. Ordering:
    # numeric when every bound string parses as a number (always true
    # for numeric source columns — their canonical bounds are str(int)/
    # str(Decimal)), else lexicographic (string and fixed-width time
    # renderings). Prune-time manifest checks re-derive the same kind
    # before trusting these (Table._manifest_bounds_admit), so the two
    # levels can never disagree on ordering.
    lo_all: dict[str, list[str]] = {}
    hi_all: dict[str, list[str]] = {}
    for f in files:
        for k, v in f.lower.items():
            lo_all.setdefault(k, []).append(v)
        for k, v in f.upper.items():
            hi_all.setdefault(k, []).append(v)
    bounds: dict[str, list[str]] = {}
    for k in sorted(lo_all)[:64]:
        if k not in hi_all or len(lo_all[k]) != len(files) \
                or len(hi_all[k]) != len(files):
            continue
        vals = lo_all[k] + hi_all[k]
        try:
            from decimal import Decimal

            key = Decimal  # exact numeric ordering when everything parses
            for v in vals:
                if Decimal(v).is_nan():
                    raise ValueError(v)
        except Exception:
            def key(v):  # lexicographic fallback
                return v
        bounds[k] = [min(lo_all[k], key=key), max(hi_all[k], key=key)]
    if bounds:
        entry["bounds"] = bounds
    return entry


def write_manifest_list(location: str, manifests: list[dict],
                        added: str | None, removed: list[str],
                        tag: str, changes: dict | None = None) -> str:
    """Persist a snapshot's manifest list: ONE immutable file holding the
    manifest entries (production Iceberg's snapshot → manifest list →
    manifests → data files hierarchy), the path of the commit's delta
    manifest (``added``, None when the commit added no file), the paths
    the commit removed and, for a row-level commit, its change record
    (see ``Snapshot.changes``). Keeps the metadata JSON O(snapshots) no
    matter how many files or manifests a table accumulates."""
    doc = {"manifests": manifests, "added": added, "removed": removed}
    if changes is not None:
        doc["changes"] = changes
    rel, path = _write_metadata_file(location, "manifest-list", tag, doc)
    _cache_put(path, doc)
    return rel


def load_manifest_list(location: str, rel_path: str) -> dict:
    return _cached_json(os.path.join(location, rel_path), lambda d: d)


class Snapshot:
    """One committed table state.

    The metadata JSON stores only the snapshot's header: ids, parent,
    timestamp, operation, schema id, summary, position-delete files and
    the path of its ``manifest_list``. That immutable file holds the
    manifest entries, the commit's delta manifest, its removed paths and
    a row-level commit's change record; the file list loads lazily (and
    cached) on first ``.files`` access.
    Every commit writes one delta manifest for its added files, rewrites
    only the manifests that lose a file and writes one manifest list, so
    commit I/O is O(delta + manifests), never O(total files); see
    Table._plan_manifests.
    """

    def __init__(self, snapshot_id: int, parent_id: int | None,
                 timestamp_ms: int, operation: str, schema_id: int,
                 manifest_list: str, location: str,
                 summary: dict[str, str] | None = None,
                 delete_files: list[DeleteFile] | None = None,
                 files: list[DataFile] | None = None):
        self.snapshot_id = snapshot_id
        self.parent_id = parent_id
        self.timestamp_ms = timestamp_ms
        self.operation = operation
        self.schema_id = schema_id
        self.manifest_list = manifest_list
        self._location = location
        self.summary = dict(summary or {})
        self.delete_files = list(delete_files or [])
        self._files = list(files) if files is not None else None

    def _list(self) -> dict:
        return load_manifest_list(self._location, self.manifest_list)

    @property
    def manifests(self) -> list[dict]:
        return self._list()["manifests"]

    @property
    def files(self) -> list[DataFile]:
        if self._files is None:
            self._files = [
                f for m in self.manifests
                for f in load_manifest(self._location, m["path"])
            ]
        return self._files

    @property
    def added_files(self) -> list[str]:
        added = self._list()["added"]
        return ([f.path for f in load_manifest(self._location, added)]
                if added else [])

    @property
    def removed_files(self) -> list[str]:
        return self._list()["removed"]

    @property
    def n_data_files(self) -> int:
        """File count without forcing a manifest load."""
        if self._files is None:
            return sum(m["n_files"] for m in self.manifests)
        return len(self._files)

    @property
    def changes(self) -> dict | None:
        """The change record of a row-level commit (DELETE, UPDATE, MERGE,
        static overwrite; not a copy-on-write MERGE that rewrote files
        without its cardinality probe), None for every other commit:
        ``{"inserted": [paths], "deleted": [paths]}``. Every row of an
        inserted file is a +1 image and every row of a deleted file a −1
        image, so ``rows(this) − rows(parent) = inserted − deleted`` as
        multisets. Inserted files are data files this commit added. A
        deleted path is either one of this snapshot's position-delete
        files (merge-on-read: the images are its ``row`` column) or a
        data-shaped file of old images that no snapshot lists as table
        data (copy-on-write). Every file is written under this
        snapshot's schema."""
        return self._list().get("changes")

    def change_paths(self) -> set[str]:
        """Relative paths of the files the change record names; they live
        as long as this snapshot."""
        c = self.changes
        return set(c["inserted"]) | set(c["deleted"]) if c else set()

    def metadata_paths(self) -> set[str]:
        """Relative paths of every metadata file this snapshot references:
        its manifest list, its manifests and its delta manifest."""
        doc = self._list()
        out = {self.manifest_list, *(m["path"] for m in doc["manifests"])}
        if doc["added"]:
            out.add(doc["added"])
        return out

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "schema_id": self.schema_id,
            "summary": self.summary,
            "delete_files": [f.to_json() for f in self.delete_files],
            "manifest_list": self.manifest_list,
        }

    @staticmethod
    def from_json(d: dict, location: str) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"],
            d.get("parent_id"),
            d["timestamp_ms"],
            d["operation"],
            d["schema_id"],
            d["manifest_list"],
            location,
            d.get("summary", {}),
            [DeleteFile.from_json(f) for f in d.get("delete_files", [])],
        )


class CommitConflictError(Exception):
    """Another writer committed since this handle loaded the metadata —
    refresh and retry (optimistic concurrency, the hadoop-catalog /
    metastore-CAS behavior)."""


class TableMetadata:
    """Full mutable metadata for one table. Persisted as
    ``metadata/v{N}.metadata.json`` + ``metadata/version-hint.text`` (the
    hadoop-catalog commit protocol: write new version, then swap the hint —
    the hint write is the atomic commit point)."""

    def __init__(self, name: str, location: str):
        self.name = name
        self.location = location
        self.table_uuid = str(uuid.uuid4())
        self.properties: dict[str, str] = {}
        self.schemas: dict[int, list[SchemaField]] = {}
        self.current_schema_id = 0
        self.last_field_id = 0
        self.partition_spec: list[PartitionField] = []
        self.sort_order: list[dict] = []  # [{"col":..., "dir": "asc|desc", "nulls": ...}]
        self.identifier_field_names: list[str] = []  # SET IDENTIFIER FIELDS
        self.snapshots: list[Snapshot] = []
        self.refs: dict[str, dict] = {}  # name -> {"snapshot_id": int, "type": "branch"|"tag"}
        self.metadata_log: list[dict] = []  # [{"timestamp_ms":..., "version": N}]
        self.last_snapshot_id = 0
        self.version = 0

    # -- schema ------------------------------------------------------------

    @property
    def schema(self) -> list[SchemaField]:
        return self.schemas[self.current_schema_id]

    def field_by_name(self, name: str) -> SchemaField:
        for f in self.schema:
            if f.name.lower() == name.lower():
                return f
        raise KeyError(f"no such column: {name} in {self.name}")

    def schema_ddl(self, schema_id: int | None = None) -> str:
        fields = self.schemas[self.current_schema_id if schema_id is None else schema_id]
        return ", ".join(
            f"{f.name} {f.type}{'' if f.nullable else ' NOT NULL'}" for f in fields
        )

    def next_field_id(self) -> int:
        self.last_field_id += 1
        return self.last_field_id

    def new_schema_version(self) -> int:
        """Copy the current schema to a fresh id; callers mutate the copy."""
        new_id = max(self.schemas) + 1
        self.schemas[new_id] = [
            SchemaField(f.field_id, f.name, f.type, f.nullable, f.comment)
            for f in self.schema
        ]
        self.current_schema_id = new_id
        return new_id

    # -- snapshots / refs --------------------------------------------------

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"no snapshot {snapshot_id} in {self.name}")

    def current_snapshot(self, branch: str = MAIN_BRANCH) -> Snapshot | None:
        ref = self.refs.get(branch)
        if ref is None:
            return None
        return self.snapshot_by_id(ref["snapshot_id"])

    def snapshot_as_of_timestamp(self, ts_ms: int, branch: str = MAIN_BRANCH) -> Snapshot:
        best: Snapshot | None = None
        for s in self.ancestors(branch):
            if s.timestamp_ms <= ts_ms and (best is None or s.timestamp_ms > best.timestamp_ms):
                best = s
        if best is None:
            raise ValueError(f"no snapshot at or before timestamp {ts_ms} in {self.name}")
        return best

    def ancestors(self, ref_or_id: str | int = MAIN_BRANCH) -> list[Snapshot]:
        """Snapshot chain from the given ref/id back to the root (newest first)."""
        if isinstance(ref_or_id, int):
            head: int | None = ref_or_id
        else:
            ref = self.refs.get(ref_or_id)
            head = ref["snapshot_id"] if ref else None
        out = []
        while head is not None:
            s = self.snapshot_by_id(head)
            out.append(s)
            head = s.parent_id
        return out

    def next_snapshot_id(self) -> int:
        self.last_snapshot_id += 1
        return self.last_snapshot_id

    def resolve_ref(self, name: str) -> Snapshot:
        if name not in self.refs:
            raise KeyError(f"no such ref: {name} on {self.name}")
        return self.snapshot_by_id(self.refs[name]["snapshot_id"])

    # -- persistence -------------------------------------------------------

    def to_json(self) -> dict:
        return {
            "format_version": 1,
            "table_uuid": self.table_uuid,
            "name": self.name,
            "location": self.location,
            "properties": self.properties,
            "schemas": {str(k): [f.to_json() for f in v] for k, v in self.schemas.items()},
            "current_schema_id": self.current_schema_id,
            "last_field_id": self.last_field_id,
            "partition_spec": [p.to_json() for p in self.partition_spec],
            "sort_order": self.sort_order,
            "identifier_field_names": self.identifier_field_names,
            "snapshots": [s.to_json() for s in self.snapshots],
            "refs": self.refs,
            "metadata_log": self.metadata_log,
            "last_snapshot_id": self.last_snapshot_id,
            "version": self.version,
        }

    @staticmethod
    def from_json(d: dict) -> "TableMetadata":
        m = TableMetadata(d["name"], d["location"])
        m.table_uuid = d["table_uuid"]
        m.properties = dict(d.get("properties", {}))
        m.schemas = {
            int(k): [SchemaField.from_json(f) for f in v] for k, v in d["schemas"].items()
        }
        m.current_schema_id = d["current_schema_id"]
        m.last_field_id = d["last_field_id"]
        m.partition_spec = [PartitionField.from_json(p) for p in d.get("partition_spec", [])]
        m.sort_order = d.get("sort_order", [])
        m.identifier_field_names = d.get("identifier_field_names", [])
        m.snapshots = [Snapshot.from_json(s, location=m.location)
                       for s in d.get("snapshots", [])]
        m.refs = dict(d.get("refs", {}))
        m.metadata_log = list(d.get("metadata_log", []))
        m.last_snapshot_id = d.get("last_snapshot_id", 0)
        m.version = d.get("version", 0)
        return m

    # commit protocol ------------------------------------------------------

    def metadata_dir(self) -> str:
        return os.path.join(self.location, "metadata")

    def save(self) -> None:
        """Write v{N+1}.metadata.json then atomically swap version-hint.text.

        Optimistic concurrency (the hadoop-catalog CAS discipline):

        1. Fast path: if the on-disk hint already moved past the version
           this handle loaded, raise CommitConflictError without writing.
        2. True CAS: the fully-written metadata is hard-linked into place
           as v{N+1}.metadata.json — ``os.link`` is create-exclusive, so
           exactly ONE concurrent writer can own version N+1; every loser
           gets FileExistsError → CommitConflictError, even inside the
           check-then-swap window the hint alone can't close.
        3. The hint swap after the CAS is advisory: if the winner crashes
           before it, ``load`` recovers by scanning for the max on-disk
           version (the complete v-file IS the commit, as in Iceberg's
           HadoopTableOperations version scan).

        Same-filesystem writers (threads/processes on one warehouse) are
        therefore safe; an object-store deployment swaps step 2 for the
        store's conditional PUT.
        """
        md = self.metadata_dir()
        hint_path = os.path.join(md, "version-hint.text")
        if os.path.exists(hint_path):
            with open(hint_path) as fh:
                on_disk = int(fh.read().strip() or 0)
            # strictly greater: a LOWER hint just means a slower winner's
            # advisory hint write landed late — the link CAS below is
            # authoritative, so a regressed hint must not wedge commits
            if on_disk > self.version:
                raise CommitConflictError(
                    f"{self.name}: metadata version moved {self.version} -> "
                    f"{on_disk} since load; refresh() and retry"
                )
        self.version += 1
        self.metadata_log.append({"timestamp_ms": now_ms(), "version": self.version})
        os.makedirs(md, exist_ok=True)
        path = os.path.join(md, f"v{self.version}.metadata.json")
        tmp = f"{path}.{os.getpid()}.{id(self)}.tmp"
        with open(tmp, "w") as fh:
            json.dump(self.to_json(), fh, separators=(",", ":"))
        try:
            os.link(tmp, path)  # atomic create-exclusive: the real CAS
        except FileExistsError:
            self.version -= 1
            self.metadata_log.pop()
            raise CommitConflictError(
                f"{self.name}: lost the commit race for version "
                f"{self.version + 1}; refresh() and retry"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        hint_tmp = f"{hint_path}.{os.getpid()}.{id(self)}.tmp"
        with open(hint_tmp, "w") as fh:
            fh.write(str(self.version))
        os.rename(hint_tmp, hint_path)

    @staticmethod
    def load(location: str, version: int | None = None) -> "TableMetadata":
        md = os.path.join(location, "metadata")
        if version is None:
            with open(os.path.join(md, "version-hint.text")) as fh:
                version = int(fh.read().strip())
            # the hint is advisory (see save): a winner that crashed (or a
            # slow writer whose hint landed late) can leave it behind the
            # newest committed v-file — recover by scanning, the
            # HadoopTableOperations discipline
            pat = re.compile(r"^v(\d+)\.metadata\.json$")
            for name in os.listdir(md):
                m = pat.match(name)
                if m:
                    version = max(version, int(m.group(1)))
        with open(os.path.join(md, f"v{version}.metadata.json")) as fh:
            return TableMetadata.from_json(json.load(fh))


def now_ms() -> int:
    return int(time.time() * 1000)
