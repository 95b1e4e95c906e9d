"""Per-user scratch root for deterministic cached artifacts.

Several operators persist derived layouts (bucketed copies, IVF inverted
lists, staged streaming sources) under fixed, predictable names so bench
reps measure the QUERY rather than setup. Fixed names directly under the
world-writable system temp dir are a squat risk on a multi-user host: a
stale or attacker-pre-created directory with a ``_SUCCESS`` marker would
be silently trusted. All such paths therefore live under a per-user
subdirectory created 0o700, whose ownership is verified on every reuse.

The module also holds the process's one bounded relation cache
(``RELATION_CACHE_SIZE`` entries, least recently used evicted): source
table schemas (:func:`source_parquet`) and index artifact handles and
rows (:func:`cached_parquet`, :func:`cached_parquet_first`), each keyed
by application, path and a fingerprint of the file version it came from.
"""

from __future__ import annotations

import os
import stat
import tempfile
import threading
from collections import OrderedDict


def scratch_dir() -> str:
    """The calling user's private scratch root (created on first use).

    Raises ``RuntimeError`` rather than reusing a directory someone else
    owns or that permits group/other access — never silently trust
    pre-existing state in a shared temp dir.
    """
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = os.path.join(tempfile.gettempdir(), f"glacier-{uid}")
    try:
        os.mkdir(root, mode=0o700)
    except FileExistsError:
        st = os.lstat(root)
        if not stat.S_ISDIR(st.st_mode):
            raise RuntimeError(f"scratch path {root} is not a directory")
        if hasattr(os, "getuid") and st.st_uid != uid:
            raise RuntimeError(
                f"scratch dir {root} is owned by uid {st.st_uid}, not "
                f"{uid} — refusing to reuse")
        if st.st_mode & 0o077:
            os.chmod(root, 0o700)
    return root


def scratch_path(name: str) -> str:
    """A named artifact path under the verified per-user scratch root."""
    return os.path.join(scratch_dir(), name)


_MANIFEST = "_SOURCE_MANIFEST.json"


def _source_fingerprint(sf_dir: str, tables: tuple[str, ...]) -> dict:
    """(mtime_ns, size) of each source parquet a cached index derives
    from — the cheap staleness fingerprint (testdata is single parquet
    files; a regenerated file cannot keep both identical)."""
    out = {}
    for t in tables:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        out[t] = {"mtime_ns": st.st_mtime_ns, "size": st.st_size}
    return out


def index_current(path: str, sf_dir: str, tables: tuple[str, ...]) -> bool:
    """True iff the persisted index at ``path`` carries a source
    manifest matching the CURRENT source files. A persisted index keyed
    only by the sf-dir tag silently serves stale results when testdata
    is regenerated in place — the manifest makes that a rebuild instead
    (leading-underscore filename, so Spark's parquet reader ignores it
    inside table directories)."""
    import json

    try:
        with open(os.path.join(path, _MANIFEST)) as fh:
            return json.load(fh) == _source_fingerprint(sf_dir, tables)
    except (OSError, ValueError):
        return False


def write_index_manifest(path: str, sf_dir: str,
                         tables: tuple[str, ...]) -> None:
    """Record the source fingerprint — call LAST, after every index
    artifact is fully written, so a crashed build reads as stale."""
    import json

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, _MANIFEST), "w") as fh:
        json.dump(_source_fingerprint(sf_dir, tables), fh)


#: most entries the relation cache holds. Every entry is metadata — a
#: schema, a DataFrame handle or one Row — so the bound caps this
#: process's memory, never what an action scans.
RELATION_CACHE_SIZE = 128

#: (kind, application id, absolute path) → (fingerprint, value), least
#: recently used first. One entry per key, so storing a path's new
#: fingerprint replaces the entry of its old one.
_RELATIONS: OrderedDict[tuple[str, str, str], tuple[object, object]] = \
    OrderedDict()
_RELATIONS_LOCK = threading.Lock()


def _cached(kind: str, spark, path: str, fingerprint, make):
    """``make()``, kept in the relation cache under (kind, application,
    absolute path) for as long as the path's ``fingerprint`` holds."""
    key = (kind, spark.sparkContext.applicationId, os.path.abspath(path))
    with _RELATIONS_LOCK:
        hit = _RELATIONS.get(key)
        if hit is not None and hit[0] == fingerprint:
            _RELATIONS.move_to_end(key)
            return hit[1]
    value = make()
    with _RELATIONS_LOCK:
        _RELATIONS[key] = (fingerprint, value)
        _RELATIONS.move_to_end(key)
        while len(_RELATIONS) > RELATION_CACHE_SIZE:
            _RELATIONS.popitem(last=False)
    return value


def source_parquet(spark, path: str):
    """A fresh relation over the parquet file at ``path``, with its
    schema inferred once per file version.

    ``spark.read.parquet`` runs one Spark job per call to infer the
    schema from the parquet footer; for the small source tables that job
    costs more than the query. The schema is cached per (application,
    path, (mtime_ns, size)), so a file rewritten in place is re-inferred.
    Only the schema is cached: every call builds a new relation and lists
    the file again, and every action scans the data. Handing out one
    shared DataFrame instead would make two loads of the same table share
    attribute ids, so a self-join of them would be ambiguous. A path that
    is not a regular file (a table directory) is read uncached."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    schema = _cached("schema", spark, path, (st.st_mtime_ns, st.st_size),
                     lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


def _manifest_mtime(root: str) -> int | None:
    try:
        return os.stat(os.path.join(root, _MANIFEST)).st_mtime_ns
    except OSError:
        return None


def cached_parquet(spark, root: str, name: str):
    """A DataFrame handle for one artifact of a manifest-guarded index,
    cached per (application, path, manifest mtime).

    ``spark.read.parquet`` re-reads parquet footers on the DRIVER to
    infer the schema every time the relation is created; a gate that
    re-creates its state relations per repetition pays ~0.1 s of pure
    metadata I/O per artifact (~0.8 s per incremental-curation rep at
    8 artifacts — measured). A production session reads a table's
    schema from the catalog once; this cache is the path-based
    equivalent. Only the schema and file listing are pinned — every
    action still scans the parquet data, so nothing here caches
    RESULTS across runs. Staleness keys on the index's source-manifest
    mtime (the file written LAST by every builder), so a rebuilt index
    gets a fresh relation; an artifact without a manifest is read
    uncached."""
    full = os.path.join(root, name)
    mtime = _manifest_mtime(root)
    if mtime is None:
        return spark.read.parquet(full)
    return _cached("handle", spark, full, mtime,
                   lambda: spark.read.parquet(full))


def cached_parquet_first(spark, root: str, name: str):
    """First row of a 1-row metadata artifact (index geometry and the
    like) of a manifest-guarded index, cached with cached_parquet's
    staleness key. The read is bounded by construction (these artifacts
    are written coalesce(1) with a handful of scalars); caching the row
    saves one driver job per gate repetition without caching anything
    data-sized."""
    full = os.path.join(root, name)
    mtime = _manifest_mtime(root)
    if mtime is None:
        return spark.read.parquet(full).first()
    return _cached("first", spark, full, mtime,
                   lambda: cached_parquet(spark, root, name).first())
