"""MV catalog: name → (query, backing table, refresh metadata).

The reference keeps this in a process-local ConcurrentHashMap and documents
that production needs a persistent metastore
(MaterializedViewCatalog.scala:32-35); we fix that: the catalog persists as
JSON in the warehouse and reloads on engine start. Names are
case-insensitive, like the plugin's (lowercase-keyed map).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field, fields


@dataclass
class MaterializedView:
    name: str
    query: str
    backing_table: str
    last_refresh_ts: int
    storage_format: str = "parquet"
    storage_location: str = ""
    row_count: int = -1
    size_in_bytes: int = -1
    # incremental-maintenance sync point: defining-query table ref →
    # [catalog table, synchronized snapshot id] for EVERY base table of an
    # enrolled view, single-table or join ({} when the query isn't
    # incrementally maintainable)
    source_snapshots: dict = field(default_factory=dict)


#: the keys a persisted view may carry; others (an older catalog's retired
#: single-table sync fields) are dropped on load — such a view has an empty
#: sync map, so its next refresh is a full recompute that records it again
_FIELDS = {f.name for f in fields(MaterializedView)}


class MVCatalog:
    def __init__(self, path: str):
        self.path = path
        self._views: dict[str, MaterializedView] = {}
        self._load()

    def _load(self) -> None:
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self._views = {
                    k: MaterializedView(
                        **{f: x for f, x in v.items() if f in _FIELDS})
                    for k, v in json.load(fh).items()
                }

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({k: asdict(v) for k, v in self._views.items()}, fh, indent=1)
        os.rename(tmp, self.path)

    def register(self, mv: MaterializedView) -> None:
        key = mv.name.lower()
        if key in self._views:
            raise ValueError(f"Materialized view {mv.name} already exists")
        self._views[key] = mv
        self._save()

    def drop(self, name: str) -> MaterializedView:
        key = name.lower()
        if key not in self._views:
            raise ValueError(f"Materialized view {name} does not exist")
        mv = self._views.pop(key)
        self._save()
        return mv

    def get(self, name: str) -> MaterializedView | None:
        return self._views.get(name.lower())

    def exists(self, name: str) -> bool:
        return name.lower() in self._views

    def list_all(self) -> list[MaterializedView]:
        return [self._views[k] for k in sorted(self._views)]

    def update(self, mv: MaterializedView) -> None:
        self._views[mv.name.lower()] = mv
        self._save()

    def clear(self) -> None:
        self._views.clear()
        self._save()
