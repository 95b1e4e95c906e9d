"""Query registry — the single source of truth for the driver contract.

Every implemented operator registers a named query builder and (when
SQL-expressible) a DuckDB oracle. ``__spark_entry__.py`` re-exports these.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def oracle_cte_body(sql: str) -> str:
    """A registered oracle SELECT as a nestable CTE body.

    An inner WITH is legal in both engines; a trailing ORDER BY is not, so
    strip it — but only when the tail after the LAST ``ORDER BY`` is a pure
    ordering list (identifiers/commas/ASC/DESC/NULLS FIRST|LAST/LIMIT n).
    Composed-audit gates (dedup_minhash_recall, sim_ann_recall) nest other
    gates' oracles through this; a window-function ORDER BY or any other
    non-trailing match must NOT be cut mid-query, so anything unrecognized
    raises instead of silently corrupting the composed oracle.
    """
    # case-insensitive: a lowercase/mixed-case trailing ORDER BY must get
    # the same strip-or-refuse treatment, never silently pass through
    matches = list(re.finditer(r"(?i)ORDER\s+BY", sql))
    if not matches:
        return sql
    head, tail = sql[:matches[-1].start()], sql[matches[-1].end():]
    if re.fullmatch(
            r"(?is)\s*[\w.\"]+(\s+(asc|desc))?(\s+nulls\s+(first|last))?"
            r"(\s*,\s*[\w.\"]+(\s+(asc|desc))?(\s+nulls\s+(first|last))?)*"
            r"\s*", tail):
        return head
    raise ValueError(
        "oracle_cte_body: last ORDER BY is not a pure trailing ordering "
        "clause (window ORDER BY, LIMIT, or other tail?); refusing to cut "
        "mid-query: ..." + sql[-120:])


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; ``oracle`` is equivalent DuckDB SQL.

    Omit ``oracle`` for non-SQL-expressible operators (the driver then runs a
    weaker rows-only check).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def freshness_ledger(root: str | None = None) -> tuple[dict[str, int], int]:
    """Per-gate last fully-green driver round, from the
    ``CORRECTNESS_r{N}.json`` artifacts in ``root`` (default: the repo).

    Returns ``(ledger, current_round)``; ``current_round`` is the round in
    flight (latest artifact + 1). A row counts only when rows, schema and
    hash-or-values all match. An unreadable artifact is skipped, so a bad
    file can never break registration.
    """
    root = root or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ledger: dict[str, int] = {}
    latest = 0
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        latest = max(latest, rnd)
        for name, row in rows.items():
            if (isinstance(row, dict) and row.get("rows_match")
                    and row.get("schema_match")
                    and (row.get("hash_match") or row.get("values_match"))):
                ledger[name] = max(ledger.get(name, 0), rnd)
    return ledger, latest + 1


def stalest_first(names: list[str], root: str | None = None) -> list[str]:
    """``names`` stable-sorted by last green driver round: never-verified
    gates (round 0) first, ties in the given order."""
    ledger, _ = freshness_ledger(root)
    return sorted(names, key=lambda n: ledger.get(n, 0))


def load_all() -> None:
    """Import every operator module so registration side effects run, then
    order the registry stalest-first.

    The driver's CORRECTNESS window is the first 50 gates in registry
    order, so deriving that order from the CORRECTNESS artifacts on disk
    rotates the window by itself: each round it re-checks the gates whose
    last green driver row is oldest, never-verified gates first. With no
    artifacts the order is registration (import) order.
    """
    from iceberg_demo_spark.operators import (  # noqa: F401
        table_ops,
        temporal,
        skew,
        layout,
        sampling,
        similarity,
        multimodal,
        text,
        analytics,
        curation,
        dedup,
        relational,
        tpch_partsupp,
        graph,
        sketches,
    )

    for name in stalest_first(list(QUERIES)):
        QUERIES[name] = QUERIES.pop(name)
        if name in ORACLES:
            ORACLES[name] = ORACLES.pop(name)
