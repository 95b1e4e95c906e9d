"""Run every registered gate outside the benchmark: check it against its
DuckDB oracle and record its per-gate job profile.

Each gate runs on Spark under its own job group (the gate name); its
oracle runs on DuckDB over the same parquet files. The comparison is
``perfbench.harness.compare``, the one the benchmark checks with: columns
matched by name, row counts equal, values equal as order-insensitive
TYPED rows (DuckDB is read through Arrow, so a HUGEINT ``SUM(<int>)``
arrives as ``Decimal`` and fails against a Spark BIGINT, as it does in
the CORRECTNESS gate's value hash; floats compare exactly, so gates round
in-query).

Usage:

    python tools/check_oracles.py [sf_dir] [name_filter ...]
    python tools/check_oracles.py [sf_dir] --window          # driver's first-50
    python tools/check_oracles.py [sf_dir] --emit OUT.json   # artifact mode

``--emit`` writes one entry per checked gate:

* ``status`` (pass | fail | rows), ``rows`` and ``secs`` (Spark plus
  oracle) -- ORACLES_LOCAL_r{N}.json, the record of the full local run
  that the 50-gate CORRECTNESS window can't cover;
* the job profile of the Spark side, i.e. the gate's build + ``collect()``:
  ``wall_s``; ``jobs``, ``stages``, ``tasks``, ``sql_execs`` and
  ``busy_s`` (the union of its jobs' intervals) from
  ``perfbench.trace.spark_op_stats``; ``outside_s`` = ``wall_s - busy_s``;
  ``shuffle_read_bytes`` and ``shuffle_write_bytes``;
* ``exchanges`` and ``exchange_keys``: the shuffle exchanges of the
  collected frame's executed plan (AQE's final plan where the plan is
  adaptive) with their hash/range partitioning keys. A checkpoint-backed
  frame shows none: the shuffles that built it ran before its plan, and
  show only in ``stages`` and the shuffle bytes.

Jobs a gate submits from threads that do not inherit its job group
(streaming queries run under their own) fall outside its profile.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_demo_spark import registry
from iceberg_demo_spark.cache import release_pins
from iceberg_demo_spark.session import get_spark
from iceberg_demo_spark.sources import TPCH_TABLES
from perfbench.harness import compare, duck_rows
from perfbench.trace import spark_op_stats

registry.load_all()

_PART_START = re.compile(r"Arguments: (hashpartitioning|rangepartitioning)\(")
_EXCHANGE = re.compile(r"(?:\+- |:- |^)Exchange \((\d+)\)", re.MULTILINE)


def _balanced_args(s: str, start: int) -> str:
    """The argument list starting just past an opening paren, respecting
    nesting (a non-greedy [^)]*? stopped at the first ')' inside keys like
    hashpartitioning(coalesce(a, b), 200), mis-parsing the key)."""
    depth, i = 1, start
    while i < len(s) and depth:
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
        i += 1
    return s[start:i - 1]


def _audit(plan: str) -> tuple[int, list[str]]:
    """Shuffle exchanges of a formatted plan and their partitioning keys,
    in plan order with column ids stripped; of an adaptive plan, only the
    final plan's (the initial plan repeats every exchange)."""
    tree = plan.split("\n\n")[0].split("+- == Initial Plan ==")[0]
    ids = _EXCHANGE.findall(tree)
    keys = []
    for node in ids:
        detail = re.search(rf"^\({node}\) Exchange\n(.*?)(?:\n\n|\Z)", plan,
                           re.MULTILINE | re.DOTALL)
        m = _PART_START.search(detail.group(1)) if detail else None
        if m is None:
            continue
        cols = _balanced_args(detail.group(1), m.end())
        cols = re.sub(r",\s*\d+$", "", cols)  # trailing partition count
        cols = re.sub(r"#\d+L?", "", cols)
        keys.append(f"{m.group(1).replace('partitioning', '')}({cols})")
    return len(ids), keys


def _profile(spark, name: str, t0: float, t1: float, sdf) -> dict:
    """The job profile of one gate's Spark side, run in [t0, t1] under job
    group ``name``; ``sdf`` is its collected frame, or None."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    st = spark_op_stats(spark, {name}, [(t0, t1)])
    wall, busy = t1 - t0, st.get("spark.busy_s", 0.0)
    out = {"wall_s": round(wall, 3), "busy_s": round(busy, 3),
           "outside_s": round(wall - busy, 3)}
    for k in ("jobs", "stages", "tasks", "sql_execs",
              "shuffle_read_bytes", "shuffle_write_bytes"):
        out[k] = int(st.get(f"spark.{k}", 0))
    if sdf is not None:
        plan = spark._jvm.PythonSQLUtils.explainString(
            sdf._jdf.queryExecution(), "formatted")
        out["exchanges"], out["exchange_keys"] = _audit(plan)
    return out


def main() -> int:
    args = sys.argv[1:]
    emit_path = None
    if "--emit" in args:
        i = args.index("--emit")
        emit_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    name_filter = args[1:]
    if name_filter == ["--window"]:
        # the CORRECTNESS window: exactly the first 50 gates of the
        # stalest-first order registry.load_all derives
        name_filter = list(registry.QUERIES)[:50]

    spark = get_spark("check_oracles")
    sc = spark.sparkContext
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    results: dict[str, dict] = {}
    names = [n for n in registry.QUERIES
             if not name_filter or any(f in n for f in name_filter)]
    for name in names:
        release_pins()  # previous gate's residue must not color this one
        sc.setJobGroup(name, name, False)
        t0 = time.time()
        sdf = error = None
        try:
            sdf = registry.QUERIES[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            sdf, srows, error = None, [], f"spark error: {e}"
        t1 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        oracle = registry.ORACLES.get(name)
        if error is None and oracle is not None:
            try:
                error = compare(scols, srows, *duck_rows(con, oracle))
            except Exception as e:  # noqa: BLE001
                error = f"duckdb error: {e}"
        if error:
            status = "fail"
            print(f"FAIL {name}: {error}")
            failures.append(name)
        elif oracle is None:
            status = "rows"
            print(f"ROWS {name}: {len(srows)} rows (no oracle) [{t1 - t0:.1f}s]")
            if not srows:
                print(f"WARN {name}: rows-only query returned 0 rows")
        else:
            status = "pass"
            print(f"PASS {name}: {len(srows)} rows [{t1 - t0:.1f}s]")
        results[name] = {"status": status, "rows": len(srows),
                         "secs": round(time.time() - t0, 2),
                         **_profile(spark, name, t0, t1, sdf)}

    if emit_path:
        with open(emit_path, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
        print(f"wrote {emit_path} ({len(results)} entries)")

    print()
    print(f"{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
