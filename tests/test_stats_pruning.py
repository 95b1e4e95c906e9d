"""Per-file column min/max stats (round 6).

The write path harvests lower/upper bounds + null counts per column from
the parquet FOOTER (no data read) into each manifest entry, keyed by
field id (rename-stable) — the reference's ``lower_bounds`` /
``upper_bounds`` manifest fields (docs/spark-queries.md:320-326), which
SURVEY §4.2 identifies as the min/max file-skipping lever. Driver-side
planning then skips files (and, via per-manifest bound rollups, whole
manifests) on NON-partition comparison predicates.
"""

from __future__ import annotations

import dataclasses
import datetime as dt

import pytest
from pyspark.sql import functions as F

from iceberg_demo_spark.engine import Engine
from iceberg_demo_spark.tables.table import Table


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


@pytest.fixture()
def table(engine):
    """3 files with disjoint id/v/ts/d ranges (coalesce(1) per append)."""
    t = engine.catalog.create_table(
        "db.st", "id bigint, v string, ts timestamp, d date, f double")
    for lo, hi in [(0, 10), (100, 110), (200, 210)]:
        t.append(engine.spark.sql(
            f"SELECT id, concat('v', lpad(cast(id AS string), 4, '0')) AS v, "
            f"TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,cast(id AS int),0,0) AS ts, "
            f"date_add(DATE'2024-01-01', cast(id AS int)) AS d, "
            f"cast(id AS double) AS f "
            f"FROM range({lo}, {hi})").coalesce(1))
    return t


def test_bounds_harvested_per_file(table):
    files = table._branch_files("main")
    assert len(files) == 3
    by_lo = sorted(files, key=lambda f: int(f.lower["1"]))
    assert [f.lower["1"] for f in by_lo] == ["0", "100", "200"]
    assert [f.upper["1"] for f in by_lo] == ["9", "109", "209"]
    assert by_lo[0].lower["2"] == "v0000" and by_lo[0].upper["2"] == "v0009"
    assert by_lo[0].lower["4"] == "2024-01-01"
    assert all(f.nulls.get("1") == 0 for f in files)
    # ts canonical = UTC epoch micros
    assert by_lo[0].lower["3"] == str(1704067200 * 10**6)
    # float column deliberately has NO bounds (NaN unsoundness)
    fid_f = str(next(f.field_id for f in table.metadata.schema
                     if f.name == "f"))
    assert all(fid_f not in f.lower for f in files)


@pytest.mark.parametrize("cond,kept,rows", [
    ("id >= 200", 1, 10),
    ("id > 109", 1, 10),
    ("id BETWEEN 100 AND 105", 1, 6),
    ("id = 50", 0, 0),
    ("id IN (5, 105)", 2, 2),
    ("v = 'v0205'", 1, 1),
    ("v >= 'v0200'", 1, 10),
    ("d < '2024-01-05'", 1, 4),
    ("ts >= '2024-01-09 00:00:00'", 1, 10),
    ("f > 150", 3, 10),       # no float bounds → all files kept
    ("id >= 100 AND v < 'v0200'", 1, 10),
])
def test_file_skipping_and_correctness(table, cond, kept, rows):
    files = table._branch_files("main")
    assert len(table._prune_files(files, cond)) == kept
    assert table.scan(where=cond).count() == rows


def test_files_metadata_exposes_bounds(table):
    df = table.files_df()
    for col in ("lower_bounds", "upper_bounds", "null_value_counts"):
        assert col in df.columns
    r = df.orderBy("file_path").limit(1).collect()[0]
    assert r["lower_bounds"][1] in ("0", "100", "200")
    assert r["null_value_counts"][1] == 0


def test_rename_keeps_stats_effective(engine, table):
    """Bounds are keyed by field id: after RENAME COLUMN the old files'
    stats still prune under the NEW name."""
    table.rename_column("id", "ident")
    files = table._branch_files("main")
    assert len(table._prune_files(files, "ident >= 200")) == 1
    assert table.scan(where="ident >= 200").count() == 10


def test_all_null_column_prunes(engine):
    t = engine.catalog.create_table("db.nulls", "id bigint, x bigint")
    t.append(engine.spark.sql(
        "SELECT id, cast(NULL AS bigint) AS x FROM range(0, 5)").coalesce(1))
    t.append(engine.spark.sql(
        "SELECT id + 10 AS id, id AS x FROM range(0, 5)").coalesce(1))
    files = t._branch_files("main")
    # x = 2 can only match the second file; the all-NULL file is skipped
    # via its null count (bounds for an all-null chunk don't exist)
    assert len(t._prune_files(files, "x = 2")) == 1
    assert t.scan(where="x = 2").count() == 1


def test_dml_delete_uses_stats_pruning(table):
    """A DELETE whose predicate excludes two files rewrites only the
    matching file — the other two survive untouched (same paths)."""
    before = {f.path for f in table._branch_files("main")}
    table.delete_where("id >= 200")
    after = {f.path for f in table._branch_files("main")}
    assert len(after) == 2 and after < before
    assert table.scan().count() == 20


def test_string_truncation_upper_bound_still_sound(engine):
    long_a = "a" * 100
    long_z = "z" * 100
    t = engine.catalog.create_table("db.longstr", "id bigint, s string")
    t.append(engine.spark.createDataFrame(
        [(0, long_a), (1, long_z)], "id bigint, s string").coalesce(1))
    f = t._branch_files("main")[0]
    fid = str(next(x.field_id for x in t.metadata.schema if x.name == "s"))
    assert len(f.lower[fid]) <= 64
    assert f.upper[fid] >= long_a  # truncated+incremented stays an upper bound
    assert f.upper[fid] > long_z[:64] or f.upper[fid] >= long_z
    # predicate inside the range keeps the file; a literal just past the
    # truncated bound ('z'*101 < 'z'*63+'{') must ALSO keep it — the
    # increment makes the bound conservative, not exact; only a literal
    # provably above the stored bound prunes
    assert len(t._prune_files([f], "s >= 'b'")) == 1
    assert len(t._prune_files([f], f"s > '{'z' * 101}'")) == 1
    assert len(t._prune_files([f], "s >= '~'")) == 0
    assert t.scan(where="s >= 'b'").count() == 1


def test_manifest_level_bounds_skipping(engine):
    """A multi-manifest table skips whole manifests whose bound summary
    excludes the predicate — without loading them."""
    from iceberg_demo_spark.tables import format as fmt

    t = engine.catalog.create_table("db.spill", "id bigint, v string")
    for lo, hi in [(0, 10), (100, 110), (200, 210)]:
        t.append(engine.spark.sql(
            f"SELECT id, concat('v', id) AS v FROM range({lo}, {hi})"
        ).coalesce(1))
    snap = t.metadata.current_snapshot()
    assert snap.manifests, "expected a manifest-backed snapshot"
    assert any("bounds" in m for m in snap.manifests)
    # force lazy state, then count which manifests a pruned plan loads
    snap._files = None
    loaded = []
    orig = fmt.load_manifest

    def spy(location, rel_path):
        loaded.append(rel_path)
        return orig(location, rel_path)

    try:
        fmt.load_manifest = spy
        files = t._pruned_snapshot_files(snap, "id >= 200")
    finally:
        fmt.load_manifest = orig
    assert {f.path for f in files} == {
        f.path for f in t._branch_files("main") if int(f.lower["1"]) >= 200}
    # only the admitted manifest(s) were opened, not all three
    assert 0 < len(set(loaded)) < len(snap.manifests)
    assert t.scan(where="id >= 200").count() == 10


def test_stats_survive_dml_equivalence(engine):
    """Randomized-ish CoW DML sequence on a stats-bearing table matches
    a plain DataFrame replay (bounds must never drop live rows)."""
    t = engine.catalog.create_table("db.eq", "id bigint, g string, x bigint")
    df = engine.spark.sql(
        "SELECT id, concat('g', id % 3) AS g, id * 2 AS x FROM range(0, 60)")
    t.append(df.coalesce(4))
    t.delete_where("x >= 80")
    t.update_where({"x": "x + 1"}, "id BETWEEN 10 AND 20")
    t.delete_where("g = 'g1' AND id < 9")
    import pandas as pd

    pdf = df.toPandas()
    pdf = pdf[~(pdf.x >= 80)]
    sel = (pdf.id >= 10) & (pdf.id <= 20)
    pdf.loc[sel, "x"] = pdf.loc[sel, "x"] + 1
    pdf = pdf[~((pdf.g == "g1") & (pdf.id < 9))]
    got = {tuple(r) for r in t.scan().select("id", "g", "x").collect()}
    want = {tuple(r) for r in pdf.itertuples(index=False)}
    assert got == want


def test_files_readable_metrics(table):
    r = (table.files_df().filter("content = 0")
         .orderBy("file_path").limit(1).collect()[0])
    rm = r["readable_metrics"]
    assert set(rm) >= {"id", "v", "ts", "d"}
    assert rm["id"]["lower_bound"] in ("0", "100", "200")
    assert rm["id"]["null_value_count"] == 0
    assert rm["d"]["upper_bound"].startswith("2024-")


# -- predicate analysis and partition pruning -------------------------------

def test_top_level_or_edge_cases():
    """A depth-0 OR makes every AND-piece conditional: nothing prunes. An
    OR inside parentheses or inside a quoted literal is no such OR."""
    assert Table._conjuncts("a = 1 OR b = 2") == []
    assert Table._conjuncts("(a = 1 OR b = 2) AND c = 3") == [
        ("c", "eq", [("3", False)])]
    assert Table._conjuncts("cat = 'x or y'") == [
        ("cat", "eq", [("x or y", True)])]  # quoted literal
    assert Table._conjuncts("a = 1 AND b = 2") == [
        ("a", "eq", [("1", False)]), ("b", "eq", [("2", False)])]
    assert Table._conjuncts("(a = 1) OR (b = 2)") == []


def test_empty_transform_result_keeps_all_files(engine, monkeypatch):
    t = engine.catalog.create_table(
        "db.emptyp", "id bigint, cat string", partition_by=[("cat",)])
    t.append(engine.spark.createDataFrame(
        [(0, "x"), (1, "y")], schema=t.schema()))
    files = t._branch_files("main")
    monkeypatch.setattr(type(t), "_eval_transform",
                        lambda self, p, vals: set())
    # the empty transform result must impose NO partition constraint
    # (an empty value set would prune every file); column-stats
    # pruning is checked separately and stripped here
    parts, _stats = t._prune_cons("cat = 'x'")
    assert parts == {}
    blind = [dataclasses.replace(f, lower={}, upper={}, nulls={})
             for f in files]
    assert t._prune_files(blind, "cat = 'x'") == blind


def test_time_transform_values_compare_as_tuples():
    def admits(value, op, bound, kind):
        return Table._value_admits(
            value, [(op, [Table._domain(kind, bound)], kind)])

    # 5-digit year must NOT sort before '9999'
    assert admits("10000", "ge", "9999", "years")
    assert not admits("9998", "ge", "9999", "years")
    assert admits("2024-03", "ge", "2023-12", "months")
    assert not admits("2023-11", "ge", "2023-12", "months")
    assert admits("2024-01-02-03", "le", "2024-01-02-04", "hours")
    # shape mismatch can't prove a violation — keep
    assert admits("2024", "le", "2023-12", "months")
    # numeric + plain string kinds unchanged
    assert admits("10", "ge", "9", "num")
    assert not admits("10", "ge", "9", "str")


def test_time_partition_range_prune_still_correct(engine):
    """End-to-end: a months-partitioned table pruned with a range
    predicate returns exactly the right rows."""
    t = engine.catalog.create_table(
        "db.tm", "id bigint, ts timestamp",
        partition_by=[("ts", "month")])
    t.append(engine.spark.sql(
        "SELECT * FROM VALUES (1, TIMESTAMP'2023-11-05 00:00:00'), "
        "(2, TIMESTAMP'2023-12-15 00:00:00'), "
        "(3, TIMESTAMP'2024-03-20 00:00:00') AS v(id, ts)"))
    got = t.scan(where="ts >= '2023-12-01 00:00:00'").collect()
    assert {r["id"] for r in got} == {2, 3}
    pruned = t._prune_files(t._branch_files("main"),
                            "ts >= '2023-12-01 00:00:00'")
    assert len(pruned) == 2


@pytest.fixture()
def tz_la(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    yield
    spark.conf.set("spark.sql.session.timeZone", old)


def test_ntz_prune_ignores_session_timezone(engine, tz_la):
    """One file whose NTZ values match the predicate must be KEPT under a
    non-UTC session zone (routing NTZ literals through the session zone
    pruned it)."""
    t = engine.catalog.create_table("db.ntz", "id bigint, ts timestamp_ntz")
    t.append(engine.spark.sql(
        "SELECT id, TIMESTAMP_NTZ'2024-06-01 12:00:00' + "
        "make_interval(0,0,0,0,cast(id AS int),0,0) AS ts "
        "FROM range(0, 5)").coalesce(1))
    files = t._branch_files("main")
    assert len(files) == 1
    # wall-clock bounds: 2024-06-01T12:00 .. T16:00 as tz-free micros
    fid = str(next(f.field_id for f in t.metadata.schema if f.name == "ts"))
    lo = int(files[0].lower[fid])
    want = int((dt.datetime(2024, 6, 1, 12) - dt.datetime(1970, 1, 1))
               .total_seconds()) * 10**6
    assert lo == want
    # matching predicate keeps the file and rows agree with Spark's filter
    cond = "ts >= '2024-06-01 12:00:00'"
    assert len(t._prune_files(files, cond)) == 1
    assert t.scan(where=cond).count() == 5
    # a provably-out-of-range predicate still prunes (soundness kept,
    # not just disabled)
    assert len(t._prune_files(files, "ts > '2024-06-01 17:00:00'")) == 0
    assert t.scan(where="ts > '2024-06-01 17:00:00'").count() == 0


def test_ntz_offset_literal_never_proves(engine):
    # an offset literal vs an NTZ column is not provably comparable —
    # no pruning on that conjunct
    lit = Table._literal.__get__(object.__new__(Table))
    assert lit("tsntz", "2024-06-01 12:00:00+02:00", True) is None
    assert lit("tsntz", "2024-06-01 12:00:00", True) == int(
        (dt.datetime(2024, 6, 1, 12) - dt.datetime(1970, 1, 1))
        .total_seconds()) * 10**6


def test_between_inside_string_literal_is_not_rewritten(engine):
    """BETWEEN is rewritten to two comparisons only outside quoted
    literals: a string value that reads 'x between 1 and 2' stays one
    equality literal and keeps the file holding it."""
    t = engine.catalog.create_table("db.btw", "id bigint, s string")
    t.append(engine.spark.createDataFrame(
        [(1, "x between 1 and 2")], "id bigint, s string").coalesce(1))
    cond = "s = 'x between 1 and 2'"
    assert Table._conjuncts(cond) == [
        ("s", "eq", [("x between 1 and 2", True)])]
    assert len(t._prune_files(t._branch_files("main"), cond)) == 1
    assert t.scan(where=cond).count() == 1


def test_nan_partition_value_is_never_pruned(engine):
    """Spark orders NaN above every number, so a NaN partition of a double
    column satisfies ``x >= 5``; its value proves nothing and is kept."""
    t = engine.catalog.create_table("db.nanp", "id bigint, x double",
                                    partition_by=[("x",)])
    t.append(engine.spark.sql("SELECT 1 AS id, cast('NaN' AS double) AS x "
                              "UNION ALL SELECT 2, 1.0"))
    assert t.scan(where="x >= 5").count() == 1
    assert len(t._prune_files(t._branch_files("main"), "x >= 5")) == 1


def test_randomized_predicate_prune_equivalence(engine):
    """Property sweep: for ~120 generated conjunctive predicates over a
    mixed-type table (ints, strings incl. numeric-looking, dates,
    timestamps, doubles, NULLs), a pruned scan must return exactly the
    rows a full-scan filter returns. Any unsound bound comparison,
    literal coercion, or strictness mistake shows up here.

    Pruning power is pinned too: every predicate keeps exactly the
    recorded number of files, on this table and on a table partitioned
    by identity, ``days``, ``bucket[4]`` and ``truncate[2]`` (there
    also with column stats stripped, which isolates partition pruning).
    A constraint kind that stops pruning, or starts pruning more,
    changes a count."""
    import itertools
    import random

    rng = random.Random(20260814)
    t = engine.catalog.create_table(
        "db.rand", "id bigint, code string, word string, d date, "
        "ts timestamp, x double")
    for lo, hi in [(0, 40), (40, 80), (80, 120), (120, 160)]:
        t.append(engine.spark.sql(f"""
            SELECT id,
                   CASE WHEN id % 7 = 0 THEN NULL
                        ELSE cast(id % 25 AS string) END AS code,
                   concat('w', lpad(cast(id % 13 AS string), 3, '0')) AS word,
                   date_add(DATE'2023-06-01', cast(id % 50 AS int)) AS d,
                   TIMESTAMP'2023-06-01 00:00:00'
                     + make_interval(0,0,0,0,0,cast(id * 37 AS int),0) AS ts,
                   CASE WHEN id % 11 = 0 THEN cast('NaN' AS double)
                        ELSE id * 1.5 END AS x
            FROM range({lo}, {hi})""").coalesce(2))
    full = t.scan()
    full.createOrReplaceTempView("rand_full")
    n_total = full.count()
    assert n_total == 160

    cols = {
        "id": ["0", "39", "40", "77", "119", "160", "-1"],
        "code": ["'5'", "'05'", "'10'", "'24'", "5", "24"],
        "word": ["'w000'", "'w006'", "'w012'", "'w999'"],
        "d": ["'2023-06-01'", "'2023-06-25'", "'2023-07-20'", "'2024-01-01'"],
        "ts": ["'2023-06-01 00:00:00'", "'2023-06-02 12:00:00'",
               "'2023-06-05 00:00:00'"],
        "x": ["0", "60", "178.5", "239"],
    }
    ops = ["=", ">", ">=", "<", "<="]
    atoms = [f"{c} {op} {lit}"
             for c, lits in cols.items()
             for op, lit in itertools.product(ops, lits)]
    atoms += [
        "id IN (3, 44, 120)", "code IN ('5', '10')", "word IN ('w001')",
        "id BETWEEN 35 AND 45", "d BETWEEN '2023-06-10' AND '2023-06-20'",
    ]
    preds = [rng.choice(atoms) for _ in range(60)]
    preds += [f"{rng.choice(atoms)} AND {rng.choice(atoms)}"
              for _ in range(60)]
    # OR forms: pruning must bail conservatively, results stay exact
    preds += [f"{rng.choice(atoms)} OR {rng.choice(atoms)}"
              for _ in range(20)]
    preds += [f"({rng.choice(atoms)} OR {rng.choice(atoms)}) AND "
              f"{rng.choice(atoms)}" for _ in range(20)]
    def norm(rows):
        # NaN != NaN would false-flag rows that match exactly
        return sorted(
            tuple("NaN" if isinstance(v, float) and v != v else v
                  for v in r)
            for r in rows)

    mismatches = []
    for cond in preds:
        got = norm(t.scan(where=cond).collect())
        exp = norm(engine.spark.sql(
            f"SELECT * FROM rand_full WHERE {cond}").collect())
        if got != exp:
            mismatches.append((cond, len(got), len(exp)))
    assert not mismatches, mismatches[:5]
    files = t._branch_files("main")
    assert [len(t._prune_files(files, c)) for c in preds] == _UNPART_KEPT

    pt = engine.catalog.create_table(
        "db.randp", "id bigint, cat string, ts timestamp, word string, "
        "v bigint", partition_by=[("cat",), ("ts", "days"),
                                  ("id", "bucket[4]"),
                                  ("word", "truncate[2]")])
    for lo, hi in [(0, 32), (32, 64)]:
        pt.append(engine.spark.sql(f"""
            SELECT id,
                   CASE WHEN id % 10 = 0 THEN NULL
                        ELSE cast(id % 3 AS string) END AS cat,
                   TIMESTAMP'2023-06-01 00:00:00'
                     + make_interval(0,0,0,0,0,cast(id * 90 AS int),0) AS ts,
                   concat('w', lpad(cast(id % 17 AS string), 2, '0')) AS word,
                   id * 7 % 50 AS v
            FROM range({lo}, {hi})"""))
    pcols = {
        "id": ["0", "17", "31", "32", "63", "64", "-1"],
        "cat": ["'0'", "'2'", "'02'", "'9'", "2", "10"],
        "ts": ["'2023-06-01 00:00:00'", "'2023-06-02 06:00:00'",
               "'2023-06-03 23:59:59'", "'2023-06-05 00:00:00'"],
        "word": ["'w00'", "'w07'", "'w1'", "'w16'", "'w2'"],
        "v": ["0", "25", "49"],
    }
    patoms = [f"{c} {op} {lit}"
              for c, lits in pcols.items()
              for op, lit in itertools.product(ops, lits)]
    patoms += [
        "id IN (3, 40)", "cat IN ('1', '2')", "cat IN ('1', 2)",
        "word IN ('w03', 'w15')", "ts IN ('2023-06-02 03:00:00')",
        "v IN (7, 14)", "id BETWEEN 10 AND 20", "id NOT BETWEEN 5 AND 60",
        "ts BETWEEN '2023-06-02 00:00:00' AND '2023-06-02 12:00:00'",
        "word BETWEEN 'w05' AND 'w12'",
    ]
    prng = random.Random(20261019)
    ppreds = [prng.choice(patoms) for _ in range(40)]
    ppreds += [f"{prng.choice(patoms)} AND {prng.choice(patoms)}"
               for _ in range(50)]
    ppreds += [f"{prng.choice(patoms)} OR {prng.choice(patoms)}"
               for _ in range(5)]
    ppreds += [f"({prng.choice(patoms)} OR {prng.choice(patoms)}) AND "
               f"{prng.choice(patoms)}" for _ in range(5)]
    pfiles = pt._branch_files("main")
    blind = [dataclasses.replace(f, lower={}, upper={}, nulls={})
             for f in pfiles]
    kept = [{f.path for f in pt._prune_files(pfiles, c)} for c in ppreds]
    counts = [(len(k), len(pt._prune_files(blind, c)))
              for k, c in zip(kept, ppreds)]
    assert counts == _PART_KEPT
    # sound: every file holding a matching row is kept
    hits = pt.scan(with_file_col=True).groupBy("_g_file").agg(*[
        F.max(F.coalesce(F.expr(c), F.lit(False)).cast("int")).alias(f"p{i}")
        for i, c in enumerate(ppreds)]).collect()
    unsound = [c for i, (c, k) in enumerate(zip(ppreds, kept))
               if not {r["_g_file"] for r in hits if r[f"p{i}"]} <= k]
    assert not unsound, unsound[:5]
    # the manifest-summary skip never changes the kept set
    snap = pt.metadata.current_snapshot()
    assert [{f.path for f in pt._pruned_snapshot_files(snap, c)}
            for c in ppreds] == kept


#: kept-file counts of the generated predicates above, in generation
#: order; a change to pruning power, up or down, re-records them on purpose
_UNPART_KEPT = [
    3, 8, 6, 0, 8, 7, 1, 8, 3, 8, 8, 8, 5, 8, 0, 1, 8, 8, 8, 7, 1, 7, 8, 0, 8,
    6, 8, 0, 5, 6, 1, 2, 3, 8, 2, 4, 2, 2, 4, 8, 0, 1, 7, 6, 8, 8, 8, 8, 1, 3,
    8, 8, 0, 5, 2, 0, 7, 3, 6, 8, 2, 0, 8, 0, 0, 0, 8, 0, 8, 6, 2, 0, 8, 1, 4,
    5, 0, 6, 3, 0, 4, 1, 8, 0, 6, 8, 0, 8, 4, 1, 4, 8, 8, 2, 1, 7, 8, 8, 6, 8,
    8, 6, 0, 8, 6, 2, 8, 6, 0, 0, 2, 1, 7, 8, 6, 1, 0, 8, 8, 6, 8, 8, 8, 8, 8,
    8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 8, 0, 8, 1, 6, 5, 8, 0,
    8, 4, 1, 0, 0, 8, 8, 8, 8, 1
]
_PART_KEPT = [
    (20, 30), (30, 60), (37, 53), (30, 60), (42, 45), (0, 0), (59, 60),
    (0, 0), (18, 18), (1, 14), (16, 30), (2, 60), (59, 60), (60, 60),
    (0, 60), (60, 60), (3, 23), (60, 60), (60, 60), (0, 60), (60, 60),
    (53, 60), (57, 60), (4, 37), (0, 14), (4, 37), (0, 0), (53, 60),
    (59, 60), (0, 0), (30, 60), (0, 0), (1, 12), (57, 60), (44, 44),
    (2, 34), (0, 0), (0, 15), (44, 44), (60, 60), (0, 60), (18, 35),
    (27, 53), (21, 53), (0, 0), (39, 39), (9, 18), (0, 0), (0, 15),
    (0, 14), (0, 23), (8, 15), (5, 60), (0, 0), (0, 23), (1, 15),
    (0, 15), (0, 7), (0, 5), (0, 60), (0, 30), (0, 15), (0, 0),
    (29, 60), (0, 8), (60, 60), (0, 14), (35, 53), (0, 14), (0, 0),
    (0, 0), (19, 30), (53, 53), (0, 7), (16, 23), (19, 42), (0, 12),
    (57, 60), (23, 23), (0, 0), (0, 0), (0, 60), (30, 60), (1, 60),
    (0, 0), (22, 60), (37, 60), (31, 60), (0, 23), (0, 7), (60, 60),
    (60, 60), (60, 60), (60, 60), (60, 60), (4, 37), (53, 53), (60, 60),
    (31, 60), (30, 60),
]
