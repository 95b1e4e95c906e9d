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

import pytest
from pyspark.sql import functions as F

from iceberg_demo_spark.engine import Engine


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


def test_randomized_predicate_prune_equivalence(engine):
    """Property sweep: for ~120 generated conjunctive predicates over a
    mixed-type table (ints, strings incl. numeric-looking, dates,
    timestamps, doubles, NULLs), a pruned scan must return exactly the
    rows a full-scan filter returns. Any unsound bound comparison,
    literal coercion, or strictness mistake shows up here."""
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
