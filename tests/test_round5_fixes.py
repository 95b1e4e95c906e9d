"""Round-5 ADVICE regressions.

high — mv/manager.py left-join MV guards only matched ``table.``-qualified
references while parse_select leaves bare columns unqualified, so an MV
like ``SELECT zone, ... FROM fact LEFT JOIN dim ... GROUP BY zone`` (zone
from the nullable side, unqualified) enrolled for incremental refresh with
null_tables empty: dimension-side deltas never probed the NULL-extended
group and left silently-stale rows. Enrollment now resolves every bare
group-by/WHERE identifier against the base tables' schemas and refuses
when one belongs to — or is not provably outside — a nullable table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_demo_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


ROWS = [("east", "w", 100.0), ("east", "g", 200.0),
        ("west", "w", 50.0), ("north", "w", 10.0)]


def _setup(engine):
    """dim lacks 'north' → north facts live in the NULL-extended group."""
    t = engine.catalog.create_table(
        "db.sales", "region string, product string, amount double")
    t.append(engine.spark.createDataFrame(ROWS, schema=t.schema()))
    engine.register("db.sales")
    d = engine.catalog.create_table("db.dim", "region string, zone string")
    d.append(engine.spark.createDataFrame(
        [("east", "z1"), ("west", "z2")], "region string, zone string"))
    engine.register("db.dim")
    return t, d


def _mv_rows(engine, name):
    return {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get(name)).collect()}


def test_unqualified_nullable_group_key_refuses_enrollment(engine):
    """The exact ADVICE scenario: bare ``zone`` belongs to the left-joined
    (nullable) dim — the MV must NOT enroll for join-incremental refresh."""
    _setup(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW uq_mv AS "
        "SELECT zone, count(*) AS n FROM db_sales s "
        "LEFT JOIN db_dim d ON s.region = d.region GROUP BY zone")
    assert not engine.mv_catalog.get("uq_mv").source_snapshots


def test_unqualified_nullable_group_key_stays_correct_via_full_refresh(engine):
    """Dimension-side delta on the refused MV: REFRESH INCREMENTAL falls
    back to full recompute and the NULL-extended group is maintained —
    before the fix this left a stale NULL-group row."""
    t, d = _setup(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW uq_mv AS "
        "SELECT zone, count(*) AS n FROM db_sales s "
        "LEFT JOIN db_dim d ON s.region = d.region GROUP BY zone")
    d.append(engine.spark.createDataFrame(
        [("north", "z9")], "region string, zone string"))
    engine.sql("REFRESH MATERIALIZED VIEW uq_mv INCREMENTAL")
    got = _mv_rows(engine, "uq_mv")
    expected = {
        tuple(r)
        for r in t.scan().alias("s")
        .join(d.scan().alias("d"), F.col("s.region") == F.col("d.region"),
              "left")
        .groupBy("zone").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected
    assert ("z9", 1) in got
    assert not any(z is None for z, _n in got)  # NULL group emptied


def test_unqualified_where_on_nullable_side_refuses_enrollment(engine):
    _setup(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW uqw_mv AS "
        "SELECT d.zone, count(*) AS n FROM db_sales s "
        "LEFT JOIN db_dim d ON s.region = d.region "
        "WHERE zone IS NOT NULL GROUP BY d.zone")
    assert not engine.mv_catalog.get("uqw_mv").source_snapshots


def test_unqualified_fact_owned_key_still_enrolls(engine, monkeypatch):
    """Positive control: a bare column provably owned by the preserved
    (non-nullable) side keeps incremental enrollment — the guard must not
    over-refuse."""
    t, d = _setup(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW uqf_mv AS "
        "SELECT product, count(*) AS n, sum(s.amount) AS total "
        "FROM db_sales s LEFT JOIN db_dim d ON s.region = d.region "
        "GROUP BY product")
    mv = engine.mv_catalog.get("uqf_mv")
    assert set(mv.source_snapshots) == {"db_sales", "db_dim"}
    t.append(engine.spark.createDataFrame(
        [("south", "q", 7.0)], schema=t.schema()))

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("uqf_mv", incremental=True)
    got = _mv_rows(engine, "uqf_mv")
    expected = {
        tuple(r)
        for r in t.scan().alias("s")
        .join(d.scan().alias("d"), F.col("s.region") == F.col("d.region"),
              "left")
        .groupBy("product").agg(F.count(F.lit(1)).alias("n"),
                                F.sum("amount").alias("total")).collect()
    }
    assert got == expected
    assert ("q", 1, 7.0) in got


# -- low: engine._bind_catalog_refs rewrote non-relational FROMs ------------

def test_bind_refs_skips_extract_from(engine):
    """extract(epoch FROM x): the operand collides with a catalog table
    name but must NOT be rebound to a temp view."""
    t = engine.catalog.create_table("x", "a bigint")
    t.append(engine.spark.createDataFrame([(1,)], "a bigint"))
    got = engine.sql(
        "SELECT extract(year FROM x) AS y FROM (SELECT DATE'2020-03-04' AS x)"
    ).collect()
    assert got[0]["y"] == 2020


def test_bind_refs_skips_substring_and_trim_from(engine):
    t = engine.catalog.create_table("s", "a bigint")
    t.append(engine.spark.createDataFrame([(1,)], "a bigint"))
    got = engine.sql(
        "SELECT substring(s FROM 2 FOR 2) AS mid, "
        "trim(BOTH 'd' FROM s) AS trimmed "
        "FROM (SELECT 'abcd' AS s)").collect()
    assert got[0]["mid"] == "bc"
    assert got[0]["trimmed"] == "abc"


def test_bind_refs_skips_comments_but_still_binds_real_tables(engine):
    t = engine.catalog.create_table("db.ct", "a bigint")
    t.append(engine.spark.createDataFrame([(7,)], "a bigint"))
    got = engine.sql(
        "SELECT a -- not really FROM db.ct here\n"
        "FROM db.ct").collect()
    assert [r["a"] for r in got] == [7]


# -- stretch: MV rewrite must provably SKIP cube/window/percentile shapes ---

@pytest.fixture()
def tempting_mv(engine):
    """An MV whose groups/aggs look answerable for naive matching: any
    mis-rewrite of the richer shapes below would silently return it."""
    t = engine.catalog.create_table(
        "db.li", "flag string, status string, qty double")
    t.append(engine.spark.createDataFrame(
        [("A", "F", 1.0), ("A", "O", 2.0), ("R", "F", 3.0), ("R", "F", 4.0)],
        schema=t.schema()))
    engine.register("db.li")
    engine.sql(
        "CREATE MATERIALIZED VIEW li_mv AS "
        "SELECT flag, status, sum(qty) AS s, count(*) AS n "
        "FROM db_li GROUP BY flag, status")
    return engine


def test_rewriter_skips_cube_query(tempting_mv):
    engine = tempting_mv
    sql = ("SELECT flag, status, sum(qty) AS s "
           "FROM db_li GROUP BY CUBE (flag, status)")
    assert engine.rewriter.try_rewrite(sql) is None
    got = {tuple(r) for r in engine.sql(sql).collect()}
    exp = {tuple(r) for r in engine.spark.sql(sql).collect()}
    assert got == exp
    assert len(got) == 8  # 3 detail + 2 per-flag + 2 per-status + 1 grand


def test_rewriter_skips_window_ntile_query(tempting_mv):
    engine = tempting_mv
    sql = ("SELECT flag, qty, ntile(2) OVER (ORDER BY qty, flag) AS t "
           "FROM db_li")
    assert engine.rewriter.try_rewrite(sql) is None
    got = {tuple(r) for r in engine.sql(sql).collect()}
    exp = {tuple(r) for r in engine.spark.sql(sql).collect()}
    assert got == exp


def test_rewriter_skips_row_number_over_groups(tempting_mv):
    engine = tempting_mv
    sql = ("SELECT flag, status, "
           "row_number() OVER (PARTITION BY flag ORDER BY qty) AS rn "
           "FROM db_li")
    assert engine.rewriter.try_rewrite(sql) is None


def test_rewriter_skips_percentile_query(tempting_mv):
    engine = tempting_mv
    sql = "SELECT flag, percentile(qty, 0.5) AS p FROM db_li GROUP BY flag"
    assert engine.rewriter.try_rewrite(sql) is None
    got = {tuple(r) for r in engine.sql(sql).collect()}
    exp = {tuple(r) for r in engine.spark.sql(sql).collect()}
    assert got == exp


def test_rewriter_still_rewrites_the_plain_aggregate(tempting_mv):
    """Positive control: the exact-group aggregate DOES rewrite to li_mv."""
    engine = tempting_mv
    res = engine.rewriter.try_rewrite(
        "SELECT flag, status, sum(qty) AS s, count(*) AS n "
        "FROM db_li GROUP BY flag, status")
    assert res is not None and res.mv_name == "li_mv"


# -- round-5 self-review fixes ----------------------------------------------

def test_sql_prune_where_does_not_prune_subquery_tables(engine):
    """The outer WHERE must not prune a table referenced only inside a
    subquery — its rows are not constrained by that predicate."""
    ev = engine.catalog.create_table(
        "db.ev", "user_id bigint, ds string", partition_by=[("ds",)])
    ev.append(engine.spark.createDataFrame(
        [(1, "d1"), (2, "d1"), (3, "d2")], schema=ev.schema()))
    fl = engine.catalog.create_table(
        "db.flagged", "user_id bigint, ds string", partition_by=[("ds",)])
    # the flagged row lives in a DIFFERENT partition than the outer filter
    fl.append(engine.spark.createDataFrame(
        [(1, "d9")], schema=fl.schema()))
    got = engine.sql(
        "SELECT user_id FROM db.ev WHERE ds = 'd1' AND user_id IN "
        "(SELECT user_id FROM db.flagged)").collect()
    assert [r["user_id"] for r in got] == [1]


def test_pruning_bails_on_top_level_or(engine):
    """'a OR b AND c' has no unconditional conjuncts — pruning must keep
    every file (the AND-piece is conditional on the OR branch)."""
    t = engine.catalog.create_table(
        "db.orp", "id bigint, cat string, st string",
        partition_by=[("cat",)])
    t.append(engine.spark.createDataFrame(
        [(0, "x", "open"), (1, "y", "open"), (2, "z", "closed")],
        schema=t.schema()))
    got = t.scan(where="st = 'open' OR cat = 'z'").collect()
    assert {r["id"] for r in got} == {0, 1, 2}
    # DELETE with a disjunction must remove BOTH branches' rows
    t.delete_where("st = 'closed' OR cat = 'x'")
    assert {r["id"] for r in t.scan().collect()} == {1}
    # parenthesized OR under a top-level AND still prunes via the other
    # conjunct — and stays correct
    got = t.scan(where="cat = 'y' AND (st = 'open' OR st = 'closed')")
    assert {r["id"] for r in got.collect()} == {1}


def test_pruning_skips_string_column_vs_numeric_literal(engine):
    """`stringcol > 5` coerces the COLUMN numerically in SQL; a
    lexicographic prune would drop the '10' partition."""
    t = engine.catalog.create_table(
        "db.strp", "id bigint, code string", partition_by=[("code",)])
    t.append(engine.spark.createDataFrame(
        [(0, "2"), (1, "5"), (2, "10")], schema=t.schema()))
    got = t.scan(where="code > 5").collect()
    assert {r["id"] for r in got} == {2}  # only '10' > 5 numerically
    got = t.scan(where="code = 5").collect()
    assert {r["id"] for r in got} == {1}


def test_pruning_canonicalizes_numeric_literal_spelling(engine):
    """'5.0' against a bigint identity partition must match the directory
    value '5' (typed-cast canonicalization, not string equality)."""
    t = engine.catalog.create_table(
        "db.nump", "id bigint, b bigint", partition_by=[("b",)])
    t.append(engine.spark.createDataFrame(
        [(0, 5), (1, 7)], schema=t.schema()))
    got = t.scan(where="b = 5.0").collect()
    assert {r["id"] for r in got} == {0}


def test_rfm_survives_single_shuffle_partition(engine):
    """shuffle.partitions=1 → no quantile cuts → one range partition;
    the gate must still run and stay correct."""
    from iceberg_demo_spark import registry

    registry.load_all()
    spark = engine.spark
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        df = registry.QUERIES["orders_rfm_segments"](
            spark, "/root/testdata/sf0.001")
        rows = df.collect()
        assert sum(r["n_customers"] for r in rows) > 0
        assert all(1 <= r["r_q"] <= 4 for r in rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_scan_where_accepts_column_predicate(engine):
    t = engine.catalog.create_table(
        "db.colw", "id bigint, cat string", partition_by=[("cat",)])
    t.append(engine.spark.createDataFrame(
        [(0, "x"), (1, "y")], schema=t.schema()))
    got = t.scan(where=F.col("cat") == "x").collect()
    assert [r["id"] for r in got] == [0]
