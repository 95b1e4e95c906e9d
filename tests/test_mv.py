"""MV subsystem tests — ports the behavior coverage of the reference's
MaterializedViewSuite / AggregateRewriteSuite / JoinRewriteSuite (~50 Scala
tests) to pytest. Dual assertion style like the reference
(AggregateRewriteSuite.scala:108-133): (a) the rewrite fired (plan uses the
backing table), (b) numeric results equal the unrewritten query's."""

from __future__ import annotations

import pytest

from iceberg_demo_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    spark.createDataFrame(
        [
            ("east", "widget", 1000.0), ("east", "gadget", 2000.0),
            ("east", "widget", 150.0), ("west", "widget", 500.0),
            ("west", "gadget", 700.0), ("north", "widget", 300.0),
        ],
        "region string, product string, amount double",
    ).createOrReplaceTempView("sales")
    spark.createDataFrame(
        [(1, 101, 50.0), (2, 101, 70.0), (3, 102, 20.0), (4, 103, 90.0)],
        "id bigint, customer_id bigint, amount double",
    ).createOrReplaceTempView("orders")
    spark.createDataFrame(
        [(101, "alice", "east"), (102, "bob", "west"), (103, "carol", "east")],
        "id bigint, name string, region string",
    ).createOrReplaceTempView("customers")
    return eng


def _assert_same(engine, query, expect_mv=None, expect_kind=None):
    """Run through the engine (rewrite on) and raw Spark (no rewrite);
    results must match. Returns the rewrite result (or None)."""
    got = {tuple(r) for r in engine.sql(query).collect()}
    raw = {tuple(r) for r in engine.spark.sql(query).collect()}
    assert got == raw, f"rewrite changed results for: {query}\n{got}\nvs {raw}"
    if expect_mv is not None:
        assert engine.last_rewrite is not None, f"expected rewrite for: {query}"
        assert engine.last_rewrite.mv_name == expect_mv
        if expect_kind:
            assert engine.last_rewrite.kind == expect_kind
    return engine.last_rewrite


# -- lifecycle (MaterializedViewSuite) -------------------------------------

def test_create_show_drop(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_sales AS SELECT region, SUM(amount) AS total FROM sales GROUP BY region")
    rows = engine.sql("SHOW MATERIALIZED VIEWS").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["name"] == "mv_sales"
    assert r["backing_table"].startswith("mv.mv_backing_")
    assert r["row_count"] == 3
    assert r["size_in_bytes"] > 0
    assert len(rows[0]) == 8  # the reference's 8-column SHOW schema
    engine.sql("DROP MATERIALIZED VIEW mv_sales")
    assert engine.sql("SHOW MATERIALIZED VIEWS").count() == 0


def test_duplicate_create_and_missing_drop_errors(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv1 AS SELECT region FROM sales")
    with pytest.raises(ValueError, match="already exists"):
        engine.sql("CREATE MATERIALIZED VIEW mv1 AS SELECT region FROM sales")
    engine.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS mv1 AS SELECT region FROM sales")
    with pytest.raises(ValueError, match="does not exist"):
        engine.sql("DROP MATERIALIZED VIEW nope")
    engine.sql("DROP MATERIALIZED VIEW IF EXISTS nope")


def test_case_insensitive_names(engine):
    engine.sql("CREATE MATERIALIZED VIEW MyView AS SELECT region FROM sales")
    assert engine.mv_catalog.exists("myview")
    assert engine.mv_catalog.exists("MYVIEW")
    engine.sql("DROP MATERIALIZED VIEW MYVIEW")
    assert not engine.mv_catalog.exists("myview")


def test_refresh_updates_metadata(engine, spark):
    engine.sql("CREATE MATERIALIZED VIEW mvr AS SELECT region, SUM(amount) AS total FROM sales GROUP BY region")
    before = engine.mv_catalog.get("mvr")
    rc, ts = before.row_count, before.last_refresh_ts
    spark.createDataFrame(
        [("east", "widget", 1.0), ("south", "widget", 2.0)],
        "region string, product string, amount double",
    ).createOrReplaceTempView("sales")
    engine.sql("REFRESH MATERIALIZED VIEW mvr")
    after = engine.mv_catalog.get("mvr")
    assert after.row_count == 2 and rc == 3
    assert after.last_refresh_ts >= ts
    # rewritten query now reflects refreshed data
    rows = dict(engine.sql("SELECT region, SUM(amount) AS total FROM sales GROUP BY region").collect())
    assert rows == {"east": 1.0, "south": 2.0}


def test_refresh_incremental_falls_back_to_full(engine):
    engine.sql("CREATE MATERIALIZED VIEW mvi AS SELECT region FROM sales")
    engine.sql("REFRESH MATERIALIZED VIEW mvi INCREMENTAL")  # accepted, full recompute
    assert engine.mv_catalog.get("mvi").row_count == 6


def test_catalog_persists_across_engine_restarts(engine, spark):
    engine.sql("CREATE MATERIALIZED VIEW mvp AS SELECT region FROM sales")
    wh = engine.catalog.warehouse
    eng2 = Engine(spark, wh)
    assert eng2.mv_catalog.exists("mvp")
    eng2.sql("SELECT region FROM sales")
    assert eng2.last_rewrite is not None  # rewrite works after reload


# -- exact + projection rewrites -------------------------------------------

def test_exact_match_rewrite(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_exact AS SELECT region, SUM(amount) AS total FROM sales GROUP BY region")
    _assert_same(engine,
                 "SELECT region, SUM(amount) AS total FROM sales GROUP BY region",
                 expect_mv="mv_exact")


def test_column_subset_projection(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_proj AS SELECT region, product, amount FROM sales")
    _assert_same(engine, "SELECT region, amount FROM sales",
                 expect_mv="mv_proj", expect_kind="project")


def test_predicate_compensation_on_projection(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_p AS SELECT region, product, amount FROM sales WHERE amount > 100")
    _assert_same(engine,
                 "SELECT region, amount FROM sales WHERE amount > 100 AND region = 'east'",
                 expect_mv="mv_p", expect_kind="project")


def test_mv_more_restrictive_no_rewrite(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_r AS SELECT region, product, amount FROM sales WHERE amount > 500")
    res = _assert_same(engine, "SELECT region, amount FROM sales")
    assert res is None  # MV filters more than the query ⇒ must not rewrite


# -- aggregate rewrites (AggregateRewriteSuite) ----------------------------

def test_aggregate_exact_groupby(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_a AS SELECT region, SUM(amount) AS total, COUNT(*) AS cnt FROM sales GROUP BY region")
    res = _assert_same(engine,
                       "SELECT region, SUM(amount) AS total FROM sales GROUP BY region",
                       expect_mv="mv_a")
    rows = dict(engine.sql("SELECT region, SUM(amount) AS total FROM sales GROUP BY region").collect())
    assert rows["east"] == 3150.0  # hand-computed, reference style


def test_rollup_reaggregation(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_ru AS SELECT region, product, SUM(amount) AS total, COUNT(*) AS cnt FROM sales GROUP BY region, product")
    res = _assert_same(engine,
                       "SELECT region, SUM(amount) AS total, COUNT(*) AS cnt FROM sales GROUP BY region",
                       expect_mv="mv_ru", expect_kind="rollup")
    rows = {r["region"]: (r["total"], r["cnt"])
            for r in engine.sql("SELECT region, SUM(amount) AS total, COUNT(*) AS cnt FROM sales GROUP BY region").collect()}
    assert rows["east"] == (3150.0, 3)  # COUNT rolled up via SUM


def test_avg_derivation_from_sum_count(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_avg AS SELECT region, SUM(amount) AS s, COUNT(amount) AS c FROM sales GROUP BY region")
    _assert_same(engine,
                 "SELECT region, AVG(amount) AS a FROM sales GROUP BY region",
                 expect_mv="mv_avg")


def test_rollup_with_predicate_compensation(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_rp AS SELECT region, product, SUM(amount) AS total FROM sales GROUP BY region, product")
    _assert_same(engine,
                 "SELECT region, SUM(amount) AS total FROM sales WHERE product = 'widget' GROUP BY region",
                 expect_mv="mv_rp", expect_kind="rollup")


def test_rollup_compensation_keeps_mixed_case_literals(engine, spark):
    spark.createDataFrame(
        [("1-URGENT", "F", 10.0), ("2-HIGH", "O", 5.0),
         ("3-MEDIUM", "F", 1.0), ("1-URGENT", "O", 2.0)],
        "prio string, status string, price double",
    ).createOrReplaceTempView("prio_orders")
    engine.sql("CREATE MATERIALIZED VIEW mv_prio AS SELECT prio, status, SUM(price) AS total FROM prio_orders GROUP BY prio, status")
    q = ("SELECT prio, SUM(price) AS total FROM prio_orders "
         "WHERE prio IN ('1-URGENT', '2-HIGH') GROUP BY prio")
    _assert_same(engine, q, expect_mv="mv_prio", expect_kind="rollup")
    assert {tuple(r) for r in engine.sql(q).collect()} == {
        ("1-URGENT", 12.0), ("2-HIGH", 5.0)}


def test_groupby_mismatch_no_rewrite(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_g AS SELECT region, SUM(amount) AS total FROM sales GROUP BY region")
    res = _assert_same(engine, "SELECT product, SUM(amount) AS total FROM sales GROUP BY product")
    assert res is None  # query groups by a column the MV doesn't retain


def test_different_base_table_no_rewrite(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_t AS SELECT region, SUM(amount) AS total FROM sales GROUP BY region")
    res = _assert_same(engine, "SELECT region, SUM(amount) AS total FROM customers JOIN orders ON customers.id = orders.customer_id GROUP BY region")
    assert res is None


def test_min_max_rollup(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_mm AS SELECT region, product, MIN(amount) AS lo, MAX(amount) AS hi FROM sales GROUP BY region, product")
    _assert_same(engine,
                 "SELECT region, MIN(amount) AS lo, MAX(amount) AS hi FROM sales GROUP BY region",
                 expect_mv="mv_mm", expect_kind="rollup")


# -- join rewrites (JoinRewriteSuite) --------------------------------------

def test_join_exact_rewrite(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_j AS SELECT o.id AS oid, c.name AS cname, o.amount AS amt FROM orders o INNER JOIN customers c ON o.customer_id = c.id")
    _assert_same(engine,
                 "SELECT o.id AS oid, c.name AS cname, o.amount AS amt FROM orders o INNER JOIN customers c ON o.customer_id = c.id",
                 expect_mv="mv_j")


def test_join_with_aggregate_rollup(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_ja AS SELECT c.region AS region, c.name AS name, SUM(o.amount) AS total FROM orders o JOIN customers c ON o.customer_id = c.id GROUP BY c.region, c.name")
    _assert_same(engine,
                 "SELECT c.region AS region, SUM(o.amount) AS total FROM orders o JOIN customers c ON o.customer_id = c.id GROUP BY c.region",
                 expect_mv="mv_ja", expect_kind="rollup")


def test_join_predicate_compensation(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_jp AS SELECT o.id AS oid, c.region AS region, o.amount AS amt FROM orders o JOIN customers c ON o.customer_id = c.id")
    _assert_same(engine,
                 "SELECT o.id AS oid, o.amount AS amt FROM orders o JOIN customers c ON o.customer_id = c.id WHERE c.region = 'east'",
                 expect_mv="mv_jp", expect_kind="project")


def test_join_type_mismatch_no_rewrite(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_jt AS SELECT o.id AS oid, c.name AS cname FROM orders o INNER JOIN customers c ON o.customer_id = c.id")
    res = _assert_same(engine,
                       "SELECT o.id AS oid, c.name AS cname FROM orders o LEFT JOIN customers c ON o.customer_id = c.id")
    assert res is None


def test_join_different_tables_no_rewrite(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_jd AS SELECT o.id AS oid FROM orders o JOIN customers c ON o.customer_id = c.id")
    res = _assert_same(engine, "SELECT s.region AS oid FROM sales s JOIN customers c ON s.region = c.region")
    assert res is None


# -- guards ----------------------------------------------------------------

def test_unparseable_query_passes_through(engine):
    engine.sql("CREATE MATERIALIZED VIEW mv_u AS SELECT region FROM sales")
    df = engine.sql("SELECT region, RANK() OVER (PARTITION BY region ORDER BY amount) AS r FROM sales")
    assert df.count() == 6
    assert engine.last_rewrite is None  # windows unsupported ⇒ no rewrite


def test_refresh_does_not_self_rewrite(engine):
    # An MV whose defining query would itself match the MV must not consume
    # its own (stale) backing data on refresh.
    engine.sql("CREATE MATERIALIZED VIEW mv_s AS SELECT region, product, amount FROM sales")
    engine.sql("REFRESH MATERIALIZED VIEW mv_s")
    assert engine.mv_catalog.get("mv_s").row_count == 6


def test_three_way_join_rewrite(engine, spark):
    spark.createDataFrame(
        [(1, "widget"), (2, "gadget")], "id bigint, pname string"
    ).createOrReplaceTempView("products")
    spark.createDataFrame(
        [(1, 101, 1, 50.0), (2, 101, 2, 70.0), (3, 102, 1, 20.0)],
        "id bigint, customer_id bigint, product_id bigint, amount double",
    ).createOrReplaceTempView("line_orders")
    engine.sql(
        "CREATE MATERIALIZED VIEW mv_3w AS "
        "SELECT c.region AS region, p.pname AS pname, SUM(o.amount) AS total "
        "FROM line_orders o JOIN customers c ON o.customer_id = c.id "
        "JOIN products p ON o.product_id = p.id "
        "GROUP BY c.region, p.pname"
    )
    _assert_same(
        engine,
        "SELECT c.region AS region, SUM(o.amount) AS total "
        "FROM line_orders o JOIN customers c ON o.customer_id = c.id "
        "JOIN products p ON o.product_id = p.id "
        "GROUP BY c.region",
        expect_mv="mv_3w", expect_kind="rollup",
    )
    # different middle table => no rewrite
    res = _assert_same(
        engine,
        "SELECT c.region AS region, SUM(o.amount) AS total "
        "FROM line_orders o JOIN customers c ON o.customer_id = c.id "
        "JOIN sales p ON o.product_id = p.amount "
        "GROUP BY c.region",
    )
    assert res is None


def test_join_condition_order_insensitive(engine):
    engine.sql(
        "CREATE MATERIALIZED VIEW mv_flip AS "
        "SELECT o.id AS oid, c.name AS cname FROM orders o "
        "JOIN customers c ON o.customer_id = c.id"
    )
    # flipped equality in ON must still match (canonicalized as sorted pair)
    _assert_same(
        engine,
        "SELECT o.id AS oid, c.name AS cname FROM orders o "
        "JOIN customers c ON c.id = o.customer_id",
        expect_mv="mv_flip",
    )


def test_mv_over_engine_catalog_table(engine, spark):
    """MV whose base is one of the engine's own snapshot-versioned tables:
    register as view, build MV, rewrite fires, refresh picks up new commits."""
    t = engine.catalog.create_table_as(
        "db.sales_t",
        spark.createDataFrame([("e", 10.0), ("w", 20.0)], "region string, amount double"),
    )
    engine.register("db.sales_t", "sales_t")
    engine.sql("CREATE MATERIALIZED VIEW mv_cat AS "
               "SELECT region, SUM(amount) AS total FROM sales_t GROUP BY region")
    df = engine.sql("SELECT region, SUM(amount) AS total FROM sales_t GROUP BY region")
    assert engine.last_rewrite is not None
    assert dict(df.collect()) == {"e": 10.0, "w": 20.0}
    t.append(spark.createDataFrame([("e", 5.0)], "region string, amount double"))
    engine.register("db.sales_t", "sales_t")  # refresh the view snapshot
    engine.sql("REFRESH MATERIALIZED VIEW mv_cat")
    df2 = engine.sql("SELECT region, SUM(amount) AS total FROM sales_t GROUP BY region")
    assert dict(df2.collect()) == {"e": 15.0, "w": 20.0}


def test_random_query_sweep_rewrite_equivalence(engine):
    """Seeded sweep over the rewrite grammar: random group-by subsets,
    aggregate picks, and predicate combos. Every query must return the same
    rows through the engine (rewrite allowed) as through raw Spark."""
    import random

    rng = random.Random(1234)
    engine.sql(
        "CREATE MATERIALIZED VIEW mv_sweep AS "
        "SELECT region, product, SUM(amount) AS s_amt, COUNT(*) AS cnt, "
        "MIN(amount) AS lo, MAX(amount) AS hi, COUNT(amount) AS c_amt "
        "FROM sales GROUP BY region, product"
    )
    groups_pool = [["region"], ["product"], ["region", "product"]]
    aggs_pool = [
        "SUM(amount) AS s", "COUNT(*) AS c", "MIN(amount) AS mn",
        "MAX(amount) AS mx", "AVG(amount) AS av",
    ]
    preds_pool = [None, "product = 'widget'", "region = 'east'",
                  "product = 'widget' AND region = 'east'"]
    n_rewritten = 0
    for _ in range(24):
        groups = rng.choice(groups_pool)
        aggs = rng.sample(aggs_pool, rng.randint(1, 3))
        pred = rng.choice(preds_pool)
        q = (f"SELECT {', '.join(groups + aggs)} FROM sales"
             + (f" WHERE {pred}" if pred else "")
             + f" GROUP BY {', '.join(groups)}")
        _assert_same(engine, q)
        if engine.last_rewrite is not None:
            n_rewritten += 1
    assert n_rewritten >= 12, f"rewriter fired only {n_rewritten}/24 times"
