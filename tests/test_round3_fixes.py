"""Round-3 fix coverage: MERGE alias normalization and DataFrame/subquery
DML predicates (docs/spark-writes.md:170-199)."""

from __future__ import annotations

import pytest

from iceberg_demo_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def _orders(engine, name="db.orders"):
    t = engine.catalog.create_table(name, "id bigint, status string, amt double")
    t.append(engine.spark.createDataFrame(
        [(1, "open", 10.0), (2, "open", 20.0), (3, "shipped", 30.0)],
        schema=t.schema()))
    return t


# -- MERGE alias normalization ---------------------------------------------

def test_merge_swapped_engine_aliases(engine):
    """MERGE INTO tgt s USING src t — user aliases are the engine's own
    t/s swapped; sequential substitution would corrupt every reference."""
    t = _orders(engine)
    engine.spark.createDataFrame(
        [(2, 99.0), (4, 44.0)], "id bigint, amt double"
    ).createOrReplaceTempView("src_swap")
    engine.sql("""
        MERGE INTO db.orders s USING src_swap t ON s.id = t.id
        WHEN MATCHED THEN UPDATE SET s.amt = t.amt
        WHEN NOT MATCHED THEN INSERT (id, status, amt)
            VALUES (t.id, 'new', t.amt)
    """)
    got = {r["id"]: (r["status"], r["amt"]) for r in t.refresh().scan().collect()}
    assert got == {1: ("open", 10.0), 2: ("open", 99.0),
                   3: ("shipped", 30.0), 4: ("new", 44.0)}


def test_merge_colliding_aliases_rejected(engine):
    _orders(engine)
    engine.spark.range(1).createOrReplaceTempView("src_x")
    with pytest.raises(ValueError, match="alias"):
        engine.sql("MERGE INTO db.orders x USING src_x x ON x.id = x.id "
                   "WHEN MATCHED THEN DELETE")


def test_merge_reserved_marker_column_rejected(engine):
    t = _orders(engine)
    bad = engine.spark.sql("SELECT 1 AS id, true AS _g_s_present")
    with pytest.raises(ValueError, match="_g_s_present"):
        t.merge(bad, on="t.id = s.id",
                matched=[{"condition": None, "action": "delete"}])


# -- DataFrame-predicate DML ------------------------------------------------

def test_delete_matching_api(engine):
    t = _orders(engine)
    keys = engine.spark.createDataFrame([(1,), (3,)], "id bigint")
    t.delete_matching(keys, on="t.id = s.id")
    assert [r["id"] for r in t.scan().collect()] == [2]


def test_update_matching_api_source_refs(engine):
    t = _orders(engine)
    src = engine.spark.createDataFrame(
        [(1, 5.0), (2, 7.0)], "id bigint, bump double")
    t.update_matching({"amt": "t.amt + s.bump"}, src, on="t.id = s.id")
    got = {r["id"]: r["amt"] for r in t.scan().collect()}
    assert got == {1: 15.0, 2: 27.0, 3: 30.0}


def test_sql_delete_where_exists(engine):
    """The reference's correlated-EXISTS DELETE
    (docs/spark-writes.md:176-178) — no driver-side key collection."""
    t = _orders(engine)
    engine.spark.createDataFrame(
        [(1,), (2,)], "oid bigint").createOrReplaceTempView("returned")
    engine.sql("DELETE FROM db.orders AS t1 "
               "WHERE EXISTS (SELECT oid FROM returned WHERE t1.id = oid)")
    assert [r["id"] for r in t.refresh().scan().collect()] == [3]


def test_sql_delete_where_exists_plus_plain_conjunct(engine):
    t = _orders(engine)
    engine.spark.createDataFrame(
        [(1,), (2,)], "oid bigint").createOrReplaceTempView("returned2")
    engine.sql(
        "DELETE FROM db.orders AS t1 WHERE status = 'open' AND "
        "EXISTS (SELECT oid FROM returned2 WHERE t1.id = oid AND oid > 1)")
    assert sorted(r["id"] for r in t.refresh().scan().collect()) == [1, 3]


def test_sql_delete_scalar_subquery(engine):
    """Uncorrelated scalar subquery (docs/spark-writes.md:173-174)."""
    t = _orders(engine)
    engine.spark.createDataFrame(
        [(25.0,)], "cut double").createOrReplaceTempView("cuts")
    engine.sql("DELETE FROM db.orders WHERE amt < (SELECT min(cut) FROM cuts)")
    assert [r["id"] for r in t.refresh().scan().collect()] == [3]


def test_sql_update_where_exists(engine):
    t = _orders(engine)
    engine.spark.createDataFrame(
        [(1,), (3,)], "oid bigint").createOrReplaceTempView("ret3")
    engine.sql("UPDATE db.orders AS t1 SET status = 'returned' "
               "WHERE EXISTS (SELECT oid FROM ret3 WHERE t1.id = oid)")
    got = {r["id"]: r["status"] for r in t.refresh().scan().collect()}
    assert got == {1: "returned", 2: "open", 3: "returned"}


def test_sql_update_scalar_subquery(engine):
    t = _orders(engine)
    engine.sql("UPDATE db.orders SET amt = 0 "
               "WHERE amt < (SELECT avg(amt) FROM db.orders)")
    got = {r["id"]: r["amt"] for r in t.refresh().scan().collect()}
    assert got == {1: 0.0, 2: 20.0, 3: 30.0}  # avg=20; only 10.0 < 20


def test_sql_delete_in_subquery(engine):
    """DELETE … WHERE col IN (SELECT …): distributed join, no key collect."""
    t = _orders(engine)
    engine.spark.createDataFrame(
        [(1,), (2,), (2,)], "oid bigint").createOrReplaceTempView("in_keys")
    engine.sql("DELETE FROM db.orders WHERE id IN (SELECT oid FROM in_keys)")
    assert [r["id"] for r in t.refresh().scan().collect()] == [3]


def test_sql_update_in_subquery_with_plain_conjunct(engine):
    t = _orders(engine)
    engine.spark.createDataFrame(
        [(1,), (3,)], "oid bigint").createOrReplaceTempView("in_keys2")
    engine.sql("UPDATE db.orders SET status = 'flagged' "
               "WHERE id IN (SELECT oid FROM in_keys2) AND amt > 15")
    got = {r["id"]: r["status"] for r in t.refresh().scan().collect()}
    assert got == {1: "open", 2: "open", 3: "flagged"}
