"""Round-6 ADVICE regressions.

high — engine._bind_catalog_refs extracted prune_where from the FIRST
WHERE in the statement without checking paren depth, so a WHERE that
belongs to a scalar subquery in the SELECT list was applied as a
partition-prune predicate to the depth-0 outer table, silently dropping
its other partitions. The extraction now runs on the length-preserving
flat shadow, requires the WHERE at paren depth 0, terminates the capture
only at a depth-0 GROUP BY/ORDER BY/LIMIT, and requires the captured
text paren-balanced.

The round's two low findings on partition pruning (an empty transform
result pruned every file; time-transform bounds compared
lexicographically) are pinned in test_stats_pruning.py.
"""

from __future__ import annotations

import pytest

from iceberg_demo_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def _setup_regions(engine):
    t = engine.catalog.create_table(
        "db.t", "o_id bigint, region string", partition_by=[("region",)])
    t.append(engine.spark.createDataFrame(
        [(1, "EU"), (2, "US"), (3, "AS")], schema=t.schema()))
    side = engine.catalog.create_table(
        "db.side", "v bigint, region string", partition_by=[("region",)])
    side.append(engine.spark.createDataFrame(
        [(10, "EU"), (20, "US"), (30, "AS")], schema=side.schema()))
    return t, side


def test_select_list_subquery_where_does_not_prune_outer(engine):
    """The exact ADVICE repro: the only WHERE belongs to a scalar
    subquery in the SELECT list — the outer table has no predicate and
    must return ALL its partitions."""
    _setup_regions(engine)
    got = engine.sql(
        "SELECT o_id, (SELECT v FROM db.side WHERE region = 'EU' "
        "ORDER BY v LIMIT 1) AS m FROM db.t").collect()
    assert sorted(r["o_id"] for r in got) == [1, 2, 3]
    assert all(r["m"] == 10 for r in got)


def test_where_subquery_where_does_not_prune_outer(engine):
    """A WHERE nested in an EXISTS subquery (still the only WHERE at
    depth > 0 … plus the outer one at depth 0): only the OUTER text may
    prune, and inner ORDER BY must not truncate the capture."""
    t, _side = _setup_regions(engine)
    got = engine.sql(
        "SELECT o_id FROM db.t WHERE region = 'US' AND o_id IN "
        "(SELECT v / 10 FROM db.side ORDER BY v LIMIT 3)").collect()
    assert [r["o_id"] for r in got] == [2]


def test_depth0_where_still_prunes(engine):
    """Positive control: a plain depth-0 WHERE keeps driver-side
    partition pruning engaged (file-level, not just row-level)."""
    t, _ = _setup_regions(engine)
    pruned = t._prune_files(t._branch_files("main"), "region = 'EU'")
    assert len(pruned) == 1
    got = engine.sql("SELECT o_id FROM db.t WHERE region = 'EU'").collect()
    assert [r["o_id"] for r in got] == [1]


def test_subquery_only_statement_no_outer_prune(engine):
    """No depth-0 WHERE at all (the statement's single WHERE is inside a
    FROM-subquery): nothing must be treated as the outer predicate."""
    _setup_regions(engine)
    got = engine.sql(
        "SELECT count(*) AS n FROM db.t, "
        "(SELECT v FROM db.side WHERE region = 'EU') s").collect()
    assert got[0]["n"] == 3  # 3 outer rows x 1 subquery row
