"""Smoke + semantics tests for the relational operator library at sf0.001.

The full cross-engine value check runs via tools/check_oracles.py (and the
driver's DuckDB gate); here we assert structural properties cheaply.
"""

from __future__ import annotations

import pytest

from iceberg_demo_spark import registry
from tests.conftest import SF_SMALL

registry.load_all()

RELATIONAL = [
    "flagship_revenue_by_region",
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q12_late_shipments_by_priority",
    "q14_promo_revenue_share",
    "q18_large_volume_orders",
    "top3_customers_per_nation",
    "revenue_rollup_region_nation",
    "nations_customers_and_suppliers",
    "nations_customers_only",
    "customers_without_orders",
    "suppliers_in_rich_nations",
    "distinct_parts_per_flag",
    "nation_balance_full_outer",
    "events_hourly_stats",
    "events_json_extract",
    "events_sessionization",
    "orders_above_customer_avg",
    "order_size_buckets",
    "q15_top_supplier",
]


@pytest.mark.parametrize("name", RELATIONAL)
def test_query_runs_and_is_stable(spark, name):
    df = registry.QUERIES[name](spark, SF_SMALL)
    rows = df.collect()
    # schema is stable across invocations
    df2 = registry.QUERIES[name](spark, SF_SMALL)
    assert df.schema == df2.schema
    assert [tuple(r) for r in rows] == [tuple(r) for r in df2.collect()]


def test_flagship_has_five_regions(spark):
    df = registry.QUERIES["flagship_revenue_by_region"](spark, SF_SMALL)
    rows = df.collect()
    assert len(rows) == 5
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r["n_items"] > 0 for r in rows)


def test_q1_group_count(spark):
    rows = registry.QUERIES["q1_pricing_summary"](spark, SF_SMALL).collect()
    assert len(rows) == 6  # 3 returnflags x 2 linestatus
    for r in rows:
        assert r["count_order"] > 0
        assert abs(r["avg_disc"]) < 1  # discounts are fractions


def test_top3_window_bounds(spark):
    rows = registry.QUERIES["top3_customers_per_nation"](spark, SF_SMALL).collect()
    assert all(1 <= r["rank_in_nation"] <= 3 for r in rows)
    # within a nation, balances are non-increasing with rank
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r["n_name"], []).append(r)
    for grp in by_nation.values():
        grp.sort(key=lambda r: r["rank_in_nation"])
        bals = [r["c_acctbal"] for r in grp]
        assert bals == sorted(bals, reverse=True)


def test_every_query_has_oracle_or_is_declared_rows_only(spark):
    rows_only = {
        "dedup_minhash_lsh_pairs",
        "dedup_simhash_hamming_pairs",
        "multimodal_decode_features",
        "multimodal_frame_sample",
        "multimodal_resize",
        "sim_ann_lsh_topk",
    }
    for name in registry.QUERIES:
        if name not in rows_only:
            assert name in registry.ORACLES, f"{name} lacks a DuckDB oracle"


def test_cube_covers_all_granularities(spark):
    from tests.conftest import SF_SMALL

    rows = {(r["flag"], r["status"]): r["n"] for r in
            registry.QUERIES["cube_flag_status_price"](spark, SF_SMALL)
            .collect()}
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    total = li.count()
    assert rows[("<all>", "<all>")] == total
    # per-flag subtotals equal the sum of their detail rows
    flags = {f for f, s in rows if f != "<all>"}
    for f in flags:
        detail = sum(n for (ff, ss), n in rows.items()
                     if ff == f and ss != "<all>")
        assert rows[(f, "<all>")] == detail
    # per-status subtotals (the CUBE-only granularity ROLLUP lacks)
    statuses = {s for f, s in rows if s != "<all>"}
    for s in statuses:
        detail = sum(n for (ff, ss), n in rows.items()
                     if ss == s and ff != "<all>")
        assert rows[("<all>", s)] == detail


def test_discrete_percentiles_match_python(spark):
    from tests.conftest import SF_SMALL
    import math

    rows = {r["flag"]: r for r in
            registry.QUERIES["quantity_percentiles_by_flag"](spark, SF_SMALL)
            .collect()}
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").collect()
    by_flag = {}
    for r in li:
        by_flag.setdefault(r["l_returnflag"], []).append(r["l_quantity"])
    for flag, vals in by_flag.items():
        vals.sort()
        got = rows[flag]
        for p, col in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75")):
            exp = vals[math.ceil(p * len(vals)) - 1]
            assert got[col] == exp, (flag, p)
        assert got["n"] == len(vals)


def test_sessionization_splits_on_sub_second_gap_over_30_min(spark, tmp_path):
    """A gap of exactly 1800 s stays in one session; 1800.5 s starts a new
    one, as the oracle's ``> INTERVAL 30 MINUTE`` says."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1)
    offsets = {1: [0.0, 1800.0, 3600.0], 2: [0.0, 1800.5, 1801.5]}
    rows = [(u, t0 + dt.timedelta(seconds=s))
            for u, secs in offsets.items() for s in secs]
    pq.write_table(pa.table({
        "event_id": list(range(len(rows))),
        "ts": pa.array([ts for _u, ts in rows], pa.timestamp("us")),
        "user_id": [u for u, _ts in rows],
    }), str(tmp_path / "events.parquet"))
    got = [tuple(r) for r in registry.QUERIES["events_sessionization"](
        spark, str(tmp_path)).collect()]
    assert got == [(1, 1, 3), (2, 2, 3)]
