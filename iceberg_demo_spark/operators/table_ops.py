"""Driver-gate queries for the table-format + MV + streaming subsystems.

Each query materializes a scratch table in a per-call temp warehouse, runs
the operator under test (DML / time travel / compaction / MV rewrite /
streaming ingest), and returns the resulting state as a DataFrame whose
content is ALSO expressible as pure SQL over the input tables — that SQL is
the DuckDB oracle. This puts the reference's write-path semantics
(iceberg_it.py §2.9-2.12) under the driver's value-hash correctness gate,
not just pytest.
"""

from __future__ import annotations

import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_demo_spark.engine import Engine
from iceberg_demo_spark.registry import query
from iceberg_demo_spark.cache import (
    pin as _pin,
    pin_checkpoint as _pin_ckpt,
    pin_checkpoint_lazy as _pin_ckpt_lazy,
)
from iceberg_demo_spark.scratch import scratch_path
from iceberg_demo_spark.sources import load_tables
from iceberg_demo_spark.tables import Catalog, procedures as proc


def _scratch(spark: SparkSession) -> Catalog:
    # mkdtemp is CORRECT here (unlike source staging): every invocation
    # creates and mutates fresh tables, so the warehouse cannot be reused.
    return Catalog(spark, tempfile.mkdtemp(prefix="glacier_wh_"))


def _stage_events_src(spark: SparkSession, sf_dir: str, label: str,
                      cols=None, repart: int = 4) -> str:
    """Deterministic per-(label, sf) staging of the events table as a
    multi-file stream-source dir, REUSED across invocations — the content
    is a pure function of sf_dir (round-5 ADVICE discipline: mkdtemp here
    leaked a dir and re-wrote the parquet on every bench rep / oracle
    re-check)."""
    import os as _os

    from iceberg_demo_spark.operators.layout import _sf_tag

    out = scratch_path(f"glacier_src_{label}_{_sf_tag(sf_dir)}")
    if not _os.path.exists(f"{out}/_SUCCESS"):
        df = load_tables(spark, sf_dir, ("events",))["events"]
        if cols is not None:
            df = df.select(*cols)
        df.repartition(repart).write.mode("overwrite").parquet(out)
    return out


def _fresh_ckpt(sf_dir: str, label: str) -> str:
    """Deterministic per-(label, sf) checkpoint path, cleared before each
    start — the sink table is fresh per invocation, so the checkpoint must
    be too; a fixed cleared path bounds residue to one dir per gate."""
    import os as _os
    import shutil as _shutil

    from iceberg_demo_spark.operators.layout import _sf_tag

    ck = scratch_path(f"glacier_ck_{label}_{_sf_tag(sf_dir)}")
    _shutil.rmtree(ck, ignore_errors=True)
    return ck


# -- DML: MERGE upsert -----------------------------------------------------

@query(
    "dml_merge_upsert",
    oracle="""
    WITH totals AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total, COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey AS c_custkey,
           ROUND(c.c_acctbal + COALESCE(t.total, 0.0), 2) AS new_acctbal,
           COALESCE(t.n_orders, 0) AS n_orders
    FROM customer c LEFT JOIN totals t ON c.c_custkey = t.o_custkey
    ORDER BY c_custkey
    LIMIT 200
    """,
)
def dml_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (matched-update) against a real table, then scan: the final
    state must equal the SQL-joined expectation."""
    t_in = load_tables(spark, sf_dir, ("customer", "orders"))
    cat = _scratch(spark)
    target = cat.create_table_as(
        "db.cust",
        t_in["customer"].select("c_custkey", "c_acctbal"),
    )
    src = (
        t_in["orders"]
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    # extend schema for merge bookkeeping
    target.add_column("n_orders", "bigint")
    target.merge(
        src,
        on="t.c_custkey = s.custkey",
        matched=[{"action": "update",
                  "set": {"c_acctbal": "round(t.c_acctbal + s.total, 2)",
                          "n_orders": "s.n_orders"}}],
        check_cardinality=False,  # source is pre-aggregated ⇒ unique keys
    )
    return (
        target.scan()
        .select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("new_acctbal"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .orderBy("c_custkey")
        .limit(200)
    )


# -- DML: DELETE + UPDATE --------------------------------------------------

@query(
    "dml_delete_update",
    oracle="""
    WITH after_delete AS (
      SELECT * FROM part WHERE p_size > 10
    )
    SELECT p_brand,
           COUNT(*) AS n_parts,
           ROUND(SUM(CASE WHEN p_size > 40 THEN p_retailprice * 1.1
                          ELSE p_retailprice END), 2) AS total_price
    FROM after_delete
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def dml_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE then UPDATE WHERE on a scratch copy of part; final agg
    must equal the pure-SQL simulation."""
    t_in = load_tables(spark, sf_dir, ("part",))
    cat = _scratch(spark)
    t = cat.create_table_as(
        "db.part", t_in["part"].select("p_partkey", "p_brand", "p_size", "p_retailprice")
    )
    t.delete_where("p_size <= 10")
    t.update_where({"p_retailprice": "p_retailprice * 1.1"}, "p_size > 40")
    return (
        t.scan()
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"),
             F.round(F.sum("p_retailprice"), 2).alias("total_price"))
        .orderBy("p_brand")
    )


# -- DML: merge-on-read (position deletes) ---------------------------------

@query(
    "dml_delete_update_mor",
    oracle="""
    WITH after_delete AS (
      SELECT * FROM part WHERE p_size > 10
    )
    SELECT p_brand,
           COUNT(*) AS n_parts,
           ROUND(SUM(CASE WHEN p_size > 40 THEN p_retailprice * 1.1
                          ELSE p_retailprice END), 2) AS total_price
    FROM after_delete
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def dml_delete_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same DELETE+UPDATE sequence as ``dml_delete_update`` but under
    ``write.*.mode = merge-on-read`` (position-delete files,
    iceberg_it.py:2279-2285), then compacted via
    rewrite_position_delete_files — final scan must equal the same SQL
    oracle, proving mode changes storage layout, not semantics."""
    t_in = load_tables(spark, sf_dir, ("part",))
    cat = _scratch(spark)
    t = cat.create_table_as(
        "db.part_mor", t_in["part"].select("p_partkey", "p_brand", "p_size", "p_retailprice")
    )
    t.set_properties({"write.delete.mode": "merge-on-read",
                      "write.update.mode": "merge-on-read"})
    t.delete_where("p_size <= 10")
    t.update_where({"p_retailprice": "p_retailprice * 1.1"}, "p_size > 40")
    proc.rewrite_position_delete_files(t)
    return (
        t.scan()
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"),
             F.round(F.sum("p_retailprice"), 2).alias("total_price"))
        .orderBy("p_brand")
    )


# -- DML: dynamic partition overwrite -------------------------------------

@query(
    "dml_overwrite_dynamic",
    oracle="""
    WITH repl AS (
      SELECT l_returnflag, l_linestatus,
             ROUND(SUM(l_quantity), 2) AS sum_qty
      FROM lineitem WHERE l_returnflag = 'R'
      GROUP BY l_returnflag, l_linestatus
    ), keep AS (
      SELECT l_returnflag, l_linestatus,
             ROUND(SUM(l_quantity), 2) AS sum_qty
      FROM lineitem WHERE l_returnflag <> 'R'
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT * FROM repl UNION ALL SELECT * FROM keep
    ORDER BY l_returnflag, l_linestatus
    """,
)
def dml_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned table; dynamic overwrite replaces only the partitions the
    incoming frame touches (docs/spark-writes.md:129-143 semantics)."""
    t_in = load_tables(spark, sf_dir, ("lineitem",))
    li = t_in["lineitem"]
    agg = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )
    cat = _scratch(spark)
    t = cat.create_table(
        "db.flags", "l_returnflag string, l_linestatus string, sum_qty double",
        partition_by=[("l_returnflag",)],
    )
    t.append(agg)  # initial state: all partitions
    # overwrite partition R only (recomputed — content identical, but the
    # commit must not touch A/N partitions)
    t.overwrite_dynamic(agg.filter(F.col("l_returnflag") == "R"))
    return t.scan().orderBy("l_returnflag", "l_linestatus")


# -- time travel -----------------------------------------------------------

@query(
    "tt_snapshot_counts",
    oracle="""
    SELECT (SELECT COUNT(*) FROM nation) AS v1_rows,
           (SELECT COUNT(*) FROM nation) * 2 AS v2_rows,
           (SELECT COUNT(*) FROM nation) AS rollback_rows
    """,
)
def tt_snapshot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append → snapshot-read v1 vs v2 → rollback: row counts at each point
    (iceberg_it.py:1957-1967 time-travel semantics)."""
    t_in = load_tables(spark, sf_dir, ("nation",))
    cat = _scratch(spark)
    t = cat.create_table_as("db.nat", t_in["nation"])
    s1 = t.metadata.current_snapshot().snapshot_id
    t.append(t_in["nation"])  # v2 = double
    v1 = t.scan(snapshot_id=s1).count()
    v2 = t.scan().count()
    proc.rollback_to_snapshot(t, s1)
    rb = t.scan().count()
    return spark.createDataFrame(
        [(v1, v2, rb)], "v1_rows bigint, v2_rows bigint, rollback_rows bigint"
    )


# -- branch isolation ------------------------------------------------------

@query(
    "branch_write_isolation",
    oracle="""
    SELECT (SELECT COUNT(*) FROM region) AS main_rows,
           (SELECT COUNT(*) FROM region) * 2 AS branch_rows,
           (SELECT COUNT(*) FROM region) * 2 AS published_rows
    """,
)
def branch_write_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAP flow (iceberg_it.py:1352-1365): write to staging branch, main
    unaffected, publish fast-forwards main."""
    t_in = load_tables(spark, sf_dir, ("region",))
    cat = _scratch(spark)
    t = cat.create_table_as("db.reg", t_in["region"])
    t.create_branch("audit")
    t.append(t_in["region"], branch="audit")
    main_rows = t.scan().count()
    branch_rows = t.scan(branch="audit").count()
    proc.publish_changes(t, wap_branch="audit")
    published = t.scan().count()
    return spark.createDataFrame(
        [(main_rows, branch_rows, published)],
        "main_rows bigint, branch_rows bigint, published_rows bigint",
    )


# -- compaction ------------------------------------------------------------

@query(
    "compaction_preserves_table",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           ROUND(SUM(s_acctbal), 2) AS total_bal,
           COUNT(DISTINCT s_nationkey) AS n_nations
    FROM supplier
    """,
)
def compaction_preserves_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rewrite_data_files (binpack) must reduce file count and preserve
    content — the BASELINE 'compaction' requirement under the value gate."""
    t_in = load_tables(spark, sf_dir, ("supplier",))
    cat = _scratch(spark)
    t = cat.create_table("db.supp", [
        (f.name, f.dataType.simpleString(), f.nullable)
        for f in t_in["supplier"].schema.fields
    ])
    sup = t_in["supplier"]
    # three small appends => three+ small files
    t.append(sup.filter("s_suppkey % 3 = 0"))
    t.append(sup.filter("s_suppkey % 3 = 1"))
    t.append(sup.filter("s_suppkey % 3 = 2"))
    n_before = len(t.metadata.current_snapshot().files)
    proc.rewrite_data_files(t)
    n_after = len(t.metadata.current_snapshot().files)
    assert n_after < n_before, "compaction must reduce file count"
    return t.scan().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        F.countDistinct("s_nationkey").alias("n_nations"),
    )


# -- changelog (CDC) -------------------------------------------------------

@query(
    "changelog_row_counts",
    oracle="""
    SELECT (SELECT COUNT(*) FROM region) + 1 AS n_inserts,
           1 AS n_deletes
    """,
)
def changelog_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create_changelog_view: inserts from the initial load + one append,
    one delete (iceberg_it.py:2301-2344)."""
    t_in = load_tables(spark, sf_dir, ("region",))
    cat = _scratch(spark)
    t = cat.create_table_as("db.regc", t_in["region"])
    one = t_in["region"].limit(1).withColumn("r_regionkey", F.lit(99).cast("bigint"))
    t.append(one)
    t.delete_where("r_regionkey = 99")
    cdc = proc.create_changelog_view(t, "regc_changes")
    return cdc.agg(
        F.sum(F.when(F.col("_change_type") == "INSERT", 1).otherwise(0)).cast("bigint").alias("n_inserts"),
        F.sum(F.when(F.col("_change_type") == "DELETE", 1).otherwise(0)).cast("bigint").alias("n_deletes"),
    )


# -- MV rewrite under the value gate ---------------------------------------

@query(
    "mv_rollup_correctness",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS total,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def mv_rollup_correctness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll-up MV rewrite answering a coarser GROUP BY: the rewritten result
    goes through the driver's value-hash compare against plain SQL."""
    load_tables(spark, sf_dir, ("orders",))
    import tempfile as _tf

    eng = Engine(spark, _tf.mkdtemp(prefix="glacier_mv_"))
    eng.sql(
        "CREATE MATERIALIZED VIEW mv_ord AS "
        "SELECT o_orderpriority, o_orderstatus, SUM(o_totalprice) AS total_raw, COUNT(*) AS cnt "
        "FROM orders GROUP BY o_orderpriority, o_orderstatus"
    )
    df = eng.sql(
        "SELECT o_orderpriority, SUM(o_totalprice) AS total_raw, COUNT(*) AS cnt "
        "FROM orders GROUP BY o_orderpriority"
    )
    assert eng.last_rewrite is not None and eng.last_rewrite.kind == "rollup"
    return (
        df.select(
            "o_orderpriority",
            F.round("total_raw", 2).alias("total"),
            "cnt",
        ).orderBy("o_orderpriority")
    )


@query(
    "mv_incremental_refresh",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS total,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True incremental MV maintenance: materialize over HALF the orders,
    append the other half to the source table, REFRESH INCREMENTAL (delta-
    driven partial group recompute via the changelog), and the backing table
    must equal a from-scratch aggregate over ALL orders."""
    import tempfile as _tf

    t_in = load_tables(spark, sf_dir, ("orders",))
    eng = Engine(spark, _tf.mkdtemp(prefix="glacier_mvi_"))
    orders = t_in["orders"].select("o_orderkey", "o_orderpriority", "o_totalprice")
    src = eng.catalog.create_table_as(
        "db.ord_src", orders.filter(F.col("o_orderkey") % 2 == 0))
    eng.register("db.ord_src")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvi AS "
        "SELECT o_orderpriority, SUM(o_totalprice) AS total_raw, COUNT(*) AS cnt "
        "FROM db_ord_src GROUP BY o_orderpriority"
    )
    src.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    eng.sql("REFRESH MATERIALIZED VIEW mvi INCREMENTAL")
    mv = eng.mv_catalog.get("mvi")
    assert mv.source_snapshots["db_ord_src"][1] == \
        src.metadata.current_snapshot().snapshot_id, "incremental did not sync"
    return (
        eng.mv.backing_df(mv)
        .select("o_orderpriority", F.round("total_raw", 2).alias("total"), "cnt")
        .orderBy("o_orderpriority")
    )


@query(
    "mv_changelog_refresh",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    after_del AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
    after_upd AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 5 = 0 THEN cents + 1000
                  ELSE cents END AS cents
      FROM after_del
    ),
    inserted AS (
      SELECT o_orderkey + 100000000 AS o_orderkey,
             '9-NEW' AS o_orderpriority, cents
      FROM base WHERE o_orderkey % 7 = 0
    ),
    final AS (SELECT * FROM after_upd
              UNION ALL SELECT * FROM inserted)
    SELECT o_orderpriority,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def mv_changelog_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog-driven MV maintenance (VERDICT r10 #8 — the StarRocks
    roadmap item the reference stubs as full recompute,
    MaterializedViewCommands.scala:150-177): a SUM/COUNT aggregate MV
    over a fact table absorbs a DELETE + an UPDATE + an INSERT commit
    chain by applying the changelog's NET per-group delta through ONE
    keyed MERGE — the fact table is never rescanned (REFRESH …​ DELTA;
    the gate asserts ``last_refresh_mode == "delta"``, so a silent
    full-recompute fallback cannot pass). Amounts ride as exact integer
    cents so the delta arithmetic is engine-replayable; the UPDATE
    commit exercises the UPDATE_BEFORE/UPDATE_AFTER signing and the
    insert commit creates a brand-new group (the MERGE's
    insert-new-group leg). The oracle recomputes the mutated fact table
    from scratch: delta-refresh must equal full recompute exactly.
    Round 12: the fact table declares its columns NOT NULL — the delta
    path now REFUSES SUM over nullable arguments (ADVICE r11 low: a
    window deleting every non-NULL contributor of a group would drive
    the merged SUM to 0 where full recompute yields NULL), so enrolling
    requires the declaration a production fact table would carry anyway.

    Scale shape: refresh reads ONLY the changelog window (the three
    commits' row deltas) and MERGEs one row per touched group —
    O(day's commits), independent of fact-table and MV size; at 100 TB
    this is the difference between an hourly MV and a nightly one."""
    import tempfile as _tf

    t_in = load_tables(spark, sf_dir, ("orders",))
    eng = Engine(spark, _tf.mkdtemp(prefix="glacier_mvd_"))
    base = t_in["orders"].select(
        "o_orderkey", "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    src = eng.catalog.create_table(
        "db.ord_cl",
        "o_orderkey bigint not null, o_orderpriority string not null, "
        "cents bigint not null")
    src.append(base)
    eng.register("db.ord_cl")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvd AS "
        "SELECT o_orderpriority, SUM(cents) AS total_cents, "
        "COUNT(*) AS cnt FROM db_ord_cl GROUP BY o_orderpriority"
    )
    # the DML-mutated fact table: three commits in the changelog window
    src.delete_where("o_orderkey % 7 = 0")
    src.update_where({"cents": "cents + 1000"}, "o_orderkey % 5 = 0")
    src.append(base.filter("o_orderkey % 7 = 0").select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("9-NEW").alias("o_orderpriority"), "cents"))
    eng.sql("REFRESH MATERIALIZED VIEW mvd DELTA")
    assert eng.mv.last_refresh_mode == "delta", eng.mv.last_refresh_mode
    mv = eng.mv_catalog.get("mvd")
    assert mv.source_snapshots["db_ord_cl"][1] == \
        src.metadata.current_snapshot().snapshot_id, "delta did not sync"
    return (eng.mv.backing_df(mv)
            .select("o_orderpriority", "total_cents", "cnt")
            .orderBy("o_orderpriority"))


@query(
    "mv_join_changelog_refresh",
    oracle="""
    WITH fact AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    after_del AS (SELECT * FROM fact WHERE o_orderkey % 7 <> 0),
    after_upd AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 5 = 0 THEN cents + 1000
                  ELSE cents END AS cents
      FROM after_del
    ),
    inserted AS (
      SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, cents
      FROM fact WHERE o_orderkey % 7 = 0
    ),
    final AS (SELECT * FROM after_upd
              UNION ALL SELECT * FROM inserted)
    SELECT c.c_mktsegment,
           CAST(SUM(f.cents) AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM final f JOIN customer c ON f.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def mv_join_changelog_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mv_changelog_refresh's JOIN extension (round 11): a star-join
    aggregate MV (fact × customer dimension, grouped by market segment)
    absorbs a fact-only DELETE + UPDATE + INSERT commit chain by
    joining the changelog's SIGNED fact images through the UNCHANGED
    dimension and folding the per-group delta with one keyed MERGE
    (``_refresh_delta``) — neither the fact table nor
    the MV is rescanned, and the gate asserts ``last_refresh_mode ==
    "delta"`` so a fallback cannot masquerade. Since round 12 the path
    is TWO-SIDED (telescoping decomposition): a changed dimension is
    delta-folded too — ``mv_join_changelog_refresh_dim`` gates that
    side; only non-fact changes under LEFT joins refuse. The oracle
    recomputes the mutated fact⋈dim aggregate from scratch in exact
    integer cents. Round 12: the fact declares NOT NULL measures (the
    nullable-SUM delta refusal, ADVICE r11 low).

    Scale shape: refresh = changelog-window rows joined against a
    broadcast-able dimension + one MERGE — O(day's commits), the MV
    cost model that makes hourly star-schema rollups viable at 100 TB."""
    import tempfile as _tf

    t_in = load_tables(spark, sf_dir, ("orders", "customer"))
    eng = Engine(spark, _tf.mkdtemp(prefix="glacier_mvjd_"))
    fact = t_in["orders"].select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    src = eng.catalog.create_table(
        "db.ord_f",
        "o_orderkey bigint not null, o_custkey bigint not null, "
        "cents bigint not null")
    src.append(fact)
    eng.catalog.create_table_as(
        "db.cust_d", t_in["customer"].select("c_custkey", "c_mktsegment"))
    eng.register("db.ord_f")
    eng.register("db.cust_d")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvjd AS "
        "SELECT c.c_mktsegment, SUM(f.cents) AS total_cents, "
        "COUNT(*) AS cnt FROM db_ord_f f "
        "JOIN db_cust_d c ON f.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment"
    )
    src.delete_where("o_orderkey % 7 = 0")
    src.update_where({"cents": "cents + 1000"}, "o_orderkey % 5 = 0")
    src.append(fact.filter("o_orderkey % 7 = 0").select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_custkey", "cents"))
    eng.sql("REFRESH MATERIALIZED VIEW mvjd DELTA")
    assert eng.mv.last_refresh_mode == "delta", eng.mv.last_refresh_mode
    mv = eng.mv_catalog.get("mvjd")
    return (eng.mv.backing_df(mv)
            .select("c_mktsegment", "total_cents", "cnt")
            .orderBy("c_mktsegment"))


@query(
    "mv_changelog_refresh_avg",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
             END AS cents
      FROM orders
    ),
    after_del AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
    after_upd AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 5 = 0 THEN cents + 1000
                  ELSE cents END AS cents
      FROM after_del
    ),
    inserted AS (
      SELECT o_orderkey + 100000000 AS o_orderkey,
             '9-NEW' AS o_orderpriority, cents
      FROM base WHERE o_orderkey % 7 = 0
    ),
    final AS (SELECT * FROM after_upd
              UNION ALL SELECT * FROM inserted)
    SELECT o_orderpriority,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(COUNT(cents) AS BIGINT) AS cnt_vals,
           AVG(cents) AS avg_cents,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def mv_changelog_refresh_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPANION-COLUMN delta maintenance (round 12, beyond VERDICT r11
    #3/#5): a view carrying SUM(x), COUNT(x), AVG(x) and COUNT(*) over
    a NULLABLE measure delta-folds exactly — two capabilities the bare
    SUM/COUNT restriction refuses:

    * AVG(cents) is never delta-merged directly (impossible under
      deletes); the MERGE derives it from the merged SUM/COUNT
      companions, the same derivation the rewriter uses at query time.
      Exactness envelope: bigint sums within 2^53 (Spark accumulates a
      non-decimal AVG sum as double — identical to the exact bigint
      sum cast to double under that bound; both engines then perform
      the same correctly-rounded double division → bit-identical).
    * SUM(cents) with cents NULLABLE (every 13th order's measure is
      NULL here) is admitted because COUNT(cents) rides in the view:
      post-merge COUNT(cents)=0 restores SQL's NULL where the bare
      merged-delta arithmetic would leave a spurious 0 (the ADVICE r11
      divergence, lifted by paying one companion column).

    Same DELETE + UPDATE + INSERT window as `mv_changelog_refresh`
    (NULL measures ride through all three commits — cents+1000 stays
    NULL, the new group contains NULLs); mode == delta asserted, no
    fallback reason; oracle recomputes the mutated fact from scratch.

    Scale shape: unchanged from the plain delta gate — O(window) read,
    one keyed MERGE; the companions cost two bigint columns in the
    backing table, not a recompute."""
    import tempfile as _tf

    t_in = load_tables(spark, sf_dir, ("orders",))
    eng = Engine(spark, _tf.mkdtemp(prefix="glacier_mvda_"))
    base = t_in["orders"].select(
        "o_orderkey", "o_orderpriority",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .alias("cents"))
    src = eng.catalog.create_table(
        "db.ord_av",
        "o_orderkey bigint not null, o_orderpriority string not null, "
        "cents bigint")  # cents NULLABLE — the companion pays for it
    src.append(base)
    eng.register("db.ord_av")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvda AS "
        "SELECT o_orderpriority, SUM(cents) AS total_cents, "
        "COUNT(cents) AS cnt_vals, AVG(cents) AS avg_cents, "
        "COUNT(*) AS cnt FROM db_ord_av GROUP BY o_orderpriority"
    )
    src.delete_where("o_orderkey % 7 = 0")
    src.update_where({"cents": "cents + 1000"}, "o_orderkey % 5 = 0")
    src.append(base.filter("o_orderkey % 7 = 0").select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("9-NEW").alias("o_orderpriority"), "cents"))
    eng.sql("REFRESH MATERIALIZED VIEW mvda DELTA")
    assert eng.mv.last_refresh_mode == "delta", eng.mv.last_refresh_mode
    assert eng.mv.last_refresh_fallback_reason is None, \
        eng.mv.last_refresh_fallback_reason
    mv = eng.mv_catalog.get("mvda")
    return (eng.mv.backing_df(mv)
            .select("o_orderpriority", "total_cents", "cnt_vals",
                    "avg_cents", "cnt")
            .orderBy("o_orderpriority"))


@query(
    "mv_changelog_refresh_minmax",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    app1 AS (
      SELECT o_orderkey + 100000000 AS o_orderkey,
             '9-NEW' AS o_orderpriority, cents
      FROM base WHERE o_orderkey % 9 = 0
    ),
    app2 AS (
      SELECT o_orderkey + 200000000 AS o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 2 = 0 THEN cents * 3
                  ELSE cents // 3 END AS cents
      FROM base WHERE o_orderkey % 11 = 0
    ),
    final AS (SELECT * FROM base
              UNION ALL SELECT * FROM app1
              UNION ALL SELECT * FROM app2)
    SELECT o_orderpriority,
           CAST(MIN(cents) AS BIGINT) AS lo,
           CAST(MAX(cents) AS BIGINT) AS hi,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def mv_changelog_refresh_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX delta maintenance for INSERT-ONLY windows (round 12,
    beyond the SUM/COUNT restriction): under pure inserts a group's
    extremum can move in one direction only, so the window extremum
    merges exactly with least/greatest — the append-only fact-table
    case (event logs, crawl ingests, market ticks) where MIN/MAX
    rollups are routine. The gate streams two APPEND commits through
    ``REFRESH … DELTA``: a brand-new group and a batch that raises
    maxima (cents×3) and lowers minima (cents÷3) on existing groups;
    mode == delta asserted, no fallback reason. A window containing
    any delete/update image refuses (one LIMIT-1 probe; an extremum
    retraction cannot be delta-folded — pytest pins the refusal and
    the exact fallback), so correctness is never traded for the fold.

    Scale shape: same O(window commits) + one keyed MERGE as the other
    delta gates; the insert-only probe reads at most one changelog row.
    The reference stubs ALL MV refresh as full recompute
    (docs/starrocks-mv-features.md:56-58)."""
    import tempfile as _tf

    t_in = load_tables(spark, sf_dir, ("orders",))
    eng = Engine(spark, _tf.mkdtemp(prefix="glacier_mvmm_"))
    base = t_in["orders"].select(
        "o_orderkey", "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    src = eng.catalog.create_table(
        "db.ord_mm",
        "o_orderkey bigint not null, o_orderpriority string not null, "
        "cents bigint not null")
    src.append(base)
    eng.register("db.ord_mm")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvmm AS "
        "SELECT o_orderpriority, MIN(cents) AS lo, MAX(cents) AS hi, "
        "SUM(cents) AS total_cents, COUNT(*) AS cnt "
        "FROM db_ord_mm GROUP BY o_orderpriority"
    )
    src.append(base.filter("o_orderkey % 9 = 0").select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("9-NEW").alias("o_orderpriority"), "cents"))
    src.append(base.filter("o_orderkey % 11 = 0").select(
        (F.col("o_orderkey") + 200000000).alias("o_orderkey"),
        "o_orderpriority",
        F.expr("CASE WHEN o_orderkey % 2 = 0 THEN cents * 3 "
               "ELSE cents div 3 END").alias("cents")))
    eng.sql("REFRESH MATERIALIZED VIEW mvmm DELTA")
    assert eng.mv.last_refresh_mode == "delta", eng.mv.last_refresh_mode
    assert eng.mv.last_refresh_fallback_reason is None, \
        eng.mv.last_refresh_fallback_reason
    mv = eng.mv_catalog.get("mvmm")
    return (eng.mv.backing_df(mv)
            .select("o_orderpriority", "lo", "hi", "total_cents", "cnt")
            .orderBy("o_orderpriority"))


@query(
    "mv_join_changelog_refresh_dim",
    oracle="""
    WITH fact AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    dim AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN 'RESEG'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
      WHERE c_custkey % 11 <> 0
    )
    SELECT d.c_mktsegment,
           CAST(SUM(f.cents) AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM fact f JOIN dim d ON f.o_custkey = d.c_custkey
    GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment
    """,
)
def mv_join_changelog_refresh_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMENSION-side delta maintenance (VERDICT r11 #3 — round 11's
    one remaining full-recompute cliff): the customer dimension is
    re-segmented (UPDATE flips a third of the customers to a brand-new
    segment) and pruned (DELETE drops every 11th customer, removing
    their orders from the inner join) while the FACT table does not
    move. The two-sided telescoping decomposition folds the window as
    F_head ⋈ ΔD — the dim changelog's signed images joined against the
    pinned fact state re-key exactly the affected orders, growing the
    new RESEG group, shrinking the donors, and draining the deleted
    customers' contributions — through the same single keyed MERGE as
    the fact-only path. The gate asserts ``last_refresh_mode ==
    "delta"`` (and no recorded fallback reason), so a silent recompute
    cannot pass; the oracle recomputes the mutated fact⋈dim aggregate
    from scratch in exact integer cents.

    Scale shape: dimension corrections are routine at 100 TB (a
    re-segmentation touches thousands of dim rows, never the fact
    table) — this keeps MV maintenance O(dim window ⋈ fact partitions
    on the join key), with the changelog side small enough to
    broadcast, instead of O(fact) per correction.

    Reference parity: docs/starrocks-mv-features.md:56-58 stubs ALL MV
    refresh as full recompute — both sides of this gate are beyond it."""
    import tempfile as _tf

    t_in = load_tables(spark, sf_dir, ("orders", "customer"))
    eng = Engine(spark, _tf.mkdtemp(prefix="glacier_mvjdd_"))
    fact = t_in["orders"].select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    src = eng.catalog.create_table(
        "db.ord_fd",
        "o_orderkey bigint not null, o_custkey bigint not null, "
        "cents bigint not null")
    src.append(fact)
    dim = eng.catalog.create_table_as(
        "db.cust_dd", t_in["customer"].select("c_custkey", "c_mktsegment"))
    eng.register("db.ord_fd")
    eng.register("db.cust_dd")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvjdd AS "
        "SELECT c.c_mktsegment, SUM(f.cents) AS total_cents, "
        "COUNT(*) AS cnt FROM db_ord_fd f "
        "JOIN db_cust_dd c ON f.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment"
    )
    # dimension-only window: re-segment a third, drop every 11th
    dim.update_where({"c_mktsegment": "'RESEG'"}, "c_custkey % 3 = 0")
    dim.delete_where("c_custkey % 11 = 0")
    eng.sql("REFRESH MATERIALIZED VIEW mvjdd DELTA")
    assert eng.mv.last_refresh_mode == "delta", eng.mv.last_refresh_mode
    assert eng.mv.last_refresh_fallback_reason is None, \
        eng.mv.last_refresh_fallback_reason
    mv = eng.mv_catalog.get("mvjdd")
    assert mv.source_snapshots["db_cust_dd"][1] == \
        dim.metadata.current_snapshot().snapshot_id, "dim did not sync"
    return (eng.mv.backing_df(mv)
            .select("c_mktsegment", "total_cents", "cnt")
            .orderBy("c_mktsegment"))


@query(
    "streaming_mv_delta_refresh",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def streaming_mv_delta_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MV maintenance (VERDICT r11 #6): an aggregate MV over a
    streamed-into fact table stays fresh PER MICRO-BATCH by composing
    the ``REFRESH … DELTA`` net-changelog fold with ``foreachBatch`` —
    each batch's epoch-stamped append is one commit, and the delta
    refresh folds exactly that commit's changelog window into the
    backing table through one keyed MERGE. The gate drains the orders
    stream (availableNow, 4 source files, maxFilesPerTrigger=1 → ≥4
    micro-batches), asserts ``last_refresh_mode == "delta"`` for EVERY
    batch (a single silent full recompute fails the gate), and returns
    the final backing table — which the oracle pins to a from-scratch
    aggregate over the whole source.

    Replay safety rides two idempotence layers: the batch append is
    guarded by the (checkpoint, batch_id) epoch stamp exactly like the
    bloom-guarded dedup ingest (a re-delivered batch skips the append),
    and the delta MERGE stamps its applied changelog window on the
    backing snapshot, so the crash window between MERGE and catalog
    advance re-applies as a no-op (``_merge_group_deltas`` stamp;
    pytest-pinned in test_round12_fixes).

    Scale shape: per batch the ONLY data read is that batch's changelog
    window; MV freshness cost is O(batch), independent of the
    accumulated fact table and of MV size — at 100 TB/day this is what
    keeps a continuously-ingested rollup queryable at batch latency
    instead of nightly-recompute latency."""
    import os as _os

    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.streaming.pipeline import _batch_summary

    # stage the orders fact (exact integer cents) as a 4-file source dir
    src_dir = scratch_path(f"glacier_src_mvsd_{_sf_tag(sf_dir)}")
    if not _os.path.exists(f"{src_dir}/_SUCCESS"):
        (load_tables(spark, sf_dir, ("orders",))["orders"]
         .select("o_orderkey", "o_orderpriority",
                 F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents"))
         .repartition(4).write.mode("overwrite").parquet(src_dir))
    schema = spark.read.parquet(src_dir).schema

    eng = Engine(spark, tempfile.mkdtemp(prefix="glacier_mvsd_"))
    t = eng.catalog.create_table(
        "db.ord_stream",
        "o_orderkey bigint not null, o_orderpriority string not null, "
        "cents bigint not null")
    # seed an EMPTY snapshot so the MV records a sync point and every
    # micro-batch (including the first) refreshes through the delta path
    t.append(spark.read.parquet(src_dir).limit(0))
    eng.register("db.ord_stream")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvsd AS "
        "SELECT o_orderpriority, SUM(cents) AS total_cents, "
        "COUNT(*) AS cnt FROM db_ord_stream GROUP BY o_orderpriority")

    ck = _fresh_ckpt(sf_dir, "mvsd")
    modes: list[str] = []

    def write_batch(batch_df: DataFrame, batch_id: int):
        done = next((s for s in t.metadata.snapshots
                     if s.summary.get("streaming-batch-id") == str(batch_id)
                     and s.summary.get("streaming-checkpoint") == ck), None)
        if done is None:
            t.append(batch_df, summary=_batch_summary(batch_id, ck))
        # the delta-window stamp makes a replayed refresh a no-op fold
        eng.mv.refresh("mvsd", delta=True)
        modes.append(eng.mv.last_refresh_mode)

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(src_dir)
         .writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", ck)
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()

    assert len(modes) >= 2, f"expected multiple micro-batches, got {modes}"
    assert all(m == "delta" for m in modes), modes
    mv = eng.mv_catalog.get("mvsd")
    assert mv.source_snapshots["db_ord_stream"][1] == \
        t.metadata.current_snapshot().snapshot_id, "stream did not sync"
    return (eng.mv.backing_df(mv)
            .select("o_orderpriority", "total_cents", "cnt")
            .orderBy("o_orderpriority"))


# -- streaming ingest under the value gate ---------------------------------

@query(
    "streaming_ingest_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    LIMIT 100
    """,
)
def streaming_ingest_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow micro-batch ingest of events into a table, then hourly
    rollup over the ingested snapshots — equals batch SQL over the source."""
    from iceberg_demo_spark.streaming import stream_to_table

    src_dir = _stage_events_src(spark, sf_dir, "ingest")
    schema = spark.read.parquet(src_dir).schema
    cat = _scratch(spark)
    t = cat.create_table(
        "db.ev", [(f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields]
    )
    stream_to_table(spark, src_dir, schema, t, _fresh_ckpt(sf_dir, "ingest"),
                    max_files_per_trigger=2)
    t.refresh()
    return (
        t.scan()
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("hour_start", "event_type")
        .limit(100)
    )


# -- schema evolution under the value gate ---------------------------------

@query(
    "schema_evolution_read",
    oracle="""
    SELECT n_nationkey AS key, n_name AS name,
           CAST(NULL AS VARCHAR) AS continent
    FROM nation
    UNION ALL
    SELECT n_nationkey + 100 AS key, n_name AS name, 'X' AS continent
    FROM nation
    ORDER BY key
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows written before add-column/rename read back NULL-filled and under
    the new names (iceberg_it.py:342-365 evolution semantics)."""
    t_in = load_tables(spark, sf_dir, ("nation",))
    cat = _scratch(spark)
    nat = t_in["nation"].select("n_nationkey", "n_name")
    t = cat.create_table_as("db.evo", nat)
    t.add_column("continent", "string")
    t.append(
        nat.select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"),
            "n_name", F.lit("X").alias("continent"),
        )
    )
    t.rename_column("n_nationkey", "key")
    t.rename_column("n_name", "name")
    return t.scan().orderBy("key")


# -- static partition overwrite --------------------------------------------

@query(
    "insert_overwrite_static",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n_rows,
           MIN(n_name) AS first_name
    FROM (
      SELECT n_regionkey, n_name FROM nation WHERE n_regionkey <> 0
      UNION ALL
      SELECT 0 AS n_regionkey, 'REPLACED' AS n_name
    )
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
)
def insert_overwrite_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static INSERT OVERWRITE PARTITION (docs/spark-writes.md:145-162):
    the partition named by the clause is cleared and replaced."""
    t_in = load_tables(spark, sf_dir, ("nation",))
    cat = _scratch(spark)
    t = cat.create_table(
        "db.nat_static", "n_regionkey bigint, n_name string",
        partition_by=[("n_regionkey",)],
    )
    t.append(t_in["nation"].select(F.col("n_regionkey").cast("bigint"), "n_name"))
    repl = spark.createDataFrame([(0, "REPLACED")], "n_regionkey bigint, n_name string")
    t.overwrite_where(repl, "n_regionkey = 0")  # static: clause -> delete filter
    return (
        t.scan()
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.min("n_name").alias("first_name"))
        .orderBy("n_regionkey")
    )


# -- MERGE: WHEN NOT MATCHED BY SOURCE -------------------------------------

@query(
    "merge_not_matched_by_source",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 0 THEN n_name ELSE 'ARCHIVED' END AS name
    FROM nation
    ORDER BY n_nationkey
    """,
)
def merge_not_matched_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE archiving rows absent from the source
    (iceberg_it.py:1474-1500, docs/spark-writes.md:99-103)."""
    t_in = load_tables(spark, sf_dir, ("nation",))
    cat = _scratch(spark)
    t = cat.create_table_as(
        "db.nat_arch", t_in["nation"].select("n_nationkey", "n_name", "n_regionkey")
    )
    src = t_in["nation"].filter("n_regionkey = 0").select(
        F.col("n_nationkey").alias("key")
    )
    t.merge(
        src, on="t.n_nationkey = s.key",
        matched=[{"action": "update", "set": {"n_name": "t.n_name"}}],
        not_matched_by_source=[{"action": "update", "set": {"n_name": "'ARCHIVED'"}}],
    )
    return t.scan().select("n_nationkey", F.col("n_name").alias("name")).orderBy("n_nationkey")


# -- incremental read -------------------------------------------------------

@query(
    "incremental_read_appends",
    oracle="""
    SELECT r_regionkey + 100 AS key, r_name AS name FROM region
    UNION ALL
    SELECT r_regionkey + 200 AS key, r_name AS name FROM region
    ORDER BY key
    """,
)
def incremental_read_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """start-snapshot-id incremental read returns only post-snapshot appends
    (docs/spark-queries.md:193-212)."""
    t_in = load_tables(spark, sf_dir, ("region",))
    reg = t_in["region"].select(F.col("r_regionkey").cast("bigint").alias("key"),
                                F.col("r_name").alias("name"))
    cat = _scratch(spark)
    t = cat.create_table_as("db.reg_inc", reg)
    s1 = t.metadata.current_snapshot().snapshot_id
    t.append(reg.withColumn("key", F.col("key") + 100))
    t.append(reg.withColumn("key", F.col("key") + 200))
    return t.scan_incremental(start_snapshot_id=s1).orderBy("key")


# -- partition evolution under the value gate -------------------------------

@query(
    "partition_evolution_read",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def partition_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write half the rows unpartitioned, ADD PARTITION FIELD, write the
    rest (new layout), then aggregate across both layouts — partition
    evolution must be invisible to readers (iceberg_it.py:367-389)."""
    t_in = load_tables(spark, sf_dir, ("orders",))
    orders = t_in["orders"].select("o_orderkey", "o_orderpriority", "o_totalprice")
    cat = _scratch(spark)
    t = cat.create_table(
        "db.ord_evo", "o_orderkey bigint, o_orderpriority string, o_totalprice double")
    t.append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.add_partition_field("o_orderpriority")  # evolve: later writes partitioned
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    # new files are partitioned, old are not — both must scan together
    parts = {tuple(f.partition.keys())
             for f in t.metadata.current_snapshot().files}
    assert () in parts and ("_p_o_orderpriority",) in parts, parts
    return (
        t.scan()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderpriority")
    )


# -- changelog UPDATE images under the value gate ---------------------------

@query(
    "changelog_update_images",
    oracle="""
    WITH updated AS (
      SELECT * FROM part WHERE p_size > 40
    )
    SELECT 'UPDATE_AFTER' AS change_type, COUNT(*) AS n,
           ROUND(SUM(p_retailprice * 1.1), 2) AS price_sum
    FROM updated
    UNION ALL
    SELECT 'UPDATE_BEFORE', COUNT(*), ROUND(SUM(p_retailprice), 2)
    FROM updated
    ORDER BY change_type
    """,
)
def changelog_update_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE with identifier fields set ⇒ the changelog pairs each change
    as UPDATE_BEFORE/UPDATE_AFTER images whose value sums expose both the
    pre- and post-update state (docs/spark-procedures.md:805-941)."""
    t_in = load_tables(spark, sf_dir, ("part",))
    cat = _scratch(spark)
    t = cat.create_table(
        "db.part_cdc",
        [("p_partkey", "bigint", False), ("p_retailprice", "double", True)])
    t.append(t_in["part"].select("p_partkey", "p_retailprice"))
    t.set_identifier_fields("p_partkey")
    big = t_in["part"].filter(F.col("p_size") > 40).select("p_partkey")
    # DataFrame-predicate UPDATE: the key set stays distributed (a join in
    # the MERGE plan), never a driver-side collect()→IN-list string.
    t.update_matching({"p_retailprice": "t.p_retailprice * 1.1"},
                      big, on="t.p_partkey = s.p_partkey")
    cl = proc.create_changelog_view(t, "part_changes")
    return (
        cl.filter(F.col("_change_type").startswith("UPDATE"))
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("p_retailprice"), 2).alias("price_sum"))
        .orderBy("change_type")
    )


# -- custom stateful streaming under the value gate ------------------------

_STREAM_SEQ = [0]


def _dup_event_stream_dir(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write the events table as micro-batch file 000 and an EXACT duplicate
    copy of the ``event_id % 5 = 0`` rows as file 001 (strictly newer
    mtime, so the file source delivers it in a later trigger). Because the
    re-delivered rows are byte-identical to their originals, every gate
    built on this source is deterministic no matter which copy "wins".
    Returns (source_dir, select-cols schema DDL)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    ddl = "event_id bigint, user_id bigint, event_type string, value double"
    # Deterministic per-sf paths (round-5 ADVICE fix — mkdtemp leaked a
    # fresh dir and rewrote the parquet on every bench rep / oracle
    # re-check): the content is a pure function of sf_dir, so a previously
    # staged source dir is reused as-is, mtime stagger included.
    from iceberg_demo_spark.operators.layout import _sf_tag

    tag = _sf_tag(sf_dir)
    out = scratch_path(f"glacier_stream_dup_{tag}")
    if all(_os.path.exists(f"{out}/{i:03d}.parquet") for i in (0, 1)):
        return out, ddl
    stage = scratch_path(f"glacier_stream_stage_{tag}")
    _os.makedirs(out, exist_ok=True)
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_id", "user_id", "event_type", "value")
    ev.coalesce(1).write.mode("overwrite").parquet(stage + "/f0")
    ev.filter(F.col("event_id") % 5 == 0).coalesce(1).write.mode(
        "overwrite").parquet(stage + "/f1")
    now = _time.time()
    for i in (0, 1):
        part = _glob.glob(f"{stage}/f{i}/part-*.parquet")[0]
        dst = f"{out}/{i:03d}.parquet"
        _shutil.copy(part, dst)
        _os.utime(dst, (now - 100 + i * 50, now - 100 + i * 50))
    _shutil.rmtree(stage, ignore_errors=True)
    return out, ddl


def _run_stateful(spark: SparkSession, src_dir: str, schema: str, op,
                  output_mode: str, label: str = "op") -> DataFrame:
    """Feed src_dir through ``op`` one file per micro-batch into a memory
    sink; return the sink contents.

    The checkpoint lives at a deterministic per-(label, source) path and is
    cleared before each start (round-5 ADVICE fix: mkdtemp leaked a dir per
    invocation across bench reps). It cannot be REUSED across invocations —
    a retained checkpoint would mark every source file already-processed
    while the fresh memory sink starts empty — so clean-then-recreate is
    the correct lifecycle, bounding residue to one dir per gate."""
    import os as _os
    import shutil as _shutil

    _STREAM_SEQ[0] += 1
    name = f"glacier_state_sink_{_STREAM_SEQ[0]}"
    from iceberg_demo_spark.operators.layout import _sf_tag

    ck = scratch_path(f"glacier_ck_{label}_{_sf_tag(src_dir)}")
    _shutil.rmtree(ck, ignore_errors=True)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src_dir)
    )
    q = (
        op(stream)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck)
        .outputMode(output_mode).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name)


@query(
    "streaming_stateful_dedup",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-micro-batch streaming dedup via applyInPandasWithState.

    20% of the events are re-delivered byte-identically in a LATER
    micro-batch; ``first_seen`` state (keyed on event_id, partitioned
    across the state store) must drop every re-delivery, so the rollup over
    the sink equals plain batch SQL over the single-copy source — the gate
    fails if even one duplicate leaks. The production sink would be an
    append to a table (streaming/pipeline.py::stream_to_table); the memory
    sink keeps the gate self-contained.

    Scale shape: per batch, only that batch's rows shuffle to their state
    partitions; state size ∝ distinct keys, not stream length.
    """
    from iceberg_demo_spark.streaming import first_seen

    src, ddl = _dup_event_stream_dir(spark, sf_dir)
    out = _run_stateful(
        spark, src, ddl, lambda s: first_seen(s, "event_id"), "append",
        label="dedup")
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.countDistinct("user_id").alias("n_users"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("event_type")
    )


@query(
    "streaming_running_counts",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(COUNT(*) + SUM(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS running_count
      FROM events
      GROUP BY user_id
    )
    SELECT running_count, COUNT(*) AS n_users
    FROM per_user
    GROUP BY running_count
    ORDER BY running_count
    """,
)
def streaming_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-key counts across micro-batches (update output mode).

    ``running_counts`` emits one updated total per touched key per batch;
    the final value per key (the max — totals are monotone) must equal the
    batch count INCLUDING the re-delivered 20% (counting, unlike dedup,
    sees every arrival). The histogram over final counts is compared
    value-exactly against DuckDB.
    """
    from iceberg_demo_spark.streaming import running_counts

    src, ddl = _dup_event_stream_dir(spark, sf_dir)
    out = _run_stateful(
        spark, src, ddl, lambda s: running_counts(s, "user_id"), "update",
        label="counts")
    return (
        out.groupBy("user_id").agg(F.max("n").alias("running_count"))
        .groupBy("running_count").agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("running_count")
    )


# -- SQL-text CTAS / RTAS under the value gate -----------------------------

@query(
    "sql_ctas_rtas",
    oracle="""
    SELECT r.r_name AS region,
           COUNT(*) AS n_nations,
           MIN(n.n_name) AS first_nation
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY region
    """,
)
def sql_ctas_rtas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-driven CTAS then RTAS through Engine.sql (the reference drives
    both purely via SQL text, iceberg_it.py:298-333): CREATE TABLE … AS
    SELECT materializes an aggregate, REPLACE TABLE … AS SELECT swaps in a
    different query's result while keeping table history. The returned
    content is the post-RTAS state."""
    t_in = load_tables(spark, sf_dir, ("nation", "region"))
    eng = Engine(spark, tempfile.mkdtemp(prefix="glacier_sqlddl_"))
    eng.catalog.create_table_as("db.nat", t_in["nation"])
    eng.catalog.create_table_as("db.reg", t_in["region"])
    eng.sql("""
        CREATE TABLE db.region_stats TBLPROPERTIES ('stage' = 'ctas')
        AS SELECT n_regionkey, count(*) AS n_nations
           FROM db.nat GROUP BY n_regionkey
    """)
    eng.sql("""
        REPLACE TABLE db.region_stats TBLPROPERTIES ('stage' = 'rtas')
        AS SELECT r.r_name AS region,
                  count(*) AS n_nations,
                  min(n.n_name) AS first_nation
           FROM db.nat n JOIN db.reg r ON n.n_regionkey = r.r_regionkey
           GROUP BY r.r_name
    """)
    t = eng.catalog.load_table("db.region_stats")
    assert t.properties.get("stage") == "rtas", "RTAS props not replaced"
    assert len(t.metadata.snapshots) >= 2, "RTAS must preserve history"
    return eng.sql("SELECT * FROM db.region_stats ORDER BY region")


@query(
    "stats_pruned_scan",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey BETWEEN 1000 AND 5000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column min/max file skipping on a NON-partition predicate (round 6).

    The table is written key-clustered (repartitionByRange on o_orderkey,
    one file per range) with NO partition spec; the write path harvests
    per-file lower/upper bounds from the parquet footers into the
    manifest entries — the reference's ``lower_bounds``/``upper_bounds``
    (docs/spark-queries.md:320-326). The BETWEEN predicate then prunes
    files driver-side purely from those bounds (asserted here: the plan
    must touch fewer files than the table holds), which partition pruning
    cannot do for this layout.

    Scale shape: this is THE 100 TB lever for selective point/range
    queries on clustered keys — candidate files ∝ predicate range, not
    table size, before any Spark job runs. Write-time clustering costs
    one range shuffle; every subsequent selective read skips cold files
    entirely (and, through the manifest summaries, whole manifests).
    """
    t_in = load_tables(spark, sf_dir, ("orders",))
    cat = _scratch(spark)
    t = cat.create_table(
        "db.ord_clustered",
        "o_orderkey bigint, o_orderstatus string, o_totalprice double")
    t.append(
        t_in["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey"))
    cond = "o_orderkey BETWEEN 1000 AND 5000"
    all_files = t._branch_files("main")
    kept = t._prune_files(all_files, cond)
    assert len(kept) < len(all_files), (
        "stats pruning must skip files on the clustered key")
    from iceberg_demo_spark.functions import dsum

    return (
        t.scan(where=cond)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             dsum(F.col("o_totalprice")).alias("total_price"))
        .orderBy("o_orderstatus")
    )


@query(
    "streaming_dim_join",
    oracle="""
    SELECT c.c_mktsegment AS segment, e.event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join (round 6): the event stream is
    enriched INSIDE the streaming query by joining the static customer
    dimension, each micro-batch commits the enriched rows as one
    snapshot, and the final table state equals the batch join+aggregate.

    Scale shape: the static side is broadcast per micro-batch, so the
    stream side is never shuffled for the join (the standard enrich
    pattern for a 100 TB/day event firehose against a dimension that
    fits the broadcast budget); aggregate state here is zero because the
    rollup runs over the SINK table, not the stream."""
    from iceberg_demo_spark.streaming import stream_to_table

    t_in = load_tables(spark, sf_dir, ("events", "customer"))
    src_dir = _stage_events_src(spark, sf_dir, "sdj")
    schema = spark.read.parquet(src_dir).schema
    dim = t_in["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")

    def enrich(df: DataFrame) -> DataFrame:
        return df.join(F.broadcast(dim), "user_id")

    cat = _scratch(spark)
    sample = enrich(t_in["events"]).schema
    t = cat.create_table(
        "db.ev_enriched",
        [(f.name, f.dataType.simpleString(), f.nullable)
         for f in sample.fields])
    stream_to_table(spark, src_dir, schema, t,
                    _fresh_ckpt(sf_dir, "sdj"),
                    max_files_per_trigger=2, transform=enrich)
    t.refresh()
    from iceberg_demo_spark.functions import dsum

    return (
        t.scan()
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum(F.col("value")).alias("total_value"))
        .orderBy("segment", "event_type")
    )


@query(
    "streaming_upsert_cdc",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type AS last_event_type,
           ROUND(value, 2) AS last_value, ts AS last_ts
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def streaming_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert (round 6): the event stream MERGEs into a
    per-user state table batch by batch with a newer-than guard, so the
    final table holds exactly each user's latest event no matter how
    rows are split across micro-batches — equal to the batch
    row_number-over-(ts,event_id) answer."""
    from iceberg_demo_spark.streaming.pipeline import stream_upsert_to_table

    src_dir = _stage_events_src(
        spark, sf_dir, "cdc",
        cols=("event_id", "ts", "user_id", "event_type", "value"))
    schema = spark.read.parquet(src_dir).schema
    cat = _scratch(spark)
    t = cat.create_table(
        "db.user_state",
        [(f.name, f.dataType.simpleString(), f.nullable)
         for f in schema.fields])
    stream_upsert_to_table(
        spark, src_dir, schema, t, _fresh_ckpt(sf_dir, "cdc"),
        key_cols=["user_id"], order_cols=["ts", "event_id"],
        max_files_per_trigger=2)
    t.refresh()
    return (
        t.scan()
        .select("user_id", F.col("event_type").alias("last_event_type"),
                F.round("value", 2).alias("last_value"),
                F.col("ts").alias("last_ts"))
        .orderBy("user_id")
    )


def _stage_ssj_source(spark: SparkSession, sf_dir: str):
    """Deterministic per-sf staging of the events stream for the
    stream-stream join gate (4 files → multiple micro-batches)."""
    ddl = "event_id bigint, user_id bigint, event_type string, ts timestamp"
    out = _stage_events_src(
        spark, sf_dir, "ssj",
        cols=("event_id", "user_id", "event_type",
              F.col("ts").cast("timestamp").alias("ts")))
    return out, ddl


@query(
    "streaming_stream_stream_join",
    oracle="""
    WITH pairs AS (
      SELECT v.user_id,
             v.event_id AS view_id, u.event_id AS purchase_id,
             date_diff('microsecond', v.ts, u.ts) AS delay_us
      FROM events v JOIN events u
        ON v.user_id = u.user_id
       AND v.event_type = 'view' AND u.event_type = 'purchase'
       AND u.ts >= v.ts AND u.ts <= v.ts + INTERVAL 1 HOUR
    )
    SELECT COUNT(*) AS n_pairs,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT view_id) AS n_views_matched,
           COUNT(DISTINCT purchase_id) AS n_purchases_matched,
           MIN(delay_us) AS min_delay_us,
           MAX(delay_us) AS max_delay_us
    FROM pairs
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: views joined to purchases by the same
    user within 1 hour, both sides streaming, committed per micro-batch
    into an engine table; the sink's final state must equal the batch
    self-join (the DuckDB oracle).

    The watermark delay exceeds the bounded source's 30-day span so no
    state is evicted mid-drain (see stream_stream_join_to_table's
    docstring for the production state-bound argument); maxFilesPerTrigger
    forces multiple micro-batches so cross-batch pairs really flow
    through the join state buffers. delay_us is integer microsecond
    arithmetic — nothing to round.
    """
    from iceberg_demo_spark.streaming.pipeline import (
        stream_stream_join_to_table,
    )

    src, _ddl = _stage_ssj_source(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    cat = _scratch(spark)
    t = cat.create_table(
        "db.ssj_pairs",
        "user_id bigint, view_id bigint, purchase_id bigint, delay_us bigint")
    stream_stream_join_to_table(
        spark, src, schema, t, _fresh_ckpt(sf_dir, "ssj"),
        max_files_per_trigger=1)
    t.refresh()
    return t.scan().agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct("view_id").alias("n_views_matched"),
        F.count_distinct("purchase_id").alias("n_purchases_matched"),
        F.min("delay_us").alias("min_delay_us"),
        F.max("delay_us").alias("max_delay_us"),
    )


# -- Streaming: continuous ingest dedup against a growing hash index -------

def _dedup_ingest_src(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic 3-file staging of the ingest docs (doc_id % 5 = 0,
    the same batch split as the dedup_incremental_* gates): file i holds
    the docs with (doc_id div 5) % 3 = i, mtimes staggered ascending so
    the file stream source processes them as micro-batches 0,1,2 in that
    order — the batch assignment the oracle reproduces arithmetically.
    Reused across invocations (content is a pure function of sf_dir)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    from iceberg_demo_spark.operators.layout import _sf_tag

    tag = _sf_tag(sf_dir)
    out = scratch_path(f"glacier_stream_docs_{tag}")
    if all(_os.path.exists(f"{out}/{i:03d}.parquet") for i in range(3)):
        return out
    stage = scratch_path(f"glacier_stream_docs_stage_{tag}")
    _os.makedirs(out, exist_ok=True)
    docs = (load_tables(spark, sf_dir, ("documents",))["documents"]
            .select("doc_id", "source", "n_chars", "text")
            .filter("doc_id % 5 = 0"))
    for i in range(3):
        (docs.filter(F.expr(f"(doc_id div 5) % 3 = {i}"))
         .coalesce(1).write.mode("overwrite").parquet(f"{stage}/f{i}"))
    now = _time.time()
    for i in range(3):
        part = _glob.glob(f"{stage}/f{i}/part-*.parquet")[0]
        dst = f"{out}/{i:03d}.parquet"
        _shutil.copy(part, dst)
        _os.utime(dst, (now - 300 + i * 50, now - 300 + i * 50))
    _shutil.rmtree(stage, ignore_errors=True)
    return out


@query(
    "streaming_dedup_ingest",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, (doc_id // 5) % 3 AS b,
             md5(substr(text, s::INT, 64)) AS wh
      FROM documents,
           UNNEST(range(1, greatest(n_chars - 63, 1) + 1, 32)) AS t(s)
      WHERE doc_id % 5 = 0
    ),
    corpus AS (
      SELECT DISTINCT md5(substr(text, s::INT, 64)) AS wh
      FROM documents,
           UNNEST(range(1, greatest(n_chars - 63, 1) + 1, 32)) AS t(s)
      WHERE doc_id % 5 <> 0
    ),
    d0 AS (SELECT DISTINCT w.doc_id FROM w JOIN corpus c ON w.wh = c.wh
           WHERE w.b = 0),
    k0 AS (SELECT DISTINCT doc_id FROM w
           WHERE b = 0 AND doc_id NOT IN (SELECT doc_id FROM d0)),
    i1 AS (SELECT wh FROM corpus
           UNION SELECT w.wh FROM w JOIN k0 USING (doc_id)),
    d1 AS (SELECT DISTINCT w.doc_id FROM w JOIN i1 ON w.wh = i1.wh
           WHERE w.b = 1),
    k1 AS (SELECT DISTINCT doc_id FROM w
           WHERE b = 1 AND doc_id NOT IN (SELECT doc_id FROM d1)),
    i2 AS (SELECT wh FROM i1
           UNION SELECT w.wh FROM w JOIN k1 USING (doc_id)),
    d2 AS (SELECT DISTINCT w.doc_id FROM w JOIN i2 ON w.wh = i2.wh
           WHERE w.b = 2),
    k2 AS (SELECT DISTINCT doc_id FROM w
           WHERE b = 2 AND doc_id NOT IN (SELECT doc_id FROM d2)),
    kept AS (SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1
             UNION ALL SELECT doc_id FROM k2),
    docs AS (SELECT DISTINCT doc_id, source FROM w)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_ingested,
           CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped
    FROM docs d LEFT JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
)
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous streaming dedup: three document micro-batches flow
    through stream_dedup_to_table, each probed against a hash index
    seeded with the standing corpus (doc_id % 5 <> 0) and GROWN by every
    kept doc's hashes — so a batch-2 doc duplicating a doc accepted in
    batch 0 is dropped even though neither is in the original corpus.
    The final clean table's per-source keep/drop accounting must equal
    the oracle's unrolled batch-by-batch recursion. Dropped docs do NOT
    grow the index (their content is already represented) — the
    kept-only policy both engines implement.

    Scale shape: see stream_dedup_to_table — per batch O(batch) hash +
    probe work, index grows by novel digests only, ingested text is
    never re-read. The per-invocation index seed is this gate's test
    harness; production seeds once and the stream runs forever."""
    import shutil as _shutil

    from iceberg_demo_spark.operators.dedup import _ingest_windows
    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.streaming.pipeline import stream_dedup_to_table

    src = _dedup_ingest_src(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    # the stream MUTATES the index, so it is re-seeded fresh per
    # invocation (contrast ensure_dedup_index, which is immutable)
    idx_dir = scratch_path(f"glacier_stream_idx_{_sf_tag(sf_dir)}")
    _shutil.rmtree(idx_dir, ignore_errors=True)
    corpus_docs = (load_tables(spark, sf_dir, ("documents",))["documents"]
                   .filter("doc_id % 5 <> 0"))
    (_ingest_windows(corpus_docs).select("wh").distinct()
     .write.mode("overwrite").parquet(idx_dir))

    cat = _scratch(spark)
    t = cat.create_table(
        "db.docs_clean",
        [(f.name, f.dataType.simpleString(), f.nullable)
         for f in schema.fields])
    stream_dedup_to_table(
        spark, src, schema, t, _fresh_ckpt(sf_dir, "sdi"), idx_dir,
        _ingest_windows, max_files_per_trigger=1)
    t.refresh()
    kept = (t.scan().groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept")))
    ingested = (spark.read.parquet(src).groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_ingested")))
    return (ingested.join(kept, "source", "left")
            .select("source", "n_ingested",
                    F.coalesce("n_kept", F.lit(0)).cast("bigint")
                     .alias("n_kept"),
                    (F.col("n_ingested") - F.coalesce("n_kept", F.lit(0)))
                     .cast("bigint").alias("n_dropped"))
            .orderBy("source"))


def _bloom_stream_oracle() -> str:
    """Unrolled 3-batch oracle for streaming_bloom_guarded_dedup: the
    streaming_dedup_ingest recursion PLUS the bit-exact Bloom filter —
    seeded from the standing corpus at the KMV-derived geometry
    (sketches._BLOOM_SIZE_SQL), folded with each batch's novel kept
    digests, probed per batch at window level. Replays probe volume,
    hits, and keep/drop exactly."""
    from iceberg_demo_spark.operators.sketches import _BLOOM_SIZE_SQL

    def pos(src: str) -> str:
        return (f"SELECT wh, CAST(('0x' || substr(md5(wh || '#' || "
                f"t.i::VARCHAR), 1, 13))::UBIGINT AS BIGINT) % s.m AS pos"
                f" FROM {src}, size s, UNNEST(range(0, s.k)) AS t(i)")

    parts = [f"""w AS (
      SELECT doc_id, source, (doc_id // 5) % 3 AS b,
             md5(substr(text, s::INT, 64)) AS wh
      FROM documents,
           UNNEST(range(1, greatest(n_chars - 63, 1) + 1, 32)) AS t(s)
      WHERE doc_id % 5 = 0
    ),
    corpus AS (
      SELECT DISTINCT md5(substr(text, s::INT, 64)) AS wh
      FROM documents,
           UNNEST(range(1, greatest(n_chars - 63, 1) + 1, 32)) AS t(s)
      WHERE doc_id % 5 <> 0
    ),
    {_BLOOM_SIZE_SQL.strip()},
    idx0 AS (SELECT wh FROM corpus),
    filt0 AS (
      SELECT pos // 63 AS word, bit_or(CAST(1 AS BIGINT) << (pos % 63)) AS wv
      FROM ({pos('corpus')}) GROUP BY pos // 63
    )"""]
    stats = []
    for i in range(3):
        j = i + 1
        parts.append(f"""
    wh{i} AS (SELECT DISTINCT wh FROM w WHERE b = {i}),
    mem{i} AS (
      SELECT p.wh, MIN((COALESCE(f.wv, 0) >> (p.pos % 63)) & 1) AS member
      FROM ({pos(f'wh{i}')}) p
      LEFT JOIN filt{i} f ON f.word = p.pos // 63
      GROUP BY p.wh
    ),
    probed{i} AS (SELECT wh FROM mem{i} WHERE member = 1),
    hit{i} AS (SELECT p.wh FROM probed{i} p
               WHERE p.wh IN (SELECT wh FROM idx{i})),
    d{i} AS (SELECT DISTINCT w.doc_id FROM w
             JOIN hit{i} h ON w.wh = h.wh WHERE w.b = {i}),
    k{i} AS (SELECT DISTINCT doc_id FROM w WHERE b = {i}
             AND doc_id NOT IN (SELECT doc_id FROM d{i})),
    novel{i} AS (
      SELECT DISTINCT w.wh FROM w JOIN k{i} USING (doc_id)
      WHERE w.b = {i} AND w.wh NOT IN (SELECT wh FROM idx{i})
    ),
    idx{j} AS (SELECT wh FROM idx{i} UNION ALL SELECT wh FROM novel{i}),
    filt{j} AS (
      SELECT word, bit_or(wv) AS wv FROM (
        SELECT word, wv FROM filt{i}
        UNION ALL
        SELECT pos // 63 AS word,
               bit_or(CAST(1 AS BIGINT) << (pos % 63)) AS wv
        FROM ({pos(f'novel{i}')}) GROUP BY pos // 63
      ) GROUP BY word
    )""")
        stats.append(f"""
    SELECT CAST({i} AS BIGINT) AS batch,
           (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT)
            FROM w WHERE b = {i}) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM wh{i}) AS n_windows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM probed{i}) AS n_probed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hit{i}) AS n_hits,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM k{i}) AS n_kept,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d{i}) AS n_dropped""")
    return ("WITH " + ",".join(parts) + "\n"
            + " UNION ALL ".join(stats) + " ORDER BY batch")


@query("streaming_bloom_guarded_dedup", oracle=_bloom_stream_oracle())
def streaming_bloom_guarded_dedup(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """streaming_dedup_ingest with the sized BLOOM FILTER in front of
    the index probe (VERDICT r9 #8, the sketch tier composed into the
    streaming tier): the filter is seeded from the standing corpus
    digests at the KMV-derived geometry (sketch_bloom_membership's
    sizing), broadcast into every micro-batch, and only bloom-POSITIVE
    windows touch the growing hash index; kept docs' novel digests fold
    into BOTH the index and the filter, so later batches see them in
    the guard too. No false negatives by construction — the kept/drop
    outcome is bit-identical to the unguarded stream — and the oracle
    value-pins the PROBE-VOLUME accounting per batch (windows, probed,
    hits, kept, dropped): wasted index reads are bounded by
    (probed − hits), i.e. true dups + the filter's measured fp share.

    Scale shape: the guard turns the per-batch index semi-join into a
    map-side broadcast test for the (overwhelming at 100 TB) novel
    share of windows; only the probed residue pays index I/O. Filter
    maintenance is a KB-scale read-modify-write per batch; geometry is
    re-sized at maintenance windows (the KMV estimate rides the index),
    never per batch."""
    import os
    import shutil as _shutil

    from iceberg_demo_spark.operators.dedup import _ingest_windows
    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.operators.sketches import (
        bloom_geometry, bloom_words, kmv_count_estimate)
    from iceberg_demo_spark.streaming.pipeline import stream_dedup_to_table

    src = _dedup_ingest_src(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    # the stream MUTATES index + filter, so both re-seed per invocation
    tag = _sf_tag(sf_dir)
    idx_dir = scratch_path(f"glacier_streamb_idx_{tag}")
    bloom_dir = scratch_path(f"glacier_streamb_bloom_{tag}")
    stats_dir = scratch_path(f"glacier_streamb_stats_{tag}")
    for d in (idx_dir, bloom_dir, stats_dir):
        _shutil.rmtree(d, ignore_errors=True)
    corpus_docs = (load_tables(spark, sf_dir, ("documents",))["documents"]
                   .filter("doc_id % 5 <> 0"))
    (_ingest_windows(corpus_docs).select("wh").distinct()
     .write.mode("overwrite").parquet(idx_dir))
    idx = spark.read.parquet(idx_dir)
    n_est = kmv_count_estimate(idx, "wh")
    _, m_bits, k_h = bloom_geometry(n_est)
    (bloom_words(idx, "wh", m_bits, k_h)
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(bloom_dir, "words")))
    spark.createDataFrame([(n_est, m_bits, k_h)],
                          "n BIGINT, m BIGINT, k BIGINT")\
        .coalesce(1).write.mode("overwrite")\
        .parquet(os.path.join(bloom_dir, "geom"))

    cat = _scratch(spark)
    t = cat.create_table(
        "db.docs_clean_bloom",
        [(f.name, f.dataType.simpleString(), f.nullable)
         for f in schema.fields])
    stream_dedup_to_table(
        spark, src, schema, t, _fresh_ckpt(sf_dir, "sbd"), idx_dir,
        _ingest_windows, max_files_per_trigger=1,
        bloom_dir=bloom_dir, stats_dir=stats_dir)
    return spark.read.parquet(stats_dir).orderBy("batch")


# -- Custom Python DataSource (Spark 4 extension point) ---------------------

@query(
    "source_python_datasource",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    WHERE n_chars >= 200
    GROUP BY source ORDER BY source
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the custom Python DataSource
    (sources/pydatasource.py — the Spark 4 `pyspark.sql.datasource`
    extension point): the documents metadata staged once as JSONL (the
    'foreign format' the source exists for), scanned with one partition
    per file, the `n_chars >= 200` predicate PUSHED into the reader
    (rows fail inside Python before crossing the Arrow boundary), and
    rows transferred as columnar RecordBatches. The rollup must equal
    the parquet-derived oracle — format plumbing must not change data.

    Scale shape: parallelism = file count (the parquet unit); pushdown
    happens before the Python→JVM hop; batches are Arrow, never
    tuple-at-a-time. A Python source won't beat the native parquet
    reader — this is the sanctioned bridge for formats Spark lacks, and
    those are its scale levers."""
    from iceberg_demo_spark.sources.pydatasource import (
        register_jsonl_source,
        stage_jsonl_docs,
    )

    register_jsonl_source(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    path = stage_jsonl_docs(spark, sf_dir)
    df = spark.read.format("glacier_jsonl").option("path", path).load()
    return (
        df.filter(F.col("n_chars") >= 200)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("sum_chars"),
             F.countDistinct("lang").alias("n_langs"))
        .orderBy("source")
    )


@query(
    "streaming_pydatasource_ingest",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY source ORDER BY source
    """,
)
def streaming_pydatasource_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM through the custom Python DataSource — the other half of
    the Spark 4 extension point (`streamReader`, round 8; the batch
    `reader` is source_python_datasource above): the JSONL staging
    directory is treated as an append-only log, offsets are the count
    of consumed files ({"index": n} in sorted-name order, checkpointed
    by Structured Streaming), each micro-batch is the file range
    [start, end) with ONE InputPartition per file, and the rows land
    through the exactly-once parquet file sink. The rollup over the
    streamed table must equal the parquet-derived oracle — transport
    (batch vs micro-batch) must not change data.

    Exactly-once contract: files are immutable and names sort stably,
    so any checkpointed offset range replays to the same rows — the
    whole recovery story a custom streaming source owes the engine.
    Scale shape: per-trigger work is O(new files); the sink's
    `_spark_metadata` log gives atomic per-batch visibility; scan
    parallelism inside a batch = file count, same unit as the batch
    reader. maxFilesPerTrigger-style pacing was PROTOTYPED and
    deliberately rejected: the Python runner instantiates multiple
    reader objects and calls latestOffset before initialOffset (traced
    empirically), so reader-LOCAL pacing state is unsound — on restart
    it can emit an offset below the recovered start (offset
    regression → re-ingest); Spark's engine-side ReadLimit is not
    exposed to Python stream readers. Backlog pacing therefore belongs
    to the writer of the log (bounded files per producer flush), not
    this reader."""
    import shutil as _shutil

    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.sources.pydatasource import (
        register_jsonl_source,
        stage_jsonl_docs,
    )

    register_jsonl_source(spark)
    src = stage_jsonl_docs(spark, sf_dir)
    tag = _sf_tag(sf_dir)
    out = scratch_path(f"glacier_pds_stream_{tag}")
    ck = scratch_path(f"glacier_pds_stream_ck_{tag}")
    for d in (out, ck):
        _shutil.rmtree(d, ignore_errors=True)
    q = (spark.readStream.format("glacier_jsonl").option("path", src).load()
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", ck)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("sum_chars"),
             F.countDistinct("lang").alias("n_langs"))
        .orderBy("source")
    )


# -- Source/sink format matrix (CSV / JSON / ORC round-trip) -----------------

#: micros-precision pattern: the CSV/JSON defaults truncate to millis,
#: silently corrupting microsecond event times on a round-trip
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@query(
    "source_format_round_trip",
    oracle="""
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
             CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT)
               AS sum_ts_micros_mod,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_floor_sum
      FROM events
    )
    SELECT fmt, n_rows, sum_event_id, sum_ts_micros_mod, n_types,
           value_floor_sum
    FROM (VALUES ('csv'), ('json'), ('orc')) t(fmt) CROSS JOIN agg
    ORDER BY fmt
    """,
)
def source_format_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transport-equivalence matrix over Spark's built-in file formats:
    the events table round-trips through CSV, JSON and ORC (write →
    read-back with the explicit schema), and each format's row must
    equal the parquet-derived oracle row — including MICROSECOND
    timestamps (the CSV/JSON default patterns stop at millis; _TS_FMT
    pins full precision on both legs) and bit-exact doubles (Java
    emits the shortest round-trip decimal; the checksum is
    ⌊value·10⁶⌋, IEEE-deterministic in both engines). The staging dirs
    are OVERWRITTEN per invocation — no stale-copy hazard if the
    testdata is regenerated (the sql_pivot_unpivot lesson, r8 ADVICE).

    Scale shape: each leg is an embarrassingly parallel scan→write with
    no shuffle; read-back parallelism is the written file count. The
    gate exists because format plumbing is where silent data change
    hides (timestamp truncation, float formatting, null encodings) —
    at 100 TB nobody eyeballs rows, so equivalence must be a gate."""
    from iceberg_demo_spark.operators.layout import _sf_tag

    t = load_tables(spark, sf_dir, ("events",))
    proj = t["events"].select("event_id", "ts", "user_id", "event_type",
                              "value")
    schema = proj.schema
    tag = _sf_tag(sf_dir)
    outs = []
    for fmt in ("csv", "json", "orc"):
        path = scratch_path(f"glacier_fmt_{fmt}_{tag}")
        w = proj.write.mode("overwrite").format(fmt)
        r = spark.read.format(fmt).schema(schema)
        if fmt == "csv":
            w = w.option("header", "true")
            r = r.option("header", "true")
        if fmt in ("csv", "json"):
            # ts is TIMESTAMP_NTZ → the NTZ-specific option governs
            # (timestampFormat would silently not apply); the default
            # NTZ pattern stops at millis
            w = w.option("timestampNTZFormat", _TS_FMT)
            r = r.option("timestampNTZFormat", _TS_FMT)
        w.save(path)
        back = r.load(path)
        outs.append(back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            # ts is TIMESTAMP_NTZ; the session tz is pinned UTC, so the
            # LTZ cast is wall-time-preserving and matches epoch_us
            F.sum(F.expr("unix_micros(cast(ts as timestamp))")
                  % 1_000_000_000).cast("bigint")
             .alias("sum_ts_micros_mod"),
            F.countDistinct("event_type").alias("n_types"),
            F.sum(F.floor(F.col("value") * 1_000_000)).cast("bigint")
             .alias("value_floor_sum"),
        ).select(F.lit(fmt).alias("fmt"), "*"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fmt")


# -- Python UDTF (the third Spark 4 Python extension point) -----------------

def _chunk_udtf():
    """Arrow-optimized Python UDTF chunking a document into fixed
    256-char slices — the row-to-rows shape (LATERAL) that neither a
    scalar UDF (1:1) nor a DataSource (source-only) covers. Defined in a
    factory so the class object is fresh per registration (the UDTF
    handle captures no SparkSession)."""
    import hashlib

    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx: bigint, chunk_len: bigint, "
                     "chunk_hash: string",
          useArrow=True)
    class ChunkDoc:
        def eval(self, text: str):
            t = text or ""
            # empty docs yield ONE empty chunk (mirrors the oracle's
            # greatest(n_chars, 1) grid)
            for i, s in enumerate(range(0, max(len(t), 1), 256)):
                c = t[s:s + 256]
                yield i, len(c), hashlib.md5(c.encode("utf-8")).hexdigest()

    return ChunkDoc


@query(
    "source_python_udtf",
    oracle="""
    WITH ch AS (
      SELECT d.source, d.doc_id,
             length(substr(text, s::INT, 256)) AS clen,
             md5(substr(text, s::INT, 256)) AS chash
      FROM documents d,
           UNNEST(range(1, greatest(n_chars, 1) + 1, 256)) AS t(s)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(clen) AS BIGINT) AS sum_chunk_chars,
           CAST(COUNT(DISTINCT chash) AS BIGINT) AS n_distinct_chunks,
           CAST(MAX(clen) AS BIGINT) AS max_chunk_len
    FROM ch GROUP BY source ORDER BY source
    """,
)
def source_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text chunking through a Python USER-DEFINED TABLE FUNCTION — the
    third Spark 4 Python extension point next to the batch DataSource
    (`source_python_datasource`) and the streaming DataSource
    (`streaming_pydatasource_ingest`): one input row fans out to N
    output rows via SQL `LATERAL chunk_doc(text)`, the canonical
    row-to-rows shape for context-window chunking ahead of embedding.
    The per-source rollup (chunk counts, char mass conservation —
    sum_chunk_chars must equal Σ n_chars — and distinct chunk digests)
    shares the parquet-derived oracle: the extension point must not
    change data.

    Exactness: chunk hashes are hashlib.md5 over the chunk's UTF-8
    bytes — the same bytes DuckDB's md5(substr(...)) digests, so the
    digest column is value-oracled, not just counted.

    Scale shape: the UDTF runs Arrow-batched (useArrow=True) inside the
    scan stage — no exchange before chunking; only the (source, digest)
    partials shuffle for the rollup. A chunker this simple would
    normally be `sequence`+`explode` (zero Python, see
    _ingest_windows); the UDTF form exists for chunkers that genuinely
    need Python (tokenizer-aware splitting) and this gate pins the
    plumbing — schema, lateral join, Arrow batching — against the
    declarative oracle."""
    t = load_tables(spark, sf_dir, ("documents",))
    spark.udtf.register("chunk_doc", _chunk_udtf())
    t["documents"].createOrReplaceTempView("udtf_docs")
    chunks = spark.sql(
        "SELECT d.source, c.chunk_idx, c.chunk_len, c.chunk_hash "
        "FROM udtf_docs d, LATERAL chunk_doc(d.text) c")
    return (chunks.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum("chunk_len").cast("bigint").alias("sum_chunk_chars"),
                 F.countDistinct("chunk_hash").alias("n_distinct_chunks"),
                 F.max("chunk_len").cast("bigint").alias("max_chunk_len"))
            .orderBy("source"))


@query(
    "changelog_replication",
    oracle="""
    WITH src AS (
      SELECT c_custkey, c_mktsegment,
             -- integer-rounding only: ROUND(x, 2) is NOT cross-engine
             -- stable (Spark rounds the exact decimal of the double,
             -- DuckDB rounds in double arithmetic); ROUND to integer is
             CASE WHEN c_custkey % 7 = 0
                  THEN CAST(ROUND(c_acctbal * 125) AS BIGINT)
                  ELSE CAST(ROUND(c_acctbal * 100) AS BIGINT)
             END AS cents
      FROM customer
      WHERE NOT (c_custkey % 11 = 0)
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS total_bal_cents,
           CAST(0 AS BIGINT) AS n_mismatches
    FROM src GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def changelog_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC REPLICATION — the changelog's reason to exist, closed
    end-to-end: a source table takes a three-commit DML history
    (initial load → keyed UPDATE via MERGE → predicate DELETE), a
    replica starts EMPTY and consumes only the changelog view, applying
    each commit in _change_ordinal order as a net keyed MERGE (
    after-images upsert; keys whose only rows are DELETE are removed —
    an UPDATE's before-image never masks its own after-image). The gate
    returns the REPLICA's rollup plus an n_mismatches column computed
    by a full anti-join of source vs replica — the oracle pins it to
    literal 0, so replica drift is a VALUE failure, not a test warning.

    Scale shape: each apply step is one distributed MERGE whose source
    is that commit's change rows — O(changes), never O(table); the
    per-commit loop collects only the ordinal list (#commits rows, the
    same bounded planning collect every DML gate uses). This is how an
    Iceberg-style changelog feeds a downstream replica/materialization
    at 100 TB: the replica pays for what changed, not for what exists."""
    t_in = load_tables(spark, sf_dir, ("customer",))
    cust = t_in["customer"].select("c_custkey", "c_mktsegment", "c_acctbal")
    cat = _scratch(spark)
    cols = [("c_custkey", "bigint", False), ("c_mktsegment", "string", True),
            ("c_acctbal", "double", True)]
    src_t = cat.create_table("db.cust_repl_src", cols)
    src_t.set_identifier_fields("c_custkey")
    src_t.append(cust)                                     # commit 1: load
    bump = cust.filter(F.col("c_custkey") % 7 == 0).select("c_custkey")
    src_t.update_matching(                                 # commit 2: update
        # cents-domain bump: integer ROUND is the only cross-engine-stable
        # rounding (see the oracle comment), so the 25% raise is
        # round(bal*125)/100, never round(bal*1.25, 2)
        {"c_acctbal": "round(t.c_acctbal * 125) / 100"},
        bump, on="t.c_custkey = s.c_custkey")
    src_t.delete_where("c_custkey % 11 = 0")               # commit 3: delete

    rep_t = cat.create_table("db.cust_repl_dst", cols)
    data_cols = ["c_custkey", "c_mktsegment", "c_acctbal"]
    # Materialize the change stream ONCE (it is O(changes)); the apply
    # loop then filters materialized rows instead of re-deriving the
    # whole changelog lineage (file diffs + exceptAll per snapshot) for
    # every ordinal — the same reason a production consumer lands the
    # change batch before applying it.
    cl = (proc.create_changelog_view(src_t, "cust_repl_changes")
          .select(*data_cols, "_change_type", "_change_ordinal")
          .transform(_pin_ckpt))
    ordinals = sorted(
        r[0] for r in cl.select("_change_ordinal").distinct().collect())
    for o in ordinals:
        batch = cl.filter(F.col("_change_ordinal") == o)
        after = (batch.filter(F.col("_change_type")
                              .isin("INSERT", "UPDATE_AFTER"))
                 .select(*data_cols))
        dels = (batch.filter(F.col("_change_type") == "DELETE")
                .select("c_custkey")
                .join(after.select("c_custkey"), "c_custkey", "left_anti"))
        # head(1) gates on the MATERIALIZED change rows (cheap) so a
        # pure-delete or pure-upsert commit pays one replica commit,
        # not two
        if after.head(1):
            rep_t.merge(
                after, on="t.c_custkey = s.c_custkey",
                matched=[{"condition": None, "action": "update",
                          "set": {"c_mktsegment": "s.c_mktsegment",
                                  "c_acctbal": "s.c_acctbal"}}],
                not_matched=[{"condition": None, "values": None}],
                check_cardinality=False)  # after-images are key-unique
        if dels.head(1):
            rep_t.delete_matching(dels, on="t.c_custkey = s.c_custkey")

    src_rows = src_t.scan().select(*data_cols)
    rep_rows = rep_t.scan().select(*data_cols)
    mism = (src_rows.exceptAll(rep_rows).agg(F.count(F.lit(1)).alias("a"))
            .crossJoin(F.broadcast(
                rep_rows.exceptAll(src_rows)
                .agg(F.count(F.lit(1)).alias("b"))))
            .select((F.col("a") + F.col("b")).alias("n_mismatches")))
    return (
        rep_rows.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             # bal*100 sits within 1 ulp of the true integer cents for
             # both the original and the /100-bumped values; integer
             # ROUND recovers it exactly in both engines
             F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
             .alias("total_bal_cents"))
        .crossJoin(F.broadcast(mism))
        .orderBy("c_mktsegment")
    )
