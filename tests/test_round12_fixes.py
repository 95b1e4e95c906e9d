"""Round-12 fixes, each pinned to its VERDICT/ADVICE r11 item."""

from __future__ import annotations

import os


# -- VERDICT r11 #5: narrowed fallback excepts + recorded reason -------------

def _delta_mv_engine(spark, tmp_path):
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = eng.catalog.create_table(
        "db.facts", "k STRING NOT NULL, amt BIGINT NOT NULL")
    src.append(spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "k STRING, amt BIGINT"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mvd AS "
            "SELECT k, SUM(amt) AS total, COUNT(*) AS cnt "
            "FROM db_facts GROUP BY k")
    return eng, src


def test_refresh_injected_delta_bug_raises_instead_of_full(spark, tmp_path):
    """A REAL bug in the delta path (anything but the deliberate
    ParseError/ValueError refusals) must PROPAGATE — the old bare
    ``except Exception`` silently degraded to a correct-but-O(source)
    full recompute with no signal."""
    import pytest

    eng, src = _delta_mv_engine(spark, tmp_path)
    src.delete_where("k = 'b'")

    def boom(*a, **kw):
        raise RuntimeError("injected delta-path bug")

    eng.mv._merge_group_deltas = boom
    with pytest.raises(RuntimeError, match="injected delta-path bug"):
        eng.sql("REFRESH MATERIALIZED VIEW mvd DELTA")


def test_refresh_fallback_reason_is_recorded(spark, tmp_path):
    """A deliberate refusal still falls back — and now says why."""
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = eng.catalog.create_table_as(
        "db.facts", spark.createDataFrame(
            [("a", 10), ("a", 3)], "k STRING, amt BIGINT"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mvm AS "
            "SELECT k, MIN(amt) AS lo, COUNT(*) AS cnt "
            "FROM db_facts GROUP BY k")
    src.delete_where("amt = 3")
    eng.sql("REFRESH MATERIALIZED VIEW mvm DELTA")
    assert eng.mv.last_refresh_mode == "full"
    assert "not delta-maintainable" in eng.mv.last_refresh_fallback_reason
    # a successful delta clears the reason
    eng2, src2 = _delta_mv_engine(spark, tmp_path / "b")
    src2.delete_where("k = 'b'")
    eng2.sql("REFRESH MATERIALIZED VIEW mvd DELTA")
    assert eng2.mv.last_refresh_mode == "delta"
    assert eng2.mv.last_refresh_fallback_reason is None


# -- ADVICE r11 medium: sync snapshot must be a head ancestor -----------------

def test_delta_refresh_refuses_non_ancestor_sync_snapshot(spark, tmp_path):
    """When the recorded sync snapshot is no longer an ancestor of head
    (expired / rolled back), create_changelog_view would silently fall
    back to the FULL chain and the delta fold would double-count every
    historical change. The path must refuse → exact full recompute."""
    eng, src = _delta_mv_engine(spark, tmp_path)
    src.delete_where("k = 'b'")
    mv = eng.mv_catalog.get("mvd")
    mv.source_snapshots["db_facts"][1] = 987654321  # expired/rolled back
    eng.mv_catalog.update(mv)
    eng.sql("REFRESH MATERIALIZED VIEW mvd DELTA")
    assert eng.mv.last_refresh_mode == "full"
    assert "ancestor" in eng.mv.last_refresh_fallback_reason
    mv = eng.mv_catalog.get("mvd")
    got = sorted(tuple(r) for r in eng.mv.backing_df(mv)
                 .select("k", "total", "cnt").collect())
    assert got == [("a", 30, 2)]


# -- ADVICE r11 low: SUM over a nullable argument refuses delta ---------------

def test_delta_refresh_refuses_nullable_sum_argument(spark, tmp_path):
    """Deletes that remove every non-NULL contributor of a group while
    NULL rows remain would drive the merged SUM to 0 where full
    recompute yields NULL — the exact divergence, demonstrated: the
    refusal + fallback lands NULL, as SQL requires."""
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = eng.catalog.create_table(
        "db.facts", "k STRING NOT NULL, amt BIGINT")  # amt nullable
    src.append(spark.createDataFrame(
        [("a", 10), ("a", None), ("b", 5)], "k STRING, amt BIGINT"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mvn AS "
            "SELECT k, SUM(amt) AS total, COUNT(*) AS cnt "
            "FROM db_facts GROUP BY k")
    src.delete_where("amt = 10")  # group a keeps only the NULL row
    eng.sql("REFRESH MATERIALIZED VIEW mvn DELTA")
    assert eng.mv.last_refresh_mode == "full"
    assert "NULL" in eng.mv.last_refresh_fallback_reason
    mv = eng.mv_catalog.get("mvn")
    got = sorted(tuple(r) for r in eng.mv.backing_df(mv)
                 .select("k", "total", "cnt").collect())
    assert got == [("a", None, 1), ("b", 5, 1)]  # NULL, not 0


# -- VERDICT r11 #4: no forced broadcast past the bounded-probe limit --------

def test_semi_join_probe_drops_hint_past_1000_keys(spark):
    """≤1000 collected keys: broadcast hint (bounded, strictly right).
    1001 (unbounded): the returned probe must be the raw frame — no
    ResolvedHint — so AQE picks the strategy from its real size; and a
    touched set covering ≥30% of the backing groups refuses outright."""
    import pytest

    from iceberg_demo_spark.mv.catalog import MaterializedView
    from iceberg_demo_spark.mv.manager import MVManager

    mgr = MVManager(spark, table_catalog=None, mv_catalog=None)
    mv = MaterializedView(name="x", query="", backing_table="",
                          last_refresh_ts=0, storage_format="",
                          storage_location="", row_count=100_000,
                          size_in_bytes=0)
    touched = spark.range(1100).withColumnRenamed("id", "k")
    probe, hint = mgr._semi_join_probe(touched, 900, mv)
    assert hint and probe is touched  # hint applied at the join call
    probe, hint = mgr._semi_join_probe(touched, 1001, mv)
    assert not hint and probe is touched  # AQE decides past the bound
    mv.row_count = 2000  # 1100 touched ≥ 30% of 2000 groups
    with pytest.raises(ValueError, match="full recompute is cheaper"):
        mgr._semi_join_probe(touched, 1001, mv)


# -- round 12: companion-column delta enrollment ------------------------------

def test_delta_guarded_sum_restores_null_exactly(spark, tmp_path):
    """The ADVICE r11 divergence, LIFTED by a companion: with COUNT(amt)
    in the view, deleting every non-NULL contributor of a group while a
    NULL row remains lands SUM = NULL (as full recompute does), through
    the DELTA path — no fallback."""
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = eng.catalog.create_table(
        "db.facts", "k STRING NOT NULL, amt BIGINT")  # amt nullable
    src.append(spark.createDataFrame(
        [("a", 10), ("a", None), ("b", 5)], "k STRING, amt BIGINT"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mvg AS "
            "SELECT k, SUM(amt) AS total, COUNT(amt) AS nvals, "
            "COUNT(*) AS cnt FROM db_facts GROUP BY k")
    src.delete_where("amt = 10")  # group a keeps only its NULL row
    eng.sql("REFRESH MATERIALIZED VIEW mvg DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    assert eng.mv.last_refresh_fallback_reason is None
    mv = eng.mv_catalog.get("mvg")
    got = sorted((tuple(r) for r in eng.mv.backing_df(mv)
                  .select("k", "total", "nvals", "cnt").collect()))
    assert got == [("a", None, 0, 1), ("b", 5, 1, 1)]  # NULL, not 0


def test_delta_avg_derives_from_companions(spark, tmp_path):
    """AVG(amt) delta-folds when SUM(amt) + COUNT(amt) ride in the view:
    the MERGE recomputes avg from the merged companions, equal to full
    recompute; NULL when the companion count reaches zero."""
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = eng.catalog.create_table(
        "db.facts", "k STRING NOT NULL, amt BIGINT")
    src.append(spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", None), ("b", 5), ("c", 8)],
        "k STRING, amt BIGINT"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mva AS "
            "SELECT k, SUM(amt) AS total, COUNT(amt) AS nvals, "
            "AVG(amt) AS mean, COUNT(*) AS cnt "
            "FROM db_facts GROUP BY k")
    src.delete_where("k = 'a' AND amt = 10")   # a: avg 20
    src.delete_where("k = 'c'")                # c vanishes
    src.append(spark.createDataFrame(
        [("b", None), ("d", 7), ("d", 9)], "k STRING, amt BIGINT"))
    eng.sql("REFRESH MATERIALIZED VIEW mva DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    assert eng.mv.last_refresh_fallback_reason is None
    mv = eng.mv_catalog.get("mva")
    got = sorted((tuple(r) for r in eng.mv.backing_df(mv)
                  .select("k", "total", "nvals", "mean", "cnt").collect()))
    assert got == [("a", 20, 1, 20.0, 2), ("b", 5, 1, 5.0, 2),
                   ("d", 16, 2, 8.0, 2)]
    # and the delta answer equals a full recompute of the same view
    eng.sql("REFRESH MATERIALIZED VIEW mva")
    mv = eng.mv_catalog.get("mva")
    full = sorted((tuple(r) for r in eng.mv.backing_df(mv)
                   .select("k", "total", "nvals", "mean", "cnt").collect()))
    assert got == full


def test_delta_avg_without_companions_refuses(spark, tmp_path):
    """AVG with no matching SUM+COUNT companions cannot be maintained
    from deltas — refuse with a recorded reason, fall back exactly."""
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = eng.catalog.create_table(
        "db.facts", "k STRING NOT NULL, amt BIGINT NOT NULL")
    src.append(spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "k STRING, amt BIGINT"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mvx AS "
            "SELECT k, AVG(amt) AS mean, COUNT(*) AS cnt "
            "FROM db_facts GROUP BY k")
    src.delete_where("amt = 20")
    eng.sql("REFRESH MATERIALIZED VIEW mvx DELTA")
    assert eng.mv.last_refresh_mode == "full"
    assert "companion" in eng.mv.last_refresh_fallback_reason
    mv = eng.mv_catalog.get("mvx")
    got = sorted((tuple(r) for r in eng.mv.backing_df(mv)
                  .select("k", "mean", "cnt").collect()))
    assert got == [("a", 10.0, 1), ("b", 5.0, 1)]


def test_mv_join_delta_three_tables_two_changed(spark, tmp_path):
    """3-table inner star, changes in the FACT and the SECOND dim in
    one window, plus a WHERE filter: the telescoping terms must pin
    head state left of each delta and recorded state right of it —
    wrong pinning double- or under-counts the row that both changes
    touch. Oracle: full recompute of the final state."""
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    f = eng.catalog.create_table(
        "db.f", "fid BIGINT NOT NULL, r STRING NOT NULL, "
                "p STRING NOT NULL, amt BIGINT NOT NULL")
    f.append(spark.createDataFrame(
        [(1, "east", "w", 10), (2, "west", "w", 5), (3, "east", "g", 7),
         (4, "east", "w", 100)],
        "fid BIGINT, r STRING, p STRING, amt BIGINT"))
    d1 = eng.catalog.create_table_as(
        "db.d1", spark.createDataFrame(
            [("east", "z1"), ("west", "z2")], "r STRING, zone STRING"))
    d2 = eng.catalog.create_table_as(
        "db.d2", spark.createDataFrame(
            [("w", "wood"), ("g", "glass")], "p STRING, mat STRING"))
    for n in ("db.f", "db.d1", "db.d2"):
        eng.register(n)
    eng.sql("CREATE MATERIALIZED VIEW mv3 AS "
            "SELECT d1.zone, d2.mat, SUM(f.amt) AS total, COUNT(*) AS cnt "
            "FROM db_f f JOIN db_d1 d1 ON f.r = d1.r "
            "JOIN db_d2 d2 ON f.p = d2.p "
            "WHERE f.amt < 100 GROUP BY d1.zone, d2.mat")
    # window: fact gains a row AND loses one; d2 re-materializes 'g'
    f.append(spark.createDataFrame([(5, "west", "g", 9)],
                                   "fid BIGINT, r STRING, p STRING, amt BIGINT"))
    f.delete_where("fid = 2")
    d2.delete_where("p = 'g'")
    d2.append(spark.createDataFrame([("g", "green_glass")],
                                    "p STRING, mat STRING"))
    eng.sql("REFRESH MATERIALIZED VIEW mv3 DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    assert eng.mv.last_refresh_fallback_reason is None
    mv = eng.mv_catalog.get("mv3")
    got = sorted(tuple(r) for r in eng.mv.backing_df(mv)
                 .select("zone", "mat", "total", "cnt").collect())
    # final state (amt<100 filters fid=4): f={1e w10, 3e g7, 5w g9},
    # d1 unchanged, d2={w wood, g green_glass}
    assert got == [("z1", "green_glass", 7, 1), ("z1", "wood", 10, 1),
                   ("z2", "green_glass", 9, 1)]
    # and it equals an independent full recompute
    eng.sql("REFRESH MATERIALIZED VIEW mv3")
    full = sorted(tuple(r) for r in eng.mv.backing_df(mv)
                  .select("zone", "mat", "total", "cnt").collect())
    assert got == full


def test_delta_minmax_insert_only_window(spark, tmp_path):
    """MIN/MAX delta-fold under a pure-insert window: extrema merge via
    least/greatest, new groups insert, equal to full recompute."""
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = eng.catalog.create_table(
        "db.facts", "k STRING NOT NULL, amt BIGINT NOT NULL")
    src.append(spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "k STRING, amt BIGINT"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mvmm AS "
            "SELECT k, MIN(amt) AS lo, MAX(amt) AS hi, COUNT(*) AS cnt "
            "FROM db_facts GROUP BY k")
    src.append(spark.createDataFrame(
        [("a", 3), ("a", 99), ("c", 7)], "k STRING, amt BIGINT"))
    eng.sql("REFRESH MATERIALIZED VIEW mvmm DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    assert eng.mv.last_refresh_fallback_reason is None
    mv = eng.mv_catalog.get("mvmm")
    got = sorted(tuple(r) for r in eng.mv.backing_df(mv)
                 .select("k", "lo", "hi", "cnt").collect())
    assert got == [("a", 3, 99, 4), ("b", 5, 5, 1), ("c", 7, 7, 1)]
    # a delete in the NEXT window retracts an extremum: must refuse
    src.delete_where("k = 'a' AND amt = 99")
    eng.sql("REFRESH MATERIALIZED VIEW mvmm DELTA")
    assert eng.mv.last_refresh_mode == "full"
    assert "MIN/MAX" in eng.mv.last_refresh_fallback_reason
    got = sorted(tuple(r) for r in eng.mv.backing_df(mv)
                 .select("k", "lo", "hi", "cnt").collect())
    assert got == [("a", 3, 20, 3), ("b", 5, 5, 1), ("c", 7, 7, 1)]


# -- VERDICT r11 #7: quantile-sample state advancement -----------------------

def test_quantile_advance_equals_rebuild(spark):
    """The advanced (3-epoch chained) sample state must yield exactly
    the one-shot gate's rows — union-of-samples == sample-of-union is
    the keep predicate's row-wise determinism, pinned end-to-end."""
    from iceberg_demo_spark import registry
    from tests.conftest import SF_SMALL

    registry.load_all()
    a = registry.QUERIES["sketch_quantile_sample"](spark, SF_SMALL).collect()
    b = registry.QUERIES["sketch_quantile_advance"](spark, SF_SMALL).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert len(a) > 0


def test_quantile_advanced_state_is_the_one_shot_sample(spark):
    """The persisted state's row set (not just its quantiles) equals
    the one-shot keep-predicate output — no duplicate folds, no lost
    epochs."""
    import os

    from iceberg_demo_spark import registry
    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.operators.sketches import (
        _qsample_keep, _qsample_project)
    from iceberg_demo_spark.scratch import scratch_path
    from iceberg_demo_spark.sources import load_tables
    from tests.conftest import SF_SMALL

    registry.load_all()
    registry.QUERIES["sketch_quantile_advance"](spark, SF_SMALL).collect()
    state = scratch_path(f"glacier_qsample_state_{_sf_tag(SF_SMALL)}")
    assert os.path.exists(state)
    got = {tuple(r) for r in spark.read.parquet(state)
           .select("source", "doc_id", "n_chars").collect()}
    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    want = {tuple(r) for r in _qsample_keep(_qsample_project(docs))
            .select("source", "doc_id", "n_chars").collect()}
    assert got == want and len(want) > 0


def test_incremental_unhinted_semi_join_past_1000_keys(spark, tmp_path):
    """End-to-end through the UNHINTED probe path (VERDICT r11 #4):
    1200 of 6000 groups touched — past the 1000-key bounded collect
    (no IN-list, no forced broadcast; AQE picks the strategy), under
    the 30% fraction guard — the keyed MERGE must still land exactly
    the full-recompute answer through the incremental path."""
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = eng.catalog.create_table(
        "db.facts", "k BIGINT NOT NULL, amt BIGINT NOT NULL")
    src.append(spark.range(12000).selectExpr("id % 6000 AS k",
                                             "id AS amt"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mvw AS "
            "SELECT k, SUM(amt) AS total, COUNT(*) AS cnt "
            "FROM db_facts GROUP BY k")
    src.update_where({"amt": "amt + 1000000"}, "k < 1200")
    eng.sql("REFRESH MATERIALIZED VIEW mvw INCREMENTAL")
    assert eng.mv.last_refresh_mode == "incremental"
    assert eng.mv.last_refresh_fallback_reason is None
    mv = eng.mv_catalog.get("mvw")
    got = {tuple(r) for r in eng.mv.backing_df(mv).collect()}
    want = {(k, 2 * k + 6000 + (2000000 if k < 1200 else 0), 2)
            for k in range(6000)}
    assert got == want
    # and past the 30% fraction the guard refuses -> exact full
    src.update_where({"amt": "amt + 7"}, "k < 3000")  # 50% of groups
    eng.sql("REFRESH MATERIALIZED VIEW mvw INCREMENTAL")
    assert eng.mv.last_refresh_mode == "full"
    assert "full recompute is cheaper" in eng.mv.last_refresh_fallback_reason


# -- VERDICT r11 #6: the delta-window idempotence stamp ----------------------

def test_delta_window_stamp_makes_replay_idempotent(spark, tmp_path):
    """Crash-window replay: the MERGE landed but the catalog's sync
    advance was lost. Re-running REFRESH DELTA over the SAME window
    must skip the fold (stamped on the backing snapshot) instead of
    double-counting, then re-advance the catalog."""
    eng, src = _delta_mv_engine(spark, tmp_path)
    old_sync = eng.mv_catalog.get("mvd").source_snapshots["db_facts"][1]
    src.delete_where("k = 'b'")
    src.append(spark.createDataFrame([("c", 7)], "k STRING, amt BIGINT"))
    eng.sql("REFRESH MATERIALIZED VIEW mvd DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    mv = eng.mv_catalog.get("mvd")
    head = src.metadata.current_snapshot().snapshot_id
    assert mv.source_snapshots["db_facts"][1] == head
    rows_after_first = sorted(
        tuple(r) for r in eng.mv.backing_df(mv)
        .select("k", "total", "cnt").collect())
    # simulate the crash: the catalog advance is lost, the MERGE is not
    mv.source_snapshots["db_facts"][1] = old_sync
    eng.mv_catalog.update(mv)
    eng.sql("REFRESH MATERIALIZED VIEW mvd DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    mv = eng.mv_catalog.get("mvd")
    assert mv.source_snapshots["db_facts"][1] == head  # re-synced
    rows_after_replay = sorted(
        tuple(r) for r in eng.mv.backing_df(mv)
        .select("k", "total", "cnt").collect())
    assert rows_after_replay == rows_after_first == [
        ("a", 30, 2), ("c", 7, 1)]
