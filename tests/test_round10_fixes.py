"""Round-10 regression tests — VERDICT r9 asks + ADVICE r9 findings.

Covers the round's operator fixes (the staleness SLO and artifact-claim
tests live in test_coverage.py).
"""

from __future__ import annotations

import os

from tests.conftest import SF_MED, SF_SMALL


# ---------------------------------------------------------------------------
# VERDICT r9 #2: persisted IVF-PQ index
# ---------------------------------------------------------------------------


def test_ivfpq_index_one_file_per_cell(spark):
    """The codes tier is written one file per cell directory — the
    compacted serving layout (files-per-cell pytest, VERDICT r9 #2)."""
    import glob as _glob

    from iceberg_demo_spark.operators.curation import (
        _IVFPQ_CELLS, ensure_ivfpq_index)

    path = ensure_ivfpq_index(spark, SF_MED)
    cell_dirs = sorted(_glob.glob(os.path.join(path, "codes", "cell_id=*")))
    assert len(cell_dirs) == _IVFPQ_CELLS
    for d in cell_dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_ivfpq_indexed_equals_in_gate_composition(spark):
    """Persistence must not change the answer: the indexed probe and the
    in-gate composition return identical rows."""
    from iceberg_demo_spark import registry

    registry.load_all()
    a = registry.QUERIES["sim_ivfpq_search"](spark, SF_SMALL).collect()
    b = registry.QUERIES["sim_ivfpq_indexed"](spark, SF_SMALL).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_index_manifest_triggers_rebuild(tmp_path):
    """ADVICE r9 #3: a regenerated source file (changed mtime or size)
    invalidates the persisted index; a crashed build (no manifest) too."""
    from iceberg_demo_spark import scratch

    src = tmp_path / "sf"
    src.mkdir()
    (src / "documents.parquet").write_bytes(b"x" * 64)
    idx = tmp_path / "idx"
    idx.mkdir()
    # no manifest yet -> stale
    assert not scratch.index_current(str(idx), str(src), ("documents",))
    scratch.write_index_manifest(str(idx), str(src), ("documents",))
    assert scratch.index_current(str(idx), str(src), ("documents",))
    # regenerate the source -> stale again
    os.utime(src / "documents.parquet", ns=(1, 1))
    assert not scratch.index_current(str(idx), str(src), ("documents",))


# ---------------------------------------------------------------------------
# VERDICT r9 #6: gate-scoped cache release
# ---------------------------------------------------------------------------

def test_multi_gate_session_releases_all_pins(spark):
    """Five gates spanning every pin flavor (persist fixtures, loop
    checkpoints, persisted candidate frames) run in ONE session; after
    consuming each result and calling release_pins(), the block manager
    holds nothing beyond what it held before the gate ran."""
    from iceberg_demo_spark import registry
    from iceberg_demo_spark.cache import release_pins

    registry.load_all()
    sc = spark.sparkContext
    release_pins(blocking=True)
    baseline = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    gates = ["dedup_kmv_overlap_matrix",     # persisted sketch frames
             "sketch_bloom_membership",      # persisted corpus/batch splits
             "graph_doc_pagerank",           # checkpointed iteration loop
             "doc_bpe_merges",               # checkpointed merge rounds
             "dedup_incremental_indexed"]    # persisted probe frame
    for name in gates:
        registry.QUERIES[name](spark, SF_SMALL).collect()
        assert release_pins(blocking=True) > 0, (
            f"{name} pinned nothing — pin() sites lost?")
        now = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        assert now <= baseline, (name, now - baseline)


# ---------------------------------------------------------------------------
# VERDICT r9 #4: incremental curation
# ---------------------------------------------------------------------------

def test_curation_incremental_final_plan_never_scans_corpus(spark):
    """The gate's returned plan contains NO corpus scan: the single
    batch text read happened once, behind the eager checkpoint."""
    import contextlib
    import io

    from iceberg_demo_spark import registry

    registry.load_all()
    df = registry.QUERIES["doc_curation_incremental"](spark, SF_MED)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "documents.parquet" not in buf.getvalue()


def test_curation_incremental_probe_prunes_index_buckets(spark):
    """The bloom-guarded shingle probe reads ONLY the probed
    shd_bucket directories of the state index (PartitionFilters INSET)
    and joins the broadcast batch digests — never a full index scan."""
    import contextlib
    import io

    from pyspark.sql import functions as F
    from iceberg_demo_spark.operators import curation as C

    path = C.ensure_curation_state(spark, SF_MED)
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    batch = (docs.filter("doc_id % 5 = 0")
             .select("source", "doc_id", "n_chars", "text"))
    st_docs = spark.read.parquet(f"{path}/docs")
    geom = spark.read.parquet(f"{path}/geom").first()
    evict = spark.createDataFrame([], "doc_id BIGINT")
    _, _, pairs_bb = C._cur_batch_probe(
        spark, path, batch, batch.select("doc_id"), st_docs, evict,
        int(geom["m"]), int(geom["k"]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs_bb.explain("formatted")
    plan = buf.getvalue()
    i = plan.index("/shingles]")
    seg = plan[i:i + 500]
    assert "PartitionFilters" in seg
    assert "INSET" in seg or "isnotnull(shd_bucket" in seg
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _write_synth_docs(tmp_path, rows):
    import duckdb

    sf = tmp_path / "synth_sf"
    sf.mkdir()
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?)",
                    [(i, t, "en", s, len(t)) for i, t, s in rows])
    con.execute(f"COPY d TO '{sf}/documents.parquet' (FORMAT PARQUET)")
    return str(sf)


def test_curation_incremental_handles_eviction_and_cluster_split(
        spark, tmp_path):
    """A batch doc with a smaller doc_id and identical lowercased text
    EVICTS a standing keeper; when that keeper was the bridge of its
    near-dup cluster, the cluster must split — the contracted-CC
    maintenance path. Verified by running the Spark incremental gate
    against the DuckDB oracle on a synthetic corpus engineered to hit
    exactly that path."""
    import duckdb

    from iceberg_demo_spark import registry
    from iceberg_demo_spark.operators import curation as C

    registry.load_all()
    # 24-token texts: n_en > 0, stopword ratio in [0.1, 0.9), and the
    # shared stem keeps every doc's bigram score at the corpus mode so
    # the LM floor passes. A/B/C chain near-dup via the bridge B; the
    # batch doc 5 duplicates B's text case-insensitively with a SMALLER
    # id than B's (6 < 11).
    stem = ("the cat and the dog of the house ran to the yard and "
            "the bird of the tree sang")  # 20 tokens
    a = stem + " alpha beta gamma x1"
    bmid = stem + " alpha beta gamma x2"   # bridges a <-> c
    c = stem + " alpha beta gamma x3"
    rows = [
        # base partition: doc_id % 5 != 0
        (6, a, "src0"),
        (11, bmid, "src0"),
        (16, c, "src0"),
        (21, stem + " delta epsilon zeta x4", "src1"),
        # batch partition: doc_id % 5 == 0; doc 10 evicts doc 11 (same
        # lowercased text, smaller id)
        (10, bmid.upper()[:1] + bmid[1:], "src0"),
        (15, stem + " delta epsilon zeta x5", "src1"),
    ]
    # doc 10's text differs from doc 11's only by case of the first
    # char -> same dup_key, different pri
    sf = _write_synth_docs(tmp_path, rows)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf}/documents.parquet'")
    # scenario sanity via the oracle's own CTEs: doc 11 is quality in
    # the base-only world but evicted from the merged one
    want = con.execute(registry.ORACLES["doc_curation_incremental"])\
              .fetchall()
    got = [tuple(r) for r in
           registry.QUERIES["doc_curation_incremental"](spark, sf)
           .collect()]
    norm = [tuple(int(v) if isinstance(v, (int, float)) and not
                  isinstance(v, bool) else v for v in r) for r in want]
    assert got == norm, (got, norm)
    # and the eviction really happened: doc 11 out, doc 10's dup group
    # keeper is 10
    merged_qual_ids = {r[0] for r in con.execute(
        "SELECT doc_id FROM documents "
        "WHERE doc_id = (SELECT MIN(doc_id) FROM documents d2 "
        "                WHERE md5(lower(d2.text)) = "
        "                      md5(lower(documents.text)))").fetchall()}
    assert 11 not in merged_qual_ids and 10 in merged_qual_ids


def test_curated_corpus_merge_lands_incremental_result(spark):
    """The changelog-MERGE leg of the incremental tier: bootstrapping
    the curated table from the standing survivors and applying ONE
    MERGE of the incremental delta yields exactly the merged corpus's
    survivor set (insert + update + not_matched_by_source delete)."""
    from iceberg_demo_spark.operators import curation as C

    t = C.materialize_curated_corpus(spark, SF_SMALL)
    got = sorted(tuple(r) for r in t.scan().collect())
    _, _, surv = C._cur_incremental_frames(spark, SF_SMALL)
    want = sorted(tuple(r) for r in
                  surv.select("doc_id", "source", "n_chars", "n_tok",
                              "pri", "split").collect())
    assert got == want and len(got) > 0
    # the MERGE produced a single new snapshot over the bootstrap
    assert len(t.metadata.snapshots) == 2


def test_bm25_compacted_tier_ranks_identically(spark):
    """Direct index, fragmented tier and compacted tier must rank
    identically (one shared probe definition; layout never changes
    answers)."""
    from iceberg_demo_spark import registry

    registry.load_all()
    a = registry.QUERIES["doc_bm25_indexed"](spark, SF_MED).collect()
    b = registry.QUERIES["doc_bm25_index_compact"](spark, SF_MED).collect()
    c = registry.QUERIES["doc_bm25_search"](spark, SF_MED).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] \
        == [tuple(r) for r in c]


def test_curation_incremental_handles_cluster_merge_via_batch_bridge(
        spark, tmp_path):
    """A batch doc near-dupping members of TWO separate standing
    clusters must MERGE them (contracted CC over both affected roots),
    and the keep-longest election re-runs over the union — verified
    against the DuckDB oracle on a corpus engineered for exactly that."""
    import duckdb

    from iceberg_demo_spark import registry

    registry.load_all()
    stem = ("the cat and the dog of the house ran to the yard and "
            "the bird of the tree sang")  # 20 tokens, passes quality
    # two standing clusters sharing NO shingles with each other:
    # cluster A = {1, 6} (suffix family "alpha..."), cluster B = {11,
    # 16} (prefix-rotated family). The batch doc 10 overlaps BOTH.
    a1 = stem + " alpha beta gamma delta epsilon x1"
    a2 = stem + " alpha beta gamma delta epsilon x2"
    b_stem = ("a fox or a hen by a lake swam off a hill or a stone "
              "and a fish of a pond slept")
    b1 = b_stem + " omega psi chi phi upsilon y1"
    b2 = b_stem + " omega psi chi phi upsilon y2"
    # bridge: first half from family A's text, second half from B's —
    # shares enough 3-grams with both sides to pass Jaccard >= 0.2
    bridge = stem + " alpha beta gamma " + b_stem + " omega psi chi"
    rows = [
        (1, a1, "src0"), (6, a2, "src0"),
        (11, b1, "src0"), (16, b2, "src0"),
        (21, stem + " filler words here zz", "src1"),
        (10, bridge, "src0"),       # batch: bridges A and B
        (15, b_stem + " omega psi chi phi upsilon y3", "src1"),
    ]
    sf = _write_synth_docs(tmp_path, rows)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf}/documents.parquet'")
    # scenario sanity: in the BASE world 1-6 and 11-16 are separate
    # pair-components; merged world connects them through 10
    base_pairs = con.execute("""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, len(string_split(text,' ')) - 1),
            i -> array_to_string(list_slice(string_split(text,' '),
                                            i, i + 2), ' ')))) AS s
        FROM documents WHERE doc_id % 5 <> 0),
      sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      c AS (SELECT a.doc_id x, b.doc_id y, COUNT(*) nc
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
      SELECT x, y FROM c JOIN sz sa ON sa.doc_id = x
      JOIN sz sb ON sb.doc_id = y
      WHERE 1.0 * nc / (sa.n + sb.n - nc) >= 0.2 ORDER BY x, y
    """).fetchall()
    assert (1, 6) in base_pairs and (11, 16) in base_pairs
    assert not any({p[0], p[1]} <= {1, 6, 11, 16} and
                   ({p[0], p[1]} & {1, 6}) and ({p[0], p[1]} & {11, 16})
                   for p in base_pairs), base_pairs
    # and in the MERGED world the bridge doc pairs with BOTH clusters
    merged_pairs = con.execute("""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, len(string_split(text,' ')) - 1),
            i -> array_to_string(list_slice(string_split(text,' '),
                                            i, i + 2), ' ')))) AS s
        FROM documents),
      sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      c AS (SELECT a.doc_id x, b.doc_id y, COUNT(*) nc
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
      SELECT x, y FROM c JOIN sz sa ON sa.doc_id = x
      JOIN sz sb ON sb.doc_id = y
      WHERE 1.0 * nc / (sa.n + sb.n - nc) >= 0.2
    """).fetchall()
    assert any(10 in p and (set(p) & {1, 6}) for p in merged_pairs)
    assert any(10 in p and (set(p) & {11, 16}) for p in merged_pairs)
    want = con.execute(
        registry.ORACLES["doc_curation_incremental"]).fetchall()
    got = [tuple(r) for r in
           registry.QUERIES["doc_curation_incremental"](spark, sf)
           .collect()]
    norm = [tuple(int(v) if isinstance(v, (int, float)) and not
                  isinstance(v, bool) else v for v in r) for r in want]
    assert got == norm, (got, norm)
