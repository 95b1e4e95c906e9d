"""Dedup operator tests: MinHash-LSH and SimHash cross-checked against exact
Jaccard (the reference-style correctness bar for the no-oracle operators)."""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_demo_spark import registry
from tests.conftest import SF_MED, SF_SMALL

registry.load_all()


def _exact_jaccard_pairs(spark, sf_dir, threshold):
    df = registry.QUERIES["dedup_ngram_jaccard_pairs"](spark, sf_dir)
    return {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in df.collect()
        if r["jaccard"] >= threshold
    }


def test_minhash_estimates_track_exact_jaccard(spark):
    exact = _exact_jaccard_pairs(spark, SF_MED, 0.5)
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in registry.QUERIES["dedup_minhash_lsh_pairs"](spark, SF_MED).collect()
    }
    # every strongly-similar pair must be recalled by LSH
    missed = [p for p in exact if p not in est]
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"
    # estimates within 0.35 of exact (32 permutations => sigma ~ 0.09)
    for p, j in exact.items():
        assert abs(est[p] - j) < 0.35, (p, est[p], j)


def test_exact_dedup_counts_consistent(spark):
    row = registry.QUERIES["dedup_exact"](spark, SF_SMALL).collect()[0]
    assert row["n_docs"] == row["n_unique"] + row["n_duplicates"]
    assert row["n_docs"] > 0


def test_simhash_pairs_have_low_hamming(spark):
    rows = registry.QUERIES["dedup_simhash_hamming_pairs"](spark, SF_SMALL).collect()
    assert all(r["hamming"] <= 16 for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_minhash_signature_deterministic(spark):
    from iceberg_demo_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(5)
    a = minhash_signatures(docs).collect()
    b = minhash_signatures(docs).collect()
    assert {r["doc_id"]: r["sig"] for r in a} == {r["doc_id"]: r["sig"] for r in b}
    assert all(len(r["sig"]) == 32 for r in a)


def test_embedding_near_dups_keeper_semantics(spark):
    from tests.conftest import SF_MED

    rows = registry.QUERIES["dedup_embedding_cosine"](spark, SF_MED).collect()
    assert rows, "synthetic corpus should contain near-dup pairs at 0.40"
    for r in rows:
        assert r["id_keep"] < r["id_dup"]
        assert r["sim"] >= 0.40
    # one keeper decision per duplicate
    assert len({r["id_dup"] for r in rows}) == len(rows)


def test_dedup_clusters_are_connected_components(spark):
    from tests.conftest import SF_MED

    pairs = registry.QUERIES["dedup_ngram_jaccard_pairs"](spark, SF_MED).collect()
    clusters = registry.QUERIES["dedup_clusters"](spark, SF_MED).collect()
    label = {r["doc_id"]: r["cluster_root"] for r in clusters}
    # every edge endpoint got a label, and both endpoints share one
    for p in pairs:
        assert label[p["id_a"]] == label[p["id_b"]]
    # the root is a member of its own cluster and is the minimum id
    by_root = {}
    for d, r in label.items():
        by_root.setdefault(r, []).append(d)
    for root, members in by_root.items():
        assert min(members) == root
    # sizes column consistent
    for r in clusters:
        assert r["cluster_size"] == len(by_root[r["cluster_root"]])


def test_embedding_near_dups_blocked_equals_single_block(spark):
    """The blocked all-pairs must be EXACT: forcing many tiny blocks
    (bounded per-task build side) yields identical pairs to one block."""
    from iceberg_demo_spark.operators.dedup import embedding_near_dups

    emb = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
    )
    one = {tuple(r) for r in
           embedding_near_dups(emb, rows_per_block=1 << 30).collect()}
    many = {tuple(r) for r in
            embedding_near_dups(emb, rows_per_block=8).collect()}
    assert one == many
    assert one, "synthetic corpus should contain near-dup pairs"


def test_connected_components_raises_on_non_convergence(spark):
    import pytest as _pytest
    from iceberg_demo_spark.operators.dedup import connected_components

    # a length-6 path graph needs ~3 min-label rounds; max_iter=1 can't
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a bigint, id_b bigint")
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=1)
    # and with room it converges to a single cluster rooted at 0
    labels = connected_components(edges, max_iter=10).collect()
    assert {r["cluster_root"] for r in labels} == {0}


def test_connected_components_skips_size_count_when_broadcast_off(spark):
    """Threshold 0 rules the single-partition collapse out, so the eager
    edge count that sizes it must not run. Against a positive threshold
    too small to collapse (same distributed plan), exactly that one
    count job goes; AQE is off so each action is one job."""
    from iceberg_demo_spark.operators.dedup import connected_components
    from tests.conftest import jobs_submitted

    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "id_a long, id_b long")
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled")
    old = {k: spark.conf.get(k) for k in keys}

    def run(threshold):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        return jobs_submitted(spark, lambda: sorted(
            tuple(r) for r in connected_components(edges).collect()))

    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        off_rows, off_jobs = run("-1")
        on_rows, on_jobs = run("1b")
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert off_rows == on_rows == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]
    assert on_jobs - off_jobs == 1


def test_connected_components_random_graphs_match_union_find(spark):
    """Property test: iterative min-label propagation equals a classic
    union-find over random edge sets (chains, stars, cycles, singletons)."""
    import random

    rng = random.Random(7)
    for trial in range(6):
        n = rng.randint(2, 18)
        edges = [(rng.randrange(n), rng.randrange(n))
                 for _ in range(rng.randint(1, 2 * n))]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            edges = [(0, 1)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        exp = {}
        for v in sorted({v for e in edges for v in e}):
            exp[v] = find(v)

        from iceberg_demo_spark.operators.dedup import connected_components

        edf = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a bigint, id_b bigint")
        got = {r["id"]: r["cluster_root"]
               for r in connected_components(edf, max_iter=40).collect()}
        # min-label propagation labels components by their min member,
        # which is also what the min-rooted union-find produces
        assert got == exp, (trial, edges)


def test_semdedup_is_cluster_restricted_subset_of_exact(spark):
    """SemDeDup (round 7) brackets against exact all-pairs dedup: every
    (dup, keep) pair it reports must also be an exact cosine-dup pair
    (same threshold), and pairs it misses must span different clusters —
    the clustering approximation loses ONLY cross-cluster pairs."""
    sem = registry.QUERIES["emb_semdedup"](spark, SF_MED).collect()
    exact_rows = registry.QUERIES["dedup_embedding_cosine"](
        spark, SF_MED).collect()
    exact_pairs = {(r["id_dup"], r["id_keep"]) for r in exact_rows}
    sem_keep = {}
    for r in sem:
        assert r["id_keep"] < r["id_dup"]
        sem_keep[r["id_dup"]] = r["id_keep"]
    # each semdedup keeper pair is a genuine near-dup pair: recompute the
    # cosine independently (numpy, straight from the parquet) and hold it
    # to the same >= 0.40 rule the operators share. The exact operator's
    # keeper may differ (it sees cross-cluster candidates), so pair-set
    # membership is NOT the property — pair similarity is.
    import numpy as np

    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in spark.read.parquet(f"{SF_MED}/embeddings.parquet")
            .select("vec_id", "embedding").collect()}

    def cos(a, b):
        return float(np.dot(a, b)
                     / (np.linalg.norm(a) * np.linalg.norm(b)))

    for r in sem:
        got = cos(vecs[r["id_dup"]], vecs[r["id_keep"]])
        assert got >= 0.40, (r["id_dup"], r["id_keep"], got)
        # the gate rounds sim to 4 decimals for oracle hash stability
        assert abs(got - r["sim"]) <= 5.01e-5, (r["id_dup"], r["id_keep"])
    # recall: the cluster restriction finds a nonempty, majority subset
    # of exact dups at this SF (8 clusters over 5000 vectors)
    exact_dups = {d for d, _k in exact_pairs}
    assert 0 < len(sem_keep) <= len(exact_dups)
    assert len(set(sem_keep) & exact_dups) == len(sem_keep)


def test_grouped_block_kernel_invariant_to_block_size(spark):
    """The group-keyed blocked kernel (round 7) must produce identical
    pairs whether a cluster fits one block or splits across many — the
    bounded-memory path is a pure repartitioning of the same math."""
    from iceberg_demo_spark.operators.dedup import embedding_near_dups

    emb = (spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v"),
                   (F.col("vec_id") % 3).alias("cid")))
    big = {tuple(r) for r in embedding_near_dups(
        emb, group_col="cid", rows_per_block=8192).collect()}
    tiny = {tuple(r) for r in embedding_near_dups(
        emb, group_col="cid", rows_per_block=16).collect()}
    assert big == tiny and len(big) > 0
    # and grouping genuinely restricts: pairs never cross clusters
    ids = {r["vec_id"]: r["cid"] for r in emb.select("vec_id", "cid").collect()}
    for id_dup, id_keep, cid, _sim in big:
        assert ids[id_dup] == ids[id_keep] == cid


def test_audit_gates_invariants(spark):
    """The two round-7 approximation-audit gates: matches can never
    exceed either side, basis points are consistent with the counts, and
    the known qualitative behavior holds (banded MinHash over-generates →
    recall ≥ precision; IVF loses only cross-cell neighbors → recall
    strictly positive)."""
    r = registry.QUERIES["dedup_minhash_recall"](spark, SF_SMALL).collect()[0]
    assert r["n_common"] <= min(r["n_exact"], r["n_approx"])
    assert r["recall_bp"] == 10000 * r["n_common"] // r["n_exact"]
    assert r["precision_bp"] == 10000 * r["n_common"] // r["n_approx"]
    assert r["recall_bp"] >= r["precision_bp"] > 0

    a = registry.QUERIES["sim_ann_recall"](spark, SF_SMALL).collect()[0]
    assert a["n_match"] <= min(a["n_exact"], a["n_approx"])
    assert a["recall_bp"] == 10000 * a["n_match"] // a["n_exact"]
    assert 0 < a["recall_bp"] <= 10000


def test_dup_span_coverage_matches_pure_python(spark):
    """doc_dup_span_coverage against an independent pure-Python recompute
    at sf0.001: same windows (64-char, stride 32), same >= 2-distinct-doc
    dup rule, same aligned-block union — aggregate values must be equal,
    not merely consistent."""
    import hashlib
    from collections import defaultdict

    docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id", "source", "n_chars", "text").collect())
    hash_docs = defaultdict(set)
    windows = {}  # doc_id -> list[(start, digest)]
    for r in docs:
        wins = []
        # 1-based starts 1, 33, ... <= n_chars - 63 (whole windows only)
        for s in range(1, r["n_chars"] - 62, 32):
            d = hashlib.md5(r["text"][s - 1:s + 63].encode()).hexdigest()
            wins.append((s, d))
            hash_docs[d].add(r["doc_id"])
        windows[r["doc_id"]] = wins
    dup = {h for h, ds in hash_docs.items() if len(ds) >= 2}
    agg = defaultdict(lambda: [0, 0, 0, 0])  # flagged, chars, max, sum
    for r in docs:
        blocks = {b for s, d in windows[r["doc_id"]] if d in dup
                  for b in ((s - 1) // 32, (s - 1) // 32 + 1)}
        if not blocks:
            continue
        covered = 32 * len(blocks)
        bps = covered * 10000 // r["n_chars"]
        a = agg[r["source"]]
        a[0] += 1
        a[1] += covered
        a[2] = max(a[2], bps)
        a[3] += bps
    got = {r["source"]: (r["docs_flagged"], r["total_covered_chars"],
                         r["max_coverage_bps"], r["sum_coverage_bps"])
           for r in registry.QUERIES["doc_dup_span_coverage"](
               spark, SF_SMALL).collect()}
    assert got == {s: tuple(v) for s, v in agg.items()}
    assert got  # nonempty at this SF — the synth corpus repeats spans


def test_incremental_batch_dedup_matches_pure_python(spark):
    """dedup_incremental_batch against an independent pure-Python
    recompute at sf0.001: same batch split (doc_id % 5), same 64-char
    stride-32 windows (short docs contribute one whole-text window),
    same corpus-membership contamination rule — every aggregate must be
    equal, not merely consistent."""
    import hashlib
    from collections import defaultdict

    docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id", "source", "n_chars", "text").collect())

    def wins(r):
        return [hashlib.md5(r["text"][s - 1:s + 63].encode()).hexdigest()
                for s in range(1, max(r["n_chars"] - 63, 1) + 1, 32)]

    corpus = set()
    for r in docs:
        if r["doc_id"] % 5 != 0:
            corpus.update(wins(r))
    agg = defaultdict(lambda: [0, 0, set(), set()])
    for r in docs:
        if r["doc_id"] % 5 != 0:
            continue
        ws = wins(r)
        a = agg[r["source"]]
        a[0] += 1
        a[1] += any(w in corpus for w in ws)
        a[2].update(ws)
        a[3].update(w for w in ws if w in corpus)
    got = {r["source"]: r
           for r in registry.QUERIES["dedup_incremental_batch"](
               spark, SF_SMALL).collect()}
    assert set(got) == set(agg)
    for src, (nd, nc, bw, mw) in agg.items():
        row = got[src]
        assert row["n_batch_docs"] == nd
        assert row["n_contaminated"] == nc
        assert row["n_clean"] == nd - nc
        assert row["batch_windows"] == len(bw)
        assert row["matched_windows"] == len(mw)
    # the synthetic corpus repeats spans across docs, so the batch must
    # see real contamination — otherwise the gate degenerates
    assert sum(v[1] for v in agg.values()) > 0


def test_indexed_incremental_dedup_equals_broadcast_variant(spark):
    """The persisted bucketed index is a physical layout, not a semantic
    change: dedup_incremental_indexed must return row-for-row the same
    accounting as dedup_incremental_batch at sf0.001."""
    a = registry.QUERIES["dedup_incremental_batch"](spark, SF_SMALL)
    b = registry.QUERIES["dedup_incremental_indexed"](spark, SF_SMALL)
    assert a.columns == b.columns
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb and ra


def test_dedup_index_compaction_binpacks_and_preserves_answer(spark):
    """dedup_index_compact: the fragmented index carries one file per
    bucket PER INGEST EPOCH (3 appends → up to 3 files/bucket); the
    compacted tier carries exactly one file per non-empty bucket, holds
    the identical digest set, and the probe over it returns row-for-row
    the broadcast variant's accounting (it also shares that oracle)."""
    import os
    import re
    from collections import defaultdict

    from iceberg_demo_spark.operators.dedup import (
        ensure_fragmented_dedup_index)
    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.scratch import scratch_path

    def bucket_files(path):
        out = defaultdict(int)
        for f in os.listdir(path):
            m = re.search(r"_(\d{5})\.c\d+.*\.parquet$", f)
            if m:
                out[int(m.group(1))] += 1
        return dict(out)

    got = registry.QUERIES["dedup_index_compact"](spark, SF_SMALL)
    ref = registry.QUERIES["dedup_incremental_batch"](spark, SF_SMALL)
    assert got.columns == ref.columns
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, ref.collect()))

    frag = ensure_fragmented_dedup_index(spark, SF_SMALL)
    before = bucket_files(scratch_path(frag))
    cname = f"glacier_dedup_idxcmp_{_sf_tag(SF_SMALL)}"
    after = bucket_files(scratch_path(cname))
    assert max(before.values()) >= 2, before       # the drift is real
    assert after and all(n == 1 for n in after.values()), after
    # layout only: the digest set is unchanged
    n_frag = spark.table(frag).distinct().count()
    assert spark.table(cname).count() == n_frag
    assert spark.table(cname).distinct().count() == n_frag


def test_cross_source_matrix_matches_pure_python(spark):
    """dedup_cross_source_matrix vs a pure-Python recompute at sf0.001:
    distinct shared windows per unordered source pair plus b-side
    contaminated doc counts, exact equality."""
    import hashlib
    from collections import defaultdict

    docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id", "source", "n_chars", "text").collect())
    src_wh = defaultdict(set)        # source -> window hashes
    doc_wh = {}                      # doc -> (source, hashes)
    for r in docs:
        ws = {hashlib.md5(r["text"][s - 1:s + 63].encode()).hexdigest()
              for s in range(1, max(r["n_chars"] - 63, 1) + 1, 32)}
        src_wh[r["source"]] |= ws
        doc_wh[r["doc_id"]] = (r["source"], ws)
    sources = sorted(src_wh)
    exp = {}
    for i, a in enumerate(sources):
        for b in sources[i + 1:]:
            shared = len(src_wh[a] & src_wh[b])
            if not shared:
                continue
            docs_b = sum(1 for d, (s, ws) in doc_wh.items()
                         if s == b and ws & src_wh[a])
            exp[(a, b)] = (shared, docs_b)
    got = {(r["source_a"], r["source_b"]):
           (r["shared_windows"], r["docs_b_overlapping"])
           for r in registry.QUERIES["dedup_cross_source_matrix"](
               spark, SF_SMALL).collect()}
    assert got == exp and got


def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _delete1_keys(name):
    return {name} | {name[:i] + name[i + 1:] for i in range(len(name))}


def test_fuzzy_name_pairs_matches_pure_python(spark):
    """dedup_fuzzy_name_pairs vs a pure-Python recompute at sf0.001:
    same symmetric-delete key set (name + every delete-1 variant, capped
    blocks), same Levenshtein<=1 rule (verified with a hand-rolled DP —
    not Spark's own function), same three aggregates. Because the
    delete-1 construction is complete at distance 1, n_pairs must ALSO
    equal the unblocked all-pairs ground truth — asserted too."""
    from collections import defaultdict

    rows = (spark.read.parquet(f"{SF_SMALL}/customer.parquet")
            .select("c_custkey", "c_name").collect())
    # blocks carry ROW multiplicity (a name whose repeated adjacent chars
    # yield the same delete-1 variant twice emits two key rows) — the cap
    # in the implementation and the oracle counts exploded rows, not
    # distinct (key, record) pairs
    blocks = defaultdict(list)
    for r in rows:
        for k in [r["c_name"]] + [r["c_name"][:i] + r["c_name"][i + 1:]
                                  for i in range(len(r["c_name"]))]:
            blocks[k].append((r["c_name"], r["c_custkey"]))
    pairs, blk_hit = set(), set()
    for blk, members in blocks.items():
        if len(members) > 256:
            continue
        for i in range(len(members)):
            for j in range(len(members)):
                (na, ia), (nb, ib) = members[i], members[j]
                if na < nb and _lev(na, nb) <= 1:
                    pairs.add((ia, ib))
                    blk_hit.add(blk)
    matched = {x for p in pairs for x in p}
    exact = {(ia, ib)
             for na, ia in ((r["c_name"], r["c_custkey"]) for r in rows)
             for nb, ib in ((r["c_name"], r["c_custkey"]) for r in rows)
             if na < nb and _lev(na, nb) <= 1}
    assert pairs == exact, "delete-1 blocking lost recall at distance 1"
    got = registry.QUERIES["dedup_fuzzy_name_pairs"](
        spark, SF_SMALL).collect()[0]
    assert got["n_pairs"] == len(pairs) > 0
    assert got["n_customers_matched"] == len(matched)
    assert got["n_blocks"] == len(blk_hit)


def test_fuzzy_multipass_catches_mid_name_edit_prefix_misses(spark):
    """The round-7 concession, now closed: an edit INSIDE the prefix
    block key escaped the single-pass form. 'abXcdef' vs 'abYcdef'
    share no length-minus-2 prefix block, but the delete-3 variants
    collide — the multipass finds the pair."""
    from iceberg_demo_spark.operators.dedup import (
        _fuzzy_delete1_keys, _fuzzy_hits)

    df = spark.createDataFrame(
        [(1, "abXcdef"), (2, "abYcdef"), (3, "zzzzzzz")], "id long, nm string")
    hits = _fuzzy_hits(_fuzzy_delete1_keys(df, "id", "nm"), "id", "nm")
    assert {(r["id_a"], r["id_b"]) for r in hits.collect()} == {(1, 2)}
    # the old prefix block key indeed separates them
    assert "abXcdef"[:-2] != "abYcdef"[:-2]


def test_fuzzy_skew_guard_caps_ubiquitous_blocks(spark):
    """Adversarial skew fixture — the 'everyone named UNKNOWN' hazard
    the round-7 docstring only named: 400 identical names would form a
    400²-pair block; with max_block=50 the guard drops every key they
    share BEFORE the self-join, so per-task candidate fan-out stays
    bounded (≤ cap² per key) and the distinct minority names still
    match each other."""
    from iceberg_demo_spark.operators.dedup import (
        _fuzzy_delete1_keys, _fuzzy_hits)

    rows = [(i, "UNKNOWN") for i in range(400)]
    rows += [(1000, "acme corp"), (1001, "acme c0rp")]
    df = spark.createDataFrame(rows, "id long, nm string")
    keys = _fuzzy_delete1_keys(df, "id", "nm", max_block=50)
    per_key = keys.groupBy("k").count().agg(
        F.max("count").alias("mx")).collect()[0]["mx"]
    assert per_key <= 50, "a block above the cap survived"
    got = {(r["id_a"], r["id_b"])
           for r in _fuzzy_hits(keys, "id", "nm")
           .select("id_a", "id_b").distinct().collect()}
    assert got == {(1001, 1000)} or got == {(1000, 1001)}


def test_fuzzy_recall_gate_matches_pure_python(spark):
    """dedup_fuzzy_recall vs a pure-Python recompute at sf0.001: exact
    sample ground truth (all-pairs DP), prefix-pass subset, multipass
    subset, floor-division bps."""
    rows = (spark.read.parquet(f"{SF_SMALL}/customer.parquet")
            .select("c_custkey", "c_name")
            .filter("c_custkey % 3 = 0").collect())
    names = [(r["c_name"], r["c_custkey"]) for r in rows]
    exact = {(ia, ib) for na, ia in names for nb, ib in names
             if na < nb and _lev(na, nb) <= 1}
    pfx = {(ia, ib) for na, ia in names for nb, ib in names
           if na < nb and na[:-2] == nb[:-2] and _lev(na, nb) <= 1}
    multi = {(ia, ib) for na, ia in names for nb, ib in names
             if na < nb and (_delete1_keys(na) & _delete1_keys(nb))
             and _lev(na, nb) <= 1}
    got = registry.QUERIES["dedup_fuzzy_recall"](
        spark, SF_SMALL).collect()[0]
    assert got["n_exact_pairs"] == len(exact) > 0
    assert got["n_prefix_pairs"] == len(pfx)
    assert got["n_multipass_pairs"] == len(multi) == len(exact)
    assert got["recall_prefix_bps"] == 10000 * len(pfx) // len(exact)
    assert got["recall_multipass_bps"] == 10000


def test_cascade_stage1_is_exactly_lsh_candidates(spark):
    """The cascade's pair set IS the LSH candidate set — the semantic
    stage re-attaches vectors and verdicts but never adds/drops pairs."""
    cand = {(r.id_a, r.id_b) for r in registry.QUERIES
            ["dedup_minhash_lsh_pairs"](spark, SF_SMALL).collect()}
    casc = registry.QUERIES["dedup_cascade_lsh_cosine"](
        spark, SF_SMALL).collect()
    assert {(r.id_a, r.id_b) for r in casc} == cand


def test_cascade_cosine_matches_numpy(spark):
    import numpy as np

    from iceberg_demo_spark.sources import load_tables

    emb = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
           for r in load_tables(spark, SF_SMALL, ("embeddings",))
           ["embeddings"].collect()}
    for r in registry.QUERIES["dedup_cascade_lsh_cosine"](
            spark, SF_SMALL).collect():
        a, b = emb[r.id_a], emb[r.id_b]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos_sim - cos) < 5e-4
        assert r.confirmed == int(cos >= 0.0) or abs(cos) < 5e-4


def test_survivorship_matches_python_recompute(spark):
    """Union-find + keep-longest election recomputed in pure Python from
    the pair gate's own output at sf0.001."""
    from iceberg_demo_spark.sources import load_tables

    pairs = [(r.id_a, r.id_b) for r in registry.QUERIES
             ["dedup_ngram_jaccard_pairs"](spark, SF_SMALL).collect()]
    chars = {r.doc_id: r.n_chars for r in load_tables(
        spark, SF_SMALL, ("documents",))["documents"]
        .select("doc_id", "n_chars").collect()}
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {}
    for node in parent:
        clusters.setdefault(find(node), []).append(node)
    expected = {}
    for members in clusters.values():
        root = min(members)
        kept = min(members, key=lambda d: (-chars[d], d))
        total = sum(chars[d] for d in members)
        expected[root] = (kept, chars[kept], len(members),
                          len(members) - 1, total - chars[kept])
    rows = registry.QUERIES["dedup_cluster_survivorship"](
        spark, SF_SMALL).collect()
    got = {r.cluster_root: (r.kept_doc_id, r.kept_chars, r.cluster_size,
                            r.dropped_docs, r.dropped_chars) for r in rows}
    assert got == expected


def test_prefix_filter_is_lossless_vs_exact(spark):
    """Prefix filtering is COMPLETE at the threshold: the gate's output
    equals the exact n-gram Jaccard gate row-for-row."""
    exact = registry.QUERIES["dedup_ngram_jaccard_pairs"](
        spark, SF_SMALL).collect()
    pf = registry.QUERIES["dedup_prefix_filter_pairs"](
        spark, SF_SMALL).collect()
    assert sorted(map(tuple, pf)) == sorted(map(tuple, exact))


def _large_vocab_docs(spark, n_base=300, n_dups=100, n_tok=27):
    """Deterministic LARGE-VOCABULARY fixture — the regime the published
    prefix filter is built for: every doc opens with one ubiquitous
    trigram ('the quick fox', df = all docs — the co-shingle join's
    quadratic key) followed by md5-derived tokens unique to the doc,
    and each of the last ``n_dups`` docs is a near-dup of doc k-n_base
    with two mid-text tokens edited (Jaccard 0.75 over trigram sets)."""
    import hashlib

    def tok(i, j):
        return hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:10]

    rows = []
    for i in range(n_base):
        rows.append((i, "the quick fox " +
                     " ".join(tok(i, j) for j in range(n_tok))))
    for k in range(n_base, n_base + n_dups):
        i = k - n_base
        toks = [tok(i, j) for j in range(n_tok)]
        toks[10], toks[11] = tok(k, 10), tok(k, 11)
        rows.append((k, "the quick fox " + " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_prefix_filter_large_vocabulary_power(spark):
    """On a large-vocabulary corpus the prefix filter has its PUBLISHED
    power: the ubiquitous trigram that makes the co-shingle join
    quadratic (~80k pairs here) is the highest-df shingle, so
    rarest-first prefixes never join on it — candidates collapse to
    exactly the 100 planted near-dup pairs, verification is
    candidate-bound (array_intersect path, ~0.3 candidates/doc), and
    the output still equals the exact Jaccard ground truth."""
    import hashlib

    from pyspark.sql import functions as F

    from iceberg_demo_spark.operators.dedup import (
        prefix_filter_pairs, shingles_col)

    docs = _large_vocab_docs(spark)
    # ground truth + co-shingle pair count, recomputed independently
    sh = {r["doc_id"]: set(r["arr"]) for r in docs.select(
        "doc_id", shingles_col().alias("arr")).collect()}
    ids = sorted(sh)
    exact, co_shingle = [], 0
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sh[ids[x]], sh[ids[y]]
            inter = len(a & b)
            if inter:
                co_shingle += 1
                j = inter / (len(a) + len(b) - inter)
                if j >= 0.2:
                    exact.append((ids[x], ids[y], round(j, 4)))
    assert co_shingle >= 79_000          # the quadratic the filter dodges
    assert len(exact) == 100             # the planted near-dup pairs

    got = sorted(map(tuple, prefix_filter_pairs(docs).collect()))
    assert got == sorted(exact)
    # the filter's power: candidates collapse to the true pairs — three
    # orders of magnitude under the co-shingle pair count
    from iceberg_demo_spark.operators.dedup import _prefix_candidates
    sh_df = docs.select("doc_id", F.explode(shingles_col()).alias("s"))
    arrs = sh_df.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("arr"),
        F.count(F.lit(1)).alias("n_sh"))
    n_cand = _prefix_candidates(sh_df, arrs, 0.2).count()
    assert n_cand == 100, (n_cand, co_shingle)
    # the ubiquitous shingle exists and dominates — the quadratic key
    # the prefix provably never joins on
    top = (sh_df.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
           .orderBy(F.desc("df")).first())
    assert top["df"] == 400 and "quick" in top["s"]
