"""Graph operators over the document-similarity graph (rounds 7-8).

The fleet's iterative-algorithm family: dedup_clusters (dedup.py) does
min-label propagation to a fixpoint; this module adds fixed-iteration
PageRank — the canonical "loop of shuffles" workload — with ALL-INTEGER
arithmetic so every iteration is value-exact against the DuckDB oracle
(no float accumulation-order hazard).

Round 8 (VERDICT r7 #3) makes it canonical PageRank: the rank frame
covers ALL nodes (sources, internal, and out-degree-zero sinks), and the
mass sinks would otherwise swallow is redistributed through the teleport
term each iteration — and the document graph is now DIRECTED
(first-seen copy → later duplicate), so genuine sinks exist and the
dangling path is exercised cross-engine, not just in a pytest fixture.
The loop runs N=10 iterations with a localCheckpoint every 5 to cut
lineage — the production loop structure the round-7 docstring promised
(the connected_components pattern, dedup.py).

Scale design: one shuffle per iteration (contributions grouped by dst);
the rank and node frames are node-sized, the edge frame is persisted
once and re-joined per iteration; the dangling mass is a 1-row broadcast
aggregate, never a driver collect, so the loop stays fully distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_demo_spark.registry import query
from iceberg_demo_spark.cache import (
    fits_broadcast,
    pin as _pin,
    pin_checkpoint as _pin_ckpt,
)
from iceberg_demo_spark.sources import load_tables

#: fixed-point rank scale — integer "1.0"; floor divisions below make
#: every iteration bit-exact across engines
_S = 1_000_000_000

#: iterations / materialization cadence for the gate. Cadence 1 is
#: measured, not assumed: every iteration's rank frame has TWO consumers
#: (edge contributions + the dangling-mass sum), and Spark re-executes
#: shared logical subtrees, so any unmaterialized iteration is recomputed
#: once per consumer — 2^k work between cuts. At sf0.1: cadence 5 =
#: 26.3s, cadence 2 = 6.8s, cadence 1 = 6.3s for the 10-iteration gate
#: under the round-11 plans; re-measured in round 12 after the gated
#: broadcast landed (cadence 2 = 5.8s, cadence 1 = 5.0s quiet) — the
#: cut stays at 1. A rank frame with a single consumer could stretch
#: the cadence; this one cannot.
_N_ITER = 10
_CKPT_EVERY = 1


def integer_pagerank(edges: DataFrame, n_iter: int = _N_ITER,
                     checkpoint_every: int = _CKPT_EVERY) -> DataFrame:
    """Canonical PageRank over a directed edge frame (``src``, ``dst``)
    in fixed-point bigint arithmetic, damping 0.85:

        r'(b) = 0.15·S + floor(0.85 · (Σ_{a→b} floor(r(a)/outdeg(a))
                                       + floor(D/N)) / 1)      [floors]

    where D = Σ rank over out-degree-zero sinks (the dangling mass,
    folded into every node's teleport share) and N = |nodes|. Every
    division is a bigint floor, so Spark and DuckDB agree bit-exactly.
    Mass is conserved up to quantified floor loss: one iteration loses
    < E + 2N units (each share floor < 1 per edge, the dangling split
    < 1 per node, the 85% floor < 1 per node), and damping shrinks
    carried loss ×0.85 per round, so at any depth
    N·S − ⌈(E + 2N)/0.15⌉ ≤ Σ rank ≤ N·S — asserted per-iteration in
    tests/test_graph.py.

    Scale shape: ``edges`` is persisted once; each iteration is at most
    ONE shuffle (contributions grouped by dst) plus node-sized joins; the
    dangling mass is a 1-row broadcast aggregate (no driver collect).
    Each rank frame has TWO consumers (contributions + dangling sum) and
    Spark re-executes shared logical subtrees — a lazy ``persist`` does
    NOT reliably dedupe the two branches inside one job — so the loop
    ``localCheckpoint``s (eager) every ``checkpoint_every`` iterations
    and at the end, making each iteration's work happen exactly once and
    cutting lineage (the Spark-side twin of the oracle's MATERIALIZED
    CTEs; see _CKPT_EVERY for the cadence measurements — a persist-based
    cut was tried in round 12 and rejected: without the lineage cut the
    logical plan doubles per iteration, two rank references per level,
    and analysis time explodes). Because the checkpointed rank is a
    LogicalRDD whose size Catalyst cannot estimate, the node-sized loop
    frames carry a COUNT-GATED broadcast hint (exact measured n_nodes ×
    conservative bytes/row vs the session threshold) — adaptive, never
    forced on an unbounded frame. Interior caches are unpersisted before
    returning — bounded plan depth, bounded cache."""
    e = edges.transform(_pin)
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().transform(_pin))
    n_nodes = nodes.count()   # materializes e + nodes caches
    deg = (e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
           .transform(_pin))
    # Count-GATED broadcast of the node-sized loop frames: each
    # checkpointed rank frame is a LogicalRDD whose size Catalyst cannot
    # estimate (default-huge), so without a hint every iteration pays
    # sort-merge exchanges even on a hundred-node graph. n_nodes is the
    # EXACT row count of rank/deg/agg forever (all are keyed by node),
    # so gating the hint on measured rows x a conservative bytes/row
    # against the session's broadcast threshold is adaptive, never
    # forced: a graph that outgrows the threshold keeps the shuffled
    # joins. With the hint, an iteration's only exchange is the
    # contribution groupBy -- the edge frame itself never shuffles.
    small = fits_broadcast(e.sparkSession, lambda: n_nodes)

    def _bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    # Fold the LOOP-INVARIANT out-degree into the rank frame once
    # (round 12): the old loop re-joined ``deg`` twice per iteration
    # (dangling filter + contribution share) — two joins and two
    # broadcast builds per iteration whose right side never changes.
    # Carrying (node, outdeg, rank) through the checkpoints makes the
    # dangling sum a join-free filter+aggregate and the contribution
    # share a plain column expression; per-iteration cost drops to one
    # edge join + the contribution groupBy + the node-keyed carry join.
    ndeg = (nodes.join(_bc(deg), nodes.node == deg.src, "left")
            .select("node", "outdeg").transform(_pin))
    rank = ndeg.select("node", "outdeg",
                       F.lit(_S).cast("bigint").alias("rank"))
    cached: list[DataFrame] = []
    for i in range(n_iter):
        dang = (rank.filter(F.col("outdeg").isNull())
                .agg(F.coalesce(F.sum("rank"), F.lit(0))
                     .cast("bigint").alias("d")))
        contrib = (e.join(_bc(rank), e.src == rank.node)
                   .select("dst", F.expr("rank div outdeg").alias("share")))
        agg = (contrib.groupBy(F.col("dst").alias("node"))
               .agg(F.sum("share").cast("bigint").alias("s")))
        rank = (ndeg.join(_bc(agg), "node", "left")
                .crossJoin(F.broadcast(dang))
                .select("node", "outdeg",
                        (F.lit(15 * _S // 100)
                         + F.expr(f"(85 * (coalesce(s, CAST(0 AS BIGINT))"
                                  f" + d div {n_nodes})) div 100"))
                        .cast("bigint").alias("rank")))
        if (i + 1) % checkpoint_every == 0 or (i + 1) == n_iter:
            rank = rank.transform(_pin_ckpt)  # eager: cut lineage here
            for c in cached:
                c.unpersist()
            cached.clear()
        else:
            rank = rank.transform(_pin)
            cached.append(rank)
    for c in (e, nodes, deg, ndeg):
        c.unpersist()
    return rank.select("node", "rank")


def _pagerank_sql_iterations(n_iter: int) -> str:
    """The oracle's unrolled mirror of integer_pagerank: per iteration a
    contribution CTE, a dangling-share CTE (scalar), and a rank CTE over
    ALL nodes (LEFT JOIN keeps zero-in-degree nodes; COALESCE keeps
    their contribution at 0)."""
    parts = []
    for i in range(1, n_iter + 1):
        p = i - 1
        # MATERIALIZED: each rank CTE is referenced twice (contributions
        # + dangling sum); inlined CTEs would expand the whole pipeline
        # 2^n_iter times
        parts.append(f"""
    c{i} AS MATERIALIZED (SELECT e.dst AS node,
                  CAST(SUM(r{p}.rank // d.outdeg) AS BIGINT) AS s
           FROM e JOIN r{p} ON e.src = r{p}.node
                JOIN deg d ON e.src = d.src
           GROUP BY e.dst),
    dsh{i} AS (SELECT CAST(COALESCE((
                  SELECT SUM(r{p}.rank) FROM r{p}
                  LEFT JOIN deg ON r{p}.node = deg.src
                  WHERE deg.src IS NULL), 0) AS BIGINT)
                  // (SELECT n FROM nn) AS dsh),
    r{i} AS MATERIALIZED (SELECT n.node,
                  CAST({15 * _S // 100}
                       + (85 * (COALESCE(c{i}.s, 0)
                                + (SELECT dsh FROM dsh{i}))) // 100
                       AS BIGINT) AS rank
           FROM nodes n LEFT JOIN c{i} ON n.node = c{i}.node)""")
    return ",".join(parts)


@query(
    "graph_doc_pagerank",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT doc_id, md5(substr(text, s::INT, 64)) AS wh
      FROM documents,
           UNNEST(range(1, greatest(n_chars - 63, 1) + 1, 32)) AS t(s)
    ),
    e AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM w a JOIN w b ON a.wh = b.wh AND a.doc_id < b.doc_id
    ),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM e GROUP BY src),
    r0 AS MATERIALIZED (
      SELECT node, CAST({_S} AS BIGINT) AS rank FROM nodes),
    {_pagerank_sql_iterations(_N_ITER)}
    SELECT node AS doc_id, rank
    FROM r{_N_ITER} ORDER BY rank DESC, doc_id LIMIT 20
    """,
)
def graph_doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten iterations of canonical integer PageRank over the DIRECTED
    shared-window document graph — an edge runs first-seen copy →
    later duplicate (doc_id order over pairs sharing a 64-char dedup
    window), so rank accumulates on the documents whose content is
    most downstream-duplicated, and maximal duplicates are genuine
    SINKS whose mass the dangling term redistributes each iteration
    (round 8; previously 2 symmetric-edge iterations with sink mass
    silently dropped). Top 20 by (rank DESC, doc_id).

    Integer discipline: start rank = S = 10^9; each iteration is
    r(b) = 0.15·S + floor(0.85·(Σ floor(r(a)/outdeg(a)) + floor(D/N)))
    with every division a bigint floor, so Spark and DuckDB agree
    bit-exactly — see integer_pagerank, whose per-iteration mass-
    conservation band is pytest-asserted.

    Scale shape: the edge list is built once from the distinct
    (doc_id, wh) frame (digest-keyed self-join, per-key fan-out bounded
    by window repetition) and persisted; each of the 10 iterations is
    ONE shuffle, the dangling mass a 1-row broadcast aggregate, and an
    eager localCheckpoint per iteration cuts the lineage — required,
    not optional, because the rank frame is consumed twice (cadence
    measurements at _CKPT_EVERY); the loop structure a production
    100-iteration run keeps verbatim. Isolated
    documents never enter the edge frame and are excluded, matching the
    oracle."""
    t = load_tables(spark, sf_dir, ("documents",))
    from iceberg_demo_spark.operators.dedup import _ingest_windows

    w = (_ingest_windows(t["documents"])
         .select("doc_id", "wh").distinct())
    x, y = w.alias("x"), w.alias("y")
    e = (x.join(y, "wh")
         .filter(F.col("x.doc_id") < F.col("y.doc_id"))
         .select(F.col("x.doc_id").alias("src"),
                 F.col("y.doc_id").alias("dst"))
         .distinct())
    rank = integer_pagerank(e)
    return (rank.select(F.col("node").alias("doc_id"), "rank")
            .orderBy(F.desc("rank"), "doc_id").limit(20))


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered wedge join) + global clustering
# ---------------------------------------------------------------------------

@query(
    "graph_doc_triangles",
    oracle="""
    WITH w AS (
      SELECT DISTINCT doc_id, md5(substr(text, s::INT, 64)) AS wh
      FROM documents,
           UNNEST(range(1, greatest(n_chars - 63, 1) + 1, 32)) AS t(s)
    ),
    e AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM w a JOIN w b ON a.wh = b.wh AND a.doc_id < b.doc_id
    ),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
      GROUP BY v
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM e ab JOIN e bc ON ab.dst = bc.src
      JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT)
             AS n_wedges,
           (SELECT n_triangles FROM tri) AS n_triangles,
           CAST((10000 * 3 * (SELECT n_triangles FROM tri))
                // greatest((SELECT SUM(d * (d - 1) // 2) FROM deg), 1)
                AS BIGINT) AS clustering_bps
    """,
)
def graph_doc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the UNDIRECTED
    shared-window document graph (same edge set as graph_doc_pagerank,
    canonical src < dst) — the graph-shape audit of a dedup cluster
    structure: a high clustering coefficient says near-dup relations are
    transitive (clean cliques the survivorship election handles well); a
    low one says chains/stars (partial overlaps — span-level dedup
    territory).

    Algorithm — the published degree-ordered wedge count (the m^(3/2)
    bound, Schank & Wagner 2005 / Suri & Vassilvitskii's MapReduce
    form): re-orient every edge from its LOWER-rank endpoint under the
    total order (degree, id), count wedges only at each triangle's
    lowest-rank corner, and close them against the canonical edge set.
    Orientation caps every vertex's out-degree at O(√m), so the wedge
    join's per-key fan-out is bounded REGARDLESS of hub degree — the
    skew story that makes triangle counting feasible at 100 TB, where
    the naive a<b<c wedge join explodes on the hottest node. The count
    is algorithm-independent, so the DuckDB oracle uses the simple
    id-ordered form: same integer, two shapes.

    Shuffles: degree aggregate (ids+ints), two edge-keyed joins for
    orientation, one u-keyed self-join (fan-out √m-capped), one
    (min,max)-keyed closing join. Text never leaves the hash
    projection; everything shuffled is int pairs."""
    t = load_tables(spark, sf_dir, ("documents",))
    from iceberg_demo_spark.operators.dedup import _ingest_windows

    w = (_ingest_windows(t["documents"])
         .select("doc_id", "wh").distinct())
    x, y = w.alias("x"), w.alias("y")
    e = (x.join(y, "wh")
         .filter(F.col("x.doc_id") < F.col("y.doc_id"))
         .select(F.col("x.doc_id").alias("src"),
                 F.col("y.doc_id").alias("dst"))
         .distinct()
         .transform(_pin))
    deg = (e.select(F.col("src").alias("v"))
           .unionByName(e.select(F.col("dst").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d"))
           .transform(_pin))
    # orient each edge low-rank → high-rank under (degree, id)
    eo = (e.join(deg.select(F.col("v").alias("src"),
                            F.col("d").alias("ds")), "src")
          .join(deg.select(F.col("v").alias("dst"),
                           F.col("d").alias("dd")), "dst")
          .select(
              F.when((F.col("ds") < F.col("dd"))
                     | ((F.col("ds") == F.col("dd"))
                        & (F.col("src") < F.col("dst"))),
                     F.col("src")).otherwise(F.col("dst")).alias("u"),
              F.when((F.col("ds") < F.col("dd"))
                     | ((F.col("ds") == F.col("dd"))
                        & (F.col("src") < F.col("dst"))),
                     F.col("dst")).otherwise(F.col("src")).alias("v"))
          .transform(_pin))
    e1, e2 = eo.alias("e1"), eo.alias("e2")
    wedges = (e1.join(e2, (F.col("e1.u") == F.col("e2.u"))
                      & (F.col("e1.v") < F.col("e2.v")))
              .select(F.least("e1.v", "e2.v").alias("src"),
                      F.greatest("e1.v", "e2.v").alias("dst")))
    tri = wedges.join(e, ["src", "dst"]).agg(
        F.count(F.lit(1)).alias("n_triangles"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"))
    edges_n = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (stats.crossJoin(F.broadcast(edges_n))
            .crossJoin(F.broadcast(tri))
            .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                    F.expr("(10000 * 3 * n_triangles)"
                           " div greatest(n_wedges, 1)")
                     .alias("clustering_bps")))
