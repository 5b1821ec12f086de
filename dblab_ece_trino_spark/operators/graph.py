"""Graph analytics over a market-basket co-order graph: fixed-point
PageRank and triangle participation (beyond-parity ops — the reference
ships no graph surface; SURVEY §2.8's function-pack lane is where user
macros like these live).

Graph derivation (shared by both ops and both engines): nodes are parts,
with an undirected edge between two parts that appear together in at
least ``min_support`` orders.  The edge build is a self-join of lineitem
on l_orderkey — fan-out is C(items-per-order, 2), bounded by the order
size (≤ ~20 in TPC-H-shaped data), so the pair stream is a BOUNDED
per-order explode, not an n² blow-up, and the support threshold
(a-priori pruning, same economics as behavior.py's token co-occurrence
miner) keeps the edge set sparse: measured 3.6k edges over 2k part
nodes at sf0.01 and 3.9k edges over 20k nodes at sf0.1 — density FALLS
as the catalog grows, which is exactly the production shape.

Scale notes (100 TB lens):

- **PageRank** runs as an iterative DataFrame loop (the dedup_clusters
  precedent: Spark CTEs are inlined, so an unrolled-SQL form would
  re-derive the lineitem self-join once per iteration — the loop
  materializes edges/degrees ONCE and each iteration is one
  contribution join + one keyed agg, i.e. one shuffle per iteration on
  the edge table).  All arithmetic is FIXED-POINT INTEGER (rank mass
  scaled by 10^12): float PageRank is order-sensitive under distributed
  summation (float addition is not associative, so two runs of the same
  job can rank ties differently), while BIGINT sums are exact and
  associative on any partitioning — this is what makes the op
  deterministic on a 1000-executor cluster AND lets DuckDB replay it
  bit-for-bit as an unrolled 5-iteration CTE oracle.
- **Triangles** use the oriented (u < v) edge list: each triangle is
  counted exactly once as a < b < c, the wedge join (e1.v = e2.u) is
  bounded by sum-of-degree² of the THRESHOLDED graph, not the raw
  co-order stream.  For power-law graphs where id-orientation leaves
  hot wedges, the standard upgrade is degree-orientation (order edges
  by (degree, id) instead of id) — noted here, not needed at this
  density.

Both entries return exact integers, so driver hashing has no float
rendering risk anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dblab_ece_trino_spark.operators.registry import register
from dblab_ece_trino_spark.session import shared_build

PR_SCALE = 10**12
PR_ITERS = 5
MIN_SUPPORT = 2

# Oracle-side shared edge derivation (DuckDB dialect).
_PAIRS_CTE = f"""
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {MIN_SUPPORT}
    )"""


def coorder_pairs(li: DataFrame, min_support: int = MIN_SUPPORT) -> DataFrame:
    """Oriented (u < v) part pairs with >= min_support co-ordered
    lineitem pair instances (a pair repeated within one order counts
    each instance — same on both engines).

    Shape: ONE scan + ONE shuffle — per-order part lists (bounded by
    order size, <= ~20 items) are collected, then the C(k, 2) pair
    combinations explode map-side from the list.  The equivalent
    self-join (the oracle's formulation) scans lineitem twice and
    shuffles both sides; at 100 TB that is the difference between
    shuffling the fact table once and twice for identical output.
    """
    # explicit key repartition ahead of the groupBy: the pair explode is
    # CPU-heavy per row while the shuffled bytes are tiny, so AQE's
    # size-targeted coalescing would squeeze the stage onto ~4 tasks and
    # leave the other cores idle; pinning the width keeps the combine
    # and explode at full parallelism (the groupBy reuses the hash
    # partitioning, so this costs no extra shuffle)
    parallelism = li.sparkSession.sparkContext.defaultParallelism
    lists = (
        li.select("l_orderkey", "l_partkey")
        .repartition(parallelism, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("ps"))
    )
    return (
        lists.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_support)
        .select("u", "v")
    )


def pagerank(
    pairs: DataFrame, iters: int = PR_ITERS, scale: int = PR_SCALE
) -> DataFrame:
    """Fixed-point integer PageRank (d = 0.85 = 17/20) over the
    symmetrized pair list.  Returns (node, pr) with pr in units of
    1/scale; every operation is integer (div = floor division), so the
    result is independent of partitioning and matches the unrolled SQL
    oracle exactly.

    One driver-side scalar (the node count, for the teleport term) —
    the same bounded action semantic_dedup uses for its cluster count.
    BIGINT bounds: per-node inbound mass <= total mass = scale = 1e12,
    so 17 * s < 2e13 << 2^63; at ~1e9+ nodes move scale into a
    DECIMAL(38,0) column, the plan shape is unchanged.
    """
    from dblab_ece_trino_spark.session import materialize

    # checkpoint the oriented pairs BEFORE symmetrizing: unionAll keeps
    # two copies of its input subtree, so an unmaterialized pairs frame
    # would re-run the whole per-order pair derivation twice per job
    p = materialize(pairs.select("u", "v"))
    edges = p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # static per-edge out-degree, joined ONCE outside the loop — each
    # iteration is then a single join + keyed agg (one shuffle), not two
    ed = materialize(
        edges.join(deg, edges.u == deg.node).select("u", "v", "outdeg")
    )
    nodes = ed.select(F.col("u").alias("node"), "outdeg").distinct()
    n = nodes.count()
    if n == 0:
        # no pair reached min_support: an empty rank frame, not a
        # ZeroDivisionError during query build
        return pairs.sparkSession.createDataFrame([], "node long, pr long")
    teleport = (3 * scale) // (20 * n)
    pr = nodes.select("node", F.lit(scale // n).cast("long").alias("pr"))
    # The loop body stays LAZY: with a fixed iteration count there is no
    # mid-loop action (unlike dedup_clusters' convergence check), so all
    # 5 iterations compile into one DAG over the checkpointed edge
    # frame and run as a single job — per-iteration checkpoints added
    # ~0.4 s of action overhead each for no lineage benefit at depth 5.
    for _ in range(iters):
        contrib = (
            pr.join(ed, F.col("node") == F.col("u"))
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.expr("pr div outdeg")).alias("s"))
        )
        pr = contrib.select(
            "node",
            (F.lit(teleport) + F.expr("(17 * s) div 20"))
            .cast("long")
            .alias("pr"),
        )
    return pr


def degree_oriented_triangles(e: DataFrame) -> DataFrame:
    """Enumerate each triangle of the canonical (u < v) edge frame
    exactly once as (s, t1, t2), with every wedge built at the
    triangle's LOWEST-(degree, id) vertex (Chiba-Nishizeki; cf.
    Suri-Vassilvitskii "Counting triangles and the curse of the last
    reducer", WWW'11).  The naive a<b<c-by-ID wedge join charges a
    popularity hub of degree d with ~d^2/4 wedge candidates wherever
    it ranks — 65-75 s on an honest-Zipf co-purchase graph at the
    sf0.1 volume (scripts/zipf_graph.py); degree orientation bounds
    total candidates by sum(min-oriented-deg^2) = O(m^1.5) on ANY
    graph.  The triangle SET is orientation-invariant, so callers'
    ID-oriented SQL oracles verify outputs unchanged.  ``e`` should be
    materialized (it is read three times).
    """
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient each edge from its lower-(degree, id) endpoint; carry the
    # target's (degree, id) struct so the wedge join can order its two
    # targets without re-joining degrees
    ej = (
        e.join(deg.withColumnRenamed("n", "u")
                  .withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v")
                 .withColumnRenamed("d", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    from dblab_ece_trino_spark.session import materialize

    oe = materialize(
        ej.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(u_first, F.struct(F.col("dv").alias("d"),
                                     F.col("v").alias("n")))
            .otherwise(F.struct(F.col("du").alias("d"),
                                F.col("u").alias("n")))
            .alias("ot"),
        )
    )
    # wedges at the minimum-(degree, id) vertex of each triangle:
    # s -> t1, s -> t2 with ord(t1) < ord(t2), closed by the oriented
    # edge t1 -> t2 (unique per triangle)
    w1 = oe.select("s", F.col("t").alias("t1"), F.col("ot").alias("o1"))
    w2 = oe.select("s", F.col("t").alias("t2"), F.col("ot").alias("o2"))
    return (
        w1.join(w2, "s")
        .filter(F.col("o1") < F.col("o2"))
        .join(
            oe.select(F.col("s").alias("t1"), F.col("t").alias("t2")),
            ["t1", "t2"],
            "semi",
        )
        .select("s", "t1", "t2")
    )


def triangle_participation(pairs: DataFrame, top_n: int = 15) -> DataFrame:
    """Per-node triangle counts from the canonical edge list.

    Each triangle appears once in the degree-oriented wedge join
    (round 14 — the ID-oriented join was hub-quadratic, see
    ``degree_oriented_triangles``); its three corners are then
    exploded back out and counted.  Returns the top_n nodes by
    participation (ties broken by node id — deterministic).
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs)
    tri = degree_oriented_triangles(p).select(
        F.col("s").alias("a"), F.col("t1").alias("b"), F.col("t2").alias("c")
    )
    # one explode, not a 3-way unionAll: a union re-derives the triangle
    # join once per branch (9 scans / 13 exchanges in the plan census vs
    # 3 scans / 1 exchange for this form — the census caught it)
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return (
        corners.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("node"))
        .limit(top_n)
        .select(F.col("node").alias("part_key"), "n_triangles")
    )


# ------------------------------------------------------------ query entries
def _li(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.entrypoints import engine_for

    return engine_for(spark, sf_dir).catalogs.table("psql.tpch.lineitem")


@shared_build("coorder_pairs")
def shared_coorder_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE materialized co-order edge build per (session, sf_dir) —
    the shared_minhash_clusters / shared_ivf_build precedent applied
    to the graph family: every graded graph entry (pagerank, PPR,
    BFS, k-core, k-truss, HITS feeds its own bipartite build, but the
    16 co-order consumers all start from the IDENTICAL pairs frame)
    re-derived the fact-table pair explode per query — ~3-4 s each at
    sf1, ~40 s of pure waste across the family per bench pass.  The
    build is deterministic (one explode + one keyed count + a
    threshold), so reuse is value-identical; the frame is materialized
    (localCheckpoint) so cached references stay valid for the life of
    the session.  At 100 TB this is the difference between scanning
    the fact table once per DASHBOARD and once per QUERY.
    """
    from dblab_ece_trino_spark.session import materialize

    return materialize(coorder_pairs(_li(spark, sf_dir)))


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pr = pagerank(shared_coorder_pairs(spark, sf_dir))
    return (
        pr.orderBy(F.desc("pr"), F.asc("node"))
        .limit(25)
        .select(F.col("node").alias("part_key"), F.col("pr").alias("pr_micro"))
    )


def _pagerank_oracle(iters: int = PR_ITERS, scale: int = PR_SCALE) -> str:
    """Unrolled fixed-iteration PageRank as one DuckDB SQL string.

    DuckDB materializes CTEs, so the unrolled form is fine there; the
    Spark side deliberately does NOT use this shape (inlined CTEs would
    re-run the edge build per iteration — see module docstring).
    """
    ctes = [
        _PAIRS_CTE,
        "edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs)",
        "deg AS (SELECT u AS node, count(*) AS outdeg FROM edges GROUP BY u)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        f"pr0 AS (SELECT node, CAST({scale} // (SELECT n FROM nn) AS BIGINT)"
        " AS pr FROM deg)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""pr{k} AS (
      SELECT c.node,
             CAST({3 * scale} // (20 * (SELECT n FROM nn))
                  + (17 * c.s) // 20 AS BIGINT) AS pr
      FROM (SELECT e.v AS node, sum(p.pr // d.outdeg) AS s
            FROM pr{k - 1} p
            JOIN deg d ON p.node = d.node
            JOIN edges e ON e.u = p.node
            GROUP BY e.v) c
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS part_key, pr AS pr_micro
    FROM pr{iters}
    ORDER BY pr DESC, node
    LIMIT 25
    """
    )


register("graph_pagerank", _q_pagerank, oracle=_pagerank_oracle())


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_participation(shared_coorder_pairs(spark, sf_dir))


register(
    "graph_triangles",
    _q_triangles,
    oracle=f"""
    WITH {_PAIRS_CTE},
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pairs e1
      JOIN pairs e2 ON e1.v = e2.u
      JOIN pairs e3 ON e1.u = e3.u AND e2.v = e3.v
    ),
    corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node AS part_key, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners
    GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 15
    """,
)


# ------------------------------------------------------- shortest path (BFS)
MAX_HOPS = 4


def bfs_hops(pairs: DataFrame, max_hops: int = MAX_HOPS) -> DataFrame:
    """Minimum hop count from the smallest node id to every node within
    ``max_hops``, as per-hop aggregates (hop, n_nodes, node_sum).

    Level-synchronous BFS as an iterative DataFrame loop: each level is
    one join (frontier x edges) + one DISTINCT — two shuffles per hop,
    the textbook Pregel superstep expressed relationally.  The frontier
    is NOT anti-joined against the visited set: a node rediscovered at a
    deeper level is collapsed afterwards by the min(hop) aggregation, so
    each level frame is bounded by |V| (the DISTINCT).  Unlike
    pagerank's forward-only loop, every frontier is CONSUMED TWICE —
    as the next level's join base and again in the final min-hop
    union — so each level is materialized (one eager localCheckpoint
    per hop); leaving it lazy would re-derive level k once per
    downstream use, doubling work per remaining hop.  At 100 TB the
    anti-join variant trades one extra shuffle per level for smaller
    frontiers; with hop depth fixed at 4 the collapse-at-the-end form
    shuffles less in total.

    One driver-side scalar (the source node id), same bounded action as
    pagerank's node count.
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs.select("u", "v"))
    edges = p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    row = p.agg(F.min("u").alias("s")).collect()[0]
    if row["s"] is None:
        return pairs.sparkSession.createDataFrame(
            [], "hop int, n_nodes long, node_sum long"
        )
    src = int(row["s"])
    spark = pairs.sparkSession
    cur = spark.createDataFrame([(src,)], "node long")
    levels = [cur.select("node", F.lit(0).alias("hop"))]
    for d in range(1, max_hops + 1):
        cur = materialize(
            cur.join(edges, cur.node == edges.u)
            .select(F.col("v").alias("node"))
            .distinct()
        )
        levels.append(cur.select("node", F.lit(d).alias("hop")))
    walk = levels[0]
    for lv in levels[1:]:
        walk = walk.unionAll(lv)
    dist = walk.groupBy("node").agg(F.min("hop").alias("hop"))
    return (
        dist.groupBy("hop")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("node").cast("long").alias("node_sum"),
        )
        .orderBy("hop")
        .select(F.col("hop").cast("int").alias("hop"), "n_nodes", "node_sum")
    )


def _q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bfs_hops(shared_coorder_pairs(spark, sf_dir))


register(
    "graph_shortest_path",
    _q_bfs,
    # DuckDB replays the BFS as a depth-bounded recursive CTE; the
    # recursive UNION (distinct) keeps each (node, d) pair once so the
    # walk is |V| x depth bounded, not path-enumerating.
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    walk(node, d) AS (
      SELECT u, 0 FROM (SELECT min(u) AS u FROM pairs) s WHERE u IS NOT NULL
      UNION
      SELECT e.v, walk.d + 1
      FROM walk JOIN edges e ON e.u = walk.node
      WHERE walk.d < {MAX_HOPS}
    ),
    dist AS (SELECT node, min(d) AS hop FROM walk GROUP BY node)
    SELECT CAST(hop AS INT) AS hop,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS node_sum
    FROM dist GROUP BY hop ORDER BY hop
    """,
)


HC_SEEDS = 4


def harmonic_centrality(
    pairs: DataFrame, n_seeds: int = HC_SEEDS, max_hops: int = MAX_HOPS
) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna 2014, "Axioms for
    centrality": sum over reachable v of 1/d(s,v) — the closeness
    variant that handles disconnected graphs) from the ``n_seeds``
    smallest node ids, depth-bounded at ``max_hops`` (the standard
    truncated/sampled estimator at graph scale; exact within the
    horizon).

    MULTI-SOURCE level-synchronous BFS: one loop over hop depth with
    the frontier keyed by (seed, node) — K sources ride one join per
    level instead of K separate traversals, the same per-level
    join+DISTINCT economics as bfs_hops (each level materialized once,
    consumed twice).  Integer output: 1/d is ppm floor division
    (1000000 div d), summed as BIGINT — replays exactly.

    Driver scalars: the seed id list (n_seeds values, bounded like
    bfs_hops' single source id).
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs.select("u", "v"))
    edges = p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seeds = [
        int(r["u"])
        for r in p.select("u")
        .unionAll(p.select(F.col("v").alias("u")))
        .distinct()
        .orderBy("u")
        .limit(n_seeds)
        .collect()
    ]
    spark = pairs.sparkSession
    if not seeds:
        return spark.createDataFrame(
            [], "seed long, n_reached long, harmonic_ppm long"
        )
    cur = spark.createDataFrame([(s, s) for s in seeds], "seed long, node long")
    levels = [cur.select("seed", "node", F.lit(0).alias("hop"))]
    for d in range(1, max_hops + 1):
        cur = materialize(
            cur.join(edges, cur.node == edges.u)
            .select("seed", F.col("v").alias("node"))
            .distinct()
        )
        levels.append(cur.select("seed", "node", F.lit(d).alias("hop")))
    walk = levels[0]
    for lv in levels[1:]:
        walk = walk.unionAll(lv)
    dist = walk.groupBy("seed", "node").agg(F.min("hop").alias("hop"))
    return (
        dist.filter(F.col("hop") > 0)
        .groupBy("seed")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum(F.expr("1000000 div hop")).cast("long").alias(
                "harmonic_ppm"
            ),
        )
        .orderBy("seed")
    )


def _q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return harmonic_centrality(shared_coorder_pairs(spark, sf_dir))


register(
    "graph_harmonic_centrality",
    _q_harmonic,
    # DuckDB replays the multi-source BFS as one depth-bounded
    # recursive CTE seeded with the K smallest node ids; the recursive
    # UNION keeps each (seed, node, d) once so the walk is
    # K x |V| x depth bounded.
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    seeds AS (
      SELECT u AS s FROM (
        SELECT DISTINCT u FROM (
          SELECT u FROM pairs UNION ALL SELECT v FROM pairs
        ) ORDER BY u LIMIT {HC_SEEDS}
      )
    ),
    walk(seed, node, d) AS (
      SELECT s, s, 0 FROM seeds
      UNION
      SELECT walk.seed, e.v, walk.d + 1
      FROM walk JOIN edges e ON e.u = walk.node
      WHERE walk.d < {MAX_HOPS}
    ),
    dist AS (
      SELECT seed, node, min(d) AS hop FROM walk GROUP BY seed, node
    )
    SELECT seed,
           CAST(count(*) AS BIGINT) AS n_reached,
           CAST(sum(1000000 // hop) AS BIGINT) AS harmonic_ppm
    FROM dist WHERE hop > 0
    GROUP BY seed ORDER BY seed
    """,
)


# --------------------------------------------------- neighbor-set Jaccard
NJ_WITNESS_DEG_CAP = 64


def neighbor_jaccard(
    pairs: DataFrame,
    min_common: int = 2,
    top_n: int = 15,
    max_witness_deg: int | None = NJ_WITNESS_DEG_CAP,
) -> DataFrame:
    """Node-pair similarity as Jaccard of neighbor sets — the classic
    link-prediction / you-bought-this-too primitive.

    |N(a) ∩ N(b)| comes from ONE wedge self-join of the symmetrized
    adjacency on the shared neighbor (cost: sum of degree² of the
    thresholded graph, the triangle-join bound); the union size is then
    algebraic (deg_a + deg_b - common) from a broadcast degree join —
    no second pair join.  min_common prunes the long tail before the
    rank.  Ordering is on the ROUNDED score with (a, b) tiebreaks, so
    the top_n cut is deterministic on both engines.

    Runtime is Θ(Σ deg(v)²) — the wedge count IS the work (measured:
    148M wedges → ~30 s at the x10 replica's artificially dense graph;
    see SCALE.md).  For power-law graphs the standard mitigation is
    ``max_witness_deg``: drop super-nodes (deg > cap) from the graph
    before the wedge join — a ubiquitous item co-ordered with
    everything certifies no similarity, while contributing deg² wedges.
    Deterministic (the cap is on the exact degree), and the filtered
    form recomputes degrees on the capped subgraph so the Jaccard stays
    internally consistent.

    The cap is ON by default since round 15 — the honest-Zipf x10
    family probe (scripts/zipf_graph_family.py) found the uncapped
    wedge join at 2.06e10 rows (one 100k-degree hub contributes 1e10
    alone; 99.3% of all wedges come from deg > 1000 witnesses), i.e.
    non-terminating at real catalog skew — the wedge-family sibling of
    the round-14 ID-oriented-triangle finding.  With the cap the join
    is bounded by Σ_{deg≤cap} deg² ≤ cap · 2|E| — edge-linear.  The
    graded oracle applies the IDENTICAL cap on the exact degree; at
    the graded SFs (max co-order degree 52 at sf0.001, 15 at sf0.01,
    10 at sf0.1) no node reaches it, so graded values are unchanged.
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs.select("u", "v"))
    adj = p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if max_witness_deg is not None:
        d0 = adj.groupBy(F.col("u").alias("hot")).agg(
            F.count(F.lit(1)).alias("d")
        ).filter(F.col("d") > max_witness_deg).select("hot")
        adj = (
            adj.join(F.broadcast(d0), adj.u == F.col("hot"), "left_anti")
            .join(F.broadcast(d0), adj.v == F.col("hot"), "left_anti")
        )
        adj = materialize(adj)
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    common = (
        adj.alias("x")
        .join(adj.alias("y"), F.col("x.v") == F.col("y.v"))
        .filter(F.col("x.u") < F.col("y.u"))
        .groupBy(F.col("x.u").alias("a"), F.col("y.u").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    scored = (
        common.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(deg.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("deg", "deg_b")
        .withColumn(
            "jac",
            F.round(
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")),
                6,
            ),
        )
    )
    # top_n cut as a bounded heap (TakeOrderedAndProject), NOT a global
    # row_number window: the candidate set (pairs with >= min_common
    # shared neighbors) grows with graph density, and a single-partition
    # window over it was the plan's only scale ceiling (measured 31s at
    # x10 vs 8s for the same-density triangle join).  The rank column is
    # then a window over top_n rows only.
    top = scored.orderBy(F.desc("jac"), F.asc("a"), F.asc("b")).limit(top_n)
    w = Window.orderBy(F.desc("jac"), F.asc("a"), F.asc("b"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "a", "b", "n_common", "deg_a", "deg_b", "jac")
    )


def _q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neighbor_jaccard(shared_coorder_pairs(spark, sf_dir))


register(
    "graph_neighbor_jaccard",
    _q_neighbor_jaccard,
    oracle=f"""
    WITH {_PAIRS_CTE},
    adj0 AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    hot AS (SELECT u AS node FROM adj0
            GROUP BY u HAVING count(*) > {NJ_WITNESS_DEG_CAP}),
    adj AS (SELECT u, v FROM adj0
            WHERE u NOT IN (SELECT node FROM hot)
              AND v NOT IN (SELECT node FROM hot)),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
            FROM adj GROUP BY u),
    common AS (
      SELECT x.u AS a, y.u AS b, CAST(count(*) AS BIGINT) AS n_common
      FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u
      GROUP BY x.u, y.u
      HAVING count(*) >= 2
    ),
    scored AS (
      SELECT c.a, c.b, c.n_common,
             da.deg AS deg_a, db.deg AS deg_b,
             round(c.n_common / (da.deg + db.deg - c.n_common), 6) AS jac
      FROM common c
      JOIN deg da ON da.node = c.a
      JOIN deg db ON db.node = c.b
    )
    SELECT CAST(row_number() OVER (ORDER BY jac DESC, a, b) AS INT) AS rank,
           a, b, n_common, deg_a, deg_b, jac
    FROM scored
    ORDER BY jac DESC, a, b
    LIMIT 15
    """,
)


# ------------------------------------------------ label-propagation communities
LP_ITERS = 5


def label_prop_communities(
    pairs: DataFrame, iters: int = LP_ITERS, top_n: int = 10
) -> DataFrame:
    """Synchronous min-label propagation for ``iters`` rounds over the
    co-order graph; returns the top_n communities by size.

    Each round every node takes min(own label, neighbors' labels) —
    deterministic under any partitioning (min is associative/
    commutative, labels are node ids), the same discipline that makes
    dedup_clusters reproducible.  Fixed iterations rather than
    convergence: after k rounds a label has flooded its k-hop
    neighborhood, so communities are 'components up to diameter k' —
    the bounded-latency form a production job wants (and what lets
    DuckDB replay it as an unrolled CTE).  One shuffle per round on the
    edge list.  Each round CONSUMES the label frame twice (as the
    neighbor-join input and as the left side of the merge), so labels
    are materialized per round — the BFS discipline, not pagerank's
    lazy loop (left lazy, the doubled lineage compounds to 2^rounds
    re-derivations: the plan census measured 63 scans for the 5-round
    lazy form vs 3 after this checkpoint).
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs.select("u", "v"))
    edges = p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    ed = materialize(edges)
    labels = ed.select(F.col("u").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    for _ in range(iters):
        labels = materialize(labels)
        nbr = (
            labels.join(ed, labels.node == ed.u)
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        labels = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias(
                    "lbl"
                ),
            )
        )
    top = (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), F.asc("lbl"))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("n_nodes"), F.asc("lbl"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", F.col("lbl").alias("community"), "n_nodes"
    )


def _q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_prop_communities(shared_coorder_pairs(spark, sf_dir))


def _label_prop_oracle(iters: int = LP_ITERS) -> str:
    ctes = [
        _PAIRS_CTE,
        "edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs)",
        "lbl0 AS (SELECT DISTINCT u AS node, u AS lbl FROM edges)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""lbl{k} AS (
      SELECT l.node,
             least(l.lbl, coalesce(n.nlbl, l.lbl)) AS lbl
      FROM lbl{k - 1} l
      LEFT JOIN (SELECT e.v AS node, min(p.lbl) AS nlbl
                 FROM lbl{k - 1} p JOIN edges e ON e.u = p.node
                 GROUP BY e.v) n ON n.node = l.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(row_number() OVER (ORDER BY n_nodes DESC, lbl) AS INT)
             AS rank,
           lbl AS community, n_nodes
    FROM (SELECT lbl, CAST(count(*) AS BIGINT) AS n_nodes
          FROM lbl{iters} GROUP BY lbl) c
    ORDER BY n_nodes DESC, lbl
    LIMIT 10
    """
    )


register("graph_label_prop", _q_label_prop, oracle=_label_prop_oracle())


KCORE_K = 2
KCORE_ROUNDS = 7


def kcore_survivors(
    pairs: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """k-core decomposition by synchronous peeling: ``rounds`` rounds of
    "drop every node whose degree among currently-alive nodes is < k",
    then report the survivors with their in-core degree.

    The classic cohesive-subgraph extractor (Seidman 1983): the k-core
    is the unique maximal subgraph of minimum degree >= k, and
    synchronous peeling converges to it from any graph.  Fixed rounds
    rather than a convergence test — the label-prop discipline — so
    DuckDB can replay the exact computation as an unrolled CTE chain;
    convergence within the round budget at the graded scale is asserted
    by tests (peeling cascades: sf0.1's co-order graph collapses
    6155 -> 18 nodes across 6 rounds at k=2, so the budget carries
    margin, and an unconverged result differs from the true core only
    by nodes the next round would drop).

    One degree aggregation (shuffle on node) + two alive semi-joins per
    round, all on the EDGE frame, never the facts.  Alive and edge
    frames are consumed twice per round -> materialized per round (the
    BFS/label-prop checkpoint economics; lazy compounds to 2^rounds
    lineage).  At 100 TB the edge list is the scale term: it shrinks
    monotonically as peeling proceeds, and each round's cost is one
    shuffle of the surviving edges.
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs.select("u", "v"))
    ed = materialize(
        p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    for _ in range(rounds):
        deg = ed.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
        alive = deg.filter(F.col("c") >= k).select(F.col("u").alias("node"))
        ed = materialize(
            ed.join(alive, ed.u == alive.node, "semi")
            .join(alive, ed.v == alive.node, "semi")
        )
    out = (
        ed.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("u").alias("node"), "core_degree")
        .orderBy("node")
    )
    return out


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore_survivors(shared_coorder_pairs(spark, sf_dir))


def _kcore_oracle(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    ctes = [
        _PAIRS_CTE,
        "e0 AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs)",
    ]
    for r in range(1, rounds + 1):
        # AS MATERIALIZED (DuckDB-only syntax; this SQL never reaches
        # Spark): each level is referenced three times (the degree agg
        # and both endpoint joins), so inlining would re-derive the
        # chain 3^rounds times — materialization keeps the replay
        # linear, mirroring the Spark side's per-round checkpoint.
        ctes.append(
            f"""a{r} AS MATERIALIZED (
      SELECT u AS node FROM e{r - 1} GROUP BY u HAVING count(*) >= {k}
    )"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{r - 1} e
      JOIN a{r} x ON e.u = x.node
      JOIN a{r} y ON e.v = y.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT u AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM e{rounds}
    GROUP BY u
    ORDER BY node
    """
    )


register("graph_kcore", _q_kcore, oracle=_kcore_oracle())


# ------------------------------------------------- degree assortativity
def _q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-order graph — the Newman (2002)
    degree-correlation coefficient: Pearson r over (deg(u), deg(v)) of
    every directed edge.  Answers "do popular parts co-sell with other
    popular parts (assortative, r > 0) or with the long tail
    (disassortative, r < 0)?" — the mixing diagnostic that decides
    whether hub-based partitioning strategies pay off.

    Exactness: every moment (edge count M, Σka, Σka·kb, Σka²) is an
    exact BIGINT over the SYMMETRIZED edge list (by symmetry
    Σka = Σkb and Σka² = Σkb², so the coefficient reduces to
    (M·Σkakb − (Σka)²) / (M·Σka² − (Σka)²)); the final r is one
    per-row IEEE expression over those integers, identical text on
    both engines, NULL on regular graphs via an exact zero guard.
    Shape: the bounded per-order pair explode builds edges once
    (materialized — both the symmetrize union branches consume it),
    one degree agg, two broadcast-scale degree joins, one global agg.
    """
    from dblab_ece_trino_spark.session import materialize

    edges = shared_coorder_pairs(spark, sf_dir)
    sym = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("k")).withColumnRenamed(
        "u", "node"
    )
    j = (
        sym.join(
            deg.select(F.col("node").alias("u"), F.col("k").alias("ka")), "u"
        ).join(
            deg.select(F.col("node").alias("v"), F.col("k").alias("kb")), "v"
        )
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("m_directed"),
        F.sum("ka").cast("long").alias("sum_ka"),
        F.sum(F.col("ka") * F.col("kb")).cast("long").alias("sum_kakb"),
        F.sum(F.col("ka") * F.col("ka")).cast("long").alias("sum_ka2"),
    )
    return agg.selectExpr(
        "m_directed",
        "sum_ka",
        "sum_kakb",
        "sum_ka2",
        "(CAST(m_directed AS DOUBLE) * sum_kakb"
        " - CAST(sum_ka AS DOUBLE) * sum_ka)"
        " / nullif(CAST(m_directed AS DOUBLE) * sum_ka2"
        " - CAST(sum_ka AS DOUBLE) * sum_ka, 0.0) AS assortativity",
    )


register(
    "graph_assortativity",
    _q_assortativity,
    oracle=f"""
    WITH {_PAIRS_CTE},
    sym AS (
      SELECT u, v FROM pairs
      UNION ALL
      SELECT v AS u, u AS v FROM pairs
    ),
    deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY u
    ),
    j AS (
      SELECT da.k AS ka, db.k AS kb
      FROM sym s
      JOIN deg da ON da.node = s.u
      JOIN deg db ON db.node = s.v
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS m_directed,
             CAST(sum(ka) AS BIGINT) AS sum_ka,
             CAST(sum(ka * kb) AS BIGINT) AS sum_kakb,
             CAST(sum(ka * ka) AS BIGINT) AS sum_ka2
      FROM j
    )
    SELECT m_directed, sum_ka, sum_kakb, sum_ka2,
           (CAST(m_directed AS DOUBLE) * sum_kakb
              - CAST(sum_ka AS DOUBLE) * sum_ka)
             / nullif(CAST(m_directed AS DOUBLE) * sum_ka2
              - CAST(sum_ka AS DOUBLE) * sum_ka, 0.0) AS assortativity
    FROM a
    """,
)


# ------------------------------------------- local clustering coefficient
def _q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient cc(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)) over the co-order graph, top-25 by cc — "how
    clique-like is each part's co-purchase neighborhood", the
    community-density readout that complements triangle counts (raw
    participation) and assortativity (global mixing).

    Exactness: triangle counts and degrees are exact BIGINTs (the
    triangle_participation wedge join, un-truncated, joined to the
    symmetrized degree frame); cc is ONE per-row IEEE division of
    exact integers, bit-identical on both engines, and the top-25
    ordering (cc DESC, node ASC) is total via the unique node
    tiebreak.  Shape: the edge build dominates (one fact scan + one
    shuffle); the wedge join and the degree agg run on the thresholded
    edge frame — see the module docstring's density analysis.
    """
    from dblab_ece_trino_spark.session import materialize

    p = shared_coorder_pairs(spark, sf_dir)
    tri = degree_oriented_triangles(p).select(
        F.col("s").alias("a"), F.col("t1").alias("b"), F.col("t2").alias("c")
    )
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    tcnt = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    sym = p.select(F.col("u").alias("node")).unionAll(
        p.select(F.col("v").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tcnt, "node", "left")
        .select(
            F.col("node").alias("part_key"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            (
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1))
            ).alias("clustering_coeff"),
        )
        .orderBy(F.desc("clustering_coeff"), F.asc("part_key"))
        .limit(25)
    )


register(
    "graph_clustering_coeff",
    _q_clustering_coeff,
    oracle=f"""
    WITH {_PAIRS_CTE},
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pairs e1
      JOIN pairs e2 ON e1.v = e2.u
      JOIN pairs e3 ON e1.u = e3.u AND e2.v = e3.v
    ),
    corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    tcnt AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      FROM corners GROUP BY node
    ),
    sym AS (
      SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM sym GROUP BY node
    )
    SELECT d.node AS part_key, d.degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           2.0 * coalesce(t.n_triangles, 0)
             / (d.degree * (d.degree - 1)) AS clustering_coeff
    FROM deg d LEFT JOIN tcnt t ON t.node = d.node
    WHERE d.degree >= 2
    ORDER BY clustering_coeff DESC, part_key ASC
    LIMIT 25
    """,
)


# ------------------------------------------------------------ HITS (hubs/auth)
HITS_SCALE = 10**6
HITS_ITERS = 3


def purchase_edges(orders: DataFrame, li: DataFrame) -> DataFrame:
    """Directed bipartite purchase graph: one edge customer -> part per
    DISTINCT (o_custkey, l_partkey) pair.  One shuffle join on orderkey
    + one distinct; the co-order graph above is undirected (where HITS
    degenerates to hub == authority), so the hub/authority split needs
    this bipartite derivation."""
    return (
        orders.select(F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("c"))
        .join(li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")), "ok")
        .select("c", "p")
        .distinct()
    )


def hits(edges: DataFrame, iters: int = HITS_ITERS, scale: int = HITS_SCALE) -> tuple:
    """Fixed-point integer HITS (Kleinberg 1999): hub scores over
    customers, authority scores over parts, L1-normalized to ``scale``
    after every half-step.  Returns (hubs, auths) DataFrames.

    Determinism/overflow design (the pagerank precedent, tightened):
    normalizing each half-step means every score <= scale, so the next
    half-step's raw sums are <= scale * max_degree and the normalization
    numerator raw * scale <= scale^2 * 1 = 10^12 per row REGARDLESS of
    graph size — BIGINT-safe at any node count (only the very first
    half-step, running on the all-ones init, is bounded by customer
    count * scale, fine through ~10^12 customers).  All arithmetic is
    integer (div = floor), so results are partition-order-independent
    and DuckDB replays the unrolled CTE oracle bit-for-bit.

    Shape: the edge frame is materialized ONCE; each half-step is one
    shuffle join + one keyed agg + one broadcast cross-join of the
    1-row L1 total.  Raw frames are materialized per half-step because
    each is consumed twice (rows + total) — the label-prop/BFS
    precedent: Spark recomputes lazy branches per consumer.  The
    NORMALIZED projections (raw x 1-row total) are deliberately NOT
    materialized (round-16 optimization): each is a cheap
    scan-agg-project over its already-checkpointed raw frame, and
    checkpointing them again stored six more node-scale frames per run
    for no recomputation saved beyond that projection.
    """
    from dblab_ece_trino_spark.session import materialize

    e = materialize(edges)
    h = e.select("c").distinct().select("c", F.lit(1).cast("long").alias("h"))
    a = None
    for _ in range(iters):
        araw = materialize(
            h.join(e, "c").groupBy("p").agg(F.sum("h").alias("s"))
        )
        atot = araw.agg(F.sum("s").alias("tot"))
        a = araw.crossJoin(atot).select(
            "p", F.expr(f"(s * {scale}) div tot").cast("long").alias("a")
        )
        hraw = materialize(
            a.join(e, "p").groupBy("c").agg(F.sum("a").alias("s"))
        )
        htot = hraw.agg(F.sum("s").alias("tot"))
        h = hraw.crossJoin(htot).select(
            "c", F.expr(f"(s * {scale}) div tot").cast("long").alias("h")
        )
    return h, a


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.entrypoints import engine_for

    eng = engine_for(spark, sf_dir)
    orders = eng.catalogs.table("mongodb.tpch.orders")
    li = eng.catalogs.table("psql.tpch.lineitem")
    h, a = hits(purchase_edges(orders, li))
    top_h = (
        h.orderBy(F.desc("h"), F.asc("c"))
        .limit(10)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").cast("long").alias("node_key"),
            F.col("h").alias("score_micro"),
        )
    )
    top_a = (
        a.orderBy(F.desc("a"), F.asc("p"))
        .limit(10)
        .select(
            F.lit("authority").alias("role"),
            F.col("p").cast("long").alias("node_key"),
            F.col("a").alias("score_micro"),
        )
    )
    return top_h.unionAll(top_a).orderBy(
        "role", F.desc("score_micro"), F.asc("node_key")
    )


def _hits_oracle(iters: int = HITS_ITERS, scale: int = HITS_SCALE) -> str:
    """Unrolled fixed-iteration HITS (DuckDB materializes CTEs; raw
    frames are referenced twice per level — rows + L1 total — so each
    is AS MATERIALIZED, the k-core precedent)."""
    ctes = [
        """edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )""",
        "h0 AS (SELECT DISTINCT c, CAST(1 AS BIGINT) AS h FROM edges)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""araw{k} AS MATERIALIZED (
      SELECT e.p, sum(x.h) AS s
      FROM h{k - 1} x JOIN edges e ON e.c = x.c
      GROUP BY e.p
    )"""
        )
        ctes.append(
            f"a{k} AS (SELECT p, CAST((s * {scale})"
            f" // (SELECT sum(s) FROM araw{k}) AS BIGINT) AS a FROM araw{k})"
        )
        ctes.append(
            f"""hraw{k} AS MATERIALIZED (
      SELECT e.c, sum(x.a) AS s
      FROM a{k} x JOIN edges e ON e.p = x.p
      GROUP BY e.c
    )"""
        )
        ctes.append(
            f"h{k} AS (SELECT c, CAST((s * {scale})"
            f" // (SELECT sum(s) FROM hraw{k}) AS BIGINT) AS h FROM hraw{k})"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT * FROM (
      (SELECT 'hub' AS role, CAST(c AS BIGINT) AS node_key,
              h AS score_micro
       FROM h{iters} ORDER BY h DESC, c ASC LIMIT 10)
      UNION ALL
      (SELECT 'authority' AS role, CAST(p AS BIGINT) AS node_key,
              a AS score_micro
       FROM a{iters} ORDER BY a DESC, p ASC LIMIT 10)
    )
    ORDER BY role, score_micro DESC, node_key ASC
    """
    )


register("graph_hits", _q_hits, oracle=_hits_oracle())


# ------------------------------------------------- partition modularity
def _q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (Newman & Girvan 2004, "Finding and
    evaluating community structure in networks") of the BRAND partition
    over the co-order part graph: for each community c,

        Q_c = e_c / m  -  (d_c / 2m)^2

    with m = |undirected edges|, e_c = edges inside c, d_c = total
    degree of c's nodes, and Q = sum_c Q_c.  Answers "do brands form
    real co-purchase communities?" — the quality score any community
    assignment (label-prop's included) is judged by; using the brand
    attribute as the partition makes the score an exactly replayable
    cross-engine query instead of an iterative artifact.

    EXACT-INTEGER ppm: per community the numerator
    num_c = 1e6 * (4m * e_c - d_c^2) and the shared denominator 4m^2
    are held in DECIMAL(38,0)/HUGEINT (at 1e9 edges num_c reaches
    ~4e24 — far inside 38 digits), and the single floor division is
    applied to |num| with the sign re-attached, so Spark's div and
    DuckDB's // agree bit-exactly on negative contributions.  Q_total
    is the SAME division applied to the exact SUM of numerators (never
    a sum of truncated quotients).

    100 TB shape: the bounded per-order pair explode builds edges once
    (materialized — consumed by m, the intra filter and both degree
    branches), part is a broadcast dim on every community lookup, the
    final window runs over the |brands|-row frame (~25 rows).
    """
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.session import materialize

    eng = engine_for(spark, sf_dir)
    li = eng.catalogs.table("psql.tpch.lineitem")
    part = eng.catalogs.table("psql.tpch.part")
    brand = part.select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("community")
    )

    edges = shared_coorder_pairs(li.sparkSession, sf_dir)
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("k"))
    com = (
        deg.join(
            F.broadcast(brand.withColumnRenamed("node", "u")), "u"
        )
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("k").cast("long").alias("degree_sum"),
        )
    )
    intra = (
        edges.join(
            F.broadcast(
                brand.select(
                    F.col("node").alias("u"), F.col("community").alias("bu")
                )
            ),
            "u",
        )
        .join(
            F.broadcast(
                brand.select(
                    F.col("node").alias("v"), F.col("community").alias("bv")
                )
            ),
            "v",
        )
        .filter(F.col("bu") == F.col("bv"))
        .groupBy(F.col("bu").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("internal_edges"))
    )
    mframe = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    f = (
        com.join(intra, "community", "left")
        .na.fill(0, ["internal_edges"])
        .crossJoin(F.broadcast(mframe))
        .selectExpr(
            "community",
            "n_nodes",
            "degree_sum",
            "internal_edges",
            "CAST(1000000 AS DECIMAL(38,0))"
            " * (4 * CAST(m AS DECIMAL(38,0)) * internal_edges"
            "    - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum) AS num",
            "4 * CAST(m AS DECIMAL(38,0)) * m AS den",
        )
    )
    return (
        f.selectExpr(
            "community",
            "n_nodes",
            "degree_sum",
            "internal_edges",
            "CAST(CASE WHEN num >= 0 THEN num div den"
            "      ELSE -((-num) div den) END AS BIGINT) AS q_contrib_ppm",
            "CAST(CASE WHEN sum(num) OVER () >= 0"
            "      THEN sum(num) OVER () div den"
            "      ELSE -((-sum(num) OVER ()) div den) END AS BIGINT)"
            " AS q_total_ppm",
        )
        .orderBy("community")
    )


register(
    "graph_modularity",
    _q_modularity,
    oracle=f"""
    WITH {_PAIRS_CTE},
    sym AS (
      SELECT u, v FROM pairs
      UNION ALL
      SELECT v AS u, u AS v FROM pairs
    ),
    mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM pairs),
    deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY u
    ),
    com AS (
      SELECT p.p_brand AS community, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.k) AS BIGINT) AS degree_sum
      FROM deg d JOIN part p ON p.p_partkey = d.node
      GROUP BY 1
    ),
    intra AS (
      SELECT pu.p_brand AS community,
             CAST(count(*) AS BIGINT) AS internal_edges
      FROM pairs e
      JOIN part pu ON pu.p_partkey = e.u
      JOIN part pv ON pv.p_partkey = e.v
      WHERE pu.p_brand = pv.p_brand
      GROUP BY 1
    ),
    f AS (
      SELECT c.community, c.n_nodes, c.degree_sum,
             CAST(coalesce(i.internal_edges, 0) AS BIGINT)
               AS internal_edges,
             CAST(1000000 AS HUGEINT)
               * (4 * mm.m * coalesce(i.internal_edges, 0)
                  - CAST(c.degree_sum AS HUGEINT) * c.degree_sum) AS num,
             4 * mm.m * mm.m AS den
      FROM com c
      LEFT JOIN intra i ON i.community = c.community
      CROSS JOIN mm
    )
    SELECT community, n_nodes, degree_sum, internal_edges,
           CAST(CASE WHEN num >= 0 THEN num // den
                ELSE -((-num) // den) END AS BIGINT) AS q_contrib_ppm,
           CAST(CASE WHEN sum(num) OVER () >= 0
                THEN sum(num) OVER () // den
                ELSE -((-sum(num) OVER ()) // den) END AS BIGINT)
             AS q_total_ppm
    FROM f
    ORDER BY community
    """,
)


# ------------------------------------------ link prediction (RA index)
RA_WITNESS_DEG_CAP = 64


def link_prediction_ra(
    pairs: DataFrame,
    top_n: int = 15,
    max_witness_deg: int | None = RA_WITNESS_DEG_CAP,
) -> DataFrame:
    """Resource-allocation-index link prediction (Zhou/Lü/Zhang 2009):
    for every NON-edge (a, b), RA(a, b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z) —
    the common-neighbor score that discounts promiscuous witnesses.
    The per-witness term rides as the exact integer floor(1e6/deg(z))
    so the score, ranking and top-n cut replay bit-identically on any
    partitioning and in the DuckDB oracle (the sibling
    neighbor_jaccard's discipline, minus its float round).

    Candidate generation is the SAME one wedge self-join on the shared
    neighbor, with the degree frame broadcast onto the witness BEFORE
    the pair groupBy — the shuffle then carries (a, b, contribution),
    never neighbor lists.  Existing edges leave via ONE left anti join
    against the oriented pair frame (link prediction scores absent
    links only) — that anti join is the semantic difference from
    neighbor_jaccard, and at scale it is a broadcast of the
    (thresholded) edge list, not a shuffle.

    ``max_witness_deg`` (ON by default, unlike the jaccard sibling —
    the round-11 verdict's one weak plan was this op's uncapped wedge
    join): witnesses with deg(z) > cap are excluded from wedge
    GENERATION, bounding the join at Σ_{deg≤cap} deg² ≤ cap · 2|E| —
    linear in edges instead of Θ(Σ deg²), which a single power-law hub
    makes explode.  The cap is principled for RA specifically: an
    excluded witness contributes ≤ 1e6/cap ppm (15625 at the default
    64) per pair, the score's own discount.  Unlike the jaccard
    variant the capped form does NOT recompute degrees — the 1/deg(z)
    term keeps the witness's TRUE degree (that is RA's semantics);
    only the a<b pair enumeration is restricted, so the capped score
    equals uncapped RA exactly on any graph whose max degree ≤ cap.
    n_common counts the capped witness set (documented contract; the
    oracle applies the identical cap).
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs.select("u", "v"))
    adj = p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # deg feeds the hot-node filter AND the per-witness contribution;
    # adjw feeds BOTH sides of the wedge self-join — checkpoint each
    # once or Catalyst re-derives the whole chain per consumer
    deg = materialize(
        adj.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
    )
    adjw = adj
    if max_witness_deg is not None:
        hot = deg.filter(F.col("deg") > max_witness_deg).select(
            F.col("node").alias("v")
        )
        # drop rows whose WITNESS-position node (v) is hot; u stays —
        # high-degree nodes may still appear as pair endpoints
        adjw = materialize(adj.join(F.broadcast(hot), "v", "left_anti"))
    wedges = (
        adjw.alias("x")
        .join(adjw.alias("y"), F.col("x.v") == F.col("y.v"))
        .filter(F.col("x.u") < F.col("y.u"))
        .select(
            F.col("x.u").alias("a"),
            F.col("y.u").alias("b"),
            F.col("x.v").alias("z"),
        )
    )
    scored = (
        wedges.join(
            F.broadcast(deg.withColumnRenamed("node", "z")), "z"
        )
        .withColumn("contrib", F.expr("CAST(1000000 div deg AS BIGINT)"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("contrib").cast("long").alias("ra_e6"),
        )
    )
    # exclusion frame normalized to a < b (wedges emit a < b; an input
    # edge list is not required to be oriented)
    nonedge = scored.join(
        F.broadcast(
            p.select(
                F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
            )
        ),
        ["a", "b"],
        "left_anti",
    )
    w = Window.orderBy(F.desc("ra_e6"), F.asc("a"), F.asc("b"))
    return (
        nonedge.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_n)
        .select("rank", "a", "b", "n_common", "ra_e6")
        .orderBy("rank")
    )


def _q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_prediction_ra(shared_coorder_pairs(spark, sf_dir))


register(
    "graph_link_prediction",
    _q_link_prediction,
    oracle=f"""
    WITH {_PAIRS_CTE},
    adj AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
            FROM adj GROUP BY u),
    adjw AS (
      SELECT a.u, a.v FROM adj a JOIN deg d ON d.node = a.v
      WHERE d.deg <= {RA_WITNESS_DEG_CAP}
    ),
    wedges AS (
      SELECT x.u AS a, y.u AS b, x.v AS z
      FROM adjw x JOIN adjw y ON x.v = y.v AND x.u < y.u
    ),
    scored AS (
      SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_e6
      FROM wedges w JOIN deg d ON d.node = w.z
      GROUP BY w.a, w.b
    ),
    nonedge AS (
      SELECT s.a, s.b, s.n_common, s.ra_e6
      FROM scored s LEFT JOIN pairs p ON p.u = s.a AND p.v = s.b
      WHERE p.u IS NULL
    )
    SELECT CAST(row_number() OVER (ORDER BY ra_e6 DESC, a, b) AS INT)
             AS rank,
           a, b, n_common, ra_e6
    FROM nonedge
    ORDER BY ra_e6 DESC, a, b
    LIMIT 15
    """,
)


# --------------------------------------------------- Katz centrality
KATZ_ITERS = 4
KATZ_BETA = 10**9
KATZ_OUT_SCALE = 10**12


def katz_centrality(
    pairs: DataFrame,
    iters: int = KATZ_ITERS,
    beta: int = KATZ_BETA,
    top_n: int = 25,
) -> DataFrame:
    """Fixed-iteration integer Katz centrality (Katz 1953) over the
    symmetrized pair list: x_{k+1}(v) = beta + sum_{u~v} x_k(u) div 8
    — attenuated path counting (alpha = 1/8 as a per-edge floor
    division, so every term is an exact integer and the fixed point
    replays bit-identically), the centrality that counts ALL walks
    with geometric damping where PageRank normalizes by degree and
    harmonic centrality counts only shortest paths.  The emitted score
    is L1-NORMALIZED to 1e12 units ((x * 1e12) div total) so the
    output stays BIGINT-render-stable while the internal accumulation
    rides DECIMAL(38,0) (Spark) / HUGEINT (oracle) — per-node mass
    reaches beta * (deg/8)^iters, past BIGINT on dense graphs.

    Exactness ceiling (explicit, fail-loud): the per-edge attenuation
    is FLOOR(kz / 8) in decimal space — NOT Spark's `div`, whose
    IntegralDivide casts through LONG and silently wraps once kz
    passes ~9.2e18 (hub degree ≳ 4000 at the default beta/iters).
    FLOOR(kz/8) is exact while kz < 1e32 (DECIMAL(38,6) quotient) and
    the 1e12 normalization multiply while kz < 1e26; past either
    bound Spark raises a decimal-overflow error under the session's
    ANSI mode (and DuckDB raises on HUGEINT overflow past ~1.7e38)
    rather than diverging silently.  kz < 1e26 holds for hub degree
    up to ~1.4e5 at beta=1e9, iters=4.

    Shape: the pagerank discipline — edges materialized once, the
    fixed-iteration loop stays lazy (one DAG, one shuffle per
    iteration: join + keyed agg), final top-n via one rank window on
    the |nodes|-row frame.
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs.select("u", "v"))
    edges = materialize(
        p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    nodes = edges.select(F.col("u").alias("node")).distinct()
    kz = nodes.select(
        "node", F.lit(beta).cast("decimal(38,0)").alias("kz")
    )
    for _ in range(iters):
        kz = (
            kz.join(edges, kz.node == edges.u)
            .groupBy(F.col("v").alias("node"))
            .agg(
                (
                    F.lit(beta).cast("decimal(38,0)")
                    # FLOOR(kz/8), not `kz div 8`: IntegralDivide
                    # returns LONG and wraps past 9.2e18 even for
                    # DECIMAL inputs; floor == div for kz >= 0
                    + F.expr("CAST(sum(FLOOR(kz / 8)) AS DECIMAL(38,0))")
                ).alias("kz")
            )
        )
    # the normalization consumes kz twice (total + per-node scale);
    # without this checkpoint the whole fixed-iteration lineage would
    # re-run for each consumer
    kz = materialize(kz)
    tot = kz.agg(
        F.expr("CAST(sum(kz) AS DECIMAL(38,0))").alias("t")
    ).withColumn("__j", F.lit(1))
    scored = (
        kz.withColumn("__j", F.lit(1))
        .join(F.broadcast(tot), "__j")
        .selectExpr(
            "node",
            f"CAST((kz * {KATZ_OUT_SCALE}) div t AS BIGINT) AS katz_scaled",
        )
    )
    w = Window.orderBy(F.desc("katz_scaled"), F.asc("node"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_n)
        .select("rank", "node", "katz_scaled")
        .orderBy("rank")
    )


def _q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    return katz_centrality(shared_coorder_pairs(spark, sf_dir))


def _katz_oracle(iters: int = KATZ_ITERS, beta: int = KATZ_BETA) -> str:
    ctes = [
        _PAIRS_CTE,
        "edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs)",
        "nodes AS (SELECT DISTINCT u AS node FROM edges)",
        f"kz0 AS (SELECT node, CAST({beta} AS HUGEINT) AS kz FROM nodes)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""kz{k} AS (
      SELECT e.v AS node,
             CAST({beta} AS HUGEINT) + CAST(sum(p.kz // 8) AS HUGEINT)
               AS kz
      FROM kz{k - 1} p JOIN edges e ON e.u = p.node
      GROUP BY e.v
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    tot AS (SELECT CAST(sum(kz) AS HUGEINT) AS t FROM kz{iters}),
    scored AS (
      SELECT node,
             CAST((kz * {KATZ_OUT_SCALE}) // (SELECT t FROM tot)
                  AS BIGINT) AS katz_scaled
      FROM kz{iters}
    )
    SELECT CAST(row_number() OVER (ORDER BY katz_scaled DESC, node)
                AS INT) AS rank,
           node, katz_scaled
    FROM scored
    ORDER BY katz_scaled DESC, node
    LIMIT 25
    """
    )


register("graph_katz_centrality", _q_katz, oracle=_katz_oracle())


# ------------------------------------------- degree distribution audit
def degree_distribution(pairs: DataFrame) -> DataFrame:
    """Graph-health audit: the degree histogram in power-of-two
    buckets plus each bucket's exact share of total edge endpoints —
    the one-page diagnostic that decides whether a graph needs
    skew-mitigation (super-node capping, salting) BEFORE any wedge- or
    path-shaped operator runs on it (the wedge cost is sum deg^2, and
    this table is where that sum lives).

    One keyed degree count, one CASE-ladder bucket assignment, one
    bounded aggregate (<= ~12 bucket rows at any graph size); shares
    in exact ppm by integer floor division.
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs.select("u", "v"))
    adj = p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # materialized: the totals branch and the bucket rollup both read
    # the |nodes|-row degree frame — unmaterialized, each would re-run
    # the edge scan + degree shuffle
    deg = materialize(
        adj.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
    )
    bucket = F.expr(
        "CASE WHEN deg = 1 THEN 0 WHEN deg = 2 THEN 1"
        " WHEN deg <= 4 THEN 2 WHEN deg <= 8 THEN 3"
        " WHEN deg <= 16 THEN 4 WHEN deg <= 32 THEN 5"
        " WHEN deg <= 64 THEN 6 WHEN deg <= 128 THEN 7"
        " WHEN deg <= 256 THEN 8 WHEN deg <= 512 THEN 9"
        " WHEN deg <= 1024 THEN 10 ELSE 11 END"
    )
    tot = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes_t"),
        F.sum("deg").cast("long").alias("endpoints_t"),
        F.sum(F.expr("deg * deg")).cast("long").alias("sum_deg2_t"),
    ).withColumn("__j", F.lit(1))
    return (
        deg.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("deg").cast("long").alias("min_deg"),
            F.max("deg").cast("long").alias("max_deg"),
            F.sum("deg").cast("long").alias("endpoints"),
        )
        .withColumn("__j", F.lit(1))
        .join(F.broadcast(tot), "__j")
        .selectExpr(
            "bucket", "n_nodes", "min_deg", "max_deg", "endpoints",
            "CAST(endpoints * 1000000 div endpoints_t AS BIGINT)"
            " AS endpoint_ppm",
            "sum_deg2_t",
        )
        .orderBy("bucket")
    )


def _q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return degree_distribution(shared_coorder_pairs(spark, sf_dir))


register(
    "graph_degree_distribution",
    _q_degree_distribution,
    oracle=f"""
    WITH {_PAIRS_CTE},
    adj AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
            FROM adj GROUP BY u),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes_t,
             CAST(sum(deg) AS BIGINT) AS endpoints_t,
             CAST(sum(deg * deg) AS BIGINT) AS sum_deg2_t
      FROM deg
    ),
    b AS (
      SELECT CASE WHEN deg = 1 THEN 0 WHEN deg = 2 THEN 1
                  WHEN deg <= 4 THEN 2 WHEN deg <= 8 THEN 3
                  WHEN deg <= 16 THEN 4 WHEN deg <= 32 THEN 5
                  WHEN deg <= 64 THEN 6 WHEN deg <= 128 THEN 7
                  WHEN deg <= 256 THEN 8 WHEN deg <= 512 THEN 9
                  WHEN deg <= 1024 THEN 10 ELSE 11 END AS bucket,
             deg
      FROM deg
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(deg) AS BIGINT) AS min_deg,
           CAST(max(deg) AS BIGINT) AS max_deg,
           CAST(sum(deg) AS BIGINT) AS endpoints,
           CAST(sum(deg) * 1000000 // (SELECT endpoints_t FROM tot)
                AS BIGINT) AS endpoint_ppm,
           (SELECT sum_deg2_t FROM tot) AS sum_deg2_t
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """,
)


# --------------------------------------------- rich-club coefficient (r12)
RICH_CLUB_KS = (1, 2, 4, 8, 16, 32)


def rich_club(pairs: DataFrame, ks: tuple = RICH_CLUB_KS) -> DataFrame:
    """Rich-club coefficient phi(k) = 2*E_k / (N_k*(N_k-1)) (Colizza/
    Flammini/Serrano/Vespignani 2006) at power-of-two degree cuts —
    whether the hubs of the co-order graph preferentially interconnect
    (phi growing with k) or stay mutually disconnected.  With the
    degree-distribution audit this decides hub treatment: a dense rich
    club makes super-node capping cheap (hub-hub edges carry little
    unique signal); a sparse one means hubs bridge communities and
    capping loses structure.

    Exactness: phi rides as ppm = 1e6 * 2 * E_k div (N_k * (N_k - 1))
    — all BIGINT.  Shape: NO per-k join — each edge is bucketed ONCE
    by min(deg_u, deg_v) (the largest k the edge survives), each node
    once by its degree, then every k is a conditional aggregate over
    those two small frames: one degree frame, one edge-degree join,
    one 6-row finale, linear in edges at any k count.
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs.select("u", "v"))
    adj = p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = materialize(
        adj.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
    )
    edge_md = (
        p.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "deg_u")
        .join(
            deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v")),
            "v",
        )
        .select(F.least("deg_u", "deg_v").alias("md"))
    )
    rows = []
    for k in ks:
        ek = F.sum(F.when(F.col("md") > k, 1).otherwise(0)).cast("long")
        rows.append(ek.alias(f"e_{k}"))
    e_counts = edge_md.agg(*rows).withColumn("__j", F.lit(1))
    nrows = []
    for k in ks:
        nk = F.sum(F.when(F.col("deg") > k, 1).otherwise(0)).cast("long")
        nrows.append(nk.alias(f"n_{k}"))
    n_counts = deg.agg(*nrows).withColumn("__j", F.lit(1))
    both = e_counts.join(F.broadcast(n_counts), "__j")
    selects = []
    for k in ks:
        selects.append(
            f"STRUCT(CAST({k} AS BIGINT) AS k, n_{k} AS n_club,"
            f" e_{k} AS club_edges,"
            f" CASE WHEN n_{k} >= 2 THEN"
            f"   CAST(2000000 * e_{k} div (n_{k} * (n_{k} - 1)) AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END AS phi_ppm)"
        )
    return (
        both.selectExpr(f"explode(array({', '.join(selects)})) AS s")
        .selectExpr("s.k", "s.n_club", "s.club_edges", "s.phi_ppm")
        .orderBy("k")
    )


def _q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rich_club(shared_coorder_pairs(spark, sf_dir))


def _rich_club_oracle(ks: tuple = RICH_CLUB_KS) -> str:
    arms = []
    for k in ks:
        arms.append(f"""
      SELECT CAST({k} AS BIGINT) AS k,
             (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE deg > {k})
               AS n_club,
             (SELECT CAST(count(*) AS BIGINT) FROM edge_md WHERE md > {k})
               AS club_edges""")
    return (
        f"""
    WITH {_PAIRS_CTE},
    adj AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
            FROM adj GROUP BY u),
    edge_md AS (
      SELECT least(du.deg, dv.deg) AS md
      FROM pairs p
      JOIN deg du ON du.node = p.u
      JOIN deg dv ON dv.node = p.v
    ),
    arms AS ({" UNION ALL ".join(arms)})
    SELECT k, n_club, club_edges,
           CASE WHEN n_club >= 2 THEN
             CAST(2000000 * club_edges // (n_club * (n_club - 1))
                  AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS phi_ppm
    FROM arms
    ORDER BY k
    """
    )


register("graph_rich_club", _q_rich_club, oracle=_rich_club_oracle())


# ----------------------------------- degree-tail doubling census (r13)
DEG_TAIL_MAX_J = 20


def degree_tail(edges: DataFrame) -> DataFrame:
    """Doubling-threshold degree-tail census — the INTEGER core of the
    power-law/log-log diagnostic (Clauset-Shalizi-Newman 2009 read off
    exact survival counts): for each threshold 2^j, how many nodes
    have degree >= 2^j and how much degree mass they carry.  The
    log-log slope is read directly off consecutive rows (halving
    counts per doubling ~ exponent 1) with NO floating log anywhere —
    survival counts hash bit-identically, a fitted float slope never
    would (libm ulp drift across engines).

    Shape (100 TB): degree agg (one shuffle of the edge list), then a
    broadcast non-equi join against the 21-row threshold frame —
    |deg| x 21 worst case, but the frame after the degree agg is
    node-scale, not edge-scale.  Output <= 21 rows.
    """
    sym = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("k"))
    spark = edges.sparkSession
    js = spark.range(DEG_TAIL_MAX_J + 1).select(
        F.col("id").cast("int").alias("j"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))")
        .alias("threshold"),
    )
    return (
        deg.join(F.broadcast(js), F.col("k") >= F.col("threshold"))
        .groupBy("j", "threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("k").cast("long").alias("sum_deg"),
            F.max("k").cast("long").alias("max_deg"),
        )
        .orderBy("j")
    )


def _q_degree_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.session import materialize

    return degree_tail(shared_coorder_pairs(spark, sf_dir))


register(
    "graph_degree_tail",
    _q_degree_tail,
    oracle=f"""
    WITH {_PAIRS_CTE},
    sym AS (
      SELECT u, v FROM pairs
      UNION ALL
      SELECT v AS u, u AS v FROM pairs
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY u),
    js AS (
      SELECT CAST(j AS INT) AS j,
             CAST(1 AS BIGINT) << j AS threshold
      FROM (SELECT unnest(generate_series(0, {DEG_TAIL_MAX_J})) AS j)
    )
    SELECT js.j, js.threshold,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(k) AS BIGINT) AS sum_deg,
           CAST(max(k) AS BIGINT) AS max_deg
    FROM deg JOIN js ON deg.k >= js.threshold
    GROUP BY js.j, js.threshold
    ORDER BY js.j
    """,
)


def reciprocity(events: DataFrame) -> DataFrame:
    """Weighted reciprocity of the event-type TRANSITION graph (the
    directed-graph mixing diagnostic of Squartini et al. 2013): build
    directed edges a -> b from each user's consecutive event pairs
    (ordered by ts, event_id — deterministic under timestamp ties),
    then per source type report how much of its outgoing transition
    mass is reciprocated: w_recip = sum_b min(w_ab, w_ba).  A page
    flow with recip_ppm ~ 1e6 is navigational back-and-forth; ~0 is a
    funnel — the directedness answer the undirected co-order entries
    cannot give.

    Exactness: weights are exact counts, min/sums exact integers, ONE
    floored double ratio.  Shape (100 TB): ONE fact scan, one keyed
    lag window (hash shuffle on user), one |types|^2-bounded agg —
    then the tiny weight frame is MATERIALIZED before its reversed
    self-join (left lazy, Catalyst inlines the CTE and re-runs the
    fact scan + window once per side — the census caught exactly
    that), so both join sides are plain reads of <= |types|^2 rows.
    """
    from dblab_ece_trino_spark.session import materialize

    w_ = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_type",
        F.lag("event_type").over(w_).alias("prev_type"),
    )
    wts = materialize(
        seq.filter(
            F.col("prev_type").isNotNull()
            & (F.col("prev_type") != F.col("event_type"))
        )
        .groupBy(F.col("prev_type").alias("a"),
                 F.col("event_type").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    rev = wts.select(F.col("a").alias("b"), F.col("b").alias("a"),
                     F.col("w").alias("w_rev"))
    m = wts.join(rev, ["a", "b"], "left").withColumn(
        "w_rev", F.coalesce(F.col("w_rev"), F.lit(0))
    )
    return (
        m.groupBy(F.col("a").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_partners"),
            F.sum("w").cast("long").alias("w_out"),
            F.sum(F.least("w", "w_rev")).cast("long").alias("w_recip"),
            F.floor(
                F.lit(1000000.0)
                * F.sum(F.least("w", "w_rev"))
                / F.sum("w")
            ).cast("long").alias("recip_ppm"),
        )
        .orderBy("event_type")
    )


def _q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.entrypoints import engine_for

    return reciprocity(
        engine_for(spark, sf_dir).catalogs.table("elastic.default.events")
    )


register(
    "graph_reciprocity",
    _q_reciprocity,
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    w AS (
      SELECT prev_type AS a, event_type AS b,
             CAST(count(*) AS BIGINT) AS w
      FROM seq
      WHERE prev_type IS NOT NULL AND prev_type <> event_type
      GROUP BY 1, 2
    ),
    m AS (
      SELECT f.a, f.b, f.w, coalesce(r.w, 0) AS w_rev
      FROM w f LEFT JOIN w r ON r.a = f.b AND r.b = f.a
    )
    SELECT a AS event_type,
           CAST(count(*) AS BIGINT) AS n_partners,
           CAST(sum(w) AS BIGINT) AS w_out,
           CAST(sum(CASE WHEN w < w_rev THEN w ELSE w_rev END)
                AS BIGINT) AS w_recip,
           CAST(floor(1000000.0
                      * CAST(sum(CASE WHEN w < w_rev THEN w
                                      ELSE w_rev END) AS DOUBLE)
                      / CAST(sum(w) AS DOUBLE)) AS BIGINT) AS recip_ppm
    FROM m
    GROUP BY a
    ORDER BY a
    """,
)



# ---------------------------------------------- k-truss peeling (r13)
KTRUSS_K = 3
KTRUSS_ROUNDS = 3


def ktruss_edges(
    pairs: DataFrame, k: int = KTRUSS_K, rounds: int = KTRUSS_ROUNDS
) -> DataFrame:
    """k-truss decomposition by synchronous edge peeling (Cohen 2008):
    ``rounds`` rounds of "drop every edge supported by fewer than k-2
    triangles among surviving edges".  The truss is the EDGE-cohesion
    refinement of the k-core — a core node survives with arbitrary
    neighbors, a truss edge needs COMMON neighbors, so trusses isolate
    genuinely clique-ish communities where cores keep hub-and-spoke
    stars.  k = 3 (every surviving edge sits in a triangle of
    survivors, iterated) is the strongest non-empty truss of the
    co-order graph at the graded scales — its 4-truss is empty, which
    the peeling correctly reports.  Fixed rounds rather than a convergence
    test (the kcore/label-prop discipline) so DuckDB replays the exact
    computation as an unrolled MATERIALIZED CTE chain.

    Per round: one DEGREE-ORIENTED triangle enumeration, one
    edge-keyed support agg, one semi-join; the edge frame shrinks
    monotonically and is materialized per round (lazy compounds to
    3^rounds lineage).  At 100 TB the triangle join is the scale term,
    and it runs over the SURVIVING edges only — peeling makes each
    round cheaper than the last.

    Orientation matters at scale: the per-round enumeration is
    ``degree_oriented_triangles`` (shared with triangle_participation
    and the clustering coefficient since round 14) — see its docstring
    for the hub-quadratic hazard the honest-Zipf probe measured in the
    ID-oriented form and the O(m^1.5) bound the orientation restores.
    The triangle SET is orientation-invariant, so the unrolled-CTE
    DuckDB oracle (ID orientation) verifies the output unchanged.
    """
    from dblab_ece_trino_spark.session import materialize

    e = materialize(pairs.select("u", "v"))
    for _ in range(rounds):
        # degree-oriented enumeration over the SURVIVING edge frame —
        # recomputing the orientation per round keeps it honest as
        # peeling shrinks the graph (and gets cheaper each round)
        tri = degree_oriented_triangles(e)
        # charge each triangle to its 3 canonical (u < v) edges
        sup = (
            tri.select(F.least("s", "t1").alias("u"),
                       F.greatest("s", "t1").alias("v"))
            .unionAll(tri.select(F.least("s", "t2").alias("u"),
                                 F.greatest("s", "t2").alias("v")))
            .unionAll(tri.select(F.least("t1", "t2").alias("u"),
                                 F.greatest("t1", "t2").alias("v")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("s"))
        )
        keep = sup.filter(F.col("s") >= k - 2).select("u", "v")
        e = materialize(e.join(keep, ["u", "v"], "semi"))
    return e


def _q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ktruss_edges(shared_coorder_pairs(spark, sf_dir))
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("truss_degree"))
        .select(F.col("u").alias("node"), "truss_degree")
        .orderBy("node")
    )


def _ktruss_oracle(k: int = KTRUSS_K, rounds: int = KTRUSS_ROUNDS) -> str:
    ctes = [
        _PAIRS_CTE,
        "e0 AS MATERIALIZED (SELECT u, v FROM pairs)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""t{r} AS MATERIALIZED (
      SELECT ab.u AS a, ab.v AS b, bc.v AS c
      FROM e{r - 1} ab
      JOIN e{r - 1} bc ON bc.u = ab.v
      JOIN e{r - 1} ac ON ac.u = ab.u AND ac.v = bc.v
    )"""
        )
        ctes.append(
            f"""s{r} AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT a AS u, b AS v FROM t{r}
        UNION ALL SELECT b, c FROM t{r}
        UNION ALL SELECT a, c FROM t{r}
      ) GROUP BY u, v HAVING count(*) >= {k - 2}
    )"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{r - 1} e
      JOIN s{r} s ON s.u = e.u AND s.v = e.v
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT u AS node, CAST(count(*) AS BIGINT) AS truss_degree
    FROM (SELECT u, v FROM e{rounds}
          UNION ALL SELECT v, u FROM e{rounds})
    GROUP BY u
    ORDER BY node
    """
    )


register("graph_ktruss", _q_ktruss, oracle=_ktruss_oracle())


PPR_SEEDS = 5


def personalized_pagerank(
    pairs: DataFrame,
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
    seeds_k: int = PPR_SEEDS,
) -> DataFrame:
    """Personalized PageRank (random walk with restart) over the
    symmetrized co-order graph, restarting to the ``seeds_k``
    highest-degree nodes — the "customers who bought these also
    bought" ranking a recommender actually serves, where vanilla
    PageRank answers the global-popularity question.  Completes the
    centrality family (pagerank / katz / harmonic / HITS, this module)
    with the seed-conditioned member.

    Same exactness discipline as ``pagerank``: d = 0.85 = 17/20, all
    arithmetic integer (div = floor), fixed iteration count, so the
    unrolled-CTE DuckDB oracle replays the computation bit-exactly.
    The differences from the global walk: restart mass flows ONLY to
    the seed set (teleport = 3*scale div (20*k) per seed), and rank
    frames stay SPARSE — pr0 is the k seed rows, and after i
    iterations only nodes within i hops of a seed hold mass, so early
    iterations shuffle frames orders smaller than the node set.

    Shape (100 TB): the edge+outdeg frame is built and materialized
    ONCE outside the loop (the pagerank discipline); each iteration is
    one join + one keyed agg over the sparse rank frame, with the
    constant seed teleport unioned in before the final sum — one
    shuffle per iteration.  Driver-side scalars: the seed count (a
    bounded LIMIT-k reduce) only.  BIGINT bounds: total walk mass <=
    scale + k*teleport < 2*scale = 2e12, so 17*s < 4e13 << 2^63.
    """
    from dblab_ece_trino_spark.session import materialize

    p = materialize(pairs.select("u", "v"))
    edges = p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    ed = materialize(
        edges.join(deg, edges.u == deg.node).select("u", "v", "outdeg")
    )
    seeds = materialize(
        deg.orderBy(F.desc("outdeg"), F.asc("node"))
        .limit(seeds_k)
        .select("node")
    )
    k = seeds.count()
    if k == 0:
        return pairs.sparkSession.createDataFrame([], "node long, pr long")
    tele = (3 * scale) // (20 * k)
    pr = seeds.select(
        "node", F.lit(scale // k).cast("long").alias("pr")
    )
    for _ in range(iters):
        contrib = (
            pr.join(ed, F.col("node") == F.col("u"))
            .groupBy(F.col("v").alias("node"))
            .agg(
                F.expr("CAST((17 * sum(pr div outdeg)) div 20 AS BIGINT)")
                .alias("x")
            )
        )
        pr = (
            contrib.unionAll(
                seeds.select("node", F.lit(tele).cast("long").alias("x"))
            )
            .groupBy("node")
            .agg(F.sum("x").cast("long").alias("pr"))
        )
    return pr


def _q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    pr = personalized_pagerank(shared_coorder_pairs(spark, sf_dir))
    return (
        pr.orderBy(F.desc("pr"), F.asc("node"))
        .limit(25)
        .select(
            F.col("node").alias("part_key"),
            F.col("pr").alias("ppr_micro"),
        )
    )


def _ppr_oracle(
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
    seeds_k: int = PPR_SEEDS,
) -> str:
    ctes = [
        _PAIRS_CTE,
        "edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs)",
        "deg AS (SELECT u AS node, count(*) AS outdeg FROM edges GROUP BY u)",
        f"seeds AS (SELECT node FROM deg "
        f"ORDER BY outdeg DESC, node LIMIT {seeds_k})",
        "ns AS (SELECT count(*) AS k FROM seeds)",
        f"pr0 AS (SELECT node, CAST({scale} // (SELECT k FROM ns) AS BIGINT)"
        " AS pr FROM seeds)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""pr{i} AS (
      SELECT node, CAST(sum(x) AS BIGINT) AS pr FROM (
        SELECT e.v AS node,
               CAST((17 * sum(p.pr // d.outdeg)) // 20 AS BIGINT) AS x
        FROM pr{i - 1} p
        JOIN deg d ON p.node = d.node
        JOIN edges e ON e.u = p.node
        GROUP BY e.v
        UNION ALL
        SELECT node,
               CAST({3 * scale} // (20 * (SELECT k FROM ns)) AS BIGINT)
        FROM seeds
      ) GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS part_key, pr AS ppr_micro
    FROM pr{iters}
    ORDER BY pr DESC, node
    LIMIT 25
    """
    )


register("graph_ppr", _q_ppr, oracle=_ppr_oracle())


# -------------------------------------------- HyperANF neighborhood function
NF_M = 64          # registers per node (HyperANF's practical band)
NF_ROUNDS = 3      # t = 0..3 emitted; co-order graphs have tiny diameters
_NF_SCALE = 2**48  # the r9 HLL integer-state scaling (rho <= 41)
# alpha_64 * m^2 * 2^48 embedded via repr() so both engines parse the
# IDENTICAL double literal (alpha_64 = 0.709, the published HLL bias
# constant for m = 64 — the m < 128 cases are tabulated, not formulaic)
_NF_A = repr(0.709 * NF_M * NF_M * _NF_SCALE)


def neighborhood_function(
    pairs: DataFrame, rounds: int = NF_ROUNDS, m: int = NF_M
) -> DataFrame:
    """HyperANF-style neighborhood function (Boldi, Rosa & Vigna,
    WWW'11 "HyperANF: approximating the neighbourhood function of very
    large graphs on a budget"): per node, an HLL sketch of the set of
    nodes within t hops, advanced one hop per round by REGISTER-WISE
    MAX over the node's own sketch and its neighbors' sketches (HLL
    union = elementwise max — the merge theorem op_hll_intersection
    pins against hand registers).  N(t) = sum of per-node reach
    estimates is the distance-distribution summary behind effective
    diameter / average distance on graphs where exact per-node BFS
    frontiers (graph_shortest_path's single-source shape, run from
    EVERY node) are quadratically out of reach.

    Exactness discipline (the r9 HLL entry, per node): sketches live
    as SPARSE (node, bucket, rho) rows — a singleton sketch is ONE row,
    and state only grows with true neighborhood diversity; rho from 40
    md5 payload bits capped at 41 keeps every 2^(48-rho) term integral,
    per-node s_scaled is a multiple of 2^7 below 2^54 so the
    BIGINT->DOUBLE cast is exact, and the per-node estimate is ONE
    correctly-rounded IEEE division floored to BIGINT — the graded
    columns (floored-estimate sums, register-row counts, rho checksum)
    are partition-order-independent integers.  The linear-counting
    small-range correction stays pytest-side (ln is libm-dependent),
    exactly as documented at op_hll_distinct.

    100 TB shape: state is <= nodes x m rows (sparse below that until
    saturation); each round is ONE edge-keyed shuffle (join edges,
    re-max per (node, bucket) — both map-side combinable) against the
    SHARED materialized co-order build, and rounds are a small fixed
    constant.  This is the whole point of HyperANF: t rounds of
    m-bounded register traffic instead of |V| BFS runs.
    """
    from dblab_ece_trino_spark.operators.sketches import (
        _hll_rho_sql,
        hexint_digits_sql,
    )
    from dblab_ece_trino_spark.session import materialize

    edges = pairs.select("u", "v").unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = edges.select(F.col("u").alias("node")).distinct()
    prep = nodes.select(
        "node",
        F.md5(F.concat(F.lit("nf:"), F.col("node").cast("string"))).alias(
            "h"
        ),
    ).select(
        "node",
        (F.expr(hexint_digits_sql("h", 2, 1)) % m).alias("bucket"),
        F.expr("substr(h, 3, 10)").alias("rest"),
        F.expr(
            "length(regexp_extract(substr(h, 3, 10), '^0*', 0))"
        ).alias("nz"),
    )
    regs = materialize(
        prep.select(
            "node",
            "bucket",
            F.expr(_hll_rho_sql("rest", "nz")).cast("int").alias("rho"),
        )
    )
    states = [regs]
    for _ in range(rounds):
        prop = edges.join(regs, edges["v"] == regs["node"]).select(
            edges["u"].alias("node"), "bucket", "rho"
        )
        regs = materialize(
            prop.unionByName(regs.select("node", "bucket", "rho"))
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
        )
        states.append(regs)

    out = None
    for t, st in enumerate(states):
        per_node = st.groupBy("node").agg(
            F.count(F.lit(1)).cast("long").alias("present"),
            F.expr(
                "CAST(sum(shiftleft(CAST(1 AS BIGINT), 48 - rho))"
                " AS BIGINT)"
            ).alias("s_present"),
            F.sum("rho").cast("long").alias("rh"),
        )
        s_scaled = F.col("s_present") + (
            (F.lit(m) - F.col("present")) * F.lit(_NF_SCALE)
        )
        est = F.floor(
            F.expr(f"CAST({_NF_A} AS DOUBLE)") / s_scaled
        ).cast("long")
        row = per_node.agg(
            F.sum(est).cast("long").alias("reach_est_sum"),
            F.sum("present").cast("long").alias("register_rows"),
            F.sum("rh").cast("long").alias("sum_rho"),
        ).select(
            F.lit(t).cast("int").alias("t"),
            "reach_est_sum",
            "register_rows",
            "sum_rho",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("t")


def _q_neighborhood_func(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neighborhood_function(shared_coorder_pairs(spark, sf_dir))


def _nf_oracle(rounds: int = NF_ROUNDS, m: int = NF_M) -> str:
    from dblab_ece_trino_spark.operators.sketches import (
        _hll_rho_sql,
        hexint_digits_sql,
    )

    bucket = hexint_digits_sql("h", 2, 1)
    rho = _hll_rho_sql("rest", "nz")
    ctes = [
        _PAIRS_CTE,
        "edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs)",
        "nodes AS (SELECT DISTINCT u AS node FROM edges)",
        f"""r0 AS (
      SELECT node, ({bucket}) % {m} AS bucket, CAST({rho} AS INT) AS rho
      FROM (SELECT node, h, substr(h, 3, 10) AS rest,
                   length(regexp_extract(substr(h, 3, 10), '^0*', 0)) AS nz
            FROM (SELECT node,
                         md5(concat('nf:', CAST(node AS STRING))) AS h
                  FROM nodes) q) p
    )""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""r{i} AS (
      SELECT node, bucket, CAST(max(rho) AS INT) AS rho FROM (
        SELECT e.u AS node, r.bucket, r.rho
        FROM r{i - 1} r JOIN edges e ON e.v = r.node
        UNION ALL
        SELECT node, bucket, rho FROM r{i - 1}
      ) GROUP BY node, bucket
    )"""
        )
    stats = []
    for t in range(rounds + 1):
        stats.append(
            f"""st{t} AS (
      SELECT CAST({t} AS INT) AS t,
             CAST(sum(CAST(floor(CAST({_NF_A} AS DOUBLE)
                    / (s_present + ({m} - present) * {_NF_SCALE}))
                  AS BIGINT)) AS BIGINT) AS reach_est_sum,
             CAST(sum(present) AS BIGINT) AS register_rows,
             CAST(sum(rh) AS BIGINT) AS sum_rho
      FROM (SELECT node, CAST(count(*) AS BIGINT) AS present,
                   CAST(sum(CAST(1 AS BIGINT) << (48 - rho)) AS BIGINT)
                     AS s_present,
                   CAST(sum(rho) AS BIGINT) AS rh
            FROM r{t} GROUP BY node) pn
    )"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM st{t}" for t in range(rounds + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes + stats)
        + f"""
    SELECT * FROM ({union}) ORDER BY t
    """
    )


register("graph_neighborhood_func", _q_neighborhood_func, oracle=_nf_oracle())
