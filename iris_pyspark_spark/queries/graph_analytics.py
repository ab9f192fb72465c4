"""Graph analytics over relational data (SURVEY.md §2.11 adjacency):
iterative ranking on a co-occurrence graph derived from the fact
tables. Complements the dedup-clustering use of
operators.graph.connected_components with the other canonical
iterative-relational workload, PageRank.

Scale design: the supplier co-order graph has bounded degree per order
(lineitems per order is small and fixed by the data model), so edge
construction is linear in lineitem — an orderkey self-join, never
all-pairs across suppliers. Each PageRank round is one shuffle-join +
one map-side-combinable SUM; rounds materialize to parquet to break
lineage (the iterative-DataFrame discipline documented on
connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..registry import register


@register("g_pagerank_parts", oracle=None, tags=("J10", "A1", "J1"))
def g_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by PageRank on the co-order graph (parts are
    linked when they appear as lines of the same order — the basket
    graph; suppliers would saturate to a complete graph, parts stay
    sparse with a real degree distribution), 6 fixed iterations of
    operators.graph.pagerank_integer.

    Rows-only by design — PageRank has no ANSI-SQL equivalent DuckDB
    can run (aggregation over a recursive reference is outside
    recursive-CTE SQL). In exchange the operator is EXACT-integer
    deterministic, so tests/test_graph.py pins the full fixed point
    against an independent numpy implementation bit-for-bit, and every
    output row carries provable invariants:

      * teleport_ok — rank >= the teleport floor (0.15 * 1e6);
      * mass_ok    — total mass <= n_vertices * 1e6 (long floors only
                     ever DROP mass, never create it);
      * degree_ok  — the vertex exists in the edge list (out_deg >= 1).
    """
    from ..sources import scratch_dir

    # Both orientations of the shared distinct-pair artifact (round 12;
    # pagerank_integer dropDuplicates its input, so the deduped edge set
    # is identical — this just stops re-running the basket expansion and
    # feeds the dedup |2E| rows instead of the multiplicity-bearing
    # expansion).
    pairs = _coorder_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )

    from ..operators.graph import pagerank_integer

    ranks = pagerank_integer(
        edges, "src", "dst", scratch_dir(sf_dir, "pagerank"), iters=6
    )
    totals = ranks.agg(
        F.sum("rank_micro").alias("total_mass_micro"),
        F.count(F.lit(1)).alias("n_vertices"),
    )
    # The operator materialized the degree-annotated edge table; read
    # it back for the report column instead of re-running the orderkey
    # self-join a second time.
    out_deg = (
        spark.read.parquet(f"{scratch_dir(sf_dir, 'pagerank')}/pr_edges")
        .select(F.col("src").alias("id"), "out_deg")
        .dropDuplicates(["id"])
    )
    return (
        ranks.join(out_deg, "id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("id").alias("p_partkey"),
            "rank_micro",
            "out_deg",
            "n_vertices",
            "total_mass_micro",
            (F.col("rank_micro") >= 150_000).alias("teleport_ok"),
            (F.col("total_mass_micro") <= F.col("n_vertices") * 1_000_000).alias(
                "mass_ok"
            ),
            (F.coalesce("out_deg", F.lit(0)) >= 1).alias("degree_ok"),
        )
        .orderBy(F.col("rank_micro").desc(), F.col("p_partkey"))
        .limit(20)
    )


_TRIANGLE_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs)
  GROUP BY node
),
oriented AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v) THEN p.u ELSE p.v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v) THEN p.v ELSE p.u END AS dst
  FROM pairs p JOIN deg du ON p.u = du.node JOIN deg dv ON p.v = dv.node
),
ek AS (
  SELECT o.src, o.dst, dd.d AS dd FROM oriented o JOIN deg dd ON o.dst = dd.node
),
wedges AS (
  SELECT x.dst AS b, y.dst AS c
  FROM ek x JOIN ek y ON x.src = y.src
  WHERE x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst)
),
tri AS (
  SELECT COUNT(*) AS n_triangles FROM wedges w
  JOIN oriented e ON w.b = e.src AND w.c = e.dst
)
SELECT (SELECT COUNT(*) FROM deg)   AS n_vertices,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT COUNT(*) FROM wedges) AS n_wedges,
       n_triangles
FROM tri
"""


def _triangle_artifacts(spark: SparkSession, sf_dir: str):
    """Per-process oriented-triangle artifacts shared by
    `g_triangle_count` and `g_clustering_coefficient`: the degree-ordered
    oriented edge list `ek` (src, dst), the undirected degree table `deg`
    (node, d), and the out-adjacency table `adj` (src, nbrs). Whichever
    query runs first in a process builds them; every later consumer pass
    is a plain parquet scan (the pre-round-11 plans recomputed the
    collect_list adjacency per consumer and scanned ek five times).

    Build shape (round 12): the pair list and the degree table are the
    FAMILY-WIDE artifacts `_coorder_pairs` / `_pair_degrees` — the
    round-11 build wrote a private, unfingerprinted `pairs_tmp` copy of
    the identical pair set next to ek (ADVICE r11: stale temp data
    accumulating in scratch) and recomputed degrees the other degree
    consumers also recompute. Now whichever graph query runs first
    builds the shared pair/degree artifacts once, and this builder only
    adds the orientation join + adjacency pack on top. The degree joins
    are left unhinted: the planner broadcasts deg when it fits and
    hash-joins otherwise — both scale.
    """
    from ..sources import materialize

    deg = _pair_degrees(spark, sf_dir)

    def build_ek(path: str) -> None:
        pairs = _coorder_pairs(spark, sf_dir)
        du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
        dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
        u_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        oriented = (
            pairs.join(du, "u")
            .join(dv, "v")
            .select(
                F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
                F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            )
        )
        oriented.write.mode("overwrite").parquet(path)

    def build_adj(path: str) -> None:
        adj = (
            spark.read.parquet(ek_path)
            .groupBy("src")
            .agg(F.collect_list("dst").alias("nbrs"))
        )
        adj.write.mode("overwrite").parquet(path)

    inputs = {"tables": ("lineitem",), "params": "tri_orient_v3"}
    ek_path = materialize(sf_dir, "triangle_ek", build_ek, **inputs)
    adj_path = materialize(sf_dir, "triangle_adj", build_adj, **inputs)
    return read_parquet(spark, ek_path), deg, read_parquet(spark, adj_path)


@register("g_triangle_count", oracle=_TRIANGLE_ORACLE, tags=("J10", "J1", "A2"), headline=True)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count on the part co-order graph via
    degree-ordered edge orientation (the MapReduce-classic wedge-check
    algorithm: Suri & Vassilvitskii, "Counting Triangles and the Curse
    of the Last Reducer", WWW'11).

    Scale design: the naive wedge join fans out as sum(d_v^2) and dies
    on hub vertices; orienting every edge from its (degree, id)-smaller
    endpoint to the larger caps out-degree at O(sqrt(edges)) so the
    wedge work is sum(out_deg^2) = O(E^1.5) worst case — the standard
    bound — and every step is an equi-join + combinable count (no cross
    join, no driver state). The degree-annotated oriented edge list is
    consumed three times (adjacency build + both closing-join sides),
    so it is a fingerprinted parquet artifact, not a recomputed subplan
    or a session-leaking persist. The O(E^1.5) wedge set is never
    MATERIALIZED as rows: the closing pass intersects bounded
    out-adjacency arrays per edge (see the inline derivation), so the
    only shuffled relations are |E| and |V| sized. Integer keys and
    counts end-to-end: bit-identical under any partitioning.
    """
    ek, deg, adj = _triangle_artifacts(spark, sf_dir)
    # Closing pass as adjacency-set intersection, NOT a wedge-row join:
    # exploding wedges materializes + shuffles O(E^1.5) rows (41M at
    # sf0.1) every run just to probe the edge list. Count, per oriented
    # edge (u, v), the common out-neighbors |N+(u) ∩ N+(v)|: d with u→d
    # and v→d closes the triangle whose apex is u (u→v, u→d, v→d), and
    # no other edge of that triangle has a common OUT-neighbor — so the
    # sum counts each triangle exactly once. Work is
    # Σ_edges(d+(u) + d+(v)) = O(E^1.5), the standard bound, but the
    # only relations moved are |E| and |V| sized (the planner broadcasts
    # the adjacency side when it fits, else hash-joins — both scale).
    # Wedge count is closed-form per source: Σ C(d+, 2).
    wedge_cnt = adj.agg(
        F.coalesce(
            F.sum(
                (F.size("nbrs").cast("long") * (F.size("nbrs").cast("long") - 1))
                / 2
            ).cast("long"),
            F.lit(0).cast("long"),
        ).alias("n_wedges")
    )
    tri_cnt = (
        ek.select("src", "dst")
        .join(adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu")),
              F.col("src") == F.col("u"))
        .join(adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv")),
              F.col("dst") == F.col("v"))
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("nu", "nv")).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_triangles")
        )
    )
    counts = wedge_cnt.crossJoin(F.broadcast(tri_cnt))
    # |V| and |E| closed-form over the saved degree table: every vertex
    # of the pair graph has d >= 1, and Σd counts each edge twice.
    vstats = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.coalesce(F.expr("sum(d) div 2"), F.lit(0).cast("long")).alias("n_edges"),
    )
    return (
        vstats.crossJoin(F.broadcast(counts))
        .select("n_vertices", "n_edges", "n_wedges", "n_triangles")
    )



def _basket_pairs(spark: SparkSession, sf_dir: str, symmetric: bool = False) -> DataFrame:
    """Co-order part pairs expanded from per-order baskets — the
    round-11 replacement for the `lineitem a JOIN lineitem b ON
    a.l_orderkey = b.l_orderkey` self-join every graph query carried:
    ONE shuffle of lineitem into (orderkey → part set), then the pairs
    expand in-task from each bounded basket (codegen Generates, no
    interpreted lambdas). Identical row multiset to the self-join
    (collect_set dedups per order exactly like the per-order
    dropDuplicates did), at half the lineitem scans and shuffles.

    Returns (u, v) with per-order multiplicity — callers that need the
    edge SET apply .distinct() (as they did before), callers that need
    co-occurrence counts aggregate directly. `symmetric=True` emits
    both orientations in the same single pass, replacing the
    union-of-swapped-subplan pattern that re-executed the whole build.
    Basket size is bounded by lines-per-order (the data model), so the
    expansion is O(lines²) per order, never cross-order."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("arr")
    )
    if symmetric:
        return (
            baskets.select(F.col("arr"), F.explode("arr").alias("u"))
            .select("u", F.explode("arr").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
    return baskets.select(
        F.col("arr"), F.posexplode("arr").alias("i", "u")
    ).select(
        "u",
        F.explode(F.slice(F.col("arr"), F.col("i") + 2, F.size("arr"))).alias("v"),
    )


def _coorder_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected part co-order pair list (u < v), shared by the
    BFS / link-prediction / harmonic-centrality queries as ONE
    fingerprinted parquet artifact — each consumer scans it several
    times (per BFS round, per join side), so without materialization
    Spark re-runs the lineitem self-join once per consumer pass
    (measured 4x at sf0.1: 13s -> ~3s for BFS alone)."""
    from ..sources import materialize

    def build(path: str) -> None:
        _basket_pairs(spark, sf_dir).distinct().write.mode("overwrite").parquet(
            path
        )

    return read_parquet(
        spark,
        materialize(
            sf_dir,
            "coorder_pairs",
            build,
            tables=("lineitem",),
            params="coorder_pairs_v2",
        ),
    )


def _pair_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected degree table (node, d) of the distinct co-order
    pair graph, as ONE fingerprinted parquet artifact (round 12). Five
    queries previously each recomputed the identical degree aggregation
    from the pair list (triangle orientation, clustering coefficient,
    degree distribution, rich club, neighbor-degree curve); now the
    first builds it from the `_coorder_pairs` artifact and the rest
    scan |V| parquet rows. d = COUNT over both pair endpoints, i.e. the
    node's distinct-neighbor count — identical to every consumer's
    inline definition (long-typed either way: count returns long)."""
    from ..sources import materialize

    def build(path: str) -> None:
        pairs = _coorder_pairs(spark, sf_dir)
        (
            pairs.select(F.col("u").alias("node"))
            .unionAll(pairs.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
            .write.mode("overwrite")
            .parquet(path)
        )

    return read_parquet(
        spark,
        materialize(
            sf_dir,
            "coorder_deg",
            build,
            tables=("lineitem",),
            params="coorder_deg_v1",
        )
    )


_BFS_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
walk(node, hop) AS (
  SELECT (SELECT MIN(u) FROM edges), 0
  UNION
  SELECT s.v, w.hop + 1
  FROM walk w JOIN sym s ON s.u = w.node
  WHERE w.hop < 3
)
SELECT node, MIN(hop) AS hops
FROM walk
GROUP BY node
"""


@register("g_bfs_hops", oracle=_BFS_ORACLE, tags=("J10", "J1", "A1"))
def g_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from the smallest part key over the part
    co-order graph, bounded at 3 hops — the frontier-expansion
    primitive (reachability, ego networks, neighborhood sampling) the
    graph family lacked next to PageRank (fixed-point ranking),
    triangles (local structure), and connected components (global
    labels). Unlike those, BFS has an EXACT SQL oracle: DuckDB's
    recursive CTE with UNION (not UNION ALL) dedups (node, hop) states
    per step, so the recursion is |V|x|hops| bounded, never
    path-enumerating.

    Scale design: each round is frontier ⋈ edges → distinct → anti-join
    against settled vertices — all key-equi; the frontier starts at one
    row (AQE broadcasts it) and is always a subset of the vertex set,
    never the walk set. Three rounds keep lineage shallow enough to
    skip checkpointing; a deeper traversal would materialize the
    settled set per round to parquet exactly as pagerank_integer and
    connected_components do (the iterative-DataFrame discipline).

    The undirected pair list is consumed by all three rounds plus the
    seed, so it is a fingerprinted parquet artifact (like the triangle
    count's oriented edges) — without it Spark re-runs the lineitem
    self-join once per BFS round (4x at sf0.1: 13s -> ~3s)."""
    from ..sources import scratch_dir

    pairs = _coorder_pairs(spark, sf_dir)
    sym = pairs.unionAll(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # The seed is a 1-row FRAME (agg MIN), not a driver collect.
    dist = pairs.agg(F.min("u").alias("node")).withColumn("hops", F.lit(0))
    frontier = dist
    # Each round's frontier feeds BOTH the next round's expansion and
    # every later anti-join; left lazy, Spark re-derives round h from
    # scratch for each consumer (exponential recompute — 11.5s at
    # sf0.1). Persist each small frontier eagerly, then materialize the
    # final result to parquet and unpersist so nothing leaks into the
    # shared session (the cosine-slab lesson).
    # Frontier and settled set are both subsets of the PART dimension
    # (bounded like any dim table), so broadcasting them keeps the big
    # side — the edge list — entirely map-side: one shuffle per round
    # (the distinct), not three. At billion-vertex scale these would
    # flip to shuffle joins; the edge list never broadcasts.
    persisted = []
    for h in (1, 2, 3):
        nxt = (
            sym.join(F.broadcast(frontier), frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(F.broadcast(dist.select("node")), "node", "left_anti")
            .withColumn("hops", F.lit(h))
            .persist()
        )
        nxt.count()  # eager: cut the recompute tree here
        persisted.append(nxt)
        dist = dist.unionByName(nxt)
        frontier = nxt
    out_path = scratch_dir(sf_dir, "coorder") + "/bfs_out"
    dist.coalesce(8).write.mode("overwrite").parquet(out_path)
    for f in persisted:
        f.unpersist(blocking=False)
    return spark.read.parquet(out_path)


_LINKPRED_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
focal AS (SELECT node FROM deg ORDER BY node LIMIT 150),
fsym AS (SELECT s.u AS a, s.v AS x FROM sym s JOIN focal f ON s.u = f.node),
cand AS (
  SELECT n1.a AS a, n2.a AS b, COUNT(*) AS common
  FROM fsym n1 JOIN fsym n2 ON n1.x = n2.x
  WHERE n1.a < n2.a
  GROUP BY n1.a, n2.a
),
nonedge AS (
  SELECT c.a, c.b, c.common FROM cand c
  LEFT JOIN pairs p ON p.u = c.a AND p.v = c.b
  WHERE p.u IS NULL
)
SELECT n.a, n.b, n.common, da.d AS deg_a, db.d AS deg_b,
       da.d + db.d - n.common AS union_size,
       ROUND(CAST(n.common AS DOUBLE) / (da.d + db.d - n.common), 6) AS jaccard
FROM nonedge n JOIN deg da ON n.a = da.node JOIN deg db ON n.b = db.node
ORDER BY n.common DESC, n.a ASC, n.b ASC LIMIT 20
"""


@register("g_linkpred_common_neighbors", oracle=_LINKPRED_ORACLE, tags=("J10", "J5", "A1"))
def g_linkpred_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-order graph: the top-20
    NON-adjacent part pairs from a 150-node focal set, scored by
    common-neighbor count and neighborhood Jaccard — the item-item
    candidate-recommendation shape ("parts never co-ordered but bought
    alongside the same other parts").

    Scale design: the all-pairs wedge join is sum(deg^2) and dies on
    hub vertices at crawl scale (this graph's mean degree is ~115
    already), so candidate generation is restricted to a bounded FOCAL
    batch — the production pattern: score one bounded cohort of items
    per run, not the full catalog cross-product. Fan-out per common
    neighbor x is then |N(x) ∩ focal|^2 <= 150^2 regardless of graph
    size, and the focal set broadcasts. The undirected pair list is
    the same fingerprinted parquet artifact the BFS query builds
    (coorder/pairs); existing edges are removed with a left anti-join;
    everything downstream is key-equi joins over exact integers, and
    jaccard is one IEEE division rounded at 6 dp. The top-20 cut
    orders by (common DESC, a, b) so boundary ties are deterministic.
    """
    pairs = _coorder_pairs(spark, sf_dir)
    sym = pairs.unionAll(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    focal = deg.select("node").orderBy("node").limit(150)
    fsym = sym.join(
        F.broadcast(focal), sym["u"] == focal["node"]
    ).select(F.col("u").alias("a"), F.col("v").alias("x"))
    n1, n2 = fsym.alias("n1"), fsym.alias("n2")
    cand = (
        n1.join(n2, "x")
        .filter(F.col("n1.a") < F.col("n2.a"))
        .groupBy(F.col("n1.a").alias("a"), F.col("n2.a").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    nonedge = cand.join(
        pairs.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b"))
    return (
        nonedge.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            "deg_a",
            "deg_b",
            (F.col("deg_a") + F.col("deg_b") - F.col("common")).alias("union_size"),
            F.round(
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("common").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
    )


_HARMONIC_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
seeds AS (SELECT DISTINCT u AS node FROM sym ORDER BY node LIMIT 10),
walk AS (
  WITH RECURSIVE w(seed, node, hop) AS (
    SELECT node, node, 0 FROM seeds
    UNION
    SELECT w.seed, s.v, w.hop + 1 FROM w JOIN sym s ON s.u = w.node WHERE w.hop < 3
  ) SELECT * FROM w
),
md AS (SELECT seed, node, MIN(hop) AS hop FROM walk GROUP BY 1, 2)
SELECT seed,
       COUNT(*) FILTER (WHERE hop >= 1) AS n_reached,
       CAST(SUM(1000000 // hop) FILTER (WHERE hop >= 1) AS BIGINT) AS harmonic_micro
FROM md GROUP BY seed
"""


@register("g_harmonic_centrality", oracle=_HARMONIC_ORACLE, tags=("J10", "J1", "A7"))
def g_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop harmonic centrality for a 10-seed batch on the part
    co-order graph: sum over reached vertices of 1/hops, the
    disconnected-safe closeness variant (Boldi & Vigna, "Axioms for
    Centrality") — and the multi-source generalization of g_bfs_hops:
    the SAME frontier expansion, vectorized across seeds by carrying
    the seed as a key column instead of looping per source.

    Scale design: each round is frontier ⋈ edges → distinct →
    anti-join, all equi-joins on integer keys; frontier and settled
    sets are bounded by |seeds| x |V| (subsets of the part dimension
    tagged by seed) so they broadcast, and the edge list — the only
    corpus-scale table — never moves. Per-round eager persists cut the
    exponential lazy-recompute tree, and the settled set lands in a
    parquet artifact before the final 10-row aggregate so nothing
    cached leaks into the shared session. Exact integers end-to-end:
    1/hop is accumulated as (1000000 div hop) micro-units, identical
    integer division on both engines."""
    from ..sources import scratch_dir

    pairs = _coorder_pairs(spark, sf_dir)
    sym = pairs.unionAll(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seeds = (
        sym.select(F.col("u").alias("node")).distinct().orderBy("node").limit(10)
    )
    dist = seeds.select(
        F.col("node").alias("seed"), F.col("node").alias("node"), F.lit(0).alias("hop")
    )
    frontier = dist.select("seed", "node")
    persisted = []
    for h in (1, 2, 3):
        nxt = (
            sym.join(F.broadcast(frontier), frontier["node"] == sym["u"])
            .select("seed", F.col("v").alias("node"))
            .distinct()
            .join(F.broadcast(dist.select("seed", "node")), ["seed", "node"], "left_anti")
            .withColumn("hop", F.lit(h))
            .persist()
        )
        nxt.count()
        persisted.append(nxt)
        dist = dist.unionByName(nxt)
        frontier = nxt.select("seed", "node")
    out_path = scratch_dir(sf_dir, "coorder") + "/harmonic_dist"
    dist.coalesce(8).write.mode("overwrite").parquet(out_path)
    for f in persisted:
        f.unpersist(blocking=False)
    md = spark.read.parquet(out_path)
    return md.groupBy("seed").agg(
        F.count(F.when(F.col("hop") >= 1, 1)).alias("n_reached"),
        F.sum(F.when(F.col("hop") >= 1, F.expr("1000000 div hop"))).alias(
            "harmonic_micro"
        ),
    )


@register("g_kcore_decomposition", oracle=None, tags=("J10", "J4", "A1"))
def g_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the part co-order graph via operators.graph.kcore
    (iterative peeling to the unique fixpoint) — the community-density
    screen that complements components (connectivity), PageRank
    (centrality), and triangles (local clustering).

    Rows-only by design: a peeling fixpoint is outside recursive-CTE
    SQL (each round aggregates over the previous round's induced
    subgraph). In exchange the output is self-validating — the k-core
    is UNIQUE, so the query re-derives each member's degree within the
    returned core INDEPENDENTLY of the loop's bookkeeping:

      * core_deg_ok    — independently recomputed in-core degree >= 4
                         AND equal to the loop's reported core_deg;
      * nonempty_ok    — the core retained at least one vertex (the
                         basket graph's dense center guarantees one).
    """
    from ..sources import scratch_dir

    edges = _coorder_pairs(spark, sf_dir).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )

    from ..operators.graph import kcore

    core = kcore(edges, "src", "dst", k=4, scratch_path=scratch_dir(sf_dir, "kcore"))

    # Independent validation: degree within the returned vertex set,
    # recomputed from the ORIGINAL edge list (not the loop's state).
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])
    members = core.select(F.col("id").alias("src"))
    in_core = (
        sym.join(members, "src", "left_semi")
        .join(members.withColumnRenamed("src", "dst"), "dst", "left_semi")
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("check_deg"))
    )
    n_core = core.agg(F.count(F.lit(1)).alias("n_core"))
    return (
        core.join(in_core, "id", "left")
        .crossJoin(F.broadcast(n_core))
        .select(
            F.col("id").alias("p_partkey"),
            "core_deg",
            "check_deg",
            "n_core",
            (
                (F.coalesce("check_deg", F.lit(0)) >= 4)
                & (F.col("check_deg") == F.col("core_deg"))
            ).alias("core_deg_ok"),
            (F.col("n_core") >= 1).alias("nonempty_ok"),
        )
        .orderBy(F.col("core_deg").desc(), F.col("p_partkey"))
        .limit(50)
    )


_MODULARITY_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
labeled AS (
  SELECT p.u, p.v, pu.p_brand AS bu, pv.p_brand AS bv
  FROM pairs p
  JOIN part pu ON p.u = pu.p_partkey
  JOIN part pv ON p.v = pv.p_partkey
),
m AS (SELECT COUNT(*) AS m_edges FROM labeled),
within AS (
  SELECT bu AS brand, COUNT(*) AS e_within
  FROM labeled WHERE bu = bv GROUP BY bu
),
deg AS (
  SELECT brand, CAST(SUM(cnt) AS BIGINT) AS a_deg
  FROM (
    SELECT bu AS brand, COUNT(*) AS cnt FROM labeled GROUP BY bu
    UNION ALL
    SELECT bv AS brand, COUNT(*) AS cnt FROM labeled GROUP BY bv
  ) GROUP BY brand
)
SELECT d.brand,
       COALESCE(w.e_within, 0) AS e_within,
       d.a_deg,
       m.m_edges,
       CAST(ROUND(1000000.0 *
            (COALESCE(w.e_within, 0) / CAST(m.m_edges AS DOUBLE)
             - (d.a_deg / (2.0 * m.m_edges)) * (d.a_deg / (2.0 * m.m_edges))))
            AS BIGINT) AS q_contrib_micro
FROM deg d
LEFT JOIN within w ON d.brand = w.brand
CROSS JOIN m
ORDER BY d.brand
"""


@register(
    "g_modularity_brand_partition",
    oracle=_MODULARITY_ORACLE,
    tags=("J10", "J1", "A1", "P5"),
)
def g_modularity_brand_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the BRAND partition on the part co-order
    graph: Q = Σ_i (e_ii/m − (a_i/2m)²) — do parts of the same brand
    co-occur in baskets more than a degree-preserving random graph
    would predict? Per-brand contributions are emitted (their sum is
    Q) — the community-QUALITY metric that complements the detection
    operators (`n_dedup_clusters` components, `g_kcore_decomposition`).

    Determinism: e_ii, a_i, m are exact integer counts; each brand's
    contribution is ONE fixed-shape double expression rounded to
    integer micro at the leaf, so any cross-brand total is exact
    integer math. Scale: edge construction is the bounded orderkey
    self-join; brand labels attach via two part-table equi-joins;
    everything aggregates combinably to |brands| rows.
    """
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pairs = _coorder_pairs(spark, sf_dir)
    pu = part.select(F.col("p_partkey").alias("u"), F.col("p_brand").alias("bu"))
    pv = part.select(F.col("p_partkey").alias("v"), F.col("p_brand").alias("bv"))
    labeled = pairs.join(pu, "u").join(pv, "v")
    m = labeled.agg(F.count(F.lit(1)).alias("m_edges"))
    within = (
        labeled.filter(F.col("bu") == F.col("bv"))
        .groupBy(F.col("bu").alias("brand"))
        .agg(F.count(F.lit(1)).alias("e_within"))
    )
    deg = (
        labeled.groupBy(F.col("bu").alias("brand"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .unionAll(
            labeled.groupBy(F.col("bv").alias("brand")).agg(
                F.count(F.lit(1)).alias("cnt")
            )
        )
        .groupBy("brand")
        .agg(F.sum("cnt").cast("long").alias("a_deg"))
    )
    e_w = F.coalesce(F.col("e_within"), F.lit(0))
    md = F.col("m_edges")
    return (
        deg.join(within, "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            e_w.alias("e_within"),
            "a_deg",
            "m_edges",
            F.round(
                1000000.0
                * (
                    e_w / md.cast("double")
                    - (F.col("a_deg") / (2.0 * md))
                    * (F.col("a_deg") / (2.0 * md))
                )
            )
            .cast("long")
            .alias("q_contrib_micro"),
        )
        .orderBy("brand")
    )


_DEGDIST_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs)
  GROUP BY node
)
SELECT LENGTH(bin(d)) AS bucket,
       CAST(CAST(1 AS BIGINT) << (LENGTH(bin(d)) - 1) AS BIGINT) AS lo_deg,
       CAST((CAST(1 AS BIGINT) << LENGTH(bin(d))) - 1 AS BIGINT) AS hi_deg,
       COUNT(*) AS n_nodes,
       CAST(SUM(d) AS BIGINT) AS sum_deg
FROM deg
GROUP BY 1
ORDER BY bucket
"""


@register(
    "g_degree_distribution",
    oracle=_DEGDIST_ORACLE,
    tags=("J10", "A1", "F3"),
)
def g_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-order graph in power-of-two
    buckets — the log-log histogram that reveals whether the basket
    graph is heavy-tailed (scale-free-ish) or homogeneous, which
    decides whether skew handling (salting, AQE skew join) matters for
    graph workloads on this data. Buckets by exact LENGTH(bin(d))
    (the `a_log2_histogram` rule — no float log). Degrees come from
    the shared fingerprinted degree artifact (`_pair_degrees`): this
    query needs ONLY degrees, so it scans |V| parquet rows instead of
    rebuilding the basket expansion + distinct + degree aggregation
    the triangle/rich-club/curve queries also need.
    """
    deg = _pair_degrees(spark, sf_dir)
    return (
        deg.groupBy(F.length(F.bin("d")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").cast("long").alias("sum_deg"),
        )
        .select(
            "bucket",
            F.expr("CAST(shiftleft(1L, bucket - 1) AS BIGINT)").alias("lo_deg"),
            F.expr("CAST(shiftleft(1L, bucket) - 1 AS BIGINT)").alias("hi_deg"),
            "n_nodes",
            "sum_deg",
        )
        .orderBy("bucket")
    )


_CLUSTERING_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs)
  GROUP BY node
),
oriented AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v) THEN p.u ELSE p.v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v) THEN p.v ELSE p.u END AS dst
  FROM pairs p JOIN deg du ON p.u = du.node JOIN deg dv ON p.v = dv.node
),
ek AS (
  SELECT o.src, o.dst, dd.d AS dd FROM oriented o JOIN deg dd ON o.dst = dd.node
),
owedges AS (
  SELECT x.dst AS b, y.dst AS c
  FROM ek x JOIN ek y ON x.src = y.src
  WHERE x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst)
),
tri AS (
  SELECT COUNT(*) AS n_triangles FROM owedges w
  JOIN oriented e ON w.b = e.src AND w.c = e.dst
),
wedge_total AS (
  SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT t.n_triangles, w.n_wedges,
       CAST(3 * t.n_triangles * 1000000 // w.n_wedges AS BIGINT)
         AS clustering_ppm
FROM tri t CROSS JOIN wedge_total w
"""


@register(
    "g_clustering_coefficient",
    oracle=_CLUSTERING_ORACLE,
    tags=("J10", "J1", "A2", "F3"),
)
def g_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient C = 3·triangles / open-wedges of
    the part co-order graph — how much more do baskets close triangles
    than a random graph would (transitivity), the single-number
    summary downstream of `g_triangle_count`. Reuses g_triangle_count's
    per-process oriented-edge/degree/adjacency artifacts verbatim
    (_triangle_artifacts), so the orderkey basket pass + orientation is
    paid once per process across both queries. The closing pass is the
    same bounded adjacency-set intersection (Σ|N+(u) ∩ N+(v)| over
    oriented edges — counts each triangle exactly once at its apex),
    replacing the r10 plan's materialized O(E^1.5) wedge-row self-join;
    the denominator is closed-form over the saved undirected degrees.
    Exact integers end-to-end; the coefficient in integer ppm.
    """
    ek, deg, adj = _triangle_artifacts(spark, sf_dir)
    tri = (
        ek.select("src", "dst")
        .join(adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu")),
              F.col("src") == F.col("u"))
        .join(adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv")),
              F.col("dst") == F.col("v"))
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("nu", "nv")).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_triangles")
        )
    )
    wedge_total = deg.agg(
        F.sum(F.expr("d * (d - 1) / 2")).cast("long").alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wedge_total)).select(
        "n_triangles",
        "n_wedges",
        F.expr(
            "CAST(3 * n_triangles * 1000000 DIV n_wedges AS BIGINT)"
        ).alias("clustering_ppm"),
    )


# ---------------------------------------------------------------------------
# Label propagation (two synchronous mode-update rounds, brand seeds)
# ---------------------------------------------------------------------------

_LP_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM pairs a JOIN pairs b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
seed AS (
  SELECT p_partkey AS node, p_brand AS label FROM part
  WHERE p_partkey IN (SELECT src FROM edges)
),
r1_votes AS (
  SELECT e.src AS node, s.label, COUNT(*) AS cnt
  FROM edges e JOIN seed s ON e.dst = s.node
  GROUP BY e.src, s.label
),
r1 AS (
  SELECT node, MIN({'nc': -cnt, 'l': label}).l AS label
  FROM r1_votes GROUP BY node
),
r2_votes AS (
  SELECT e.src AS node, l1.label, COUNT(*) AS cnt
  FROM edges e JOIN r1 l1 ON e.dst = l1.node
  GROUP BY e.src, l1.label
),
r2 AS (
  SELECT node, MIN({'nc': -cnt, 'l': label}).l AS label
  FROM r2_votes GROUP BY node
)
SELECT r2.label,
       COUNT(*) AS n_parts,
       CAST(SUM(CASE WHEN r2.label = seed.label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept_seed
FROM r2 JOIN seed ON r2.node = seed.node
GROUP BY r2.label
ORDER BY r2.label
"""


@register(
    "g_label_propagation",
    oracle=_LP_ORACLE,
    tags=("J10", "J1", "A1"),
)
def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation on the
    co-order part graph: seed each part with its brand, then for two
    rounds every node adopts the MOST FREQUENT label among its
    neighbors (tie → lexicographically smallest — the min-of-struct
    (-count, label) argmax trick, fully deterministic where textbook
    LPA is tie-random). Complements connected components (pure
    reachability) and modularity scoring (fixed partition): LPA is the
    *mode* dynamic, and two synchronized rounds are exactly
    SQL-expressible as stacked aggregates, so the oracle is a full
    value check rather than rows-only.

    Scale: each round is one groupBy(node, label) + one argmax
    groupBy(node) on the edge list — combinable aggregates on a
    shuffle keyed by node, no driver state, no recursion; rounds are
    data-independent stages, and deeper propagation would materialize
    per round exactly like operators.graph.connected_components."""
    # Symmetric distinct edges = both orientations of the shared pair
    # artifact (u < v strictly, so the union is already duplicate-free).
    pairs = _coorder_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("label")
    )
    seed = part.join(
        edges.select(F.col("src").alias("node")).distinct(), "node", "left_semi"
    )

    def lp_round(labels: DataFrame) -> DataFrame:
        votes = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return votes.groupBy("node").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("l")))
            .getField("l")
            .alias("label")
        )

    r2 = lp_round(lp_round(seed))
    return (
        r2.join(seed.withColumnRenamed("label", "seed_label"), "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(
                F.when(F.col("label") == F.col("seed_label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_kept_seed"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Community conductance of the brand partition (cut quality per community)
# ---------------------------------------------------------------------------

_CONDUCTANCE_ORACLE = """
WITH io AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM io a JOIN io b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
labeled AS (
  SELECT pairs.u, pairs.v, pu.p_brand AS bu, pv.p_brand AS bv
  FROM pairs
  JOIN part pu ON pairs.u = pu.p_partkey
  JOIN part pv ON pairs.v = pv.p_partkey
),
cut AS (
  SELECT brand, CAST(SUM(is_cut) AS BIGINT) AS cut_edges,
         CAST(COUNT(*) AS BIGINT) AS vol
  FROM (
    SELECT bu AS brand, CASE WHEN bu <> bv THEN 1 ELSE 0 END AS is_cut
    FROM labeled
    UNION ALL
    SELECT bv, CASE WHEN bu <> bv THEN 1 ELSE 0 END FROM labeled
  ) t
  GROUP BY brand
),
m AS (SELECT CAST(2 * COUNT(*) AS BIGINT) AS vol_total FROM labeled)
SELECT brand, cut_edges, vol,
       cut_edges * 1000000
         // CASE WHEN vol <= vol_total - vol THEN vol
                 ELSE vol_total - vol END AS conductance_ppm
FROM cut CROSS JOIN m
ORDER BY brand
"""


@register(
    "g_community_conductance",
    oracle=_CONDUCTANCE_ORACLE,
    tags=("J1", "J10", "A1", "O3"),
)
def g_community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance φ(S) = cut(S) / min(vol(S), vol(V∖S)) for every
    brand community on the part co-order graph — the cut-quality
    metric that complements modularity (`g_modularity_brand_partition`
    asks "denser than random inside?"; conductance asks "how leaky is
    the boundary?"). Low conductance communities are the ones worth
    sharding together at 100 TB: cross-shard traffic IS the cut.

    Determinism & scale — same bounded edge construction as the
    modularity query (orderkey self-join capped by lines-per-order);
    per-brand cut and volume are exact integer counts from ONE
    stacked-endpoint aggregation; conductance is positive integer ppm
    floor division. The 1-row total-volume broadcast closes the
    min(vol, complement) comparison without a second edge pass."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pairs = _coorder_pairs(spark, sf_dir)
    pu = part.select(F.col("p_partkey").alias("u"), F.col("p_brand").alias("bu"))
    pv = part.select(F.col("p_partkey").alias("v"), F.col("p_brand").alias("bv"))
    labeled = pairs.join(pu, "u").join(pv, "v")
    is_cut = F.when(F.col("bu") != F.col("bv"), 1).otherwise(0)
    stacked = labeled.select(F.col("bu").alias("brand"), is_cut.alias("is_cut")).unionAll(
        labeled.select(F.col("bv").alias("brand"), is_cut.alias("is_cut"))
    )
    cut = stacked.groupBy("brand").agg(
        F.sum("is_cut").cast("long").alias("cut_edges"),
        F.count(F.lit(1)).alias("vol"),
    )
    m = labeled.agg((2 * F.count(F.lit(1))).alias("vol_total"))
    return (
        cut.crossJoin(F.broadcast(m))
        .select(
            "brand",
            "cut_edges",
            "vol",
            F.expr(
                "cut_edges * 1000000 DIV CASE WHEN vol <= vol_total - vol"
                " THEN vol ELSE vol_total - vol END"
            ).alias("conductance_ppm"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Rich-club coefficient: do high-degree parts preferentially co-order?
# ---------------------------------------------------------------------------

_RICH_CLUB_ORACLE = """
WITH io AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM io a JOIN io b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
  GROUP BY node
),
ks AS (SELECT UNNEST([2, 4, 8]) AS k),
club AS (
  SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_k
  FROM deg d CROSS JOIN ks k
  WHERE d.d > k.k
  GROUP BY k.k
),
club_edges AS (
  SELECT k.k, CAST(COUNT(*) AS BIGINT) AS e_k
  FROM pairs p
  JOIN deg du ON p.u = du.node
  JOIN deg dv ON p.v = dv.node
  CROSS JOIN ks k
  WHERE du.d > k.k AND dv.d > k.k
  GROUP BY k.k
)
SELECT CAST(c.k AS BIGINT) AS degree_threshold,
       c.n_k AS n_club_nodes,
       COALESCE(e.e_k, 0) AS n_club_edges,
       CAST(COALESCE(e.e_k, 0) * 2000000
            // (c.n_k * (c.n_k - 1)) AS BIGINT) AS phi_ppm
FROM club c LEFT JOIN club_edges e ON c.k = e.k
WHERE c.n_k >= 2
ORDER BY degree_threshold
"""


@register(
    "g_rich_club_coefficient",
    oracle=_RICH_CLUB_ORACLE,
    tags=("J10", "J1", "A1", "J9"),
)
def g_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) of the part
    co-order graph at degree thresholds 2/4/8 — do popular parts
    preferentially appear in baskets WITH EACH OTHER (φ rising with k:
    an elite core, merchandising bundles work) or spread across the
    catalog (φ flat: hub-and-spoke)?

    Scale design: edges come from the bounded orderkey self-join
    (fan-out capped by lines-per-order, the whole graph family's
    posture); degrees are one combinable count; club membership is a
    broadcast of the 3-row threshold dim against the degree table, and
    club edges are two degree-table equi-joins back onto the edge list
    — no pair enumeration beyond the existing edges. φ is exact
    integer ppm (2·E_k·10⁶ DIV N_k(N_k−1))."""
    # Shared pair/degree artifacts (round 12): same rows as the inline
    # basket-expansion + distinct + degree-count this query carried.
    pairs = _coorder_pairs(spark, sf_dir)
    deg = _pair_degrees(spark, sf_dir)
    ks = spark.createDataFrame([(2,), (4,), (8,)], ["k"])
    club = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    club_edges = (
        pairs.join(du, "u")
        .join(dv, "v")
        .crossJoin(F.broadcast(ks))
        .filter((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e_k"))
    )
    return (
        club.join(club_edges, "k", "left")
        .filter(F.col("n_k") >= 2)
        .select(
            F.col("k").cast("long").alias("degree_threshold"),
            F.col("n_k").alias("n_club_nodes"),
            F.coalesce(F.col("e_k"), F.lit(0)).cast("long").alias(
                "n_club_edges"
            ),
            F.expr(
                "COALESCE(e_k, 0) * 2000000 DIV (n_k * (n_k - 1))"
            )
            .cast("long")
            .alias("phi_ppm"),
        )
        .orderBy("degree_threshold")
    )


# ---------------------------------------------------------------------------
# Average-neighbor-degree curve: assortativity as a function, not a number
# ---------------------------------------------------------------------------

_KNN_CURVE_ORACLE = """
WITH io AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM io a JOIN io b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
),
deg AS (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u
),
annotated AS (
  SELECT e.u, du.d AS d_u, dv.d AS d_v
  FROM edges e
  JOIN deg du ON e.u = du.node
  JOIN deg dv ON e.v = dv.node
)
SELECT CAST(LENGTH(BIN(d_u)) AS BIGINT) AS degree_band,
       CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes,
       CAST(COUNT(*) AS BIGINT) AS n_edge_ends,
       CAST(SUM(d_v) AS BIGINT) AS neighbor_degree_sum,
       ROUND(CAST(SUM(d_v) AS DOUBLE) / COUNT(*), 6)
         AS avg_neighbor_degree
FROM annotated
GROUP BY degree_band
ORDER BY degree_band
"""


@register(
    "g_avg_neighbor_degree_curve",
    oracle=_KNN_CURVE_ORACLE,
    tags=("J10", "J1", "A1", "F7"),
)
def g_avg_neighbor_degree_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The k_nn(k) curve: average neighbor degree per degree band of
    the part co-order graph — assortativity as a FUNCTION
    (`g_degree_assortativity` compresses this to one correlation; the
    curve shows WHERE mixing changes: a falling curve means hubs
    attach to leaves — disassortative, typical of catalogs — and any
    hump localizes the elite tier `g_rich_club_coefficient` scores).

    Scale design: the symmetric edge list is the bounded orderkey
    self-join doubled by a union (each end annotated once); two
    degree-table equi-joins put (d_u, d_v) on every edge end; the
    curve itself is one combinable rollup into LENGTH(BIN(d))
    power-of-two bands (the log2-histogram rule — exact, never float
    log)."""
    # Symmetric distinct edge list from the shared pair artifact (both
    # orientations of the u < v pairs — u != v always, so the union IS
    # the dropDuplicates'd symmetric expansion), degrees from the shared
    # degree artifact (d = distinct-neighbor count either way).
    pairs = _coorder_pairs(spark, sf_dir)
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = _pair_degrees(spark, sf_dir)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("d_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("d_v"))
    annotated = edges.join(du, "u").join(dv, "v")
    return (
        annotated.groupBy(
            F.expr("CAST(LENGTH(BIN(d_u)) AS BIGINT)").alias("degree_band")
        )
        .agg(
            F.countDistinct("u").cast("long").alias("n_nodes"),
            F.count(F.lit(1)).cast("long").alias("n_edge_ends"),
            F.sum("d_v").cast("long").alias("neighbor_degree_sum"),
            F.round(
                F.sum("d_v").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_neighbor_degree"),
        )
        .orderBy("degree_band")
    )


# ---------------------------------------------------------------------------
# Square (4-cycle) counting via wedge pairing
# ---------------------------------------------------------------------------

_SQUARE_ORACLE = """
WITH brand_parts AS (
  SELECT p_partkey FROM part WHERE p_brand IN ('Brand#12', 'Brand#23')
),
pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  JOIN brand_parts pu ON a.l_partkey = pu.p_partkey
  JOIN brand_parts pv ON b.l_partkey = pv.p_partkey
  WHERE a.l_partkey < b.l_partkey
),
adj AS (
  SELECT u AS node, v AS nbr FROM pairs
  UNION ALL
  SELECT v AS node, u AS nbr FROM pairs
),
wedges AS (
  SELECT x.nbr AS a, y.nbr AS c
  FROM adj x JOIN adj y ON x.node = y.node
  WHERE x.nbr < y.nbr
),
diag AS (
  SELECT a, c, COUNT(*) AS w FROM wedges GROUP BY a, c
)
SELECT
  CAST(SUM(w * (w - 1) / 2) / 2 AS BIGINT) AS n_squares,
  CAST(COUNT(*) AS BIGINT) AS n_diagonal_pairs,
  CAST(MAX(w) AS BIGINT) AS max_common_neighbors
FROM diag
WHERE w >= 2
"""


@register(
    "g_square_count",
    oracle=_SQUARE_ORACLE,
    tags=("J10", "J1", "A2", "A1"),
)
def g_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-cycle (square/rectangle) count on the part co-order
    graph — the bipartite-ish motif behind co-purchase "customers who
    bought X and Y also bought Z and W" structure, and the densest
    motif countable by pure wedge algebra: #C4 = (1/2) * sum over
    diagonal pairs (a, c) of C(common_neighbors, 2), since every
    4-cycle is seen once from each of its two diagonals. Counted on the
    two-brand category subgraph — the analyst's actual question
    ("co-purchase rectangles within a category"), and the form that
    scales.

    Scale notes: the wedge fan-out is sum_b C(deg_b, 2), and unlike
    `g_triangle_count` no edge orientation can avoid it — a square's
    diagonal is NOT an edge, so the count must route through both
    middles. The subgraph restriction (broadcast semi-join of the edge
    list against the category's part keys BEFORE any wedge is built)
    is what bounds the fan; the unrestricted-graph refinement is
    vertex-priority butterfly counting, whose relational core —
    equi-join on the middle, combinable (a, c) rollup, closed-form
    C(w, 2) — is identical to this plan. Integer arithmetic end to
    end."""
    from pyspark.sql.functions import broadcast

    brand_parts = broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#12", "Brand#23"))
        .select("p_partkey")
    )
    all_pairs = _coorder_pairs(spark, sf_dir)
    pairs = (
        all_pairs.join(
            brand_parts, all_pairs.u == brand_parts.p_partkey
        )
        .drop("p_partkey")
        .join(
            broadcast(
                load_table(spark, sf_dir, "part")
                .filter(F.col("p_brand").isin("Brand#12", "Brand#23"))
                .select(F.col("p_partkey").alias("pv"))
            ),
            F.col("v") == F.col("pv"),
        )
        .select("u", "v")
    )
    adj = pairs.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        pairs.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    x = adj.select(F.col("node"), F.col("nbr").alias("a"))
    y = adj.select(F.col("node"), F.col("nbr").alias("c"))
    wedges = x.join(y, "node").filter(F.col("a") < F.col("c")).select("a", "c")
    diag = wedges.groupBy("a", "c").agg(F.count(F.lit(1)).alias("w")).filter(
        F.col("w") >= 2
    )
    return diag.agg(
        (F.sum(F.col("w") * (F.col("w") - 1) / 2) / 2)
        .cast("bigint")
        .alias("n_squares"),
        F.count(F.lit(1)).cast("bigint").alias("n_diagonal_pairs"),
        F.max("w").cast("bigint").alias("max_common_neighbors"),
    )
