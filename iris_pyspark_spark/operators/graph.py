"""Graph operators for dedup clustering (SURVEY.md §2.11): connected
components over a near-dup pair list — the step that turns pairwise
"A duplicates B" edges into canonical cluster ids so a curation
pipeline can keep exactly one representative per group.

Iterative min-label propagation WITH POINTER JUMPING, expressed in
DataFrames:

  * labels start as each vertex's own id;
  * each round, every vertex takes the min label among itself and its
    neighbors (one equi-join on the symmetrized edge list + one
    groupBy-min), then JUMPS: it adopts its current label's own label
    (a self-join of the label table). The jump halves the distance to
    the component minimum every round, so convergence needs
    O(log diameter) rounds instead of O(diameter) — on a chain-shaped
    dedup cluster of depth d that is the difference between 4 shuffle
    rounds and d of them, which is what makes the operator usable when
    clusters are long transitive chains at corpus scale;
  * converged when no label changes; the fixed point (min vertex id per
    component) is unique, so the result is deterministic under any
    partitioning, join order, or round count.

Each round's label table is materialized to parquet to break lineage,
the same artifact discipline as the MinHash signature table (unbounded
lineage chains are what kill iterative DataFrame jobs on real
clusters); the convergence count reuses the materialized round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _materialize(df: DataFrame, path: str) -> DataFrame:
    """Write `df` to parquet at `path` and read it back with `df`'s own
    schema: the lineage is cut, and the read launches no schema-inference
    job (each write is a new file version, so a memo of inferred schemas
    would never hit)."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    scratch_path: str,
    max_iter: int = 20,
) -> DataFrame:
    """(vertex, component) for every vertex in `edges`; component = min
    vertex id in the connected component. Isolated vertices don't appear
    in an edge list, so callers union them back if needed."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])
    sym = _materialize(sym, f"{scratch_path}/edges")

    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
    )
    for it in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.min("lbl").alias("nbr_lbl"))
            .withColumnRenamed("dst", "id")
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.col("lbl").alias("old"),
            F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias("mid"),
        )
        # Pointer jump: adopt the label's own label. Every label value
        # is a vertex id (labels only move down toward the component's
        # min vertex), so the self-join always finds a match; coalesce
        # guards the invariant rather than relying on it.
        jump = stepped.select(F.col("id").alias("mid"), F.col("mid").alias("jlbl"))
        new_lbl = F.least(F.col("mid"), F.coalesce("jlbl", F.col("mid")))
        new_labels = stepped.join(jump, "mid", "left").select(
            "id",
            new_lbl.alias("lbl"),
            (new_lbl < F.col("old")).alias("__changed"),
        )
        # Materialize the round: breaks lineage AND lets the convergence
        # count reuse the same computed result the next join consumes.
        new_labels = _materialize(new_labels, f"{scratch_path}/iter{it % 2}")
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("lbl").alias("component"))


def pagerank_integer(
    edges: DataFrame,
    src: str,
    dst: str,
    scratch_path: str,
    iters: int = 6,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT INTEGER micro-units — the
    iterative-ranking operator, engineered so the result is
    bit-identical under any partitioning or join order (a plain
    double-based PageRank is not: float sums reorder across layouts).

    rank_micro starts at 1_000_000 per vertex. Each round every vertex
    sends floor(rank_micro / out_degree) along each out-edge (long
    division — deterministic, the sub-micro remainder is deliberately
    dropped mass), and absorbs as

        rank' = (100 - damping_pct)/100 * 1e6
              + damping_pct * floor(sum(incoming) / 100)

    All arithmetic is long; groupBy-SUM of longs is exact and
    commutative, so partition layout cannot change a single bit.
    Consequences used as self-validation invariants downstream:
    ranks are bounded below by the teleport term, and total mass never
    exceeds n_vertices * 1e6 (floors only ever drop mass).

    Scale: each round is one equi-join (ranks x out-degree-annotated
    edges, shuffled on vertex id) + one map-side-combinable SUM —
    the canonical distributed PageRank round. Every round materializes
    to parquet to break lineage (same discipline as
    connected_components above); dangling vertices (no out-edges)
    simply stop forwarding mass, i.e. their contribution is dropped
    rather than redistributed, which keeps the round free of a global
    broadcast and preserves the mass upper-bound invariant."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates(
        ["src", "dst"]
    )
    # Annotate each edge with its source's out-degree ONCE, before the
    # loop — the degree never changes across rounds, so materializing
    # (src, dst, out_deg) saves one join per iteration (6 joins at the
    # default depth) and every round becomes join + combinable SUM.
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # The degree-annotated edge table is read once per round; cache it
    # for the loop (MEMORY_AND_DISK degrades gracefully when the edge
    # table outgrows executor memory at real scale) and release before
    # returning so repeated invocations don't accumulate cached RDDs.
    e = _materialize(e.join(out_deg, "src"), f"{scratch_path}/pr_edges").persist()

    # Vertices are referenced once per round (the teleport-side outer
    # join); materialize the distinct ONCE or every round re-runs a
    # distinct over the full edge table.
    vertices = _materialize(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct(),
        f"{scratch_path}/pr_vertices",
    )
    teleport_micro = (100 - damping_pct) * 10_000  # (1-d) * 1e6

    ranks = vertices.withColumn("rank_micro", F.lit(1_000_000).cast("long"))
    for it in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                # `div` = exact long floor-division; a double `/` +
                # cast could round across an integer boundary at 1-ulp
                # error and break bit-exactness under repartitioning.
                F.expr("rank_micro div out_deg").alias("c"),
            )
        )
        incoming = contrib.groupBy("id").agg(F.sum("c").alias("in_micro"))
        ranks = vertices.join(incoming, "id", "left").select(
            "id",
            (
                F.lit(teleport_micro)
                + F.expr(f"(coalesce(in_micro, 0L) * {damping_pct}) div 100")
            ).cast("long").alias("rank_micro"),
        )
        ranks = _materialize(ranks, f"{scratch_path}/pr_iter{it % 2}")
    e.unpersist()
    return ranks


def kcore(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int,
    scratch_path: str,
    max_iter: int = 30,
) -> DataFrame:
    """(id, core_deg) for every vertex in the k-core: the maximal
    subgraph in which every vertex has degree >= k, found by iterative
    peeling — drop all vertices with current degree < k, recompute
    degrees on the induced subgraph, repeat to fixpoint.

    Determinism: the k-core of a graph is UNIQUE (the fixpoint does not
    depend on peel order), and every step is integer counting — the
    result is bit-identical under any partitioning.

    Scale: each round is one combinable degree count plus two semi
    joins of the edge list against the surviving vertex set; rounds are
    bounded by the peel depth (the degeneracy ordering's layer count),
    not by |V|. Per-round state goes to parquet to break lineage (the
    same iterative-DataFrame discipline as connected_components /
    pagerank_integer); the loop exits early when no vertex is dropped,
    checked with the per-round count that the materialization already
    paid for.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])
    cur = _materialize(sym, f"{scratch_path}/kc_edges")

    n_prev = cur.count()
    for it in range(max_iter):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("src")
        pruned = cur.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )
        cur = _materialize(pruned, f"{scratch_path}/kc_iter{it % 2}")
        n_cur = cur.count()
        if n_cur == n_prev:
            break
        n_prev = n_cur
    return cur.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("core_deg")
    )
