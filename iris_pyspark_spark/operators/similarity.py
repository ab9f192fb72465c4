"""Vector similarity operators (SURVEY.md §2.10 N3/N4): cosine / dot /
L2 over `array<float>` embedding columns, plus top-k and IVF pruning.

All Spark arithmetic is unrolled codegen: `dim` double-cast products
(or squared differences) summed left to right in ONE parsed `F.expr`
over named columns — compiled into whole-stage codegen, no UDF and no
array higher-order function (those evaluate interpreted, ~100× slower).
The sum associates left, so the doubles are bit-deterministic, and the
DuckDB oracle states the identical sum with its own builders
(`*_unrolled_sql`, 1-based indexing). The two spellings are kept
separate on purpose: a shared generator would let one bug pass both
the engine and its reference.

Scale design:
  * brute-force top-k = broadcast the (small) query set against the
    corpus → map-side only, then a per-query top-k window;
  * all-pairs self-similarity is quadratic by nature — the scale path
    is IVF (cluster pruning, `ivf_assign`) or MinHash-LSH (dedup.py),
    both of which turn it into an equi-join on a bucket key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window


def _bq(name: str) -> str:
    """Backtick-quote each dot-part of a (possibly alias-qualified)
    column name for splicing into Spark SQL: `a.emb` -> `` `a`.`emb` ``.
    Embedded backticks are doubled, so every name — a keyword (`order`),
    a literal (`true`), one with a space or a backtick — parses as a
    column reference, never as SQL."""
    return ".".join("`" + part.replace("`", "``") + "`" for part in name.split("."))


def _dot_sql(a: str, b: str, dim: int) -> str:
    a, b = _bq(a), _bq(b)
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(dim)
    )


def dot_unrolled(a: str, b: str, dim: int) -> Column:
    """Σ aᵢ·bᵢ over the array columns named `a` and `b`, unrolled to a
    flat left-associated sum of `dim` double products.

    The sum is one `F.expr` parse (~3 ms at dim=64); building the same
    4·dim-node tree Column by Column costs ~4·dim Py4J round trips
    (~1.3 s of driver time at dim=64)."""
    return F.expr(_dot_sql(a, b, dim))


def cosine_unrolled(a: str, b: str, dim: int, norm_a: str, norm_b: str) -> Column:
    """dot/(norm_a*norm_b) with the unrolled dot; the norms are columns
    precomputed per vector (once per row, not once per pair)."""
    return F.expr(f"({_dot_sql(a, b, dim)}) / ({_bq(norm_a)} * {_bq(norm_b)})")


def l2_sq_unrolled(a: str, b: str, dim: int) -> Column:
    """Σ (aᵢ-bᵢ)² unrolled, in one `F.expr` like dot_unrolled."""
    a, b = _bq(a), _bq(b)
    return F.expr(
        " + ".join(
            f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
            f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
            for i in range(dim)
        )
    )


def l2_sq_literal_spark_sql(a: str, point, dim: int) -> str:
    """Spark-SQL spelling of Σ (a[i] - point[i])² against a CONSTANT
    vector — the shape iterative selection loops need (k-center,
    k-means++ seeding), where the comparison point is a collected row,
    not a column. One parse replaces dim F.lit Column round-trips per
    point (the Py4J call chatter, not the job, dominated the k-center
    rounds). Literals are spelled `repr(x)D`: repr round-trips the
    double exactly and Spark's D-suffix literal parses via
    Double.parseDouble, so the bits match F.lit(x) for every value
    (verified over subnormals, -0.0, max-double, exponent forms)."""
    a = _bq(a)
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - {float(point[i])!r}D)"
        f" * (CAST({a}[{i}] AS DOUBLE) - {float(point[i])!r}D)"
        for i in range(dim)
    )


def dot_unrolled_sql(a: str, b: str, dim: int) -> str:
    """DuckDB spelling of dot_unrolled — same left-to-right adds (SQL `+`
    parses left-associative), so values match bit-exactly. 1-based
    list indexing."""
    return " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )


def norm_unrolled_sql(a: str, dim: int) -> str:
    return f"SQRT({dot_unrolled_sql(a, a, dim)})"


def l2_sq_unrolled_sql(a: str, b: str, dim: int) -> str:
    return " + ".join(
        f"(CAST({a}[{i + 1}] AS DOUBLE) - CAST({b}[{i + 1}] AS DOUBLE))"
        f" * (CAST({a}[{i + 1}] AS DOUBLE) - CAST({b}[{i + 1}] AS DOUBLE))"
        for i in range(dim)
    )


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
    k: int,
    dim: int,
    round_sim_digits: int | None = None,
) -> DataFrame:
    """Exact cosine top-k corpus neighbors per query vector: every
    (query, corpus) pair with `q_id != c_id`, `sim` = the unrolled dot
    over the per-row norms, ranked by `sim` descending then `c_id`, and
    `rnk <= k` kept. Returns the corpus and query columns plus `sim` and
    `rnk`.

    The query side is broadcast (it is the small side by construction),
    so the corpus is scanned exactly once, map-side, at any scale; the
    only shuffle is the per-query top-k window over |Q|·|C| candidate
    rows. `round_sim_digits` rounds the similarity BEFORE ranking —
    callers that need cross-engine-identical neighbor order (an oracle
    comparison, a reproducible labeling job) use it so a libm ulp can
    never flip two near-equal neighbors."""
    queries = queries.withColumn("__qn", F.sqrt(dot_unrolled(q_vec, q_vec, dim)))
    corpus = corpus.withColumn("__cn", F.sqrt(dot_unrolled(c_vec, c_vec, dim)))
    sim = cosine_unrolled(q_vec, c_vec, dim, "__qn", "__cn")
    if round_sim_digits is not None:
        sim = F.round(sim, round_sim_digits)
    pairs = corpus.crossJoin(broadcast(queries)).filter(F.col(q_id) != F.col(c_id))
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id).asc())
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("__qn", "__cn")
    )


def cosine_topk_blockwise(
    corpus: DataFrame,
    queries_pdf,
    c_id: str,
    c_vec: str,
    k: int,
    dim: int,
    out_query_col: str = "vec_id",
    out_neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Brute-force cosine top-k, the shape that survives 100 TB:

      * the QUERY matrix (small by contract) ships to every executor in
        the UDF closure — a broadcast, no shuffle;
      * the CORPUS streams through `mapInPandas` partition by partition —
        each Arrow batch computes an (|Q| × |batch|) similarity block
        with numpy and emits only its local top-k per query;
      * a final window over |Q|·k·num_partitions candidate rows picks the
        global top-k — the only shuffle, and it is tiny.

    Nothing quadratic is ever materialized or shuffled.

    Bit-exactness: the block accumulates `acc += Q[:,i]·C[:,i]` one
    dimension at a time, so every pair's dot is the left fold
    (((0+t0)+t1)+…) in float64 — identical bits to the SQL oracle's
    left-associated sum and to Catalyst's fold. numpy sqrt/divide are
    IEEE correctly-rounded, matching both engines.

    `queries_pdf` is a pandas DataFrame with columns (id, vec) — collect
    the (small) query side with `.toPandas()` before calling.
    """
    import numpy as np
    import pandas as pd

    q_ids = queries_pdf.iloc[:, 0].to_numpy()
    q_mat = np.vstack(queries_pdf.iloc[:, 1].to_numpy()).astype(np.float64)
    m = q_mat.shape[0]
    q_norm = np.zeros(m)
    for i in range(dim):
        q_norm += q_mat[:, i] * q_mat[:, i]
    q_norm = np.sqrt(q_norm)

    # Inner query blocking (round 11): the dim-at-a-time loop allocates
    # an (queries × batch) float64 temporary per dimension; with the
    # whole slab as one block that working set scales with slab size
    # (65536-query slab × 250-row batch = 131 MB per dimension — pure
    # memory-bandwidth burn). Chunking the query side keeps every
    # temporary ~1 MB (cache-resident) at ANY slab size, so slab sizing
    # can be chosen for driver round-trip count alone. Per-pair float
    # ops and their order are untouched — results are bit-identical.
    _q_chunk = 512

    def block_topk(batches):
        for pdf in batches:
            c_ids = pdf[c_id].to_numpy()
            c_mat = np.vstack(pdf[c_vec].to_numpy()).astype(np.float64)
            n = c_mat.shape[0]
            c_norm = np.zeros(n)
            for i in range(dim):
                c_norm += c_mat[:, i] * c_mat[:, i]
            c_nrm = np.sqrt(c_norm)
            kk = min(k, n)
            chunks = []
            for s in range(0, m, _q_chunk):
                qm = q_mat[s : s + _q_chunk]
                qi = q_ids[s : s + _q_chunk]
                qn = q_norm[s : s + _q_chunk]
                mm = qm.shape[0]
                acc = np.zeros((mm, n))
                for i in range(dim):  # dimension-at-a-time: left-fold order per pair
                    acc += qm[:, i : i + 1] * c_mat[None, :, i]
                sim = acc / (qn[:, None] * c_nrm[None, :])
                self_mask = qi[:, None] == c_ids[None, :]
                sim_masked = np.where(self_mask, -np.inf, sim)
                # local top-k per query: sim DESC, neighbor id ASC on ties
                order = np.lexsort(
                    (c_ids[None, :].repeat(mm, 0), -sim_masked), axis=1
                )[:, :kk]
                chunks.append(
                    pd.DataFrame(
                        {
                            out_query_col: np.repeat(qi, kk),
                            out_neighbor_col: c_ids[order].ravel(),
                            "sim": np.take_along_axis(sim_masked, order, axis=1).ravel(),
                        }
                    )
                )
            if not chunks:
                continue
            out = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            yield out[out["sim"] != -np.inf]

    schema = T.StructType(
        [
            T.StructField(out_query_col, T.LongType()),
            T.StructField(out_neighbor_col, T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    candidates = corpus.select(c_id, c_vec).mapInPandas(block_topk, schema)
    w = Window.partitionBy(out_query_col).orderBy(
        F.col("sim").desc(), F.col(out_neighbor_col).asc()
    )
    return (
        candidates.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


#: Persisted-corpus handles from prior cosine_topk_selfsim calls, released
#: lazily on the next invocation (the result frame is lazy, so release
#: cannot happen inside the producing call).
_SELFSIM_CACHE_HANDLES: list[DataFrame] = []


def _release_prior_selfsim_cache() -> None:
    while _SELFSIM_CACHE_HANDLES:
        handle = _SELFSIM_CACHE_HANDLES.pop()
        try:
            handle.unpersist(blocking=False)
        except Exception:
            pass  # session torn down — nothing to release


class SelfSimScaleGuard(RuntimeError):
    """Raised when cosine_topk_selfsim would round-trip more than
    `max_driver_rows` vectors through the driver in total. The slab loop
    bounds driver PEAK memory to one slab, but total traffic is still
    the whole corpus — past the guard, exact all-pairs through a single
    driver is the wrong tool by construction; use the bucketed paths
    (`ivf_assign` + cell-local search, or PQ+ADC two-stage) instead."""


def cosine_topk_selfsim(
    corpus: DataFrame,
    c_id: str,
    c_vec: str,
    k: int,
    dim: int,
    slab_rows: int = 65536,
    out_query_col: str = "vec_id",
    out_neighbor_col: str = "neighbor_id",
    max_driver_rows: int = 4_194_304,
) -> DataFrame:
    """All-pairs (self-similarity) cosine top-k with BOUNDED driver memory.

    When queries = corpus, collecting the query side whole would funnel
    the entire table through the driver — the one thing that cannot
    survive 100 TB. Instead the query side is sharded into slabs of at
    most `slab_rows` vectors (id mod n_slabs, so no ordering pass is
    needed): each iteration collects ONE slab (≤ slab_rows × dim doubles,
    a few MB), runs the blockwise broadcast-queries × streamed-corpus
    kernel, and the union over slabs is the exact all-pairs top-k —
    slabs partition the query set, and every slab still sees the full
    corpus, so per-query results are identical to the unsharded run.

    Cost model: driver peak = one slab. The projected corpus is persisted
    (memory, spilling to disk) before the loop, so every slab collect
    and every blockwise pass reads cached columnar blocks instead of
    re-reading the source n_slabs times — the re-scan it saves is
    exactly the term that grows with n_slabs, and at huge n the cache
    spills rather than OOMs. Partition count is sized by WORK, not
    blindly by core count: ~256 corpus rows per task keeps each task's
    numpy block (slab_rows × 256 × dim) an order of magnitude above the
    per-task Arrow/Python round-trip cost, so a small corpus becomes a
    few fat tasks instead of parallelism-many slivers of pure overhead
    (measured 2.3× faster at 2k vectors), while any corpus past
    256·parallelism rows still fans out to every core. For genuinely
    huge n, prefer the IVF path (`ivf_assign` + cell-local search) —
    this operator is the exact baseline, and it ENFORCES that division
    of labor: TOTAL driver traffic is the whole corpus (one slab at a
    time), so past `max_driver_rows` it raises SelfSimScaleGuard
    instead of silently becoming a driver funnel.
    """
    from pyspark import StorageLevel

    # Release the PREVIOUS invocation's cached corpus before pinning a
    # new one: the returned frame is lazy, so the persist can't be
    # dropped inside this call — but without this handoff every
    # invocation (bench + multi-slab tests) would leak one cached RDD
    # into the shared session for its lifetime. Unpersisting a prior
    # handle is always safe: a still-live result plan just recomputes.
    _release_prior_selfsim_cache()
    parts = corpus.sparkSession.sparkContext.defaultParallelism
    n = corpus.count()  # zero-column scan: metadata-cheap on parquet
    if n > max_driver_rows:
        raise SelfSimScaleGuard(
            f"cosine_topk_selfsim: corpus has {n:,} vectors; total driver "
            f"traffic would exceed the {max_driver_rows:,}-row guard. This "
            "operator is the EXACT all-pairs baseline — past this scale use "
            "ivf_assign + cell-local search or the PQ+ADC two-stage path."
        )
    n_slabs = max(1, -(-n // slab_rows))
    target_parts = int(max(1, min(parts, -(-n // 256))))
    body = (
        corpus.select(c_id, c_vec)
        .repartition(target_parts)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _SELFSIM_CACHE_HANDLES.append(body)
    outs = []
    for s in range(n_slabs):
        slab_pdf = body.filter(F.col(c_id) % n_slabs == s).toPandas()
        if len(slab_pdf) == 0:
            continue
        outs.append(
            cosine_topk_blockwise(
                body,
                slab_pdf,
                c_id=c_id,
                c_vec=c_vec,
                k=k,
                dim=dim,
                out_query_col=out_query_col,
                out_neighbor_col=out_neighbor_col,
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    v_id: str,
    c_id: str,
    v_vec: str,
    c_vec: str,
    dim: int,
) -> DataFrame:
    """IVF cell assignment: nearest centroid per vector (L2, ties by
    centroid id). Centroids broadcast; one map-side pass over vectors."""
    w = Window.partitionBy(v_id).orderBy(F.col("dist_sq").asc(), F.col(c_id).asc())
    return (
        vectors.crossJoin(broadcast(centroids))
        .withColumn("dist_sq", l2_sq_unrolled(v_vec, c_vec, dim))
        .withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") == 1)
        .drop("__rnk", c_vec)
    )


def pq_codes(
    corpus: DataFrame,
    codebook: DataFrame,
    c_id: str,
    c_vec: str,
    cb_code: str = "code",
    cb_vec: str = "cemb",
    n_subs: int = 8,
    sub_dim: int = 8,
) -> DataFrame:
    """Product-quantization assignment: (id, sub, code, d2) — the
    nearest codeword per `sub_dim`-wide subspace for every corpus
    vector, with the squared subvector L2 it achieved.

    Scale shape: the codebook (k rows) and the subspace index (n_subs
    rows) broadcast, so assignment is a map-side nested loop of
    corpus × n_subs × k with the subvector distance unrolled into
    codegen arithmetic (element_at with computed 1-based indices — no
    array lambdas); the only shuffle is the per-(vector, subspace)
    argmin window. Ties break toward the lowest code id, so the
    assignment is deterministic under any partitioning."""
    spark = corpus.sparkSession
    subs = spark.range(n_subs).select(F.col("id").cast("int").alias("sub"))
    total = None
    for i in range(1, sub_dim + 1):
        idx = F.col("sub") * sub_dim + i
        diff = F.element_at(c_vec, idx).cast("double") - F.element_at(
            cb_vec, idx
        ).cast("double")
        term = diff * diff
        total = term if total is None else total + term
    dists = (
        corpus.crossJoin(broadcast(subs))
        .crossJoin(broadcast(codebook))
        .select(c_id, "sub", cb_code, total.alias("d2"))
    )
    w = Window.partitionBy(c_id, "sub").orderBy(
        F.col("d2").asc(), F.col(cb_code).asc()
    )
    return (
        dists.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .drop("rnk")
    )
