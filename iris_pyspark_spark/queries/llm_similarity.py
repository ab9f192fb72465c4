"""Similarity-search queries over `embeddings` (SURVEY.md §2.10 N3/N4).

Three tiers:
  * all-pairs cosine top-k (baseline; quadratic by nature),
  * brute-force kNN for a small query set (broadcast → map-side scan),
  * IVF kNN (centroid pruning — the scale path: candidate generation
    becomes an equi-join on the cell id).

Arithmetic is the UNROLLED flat expression (operators/similarity.py):
array higher-order lambdas evaluate interpreted in Spark, ~100× slower
than the same math compiled by whole-stage codegen. The DuckDB oracle
states the identical left-associated sum, so doubles match bit-exactly;
norms are precomputed once per vector on both engines (same value, just
cached — dot/(norm_a*norm_b) is the same expression tree either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.similarity import (
    cosine_topk_selfsim,
    cosine_unrolled,
    dot_unrolled,
    dot_unrolled_sql,
    ivf_assign,
    knn_bruteforce,
    l2_sq_literal_spark_sql,
    l2_sq_unrolled,
    l2_sq_unrolled_sql,
    norm_unrolled_sql,
)
from ..registry import register

#: Embedding width of the `embeddings` table (TESTDATA.md, measured).
DIM = 64

_COS_AB = (
    "(" + dot_unrolled_sql("a.embedding", "b.embedding", DIM) + ") / (a.nrm * b.nrm)"
)
_NORMED = f"""
  SELECT vec_id, embedding, {norm_unrolled_sql("embedding", DIM)} AS nrm
  FROM embeddings
"""


def _probe_knn(
    spark: SparkSession, sf_dir: str, probe_mod: int, k: int
) -> DataFrame:
    """Exact cosine top-k (knn_bruteforce) over `embeddings` for the
    probes `vec_id % probe_mod == 0`, as (q_id, q_label, q_emb) ×
    (vec_id, label, embedding) rows with `sim` and `rnk`: the labelled
    retrieval the evaluation queries score."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    probes = e.filter(F.col("vec_id") % probe_mod == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    return knn_bruteforce(
        probes, e,
        q_id="q_id", c_id="vec_id", q_vec="q_emb", c_vec="embedding",
        k=k, dim=DIM,
    )


@register(
    "n_cosine_topk",
    oracle=f"""
WITH v AS ({_NORMED}),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         {_COS_AB} AS sim
  FROM v a, v b
  WHERE a.vec_id <> b.vec_id
)
SELECT vec_id, neighbor_id, sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM pairs
) t WHERE rnk <= 3
""",
    tags=("N3", "W4"),
    headline=True,
)
def n_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine, top-3 neighbors per vector — sharded blockwise
    self-similarity (operators/similarity.py: cosine_topk_selfsim).
    The query side is collected in bounded slabs (the operator's 65536
    default ≈ 32 MB at dim 64), never the whole corpus; each slab
    broadcasts against the streamed corpus and only local top-k rows
    shuffle. Nothing quadratic is materialized and driver memory is
    constant in corpus size. (Round 11: the former slab_rows=1000
    override shrank each driver round-trip to 0.5 MB — two slabs and
    double the job count at sf0.1 for no memory benefit at any scale;
    slab partitioning is proven separately by the operator's
    multi-slab invariance tests.)"""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = cosine_topk_selfsim(
        e,
        c_id="vec_id", c_vec="embedding", k=3, dim=DIM,
        out_query_col="q_id", out_neighbor_col="neighbor_id",
    )
    return out.select(
        F.col("q_id").alias("vec_id"), "neighbor_id", "sim", "rnk"
    )


@register(
    "n_knn_bruteforce",
    oracle=f"""
WITH v AS ({_NORMED}),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_COS_AB} AS sim
  FROM v a, v b
  WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM pairs
) t WHERE rnk <= 5
""",
    tags=("N4",),
)
def n_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 nearest neighbors for a 10-vector query set: queries are
    broadcast, the corpus is scanned once map-side."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding"))
    out = knn_bruteforce(
        queries, corpus,
        q_id="query_id", c_id="neighbor_id", q_vec="q_emb", c_vec="embedding",
        k=5, dim=DIM,
    )
    return out.select("query_id", "neighbor_id", "sim", F.col("rnk"))


def _materialized_ivf_assignment(
    spark: SparkSession, sf_dir: str, assigned: DataFrame
) -> DataFrame:
    """Write the IVF assignment to its scratch artifact unless a
    CURRENT one is already there (input fingerprint: the embeddings
    parquet + the mod-50 centroid scheme — a regenerated sf_dir or a
    changed scheme rebuilds instead of serving stale cells); return the
    parquet-backed frame either way."""
    from ..sources import materialize

    ivf_path = materialize(
        sf_dir,
        "ivf_assignment",
        lambda path: assigned.write.mode("overwrite").parquet(path),
        tables=("embeddings",),
        params="ivf-centroids-mod50",
    )
    return spark.read.parquet(ivf_path)


@register(
    "n_ivf_knn",
    oracle=f"""
WITH centroids AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id % 50 = 0
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT v.vec_id, v.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {l2_sq_unrolled_sql("v.embedding", "c.cemb", DIM)} ASC, c.cid ASC) AS rnk
    FROM embeddings v, centroids c
  ) t WHERE rnk = 1
),
normed AS (
  SELECT vec_id, embedding, cid, {norm_unrolled_sql("embedding", DIM)} AS nrm
  FROM assigned
),
pairs AS (
  SELECT a.vec_id AS query_id, a.cid AS cell_id, b.vec_id AS neighbor_id,
         {_COS_AB} AS sim
  FROM normed a JOIN normed b
    ON a.cid = b.cid AND a.vec_id <> b.vec_id
  WHERE a.vec_id < 10
)
SELECT query_id, cell_id, neighbor_id, sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM pairs
) t WHERE rnk <= 3
""",
    tags=("N4", "N3"),
)
def n_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned kNN: assign every vector to its nearest centroid
    (deterministic 'training': every 50th vector is a centroid), then
    search only within the query's cell — candidate generation is an
    equi-join on cell id instead of a cross join."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    assigned = ivf_assign(
        e, centroids, v_id="vec_id", c_id="cid", v_vec="embedding", c_vec="cemb",
        dim=DIM,
    )
    # The assignment is consumed by BOTH join sides; materialize it once
    # as a parquet artifact (the IVF index IS an artifact at scale)
    # instead of re-running the centroid scan per consumer. Served as-is
    # when it already exists: the index is a pure function of the
    # deterministic corpus, and a production index is maintained, not
    # rebuilt per query (n_ivf_recall_eval reads the same artifact).
    assigned = _materialized_ivf_assignment(spark, sf_dir, assigned)
    normed = assigned.withColumn(
        "nrm", F.sqrt(dot_unrolled("embedding", "embedding", DIM))
    )

    a = normed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("cid").alias("cell_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("nrm_a"),
    )
    b = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cid").alias("cell_id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    pairs = a.join(
        b,
        (F.col("cell_id") == F.col("cell_id_b"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn(
            "sim",
            cosine_unrolled("q_emb", "emb_b", DIM, "nrm_a", "nrm_b"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "cell_id", "neighbor_id", "sim", "rnk")
    )


_QUANT_ORACLE = """
WITH v AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
rng AS (
  SELECT vec_id, emb,
         LIST_REDUCE(emb, (a, b) -> LEAST(a, b))    AS mn,
         LIST_REDUCE(emb, (a, b) -> GREATEST(a, b)) AS mx
  FROM v
),
scaled AS (
  SELECT vec_id, emb, mn, mx, (mx - mn) / 255.0 AS scale FROM rng
),
coded AS (
  SELECT vec_id, mn, mx,
         LIST_TRANSFORM(emb, x -> FLOOR((x - mn) / scale + 0.5)) AS codes,
         LIST_TRANSFORM(emb, x -> ABS(x - (mn + FLOOR((x - mn) / scale + 0.5) * scale))) AS errs
  FROM scaled
)
SELECT vec_id, mn, mx,
       CAST(LIST_REDUCE(codes, (a, b) -> GREATEST(a, b)) AS INT) AS max_code,
       CAST(LIST_REDUCE(codes, (a, b) -> LEAST(a, b)) AS INT)    AS min_code,
       CAST(ROUND(LIST_REDUCE(errs, (a, b) -> a + b) * 1000000) AS BIGINT) AS sum_abs_err_micro
FROM coded
"""


@register("n_embedding_quantize", oracle=_QUANT_ORACLE, tags=("N3", "N4", "F4"))
def n_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization — the compression step of a
    quantized ANN index (4x smaller than float32, distance computable on
    codes): code = floor((x - min)/scale + 0.5) with scale = range/255,
    plus the reconstruction-error accounting a pipeline needs to pick a
    quantization level. floor(x + 0.5) is used instead of round() so
    both engines break ties identically; error sums are left folds
    stated identically in the oracle. Map-only — fuses into the scan."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb = F.transform("embedding", lambda x: x.cast("double"))
    v = e.select("vec_id", emb.alias("emb"))
    rng = v.select(
        "vec_id",
        "emb",
        F.array_min("emb").alias("mn"),
        F.array_max("emb").alias("mx"),
    )
    scaled = rng.withColumn("scale", (F.col("mx") - F.col("mn")) / 255.0)
    code = lambda x: F.floor((x - F.col("mn")) / F.col("scale") + 0.5)  # noqa: E731
    coded = scaled.select(
        "vec_id",
        "mn",
        "mx",
        F.transform("emb", code).alias("codes"),
        F.transform(
            "emb",
            lambda x: F.abs(x - (F.col("mn") + code(x) * F.col("scale"))),
        ).alias("errs"),
    )
    return coded.select(
        "vec_id",
        "mn",
        "mx",
        F.array_max("codes").cast("int").alias("max_code"),
        F.array_min("codes").cast("int").alias("min_code"),
        F.round(
            F.aggregate("errs", F.lit(0.0), lambda a, b: a + b) * 1_000_000
        )
        .cast("long")
        .alias("sum_abs_err_micro"),
    )


# --- kNN majority-vote classification ---------------------------------------

_KNN_CLASSIFY_ORACLE = f"""
WITH probes AS (
  SELECT vec_id, embedding, {norm_unrolled_sql("embedding", DIM)} AS nrm, label
  FROM embeddings WHERE vec_id % 97 = 0
),
corpus AS (
  SELECT vec_id, embedding, {norm_unrolled_sql("embedding", DIM)} AS nrm, label
  FROM embeddings WHERE vec_id % 97 <> 0
),
topk AS (
  SELECT query_id, n_label FROM (
    SELECT a.vec_id AS query_id, b.label AS n_label,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY ROUND({_COS_AB}, 9) DESC, b.vec_id ASC) AS rnk
    FROM probes a, corpus b
  ) t WHERE rnk <= 5
),
votes AS (
  SELECT query_id, n_label, COUNT(*) AS n_votes
  FROM topk GROUP BY query_id, n_label
)
SELECT v.query_id, p.label AS true_label, v.n_label AS pred_label, v.n_votes
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY n_votes DESC, n_label ASC) AS vr
  FROM votes
) v JOIN probes p ON p.vec_id = v.query_id
WHERE v.vr = 1
"""


@register("n_knn_classify", oracle=_KNN_CLASSIFY_ORACLE, tags=("N4", "N7"))
def n_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification (k=5): probe vectors
    (vec_id % 97 = 0) are labeled by their corpus neighbors — the
    embedding-space label-propagation primitive (weak labeling, QA of a
    trained classifier, semi-supervised bootstrapping). The probe side
    is bounded and broadcast; the corpus is scanned once map-side, so
    cost is O(|corpus| x |probes|) with no shuffle of the corpus. Vote
    argmax ties break (count DESC, label ASC); neighbor ranking uses
    cosine ROUNDED to 9 digits then neighbor id, identical in the
    oracle. Labels are synthetic noise (TESTDATA), which is irrelevant:
    the contract is that both engines derive the same votes."""
    from ..operators.similarity import knn_bruteforce

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
    )
    corpus = (
        e.filter(F.col("vec_id") % 97 != 0)
        # Single-file scan arrives as one partition; fan out before the
        # per-pair math or the whole probe sweep runs in one task.
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("vec_id").alias("neighbor_id"), "embedding",
            F.col("label").alias("n_label"),
        )
    )
    topk = knn_bruteforce(
        probes, corpus,
        q_id="query_id", c_id="neighbor_id", q_vec="q_emb", c_vec="embedding",
        k=5, dim=DIM, round_sim_digits=9,
    )
    votes = topk.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("n_label").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", F.col("n_label").alias("pred_label"), "n_votes")
    )


# --- IVF recall evaluation vs exact baseline --------------------------------

_IVF_RECALL_ORACLE = f"""
WITH v AS ({_NORMED}),
exact_pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND({_COS_AB}, 9) AS sim
  FROM v a, v b
  WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
),
exact_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
    FROM exact_pairs
  ) t WHERE rnk <= 5
),
centroids AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id % 50 = 0
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT v.vec_id, v.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {l2_sq_unrolled_sql("v.embedding", "c.cemb", DIM)} ASC, c.cid ASC) AS rnk
    FROM embeddings v, centroids c
  ) t WHERE rnk = 1
),
anormed AS (
  SELECT vec_id, embedding, cid, {norm_unrolled_sql("embedding", DIM)} AS nrm
  FROM assigned
),
ivf_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY ROUND({_COS_AB}, 9) DESC, b.vec_id ASC) AS rnk
    FROM anormed a JOIN anormed b
      ON a.cid = b.cid AND a.vec_id <> b.vec_id
    WHERE a.vec_id < 10
  ) t WHERE rnk <= 5
)
SELECT e.query_id,
       COUNT(*)                                   AS n_exact,
       COUNT(i.neighbor_id)                       AS n_overlap,
       ROUND(COUNT(i.neighbor_id) / 5.0, 6)       AS recall_at_5
FROM exact_topk e
LEFT JOIN ivf_topk i
  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
GROUP BY e.query_id
"""


@register("n_ivf_recall_eval", oracle=_IVF_RECALL_ORACLE, tags=("N4", "N3"))
def n_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement IN the engine: recall@5 of the IVF
    cell-restricted search against the exact brute-force baseline, per
    probe. This is the evaluation loop an embedding-store deployment
    runs to pick nprobe/cell counts — here with the deterministic
    centroid fixture (vec_id % 50), both paths ranked on 9-digit
    rounded cosine with id tie-breaks so the comparison itself is
    engine-exact. Cost: the probe set is bounded; the exact side is a
    broadcast sweep, the IVF side an equi-join on the cell id."""
    from ..operators.similarity import knn_bruteforce

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = e.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    exact = knn_bruteforce(
        probes, corpus,
        q_id="query_id", c_id="neighbor_id", q_vec="q_emb", c_vec="embedding",
        k=5, dim=DIM, round_sim_digits=9,
    ).select("query_id", "neighbor_id")

    centroids = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    assigned = ivf_assign(
        e.select("vec_id", "embedding"), centroids,
        v_id="vec_id", c_id="cid", v_vec="embedding", c_vec="cemb", dim=DIM,
    )
    # Same index artifact n_ivf_knn maintains: the assignment feeds both
    # sides of the cell join below, and recomputing the 64-dim centroid
    # argmin per consumer doubles the heaviest codegen in the query.
    assigned = _materialized_ivf_assignment(spark, sf_dir, assigned)
    normed = assigned.select(
        "vec_id",
        "embedding",
        "cid",
        F.sqrt(dot_unrolled("embedding", "embedding", DIM)).alias("nrm"),
    )
    a = normed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"), "cid",
    )
    b = normed.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"), F.col("cid").alias("cid_b"),
    )
    sim = F.round(
        cosine_unrolled("q_emb", "c_emb", DIM, "q_nrm", "c_nrm"),
        9,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    ivf = (
        a.join(
            b,
            (F.col("cid") == F.col("cid_b"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", F.col("neighbor_id").alias("ivf_neighbor"))
    )
    return (
        exact.join(
            ivf,
            (exact.query_id == ivf.query_id)
            & (exact.neighbor_id == F.col("ivf_neighbor")),
            "left",
        )
        .drop(ivf.query_id)
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count(F.col("ivf_neighbor")).alias("n_overlap"),
            F.round(F.count(F.col("ivf_neighbor")) / 5.0, 6).alias("recall_at_5"),
        )
    )


def _pq_codebook(e: DataFrame) -> DataFrame:
    """The deterministic 16-codeword fixture: first 16 vectors with
    vec_id%32==0, coded 0..15 in vec_id order (16 rows — the global
    row_number window is trivial)."""
    w16 = Window.partitionBy(F.lit(1)).orderBy("vec_id")
    return (
        e.filter(F.col("vec_id") % 32 == 0)
        .orderBy("vec_id")
        .limit(16)
        .select(
            (F.row_number().over(w16) - 1).cast("int").alias("code"),
            F.col("embedding").alias("cemb"),
        )
    )


def _pq_d2_sql(sub: str, va: str, vb: str) -> str:
    """8-term unrolled squared L2 between the `sub`-th 8-dim subvectors
    of two 1-indexed float arrays — identical operation order on both
    engines ((a-b)*(a-b), left-fold sum)."""
    terms = [
        f"(CAST({va}[{sub}*8+{i}] AS DOUBLE) - CAST({vb}[{sub}*8+{i}] AS DOUBLE))"
        f" * (CAST({va}[{sub}*8+{i}] AS DOUBLE) - CAST({vb}[{sub}*8+{i}] AS DOUBLE))"
        for i in range(1, 9)
    ]
    return "(" + " + ".join(terms) + ")"


_PQ_ORACLE = f"""
WITH cb AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
         embedding AS cemb
  FROM embeddings WHERE vec_id % 32 = 0 ORDER BY vec_id LIMIT 16
),
subs AS (SELECT CAST(UNNEST(RANGE(0, 8)) AS INT) AS sub),
dists AS (
  SELECT e.vec_id, s.sub, c.code,
         {_pq_d2_sql("s.sub", "e.embedding", "c.cemb")} AS d2
  FROM embeddings e CROSS JOIN subs s CROSS JOIN cb c
),
best AS (
  SELECT vec_id, sub, code, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                            ORDER BY d2 ASC, code ASC) AS rnk
  FROM dists
)
SELECT vec_id,
       ARRAY_TO_STRING(LIST(code ORDER BY sub), ',') AS codes,
       CAST(SUM(CAST(ROUND(d2 * 1000000) AS BIGINT)) AS BIGINT) AS err_micro
FROM best WHERE rnk = 1
GROUP BY vec_id
"""


@register("n_pq_quantize", oracle=_PQ_ORACLE, tags=("N3", "N4", "F4"))
def n_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: every 64-dim vector compresses to 8 one-byte
    codes (one per 8-dim subspace, nearest of 16 codewords) plus its
    total squared reconstruction error — the memory layout ANN systems
    use to keep billion-vector indexes in RAM (64 floats -> 8 bytes,
    32x). The codebook is the deterministic fixture (first 16 vectors
    with vec_id%32==0), standing in for per-subspace KMeans exactly as
    n_ivf_knn's modulo centroids stand in for trained cells.

    Scale shape: the codebook (16 rows) broadcasts; assignment is a
    map-side broadcast nested-loop over vectors x 8 subspaces x 16
    codes with the subvector L2 unrolled into codegen arithmetic
    (element_at with computed 1-based indices, no array lambdas in the
    hot path — operators/similarity.pq_codes); the only shuffle is the
    per-(vector, subspace) argmin window. Errors sum as integer
    micro-units — order-free."""
    from ..operators.similarity import pq_codes

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = _pq_codebook(e)
    best = pq_codes(e, cb, c_id="vec_id", c_vec="embedding")
    # codes joins to a CSV string: checked output must be scalar-only
    # (driver canonicalizer contract).
    return best.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub", "code"))).getField(
                    "code"
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("codes"),
        F.sum(F.round(F.col("d2") * 1000000).cast("long"))
        .cast("long")
        .alias("err_micro"),
    )


_ADC_ORACLE = f"""
WITH cb AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
         embedding AS cemb
  FROM embeddings WHERE vec_id % 32 = 0 ORDER BY vec_id LIMIT 16
),
subs AS (SELECT CAST(UNNEST(RANGE(0, 8)) AS INT) AS sub),
dists AS (
  SELECT e.vec_id, s.sub, c.code,
         {_pq_d2_sql("s.sub", "e.embedding", "c.cemb")} AS d2
  FROM embeddings e CROSS JOIN subs s CROSS JOIN cb c
),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, code ASC) AS rnk
    FROM dists
  ) WHERE rnk = 1
),
adc AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         CAST(SUM(CAST(ROUND(
           {_pq_d2_sql("v.sub", "q.embedding", "c.cemb")} * 1000000
         ) AS BIGINT)) AS BIGINT) AS adc_micro
  FROM embeddings q
  CROSS JOIN codes v
  JOIN cb c ON c.code = v.code
  WHERE q.vec_id < 10 AND v.vec_id <> q.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_micro, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_micro ASC, neighbor_id ASC) AS rnk
  FROM adc
) WHERE rnk <= 5
"""


@register("n_pq_adc_search", oracle=_ADC_ORACLE, tags=("N4", "N3"))
def n_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation over the PQ index: full-precision
    probes score every corpus vector through its 8 one-byte codes only
    (distance probe-subvector -> assigned codeword, summed across
    subspaces) — the query path that makes PQ indexes useful: the
    corpus never needs its floats again. Per-subspace terms round to
    integer micro-units before the sum, so the aggregate is order-free
    and the top-5 ranking deterministic (ties by neighbor id).

    Scale shape: codes are the materializable artifact (here rebuilt
    inline from the deterministic codebook); probes and the 16-row
    codebook broadcast; scoring is map-side; the one shuffle is the
    per-(probe, vector) sum + the tiny top-k window."""
    from pyspark.sql.functions import broadcast as _bc

    from ..operators.similarity import pq_codes

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = _pq_codebook(e)
    codes = pq_codes(e, cb, c_id="vec_id", c_vec="embedding").select(
        "vec_id", "sub", "code"
    )
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    adc_term = None
    for i in range(1, 9):
        idx = F.col("sub") * 8 + i
        diff = F.element_at("q_emb", idx).cast("double") - F.element_at(
            "cemb", idx
        ).cast("double")
        term = diff * diff
        adc_term = term if adc_term is None else adc_term + term
    scored = (
        codes.join(_bc(cb), "code")
        .crossJoin(_bc(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(adc_term * 1000000).cast("long").alias("term_micro"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("term_micro").cast("long").alias("adc_micro"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "adc_micro", "rnk")
    )


@register("n_pq_rerank_refine", oracle=None, tags=("N4", "N3"))
def n_pq_rerank_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN — the production PQ query path: a cheap ADC pass
    over the 1-byte codes prunes the corpus to 50 candidates per
    probe, then ONLY those candidates are joined back to their exact
    float vectors for full-precision re-ranking (top-5). At 100 TB the
    refine join touches 50 rows per probe instead of the corpus — the
    coarse pass is the only full scan, and it reads codes, not floats.

    Rows-only by design (PQ codes are not SQL-expressible). `recall5`
    against the exact brute-force top-5 (broadcast probes x one corpus
    map-scan, integer-micro distances) is REPORTED, not asserted, the
    same contract as n_ivf_recall_eval: the driver's synthetic
    embeddings are uniform random, the adversarial case for coarse
    quantization (distance concentration — a 16-codeword ADC carries
    almost no ranking signal at 10k+ vectors), so a recall floor would
    pin a property of the fixture, not of the operator. The provable
    invariant rides as order_ok — exact distances non-decreasing down
    each probe's re-ranked list.
    """
    from pyspark.sql.functions import broadcast as _bc

    from ..operators.similarity import l2_sq_unrolled, pq_codes

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = _pq_codebook(e)
    codes = pq_codes(e, cb, c_id="vec_id", c_vec="embedding").select(
        "vec_id", "sub", "code"
    )
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )

    # Stage 1: ADC coarse scores from codes only (same integer-micro
    # term construction as n_pq_adc_search).
    adc_term = None
    for i in range(1, 9):
        idx = F.col("sub") * 8 + i
        diff = F.element_at("q_emb", idx).cast("double") - F.element_at(
            "cemb", idx
        ).cast("double")
        term = diff * diff
        adc_term = term if adc_term is None else adc_term + term
    coarse = (
        codes.join(_bc(cb), "code")
        .crossJoin(_bc(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(adc_term * 1000000).cast("long").alias("term_micro"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("term_micro").cast("long").alias("adc_micro"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    candidates = (
        coarse.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= 50)
        .select("query_id", "neighbor_id")
    )

    # Stage 2: exact re-rank of the 50 candidates per probe.
    exact_micro = F.round(
        l2_sq_unrolled("q_emb", "embedding", 64) * 1000000
    ).cast("long")
    refined = (
        candidates.join(e, candidates.neighbor_id == e.vec_id)
        .join(_bc(probes), "query_id")
        .select("query_id", "neighbor_id", exact_micro.alias("exact_micro"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("exact_micro").asc(), F.col("neighbor_id").asc()
    )
    top = refined.withColumn("rnk", F.row_number().over(wr)).filter(
        F.col("rnk") <= 5
    )

    # Exact brute-force top-5 for the recall invariant.
    brute = (
        e.crossJoin(_bc(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            exact_micro.alias("exact_micro"),
        )
        .withColumn("brnk", F.row_number().over(wr))
        .filter(F.col("brnk") <= 5)
        .select("query_id", "neighbor_id", F.lit(True).alias("in_exact_top5"))
    )
    recall = (
        top.join(brute, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg((F.sum(F.coalesce(F.col("in_exact_top5").cast("int"), F.lit(0))) / 5.0).alias("recall5"))
    )
    prev = F.lag("exact_micro").over(wr)
    return (
        top.join(recall, "query_id")
        .select(
            "query_id",
            "rnk",
            "neighbor_id",
            "exact_micro",
            F.round(F.col("recall5"), 2).alias("recall5"),
            (F.coalesce(prev, F.lit(0)) <= F.col("exact_micro")).alias("order_ok"),
        )
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Matryoshka-style prefix-dimension coarse search + full-dim re-rank
# ---------------------------------------------------------------------------

_MRL_DIM = 16
_MRL_COARSE_K = 50
_MRL_FINAL_K = 5

_MRL_ORACLE = f"""
WITH normed AS (
  SELECT vec_id, embedding,
         {norm_unrolled_sql("embedding", _MRL_DIM)} AS nrm16,
         {norm_unrolled_sql("embedding", DIM)} AS nrm64
  FROM embeddings
),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb, nrm16 AS q_nrm16,
         nrm64 AS q_nrm64
  FROM normed WHERE vec_id % 101 = 0
),
coarse AS (
  SELECT p.q_id, c.vec_id, c.embedding AS c_emb, c.nrm64, p.q_emb, p.q_nrm64,
         ({dot_unrolled_sql("p.q_emb", "c.embedding", _MRL_DIM)})
           / (p.q_nrm16 * c.nrm16) AS cos16,
         ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
           ({dot_unrolled_sql("p.q_emb", "c.embedding", _MRL_DIM)})
             / (p.q_nrm16 * c.nrm16) DESC, c.vec_id) AS crk
  FROM probes p JOIN normed c ON p.q_id <> c.vec_id
),
refined AS (
  SELECT q_id, vec_id, cos16,
         ({dot_unrolled_sql("q_emb", "c_emb", DIM)}) / (q_nrm64 * nrm64)
           AS cos64,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
           ({dot_unrolled_sql("q_emb", "c_emb", DIM)}) / (q_nrm64 * nrm64)
             DESC, vec_id) AS rk
  FROM coarse WHERE crk <= {_MRL_COARSE_K}
)
SELECT q_id, vec_id, rk,
       ROUND(cos16, 6) AS cos16, ROUND(cos64, 6) AS cos64
FROM refined WHERE rk <= {_MRL_FINAL_K}
ORDER BY q_id, rk
"""


@register(
    "n_mrl_prefix_rerank",
    oracle=_MRL_ORACLE,
    tags=("N3", "N4", "W4", "J9"),
)
def n_mrl_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation search: coarse-rank the corpus with
    only the FIRST 16 dimensions (MRL-trained embeddings front-load
    information, so a prefix is a valid low-cost embedding), keep 50
    candidates per query, then re-rank exactly on all 64 — the
    dimension-truncation member of this engine's ANN family
    (`n_ivf_knn` prunes by cell, `n_pq_adc_search` by quantization,
    this by prefix width: 4× less arithmetic and memory traffic in the
    scan stage).

    Fully SQL-oracled (unlike the PQ re-rank, which is rows-only):
    both stages are the bit-exact unrolled left-fold dot products used
    across the similarity family, ties broken on vec_id. Scale: the
    bounded probe set broadcasts against one corpus scan; the refine
    stage touches only probes×50 rows — the coarse window, not the
    corpus, absorbs the candidate cut.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    normed = e.withColumn(
        "nrm64", F.sqrt(dot_unrolled("embedding", "embedding", DIM))
    )
    probes = normed.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm64").alias("q_nrm64"),
    )
    # The coarse stage is exact top-k on the 16-dim prefix.
    coarse = knn_bruteforce(
        probes, normed,
        q_id="q_id", c_id="vec_id", q_vec="q_emb", c_vec="embedding",
        k=_MRL_COARSE_K, dim=_MRL_DIM,
    ).withColumnRenamed("sim", "cos16")
    cos64 = cosine_unrolled("q_emb", "embedding", DIM, "q_nrm64", "nrm64")
    refined = coarse.withColumn("cos64", cos64).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("cos64").desc(), "vec_id")
        ),
    )
    return (
        refined.filter(F.col("rk") <= _MRL_FINAL_K)
        .select(
            "q_id",
            "vec_id",
            "rk",
            F.round("cos16", 6).alias("cos16"),
            F.round("cos64", 6).alias("cos64"),
        )
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# NDCG@5 retrieval-quality evaluation of exact cosine kNN
# ---------------------------------------------------------------------------

#: 1/log2(i+1) gain weights for ranks 1..5, pre-rounded to integer micro
#: so DCG sums are exact integers (log2 evaluated once HERE, never at
#: query time on either engine).
_NDCG_W = (1000000, 630930, 500000, 430677, 386853)
#: Ideal DCG for n relevant items among 5 slots = prefix sums of _NDCG_W.
_NDCG_IDEAL = (0, 1000000, 1630930, 2130930, 2561607, 2948460)

_NDCG_ORACLE = f"""
WITH normed AS (
  SELECT vec_id, label, embedding,
         {norm_unrolled_sql("embedding", DIM)} AS nrm
  FROM embeddings
),
probes AS (
  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb, nrm AS q_nrm
  FROM normed WHERE vec_id % 101 = 0
),
ranked AS (
  SELECT p.q_id, p.q_label, c.label AS c_label,
         ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
           ({dot_unrolled_sql("p.q_emb", "c.embedding", DIM)})
             / (p.q_nrm * c.nrm) DESC, c.vec_id) AS rk
  FROM probes p JOIN normed c ON p.q_id <> c.vec_id
),
top5 AS (
  SELECT q_id,
         CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS rel,
         [{", ".join(str(w) for w in _NDCG_W)}][rk] AS w_micro
  FROM ranked WHERE rk <= 5
),
scored AS (
  SELECT q_id,
         CAST(SUM(rel) AS BIGINT) AS n_rel,
         CAST(SUM(rel * w_micro) AS BIGINT) AS dcg_micro
  FROM top5 GROUP BY q_id
)
SELECT q_id, n_rel, dcg_micro,
       [{", ".join(str(v) for v in _NDCG_IDEAL)}][n_rel + 1] AS idcg_micro,
       CASE WHEN n_rel = 0 THEN 0
            ELSE CAST(dcg_micro * 1000000
                 // [{", ".join(str(v) for v in _NDCG_IDEAL)}][n_rel + 1]
                 AS BIGINT) END AS ndcg_ppm
FROM scored
ORDER BY q_id
"""


@register(
    "n_ndcg_retrieval_eval",
    oracle=_NDCG_ORACLE,
    tags=("N3", "N4", "W4", "A1"),
)
def n_ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 evaluation of exact cosine retrieval, with class labels
    as binary relevance (a neighbor is 'relevant' if it shares the
    query's label) — the retrieval-quality harness that turns this
    engine's ANN family from "returns neighbors" into "returns
    MEASURABLY good neighbors" (run it against the IVF/PQ/MRL variants
    to quantify their recall-quality trade-offs; `n_ivf_recall_eval`
    measures overlap-recall, this measures rank-weighted quality).

    Determinism: the 1/log2(rank+1) gains and the ideal-DCG ladder are
    PRE-ROUNDED integer-micro literals baked into both query texts —
    no transcendental function runs at query time — so DCG/IDCG/NDCG
    are exact integer arithmetic; candidate ranking uses the bit-exact
    unrolled dot products with vec_id tie-breaks.

    Scale: bounded probe broadcast × one corpus scan
    (knn_bruteforce); scoring windows over ≤5 rows per probe.
    """
    ranked = _probe_knn(spark, sf_dir, 101, k=5)
    w_arr = F.array(*[F.lit(w).cast("long") for w in _NDCG_W])
    ideal_arr = F.array(*[F.lit(v).cast("long") for v in _NDCG_IDEAL])
    top5 = ranked.select(
        "q_id",
        F.when(F.col("label") == F.col("q_label"), 1).otherwise(0).alias("rel"),
        F.element_at(w_arr, F.col("rnk").cast("int")).alias("w_micro"),
    )
    scored = top5.groupBy("q_id").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.sum(F.col("rel") * F.col("w_micro")).cast("long").alias("dcg_micro"),
    )
    idcg = F.element_at(ideal_arr, (F.col("n_rel") + 1).cast("int"))
    return (
        scored.withColumn("idcg_micro", idcg)
        .select(
            "q_id",
            "n_rel",
            "dcg_micro",
            "idcg_micro",
            F.when(F.col("n_rel") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("CAST(dcg_micro * 1000000 DIV idcg_micro AS BIGINT)")
            )
            .alias("ndcg_ppm"),
        )
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# Class-balanced downsampling (equal examples per label)
# ---------------------------------------------------------------------------

_BALANCE_ORACLE = """
WITH sizes AS (
  SELECT label, COUNT(*) AS n_orig FROM embeddings GROUP BY label
),
floor_n AS (SELECT MIN(n_orig) AS n_keep FROM sizes),
ranked AS (
  SELECT label, vec_id,
         ROW_NUMBER() OVER (PARTITION BY label
           ORDER BY (vec_id * 2654435761) % 2147483647, vec_id) AS rk
  FROM embeddings
),
kept AS (
  SELECT r.label, r.vec_id
  FROM ranked r CROSS JOIN floor_n f
  WHERE r.rk <= f.n_keep
)
SELECT s.label, s.n_orig,
       COUNT(k.vec_id) AS n_kept,
       CAST(SUM(k.vec_id) AS BIGINT) AS kept_id_checksum,
       COUNT(k.vec_id) = (SELECT n_keep FROM floor_n) AS balanced_ok
FROM sizes s JOIN kept k ON s.label = k.label
GROUP BY s.label, s.n_orig
ORDER BY s.label
"""


@register(
    "n_class_balanced_downsample",
    oracle=_BALANCE_ORACLE,
    tags=("N7", "W1", "A1", "P2"),
)
def n_class_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    min-class-size examples, chosen by a deterministic
    multiplicative-hash order (NOT rand() — reruns and engines agree;
    NOT "first N by id" — id order correlates with collection time and
    would bias the sample). The standard prep for classifier training
    on skewed labels; `balanced_ok` pins the equal-size contract and
    the id checksum pins WHICH rows were kept, not just how many.

    Scale: one combinable size rollup, a 1-row floor broadcast, and a
    rank window PARTITIONED BY label (parallel across classes). The
    selection survives re-partitioning because the hash order is a
    pure row function.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sizes = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_orig"))
    floor_n = sizes.agg(F.min("n_orig").alias("n_keep"))
    w = Window.partitionBy("label").orderBy(
        (F.col("vec_id") * 2654435761) % 2147483647, "vec_id"
    )
    ranked = e.select(
        "label", "vec_id", F.row_number().over(w).alias("rk")
    )
    kept = ranked.crossJoin(F.broadcast(floor_n)).filter(
        F.col("rk") <= F.col("n_keep")
    )
    return (
        kept.groupBy("label", "n_keep")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("vec_id").cast("long").alias("kept_id_checksum"),
        )
        .join(F.broadcast(sizes), "label")
        .select(
            "label",
            "n_orig",
            "n_kept",
            "kept_id_checksum",
            (F.col("n_kept") == F.col("n_keep")).alias("balanced_ok"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Embedding drift detection via Population Stability Index
# ---------------------------------------------------------------------------

_PSI_ORACLE = """
WITH vals AS (
  SELECT vec_id, vec_id % 2 = 0 AS is_ref,
         CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
           AS v_micro
  FROM embeddings
),
bounds AS (
  SELECT MIN(v_micro) AS lo, MAX(v_micro) AS hi FROM vals WHERE is_ref
),
binned AS (
  SELECT is_ref,
         LEAST(GREATEST(CAST((10 * (v.v_micro - b.lo))
                             // (b.hi - b.lo + 1) AS BIGINT), 0), 9) AS bin
  FROM vals v CROSS JOIN bounds b
),
cells AS (
  SELECT bin,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS c_cur
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         CAST(SUM(c_cur) AS BIGINT) AS n_cur
  FROM cells
)
SELECT c.bin, c.c_ref, c.c_cur,
       CAST(ROUND(((c.c_ref + 1) / CAST(t.n_ref + 10 AS DOUBLE)
                   - (c.c_cur + 1) / CAST(t.n_cur + 10 AS DOUBLE))
                  * LN(((c.c_ref + 1) / CAST(t.n_ref + 10 AS DOUBLE))
                       / ((c.c_cur + 1) / CAST(t.n_cur + 10 AS DOUBLE)))
                  * 1000000) AS BIGINT) AS psi_contrib_micro
FROM cells c CROSS JOIN tot t
ORDER BY c.bin
"""


@register(
    "n_embedding_drift_psi",
    oracle=_PSI_ORACLE,
    tags=("N3", "A1", "F3", "P6"),
)
def n_embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift detection by Population Stability Index over
    the first embedding dimension: the corpus splits into a reference
    and a current cohort (vec_id parity — in production, last week vs
    this week), values bin into 10 equi-width cells over the REFERENCE
    range, and each cell contributes (p−q)·ln(p/q) — PSI > 0.2 total
    is the standard "the embedding distribution moved, retrain/re-
    index" alarm for ANN indexes and downstream classifiers. Laplace
    smoothing (+1/+10) keeps empty cells finite.

    Determinism: values quantize to integer micro BEFORE binning
    (float32 → exact ×1e6 rounding), bin indices are positive-only
    integer floor-division, and each cell's PSI term rounds to integer
    micro-nats at the leaf — the total is an exact integer sum.
    Scale: one combinable 10-cell histogram per cohort after a 1-row
    bounds broadcast — the same mergeable-histogram shape as
    `a_quantile_histogram_sketch`.
    """
    e = load_table(spark, sf_dir, "embeddings")
    vals = e.select(
        (F.col("vec_id") % 2 == 0).alias("is_ref"),
        F.round(F.element_at("embedding", 1).cast("double") * 1000000)
        .cast("long")
        .alias("v_micro"),
    )
    bounds = vals.filter("is_ref").agg(
        F.min("v_micro").alias("lo"), F.max("v_micro").alias("hi")
    )
    binned = vals.crossJoin(F.broadcast(bounds)).select(
        "is_ref",
        F.least(
            F.greatest(
                F.expr("CAST((10 * (v_micro - lo)) DIV (hi - lo + 1) AS BIGINT)"),
                F.lit(0).cast("long"),
            ),
            F.lit(9).cast("long"),
        ).alias("bin"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
        .cast("long")
        .alias("c_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1))
        .cast("long")
        .alias("c_cur"),
    )
    tot = cells.agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_cur").cast("long").alias("n_cur"),
    )
    p = (F.col("c_ref") + 1) / (F.col("n_ref") + 10).cast("double")
    q = (F.col("c_cur") + 1) / (F.col("n_cur") + 10).cast("double")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "c_ref",
            "c_cur",
            F.round((p - q) * F.log(p / q) * 1000000)
            .cast("long")
            .alias("psi_contrib_micro"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = f"""
WITH normed AS (
  SELECT vec_id, label, embedding,
         {norm_unrolled_sql("embedding", DIM)} AS nrm
  FROM embeddings
),
anchors AS (
  SELECT vec_id AS a_id, label AS a_label, embedding AS a_emb, nrm AS a_nrm
  FROM normed WHERE vec_id % 101 = 0
),
ranked AS (
  SELECT a.a_id, a.a_label, c.vec_id, c.label,
         ROUND(({dot_unrolled_sql("a.a_emb", "c.embedding", DIM)})
               / (a.a_nrm * c.nrm), 6) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY a.a_id ORDER BY
           ({dot_unrolled_sql("a.a_emb", "c.embedding", DIM)})
             / (a.a_nrm * c.nrm) DESC, c.vec_id) AS rk
  FROM anchors a JOIN normed c
    ON c.vec_id <> a.a_id AND c.label <> a.a_label
)
SELECT a_id, a_label, vec_id AS hard_negative,
       label AS neg_label, cos_sim,
       a_label <> label AS label_differs_ok
FROM ranked WHERE rk = 1
ORDER BY a_id
"""


@register(
    "n_hard_negative_mining",
    oracle=_HARDNEG_ORACLE,
    tags=("N3", "N4", "N7", "W4"),
)
def n_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each anchor, the single most
    cosine-similar vector with a DIFFERENT label — the contrastive-
    training data op (triplet/InfoNCE batches built from random
    negatives barely train; hard negatives near the decision boundary
    carry the gradient). `label_differs_ok` pins the defining
    constraint on every emitted pair.

    Scale: the label-mismatch predicate is applied INSIDE the probe ⋈
    corpus join (before ranking), so each anchor ranks only
    wrong-label candidates; bounded anchor set broadcast against one
    corpus scan, bit-exact unrolled dots, vec_id tie-break — the
    knn_bruteforce posture with an inequality predicate fused in.
    """
    e = load_table(spark, sf_dir, "embeddings")
    normed = e.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot_unrolled("embedding", "embedding", DIM)).alias(
            "nrm"
        ),
    )
    anchors = normed.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    cos = cosine_unrolled("a_emb", "embedding", DIM, "a_nrm", "nrm")
    ranked = (
        F.broadcast(anchors)
        .join(
            normed,
            (F.col("vec_id") != F.col("a_id"))
            & (F.col("label") != F.col("a_label")),
        )
        .withColumn("cos_sim", F.round(cos, 6))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("a_id").orderBy(cos.desc(), "vec_id")
            ),
        )
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "a_id",
            "a_label",
            F.col("vec_id").alias("hard_negative"),
            F.col("label").alias("neg_label"),
            "cos_sim",
            (F.col("a_label") != F.col("label")).alias("label_differs_ok"),
        )
        .orderBy("a_id")
    )


# ---------------------------------------------------------------------------
# Uncertainty sampling (active learning: lowest kNN vote margin)
# ---------------------------------------------------------------------------

_UNCERTAINTY_ORACLE = f"""
WITH normed AS (
  SELECT vec_id, label, embedding,
         {norm_unrolled_sql("embedding", DIM)} AS nrm
  FROM embeddings
),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
  FROM normed WHERE vec_id % 61 = 0
),
neigh AS (
  SELECT p.q_id, c.label,
         ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
           ({dot_unrolled_sql("p.q_emb", "c.embedding", DIM)})
             / (p.q_nrm * c.nrm) DESC, c.vec_id) AS rk
  FROM probes p JOIN normed c ON p.q_id <> c.vec_id
),
votes AS (
  SELECT q_id, label, COUNT(*) AS v
  FROM neigh WHERE rk <= 9 GROUP BY q_id, label
),
vr AS (
  SELECT q_id, label, v,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY v DESC, label) AS vrk
  FROM votes
),
margins AS (
  SELECT a.q_id,
         MAX(CASE WHEN vrk = 1 THEN v END) AS top_votes,
         MAX(CASE WHEN vrk = 1 THEN label END) AS top_label,
         COALESCE(MAX(CASE WHEN vrk = 2 THEN v END), 0) AS second_votes
  FROM vr a GROUP BY a.q_id
)
SELECT q_id, top_label, top_votes, second_votes,
       CAST(top_votes - second_votes AS BIGINT) AS margin,
       top_votes - second_votes <= 2 AS needs_labeling
FROM margins
ORDER BY margin, q_id
"""


@register(
    "n_uncertainty_sampling",
    oracle=_UNCERTAINTY_ORACLE,
    tags=("N4", "N7", "W4", "A1"),
)
def n_uncertainty_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty sampling for active learning: probes ranked by
    their 9-NN vote MARGIN (top label's votes minus runner-up's) —
    the smallest-margin items sit closest to the decision boundary
    and are where a labeling budget buys the most model improvement
    (`needs_labeling` flags margin ≤ 2). The data-selection layer
    above `n_knn_classify`: same neighbor machinery, but the output
    is which UNLABELED items to send to annotators, not predictions.

    Scale: bounded probe broadcast × one corpus scan; vote counting
    and the two-level ranking windows operate on ≤9 rows per probe.
    Margins are exact integer vote counts — no float anywhere past
    the neighbor ranking.
    """
    neigh = _probe_knn(spark, sf_dir, 61, k=9)
    votes = neigh.groupBy("q_id", "label").agg(F.count(F.lit(1)).alias("v"))
    vr = votes.withColumn(
        "vrk",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("v").desc(), "label")
        ),
    )
    margins = vr.groupBy("q_id").agg(
        F.max(F.when(F.col("vrk") == 1, F.col("v"))).alias("top_votes"),
        F.max(F.when(F.col("vrk") == 1, F.col("label"))).alias("top_label"),
        F.coalesce(
            F.max(F.when(F.col("vrk") == 2, F.col("v"))), F.lit(0)
        ).alias("second_votes"),
    )
    return margins.select(
        "q_id",
        "top_label",
        "top_votes",
        "second_votes",
        (F.col("top_votes") - F.col("second_votes"))
        .cast("long")
        .alias("margin"),
        (F.col("top_votes") - F.col("second_votes") <= 2).alias(
            "needs_labeling"
        ),
    ).orderBy("margin", "q_id")


# ---------------------------------------------------------------------------
# Greedy k-center (farthest-point) diverse subset selection
# ---------------------------------------------------------------------------

def _kcenter_round_sql(round_idx: int) -> str:
    """One greedy round as a CTE pair: min distance to the selected set
    so far, then the argmax (ties → smallest vec_id)."""
    prev = ", ".join(f"p{j}" for j in range(round_idx))
    mins = "LEAST(" + ", ".join(f"d{j}" for j in range(round_idx)) + ")" \
        if round_idx > 1 else "d0"
    dists = ",\n         ".join(
        f"ROUND({l2_sq_unrolled_sql('c.embedding', f'p{j}.embedding', 64)}, 9)"
        f" AS d{j}"
        for j in range(round_idx)
    )
    return f"""
dist{round_idx} AS (
  SELECT c.vec_id, c.embedding,
         {dists}
  FROM corpus c, {prev}
),
agg{round_idx} AS (
  SELECT vec_id, embedding, {mins} AS mind FROM dist{round_idx}
),
p{round_idx} AS (
  SELECT vec_id, embedding, mind FROM agg{round_idx}
  ORDER BY mind DESC, vec_id LIMIT 1
)"""


_KCENTER_ORACLE = (
    """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
),
p0 AS (
  SELECT vec_id, embedding, CAST(0 AS DOUBLE) AS mind
  FROM corpus ORDER BY vec_id LIMIT 1
),"""
    + ",".join(_kcenter_round_sql(i) for i in (1, 2, 3))
    + """
SELECT 0 AS order_idx, vec_id, CAST(ROUND(mind * 1000000) AS BIGINT)
         AS minmax_dist_micro FROM p0
UNION ALL
SELECT 1, vec_id, CAST(ROUND(mind * 1000000) AS BIGINT) FROM p1
UNION ALL
SELECT 2, vec_id, CAST(ROUND(mind * 1000000) AS BIGINT) FROM p2
UNION ALL
SELECT 3, vec_id, CAST(ROUND(mind * 1000000) AS BIGINT) FROM p3
ORDER BY order_idx
"""
)


@register(
    "n_kcenter_diverse_selection",
    oracle=_KCENTER_ORACLE,
    tags=("N4", "N3", "O2", "J9"),
)
def n_kcenter_diverse_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point traversal) over the embedding
    corpus: seed with the smallest vec_id, then 3 rounds of "add the
    point farthest from the selected set" — the classic diverse-subset
    selection used to seed clustering and to pick maximally-diverse
    training examples. Output is the selection order with each pick's
    max-min squared-L2 radius (the k-center objective), in micro units.

    Scale design — greedy k-center is k SCANS, not a k×n join: each
    round broadcasts the ≤k-row selected set against one pass over the
    corpus (map-side LEAST over k unrolled codegen distances), takes a
    global argmax (ties → smallest vec_id), and collects exactly ONE
    row to the driver — the only driver traffic is k rows total, so the
    loop is O(k·scan) at any corpus size. Distances are bit-exact
    unrolled IEEE sums (same operand order both engines), rounded to
    9 dp before ordering the argmax — the same determinism contract as
    the cosine family."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed = e.orderBy("vec_id").limit(1).first()
    selected = [(0, seed.vec_id, seed.embedding, 0.0)]
    for round_idx in (1, 2, 3):
        # Each selected point's distance is ONE parsed expression with
        # the point spelled as double literals (l2_sq_literal_spark_sql)
        # — same term/fold order as the F.lit Column form it replaced,
        # so values are bit-identical, but a round costs 1 parse per
        # point instead of 64 Py4J Column calls per point (which, not
        # the 2000-row jobs, dominated this loop's wall-clock).
        mind = None
        for _, _, emb, _ in selected:
            d = F.round(
                F.expr(l2_sq_literal_spark_sql("embedding", emb, 64)), 9
            )
            mind = d if mind is None else F.least(mind, d)
        pick = (
            e.select("vec_id", "embedding", mind.alias("mind"))
            .orderBy(F.col("mind").desc(), F.col("vec_id"))
            .limit(1)
            .first()
        )
        selected.append((round_idx, pick.vec_id, pick.embedding, pick.mind))
    return spark.createDataFrame(
        [
            (order_idx, int(vec_id), int(round(mind * 1000000)))
            for order_idx, vec_id, _, mind in selected
        ],
        "order_idx INT, vec_id BIGINT, minmax_dist_micro BIGINT",
    )


# ---------------------------------------------------------------------------
# MRR@10 / Recall@10 retrieval evaluation (rank-reciprocal + hit-rate)
# ---------------------------------------------------------------------------

_MRR_ORACLE = f"""
WITH normed AS (
  SELECT vec_id, label, embedding,
         {norm_unrolled_sql("embedding", DIM)} AS nrm
  FROM embeddings
),
probes AS (
  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb, nrm AS q_nrm
  FROM normed WHERE vec_id % 101 = 0
),
ranked AS (
  SELECT p.q_id, p.q_label, c.label AS c_label,
         ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
           ({dot_unrolled_sql("p.q_emb", "c.embedding", DIM)})
             / (p.q_nrm * c.nrm) DESC, c.vec_id) AS rk
  FROM probes p JOIN normed c ON p.q_id <> c.vec_id
),
per_query AS (
  SELECT q_id,
         CAST(COALESCE(MIN(CASE WHEN c_label = q_label THEN rk END), 0)
              AS BIGINT) AS first_rel_rank,
         CAST(SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_at_10
  FROM ranked WHERE rk <= 10
  GROUP BY q_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN first_rel_rank > 0
                     THEN 1000000 // first_rel_rank ELSE 0 END)
            // COUNT(*) AS BIGINT) AS mrr_at_10_ppm,
       CAST(SUM(CASE WHEN first_rel_rank > 0 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS recall_at_10_ppm,
       CAST(SUM(n_rel_at_10) AS BIGINT) AS total_rel_hits
FROM per_query
"""


@register(
    "n_mrr_retrieval_eval",
    oracle=_MRR_ORACLE,
    tags=("N3", "N4", "W4", "A2"),
)
def n_mrr_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 and Recall@10 for exact cosine retrieval with same-label
    relevance — the rank-reciprocal companion to `n_ndcg_retrieval_eval`
    (MRR cares only where the FIRST relevant hit lands; recall@k cares
    whether ANY landed). Together the three metrics are the standard
    retrieval-eval battery for embedding models.

    Determinism: reciprocal ranks are exact integer micro-units
    (1000000 // rank, positive floor division identical on both
    engines); the mean is one more positive floor division — no float
    anywhere. Ranking reuses the bit-exact unrolled dot products with
    vec_id tie-breaks.

    Scale: same bounded-probe-broadcast × one-corpus-scan shape as
    n_knn_bruteforce; the per-query reduction keeps only rank-1 and a
    count, so the shuffle after the scan is probes-sized."""
    ranked = _probe_knn(spark, sf_dir, 101, k=10)
    per_query = ranked.groupBy("q_id").agg(
        F.coalesce(
            F.min(F.when(F.col("label") == F.col("q_label"), F.col("rnk"))),
            F.lit(0),
        )
        .cast("long")
        .alias("first_rel_rank"),
        F.sum(F.when(F.col("label") == F.col("q_label"), 1).otherwise(0))
        .cast("long")
        .alias("n_rel_at_10"),
    )
    return per_query.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.expr(
            "SUM(CASE WHEN first_rel_rank > 0"
            " THEN 1000000 DIV first_rel_rank ELSE 0 END) DIV COUNT(*)"
        ).alias("mrr_at_10_ppm"),
        F.expr(
            "SUM(CASE WHEN first_rel_rank > 0 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*)"
        ).alias("recall_at_10_ppm"),
        F.sum("n_rel_at_10").cast("long").alias("total_rel_hits"),
    )


# ---------------------------------------------------------------------------
# Late-interaction MaxSim scoring (ColBERT-style multi-vector retrieval)
# ---------------------------------------------------------------------------

_MAXSIM_ORACLE = f"""
WITH vecs AS (
  SELECT vec_id, vec_id % 50 AS group_id, embedding,
         {norm_unrolled_sql("embedding", DIM)} AS nrm
  FROM embeddings
),
qvecs AS (
  SELECT vec_id AS q_vec_id, embedding AS q_emb, nrm AS q_nrm
  FROM vecs WHERE group_id = 0 AND vec_id < 500
),
dvecs AS (
  SELECT group_id, vec_id AS d_vec_id, embedding AS d_emb, nrm AS d_nrm
  FROM vecs WHERE group_id <> 0
),
sims AS (
  SELECT d.group_id, q.q_vec_id,
         MAX(ROUND(({dot_unrolled_sql("q.q_emb", "d.d_emb", DIM)})
                   / (q.q_nrm * d.d_nrm), 9)) AS best_sim
  FROM qvecs q JOIN dvecs d ON TRUE
  GROUP BY d.group_id, q.q_vec_id
),
scored AS (
  SELECT group_id,
         CAST(SUM(CAST(ROUND(best_sim * 1000000) AS BIGINT)) AS BIGINT)
           AS maxsim_micro,
         CAST(COUNT(*) AS BIGINT) AS n_query_vectors
  FROM sims GROUP BY group_id
)
SELECT group_id, maxsim_micro, n_query_vectors
FROM scored
ORDER BY maxsim_micro DESC, group_id
LIMIT 10
"""


@register(
    "n_colbert_maxsim_rerank",
    oracle=_MAXSIM_ORACLE,
    tags=("N3", "N4", "W4", "A1"),
)
def n_colbert_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction scoring: the query is a BAG of
    vectors (group 0), each candidate document is a bag of vectors
    (vec_id mod 50 groups), and the score is MaxSim — for every query
    vector take its best cosine against the document's vectors, then
    sum. This is the multi-vector retrieval operator that single-vector
    cosine top-k (`n_cosine_topk`) cannot express: a document matches
    if it covers EACH aspect of the query somewhere, not on one pooled
    centroid. Top-10 documents by summed micro score.

    Determinism — per-(query-vector, document) best_sim is rounded to
    9 dp (bit-exact unrolled dots below it), then to integer micro
    before the per-document sum, so aggregation order can't matter.
    Scale — the query bag (group 0 capped to vec_id < 500: ≤10
    vectors at ANY corpus size) broadcasts; one scan of the
    corpus vectors computes all pairwise sims map-side; the two
    reductions (max per (doc, query-vector), sum per doc) are
    combinable on document id. At 100 TB of token vectors this is the
    PLAID/ColBERTv2 re-rank shape: bounded probe set × streamed
    candidate vectors, never a materialized similarity matrix."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        (F.col("vec_id") % 50).alias("group_id"),
        "embedding",
        F.sqrt(dot_unrolled("embedding", "embedding", DIM)).alias(
            "nrm"
        ),
    )
    qvecs = vecs.filter((F.col("group_id") == 0) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    dvecs = vecs.filter(F.col("group_id") != 0).select(
        "group_id",
        F.col("vec_id").alias("d_vec_id"),
        F.col("embedding").alias("d_emb"),
        F.col("nrm").alias("d_nrm"),
    )
    cos = F.round(
        cosine_unrolled("q_emb", "d_emb", DIM, "q_nrm", "d_nrm"),
        9,
    )
    sims = (
        F.broadcast(qvecs)
        .crossJoin(dvecs)
        .groupBy("group_id", "q_vec_id")
        .agg(F.max(cos).alias("best_sim"))
    )
    scored = sims.groupBy("group_id").agg(
        F.sum(F.round(F.col("best_sim") * 1000000).cast("long"))
        .cast("long")
        .alias("maxsim_micro"),
        F.count(F.lit(1)).alias("n_query_vectors"),
    )
    return (
        scored.orderBy(F.col("maxsim_micro").desc(), F.col("group_id"))
        .limit(10)
        .select("group_id", "maxsim_micro", "n_query_vectors")
    )


# ---------------------------------------------------------------------------
# Binary-hash embedding retrieval (sign binarization + Hamming distance)
# ---------------------------------------------------------------------------

def _signbits_sql(col: str, lo: int, hi: int) -> str:
    """DuckDB: pack sign bits of dims [lo, hi) into a BIGINT."""
    return " + ".join(
        f"(CASE WHEN {col}[{i + 1}] >= 0 THEN CAST({1 << (i - lo)} AS BIGINT)"
        f" ELSE 0 END)"
        for i in range(lo, hi)
    )


def _signbits_spark(col: str, lo: int, hi: int):
    """Spark twin of _signbits_sql (0-based `[]`), built as ONE F.expr
    parse — the per-term Column form cost ~5·32 Py4J round trips of
    driver time per call (same overhead class dot_unrolled fixed)."""
    body = " + ".join(
        f"(CASE WHEN {col}[{i}] >= 0 THEN CAST({1 << (i - lo)} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i in range(lo, hi)
    )
    return F.expr(body)


_BINARY_HASH_ORACLE = f"""
WITH codes AS (
  SELECT vec_id,
         {_signbits_sql("embedding", 0, 32)}  AS code_lo,
         {_signbits_sql("embedding", 32, 64)} AS code_hi,
         embedding,
         {norm_unrolled_sql("embedding", DIM)} AS nrm
  FROM embeddings
),
probes AS (
  SELECT vec_id AS q_id, code_lo AS q_lo, code_hi AS q_hi,
         embedding AS q_emb, nrm AS q_nrm
  FROM codes WHERE vec_id % 97 = 0
),
ham AS (
  SELECT p.q_id, c.vec_id,
         CAST(bit_count(xor(p.q_lo, c.code_lo))
              + bit_count(xor(p.q_hi, c.code_hi)) AS BIGINT) AS hamming,
         ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
           bit_count(xor(p.q_lo, c.code_lo))
           + bit_count(xor(p.q_hi, c.code_hi)), c.vec_id) AS hrk
  FROM probes p JOIN codes c ON p.q_id <> c.vec_id
),
exact AS (
  SELECT p.q_id, c.vec_id,
         ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
           ROUND(({dot_unrolled_sql("p.q_emb", "c.embedding", DIM)})
                 / (p.q_nrm * c.nrm), 9) DESC, c.vec_id) AS crk
  FROM probes p JOIN codes c ON p.q_id <> c.vec_id
),
overlap AS (
  SELECT h.q_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM (SELECT q_id, vec_id FROM ham WHERE hrk <= 10) h
  JOIN (SELECT q_id, vec_id FROM exact WHERE crk <= 10) e
    ON h.q_id = e.q_id AND h.vec_id = e.vec_id
  GROUP BY h.q_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(n_common) AS BIGINT) AS total_common,
       CAST(SUM(n_common) * 1000000 // (COUNT(*) * 10) AS BIGINT)
         AS recall_at_10_ppm
FROM overlap
"""


@register(
    "n_binary_hash_retrieval",
    oracle=_BINARY_HASH_ORACLE,
    tags=("N3", "N4", "F3", "F7"),
)
def n_binary_hash_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-hash ANN: sign-binarize each 64-dim embedding into two
    32-bit codes packed in BIGINTs, retrieve by Hamming distance
    (bit_count of XOR — two machine instructions per candidate), and
    report recall@10 against exact cosine — the 64x-compression /
    100x-speed tier below PQ in the ANN ladder (`n_pq_adc_search`),
    and the same measurement harness (`n_ivf_recall_eval`) applied
    to it.

    Determinism — binarization, XOR popcount and both rankings are
    exact integer/9dp-rounded arithmetic with vec_id tie-breaks, so
    even the recall percentage hash-matches the oracle. Scale — codes
    are 16 bytes/vector (the RAM-resident index layout); probes
    broadcast; one corpus scan serves both arms; at 100 TB the exact
    arm disappears and Hamming top-k feeds the standard re-rank."""
    e = load_table(spark, sf_dir, "embeddings")
    codes = e.select(
        "vec_id",
        _signbits_spark("embedding", 0, 32).alias("code_lo"),
        _signbits_spark("embedding", 32, 64).alias("code_hi"),
        "embedding",
        F.sqrt(dot_unrolled("embedding", "embedding", DIM)).alias("nrm"),
    )
    probes = codes.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("code_lo").alias("q_lo"),
        F.col("code_hi").alias("q_hi"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    joined = F.broadcast(probes).join(codes, F.col("q_id") != F.col("vec_id"))
    hamming = F.expr("bit_count(q_lo ^ code_lo) + bit_count(q_hi ^ code_hi)")
    ham = joined.withColumn(
        "hrk",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(hamming, F.col("vec_id"))
        ),
    ).filter(F.col("hrk") <= 10)
    cos = F.round(
        cosine_unrolled("q_emb", "embedding", DIM, "q_nrm", "nrm"),
        9,
    )
    exact = joined.withColumn(
        "crk",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(cos.desc(), F.col("vec_id"))
        ),
    ).filter(F.col("crk") <= 10)
    overlap = (
        ham.select("q_id", "vec_id")
        .join(exact.select("q_id", "vec_id"), ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return overlap.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("n_common").cast("long").alias("total_common"),
        F.expr("SUM(n_common) * 1000000 DIV (COUNT(*) * 10)").alias(
            "recall_at_10_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Embedding isotropy diagnostics (norm concentration + mean pairwise cosine)
# ---------------------------------------------------------------------------

_ISOTROPY_ORACLE = f"""
WITH sample AS (
  SELECT vec_id, embedding,
         {norm_unrolled_sql("embedding", DIM)} AS nrm
  FROM embeddings WHERE vec_id % 11 = 0
),
norm_stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
         ROUND(MIN(nrm), 6) AS min_norm,
         ROUND(MAX(nrm), 6) AS max_norm,
         CAST(SUM(CAST(ROUND(nrm * 1000000) AS BIGINT)) AS BIGINT)
           AS sum_norm_micro
  FROM sample
),
pair_cos AS (
  SELECT CAST(ROUND(({dot_unrolled_sql("a.embedding", "b.embedding", DIM)})
               / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS cos_micro
  FROM sample a JOIN sample b ON a.vec_id < b.vec_id
),
pair_stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(cos_micro) AS BIGINT) AS sum_cos_micro,
         CAST(SUM(ABS(cos_micro)) AS BIGINT) AS sum_abs_cos_micro
  FROM pair_cos
)
SELECT n_sampled, n_pairs,
       min_norm, max_norm,
       sum_norm_micro // n_sampled AS mean_norm_micro,
       -- offset-positive division: cos >= -1 so sum >= -n*1e6; the
       -- shift keeps floor(//) and Spark's truncating DIV identical
       -- for a possibly-negative numerator.
       (sum_cos_micro + n_pairs * 1000000) // n_pairs - 1000000
         AS mean_cos_micro,
       sum_abs_cos_micro // n_pairs AS mean_abs_cos_micro
FROM norm_stats CROSS JOIN pair_stats
"""


@register(
    "n_embedding_isotropy",
    oracle=_ISOTROPY_ORACLE,
    tags=("N3", "A2", "J10"),
)
def n_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy diagnostics on a deterministic sample:
    norm concentration (min/max/mean) and mean (signed and absolute)
    pairwise cosine. Anisotropic embeddings — everything crammed into a
    narrow cone, mean cosine ≫ 0 — are why raw cosine similarity
    saturates and why whitening/centering exists; this is the
    one-query health check to run BEFORE trusting any of the
    similarity operators downstream.

    Determinism & scale — the pairwise pass runs on a MOD-SAMPLED
    subset (vec_id % 11: isotropy is a property estimate, not an
    enumeration) as a bounded theta self-join of bit-exact unrolled
    cosines, each rounded to integer micro before the order-free sums;
    norms are single-pass. At billions of vectors the sample keeps the
    quadratic term constant-sized while every other stat stays
    one-pass."""
    e = load_table(spark, sf_dir, "embeddings")
    sample = e.filter(F.col("vec_id") % 11 == 0).select(
        "vec_id",
        "embedding",
        F.sqrt(dot_unrolled("embedding", "embedding", DIM)).alias(
            "nrm"
        ),
    )
    norm_stats = sample.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.sum(F.round(F.col("nrm") * 1000000).cast("long"))
        .cast("long")
        .alias("sum_norm_micro"),
    )
    a, b = sample.alias("a"), sample.alias("b")
    cos_micro = F.round(
        cosine_unrolled("a.embedding", "b.embedding", DIM, "a.nrm", "b.nrm")
        * 1000000
    ).cast("long")
    pair_stats = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(cos_micro.alias("cos_micro"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("cos_micro").cast("long").alias("sum_cos_micro"),
            F.sum(F.abs(F.col("cos_micro"))).cast("long").alias(
                "sum_abs_cos_micro"
            ),
        )
    )
    return norm_stats.crossJoin(F.broadcast(pair_stats)).select(
        "n_sampled",
        "n_pairs",
        "min_norm",
        "max_norm",
        F.expr("sum_norm_micro DIV n_sampled").alias("mean_norm_micro"),
        F.expr(
            "(sum_cos_micro + n_pairs * 1000000) DIV n_pairs - 1000000"
        ).alias("mean_cos_micro"),
        F.expr("sum_abs_cos_micro DIV n_pairs").alias("mean_abs_cos_micro"),
    )


# ---------------------------------------------------------------------------
# Embedding-space distribution divergence between labels (MAUVE-style)
# ---------------------------------------------------------------------------

_EMB_JSD_ORACLE = """
WITH binned AS (
  SELECT label,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
       + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
       + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS cell
  FROM embeddings
),
counts AS (
  SELECT label, cell, CAST(COUNT(*) AS BIGINT) AS c
  FROM binned GROUP BY label, cell
),
totals AS (
  SELECT label, CAST(SUM(c) AS BIGINT) AS tot FROM counts GROUP BY label
),
grid AS (
  SELECT l.label, g.cell
  FROM (SELECT DISTINCT label FROM binned) l
  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS cell) g
),
filled AS (
  SELECT g.label, g.cell, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
  FROM grid g LEFT JOIN counts c
    ON g.label = c.label AND g.cell = c.cell
),
pairs AS (
  SELECT a.cell, a.label AS label_a, b.label AS label_b,
         a.c AS ca, b.c AS cb, ta.tot AS ta, tb.tot AS tb
  FROM filled a
  JOIN filled b ON a.cell = b.cell AND a.label < b.label
  JOIN totals ta ON a.label = ta.label
  JOIN totals tb ON b.label = tb.label
),
contrib AS (
  SELECT label_a, label_b,
         CASE WHEN ca = 0 THEN 0 ELSE
           CAST(ROUND((CAST(ca AS DOUBLE) / ta)
                * LN(2.0 * ca * tb / (ca * tb + cb * ta))
                * 1000000000) AS BIGINT) END AS kp_nano,
         CASE WHEN cb = 0 THEN 0 ELSE
           CAST(ROUND((CAST(cb AS DOUBLE) / tb)
                * LN(2.0 * cb * ta / (cb * ta + ca * tb))
                * 1000000000) AS BIGINT) END AS kq_nano
  FROM pairs
),
jsd AS (
  SELECT label_a, label_b,
         ROUND((SUM(kp_nano) + SUM(kq_nano)) / 2.0 / 1000000000, 6)
           AS jsd_nats
  FROM contrib GROUP BY label_a, label_b
)
SELECT label_a, label_b, jsd_nats,
       jsd_nats = MAX(jsd_nats) OVER () AS is_most_divergent
FROM jsd ORDER BY label_a, label_b
"""


@register(
    "n_embedding_cluster_jsd",
    oracle=_EMB_JSD_ORACLE,
    tags=("N3", "N6", "A1", "J1", "J9"),
)
def n_embedding_cluster_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAUVE-style embedding-space divergence: Jensen-Shannon distance
    between every label pair's distribution over 64 sign-LSH cells —
    the two-distribution comparison that detects whether data slices
    occupy DIFFERENT REGIONS of embedding space (token-level JSD in
    `n_js_divergence_sources` cannot see paraphrase-level drift; this
    can). High-JSD label pairs are the separable ones; the flagged
    maximum is the most distribution-shifted pair.

    Scale design: the cell id is pure codegen integer math fused into
    the scan (6 sign bits — the `n_semdedup_clusters` convention, no
    trained centroids so the oracle stays SQL-exact); per-(label, cell)
    counts are ONE combinable groupBy; the labels × 64-cell grid makes
    zero cells explicit, and the pair stage joins on cell with
    |labels|² bounded fan-out. KL leaves are nano-nat rounded exact
    BIGINTs (the JSD convention), so sums are bit-stable under any
    partitioning."""
    emb = load_table(spark, sf_dir, "embeddings")
    cell = F.expr(
        " + ".join(
            f"(CASE WHEN embedding[{i}] > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(6)
        )
    )
    binned = emb.select("label", cell.alias("cell"))
    counts = binned.groupBy("label", "cell").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = counts.groupBy("label").agg(
        F.sum("c").cast("long").alias("tot")
    )
    labels = binned.select("label").distinct()
    cells = spark.range(0, 64).select(F.col("id").cast("int").alias("cell"))
    grid = labels.crossJoin(F.broadcast(cells))
    filled = grid.join(counts, ["label", "cell"], "left").select(
        "label",
        "cell",
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
    )
    a = filled.select(
        "cell", F.col("label").alias("label_a"), F.col("c").alias("ca")
    )
    b = filled.select(
        "cell", F.col("label").alias("label_b"), F.col("c").alias("cb")
    )
    ta = totals.select(
        F.col("label").alias("label_a"), F.col("tot").alias("ta")
    )
    tb = totals.select(
        F.col("label").alias("label_b"), F.col("tot").alias("tb")
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("label_a") < F.col("label_b"))
        .join(F.broadcast(ta), "label_a")
        .join(F.broadcast(tb), "label_b")
    )
    contrib = pairs.select(
        "label_a",
        "label_b",
        # 2.0D double literal is load-bearing (see n_js_divergence_sources)
        F.expr(
            "CASE WHEN ca = 0 THEN 0 ELSE "
            "CAST(ROUND((CAST(ca AS DOUBLE) / ta) "
            "* LN(2.0D * ca * tb / (ca * tb + cb * ta)) "
            "* 1000000000) AS BIGINT) END"
        ).alias("kp_nano"),
        F.expr(
            "CASE WHEN cb = 0 THEN 0 ELSE "
            "CAST(ROUND((CAST(cb AS DOUBLE) / tb) "
            "* LN(2.0D * cb * ta / (cb * ta + ca * tb)) "
            "* 1000000000) AS BIGINT) END"
        ).alias("kq_nano"),
    )
    jsd = contrib.groupBy("label_a", "label_b").agg(
        F.round(
            (F.sum("kp_nano") + F.sum("kq_nano")) / 2.0 / 1000000000, 6
        ).alias("jsd_nats")
    )
    return jsd.select(
        "label_a",
        "label_b",
        "jsd_nats",
        (
            F.col("jsd_nats")
            == F.max("jsd_nats").over(Window.partitionBy())
        ).alias("is_most_divergent"),
    ).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# Hubness skew: the high-dimensional k-occurrence pathology, measured
# ---------------------------------------------------------------------------


def _hubness_oracle() -> str:
    from ..operators.similarity import dot_unrolled_sql

    return """
WITH corpus AS (
  SELECT vec_id, embedding AS emb FROM embeddings
),
probes AS (
  SELECT vec_id AS q_id, emb AS q_emb FROM corpus WHERE vec_id % 5 = 0
),
sims AS (
  SELECT p.q_id, c.vec_id,
         ({dot_ab})
           / SQRT({dot_aa}) / SQRT({dot_bb}) AS sim
  FROM corpus c CROSS JOIN probes p
  WHERE c.vec_id <> p.q_id
),
topk AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY sim DESC, vec_id) AS rnk
    FROM sims
  ) WHERE rnk <= 5
),
occ AS (
  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS c FROM topk GROUP BY vec_id
),
stats AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_queries,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2,
         CAST(SUM(c * c * c) AS BIGINT) AS s3,
         CAST(MAX(c) AS BIGINT) AS max_occ,
         CAST(SUM(CASE WHEN c >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hubs
  FROM occ
)
SELECT n AS n_vectors, n_queries, CAST(5 AS BIGINT) AS k,
       max_occ AS max_k_occurrence, hubs AS n_hubs_2k,
       CAST(hubs * 1000000 // n AS BIGINT) AS hub_share_ppm,
       ROUND(
         (CAST(s3 AS DOUBLE) / n
          - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
          + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
            * (CAST(s1 AS DOUBLE) / n))
         / (SQRT(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
            * (CAST(s2 AS DOUBLE) / n
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))),
         6) AS k_occurrence_skewness
FROM stats
""".format(
        dot_ab=dot_unrolled_sql("c.emb", "p.q_emb", 64),
        dot_aa=dot_unrolled_sql("c.emb", "c.emb", 64),
        dot_bb=dot_unrolled_sql("p.q_emb", "p.q_emb", 64),
    )


@register(
    "n_hubness_skew",
    oracle=None,
    tags=("N3", "N4", "A1", "A8"),
)
def n_hubness_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness diagnostic for the embedding space: the skewness of the
    k-occurrence distribution (how often each vector shows up in other
    vectors' top-5) — in high dimensions a few 'hub' vectors dominate
    every neighbor list, silently degrading kNN search, kNN
    classification, and semantic dedup; skewness ≫ 0 plus a fat
    max-occurrence is the standard alarm (Radovanović et al.).

    Scale design: the neighbor pass is the brute-force probe shape
    (deterministic vec_id % 5 probe set broadcast against ONE corpus
    scan — the n_knn_bruteforce posture; at 100 TB the probe set stays
    bounded and the scan is embarrassingly parallel). The k-occurrence
    moments come from exact integer Σc, Σc², Σc³ over the occurrence
    rollup with the zero-count identity (absent vectors contribute
    nothing), so the one skewness formula runs on a 1-row frame with
    identical expression trees — cosine itself is the repo's bit-exact
    left-fold dot product."""
    from ..operators.similarity import dot_unrolled

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    # Norms are computed ONCE per corpus/probe row (not per pair — that
    # would triple the dot-product work across the fan-out); sim keeps
    # the exact division tree dot / ||a|| / ||b||, so values are
    # bit-identical to the per-pair form.
    corpus = corpus.withColumn(
        "nrm", F.sqrt(dot_unrolled("emb", "emb", 64))
    )
    probes = corpus.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    # Pre-fanout repartition: the probe crossJoin multiplies the corpus
    # by |probes|, and a single-file scan arrives as ONE partition — the
    # shuffle moves only the compact corpus, never the pair fan-out.
    corpus = corpus.repartition(spark.sparkContext.defaultParallelism)
    sims = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                dot_unrolled("emb", "q_emb", 64)
                / F.col("nrm")
                / F.col("q_nrm")
            ).alias("sim"),
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), "vec_id"
    )
    topk = sims.select(
        "q_id", "vec_id", F.row_number().over(w_rank).alias("rnk")
    ).filter(F.col("rnk") <= 5)
    occ = topk.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n_tot = corpus.agg(F.count(F.lit(1)).cast("long").alias("n"))
    n_q = probes.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    stats = occ.agg(
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).cast("long").alias("s3"),
        F.max("c").cast("long").alias("max_occ"),
        F.sum(F.when(F.col("c") >= 10, 1).otherwise(0))
        .cast("long")
        .alias("hubs"),
    )
    skew_expr = (
        "ROUND((CAST(s3 AS DOUBLE) / n "
        "- 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n) "
        "+ 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) "
        "* (CAST(s1 AS DOUBLE) / n)) "
        "/ (SQRT(CAST(s2 AS DOUBLE) / n "
        "- (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) "
        "* (CAST(s2 AS DOUBLE) / n "
        "- (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))), 6)"
    )
    return (
        stats.crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(n_q))
        .select(
            F.col("n").alias("n_vectors"),
            "n_queries",
            F.lit(5).cast("long").alias("k"),
            F.col("max_occ").alias("max_k_occurrence"),
            F.col("hubs").alias("n_hubs_2k"),
            F.expr("hubs * 1000000 DIV n").cast("long").alias(
                "hub_share_ppm"
            ),
            F.expr(skew_expr).alias("k_occurrence_skewness"),
        )
    )


def _install_hubness_oracle() -> None:
    import dataclasses

    from ..registry import REGISTRY

    REGISTRY["n_hubness_skew"] = dataclasses.replace(
        REGISTRY["n_hubness_skew"], oracle=_hubness_oracle()
    )


_install_hubness_oracle()


# === Eighth wave (round 10): kNN holdout classification eval ===================

_KNN_HOLDOUT_ORACLE = f"""
WITH v AS ({_NORMED}),
labeled AS (
  SELECT v.vec_id, v.embedding, v.nrm, e.label
  FROM v JOIN embeddings e ON v.vec_id = e.vec_id
),
test AS (SELECT * FROM labeled WHERE vec_id % 20 = 0),
train AS (SELECT * FROM labeled WHERE vec_id % 20 <> 0),
pairs AS (
  SELECT a.vec_id AS query_id, a.label AS true_label,
         b.vec_id AS neighbor_id, b.label AS neighbor_label,
         {_COS_AB} AS sim
  FROM test a, train b
),
top3 AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS rnk
    FROM pairs
  ) t WHERE rnk <= 3
),
votes AS (
  SELECT query_id, true_label, neighbor_label, COUNT(*) AS n_votes
  FROM top3 GROUP BY query_id, true_label, neighbor_label
),
pred AS (
  SELECT query_id, true_label, neighbor_label AS predicted
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY n_votes DESC, neighbor_label ASC)
             AS vr
    FROM votes
  ) t WHERE vr = 1
)
SELECT CAST(true_label AS BIGINT) AS true_label,
       CAST(COUNT(*) AS BIGINT)   AS n_test,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
FROM pred
GROUP BY true_label
"""


@register(
    "n_knn_holdout_eval",
    oracle=_KNN_HOLDOUT_ORACLE,
    tags=("N4", "N7"),
)
def n_knn_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4+N7, eighth wave: the kNN CLASSIFIER evaluated on a
    deterministic holdout — every 20th vector is the test set, the rest
    are the index; each test vector takes its 3 nearest training
    neighbors by cosine (brute force — the exactness baseline the ANN
    queries are judged against) and predicts by majority vote with the
    (count desc, label asc) tie-break; per-class accuracy is stated in
    exact integer ppm. This is the model-quality loop of the N7 row run
    entirely inside the engine: no RNG, no sklearn — the same split,
    vote, and tie-break rules are restated by the oracle.

    Scale: the test side broadcasts (|corpus|/20 rows — the bounded
    probe-set class the plan gate audits); the index scans
    once map-side with unrolled dim-64 arithmetic; only top-3 rows per
    query shuffle into the vote. At 100 TB the brute-force stage swaps
    for the proven IVF/PQ candidates with this exact vote/eval tail."""
    from ..operators.similarity import knn_bruteforce

    e = load_table(spark, sf_dir, "embeddings")
    test = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").cast("long").alias("true_label"),
    )
    train = e.filter(F.col("vec_id") % 20 != 0).select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        F.col("label").cast("long").alias("neighbor_label"),
    )
    top3 = knn_bruteforce(
        test,
        train,
        q_id="query_id",
        c_id="neighbor_id",
        q_vec="q_emb",
        c_vec="embedding",
        k=3,
        dim=DIM,
    )
    votes = top3.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("neighbor_label")
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", F.col("neighbor_label").alias("predicted"))
    )
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.expr(
            "CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )


# --- N1+N4+N7+U5, ninth wave: dedup -> blockwise kNN -> language eval ----------

def _dedup_knn_oracle() -> str:
    dim = 64
    dot_ab = dot_unrolled_sql("a.embedding", "b.embedding", dim)
    return f"""
WITH fps AS (
  SELECT doc_id, lang, LEFT(LOWER(TRIM(text)), 40) AS fp
  FROM documents WHERE text IS NOT NULL
),
survivors AS (
  SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fps
  ) t WHERE rn = 1
),
corpus AS (
  SELECT s.doc_id AS vec_id, s.lang, e.embedding,
         {norm_unrolled_sql("e.embedding", dim)} AS nrm
  FROM survivors s JOIN embeddings e ON s.doc_id = e.vec_id
),
probes AS (
  SELECT * FROM corpus WHERE vec_id % 50 = 3
),
pairs AS (
  SELECT a.vec_id AS query_id, a.lang AS true_lang,
         b.vec_id AS neighbor_id, b.lang AS neighbor_lang,
         ({dot_ab}) / (a.nrm * b.nrm) AS sim
  FROM probes a, corpus b
  WHERE a.vec_id <> b.vec_id
),
top3 AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS rnk
    FROM pairs
  ) t WHERE rnk <= 3
),
votes AS (
  SELECT query_id, true_lang, neighbor_lang, COUNT(*) AS n_votes
  FROM top3 GROUP BY query_id, true_lang, neighbor_lang
),
pred AS (
  SELECT query_id, true_lang, neighbor_lang AS predicted
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY n_votes DESC, neighbor_lang ASC)
             AS vr
    FROM votes
  ) t WHERE vr = 1
)
SELECT true_lang,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN predicted = true_lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(CASE WHEN predicted = true_lang THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
FROM pred
GROUP BY true_lang
"""


@register(
    "n_dedup_knn_pipeline",
    oracle=_dedup_knn_oracle(),
    tags=("N1", "N4", "N7", "U5"),
)
def n_dedup_knn_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1+N4+N7+U5, ninth wave: the three-stage curation pipeline in one
    plan — (1) exact dedup with keep-min survivorship on the normalized
    40-char fingerprint (N1: the row_number-over-fp idiom, so only one
    doc per collision group feeds the index); (2) brute-force cosine
    kNN where the CORPUS STREAMS through the mapInPandas blockwise
    operator (U5 — cosine_topk_blockwise: the probe slab rides the UDF
    closure, each Arrow batch computes its numpy block and emits local
    top-k only, the shape that survives 100 TB); (3) a language
    classifier eval (N7): each 3-mod-50 probe predicts its language by
    3-NN majority vote (count desc, lang asc tie-break) and per-language
    accuracy is stated in exact integer ppm.

    Scale: the probe slab is |survivors|/50 rows — the documented
    bounded-probe contract of the blockwise operator (the collect is
    the broadcast, not a driver loop); nothing quadratic materializes;
    the dedup is one fingerprint shuffle."""
    from ..operators.similarity import cosine_topk_blockwise

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.lower(F.trim("text")).substr(1, 40).alias("fp"),
        )
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    survivors = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang")
    )
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = survivors.join(e, survivors.doc_id == e.vec_id).select(
        "vec_id", "lang", "embedding"
    )
    probes_pdf = (
        corpus.filter(F.col("vec_id") % 50 == 3)
        .select("vec_id", "embedding")
        .toPandas()
    )
    top3 = cosine_topk_blockwise(
        corpus,
        probes_pdf,
        c_id="vec_id",
        c_vec="embedding",
        k=3,
        dim=DIM,
        out_query_col="query_id",
        out_neighbor_col="neighbor_id",
    )
    langs = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("lang").alias("neighbor_lang")
    )
    true_langs = corpus.select(
        F.col("vec_id").alias("query_id"), F.col("lang").alias("true_lang")
    )
    votes = (
        top3.join(langs, "neighbor_id")
        .join(true_langs, "query_id")
        .groupBy("query_id", "true_lang", "neighbor_lang")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("neighbor_lang")
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_lang", F.col("neighbor_lang").alias("predicted"))
    )
    return pred.groupBy("true_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.when(F.col("predicted") == F.col("true_lang"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.expr(
            "CAST(SUM(CASE WHEN predicted = true_lang THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )
