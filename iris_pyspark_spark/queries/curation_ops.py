"""Training-data curation operators beyond the dedup/similarity core:
document chunking, token-budget packing, benchmark-contamination checks,
deterministic stratified sampling, and MERGE-style upsert on plain
parquet (dynamic partition overwrite).

These are the operations a 100 TB pretraining pipeline runs between
"raw crawl" and "tokenized shards". All are pure DataFrame compositions
(no Python in the row path) with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.text import token_count_whitespace
from ..registry import register
from .joins import CENTS_SQL, cents

# --- document chunking ------------------------------------------------------

_CHUNK = 32   # tokens per chunk
_STRIDE = 24  # tokens between chunk starts (overlap = _CHUNK - _STRIDE)

_CHUNK_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         STRING_SPLIT(LOWER(text), ' ') AS toks,
         LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tok
  FROM documents
),
spans AS (
  SELECT doc_id, n_tok, toks,
         UNNEST(GENERATE_SERIES(
           0,
           CAST(FLOOR((GREATEST(n_tok - {_CHUNK}, 0) + {_STRIDE} - 1) / {_STRIDE}.0) AS INT)
         )) AS chunk_id
  FROM base
)
SELECT doc_id, chunk_id, n_tok,
       ARRAY_TO_STRING(LIST_SLICE(toks, chunk_id * {_STRIDE} + 1,
                                  chunk_id * {_STRIDE} + {_CHUNK}), ' ') AS chunk_text,
       LEN(LIST_SLICE(toks, chunk_id * {_STRIDE} + 1,
                      chunk_id * {_STRIDE} + {_CHUNK}))                  AS n_chunk_tok
FROM spans
"""


@register("n_doc_chunking", oracle=_CHUNK_ORACLE, tags=("N5", "F4"))
def n_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunks (32-token windows, stride 24)
    — the doc → context-window exploder every pretraining pipeline runs.
    One map-side explode per document, no shuffle: at scale this fuses
    into the parquet scan. Chunk count = ceil((n - chunk)/stride) + 1 in
    pure integer arithmetic (identical in the oracle); slice clamps at
    the tail so the last chunk is short rather than padded."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(toks)
    k_max = F.floor(
        (F.greatest(n - _CHUNK, F.lit(0)) + _STRIDE - 1) / F.lit(_STRIDE).cast("double")
    ).cast("int")
    spans = d.select(
        "doc_id",
        toks.alias("toks"),
        n.alias("n_tok"),
        F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_id"),
    )
    sliced = F.slice(
        F.col("toks"), F.col("chunk_id") * _STRIDE + 1, F.lit(_CHUNK)
    )
    return spans.select(
        "doc_id",
        "chunk_id",
        "n_tok",
        F.concat_ws(" ", sliced).alias("chunk_text"),
        F.size(sliced).alias("n_chunk_tok"),
    )


# --- token-budget packing ---------------------------------------------------

_BUDGET = 2048  # tokens per packed bin

_PACK_ORACLE = f"""
WITH counted AS (
  SELECT doc_id, source,
         LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tok
  FROM documents
),
binned AS (
  SELECT doc_id, source, n_tok,
         CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / {_BUDGET}.0) AS BIGINT) AS bin_id
  FROM counted
)
SELECT source, bin_id,
       COUNT(*)                        AS n_docs,
       CAST(SUM(n_tok) AS BIGINT)      AS total_tokens,
       MIN(doc_id)                     AS first_doc,
       MAX(doc_id)                     AS last_doc
FROM binned
GROUP BY source, bin_id
"""


@register("n_token_packing", oracle=_PACK_ORACLE, tags=("N5", "W3"))
def n_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~2048-token training bins by running token
    count: bin = floor(previous-cumulative-tokens / budget), packed
    WITHIN each source shard. The per-shard window is the scale design —
    a single global ordering would serialize into one reducer, while
    per-source packing parallelizes across shards exactly like the
    file-group packing step of a tokenizer pipeline."""
    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", "source", token_count_whitespace("text").alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_prev = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    binned = counted.withColumn(
        "bin_id", F.floor(cum_prev / F.lit(_BUDGET).cast("double"))
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --- benchmark-contamination check ------------------------------------------

_SH_K = 8  # shingle width (tokens)

_CONTAM_ORACLE = f"""
WITH eval_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
),
train_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 200000, 'extra prefix ' || text FROM eval_docs
),
eval_sh AS (
  SELECT DISTINCT doc_id AS eval_doc,
         ARRAY_TO_STRING(LIST_SLICE(toks, i, i + {_SH_K} - 1), ' ') AS sh
  FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks FROM eval_docs),
       UNNEST(GENERATE_SERIES(1, GREATEST(LEN(toks) - {_SH_K} + 1, 1))) AS t(i)
),
train_sh AS (
  SELECT DISTINCT doc_id AS train_doc,
         ARRAY_TO_STRING(LIST_SLICE(toks, i, i + {_SH_K} - 1), ' ') AS sh
  FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks FROM train_docs),
       UNNEST(GENERATE_SERIES(1, GREATEST(LEN(toks) - {_SH_K} + 1, 1))) AS t(i)
)
SELECT eval_doc, train_doc, COUNT(*) AS n_shared,
       COUNT(*) >= 3 AS contaminated
FROM eval_sh e JOIN train_sh t ON e.sh = t.sh
GROUP BY eval_doc, train_doc
"""


@register("n_contamination_check", oracle=_CONTAM_ORACLE, tags=("N2", "N5"))
def n_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination scan: held-out eval docs (doc_id % 97 = 0)
    are checked for 8-token shingle overlap against the training corpus
    (which includes planted near-copies of the eval docs, so the check
    has known positives). Candidate generation is an equi-join on the
    shingle string — the same bucket-join shape as the LSH dedup path,
    so it scales as a hash join, never an all-pairs comparison."""
    from ..operators.dedup import shingle_rows

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = d.filter(F.col("doc_id") % 97 == 0)
    train_docs = (
        d.filter(F.col("doc_id") % 97 != 0)
        .unionByName(
            eval_docs.select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.lit("extra prefix "), F.col("text")).alias("text"),
            )
        )
        .repartition(F.col("doc_id"))
    )
    # ^ keyed by doc_id (round 11): shingle_rows' per-doc window reuses
    # hashpartitioning(doc_id), so the spread exchange and the window
    # exchange (which would otherwise move the EXPLODED token rows)
    # collapse into this one document-row shuffle.
    eval_sh = (
        shingle_rows(eval_docs, "doc_id", "text", _SH_K)
        .dropDuplicates(["doc_id", "__sh"])
        .select(F.col("doc_id").alias("eval_doc"), "__sh")
    )
    train_sh = (
        shingle_rows(train_docs, "doc_id", "text", _SH_K)
        .dropDuplicates(["doc_id", "__sh"])
        .select(F.col("doc_id").alias("train_doc"), "__sh")
    )
    return (
        eval_sh.join(train_sh, "__sh")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .withColumn("contaminated", F.col("n_shared") >= 3)
    )


# --- deterministic stratified sampling --------------------------------------

_SAMPLE_PCT = 20      # keep ~20% per stratum
_LCG_MULT = 48271     # minstd multiplier; doc_id * mult stays < 2^63 here

_SAMPLE_ORACLE = f"""
SELECT lang,
       COUNT(*)                                                AS n_total,
       COUNT(*) FILTER (WHERE (doc_id * {_LCG_MULT}) % 100 < {_SAMPLE_PCT})
                                                               AS n_sampled,
       MIN(CASE WHEN (doc_id * {_LCG_MULT}) % 100 < {_SAMPLE_PCT}
                THEN doc_id END)                               AS first_sampled
FROM documents
GROUP BY lang
"""


@register("n_stratified_sample", oracle=_SAMPLE_ORACLE, tags=("N5", "P2"))
def n_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~20% stratified sample per language via a
    deterministic key-hash filter ((doc_id * 48271) % 100 — an LCG step
    both engines compute identically; production would use xxhash64,
    which has no DuckDB twin). Unlike rand()-based sampling this is
    stable across retries, partitionings, and engines — the property a
    training-data ablation actually needs."""
    d = load_table(spark, sf_dir, "documents")
    keep = (F.col("doc_id") * _LCG_MULT) % 100 < _SAMPLE_PCT
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(keep).alias("n_sampled"),
        F.min(F.when(keep, F.col("doc_id"))).alias("first_sampled"),
    )


# --- MERGE-style upsert on plain parquet ------------------------------------

_MERGE_ORACLE = f"""
WITH merged AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 10 = 0
                   AND c_mktsegment IN ('BUILDING', 'MACHINERY')
              THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal
  FROM customer
  UNION ALL
  SELECT 500000 + r, 'BUILDING', 123.45
  FROM (SELECT UNNEST(GENERATE_SERIES(1, 5)) AS r)
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM({CENTS_SQL.format(expr="bal")}) AS BIGINT) AS total_bal_cents
FROM merged
GROUP BY c_mktsegment
"""


@register("s_merge_upsert", oracle=_MERGE_ORACLE, tags=("S4", "S5"))
def s_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulated on plain parquet — the lakehouse upsert
    pattern without a table format: stage the merged rows for the
    AFFECTED partitions only, then rewrite just those partitions with
    dynamic partition overwrite (`partitionOverwriteMode=dynamic`, set
    per-write so it works on any session). Untouched partitions are
    never read or rewritten — at 100 TB that is the difference between
    rewriting 2 segments and rewriting the table.

    Steps: (1) seed a segment-partitioned base table, (2) build updates
    (balance bump for keys %10==0 in 2 segments) and 5 brand-new rows,
    (3) anti-join base→ keep unmatched, union updates, stage to scratch,
    (4) dynamic-overwrite the affected partitions, (5) report final
    per-segment counts and balance sums."""
    from ..sources import scratch_dir

    base_path = scratch_dir(sf_dir, "merge_base")
    stage_path = scratch_dir(sf_dir, "merge_stage")

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    # (1) seed the partitioned base table (fresh per run → idempotent).
    c.write.mode("overwrite").partitionBy("c_mktsegment").parquet(base_path)
    base = spark.read.parquet(base_path)

    # (2) updates + inserts, all within the two affected segments.
    updates = base.filter(
        (F.col("c_custkey") % 10 == 0)
        & F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    ).select(
        "c_custkey", "c_mktsegment", (F.col("c_acctbal") + 100.0).alias("c_acctbal")
    )
    inserts = spark.range(1, 6).select(
        (F.col("id") + 500000).alias("c_custkey"),
        F.lit("BUILDING").alias("c_mktsegment"),
        F.lit(123.45).alias("c_acctbal"),
    )
    upserts = updates.unionByName(inserts)

    # (3) merge = unmatched base rows of the affected partitions + upserts.
    affected = ["BUILDING", "MACHINERY"]
    base_affected = base.filter(F.col("c_mktsegment").isin(affected))
    keep = base_affected.join(
        upserts.select("c_custkey"), "c_custkey", "left_anti"
    )
    merged = keep.unionByName(upserts)
    # Stage before rewriting: Spark cannot overwrite a path it is reading.
    merged.write.mode("overwrite").parquet(stage_path)

    # (4) rewrite ONLY the affected partitions of the base table.
    spark.read.parquet(stage_path).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("c_mktsegment").parquet(base_path)

    # (5) final state, compact and deterministic.
    final = spark.read.parquet(base_path)
    return final.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(cents(F.col("c_acctbal"))).alias("total_bal_cents"),
    )


# --- deterministic epoch shuffle + sharding ---------------------------------

_EPOCH = 3         # which training epoch we are shuffling for
_SHUF_MOD = 999983  # prime modulus for the LCG permutation step
_N_SHARDS = 16

_SHUFFLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         ((doc_id + {_EPOCH}) * {_LCG_MULT}) % {_SHUF_MOD} AS shuffle_key
  FROM documents
)
SELECT shuffle_key % {_N_SHARDS}                       AS shard,
       COUNT(*)                                        AS n_docs,
       MIN_BY(doc_id, shuffle_key * 1000000 + doc_id)  AS first_doc,
       CAST(SUM(doc_id) AS BIGINT)                     AS docs_checksum
FROM keyed
GROUP BY shard
"""


@register("n_epoch_shuffle", oracle=_SHUFFLE_ORACLE, tags=("N5", "A1"))
def n_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle + sharding: shuffle_key =
    LCG(doc_id + epoch) gives a reproducible pseudo-random order that
    changes every epoch, and shard = key % 16 assigns docs to output
    shards. Unlike `orderBy(rand())` this is stable across retries and
    engines — rerunning a failed shard job yields byte-identical shards,
    which is what makes training-data shuffles resumable. The shard
    assignment is a pure map (no global sort): at 100 TB the write is
    `partitionBy(shard)` with each shard sorted by shuffle_key locally,
    never a single total order."""
    d = load_table(spark, sf_dir, "documents")
    shuffle_key = ((F.col("doc_id") + _EPOCH) * _LCG_MULT) % _SHUF_MOD
    keyed = d.select("doc_id", shuffle_key.alias("shuffle_key"))
    return keyed.groupBy(
        (F.col("shuffle_key") % _N_SHARDS).alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min_by(
            "doc_id", F.col("shuffle_key") * 1000000 + F.col("doc_id")
        ).alias("first_doc"),
        F.sum("doc_id").cast("long").alias("docs_checksum"),
    )


# --- hash-based train/val/test split ----------------------------------------

_SPLIT_MULT = 2654435761  # Knuth multiplicative hash constant

_SPLIT_ORACLE = f"""
WITH assigned AS (
  SELECT lang,
         LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tok,
         CASE WHEN (doc_id * {_SPLIT_MULT}) % 100 < 80 THEN 'train'
              WHEN (doc_id * {_SPLIT_MULT}) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang,
       COUNT(*)                   AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM assigned
GROUP BY split, lang
"""


@register("n_train_val_test_split", oracle=_SPLIT_ORACLE, tags=("N5", "P6"))
def n_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split by multiplicative hash of doc_id —
    membership is a pure function of the id, so the split is identical
    on every engine, rerun, and data layout (the property random-split
    APIs do not give you). Map-side assignment + one skinny aggregation;
    at scale the same expression becomes the `partitionBy(split)` column
    of the shard writer."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * _SPLIT_MULT) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    assigned = d.select(
        split.alias("split"),
        "lang",
        token_count_whitespace("text").alias("n_tok"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


# --- scalable global id assignment ------------------------------------------

_GLOBAL_IDS_ORACLE = """
SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (ORDER BY source, doc_id) AS BIGINT) AS global_id
FROM documents
"""


@register("n_global_ids", oracle=_GLOBAL_IDS_ORACLE, tags=("N5", "W1", "O1"))
def n_global_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row ids (the sample-index assignment step of a
    shard writer) via the two-level operator: per-source counts →
    tiny prefix-sum → broadcast offsets + per-source row_number. The
    oracle is the naive global ROW_NUMBER — identical ids, but the
    Spark plan never funnels the corpus through one reducer; only the
    20-row per-bucket count table crosses a single-partition window."""
    from ..operators.ids import global_ids

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return global_ids(d, "source", ["doc_id"]).select(
        "doc_id", "source", F.col("global_id").cast("long")
    )


# --- domain-mix rebalancing weights -----------------------------------------

_MIX_CAP = 4.0  # max upsampling factor

_MIX_ORACLE = f"""
WITH per_source AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(LEN(STRING_SPLIT(LOWER(text), ' '))) AS BIGINT) AS total_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(total_tokens) AS all_tokens,
         COUNT(*)          AS n_sources
  FROM per_source
)
SELECT source, n_docs, total_tokens,
       ROUND(total_tokens / CAST(all_tokens AS DOUBLE), 6)  AS mix_frac,
       ROUND(LEAST(
         (all_tokens / CAST(n_sources AS DOUBLE)) / total_tokens,
         {_MIX_CAP}), 6)                                    AS sample_weight
FROM per_source CROSS JOIN tot
"""


@register("n_domain_mix_rebalance", oracle=_MIX_ORACLE, tags=("N5", "A2"))
def n_domain_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing: per-source token shares and the
    sampling weight that moves the mix toward uniform-by-source, capped
    at 4x upsampling (the cap is what real mixes do — unlimited
    upsampling of a tiny source just repeats its documents). One corpus
    aggregation; the totals are a broadcast scalar; the output is one
    row per source — the weights then drive `TABLESAMPLE`/hash-sample
    filters in the shard writer."""
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_whitespace("text")).cast("long").alias("total_tokens"),
    )
    tot = per_source.agg(
        F.sum("total_tokens").alias("all_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") / F.col("all_tokens").cast("double"), 6).alias(
            "mix_frac"
        ),
        F.round(
            F.least(
                (F.col("all_tokens") / F.col("n_sources").cast("double"))
                / F.col("total_tokens"),
                F.lit(_MIX_CAP),
            ),
            6,
        ).alias("sample_weight"),
    )


_INCR_AGG_ORACLE = f"""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(SUM({CENTS_SQL.format(expr="o_totalprice")}) AS BIGINT) AS total_cents,
       MAX(o_orderdate) AS last_orderdate
FROM orders
GROUP BY o_custkey
"""


@register("s_incremental_agg_maintenance", oracle=_INCR_AGG_ORACLE, tags=("S4", "A1", "J3"))
def s_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: a per-customer
    order-summary table is maintained by MERGING a delta batch into the
    persisted aggregate state instead of recomputing from all history —
    the daily-refresh shape of every warehouse rollup.

    The state table holds only ALGEBRAIC aggregates (count, sum, max),
    so merge = full-outer join on the group key + elementwise combine;
    cost is O(state + delta) regardless of how much history the state
    summarizes. At 100 TB the full recompute rescans years of fact
    data; this plan touches yesterday's partition and a state table the
    size of the key space. The oracle recomputes from scratch, proving
    merge(state, delta) == full recompute.

    State is a fingerprinted parquet artifact (same discipline as the
    LSH signature table): rebuilt when the input data changes, reused
    otherwise.
    """
    from ..sources import materialize

    split = "1997-01-01"
    orders = load_table(spark, sf_dir, "orders")

    def summarize(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
            F.max("o_orderdate").alias("last_orderdate"),
        )

    state_path = materialize(
        sf_dir,
        "incr_agg_state",
        lambda p: summarize(orders.filter(F.col("o_orderdate") < split))
        .write.mode("overwrite")
        .parquet(p),
        tables=("orders",),
        params=f"incr_agg_v1:{split}",
    )
    state = spark.read.parquet(state_path)
    delta = summarize(orders.filter(F.col("o_orderdate") >= split))
    s, d = state.alias("s"), delta.alias("d")
    return (
        s.join(d, F.col("s.o_custkey") == F.col("d.o_custkey"), "full_outer")
        .select(
            F.coalesce(F.col("s.o_custkey"), F.col("d.o_custkey")).alias("o_custkey"),
            (
                F.coalesce(F.col("s.n_orders"), F.lit(0))
                + F.coalesce(F.col("d.n_orders"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("s.total_cents"), F.lit(0))
                + F.coalesce(F.col("d.total_cents"), F.lit(0))
            ).alias("total_cents"),
            F.greatest(F.col("s.last_orderdate"), F.col("d.last_orderdate")).alias(
                "last_orderdate"
            ),
        )
    )


# --- CDC changelog apply (I/U/D, latest-op-wins) ----------------------------

_CDC_ORACLE = f"""
WITH snapshot AS (
  SELECT c_custkey, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey % 7 <> 0
),
changelog AS (
  SELECT c_custkey, c_mktsegment, c_acctbal + 50.0 AS bal, 'U' AS op, 1 AS seq
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment, c_acctbal, 'I', 2
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment, NULL, 'D', 3
  FROM customer WHERE c_custkey % 11 = 0
),
net AS (
  SELECT c_custkey, c_mktsegment AS seg, bal, op
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
        FROM changelog)
  WHERE rn = 1
),
final AS (
  SELECT COALESCE(n.seg, s.c_mktsegment) AS c_mktsegment,
         CASE WHEN n.op IN ('U', 'I') THEN n.bal ELSE s.c_acctbal END AS bal
  FROM snapshot s FULL OUTER JOIN net n ON s.c_custkey = n.c_custkey
  WHERE n.op IS NULL OR n.op <> 'D'
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM({CENTS_SQL.format(expr="bal")}) AS BIGINT) AS total_bal_cents
FROM final
GROUP BY c_mktsegment
"""


@register("s_cdc_apply_changelog", oracle=_CDC_ORACLE, tags=("S4", "J3", "A1", "P5"))
def s_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: collapse an insert/update/delete changelog to its net
    effect per key (latest sequence number wins) and merge it into a
    snapshot — the Debezium-consumer / lakehouse-ingest shape that
    s_merge_upsert lacks (it has no deletes and no op ordering). Keys
    exercise every composition: U-then-D nets to a delete, U on a
    missing key followed by I nets to an insert, I-then-D cancels out.

    Scale design: latest-op-wins is a COMBINABLE max(struct(seq, ...))
    — map-side partial aggregation collapses each key's ops before the
    shuffle, so a hot key with millions of updates ships one row per map
    task, not millions (the window-function spelling would ship all of
    them). The apply itself is one key-equi full-outer join; at 100 TB
    the snapshot side stays partition-pruned by the net-ops' key range
    and untouched partitions rewrite via dynamic partition overwrite
    exactly as s_merge_upsert demonstrates."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    snapshot = c.filter(F.col("c_custkey") % 7 != 0)
    upd = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") + 50.0).alias("bal"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    ins = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").alias("bal"),
        F.lit("I").alias("op"),
        F.lit(2).alias("seq"),
    )
    dele = c.filter(F.col("c_custkey") % 11 == 0).select(
        "c_custkey",
        "c_mktsegment",
        F.lit(None).cast("double").alias("bal"),
        F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
    )
    log = upd.unionByName(ins).unionByName(dele)
    # Net effect per key: max over (seq, ...) structs — combinable, so the
    # reduction happens map-side before any shuffle.
    last = F.max(F.struct("seq", "op", "bal", "c_mktsegment")).alias("last")
    net = log.groupBy("c_custkey").agg(last).select(
        "c_custkey",
        F.col("last.op").alias("op"),
        F.col("last.bal").alias("bal"),
        F.col("last.c_mktsegment").alias("seg"),
    )
    merged = snapshot.join(net, "c_custkey", "full_outer").filter(
        F.col("op").isNull() | (F.col("op") != "D")
    )
    final = merged.select(
        F.coalesce("seg", "c_mktsegment").alias("c_mktsegment"),
        F.when(F.col("op").isin("U", "I"), F.col("bal"))
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    return final.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(cents(F.col("bal"))).alias("total_bal_cents"),
    )


# ---------------------------------------------------------------------------
# Temperature-based multilingual sampling weights (τ = 2)
# ---------------------------------------------------------------------------

_TEMP_ORACLE = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM counts),
weighted AS (
  SELECT c.lang, c.n_docs, t.n,
         CAST(c.n_docs * 1000000 // t.n AS BIGINT) AS share_ppm,
         CAST(ROUND(SQRT(c.n_docs / CAST(t.n AS DOUBLE)) * 1000000)
              AS BIGINT) AS w_micro
  FROM counts c CROSS JOIN tot t
),
norm AS (
  SELECT lang, n_docs, share_ppm, w_micro,
         CAST(SUM(w_micro) OVER () AS BIGINT) AS w_total
  FROM weighted
)
SELECT lang, n_docs, share_ppm, w_micro,
       CAST(w_micro * 1000000 // w_total AS BIGINT) AS p_ppm,
       CAST((w_micro * 1000000 // w_total) * 1000 // share_ppm AS BIGINT)
         AS upsample_milli
FROM norm
ORDER BY lang
"""


@register(
    "n_temperature_sampling_weights",
    oracle=_TEMP_ORACLE,
    tags=("N5", "A1", "A2", "F3"),
)
def n_temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based sampling weights across languages, τ = 2:
    p_i ∝ share_i^(1/τ) = √share_i — the standard multilingual
    pretraining rebalance (mBERT/XLM-R exponent-smoothing) that
    upsamples low-resource languages without letting them dominate
    (`upsample_milli` > 1000 marks the upsampled tail). Complements
    `n_domain_mix_rebalance` (capped uniform) with the smooth
    power-law policy.

    Determinism: τ = 2 is chosen deliberately — √x is IEEE
    correctly-rounded, so the weight leaf ROUND(√share·1e6) is
    bit-identical across engines WITHOUT needing libm pow (a
    fractional exponent would not be); every downstream number is
    exact integer ppm off those leaves. Scale: one combinable count
    per lang, a 1-row total, all remaining math on a |langs|-row frame.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").cast("long").alias("n"))
    weighted = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr("CAST(n_docs * 1000000 DIV n AS BIGINT)").alias("share_ppm"),
        F.round(F.sqrt(F.col("n_docs") / F.col("n").cast("double")) * 1000000)
        .cast("long")
        .alias("w_micro"),
    )
    norm = weighted.withColumn(
        "w_total", F.sum("w_micro").over(Window.partitionBy()).cast("long")
    )
    return norm.select(
        "lang",
        "n_docs",
        "share_ppm",
        "w_micro",
        F.expr("CAST(w_micro * 1000000 DIV w_total AS BIGINT)").alias("p_ppm"),
        F.expr(
            "CAST((w_micro * 1000000 DIV w_total) * 1000 DIV share_ppm"
            " AS BIGINT)"
        ).alias("upsample_milli"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Curriculum ordering: difficulty tertiles with per-lang composition
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM documents
),
phased AS (
  SELECT lang, n_chars,
         CAST((3 * (rn - 1)) // n AS BIGINT) + 1 AS phase
  FROM scored
)
SELECT phase,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
FROM phased
GROUP BY phase
ORDER BY phase
"""


@register(
    "n_curriculum_phases",
    oracle=_CURRICULUM_ORACLE,
    tags=("N5", "W1", "A7", "P6"),
)
def n_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: documents ranked by a
    difficulty proxy (length — short docs first) and cut into three
    training phases by explicit integer rank-tertile math (the
    e_pareto_8020 bucket rule, not NTILE), with per-phase length
    ranges and language composition — the check that a
    difficulty-ordered curriculum doesn't accidentally become a
    LANGUAGE curriculum (if one lang dominates a phase, the schedule
    needs stratification).

    Scale: the global ranking window is the honest exact-order cost
    (the bucketed prefix-sum alternative in operators/ids.py applies
    at corpus scale); everything else is one combinable 3-row rollup.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    scored = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    phased = scored.select(
        "lang",
        "n_chars",
        (F.expr("(3 * (rn - 1)) DIV n") + 1).cast("long").alias("phase"),
    )
    return (
        phased.groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("long")
            .alias("n_en"),
            F.sum(F.when(F.col("lang") == "zh", 1).otherwise(0))
            .cast("long")
            .alias("n_zh"),
        )
        .orderBy("phase")
    )


# ---------------------------------------------------------------------------
# Leakage-safe group k-fold assignment
# ---------------------------------------------------------------------------

_GROUP_KFOLD_ORACLE = """
WITH srcs AS (
  SELECT source,
         (ROW_NUMBER() OVER (ORDER BY source) - 1) % 5 AS fold
  FROM (SELECT DISTINCT source FROM documents)
),
assigned AS (
  SELECT d.doc_id, d.n_chars, s.fold, d.source
  FROM documents d JOIN srcs s ON d.source = s.source
),
leak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaky_sources
  FROM (
    SELECT source FROM assigned GROUP BY source
    HAVING COUNT(DISTINCT fold) > 1
  )
)
SELECT fold,
       CAST(COUNT(*) AS BIGINT)               AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT)           AS total_chars,
       n_leaky_sources
FROM assigned CROSS JOIN leak
GROUP BY fold, n_leaky_sources
ORDER BY fold
"""


@register(
    "n_group_kfold",
    oracle=_GROUP_KFOLD_ORACLE,
    tags=("N5", "A1", "J1", "W1"),
)
def n_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group k-fold assignment for leakage-safe evaluation: every
    document of a SOURCE lands in the same fold (grouped splitting is
    what keeps near-duplicate documents from the same crawl domain out
    of both train and validation), and the output carries the leakage
    audit inline — n_leaky_sources counts sources spanning >1 fold and
    must be 0 by construction.

    Scale design — fold assignment is a deterministic function of the
    GROUP, not the row: one tiny distinct-source rollup (bounded by
    source cardinality) gets row-numbered round-robin into 5 folds,
    then broadcast-joins back onto the fact — no hash function whose
    implementation could differ between engines, no shuffle of the
    fact beyond the final per-fold rollup. The leakage audit aggregates
    the assignment, not the fact."""
    d = load_table(spark, sf_dir, "documents")
    srcs = (
        d.select("source")
        .distinct()
        .select(
            "source",
            ((F.row_number().over(Window.orderBy("source")) - 1) % 5).alias(
                "fold"
            ),
        )
    )
    assigned = d.join(F.broadcast(srcs), "source")
    leak = (
        assigned.groupBy("source")
        .agg(F.count_distinct("fold").alias("nf"))
        .filter(F.col("nf") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaky_sources"))
    )
    return (
        assigned.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .crossJoin(F.broadcast(leak))
        .select("fold", "n_docs", "n_sources", "total_chars", "n_leaky_sources")
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# Merge-on-read deletes (deletion-vector read path) vs copy-on-write parity
# ---------------------------------------------------------------------------

_MOR_ORACLE = """
WITH alive AS (
  SELECT * FROM orders WHERE NOT (o_orderkey % 37 = 0)
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_price,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 37 = 0) AS BIGINT)
         AS n_deleted
FROM alive
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register(
    "s_merge_on_read_deletes",
    oracle=_MOR_ORACLE,
    tags=("S4", "S1", "J5", "A1"),
)
def s_merge_on_read_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector (merge-on-read) delete semantics on plain
    parquet: the base file is written ONCE and never rewritten; deletes
    land as a tiny side file of deleted keys; readers anti-join the
    deletion vector at scan time. This is the Iceberg/Delta
    deletion-vector trade — O(deleted) write cost instead of
    copy-on-write's O(table) rewrite — expressed with the primitives
    this engine has (the jars aren't installable offline; the
    PROTOCOL is what matters). The aggregate over the merged view must
    equal querying the logical table directly — which is exactly what
    the oracle computes, so the driver hash-proves MoR == logical
    truth. n_deleted rides along to prove the vector was applied.

    Scale — the deletion vector is broadcast (deletes ≪ table, the
    premise of MoR); the base scan stays pruned/columnar; compaction
    (fold the vector into a rewrite) is `s_small_file_compaction`'s
    job."""
    from ..sources import materialize

    o = load_table(spark, sf_dir, "orders")
    inputs = {"tables": ("orders",), "params": "mor-v1"}
    base_path = materialize(
        sf_dir,
        "mor_base_orders",
        lambda p: o.write.mode("overwrite").parquet(p),
        **inputs,
    )
    dv_path = materialize(
        sf_dir,
        "mor_deletes_orders",
        lambda p: o.filter(F.col("o_orderkey") % 37 == 0)
        .select("o_orderkey")
        .write.mode("overwrite")
        .parquet(p),
        **inputs,
    )
    base = spark.read.parquet(base_path)
    dv = spark.read.parquet(dv_path)
    alive = base.join(F.broadcast(dv), "o_orderkey", "left_anti")
    n_deleted = dv.agg(F.count(F.lit(1)).alias("n_deleted"))
    return (
        alive.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0
            ).alias("total_price"),
        )
        .crossJoin(F.broadcast(n_deleted))
        .select("o_orderstatus", "n_rows", "total_price", "n_deleted")
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# DPO/RLHF preference-pair construction (rank-aligned within-group pairing)
# ---------------------------------------------------------------------------

_DPO_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rk_top,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars ASC, doc_id) AS rk_bot,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
),
pairs AS (
  SELECT t.lang,
         t.doc_id AS chosen_id, b.doc_id AS rejected_id,
         t.n_chars - b.n_chars AS margin
  FROM scored t
  JOIN scored b
    ON t.lang = b.lang AND t.rk_top = b.rk_bot
   AND t.rk_top <= t.n_lang / 2
  WHERE t.n_chars - b.n_chars >= 100
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(margin) AS BIGINT) AS min_margin,
       ROUND(SUM(CAST(margin AS DOUBLE)) / COUNT(*), 6) AS avg_margin,
       CAST(MAX(margin) AS BIGINT) AS max_margin
FROM pairs
GROUP BY lang
ORDER BY lang
"""


@register(
    "n_dpo_preference_pairs",
    oracle=_DPO_ORACLE,
    tags=("N5", "P6", "W1", "J10"),
)
def n_dpo_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction: within each language
    stratum, rank documents by a quality signal from both ends and pair
    the i-th best with the i-th worst (rank-aligned pairing), keeping
    only pairs whose margin clears a threshold — wide-margin pairs are
    the informative ones for preference optimization, and rank-aligned
    pairing maximizes margins subject to every doc appearing at most
    once per side.

    Scale: the self-join is an equi-join on (lang, rank) — two window
    ranks over the same partitioning (one shuffle, reused by both
    windows and the join via AQE) and never a pairwise fan-out. The
    margin filter happens before the rollup, so the pair table is the
    training artifact and the output is its audit summary.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    w_lang = Window.partitionBy("lang")
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number()
        .over(w_lang.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rk_top"),
        F.row_number()
        .over(w_lang.orderBy(F.col("n_chars").asc(), "doc_id"))
        .alias("rk_bot"),
        F.count(F.lit(1)).over(w_lang).alias("n_lang"),
    )
    top = scored.select(
        "lang",
        F.col("doc_id").alias("chosen_id"),
        F.col("n_chars").alias("chars_top"),
        "rk_top",
        "n_lang",
    )
    bot = scored.select(
        F.col("lang").alias("lang_b"),
        F.col("doc_id").alias("rejected_id"),
        F.col("n_chars").alias("chars_bot"),
        "rk_bot",
    )
    pairs = (
        top.join(
            bot,
            (top.lang == bot.lang_b) & (top.rk_top == bot.rk_bot),
        )
        .where(F.col("rk_top") <= F.col("n_lang") / 2)
        .select(
            "lang",
            "chosen_id",
            "rejected_id",
            (F.col("chars_top") - F.col("chars_bot")).alias("margin"),
        )
        .where(F.col("margin") >= 100)
    )
    return (
        pairs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min("margin").cast("bigint").alias("min_margin"),
            F.round(
                F.sum(F.col("margin").cast("double")) / F.count(F.lit(1)), 6
            ).alias("avg_margin"),
            F.max("margin").cast("bigint").alias("max_margin"),
        )
        .orderBy("lang")
    )
