"""Deduplication operators (SURVEY.md §2.10 N1/N2): exact, MinHash+LSH,
SimHash, n-gram Jaccard.

All pure DataFrame compositions — hashing via xxhash64/sha2 built-ins,
signatures via min-aggregates over exploded shingles, candidate
generation via equi-joins on bucket keys. No Python in the row path, fixed seeds, no
nondeterministic functions → stable output at any parallelism.

Scale design: every near-dup variant reduces the quadratic all-pairs
problem to an equi-join on a derived key (LSH band bucket, SimHash
prefix block, shared token), which Spark shuffles/hash-joins like any
other key — that is the property that survives 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def normalized_text_hash(text: Column) -> Column:
    """Exact-dedup key: sha256 of lower(trim(text))."""
    return F.sha2(F.lower(F.trim(text)), 256)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the smallest id per normalized-text hash; adds `n_copies`."""
    key = normalized_text_hash(F.col(text_col)).alias("__text_hash")
    w = Window.partitionBy("__text_hash")
    ranked = (
        df.withColumn("__text_hash", key)
        .withColumn("__keep", F.min(id_col).over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
    )
    return ranked.filter(F.col(id_col) == F.col("__keep")).drop("__text_hash", "__keep")


def exact_dedup_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """`exact_dedup` specialized to the (survivor id, n_copies) report:
    one partial+final hash aggregation per normalized-text hash instead
    of the window's exchange + full sort. Identical rows to
    `exact_dedup(df, id, text).select(id, "n_copies")` — the survivor
    is min(id) per hash group either way — but the shuffle moves one
    (hash, partial-min, partial-count) row per distinct hash per map
    task rather than every input row, and nothing is sorted. Use this
    form whenever the survivor's other columns are not needed."""
    key = normalized_text_hash(F.col(text_col)).alias("__text_hash")
    return (
        df.select(F.col(id_col), key)
        .groupBy("__text_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


def word_shingles(toks: Column, k: int) -> Column:
    """k-word shingles (contiguous) of a token array."""
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n), lambda i: F.concat_ws(" ", F.slice(toks, i, k))
    )


def shingle_rows(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle) rows: k-word shingles built with posexplode + window
    lead()s — whole-stage-codegen throughout (the array-HOF form in
    `word_shingles` evaluates interpreted, ~10× slower per shingle).

    Shingle strings are identical to word_shingles': full k-token windows
    at positions 0..n-k; a doc shorter than k tokens yields its single
    all-tokens shingle (concat_ws skips the null leads)."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    rows = df.select(
        F.col(id_col),
        F.size(toks).alias("__n"),
        F.posexplode(toks).alias("__pos", "__tok"),
    )
    w = Window.partitionBy(id_col).orderBy("__pos")
    leads = [F.lead("__tok", i).over(w) for i in range(1, k)]
    return (
        rows.withColumn("__sh", F.concat_ws(" ", F.col("__tok"), *leads))
        .filter((F.col("__pos") <= F.col("__n") - k) | (F.col("__pos") == 0))
        .select(F.col(id_col), F.col("__sh"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int, num_hashes: int
) -> DataFrame:
    """(id, sig array<long>) MinHash signatures the codegen-friendly way:
    shingle rows (see shingle_rows), num_hashes hash columns inside
    whole-stage codegen, min-aggregate per document, repack the array:
    sig[i] = min over the document's shingles of xxhash64(shingle,
    seed=i). The shingle window and this aggregation share the same
    hash partitioning on id — one shuffle."""
    ex = shingle_rows(df, id_col, text_col, shingle_k)
    agg = ex.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("__sh", F.lit(i))).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    signature_artifact: Callable[[Callable[[str], object]], str] | None = None,
    with_estimate: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs agreeing on ALL rows of at
    least one band land in the same bucket; the bucket equi-join emits
    (id_a < id_b) pairs with the estimated Jaccard = fraction of equal
    signature components.

    Plan shape (the part that survives 100 TB):
      1. signature table (id, sig) — consumed three times (banding +
         both sides of the estimate join), so it is materialized ONCE
         when `signature_artifact` is given (the production move: the
         signature table is a pipeline artifact, not a throwaway subplan;
         without it Spark recomputes the whole text→shingle→hash chain
         per consumer). `signature_artifact(build)` publishes the table
         through `build(path)` unless a current artifact is already
         there and returns the parquet path — callers bind
         `sources.materialize` to the artifact's name and inputs.
      2. candidate pairs carry ONLY (id_a, id_b): dedup of bare longs is
         a HashAggregate; dragging the sig arrays through the join would
         force sort-based aggregation and a far wider shuffle.
      3. signatures re-attach by two id equi-joins for the estimate.
    """
    rows = num_hashes // bands
    signed = minhash_signatures(df, id_col, text_col, shingle_k, num_hashes)
    if signature_artifact is not None:
        path = signature_artifact(
            lambda p: signed.write.mode("overwrite").parquet(p)
        )
        signed = df.sparkSession.read.parquet(path)
    # Band hashes as EXPLICIT columns, not array lambdas: transform()/
    # slice() higher-order expressions evaluate interpreted (~100x
    # slower than codegen); unrolling the (band x row) structure into
    # plain getItem/concat_ws/xxhash64 keeps the whole projection inside
    # whole-stage codegen. Values are identical to the lambda form.
    band_array = F.expr(
        "array(%s)"
        % ", ".join(
            "xxhash64(concat_ws(',', %s))"
            % ", ".join(
                f"CAST(sig[{bnd * rows + r}] AS STRING)" for r in range(rows)
            )
            for bnd in range(bands)
        )
    )
    banded = signed.select(
        id_col,
        F.posexplode(band_array).alias("band", "band_hash"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if not with_estimate:
        # Candidate pairs only (round 11): consumers that just count or
        # set-compare candidates don't need est_jaccard, and the two
        # signature re-attach joins below survive column pruning (an
        # inner join can't be optimized away), so skip them outright.
        return pairs
    sig_a = signed.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = signed.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(float(num_hashes))
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )


#: SimHash as a SQL expression (needs expr(): shiftright's bit-count arg
#: must be a column, which the Python DSL doesn't accept). 64-bit
#: signature: bit j of sig = 1 iff Σ_tokens (±1 by bit j of xxhash64(tok)) > 0.
_SIMHASH_EXPR = """
aggregate(
  sequence(0, 63),
  0L,
  (acc, j) -> acc + IF(
    aggregate({toks}, 0L,
      (s, w) -> s + IF(((xxhash64(w) >> j) & 1) = 1, 1L, -1L)) > 0,
    shiftleft(1L, j), 0L)
)
"""


def simhash64(toks_sql: str) -> Column:
    """64-bit SimHash of a token-array SQL expression.

    NOTE: nested `aggregate()` higher-order functions evaluate
    INTERPRETED (64 x n_tokens lambda calls per row). For a corpus-scale
    signature build use `simhash64_table`, which computes the identical
    value through whole-stage codegen; this expression form remains for
    ad-hoc single-column use."""
    return F.expr(_SIMHASH_EXPR.format(toks=toks_sql))


def simhash64_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) for every row — value-identical to
    `simhash64("split(lower(text), ' '))"` (same per-token xxhash64,
    same strictly-positive majority rule, duplicates counted) but
    expressed as a codegen explode + ONE combinable 64-sum aggregate:
    each token contributes ±1 per bit map-side, partial sums merge
    associatively, and the sign test + bit pack run on the per-doc
    aggregate row. At 100 TB this is a single shuffle keyed by doc id
    with map-side combine; the interpreted fold form is 64·n_tok lambda
    dispatches per document in one task.

    Row cardinality matches the fold form too: NULL-text rows are KEPT
    (explode_outer emits a single NULL token, the ±1 term is NULL for
    it, SUM of only-NULLs is NULL) and packed to signature 0 — exactly
    what the expression form yields for NULL text, where the inner
    aggregate is NULL and IF(NULL > 0, bit, 0) takes the else branch on
    all 64 bits. Any consumer of the (id, simhash) table sees every
    input id."""
    toks = df.select(
        F.col(id_col),
        F.explode_outer(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
    )
    # xxhash64(NULL) is non-null (the seed), so the NULL-token guard must
    # be explicit: a NULL term keeps SUM at NULL for null-text docs.
    h = F.xxhash64(F.col("tok"))
    pm1 = F.when(
        F.col("tok").isNull(), F.lit(None).cast("int")
    )
    sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                pm1.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    sig: Column | None = None
    for j in range(64):
        term = F.when(
            F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    # NULL text ⇒ every b_j is NULL ⇒ every WHEN(b_j > 0) already takes
    # its otherwise(0) branch, packing to 0L like the fold form.
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, simhash_col: str, max_hamming: int
) -> DataFrame:
    """Near-dup pairs by SimHash with a recall GUARANTEE, via TWO-LEVEL
    pigeonhole blocking (round 12; Manku et al.'s multi-index idea):
    the 64-bit signature splits into floor(max_hamming/2)+1 disjoint
    bands — few enough that any pair within the Hamming limit differs
    by AT MOST ONE bit in some band (if every band had >= 2 differing
    bits, the total would be >= 2*(floor(k/2)+1) >= k+2 > k) — and the
    in-band <=1-bit match becomes an EXACT key equi-join by
    multi-indexing one side: the probe side emits, per band, the band
    value plus every single-bit flip of it (width+1 keys), the build
    side emits the exact value only. A 0-bit band matches exact=exact;
    a 1-bit band matches flipped=exact. The exact Hamming filter then
    confirms every candidate, so the output pair set is identical to
    any recall-complete blocking.

    Why not the single-level max_hamming+1-band split (rounds 4-11):
    its bands are ~64/(k+1) bits wide, so every band bucket holds
    n/2^(64/(k+1)) docs and the candidate join output is ~(k+1)*n^2 /
    2^(64/(k+1)) — for k=8 that is 9*n^2/128. The two-level split pays
    (width+1)x more probe-side rows (tiny: (id, band, key) triples) for
    ~2^6x smaller buckets: ~sum_j (w_j+1)*n^2/2^w_j ~= 0.010*n^2 vs
    0.070*n^2 — ~7x fewer candidate rows shuffled, hamming-checked and
    deduplicated, at the same guaranteed recall."""
    if max_hamming < 2:
        # One band would be the whole 64-bit word, whose mask does not
        # fit a LongType literal. Pairs within 0-1 bits need no banding:
        # exact-join the signatures instead.
        raise ValueError(
            f"simhash_near_pairs: max_hamming must be >= 2, got {max_hamming}"
        )
    n_bands = max_hamming // 2 + 1
    # Partition the 64 bits into n_bands contiguous bands whose widths sum
    # to EXACTLY 64 (the first 64 % n_bands bands get one extra bit). A
    # uniform ceil width would claim > 64 bits: the last band's shift would
    # reach 64, which the JVM masks mod 64, silently duplicating band 0 —
    # and the pigeonhole guarantee would be void because only n_bands - 1
    # real bands would partition the word.
    base, extra = divmod(64, n_bands)
    widths = [base + 1] * extra + [base] * (n_bands - extra)
    offsets = [sum(widths[:j]) for j in range(n_bands)]
    assert offsets[-1] + widths[-1] == 64

    def band_val(j: int) -> Column:
        # Band j = bits [offsets[j], offsets[j] + widths[j]).
        return F.shiftrightunsigned(F.col(simhash_col), offsets[j]).bitwiseAND(
            F.lit((1 << widths[j]) - 1)
        )

    exact = df.select(
        F.col(id_col),
        F.col(simhash_col),
        F.posexplode(F.array(*[band_val(j) for j in range(n_bands)])).alias(
            "__band", "__key"
        ),
    )
    # Probe side: per band, the exact value plus all single-bit flips —
    # 64 + n_bands keys per row, all plain codegen bit expressions.
    entries = []
    for j in range(n_bands):
        v = band_val(j)
        entries.append(
            F.struct(F.lit(j).alias("__band"), v.alias("__key"))
        )
        for bit in range(widths[j]):
            entries.append(
                F.struct(
                    F.lit(j).alias("__band"),
                    v.bitwiseXOR(F.lit(1 << bit)).alias("__key"),
                )
            )
    probes = df.select(
        F.col(id_col),
        F.col(simhash_col),
        F.explode(F.array(*entries)).alias("__e"),
    ).select(
        F.col(id_col),
        F.col(simhash_col),
        F.col("__e.__band").alias("__band"),
        F.col("__e.__key").alias("__key"),
    )
    a, b = probes.alias("a"), exact.alias("b")
    hamming = F.bit_count(
        F.col(f"a.{simhash_col}").bitwiseXOR(F.col(f"b.{simhash_col}"))
    )
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    min_jaccard: float,
) -> DataFrame:
    """Exact word-set Jaccard between doc pairs sharing `block_col`
    (blocking keeps the join linear-ish in block sizes). Integer
    |intersection| / |union| → bit-deterministic double."""
    toks = df.select(
        F.col(id_col),
        F.col(block_col).alias("__block"),
        F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), " "))).alias("tok"),
    )
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))

    a, b = toks.alias("a"), toks.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.__block") == F.col("b.__block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_tok").alias("n_b"))
    jac = F.col("n_shared") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    ).cast("double")
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "n_shared", "jaccard")
    )
