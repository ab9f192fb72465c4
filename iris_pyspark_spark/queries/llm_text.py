"""Text-analysis queries over `documents` (SURVEY.md §2.10 N5 + north
star: language-ID, quality scoring, token counting, fingerprinting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.similarity import (
    dot_unrolled,
    dot_unrolled_sql,
    norm_unrolled_sql,
)
from ..operators.text import (
    LANG_MARKERS,
    fingerprint_min_md5,
    predicted_lang,
    quality_score,
    token_count_bpe_ish,
    token_count_whitespace,
    tokens,
)
from ..registry import register


@register(
    "n_text_stats_top_terms",
    oracle="""
WITH toks AS (
  SELECT lang, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
  FROM documents
),
counts AS (
  SELECT lang, term, COUNT(*) AS n
  FROM toks GROUP BY lang, term
)
SELECT lang, term, n, rnk FROM (
  SELECT lang, term, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term ASC) AS rnk
  FROM counts
) t WHERE rnk <= 5
""",
    tags=("N5",),
    headline=True,
)
def n_text_stats_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term frequency: tokenize → explode → count → top-5 per language."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(tokens("text")).alias("term"))
    counts = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "term", "n", "rnk")
    )


@register(
    "n_token_count",
    oracle=r"""
SELECT
  doc_id,
  LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tokens_ws,
  LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tokens_bpe,
  n_chars = LENGTH(text) AS n_chars_consistent
FROM documents
""",
    tags=("N5",),
)
def n_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_whitespace("text").alias("n_tokens_ws"),
        token_count_bpe_ish("text").alias("n_tokens_bpe"),
        (F.col("n_chars") == F.length("text")).alias("n_chars_consistent"),
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), "
            f"t -> LIST_CONTAINS([{lst}], t))) AS score_{lang}"
        )
    # argmax with largest-lang-code tie-break: check codes descending.
    langs_desc = sorted(LANG_MARKERS, reverse=True)
    case = "CASE " + " ".join(
        f"WHEN score_{code} = best THEN '{code}'" for code in langs_desc
    ) + " END"
    greatest = "GREATEST(" + ", ".join(f"score_{c}" for c in sorted(LANG_MARKERS)) + ")"
    return f"""
WITH scored AS (
  SELECT doc_id, lang, {", ".join(score_cols)}
  FROM documents
),
best AS (SELECT *, {greatest} AS best FROM scored)
SELECT doc_id, lang, {case} AS pred_lang, ({case}) = lang AS is_match
FROM best
"""


@register("n_langid", oracle=_langid_oracle(), tags=("N5",))
def n_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language-ID heuristic (deterministic argmax)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    pred = predicted_lang(toks)
    return d.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_match"),
    )


@register(
    "n_quality_score",
    oracle="""
WITH t AS (
  SELECT doc_id,
         LEN(STRING_SPLIT(LOWER(text), ' '))                 AS n_tok,
         LEN(LIST_DISTINCT(STRING_SPLIT(LOWER(text), ' ')))  AS n_uniq,
         LENGTH(text)                                        AS n_char
  FROM documents
)
SELECT doc_id, n_tok, n_uniq,
  LEAST(CAST(n_tok AS DOUBLE) / 60.0, 1.0) * 0.5
  + (n_uniq / CAST(n_tok AS DOUBLE)) * 0.4
  + LEAST(((n_char - (n_tok - 1)) / CAST(n_tok AS DOUBLE)) / 10.0, 1.0) * 0.1
    AS quality
FROM t
""",
    tags=("N5",),
)
def n_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        quality_score("text").alias("quality"),
    )


@register(
    "n_fingerprint",
    oracle="""
SELECT doc_id,
  ARRAY_TO_STRING(
    LIST_SORT(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 4, 1) + 1),
                             i -> MD5(SUBSTR(text, i, 5))))[1:4],
    ',') AS fingerprint
FROM documents
""",
    tags=("N5", "F7"),
)
def n_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: 4 smallest md5s of all 5-grams."""
    d = load_table(spark, sf_dir, "documents")
    # Single-file scan = one partition; the per-doc 5-gram md5 fold is
    # the whole cost, so spread it before computing.
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return d.select("doc_id", fingerprint_min_md5("text", k=5, keep=4).alias("fingerprint"))


_CURATION_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000, UPPER(text), source FROM documents
),
hashed AS (
  SELECT doc_id, text, source, SHA256(LOWER(TRIM(text))) AS h FROM corpus
),
survivors AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM hashed
  ) WHERE rn = 1
),
scored AS (
  SELECT doc_id, source,
         LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tok,
         LEAST(CAST(LEN(STRING_SPLIT(LOWER(text), ' ')) AS DOUBLE) / 60.0, 1.0) * 0.5
         + (LEN(LIST_DISTINCT(STRING_SPLIT(LOWER(text), ' ')))
            / CAST(LEN(STRING_SPLIT(LOWER(text), ' ')) AS DOUBLE)) * 0.4
         + LEAST(((LENGTH(text) - (LEN(STRING_SPLIT(LOWER(text), ' ')) - 1))
                  / CAST(LEN(STRING_SPLIT(LOWER(text), ' ')) AS DOUBLE)) / 10.0, 1.0) * 0.1
           AS quality
  FROM survivors
)
SELECT c.source                                        AS source,
       COUNT(*)                                        AS n_input,
       (SELECT COUNT(*) FROM survivors s WHERE s.source = c.source)
                                                       AS n_after_dedup,
       (SELECT COUNT(*) FROM scored q
        WHERE q.source = c.source AND q.quality >= 0.8) AS n_kept,
       (SELECT CAST(COALESCE(SUM(q.n_tok), 0) AS BIGINT) FROM scored q
        WHERE q.source = c.source AND q.quality >= 0.8) AS tokens_kept
FROM corpus c
GROUP BY c.source
"""


@register(
    "pipeline_data_curation",
    oracle=_CURATION_ORACLE,
    tags=("N1", "N5", "P7"),
    headline=True,
)
def pipeline_data_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation — the composition the engine
    exists for: planted-duplicate corpus → exact dedup (normalized-hash,
    keep-min-id) → quality gate (>= 0.8, bit-deterministic heuristic) →
    per-source accounting of inputs, survivors, kept docs, and kept
    tokens. Every stage is the registered operator, chained; the oracle
    recomputes the identical pipeline in SQL."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.upper("text").alias("text"),
            "source",
        )
    )
    # ONE exchange does double duty (round 11): repartitioning BY the
    # dedup hash both spreads the doubled corpus out of the single-file
    # scan partition AND establishes exactly the clustering the dedup
    # window needs — hashpartitioning(__text_hash) satisfies the
    # window's distribution, so the r10 plan's separate round-robin
    # exchange + hash exchange collapse into one. The corpus bytes now
    # cross the network once instead of twice; only sha256 runs before
    # the exchange (token count / quality score still run after, in
    # parallel), and the per-source rollup stays one conditional
    # aggregation over ~40-byte rows. Same numbers, same oracle.
    from ..operators.dedup import normalized_text_hash

    skinny = (
        corpus.withColumn("__text_hash", normalized_text_hash(F.col("text")))
        .repartition(F.col("__text_hash"))
        .select(
            "doc_id",
            "source",
            "__text_hash",
            token_count_whitespace("text").alias("n_tok"),
            quality_score("text").alias("quality"),
        )
    )
    w = Window.partitionBy("__text_hash")
    flagged = skinny.withColumn(
        "__survivor", F.min("doc_id").over(w) == F.col("doc_id")
    )
    kept = F.col("__survivor") & (F.col("quality") >= 0.8)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count_if(F.col("__survivor")).alias("n_after_dedup"),
        F.count_if(kept).alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0))
        .cast("long")
        .alias("tokens_kept"),
    )


# --- PII redaction ----------------------------------------------------------

_EMAIL_RE = r"[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"
_PHONE_RE = r"555-[0-9]{4}"

_PII_ORACLE = f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@example.com or 555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           AS text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
),
redacted AS (
  SELECT doc_id,
         LEN(REGEXP_EXTRACT_ALL(text, '{_EMAIL_RE}'))  AS n_emails,
         LEN(REGEXP_EXTRACT_ALL(text, '{_PHONE_RE}'))  AS n_phones,
         REGEXP_REPLACE(REGEXP_REPLACE(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS clean
  FROM seeded
)
SELECT doc_id, n_emails, n_phones,
       SUBSTRING(clean, GREATEST(LEN(clean) - 39, 1), 40) AS clean_tail
FROM redacted
WHERE n_emails + n_phones > 0
"""


@register("n_pii_redaction", oracle=_PII_ORACLE, tags=("N5", "F1"))
def n_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: every 5th doc gets a planted email + phone
    (known positives), then both patterns are counted (`regexp_count`)
    and masked (`regexp_replace` replaces ALL matches in Spark; the
    DuckDB oracle needs the explicit 'g' flag). Pure map-side JVM regex
    — at 100 TB this is a scan-speed pass with zero shuffle; the
    returned tail substring pins the actual redacted text, not just the
    counts. Patterns stay in the RE2 ∩ java.util.regex common subset so
    both engines compile them identically."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    clean = F.regexp_replace(
        F.regexp_replace("text", F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_PHONE_RE),
        F.lit("<PHONE>"),
    )
    redacted = seeded.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phones"),
        clean.alias("clean"),
    )
    return redacted.filter(F.col("n_emails") + F.col("n_phones") > 0).select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.substring(
            "clean", F.greatest(F.length("clean") - 39, F.lit(1)), F.lit(40)
        ).alias("clean_tail"),
    )


# --- Gopher-style repetition / quality filters ------------------------------

_GOPHER_ORACLE = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
  FROM documents
),
tok_counts AS (
  SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(n) AS BIGINT)                       AS n_words,
         COUNT(*)                                     AS n_distinct,
         CAST(MAX(n) AS BIGINT)                       AS top_word_n,
         CAST(SUM(n * LEN(tok)) AS BIGINT)            AS total_chars,
         CAST(SUM(CASE WHEN tok IN ('the','a','of','to','and','in','is')
                       THEN n ELSE 0 END) AS BIGINT)  AS n_stop
  FROM tok_counts GROUP BY doc_id
)
SELECT doc_id, n_words,
       ROUND(top_word_n  / CAST(n_words AS DOUBLE), 6) AS top_word_frac,
       ROUND(n_distinct  / CAST(n_words AS DOUBLE), 6) AS distinct_frac,
       ROUND(total_chars / CAST(n_words AS DOUBLE), 6) AS mean_word_len,
       ROUND(n_stop      / CAST(n_words AS DOUBLE), 6) AS stopword_frac,
       (n_words BETWEEN 30 AND 100000
        AND top_word_n  / CAST(n_words AS DOUBLE) <= 0.20
        AND n_distinct  / CAST(n_words AS DOUBLE) >= 0.20
        AND total_chars / CAST(n_words AS DOUBLE) BETWEEN 2 AND 12
        AND n_stop      / CAST(n_words AS DOUBLE) >= 0.01) AS keep
FROM per_doc
"""


@register("n_quality_gopher_filters", oracle=_GOPHER_ORACLE, tags=("N5", "A1"))
def n_quality_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition/quality gate: per-document word count,
    most-frequent-word fraction, distinct-word ratio, mean word length,
    and stopword fraction, combined into a keep flag with the published
    thresholds (word count bounds, top-word <= 20%, distinct >= 20%,
    mean length 2-12 chars, stopword floor). Shape is explode -> two
    cascaded aggregations keyed by doc_id, so the heavy first combine is
    map-side partial and the ratios are exact integer sums divided once
    (deterministic across engines, then rounded identically)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tok_counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    stop = F.col("tok").isin("the", "a", "of", "to", "and", "in", "is")
    per_doc = tok_counts.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("n").cast("long").alias("top_word_n"),
        F.sum(F.col("n") * F.length("tok")).cast("long").alias("total_chars"),
        F.sum(F.when(stop, F.col("n")).otherwise(0)).cast("long").alias("n_stop"),
    )
    nw = F.col("n_words").cast("double")
    top_frac = F.col("top_word_n") / nw
    dist_frac = F.col("n_distinct") / nw
    mean_len = F.col("total_chars") / nw
    stop_frac = F.col("n_stop") / nw
    keep = (
        F.col("n_words").between(30, 100000)
        & (top_frac <= 0.20)
        & (dist_frac >= 0.20)
        & mean_len.between(2, 12)
        & (stop_frac >= 0.01)
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        F.round(top_frac, 6).alias("top_word_frac"),
        F.round(dist_frac, 6).alias("distinct_frac"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(stop_frac, 6).alias("stopword_frac"),
        keep.alias("keep"),
    )


# --- TF-IDF top terms per document ------------------------------------------

_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         ROUND(tf.tf * (LN((n.n_docs + 1) / CAST(df.df + 1 AS DOUBLE)) + 1), 6)
           AS tfidf
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
  WHERE tf.doc_id < 100
)
SELECT doc_id, tok, tf, df, tfidf FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rnk
  FROM scored
) t WHERE rnk <= 3
"""


@register("n_tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("N5", "A1", "W4"))
def n_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: corpus-wide document frequency
    (computed over ALL docs) joined back to term frequencies, smoothed
    idf = ln((N+1)/(df+1)) + 1, top-3 terms per doc by rounded score.
    The df join is left UNHINTED on purpose: at test scale Catalyst/AQE
    broadcasts the vocabulary-sized side, but a 100 TB crawl's token
    vocabulary (typos, numbers, ids) is NOT broadcastable — the adaptive
    plan degrades to a hash join on `tok`, which is the correct shape
    there. Only the one-row n_docs scalar is force-broadcast. Ranking
    uses the ROUNDED score in both engines so the order is identical
    even if libm ulps differ."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 100)
        .join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1).cast("double"))
                    + 1
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tf", "df", "tfidf")
    )


# --- BM25 retrieval scoring -------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("table", "data", "window")  # the "search query"

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ('table', 'data', 'window') GROUP BY doc_id, tok
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
contrib AS (
  SELECT tf.doc_id, tf.tok,
         LN(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({_BM25_K1} + 1))
           / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
           AS c
  FROM tf
  JOIN df ON tf.tok = df.tok
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
scored AS (
  SELECT doc_id,
         ROUND(COALESCE(MAX(CASE WHEN tok = 'table'  THEN c END), 0)
             + COALESCE(MAX(CASE WHEN tok = 'data'   THEN c END), 0)
             + COALESCE(MAX(CASE WHEN tok = 'window' THEN c END), 0), 6) AS bm25
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, bm25 FROM scored
ORDER BY bm25 DESC, doc_id ASC LIMIT 10
"""


def _bm25_scored_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for the fixed 3-term query — the scoring shared by
    n_bm25_retrieval and the lexical arm of n_hybrid_rrf_fusion. Only
    docs matching at least one query term appear (contrib is inner-built
    from tf).

    The doc-length table and the query-term postings are a fingerprinted
    parquet artifact (ONE corpus pass builds both): a retrieval system
    never re-tokenizes the corpus per query — the inverted index IS the
    product — and the per-query work here is joins over the index, the
    same artifact discipline as the IVF/LSH indexes."""
    from ..sources import materialize

    def build(path: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        toks.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
                .cast("long")
                .alias(f"tf_{i}")
                for i, t in enumerate(_BM25_TERMS)
            ],
        ).write.mode("overwrite").parquet(path)

    idx = materialize(
        sf_dir,
        "bm25_index",
        build,
        tables=("documents",),
        params="bm25_v1_" + "_".join(_BM25_TERMS),
    )
    # Wide-row scoring (round 11): the index row already holds every
    # per-doc input (dl, tf per query term), so scoring is ONE index
    # scan + a single-row broadcast of (n_docs, avgdl, df per term) + a
    # map-side projection. The previous serve path re-shaped the wide
    # rows into (doc, tok, tf) postings and joined them back to dl/df/
    # stats — six scans of the same parquet, two aggregation exchanges
    # and a pivot groupBy, all to recompute columns it had already
    # read. Values are identical: each term's contribution uses the
    # same float expression on the same (tf, df, dl, n_docs, avgdl)
    # inputs, summed in the same fixed term order, and the match filter
    # keeps exactly the docs the inner-built contrib table kept.
    lengths = spark.read.parquet(idx)
    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
        *[
            F.count_if(F.col(f"tf_{i}") > 0).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_contrib(i: int) -> F.Column:
        tf = F.col(f"tf_{i}")
        df = F.col(f"df_{i}")
        c = (
            F.log(1 + (F.col("n_docs") - df + 0.5) / (df + 0.5))
            * (tf * (_BM25_K1 + 1))
            / (tf + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")))
        )
        return F.when(tf > 0, c).otherwise(F.lit(0.0))

    matched = (
        lengths.filter(
            (F.col("tf_0") > 0) | (F.col("tf_1") > 0) | (F.col("tf_2") > 0)
        )
        .crossJoin(F.broadcast(stats))
    )
    return matched.select(
        "doc_id",
        F.round(term_contrib(0) + term_contrib(1) + term_contrib(2), 6).alias("bm25"),
    )


@register("n_bm25_retrieval", oracle=_BM25_ORACLE, tags=("N5", "N3", "O2"))
def n_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75) for a 3-term query —
    top-10 docs. Per-term contributions are pivoted into columns and
    added in a FIXED order (table + data + window): float addition is
    non-associative, so relying on aggregation order would be
    nondeterministic across partitionings and engines. df/avgdl stats
    are scalars broadcast to the tf side; only the tf aggregation
    shuffles the corpus."""
    scored = _bm25_scored_df(spark, sf_dir)
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(10)


# --- hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine --------

#: Embedding width of the `embeddings` table (TESTDATA.md, measured).
_EMB_DIM = 64
_RRF_K = 60  # the standard RRF smoothing constant (Cormack et al.)
_RRF_TOPN = 100  # per-arm candidate depth

_RRF_ORACLE_TEMPLATE = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ('table', 'data', 'window') GROUP BY doc_id, tok
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
contrib AS (
  SELECT tf.doc_id, tf.tok,
         LN(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({k1} + 1))
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
           AS c
  FROM tf
  JOIN df ON tf.tok = df.tok
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
scored AS (
  SELECT doc_id,
         ROUND(COALESCE(MAX(CASE WHEN tok = 'table'  THEN c END), 0)
             + COALESCE(MAX(CASE WHEN tok = 'data'   THEN c END), 0)
             + COALESCE(MAX(CASE WHEN tok = 'window' THEN c END), 0), 6) AS bm25
  FROM contrib GROUP BY doc_id
),
lex AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
    FROM scored
  ) t WHERE lex_rank <= {topn}
),
normed AS (
  SELECT vec_id, embedding, {norm_sql} AS nrm FROM embeddings
),
qv AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM normed WHERE vec_id = 0),
dense_sc AS (
  SELECT b.vec_id AS doc_id,
         ROUND(({dot_sql}) / (qv.q_nrm * b.nrm), 9) AS sim
  FROM normed b CROSS JOIN qv WHERE b.vec_id <> 0
),
den AS (
  SELECT doc_id, dense_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC) AS dense_rank
    FROM dense_sc
  ) t WHERE dense_rank <= {topn}
)
SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       CAST(lex.lex_rank AS BIGINT) AS lex_rank,
       CAST(den.dense_rank AS BIGINT) AS dense_rank,
       ROUND(COALESCE(CAST(1 AS DOUBLE) / ({k} + lex.lex_rank), 0)
           + COALESCE(CAST(1 AS DOUBLE) / ({k} + den.dense_rank), 0), 9)
         AS rrf_score
FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
"""


_RRF_ORACLE = _RRF_ORACLE_TEMPLATE.format(
    k1=_BM25_K1,
    b=_BM25_B,
    topn=_RRF_TOPN,
    k=_RRF_K,
    norm_sql=norm_unrolled_sql("embedding", _EMB_DIM),
    dot_sql=dot_unrolled_sql("q_emb", "b.embedding", _EMB_DIM),
)


@register(
    "n_hybrid_rrf_fusion",
    oracle=_RRF_ORACLE,
    tags=("N5", "N3", "O2", "W1"),
    headline=True,
)
def n_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — reciprocal-rank fusion (RRF, k=60) of a BM25
    lexical arm and a dense cosine arm, the standard first-stage
    retriever of a RAG / contamination-audit pipeline. Assumes the
    id-aligned convention vec_id == doc_id (TESTDATA.md: both are
    0..N-1).

    Scale design: each arm reduces to a bounded candidate list BEFORE
    anything global happens — `orderBy().limit(topn)` plans as
    TakeOrderedAndProject (per-partition partial top-k, no full sort
    shuffle), and only the <=topn survivors enter the single-partition
    rank window (bounded by construction, same contract as the top-k
    queries). The fusion join is a full outer join of two <=topn-row
    sides; the dense arm broadcasts the 1-row probe vector
    (bounded BNLJ, allowlisted). RRF scores are computed from integer
    ranks by identical IEEE double expressions on both engines, so the
    hash compare is exact."""
    # Lexical arm: BM25 candidates.
    scored = _bm25_scored_df(spark, sf_dir)
    lex100 = (
        scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_RRF_TOPN)
    )
    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lex = lex100.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )

    # Dense arm: cosine against the fixed probe (vec_id 0).
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    normed = e.withColumn(
        "nrm",
        F.sqrt(dot_unrolled("embedding", "embedding", _EMB_DIM)),
    )
    qv = normed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    sim = dot_unrolled("q_emb", "embedding", _EMB_DIM) / (
        F.col("q_nrm") * F.col("nrm")
    )
    dense_sc = (
        normed.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), F.round(sim, 9).alias("sim"))
    )
    den100 = (
        dense_sc.orderBy(F.col("sim").desc(), F.col("doc_id").asc())
        .limit(_RRF_TOPN)
    )
    wd = Window.orderBy(F.col("sim").desc(), F.col("doc_id").asc())
    den = den100.select(
        "doc_id", F.row_number().over(wd).cast("long").alias("dense_rank")
    )

    # Fusion: RRF from the two rank lists.
    fused = lex.join(den, "doc_id", "full")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("dense_rank")), F.lit(0.0)
        ),
        9,
    )
    return (
        fused.select("doc_id", "lex_rank", "dense_rank", rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# --- bigram language-model scoring (perplexity-style quality filter) --------

_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS t FROM documents
),
bigrams AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS g(i)
),
c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bigrams GROUP BY w1),
v  AS (SELECT COUNT(DISTINCT w1) AS v FROM (
         SELECT w1 FROM bigrams UNION ALL SELECT w2 FROM bigrams)),
scored AS (
  SELECT b.doc_id,
         CAST(ROUND(LN((c2.c12 + 1) / CAST(c1.c1 + v.v AS DOUBLE)) * 1000000)
              AS BIGINT) AS lp_micro
  FROM bigrams b
  JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
  JOIN c1 ON b.w1 = c1.w1
  CROSS JOIN v
)
SELECT doc_id,
       COUNT(*)                        AS n_bigrams,
       CAST(SUM(lp_micro) AS BIGINT)   AS logprob_micro,
       CAST(FLOOR(SUM(lp_micro) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
         AS avg_logprob_micro
FROM scored
WHERE doc_id < 100
GROUP BY doc_id
"""


@register("n_bigram_lm_score", oracle=_LM_ORACLE, tags=("N5", "A1", "F4"))
def n_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring with a corpus-trained bigram LM
    (add-one smoothing): p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V), per-doc
    score = sum of log-probs. The CCNet/KenLM filtering recipe with the
    LM trained in-engine. Determinism across engines: each bigram's
    log-prob is rounded to integer MICRO-NATS first, so the per-doc sum
    is exact integer arithmetic — float addition order never matters.
    Count tables join back on the bigram key (unhinted: vocabulary² is
    not broadcastable at crawl scale); the corpus shuffles twice (count,
    score-join), both on the same derived keys. The exploded bigram
    table feeds FOUR consumers (c2, c1, V, the score join), so it is
    materialized once to scratch parquet — without that, Spark
    re-tokenizes the corpus per consumer (a CTE is not a
    materialization barrier); same artifact discipline as the MinHash
    signature table."""
    from ..sources import materialize

    def build(path: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        t = F.split(F.lower(F.col("text")), " ")
        d.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                    F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                )
            ).alias("bg"),
        ).select(
            "doc_id", F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2")
        ).write.mode("overwrite").parquet(path)

    # Fingerprinted per-process artifact (round 12; same discipline as
    # the MinHash signature table): the exploded bigram table feeds four
    # consumers in THIS query, so a re-run in a process (bench min-of-N,
    # a second consumer) must not re-tokenize the corpus.
    bigrams = spark.read.parquet(
        materialize(
            sf_dir,
            "bigram_table",
            build,
            tables=("documents",),
            params="bigram_table_v1",
        )
    )
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = (
        bigrams.select(F.col("w1").alias("w"))
        .unionAll(bigrams.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").alias("v"))
    )
    scored = (
        bigrams.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double"))
                * 1000000
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        scored.filter(F.col("doc_id") < 100)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").cast("long").alias("logprob_micro"),
            F.floor(F.sum("lp_micro") / F.count(F.lit(1)).cast("double"))
            .cast("long")
            .alias("avg_logprob_micro"),
        )
    )


# --- character-entropy quality signal ---------------------------------------

_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), '')) AS ch
  FROM documents WHERE doc_id < 200
),
counts AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
),
totals AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY doc_id
),
terms AS (
  SELECT c.doc_id,
         CAST(ROUND(-(c.c / CAST(t.n AS DOUBLE))
                    * LN(c.c / CAST(t.n AS DOUBLE)) * 1000000) AS BIGINT)
           AS h_micro
  FROM counts c JOIN totals t ON c.doc_id = t.doc_id
)
SELECT e.doc_id,
       t.n                                  AS n_chars_total,
       CAST(SUM(h_micro) AS BIGINT)         AS entropy_micro_nats
FROM terms e JOIN totals t ON e.doc_id = t.doc_id
GROUP BY e.doc_id, t.n
"""


@register("n_char_entropy", oracle=_ENTROPY_ORACLE, tags=("N5", "A1"))
def n_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap
    gibberish/encoding-junk detector (random bytes score high, repeated
    padding scores low; natural language sits in a narrow band). Same
    float-determinism recipe as the bigram LM: each character class
    contributes -p·ln(p) rounded to integer micro-nats, the per-doc
    total is an exact integer sum, so aggregation order is irrelevant.
    Shape: explode to chars → two stacked aggregations on doc_id — the
    heavy combine is map-side partial, and the result is one row per
    document."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    chars = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), "")).alias("ch")
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    terms = counts.join(totals, "doc_id").select(
        "doc_id",
        "n",
        F.round(-p * F.log(p) * 1000000).cast("long").alias("h_micro"),
    )
    return terms.groupBy("doc_id", F.col("n").alias("n_chars_total")).agg(
        F.sum("h_micro").cast("long").alias("entropy_micro_nats")
    )


# --- end-to-end pretraining corpus pipeline (v2: six stages) ----------------

_PRETRAIN_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 100000, UPPER(text), lang FROM documents WHERE doc_id % 3 = 0
),
deduped AS (
  SELECT doc_id, text, lang FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY SHA256(LOWER(TRIM(text))) ORDER BY doc_id) AS rn
    FROM corpus
  ) WHERE rn = 1
),
redacted AS (
  SELECT doc_id, lang,
         REGEXP_REPLACE(text || CASE WHEN doc_id % 5 = 0
             THEN ' contact user' || doc_id || '@example.com' ELSE '' END,
             '{_EMAIL_RE}', '<EMAIL>', 'g') AS text
  FROM deduped
),
gated AS (
  SELECT doc_id, lang, text,
         LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tok,
         LEN(LIST_DISTINCT(STRING_SPLIT(LOWER(text), ' '))) AS n_distinct
  FROM redacted
),
kept AS (
  SELECT doc_id, lang, n_tok,
         CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
              WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM gated
  WHERE n_tok BETWEEN 30 AND 100000
    AND n_distinct / CAST(n_tok AS DOUBLE) >= 0.20
),
input_counts AS (SELECT COUNT(*) AS n_input FROM corpus)
SELECT k.split, k.lang,
       COUNT(*)                    AS n_docs,
       CAST(SUM(k.n_tok) AS BIGINT) AS total_tokens,
       MIN(k.doc_id)               AS first_doc,
       (SELECT n_input FROM input_counts) AS n_input_corpus
FROM kept k
GROUP BY k.split, k.lang
"""


@register(
    "pipeline_pretrain_corpus",
    oracle=_PRETRAIN_ORACLE,
    tags=("N1", "N5", "P6", "P7"),
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full raw-crawl → training-shards composition, six stages in
    one lazy plan: (1) corpus with planted case-mangled duplicates,
    (2) exact dedup (normalized-hash keep-min-id), (3) PII redaction
    (seeded emails masked), (4) quality gate (token-count bounds +
    distinct-word floor on the REDACTED text — order matters and the
    oracle pins it), (5) deterministic 80/10/10 split by id hash,
    (6) per-(split, lang) accounting with the input size carried along.
    Catalyst fuses the map-side stages (redact, gate, split) into the
    dedup shuffle's output: the corpus moves through exactly TWO
    exchanges (the dedup-hash shuffle, which also fans the scan out,
    and the final group) no matter how many logical stages compose —
    the input-size scalar is computed straight from the base table so
    the corpus branch is never recomputed for bookkeeping."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # ONE exchange does double duty (round 11, same move as
    # pipeline_data_curation): repartitioning BY the dedup hash both
    # spreads the doubled corpus out of the single-file scan partition
    # AND establishes the dedup window's clustering, so the separate
    # round-robin + window-hash exchanges collapse — the corpus text
    # crosses the network once, not twice. Same rows, same oracle.
    corpus = (
        d.unionByName(
            d.filter(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.upper("text").alias("text"),
                "lang",
            )
        )
        .withColumn("__h", F.sha2(F.lower(F.trim(F.col("text"))), 256))
        .repartition(F.col("__h"))
    )

    w = Window.partitionBy("__h").orderBy("doc_id")
    deduped = (
        corpus.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "__h")
    )
    seeded = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
    )
    redacted = deduped.withColumn(
        "text", F.regexp_replace(seeded, F.lit(_EMAIL_RE), F.lit("<EMAIL>"))
    )
    toks = F.split(F.lower(F.col("text")), " ")
    gated = redacted.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    bucket = (F.col("doc_id") * 2654435761) % 100
    kept = gated.filter(
        F.col("n_tok").between(30, 100000)
        & (F.col("n_distinct") / F.col("n_tok").cast("double") >= 0.20)
    ).withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )
    # Input size from the base table arithmetic — NOT count(corpus),
    # which would re-run the union+repartition branch just to count it.
    n_input = d.agg(
        (F.count(F.lit(1)) + F.count_if(F.col("doc_id") % 3 == 0)).alias(
            "n_input_corpus"
        )
    )
    return (
        kept.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .crossJoin(F.broadcast(n_input))
    )


# --- tokenizer vocabulary coverage (OOV rate) -------------------------------

_VOCAB_K = 1000

_VOCAB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rnk
    FROM toks GROUP BY tok
  ) t WHERE rnk <= {_VOCAB_K}
),
flagged AS (
  SELECT t.doc_id, v.tok IS NOT NULL AS in_vocab
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
)
SELECT doc_id,
       COUNT(*)                               AS n_tokens,
       COUNT(*) FILTER (WHERE NOT in_vocab)   AS n_oov,
       ROUND(COUNT(*) FILTER (WHERE NOT in_vocab)
             / CAST(COUNT(*) AS DOUBLE), 6)   AS oov_rate
FROM flagged
WHERE doc_id < 100
GROUP BY doc_id
"""


@register("n_vocab_coverage", oracle=_VOCAB_ORACLE, tags=("N5", "A1", "J3"))
def n_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-1000-token vocab
    from the corpus (deterministic rank: count DESC, token ASC), then
    score every document's out-of-vocabulary rate against it — the
    measurement that decides whether a tokenizer/vocab fits a corpus
    before burning GPU-hours. The vocab is bounded (top-K) so its join
    side broadcasts; the corpus explodes once. OOV flags come from a
    LEFT join (an inner join would silently drop the OOV tokens being
    counted)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    # The global rank window runs over the vocabulary-sized aggregate,
    # not the corpus — single-reducer on metadata, same as the offsets
    # table in global_ids.
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("rnk", F.row_number().over(Window.orderBy(F.col("__n").desc(), F.col("tok").asc())))
        .filter(F.col("rnk") <= _VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    flagged = toks.filter(F.col("doc_id") < 100).join(
        F.broadcast(vocab), "tok", "left"
    )
    oov = F.count_if(F.col("in_vocab").isNull())
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        oov.alias("n_oov"),
        F.round(oov / F.count(F.lit(1)).cast("double"), 6).alias("oov_rate"),
    )


# --- dataset card summary ---------------------------------------------------

_CARD_ORACLE = """
WITH stats AS (
  SELECT lang,
         COUNT(*) AS n_docs,
         CAST(SUM(LEN(STRING_SPLIT(LOWER(text), ' '))) AS BIGINT) AS total_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         COUNT(DISTINCT source) AS n_sources
  FROM documents GROUP BY lang
),
tot AS (SELECT SUM(n_docs) AS all_docs, SUM(total_tokens) AS all_tokens FROM stats)
SELECT s.lang, s.n_docs, s.total_tokens, s.total_chars, s.n_sources,
       ROUND(s.n_docs / CAST(t.all_docs AS DOUBLE), 6)       AS doc_share,
       ROUND(s.total_tokens / CAST(t.all_tokens AS DOUBLE), 6) AS token_share,
       CAST(FLOOR(s.total_tokens / CAST(s.n_docs AS DOUBLE)) AS BIGINT)
                                                             AS avg_doc_tokens
FROM stats s CROSS JOIN tot t
"""


@register("n_dataset_card", oracle=_CARD_ORACLE, tags=("N5", "A2"))
def n_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary — the documentation table every released
    corpus ships: per-language doc/token/char totals, source diversity,
    corpus shares, and floor-divided average length. One aggregation
    plus a broadcast totals join; the output is card-sized regardless
    of corpus size. Shares are ratios of exact integer sums rounded
    once, so the card reproduces bit-identically on any engine."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_whitespace("text")).cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count_distinct("source").alias("n_sources"),
    )
    tot = stats.agg(
        F.sum("n_docs").alias("all_docs"),
        F.sum("total_tokens").alias("all_tokens"),
    )
    return stats.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs", "total_tokens", "total_chars", "n_sources",
        F.round(F.col("n_docs") / F.col("all_docs").cast("double"), 6).alias(
            "doc_share"
        ),
        F.round(
            F.col("total_tokens") / F.col("all_tokens").cast("double"), 6
        ).alias("token_share"),
        F.floor(F.col("total_tokens") / F.col("n_docs").cast("double"))
        .cast("long")
        .alias("avg_doc_tokens"),
    )


# --- CCNet-style language x quality-band matrix ------------------------------

_BANDS_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang,
         LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tok,
         LEAST(CAST(LEN(STRING_SPLIT(LOWER(text), ' ')) AS DOUBLE) / 60.0, 1.0) * 0.5
         + (LEN(LIST_DISTINCT(STRING_SPLIT(LOWER(text), ' ')))
            / CAST(LEN(STRING_SPLIT(LOWER(text), ' ')) AS DOUBLE)) * 0.4
         + LEAST(((LENGTH(text) - (LEN(STRING_SPLIT(LOWER(text), ' ')) - 1))
                  / CAST(LEN(STRING_SPLIT(LOWER(text), ' ')) AS DOUBLE)) / 10.0, 1.0) * 0.1
           AS quality
  FROM documents
)
SELECT lang,
       CASE WHEN quality >= 0.85 THEN 'head'
            WHEN quality >= 0.75 THEN 'middle'
            ELSE 'tail' END AS band,
       COUNT(*)                   AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM scored
GROUP BY lang, band
"""


@register("n_lang_quality_bands", oracle=_BANDS_ORACLE, tags=("N5", "P6", "A1"))
def n_lang_quality_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus partitioning: every document lands in a
    (language, quality-band) cell — head/middle/tail by the
    bit-deterministic quality heuristic — with doc and token counts per
    cell. This matrix is how web corpora are actually released and
    sampled (train on head+middle, hold tail for ablation); the band
    threshold comparison happens on the exact shared formula, so cell
    membership is identical on every engine."""
    d = load_table(spark, sf_dir, "documents")
    band = (
        F.when(quality_score("text") >= 0.85, "head")
        .when(quality_score("text") >= 0.75, "middle")
        .otherwise("tail")
    )
    return d.groupBy("lang", band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_whitespace("text")).cast("long").alias("total_tokens"),
    )


_IMPORTANCE_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
  FROM documents
),
corpus_counts AS (SELECT tok, COUNT(*) AS c_all FROM toks GROUP BY tok),
corpus_total  AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM toks),
target_counts AS (SELECT tok, COUNT(*) AS c_tgt FROM toks WHERE lang = 'en' GROUP BY tok),
target_total  AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tgt FROM toks WHERE lang = 'en'),
vocab         AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks),
scored AS (
  SELECT t.doc_id,
         CAST(ROUND(
           (LN((COALESCE(tc.c_tgt, 0) + 1) / CAST(tt.n_tgt + vv.v AS DOUBLE))
            - LN((cc.c_all + 1) / CAST(ct.n_all + vv.v AS DOUBLE))) * 1000000
         ) AS BIGINT) AS lr_micro
  FROM toks t
  JOIN corpus_counts cc USING (tok)
  LEFT JOIN target_counts tc USING (tok)
  CROSS JOIN corpus_total ct
  CROSS JOIN target_total tt
  CROSS JOIN vocab vv
  WHERE t.doc_id < 200
)
SELECT doc_id,
       COUNT(*) AS n_toks,
       CAST(SUM(lr_micro) AS BIGINT) AS logratio_micro,
       CAST(FLOOR(SUM(lr_micro) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
         AS avg_logratio_micro
FROM scored
GROUP BY doc_id
"""


@register("n_importance_weights", oracle=_IMPORTANCE_ORACLE, tags=("N5", "A1", "P6"))
def n_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: score every document by the mean
    unigram log-likelihood RATIO between a target distribution (here:
    the English slice, standing in for 'looks like the domain I want')
    and the whole corpus, both add-one smoothed over the shared
    vocabulary. Documents whose tokens are relatively more probable
    under the target get positive scores — the importance-resampling
    signal used to pick pretraining data that matches a target domain
    without training a classifier.

    Engine mechanics: the token table feeds four consumers (corpus
    counts, corpus total, target counts, the scoring join), so it is
    materialized once to scratch parquet — same artifact discipline as
    the bigram LM. Count tables join on the token key (vocabulary-sized,
    unhinted — not broadcastable at crawl scale); scalar totals ride a
    broadcast cross join. Each token's log-ratio is rounded to integer
    MICRO-NATS before the per-doc sum, so float addition order never
    matters and the result is bit-deterministic."""
    from ..sources import scratch_dir

    d = load_table(spark, sf_dir, "documents")
    toks_path = scratch_dir(sf_dir, "importance_toks")
    d.select(
        "doc_id", "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    ).write.mode("overwrite").parquet(toks_path)
    toks = spark.read.parquet(toks_path)

    corpus_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_all"))
    corpus_total = toks.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    target = toks.filter(F.col("lang") == "en")
    target_counts = target.groupBy("tok").agg(F.count(F.lit(1)).alias("c_tgt"))
    target_total = target.agg(F.count(F.lit(1)).cast("long").alias("n_tgt"))
    vocab = toks.agg(F.count_distinct("tok").cast("long").alias("v"))

    lr = (
        F.log((F.coalesce(F.col("c_tgt"), F.lit(0)) + 1) / (F.col("n_tgt") + F.col("v")).cast("double"))
        - F.log((F.col("c_all") + 1) / (F.col("n_all") + F.col("v")).cast("double"))
    )
    scored = (
        toks.filter(F.col("doc_id") < 200)
        .join(corpus_counts, "tok")
        .join(target_counts, "tok", "left")
        .crossJoin(F.broadcast(corpus_total))
        .crossJoin(F.broadcast(target_total))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(lr * 1000000).cast("long").alias("lr_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum("lr_micro").cast("long").alias("logratio_micro"),
        F.floor(F.sum("lr_micro") / F.count(F.lit(1)).cast("double"))
        .cast("long")
        .alias("avg_logratio_micro"),
    )


# --- Misra-Gries heavy hitters: mergeable top-terms without full shuffle ----


@register("n_heavy_hitters_sketch", oracle=None, tags=("N5", "A4", "U5"))
def n_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus terms from a mergeable Misra-Gries sketch
    (capacity 50 per partition): one map-side Arrow-batched pass emits
    <= 51 rows per partition, the only shuffle aggregates those tiny
    summaries — the 100 TB alternative to the full token groupBy, whose
    exact counts are joined back HERE only as self-validation.

    Rows-only by design: counter values depend on partition/batch
    arrival order (deterministic within an environment, not across
    layouts). The sketch's two provable invariants ride every row as
    `under_ok` (estimate never exceeds the true count) and `err_ok`
    (undercount bounded by the summed per-partition dropped mass) —
    plus `bound_useful` pinning that the error bound is small enough
    to order the true heavy hitters at this scale."""
    from pyspark.sql.functions import broadcast

    from ..operators.sketches import DROPS_SENTINEL, mg_partial_counters

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("term"))
        .filter(F.length("term") > 0)
    )
    partials = mg_partial_counters(toks, "term", capacity=50)
    drops = partials.filter(F.col("term") == DROPS_SENTINEL).agg(
        F.sum("est").alias("max_err")
    )
    ests = (
        partials.filter(F.col("term") != DROPS_SENTINEL)
        .groupBy("term")
        .agg(F.sum("est").alias("est"))
    )
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        ests.join(exact, "term")
        .crossJoin(broadcast(drops))
        .select(
            "term",
            "est",
            "n_exact",
            "max_err",
            (F.col("est") <= F.col("n_exact")).alias("under_ok"),
            (F.col("n_exact") - F.col("est") <= F.col("max_err")).alias("err_ok"),
            (F.col("max_err") < F.col("n_exact")).alias("bound_useful"),
        )
        .orderBy(F.col("est").desc(), F.col("term"))
        .limit(20)
    )


# --- Count-Min sketch: mergeable point-frequency estimates ------------------


@register("n_countmin_sketch", oracle=None, tags=("N5", "A4", "F7"))
def n_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates for the top-20 corpus terms,
    d=4 rows x w=1024 buckets — the OVERcounting mergeable-sketch
    complement to the Misra-Gries UNDERcounting sketch above.

    Spark-first shape: a CMS in a distributed engine IS a groupBy —
    bucket = xxhash64(term, row_seed) % w, and the cell array is just
    COUNT(*) per (row, bucket), built in ONE pass by exploding each
    token into its 4 (row, bucket) coordinates. Cells merge across
    partitions/shards by plain addition (map-side combine does this
    for free), which is the sketch's entire distributed-systems value:
    at 100 TB the 4x1024 cell table is bytes per shard, mergeable by
    union+sum without touching tokens again. Point query = MIN over
    the term's 4 cells. No UDF anywhere — whole plan is Catalyst.

    Rows-only by design (a sketch estimate has no SQL oracle); exact
    counts join back only as self-validation:
      * over_ok  — est >= exact (CMS never undercounts: every
                   occurrence of the term lands in all 4 its cells);
      * err_ok   — est - exact <= 16 * N / w, a deterministic pin with
                   ~8x headroom over the observed collision mass at all
                   three driver scale factors (the probabilistic CMS
                   bound is e*N/w per row; min-of-4 rows collapses it).
    """
    d = 4
    w = 1024
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    ).filter(F.length("term") > 0)

    coords = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                F.pmod(F.xxhash64("term", F.lit(r)), F.lit(w)).alias("bucket"),
            )
            for r in range(d)
        ]
    )
    cells = (
        toks.select(F.explode(coords).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))

    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "term")
        .limit(20)
    )
    probes = top.select(
        "term", "n_exact", F.explode(coords).alias("c")
    ).select("term", "n_exact", F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(cells, ["row", "bucket"])
        .groupBy("term", "n_exact")
        .agg(F.min("cell").alias("est"))
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            "n_exact",
            "est",
            "n_total",
            (F.col("est") >= F.col("n_exact")).alias("over_ok"),
            (
                F.col("est") - F.col("n_exact") <= F.expr(f"(16 * n_total) div {w}")
            ).alias("err_ok"),
        )
        .orderBy(F.col("n_exact").desc(), "term")
    )


_BPE_PAIRS_ORACLE = """
WITH wf AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w FROM documents
  ) WHERE LENGTH(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT SUBSTRING(wf.w, CAST(gs.i AS INTEGER), 2) AS pair, wf.freq
  FROM wf, UNNEST(GENERATE_SERIES(1, LENGTH(wf.w) - 1)) AS gs(i)
),
counts AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_pairs FROM pairs GROUP BY pair)
SELECT pair, n_pairs FROM counts ORDER BY n_pairs DESC, pair ASC LIMIT 40
"""


@register("n_bpe_pair_counts", oracle=_BPE_PAIRS_ORACLE, tags=("N5", "A1", "O2"))
def n_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration: the corpus-wide adjacent-symbol-pair
    statistics a tokenizer trainer computes before every merge — the
    top-40 candidate merges by weighted pair count.

    Scale design: the pair table is built from the WORD-FREQUENCY
    table, not the raw token stream — the classic BPE-trainer trick.
    The corpus collapses to |vocab| rows first (one combinable
    count shuffle), then each distinct word fans out to only
    len(word)-1 pairs, so the second aggregation is over
    O(|vocab| * avg_len) rows no matter how many times each word
    occurs in the corpus. Both aggregations are map-side combinable;
    the final top-40 is a TakeOrderedAndProject (no global sort), and
    the tie at the cut is broken by pair text so the LIMIT is
    deterministic on both engines."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(tokens("text")).alias("w")).filter(F.length("w") >= 2)
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = wf.select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), F.col("pair").asc())
        .limit(40)
    )


_ROUGE_ORACLE = """
WITH prs AS (
  SELECT doc_id AS cand_id,
         LEAD(doc_id) OVER (PARTITION BY lang, source ORDER BY doc_id) AS ref_id
  FROM documents
),
pr AS (SELECT cand_id, ref_id FROM prs WHERE ref_id IS NOT NULL),
toks AS (
  SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n_terms FROM toks GROUP BY doc_id),
ov AS (
  SELECT p.cand_id, p.ref_id, COUNT(*) AS n_overlap
  FROM pr p
  JOIN toks c ON c.doc_id = p.cand_id
  JOIN toks r ON r.doc_id = p.ref_id AND r.term = c.term
  GROUP BY p.cand_id, p.ref_id
)
SELECT p.cand_id, p.ref_id,
       COALESCE(o.n_overlap, 0) AS n_overlap,
       sc.n_terms AS n_cand, sr.n_terms AS n_ref,
       ROUND(CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / sc.n_terms, 6) AS rouge1_precision,
       ROUND(CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / sr.n_terms, 6) AS rouge1_recall,
       ROUND(2.0 * COALESCE(o.n_overlap, 0) / (sc.n_terms + sr.n_terms), 6) AS rouge1_f1
FROM pr p
LEFT JOIN ov o ON o.cand_id = p.cand_id AND o.ref_id = p.ref_id
JOIN sizes sc ON sc.doc_id = p.cand_id
JOIN sizes sr ON sr.doc_id = p.ref_id
"""


@register("n_rouge_ngram_overlap", oracle=_ROUGE_ORACLE, tags=("N5", "J3", "W2"))
def n_rouge_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 (distinct-unigram overlap) between each document and its
    successor within the same (lang, source) shard — the set-overlap
    eval metric (summary-vs-reference, prompt-vs-completion leakage
    scoring) expressed as pure joins.

    Scale design: candidate/reference pairing is a lead() window (one
    shuffle on the shard key, no self-join over documents); overlap is
    counted by joining the per-doc DISTINCT-token table to itself ON
    (pair, term) — fan-out is bounded by tokens-per-doc, never
    corpus-quadratic. Precision/recall/F1 are each a single IEEE
    division of exact integers (ROUGE-1 F1 reduces to 2*o/(c+r)), so
    rounding to 6 dp is engine-stable."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    pr = (
        d.select(
            F.col("doc_id").alias("cand_id"),
            F.lead("doc_id").over(w).alias("ref_id"),
        )
        .filter(F.col("ref_id").isNotNull())
    )
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_terms"))
    ct = toks.select(F.col("doc_id").alias("cand_id"), "term")
    rt = toks.select(F.col("doc_id").alias("ref_id"), "term")
    ov = (
        pr.join(ct, "cand_id")
        .join(rt, ["ref_id", "term"])
        .groupBy("cand_id", "ref_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    n_ov = F.coalesce("n_overlap", F.lit(0))
    return (
        pr.join(ov, ["cand_id", "ref_id"], "left")
        .join(sizes.select(F.col("doc_id").alias("cand_id"), F.col("n_terms").alias("n_cand")), "cand_id")
        .join(sizes.select(F.col("doc_id").alias("ref_id"), F.col("n_terms").alias("n_ref")), "ref_id")
        .select(
            "cand_id",
            "ref_id",
            n_ov.alias("n_overlap"),
            "n_cand",
            "n_ref",
            F.round(n_ov.cast("double") / F.col("n_cand"), 6).alias("rouge1_precision"),
            F.round(n_ov.cast("double") / F.col("n_ref"), 6).alias("rouge1_recall"),
            F.round(F.lit(2.0) * n_ov / (F.col("n_cand") + F.col("n_ref")), 6).alias("rouge1_f1"),
        )
    )


