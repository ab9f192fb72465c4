"""N6 + multimodal binary plumbing (SURVEY.md §2.10, north star).

m_struct_columns       — N6: nested struct carried through filter/agg,
                         accessed with dotted paths (pure Catalyst).
m_decode_metadata      — binary payload → typed metadata via Arrow-batched
                         mapInPandas; the codec is a deterministic fake
                         (operators/multimodal.py) so DuckDB reproduces it.
m_frame_sampling       — fake-video frame index sampling with Catalyst
                         higher-order functions (sequence + filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.multimodal import attach_payload, decode_metadata, sample_frames
from ..registry import register

# --- N6: struct (nested) columns through relational ops --------------------

_STRUCT_ORACLE = """
SELECT m.source AS source,
       COUNT(*) AS n_docs,
       CAST(SUM(m.meta.n_chars) AS BIGINT) AS total_chars,
       MAX(m.meta.lang) AS max_lang
FROM (
  SELECT {'source': source,
          'meta': {'lang': lang, 'n_chars': n_chars}} AS m
  FROM documents
  WHERE n_chars >= 100
)
WHERE m.meta.lang <> 'zh'
GROUP BY m.source
"""


@register("m_struct_columns", oracle=_STRUCT_ORACLE, tags=("N6",))
def m_struct_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nested = docs.filter(F.col("n_chars") >= 100).select(
        F.struct(
            F.col("source").alias("source"),
            F.struct(
                F.col("lang").alias("lang"),
                F.col("n_chars").alias("n_chars"),
            ).alias("meta"),
        ).alias("m")
    )
    return (
        nested.filter(F.col("m.meta.lang") != "zh")
        .groupBy(F.col("m.source").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("m.meta.n_chars").alias("total_chars"),
            F.max("m.meta.lang").alias("max_lang"),
        )
    )


# --- binary payload → decoded metadata (Arrow-batched Python) --------------

_DECODE_ORACLE = """
SELECT doc_id,
       CAST(nb AS INT)                    AS n_bytes,
       CAST(nb % 640 + 1 AS INT)          AS width,
       CAST((nb // 7) % 480 + 1 AS INT)   AS height,
       CAST(CEIL(nb / 256.0) AS INT)      AS n_frames
FROM (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents)
"""


@register("m_decode_metadata", oracle=_DECODE_ORACLE, tags=("multimodal", "U5"))
def m_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_payload(load_table(spark, sf_dir, "documents"))
    return decode_metadata(docs)


# --- frame sampling (Catalyst higher-order functions, no Python) -----------

_FRAMES_ORACLE = """
SELECT doc_id,
       CAST(CEIL(nb / 256.0) AS INT) AS n_frames,
       ARRAY_TO_STRING([i for i in range(0, CAST(CEIL(nb / 256.0) AS INT)) if i % 4 = 0], ',')
         AS sampled_frames
FROM (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents)
"""


@register("m_frame_sampling", oracle=_FRAMES_ORACLE, tags=("multimodal", "F4"))
def m_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling; the sampled index array joins to a CSV string at
    the query boundary — checked output must be scalar-only (driver
    canonicalizer contract). The operator itself keeps the typed array."""
    docs = attach_payload(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(docs, every_k=4)
    return frames.withColumn(
        "sampled_frames",
        F.array_join(
            F.transform("sampled_frames", lambda x: x.cast("string")), ","
        ),
    )


def _probe_sql(dim: int) -> str:
    # Probe vector = embedding of vec_id 0 (deterministic shared probe).
    return f"SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS p FROM embeddings WHERE vec_id = 0"


_DOC_EMB_ORACLE_TEMPLATE = """
WITH probe AS ({probe}),
rec AS (
  SELECT {{'doc': {{'lang': d.lang, 'n_chars': d.n_chars}},
          'emb': list_transform(e.embedding, x -> CAST(x AS DOUBLE))}} AS m,
         d.doc_id AS doc_id
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.lang IN ('en', 'es')
)
SELECT doc_id,
       m.doc.lang AS lang,
       ({dot}) / (SQRT({nrm_m}) * SQRT({nrm_p})) AS sim_to_probe
FROM rec, probe
ORDER BY sim_to_probe DESC, doc_id
LIMIT 20
"""


@register("m_doc_embedding_multimodal", oracle=None, tags=("N6", "N3"))
def m_doc_embedding_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record in action: documents joined to their embeddings
    into a nested {doc:{lang,n_chars}, emb} struct, filtered on text
    metadata, ranked by cosine to a shared probe vector — the mixed
    metadata+vector access pattern of retrieval pipelines. The struct is
    carried through the plan; only scalars surface in the result."""
    from ..operators.similarity import dot_unrolled

    DIM = 64
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    rec = (
        d.filter(F.col("lang").isin("en", "es"))
        .join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id",
            F.struct(
                F.struct(F.col("lang"), F.col("n_chars")).alias("doc"),
                F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
            ).alias("m"),
        )
    )
    probe = e.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("p")
    )
    sim = dot_unrolled("m.emb", "p", DIM) / (
        F.sqrt(dot_unrolled("m.emb", "m.emb", DIM))
        * F.sqrt(dot_unrolled("p", "p", DIM))
    )
    return (
        rec.crossJoin(F.broadcast(probe))
        .select(
            "doc_id",
            F.col("m.doc.lang").alias("lang"),
            sim.alias("sim_to_probe"),
        )
        .orderBy(F.col("sim_to_probe").desc(), "doc_id")
        .limit(20)
    )


def _install_doc_emb_oracle() -> None:
    from ..operators.similarity import dot_unrolled_sql
    from ..registry import REGISTRY, Query

    dim = 64
    oracle = _DOC_EMB_ORACLE_TEMPLATE.format(
        probe=_probe_sql(dim),
        dot=dot_unrolled_sql("m.emb", "p", dim),
        nrm_m=dot_unrolled_sql("m.emb", "m.emb", dim),
        nrm_p=dot_unrolled_sql("p", "p", dim),
    )
    q = REGISTRY["m_doc_embedding_multimodal"]
    REGISTRY["m_doc_embedding_multimodal"] = Query(
        name=q.name, fn=q.fn, oracle=oracle, tags=q.tags, headline=q.headline
    )


_install_doc_emb_oracle()


# --- modality routing (conditional pipeline branches) -----------------------

_ROUTING_ORACLE = """
WITH records AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'text' END AS modality,
         text
  FROM documents
),
routed AS (
  SELECT doc_id, modality,
         CASE WHEN modality = 'text'
              THEN LEN(STRING_SPLIT(LOWER(text), ' '))
              ELSE NULL END AS n_tokens,
         CASE WHEN modality <> 'text'
              THEN LENGTH(text) * 4  -- stand-in payload size
              ELSE NULL END AS payload_bytes
  FROM records
)
SELECT modality,
       COUNT(*)                                      AS n_records,
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT)     AS total_tokens,
       CAST(COALESCE(SUM(payload_bytes), 0) AS BIGINT) AS total_payload_bytes
FROM routed
GROUP BY modality
"""


@register("m_modality_routing", oracle=_ROUTING_ORACLE, tags=("N6", "P6"))
def m_modality_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality routing: one record stream fans into per-modality
    processing branches (text → tokenize, image/audio → payload sizing;
    the real decode is the documented multimodal stub) and reunions for
    accounting. Routing is a CASE projection, NOT a filter-per-branch
    re-scan: the table is read once and every branch's expression runs
    in the same map stage — on 100 TB the difference between one pass
    and one pass per modality."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("text")
    )
    routed = d.select(
        "doc_id",
        modality.alias("modality"),
        F.when(
            modality == "text", F.size(F.split(F.lower("text"), " "))
        ).alias("n_tokens"),
        F.when(modality != "text", F.length("text") * 4).alias("payload_bytes"),
    )
    return routed.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("total_tokens"),
        F.coalesce(F.sum("payload_bytes"), F.lit(0))
        .cast("long")
        .alias("total_payload_bytes"),
    )


# --- ViT-style patch-grid planning (pure Catalyst on decoded metadata) -----

_PATCH_ORACLE = """
WITH meta AS (
  SELECT doc_id,
         CAST(nb % 640 + 1 AS INT)        AS width,
         CAST((nb // 7) % 480 + 1 AS INT) AS height
  FROM (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents)
),
grid AS (
  SELECT doc_id, width, height,
         CAST(CEIL(width / 16.0) AS INT)  AS patches_x,
         CAST(CEIL(height / 16.0) AS INT) AS patches_y
  FROM meta
)
SELECT doc_id, width, height, patches_x, patches_y,
       CAST(patches_x * patches_y AS INT) + 1 AS seq_len,
       CAST(patches_x * patches_y AS INT) * 256 * 3 AS patch_bytes,
       patches_x * patches_y <= 1230 AS fits_context_ok
FROM grid
ORDER BY doc_id
"""


@register(
    "m_patch_grid_plan", oracle=_PATCH_ORACLE, tags=("multimodal", "F3", "P1")
)
def m_patch_grid_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch-grid planning for the image pipeline: from each
    image's decoded dimensions, the 16×16 patch grid, the transformer
    sequence length (+1 CLS token), and the patch-tensor byte budget —
    the SIZING pass a multimodal training pipeline runs before the
    expensive decode+embed stage, to pack batches and reject
    context-overflow images (`fits_context_ok` pins the 1230-patch cap
    = (640/16)·(480/16)+margin for the fake-codec dimension bounds).

    Runs entirely in Catalyst on the deterministic fake-codec metadata
    formulas (operators/multimodal.py) — integer-only arithmetic, no
    Python, no shuffle: a pure map over the table, which is exactly
    what makes it free at 100 TB (it fuses into the scan).
    """
    d = attach_payload(load_table(spark, sf_dir, "documents"))
    nb = F.octet_length("payload")
    width = (nb % 640 + 1).cast("int")
    height = (F.expr("octet_length(payload) div 7") % 480 + 1).cast("int")
    grid = d.select(
        "doc_id",
        width.alias("width"),
        height.alias("height"),
        F.ceil(width / 16.0).cast("int").alias("patches_x"),
        F.ceil(height / 16.0).cast("int").alias("patches_y"),
    )
    n_patches = (F.col("patches_x") * F.col("patches_y")).cast("int")
    return grid.select(
        "doc_id",
        "width",
        "height",
        "patches_x",
        "patches_y",
        (n_patches + 1).alias("seq_len"),
        (n_patches * 256 * 3).alias("patch_bytes"),
        (n_patches <= 1230).alias("fits_context_ok"),
    ).orderBy("doc_id")


# --- A/V sync drift check (pure Catalyst on fake-codec metadata) -----------

_AVSYNC_ORACLE = """
WITH meta AS (
  SELECT doc_id, octet_length(encode(text)) AS nb FROM documents
),
streams AS (
  SELECT doc_id, nb,
         CAST(CEIL(nb / 256.0) AS BIGINT) AS n_frames,
         CAST(nb AS BIGINT) * 3 AS n_samples
  FROM meta
),
timed AS (
  SELECT doc_id, n_frames, n_samples,
         CAST(n_frames * 1000 // 24 AS BIGINT) AS video_ms,
         CAST(n_samples * 1000 // 16000 AS BIGINT) AS audio_ms
  FROM streams
)
SELECT doc_id, n_frames, n_samples, video_ms, audio_ms,
       video_ms - audio_ms AS drift_ms,
       ABS(video_ms - audio_ms) > 40 AS needs_resync
FROM timed
ORDER BY doc_id
"""


@register(
    "m_av_sync_drift", oracle=_AVSYNC_ORACLE, tags=("multimodal", "F3", "P2")
)
def m_av_sync_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video synchronization audit: from each media item's
    stream metadata (fake-codec formulas: one frame per 256 payload
    bytes at 24 fps; 3 audio samples per byte at 16 kHz), the duration
    of each stream in integer milliseconds and their drift — items
    drifting beyond the 40 ms lip-sync threshold are flagged for
    resampling before frame-aligned multimodal training. The QC pass
    that belongs BEFORE `m_frame_sampling` spends decode budget.

    Pure-map integer arithmetic (positive-only floor division, so
    Spark DIV and DuckDB // agree) that fuses into the scan — zero
    shuffle at any scale; swap the fake formulas for real container
    metadata (ffprobe fields) on a cluster with codecs installed.
    """
    d = attach_payload(load_table(spark, sf_dir, "documents"))
    nb = F.octet_length("payload").cast("long")
    streams = d.select(
        "doc_id",
        F.ceil(nb / 256.0).cast("long").alias("n_frames"),
        (nb * 3).alias("n_samples"),
    )
    timed = streams.select(
        "doc_id",
        "n_frames",
        "n_samples",
        F.expr("CAST(n_frames * 1000 DIV 24 AS BIGINT)").alias("video_ms"),
        F.expr("CAST(n_samples * 1000 DIV 16000 AS BIGINT)").alias("audio_ms"),
    )
    return timed.select(
        "doc_id",
        "n_frames",
        "n_samples",
        "video_ms",
        "audio_ms",
        (F.col("video_ms") - F.col("audio_ms")).alias("drift_ms"),
        (F.abs(F.col("video_ms") - F.col("audio_ms")) > 40).alias(
            "needs_resync"
        ),
    ).orderBy("doc_id")


# --- payload integrity audit (claimed vs actual byte counts) ---------------

_INTEGRITY_ORACLE = """
WITH claimed AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 59 = 0 THEN n_chars + 1 ELSE n_chars END
           AS claimed_bytes,
         octet_length(encode(text)) AS actual_bytes,
         doc_id % 59 = 0 AS planted
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_items,
       CAST(SUM(CASE WHEN claimed_bytes <> actual_bytes THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatched,
       CAST(SUM(actual_bytes) AS BIGINT) AS total_actual_bytes,
       CAST(SUM(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
       MIN(CASE WHEN planted THEN claimed_bytes <> actual_bytes END)
         AS planted_all_caught_ok,
       MIN(CASE WHEN NOT planted THEN claimed_bytes = actual_bytes END)
         AS clean_all_pass_ok
FROM claimed
GROUP BY lang
ORDER BY lang
"""


@register(
    "m_payload_integrity_audit",
    oracle=_INTEGRITY_ORACLE,
    tags=("multimodal", "A1", "P6"),
)
def m_payload_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-payload integrity audit: every item's CLAIMED byte count
    (the metadata a manifest or upstream crawler recorded) checked
    against the ACTUAL payload length — the transfer-corruption /
    truncated-download gate that belongs before any decode budget is
    spent (a media lake ingesting without this check discovers
    truncation as decoder crashes, much later and much more
    expensively). Planted mismatches (claimed+1 on doc_id ≡ 0 mod 59)
    pin detector recall and `clean_all_pass_ok` pins zero false
    alarms on untampered items.

    Scale: pure map (octet_length fuses into the scan) + one
    combinable groupBy(lang). The synthetic corpus is ASCII so
    n_chars == utf-8 bytes for clean rows; with real multibyte text
    the claimed size comes from the manifest, not n_chars.
    """
    d = attach_payload(load_table(spark, sf_dir, "documents"))
    claimed = d.select(
        "lang",
        F.when(F.col("doc_id") % 59 == 0, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars"))
        .alias("claimed_bytes"),
        F.octet_length("payload").cast("long").alias("actual_bytes"),
        (F.col("doc_id") % 59 == 0).alias("planted"),
    )
    return (
        claimed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.when(
                    F.col("claimed_bytes") != F.col("actual_bytes"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_mismatched"),
            F.sum("actual_bytes").cast("long").alias("total_actual_bytes"),
            F.sum(F.when(F.col("planted"), 1).otherwise(0))
            .cast("long")
            .alias("n_planted"),
            F.min(
                F.when(
                    F.col("planted"),
                    F.col("claimed_bytes") != F.col("actual_bytes"),
                )
            ).alias("planted_all_caught_ok"),
            F.min(
                F.when(
                    ~F.col("planted"),
                    F.col("claimed_bytes") == F.col("actual_bytes"),
                )
            ).alias("clean_all_pass_ok"),
        )
        .orderBy("lang")
    )


# --- container-format sniffing: magic bytes vs claimed format --------------

_MAGIC_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % 3 AS INT) AS c,
         CAST(CASE WHEN doc_id % 97 = 0 THEN (doc_id % 3 + 1) % 3
                   ELSE doc_id % 3 END AS INT) AS a
  FROM documents
)
SELECT ['png', 'jpeg', 'mp3'][c + 1] AS claimed_format,
       ['png', 'jpeg', 'mp3'][a + 1] AS detected_format,
       COUNT(*) AS n_docs,
       c <> a AS is_mismatch
FROM d
GROUP BY 1, 2, 4
ORDER BY 1, 2
"""

#: (format, 4-byte magic prefix, uppercase hex) — real container signatures.
_MAGIC_SIGS = (("png", "89504E47"), ("jpeg", "FFD8FFE0"), ("mp3", "49443303"))


@register(
    "m_magic_bytes_sniff",
    oracle=_MAGIC_ORACLE,
    tags=("multimodal", "P6", "F7"),
)
def m_magic_bytes_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-format sniffing: read the payload's leading magic
    bytes (real PNG/JPEG/ID3 signatures) and cross-tab detected
    format against the claimed one — the ingest-time integrity gate
    that catches mislabeled or transcoded media before an expensive
    decode fan-out. Payloads are synthesized with a real 4-byte header
    prepended to the text bytes, and every 97th document is planted
    with the WRONG header; the Spark side then genuinely sniffs bytes
    (binary substring → hex → signature table) while the oracle
    predicts the cross-tab analytically from the planting arithmetic —
    the sniff must reproduce the plant exactly to hash-match.

    Scale: map-only over the media table (no shuffle until the final
    tiny cross-tab rollup); the sniff reads 4 bytes per row and stays
    entirely in codegen — no Python, no decode."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    names = F.array(*[F.lit(n) for n, _ in _MAGIC_SIGS])
    headers = F.array(*[F.lit(h) for _, h in _MAGIC_SIGS])
    c = (F.col("doc_id") % 3).cast("int")
    a = (
        F.when(F.col("doc_id") % 97 == 0, ((F.col("doc_id") % 3) + 1) % 3)
        .otherwise(F.col("doc_id") % 3)
        .cast("int")
    )
    with_payload = docs.select(
        F.element_at(names, c + 1).alias("claimed_format"),
        F.concat(
            F.unhex(F.element_at(headers, a + 1)), F.encode("text", "UTF-8")
        ).alias("payload"),
    )
    prefix = F.upper(F.hex(F.substring(F.col("payload"), 1, 4)))
    detected = F.lit("unknown")
    for name, sig in reversed(_MAGIC_SIGS):
        detected = F.when(prefix == sig, name).otherwise(detected)
    sniffed = with_payload.select(
        "claimed_format", detected.alias("detected_format")
    )
    return (
        sniffed.groupBy("claimed_format", "detected_format")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "is_mismatch", F.col("claimed_format") != F.col("detected_format")
        )
        .orderBy("claimed_format", "detected_format")
    )


# ---------------------------------------------------------------------------
# Scene-cut detection over the fake video payload (frame-signature deltas)
# ---------------------------------------------------------------------------

_SCENE_CUT_ORACLE = """
WITH frames AS (
  SELECT doc_id, i,
         LENGTH(SUBSTRING(text, CAST(i * 256 + 1 AS INT), 256))
         - LENGTH(REPLACE(SUBSTRING(text, CAST(i * 256 + 1 AS INT), 256),
                          ' ', '')) AS sig
  FROM documents,
       UNNEST(generate_series(0,
         CAST(CEIL(LENGTH(text) / 256.0) AS BIGINT) - 1)) AS t(i)
),
diffs AS (
  SELECT doc_id, i, sig,
         sig - LAG(sig) OVER (PARTITION BY doc_id ORDER BY i) AS d
  FROM frames
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN ABS(d) >= 8 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cuts,
       CAST(COALESCE(MIN(CASE WHEN ABS(d) >= 8 THEN i END), -1) AS BIGINT)
         AS first_cut_frame,
       CAST(SUM(sig) AS BIGINT) AS total_sig
FROM diffs
GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "m_scene_cut_detection",
    oracle=_SCENE_CUT_ORACLE,
    tags=("multimodal", "U5", "W2", "A1"),
)
def m_scene_cut_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the opaque media payload: an
    Arrow-batched mapInPandas extracts one signature per 256-byte
    'frame' (here: blank-byte count — the stand-in for a real frame
    histogram; swap the numpy body for a codec call and nothing else
    changes), then consecutive-frame signature deltas above a threshold
    mark cuts — the shot-boundary pass every video curation pipeline
    runs before sampling keyframes.

    Scale design — the decode+signature pass is map-only over whatever
    partitioning the media table has (no shuffle, no collect; payload
    bytes → numpy uint8 view per Arrow batch). The only shuffles are
    the per-video lag window and final rollup, both keyed by doc_id —
    frames of one video co-locate, so state is one row per video. The
    oracle reproduces the frame slicing relationally (payload is the
    UTF-8 text bytes, ASCII-only in this corpus, so byte and char
    slices coincide)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    docs = attach_payload(load_table(spark, sf_dir, "documents"))

    sig_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("i", T.LongType()),
            T.StructField("sig", T.LongType()),
        ]
    )

    def frame_sigs(batches):
        # Per-partition codec init would happen here.
        for pdf in batches:
            out_doc, out_i, out_sig = [], [], []
            for doc_id, payload in zip(pdf["doc_id"].values, pdf["payload"]):
                buf = np.frombuffer(payload, dtype=np.uint8)
                n_frames = -(-len(buf) // 256)
                for i in range(n_frames):
                    out_doc.append(doc_id)
                    out_i.append(i)
                    out_sig.append(int((buf[i * 256:(i + 1) * 256] == 32).sum()))
            yield pd.DataFrame({"doc_id": out_doc, "i": out_i, "sig": out_sig})

    frames = docs.select("doc_id", "payload").mapInPandas(frame_sigs, sig_schema)
    w = Window.partitionBy("doc_id").orderBy("i")
    diffs = frames.withColumn("d", F.col("sig") - F.lag("sig").over(w))
    return (
        diffs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.when(F.abs(F.col("d")) >= 8, 1).otherwise(0)).alias("n_cuts"),
            F.coalesce(
                F.min(F.when(F.abs(F.col("d")) >= 8, F.col("i"))), F.lit(-1)
            ).alias("first_cut_frame"),
            F.sum("sig").alias("total_sig"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Voice-activity segments over fake audio frames (threshold + gaps-islands)
# ---------------------------------------------------------------------------

_VAD_ORACLE = """
WITH frames AS (
  SELECT doc_id, i,
         LENGTH(SUBSTRING(text, CAST(i * 256 + 1 AS INT), 256))
         - LENGTH(REPLACE(SUBSTRING(text, CAST(i * 256 + 1 AS INT), 256),
                          ' ', '')) AS sig
  FROM documents,
       UNNEST(generate_series(0,
         CAST(CEIL(LENGTH(text) / 256.0) AS BIGINT) - 1)) AS t(i)
),
active AS (
  SELECT doc_id, i,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM frames WHERE sig >= 30
),
segs AS (
  SELECT doc_id, island,
         CAST(COUNT(*) AS BIGINT) AS seg_len,
         CAST(MIN(i) AS BIGINT) AS seg_start
  FROM active GROUP BY doc_id, island
),
per_doc AS (
  SELECT f.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_frames,
         CAST(SUM(CASE WHEN sig >= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_active
  FROM frames f GROUP BY f.doc_id
)
SELECT p.doc_id, p.n_frames, p.n_active,
       CAST(COALESCE(COUNT(s.island), 0) AS BIGINT) AS n_segments,
       CAST(COALESCE(MAX(s.seg_len), 0) AS BIGINT) AS longest_segment,
       CAST(COALESCE(MIN(s.seg_start), -1) AS BIGINT) AS first_active_frame,
       p.n_active * 1000000 // p.n_frames AS active_ppm
FROM per_doc p LEFT JOIN segs s ON p.doc_id = s.doc_id
GROUP BY p.doc_id, p.n_frames, p.n_active
ORDER BY p.doc_id
"""


@register(
    "m_vad_segments",
    oracle=_VAD_ORACLE,
    tags=("multimodal", "U5", "W1", "J3"),
)
def m_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection over the opaque audio payload:
    per-frame energy (stand-in: blank-byte count per 256-byte frame,
    extracted by the same Arrow-batched mapInPandas as
    m_scene_cut_detection) is thresholded into active/silent, then
    consecutive active frames coalesce into SEGMENTS via gaps-islands —
    the utterance segmentation every speech pipeline runs before
    transcription, with per-recording segment count, longest utterance,
    first active frame and active-time ppm.

    Scale design — decode+energy is map-only over the media table's
    native partitioning; islands labeling is one per-recording window
    (frames of one recording co-locate); segment stats aggregate the
    LABELED islands, not the raw frames, and the final join is
    per-recording. At 100 TB of audio each stage's shuffle key is
    recording id — bounded rows per key by recording length."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    docs = attach_payload(load_table(spark, sf_dir, "documents"))
    sig_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("i", T.LongType()),
            T.StructField("sig", T.LongType()),
        ]
    )

    def frame_sigs(batches):
        for pdf in batches:
            out_doc, out_i, out_sig = [], [], []
            for doc_id, payload in zip(pdf["doc_id"].values, pdf["payload"]):
                buf = np.frombuffer(payload, dtype=np.uint8)
                n_frames = -(-len(buf) // 256)
                for i in range(n_frames):
                    out_doc.append(doc_id)
                    out_i.append(i)
                    out_sig.append(int((buf[i * 256:(i + 1) * 256] == 32).sum()))
            yield pd.DataFrame({"doc_id": out_doc, "i": out_i, "sig": out_sig})

    frames = docs.select("doc_id", "payload").mapInPandas(frame_sigs, sig_schema)
    active = frames.filter(F.col("sig") >= 30).withColumn(
        "island",
        F.col("i")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("i")),
    )
    segs = active.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).alias("seg_len"), F.min("i").alias("seg_start")
    )
    per_doc = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.when(F.col("sig") >= 30, 1).otherwise(0)).alias("n_active"),
    )
    return (
        per_doc.join(segs, "doc_id", "left")
        .groupBy("doc_id", "n_frames", "n_active")
        .agg(
            F.coalesce(F.count(F.col("island")), F.lit(0)).alias("n_segments"),
            F.coalesce(F.max("seg_len"), F.lit(0)).alias("longest_segment"),
            F.coalesce(F.min("seg_start"), F.lit(-1)).alias("first_active_frame"),
        )
        .select(
            "doc_id",
            "n_frames",
            "n_active",
            "n_segments",
            "longest_segment",
            "first_active_frame",
            F.expr("n_active * 1000000 DIV n_frames").alias("active_ppm"),
        )
        .orderBy("doc_id")
    )


# --- perceptual-hash (dHash) near-duplicate detection -----------------------

_PHASH_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE LENGTH(text) >= 16
  UNION ALL
  SELECT doc_id + 100000,
         SUBSTR(text, 1, LENGTH(text) - 1) || 'x'
  FROM documents WHERE LENGTH(text) >= 16 AND doc_id % 40 = 0
),
samples AS (
  SELECT doc_id,
         i,
         ASCII(SUBSTR(text,
                      1 + ((LENGTH(text) - 1) * i) // 15, 1)) AS inten
  FROM corpus, UNNEST(GENERATE_SERIES(0, 15)) AS g(i)
),
bits AS (
  SELECT a.doc_id,
         CAST(SUM(CASE WHEN a.inten > b.inten
                       THEN CAST(POWER(2, a.i) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS dhash
  FROM samples a JOIN samples b
    ON a.doc_id = b.doc_id AND b.i = a.i + 1
  GROUP BY a.doc_id
),
bands AS (
  SELECT doc_id, dhash, k,
         CAST((dhash // CAST(POWER(32, k) AS BIGINT)) % 32 AS BIGINT)
           AS band_val
  FROM bits, UNNEST(GENERATE_SERIES(0, 2)) AS g(k)
),
buckets AS (
  SELECT k, band_val FROM bands
  GROUP BY k, band_val HAVING COUNT(*) <= 50
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.dhash AS ha, b.dhash AS hb
  FROM bands a
  JOIN buckets u ON a.k = u.k AND a.band_val = u.band_val
  JOIN bands b ON a.k = b.k AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming,
       doc_b = doc_a + 100000 AS is_planted_pair
FROM cand
WHERE bit_count(xor(ha, hb)) <= 2
ORDER BY hamming, doc_a, doc_b
LIMIT 20
"""


@register(
    "m_perceptual_hash_dedup",
    oracle=_PHASH_ORACLE,
    tags=("N6", "N2", "F1", "J10"),
)
def m_perceptual_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (dHash) near-duplicate detection — the IMAGE
    dedup path: sample 16 intensities across the media stream, hash the
    15 adjacent-pair gradients into bits, and find pairs within Hamming
    distance 2 via banded buckets. Intensities here are deterministic
    byte samples of the payload stand-in (the honest-stub convention:
    with a real codec the samples are downscaled pixels; every
    downstream stage — gradient bits, banding, Hamming refine — is the
    production shape and oracle-exact).

    Scale design: SimHash's pigeonhole argument with 3 bands of 5 bits
    — Hamming ≤ 2 on 15 bits forces at least one identical band, so
    candidates come from a band-value EQUI-join, never all-pairs; hot
    buckets are capped at 50 docs (stop-bucket cut). The hash itself is
    pure codegen integer math fused into the scan; planted
    last-byte-edited copies (same length, so sample positions align)
    prove the ≤2-bit tolerance end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.length("text") >= 16)
    corpus = base.select("doc_id", "text").unionAll(
        base.filter(F.col("doc_id") % 40 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.expr(
                "SUBSTR(text, 1, LENGTH(text) - 1) || 'x'"
            ).alias("text"),
        )
    )
    samples = corpus.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("i"),
        "text",
    ).select(
        "doc_id",
        "i",
        F.expr(
            "ASCII(SUBSTR(text, 1 + ((LENGTH(text) - 1) * i) DIV 15, 1))"
        ).alias("inten"),
    )
    a = samples.select("doc_id", "i", F.col("inten").alias("ia"))
    b = samples.select(
        "doc_id", (F.col("i") - 1).alias("i"), F.col("inten").alias("ib")
    )
    bits = (
        a.join(b, ["doc_id", "i"])
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ia") > F.col("ib"),
                    F.expr("CAST(POWER(2, i) AS BIGINT)"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("dhash")
        )
    )
    bands = bits.select(
        "doc_id",
        "dhash",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("k"),
    ).withColumn(
        "band_val",
        F.expr("(dhash DIV CAST(POWER(32, k) AS BIGINT)) % 32"),
    )
    buckets = (
        bands.groupBy("k", "band_val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= 50)
        .select("k", "band_val")
    )
    ba = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("dhash").alias("ha"),
        "k",
        "band_val",
    ).join(buckets, ["k", "band_val"])
    bb = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("dhash").alias("hb"),
        "k",
        "band_val",
    )
    cand = (
        ba.join(bb, ["k", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .dropDuplicates()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
        .filter(F.col("hamming") <= 2)
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            (F.col("doc_b") == F.col("doc_a") + 100000).alias(
                "is_planted_pair"
            ),
        )
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (rolling polynomial hash boundaries)
# ---------------------------------------------------------------------------

#: 31^0..31^7 as exact BIGINT literals — the unrolled 8-byte window hash.
_CDC_POWS = tuple(31 ** i for i in range(8))
_CDC_WINDOW = 8
_CDC_MASK = 64  # boundary when hash % 64 == 0 → expected chunk ~64 chars

_CDC_HASH_SQL = " + ".join(
    f"ASCII(SUBSTR(text, pos + {i}, 1)) * CAST({p} AS BIGINT)"
    for i, p in enumerate(_CDC_POWS)
)

_CDC_ORACLE = f"""
WITH positions AS (
  SELECT doc_id, n_chars, text,
         UNNEST(RANGE(1, n_chars - {_CDC_WINDOW} + 2)) AS pos
  FROM documents
  WHERE n_chars >= {_CDC_WINDOW}
),
hashes AS (
  SELECT doc_id, n_chars, pos,
         ({_CDC_HASH_SQL}) % {_CDC_MASK} AS h
  FROM positions
),
per_doc AS (
  SELECT doc_id,
         MAX(n_chars) AS n_chars,
         CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boundaries
  FROM hashes GROUP BY doc_id
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_boundaries) AS BIGINT) AS total_boundaries,
  CAST(SUM(n_boundaries + 1) AS BIGINT) AS total_chunks,
  ROUND(SUM(CAST(n_chars AS DOUBLE)) / SUM(n_boundaries + 1), 6)
    AS avg_chunk_chars,
  CAST(MAX(n_boundaries) AS BIGINT) AS max_boundaries_per_doc
FROM per_doc
"""


@register(
    "m_content_defined_chunking",
    oracle=_CDC_ORACLE,
    tags=("N1", "N6", "F7", "F1"),
)
def m_content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking — the rsync/LBFS/dedup-store technique:
    a rolling polynomial hash over a fixed 8-char window marks a chunk
    boundary wherever hash % 64 == 0, so chunk boundaries survive
    insertions/deletions (unlike fixed-size blocks) and byte-identical
    regions of DIFFERENT blobs dedup against each other. The Spark side
    is the storage-layout planning rollup: boundary density, chunk
    counts, and expected chunk size per corpus.

    The window hash is UNROLLED into eight ASCII()*31^i terms — exact
    BIGINT arithmetic in whole-stage codegen (never an interpreted
    higher-order function in the hot path), and the position fan-out is
    a map-side posexplode: zero shuffles until the per-doc rollup. At
    blob scale the same unrolled expression runs inside mapInPandas over
    binary payloads; the parquet-friendly text path here keeps the
    operator oracle-checkable.
    """
    d = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars") >= _CDC_WINDOW
    )
    # Pre-fanout repartition: the per-position posexplode multiplies row
    # count by ~n_chars, and a single-file scan arrives as ONE partition
    # — without this the whole corpus hashes in one task. The shuffle
    # moves only the compact doc table, never the exploded positions.
    d = d.repartition(spark.sparkContext.defaultParallelism)
    positions = d.select(
        "doc_id",
        "n_chars",
        F.posexplode(
            F.sequence(F.lit(1), F.col("n_chars") - _CDC_WINDOW + 1)
        ).alias("_i", "pos"),
        "text",
    )
    window_hash = None
    for i, p in enumerate(_CDC_POWS):
        term = F.ascii(F.expr(f"SUBSTR(text, pos + {i}, 1)")) * F.lit(p).cast(
            "bigint"
        )
        window_hash = term if window_hash is None else window_hash + term
    hashes = positions.select(
        "doc_id", "n_chars", (window_hash % _CDC_MASK).alias("h")
    )
    per_doc = hashes.groupBy("doc_id").agg(
        F.max("n_chars").alias("n_chars"),
        F.sum(F.when(F.col("h") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_boundaries"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_boundaries").cast("bigint").alias("total_boundaries"),
        F.sum(F.col("n_boundaries") + 1).cast("bigint").alias("total_chunks"),
        F.round(
            F.sum(F.col("n_chars").cast("double"))
            / F.sum(F.col("n_boundaries") + 1),
            6,
        ).alias("avg_chunk_chars"),
        F.max("n_boundaries").cast("bigint").alias("max_boundaries_per_doc"),
    )


# --- S3+N6+P3, fifth wave: JSON asset manifest with nested struct columns ----

_MANIFEST_ORACLE = """
SELECT
  CASE WHEN d.lang IN ('en', 'de') THEN 'text/latin' ELSE 'text/other' END
    AS kind,
  CAST(COUNT(*) AS BIGINT)        AS n_assets,
  CAST(SUM(d.n_chars) AS BIGINT)  AS total_chars,
  CAST(SUM(e.label) AS BIGINT)    AS label_sum
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE (d.lang = 'en') <> (d.source IN ('src0', 'src1', 'src2'))
  AND NOT (d.n_chars < 40 AND d.lang = 'zh')
GROUP BY 1
"""


@register(
    "m_manifest_json_roundtrip",
    oracle=_MANIFEST_ORACLE,
    tags=("S3", "N6", "P3"),
)
def m_manifest_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+N6+P3, fifth wave: the multimodal ingestion front door — an
    asset MANIFEST of nested structs ({asset: {kind, lang, source},
    metrics: {n_chars, label}}) is written as JSON lines and read back
    with schema inference (nested JSON objects round-trip to struct
    columns), then filtered by a boolean COMBINATION (an XOR spelled
    `<>` on booleans plus a negated conjunction) evaluated on the
    struct fields, and rolled up per asset kind.

    Scale: manifests are exactly how 100 TB multimodal corpora are
    indexed — small JSON/JSONL control files describing opaque payload
    blobs; this proves struct-typed metadata survives the sink -> scan
    -> filter -> agg path with zero Python in the row pipeline."""
    from ..sources import scratch_dir

    path = scratch_dir(sf_dir, "asset_manifest_json")
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    manifest = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        F.struct(
            F.when(F.col("lang").isin("en", "de"), "text/latin")
            .otherwise("text/other")
            .alias("kind"),
            "lang",
            "source",
        ).alias("asset"),
        F.struct("n_chars", "label").alias("metrics"),
    )
    manifest.write.mode("overwrite").json(path)
    back = spark.read.json(path)  # nested objects -> struct columns
    kept = back.filter(
        (
            (F.col("asset.lang") == "en")
            != F.col("asset.source").isin("src0", "src1", "src2")
        )
        & ~((F.col("metrics.n_chars") < 40) & (F.col("asset.lang") == "zh"))
    )
    return kept.groupBy(F.col("asset.kind").alias("kind")).agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum("metrics.n_chars").cast("long").alias("total_chars"),
        F.sum("metrics.label").cast("long").alias("label_sum"),
    )


# --- N6+P3+F5, seventh wave: AV asset map-typed metadata -----------------------

_AV_MAP_ORACLE = """
WITH assets AS (
  SELECT doc_id, lang, source, n_chars,
         n_chars * 40 + doc_id % 997 AS audio_ms,
         n_chars * 55 + doc_id % 641 AS video_ms,
         CASE WHEN source IN ('src0', 'src1') THEN 'h264' ELSE 'av1' END
           AS codec
  FROM documents
)
SELECT codec,
       CAST(COUNT(*) AS BIGINT)        AS n_assets,
       CAST(SUM(audio_ms) AS BIGINT)   AS total_audio_ms,
       CAST(SUM(video_ms) AS BIGINT)   AS total_video_ms,
       CAST(SUM(CASE WHEN video_ms > 2 * audio_ms THEN 1 ELSE 0 END)
            AS BIGINT)                 AS n_video_heavy
FROM assets
WHERE (audio_ms > 2000) <> (video_ms > 3000)
   OR NOT (lang = 'zh' OR n_chars < 30)
GROUP BY codec
"""


@register(
    "m_av_asset_map_census",
    oracle=_AV_MAP_ORACLE,
    tags=("N6", "P3", "F5"),
)
def m_av_asset_map_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6+P3+F5, seventh wave: audio/video asset records whose per-
    modality durations live in a real MAP column (create_map ->
    element_at reads, the F5 mechanism) alongside a typed codec struct
    — the multimodal metadata shape where the set of modalities varies
    per asset so a fixed-width struct cannot hold it. Durations are
    DERIVED deterministically from (n_chars, doc_id) arithmetic — the
    payload decode itself is env-gated (operators/multimodal.py
    decode_image), so the census proves the map-typed plumbing, filter
    semantics (XOR spelled <> on booleans plus a negated disjunction —
    P3), and rollup with zero Python in the row path.

    Scale: create_map/element_at are codegen expressions; the filter
    and rollup run on the map READS, never materializing the map to
    the output (complex columns stay inside the plan — the checked
    output is flat integers)."""
    d = load_table(spark, sf_dir, "documents")
    assets = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.create_map(
            F.lit("audio"),
            (F.col("n_chars") * 40 + F.col("doc_id") % 997).cast("long"),
            F.lit("video"),
            (F.col("n_chars") * 55 + F.col("doc_id") % 641).cast("long"),
        ).alias("durations_ms"),
        F.struct(
            F.when(F.col("source").isin("src0", "src1"), "h264")
            .otherwise("av1")
            .alias("codec"),
            "lang",
        ).alias("asset"),
    )
    audio = F.element_at("durations_ms", F.lit("audio"))
    video = F.element_at("durations_ms", F.lit("video"))
    kept = assets.filter(
        ((audio > 2000) != (video > 3000))
        | ~((F.col("lang") == "zh") | (F.col("n_chars") < 30))
    )
    return kept.groupBy(F.col("asset.codec").alias("codec")).agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum(audio).cast("long").alias("total_audio_ms"),
        F.sum(video).cast("long").alias("total_video_ms"),
        F.sum((video > 2 * audio).cast("long")).cast("long").alias(
            "n_video_heavy"
        ),
    )


# === Eighth wave (round 10): N6 depth restocks =================================

# --- N6+P3+N4, eighth wave: kNN over multimodal asset embeddings ---------------

def _asset_knn_oracle() -> str:
    from ..operators.similarity import dot_unrolled_sql, norm_unrolled_sql

    dim = 64
    dot_ab = dot_unrolled_sql("a.embedding", "b.embedding", dim)
    return f"""
WITH assets AS (
  SELECT e.vec_id, e.embedding, e.label, d.lang, d.source, d.n_chars,
         CASE WHEN e.label >= 5 THEN 'video' ELSE 'audio' END AS kind,
         {norm_unrolled_sql("e.embedding", dim)} AS nrm
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
corpus AS (
  SELECT * FROM assets
  WHERE (lang = 'en') <> (label >= 5)
     OR NOT (n_chars < 60 OR source IN ('src0', 'src1', 'src2'))
),
probes AS (
  SELECT * FROM assets WHERE vec_id % 100 = 0
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ({dot_ab}) / (a.nrm * b.nrm) AS sim,
         b.kind AS neighbor_kind
  FROM probes a, corpus b
  WHERE a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, sim, rnk, neighbor_kind FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM pairs
) t WHERE rnk <= 3
"""


@register(
    "m_asset_embedding_knn",
    oracle=_asset_knn_oracle(),
    tags=("N6", "P3", "N4"),
)
def m_asset_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6+P3+N4, eighth wave: similarity search over a MULTIMODAL asset
    catalog — each asset is a struct {kind, lang, source, n_chars}
    riding beside its embedding payload (N6: typed metadata + opaque
    vector, the 100 TB multimodal-table shape); the searchable corpus
    is gated by a boolean COMBINATION on the struct fields (XOR spelled
    `!=` plus a negated disjunction — P3); and each probe (every 100th
    vec_id) takes its top-3 cosine neighbors from the gated corpus by
    brute force (N4), labeled with the neighbor's modality kind.

    Scale: probes are |corpus|/100 — the broadcast side; the corpus is
    scanned once map-side (operators/similarity.knn_bruteforce with
    unrolled dim-64 arithmetic); only top-k rows shuffle. The struct
    column flows through filter -> join -> window untouched, proving
    metadata never needs flattening."""
    from ..operators.similarity import knn_bruteforce

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    e = load_table(spark, sf_dir, "embeddings")
    assets = e.join(d, e.vec_id == d.doc_id).select(
        "vec_id",
        "embedding",
        F.struct(
            F.when(F.col("label") >= 5, "video").otherwise("audio").alias("kind"),
            "lang",
            "source",
            "n_chars",
        ).alias("asset"),
        "label",
    )
    corpus = assets.filter(
        ((F.col("asset.lang") == "en") != (F.col("label") >= 5))
        | ~(
            (F.col("asset.n_chars") < 60)
            | F.col("asset.source").isin("src0", "src1", "src2")
        )
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        F.col("asset.kind").alias("neighbor_kind"),
    )
    probes = assets.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    out = knn_bruteforce(
        probes,
        corpus,
        q_id="query_id",
        c_id="neighbor_id",
        q_vec="q_emb",
        c_vec="embedding",
        k=3,
        dim=64,
    )
    return out.select("query_id", "neighbor_id", "sim", "rnk", "neighbor_kind")


# --- N6+N1, eighth wave: manifest payload-fingerprint dedup audit --------------

_MANIFEST_DEDUP_ORACLE = """
WITH manifest AS (
  SELECT doc_id,
         CASE WHEN lang IN ('en', 'de', 'fr') THEN 'latin' ELSE 'other' END
           AS kind,
         LEFT(LOWER(TRIM(text)), 40) AS fingerprint
  FROM documents WHERE text IS NOT NULL
),
grouped AS (
  SELECT kind, fingerprint, COUNT(*) AS n
  FROM manifest GROUP BY kind, fingerprint
)
SELECT kind,
       CAST(SUM(n) AS BIGINT)                                  AS n_assets,
       CAST(COUNT(*) AS BIGINT)                                AS n_fingerprints,
       CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)  AS n_dup_assets,
       CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)  AS n_dup_groups
FROM grouped
GROUP BY kind
"""


@register(
    "m_manifest_dedup_audit",
    oracle=_MANIFEST_DEDUP_ORACLE,
    tags=("N6", "N1"),
)
def m_manifest_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6+N1, eighth wave: exact dedup applied to a multimodal MANIFEST
    — assets are struct rows {kind, fingerprint} where the fingerprint
    is the normalized 40-char payload prefix (the key this corpus
    actually collides on — it has prefix duplicates but zero full-text
    ones, see n_split_contamination_audit), and the audit reports, per
    modality kind, how many assets share a fingerprint with another
    asset (would be dropped or survivorship-resolved by the dedup pass)
    and how many duplicate groups exist. This is the pre-ingest dedup
    census a multimodal pipeline runs on its manifest BEFORE touching
    any payload bytes.

    Scale: one hash shuffle on (kind, fingerprint) group sizes — the N1
    skeleton; at 100 TB the fingerprint would be sha2(prefix) to bound
    key width, the same one-shuffle plan."""
    m = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.struct(
                F.when(F.col("lang").isin("en", "de", "fr"), "latin")
                .otherwise("other")
                .alias("kind"),
                F.lower(F.trim("text")).substr(1, 40).alias("fingerprint"),
            ).alias("asset")
        )
    )
    grouped = m.groupBy(
        F.col("asset.kind").alias("kind"),
        F.col("asset.fingerprint").alias("fingerprint"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return grouped.groupBy("kind").agg(
        F.sum("n").cast("long").alias("n_assets"),
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_dup_assets"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_groups"),
    )


# === Ninth wave (round 11): N6 depth restocks ==================================

# --- N1+N6+J5, ninth wave: anti-join survivorship over the asset manifest ------

_FP_ANTI_ORACLE = """
WITH assets AS (
  SELECT d.doc_id,
         CASE WHEN e.label >= 5 THEN 'video' ELSE 'audio' END AS kind,
         LEFT(LOWER(TRIM(d.text)), 40) AS fp,
         d.n_chars
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.text IS NOT NULL
),
dup_fps AS (
  SELECT fp FROM assets GROUP BY fp HAVING COUNT(*) > 1
),
uniq AS (
  SELECT a.* FROM assets a ANTI JOIN dup_fps u ON a.fp = u.fp
),
tot AS (
  SELECT kind, COUNT(*) AS n_assets, SUM(n_chars) AS chars_total
  FROM assets GROUP BY kind
),
uq AS (
  SELECT kind, COUNT(*) AS n_unique, SUM(n_chars) AS chars_unique
  FROM uniq GROUP BY kind
)
SELECT t.kind,
       CAST(t.n_assets AS BIGINT)                          AS n_assets,
       CAST(COALESCE(u.n_unique, 0) AS BIGINT)             AS n_unique,
       CAST(t.n_assets - COALESCE(u.n_unique, 0) AS BIGINT) AS n_dup_members,
       CAST(t.chars_total AS BIGINT)                       AS chars_total,
       CAST(COALESCE(u.chars_unique, 0) AS BIGINT)         AS chars_unique
FROM tot t LEFT JOIN uq u ON t.kind = u.kind
"""


@register(
    "m_fingerprint_anti_audit",
    oracle=_FP_ANTI_ORACLE,
    tags=("N1", "N6", "J5"),
)
def m_fingerprint_anti_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1+N6+J5, ninth wave: dedup SURVIVORSHIP stated as an anti-join
    — where m_manifest_dedup_audit censuses duplicate groups, this
    query materializes the CLEAN SET: assets whose normalized 40-char
    payload fingerprint (the key this corpus actually collides on)
    appears exactly once, derived by LEFT ANTI joining the manifest
    against the >1-count fingerprint list (J5 — the anti-join IS the
    dedup filter, the production spelling when the dup list is a
    separately-maintained table). The manifest is multimodal (N6):
    kind comes from the embedding-side label, so the audit spans the
    doc/embedding join, and the payload-volume columns state how many
    characters survive per modality.

    Scale: the dup-fingerprint list is one combinable groupBy;
    the anti-join shuffles on the 40-char key once (at 100 TB the key
    becomes sha2(fp) to bound width — same plan); both censuses are
    bounded 2-key aggregates."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    assets = d.join(e, d.doc_id == e.vec_id).select(
        F.struct(
            F.when(F.col("label") >= 5, "video").otherwise("audio").alias(
                "kind"
            ),
            F.lower(F.trim("text")).substr(1, 40).alias("fp"),
            "n_chars",
        ).alias("asset")
    ).select(
        F.col("asset.kind").alias("kind"),
        F.col("asset.fp").alias("fp"),
        F.col("asset.n_chars").alias("n_chars"),
    )
    dup_fps = (
        assets.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("fp")
    )
    uniq = assets.join(dup_fps, "fp", "left_anti")
    tot = assets.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )
    uq = uniq.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum("n_chars").cast("long").alias("chars_unique"),
    )
    return tot.join(uq, "kind", "left").select(
        "kind",
        "n_assets",
        F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
        (F.col("n_assets") - F.coalesce("n_unique", F.lit(0)))
        .cast("long")
        .alias("n_dup_members"),
        "chars_total",
        F.coalesce("chars_unique", F.lit(0)).cast("long").alias("chars_unique"),
    )


# --- N4+N6+P3, ninth wave: patch-grid kNN with struct-derived output -----------

def _patch_knn_oracle() -> str:
    from ..operators.similarity import dot_unrolled_sql, norm_unrolled_sql

    dim = 64
    dot_ab = dot_unrolled_sql("a.embedding", "b.embedding", dim)
    return f"""
WITH assets AS (
  SELECT e.vec_id, e.embedding, e.label, d.lang, d.n_chars,
         (e.label % 4) + 1 AS grid_w,
         {norm_unrolled_sql("e.embedding", dim)} AS nrm
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
corpus AS (
  SELECT * FROM assets
  WHERE (label % 2 = 0 AND NOT lang = 'zh') OR n_chars >= 200
),
probes AS (
  SELECT * FROM assets WHERE vec_id % 100 = 7
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ({dot_ab}) / (a.nrm * b.nrm) AS sim,
         b.grid_w * b.grid_w AS neighbor_cells
  FROM probes a, corpus b
  WHERE a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, sim, rnk, CAST(neighbor_cells AS BIGINT)
         AS neighbor_cells
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM pairs
) t WHERE rnk <= 5
"""


@register(
    "m_patch_knn_rank",
    oracle=_patch_knn_oracle(),
    tags=("N4", "N6", "P3"),
)
def m_patch_knn_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4+N6+P3, ninth wave: similarity search where the multimodal
    struct DERIVES the answer columns — each asset carries a
    {grid_w, lang, n_chars} patch-grid descriptor (N6: a vision
    tokenizer's (label%4+1)-wide patch grid as typed metadata beside
    the opaque vector), the searchable corpus is gated by a mixed
    AND/OR combination over struct fields (P3 — a different shape from
    m_asset_embedding_knn's XOR gate), and each 7-mod-100 probe takes
    its top-FIVE cosine neighbors brute force (N4; k and probe set
    both differ from the eighth-wave query), reporting the neighbor's
    patch-cell count (grid_w squared) straight off the struct.

    Scale: probes are |corpus|/100 and broadcast; the gated corpus
    streams map-side through knn_bruteforce's unrolled dim-64
    arithmetic; only |Q| x 5 rows shuffle for the final rank."""
    from ..operators.similarity import knn_bruteforce

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    e = load_table(spark, sf_dir, "embeddings")
    assets = e.join(d, e.vec_id == d.doc_id).select(
        "vec_id",
        "embedding",
        "label",
        F.struct(
            ((F.col("label") % 4) + 1).cast("long").alias("grid_w"),
            "lang",
            "n_chars",
        ).alias("patch"),
    )
    corpus = assets.filter(
        ((F.col("label") % 2 == 0) & ~(F.col("patch.lang") == "zh"))
        | (F.col("patch.n_chars") >= 200)
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        (F.col("patch.grid_w") * F.col("patch.grid_w"))
        .cast("long")
        .alias("neighbor_cells"),
    )
    probes = assets.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    out = knn_bruteforce(
        probes,
        corpus,
        q_id="query_id",
        c_id="neighbor_id",
        q_vec="q_emb",
        c_vec="embedding",
        k=5,
        dim=64,
    )
    return out.select("query_id", "neighbor_id", "sim", "rnk", "neighbor_cells")
