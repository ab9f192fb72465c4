"""S2-S6: non-parquet scans, sinks, and the in-memory source.

Each query round-trips driver parquet through the target format so the
result is oracle-checkable against the original table (see
iris_pyspark_spark.sources). The aggregation after read-back keeps the
checked output small and deterministic regardless of file split count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import register
from ..sources import materialize, scratch_dir

# --- S2: CSV scan (schema-inferred, the reference's Iris-CSV idiom) --------

_CSV_ORACLE = """
SELECT n_regionkey,
       COUNT(*)        AS n_nations,
       MIN(n_name)     AS first_name,
       MAX(n_nationkey) AS max_key
FROM nation
GROUP BY n_regionkey
"""


@register("s_csv_scan_roundtrip", oracle=_CSV_ORACLE, tags=("S2", "S4"))
def s_csv_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir(sf_dir, "nation_csv")
    load_table(spark, sf_dir, "nation").write.mode("overwrite").option(
        "header", True
    ).csv(path)
    back = spark.read.csv(path, header=True, inferSchema=True)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
        F.max("n_nationkey").alias("max_key"),
    )


# --- S3: JSON-lines scan ---------------------------------------------------

_JSON_ORACLE = """
SELECT lang,
       COUNT(*)     AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id)  AS min_doc
FROM documents
GROUP BY lang
"""


@register("s_json_scan_roundtrip", oracle=_JSON_ORACLE, tags=("S3", "S4"))
def s_json_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir(sf_dir, "documents_json")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").json(path)
    back = spark.read.json(path)  # schema inferred from JSON lines
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
    )


# --- S4: parquet sink round-trip (filter survives the rewrite) -------------

_PARQUET_SINK_ORACLE = """
SELECT l_returnflag,
       COUNT(*)              AS n_items,
       SUM(l_extendedprice)  AS total_price
FROM lineitem
WHERE l_quantity > 40
GROUP BY l_returnflag
"""


@register("s_parquet_sink_roundtrip", oracle=_PARQUET_SINK_ORACLE, tags=("S1", "S4"))
def s_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir(sf_dir, "lineitem_hiqty_parquet")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40)
    li.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_extendedprice").alias("total_price"),
    )


# --- S5: partitioned sink + static partition pruning on read-back ----------

_PARTITIONED_ORACLE = """
SELECT source,
       COUNT(*)        AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE lang IN ('en', 'de')
GROUP BY source
"""


@register("s_partitioned_sink_pruned", oracle=_PARTITIONED_ORACLE, tags=("S5",))
def s_partitioned_sink_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir(sf_dir, "documents_by_lang")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "lang"
    )
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path)
    # lang is now a partition column: this filter prunes directories, not rows.
    return (
        back.filter(F.col("lang").isin("en", "de"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --- S6: in-memory source (createDataFrame) joined to a scanned table ------

_SEGMENTS = [
    ("BUILDING", 1),
    ("AUTOMOBILE", 2),
    ("MACHINERY", 3),
    ("HOUSEHOLD", 4),
    ("FURNITURE", 5),
]

_IN_MEMORY_ORACLE = """
SELECT seg.tier                 AS tier,
       COUNT(*)                 AS n_customers,
       SUM(c.c_acctbal)         AS total_balance
FROM customer c
JOIN (VALUES {values}) AS seg(segment, tier)
  ON c.c_mktsegment = seg.segment
GROUP BY seg.tier
""".format(values=", ".join(f"('{s}', {t})" for s, t in _SEGMENTS))


@register("s_in_memory_source_join", oracle=_IN_MEMORY_ORACLE, tags=("S6", "J2"))
def s_in_memory_source_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("segment", T.StringType()),
            T.StructField("tier", T.IntegerType()),
        ]
    )
    seg = spark.createDataFrame([Row(segment=s, tier=t) for s, t in _SEGMENTS], schema)
    cust = load_table(spark, sf_dir, "customer")
    # 5-row literal table: always broadcast — no shuffle at any scale.
    return (
        cust.join(F.broadcast(seg), cust.c_mktsegment == seg.segment)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c_acctbal").alias("total_balance"),
        )
    )


# --- S-extra: schema evolution across parquet files (mergeSchema) ----------

_EVOLUTION_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN quality IS NULL THEN 0 ELSE quality END) AS BIGINT)
         AS total_quality
FROM (
  SELECT lang, NULL AS quality FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT lang, n_chars AS quality FROM documents WHERE doc_id % 2 = 1
)
GROUP BY lang
"""


@register("s_schema_evolution_scan", oracle=_EVOLUTION_ORACLE, tags=("S1", "S4"))
def s_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two parquet generations of one dataset — v1
    lacks the `quality` column, v2 adds it — read as one table with
    mergeSchema (v1 rows surface NULL quality). The ingest-time reality
    of any long-lived 100 TB table."""
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_dir(sf_dir, "documents_evolved")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(path + "/v1")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.col("n_chars").alias("quality")
    ).write.mode("overwrite").parquet(path + "/v2")
    merged = spark.read.option("mergeSchema", True).parquet(path + "/v1", path + "/v2")
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce(F.col("quality"), F.lit(0))).alias("total_quality"),
    )


# --- S-extra: custom Python Data Source (Spark 4 DataSource API) -----------

_PYDS_ORACLE = """
SELECT CAST(i % 7 AS BIGINT) AS bucket,
       COUNT(*) AS n,
       SUM(CAST(i % 7 AS DOUBLE) + 0.5) AS total_reading
FROM range(400) t(i)
GROUP BY 1
"""


@register("s_python_datasource", oracle=_PYDS_ORACLE, tags=("S6", "S1"))
def s_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch source via the Python DataSource API: 4 planned
    partitions x 100 generated rows, aggregated. The oracle states the
    same closed-form rows with range()."""
    from ..sources.python_datasource import SensorsDataSource

    try:
        spark.dataSource.register(SensorsDataSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("demo_sensors")
        .option("partitions", "4")
        .option("rows_per_partition", "100")
        .load()
    )
    return df.groupBy((F.col("sensor_id") % 7).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("reading").alias("total_reading"),
    )


from .joins import CENTS_SQL, cents  # noqa: E402  (shared money-math idiom)

_DDL_ORACLE = f"""
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM({CENTS_SQL.format(expr="c_acctbal")}) AS BIGINT) AS bal_cents
FROM (
  SELECT c_mktsegment, c_acctbal FROM customer WHERE c_custkey <= 500
  UNION ALL
  SELECT c_mktsegment, c_acctbal + 10.0 FROM customer
  WHERE c_custkey <= 100 AND c_mktsegment = 'BUILDING'
)
GROUP BY c_mktsegment
"""


@register("s_catalog_ddl_sql", oracle=_DDL_ORACLE, tags=("S1", "S4", "E2"))
def s_catalog_ddl_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog DDL surface: CREATE TABLE ... USING parquet LOCATION,
    INSERT INTO (append), then query the table by NAME — the SQL-first
    workflow (everything else in this module is path-based). The
    explicit LOCATION keeps writes in scratch on any session (a vanilla
    session's default warehouse would land in the cwd); DROP + fresh
    location each run makes it idempotent."""
    import shutil

    from ..catalog import load_tables
    from ..sources import scratch_dir

    load_tables(spark, sf_dir)  # registers the `customer` temp view
    loc = scratch_dir(sf_dir, "ddl_customer_slice")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql("DROP TABLE IF EXISTS ddl_customer_slice")
    spark.sql(
        f"""
        CREATE TABLE ddl_customer_slice
        USING parquet LOCATION '{loc}'
        AS SELECT c_custkey, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey <= 500
        """
    )
    spark.sql(
        """
        INSERT INTO ddl_customer_slice
        SELECT c_custkey, c_mktsegment, c_acctbal + 10.0
        FROM customer WHERE c_custkey <= 100 AND c_mktsegment = 'BUILDING'
        """
    )
    return spark.sql(
        """
        SELECT c_mktsegment,
               COUNT(*) AS n,
               SUM({cents}) AS bal_cents
        FROM ddl_customer_slice
        GROUP BY c_mktsegment
        """.format(cents=CENTS_SQL.format(expr="c_acctbal"))
    )


# --- ORC sink + scan round-trip ---------------------------------------------

_ORC_ORACLE = """
SELECT o_orderpriority,
       COUNT(*)                                             AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                                                            AS total_cents,
       MIN(o_orderdate)                                     AS first_date
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


@register("s_orc_scan_roundtrip", oracle=_ORC_ORACLE, tags=("S2", "S4"))
def s_orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan: the second columnar format Spark ships natively.
    The read-back filter is pushed into the ORC reader the same way as
    parquet (predicate pushdown + column pruning both apply; ORC adds
    its own row-group min/max skipping), so the round trip exercises a
    genuinely different scan path, not just a serializer."""
    path = scratch_dir(sf_dir, "orders_orc")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").orc(path)
    back = spark.read.orc(path).filter(F.col("o_orderstatus") == "O")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_cents"
        ),
        F.min("o_orderdate").alias("first_date"),
    )


# --- whole-file binary source -----------------------------------------------

_BINARYFILE_ORACLE = """
SELECT n_nationkey,
       CAST(LEN(n_name) + 1 AS BIGINT) AS file_len,
       n_name                          AS content
FROM nation
"""


@register("s_binaryfile_source", oracle=_BINARYFILE_ORACLE, tags=("S6", "N6"))
def s_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file ingestion via the `binaryFile` format — the scan path a
    multimodal pipeline uses for images/audio: one row per file with
    (path, modificationTime, length, content: binary). Here the files
    are seeded as one text file per nation key (partitioned text write,
    one row per partition value → deterministic single-line files), read
    back as opaque bytes, and decoded — pinning that content survives
    byte-exact. At 100 TB this source parallelizes per-file and prunes
    by pathGlobFilter before any bytes are read."""
    path = scratch_dir(sf_dir, "nation_files")
    n = load_table(spark, sf_dir, "nation")
    n.select(
        F.col("n_nationkey"), F.col("n_name").alias("value")
    ).write.mode("overwrite").partitionBy("n_nationkey").text(path)
    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.txt"
    ).load(path + "/n_nationkey=*")
    return files.select(
        F.regexp_extract(
            F.col("path"), r"n_nationkey=(\d+)/", 1
        ).cast("int").alias("n_nationkey"),
        F.col("length").alias("file_len"),
        # text sink terminates the single line with \n; strip it back off
        F.regexp_replace(
            F.decode(F.col("content"), "UTF-8"), "\n$", ""
        ).alias("content"),
    )


# --- malformed-record handling on CSV ingest --------------------------------

_MALFORMED_ORACLE = """
SELECT 'good' AS kind, 3 AS n, CAST(10 + 20 + 30 AS BIGINT) AS qty_sum
UNION ALL
SELECT 'corrupt', 3, CAST(40 AS BIGINT)
"""


@register("s_csv_malformed_handling", oracle=_MALFORMED_ORACLE, tags=("S2", "P5"))
def s_csv_malformed_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-ingest surface: a CSV landing file with 3 known-bad rows
    (wrong arity, non-numeric qty, trailing garbage) read in PERMISSIVE
    mode with columnNameOfCorruptRecord — bad rows land in the corrupt
    column instead of failing the job or being silently dropped — AND
    keep whatever fields DID parse (the extra-columns row still yields
    qty=40 alongside its _corrupt payload; the wrong-arity and
    type-error rows yield NULL qty). The oracle states exactly that
    planted truth, pinning PERMISSIVE's partial-parse semantics. At scale this is the pattern that makes a 100 TB ingest
    resumable: corrupt rows are quarantined to a side table for reply,
    never poison the batch."""
    import os

    path = scratch_dir(sf_dir, "dirty_csv")
    os.makedirs(path, exist_ok=True)
    # The fixture IS the test: construct the landing file with planted
    # corruption (driver-side tiny write; the read path is distributed).
    with open(os.path.join(path, "part-0.csv"), "w") as f:
        f.write(
            "id,name,qty\n"
            "1,alpha,10\n"
            "2,beta,20\n"
            "3,gamma-without-qty\n"          # wrong arity
            "4,delta,notanumber\n"           # type error
            "5,epsilon,30\n"
            "6,zeta,40,extra,columns\n"      # trailing garbage
        )
    schema = "id INT, name STRING, qty INT, _corrupt STRING"
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    df = df.cache()  # corrupt-column semantics require same-scan access
    return df.select(
        F.when(F.col("_corrupt").isNull(), "good").otherwise("corrupt").alias("kind"),
        "qty",
    ).groupBy("kind").agg(
        F.count(F.lit(1)).cast("int").alias("n"),
        F.coalesce(F.sum("qty"), F.lit(0)).cast("long").alias("qty_sum"),
    )


# --- small-file compaction --------------------------------------------------

_COMPACTION_ORACLE = """
SELECT CAST(64 AS BIGINT)        AS n_files_before,
       CAST(4 AS BIGINT)         AS n_files_after,
       COUNT(*)                  AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS rows_checksum
FROM documents
"""


@register("s_small_file_compaction", oracle=_COMPACTION_ORACLE, tags=("S4", "S1"))
def s_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every
    long-lived dataset needs: a fragmented table (64 shards here;
    streaming sinks and partitioned writes produce thousands) is
    rewritten into few large files with `repartition(n)`. Too many
    files poisons a 100 TB table twice over: listing dominates planning,
    and each file under ~128 MB wastes a task. The check: file counts
    before/after from the real written directories (input_file_name
    distinct-count, computed distributively) and row count + checksum
    proving the rewrite lost nothing."""
    frag_path = scratch_dir(sf_dir, "documents_fragmented")
    compact_path = scratch_dir(sf_dir, "documents_compacted")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    d.repartition(64).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.parquet(frag_path)
    frag.repartition(4).write.mode("overwrite").parquet(compact_path)
    compact = spark.read.parquet(compact_path)
    # input_file_name() must be projected before aggregation (Spark
    # rejects nondeterministic expressions as aggregate arguments).
    before = frag.select(F.input_file_name().alias("f")).agg(
        F.count_distinct("f").alias("n_files_before")
    )
    return (
        compact.select("doc_id", F.input_file_name().alias("f"))
        .agg(
            F.count_distinct("f").alias("n_files_after"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").cast("long").alias("rows_checksum"),
        )
        .crossJoin(F.broadcast(before))
        .select("n_files_before", "n_files_after", "n_rows", "rows_checksum")
    )


# --- recursive directory scan -----------------------------------------------

_RECURSIVE_ORACLE = """
SELECT lang,
       COUNT(*)                     AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
"""


@register("s_recursive_glob_scan", oracle=_RECURSIVE_ORACLE, tags=("S1", "S5"))
def s_recursive_glob_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-landing-zone ingestion: files scattered across an
    arbitrary directory tree (year/month/batch here — NOT hive
    key=value dirs) read as one table with recursiveFileLookup plus a
    pathGlobFilter that keeps only *.parquet, ignoring sidecar files.
    This is the shape of real drop zones where upstream systems choose
    the layout; listing parallelizes across the tree and the filter
    prunes non-data files before any footer read."""
    import os

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )

    def stage(root: str) -> None:
        docs.filter(F.col("doc_id") % 3 == 0).write.mode("overwrite").parquet(
            root + "/2024/01/batch-a"
        )
        docs.filter(F.col("doc_id") % 3 == 1).write.mode("overwrite").parquet(
            root + "/2024/02/batch-b"
        )
        docs.filter(F.col("doc_id") % 3 == 2).write.mode("overwrite").parquet(
            root + "/archive/legacy"
        )
        # sidecar junk the glob must ignore
        with open(os.path.join(root, "2024", "01", "manifest.txt"), "w") as f:
            f.write("not data\n")
        # The tree is complete only once all three batches are down.
        open(os.path.join(root, "_SUCCESS"), "w").close()

    root = materialize(
        sf_dir, "nested_zone", stage, tables=("documents",), params="nested-v1"
    )
    back = (
        spark.read.option("recursiveFileLookup", True)
        .option("pathGlobFilter", "*.parquet")
        .parquet(root)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- plain-text line source -------------------------------------------------

_TEXT_LINES_ORACLE = """
SELECT lang,
       COUNT(*)                         AS n_lines,
       CAST(SUM(LENGTH(line)) AS BIGINT) AS total_len
FROM (
  SELECT lang, lang || '\t' || CAST(doc_id AS VARCHAR) AS line
  FROM documents
)
GROUP BY lang
"""


@register("s_text_line_scan", oracle=_TEXT_LINES_ORACLE, tags=("S2", "S4"))
def s_text_line_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw line-oriented text source — the lowest-common-denominator
    format (logs, WET files, one-record-per-line dumps): records are
    serialized to TSV-ish lines, written through the text sink, read
    back as a single `value` column, and re-parsed with split. Line
    files split by newline at any byte offset, so a 100 TB text dump
    parallelizes by input split with zero format metadata."""
    path = scratch_dir(sf_dir, "doc_lines_text")
    d = load_table(spark, sf_dir, "documents")
    d.select(
        F.concat_ws("\t", F.col("lang"), F.col("doc_id").cast("string")).alias(
            "value"
        )
    ).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    parsed = lines.select(
        F.split(F.col("value"), "\t").getItem(0).alias("lang"),
        F.length("value").alias("line_len"),
    )
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("line_len").cast("long").alias("total_len"),
    )


# --- S3+P1+P3+P4: JSON-lines scan with compound predicates ------------------

_JSONL_FILTER_ORACLE = """
SELECT doc_id,
       lang || ':' || source AS label,
       n_chars // 100        AS chars_hecto
FROM documents
WHERE (lang IN ('en', 'de') OR source LIKE 'src1%')
  AND n_chars BETWEEN 100 AND 400
  AND NOT (lang = 'fr' AND source = 'src0')
"""


@register(
    "s_jsonl_filter_project",
    oracle=_JSONL_FILTER_ORACLE,
    tags=("S3", "P1", "P3", "P4"),
)
def s_jsonl_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan feeding a compound row filter and a computed
    projection — the "drop-zone JSONL → cleaned columns" first hop of
    an ingest pipeline. The predicate mixes AND/OR/NOT with IN, BETWEEN
    and LIKE; all of it folds into one Filter Catalyst pushes at the
    scan, and the projection prunes `text` before any data moves.
    Integer + string outputs only, so the JSON round-trip is exact."""
    path = scratch_dir(sf_dir, "documents_jsonl_filter")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    kept = back.filter(
        (F.col("lang").isin("en", "de") | F.col("source").like("src1%"))
        & F.col("n_chars").between(100, 400)
        & ~((F.col("lang") == "fr") & (F.col("source") == "src0"))
    )
    return kept.select(
        "doc_id",
        F.concat_ws(":", "lang", "source").alias("label"),
        F.expr("n_chars div 100").alias("chars_hecto"),
    )


# --- S6+T5: custom Python STREAMING data source ----------------------------

_PYSTREAM_ORACLE = """
SELECT sensor_id % 7            AS bucket,
       COUNT(*)                 AS n,
       SUM((sensor_id % 7) + 0.5) AS total_reading
FROM range(0, 300) t(sensor_id)
GROUP BY 1
"""


@register(
    "st_python_stream_source",
    oracle=_PYSTREAM_ORACLE,
    tags=("S6", "T5", "S1"),
)
def st_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python Data Source end to end: the bounded
    sensors feed (3 offset-tracked batches × 100 rows) is drained into
    a parquet sink through REPEATED AvailableNow runs sharing one
    checkpoint — each run resumes from the committed offset and
    advances, which is the restart-recovery contract a bespoke feed
    source must honor (initialOffset / read / readBetweenOffsets).
    The loop stops when a run adds no rows (feed exhausted); the sink
    then holds every batch exactly once, which the closed-form oracle
    checks."""
    import shutil

    from ..sources.python_datasource import SensorsStreamDataSource
    from ..streaming import drain

    try:
        spark.dataSource.register(SensorsStreamDataSource)
    except Exception:
        pass  # already registered in this session
    sink = scratch_dir(sf_dir, "pystream_sink")
    ckpt = scratch_dir(sf_dir, "pystream_ckpt")
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def drain_once() -> None:
        drain(
            spark.readStream.format("demo_sensors_stream")
            .option("batches", "3")
            .option("rows_per_batch", "100")
            .load()
            .writeStream.format("parquet")
            .option("path", sink),
            checkpoint=ckpt,
        )

    seen = -1
    for _ in range(6):  # 3 data batches + the empty run that ends the loop
        drain_once()
        n = spark.read.parquet(sink).count()
        if n == seen:
            break
        seen = n

    got = spark.read.parquet(sink)
    return got.groupBy((F.col("sensor_id") % 7).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("reading").alias("total_reading"),
    )


# --- S4: columnar codec control (zstd) -------------------------------------

_ZSTD_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY o_orderstatus
"""


@register("s_zstd_parquet_roundtrip", oracle=_ZSTD_ORACLE, tags=("S4", "S1"))
def s_zstd_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink codec control: the same parquet round-trip under zstd —
    the storage-bound default for cold 100 TB corpora (denser than
    snappy at comparable scan cost; codec rides per-file metadata, so
    readers need no configuration). The read-back aggregate proves the
    data survived the codec bit-exactly."""
    path = scratch_dir(sf_dir, "orders_zstd_parquet")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


# --- S3+P1+P2+P3: JSON scan feeding comparison + boolean-combo filters ------

_JSON_PREDICATE_ORACLE = """
SELECT event_id, user_id, event_type, user_id % 10 AS uid_bucket
FROM events
WHERE (user_id < 30 AND event_type = 'purchase')
   OR (user_id >= 120 AND NOT event_type = 'click')
"""


@register(
    "s_json_predicate_scan",
    oracle=_JSON_PREDICATE_ORACLE,
    tags=("S3", "P1", "P2", "P3"),
)
def s_json_predicate_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan of the event feed driving plain comparison
    predicates (<, >=, =) under an OR-of-ANDs with a NOT — the raw-log
    triage filter. Only integer + string columns cross the JSON
    boundary, so the round-trip is exact; the projection computes a
    bucket column (P1) and drops everything else before rows move.
    Catalyst folds the whole predicate into one Filter evaluated at the
    scan, and the JSON reader prunes unreferenced fields from parsing —
    at crawl scale the parse cost tracks the projected schema, not the
    record width."""
    path = scratch_dir(sf_dir, "events_json_predicate")
    src = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    src.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    kept = back.filter(
        ((F.col("user_id") < 30) & (F.col("event_type") == "purchase"))
        | ((F.col("user_id") >= 120) & ~(F.col("event_type") == "click"))
    )
    return kept.select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("user_id") % 10).alias("uid_bucket"),
    )


_PYDS_SINK_ORACLE = f"""
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM({CENTS_SQL.format(expr="o_totalprice")}) AS BIGINT) AS rev_cents
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("s_python_datasource_sink", oracle=_PYDS_SINK_ORACLE, tags=("S4", "S6"))
def s_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python DataSource write path
    (DataSourceArrowWriter — executor tasks receive Arrow
    RecordBatches, write parquet parts directly from Arrow, and the
    driver commits a manifest): open orders round-trip THROUGH the
    custom sink, read back from the parts the manifest lists, then
    aggregate. The oracle runs on the original table, so a hash match
    proves the sink is lossless and the manifest complete. Scale: one
    file per (task, batch), no driver collect; the manifest commit is
    the only driver-side step (metadata, not data)."""
    import json
    import os
    import shutil

    from ..sources import scratch_dir
    from ..sources.python_datasource import ArrowParquetSinkDataSource

    try:
        spark.dataSource.register(ArrowParquetSinkDataSource)
    except Exception:
        pass  # already registered in this session

    out = scratch_dir(sf_dir, "pyds_sink")
    shutil.rmtree(out, ignore_errors=True)  # fresh round-trip every run

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    (
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.format("arrow_parquet_sink")
        .mode("append")
        .option("path", out)
        .save()
    )
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    back = spark.read.parquet(*manifest["parts"])
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("o_totalprice"))).cast("long").alias("rev_cents"),
        )
        .orderBy("o_orderpriority")
    )


# --- native XML sink + scan round-trip --------------------------------------

_XML_ORACLE = """
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM(c_nationkey) AS BIGINT) AS nation_sum,
       CAST(MIN(c_custkey) AS BIGINT) AS min_key
FROM customer
WHERE c_acctbal >= 0.0
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("s_xml_scan_roundtrip", oracle=_XML_ORACLE, tags=("S2", "S4", "F6"))
def s_xml_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML file source (Spark 4.0, SPARK-44265 — spark-xml moved
    in-tree): sink customers as <row> elements, scan them back with an
    EXPLICIT schema (inference would re-scan: same rule as the repo's
    CSV/JSON readers) and aggregate. Doubles are excluded from the
    round-trip checked columns — XML is a text format and this query
    pins the source machinery, not float-to-decimal printing; integer
    keys round-trip exactly. Scale: the writer emits one XML part per
    partition (distributed, no collect); the reader splits by row tag."""
    path = scratch_dir(sf_dir, "customer_xml")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") >= 0.0)
    (
        c.select("c_custkey", "c_nationkey", "c_mktsegment")
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "customer")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema("c_custkey long, c_nationkey long, c_mktsegment string")
        .load(path)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c_nationkey").cast("long").alias("nation_sum"),
            F.min("c_custkey").cast("long").alias("min_key"),
        )
        .orderBy("c_mktsegment")
    )


# --- one-big-table denormalization build ------------------------------------

_OBT_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       COUNT(DISTINCT c_name) AS n_customers,
       COUNT(DISTINCT r_name) AS n_regions
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN part     ON l_partkey = p_partkey
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "s_one_big_table_build",
    oracle=_OBT_ORACLE,
    tags=("S4", "S5", "J6", "A1"),
)
def s_one_big_table_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-Big-Table (OBT) build: denormalize the star schema into a
    wide fact — lineitem joined through orders→customer→nation→region
    plus part — written to a partitioned parquet sink, then verified by
    aggregating the READ-BACK table (not the in-memory join), so the
    oracle checks what actually landed on disk. The standard
    warehouse-to-lakehouse materialization that trades storage for
    join-free downstream reads.

    Scale: the build is the classic star shape — tiny dims
    (region/nation) broadcast, customer/orders/part shuffle on their
    keys once, each join pruned to the columns the OBT carries;
    the sink partitions by l_returnflag (3 directories) so downstream
    flag-filtered reads prune. Verification aggregates combinably.
    """
    from ..sources import scratch_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_returnflag"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")

    obt = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            "l_orderkey",
            "l_partkey",
            cents(F.col("l_extendedprice")).alias("price_cents"),
            "l_returnflag",
            "c_name",
            "n_name",
            "r_name",
            "p_brand",
        )
    )
    path = scratch_dir(sf_dir, "one_big_table")
    obt.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price_cents").cast("long").alias("revenue_cents"),
            F.countDistinct("c_name").alias("n_customers"),
            F.countDistinct("r_name").alias("n_regions"),
        )
        .orderBy("l_returnflag")
    )


# --- partition-spec evolution migration -------------------------------------

_EVOLVE_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs_v1,
       COUNT(*) AS n_docs_v2,
       CAST(SUM(n_chars) AS BIGINT) AS chars_v1,
       CAST(SUM(n_chars) AS BIGINT) AS chars_v2,
       TRUE AS migration_lossless_ok
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register(
    "s_partition_evolution_migrate",
    oracle=_EVOLVE_ORACLE,
    tags=("S5", "S4", "S1", "A1"),
)
def s_partition_evolution_migrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution: a table laid out as lang= directories
    is migrated to the finer (lang, source) spec — the rewrite a table
    owner performs when query patterns start filtering on a second
    column — and the migration is proven LOSSLESS by aggregating BOTH
    generations from disk and comparing per-lang row counts and
    character checksums (`migration_lossless_ok`). Plain-parquet
    equivalent of Iceberg's partition-spec evolution, done the only
    way parquet allows: a full rewrite of the affected partitions.

    Scale: both writes are one pass each; the v2 write repartitions by
    the new spec columns first so each task writes few files (the
    small-files discipline of `s_small_file_compaction`). The verify
    pass reads only (lang, source, n_chars) — column pruning keeps the
    audit cheap.
    """
    from ..sources import scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    v1_path = scratch_dir(sf_dir, "docs_spec_v1")
    v2_path = scratch_dir(sf_dir, "docs_spec_v2")
    docs.write.mode("overwrite").partitionBy("lang").parquet(v1_path)
    v1 = spark.read.parquet(v1_path)
    (
        v1.repartition("lang", "source")
        .write.mode("overwrite")
        .partitionBy("lang", "source")
        .parquet(v2_path)
    )
    v2 = spark.read.parquet(v2_path)
    a1 = v1.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_v1"),
        F.sum("n_chars").cast("long").alias("chars_v1"),
    )
    a2 = v2.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_v2"),
        F.sum("n_chars").cast("long").alias("chars_v2"),
    )
    return (
        a1.join(a2, "lang")
        .select(
            "lang",
            "n_docs_v1",
            "n_docs_v2",
            "chars_v1",
            "chars_v2",
            (
                (F.col("n_docs_v1") == F.col("n_docs_v2"))
                & (F.col("chars_v1") == F.col("chars_v2"))
            ).alias("migration_lossless_ok"),
        )
        .orderBy("lang")
    )


# --- ANALYZE TABLE: CBO statistics collection --------------------------------


@register("s_analyze_table_stats", oracle=None, tags=("S1", "E2", "A2"))
def s_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE statistics collection — the feed for Spark's
    cost-based optimizer (join reordering and broadcast decisions read
    these catalog stats when AQE's runtime sizes aren't available,
    e.g. at plan time for CBO `CostBasedJoinReorder`). Creates a
    catalog table over a customer slice, runs ANALYZE ... COMPUTE
    STATISTICS (table-level) and FOR COLUMNS (NDV/min/max), then reads
    the stats BACK from the catalog and cross-checks them against
    directly computed values.

    Rows-only by design (catalog state has no DuckDB oracle); every
    row instead carries hard self-validation:
      * rowcount_ok — catalog rowCount equals COUNT(*) computed from
        the data this run;
      * colstats_ok — DESCRIBE EXTENDED reports a distinct-count for
        the analyzed column within the HLL ±5% error of the exact NDV.

    Scale: ANALYZE is one combinable scan per statistics family —
    cheap relative to any join it later improves; stats persist in the
    catalog so the cost is paid once per table version, not per query.
    """
    import shutil

    from ..sources import scratch_dir

    from ..catalog import load_tables

    load_tables(spark, sf_dir, ("customer",))
    loc = scratch_dir(sf_dir, "analyze_stats_tbl")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql("DROP TABLE IF EXISTS analyze_stats_tbl")
    spark.sql(
        f"""
        CREATE TABLE analyze_stats_tbl
        USING parquet LOCATION '{loc}'
        AS SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
        """
    )
    spark.sql("ANALYZE TABLE analyze_stats_tbl COMPUTE STATISTICS")
    spark.sql(
        "ANALYZE TABLE analyze_stats_tbl COMPUTE STATISTICS "
        "FOR COLUMNS c_mktsegment, c_nationkey"
    )

    true_rows = spark.table("analyze_stats_tbl").count()
    true_ndv_seg = (
        spark.table("analyze_stats_tbl").select("c_mktsegment").distinct().count()
    )

    desc = spark.sql(
        "DESCRIBE EXTENDED analyze_stats_tbl c_mktsegment"
    ).collect()
    info = {r["info_name"]: r["info_value"] for r in desc}
    ndv_reported = int(info.get("distinct_count", "-1"))

    stats_row = [
        r
        for r in spark.sql("DESCRIBE EXTENDED analyze_stats_tbl").collect()
        if r[0] == "Statistics"
    ]
    stats_text = stats_row[0][1] if stats_row else ""
    import re

    m = re.search(r"(\d+) rows", stats_text)
    rowcount_reported = int(m.group(1)) if m else -1

    return spark.createDataFrame(
        [
            (
                "analyze_stats_tbl",
                true_rows,
                rowcount_reported,
                true_ndv_seg,
                ndv_reported,
                rowcount_reported == true_rows,
                abs(ndv_reported - true_ndv_seg) * 20 <= true_ndv_seg,
            )
        ],
        "tbl string, n_rows_exact long, n_rows_catalog long, "
        "ndv_exact long, ndv_catalog long, rowcount_ok boolean, "
        "colstats_ok boolean",
    )


# --- dataset provenance manifest --------------------------------------------

_PROVENANCE_ORACLE = """
SELECT 'customer' AS tbl, COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS cents_checksum,
       CAST(SUM(c_custkey) AS BIGINT) AS key_checksum
FROM customer
UNION ALL
SELECT 'orders', COUNT(*),
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT),
       CAST(SUM(o_orderkey) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem', COUNT(*),
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT),
       CAST(SUM(l_orderkey) AS BIGINT)
FROM lineitem
ORDER BY tbl
"""


@register(
    "s_provenance_manifest",
    oracle=_PROVENANCE_ORACLE,
    tags=("S1", "A2", "O3"),
)
def s_provenance_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset provenance manifest: one audit row per input table with
    row count, a money checksum (exact cents sum), and a key checksum
    (exact key sum) — the fingerprint a training-data pipeline records
    next to every derived artifact so any consumer can verify "was
    this built from the inputs it claims?" without re-reading them
    (the cross-table companion to `s_expectations_check`'s
    within-table gate, and the content-based analogue of the
    metadata-only `table_fingerprint` used for scratch-artifact
    reuse).

    Scale: one combinable global aggregate per table (count + two
    SUMs share a single scan each), a 3-row union. Commutative
    integer checksums mean any partition layout produces the same
    manifest — which is the entire point of a checksum.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def manifest(tbl, df, money_col, key_col):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents(F.col(money_col))).cast("long").alias("cents_checksum"),
            F.sum(key_col).cast("long").alias("key_checksum"),
        ).select(F.lit(tbl).alias("tbl"), "n_rows", "cents_checksum", "key_checksum")

    return (
        manifest("customer", c, "c_acctbal", "c_custkey")
        .unionByName(manifest("orders", o, "o_totalprice", "o_orderkey"))
        .unionByName(manifest("lineitem", li, "l_extendedprice", "l_orderkey"))
        .orderBy("tbl")
    )


# --- cross-format interop certification -------------------------------------

_INTEROP_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
  FROM orders WHERE o_orderkey % 10 = 0
),
sums AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(total_cents) AS BIGINT) AS cents_checksum,
         CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
  FROM base
)
SELECT fmt, n_rows, cents_checksum, key_checksum, TRUE AS roundtrip_ok
FROM sums
CROSS JOIN (VALUES ('csv'), ('json'), ('orc'), ('parquet')) AS f(fmt)
ORDER BY fmt
"""


@register(
    "s_format_interop_matrix",
    oracle=_INTEROP_ORACLE,
    tags=("S2", "S3", "S4", "S1"),
)
def s_format_interop_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format interop certification: the SAME slice is written
    to and read back from all four batch formats the engine serves
    (csv, json, orc, parquet) and every generation must reproduce the
    identical row count and integer checksums — the matrix test that
    catches per-format type-mapping bugs (csv stringification, json
    number widening, orc/parquet logical types) in one query instead
    of four ad-hoc ones. `roundtrip_ok` pins each format's read-back
    against the in-memory truth.

    Scale: one bounded slice (10% of orders), four single-pass writes
    and four combinable read-back aggregates; explicit schema on the
    csv/json reads (schema inference is both nondeterministic-ish and
    a second scan). All checksums are commutative BIGINTs.
    """
    from ..sources import scratch_dir

    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        cents(F.col("o_totalprice")).alias("total_cents"),
    )
    schema = "o_orderkey bigint, o_orderstatus string, total_cents bigint"
    outs = []
    for fmt in ("csv", "json", "orc", "parquet"):
        path = scratch_dir(sf_dir, f"interop_{fmt}")
        w = base.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", "true")
        w.save(path)
        r = spark.read.format(fmt)
        if fmt in ("csv", "json"):
            r = r.schema(schema)
        if fmt == "csv":
            r = r.option("header", "true")
        back = r.load(path)
        outs.append(
            back.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("total_cents").cast("long").alias("cents_checksum"),
                F.sum("o_orderkey").cast("long").alias("key_checksum"),
            ).select(F.lit(fmt).alias("fmt"), "n_rows", "cents_checksum", "key_checksum")
        )
    truth = base.agg(
        F.count(F.lit(1)).alias("t_rows"),
        F.sum("total_cents").cast("long").alias("t_cents"),
        F.sum("o_orderkey").cast("long").alias("t_keys"),
    )
    matrix = outs[0]
    for df in outs[1:]:
        matrix = matrix.unionByName(df)
    return (
        matrix.crossJoin(F.broadcast(truth))
        .select(
            "fmt",
            "n_rows",
            "cents_checksum",
            "key_checksum",
            (
                (F.col("n_rows") == F.col("t_rows"))
                & (F.col("cents_checksum") == F.col("t_cents"))
                & (F.col("key_checksum") == F.col("t_keys"))
            ).alias("roundtrip_ok"),
        )
        .orderBy("fmt")
    )


# --- lambda-architecture unify (batch history + streaming tail) -------------

_LAMBDA_ORACLE = """
WITH history AS (
  SELECT event_id, CAST(ts AS DATE) AS d, user_id
  FROM events
  WHERE CAST(ts AS DATE) <= DATE '2024-01-20'
),
tail AS (
  SELECT event_id, CAST(ts AS DATE) AS d, user_id
  FROM events
  WHERE CAST(ts AS DATE) >= DATE '2024-01-18'
),
unified AS (
  SELECT COALESCE(t.event_id, h.event_id) AS event_id,
         COALESCE(t.d, h.d) AS d,
         t.event_id IS NOT NULL AS from_tail
  FROM history h FULL OUTER JOIN tail t ON h.event_id = t.event_id
),
truth AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_truth FROM events GROUP BY 1
)
SELECT CAST(u.d AS VARCHAR) AS day,
       COUNT(*) AS n_unified,
       CAST(SUM(CASE WHEN u.from_tail THEN 1 ELSE 0 END) AS BIGINT)
         AS n_from_tail,
       MAX(t.n_truth) AS n_truth,
       COUNT(*) = MAX(t.n_truth) AS complete_ok
FROM unified u JOIN truth t ON u.d = t.d
GROUP BY u.d
ORDER BY day
"""


@register(
    "s_lambda_unify", oracle=_LAMBDA_ORACLE, tags=("J3", "T6", "A1", "P7")
)
def s_lambda_unify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture unification: a batch HISTORY view (through
    day 20) and a streaming TAIL view (day 18 onward) overlap by
    design — the serving layer must merge them WITHOUT double-counting
    the overlap and WITHOUT gaps at the seam. One key-equi FULL OUTER
    join on event_id resolves it (tail wins where both exist), and
    `complete_ok` proves per-day counts equal the ground truth on
    every day — seam days included. The batch-queryable core of what
    `st_pipeline_ingest` does with a live stream.

    Scale: both views prune at the scan (date predicates push down);
    the unify join shuffles each side once on event_id; the audit is
    a combinable day rollup joined to a day-sized truth table.
    """
    e = load_table(spark, sf_dir, "events")
    d20 = F.lit("2024-01-20").cast("date")
    d18 = F.lit("2024-01-18").cast("date")
    history = e.filter(F.to_date("ts") <= d20).select(
        F.col("event_id").alias("h_id"), F.to_date("ts").alias("h_d")
    )
    tail = e.filter(F.to_date("ts") >= d18).select(
        F.col("event_id").alias("t_id"), F.to_date("ts").alias("t_d")
    )
    unified = history.join(
        tail, history.h_id == tail.t_id, "full_outer"
    ).select(
        F.coalesce("t_d", "h_d").alias("d"),
        F.col("t_id").isNotNull().alias("from_tail"),
    )
    truth = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_truth")
    )
    return (
        unified.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_unified"),
            F.sum(F.when(F.col("from_tail"), 1).otherwise(0))
            .cast("long")
            .alias("n_from_tail"),
        )
        .join(truth, "d")
        .select(
            F.col("d").cast("string").alias("day"),
            "n_unified",
            "n_from_tail",
            "n_truth",
            (F.col("n_unified") == F.col("n_truth")).alias("complete_ok"),
        )
        .orderBy("day")
    )


# --- MERGE idempotency proof -------------------------------------------------

_MERGE_IDEM_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
  FROM orders WHERE o_orderkey % 20 = 0
),
batch AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN total_cents + 700
              ELSE total_cents END AS new_cents
  FROM base WHERE o_orderkey % 2 = 0
),
merged AS (
  SELECT b.o_orderkey, b.o_orderstatus,
         COALESCE(u.new_cents, b.total_cents) AS total_cents
  FROM base b LEFT JOIN batch u ON b.o_orderkey = u.o_orderkey
)
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(SUM(total_cents) AS BIGINT) AS cents_checksum,
       TRUE AS idempotent_ok
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register(
    "s_merge_idempotency",
    oracle=_MERGE_IDEM_ORACLE,
    tags=("S4", "J3", "A1", "P6"),
)
def s_merge_idempotency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE idempotency proof: the same upsert batch applied TWICE
    against the parquet state must land exactly where applying it once
    does — the transactional property that makes retry-after-failure
    safe (a replayed batch that drifted state would make every
    at-least-once delivery pipeline corrupting). The query materializes
    state₀ → merge → state₁ → merge(same batch) → state₂ to disk and
    emits per-status checksums of state₂ with `idempotent_ok` pinning
    state₁ ≡ state₂ row-for-row (anti-join both directions is empty).

    The oracle is the ONCE-applied final state — so the hash check
    itself proves the twice-applied result equals it. Scale: each
    merge is the `s_merge_upsert` shape (key anti-join + union, one
    pass); the idempotency audit is two cheap anti-joins on the key.
    """
    from ..sources import scratch_dir

    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        cents(F.col("o_totalprice")).alias("total_cents"),
    )
    batch = base.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("total_cents") + 700
        )
        .otherwise(F.col("total_cents"))
        .alias("total_cents"),
    )
    root = scratch_dir(sf_dir, "merge_idem")

    def merge_into(state_path, out_path):
        state = spark.read.parquet(state_path)
        kept = state.join(batch.select("o_orderkey"), "o_orderkey", "left_anti")
        kept.unionByName(batch).write.mode("overwrite").parquet(out_path)
        return spark.read.parquet(out_path)

    base.write.mode("overwrite").parquet(f"{root}/state0")
    s1 = merge_into(f"{root}/state0", f"{root}/state1")
    s2 = merge_into(f"{root}/state1", f"{root}/state2")

    diff_a = s1.select("o_orderkey", "total_cents").exceptAll(
        s2.select("o_orderkey", "total_cents")
    )
    diff_b = s2.select("o_orderkey", "total_cents").exceptAll(
        s1.select("o_orderkey", "total_cents")
    )
    idem = (
        diff_a.agg(F.count(F.lit(1)).alias("d1"))
        .crossJoin(diff_b.agg(F.count(F.lit(1)).alias("d2")))
        .select(
            ((F.col("d1") == 0) & (F.col("d2") == 0)).alias("idempotent_ok")
        )
    )
    return (
        s2.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("total_cents").cast("long").alias("cents_checksum"),
        )
        .crossJoin(F.broadcast(idem))
        .select("o_orderstatus", "n_rows", "cents_checksum", "idempotent_ok")
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Write-Audit-Publish: staged write, expectation gate, atomic-style publish
# ---------------------------------------------------------------------------

_WAP_ORACLE = """
WITH g AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01'
                                      AND DATE '1995-03-31'
),
batches AS (
  SELECT 'good' AS batch,
         COUNT(*) AS n_staged,
         CAST(0 AS BIGINT) AS n_null_keys,
         CAST(0 AS BIGINT) AS n_nonpositive
  FROM g
  UNION ALL
  SELECT 'poisoned',
         COUNT(*),
         CAST(SUM(CASE WHEN o_orderkey % 50 = 0 THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(0 AS BIGINT)
  FROM g
)
SELECT batch, n_staged, n_null_keys, n_nonpositive,
       n_null_keys = 0 AND n_nonpositive = 0 AND n_staged > 0
         AS audit_passed,
       CASE WHEN n_null_keys = 0 AND n_nonpositive = 0 AND n_staged > 0
            THEN n_staged ELSE 0 END AS n_published
FROM batches
ORDER BY batch
"""


@register(
    "s_write_audit_publish",
    oracle=_WAP_ORACLE,
    tags=("S4", "A2", "P5", "P2"),
)
def s_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish: every batch lands in a STAGED location
    first, an expectation gate audits the staged files (null keys,
    non-positive amounts, emptiness), and only a clean batch is
    promoted to the published location — consumers never observe a
    half-validated table. Two real batches run through the actual
    file-level protocol here: a clean extract publishes; the same
    extract with planted null keys is staged, FAILS the audit, and
    the published location provably stays empty. The oracle predicts
    the whole protocol outcome from the planting arithmetic, so the
    gate logic itself is value-checked.

    Scale: the audit is one combinable aggregate over the staged
    files (a metadata-sized collect of a single row — the decision,
    not the data, reaches the driver); publish is a rewrite of
    already-validated files (on object stores, a server-side copy /
    atomic pointer swap). Rejected batches cost zero downstream
    reads."""
    base = scratch_dir(sf_dir, "wap")
    o = load_table(spark, sf_dir, "orders")
    extract = o.filter(
        F.col("o_orderdate")
        .cast("date")
        .between("1995-01-01", "1995-03-31")
    ).select("o_orderkey", "o_custkey", "o_totalprice")
    poisoned = extract.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 50 == 0, F.lit(None)).otherwise(
            F.col("o_custkey")
        ),
    )
    rows = []
    for name, batch in (("good", extract), ("poisoned", poisoned)):
        staged_path = f"{base}/staged_{name}"
        published_path = f"{base}/published_{name}"
        batch.write.mode("overwrite").parquet(staged_path)
        staged = spark.read.parquet(staged_path)
        audit = staged.agg(
            F.count(F.lit(1)).alias("n_staged"),
            F.sum(
                F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_null_keys"),
            F.sum(
                F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
            ).cast("long").alias("n_nonpositive"),
        ).collect()[0]
        passed = (
            audit.n_null_keys == 0
            and audit.n_nonpositive == 0
            and audit.n_staged > 0
        )
        n_published = 0
        if passed:
            staged.write.mode("overwrite").parquet(published_path)
            n_published = spark.read.parquet(published_path).count()
        else:
            # a failed audit must leave nothing published
            import shutil

            shutil.rmtree(published_path, ignore_errors=True)
        rows.append(
            (
                name,
                audit.n_staged,
                audit.n_null_keys,
                audit.n_nonpositive,
                passed,
                n_published,
            )
        )
    return spark.createDataFrame(
        rows,
        "batch string, n_staged long, n_null_keys long, "
        "n_nonpositive long, audit_passed boolean, n_published long",
    ).orderBy("batch")


# ---------------------------------------------------------------------------
# Hidden _metadata column: file-level provenance from inside the scan
# ---------------------------------------------------------------------------


@register("s_file_metadata_column", oracle=None, tags=("S1", "S5", "A1"))
def s_file_metadata_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's hidden `_metadata` scan column: every parquet row can
    expose the file it came from (path, name, size, row index) with
    ZERO extra I/O — the debugging/provenance hook for bad-file
    triage and per-file skew forensics on 100 TB tables, where
    "which file did this row come from" is otherwise unanswerable.
    Documents are re-laid-out into 4 scratch files, then read back
    grouping by `_metadata.file_name`.

    Rows-only (DuckDB has no analogue of another engine's hidden scan
    schema) with self-validation: `rows_ok` pins that per-file row
    counts sum back to the table's exact row count (no row lost or
    double-attributed to a file), `files_ok` pins the 4-file layout,
    and `size_ok` pins a positive on-disk size for every file."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    path = materialize(
        sf_dir,
        "meta4files",
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
        tables=("documents",),
        params="n=4",
    )
    total = docs.count()
    per_file = (
        spark.read.parquet(path)
        .select("doc_id", "_metadata.file_name", "_metadata.file_size")
        .groupBy("file_name", "file_size")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    wall = Window.partitionBy()
    return (
        per_file.withColumn("total_rows", F.sum("n_rows").over(wall))
        .withColumn("n_files", F.count(F.lit(1)).over(wall))
        .select(
            "file_name",
            "file_size",
            "n_rows",
            (F.col("total_rows") == F.lit(total)).alias("rows_ok"),
            (F.col("n_files") == 4).alias("files_ok"),
            (F.col("file_size") > 0).alias("size_ok"),
        )
        .orderBy("file_name")
    )


# ---------------------------------------------------------------------------
# Merkle tree root over sharded table content (tamper-evident audit)
# ---------------------------------------------------------------------------

def _merkle_oracle() -> str:
    leaves = """
WITH leaf AS (
  SELECT o_orderkey % 16 AS shard,
         SHA256(STRING_AGG(CAST(o_orderkey AS VARCHAR) || ':'
                           || CAST({cents} AS VARCHAR), ','
                           ORDER BY o_orderkey)) AS h
  FROM orders
  GROUP BY o_orderkey % 16
),
l0 AS (SELECT shard, h FROM leaf)""".format(
        cents="CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    )
    rounds = []
    width = 16
    lvl = 0
    while width > 1:
        rounds.append(
            f""",
l{lvl + 1} AS (
  SELECT a.shard // 2 AS shard, SHA256(a.h || b.h) AS h
  FROM l{lvl} a JOIN l{lvl} b
    ON a.shard % 2 = 0 AND b.shard = a.shard + 1
)"""
        )
        width //= 2
        lvl += 1
    return (
        leaves
        + "".join(rounds)
        + f"""
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM l0) AS n_shards,
       (SELECT h FROM l{lvl}) AS merkle_root
"""
    )


@register(
    "s_merkle_tree_root",
    oracle=_merkle_oracle(),
    tags=("F7", "A9", "J1", "S1"),
)
def s_merkle_tree_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle tree root over 16 content-hashed shards of the orders
    table — the tamper-evident fingerprint that lets two replicas
    prove equality (or locate the FIRST divergent shard in log₂ probes)
    without exchanging data: the audit primitive behind data-sharing
    contracts and cross-region replication checks.

    Determinism — leaf content is canonicalized before hashing
    (within-shard rows concatenated in orderkey order, integer cents),
    so the root is a pure function of table CONTENT, not of layout;
    interior nodes are SHA-256 over concatenated child hex digests
    with a fixed left-right order. Scale — leaves are one combinable
    shuffle (the ORDER BY inside the shard-local string_agg sorts
    within 16 groups); the 4 interior rounds join 16→8→4→2→1 rows —
    driver-free, statically unrolled, O(log shards) tiny stages."""
    o = load_table(spark, sf_dir, "orders")
    leaf = (
        o.select(
            (F.col("o_orderkey") % 16).alias("shard"),
            F.concat_ws(
                ":",
                F.col("o_orderkey").cast("string"),
                cents(F.col("o_totalprice")).cast("string"),
            ).alias("row_str"),
            "o_orderkey",
        )
        .groupBy("shard")
        .agg(
            F.sha2(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("o_orderkey"), F.col("row_str"))
                            )
                        ),
                        lambda s: s.getField("row_str"),
                    ),
                    ",",
                ),
                256,
            ).alias("h")
        )
    )
    lvl = leaf
    width = 16
    while width > 1:
        a = lvl.filter(F.col("shard") % 2 == 0).select(
            (F.col("shard") / 2).cast("long").alias("shard"),
            F.col("h").alias("ha"),
        )
        b = lvl.filter(F.col("shard") % 2 == 1).select(
            F.expr("shard DIV 2").alias("shard"), F.col("h").alias("hb")
        )
        lvl = a.join(b, "shard").select(
            "shard", F.sha2(F.concat(F.col("ha"), F.col("hb")), 256).alias("h")
        )
        width //= 2
    n_shards = leaf.agg(F.count(F.lit(1)).alias("n_shards"))
    return n_shards.crossJoin(F.broadcast(lvl.select(F.col("h").alias("merkle_root"))))


# ---------------------------------------------------------------------------
# Parquet physical-layout introspection report (footer-level storage audit)
# ---------------------------------------------------------------------------


@register(
    "s_parquet_storage_report",
    oracle=None,
    tags=("S4", "S1", "A1"),
)
def s_parquet_storage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout audit of a written parquet artifact: per column,
    the footer-level facts that decide scan cost at 100 TB — physical
    type, dictionary encoding (the difference between pruning by
    2000-entry dictionaries and decoding 60M values), page encodings,
    value counts, and compressed/uncompressed bytes with the
    compression ratio in ppm. This is the report a storage engineer
    reads before choosing sort keys and row-group sizes; Spark exposes
    none of it in SQL, so the footers are read directly (pyarrow) and
    parallelized would be a binaryFile scan over footers.

    Rows-only by necessity (no SQL oracle can see footers); every row
    self-validates: `stats_ok` pins that min/max statistics exist and
    are ordered, `rows_ok` pins that the per-column value count equals
    the table's row count (no column silently truncated), and
    `dict_ok` pins dictionary encoding on the low-cardinality key
    column where the writer must choose it."""
    import glob as _glob

    import pyarrow.parquet as _pq

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    path = materialize(
        sf_dir,
        "storage_report_lineitem",
        lambda p: li.coalesce(1).write.mode("overwrite").parquet(p),
        tables=("lineitem",),
        params="storage-report-v1",
    )
    part_file = sorted(_glob.glob(path + "/part-*.parquet"))[0]
    md = _pq.ParquetFile(part_file).metadata
    rows = []
    total_rows = md.num_rows
    for ci in range(md.num_columns):
        n_values = 0
        comp = 0
        uncomp = 0
        has_dict = True
        stats_ok = True
        encodings = set()
        name = None
        for rg in range(md.num_row_groups):
            cc = md.row_group(rg).column(ci)
            name = cc.path_in_schema
            n_values += cc.num_values
            comp += cc.total_compressed_size
            uncomp += cc.total_uncompressed_size
            has_dict = has_dict and cc.has_dictionary_page
            st = cc.statistics
            stats_ok = stats_ok and (
                st is not None and st.has_min_max and st.min <= st.max
            )
            encodings.update(cc.encodings)
        rows.append(
            (
                name,
                md.row_group(0).column(ci).physical_type,
                int(n_values),
                bool(has_dict),
                ",".join(sorted(encodings)),
                int(comp),
                int(uncomp),
                int(comp * 1000000 // uncomp),
                bool(stats_ok),
                n_values == total_rows,
                (name != "l_partkey") or has_dict,
            )
        )
    return spark.createDataFrame(
        rows,
        "column STRING, physical_type STRING, n_values BIGINT,"
        " has_dictionary BOOLEAN, encodings STRING, compressed_bytes BIGINT,"
        " uncompressed_bytes BIGINT, compression_ppm BIGINT,"
        " stats_ok BOOLEAN, rows_ok BOOLEAN, dict_ok BOOLEAN",
    ).orderBy("column")


# ---------------------------------------------------------------------------
# Type-widening read across heterogeneous parquet files (int32 vs int64)
# ---------------------------------------------------------------------------

_TYPE_WIDEN_ORACLE = """
WITH unioned AS (
  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS qty_like
  FROM lineitem WHERE l_orderkey % 2 = 0
  UNION ALL
  SELECT l_orderkey, CAST(l_linenumber AS BIGINT)
  FROM lineitem WHERE l_orderkey % 2 = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(qty_like) AS BIGINT) AS qty_sum,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM unioned
"""


@register(
    "s_type_widening_read",
    oracle=_TYPE_WIDEN_ORACLE,
    tags=("S1", "S4", "P1"),
)
def s_type_widening_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening schema evolution: half the table was written with
    an INT32 column, half with INT64 (the classic drift after a
    producer upgrade). A naive mergeSchema read FAILS on the type
    conflict; the production path — demonstrated here — is reading
    with an explicit widened schema, which the parquet reader honors
    by upcasting the int32 files at scan time. The aggregate must equal
    the logical union, which is what the oracle computes.

    Scale note — explicit-schema reads also skip the footer-sampling
    pass mergeSchema needs (a real cost at 100k files); the upcast
    happens inside the columnar reader, not as a post-scan Project."""
    from pyspark.sql import types as T

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")

    def half(parity: int, qty_type: str):
        return lambda p: li.filter(F.col("l_orderkey") % 2 == parity).select(
            "l_orderkey", F.col("l_linenumber").cast(qty_type).alias("qty_like")
        ).write.mode("overwrite").parquet(p)

    inputs = {"tables": ("lineitem",), "params": "type-widen-v1"}
    pa = materialize(sf_dir, "widen_int32", half(0, "int"), **inputs)
    pb = materialize(sf_dir, "widen_int64", half(1, "long"), **inputs)
    widened = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("qty_like", T.LongType()),
        ]
    )
    back = spark.read.schema(widened).parquet(pa, pb)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty_like").alias("qty_sum"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )


# --- S3: nested-JSON scan with EXPLICIT schema (arrays of structs) ----------

_NESTED_JSON_ORACLE = """
SELECT l.l_returnflag AS returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-02-01'
GROUP BY l.l_returnflag
ORDER BY returnflag
"""


@register(
    "s_json_nested_scan",
    oracle=_NESTED_JSON_ORACLE,
    tags=("S3", "S4", "F4", "J1"),
)
def s_json_nested_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON ingestion, the API-dump shape: orders serialized
    WITH their line items as an array of structs, then scanned back
    with an EXPLICIT schema (the production path — inference on nested
    JSON is a full extra pass and type-unstable), exploded, and
    aggregated. The round-trip is proven against the original
    relational tables, so a single dropped array element or coerced
    field fails the hash.

    Scale notes: the nested write is one order-keyed groupBy
    (collect_list bounded by lines-per-order, a data-model constant);
    the explicit-schema read is a distributed JSONL scan; explode is
    map-only. At 100 TB you land exactly here: JSON events with nested
    arrays → explode → columnar aggregate."""
    import pyspark.sql.types as T

    path = scratch_dir(sf_dir, "orders_nested_json")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-02-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    nested = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("line"),
                    F.col("l_returnflag").alias("flag"),
                    F.col("l_extendedprice").alias("price"),
                )
            ).alias("lines")
        )
    )
    nested.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField(
                "lines",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("line", T.LongType()),
                            T.StructField("flag", T.StringType()),
                            T.StructField("price", T.DoubleType()),
                        ]
                    )
                ),
            ),
        ]
    )
    back = spark.read.schema(schema).json(path)
    exploded = back.select(
        "o_orderkey", F.explode("lines").alias("ln")
    )
    return (
        exploded.groupBy(F.col("ln.flag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("ln.price") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("returnflag")
    )


# --- orphan-file vacuum (manifest-vs-listing reconciliation) ----------------

_VACUUM_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(doc_id) AS BIGINT) AS rows_checksum,
  CAST(2 AS BIGINT) AS n_orphans,
  CAST(2 AS BIGINT) AS n_orphans_removed
FROM documents
"""


@register(
    "s_vacuum_orphan_files",
    oracle=_VACUUM_ORACLE,
    tags=("S4", "S1", "A2", "F7"),
)
def s_vacuum_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — orphan-file reconciliation, the table-maintenance twin
    of compaction: failed/zombie writers leave data files in the table
    directory that no committed manifest references; a 100 TB table
    accumulates them until listing cost and accidental double-reads
    bite. The job: (1) write the table plus a manifest of committed
    file names, (2) plant two orphan files (a crashed task's part file
    and a stale temp), (3) anti-join the real directory listing against
    the manifest — the orphans — and delete them, (4) prove the table's
    rows and checksum survived the vacuum untouched.

    The listing side uses the binaryFile source (distributed listing,
    no driver walk); the manifest is itself parquet, so the anti-join
    is two tiny file-name tables. Orphan counts are pinned constants by
    construction (the planted pair), which the oracle checks alongside
    the un-harmed row checksum.
    """
    import os
    import shutil

    from ..sources import scratch_dir

    tbl = scratch_dir(sf_dir, "vacuum_table")
    manifest = scratch_dir(sf_dir, "vacuum_manifest")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # Fresh table each run: vacuum must be idempotent from a clean slate.
    shutil.rmtree(tbl, ignore_errors=True)
    d.repartition(4).write.mode("overwrite").parquet(tbl)
    committed = spark.read.format("binaryFile").load(tbl).filter(
        F.col("path").endswith(".parquet")
    ).select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name")
    )
    committed.write.mode("overwrite").parquet(manifest)
    # Plant orphans AFTER the manifest commit (a crashed writer's leftovers).
    for orphan in ("part-99999-zombie.c000.parquet", "stale-retry-shard.c001.parquet"):
        with open(os.path.join(tbl, orphan), "wb") as f:
            f.write(b"PAR1 not a real footer")
    listing = spark.read.format("binaryFile").load(tbl).filter(
        F.col("path").endswith(".parquet")
    ).select(
        F.col("path"),
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
    )
    orphans = listing.join(
        spark.read.parquet(manifest), "file_name", "left_anti"
    )
    orphan_paths = [r.path for r in orphans.select("path").collect()]
    n_removed = 0
    for p in orphan_paths:
        local = p.removeprefix("file:")
        if os.path.exists(local):
            os.remove(local)
            n_removed += 1
    # Post-vacuum: the committed data must be bit-intact.
    after = spark.read.parquet(tbl)
    return after.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").cast("long").alias("rows_checksum"),
        F.lit(len(orphan_paths)).cast("long").alias("n_orphans"),
        F.lit(n_removed).cast("long").alias("n_orphans_removed"),
    )


# --- permissive scan with corrupt-record audit --------------------------------

_CORRUPT_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_good,
  CAST(SUM(n_nationkey) AS BIGINT) AS key_checksum,
  CAST(3 AS BIGINT) AS n_corrupt,
  CAST(3 AS BIGINT) AS n_quarantined
FROM nation
"""


@register(
    "s_corrupt_record_audit",
    oracle=_CORRUPT_ORACLE,
    tags=("S2", "P5", "A2", "S4"),
)
def s_corrupt_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract enforcement at the ingest boundary: a CSV feed
    with rows that violate the declared schema is read in PERMISSIVE
    mode, malformed rows land in the `_corrupt_record` column instead
    of killing the job (FAILFAST) or silently vanishing (DROPMALFORMED),
    and the audit quarantines them to a reject file while the clean rows
    flow on — the standard dead-letter pattern for 100 TB feeds where
    one bad row per billion must neither stop the pipeline nor be lost.

    Three poison rows are planted (non-integer key, truncated row, junk
    line); the oracle pins the quarantine count AND the unharmed
    checksum of the clean rows. The scan stays distributed — corrupt
    handling is per-row inside the CSV parser, not a driver-side sieve.
    """
    import os

    from ..sources import scratch_dir

    path = scratch_dir(sf_dir, "nation_feed_csv")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.coalesce(1).write.mode("overwrite").option("header", "false").csv(path)
    # Plant malformed rows AFTER the clean write, as the separate file a
    # buggy producer would drop into the feed directory. (Appending to
    # the committed part file would trip Hadoop's .crc sidecar check —
    # the local-FS analogue of why one NEVER mutates committed files.)
    with open(os.path.join(path, "producer-bad-batch.csv"), "w") as f:
        f.write("not_an_int,BADLAND,7\n")       # type violation
        f.write("99,TRUNCATED\n")                # missing column
        f.write("garbage line with no commas\n")  # unparseable
    schema = (
        "n_nationkey INT, n_name STRING, n_regionkey INT, "
        "_corrupt_record STRING"
    )
    feed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # Spark refuses queries that reference ONLY the internal corrupt
    # column; the production shape avoids it anyway: land the parsed
    # feed (all columns) to a bronze table in one distributed pass, then
    # split quarantine/clean from the landed copy.
    landing = scratch_dir(sf_dir, "nation_feed_bronze")
    feed.write.mode("overwrite").parquet(landing)
    bronze = spark.read.parquet(landing)
    quarantine = scratch_dir(sf_dir, "nation_feed_rejects")
    bad = bronze.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    bad.write.mode("overwrite").parquet(quarantine)
    n_quarantined = spark.read.parquet(quarantine).count()
    good = bronze.filter(F.col("_corrupt_record").isNull())
    return good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum("n_nationkey").cast("long").alias("key_checksum"),
        F.sum(F.lit(0)).cast("long").alias("_zero"),
    ).select(
        "n_good",
        "key_checksum",
        (F.col("_zero") + F.lit(n_quarantined)).cast("long").alias("n_corrupt"),
        (F.col("_zero") + F.lit(n_quarantined)).cast("long").alias(
            "n_quarantined"
        ),
    )


# --- S6+P3, second wave: literal in-memory policy table, compound filter ---

_POLICY_ORACLE = """
WITH policy(priority, hi_total, lo_total, waive_low) AS (
  VALUES ('1-URGENT',        280000.0,  2500.0, TRUE),
         ('2-HIGH',          260000.0,  5000.0, FALSE),
         ('3-MEDIUM',        240000.0,  7500.0, FALSE),
         ('4-NOT SPECIFIED', 220000.0, 10000.0, FALSE),
         ('5-LOW',           200000.0, 12500.0, TRUE)
)
SELECT p.priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN (o_totalprice > hi_total AND o_orderstatus = 'F')
                       OR (o_totalprice < lo_total AND NOT waive_low)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       CAST(SUM(CASE WHEN (o_totalprice > hi_total AND o_orderstatus = 'F')
                       OR (o_totalprice < lo_total AND NOT waive_low)
                     THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
         AS violation_ppm
FROM orders o
JOIN policy p ON o.o_orderpriority = p.priority
GROUP BY p.priority
ORDER BY p.priority
"""


@register(
    "s_inmemory_policy_scan",
    oracle=_POLICY_ORACLE,
    tags=("S6", "P3", "J2", "A7"),
)
def s_inmemory_policy_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 + P3, second wave: a driver-literal policy table
    (spark.createDataFrame over plain tuples — the in-memory source)
    broadcast-joined to the orders fact, with a compound boolean
    predicate ((over-cap AND finalized) OR (under-floor AND NOT
    waived)) evaluated per row and aggregated to a violation rate.

    Scale notes: the in-memory side is 5 rows — it ships inside the
    broadcast, the fact table never shuffles, and the predicate is
    whole-stage-codegen'd Catalyst (no UDF). Rate is exact integer ppm
    (violations * 1e6 DIV n), not float division."""
    policy = spark.createDataFrame(
        [
            ("1-URGENT", 280000.0, 2500.0, True),
            ("2-HIGH", 260000.0, 5000.0, False),
            ("3-MEDIUM", 240000.0, 7500.0, False),
            ("4-NOT SPECIFIED", 220000.0, 10000.0, False),
            ("5-LOW", 200000.0, 12500.0, True),
        ],
        "priority STRING, hi_total DOUBLE, lo_total DOUBLE, waive_low BOOLEAN",
    )
    orders = load_table(spark, sf_dir, "orders")
    violated = (
        (F.col("o_totalprice") > F.col("hi_total"))
        & (F.col("o_orderstatus") == "F")
    ) | ((F.col("o_totalprice") < F.col("lo_total")) & (~F.col("waive_low")))
    return (
        orders.join(
            F.broadcast(policy), orders.o_orderpriority == policy.priority
        )
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(violated, 1).otherwise(0)).cast("long").alias(
                "n_violations"
            ),
        )
        .withColumn(
            "violation_ppm",
            F.expr("CAST(n_violations * 1000000 DIV n_orders AS BIGINT)"),
        )
        .orderBy("priority")
    )


# --- S3, third wave: multiLine JSON array scan --------------------------------

_JSON_MULTILINE_ORACLE = """
SELECT n_regionkey,
       CAST(COUNT(*) AS BIGINT)       AS n_nations,
       MIN(n_name)                    AS first_name,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


@register(
    "s_json_multiline_scan",
    oracle=_JSON_MULTILINE_ORACLE,
    tags=("S3", "S4", "A1"),
)
def s_json_multiline_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3, third wave: a single pretty-printed JSON ARRAY document (the
    API-response / config-export shape) read back with multiLine=true —
    a different parser path from JSONL: the file cannot be split on
    newlines, so each multiline document is one parse unit. The
    round-trip is written distributively as JSONL first, then stitched
    into one array document; the aggregation proves the scan is
    lossless against the original table.

    Scale: multiLine JSON is explicitly the NON-splittable format —
    fine for many small documents (one task each), wrong for one giant
    file; the JSONL twin (s_jsonl_filter_project) is the splittable
    production path, and the pairing documents that tradeoff."""
    import glob
    import json as _json
    import os

    nation = load_table(spark, sf_dir, "nation")

    def build(doc: str) -> None:
        out = os.path.dirname(doc)
        os.makedirs(out, exist_ok=True)
        jsonl_dir = os.path.join(out, "_jsonl")
        nation.select("n_nationkey", "n_name", "n_regionkey").coalesce(
            1
        ).write.mode("overwrite").json(jsonl_dir)
        rows = []
        for part in sorted(glob.glob(os.path.join(jsonl_dir, "part-*"))):
            with open(part) as f:
                rows += [_json.loads(line) for line in f if line.strip()]
        rows.sort(key=lambda r: r["n_nationkey"])
        tmp = doc + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(rows, f, indent=2)
        os.replace(tmp, doc)

    doc = materialize(
        sf_dir,
        "json_multiline/nations.json",
        build,
        tables=("nation",),
        params="json-multiline",
    )
    back = (
        spark.read.option("multiLine", "true")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .json(doc)
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
        .orderBy("n_regionkey")
    )


# --- S6, third wave: spark.range() generator as the in-memory source --------

_RANGE_SPINE_ORACLE = """
WITH spine AS (
  SELECT CAST(DATE '1996-01-01' + INTERVAL (i) DAY AS DATE) AS d
  FROM GENERATE_SERIES(0, 365) t(i)
),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
    AND o_orderpriority = '1-URGENT'
  GROUP BY 1
)
SELECT CAST(EXTRACT(month FROM spine.d) AS BIGINT) AS mon,
       CAST(COUNT(*) AS BIGINT)                    AS n_days,
       CAST(SUM(CASE WHEN daily.d IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                   AS n_gap_days,
       CAST(COALESCE(SUM(daily.n), 0) AS BIGINT)   AS n_orders
FROM spine LEFT JOIN daily ON spine.d = daily.d
WHERE EXTRACT(year FROM spine.d) = 1996
GROUP BY 1
ORDER BY mon
"""


@register(
    "s_range_calendar_spine",
    oracle=_RANGE_SPINE_ORACLE,
    tags=("S6", "F2", "J3", "A1"),
)
def s_range_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6, third wave: spark.range() as the in-memory generator source —
    a 366-day calendar spine built with no input files at all, LEFT
    joined against the per-day URGENT-order counts so days with ZERO
    such orders survive as explicit gap rows (the densify idiom; a bare
    groupBy can never produce a row for a day it never saw — the urgent
    slice is sparse enough that gaps actually occur).

    Scale: range() parallelizes the generated span across the cluster;
    the spine side is provably tiny (one row per day) so it broadcasts,
    and the fact side reduces to per-day counts BEFORE the join."""
    spine = spark.range(0, 366).select(
        F.date_add(F.lit("1996-01-01").cast("date"), F.col("id").cast("int")).alias(
            "d"
        )
    ).filter(F.year("d") == 1996)
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        F.broadcast(spine)
        .join(daily, "d", "left")
        .groupBy(F.month("d").cast("long").alias("mon"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_gap_days"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_orders"),
        )
        .orderBy("mon")
    )


# --- S3/F6/P3, fourth wave: JSONL scan + JSON scalar parse + boolean combo ---

_JSONL_PROPS_ORACLE = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)                    AS n_events,
       CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS value_cents,
       CAST(SUM(k) AS BIGINT)                      AS k_sum
FROM (
  SELECT event_type, value,
         CAST(REGEXP_EXTRACT(props, '[0-9]+') AS BIGINT) AS k
  FROM events
)
WHERE (event_type = 'click' AND k >= 50)
   OR (event_type = 'purchase' AND NOT k >= 50)
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "s_jsonl_props_scan",
    oracle=_JSONL_PROPS_ORACLE,
    tags=("S3", "S4", "F6", "P3", "A1"),
)
def s_jsonl_props_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/F6/P3, fourth wave: the JSONL landing-zone shape — events
    serialized to line-delimited JSON (the splittable production twin of
    the multiLine document form), read back with an explicit schema, the
    embedded props JSON parsed with get_json_object, and a compound
    ((A AND B) OR (C AND NOT B)) predicate applied to the PARSED field.
    Proves the JSON scan + scalar-JSON-function path end to end against
    the original parquet.

    Scale: JSONL splits on newlines at any byte offset, so a 100 TB
    landing zone fans out to maxPartitionBytes-sized tasks;
    get_json_object is a codegen scalar (one pass, no UDF)."""
    events = load_table(spark, sf_dir, "events")
    out = materialize(
        sf_dir,
        "events_jsonl",
        lambda p: events.select(
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_type",
            "value",
            "props",
        ).write.mode("overwrite").json(p),
        tables=("events",),
        params="jsonl-v1",
    )
    back = spark.read.schema(
        "event_id BIGINT, ts_us BIGINT, event_type STRING, value DOUBLE, props STRING"
    ).json(out)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    kept = back.withColumn("k", k).filter(
        ((F.col("event_type") == "click") & (F.col("k") >= 50))
        | ((F.col("event_type") == "purchase") & ~(F.col("k") >= 50))
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("value_cents"),
            F.sum("k").cast("long").alias("k_sum"),
        )
        .orderBy("event_type")
    )


# --- S2/S5, fourth wave: partitioned CSV sink + partition-discovery read ----

_CSV_PART_ORACLE = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT)  AS n_orders,
       CAST(SUM({CENTS_SQL.format(expr="o_totalprice")}) AS BIGINT) AS total_cents,
       STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS first_date
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "s_csv_partitioned_sink",
    oracle=_CSV_PART_ORACLE,
    tags=("S2", "S5", "S4", "A1"),
)
def s_csv_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S5, fourth wave: the hive-layout CSV export — orders written
    partitionBy(o_orderpriority) through the CSV sink (one directory per
    priority, header per file), read back through partition DISCOVERY
    (the partition column comes from directory names, not file bytes),
    and rolled up per partition to prove the round trip lossless.

    Scale: a partitioned sink is how 100 TB exports stay consumable —
    partition pruning on the read side skips whole directories; the
    write shuffles nothing (partitionBy at write = per-task fan-out
    files). Values re-parsed with an explicit cast chain, not
    inferSchema, so the scan stays single-pass."""
    orders = load_table(spark, sf_dir, "orders")
    out = materialize(
        sf_dir,
        "orders_csv_part",
        lambda p: orders.select(
            "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
        ).write.mode("overwrite").option("header", True).partitionBy(
            "o_orderpriority"
        ).csv(p),
        tables=("orders",),
        params="csv-part-v1",
    )
    back = spark.read.option("header", True).schema(
        "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderdate DATE, "
        "o_orderpriority STRING"
    ).csv(out)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).cast("long").alias("total_cents"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
        )
        .orderBy("o_orderpriority")
    )


# --- S6/A5, fourth wave: in-memory dim + ROLLUP over derived tiers ----------

_TIER_ROLLUP_ORACLE = """
WITH dim(tier, tier_ord) AS (
  VALUES ('debt', 0), ('low', 1), ('mid', 2), ('high', 3)
),
tiered AS (
  SELECT c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'debt'
              WHEN c_acctbal < 1000 THEN 'low'
              WHEN c_acctbal < 5000 THEN 'mid'
              ELSE 'high' END AS tier,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
)
SELECT CAST(GROUPING(c_mktsegment, d.tier) AS BIGINT) AS gid,
       COALESCE(c_mktsegment, 'ALL') AS segment,
       COALESCE(d.tier, 'ALL')       AS tier,
       CAST(COUNT(*) AS BIGINT)      AS n_customers,
       CAST(SUM(bal_cents) AS BIGINT) AS bal_cents
FROM tiered t JOIN dim d ON t.tier = d.tier
GROUP BY ROLLUP(c_mktsegment, d.tier)
ORDER BY gid, segment, tier
"""


@register(
    "s_tier_dim_rollup",
    oracle=_TIER_ROLLUP_ORACLE,
    tags=("S6", "A5", "J2", "A1", "P6"),
)
def s_tier_dim_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A5, fourth wave: a driver-literal tier dimension (the
    in-memory source: business bands that live in code, not storage)
    broadcast-joined to derived customer tiers, then a two-level ROLLUP
    (segment > tier) with grouping_id-labeled subtotal levels.

    Scale: the dim is 4 literal rows — broadcast by construction; the
    rollup is one Expand-based scan with combinable aggregates (each
    input row feeds 3 grouping sets; no re-scan per level)."""
    customer = load_table(spark, sf_dir, "customer")
    dim = spark.createDataFrame(
        [("debt", 0), ("low", 1), ("mid", 2), ("high", 3)],
        "tier STRING, tier_ord INT",
    )
    tiered = customer.select(
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("tier"),
        cents(F.col("c_acctbal")).alias("bal_cents"),
    ).join(F.broadcast(dim), "tier")
    return (
        tiered.rollup("c_mktsegment", "tier")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("bal_cents").cast("long").alias("bal_cents"),
        )
        .select(
            "gid",
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            F.coalesce(F.col("tier"), F.lit("ALL")).alias("tier"),
            "n_customers",
            "bal_cents",
        )
        .orderBy("gid", "segment", "tier")
    )


# --- S2+S6, fifth wave: CSV scan joined to an in-memory literal dimension ----

_CSV_DIM_ORACLE = f"""
WITH tiers AS (
  SELECT * FROM (VALUES
    ('Brand#1', 'premium'), ('Brand#2', 'premium'), ('Brand#3', 'standard'),
    ('Brand#4', 'standard'), ('Brand#5', 'value')
  ) AS t(brand, tier)
)
SELECT COALESCE(tier, 'unclassified') AS tier,
       CAST(COUNT(*) AS BIGINT)       AS n_parts,
       CAST(SUM({CENTS_SQL.format(expr="p_retailprice")}) AS BIGINT)
                                      AS retail_cents,
       CAST(SUM(p_size) AS BIGINT)    AS size_sum
FROM part LEFT JOIN tiers ON p_brand = brand
GROUP BY 1
"""


@register("s_csv_inmemory_brand_tier", oracle=_CSV_DIM_ORACLE, tags=("S2", "S6"))
def s_csv_inmemory_brand_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S6, fifth wave: the part table round-trips through a HEADERED
    CSV (schema re-inferred on scan — doubles and ints must come back
    typed), then LEFT-joins an in-memory literal tier dimension built
    with createDataFrame, unmatched brands folding to 'unclassified'.

    Scale: the 5-row literal dim is driver-local by construction and
    always broadcast — the join adds zero shuffle on top of the scan;
    the CSV leg proves text-format scans land in the same typed plan
    as parquet (money still summed in integer cents AFTER re-inference,
    so the text round-trip cannot smuggle in float drift)."""
    path = scratch_dir(sf_dir, "part_csv")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice", "p_size"
    )
    part.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.csv(path, header=True, inferSchema=True)
    tiers = spark.createDataFrame(
        [
            Row(brand="Brand#1", tier="premium"),
            Row(brand="Brand#2", tier="premium"),
            Row(brand="Brand#3", tier="standard"),
            Row(brand="Brand#4", tier="standard"),
            Row(brand="Brand#5", tier="value"),
        ]
    )
    return (
        back.join(F.broadcast(tiers), back.p_brand == tiers.brand, "left")
        .groupBy(F.coalesce("tier", F.lit("unclassified")).alias("tier"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum(cents(F.col("p_retailprice"))).cast("long").alias("retail_cents"),
            F.sum("p_size").cast("long").alias("size_sum"),
        )
    )


# --- S5+J5, sixth wave: pruned partition read-back audited by an anti join ---

_PRUNED_ANTI_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT)          AS n_excluded,
       CAST(SUM(n_chars) AS BIGINT)      AS excluded_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs_excluded
FROM documents
WHERE lang NOT IN ('en', 'de') OR lang IS NULL
GROUP BY source
"""


@register("s_pruned_anti_coverage", oracle=_PRUNED_ANTI_ORACLE, tags=("S5", "J5"))
def s_pruned_anti_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+J5, sixth wave: documents land in a lang-partitioned sink; a
    PRUNED read-back (filter on the partition column — only the en/de
    directories are scanned) is anti-joined against the full corpus to
    produce the COMPLEMENT — the coverage audit every partition-pruned
    pipeline needs ('what did my partition filter exclude?').

    Scale: partition pruning turns the filtered scan into a directory
    listing of 2 of N partitions (no data skipped rows read); the LEFT
    ANTI join is a hash join on doc_id at corpus-key cardinality — the
    anti side never fans out. The oracle states the complement
    directly, spelled `lang NOT IN (...) OR lang IS NULL` because the
    anti-join complement INCLUDES NULL-lang docs (they are not kept by
    isin('en','de') and would land in __HIVE_DEFAULT_PARTITION__),
    while a bare NOT IN evaluates to NULL and drops them — the
    intended audit semantics is "everything the pruned read missed"."""
    path = scratch_dir(sf_dir, "documents_by_lang_audit")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path)
    kept = back.filter(F.col("lang").isin("en", "de")).select("doc_id")
    excluded = docs.join(kept, "doc_id", "left_anti")
    return excluded.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_excluded"),
        F.sum("n_chars").cast("long").alias("excluded_chars"),
        F.count_distinct("lang").cast("long").alias("n_langs_excluded"),
    )


# --- S2+S6+P5, seventh wave: CSV dialect with NULL token round-trip -----------

_CSV_NULL_DIALECT_ORACLE = """
WITH src AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN NULL ELSE c_name END AS contact,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
tiers AS (
  SELECT * FROM (VALUES
    ('AUTOMOBILE', 'retail'), ('MACHINERY', 'industrial'),
    ('BUILDING', 'industrial'), ('FURNITURE', 'retail'),
    ('HOUSEHOLD', 'retail')
  ) AS t(c_mktsegment, tier)
)
SELECT tier,
       CAST(COUNT(*) AS BIGINT)                          AS n_customers,
       CAST(COUNT(contact) AS BIGINT)                    AS n_with_contact,
       CAST(COUNT(*) - COUNT(contact) AS BIGINT)         AS n_null_contact,
       CAST(SUM(bal_cents) AS BIGINT)                    AS total_bal_cents
FROM src JOIN tiers USING (c_mktsegment)
GROUP BY tier
"""


@register(
    "s_csv_null_dialect",
    oracle=_CSV_NULL_DIALECT_ORACLE,
    tags=("S2", "S6", "P5"),
)
def s_csv_null_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S6+P5, seventh wave: a NON-DEFAULT CSV dialect round-trip —
    pipe separator and an explicit NULL token (`\\N`, the classic
    database-dump convention) — where real NULLs (negative-balance
    customers' phones, nulled before the sink) must survive the
    write -> scan path as NULLs, not as the literal token string; the
    read-back joins an IN-MEMORY tier dimension (spark.createDataFrame,
    the S6 source) and the rollup counts nulls explicitly (COUNT(col)
    vs COUNT(*), the P5 distinction).

    Scale: CSV options are per-task metadata (no cost); the tier dim is
    5 rows — broadcast; the rollup is one combinable shuffle. Balances
    ride as exact integer cents computed BEFORE the sink so the CSV
    carries integers, not floats."""
    path = scratch_dir(sf_dir, "customer_csv_dialect")
    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_name"))
        .alias("contact"),
        cents(F.col("c_acctbal")).alias("bal_cents"),
    )
    src.write.mode("overwrite").options(
        sep="|", nullValue=r"\N", header=True
    ).csv(path)
    back = spark.read.options(
        sep="|", nullValue=r"\N", header=True, inferSchema=True
    ).csv(path)
    tiers = spark.createDataFrame(
        [
            ("AUTOMOBILE", "retail"),
            ("MACHINERY", "industrial"),
            ("BUILDING", "industrial"),
            ("FURNITURE", "retail"),
            ("HOUSEHOLD", "retail"),
        ],
        "c_mktsegment string, tier string",
    )
    return (
        back.join(F.broadcast(tiers), "c_mktsegment")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.count("contact").cast("long").alias("n_with_contact"),
            (F.count(F.lit(1)) - F.count("contact"))
            .cast("long")
            .alias("n_null_contact"),
            F.sum("bal_cents").cast("long").alias("total_bal_cents"),
        )
    )


# --- S3+F6+P1, seventh wave: to_json -> JSON sink -> from_json ----------------

_TOJSON_ROUNDTRIP_ORACLE = """
SELECT lang,
       source,
       CAST(COUNT(*) AS BIGINT)      AS n_docs,
       CAST(SUM(n_chars) AS BIGINT)  AS total_chars,
       CAST(MAX(doc_id) AS BIGINT)   AS max_doc
FROM documents
WHERE n_chars >= 20
GROUP BY lang, source
"""


@register(
    "s_tojson_fromjson_roundtrip",
    oracle=_TOJSON_ROUNDTRIP_ORACLE,
    tags=("S3", "F6", "P1"),
)
def s_tojson_fromjson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+F6+P1, seventh wave: the ENVELOPE pattern — each document's
    metadata is serialized to a JSON STRING column (to_json over a
    struct), written through the JSON-lines sink (so the payload is a
    json-in-json envelope, exactly what event buses deliver), read back
    as raw strings, and decoded with from_json against an EXPLICIT
    schema (no inference — the production contract), then projected
    down to the three metadata fields before the rollup (P1: the scan
    of the decode output prunes to the projected fields).

    Scale: to_json/from_json are JVM codegen expressions — zero Python;
    the envelope survives schema evolution because the decode schema,
    not the file, is authoritative; one combinable shuffle for the
    rollup."""
    path = scratch_dir(sf_dir, "doc_envelope_json")
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 20)
    enveloped = d.select(
        "doc_id",
        F.to_json(F.struct("lang", "source", "n_chars")).alias("envelope"),
    )
    enveloped.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    meta_schema = "lang string, source string, n_chars long"
    decoded = back.select(
        "doc_id", F.from_json(F.col("envelope"), meta_schema).alias("meta")
    ).select(
        F.col("meta.lang").alias("lang"),
        F.col("meta.source").alias("source"),
        F.col("meta.n_chars").alias("n_chars"),
        "doc_id",
    )
    return decoded.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


# --- S5+A3, seventh wave: two-level partitioned sink with pruned distincts ----

_TWO_LEVEL_PRUNE_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT)                AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT)    AS n_langs,
       CAST(SUM(n_chars) AS BIGINT)            AS total_chars
FROM documents
WHERE lang IN ('en', 'de', 'fr')
GROUP BY source
"""


@register(
    "s_two_level_partition_prune",
    oracle=_TWO_LEVEL_PRUNE_ORACLE,
    tags=("S5", "A3"),
)
def s_two_level_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+A3, seventh wave: a TWO-LEVEL partitioned sink (lang/source —
    the lakehouse layout for corpus data) read back with a filter on
    the OUTER partition column only: pruning must skip whole lang
    directory trees while scanning every source subdirectory inside the
    kept ones, and the partition columns themselves (absent from the
    data files) must reconstitute for the COUNT(DISTINCT lang) check.

    Scale: at 100 TB this layout turns a 3-language audit into a
    directory listing of 3/N top-level branches; distinct-lang per
    source is a tiny post-prune agg. The write itself shuffles by the
    partition keys first (repartition before partitionBy) so each task
    writes one directory, avoiding the small-files explosion."""
    path = scratch_dir(sf_dir, "documents_two_level")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.repartition("lang", "source").write.mode("overwrite").partitionBy(
        "lang", "source"
    ).parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("lang").isin("en", "de", "fr")
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- S2+S5, seventh wave (depth): partitioned CSV sink with pruned read ------

_CSV_PARTITIONED_PRUNE_ORACLE = """
SELECT lang,
       source,
       CAST(COUNT(*) AS BIGINT)     AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE lang IN ('en', 'fr')
GROUP BY lang, source
"""


@register(
    "s_csv_partitioned_prune",
    oracle=_CSV_PARTITIONED_PRUNE_ORACLE,
    tags=("S2", "S5"),
)
def s_csv_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S5, seventh wave depth: hive-style partitioning applied to the
    CSV format — the partition-pruning contract is format-agnostic
    (directory layout, not file metadata), so a lang-partitioned CSV
    export must prune exactly like parquet when read back with a
    partition-column filter, and the partition column (absent from the
    CSV payload) must reconstitute typed from the directory names.

    Scale: the export shape for downstream consumers that cannot read
    parquet; pruning still reduces a 2-language read to 2/N directory
    branches — the payload format only changes per-file decode cost."""
    path = scratch_dir(sf_dir, "documents_csv_by_lang")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.repartition("lang").write.mode("overwrite").option(
        "header", True
    ).partitionBy("lang").csv(path)
    back = spark.read.options(header=True, inferSchema=True).csv(path)
    return (
        back.filter(F.col("lang").isin("en", "fr"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# === Eighth wave (round 10): S-row depth restocks ==============================

# --- S3+F6, eighth wave: JSONL sink/scan with embedded-JSON re-parse -----------

_JSONL_EMBEDDED_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS k_sum,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS k_max,
       CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                          >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_k
FROM events
GROUP BY event_type
"""


@register(
    "s_json_lines_roundtrip",
    oracle=_JSONL_EMBEDDED_ORACLE,
    tags=("S3", "F6"),
)
def s_json_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+F6, eighth wave: the DOUBLY-ENCODED JSON path — events rows
    (with `props` kept as a raw JSON string field) are written as JSON
    lines, so each output line is a JSON object CONTAINING a JSON
    string; reading back with an explicit schema must round-trip the
    inner document byte-exactly through the escape/unescape cycle, and
    from_json + get_json_object then re-parse it (F6). This is the log-
    shipping shape: pipelines routinely nest serialized payloads inside
    envelope records, and the escaping round-trip is where naive
    engines corrupt them.

    Scale: JSONL is splittable (line-delimited) so the scan
    parallelizes like the parquet one; the parse stays in codegen; the
    census is a combinable 5-key shuffle."""
    path = scratch_dir(sf_dir, "events_jsonl_envelope")
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "props"
    )
    e.write.mode("overwrite").json(path)
    back = spark.read.schema("event_id long, event_type string, props string").json(
        path
    )
    parsed = back.select(
        "event_type",
        F.from_json("props", "k long").getField("k").alias("k_struct"),
        F.get_json_object("props", "$.k").cast("long").alias("k_path"),
    )
    return (
        parsed
        # both parse routes must agree — disagreement would poison k_sum
        .select(
            "event_type",
            F.coalesce("k_struct", "k_path").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("k_sum"),
            F.max("k").cast("long").alias("k_max"),
            F.sum(F.when(F.col("k") >= 50, 1).otherwise(0))
            .cast("long")
            .alias("n_high_k"),
        )
    )


# --- S3+P3, eighth wave: nested-array JSONL audit -------------------------------

_JSON_NESTED_AUDIT_ORACLE = """
WITH enriched AS (
  SELECT doc_id, lang, source, n_chars, doc_id % 7 AS shard
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)       AS n_docs,
       CAST(SUM(n_chars) AS BIGINT)   AS total_chars,
       CAST(SUM(shard) AS BIGINT)     AS shard_sum
FROM enriched
WHERE (lang = 'en') <> (n_chars > 120)
  AND NOT (shard = 0 AND lang = 'zh')
GROUP BY source
"""


@register(
    "s_json_nested_audit",
    oracle=_JSON_NESTED_AUDIT_ORACLE,
    tags=("S3", "P3"),
)
def s_json_nested_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+P3, eighth wave: JSON ARRAY round-trip — each document is
    written as a JSONL record whose `counts` field is a 2-element JSON
    array ([n_chars, doc_id % 7]); schema inference must bring it back
    as array<long>, element_at unpacks it positionally, and a boolean
    COMBINATION (an XOR spelled `!=` on booleans plus a negated
    conjunction — P3) filters on the unpacked values before the census.
    Complements m_manifest_json_roundtrip (nested OBJECTS -> struct):
    arrays are the other JSON nesting axis, with ordinal rather than
    named access.

    Scale: arrays of primitives decode without Python; the filter sits
    directly on the scan output so pruning applies before the single
    combinable shuffle."""
    path = scratch_dir(sf_dir, "documents_jsonl_counts")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.array(F.col("n_chars"), F.col("doc_id") % 7).alias("counts"),
    )
    d.write.mode("overwrite").json(path)
    back = spark.read.json(path)  # counts infers as array<long>
    unpacked = back.select(
        "source",
        "lang",
        F.element_at("counts", 1).alias("n_chars"),
        F.element_at("counts", 2).alias("shard"),
    )
    kept = unpacked.filter(
        ((F.col("lang") == "en") != (F.col("n_chars") > 120))
        & ~((F.col("shard") == 0) & (F.col("lang") == "zh"))
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("shard").cast("long").alias("shard_sum"),
    )


# --- S3+F6+P1, ninth wave: nested-struct JSON files with dual extraction --------

_JSON_STRUCT_LINES_ORACLE = """
SELECT CAST(s_nationkey % 5 AS BIGINT) AS rc,
       CAST(COUNT(*) AS BIGINT)        AS n_suppliers,
       CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acct_total_cents,
       CAST(SUM(s_suppkey % 5 + s_nationkey % 3 + 7) AS BIGINT)
         AS flags_total,
       CAST(SUM(3) AS BIGINT)          AS n_flags
FROM supplier
GROUP BY 1
"""


@register(
    "s_json_struct_lines",
    oracle=_JSON_STRUCT_LINES_ORACLE,
    tags=("S3", "F6", "P1"),
)
def s_json_struct_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+F6+P1, ninth wave: a MULTI-LEVEL document round trip — each
    supplier becomes {sup:{key,acct_cents}, geo:{nk,rc}, flags:[3]}
    written with the JSON sink and read back with an explicit NESTED
    schema (S3 both directions; s_tojson_fromjson_roundtrip proves the
    string-column form, this proves the document-file form two structs
    deep with an array sibling). After the scan, one branch of the
    checked output goes BACK through text — to_json(geo) then
    get_json_object '$.rc' (F6) — while acct and flags project straight
    off the struct columns (P1: nested-field projection), so the json
    codec and the struct reader are checked against each other inside
    one plan. Cents are integers before the sink; flags are small
    modular ints — everything text-lossless by construction.

    Scale: the json scan schema-prunes to the referenced nested fields;
    the re-serialized branch is one string column per row, no shuffle
    added; the rollup is a 5-key combinable aggregate."""
    from ..sources import scratch_dir

    path = scratch_dir(sf_dir, "supplier_json_nested")
    load_table(spark, sf_dir, "supplier").select(
        F.struct(
            F.col("s_suppkey").alias("key"),
            F.expr("CAST(ROUND(s_acctbal * 100) AS BIGINT)").alias(
                "acct_cents"
            ),
        ).alias("sup"),
        F.struct(
            F.col("s_nationkey").cast("long").alias("nk"),
            (F.col("s_nationkey") % 5).cast("long").alias("rc"),
        ).alias("geo"),
        F.array(
            (F.col("s_suppkey") % 5).cast("long"),
            (F.col("s_nationkey") % 3).cast("long"),
            F.lit(7).cast("long"),
        ).alias("flags"),
    ).write.mode("overwrite").json(path)
    back = spark.read.schema(
        "sup struct<key: long, acct_cents: long>, "
        "geo struct<nk: long, rc: long>, "
        "flags array<long>"
    ).json(path)
    projected = back.select(
        F.get_json_object(F.to_json(F.col("geo")), "$.rc")
        .cast("long")
        .alias("rc"),
        F.col("sup.acct_cents").alias("acct_cents"),
        F.aggregate("flags", F.lit(0).cast("long"), lambda a, v: a + v).alias(
            "flag_sum"
        ),
        F.size("flags").cast("long").alias("n_flag"),
    )
    return projected.groupBy("rc").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("acct_cents").cast("long").alias("acct_total_cents"),
        F.sum("flag_sum").cast("long").alias("flags_total"),
        F.sum("n_flag").cast("long").alias("n_flags"),
    )


# --- S4+O1+P1, ninth wave: total-order top-k report through a parquet sink -----

_TOPK_REPORT_ORACLE = """
WITH topk AS (
  SELECT p_partkey, p_brand,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part
  ORDER BY price_cents DESC, p_partkey ASC
  LIMIT 200
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY price_cents DESC, p_partkey ASC)
            AS BIGINT)                           AS rnk,
       p_partkey,
       p_brand,
       price_cents,
       CAST((ROW_NUMBER() OVER (ORDER BY price_cents DESC, p_partkey ASC)
             - 1) // 50 AS BIGINT)               AS band
FROM topk
"""


@register(
    "s_topk_parquet_report",
    oracle=_TOPK_REPORT_ORACLE,
    tags=("S4", "O1", "P1"),
)
def s_topk_parquet_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+O1+P1, ninth wave: the publish-a-report pipeline — a GLOBAL
    total order with an explicit tie-break (price desc, partkey asc —
    O1's semantics are only deterministic because the tie-break is
    total) takes the 200 priciest parts via TakeOrderedAndProject (the
    top-k physical form that never materializes a full sort), the
    report lands in a plain parquet sink and is read back (S4 — the
    sink/scan pair is the handoff every published artifact makes), and
    the readback is re-projected (P1) with its rank RECOMPUTED from the
    stored values — proving the persisted rows alone reproduce their
    own ordering, the property that makes the artifact consumable
    without trusting file order.

    Scale: top-k is per-partition heads + one 200-row merge; the sink
    holds 200 rows at any data size; the recomputed rank runs on the
    readback's 200 rows."""
    from ..sources import scratch_dir

    path = scratch_dir(sf_dir, "part_topk_report")
    topk = (
        load_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            "p_brand",
            cents(F.col("p_retailprice")).alias("price_cents"),
        )
        .orderBy(F.desc("price_cents"), F.asc("p_partkey"))
        .limit(200)
    )
    topk.write.mode("overwrite").parquet(path)
    from pyspark.sql import Window

    back = spark.read.parquet(path)
    w = Window.orderBy(F.desc("price_cents"), F.asc("p_partkey"))
    return back.select(
        F.row_number().over(w).cast("long").alias("rnk"),
        "p_partkey",
        "p_brand",
        "price_cents",
        ((F.row_number().over(w) - 1) / 50).cast("long").alias("band"),
    )
