"""Catalog: the ten engine tables (TESTDATA.md) as DataFrames + temp views.

Inputs are read with a known schema (`read_parquet`). Parquet carries
the schema in its footer, but a plain `spark.read.parquet` launches a
one-task Spark job on every call to read it; here that inference runs
once per file version and every later read passes the remembered
schema. Scans stay columnar + filter-pushdown-capable.

The one normalization done here is `events.ts`, which has shipped in
two vintages across driver data generations: parquet TIMESTAMP(NANOS) —
which Spark 4 cannot read natively, so it arrives as ns-int64 under
`spark.sql.legacy.parquet.nanosAsLong=true` (a session.RUNTIME_CONFS
entry) and is truncated to µs TIMESTAMP_NTZ, matching DuckDB's ns→µs
truncation — and plain TIMESTAMP(MICROS) NTZ (the current generation),
which Spark reads natively and load_table passes through untouched. The
scan's actual output type decides which path applies.

All timestamps in the test data are NTZ (parquet isAdjustedToUTC=false),
which Spark 4 reads as TIMESTAMP_NTZ — the same naive-timestamp semantics
DuckDB uses, so no timezone reconciliation is needed anywhere.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: All engine tables, in dimension→fact order.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Session confs that change the schema Parquet inference returns (the
#: partition-type one for partitioned directories).
_INFERENCE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: (absolute path, inference conf values) -> (stat stamp, inferred schema).
#: One entry per path and conf setting: a rewrite replaces its entry.
_SCHEMAS: dict[
    tuple[str, tuple[str, ...]], tuple[tuple[int, int, int], T.StructType]
] = {}


def _version(path: str) -> tuple[str, tuple[int, int, int]] | None:
    """(absolute local path, `os.stat`'s (inode, size, mtime) of it), or
    None for a path that is missing or not local."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = os.path.abspath(url.path if url.scheme else path)
    try:
        st = os.stat(local)
    except OSError:
        return None
    return local, (st.st_ino, st.st_size, st.st_mtime_ns)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema `spark.read.parquet(path)` infers, inferred once per
    version of the file or directory at `path` and session setting of
    _INFERENCE_CONFS. A rewritten file, or a directory whose entries were
    replaced (a Spark sink in overwrite mode), is a new version; a file
    rewritten in place inside a partition subdirectory is not.

    A path with no version is inferred on every call, as Spark would: a
    missing one (Spark raises PATH_NOT_FOUND) and one with a URI scheme
    other than `file:`. No current workload reads a non-local path."""
    # Stamp before inferring: a rewrite in between leaves a stale stamp,
    # which the next call re-infers, never a stale schema.
    version = _version(path)
    if version is None:
        return spark.read.parquet(path).schema
    local, stamp = version
    key = (local, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is None or hit[0] != stamp:
        hit = _SCHEMAS[key] = (stamp, spark.read.parquet(path).schema)
    return hit[1]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` without the schema-inference job: the
    read takes `parquet_schema`'s remembered schema. Each call returns a
    fresh relation (fresh attribute ids), so self-joins behave as with
    a plain read."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from `{sf_dir}/{name}.parquet`, normalized."""
    path = f"{sf_dir}/{name}.parquet"
    df = read_parquet(spark, path)
    if name == "events":
        # The generated events table has carried two ts encodings across
        # driver rounds: parquet TIMESTAMP(NANOS) (which Spark 4 reads as
        # raw ns-int64 under nanosAsLong) and plain TIMESTAMP(MICROS)
        # (read natively as TIMESTAMP_NTZ). Normalize by what the scan
        # actually produced so either vintage of the data works. Integer
        # `div` (not float /) so 1.7e18-magnitude ns values lose no
        # precision; truncation matches DuckDB's ns→µs cast.
        if isinstance(parquet_schema(spark, path)["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (same names the
    driver's DuckDB oracle uses, so SQL queries read near-identically
    on both engines)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
