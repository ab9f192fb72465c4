"""Catalog: the ten engine tables (TESTDATA.md) as DataFrames + temp views.

Parquet carries the schema, so there is no inference step; scans stay
columnar + filter-pushdown-capable. The one normalization done here is
`events.ts`, which has shipped in two vintages across driver data
generations: parquet TIMESTAMP(NANOS) — which Spark 4 cannot read
natively, so it arrives as ns-int64 under `spark.sql.legacy.parquet.
nanosAsLong=true` (a session.RUNTIME_CONFS entry) and is truncated to µs
TIMESTAMP_NTZ, matching DuckDB's ns→µs truncation — and plain
TIMESTAMP(MICROS) NTZ (the current generation), which Spark reads
natively and load_table passes through untouched. The scan's actual
output type decides which path applies.

All timestamps in the test data are NTZ (parquet isAdjustedToUTC=false),
which Spark 4 reads as TIMESTAMP_NTZ — the same naive-timestamp semantics
DuckDB uses, so no timezone reconciliation is needed anywhere.
"""

from __future__ import annotations

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

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from `{sf_dir}/{name}.parquet`, normalized."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # The generated events table has carried two ts encodings across
        # driver rounds: parquet TIMESTAMP(NANOS) (which Spark 4 reads as
        # raw ns-int64 under nanosAsLong) and plain TIMESTAMP(MICROS)
        # (read natively as TIMESTAMP_NTZ). Normalize by what the scan
        # actually produced so either vintage of the data works. Integer
        # `div` (not float /) so 1.7e18-magnitude ns values lose no
        # precision; truncation matches DuckDB's ns→µs cast.
        if isinstance(df.schema["ts"].dataType, T.LongType):
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
