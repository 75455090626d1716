"""Sources (SURVEY §2.1 S1–S4).

Reference parity:
- S1 CSV scan — header=true, custom escape, all-string schema
  (``data_ingestion_and_cleaning/curate_data.py:47-58``).
- S2 JSON scan — multiline arrays, inferred schema, partitioned trees
  (``data_ingestion_and_cleaning/data_import.ipynb.py:122-125``).
- S3 Parquet scan — single hive partition or whole tree
  (``data_manipulation/denormalized_tables.py:42-44``).
- S4 table scan via SQL (``data_ingestion_and_cleaning/curate_data.py:154``).

Scale notes: all readers return lazy DataFrames; Catalyst pushes filters
and prunes columns/partitions into the scan, so callers should filter
*after* these readers, not pre-slice files themselves. For the 100 TB
case the parquet reader is the hot path — vectorized, predicate-pushdown
and partition-pruning capable out of the box.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
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


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    escape: str = '"',
    infer_schema: bool = False,
    **options: str,
) -> DataFrame:
    """CSV scan (S1). Default mirrors the reference: header names,
    all-string columns, quote-escape for embedded quotes."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("escape", escape)
        .option("inferSchema", str(infer_schema).lower())
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, multiline: bool = True, **options: str
) -> DataFrame:
    """JSON scan (S2): multiline array files, inferred schema; reads a
    hive-partitioned directory tree transparently."""
    reader = spark.read.option("multiline", str(multiline).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S3)."""
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other vectorized columnar format a vanilla Spark
    reads natively; same pushdown/pruning behavior as parquet."""
    return spark.read.orc(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """Catalog table scan (S4); SQL strings go through ``spark.sql``."""
    return spark.table(name)


# Per-session fixture-DataFrame cache. This is *metadata* caching only
# (the lazy DataFrame + its resolved schema — what a catalog/metastore
# provides for free on a real deployment); no data is pinned. Repeated
# spark.read.parquet on the same path re-reads footers and re-resolves
# the schema through py4j, which dominates plan-build time for
# multi-table queries.
_DF_CACHE: dict[tuple, DataFrame] = {}


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver fixture table from an sf directory.

    ``events.parquet`` stores TIMESTAMP(NANOS), which Spark's parquet
    reader rejects; we read nanos as long and truncate to microseconds
    (integer division — doubles would lose precision at 1e18 nanos),
    matching DuckDB's ns→us truncation for oracle parity.
    """
    if table not in TESTDATA_TABLES:
        raise ValueError(f"unknown testdata table {table!r}; one of {TESTDATA_TABLES}")
    key = (spark, sf_dir, table)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    if table == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    _DF_CACHE[key] = df
    return df


def parquet_row_groups(files: Sequence[str]) -> int | None:
    """Total parquet row groups across ``files`` (paths or ``file:`` URIs,
    e.g. ``df.inputFiles()``): the most scan tasks that can carry rows,
    however many byte ranges Spark splits the files into. ``None`` when
    there are no files or a footer cannot be read (object store, not
    parquet). Footers are cached per (path, size, mtime)."""
    total = 0
    for f in files:
        url = urlparse(f)
        if url.scheme not in ("", "file"):
            return None
        path = unquote(url.path)
        try:
            st = os.stat(path)
        except OSError:
            return None
        n = _footer_row_groups(path, st.st_size, st.st_mtime_ns)
        if n is None:
            return None
        total += n
    return total or None


@functools.lru_cache(maxsize=4096)
def _footer_row_groups(path: str, size: int, mtime_ns: int) -> int | None:
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata.num_row_groups
    except (OSError, ValueError):  # ArrowInvalid is a ValueError
        return None


def testdata_row_groups(sf_dir: str, table: str) -> int | None:
    """Row groups of one fixture table (a single parquet file)."""
    return parquet_row_groups([f"{sf_dir}/{table}.parquet"])


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for SQL entry (E2)."""
    for t in TESTDATA_TABLES:
        read_testdata(spark, sf_dir, t).createOrReplaceTempView(t)
