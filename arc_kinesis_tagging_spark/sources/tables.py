"""Batch table catalog over the driver's parquet test data.

Reads are plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown / column pruning / partition pruning — the reference, by
contrast, decompresses and parses every full record before filtering
(reference app.py:33-56); here filters reach the scan.
"""

from __future__ import annotations

import glob
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs the catalog depends on, set defensively so queries
    behave identically under ANY caller-provided session (the driver
    harness builds its own SparkSession, not ours):

    - nanosAsLong: events.parquet is TIMESTAMP(NANOS), unreadable by
      Spark otherwise;
    - UTC session timezone: epoch arithmetic and collected timestamps
      must agree with DuckDB's naive-UTC reading regardless of the
      host JVM's default zone.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # static-conf session (rare); session.py already set them


# Session confs that change what parquet schema inference returns:
# part of the schema memo's key, so a session that flips one re-infers.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def table_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of a testdata table: md5 over the sorted
    (path, size, mtime_ns) of its parquet file(s). Cheap (stat only, no
    reads) and changes whenever the data is regenerated — the cache key
    ingredient that invalidates persisted derived artifacts (IVF
    indexes) and memoized schemas when their source changes."""
    p = os.path.join(os.path.abspath(sf_dir.rstrip("/")), table + ".parquet")
    files = (
        sorted(glob.glob(os.path.join(p, "**", "*"), recursive=True))
        if os.path.isdir(p)
        else [p]
    )
    h = hashlib.md5()
    for f in files:
        try:
            st = os.stat(f)
        except OSError:
            continue
        h.update(f.encode())
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:10]


def _schema_memo(spark: SparkSession) -> dict:
    """Per-SparkSession memo of inferred table schemas. Stored ON the
    session object, like ``plans/llmops.py:_session_memo``: a recycled
    ``id()`` could hand a fresh session another session's entry, and a
    module-level dict would keep sessions alive."""
    memo = getattr(spark, "_akt_parquet_schemas", None)
    if memo is None:
        memo = {}
        spark._akt_parquet_schemas = memo
    return memo


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """The table as a DataFrame. Parquet schema inference is one Spark
    job per read (100-170 ms at sf0.1, against 15-28 ms for a read with
    a given schema), so the inferred schema is memoized per session,
    keyed by the table's path, its content fingerprint and the
    inference confs in effect: a regenerated table or a changed conf
    infers again."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (
        os.path.abspath(path),
        table_fingerprint(sf_dir, name),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    memo = _schema_memo(spark)
    schema = memo.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        memo[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    # events.ts is parquet TIMESTAMP(NANOS): Spark reads it as a long
    # (spark.sql.legacy.parquet.nanosAsLong); truncate to microseconds
    # (matching DuckDB's CAST(ts AS TIMESTAMP) semantics) and restore a
    # proper TimestampType column.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}
