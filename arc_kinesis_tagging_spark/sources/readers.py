"""Schema-explicit file readers beyond parquet.

The engine's sources: parquet (columnar, the scale default), JSON lines
(the reference's wire format, schema declared — never inferred in
production: inference is a full extra pass over 100 TB), CSV, and the
record-stream sources in streaming/source.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_json(spark: SparkSession, path: str, schema: str, multiline: bool = False) -> DataFrame:
    """JSON-lines reader with declared schema + corrupt-record capture
    (PERMISSIVE, same dead-letter discipline as the stream pipeline)."""
    return (
        spark.read.schema(schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", multiline)
        .json(path)
    )


def read_csv(spark: SparkSession, path: str, schema: str, header: bool = True) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet sink — the layout that buys partition pruning
    on read (WHERE on a partition column skips whole directories)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def upsert_by_key_parquet(
    spark: SparkSession, df: DataFrame, path: str, key_col: str, version_col: str
) -> None:
    """Batch keyed upsert into parquet: union existing + new, keep the
    max-version row per key, rewrite.

    This is the batch analog of the reference's PUT-full-document sink
    (utility/tag.py:19-29) with last-writer-wins semantics
    (README.md:250 documents the read-modify-write race; versioning
    makes it explicit). Production uses a table format with MERGE
    (Delta/Iceberg) so the rewrite touches only affected files; plain
    parquet rewrites the table, which is fine for dimension-sized data
    only.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.sources.maintenance import _fs_exists

    if _fs_exists(spark, path):
        merged = spark.read.parquet(path).unionByName(df, allowMissingColumns=True)
    else:
        merged = df
    w = Window.partitionBy(key_col).orderBy(F.col(version_col).desc())
    winner = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # Materialize before overwrite (can't stream from the file being
    # replaced). Must be localCheckpoint, NOT cache(): cache is not a
    # plan barrier — a partition evicted under memory pressure (or lost
    # with an executor) recomputes from the source files mid-overwrite,
    # corrupting the store. localCheckpoint truncates the lineage so
    # recomputation from the overwritten path is impossible.
    winner.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)


def read_parquet_evolving(
    spark: SparkSession, path: str, expected_schema: str | None = None
) -> DataFrame:
    """Read a parquet directory whose files were written under EVOLVING
    schemas (daily drops gain columns over time) as one DataFrame:
    ``mergeSchema=true`` unions the per-file footers, and files missing
    a column read it as null — the standard additive-evolution contract.

    Cost note for 100 TB: schema merging reads EVERY file footer at
    planning time (a namenode/listing-bound distributed job, not data
    I/O). Production tables should pin the merged schema once it
    stabilizes — pass ``expected_schema`` and this reads WITHOUT the
    footer sweep while keeping the same null-fill semantics, because
    parquet vectorized readers fill absent columns from the requested
    read schema. Column renames/type changes are NOT additive evolution
    and belong in a table format (Delta/Iceberg) with real schema
    tracking.
    """
    if expected_schema is not None:
        return spark.read.schema(expected_schema).parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_orc(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = (),
    compression: str = "zlib",
) -> None:
    """ORC sink — the second columnar format warehouses actually run
    (Hive/Trino-native; built into Spark, no external package). Same
    contract as the parquet writers: explicit compression, optional
    hive-style partitioning. ORC carries built-in min/max/bloom
    indexes per stripe, so pushed predicates skip stripes exactly as
    parquet row-group stats do."""
    w = df.write.mode("overwrite").option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(
    spark: SparkSession, path: str, expected_schema: str | None = None
) -> DataFrame:
    """ORC reader with the same additive-evolution contract as
    ``read_parquet_evolving``: pass ``expected_schema`` to pin the
    read schema (absent columns null-fill, no footer sweep); without
    it, ``mergeSchema`` unions per-file schemas. Predicate pushdown
    and column pruning reach the ORC scan the same way they reach
    parquet (plan-gated in tests/test_plan_shapes.py)."""
    if expected_schema is not None:
        return spark.read.schema(expected_schema).orc(path)
    return spark.read.option("mergeSchema", "true").orc(path)
