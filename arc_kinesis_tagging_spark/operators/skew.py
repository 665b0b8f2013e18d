"""Skew-handling join strategies.

AQE's skew-join splitting (on in session.py) handles most skew at
runtime, but two cases still need explicit treatment at 100 TB:

- ``salted_join``: a large fact table whose join key has a few hot
  values (power-law user_ids, null-ish sentinel keys) joined to a
  medium dimension that is too big to broadcast. Salting fans each hot
  key into ``n_salts`` sub-keys on the fact side and replicates the
  dimension row once per salt — the shuffle then spreads a hot key
  over ``n_salts`` tasks instead of melting one.
- ``bucketed_table``: pre-shuffle co-location. Writing both sides
  bucketed by the join key lets every subsequent join run shuffle-free
  (SortMergeJoin over pre-sorted buckets) — the amortized answer when
  the same key joins run daily over the same 100 TB table.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: logical-plan nodes that cannot introduce an exchange — the shapes
#: where probing ``Dataset.rdd`` is safe under AQE (see below).
_NARROW_NODES = frozenset({"Project", "Filter", "SubqueryAlias", "LogicalRelation"})


def _narrow_over_scan(df: DataFrame) -> bool:
    """True iff the analyzed logical plan is only narrow per-row ops
    (project/filter) over file-source relations. Anything wider —
    aggregates, joins, repartitions, pinned RDDs — returns False.

    Why this gate exists (round-14 advice): under AQE, ``Dataset.rdd``
    finalizes the adaptive plan in a throwaway QueryExecution, which
    MATERIALIZES every upstream exchange — for a shuffled input the
    partition-count probe itself runs real jobs at plan-construction
    time and the un-pinned stages run AGAIN at action time. For a bare
    scan the probe is pure planning (~10 ms, no job), so it is allowed
    only there. Shuffled inputs don't need a spread anyway: their
    partition count is already the shuffle width."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() not in _NARROW_NODES:
                return False
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return True
    except Exception:  # non-classic Dataset / connect: assume unsafe
        return False


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's core count IFF the
    input would otherwise reach a CPU-heavy map stage with fewer
    partitions than cores — the local analog of a scan parallelism
    floor. At production widths both gates below are false and this
    is a no-op; the condition, not a constant, is the knob.

    Two gates, chosen by input shape:

    - bare file-source scans (narrow ops over relations): probe
      ``Dataset.rdd.getNumPartitions()`` — pure planning there (~10 ms,
      no job). ``spark.sql.files.minPartitionNum`` cannot split
      single-row-group parquet, so a heavy kernel behind such a scan
      runs ONE task regardless of core count (measured round 14).
    - derived inputs (joins/aggregates/pins): NEVER probe
      ``Dataset.rdd`` — under AQE that materializes every upstream
      exchange at plan-construction time (round-14 advice). But they
      are not safe to pass through untouched either: AQE's
      parallelism-first coalescing floors partitions at
      ``minPartitionSize`` (1 MB default), so a small post-shuffle
      survivor set feeding a per-gram hashing kernel arrives with 1-4
      partitions and the kernel serializes (measured round 15:
      q_corpus_pipeline13's featurizer, 1.98 s -> ~3.4 s after the
      probe gate alone). Decide from the optimized plan's STATIC size
      estimate instead — no jobs, file-size-proportional, so at
      100 TB the estimate is huge and the gate stays off; estimate
      inflation (e.g. join products) errs toward no-op. The other
      direction misfires: a selective filter or aggregate whose
      output the optimizer underestimates can put a genuinely large
      derived input under the threshold, and it is then round-robin
      repartitioned to ``defaultParallelism`` partitions. That costs
      performance only — one extra shuffle, and possibly fewer,
      larger partitions than the input had — never correctness."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if _narrow_over_scan(df):
        if df.rdd.getNumPartitions() < n:
            return df.repartition(n)
        return df
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # non-classic Dataset / connect: leave unchanged
        return df
    if est < n * (1 << 20):
        return df.repartition(n)
    return df


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting: fact rows get a deterministic salt in
    [0, n_salts); dim rows are replicated across all salts; the join key
    becomes (key, salt), so a hot key's rows spread over n_salts tasks.
    Row-identical to ``fact.join(dim, key, how)`` for inner/left joins.

    The fact-side salt must distribute a single key's rows across
    salts, so it is derived from the whole row (md5 over all columns —
    deterministic, and ~32 bytes of hashing is noise next to the
    shuffle it de-skews). Rows identical in every column hash to the
    same salt, which is harmless: duplicates carry no skew information.
    """
    # Deterministic per-row salt from a stable per-row hash: md5 over
    # the concatenated row (cheap at 32 bytes/row next to a shuffle).
    fact_salted = fact.withColumn(
        "__salt",
        F.pmod(
            F.conv(F.substring(F.md5(F.concat_ws("\x1f", *fact.columns)), 1, 8), 16, 10).cast(
                "long"
            ),
            F.lit(n_salts),
        ).cast("int"),
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    dim_replicated = dim.withColumn("__salt", salts)
    out = fact_salted.join(dim_replicated, [key, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 16,
) -> None:
    """Persist a table bucketed + sorted by the join key: subsequent
    equi-joins between tables bucketed the same way plan with ZERO
    Exchange nodes (verified in tests).

    The default catalog is session-scoped (in-memory), so a warehouse
    directory can survive from a session whose catalog entry died with
    it; ``saveAsTable`` refuses to adopt such an orphaned location.
    Clear it first — overwrite semantics are what the caller asked for
    either way."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table_name):
        # Scheme-aware (the warehouse is hdfs:/s3a: on a cluster;
        # local paths resolve to the local FS unchanged)
        from arc_kinesis_tagging_spark.sources.maintenance import (
            _fs_delete,
            _fs_exists,
        )

        wh = spark.conf.get("spark.sql.warehouse.dir")
        loc = wh.rstrip("/") + "/" + table_name.lower()
        if _fs_exists(spark, loc):
            _fs_delete(spark, loc)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table_name)
    )


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Join two same-bucketed tables; Catalyst recognizes the bucketing
    and elides both shuffles (SortMergeJoin directly over bucket files).

    The merge hint pins the SMJ strategy: at toy scale the planner
    would broadcast instead (which ignores bucketing); at the scale
    bucketing exists for, SMJ is what it would pick anyway.
    """
    return spark.table(left_table).hint("merge").join(spark.table(right_table), key)
