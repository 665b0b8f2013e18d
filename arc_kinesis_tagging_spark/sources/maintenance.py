"""Table maintenance and physical data layout: small-file compaction,
hive-partitioned writes (partition pruning), and z-order clustering
(row-group skipping on multi-column predicates).

At 100 TB the silent killers are (a) millions of small files from
streaming micro-batches — every query pays file-listing and per-file
open cost; (b) full scans that a layout-aware write would have turned
into reads of 1% of the files. Compaction rewrites a directory into
right-sized files (~128-512 MB on a cluster). Partitioned writes let
the planner prune whole directories from equality/range predicates on
the partition column (PartitionFilters in the scan node). Z-ordering
sorts by an interleaved-bit key so parquet row-group min/max stats
become selective on EVERY interleaved dimension at once — a sort by
(a, b) concentrates only `a`; the z-curve concentrates both. With a
real table format (Delta/Iceberg) these are OPTIMIZE / ZORDER BY /
partitionedBy; for plain parquet directories these rewrites are the
equivalent.
"""

from __future__ import annotations

import math
import os
import re
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Filesystem ops through the Hadoop FileSystem API: the compactors'
# temp-swap must work wherever the warehouse lives (file:, hdfs:,
# s3a:, ...), not just on the local OS — os.rename on an hdfs:// URI
# is a FileNotFoundError. Path(uri).getFileSystem resolves the right
# implementation per scheme; a bare local path resolves to the local
# FS, so tests and the local harness pass plain paths unchanged.
# ---------------------------------------------------------------------------


def _hpath(spark: SparkSession, uri: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(uri)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _fs_exists(spark: SparkSession, uri: str) -> bool:
    fs, p = _hpath(spark, uri)
    return bool(fs.exists(p))


def _fs_delete(spark: SparkSession, uri: str) -> None:
    fs, p = _hpath(spark, uri)
    fs.delete(p, True)


def _fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, p = _hpath(spark, src)
    _, q = _hpath(spark, dst)
    if not fs.rename(p, q):
        raise IOError(f"rename failed: {src} -> {dst}")


def recover_interrupted_compaction(spark: SparkSession, loc: str) -> bool:
    """Heal a compaction that crashed between its two renames: the
    data directory is missing and the original sits at
    ``<loc>__compact_trash``. Restores the original (losing only the
    interrupted compaction's work) and returns True. Callers that
    resolve a corpus by existence (the dedup gates'
    ``_ensure_registered``) MUST run this first — otherwise a crashed
    swap reads as 'fresh corpus' and the gate silently forgets its
    entire dedup history."""
    trash = loc.rstrip("/") + "__compact_trash"
    if not _fs_exists(spark, loc) and _fs_exists(spark, trash):
        _fs_rename(spark, trash, loc)
        return True
    return False


def _swap_compacted(spark: SparkSession, loc: str, tmp_loc: str) -> None:
    """The swap half of every compactor: rename the live directory to
    trash, the freshly written temp into place, then drop trash. The
    crash window between the renames is milliseconds (vs the full
    rewrite) and is HEALED, not just documented:
    recover_interrupted_compaction restores the trash copy on the
    next compaction, gate re-attach, or probe setup."""
    trash = loc.rstrip("/") + "__compact_trash"
    _fs_rename(spark, loc, trash)
    _fs_rename(spark, tmp_loc, loc)
    _fs_delete(spark, trash)


def _pre_clean(spark: SparkSession, loc: str) -> None:
    """Before compacting: heal an interrupted swap, then clear
    leftovers — a temp dir from a crash mid-write (original intact),
    or a trash dir from a crash after the swap completed (the live
    dir is the compacted copy; trash is the superseded original).
    Deleting trash is ONLY safe when ``loc`` exists — when it does
    not, trash is the recovery copy, which the recover call above
    has already restored."""
    recover_interrupted_compaction(spark, loc)
    base = loc.rstrip("/")
    for suffix in ("__compact_tmp", "__compact_trash"):
        if _fs_exists(spark, base + suffix):
            _fs_delete(spark, base + suffix)


def table_file_count(path: str, fmt: str = "parquet") -> int:
    """Data-file count under ``path`` for a columnar format — the
    compaction before/after metric. ORC part files may carry no
    extension (Spark names them ``part-...snappy.orc`` normally, but
    the contract is format-agnostic), so fall back to counting Spark
    part files when the extension filter matches nothing. The fallback
    is restricted to ``part-*`` names so calling with the wrong fmt on
    a directory of another format returns 0, not the other format's
    file count (it still never matches: part files of a different
    columnar fmt carry that fmt's extension and are excluded)."""
    ext = "." + fmt
    files = [
        f
        for _root, _dirs, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", "."))
    ]
    with_ext = [f for f in files if f.endswith(ext)]
    if with_ext:
        return len(with_ext)
    known_exts = (".parquet", ".orc", ".avro", ".csv", ".json", ".crc")
    return len(
        [
            f
            for f in files
            if f.startswith("part-") and not f.endswith(known_exts)
        ]
    )


def parquet_file_count(path: str) -> int:
    return table_file_count(path, "parquet")


def compact_table(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    fmt: str = "parquet",
) -> int:
    """Rewrite ``path`` into ceil(rows/target) files; returns new file
    count. Row-preserving (verified in tests); use coalesce-free
    repartition so output files are evenly sized. Same contract for
    every columnar format (``fmt``: parquet | orc).

    Writes to a temp directory and swaps (round 12; previously an
    in-place overwrite behind a localCheckpoint — a crash mid-write
    lost the directory, and checkpoint blocks die with decommissioned
    executors). The source stays intact and readable until the
    completed copy swaps in."""
    _pre_clean(spark, path)
    tmp_loc = path.rstrip("/") + "__compact_tmp"
    df = spark.read.format(fmt).load(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    df.repartition(n_files).write.mode("overwrite").format(fmt).save(
        tmp_loc
    )
    _swap_compacted(spark, path, tmp_loc)
    return n_files


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    return compact_table(spark, path, target_rows_per_file, fmt="parquet")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    fmt: str = "parquet",
) -> None:
    """Hive-style partitioned columnar write: one directory per
    distinct partition value. Reads that filter on the partition
    column prune at PLAN time (PartitionFilters on the scan — zero
    I/O for pruned directories, the difference between scanning
    100 TB and one day's slice). Keep partition cardinality bounded
    (dates, tenants — thousands, not millions: each directory is a
    file-listing unit). Identical contract for parquet and ORC
    (``fmt``) — partition pruning happens in the file index, above
    the format."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(
        fmt
    ).save(path)


def zorder_key(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Interleaved-bit (Morton / z-curve) sort key over non-negative
    integer columns, ``bits`` bits each. Bit i of column j lands at
    output bit ``i * n_cols + j``, so a sort by the key clusters rows
    that are close in EVERY dimension simultaneously — parquet row
    groups then carry tight min/max ranges on each dimension and a
    filter on any of them skips most groups. Pure codegen arithmetic
    (shifts and masks), no UDF. Callers with doubles/strings first
    quantize to integer ranks (percent_rank * (2^bits - 1))."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(cs)
    terms = [
        F.shiftleft(
            F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)), i * n + j
        )
        for i in range(bits)
        for j, c in enumerate(cs)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 16,
    n_files: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Rewrite ``df`` as parquet clustered on the z-curve of ``cols``
    (numeric columns are min-max scaled to ``bits``-bit integers
    first). repartitionByRange on the key gives each output file a
    disjoint z-range; sortWithinPartitions orders row groups inside
    the file — both levels of min/max skipping engage.

    Quantization is linear min-max scaling: one aggregate computes all
    column bounds (fully distributed; a percent_rank window would be a
    single-task global sort — the straggler this repo bans). Heavily
    skewed columns get coarser effective resolution; the equi-depth
    alternative is ``approxQuantile`` boundaries + ``width_bucket``,
    same key construction."""
    scale = (1 << bits) - 1
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    ranked = df
    rank_cols = []
    for c in cols:
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        width = (mx - mn) or 1.0
        rc = f"__zr_{c}"
        ranked = ranked.withColumn(
            rc,
            F.least(
                F.floor((F.col(c).cast("double") - mn) / width * scale),
                F.lit(scale),
            ).cast("long"),
        )
        rank_cols.append(rc)
    keyed = ranked.withColumn("__zkey", zorder_key(rank_cols, bits))
    part = (
        keyed.repartitionByRange(n_files, "__zkey")
        if n_files
        else keyed.repartitionByRange("__zkey")
    )
    part.sortWithinPartitions("__zkey").drop("__zkey", *rank_cols).write.mode(
        "overwrite"
    ).format(fmt).save(path)


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str],
    fmt: str = "parquet",
) -> None:
    """Compact a Hive-partitioned directory WITHOUT flattening its
    layout (``compact_table`` would — and an IVF index compacted flat
    loses the cell_id pruning every probe depends on): hash-
    repartition on the partition columns so each partition value's
    rows land in exactly one task -> one file per directory, then
    rewrite ``partitionBy`` the same columns. The shape for the
    corpora that GROW by streaming appends (append_ivf_index writes
    one file per batch per touched cell; a year of daily batches is
    365 files per cell without this).

    Temp-swap like every compactor here (round 12; the previous
    in-place overwrite was a real loss window once the embedding
    dedup gate started invoking this automatically per cadence: a
    crash mid-overwrite left a half-deleted index whose centroids
    still existed, so the gate would silently admit near-dups of the
    lost rows forever). The source is never touched until the
    completed copy swaps in, and an interrupted swap is healed by
    recover_interrupted_compaction."""
    _pre_clean(spark, path)
    tmp_loc = path.rstrip("/") + "__compact_tmp"
    df = spark.read.format(fmt).load(path)
    df.repartition(*[F.col(c) for c in partition_cols]).write.mode(
        "overwrite"
    ).partitionBy(*partition_cols).format(fmt).save(tmp_loc)
    _swap_compacted(spark, path, tmp_loc)


def compact_ivf_index(spark: SparkSession, path: str) -> None:
    """Compact a persisted IVF index's cell partitions in place
    (operators/similarity.py:build_ivf_index layout: ``/index``
    partitioned by cell_id + a small ``/centroids`` table that never
    fragments)."""
    compact_partitioned(spark, path + "/index", ["cell_id"])


def _describe_table(
    spark: SparkSession, name: str
) -> tuple[str, int | None, list[str]]:
    """(location URI, num buckets, bucket columns) from DESCRIBE
    TABLE EXTENDED — the one place catalog metadata is parsed, shared
    by table_location and the bucketed compactor."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    desc = {r["col_name"]: (r["data_type"] or "") for r in rows}
    loc = desc.get("Location", "")
    if not loc:
        raise ValueError(f"table {name} has no Location in the catalog")
    nb = int(desc["Num Buckets"]) if desc.get("Num Buckets") else None
    # rendered as [`f`, `chunk`]
    cols = re.findall(r"`([^`]+)`", desc.get("Bucket Columns", ""))
    return loc, nb, cols


def table_location(spark: SparkSession, name: str) -> str:
    """Local filesystem path of a catalog table (DESCRIBE EXTENDED's
    Location row, file: scheme stripped — for local-warehouse
    callers like tests; the compactors use the URI form)."""
    return _describe_table(spark, name)[0].removeprefix("file:")


def compact_bucketed_table(
    spark: SparkSession,
    name: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 16,
) -> None:
    """Compact a bucketed catalog table, preserving its bucket spec
    (the dedup gates' corpus band tables append one file set per
    micro-batch): write the compacted copy to a TEMP location through
    the same bucketBy/sortBy, then atomically swap the directories
    under the untouched catalog entry. Zero-Exchange probe joins keep
    working because neither the spec nor the catalog entry changes.

    The temp-swap (vs the previous in-place ``saveAsTable(Overwrite)``)
    is what makes this work on the POST-RESTART path: the gates
    re-attach their corpora as EXTERNAL tables
    (streaming/dedup_gate.py:_ensure_registered), and overwrite-
    saveAsTable on an external table drops it and then refuses the
    managed re-create at the same non-empty location
    (LOCATION_ALREADY_EXISTS) — the only path a long-lived deployment
    has. Swapping files under the entry works identically for managed
    and external tables; an interrupted swap is healed by
    recover_interrupted_compaction (which the gates also run at
    re-attach).

    Bucket count AND bucket columns come from the catalog when
    present — the caller's values are only a fallback: temp files
    whose embedded bucket ids were hashed with the wrong modulus OR
    the wrong columns would silently corrupt every zero-Exchange
    probe join after the swap.

    The pre-write ``repartition(n_buckets, bucket_cols)`` aligns rows
    to their bucket (repartition's hash IS the bucket hash:
    pmod(murmur3, n)) so each task holds exactly one bucket and the
    output is ONE file per bucket — without it a 32-partition input
    writes up to 32 files per bucket and the "compaction" barely
    compacts."""
    loc, cat_nb, cat_cols = _describe_table(spark, name)
    loc = loc.rstrip("/")
    nb = cat_nb or n_buckets
    cols = cat_cols or list(bucket_cols)
    tmp_name = f"{name}__compact_tmp"
    tmp_loc = loc + "__compact_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
    _pre_clean(spark, loc)
    spark.catalog.refreshTable(name)  # in case _pre_clean healed a swap
    # read by PATH, not spark.table(name): on a catalog read the
    # optimizer removes the repartition below as already-satisfied by
    # the table's bucket metadata, then the planner independently
    # decides a bucketed scan isn't beneficial and plans a plain
    # multi-partition scan — the write then emits one file per
    # (task, bucket) pair instead of one per bucket (observed: 75
    # files for a 16-bucket compaction). The path read is a plain
    # scan, so the repartition survives and aligns task==bucket.
    df = spark.read.parquet(loc).repartition(
        nb, *[F.col(c) for c in cols]
    )
    (
        # option("path", ...) makes the temp table EXTERNAL, so the
        # DROP below releases the catalog name but keeps the files
        # for the swap; the original table stays readable (and its
        # files untouched) for the whole rewrite — no checkpoint
        # needed, lineage reads the about-to-be-replaced files only
        # while they still exist
        df.write.mode("overwrite")
        .option("path", tmp_loc)
        .bucketBy(nb, *cols)
        .sortBy(*cols)
        .format("parquet")
        .saveAsTable(tmp_name)
    )
    spark.sql(f"DROP TABLE {tmp_name}")
    _swap_compacted(spark, loc, tmp_loc)
    spark.catalog.refreshTable(name)


# ---------------------------------------------------------------------------
# Executor-pinned block release (round-15 §5 audit)
# ---------------------------------------------------------------------------


def release_pinned_blocks(spark: SparkSession) -> int:
    """Free the blocks of every locally checkpointed RDD in the
    session — the explicit release point for the ``localCheckpoint``
    pins the query builders create (shared-subtree pins in the
    dedup/LM/pipeline family). User caches (``DataFrame.cache()``,
    ``rdd.persist()``) are not pins and stay registered.

    Why this exists: ``localCheckpoint`` persists an RDD's blocks on
    the executors that computed them and TRUNCATES lineage to those
    blocks. ``spark.catalog.clearCache()`` does not touch them (it
    clears the SQL cache manager, not the RDD block registry); absent
    this call they are reclaimed only when the ContextCleaner notices
    the Python/JVM references have been garbage-collected, which on a
    long-lived driver (a daily curation loop, a notebook) can be
    arbitrarily late — storage pressure that evicts nothing and, on a
    real cluster, blocks that die with their executor and CANNOT be
    recomputed (lineage is gone).

    Contract: call ONLY after every output derived from the pinned
    plans has been fully materialized (written/collected). The release
    is session-wide for pins: it also frees the pins of unrelated
    DataFrames that are still live, and a pinned DataFrame re-executed
    after release fails rather than silently recomputing — lineage
    truncation is one-way. Driver scripts
    (tools/curation_e2e.py refresh) call this between pipeline runs;
    the bench does NOT (its per-rep pins die with each rep's plan and
    must stay inside the timed region).

    Returns the number of RDDs whose blocks were released.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    # py4j maps java.util.Map to a dict-like view; iterate its values
    # (each a JavaRDD) directly. Eager and lazy localCheckpoint RDDs
    # both report isLocallyCheckpointed; cache()/persist() RDDs do not.
    for jrdd in list(jmap.values()):
        if jrdd.rdd().isLocallyCheckpointed():
            jrdd.unpersist()
            n += 1
    return n
