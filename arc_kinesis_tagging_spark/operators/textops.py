"""DataFrame-level text-analysis operators over a documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.functions.text import (
    fingerprint_expr,
    language_id_expr,
    quality_score_expr,
    token_count_exprs,
    tokens,
)


def term_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide term frequencies: explode tokens -> count.

    Partial aggregation happens map-side (HashAggregate pair), so the
    shuffle carries one row per (partition, token), not per token
    occurrence — the difference between shuffling ~vocabulary-size and
    ~corpus-size at 100 TB.
    """
    # No spread here (round-15): tokenize+explode is LIGHT per-row work
    # — the round-14 spread's extra Exchange cost more than single-task
    # tokenization saved (driver bench 0.39 s -> 0.53 s, 0.73x). The
    # spread stays only on the heavy hash-kernel paths (dedup/clf).
    return (
        df.select(text_col)
        .select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach token counts, quality metrics, language guess, and a
    stable fingerprint — one codegen'd projection, no shuffle."""
    out = df
    for name, expr in token_count_exprs(F.col(text_col)).items():
        out = out.withColumn(name, expr)
    for name, expr in quality_score_expr(F.col(text_col)).items():
        out = out.withColumn(name, expr)
    return out.withColumn("lang_guess", language_id_expr(F.col(text_col))).withColumn(
        "fingerprint", fingerprint_expr(F.col(text_col))
    )


def dedup_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
) -> DataFrame:
    """Cross-document segment-level exact dedup (the C4/RefinedWeb
    "line dedup" pass, with fixed ``seg_tokens``-token segments standing
    in for newline-delimited lines on single-line corpora): a segment
    occurring in several documents is kept only in the lowest-id one,
    and each document's surviving segments are reassembled in order.

    Plan shape at 100 TB: segmentation is a map-side ``transform`` over
    ``sequence`` (no explode until the per-segment rows are needed);
    the only shuffles are the segment-key aggregate (partial map-side
    combine, carrying ~distinct-segment rows), the join back, and the
    per-document reassembly — all keyed, none quadratic. Reassembly
    order is made engine-stable by sorting the collected
    (seg_idx, seg) structs, never by relying on collect order.
    """
    tk = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), tk.alias("tk")
    ).withColumn("n_segs", F.ceil(F.size("tk") / F.lit(seg_tokens)).cast("long"))
    seg_arr = F.when(
        F.col("n_segs") > 0,
        F.transform(
            F.sequence(F.lit(0), (F.col("n_segs") - 1).cast("int")),
            lambda i: F.array_join(
                F.slice(F.col("tk"), i * seg_tokens + 1, seg_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    segs = base.select(
        id_col, F.posexplode(seg_arr).alias("seg_idx", "seg")
    )
    firsts = segs.groupBy("seg").agg(F.min(id_col).alias("first_doc"))
    kept = segs.join(firsts, "seg").filter(F.col(id_col) == F.col("first_doc"))
    reassembled = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select(id_col, "n_segs")
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            "n_segs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    phi: float = 0.02,
) -> DataFrame:
    """Exact heavy hitters (tokens with frequency > phi * total) via the
    classic two-pass distributed pattern: Misra-Gries candidate
    generation per partition, then exact verification of the bounded
    candidate set.

    Pass 1 runs a k-counter Misra-Gries summary (k = ceil(1/phi)) over
    each partition's token stream inside one Arrow-batched
    ``mapInPandas`` — O(k) memory per task, no shuffle of token
    occurrences. Pigeonhole guarantees the union of per-partition
    candidates is a superset of every global heavy hitter (a token
    above phi*n globally must be above phi*n_p in some partition), so
    pass 2 — an exact count restricted to candidates by a broadcast
    left-semi join — never misses. The full token aggregate is never
    materialized; the shuffle carries only candidate tokens.

    Builder laziness / fault-tolerance note: the Misra-Gries partials
    are pinned with ``localCheckpoint(eager=False)`` so BUILDING the
    plan runs no Spark job (lineage is truncated at the first action,
    when both consumers of the partials exist); checkpoint blocks are
    non-replicated, so an executor lost after materialization
    recomputes the partials from source instead of reading a replica —
    the standard local-checkpoint trade-off, accepted here because the
    partials are k rows per partition and cheap to rebuild.
    """
    import math

    import pandas as pd

    k = max(1, math.ceil(1.0 / phi))
    # NOT spread (round-14 decision): the MG partials are pinned with
    # a lazy localCheckpoint, and a repartition below that pin would
    # make plan CONSTRUCTION materialize the shuffle's map stage under
    # AQE (Dataset.rdd finalizes the adaptive plan) — breaking the
    # round-7 builder-laziness contract pinned in
    # test_heavy_hitters_builder_is_lazy. On a one-split fixture scan
    # the MG pass therefore runs single-task; at production scan
    # widths it is per-partition-parallel as designed.
    toks = df.select(
        F.explode(tokens(F.col(text_col))).alias("token")
    )

    def mg(batches):
        counters: dict[str, int] = {}
        n_seen = 0
        for pdf in batches:
            for tok in pdf["token"]:
                n_seen += 1
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:  # decrement-all step, dropping zeroed counters
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        # one marker row per partition carries its token count, so the
        # grand total falls out of THIS pass — the corpus is scanned
        # exactly twice (candidates + verification), the 2-pass minimum
        yield pd.DataFrame(
            {"token": list(counters.keys()) + [None],
             "part_total": [0] * len(counters) + [n_seen]}
        )

    # localCheckpoint instead of persist(): this is a builder (we
    # return before any action, so there is no safe unpersist point) and
    # the ContextCleaner reclaims checkpointed blocks once the returned
    # plan is garbage-collected — persist() here would leak cache for
    # the session lifetime on every call. eager=False keeps the builder
    # lazy (no job until the caller acts); see docstring for the
    # non-replicated-block trade-off.
    partials = toks.mapInPandas(
        mg, "token string, part_total long"
    ).localCheckpoint(eager=False)
    candidates = partials.filter(F.col("token").isNotNull()).select("token").distinct()
    # total as a broadcast 1-row aggregate over the TINY partials table
    # (k rows per partition), not a third corpus scan
    total = partials.agg(F.sum("part_total").alias("__total"))
    exact = (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") > phi * F.col("__total"))
    )
    return exact.select(
        "token",
        "freq",
        F.round(F.col("freq") / F.col("__total").cast("double"), 6).alias("frac"),
    ).orderBy(F.col("freq").desc(), F.col("token"))


def prefix_subsumed_marks(
    texts: DataFrame, col: str = "frag", num_partitions: int = 32
) -> DataFrame:
    """Mark each DISTINCT text that is a STRICT prefix of another text
    (crawl-truncation subsumption) with the sort-adjacency reduction:
    over texts ordered lexicographically, A is a prefix of some B iff
    A is a prefix of its IMMEDIATE successor, so one lead() decides.

    Scale shape (round-6 verdict fix): partitioning the adjacency
    window by FIRST CHARACTER puts most of a Zipfian corpus ("the…")
    in one partition. Here the distinct texts are RANGE-partitioned on
    the full text (sampling-based boundaries split even a shared first
    character across partitions), adjacency is a per-partition lead(),
    and the boundary rows are exchanged through a num_partitions-row
    side table: partition p's LAST row takes as successor the minimum
    first-row among partitions > p. The partition ids are pinned with
    an eager localCheckpoint so the window branch and the boundary
    branch see the same range split. Global sorted adjacency is
    recovered exactly; per-partition work is balanced by row count
    regardless of first-character skew.

    Returns (col, subsumed). Input need not be distinct; output is
    one row per distinct text.
    """
    from pyspark.sql import Window

    t = (
        texts.select(col)
        .distinct()
        .repartitionByRange(num_partitions, F.col(col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("__pid").orderBy(col)
    marked = t.withColumn("__nxt_local", F.lead(col).over(w))
    # boundary side table: one row per NON-EMPTY partition; the global
    # window below runs over <= num_partitions rows by construction
    firsts = t.groupBy("__pid").agg(F.min(col).alias("__first"))
    wnext = Window.orderBy(F.col("__pid").asc()).rowsBetween(
        1, Window.unboundedFollowing
    )
    boundaries = firsts.select(
        "__pid", F.min("__first").over(wnext).alias("__next_first")
    )
    nxt = F.coalesce(F.col("__nxt_local"), F.col("__next_first"))
    return (
        marked.join(F.broadcast(boundaries), "__pid", "left")
        .select(
            col,
            (
                nxt.isNotNull()
                & (F.length(col) > 0)
                & (nxt != F.col(col))
                & (F.expr(f"substring(coalesce(__nxt_local, __next_first), 1, length({col}))") == F.col(col))
            ).alias("subsumed"),
        )
    )
