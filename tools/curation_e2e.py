"""End-to-end production curation recipe (round-12 verdict task 7) —
the pieces DEPLOY.md describes, wired once as a driver script:

  Kinesis (the real ``kinesis_aws`` binding, or the ``kinesis_emu``
  stream for a local dry run)
    -> fused gated ingest (gunzip -> JSON -> publish filter ->
       projection -> robots + pruned-LM + DSIR admission, ONE
       mapInPandas — streaming/pipeline.fused_gated_story_pipeline)
    -> stacked streaming dedup gates, outermost first:
       exact digest -> SimHash near-dup -> MinHash near-dup
       (a gate IS a valid accepted_sink — tests/test_stacked_gates.py),
       every corpus self-compacting (compact_every="auto")
    -> curated corpus parquet (append per micro-batch; the gates'
       replay markers make the stack idempotent — a crash between the
       final append and the outermost marker is at-least-once into
       the corpus file set, deduplicated by the periodic refresh)
    -> PERIODIC batch composite over the accumulated corpus — the
       q_corpus_pipeline10 stages (langid -> exact dedup ->
       prefix-filtered Jaccard near-dup -> benchmark decontamination
       -> per-source report), run on a schedule (daily/weekly), not
       per batch.

Usage (local dry run against an emulator fixture):
  python tools/curation_e2e.py ingest --stream-dir DIR --out DIR \
      --checkpoint CKPT [--work PREFIX]
  python tools/curation_e2e.py refresh --out DIR --report DIR \
      [--benchmark PARQUET]

Production swaps the reader: ``spark.readStream.format("kinesis_aws")``
with streaming/kinesis_aws.py's options (stream name, region, STS
role) — same (data, shard_id, seq) record schema, nothing else
changes. Run tools/aws_smoke.py FIRST (DEPLOY.md round-12 notes).

Every stage is individually pinned elsewhere (gate tests, pipeline
parity tests, pipeline10's DuckDB oracle); tests/test_curation_e2e.py
drives THIS wiring end-to-end at small scale.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

# The four fluent training headlines the gated bench freezes its
# models on (bench.py): production trains offline on a real corpus
# sample and freezes — the models are ingest-time constants, never
# retrained inside the stream.
_TRAIN_HEADLINES = [
    "the quick brown fox jumps over the lazy dog",
    "markets rally as quarterly earnings beat expectations",
    "city council approves new transit funding plan today",
]


def default_models(spark: SparkSession):
    """(robots_rules, lm_model, dsir_model) frozen from a bounded
    literal corpus — swap for offline-trained production models."""
    from arc_kinesis_tagging_spark.streaming.pipeline import (
        train_dsir_model,
        train_pruned_lm,
    )

    train = spark.createDataFrame(
        [(h,) for h in _TRAIN_HEADLINES * 2], "text string"
    )
    lm = train_pruned_lm(train, "text")
    dsir = train_dsir_model(
        train,
        F.col("text").contains("fox") | F.col("text").contains("markets"),
    )
    robots_rules = [("doc", "/", True), ("spam", "/", False)]
    return robots_rules, lm, dsir


def curated_sink(out_dir: str):
    """Final accepted_sink: append the curated document projection.
    Replay semantics: the outermost gate's marker skips whole replayed
    epochs, so this appends once per batch except in the
    crash-between-append-and-marker window (at-least-once; the
    periodic refresh's exact-dedup stage collapses any such dup)."""

    def sink(df: DataFrame, batch_id: int) -> None:
        (
            df.select(
                F.col("_id").alias("doc_id"),
                F.col("headline").alias("text"),
                F.col("host").alias("source"),
                "shard_origination",
                F.col("seq").cast("string").alias("seq"),
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    return sink


def make_curation_stack(
    spark: SparkSession,
    work_prefix: str,
    markers_root: str,
    out_dir: str,
    *,
    benchmark=None,
    lm_threshold: float = 4.0,
    dsir_threshold: float = -10.0,
    compact_every: int | str = "auto",
    clf_model: dict | None = None,
    clf_admit=None,
    clip_substrings: bool = False,
    clip_window_tokens: int = 16,
):
    """The foreachBatch function: fused gated ingest feeding the
    exact -> SimHash -> MinHash gate stack (plus, when ``benchmark``
    is given, an ingest-time DECONTAMINATION gate innermost — then
    contamination never enters the corpus and the periodic refresh
    only has to catch benchmark UPDATES), survivors appended to
    ``out_dir``. When ``clf_model`` is given (a trained
    operators/quality_clf.py model dict — load a persisted artifact
    with model_from_weights_table), a SUPERVISED classifier gate
    runs OUTERMOST, before any dedup corpus is touched: label-gated
    rejects (predicted label not in ``clf_admit``) never cost a
    corpus probe or append — the wiki-vs-CommonCrawl filter
    position. Gate corpora live in the session catalog under
    ``work_prefix``; replay markers under ``markers_root`` (same
    durable store as the checkpoint in production). With
    ``clip_substrings`` a substring-clip gate runs INNERMOST — after
    every drop gate, so only fully-admitted docs pay the window
    probe, and duplicated >= clip_window_tokens-token spans are
    clipped out of the curated corpus itself (DEPLOY.md round-14
    notes: run the rewrite gate after the drop gates)."""
    from arc_kinesis_tagging_spark.streaming.dedup_gate import (
        make_classifier_gate,
        make_decontamination_gate,
        make_minhash_dedup_gate,
        make_simhash_dedup_gate,
        make_substring_clip_gate,
        make_text_dedup_gate,
    )
    from arc_kinesis_tagging_spark.streaming.pipeline import (
        fused_gated_story_pipeline,
    )

    robots_rules, lm, dsir = default_models(spark)
    mk = markers_root.rstrip("/")
    # innermost sink first; each gate wraps the next (stacked-gates
    # composition: each corpus grows by exactly its own survivors)
    innermost = curated_sink(out_dir)
    if clip_substrings:
        innermost = make_substring_clip_gate(
            spark, f"{work_prefix}_sc", f"{mk}/sc", innermost,
            id_col="_id", text_col="headline",
            window_tokens=clip_window_tokens,
            compact_every=compact_every,
        )
    if benchmark is not None:
        innermost = make_decontamination_gate(
            spark, benchmark, f"{work_prefix}_dc", f"{mk}/dc",
            innermost, id_col="_id", text_col="headline",
        )
    mh = make_minhash_dedup_gate(
        spark, f"{work_prefix}_mh", f"{mk}/mh", innermost,
        id_col="_id", text_col="headline", compact_every=compact_every,
    )
    sh = make_simhash_dedup_gate(
        spark, f"{work_prefix}_sh", f"{mk}/sh", mh,
        id_col="_id", text_col="headline", compact_every=compact_every,
    )
    ex = make_text_dedup_gate(
        spark, f"{work_prefix}_ex", f"{mk}/ex", sh,
        id_col="_id", text_col="headline", compact_every=compact_every,
    )
    entry = ex
    if clf_model is not None:
        entry = make_classifier_gate(
            spark, clf_model, f"{mk}/clf", ex,
            admit_labels=clf_admit or [], id_col="_id",
            text_col="headline",
        )

    def ingest(records_df: DataFrame, batch_id: int) -> None:
        docs = fused_gated_story_pipeline(
            records_df,
            robots_rules,
            lm,
            dsir,
            lm_threshold=lm_threshold,
            dsir_threshold=dsir_threshold,
            admit=True,
        )
        entry(docs, batch_id)

    return ingest


def run_ingest(
    spark: SparkSession,
    records,
    ingest,
    checkpoint: str,
    available_now: bool = True,
):
    """Drive the stack over a streaming records DataFrame. Production
    drops ``available_now`` for a continuous trigger."""
    writer = records.writeStream.foreachBatch(ingest).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination(600)
    return q


def batch_refresh(
    spark: SparkSession,
    curated_dir: str,
    benchmark: DataFrame | None,
    report_dir: str | None = None,
) -> DataFrame:
    """The periodic (daily/weekly) batch composite over the
    accumulated curated corpus — q_corpus_pipeline10's stages
    (plans/llmops.py:q_corpus_pipeline10) applied to the stream's
    output table: langid gate -> exact dedup (keep smallest doc_id
    per text; also collapses the gates' at-least-once window) ->
    prefix-filtered exact Jaccard near-dup (threshold 0.6, 3-gram) ->
    benchmark decontamination (drop any survivor sharing >= 3
    distinct 3-grams with an eval doc) -> per-source curation report.
    No broadcast hints anywhere: drop sets and benchmark shingles are
    corpus-fraction-sized in the worst case, AQE decides at runtime.

    With ``report_dir`` the report is written there, the plan's pinned
    blocks are released, and the returned DataFrame reads the written
    parquet back."""
    from arc_kinesis_tagging_spark.functions.text import language_id_expr
    from arc_kinesis_tagging_spark.operators.dedup import (
        contamination_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = spark.read.parquet(curated_dir)
    en = docs.filter(language_id_expr(F.col("text")) == "en")
    s1 = en.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    nd_drop = (
        ngram_jaccard_pairs_prefix(
            s1, "text", "doc_id", threshold=0.6, shingle_n=3
        )
        .select(F.col("key_b").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(nd_drop, "doc_id", "left_anti")
    final = s2
    if benchmark is not None:
        c_drop = (
            contamination_pairs(
                s2, benchmark, "text", "doc_id", shingle_n=3, min_shared=3
            )
            .select(F.col("doc_key").alias("doc_id"))
            .distinct()
        )
        final = s2.join(c_drop, "doc_id", "left_anti")
    report = (
        final.join(
            docs.select("doc_id", "source").dropDuplicates(["doc_id"]),
            "doc_id",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars_total"),
        )
    )
    if report_dir:
        report.write.mode("overwrite").parquet(report_dir)
        # Safe release point (round-15 §5 audit): the report is fully
        # materialized, so the localCheckpoint pins the dedup kernels
        # created inside this plan (jaccard-prefix survivor/verify
        # tables, contamination shingle sets) have no remaining
        # consumer. On a long-lived driver those executor blocks
        # otherwise linger until ContextCleaner GC.
        from arc_kinesis_tagging_spark.sources.maintenance import (
            release_pinned_blocks,
        )

        release_pinned_blocks(spark)
        # ``report`` reads the released pins and can no longer run:
        # hand back the written table instead.
        return spark.read.parquet(report_dir)
    return report


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    ing = sub.add_parser("ingest")
    ing.add_argument("--stream-dir", help="kinesis_emu fixture dir")
    ing.add_argument("--aws-stream", help="real Kinesis stream name")
    ing.add_argument("--region", default="us-east-1")
    ing.add_argument("--out", required=True)
    ing.add_argument("--checkpoint", required=True)
    ing.add_argument("--work", default="akt_curation")
    ing.add_argument(
        "--clf-weights",
        help="(b, label, w) parquet from weights_table — enables the "
        "outermost supervised classifier gate",
    )
    ing.add_argument(
        "--clf-admit",
        help="comma-separated labels to admit (with --clf-weights)",
    )
    ing.add_argument(
        "--clip-substrings", action="store_true",
        help="innermost substring-clip gate: duplicated token spans "
        "are clipped out of admitted docs before the corpus append",
    )
    ing.add_argument("--clip-window-tokens", type=int, default=16)
    ref = sub.add_parser("refresh")
    ref.add_argument("--out", required=True, help="curated corpus dir")
    ref.add_argument("--report", required=True)
    ref.add_argument("--benchmark", help="parquet with (doc_id, text)")
    args = ap.parse_args()

    from arc_kinesis_tagging_spark.session import get_session

    spark = get_session("curation_e2e")
    if args.cmd == "refresh":
        bench = (
            spark.read.parquet(args.benchmark) if args.benchmark else None
        )
        batch_refresh(spark, args.out, bench, args.report).show(
            50, truncate=False
        )
        spark.stop()
        return

    if args.aws_stream:
        from arc_kinesis_tagging_spark.streaming.kinesis_aws import (
            KinesisAwsDataSource,
        )

        spark.dataSource.register(KinesisAwsDataSource)
        records = (
            spark.readStream.format("kinesis_aws")
            .option("streamName", args.aws_stream)
            .option("region", args.region)
            .load()
        )
    else:
        from arc_kinesis_tagging_spark.streaming.kinesis_source import (
            KinesisEmuDataSource,
        )

        spark.dataSource.register(KinesisEmuDataSource)
        records = (
            spark.readStream.format("kinesis_emu")
            .option("streamDir", args.stream_dir)
            .load()
        )
    clf_model = None
    if args.clf_weights:
        from arc_kinesis_tagging_spark.operators.quality_clf import (
            model_from_weights_table,
        )

        clf_model = model_from_weights_table(
            spark.read.parquet(args.clf_weights)
        )
    ingest = make_curation_stack(
        spark, args.work, args.checkpoint + "/markers", args.out,
        clf_model=clf_model,
        clf_admit=(args.clf_admit or "").split(",") if args.clf_admit
        else None,
        clip_substrings=args.clip_substrings,
        clip_window_tokens=args.clip_window_tokens,
    )
    run_ingest(spark, records, ingest, args.checkpoint)
    spark.stop()


if __name__ == "__main__":
    main()
