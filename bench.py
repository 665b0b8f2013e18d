"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with the suite's wall-clock seconds.

Each query is forced to full execution with a noop-format write
(df.write.format("noop")) so timing covers scan -> shuffle -> sink
without driver collection overhead. One warm-up run of a tiny query
amortizes JVM/session startup out of the per-query numbers.

The full record (per-entry wall seconds under ``queries``, the busy
CPU seconds of the same rep under ``cpu``) goes to the untracked
BENCH_full_latest.json. ``--compare FILE`` also prints per-entry wall
and cpu ratios against FILE's record and exits 1 on any entry more
than 1.5x and 0.25 s slower; tools/qtime.py's paired A/B against the
parent commit then decides whether a flag is real.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from arc_kinesis_tagging_spark.plans.registry import QUERIES
from arc_kinesis_tagging_spark.session import get_session

# Headline set: one representative per operator family, weighted
# toward the shuffle-heavy ops that dominate at 100 TB.
HEADLINE = [
    "q_agg_group",        # TPC-H Q1-style scan+agg
    "q_tpch_q3ish",       # composite: broadcast dim + SMJ + agg + top-k
    "q_tpch_q5ish",       # composite: 5-way join + agg
    "q_join_smj",         # large-large sort-merge join
    "q_join_broadcast",   # star-schema broadcast enrichment
    "q_join_asof",        # union+window as-of join
    "q_window_frame",     # running-total window
    "q_topk",             # TakeOrderedAndProject
    "q_window_session",   # session windows
    "q_dedup_exact",      # hash dedup
    "q_dedup_minhash",    # MinHash-LSH near-dup
    "q_dedup_cluster",    # full dedup pipeline: MinHash -> CC -> keep-best
    "q_dedup_embedding",  # exact cosine-threshold join (IVF cell pruning)
    "q_similarity_topk",  # brute-force cosine top-k
    "q_text_termfreq",    # token explode + agg
    "q_text_quality",     # expression-heavy projection
    "q_seq_pack",         # running-offset sequence packing
    "q_contamination",    # broadcast inverted-index overlap join
    "q_pipeline_tag_enrich",  # the flagship reference pipeline
    "q_agg_salted",       # two-phase salted (skew-safe) aggregation
    "q_shuffle_shard",    # deterministic shuffle-shard window
    "q_sketch_hll",       # mergeable HLL cardinality sketches
    "q_corpus_pipeline",  # end-to-end refresh: gate -> dedup -> split -> stats
    "q_tpch_q6ish",       # pushdown-dominated scan aggregate
    "q_tpch_q21ish",      # multi-exists as one per-order aggregate
    # round-4 additions
    "q_text_repetition",  # explode + two-level agg repetition gate
    "q_multimodal_png",   # stdlib PNG decode through mapInPandas
    "q_corpus_pipeline2", # gate -> dedup -> mixing -> ranked take
    "q_events_funnel_k",  # 5-stage chained conditional-min funnel
    # round-5 additions
    "q_dedup_lines",      # cross-document segment dedup + reassembly
    "q_heavy_hitters",    # Misra-Gries candidates + exact verify
    "q_multimodal_jpeg",  # stdlib baseline JPEG decode
    "q_session_stats",    # one-shuffle gap sessionization
    "q_cohort_retention", # two-shuffle cohort matrix
    "q_bpe_subwords",     # codegen replace-chain BPE application
    # round-6 additions
    # build-once/query-many persisted-IVF probe: the first rep pays the
    # one-time index build (session-memoized, written to /tmp), every
    # later rep probes only — min-of-reps therefore times the PROBE,
    # the number that matters for the amortized production shape
    "q_ann_persisted",
    "q_dedup_substring",  # rolling-window hash agg + span merge
    "q_ngram_lm_score",   # token-bigram LM train + score
    # round-7 additions
    "q_ngram_lm_pruned",  # tail-pruned bounded-model LM gate
    "q_lm_buckets",       # CCNet-style histogram-tertile bucketing
    "q_embed_pq",         # product-quantization GEMM assignment
    "q_multimodal_png_adam7",  # interlaced per-pass unfilter + scatter
    "q_similarity_ivfpq", # IVF-PQ residual-quantized ADC search
    "q_text_bm25",        # BM25 bounded-rank retrieval
    # round-7 late additions
    "q_text_winnowing",   # MOSS winnowing fingerprints (nested HOF)
    "q_similarity_opq",   # OPQ rotate+assign map-only pass
    "q_multimodal_gif",   # GIF89a LZW decode + de-interlace
    "q_dsir_score",       # DSIR hashed-ngram importance scoring
    "q_ann_retrain",      # IVF-drift detection + per-cell PQ retrain
    "q_unigram_encode",   # unigram-LM train + Viterbi encode
    # round-8 additions
    # full composed lifecycle; the first rep pays the one-time
    # persisted build+append (fingerprinted path), later reps serve —
    # min-of-reps times the SERVE path, the amortized production shape
    "q_ann_lifecycle",
    # round-10 additions
    "q_dedup_phash",      # PNG decode -> integer-DCT pHash -> band join
    "q_dedup_vhash",      # Y4M decode -> per-frame pHash -> temporal verify
    "q_dedup_ahash",      # WAV decode -> HK fingerprint -> band join
    # corpus write memoized per session: rep 1 pays the bucketed-table
    # write, rep 2 measures the steady-state batch-probe path (the
    # daily-job shape) — min-of-2 reports the probe
    "q_dedup_phash_incremental",
    # round-11 additions (same memoized corpus-write shape)
    "q_dedup_vhash_incremental",  # batch-vs-corpus video temporal dedup
    "q_dedup_ahash_incremental",  # batch-vs-corpus audio fingerprint dedup
    "q_corpus_pipeline6",  # multimodal refresh: text dedup -> image near-dup
    # round-12 additions
    "q_corpus_pipeline7",  # cross-modal #2: text dedup -> audio near-dup
    "q_corpus_pipeline8",  # cross-modal #3: text dedup -> video near-dup
    "q_corpus_pipeline9",  # cross-modal #4: text dedup -> embedding near-dup
    "q_corpus_pipeline10",  # decontaminated curation: langid -> dedup ->
    #                         jaccard near-dup -> decontam -> report
    "q_dedup_simhash_incremental",  # batch-vs-corpus text SimHash (banded)
    "q_dedup_jaccard_prefix",  # prefix-filtered exact jaccard, full table
    # round-13 additions
    "q_dedup_containment",  # exact containment join, asymmetric prefix
    "q_corpus_pipeline11",  # tri-modal: text -> image -> audio -> report
    "q_corpus_pipeline12",  # keep-longest containment curation
    # round-14 additions
    "q_quality_clf_score",  # supervised classifier one-step train+apply
    "q_quality_clf_train",  # multi-epoch distributed GD training loop
    "q_corpus_pipeline13",  # dedup -> label-agreement scrub -> report
    "q_dedup_substring_clip",  # ExactSubstr clip: span join + positional filter
]

# Entries whose plans carry the giant generated decode expressions
# (PNG/JPEG/GIF unfilter chains, Y4M frame walks, WAV fingerprints):
# the r12 JIT forensics (SCALE.md) measured ~17 s of one-time
# janino+C2 compilation in their FIRST rep. These get one untimed
# warm-up rep so both timed reps are post-compile. The *_incremental
# siblings are excluded on purpose: their rep-1 memoized corpus WRITE
# already absorbs the compile, and min-of-2 reports the rep-2 probe.
CODEC_HEAVY = {
    "q_multimodal_png", "q_multimodal_jpeg", "q_multimodal_gif",
    "q_multimodal_png_adam7",
    "q_dedup_phash", "q_dedup_vhash", "q_dedup_ahash",
}


def run_once(spark, name: str, sf_dir: str) -> float:
    # Clear cached plans first: operators that persist() intermediates
    # (minhash signatures, IVF cells) would otherwise be matched by the
    # CacheManager's canonicalized-plan lookup on the SECOND run of the
    # same query, timing a cache read instead of the real pipeline.
    spark.catalog.clearCache()
    # builder INSIDE the timed region: iterative operators (connected
    # components, IVF probe routing) run eager jobs at build time, and
    # timing only the final write would hide their real cost
    t0 = time.perf_counter()
    df = QUERIES[name].builder(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


_STREAM_FIXTURE: dict = {}

# Rotating healdine texts so the gated variant's LM/DSIR stages score
# varied token sequences instead of one constant (a constant would let
# the expression collapse to a near-no-op and flatter the gate cost).
_HEADLINES = [
    "the quick brown fox jumps over the lazy dog",
    "markets rally as quarterly earnings beat expectations",
    "zx qv jk wq xz vq kj qw zv xq",
    "city council approves new transit funding plan today",
]


def _stream_fixture(spark, n_records: int) -> str:
    """Write (once per process) the 20k gzip'd-JSON record fixture both
    streaming bench entries read, and return its path."""
    import json as _json
    import gzip as _gzip
    import tempfile

    from arc_kinesis_tagging_spark.streaming.source import RECORD_SCHEMA

    if _STREAM_FIXTURE.get(n_records):
        return _STREAM_FIXTURE[n_records]
    src = tempfile.mkdtemp(prefix="bench-stream-")
    doc = {
        "id": "doc-%d",
        "operation": "insert-story",
        "published": True,
        "created": False,
        "type": "story",
        "trigger": {"referent_update": True},
        "body": {"headlines": {"basic": "headline"}, "revision": "r1"},
    }
    rows = []
    for i in range(n_records):
        d = dict(doc)
        d["id"] = f"doc-{i}"
        d["body"] = {
            "headlines": {"basic": _HEADLINES[i % len(_HEADLINES)]},
            "revision": "r1",
        }
        rows.append(
            (
                _gzip.compress(_json.dumps(d, sort_keys=True).encode(), mtime=0),
                f"shardId-{i % 4:012d}",
                i,
            )
        )
    spark.createDataFrame(rows, RECORD_SCHEMA).repartition(8).write.mode(
        "overwrite"
    ).parquet(src)
    _STREAM_FIXTURE[n_records] = src
    return src


def _run_stream(spark, plan_fn, src: str, n_records: int) -> tuple[float, float, int]:
    import tempfile

    from arc_kinesis_tagging_spark.streaming.source import read_record_stream

    ckpt = tempfile.mkdtemp(prefix="bench-ckpt-")
    counted = {"n": 0}

    def count_batch(batch_df, batch_id):
        counted["n"] += batch_df.count()

    t0 = time.perf_counter()
    q = (
        plan_fn(read_record_stream(spark, src))
        .writeStream.foreachBatch(count_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dt = time.perf_counter() - t0
    assert counted["n"] > 0, counted
    return dt, counted["n"] / dt, counted["n"]


def bench_stream_pipeline(spark, sf_dir: str, n_records: int = 20000) -> tuple[float, float]:
    """Streaming pipeline throughput: gzip'd-JSON records through
    decode -> route -> filter -> project with a foreachBatch counting
    sink. Returns (seconds, records/sec). The reference's ceiling is
    ~13.3 rec/s (BASELINE.md); this measures ours on the same record
    shape."""
    from arc_kinesis_tagging_spark.streaming.pipeline import story_pipeline

    src = _stream_fixture(spark, n_records)
    dt, rps, n = _run_stream(spark, story_pipeline, src, n_records)
    assert n == n_records, n
    return dt, rps


def bench_stream_gated(spark, sf_dir: str, n_records: int = 20000) -> tuple[float, float]:
    """Gated streaming pipeline throughput: the same 20k records through
    story_pipeline PLUS the production admission stages (robots
    longest-match, frozen pruned-bigram LM, frozen DSIR) — all pure
    map-side projections. Measures gate overhead relative to
    stream_pipeline_20k instead of assuming it (round-7 verdict task 5).
    Models are trained once on a bounded literal corpus (not timed:
    production trains offline and freezes)."""
    import pyspark.sql.functions as F

    from arc_kinesis_tagging_spark.streaming.pipeline import (
        fused_gated_story_pipeline,
        train_dsir_model,
        train_pruned_lm,
    )

    src = _stream_fixture(spark, n_records)
    # train on the three FLUENT headline classes only: the gibberish
    # class then scores all-backoff bits and the LM gate drops it,
    # giving a deterministic kept-count to assert on
    fluent = [h for h in _HEADLINES if not h.startswith("zx ")]
    train = spark.createDataFrame(
        [(h,) for h in fluent * 2], "text string"
    )
    bmap, nmap, vsize = train_pruned_lm(train, "text")
    model, unseen = train_dsir_model(
        train, F.col("text").contains("fox") | F.col("text").contains("markets")
    )
    # fluent headlines score ~3.1 bits/token against this model, the
    # all-backoff gibberish class ~log2(vsize)~=4.5 — 4.0 separates them.
    # fused single-pass form (round-11): gunzip -> json -> publish
    # filter -> projection -> all three gates in ONE mapInPandas —
    # row-identical to story_pipeline + the Arrow gate stage
    # (test_fused_single_pass_matches_composed) but with a single
    # Python boundary crossing instead of two; the second Arrow
    # round-trip WAS the entire r10 gate overhead (profiled: identity
    # hop +0.17 s, memoized compute ~0), so the gated pipeline is now
    # FASTER than the ungated composed one.
    def gated(records):
        return fused_gated_story_pipeline(
            records,
            [("doc", "/", True), ("spam", "/", False)],
            (bmap, nmap, vsize),
            (model, unseen),
            lm_threshold=4.0, dsir_threshold=-10.0,
            admit=True,
        )

    dt, rps, n = _run_stream(spark, gated, src, n_records)
    # robots admits all (host 'doc'); LM threshold 8 bits keeps the
    # three fluent headline classes, drops the gibberish class
    assert n == n_records - n_records // len(_HEADLINES), n
    return dt, n_records / dt


_TEE_FIXTURE: dict = {}


def bench_stream_tee(spark, sf_dir: str, n_records: int = 20000) -> tuple[float, float]:
    """Exactly-once producer throughput: the same 20k gzip'd records
    republished stream-to-stream through the two-phase
    intent/publish/marker commit writer
    (streaming/kinesis_source.py:KinesisEmuStreamWriter). The measured
    path is the full protocol — executor-side staging parquet, driver
    intent rename, per-shard chunk publish, marker rename — whose
    crash-correctness is pinned in tests/test_kinesis_source.py but
    was never timed (round-8 verdict task 7). Source fixture is built
    once per process (not timed); each rep publishes to a FRESH
    destination+checkpoint (a reused checkpoint would no-op by
    design)."""
    import gzip as _gzip
    import json as _json
    import tempfile
    import time

    from arc_kinesis_tagging_spark.streaming.kinesis_source import (
        KinesisEmuDataSource,
        write_kinesis_fixture,
    )

    spark.dataSource.register(KinesisEmuDataSource)
    src = _TEE_FIXTURE.get(n_records)
    if src is None:
        src = tempfile.mkdtemp(prefix="bench-tee-src-")
        doc = {
            "id": "doc-%d",
            "operation": "insert-story",
            "published": True,
            "body": {"headlines": {"basic": "headline"}, "revision": "r1"},
        }
        recs = []
        for i in range(n_records):
            d = dict(doc)
            d["id"] = f"doc-{i}"
            recs.append(
                (
                    _gzip.compress(
                        _json.dumps(d, sort_keys=True).encode(), mtime=0
                    ),
                    i % 4,
                )
            )
        write_kinesis_fixture(src, recs)
        _TEE_FIXTURE[n_records] = src
    dst = tempfile.mkdtemp(prefix="bench-tee-dst-")
    ckpt = tempfile.mkdtemp(prefix="bench-tee-ckpt-")
    t0 = time.perf_counter()
    q = (
        spark.readStream.format("kinesis_emu")
        .option("streamDir", src)
        .load()
        .select("data", "shard_id")
        .writeStream.format("kinesis_emu")
        .option("streamDir", dst)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dt = time.perf_counter() - t0
    n = (
        spark.read.format("kinesis_emu").option("streamDir", dst).load()
    ).count()
    assert n == n_records, n
    return dt, n_records / dt


def busy_cpu_s() -> float:
    """Busy CPU seconds of the whole machine since boot: user + nice +
    system + irq + softirq of ``/proc/stat`` (perfbench's ``cpu_s``
    definition). Machine-wide, so it counts the JVM, its Python workers
    and anything else running on the host."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / os.sysconf("SC_CLK_TCK")


def with_cpu(fn, *args):
    """(fn(*args), busy CPU seconds spent while it ran). The /proc/stat
    reads sit outside whatever wall-clock region ``fn`` times."""
    c0 = busy_cpu_s()
    result = fn(*args)
    return result, busy_cpu_s() - c0


def load_baseline(path: str, sf) -> dict:
    """Read a full bench record (BENCH_full_latest.json or
    BENCH_baseline_4c.json) for ``--compare``. Exits 1 unless it has a
    top-level ``queries`` map measured at this run's sf: a cross-sf
    ratio reads as a huge speedup or regression on every entry."""
    with open(path) as fh:
        base = json.load(fh)
    if not isinstance(base.get("queries"), dict):
        print(f"bench: {path} has no top-level queries map", file=sys.stderr)
        sys.exit(1)
    if base.get("sf") != sf:
        print(f"bench: {path} is sf={base.get('sf')}, this run is "
              f"sf={sf}; cross-sf compare refused", file=sys.stderr)
        sys.exit(1)
    return base


def compare(queries: dict, cpu: dict, base: dict, name: str) -> dict:
    """Print one line per entry shared with the baseline ``base``
    (then/now wall, wall ratio, then/now cpu, cpu ratio) and return the
    summary. An entry is flagged when it is more than 1.5x slower in
    wall AND at least 0.25 s slower; the cpu ratio is shown, never
    gated. Nothing here decides that a flag is noise: a paired A/B with
    tools/qtime.py against the parent commit does. Exits 1 when no
    entry is shared, so an empty compare never reads as a clean one."""
    then_cpu = base.get("cpu") or {}
    regressions = []
    n = 0
    for q, now in queries.items():
        then = base["queries"].get(q)
        if not then:
            continue
        n += 1
        ratio = now / then
        flagged = ratio > 1.5 and now - then >= 0.25
        if flagged:
            regressions.append(q)
        c_then, c_now = then_cpu.get(q), cpu.get(q)
        c_ratio = (f"{c_now / c_then:6.2f}x" if c_then and c_now is not None
                   else "      -")
        print(f"{q:32s} wall {then:8.3f} -> {now:8.3f} {ratio:6.2f}x  "
              f"cpu {c_then or 0:8.2f} -> {c_now or 0:8.2f} {c_ratio}"
              f"{'  FLAG' if flagged else ''}")
    if n == 0:
        print(f"bench: --compare shares no entry with {name}",
              file=sys.stderr)
        sys.exit(1)
    return {"baseline": name, "n_compared": n, "regressions": regressions}


def settle(max_wait: float = 45.0, load_per_cpu: float = 0.5) -> float:
    """Wait for the machine to quiesce before timing. Running bench
    right after the full pytest suite measures ~+40% across the board
    (page-cache churn + leftover JVM GC); waiting for the 1-minute load
    average to drop below load_per_cpu*ncpus removes that artifact."""
    ncpus = os.cpu_count() or 8
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < max_wait:
        try:
            load1 = os.getloadavg()[0]
        except OSError:
            return 0.0
        if load1 < load_per_cpu * ncpus:
            break
        time.sleep(2.0)
    return round(time.perf_counter() - t0, 1)


def pick_baseline() -> str | None:
    """The ``--compare`` baseline path, or None without the flag."""
    if "--compare" in sys.argv:
        idx = sys.argv.index("--compare") + 1
        if idx >= len(sys.argv):
            print("usage: bench.py [--compare <full bench record .json>]",
                  file=sys.stderr)
            sys.exit(2)
        return sys.argv[idx]
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    # resolve the baseline BEFORE running the suite so a bad --compare
    # invocation fails fast instead of losing the run
    baseline = pick_baseline()
    base = load_baseline(baseline, sf) if baseline else None
    settled = settle()
    spark = get_session("bench")
    # warm-up: JVM + parquet footer caches, plus the Python worker pool
    # (first Arrow-UDF stage in a session pays 32x interpreter spin-up +
    # numpy/pandas import — one-time cost, not a per-query one)
    run_once(spark, "q_topk", sf_dir)
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()

    # Best-of-2 per query: single-shot timings on a 32-thread local JVM
    # carry +-50% noise (JIT warm-up, GC pauses, page-cache state) that
    # sums to several seconds across 20 entries; the min of two runs is
    # the standard steady-state estimator and stays honest (every run
    # does the full scan -> shuffle -> sink work). Sub-second entries
    # get a THIRD rep and keep min-of-3: the round-5 measurements
    # showed the 1.5x/0.25s regression gate flapping on exactly those
    # (SCALE.md round-5 notes), and one extra sub-second run is cheap
    # insurance. Entries whose two reps DISAGREE by >2x also get a
    # third, but report the MEDIAN of the three (round-12 advice): the
    # r12 investigation (SCALE.md) showed the giant codegen decode
    # plans pay ~17 s of janino+C2 compilation in their first rep and
    # can land BOTH reps inside a compile window — a wildly split pair
    # is a warm-up artifact, and min-of-3 on a split pair would
    # systematically pick the best case and mask genuine steady-state
    # regressions that the split heuristic mis-attributes to warm-up;
    # the median is the honest steady-state estimate. CODEC_HEAVY
    # entries additionally get one UNTIMED warm-up rep first (round-12
    # verdict task 6): their first rep is dominated by that one-time
    # compile cost, so without the warm-up both timed reps can land
    # inside the compile window and re-flag the family every round.
    # Each rep is a (wall, cpu) pair ordered by wall, so the reported
    # cpu is the busy CPU of the rep whose wall is reported.
    queries, cpu = {}, {}
    total = 0.0
    for name in HEADLINE:
        if name in CODEC_HEAVY:
            run_once(spark, name, sf_dir)  # untimed: absorb janino+C2
        r1 = with_cpu(run_once, spark, name, sf_dir)
        r2 = with_cpu(run_once, spark, name, sf_dir)
        if max(r1[0], r2[0]) > 2 * min(r1[0], r2[0]):
            dt, c = sorted([r1, r2, with_cpu(run_once, spark, name, sf_dir)])[1]
        elif min(r1[0], r2[0]) < 1.0:
            dt, c = min(r1, r2, with_cpu(run_once, spark, name, sf_dir))
        else:
            dt, c = min(r1, r2)
        queries[name] = round(dt, 3)
        cpu[name] = round(c, 2)
        total += dt

    # Streams: the same min-of-reps policy as the batch queries (the
    # first stream run pays one-time streaming-infra setup: state store,
    # sink wiring). The gated variant runs on the SAME fixture as the
    # plain entry, so the pair measures robots+LM+DSIR gate overhead;
    # the tee is the exactly-once producer (stream-to-stream republish
    # through the two-phase commit writer, crash-tested elsewhere).
    # Their cpu covers the whole call, so it also holds the untimed
    # fixture write of the first rep and the tee's count-back.
    stream = {"records": 20000}
    for name, fn, key in (
        ("stream_pipeline_20k", bench_stream_pipeline, ""),
        ("stream_gated_20k", bench_stream_gated, "gated_"),
        ("stream_tee_20k", bench_stream_tee, "tee_"),
    ):
        (dt, rps), c = min(
            (with_cpu(fn, spark, sf_dir) for _ in range(2)),
            key=lambda t: t[0][0],
        )
        queries[name] = round(dt, 3)
        cpu[name] = round(c, 2)
        total += dt
        # throughput is the first-class streaming number (the
        # reference's ceiling is ~13.3 rec/s); seconds alone hides
        # rate drift
        stream[f"{key}seconds"] = round(dt, 3)
        stream[f"{key}rec_per_sec"] = round(rps, 1)

    out = {
        "metric": "headline_suite_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries,
        "cpu": cpu,
        "sf": sf,
        "stream": stream,
        "settle_wait_s": settled,
    }
    # The full record (per-query wall and cpu maps) goes to an
    # untracked side file that a later run can --compare against; the
    # PRINTED line is compact (the per-query map outgrew stdout tail
    # captures twice: BENCH_r03/r11 recorded parsed=null).
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_full_latest.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    # Tear the JVM down BEFORE comparing: the compare's failure exits
    # must not skip cleanup (r04 advice).
    spark.stop()
    printed = {k: v for k, v in out.items() if k not in ("queries", "cpu")}
    printed["n_queries"] = len(queries)
    printed["queries_file"] = "BENCH_full_latest.json"
    if base is not None:
        printed["compare"] = compare(
            queries, cpu, base, os.path.basename(baseline)
        )
    print(json.dumps(printed))
    if base is not None and printed["compare"]["regressions"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
