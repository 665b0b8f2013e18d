"""End-to-end curation walkthrough (tools/curation_e2e.py): the
DEPLOY.md production recipe — emulated Kinesis stream -> fused gated
ingest -> exact->SimHash->MinHash gate stack -> curated parquet ->
periodic batch refresh (langid -> exact dedup -> prefix Jaccard ->
decontamination -> per-source report) — driven as ONE wiring at small
scale. Each stage is pinned individually elsewhere; this test pins
the composition the tool ships."""

from __future__ import annotations

import gzip
import json
import uuid

def _story(doc_id: str, text: str) -> bytes:
    return gzip.compress(
        json.dumps(
            {
                "id": doc_id,
                "operation": "insert-story",
                "published": True,
                "created": False,
                "type": "story",
                "trigger": {"referent_update": True},
                "body": {"headlines": {"basic": text}, "revision": "r1"},
            },
            sort_keys=True,
        ).encode(),
        mtime=0,
    )


# the three fluent model-training headlines (tools/curation_e2e.py)
T1 = "the quick brown fox jumps over the lazy dog"
T2 = "markets rally as quarterly earnings beat expectations"
T3 = "city council approves new transit funding plan today"
T1_NEAR = T1 + " today"  # near-dup of T1: passes exact, caught by near-dup
GIBBERISH = "zx qv jk wq xz vq kj qw zv xq"  # all-backoff: LM gate drops


def _run_stream(spark, stream_dir: str, ingest, ckpt: str) -> None:
    from arc_kinesis_tagging_spark.streaming.kinesis_source import (
        KinesisEmuDataSource,
    )
    from tools.curation_e2e import run_ingest

    spark.dataSource.register(KinesisEmuDataSource)
    records = (
        spark.readStream.format("kinesis_emu")
        .option("streamDir", stream_dir)
        .load()
    )
    run_ingest(spark, records, ingest, ckpt)


def test_curation_e2e_ingest_then_refresh(spark, tmp_path):
    from arc_kinesis_tagging_spark.streaming.kinesis_source import (
        write_kinesis_fixture,
    )
    from tools.curation_e2e import batch_refresh, make_curation_stack

    stream = str(tmp_path / "stream")
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    work = "akt_cur_" + uuid.uuid4().hex[:10]

    # epoch 1: an exact dup, a near dup, a robots-blocked host, and a
    # gibberish (LM-dropped) doc alongside two keepers
    write_kinesis_fixture(
        stream,
        [
            (_story("doc-1", T1), 0),
            (_story("doc-2", T1), 1),        # exact dup of doc-1
            (_story("doc-3", T1_NEAR), 2),   # near dup of doc-1
            (_story("doc-4", T2), 3),
            (_story("spam-9", T3), 0),       # robots: host 'spam' blocked
            (_story("doc-6", GIBBERISH), 1),  # LM gate drops
        ],
    )
    ingest = make_curation_stack(spark, work, ckpt + "/markers", out)
    _run_stream(spark, stream, ingest, ckpt)

    curated = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(out).collect()
    }
    # the exact dup, near dup, robots-blocked and gibberish docs are
    # gone; exactly one of {doc-1, doc-2} survives the exact gate
    # (smallest id) and the near dup never reaches the corpus
    assert set(curated) == {"doc-1", "doc-4"}
    assert curated["doc-1"] == T1 and curated["doc-4"] == T2

    # epoch 2 (same checkpoint -> next batch): a CROSS-BATCH exact dup
    # of T2 plus a fresh doc — the gates' persisted corpora carry over
    write_kinesis_fixture(
        stream,
        [
            (_story("doc-7", T2), 0),  # cross-batch exact dup: dropped
            (_story("doc-8", T3), 2),  # fresh: admitted
        ],
    )
    _run_stream(spark, stream, ingest, ckpt)
    curated = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(out).collect()
    }
    assert set(curated) == {"doc-1", "doc-4", "doc-8"}

    # periodic refresh WITHOUT a benchmark: nothing to drop — the
    # report covers both sources ('doc' keeps 3 docs)
    report = {
        r["source"]: (r["n_docs"], r["n_chars_total"])
        for r in batch_refresh(spark, out, None).collect()
    }
    assert report == {
        "doc": (3, len(T1) + len(T2) + len(T3)),
    }

    # refresh WITH a benchmark containing T2: decontamination drops
    # doc-4 (shares every 3-gram), keeps the unrelated docs
    bench = spark.createDataFrame(
        [("bench-1", T2)], "doc_id string, text string"
    )
    report2 = {
        r["source"]: (r["n_docs"], r["n_chars_total"])
        for r in batch_refresh(spark, out, bench).collect()
    }
    assert report2 == {"doc": (2, len(T1) + len(T3))}


def test_curation_e2e_with_classifier_tier(spark, tmp_path):
    """The optional OUTERMOST supervised classifier tier: a doc that
    passes the fused LM/DSIR/robots gates but is predicted into a
    non-admitted label is dropped BEFORE any dedup corpus is probed
    or grown. Model round-trips through the persisted (b, label, w)
    artifact the CLI loads (weights_table -> parquet ->
    model_from_weights_table)."""
    from arc_kinesis_tagging_spark.operators.quality_clf import (
        model_from_weights_table,
        train_quality_classifier,
        weights_table,
    )
    from arc_kinesis_tagging_spark.streaming.kinesis_source import (
        write_kinesis_fixture,
    )
    from tools.curation_e2e import make_curation_stack

    # two label vocabularies drawn from the LM training headlines, so
    # every stream doc is LM-fluent and the CLASSIFIER is what decides
    train = spark.createDataFrame(
        [(1, "news", T1), (2, "news", T2),
         (3, "news", "markets rally as earnings beat"),
         (4, "junk", T3),
         (5, "junk", "city council approves transit funding"),
         (6, "junk", "council plan approves city funding today")],
        "doc_id long, label string, text string",
    )
    model = train_quality_classifier(
        train, "text", "label", n_buckets=64, epochs=5, lr=2.0
    )
    # persist + reload the artifact — the CLI path
    wpath = str(tmp_path / "clf_weights")
    weights_table(spark, model).write.parquet(wpath)
    model2 = model_from_weights_table(spark.read.parquet(wpath))
    assert model2 == {
        "classes": model["classes"],
        "W": model["W"],
        "bias": model["bias"],
        "n_buckets": model["n_buckets"],
    }

    stream = str(tmp_path / "stream")
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    work = "akt_curclf_" + uuid.uuid4().hex[:10]
    write_kinesis_fixture(
        stream,
        [
            (_story("doc-1", T1), 0),   # news vocab: admitted
            (_story("doc-5", T3), 1),   # LM-fluent but junk: dropped
            (_story("doc-6", GIBBERISH), 2),  # LM gate drops upstream
        ],
    )
    ingest = make_curation_stack(
        spark, work, ckpt + "/markers", out,
        clf_model=model2, clf_admit=["news"],
    )
    _run_stream(spark, stream, ingest, ckpt)
    curated = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    assert set(curated) == {"doc-1"}
    # the junk doc never reached the exact gate's corpus
    assert spark.table(f"{work}_ex_digests").count() == 1


def test_curation_e2e_with_substring_clip_tier(spark, tmp_path):
    """--clip-substrings wiring: the substring-clip gate runs
    INNERMOST (only fully-admitted docs pay the window probe) and
    rewrites the curated corpus — a doc repeating an earlier doc's
    span is clipped to its novel remainder (keep-first-arrival), and
    windows append for ALL batch content including clipped spans, so
    a later repeat of a CLIPPED span is clipped too. LM/DSIR
    thresholds are opened wide so the scenario isolates the clip
    tier; near-dup gates stay at defaults (the repeat docs carry
    enough novel tokens to stay under the Jaccard/Hamming bars)."""
    from tools.curation_e2e import make_curation_stack

    stream = str(tmp_path / "stream")
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    work = "akt_curclip_" + uuid.uuid4().hex[:10]
    TAIL = "with twelve completely novel trailing tokens padding the span clip check suffix"

    ingest = make_curation_stack(
        spark, work, ckpt + "/markers", out,
        lm_threshold=99.0, dsir_threshold=-99.0,
        clip_substrings=True, clip_window_tokens=4,
    )

    # epoch 1: T1's first arrival — emitted verbatim
    write_kinesis_fixture = __import__(
        "arc_kinesis_tagging_spark.streaming.kinesis_source",
        fromlist=["write_kinesis_fixture"],
    ).write_kinesis_fixture
    write_kinesis_fixture(stream, [(_story("doc-1", T1), 0)])
    _run_stream(spark, stream, ingest, ckpt)
    curated = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    assert curated == {"doc-1": T1}

    # epoch 2: doc-2 embeds T1 after novel content -> T1's span is
    # clipped, the novel remainder survives
    write_kinesis_fixture(
        stream, [(_story("doc-2", T2 + " " + T3 + " " + T1), 0)]
    )
    _run_stream(spark, stream, ingest, ckpt)
    curated = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    assert curated == {"doc-1": T1, "doc-2": T2 + " " + T3}

    # epoch 3: doc-3 repeats T3 — which was only ever emitted as part
    # of doc-2's remainder, but ALL of doc-2's windows appended — so
    # T3 clips out and only the novel tail survives
    write_kinesis_fixture(stream, [(_story("doc-3", T3 + " " + TAIL), 0)])
    _run_stream(spark, stream, ingest, ckpt)
    curated = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    assert curated == {
        "doc-1": T1, "doc-2": T2 + " " + T3, "doc-3": TAIL,
    }


def test_batch_refresh_with_report_dir_returns_usable_frame(spark, tmp_path):
    """A report_dir refresh releases the plan's localCheckpoint pins;
    the DataFrame it returns must still run afterwards (it used to be
    the pinned plan itself and failed on the released blocks)."""
    from tools.curation_e2e import batch_refresh

    out = str(tmp_path / "curated")
    spark.createDataFrame(
        [
            ("doc-1", T1, "doc"),
            ("doc-3", T1_NEAR, "doc"),
            ("doc-4", T2, "doc"),
            ("wire-1", T3, "wire"),
        ],
        "doc_id string, text string, source string",
    ).write.parquet(out)
    bench = spark.createDataFrame(
        [("bench-1", T2)], "doc_id string, text string"
    )
    report_dir = str(tmp_path / "report")
    got = batch_refresh(spark, out, bench, report_dir)
    # near dup doc-3 and contaminated doc-4 are dropped
    want = {"doc": (1, len(T1)), "wire": (1, len(T3))}
    for _ in range(2):  # acting on it repeatedly must keep working
        rows = {
            r["source"]: (r["n_docs"], r["n_chars_total"])
            for r in got.collect()
        }
        assert rows == want
    assert got.filter(got.source == "wire").count() == 1
    written = {
        r["source"]: (r["n_docs"], r["n_chars_total"])
        for r in spark.read.parquet(report_dir).collect()
    }
    assert written == want
