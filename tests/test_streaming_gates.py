"""Streaming parity for the corpus-quality admission gate: the robots
longest-match, pruned token-bigram LM and DSIR gates run as ONE
map-only stage (streaming/pipeline.py:make_admission_gate) — golden-
tested column by column against their batch registry formulations,
pinned on edge rows, driven e2e through the file-backed record stream
(decode -> project -> admission gate -> dedup -> foreachBatch sink),
and checked against the single-pass fused ingest."""

from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.sources.tables import load_table
from arc_kinesis_tagging_spark.streaming.pipeline import (
    make_admission_gate,
    story_pipeline,
    train_dsir_model,
    train_pruned_lm,
)
from arc_kinesis_tagging_spark.streaming.source import (
    read_record_stream,
    write_stream_fixture,
)

SF = "/root/testdata/sf0.001"

# the exact q_robots_gate rule fixture (plans/relational3.py)
ROBOTS_RULES = [
    *[(f"site{h}", "/admin/", False) for h in range(7)],
    *[(f"site{h}", "/tmp/", False) for h in (0, 2, 4, 6)],
    ("site2", "/tmp/cache/", True),
    ("site5", "/", False),
    ("site5", "/public/", True),
]
# models that score nothing: an empty LM over a V=4 vocabulary (every
# bigram costs log2(4) = 2 bits) and an empty DSIR model
NO_LM = ({}, {}, 4)
NO_DSIR = ({}, 0.0)


def _urls(spark):
    d = load_table(spark, "documents", SF)
    return d.select(
        "doc_id",
        F.concat(F.lit("site"), (F.col("doc_id") % 7).cast("string")).alias("host"),
        F.concat(
            F.when(F.col("doc_id") % 4 == 0, F.lit("/admin/"))
            .when(F.col("doc_id") % 4 == 1, F.lit("/public/"))
            .when(F.col("doc_id") % 4 == 2, F.lit("/tmp/cache/"))
            .otherwise(F.lit("/posts/")),
            F.floor(F.col("doc_id") / 4).cast("long").cast("string"),
        ).alias("path"),
    )


def _corpus(spark):
    d = load_table(spark, "documents", SF)
    return _urls(spark).join(d.select("doc_id", "text"), "doc_id")


def test_robots_stage_matches_batch_query(spark):
    """The gate's longest-match robots columns must agree row-for-row
    with the ranked-window batch formulation on the registry
    fixture."""
    from arc_kinesis_tagging_spark.plans.relational3 import q_robots_gate

    batch = {
        r["doc_id"]: (r["admitted"], r["matched_rule"])
        for r in q_robots_gate(spark, SF).collect()
    }
    stage = make_admission_gate(ROBOTS_RULES, NO_LM, NO_DSIR)
    got = {
        r["doc_id"]: (r["admitted"], r["matched_rule"])
        for r in stage(_corpus(spark)).collect()
    }
    assert got == batch


def test_lm_gate_matches_pruned_query_scores(spark):
    """With the same frozen model (top-512 bigrams = _LM_TOP_V, all
    unigram contexts), the gate's LM columns must reproduce
    q_ngram_lm_pruned's bits-per-token within the 3-dp rounding
    granularity (float addition order differs)."""
    from arc_kinesis_tagging_spark.plans.quality_ops import q_ngram_lm_pruned

    d = load_table(spark, "documents", SF)
    bmap, nmap, vsize = train_pruned_lm(d, "text", top_v=512, top_u=10**6)
    assert len(bmap) <= 512 and vsize > 0
    stage = make_admission_gate(
        ROBOTS_RULES, (bmap, nmap, vsize), NO_DSIR, lm_threshold=6.0
    )
    got = {
        r["doc_id"]: r
        for r in stage(_corpus(spark)).collect()
        if r["n_bigrams"] > 0
    }
    want = {r["doc_id"]: r for r in q_ngram_lm_pruned(spark, SF).collect()}
    assert set(got) == set(want)
    for doc_id, w in want.items():
        g = got[doc_id]
        assert g["n_bigrams"] == w["n_bigrams"], doc_id
        assert abs(g["bits_per_token"] - w["bits_per_token"]) <= 0.0011, doc_id


def _gate_story(doc_id, headline):
    return {
        "id": doc_id,
        "operation": "insert-story",
        "published": True,
        "created": False,
        "type": "story",
        "trigger": {"referent_update": True},
        "body": {"headlines": {"basic": headline}, "revision": "r1"},
    }


def test_streaming_gates_dedup_sink_e2e(spark, tmp_path):
    """Full micro-batch path: gzip'd records -> decode/route/filter/
    project -> admission gate (robots, LM, DSIR) -> stateful dedup
    -> foreachBatch sink, compared against the batch golden over the
    same records."""
    fluent = "the quick brown fox jumps over the lazy dog"
    gibberish = "zx qv jk wq xz vq kj qw zv xq"
    offtopic = "completely unrelated topic entirely other subject matter"
    fixture = [
        (_gate_story("a-1", fluent), 0),
        (_gate_story("a-1", fluent), 1),            # duplicate id -> dedup
        (_gate_story("a-2", fluent + " again"), 0),
        (_gate_story("a-3", gibberish), 1),         # LM gate drops
        (_gate_story("b-1", fluent), 0),            # robots gate drops host b
        (_gate_story("a-4", fluent), 1),
        (_gate_story("a-5", offtopic), 0),          # DSIR gate drops
    ]
    src = str(tmp_path / "gate-stream")
    write_stream_fixture(spark, src, fixture)

    # frozen models: robots rules for the two hosts; LM trained on the
    # fluent corpus only, so gibberish scores all-backoff bits; DSIR
    # target = fox-like docs, raw also carries the offtopic doc, so
    # offtopic grams score a negative importance ratio
    train = spark.createDataFrame(
        [(fluent,), (fluent + " again",), (fluent,), (offtopic,)],
        "text string",
    )
    gate = make_admission_gate(
        [("a", "/", True), ("b", "/", False)],
        train_pruned_lm(train, "text"),
        train_dsir_model(train, F.col("text").contains("fox")),
        text_col="headline",
        lm_threshold=2.5,
        dsir_threshold=0.0,
    )

    def gated(df):
        withurl = df.withColumn(
            "host", F.split(F.col("_id"), "-").getItem(0)
        ).withColumn("path", F.concat(F.lit("/posts/"), F.col("_id")))
        return (
            gate(withurl)
            .filter(
                F.col("admitted") & F.col("lm_kept") & F.col("dsir_kept")
            )
            .select(
                "_id", "headline", "matched_rule", "bits_per_token",
                "dsir_logratio",
            )
        )

    # batch golden over the same records
    golden = {
        r["_id"]: r
        for r in gated(story_pipeline(spark.read.parquet(src))).collect()
    }
    # a-3 LM-dropped, b-1 robots-dropped, a-5 DSIR-dropped
    assert set(golden) == {"a-1", "a-2", "a-4"}

    got = []

    def sink(df, _bid):
        got.extend(df.collect())

    q = (
        gated(story_pipeline(read_record_stream(spark, src)))
        .dropDuplicates(["_id"])
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r["_id"] for r in got) == ["a-1", "a-2", "a-4"]
    for r in got:
        g = golden[r["_id"]]
        assert (
            r["matched_rule"], r["bits_per_token"], r["dsir_logratio"]
        ) == (
            g["matched_rule"], g["bits_per_token"], g["dsir_logratio"]
        )


def test_dsir_gate_matches_batch_query(spark):
    """With the model trained on the same corpus (target = lang 'en'),
    the gate's DSIR columns must reproduce q_dsir_score's per-doc
    n_grams, 3-dp log ratio (within rounding granularity — the fold
    order differs from the batch bucket-aggregate), and kept flag."""
    from arc_kinesis_tagging_spark.plans.quality_ops import q_dsir_score

    d = load_table(spark, "documents", SF)
    model, unseen = train_dsir_model(d, F.col("lang") == "en")
    assert 0 < len(model) <= 256
    stage = make_admission_gate(
        ROBOTS_RULES, NO_LM, (model, unseen), dsir_threshold=0.0
    )
    got = {
        r["doc_id"]: r
        for r in stage(_corpus(spark)).collect()
        if r["n_grams"] > 0
    }
    want = {r["doc_id"]: r for r in q_dsir_score(spark, SF).collect()}
    assert set(got) == set(want)
    n_mismatch = 0
    for doc_id, w in want.items():
        g = got[doc_id]
        assert g["n_grams"] == w["n_grams"], doc_id
        assert abs(g["dsir_logratio"] - w["dsir_logratio"]) <= 0.0011, doc_id
        if g["dsir_kept"] != w["kept"]:
            n_mismatch += 1  # only possible exactly at the threshold
            assert abs(w["dsir_logratio"]) <= 0.0011, doc_id
    assert n_mismatch == 0
    # a gram hashing into a bucket ABSENT from the model scores the
    # unseen-bucket fallback (all 256 buckets are occupied by the real
    # corpus, so carve the probe gram's bucket out of a copy)
    import hashlib

    probe = "qqqzzzvvv"
    b = int(hashlib.md5(f"dsir:{probe}".encode()).hexdigest()[:15], 16) % 256
    holey = {k: v for k, v in model.items() if k != b}
    stage2 = make_admission_gate(
        ROBOTS_RULES, NO_LM, (holey, unseen), dsir_threshold=0.0
    )
    odd = spark.createDataFrame(
        [(999, "site1", "/", probe)],
        "doc_id long, host string, path string, text string",
    )
    r = stage2(odd).collect()[0]
    assert r["n_grams"] == 1
    assert abs(r["dsir_logratio"] - round(unseen, 3)) <= 0.0011


def test_admission_gate_edge_rows(spark):
    """Literal gate rows on adversarial shapes, with models that score
    nothing: every bigram costs log2(V) = 2 bits and every gram the
    unseen ratio. Covers empty text, whitespace runs (" " split keeps
    empties for the LM; the \\s tokenizer drops them for DSIR),
    single-token text (null bits_per_token -> lm_kept False), an
    unknown host (default allow), and a negative mean that rounds to
    zero (-0.0004 -> 0.0, not -0.0, kept at threshold 0.0)."""
    import math

    gate = make_admission_gate(
        ROBOTS_RULES, NO_LM, ({}, -0.0004),
        lm_threshold=6.0, dsir_threshold=0.0,
    )
    edge = spark.createDataFrame(
        [
            (9001, "site0", "/admin/x", ""),
            (9002, "nosuchhost", "/whatever", "one"),
            (9003, "site5", "/public/a", "two  spaced   tokens"),
            (9004, "site2", "/tmp/cache/z", "   "),
            (9005, "site1", "/posts/1", "zz qq vv xx jj kk ww"),
        ],
        "doc_id long, host string, path string, text string",
    )
    cols = [
        "doc_id", "admitted", "matched_rule", "n_bigrams", "bits_per_token",
        "lm_kept", "n_grams", "dsir_logratio", "dsir_kept",
    ]
    rows = sorted(tuple(r) for r in gate(edge).select(*cols).collect())
    assert rows == [
        (9001, False, "/admin/", 0, None, False, 0, None, False),
        (9002, True, "<default>", 0, None, False, 1, 0.0, True),
        (9003, True, "/public/", 5, 2.0, True, 5, 0.0, True),
        (9004, True, "/tmp/cache/", 3, 2.0, True, 0, None, False),
        (9005, True, "<default>", 6, 2.0, True, 13, 0.0, True),
    ]
    assert all(
        math.copysign(1.0, r[7]) == 1.0 for r in rows if r[7] is not None
    )  # -0.0 collapsed
    # the stage is its own pushdown fence: a downstream filter must
    # NOT re-evaluate anything below the MapInPandas node
    pred = F.col("admitted") & F.col("lm_kept") & F.col("dsir_kept")
    plan = (
        gate(edge)
        .filter(pred)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1
    assert plan.count("aggregate(") == 0  # no HOF folds anywhere


def test_fused_single_pass_matches_composed(spark):
    """fused_gated_story_pipeline (ONE mapInPandas doing gunzip ->
    json -> publish filter -> projection -> gates) must be
    row-identical to the composed form (story_pipeline + host/path +
    make_admission_gate) on every record class: fluent/gibberish
    headlines, robots-blocked hosts, non-published, wrong operation,
    corrupt gzip (dead letter), bare-string payload (url pointer),
    ANS-type-violating docs, and null/missing fields — in BOTH
    admit=False (annotate) and admit=True (filter-inside) modes."""
    import gzip
    import json

    from arc_kinesis_tagging_spark.streaming.pipeline import (
        fused_gated_story_pipeline,
    )

    fluent = [
        "the quick brown fox jumps over the lazy dog",
        "markets rally as quarterly earnings beat expectations",
        "city council approves new transit funding plan today",
    ]
    gibberish = "zx qv jk wq xz vq kj qw zv xq"
    train = spark.createDataFrame([(h,) for h in fluent * 2], "text string")
    bmap, nmap, vsize = train_pruned_lm(train, "text")
    model, unseen = train_dsir_model(
        train,
        F.col("text").contains("fox") | F.col("text").contains("markets"),
    )
    models = ((bmap, nmap, vsize), (model, unseen))
    rules = [("doc", "/", True), ("spam", "/", False)]
    kw = dict(lm_threshold=4.0, dsir_threshold=-10.0)

    def story(i, _id, headline, **over):
        d = {
            "id": _id,
            "operation": "insert-story",
            "published": True,
            "created": i % 2 == 0,
            "type": "story",
            "trigger": {"referent_update": i % 3 == 0},
            "body": {"headlines": {"basic": headline}, "revision": f"r{i}"},
            "taxonomy": {"tags": [{"slug": f"s{i}", "text": f"t{i}"}]},
        }
        d.update(over)
        return gzip.compress(json.dumps(d).encode(), mtime=0)

    recs = []
    for i in range(24):  # fluent + gibberish mix on admitted host
        recs.append(story(i, f"doc-{i}", (fluent + [gibberish])[i % 4]))
    recs.append(story(100, "spam-100", fluent[0]))       # robots-blocked
    recs.append(story(101, "doc-101", fluent[1], published=False))
    recs.append(story(102, "doc-102", fluent[2], operation="update"))
    recs.append(story(103, "doc-103", None))             # null headline
    recs.append(story(104, "doc-104", fluent[0], body=None, taxonomy=None,
                      trigger=None))                     # missing optionals
    recs.append(b"\x00not gzip")                         # dead letter
    recs.append(gzip.compress(b"s3://big-docs/obj-1", mtime=0))  # url ptr
    recs.append(story(105, "doc-105", fluent[0], published="yes"))  # type viol
    recs.append(story(106, "doc-106", fluent[0],
                      taxonomy={"tags": ["notadict"]}))  # tag-elem viol
    records = spark.createDataFrame(
        [(r, f"shard-{i % 3}", i) for i, r in enumerate(recs)],
        "data binary, shard_id string, seq long",
    )

    gate = make_admission_gate(rules, *models, host_col="host",
                               path_col="path", text_col="headline", **kw)
    composed = gate(
        story_pipeline(records)
        .withColumn("host", F.split(F.col("_id"), "-").getItem(0))
        .withColumn("path", F.concat(F.lit("/posts/"), F.col("_id")))
    )
    for admit in (False, True):
        fused = fused_gated_story_pipeline(
            records, rules, *models, admit=admit, **kw
        )
        comp = composed if not admit else composed.filter(
            F.col("admitted") & F.col("lm_kept") & F.col("dsir_kept")
        )
        assert fused.columns == comp.columns
        a = {tuple(map(str, r)) for r in fused.collect()}
        b = {tuple(map(str, r)) for r in comp.collect()}
        assert a == b and a  # identical rows, non-empty
    # admit=True plan: exactly ONE python boundary crossing
    plan = (
        fused_gated_story_pipeline(records, rules, *models, admit=True, **kw)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 0  # the gzip UDF hop is gone


def test_fused_gate_seq_type_follows_source(spark):
    """The real connector (kinesis_aws) delivers seq as STRING (actual
    Kinesis sequence numbers exceed int64); the fused gate's output
    schema must follow the source's seq type instead of hardcoding
    long (round-11 review finding)."""
    import gzip
    import json

    from arc_kinesis_tagging_spark.streaming.pipeline import (
        fused_gated_story_pipeline,
        train_dsir_model,
        train_pruned_lm,
    )

    text = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame([(text,)] * 2, "text string")
    models = (
        train_pruned_lm(train, "text"),
        train_dsir_model(train, F.col("text").contains("fox")),
    )
    doc = {
        "id": "doc-1", "operation": "insert-story", "published": True,
        "body": {"headlines": {"basic": text}},
    }
    payload = gzip.compress(json.dumps(doc).encode(), mtime=0)
    records = spark.createDataFrame(
        [(payload, "shardId-000", "49654000000000000000001")],
        "data binary, shard_id string, seq string",  # kinesis_aws shape
    )
    out = fused_gated_story_pipeline(
        records, [("doc", "/", True)], *models,
        lm_threshold=8.0, dsir_threshold=-10.0,
    )
    assert dict(out.dtypes)["seq"] == "string"
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["seq"] == "49654000000000000000001"


def test_fused_gate_over_real_connector_e2e(spark, tmp_path):
    """The advertised production pairing, driven end-to-end:
    spark.readStream.format('kinesis_aws') (string sequence numbers,
    via the cross-process seeded fake) -> fused_gated_story_pipeline
    -> memory sink. Pins that the single-pass ingest consumes the real
    connector's schema, not just the emulator's."""
    import base64
    import gzip
    import json

    from arc_kinesis_tagging_spark.streaming.kinesis_aws import (
        KinesisAwsDataSource,
    )
    from arc_kinesis_tagging_spark.streaming.kinesis_testing import (
        SEED_PATH,
    )
    from arc_kinesis_tagging_spark.streaming.pipeline import (
        fused_gated_story_pipeline,
        train_dsir_model,
        train_pruned_lm,
    )

    fluent = "the quick brown fox jumps over the lazy dog"
    # train on THREE fluent classes (the bench fixture): a single-
    # headline vocabulary is so small that all-backoff gibberish
    # scores ~log2(vsize) < 4 bits and slips the gate
    train_texts = [
        fluent,
        "markets rally as quarterly earnings beat expectations",
        "city council approves new transit funding plan today",
    ]
    gibberish = "zx qv jk wq xz vq kj qw zv xq"

    def payload(i, headline):
        return gzip.compress(
            json.dumps(
                {
                    "id": f"doc-{i}",
                    "operation": "insert-story",
                    "published": True,
                    "body": {"headlines": {"basic": headline}},
                }
            ).encode(),
            mtime=0,
        )

    seed = {"shards": {"shard-a": [], "shard-b": []}}
    for i in range(8):
        seed["shards"][f"shard-{'ab'[i % 2]}"].append(
            [
                base64.b64encode(
                    payload(i, fluent if i % 4 else gibberish)
                ).decode(),
                str(i),
            ]
        )
    with open(SEED_PATH, "w") as fh:
        json.dump(seed, fh)

    train = spark.createDataFrame(
        [(t,) for t in train_texts * 2], "text string"
    )
    models = (
        train_pruned_lm(train, "text"),
        train_dsir_model(
            train,
            F.col("text").contains("fox") | F.col("text").contains("markets"),
        ),
    )
    spark.dataSource.register(KinesisAwsDataSource)
    records = (
        spark.readStream.format("kinesis_aws")
        .option("streamName", "test-stream")
        .option(
            "clientFactory",
            "arc_kinesis_tagging_spark.streaming.kinesis_testing:"
            "make_file_seeded_client",
        )
        .load()
    )
    q = (
        fused_gated_story_pipeline(
            records, [("doc", "/", True)], *models,
            lm_threshold=4.0, dsir_threshold=-10.0,
        )
        .writeStream.format("memory")
        .queryName("fused_aws_e2e")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from fused_aws_e2e").collect()
    # ids 0 and 4 carry the gibberish headline -> LM-gated out
    assert sorted(r["_id"] for r in rows) == [
        f"doc-{i}" for i in range(8) if i % 4
    ]
    assert all(isinstance(r["seq"], str) for r in rows)  # string seqs
