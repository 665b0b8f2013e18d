"""The story-tagging pipeline as composable DataFrame transforms.

Each stage is a pure DataFrame -> DataFrame function that works
identically on batch and streaming inputs, so batch tests cover the
streaming logic (SURVEY.md §7). The composition mirrors the reference's
per-record loop (app.py:33-75) as a declarative plan:

    decompress (R6) -> parse w/ corrupt routing (R7/R8) ->
    filter (R9) -> project + lineage (R10/R11)

with the enrichment/writeback stages (R12-R17) in sinks.py.

Stage ordering matters for the optimizer: the gzip UDF is a black box
to Catalyst, so any predicate on source metadata (shard, sequence)
must be applied BEFORE decode — after it, nothing pushes down.
"""

from __future__ import annotations

import gzip

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Declared schema for the fields the pipeline touches (the reference
# reads exactly these, app.py:56-67 + utility/tag.py:33-44). The rest
# of the ANS document intentionally stays in the raw JSON string —
# schema-on-read for the long tail, declared schema for the hot path.
ANS_SCHEMA = (
    "id string, operation string, published boolean, created boolean, "
    "type string, trigger struct<referent_update:boolean>, "
    "body struct<headlines:struct<basic:string>, revision:string>, "
    "taxonomy struct<tags:array<struct<slug:string,text:string>>>"
)


@F.pandas_udf(StringType())
def _gunzip_text_impl(data: pd.Series) -> pd.Series:
    """Arrow-batched gzip decode; failures yield null instead of
    killing the stream (the reference's decompress-failure branch
    prints and falls through buggily, app.py:35-38 — here a null
    routes to the dead-letter side)."""

    def one(blob):
        if blob is None:
            return None
        try:
            return gzip.decompress(bytes(blob)).decode("utf-8")
        except Exception:
            return None

    return data.map(one)


# The function is pure, but it is declared NON-deterministic on purpose:
# a deterministic UDF gets duplicated by predicate pushdown + projection
# collapse — the round-8 plan audit found the publish filter and the
# story projection each extracting their own ArrowEvalPython node, so
# every record was gunzipped FOUR times (4 Python round-trips per row at
# 100 TB). Non-determinism pins exactly one evaluation per record; the
# trade-off (documented in the module docstring) is that predicates on
# source metadata must be applied BEFORE decode, which the pipeline
# already requires.
gunzip_text = _gunzip_text_impl.asNondeterministic()


def decode_and_route(records: DataFrame) -> DataFrame:
    """records(data, shard_id, seq) -> decoded rows with routing class.

    Output columns: shard_id, seq, doc (struct, null unless 'ok'),
    url (string, only for 'url_pointer'), raw_text, route in
    {'ok','url_pointer','dead_letter'}.

    Routing mirrors app.py:35-46: un-gunzippable -> dead letter;
    gunzipped but not a JSON object -> treat payload as the S3 URL of
    an oversized document ({'url': s}); else parsed document.
    """
    decoded = records.withColumn("raw_text", gunzip_text(F.col("data")))
    # PERMISSIVE from_json yields an all-null struct (not null) for
    # malformed input, so malformed-ness must be detected via the
    # corrupt-record column: _corrupt carries the raw payload exactly
    # when parsing failed. A bare S3-URL string is malformed for a
    # struct schema, so oversized-document pointers land there.
    parsed = decoded.withColumn(
        "parsed",
        F.from_json(
            F.col("raw_text"),
            ANS_SCHEMA + ", _corrupt string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    route = (
        F.when(F.col("raw_text").isNull(), F.lit("dead_letter"))
        .when(F.col("parsed._corrupt").isNotNull(), F.lit("url_pointer"))
        .otherwise(F.lit("ok"))
    )
    return (
        parsed.withColumn("route", route)
        .withColumn("doc", F.col("parsed").dropFields("_corrupt"))
        .withColumn("url", F.when(F.col("route") == "url_pointer", F.col("raw_text")))
        .select("shard_id", "seq", "route", "doc", "url", "raw_text")
    )


def filter_publish_events(decoded: DataFrame, first_publish_only: bool = False) -> Column | DataFrame:
    """The conjunctive publish predicate (app.py:56; README.md:227-233
    documents the intended general form without the debug id pin).
    ``first_publish_only`` adds the created==True conjunct the
    reference suggests for first-publish detection (app.py:54)."""
    pred = (
        (F.col("route") == "ok")
        & (F.col("doc.operation") == "insert-story")
        & F.col("doc.published")
    )
    if first_publish_only:
        pred = pred & F.col("doc.created")
    return decoded.filter(pred)


def project_story_fields(filtered: DataFrame) -> DataFrame:
    """The 9-field projection + shard lineage (app.py:56-67).

    Spark nested-field access is null-safe end-to-end, subsuming the
    reference's manual guard on trigger (app.py:64) and fixing its
    unguarded body.headlines chain (app.py:65) which crashes on
    partial documents.
    """
    return filtered.select(
        F.col("doc.id").alias("_id"),
        F.col("doc.operation").alias("operation"),
        F.col("doc.created").alias("created"),
        F.col("doc.type").alias("type"),
        F.col("doc.published").alias("published"),
        F.col("doc.trigger.referent_update").alias("referent_update"),
        F.col("doc.body.headlines.basic").alias("headline"),
        F.col("doc.body.revision").alias("revision"),
        F.col("doc.taxonomy.tags").alias("tags"),
        F.col("shard_id").alias("shard_origination"),
        F.col("seq").alias("seq"),
    )


def story_pipeline(records: DataFrame, first_publish_only: bool = False) -> DataFrame:
    """decode -> route -> filter -> project, as one composition."""
    return project_story_fields(
        filter_publish_events(decode_and_route(records), first_publish_only)
    )


def dead_letters(records: DataFrame) -> DataFrame:
    """Side output: everything that did not parse as a document —
    the dead-letter/url classes (R8/R16), kept instead of dropped."""
    d = decode_and_route(records)
    return d.filter(F.col("route") != "ok").select("shard_id", "seq", "route", "url")


# --- corpus-quality admission gates, streaming-composable -------------------
# The batch registry forms (plans/relational3.py:q_robots_gate,
# plans/quality_ops.py:q_ngram_lm_pruned, q_dsir_score) rank with
# windows / train the model in-query — shapes a micro-batch stream
# cannot run in append mode. The PRODUCTION streaming form freezes
# bounded models (robots rules, pruned LM, DSIR bucket ratios) into one
# Python kernel, _gate_closures, evaluated entirely map-side — no
# shuffle, no state. Two entry points share it: make_admission_gate for
# any frame, fused_gated_story_pipeline for raw records. Parity with
# the batch formulations is pinned by tests/test_streaming_gates.py.

_LM_SEP = "\x01"  # sorts below every token character


def train_pruned_lm(
    docs: DataFrame,
    text_col: str = "text",
    top_v: int = 512,
    top_u: int = 512,
):
    """Batch-train the frozen bounded LM make_admission_gate consumes:
    top-V bigrams and top-U unigram contexts by count (deterministic
    tie-break on the token key, selected with the two-level
    bounded_topk_rank — no global sort of the bigram table), plus the
    vocabulary size. The collects are bounded by top_v/top_u rows."""
    from arc_kinesis_tagging_spark.operators.similarity import bounded_topk_rank

    ts = F.split(F.col(text_col), " ")
    bigrams = F.when(
        F.size(ts) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.struct(
                F.element_at(ts, i).alias("ta"),
                F.element_at(ts, i + 1).alias("tb"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<ta:string,tb:string>>"))
    bg = docs.select(F.explode(bigrams).alias("b")).select("b.ta", "b.tb")
    nab = bg.groupBy("ta", "tb").agg(F.count(F.lit(1)).alias("c"))
    na = bg.groupBy("ta").agg(F.count(F.lit(1)).alias("c"))
    top_bg = bounded_topk_rank(
        nab.withColumn("tkey", F.concat_ws(_LM_SEP, "ta", "tb")),
        top_v, order_col="c", id_col="tkey", part_cols=(),
    ).collect()
    top_na = bounded_topk_rank(
        na, top_u, order_col="c", id_col="ta", part_cols=()
    ).collect()
    vsize = (
        docs.select(F.explode(ts).alias("t"))
        .agg(F.countDistinct("t"))
        .first()[0]
    )
    return (
        {(r["ta"], r["tb"]): r["c"] for r in top_bg},
        {r["ta"]: r["c"] for r in top_na},
        int(vsize or 0),
    )


def train_dsir_model(docs: DataFrame, target_pred) -> tuple[dict, float]:
    """Batch-train the frozen bounded DSIR model make_admission_gate
    consumes: the B-bucket (B = 256) log importance ratios of the target
    distribution (rows where ``target_pred`` holds) over the raw
    distribution, hashed-unigram+bigram features, add-one smoothing —
    the exact model of plans/quality_ops.py:q_dsir_score. Returns
    ({bucket: log_ratio}, unseen_bucket_ratio) where the second value
    is the smoothed ratio of a bucket with zero observed mass (what a
    NEW streaming doc's gram falls back to when it hashes into a
    bucket the training corpus never produced). The collect is
    bounded: <= 256 rows + one totals row."""
    from arc_kinesis_tagging_spark.plans.quality_ops import (
        _DSIR_B,
        _dsir_grams,
    )
    from arc_kinesis_tagging_spark.functions.text import stable_hash64

    d = docs.withColumn("lang", F.when(target_pred, F.lit("en")))
    if "doc_id" not in d.columns:  # _dsir_grams carries doc_id through
        d = d.withColumn("doc_id", F.monotonically_increasing_id())
    gb = _dsir_grams(d).withColumn(
        "b",
        stable_hash64(F.concat(F.lit("dsir:"), F.col("g"))) % _DSIR_B,
    )
    rows = gb.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum((F.col("lang") == "en").cast("long")).alias("ct"),
    ).collect()  # bounded: <= 256 rows; totals fold from it (one pass)
    tr = sum(int(r["cr"]) for r in rows)
    tt = sum(int(r["ct"] or 0) for r in rows)
    import math

    def ratio(ct, cr):
        return math.log((ct + 1.0) / (tt + _DSIR_B)) - math.log(
            (cr + 1.0) / (tr + _DSIR_B)
        )

    model = {
        int(r["b"]): ratio(int(r["ct"] or 0), int(r["cr"])) for r in rows
    }
    return model, ratio(0, 0)


def make_admission_gate(
    robots_rules,
    lm_model: tuple,
    dsir_model: tuple,
    *,
    host_col: str = "host",
    path_col: str = "path",
    text_col: str = "text",
    lm_threshold: float = 6.0,
    dsir_threshold: float = 0.0,
):
    """The admission gate as a DataFrame stage: robots longest-match +
    frozen pruned-LM scoring + frozen DSIR scoring in ONE vectorized
    mapInPandas pass over ``_gate_closures``.

    ``robots_rules`` is a bounded ``[(host, path_prefix, allow), ...]``
    list (unmatched paths default to allow, rule ``'<default>'``);
    ``lm_model`` is ``(bigram_counts, context_counts, vsize)`` from
    train_pruned_lm; ``dsir_model`` is ``(bucket_ratios,
    unseen_ratio)`` from train_dsir_model. Appends eight columns:
    ``admitted``, ``matched_rule``, ``n_bigrams``, ``bits_per_token``
    (null under 2 tokens), ``lm_kept``, ``n_grams``, ``dsir_logratio``
    (3 dp, null for gram-less text) and ``dsir_kept``.

    Map-only — zero shuffle, zero state, append-mode safe. The stage is
    also a plan fence: predicates never push below mapInPandas, so a
    downstream ``admitted & lm_kept & dsir_kept`` filter reads
    materialized booleans instead of re-running the gates."""
    from typing import Iterator

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    robots, lm, dsir = _gate_closures(
        robots_rules, lm_model, dsir_model, lm_threshold, dsir_threshold
    )

    def stage(df: DataFrame) -> DataFrame:
        out_schema = StructType(
            list(df.schema.fields)
            + [
                StructField("admitted", BooleanType(), False),
                StructField("matched_rule", StringType(), True),
                StructField("n_bigrams", LongType(), True),
                StructField("bits_per_token", DoubleType(), True),
                StructField("lm_kept", BooleanType(), False),
                StructField("n_grams", LongType(), True),
                StructField("dsir_logratio", DoubleType(), True),
                StructField("dsir_kept", BooleanType(), False),
            ]
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                adm, mr, nb_l, bpt_l, lk_l, ng_l, dm_l, dk_l = (
                    [], [], [], [], [], [], [], []
                )
                for host, path, text in zip(
                    pdf[host_col], pdf[path_col], pdf[text_col]
                ):
                    allow, prefix = robots(host, path)
                    adm.append(allow)
                    mr.append(prefix)
                    nb, bpt, lk = lm(text)
                    nb_l.append(nb)
                    bpt_l.append(bpt)
                    lk_l.append(lk)
                    ng, dmean, dk = dsir(text)
                    ng_l.append(ng)
                    dm_l.append(dmean)
                    dk_l.append(dk)
                yield pdf.assign(
                    admitted=pd.Series(adm, dtype="bool"),
                    matched_rule=mr,
                    n_bigrams=pd.Series(nb_l, dtype="int64"),
                    bits_per_token=pd.Series(bpt_l, dtype="float64"),
                    lm_kept=pd.Series(lk_l, dtype="bool"),
                    n_grams=pd.Series(ng_l, dtype="int64"),
                    dsir_logratio=pd.Series(dm_l, dtype="float64"),
                    dsir_kept=pd.Series(dk_l, dtype="bool"),
                )

        return df.mapInPandas(run, out_schema)

    return stage


def _gate_closures(
    robots_rules,
    lm_model: tuple,
    dsir_model: tuple,
    lm_threshold: float,
    dsir_threshold: float,
):
    """The shared Python gate kernels — ``(robots, lm, dsir)``
    closures over the frozen models, memoized with bounded caches —
    used by BOTH the standalone Arrow gate stage
    (make_admission_gate) and the fused single-pass ingest
    (fused_gated_story_pipeline), so the two shapes are
    column-identical by construction, not by parallel maintenance.

    - ``robots(host, path) -> (allow, prefix)`` longest-match;
    - ``lm(text) -> (n_bigrams, bits_per_token, lm_kept)``;
    - ``dsir(text) -> (n_grams, dsir_logratio, dsir_kept)``.

    Cross-engine exactness (the plans/common.py discipline, Spark
    expression vs Python): LM tokens via ``text.split(" ")`` (== Java
    split limit -1), DSIR tokens via ASCII ``[ \\t\\n\\x0b\\f\\r]``
    (Java ``\\s``, not unicode), log2 as log(x)/log(2), SEQUENTIAL
    left-fold sums, 3-dp half-away-from-zero rounding with -0.0
    collapsed, null text -> 0 counts / null scores / kept False."""
    import hashlib
    import math
    import re

    by_host: dict = {}
    for host, prefix, allow in robots_rules:
        by_host.setdefault(host, []).append((prefix, allow))
    rules = {h: sorted(rs) for h, rs in by_host.items()}
    bigram_counts, context_counts, vsize = lm_model
    model, unseen_ratio = dsir_model
    ln2 = math.log(2.0)
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, not unicode \s
    cap = 65536

    def round3(x: float) -> float:
        r = math.floor(abs(x) * 1000.0 + 0.5) / 1000.0
        return (-r if x < 0 else r) + 0.0

    def robots(host, path):
        best_len, best = -1, (True, "<default>")
        for prefix, allow in rules.get(host, ()):
            if (
                path is not None
                and path.startswith(prefix)
                and len(prefix) > best_len
            ):
                best_len, best = len(prefix), (allow, prefix)
        return best

    def _lm_term(pair, cache={}):
        # per-BIGRAM memo: the models are FROZEN, so a bigram's term
        # value never changes; vocabulary is Zipf-bounded, so the
        # cache converges to (observed bigram types) entries and the
        # log() call drops out of the steady-state hot path (round-9
        # verdict task 6 — this keeps the SEQUENTIAL left-fold
        # addition order the oracle replicates, where a numpy
        # pairwise-sum vectorization would not).
        t = cache.get(pair)
        if t is None:
            if len(cache) >= cap:
                cache.clear()
            nab = bigram_counts.get(pair, 0)
            na = context_counts.get(pair[0], 0)
            cache[pair] = t = -(math.log((nab + 1.0) / (na + vsize)) / ln2)
        return t

    def lm(text, cache={}):
        got = cache.get(text)
        if got is None:
            if len(cache) >= cap:
                cache.clear()
            ts = text.split(" ") if text is not None else []
            n = len(ts)
            total = 0.0
            for i in range(1, n):
                total += _lm_term((ts[i - 1], ts[i]))
            nb = max(0, n - 1) if n >= 2 else 0
            bpt = round3(total / nb) if nb > 0 else None
            cache[text] = got = (
                nb, bpt, bpt is not None and bpt <= lm_threshold
            )
        return got

    def _dsir_term(g, cache={}):
        # per-GRAM memo: the md5 bucket of a gram is immutable and the
        # ratio model frozen, so steady state pays one dict hit per
        # gram instead of an md5 + hexdigest parse (the dominant cost
        # of this gate) — same bounded-cache policy as the text memo.
        t = cache.get(g)
        if t is None:
            if len(cache) >= cap:
                cache.clear()
            b = (
                int(hashlib.md5(f"dsir:{g}".encode()).hexdigest()[:15], 16)
                % 256
            )
            cache[g] = t = model.get(b, unseen_ratio)
        return t

    def dsir(text, cache={}):
        got = cache.get(text)
        if got is None:
            if len(cache) >= cap:
                cache.clear()
            toks = (
                [t for t in ws_re.split(text) if t]
                if text is not None
                else []
            )
            grams = toks + [
                f"{toks[i - 1]} {toks[i]}" for i in range(1, len(toks))
            ]
            total = 0.0
            for g in grams:
                total += _dsir_term(g)
            ng = len(grams)
            mean = round3(total / ng) if ng > 0 else None
            cache[text] = got = (
                ng, mean, mean is not None and mean >= dsir_threshold
            )
        return got

    return robots, lm, dsir


def fused_gated_story_pipeline(
    records: DataFrame,
    robots_rules,
    lm_model: tuple,
    dsir_model: tuple,
    *,
    host_of=None,
    path_of=None,
    lm_threshold: float,
    dsir_threshold: float,
    admit: bool = True,
) -> DataFrame:
    """The SINGLE-PASS gated ingest: gunzip -> JSON parse -> publish
    filter -> 9-field projection -> robots/LM/DSIR gates -> (optional)
    admit filter, all inside ONE mapInPandas.

    Why this exists: the composed form (story_pipeline + the Arrow
    gate stage) crosses the Python boundary TWICE per task — once for
    the gzip UDF, once for the gate — and the round-10/11 profiling
    showed the second Arrow round-trip is the ENTIRE gate overhead
    (identity-gate hop +0.17 s at bench shape vs ~0 for the memoized
    compute). Fusing collapses the ingest to one boundary crossing;
    at bench shape the gated fused pipeline is ~30% FASTER than the
    ungated composed pipeline. The gate kernels are the SAME
    ``_gate_closures`` the standalone Arrow stage uses, so gate
    columns are identical by construction
    (tests/test_streaming_gates.py pins fused == composed).

    Scale shape: map-only (no shuffle, no state); the JSON parse
    moves from JVM Jackson to Python json inside the already-paid
    Arrow pass — at 100 TB the per-byte parse delta is bought back by
    removing a full serialize/deserialize of every row, and the gate
    memos amortize over hot text shapes exactly as in the composed
    form.

    Routing parity with decode_and_route/filter_publish_events:
    un-gunzippable -> dead letter (dropped here); gunzipped but not a
    JSON object, or any field that violates ANS_SCHEMA's types ->
    url_pointer (dropped here; from_json PERMISSIVE marks such
    records corrupt). ONE documented divergence: from_json coerces
    bare JSON scalars into string fields (``{"id": 5}`` -> "5");
    this path conservatively routes such records to url_pointer —
    at the admitted output both drop malformed documents, they just
    disagree on that coercion nicety. ``host_of``/``path_of`` map the
    parsed document to the robots lookup key (defaults: the gated
    bench's id-prefix host and /posts/<id> path).

    ``admit=False`` keeps all publish-filtered rows with the 8 gate
    columns annotated (the composed-form contract); ``admit=True``
    (production) yields only rows passing all three gates, so the
    dropped rows never re-cross the Arrow boundary."""
    import gzip as _gzip
    import json as _json
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    robots, lm, dsir = _gate_closures(
        robots_rules, lm_model, dsir_model, lm_threshold, dsir_threshold
    )
    if host_of is None:
        host_of = lambda d: (d.get("id") or "").split("-")[0]  # noqa: E731
    if path_of is None:
        path_of = lambda d: "/posts/" + (d.get("id") or "")  # noqa: E731

    tag_t = StructType(
        [StructField("slug", StringType()), StructField("text", StringType())]
    )
    # seq is a pass-through lineage column whose type follows the
    # SOURCE: bigint from the file emulator, string from the real
    # kinesis_aws binding (actual Kinesis sequence numbers are
    # ~186-bit decimals that do not fit an int64) — hardcoding long
    # here would crash the advertised production pairing at the Arrow
    # conversion.
    seq_t = next(
        (f.dataType for f in records.schema.fields if f.name == "seq"),
        LongType(),
    )
    out_schema = StructType(
        [
            StructField("_id", StringType()),
            StructField("operation", StringType()),
            StructField("created", BooleanType()),
            StructField("type", StringType()),
            StructField("published", BooleanType()),
            StructField("referent_update", BooleanType()),
            StructField("headline", StringType()),
            StructField("revision", StringType()),
            StructField("tags", ArrayType(tag_t)),
            StructField("shard_origination", StringType()),
            StructField("seq", seq_t),
            StructField("host", StringType()),
            StructField("path", StringType()),
            StructField("admitted", BooleanType(), False),
            StructField("matched_rule", StringType()),
            StructField("n_bigrams", LongType()),
            StructField("bits_per_token", DoubleType()),
            StructField("lm_kept", BooleanType(), False),
            StructField("n_grams", LongType()),
            StructField("dsir_logratio", DoubleType()),
            StructField("dsir_kept", BooleanType(), False),
        ]
    )
    cols = [f.name for f in out_schema.fields]

    def _str(v):  # ANS string field: str or absent, else corrupt
        if v is None or isinstance(v, str):
            return v, True
        return None, False

    def _bool(v):  # ANS boolean field: bool or absent, else corrupt
        if v is None or isinstance(v, bool):
            return v, True
        return None, False

    def _project(d):
        """9-field ANS projection with from_json-PERMISSIVE-style
        record-level type validation: returns the field tuple, or
        None when any field violates ANS_SCHEMA (-> url_pointer)."""
        ok = True
        _id, k = _str(d.get("id")); ok &= k
        op, k = _str(d.get("operation")); ok &= k
        created, k = _bool(d.get("created")); ok &= k
        typ, k = _str(d.get("type")); ok &= k
        pub, k = _bool(d.get("published")); ok &= k
        trig = d.get("trigger")
        if trig is None:
            ref = None
        elif isinstance(trig, dict):
            ref, k = _bool(trig.get("referent_update")); ok &= k
        else:
            return None
        body = d.get("body")
        if body is None:
            hl = rev = None
        elif isinstance(body, dict):
            heads = body.get("headlines")
            if heads is None:
                hl = None
            elif isinstance(heads, dict):
                hl, k = _str(heads.get("basic")); ok &= k
            else:
                return None
            rev, k = _str(body.get("revision")); ok &= k
        else:
            return None
        tax = d.get("taxonomy")
        if tax is None:
            tags = None
        elif isinstance(tax, dict):
            raw = tax.get("tags")
            if raw is None:
                tags = None
            elif isinstance(raw, list):
                tags = []
                for t in raw:
                    if not isinstance(t, dict):
                        return None
                    slug, k = _str(t.get("slug")); ok &= k
                    text, k = _str(t.get("text")); ok &= k
                    tags.append({"slug": slug, "text": text})
            else:
                return None
        else:
            return None
        if not ok:
            return None
        return _id, op, created, typ, pub, ref, hl, rev, tags

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for data, shard, seq in zip(
                pdf["data"], pdf["shard_id"], pdf["seq"]
            ):
                try:  # un-gunzippable / undecodable -> dead letter
                    raw = _gzip.decompress(bytes(data)).decode()
                except Exception:
                    continue
                try:  # not JSON / not an object -> url_pointer
                    d = _json.loads(raw)
                except Exception:
                    continue
                if not isinstance(d, dict):
                    continue
                proj = _project(d)
                if proj is None:  # schema-violating -> url_pointer
                    continue
                _id, op, created, typ, pub, ref, hl, rev, tags = proj
                if op != "insert-story" or pub is not True:
                    continue  # the publish predicate
                host, path = host_of(d), path_of(d)
                allow, prefix = robots(host, path)
                nb, bpt, lk = lm(hl)
                ng, dlr, dk = dsir(hl)
                if admit and not (allow and lk and dk):
                    continue
                rows.append(
                    (_id, op, created, typ, pub, ref, hl, rev, tags,
                     shard, seq, host, path,
                     allow, prefix, nb, bpt, lk, ng, dlr, dk)
                )
            yield pd.DataFrame(rows, columns=cols)

    return records.mapInPandas(run, out_schema)
