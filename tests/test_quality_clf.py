"""Supervised quality classifier (operators/quality_clf.py): numpy
gradient parity for the distributed full-batch GD loop, learnability
on a separable corpus, deterministic tiebreaks, artifact shape, and
the one-step closed form's equivalence to epochs=1 (the bridge
between the rows-only train query and the hash-checked score
query)."""

import hashlib
import re

import numpy as np
import pytest

from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.operators.quality_clf import (
    BIAS_BUCKET,
    CLF_SALT,
    _weight_cols,
    apply_quality_classifier,
    clf_features,
    train_quality_classifier,
    weights_table,
)

# two disjoint-vocabulary classes: trivially separable, so a working
# learner must reach 100% train accuracy
HQ = [
    "alpha beta gamma delta", "beta gamma alpha", "delta alpha beta",
    "gamma delta beta alpha", "alpha gamma", "beta delta gamma",
]
LQ = [
    "zig zag zap zor", "zag zig zor", "zor zap zig",
    "zap zor zag zig", "zig zor", "zag zap zor",
]


def _rows():
    rows = [(i, "hq", t) for i, t in enumerate(HQ)]
    rows += [(100 + i, "lq", t) for i, t in enumerate(LQ)]
    return rows


def _np_reference(rows, classes, B, epochs, lr):
    """Single-machine reference: the exact model (hashed unigram+
    bigram features normalized per doc, mean cross-entropy full-batch
    GD) in plain numpy, portable md5 hash included."""
    feats, labels = {}, {}
    for did, y, text in rows:
        toks = [t for t in re.split(r"\s+", text or "") if t]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if not grams:
            continue
        cnt = {}
        for g in grams:
            b = int(
                hashlib.md5((CLF_SALT + g).encode()).hexdigest()[:15], 16
            ) % B
            cnt[b] = cnt.get(b, 0) + 1
        feats[did] = {b: m / len(grams) for b, m in cnt.items()}
        labels[did] = y
    N, C = len(feats), len(classes)
    W, bias = np.zeros((B, C)), np.zeros(C)
    for _ in range(epochs):
        G, gb = np.zeros_like(W), np.zeros(C)
        for did, f in feats.items():
            s = bias.copy()
            for b, x in f.items():
                s = s + x * W[b]
            p = np.exp(s - s.max())
            p /= p.sum()
            e = p.copy()
            e[classes.index(labels[did])] -= 1.0
            for b, x in f.items():
                G[b] += x * e
            gb += e
        W -= (lr / N) * G
        bias -= (lr / N) * gb
    return W, bias


def test_train_matches_numpy_reference(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, "doc_id long, label string, text string")
    model = train_quality_classifier(
        df, "text", "label", n_buckets=32, epochs=3, lr=1.0,
        round_dp=12,
    )
    assert model["classes"] == ["hq", "lq"]
    W_ref, b_ref = _np_reference(rows, model["classes"], 32, 3, 1.0)
    assert np.allclose(np.array(model["W"]), W_ref, atol=1e-9)
    assert np.allclose(np.array(model["bias"]), b_ref, atol=1e-9)


def test_learns_separable_corpus(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, "doc_id long, label string, text string")
    model = train_quality_classifier(
        df, "text", "label", n_buckets=64, epochs=5, lr=2.0
    )
    scored = apply_quality_classifier(
        df, model, "text", extra_cols=("label",)
    ).collect()
    assert len(scored) == len(rows)
    assert all(r["pred"] == r["label"] for r in scored), [
        (r["doc_id"], r["label"], r["pred"]) for r in scored
        if r["pred"] != r["label"]
    ]


def test_clf_features_match_expression_form(spark):
    """The batch-native clf_features (round-14 optimization: map-side
    mapInPandas replacing explode + two shuffles + join) must emit the
    EXACT row multiset of the expression form it replaced, including
    adversarial whitespace (Java-\\s-only splitting), empty/null docs,
    and repeated grams."""
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.operators.quality_clf import (
        CLF_SALT,
        clf_grams,
    )
    from arc_kinesis_tagging_spark.functions.text import stable_hash64

    rows = _rows() + [
        (900001, "hq", "a\tb\nc d\x0b e\f f\r g"),
        (900002, "lq", "nb sp one token; zh　ideographic too"),
        (900003, "hq", ""),
        (900004, "lq", None),
        (900005, "hq", "solo"),
        (900006, "lq", "rep rep rep rep"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, label string, text string")
    B = 32
    fast = clf_features(df, "text", "doc_id", B, extra_cols=("label",))
    g = clf_grams(df, "text", "doc_id", ("label",)).withColumn(
        "b", stable_hash64(F.concat(F.lit(CLF_SALT), F.col("g"))) % B
    )
    dm = g.groupBy("doc_id", "label", "b").agg(F.count(F.lit(1)).alias("m"))
    sizes = dm.groupBy("doc_id").agg(F.sum("m").alias("n_grams"))
    slow = dm.join(sizes, "doc_id").select(
        "doc_id", "label", "b", "n_grams",
        (F.col("m").cast("double") / F.col("n_grams")).alias("x"),
    )
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    assert fast.count() > 0


def test_epochs1_equals_closed_form(spark):
    """The hash-checked q_quality_clf_score computes the FIRST GD
    step in closed form (zero init => uniform softmax => errors
    1/C - 1[y=c]); the operator at epochs=1 must produce the same
    weights — the bridge that lets the oracle-checked query stand in
    for the iterative trainer's first step."""
    rows = _rows()
    df = spark.createDataFrame(rows, "doc_id long, label string, text string")
    model = train_quality_classifier(
        df, "text", "label", n_buckets=32, epochs=1, lr=0.5,
        round_dp=12,
    )
    frows = clf_features(
        df, "text", "doc_id", 32, extra_cols=("label",)
    ).collect()
    N = len({r["doc_id"] for r in frows})
    W = np.zeros((32, 2))
    for r in frows:
        e = np.array([0.5, 0.5])
        e[["hq", "lq"].index(r["label"])] -= 1.0
        W[int(r["b"])] -= (0.5 / N) * r["x"] * e
    assert np.allclose(np.array(model["W"]), W, atol=1e-9)


def test_apply_tiebreak_and_absent_docs(spark):
    """Unseen-feature docs score bias-only; with zero bias both
    classes tie and the FIRST class in sorted order wins (the
    deterministic tiebreak). Null/empty-text docs carry no features
    and are absent from the output (R16 upstream-gate semantics)."""
    model = {"classes": ["aa", "zz"],
             "W": [[0.0, 0.0]] * 16, "bias": [0.0, 0.0],
             "n_buckets": 16}
    df = spark.createDataFrame(
        [(1, "completely unseen words"), (2, None), (3, "   ")],
        "doc_id long, text string",
    )
    out = apply_quality_classifier(df, model, "text").collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["pred"] == "aa"
    assert out[0]["score"] == 0.0


def test_weights_table_shape(spark):
    model = {"classes": ["a", "b"], "W": [[1.0, 2.0], [3.0, 4.0]],
             "bias": [0.5, -0.5], "n_buckets": 2}
    rows = weights_table(spark, model).collect()
    assert len(rows) == (2 + 1) * 2
    bias_rows = {(r["label"], r["w"]) for r in rows if r["b"] == BIAS_BUCKET}
    assert bias_rows == {("a", 0.5), ("b", -0.5)}


def test_single_class_raises(spark):
    df = spark.createDataFrame([(1, "x", "t")],
                               "doc_id long, label string, text string")
    with pytest.raises(ValueError):
        train_quality_classifier(df, "text", "label", n_buckets=8)


def test_large_bucket_join_fallback_matches_literal(spark, monkeypatch):
    """Above LITERAL_WEIGHTS_MAX_BUCKETS the weights ride as a
    broadcast join instead of constant-folded literal arrays (round-14
    advice: 2^18-bucket hashed-feature models must not become
    half-million-node expression trees). Both vehicles must produce
    identical trained weights and identical scores."""
    import arc_kinesis_tagging_spark.operators.quality_clf as qc

    df = spark.createDataFrame(_rows(), "doc_id long, label string, text string")

    def run():
        model = train_quality_classifier(
            df, "text", "label", n_buckets=64, epochs=2)
        preds = apply_quality_classifier(df, model, "text").collect()
        return model, sorted((r["doc_id"], r["pred"], r["score"]) for r in preds)

    lit_model, lit_preds = run()
    # force the join fallback at this tiny bucket count
    monkeypatch.setattr(qc, "LITERAL_WEIGHTS_MAX_BUCKETS", 0)
    join_model, join_preds = run()
    assert join_model == lit_model
    assert join_preds == lit_preds


def test_clf_features_arrays_match_row_form(spark):
    """clf_features_arrays (round-15: per-doc array packing feeding
    the zero-shuffle-epoch trainer) must carry exactly the row form's
    (id, label, b, x) pairs — same buckets, same IEEE x values, same
    per-doc emission order collapsed to a multiset — across the same
    adversarial corpus as the row-form equivalence test."""
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.operators.quality_clf import (
        clf_features_arrays,
    )

    rows = _rows() + [
        (900001, "hq", "a\tb\nc d\x0b e\f f\r g"),
        (900002, "lq", "nb sp one token; zh　ideographic too"),
        (900003, "hq", ""),
        (900004, "lq", None),
        (900005, "hq", "solo"),
        (900006, "lq", "rep rep rep rep"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, label string, text string")
    B = 32
    arr = clf_features_arrays(df, "text", "doc_id", B, extra_cols=("label",))
    unpacked = arr.select(
        "doc_id", "label",
        F.explode(
            F.zip_with(
                "bs", "xs",
                lambda b, x: F.struct(b.alias("b"), x.alias("x")),
            )
        ).alias("f"),
    ).select("doc_id", "label", "f.b", "f.x")
    rowform = clf_features(
        df, "text", "doc_id", B, extra_cols=("label",)
    ).select("doc_id", "label", "b", "x")
    assert unpacked.exceptAll(rowform).count() == 0
    assert rowform.exceptAll(unpacked).count() == 0
    assert arr.count() > 0


def _train_rowform(
    df, text_col, label_col, id_col, n_buckets, epochs, lr,
    round_dp, classes,
) -> dict:
    """Reference trainer: the round-14 row-form GD loop. Per epoch a
    doc-keyed score aggregate over (doc, bucket, x) rows with the
    weights attached by ``_weight_cols`` (literal arrays up to
    LITERAL_WEIGHTS_MAX_BUCKETS, a broadcast table join above), Spark
    softmax-error expressions, a join back and a bucket-keyed gradient
    aggregate whose b=BIAS_BUCKET row carries the bias gradient."""
    spark = df.sparkSession
    C = len(classes)
    feats = clf_features(
        df, text_col, id_col, n_buckets, extra_cols=(label_col,)
    ).localCheckpoint(eager=True)
    ids = feats.select(id_col).distinct().localCheckpoint(eager=True)
    n_docs = ids.count()
    feats_grad = feats.select(id_col, "b", "x").unionByName(
        ids.select(
            F.col(id_col),
            F.lit(BIAS_BUCKET).cast("long").alias("b"),
            F.lit(1.0).alias("x"),
        )
    ).localCheckpoint(eager=True)
    W = np.zeros((n_buckets, C))
    bias = np.zeros(C)
    for _ in range(epochs):
        fw, wcols = _weight_cols(spark, W, bias, n_buckets, feats, C)
        s = fw.groupBy(id_col, label_col).agg(*[
            (
                F.sum(F.col("x") * wcols[c]) + F.lit(float(bias[c]))
            ).alias(f"s{c}")
            for c in range(C)
        ])
        m = F.greatest(*[F.col(f"s{c}") for c in range(C)])
        exps = [F.exp(F.col(f"s{c}") - m) for c in range(C)]
        z = exps[0]
        for e in exps[1:]:
            z = z + e
        err = s.select(
            id_col,
            *[
                (exps[c] / z
                 - (F.col(label_col) == F.lit(classes[c])).cast("double")
                 ).alias(f"e{c}")
                for c in range(C)
            ],
        )
        grad_rows = (
            feats_grad.join(err, id_col)
            .groupBy("b")
            .agg(*[
                F.sum(F.col("x") * F.col(f"e{c}")).alias(f"g{c}")
                for c in range(C)
            ])
            .collect()
        )
        G = np.zeros_like(W)
        gb = np.zeros(C)
        for r in grad_rows:
            if r["b"] == BIAS_BUCKET:
                gb = np.array([r[f"g{c}"] for c in range(C)])
            else:
                G[r["b"]] = [r[f"g{c}"] for c in range(C)]
        W -= (lr / n_docs) * G
        bias -= (lr / n_docs) * gb
    return {
        "classes": classes,
        "W": np.round(W, round_dp).tolist(),
        "bias": np.round(bias, round_dp).tolist(),
        "n_buckets": n_buckets,
    }


def test_arrayform_trainer_matches_rowform(spark):
    """The numpy-epoch trainer (_train_arrayform: one map-only Arrow
    pass per epoch, driver-summed partial gradients) must return the
    IDENTICAL rounded model as the row-form GD reference on the docs
    fixture, below the literal-weight bound (64 buckets) and above it
    (8192, where the reference's weights ride as a broadcast join):
    the array form is the only trainer at every bucket count."""
    import arc_kinesis_tagging_spark.operators.quality_clf as qc

    # an unlabeled doc must contribute nothing in either form
    df = spark.createDataFrame(
        _rows() + [(999, None, HQ[0])], "doc_id long, label string, text string"
    )
    classes = sorted(
        r[0] for r in df.select("label").distinct().collect()
        if r[0] is not None
    )
    assert 64 <= qc.LITERAL_WEIGHTS_MAX_BUCKETS < 8192
    for n_buckets in (64, 8192):
        m_arr = qc._train_arrayform(
            df, "text", "label", "doc_id", n_buckets, 3, 0.5, 6, classes)
        m_row = _train_rowform(
            df, "text", "label", "doc_id", n_buckets, 3, 0.5, 6, classes)
        assert m_arr == m_row, n_buckets
