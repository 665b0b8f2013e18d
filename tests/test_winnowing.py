"""Winnowing fingerprints (plans/llmops.py:q_text_winnowing): parity
with an independent pure-Python implementation of the
Schleimer/Wilkerson/Aiken algorithm (k=5, w=4, rightmost-min robust
rule), and the paper's coverage guarantee — two documents sharing a
substring of length >= k + w - 1 share a fingerprint hash.
"""

import hashlib
import os
import random
import tempfile

from arc_kinesis_tagging_spark.plans.llmops import q_text_winnowing
from arc_kinesis_tagging_spark.sources.tables import load_table

K, W = 5, 4


def _h(gram: str) -> int:
    return int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:15], 16)


def _winnow(text: str):
    """Reference winnowing: selected set of (pos, hash), 1-based
    positions, rightmost minimum per window."""
    hs = [_h(text[i : i + K]) for i in range(len(text) - K + 1)]
    sel = set()
    for j in range(len(hs) - W + 1):
        best_h, best_p = None, None
        for o in range(W):
            if best_h is None or hs[j + o] <= best_h:
                best_h, best_p = hs[j + o], j + o
        sel.add((best_p + 1, best_h))
    return sel


def test_winnowing_matches_python_reference(spark, sf_dir):
    rows = {r["doc_id"]: r for r in q_text_winnowing(spark, sf_dir).collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .collect()
    }
    assert set(rows) == set(docs)
    for did, text in docs.items():
        sel = _winnow(text)
        want_xor = 0
        for _p, h in sel:
            want_xor ^= h
        r = rows[did]
        assert r["n_grams"] == max(len(text) - K + 1, 0), did
        assert r["n_fps"] == len(sel), did
        assert r["fp_xor"] == want_xor, did


def test_winnowing_shared_substring_guarantee(spark):
    """Any substring of length >= k + w - 1 = 8 shared between two
    documents forces at least one common selected hash — the MOSS
    detection guarantee. Build pairs embedding the same 12-char needle
    in different contexts and check fingerprint intersection."""
    needle = "abcdewxyz123"
    docs = [
        (0, f"prefix-one {needle} suffix-one"),
        (1, f"Z{needle}Z totally different padding text here"),
        (2, "no shared needle anywhere in this document at all"),
    ]
    sels = {did: {h for _p, h in _winnow(t)} for did, t in docs}
    assert sels[0] & sels[1], "shared 12-char substring must intersect"

    # and the Spark side reproduces those fingerprints' XOR/count
    _rows_vs_reference(spark, docs)


def _rows_vs_reference(spark, docs, max_batch_rows=None):
    """Run q_text_winnowing over ``docs`` [(doc_id, text)] and assert
    every row equals the pure-Python reference; returns the rows by
    doc_id. ``max_batch_rows`` caps the Arrow batch the kernel sees."""
    d = tempfile.mkdtemp()
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if max_batch_rows is not None:
        spark.conf.set(key, str(max_batch_rows))
    try:
        rows = {r["doc_id"]: r for r in q_text_winnowing(spark, d).collect()}
    finally:
        spark.conf.set(key, old)
    assert len(rows) == len(docs)
    for did, t in docs:
        sel = _winnow(t)
        want_xor = 0
        for _p, h in sel:
            want_xor ^= h
        r = rows[did]
        assert r["n_grams"] == max(len(t) - K + 1, 0), did
        assert (r["n_fps"], r["fp_xor"]) == (len(sel), want_xor), did
    return rows


def _word_soup_docs(n=48, seed=11):
    """Docs drawn from a 40-word vocabulary: most 5-grams repeat inside
    an Arrow batch, at different offsets in different docs, so most
    grams are memo hits."""
    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(2, 9)))
        for _ in range(40)
    ]
    docs = [" ".join(rng.choice(vocab) for _ in range(rng.randint(350, 600))) for _ in range(n)]
    return docs + ["ab", "abcdefg", ""]


def _high_entropy_docs(n=16, seed=12):
    """Seeded docs over 69 symbols, non-ASCII included: almost no
    5-gram repeats (a few chance collisions in 69**5), so every gram
    is a memo miss. The first doc alone has more grams than the
    memo's 2**16 cap, so whatever the partitioning, one batch hashes
    its last grams without storing them."""
    rng = random.Random(seed)
    sym = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789éüßñçøå"
    lens = [70_000] + [3_000] * (n - 1)
    docs = ["".join(rng.choice(sym) for _ in range(L)) for L in lens]
    grams = [t[i : i + K] for t in docs for i in range(len(t) - K + 1)]
    assert len(set(grams)) > 0.999 * len(grams)
    return docs


def test_winnowing_short_and_tie_edge(spark):
    """Docs shorter than k + w - 1 emit no fingerprint (0, 0); a
    repeated-character doc (all gram hashes equal) exercises the
    rightmost-tie rule — every window selects its LAST gram, so the
    fingerprint count equals the window count. Every edge shape
    (empty, sub-k, exactly k, exactly k + w - 1, multibyte, periodic
    ties) also matches the pure-Python reference, and so do word-soup
    and high-entropy docs through the kernel's gram memo."""
    docs = [
        (0, "short"),              # exactly k chars: 1 gram, no window
        (1, "aaaaaaaaaaaa"),       # all-tie hashes: rightmost rule
        (2, ""),                   # empty
        (3, "tiny"),               # < k chars: 0 grams
        (4, "abcdefgh"),           # exactly k+w-1: one window
        (5, "naïve café ütf-8 ラーメン text"),  # multibyte chars
        (6, "ab ab ab ab ab ab"),  # periodic ties
        (7, "the quick brown fox jumps over the lazy dog"),
    ]
    rows = _rows_vs_reference(spark, docs)

    assert (rows[0]["n_fps"], rows[0]["fp_xor"]) == (0, 0)  # 1 gram, no window
    assert (rows[2]["n_grams"], rows[2]["n_fps"], rows[2]["fp_xor"]) == (0, 0, 0)

    t = "aaaaaaaaaaaa"  # 12 chars -> 8 grams -> 5 windows, all ties
    sel = _winnow(t)
    # rightmost rule: window j selects position j + W (1-based), all
    # sharing one hash value -> 5 distinct (pos, hash) pairs, XOR of an
    # odd count of equal hashes = the hash itself
    assert rows[1]["n_fps"] == len(sel) == 5
    assert rows[1]["fp_xor"] == _h("aaaaa")

    assert rows[4]["n_fps"] == 1  # one window, one fingerprint

    # The kernel memoizes gram -> hash per Arrow batch (at most 2**16
    # grams). Four docs per batch, so the memo restarts at every batch
    # boundary: word soup shares grams across docs at different
    # offsets (memo hits), high-entropy text repeats none and one of
    # its batches passes the cap.
    for make_docs in (_word_soup_docs, _high_entropy_docs):
        _rows_vs_reference(spark, list(enumerate(make_docs())), max_batch_rows=4)


def _winnow_expression_form(docs_df):
    """The pure-Catalyst expression form of q_text_winnowing (nested
    HOF transform/aggregate over the md5 gram-hash array), kept here as
    an independent witness for the mapInPandas kernel."""
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.functions.text import stable_hash64

    text = F.col("text")
    ng = F.greatest(F.length(text) - F.lit(K - 1), F.lit(0))
    gram_idx = F.when(ng >= 1, F.sequence(F.lit(1), ng)).otherwise(
        F.array().cast("array<int>")
    )
    with_h = docs_df.select(
        "doc_id",
        ng.cast("long").alias("n_grams"),
        F.transform(
            gram_idx, lambda i: stable_hash64(text.substr(i, F.lit(K)))
        ).alias("hs"),
    )
    nw = F.greatest(F.size(F.col("hs")) - F.lit(W - 1), F.lit(0))
    win_idx = F.when(nw >= 1, F.sequence(F.lit(1), nw)).otherwise(
        F.array().cast("array<int>")
    )
    # rightmost argmin per window: fold offsets left->right, <= keeps
    # the later (higher-position) gram on equal hashes
    sel = F.transform(
        win_idx,
        lambda j: F.aggregate(
            F.sequence(F.lit(0), F.lit(W - 1)),
            F.struct(
                F.lit((1 << 63) - 1).cast("long").alias("h"),
                F.lit(-1).alias("p"),
            ),
            lambda acc, o: F.when(
                F.element_at(F.col("hs"), (j + o).cast("int")) <= acc["h"],
                F.struct(
                    F.element_at(F.col("hs"), (j + o).cast("int")).alias("h"),
                    (j + o).cast("int").alias("p"),
                ),
            ).otherwise(acc),
        ),
    )
    fps = F.array_distinct(sel)
    return with_h.select(
        "doc_id",
        "n_grams",
        F.size(fps).cast("long").alias("n_fps"),
        F.aggregate(
            fps, F.lit(0).cast("long"), lambda a, s: a.bitwiseXOR(s["h"])
        ).alias("fp_xor"),
    )


def test_winnowing_kernel_matches_expression_form(spark):
    """The batch-native kernel produces the IDENTICAL rows as the
    pure-Catalyst expression form (same md5 gram hashes, same
    rightmost-min tie rule, same distinct-pair count and xor) over edge
    shapes (empty, sub-k, sub-window, all-ties, multibyte)."""
    import os
    import tempfile

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "aaaaaaaaaaaa"),       # all-tie hashes: rightmost rule
        (2, "short"),              # exactly k chars: 1 gram, no window
        (3, "tiny"),               # < k chars: 0 grams
        (4, ""),                   # empty
        (5, "abcdefgh"),           # exactly k+w-1: one window
        (6, "naïve café ütf-8 ラーメン text"),  # multibyte chars
        (7, "ab ab ab ab ab ab"),  # periodic ties
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    kern = sorted(map(tuple, q_text_winnowing(spark, d).collect()))
    expr = sorted(map(tuple, _winnow_expression_form(df).collect()))
    assert kern == expr
    assert len(kern) == len(docs)
