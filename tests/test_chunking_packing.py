"""Chunking / packing / PII scrub / contamination operators, plus
equivalence tests for the two size-adaptive fast paths (driver-side
union-find vs distributed label propagation; cell-pruned cosine
threshold join vs numpy brute force)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.functions.text import pii_scrub_exprs
from arc_kinesis_tagging_spark.operators.chunking import (
    chunk_documents,
    pack_token_spans,
)
from arc_kinesis_tagging_spark.operators.clusters import connected_components
from arc_kinesis_tagging_spark.operators.dedup import contamination_pairs
from arc_kinesis_tagging_spark.operators.similarity import cosine_threshold_pairs


def test_chunk_documents_windows(spark):
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    rows = chunk_documents(df, chunk_size=4, stride=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 1,4,7,10 -> 4 chunks; last has 1 token
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_text"] for r in c1] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9", "w9",
    ]
    assert [r["chunk_tokens"] for r in c1] == [4, 4, 4, 1]
    # short doc: one truncated chunk; empty doc: no chunks
    assert [r["chunk_text"] for r in by_doc[2]] == ["a b"]
    assert 3 not in by_doc


def test_pack_token_spans_invariants(spark):
    rows = [(i, "s%d" % (i % 2), " ".join(["t"] * (7 + i % 13))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_token_spans(df, "text", "doc_id", "source", capacity=32).collect()
    # every document's tokens are fully assigned
    per_doc = {}
    for r in out:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["tokens_in_window"]
    expected = {i: 7 + i % 13 for i in range(200)}
    assert per_doc == expected
    # windows are exactly capacity-full except the last one per source
    per_win = {}
    for r in out:
        k = (r["source"], r["window_id"])
        per_win[k] = per_win.get(k, 0) + r["tokens_in_window"]
    for src in {"s0", "s1"}:
        wins = sorted(k[1] for k in per_win if k[0] == src)
        assert wins == list(range(len(wins)))  # contiguous window ids
        for w in wins[:-1]:
            assert per_win[(src, w)] == 32
        assert per_win[(src, wins[-1])] <= 32


def test_pii_scrub_patterns(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.example.org thanks"),
            (2, "call 555-123-4567 or 555 123 4567"),
            (3, "order 123456789 shipped"),
            (4, "clean text only"),
        ],
        "id long, text string",
    )
    exprs = pii_scrub_exprs(F.col("text"))
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            exprs["scrubbed"].alias("s"),
            exprs["n_email"].alias("ne"),
            exprs["n_phone"].alias("np"),
            exprs["n_digits"].alias("nd"),
        ).collect()
    }
    assert got[1]["s"] == "mail me at <EMAIL> thanks" and got[1]["ne"] == 1
    assert got[2]["s"] == "call <PHONE> or <PHONE>" and got[2]["np"] == 2
    assert got[3]["s"] == "order <NUM> shipped" and got[3]["nd"] == 1
    assert got[4]["s"] == "clean text only"
    assert (got[4]["ne"], got[4]["np"], got[4]["nd"]) == (0, 0, 0)


def test_contamination_pairs_planted(spark):
    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [
            (1, bench_text),                      # identical -> contaminated
            (2, "alpha beta gamma nothing else here at all"),  # 1 shared 3-gram
            (3, "completely unrelated words in this row ok"),
            (100, bench_text),                    # the benchmark doc itself
        ],
        "doc_id long, text string",
    )
    bench = corpus.filter(F.col("doc_id") == 100)
    out = contamination_pairs(corpus, bench, "text", "doc_id", shingle_n=3, min_shared=3)
    rows = {(r["doc_key"], r["bench_key"]): r["n_shared"] for r in out.collect()}
    assert rows == {(1, 100): 6}  # 8 tokens -> 6 distinct 3-grams, all shared


def test_connected_components_paths_agree(spark):
    rng = np.random.default_rng(7)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, size=(80, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "key_a long, key_b long")
    fast = {
        (r["node"], r["component"]) for r in connected_components(pairs).collect()
    }
    slow = {
        (r["node"], r["component"])
        for r in connected_components(pairs, driver_edge_limit=0).collect()
    }
    assert fast == slow and len(fast) > 0


def test_cosine_threshold_pairs_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 8))
    # plant near-duplicates so the threshold set is non-trivial
    vecs = np.vstack([base, base[:10] + rng.normal(scale=0.05, size=(10, 8))])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    thr = 0.8
    got = {
        (r["id_a"], r["id_b"]) for r in cosine_threshold_pairs(df, thr, nlist=4).collect()
    }
    Vn = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    S = Vn @ Vn.T
    want = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if S[i, j] >= thr
    }
    assert got == want and len(want) >= 10


def test_cosine_threshold_pairs_cos_sim_is_the_hof_value_bit_for_bit(spark):
    """The kernel's cos_sim is the value SQL oracles round: it must be
    ``functions/vectors.cosine_similarity``'s double bit for bit (as an
    int64 view), on float and double arrays, over scaled duplicates at
    cos ~ 1, near-duplicates, a zero vector and a null, at a negative
    threshold (the zero vector qualifies) and up to cos ~ 1."""
    from arc_kinesis_tagging_spark.functions.vectors import cosine_similarity

    def bits(pdf):
        view = pdf["cos_sim"].to_numpy(np.float64).view(np.int64)
        return dict(zip(zip(pdf["id_a"], pdf["id_b"]), view))

    rng = np.random.default_rng(5)
    base = rng.normal(size=(30, 16))
    vecs = [*base, *(base[:10] * 3.0), *(base[:10] + rng.normal(scale=0.05, size=(10, 16)))]
    # float arrays hold float32-rounded values; double arrays keep full
    # 53-bit mantissas, so their products round too
    for typ, dtype in (("float", np.float32), ("double", np.float64)):
        rows = [(i, np.asarray(v, dtype).tolist()) for i, v in enumerate(vecs)]
        rows += [(len(rows), [0.0] * 16), (len(rows) + 1, None)]
        df = spark.createDataFrame(rows, f"vec_id long, embedding array<{typ}>")
        a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
        b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
        hof = (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", cosine_similarity(F.col("va"), F.col("vb")).alias("cos_sim"))
        ).toPandas()
        for thr in (-0.3, 0.2, 0.9, 0.999999):
            want = hof[hof["cos_sim"] >= thr]
            got = cosine_threshold_pairs(df, thr, nlist=4).toPandas()
            assert bits(got) == bits(want), (typ, thr)
            assert len(want) >= 10


def test_cosine_threshold_pairs_runs_five_jobs(spark, sf_dir):
    """Centroid collect, assignment pin, radii collect, and the one
    Exchange's map and result stages: 5 jobs. The cell pairs are
    computed on the driver and the exact cosine inside the kernel, so
    neither costs a job, and ``stats=`` costs none either."""
    from arc_kinesis_tagging_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("threshold-pairs", "threshold-pairs")
    try:
        stats = {}
        n = len(cosine_threshold_pairs(e, 0.35, nlist=16, stats=stats).toPandas())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("threshold-pairs")
    assert n > 0 and 0 < stats["n_cell_pairs"] <= 16 * 16
    assert len(jobs) <= 5, jobs


def test_srp_lsh_recall_vs_exact(spark):
    from arc_kinesis_tagging_spark.operators.similarity import srp_lsh_pairs

    rng = np.random.default_rng(3)
    base = rng.normal(size=(60, 16))
    # planted high-similarity pairs (small perturbations)
    vecs = np.vstack([base, base[:20] + rng.normal(scale=0.03, size=(20, 16))])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    thr = 0.9
    got = {
        (r["id_a"], r["id_b"])
        for r in srp_lsh_pairs(df, thr, n_bits=64, bands=16, seed=7).collect()
    }
    Vn = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    S = Vn @ Vn.T
    want = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if S[i, j] >= thr
    }
    assert len(want) >= 20
    # every reported pair is a true pair (verification is exact) ...
    assert got <= want
    # ... and banding at 16 bands x 4 bits gives near-total recall at
    # cos >= 0.9 (per-band p ~ 0.52, 1-(1-p^4)^16 ~ 0.93+)
    recall = len(got & want) / len(want)
    assert recall >= 0.85, f"recall {recall:.2f}"


def test_null_embeddings_ignored_not_crashing(spark):
    from arc_kinesis_tagging_spark.operators.similarity import (
        cosine_topk_bruteforce_np,
        srp_lsh_pairs,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.99, 0.01]), (4, None)],
        "vec_id long, embedding array<double>",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in cosine_threshold_pairs(df, 0.9, nlist=2).collect()}
    assert pairs == {(1, 3)}
    lsh = {(r["id_a"], r["id_b"]) for r in srp_lsh_pairs(df, 0.9, n_bits=32, bands=8).collect()}
    assert lsh <= {(1, 3)}
    q = spark.createDataFrame([(9, [1.0, 0.0]), (10, None)], "query_id long, embedding array<double>")
    top = cosine_topk_bruteforce_np(df, q, k=2).collect()
    assert {r["query_id"] for r in top} == {9}
    assert {r["vec_id"] for r in top} == {1, 3}


def test_ffd_packing_properties(spark, sf_dir):
    """FFD bin packing: every doc packed exactly once, no shared bin
    exceeds capacity, oversize docs isolated and flagged, bin count
    beats-or-ties the naive sequential packer per source, and the
    assignment is repartition-invariant (deterministic)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.operators.chunking import pack_bins_ffd
    from arc_kinesis_tagging_spark.sources.tables import load_table

    cap = 256
    d = load_table(spark, "documents", sf_dir)
    rows = pack_bins_ffd(d, capacity=cap).collect()
    n_docs_with_tokens = d.filter(
        F.size(F.split(F.trim("text"), " ")) >= 1
    ).filter(F.length(F.trim("text")) > 0).count()

    seen = set()
    fills: dict = defaultdict(lambda: defaultdict(int))
    lens: dict = defaultdict(list)
    for r in rows:
        assert r["doc_id"] not in seen
        seen.add(r["doc_id"])
        key = (r["source"], r["bin_id"])
        if r["oversize"]:
            assert r["n_tokens"] > cap
            assert fills[r["source"]][r["bin_id"]] == 0
            fills[r["source"]][r["bin_id"]] = -1  # poisoned: must stay solo
        else:
            assert fills[r["source"]][r["bin_id"]] >= 0, key
            fills[r["source"]][r["bin_id"]] += r["n_tokens"]
        lens[r["source"]].append(r["n_tokens"])
    assert len(seen) == n_docs_with_tokens
    for src, bins in fills.items():
        for b, fill in bins.items():
            assert fill == -1 or fill <= cap, (src, b, fill)
        # FFD bin count <= naive in-order sequential packing
        naive_bins, cur = 1, 0
        for n in lens[src]:
            n = min(n, cap + 1)
            if n > cap:
                naive_bins += 1
                cur = 0
                continue
            if cur + n > cap:
                naive_bins += 1
                cur = n
            else:
                cur += n
        assert len(bins) <= naive_bins + 1, src

    again = pack_bins_ffd(d.repartition(13), capacity=cap).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
