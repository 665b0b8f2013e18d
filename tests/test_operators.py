"""Operator semantics tests: as-of/interval joins against naive
formulations, LSH dedup against exact Jaccard, IVF against brute
force — the cross-checks the DuckDB oracle can't express."""

from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.operators.dedup import (
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from arc_kinesis_tagging_spark.operators.joins import asof_join, interval_join
from arc_kinesis_tagging_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
)
from arc_kinesis_tagging_spark.sources.tables import load_table


def test_asof_join_matches_naive(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "ts")
    orders = load_table(spark, "orders", sf_dir).select("o_custkey", "o_orderdate")
    fast = asof_join(
        ev.withColumnRenamed("user_id", "o_custkey"),
        orders,
        on=["o_custkey"],
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderdate"],
    ).select("event_id", F.col("asof_o_orderdate").alias("m"))
    # naive: join-all + max
    naive = (
        ev.join(orders, (ev["user_id"] == orders["o_custkey"]) & (orders["o_orderdate"] <= ev["ts"]))
        .groupBy("event_id")
        .agg(F.max("o_orderdate").alias("m"))
    )
    fast_map = {r["event_id"]: r["m"] for r in fast.collect() if r["m"] is not None}
    naive_map = {r["event_id"]: r["m"] for r in naive.collect()}
    assert fast_map == naive_map and len(fast_map) > 0


def test_interval_join_matches_naive(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("win_end"),
        F.col("event_id").alias("error_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    fast = interval_join(
        purchases, "ts", errors, "win_start", "win_end", 7200, extra_on=["user_id"]
    ).select("event_id", "error_id")
    naive = purchases.alias("p").join(
        errors.alias("e"),
        (F.col("p.user_id") == F.col("e.user_id"))
        & (F.col("p.ts") >= F.col("e.win_start"))
        & (F.col("p.ts") < F.col("e.win_end")),
    ).select("event_id", "error_id")
    assert {tuple(r) for r in fast.collect()} == {tuple(r) for r in naive.collect()}


def test_minhash_finds_exact_jaccard_pairs(spark, sf_dir):
    """Every high-jaccard pair (well above threshold) must be found by
    the LSH candidate generation; reported jaccard (hash-set based)
    must be close to the exact string-shingle jaccard."""
    docs = load_table(spark, "documents", sf_dir)
    exact = {
        (r["key_a"], r["key_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5, shingle_n=3).collect()
    }
    found = {
        (r["key_a"], r["key_b"]): r["jaccard"]
        for r in minhash_near_duplicates(
            # 16 bands x 2 rows: P(miss) < 0.1% at jaccard 0.7
            docs, "text", "doc_id", n_hashes=32, bands=16, shingle_n=3, jaccard_threshold=0.3
        ).collect()
    }
    strong = {p for p, j in exact.items() if j >= 0.7}
    missed = strong - set(found)
    assert not missed, f"LSH missed strong pairs: {missed}"
    for p in strong:
        assert abs(found[p] - exact[p]) < 0.05


def test_hashed_shingle_rows_match_expression_form(spark, sf_dir):
    """The batch-native shingle hasher (round-14 optimization:
    mapInPandas hashlib-md5 replacing interpreted Catalyst HOFs in
    the jaccard/containment joins) must emit the EXACT row multiset
    of the expression form — same Java-regex tokenizer semantics,
    same single-space shingle join, same md5-prefix hash — for both
    word-3-gram shingles and the unigram (n=1) case, including
    adversarial whitespace (tabs/newlines/NBSP: Java's \\s splits on
    the former, not the latter) and short/empty/null docs."""
    from arc_kinesis_tagging_spark.operators.dedup import (
        _hashed_shingle_rows,
        _hashed_shingle_set,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (900001, "a\tb\nc d\x0b e\f f\r g"),  # every Java \s class char
            (900002, "nb\u00a0sp is one token; zh\u3000ideographic too"),
            (900003, "two tokens"),  # < n: no shingles at n=3
            (900004, ""),
            (900005, None),
            (900006, "   leading and   trailing   "),
            (900007, "rep rep rep rep rep rep"),  # duplicate shingles
        ],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)
    for n in (3, 1):
        fast = _hashed_shingle_rows(both, "text", "doc_id", n)
        slow = both.select(
            F.col("doc_id").alias("key"),
            F.explode(_hashed_shingle_set("text", n)).alias("tok"),
        )
        assert fast.exceptAll(slow).count() == 0
        assert slow.exceptAll(fast).count() == 0
        assert fast.count() > 0


def test_contamination_shingle_rows_match_expression_form(spark, sf_dir):
    """contamination_pairs' batch-native STRING shingle emitter must
    equal explode(array_distinct(shingles(...))) row-for-row — same
    Java-\\s tokenizer, same single-space join (round-14)."""
    from arc_kinesis_tagging_spark.functions.text import shingles
    from arc_kinesis_tagging_spark.operators.dedup import contamination_pairs

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (900001, "a\tb\nc d\x0b e\f f\r g h i j"),
            (900002, "nb sp one token; zh　ideographic too"),
            (900003, "two tokens"),
            (900004, ""),
            (900005, None),
            (900006, "rep rep rep rep rep rep"),
        ],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)
    # compare through the public operator: the full self-contamination
    # pair table is a function of exactly the per-doc distinct shingle
    # multisets, so operator-vs-expression pair equality pins the
    # emitter (and exercises the real join path)
    got = contamination_pairs(
        both, both, "text", "doc_id", shingle_n=3, min_shared=1
    )
    sh = both.select(
        F.col("doc_id").alias("k"),
        F.explode(F.array_distinct(shingles(F.col("text"), 3))).alias("__sh"),
    )
    a = sh.select(F.col("k").alias("doc_key"), "__sh")
    b = sh.select(F.col("k").alias("bench_key"), "__sh")
    want = (
        a.join(b, "__sh")
        .filter(F.col("doc_key") != F.col("bench_key"))
        .groupBy("doc_key", "bench_key")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 1)
    )
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_simhash_self_similarity(spark, sf_dir):
    """Pigeonhole guarantee: with 12 bands over 60 bits, EVERY pair
    within hamming 11 shares an exact band, so near-identical docs
    (duplicated with a one-token tweak) must all be found."""
    from arc_kinesis_tagging_spark.operators.dedup import _simhash64

    docs = load_table(spark, "documents", sf_dir).limit(50)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extra"))
    )
    both = docs.unionByName(dup)
    sims = {
        r["doc_id"]: r["sim"]
        for r in both.select("doc_id", _simhash64("text").alias("sim")).collect()
    }
    expected = {
        (i, i + 100000)
        for i in sims
        if i < 100000 and bin(sims[i] ^ sims[i + 100000]).count("1") <= 11
    }
    pairs = simhash_near_duplicates(both, "text", "doc_id", max_hamming=11, bands=12).collect()
    got = {(r["key_a"], r["key_b"]) for r in pairs}
    assert len(expected) >= 40  # the tweak is small: most dups are close
    assert expected <= got


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    brute = cosine_topk_bruteforce(emb, q, k=5)
    ivf = cosine_topk_ivf(emb, q, k=5, nlist=8, nprobe=4)
    b = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    i = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    recall = len(b & i) / len(b)
    assert recall >= 0.5, f"IVF recall {recall} too low"
    # every query's own vector must be its top hit in both
    for qid in range(10):
        assert (qid, qid) in b and (qid, qid) in i


def test_numpy_kernel_matches_hof_topk(spark, sf_dir):
    """The BLAS scoring kernel and the HOF scorer select identical
    top-k sets (float accumulation differs at ulp level, far below the
    similarity gaps between neighbors)."""
    from arc_kinesis_tagging_spark.operators.similarity import cosine_topk_bruteforce_np

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    hof = {(r["query_id"], r["rank"]): r["vec_id"] for r in cosine_topk_bruteforce(emb, q, k=5).collect()}
    npk = {(r["query_id"], r["rank"]): r["vec_id"] for r in cosine_topk_bruteforce_np(emb, q, k=5).collect()}
    assert hof == npk


def test_pq_assign_codebook_fixpoints_and_parity(spark, sf_dir):
    """PQ assignment: the 16 codebook vectors must quantize to
    themselves with zero reconstruction error (codes = own rank,
    err_u6 = 0), every code lies in [0, ksub), and the whole
    assignment matches an independent numpy replica."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.similarity import pq_assign
    from arc_kinesis_tagging_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    rows = {r["vec_id"]: r for r in pq_assign(emb, 4, 16).collect()}

    raw = sorted(
        ((r["vec_id"], list(r["embedding"])) for r in emb.collect()),
        key=lambda t: t[0],
    )
    C = np.array([v for _, v in raw[:16]], np.float64)
    for rank, (vid, _) in enumerate(raw[:16]):
        r = rows[vid]
        assert (r["code0"], r["code1"], r["code2"], r["code3"]) == (rank,) * 4
        assert r["err_u6"] == 0, r

    for vid, vec in raw:
        V = np.array(vec, np.float64)
        want_err = 0
        for m in range(4):
            s, e = m * 16, (m + 1) * 16
            d = np.floor(((V[s:e] - C[:, s:e]) ** 2).sum(axis=1) * 1e6 + 0.5)
            code = int(np.argmin(d))
            assert rows[vid][f"code{m}"] == code, (vid, m)
            want_err += int(d[code])
        assert rows[vid]["err_u6"] == want_err, vid
        assert all(0 <= rows[vid][f"code{m}"] < 16 for m in range(4))


def test_pq_adc_selfhit_and_shape(spark, sf_dir):
    """ADC sanity: the first-five queries are codebook vectors, so
    each query's rank-1 hit is itself at distance 0 (its codes
    reconstruct it exactly); every query returns exactly k rows with
    ranks 1..k and non-decreasing distances."""
    from arc_kinesis_tagging_spark.operators.similarity import pq_adc_topk
    from arc_kinesis_tagging_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = pq_adc_topk(e, q, k=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3, 4, 5]
        assert rs[0]["vec_id"] == qid and rs[0]["adc_u6"] == 0
        dists = [r["adc_u6"] for r in rs]
        assert dists == sorted(dists)


def test_pq_blocking_recalls_near_duplicates(spark, sf_dir):
    """PQ-code blocking must recall the tightest near-duplicate pairs:
    every exact-threshold pair at cos >= 0.999 (quantization-identical
    territory) appears in the blocked candidate set, and every emitted
    pair genuinely shares its full code tuple."""
    from arc_kinesis_tagging_spark.operators.similarity import pq_assign
    from arc_kinesis_tagging_spark.plans.llmops import q_dedup_embedding_pq
    from arc_kinesis_tagging_spark.sources.tables import load_table

    import numpy as np

    got = {(r["id_a"], r["id_b"]) for r in q_dedup_embedding_pq(spark, sf_dir).collect()}
    assert got  # blocking finds candidates on the synthetic corpus

    e = load_table(spark, "embeddings", sf_dir)
    raw = {r["vec_id"]: np.array(r["embedding"], np.float64) for r in e.collect()}
    codes = {
        r["vec_id"]: (r["code0"], r["code1"], r["code2"], r["code3"])
        for r in pq_assign(e).collect()
    }
    for a, b in got:
        assert codes[a] == codes[b], (a, b)
    ids = sorted(raw)
    V = np.array([raw[i] for i in ids])
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    S = Vn @ Vn.T
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if S[i, j] >= 0.999:
                assert (ids[i], ids[j]) in got, (ids[i], ids[j], S[i, j])


def test_jaccard_prefix_equals_plain_fuzz(spark):
    """PROPERTY (deterministic fuzz): the prefix-filtered Jaccard join
    emits EXACTLY the plain inverted-index join's pair set — the
    All-Pairs prefix lemma is lossless at the threshold. The cases
    target the lemma's edges: tiny docs (prefix length 1), docs made
    of repeated tokens (distinct-set collapse), ties in the global
    frequency order, thresholds whose ceil(t*|d|) sits on an exact
    integer (the decimal-ceil guard), docs sharing ONLY hot tokens,
    and shingle_n longer than the doc."""
    import itertools
    import random

    from arc_kinesis_tagging_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    corpora = []
    # 6 seeded random corpora of 10 short docs each
    for c in range(6):
        docs = []
        for i in range(10):
            n = rng.randint(0, 8)
            docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
        corpora.append(docs)
    # adversarial hand-picked corpus: empties, repeats, hot-token-only
    corpora.append([
        (0, ""), (1, "w0"), (2, "w0 w0 w0"), (3, "w0 w1"),
        (4, "w0 w1 w2 w3"), (5, "w0 w1 w2 w3"), (6, "w3 w2 w1 w0"),
        (7, "w5 w6 w7 w8 w9 w10"), (8, "w5 w6 w7 w8 w9 w11"),
        (9, "w0 w1 w2"), (10, "w1 w2"),  # J(9,10) = 2/3 exactly
    ])
    # 2/3 has >6 decimal digits: a HALF_UP decimal(.,6) conversion
    # rounds it UP past t and silently shortens the prefix below the
    # completeness bound (the r12 advice finding) — the floor-at-12dp
    # conversion must keep A={a,b,c} vs B={b,c} (J=2/3) in the set.
    def check(case):
        docs, (t, n) = case
        df = spark.createDataFrame(docs, "doc_id long, text string")
        plain = sorted(
            (r[0], r[1], round(r[2], 9))
            for r in ngram_jaccard_pairs(df, "text", "doc_id", t, n).collect()
        )
        pref = sorted(
            (r[0], r[1], round(r[2], 9))
            for r in ngram_jaccard_pairs_prefix(
                df, "text", "doc_id", t, n
            ).collect()
        )
        return t, n, docs, plain, pref

    cases = list(itertools.product(
        corpora,
        [(0.5, 1), (0.6, 1), (2.0 / 3.0, 1), (0.75, 3), (0.8, 2), (1.0, 1)],
    ))
    # the 42 tiny case-jobs are independent — overlap them (guide
    # §2.6) instead of paying 42 sequential job latencies
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        for t, n, docs, plain, pref in pool.map(check, cases):
            assert plain == pref, (t, n, docs, plain, pref)


def test_containment_prefix_equals_bruteforce_fuzz(spark):
    """PROPERTY (deterministic fuzz): the asymmetric-prefix containment
    join (prefix side x full index) emits EXACTLY the brute-force
    overlap-coefficient pair set. Cases target the lemma's edges: a
    tiny doc fully CONTAINED in a much larger one (the operator's
    reason to exist — Jaccard ~0, containment 1.0), repeated-token
    collapse, frequency-order ties, >6-dp thresholds (2/3: the
    decimal-floor guard), and shingle_n longer than the doc."""
    import itertools
    import random

    from arc_kinesis_tagging_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    def brute(docs, t, n):
        import hashlib

        def hset(text):
            toks = [w for w in text.split() if w]
            if n > 1:
                grams = [" ".join(toks[i:i + n])
                         for i in range(max(len(toks) - n + 1, 0))]
            else:
                grams = toks
            return {
                int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                for g in grams
            }

        sets = {k: hset(tx) for k, tx in docs}
        out = []
        for (ka, sa), (kb, sb) in itertools.combinations(
            sorted(sets.items()), 2
        ):
            if not sa or not sb:
                continue
            c = len(sa & sb) / min(len(sa), len(sb))
            if c >= t:
                out.append((ka, kb, round(c, 9)))
        return sorted(out)

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    corpora = []
    for _ in range(5):
        corpora.append([
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 9))))
            for i in range(10)
        ])
    # adversarial: a 2-token doc contained verbatim in a 10-token one
    # (Jaccard 0.2, containment 1.0), empties, repeats, hot-token pairs
    corpora.append([
        (0, ""), (1, "w0 w1"),
        (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),  # contains doc 1
        (3, "w0 w0 w0"), (4, "w0"),
        (5, "w2 w3 w4"), (6, "w2 w3 w4 w5"),
    ])
    def check(case):
        docs, (t, n) = case
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = sorted(
            (r[0], r[1], round(r[2], 9))
            for r in ngram_containment_pairs(
                df, "text", "doc_id", t, n
            ).collect()
        )
        return docs, t, n, got

    cases = list(itertools.product(
        corpora, [(0.5, 1), (2.0 / 3.0, 1), (0.8, 1), (1.0, 1), (0.8, 3)]
    ))
    # independent tiny case-jobs — overlap them (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        for docs, t, n, got in pool.map(check, cases):
            assert got == brute(docs, t, n), (t, n, docs, got)


def test_spread_gate_derived_inputs_no_execution(spark):
    """Round-15 spread gate for non-scan inputs: decided from the
    optimized plan's STATIC size estimate — (a) a small join-derived
    input gains a round-robin repartition to defaultParallelism,
    (b) deciding must NOT execute the upstream plan (the r14 advice
    hazard: Dataset.rdd under AQE materializes every exchange), which
    a poisoned upstream UDF witnesses, (c) bare scans keep the probe
    path."""
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.operators.skew import spread_small_scan

    @F.udf("long")
    def boom(x):
        raise RuntimeError("plan-time execution detected")

    left = spark.range(100).select(
        F.col("id"), boom(F.col("id")).alias("poison")
    )
    right = spark.range(10).withColumnRenamed("id", "rid")
    derived = left.join(right, left.id == right.rid).select("id", "poison")
    # (b): building the spread decision must not run the poisoned plan
    out = spread_small_scan(derived)
    # (a): tiny estimate -> round-robin spread to defaultParallelism
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ROUND_ROBIN" in plan or "Repartition" in plan, plan
    # (c): a bare scan below core count still spreads via the probe
    import os
    import tempfile

    d = tempfile.mkdtemp()
    spark.range(50).coalesce(1).write.mode("overwrite").parquet(d)
    scan = spark.read.parquet(d)
    n = spark.sparkContext.defaultParallelism
    assert spread_small_scan(scan).rdd.getNumPartitions() == n
