"""Property tests for the corpus-quality / time-series operators
(plans/quality_ops.py). Oracle equality is covered by the parametrized
gate in test_oracles.py; these assert the semantic properties the
oracles cannot express: histogram completeness, balance exactness,
spine density, and repartition-invariance of the hash selection."""

from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.plans.quality_ops import (
    q_corpus_pipeline,
    q_domain_balance,
    q_domain_balance_hash,
    q_profile_columns,
    q_token_histogram,
    q_ts_gapfill,
)
from arc_kinesis_tagging_spark.sources.tables import load_table


def test_profile_accounts_for_every_document(spark, sf_dir):
    prof = q_profile_columns(spark, sf_dir).collect()
    n_docs = load_table(spark, "documents", sf_dir).count()
    assert sum(r["n_docs"] for r in prof) == n_docs
    for r in prof:
        assert 0 <= r["n_empty"] <= r["n_docs"]
        assert r["n_langs"] >= 1
        assert r["min_chars"] <= r["max_chars"]
        assert r["avg_tokens"] >= 0.0


def test_token_histogram_is_a_partition_of_the_corpus(spark, sf_dir):
    rows = sorted(
        q_token_histogram(spark, sf_dir).collect(), key=lambda r: r["bucket"]
    )
    n_docs = load_table(spark, "documents", sf_dir).count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert rows[-1]["cum_docs"] == n_docs
    running = 0
    for r in rows:
        assert r["lo_tokens"] == r["bucket"] * 32
        running += r["n_docs"]
        assert r["cum_docs"] == running  # cumulative is exact, in order


def test_domain_balance_equalizes_langs(spark, sf_dir):
    """Every language must end up at exactly the smallest language's
    size, and the kept set must be a subset selected by rank."""
    kept = q_domain_balance(spark, sf_dir)
    langs = {
        r["lang"]: r["n"]
        for r in load_table(spark, "documents", sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    cap = min(langs.values())
    per = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert set(per) == set(langs)
    assert all(n == cap for n in per.values()), per
    assert kept.agg(F.max("rk")).first()[0] == cap


def test_domain_balance_is_repartition_invariant(spark, sf_dir):
    """The kept doc_id set is a pure function of the data — shuffling
    the input into a different partitioning must not change it."""
    base = {r["doc_id"] for r in q_domain_balance(spark, sf_dir).collect()}
    docs = load_table(spark, "documents", sf_dir).repartition(7, "lang")
    docs.createOrReplaceTempView("__qb_docs")
    # rebuild through the same expressions over the repartitioned input
    from arc_kinesis_tagging_spark.functions.text import stable_hash64
    from pyspark.sql import Window

    h = stable_hash64(F.concat(F.lit("balance:"), F.col("doc_id").cast("string")))
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    cap = counts.agg(F.min("n").alias("cap"))
    w = Window.partitionBy("lang").orderBy("__h", "doc_id")
    ranked = docs.select("doc_id", "lang", h.alias("__h")).withColumn(
        "rk", F.row_number().over(w).cast("long")
    )
    again = {
        r["doc_id"]
        for r in ranked.crossJoin(F.broadcast(cap))
        .filter(F.col("rk") <= F.col("cap"))
        .collect()
    }
    assert again == base


def test_domain_balance_hash_tracks_exact_balance(spark, sf_dir):
    """The map-side hash-threshold variant keeps Binomial(n, cap/n)
    rows per language — expectation cap, sd sqrt(cap). Bound each
    language's deviation at 5 sigma (false-alarm ~1e-6 per lang) and
    require the kept set to be a subset of the corpus with every
    language still represented."""
    import math

    kept = q_domain_balance_hash(spark, sf_dir)
    langs = {
        r["lang"]: r["n"]
        for r in load_table(spark, "documents", sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    cap = min(langs.values())
    per = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    tol = max(5.0 * math.sqrt(cap), 3.0)
    for lang in langs:
        got = per.get(lang, 0)
        assert abs(got - cap) <= tol, (lang, got, cap, tol)
        assert got <= langs[lang]


def test_domain_balance_hash_is_repartition_invariant(spark, sf_dir):
    """Keep decision is a pure function of (doc_id, lang counts) —
    input partitioning must not change the kept set."""
    base = {r["doc_id"] for r in q_domain_balance_hash(spark, sf_dir).collect()}
    from arc_kinesis_tagging_spark.functions.text import stable_hash64

    docs = load_table(spark, "documents", sf_dir).repartition(11, "doc_id")
    h = stable_hash64(F.concat(F.lit("balance:"), F.col("doc_id").cast("string")))
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    cap = counts.agg(F.min("n").alias("cap"))
    thresholds = counts.crossJoin(F.broadcast(cap))
    again = {
        r["doc_id"]
        for r in docs.select("doc_id", "lang", h.alias("__h"))
        .join(F.broadcast(thresholds), "lang")
        .filter(
            F.col("__h").cast("decimal(38,0)") * F.col("n")
            < F.col("cap").cast("decimal(38,0)") * F.lit(1 << 60).cast("decimal(38,0)")
        )
        .collect()
    }
    assert again == base


def test_doc_stats_sketch_estimates_large_vocabulary(spark, tmp_path):
    """The KMV estimation path (vocabulary > t): a 4000-token synthetic
    vocabulary must estimate within the sketch's statistical error
    (~1/sqrt(31) => assert 35%); a small-vocab source must fall back to
    the exact count."""
    from arc_kinesis_tagging_spark.plans.quality_ops import q_doc_stats_sketch

    rows = []
    # big vocab: 200 docs x 20 unique tokens each -> 4000 distinct
    for d in range(200):
        rows.append(
            (d, "big", " ".join(f"tok{d}_{j}" for j in range(20)), 0)
        )
    # small vocab: 10 docs over 12 shared tokens (vocab 12 < t=32)
    for d in range(10):
        rows.append((1000 + d, "small", " ".join(f"w{j}" for j in range(12)), 0))
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {r["source"]: r for r in q_doc_stats_sketch(spark, sf).collect()}
    assert out["small"]["n_distinct_tokens"] == 12
    assert out["small"]["est_distinct_tokens"] == 12  # exact fallback
    big = out["big"]
    assert big["n_distinct_tokens"] == 4000
    rel = abs(big["est_distinct_tokens"] - 4000) / 4000
    assert rel < 0.35, (big["est_distinct_tokens"], rel)


def test_gapfill_spine_is_dense_and_preserves_totals(spark, sf_dir):
    out = q_ts_gapfill(spark, sf_dir)
    ev = load_table(spark, "events", sf_dir)
    # totals preserved: the spine adds zero rows, never drops events
    assert out.agg(F.sum("n_events")).first()[0] == ev.count()
    # per user: day count == span in days + 1 (dense), endpoints active
    per = (
        out.groupBy("user_id")
        .agg(
            F.count("*").alias("n_days"),
            F.min("day").alias("d0"),
            F.max("day").alias("d1"),
        )
        .withColumn("span", F.datediff("d1", "d0") + 1)
        .collect()
    )
    assert per  # non-empty
    for r in per:
        assert r["n_days"] == r["span"], r
    # zero-filled days exist iff some user has a silent day inside
    # their span; verify the zero rows carry zero value too
    zeros = out.filter(F.col("n_events") == 0)
    assert zeros.filter(F.col("day_value") != 0.0).count() == 0


def test_corpus_pipeline_composes_its_stages(spark, sf_dir):
    """The composite's totals must equal what running the component
    queries in sequence produces: gate (q_quality_filter semantics) ->
    exact dedup -> split -> count."""
    from arc_kinesis_tagging_spark.plans.llmops import q_quality_filter
    from arc_kinesis_tagging_spark.plans.pipeline_ops import q_split_assign

    out = q_corpus_pipeline(spark, sf_dir)
    rows = out.collect()

    docs = load_table(spark, "documents", sf_dir)
    kept_ids = q_quality_filter(spark, sf_dir).filter("kept").select("doc_id")
    kept = docs.join(kept_ids, "doc_id")
    # exact dedup on content among the kept docs
    w_uniq = (
        kept.groupBy(F.md5("text").alias("digest"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    splits = q_split_assign(spark, sf_dir).select("doc_id", "split")
    expected = (
        w_uniq.join(docs, "doc_id")
        .join(splits, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    )
    exp = {(r["split"], r["lang"]): r["n_docs"] for r in expected}
    got = {(r["split"], r["lang"]): r["n_docs"] for r in rows}
    assert got == exp
    # all three splits materialize and train dominates (80/10/10 carve)
    per_split = {}
    for r in rows:
        per_split[r["split"]] = per_split.get(r["split"], 0) + r["n_docs"]
    assert set(per_split) == {"train", "val", "test"}
    assert per_split["train"] > per_split["val"]
    assert per_split["train"] > per_split["test"]


def test_funnel_k_matches_python_model(spark):
    """The generalized k-stage funnel operator vs a per-user greedy
    reference model, across stage counts 1-5 and a REPEATED stage name
    (view -> click -> view), on a deterministic pseudo-random event
    log dense enough that ties, dead-ends, and partial completions all
    occur."""
    from arc_kinesis_tagging_spark.operators.funnel import funnel, funnel_model

    types = ["signup", "view", "click", "purchase", "error"]
    rows, x = [], 41
    for i in range(4000):
        x = (1103515245 * x + 12345) % (2**31)
        u = x % 80
        x = (1103515245 * x + 12345) % (2**31)
        et = types[x % 5]
        x = (1103515245 * x + 12345) % (2**31)
        ts = x % 500  # dense -> plenty of equal-ts edge cases
        rows.append((u, et, ts))
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    for stages in (
        ["view"],
        ["view", "click"],
        ["signup", "view", "click", "purchase", "error"],
        ["view", "click", "view"],  # repeated stage -> positional cols
    ):
        model = funnel_model(rows, stages)
        got = {}
        out = funnel(ev, stages).collect()
        cols = [f"s{i}_{s}_ts" for i, s in enumerate(stages)]
        for r in out:
            got[r["user_id"]] = (
                tuple(r[c] for c in cols), r["stage_reached"]
            )
        assert got == model, stages


def test_funnel_k_query_schema(spark, sf_dir):
    """q_events_funnel_k emits one row per signup user with monotone
    non-null prefix timestamps."""
    from arc_kinesis_tagging_spark.plans.quality_ops import q_events_funnel_k

    rows = q_events_funnel_k(spark, sf_dir).collect()
    assert rows
    cols = ["s0_signup_ts", "s1_view_ts", "s2_click_ts",
            "s3_purchase_ts", "s4_error_ts"]
    for r in rows:
        ts = [r[c] for c in cols]
        assert ts[0] is not None
        seen_null = False
        prev = None
        for t in ts:
            if t is None:
                seen_null = True
            else:
                assert not seen_null  # nulls only as a suffix
                if prev is not None:
                    assert t > prev
                prev = t
        assert r["stage_reached"] == sum(1 for t in ts if t is not None)


# --- round-5 operators ------------------------------------------------------


def test_dedup_lines_properties(spark):
    """Semantic invariants the oracle can't state: every surviving
    segment is globally unique-or-first, reassembly preserves order,
    and a document sharing no segments is untouched."""
    from arc_kinesis_tagging_spark.operators.textops import dedup_segments

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(25))),          # 3 segments
            (2, " ".join(f"w{i}" for i in range(10)) + " " +    # seg 0 dups doc 1
                " ".join(f"x{i}" for i in range(10))),
            (3, " ".join(f"y{i}" for i in range(7))),           # unique short doc
            (4, ""),                                             # empty doc
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_segments(docs, seg_tokens=10).collect()}
    assert rows[1]["n_segs"] == 3 and rows[1]["n_kept"] == 3
    assert rows[1]["clean_text"] == " ".join(f"w{i}" for i in range(25))
    # doc 2 loses its first segment (kept in doc 1) but keeps the x-seg
    assert rows[2]["n_segs"] == 2 and rows[2]["n_kept"] == 1
    assert rows[2]["clean_text"] == " ".join(f"x{i}" for i in range(10))
    assert rows[3]["n_kept"] == 1 and rows[3]["clean_text"].startswith("y0")
    assert rows[4]["n_segs"] == 0 and rows[4]["clean_text"] == ""


def test_dedup_lines_partitioning_independent(spark, sf_dir):
    from arc_kinesis_tagging_spark.operators.textops import dedup_segments
    from arc_kinesis_tagging_spark.sources.tables import load_table

    d = load_table(spark, "documents", sf_dir)
    a = dedup_segments(d).orderBy("doc_id").collect()
    b = dedup_segments(d.repartition(13)).orderBy("doc_id").collect()
    assert a == b


def test_heavy_hitters_matches_exact_under_adversarial_partitioning(spark):
    """The Misra-Gries candidate pass must be a superset of the true
    heavy hitters regardless of how rows are partitioned — including a
    skewed layout where one partition holds most of a token's mass."""
    from arc_kinesis_tagging_spark.operators.textops import heavy_hitters

    rows = []
    # 'hot' = 30% of tokens, 'warm' = 5%, the rest a long uniform tail
    for i in range(200):
        rows.append((i, "hot hot hot warm " + " ".join(f"t{i}_{j}" for j in range(6))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for layout in (docs, docs.repartition(1), docs.repartition(32, "doc_id")):
        got = {r["token"]: r["freq"] for r in heavy_hitters(layout, phi=0.04).collect()}
        assert got == {"hot": 600, "warm": 200}, got


def test_session_stats_boundaries(spark):
    """Hand-built stream: two users, one with a gap exactly at 1800s
    (NOT a new session — the cut is strictly greater) and one crossing
    it."""
    from arc_kinesis_tagging_spark.plans.quality_ops import q_session_stats
    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sess-")
    base = 1_700_000_000
    ev = spark.createDataFrame(
        [
            (1, base + 0, 10, "click", 1.0, "{}"),
            (2, base + 1800, 10, "click", 2.0, "{}"),   # gap == 1800: same session
            (3, base + 3601, 10, "click", 3.0, "{}"),   # gap 1801: new session
            (4, base + 0, 20, "view", 5.0, "{}"),
        ],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_seconds(F.col("ts")).cast("timestamp_ntz"))
    ev.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    got = {
        (r["user_id"], r["sess_id"]): r
        for r in q_session_stats(spark, tmp).collect()
    }
    assert set(got) == {(10, 1), (10, 2), (20, 1)}
    assert got[(10, 1)]["n_events"] == 2 and got[(10, 1)]["duration_s"] == 1800
    assert got[(10, 2)]["n_events"] == 1 and got[(10, 2)]["sum_value"] == 3.0
    assert got[(20, 1)]["n_events"] == 1


def test_embedding_covariance_matches_numpy(spark, sf_dir):
    """The distributed integer-Gram covariance must match a dense numpy
    covariance of the SAME quantized values exactly, and be invariant
    under repartitioning (the partial-Gram merge is exact integer
    arithmetic)."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.similarity import (
        embedding_covariance,
    )
    from arc_kinesis_tagging_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", sf_dir)
    got = {(r["i"], r["j"]): r["cov"] for r in embedding_covariance(e).collect()}
    x = np.stack([r["embedding"] for r in e.select("embedding").collect()])
    q = np.floor(x.astype(np.float64) * 10_000).astype(np.int64)
    n, d = q.shape
    g = q.T @ q
    s = q.sum(axis=0)
    for (i, j), cov in got.items():
        expect = (n * g[i - 1, j - 1] - s[i - 1] * s[j - 1]) / (
            float(n) * n * 10_000.0 * 10_000.0
        )
        assert cov == expect, (i, j)
    assert len(got) == d * (d + 1) // 2
    got2 = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(e.repartition(17)).collect()
    }
    assert got == got2


def test_text_perplexity_orders_gibberish_last(spark):
    """Semantic sanity the oracle can't state: documents made of
    corpus-typical bigrams must score fewer bits/char than a document
    of bigrams the corpus has never seen."""
    import os
    import tempfile

    from arc_kinesis_tagging_spark.plans.quality_ops import q_text_perplexity

    tmp = tempfile.mkdtemp(prefix="perp-")
    common = "the quick brown fox jumps over the lazy dog and runs on"
    docs = spark.createDataFrame(
        [(i, common, "en", "web", len(common)) for i in range(20)]
        + [(99, "zq xv qj wz vx jq zx qv", "xx", "web", 23)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    rows = {r["doc_id"]: r["bits_per_char"] for r in q_text_perplexity(spark, tmp).collect()}
    assert rows[99] > rows[0] + 1.0, rows


def test_bpe_train_matches_reference_implementation(spark):
    """The distributed BPE loop must learn the EXACT merge sequence a
    single-machine Sennrich-style reference learns on the same corpus
    (same end-of-word marker, same lexicographic tie-break), and be
    invariant under repartitioning."""
    from collections import Counter

    from arc_kinesis_tagging_spark.operators.bpe import END, bpe_train

    texts = [
        "low lower lowest low low",
        "newer newest new new newer",
        "wider wide widest wider",
        "low newer wide low",
    ]

    def reference(texts, n_merges, min_freq=2):
        vocab = Counter()
        for t in texts:
            for w in t.split():
                vocab[tuple(list(w) + [END])] += 1
        merges = []
        for _ in range(n_merges):
            pairs = Counter()
            for syms, freq in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += freq
            if not pairs:
                break
            # max count, ties to the lexicographically smallest pair
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            if best[1] < min_freq:
                break
            (l, r), cnt = best
            merges.append((l, r, cnt))
            new_vocab = Counter()
            for syms, freq in vocab.items():
                res, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        res.append(l + r)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                new_vocab[tuple(res)] += freq
            vocab = new_vocab
        return merges

    expect = reference(texts, n_merges=12)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for layout in (df, df.repartition(5)):
        merges, final_vocab = bpe_train(layout, "text", n_merges=12)
        assert merges == expect, (merges, expect)
        # Merge symbols may be fully absorbed by later merges, so the
        # strong "every merged symbol survives" claim can legitimately
        # fail; assert the weaker invariant that every final vocab
        # symbol is buildable from the merge sequence (i.e. is either a
        # single char, the END marker, or some merge's concatenation).
        syms = {s for r in final_vocab.collect() for s in r["syms"]}
        buildable = {l + r for l, r, _ in merges}
        from arc_kinesis_tagging_spark.operators.bpe import END
        assert all(
            len(s.replace(END, "")) <= 1 or s in buildable for s in syms
        ), sorted(syms - buildable)
        assert any(len(s) > 2 for s in syms)  # real multi-char subwords


def test_bpe_encode_self_consistent_with_training(spark):
    """Encoding any training-corpus word with the learned merges must
    reproduce the final training vocabulary's symbol sequence exactly
    — train and apply are the same replacement semantics."""
    from arc_kinesis_tagging_spark.operators.bpe import (
        END,
        bpe_encode,
        bpe_train,
    )

    texts = ["low lower lowest low low", "newer newest new new newer",
             "wider wide widest wider", "low newer wide low"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab = bpe_train(df, "text", n_merges=12)
    # reconstruct per-word symbol sequences from the final vocab state
    final = {
        "".join(r["syms"]).replace(END, ""): list(r["syms"])
        for r in vocab.collect()
    }
    enc = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    for i, t in enumerate(texts):
        words = t.split()
        expect_sub = sum(len(final[w]) for w in words)
        assert enc[i]["n_words"] == len(words)
        assert enc[i]["n_subwords"] == expect_sub, (i, enc[i])
    # empty/missing text safe
    edge = spark.createDataFrame([(9, ""), (10, None)], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in bpe_encode(edge, merges).collect()}
    assert rows[9]["n_words"] == 0 and rows[10]["n_subwords"] == 0


def test_bpe_encode_past_the_word_memo_cap(spark):
    """One task sees more distinct words than the per-task memo holds:
    words past the cap are encoded without being stored, and every
    document still matches a plain merge-by-merge encoding."""
    from arc_kinesis_tagging_spark.operators.bpe import END, _MEMO_CAP, bpe_encode

    letters = "abcdefghij"
    words = [
        "".join(letters[int(d)] for d in f"{i:05d}") for i in range(_MEMO_CAP + 4_000)
    ]
    docs = [
        (k, " ".join(words[k * 100 : (k + 1) * 100] + words[:3]))
        for k in range(len(words) // 100)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").coalesce(1)
    merges = [("a", "a", 0), ("b", "c", 0), ("aa", "a", 0), ("j", END, 0)]

    def ref(w):
        syms = list(w) + [END]
        for left, right, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if syms[i : i + 2] == [left, right]:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    assert len(got) == len(docs) and len(words) > _MEMO_CAP
    for k, text in docs:
        syms = [s for w in text.split() for s in ref(w)]
        r = got[k]
        assert r["n_subwords"] == len(syms), k
        assert r["sample_tokens"] == "|".join(syms[:10]), k


def test_minwise_estimate_tracks_exact(spark, sf_dir):
    """The bottom-k Jaccard estimate must sit within the standard
    KMV error envelope of the exact value it approximates — and be
    EXACT whenever the union vocabulary fits inside k (k_eff < k).
    The exact baseline lives HERE (computed from the full per-language
    vocabularies at test scale), not in the query: the production
    operator combines only k-row sketches (round-6 verdict fix)."""
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.functions.text import tokens
    from arc_kinesis_tagging_spark.plans.quality_ops import (
        _MINWISE_K,
        minwise_lang_sketches,
        q_doc_minwise_sim,
    )
    from arc_kinesis_tagging_spark.sources.tables import load_table

    d = load_table(spark, "documents", sf_dir)
    # the combinable artifact really is k-row-bounded per language
    sizes = (
        minwise_lang_sketches(d, _MINWISE_K)
        .groupBy("lang").count().collect()
    )
    assert sizes and all(r["count"] <= _MINWISE_K for r in sizes), sizes

    rows = q_doc_minwise_sim(spark, sf_dir).collect()
    assert rows
    vocab = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
        .collect()
    )
    by_lang: dict = {}
    for v in vocab:
        by_lang.setdefault(v["lang"], set()).add(v["tok"])
    for r in rows:
        a, b = by_lang[r["la"]], by_lang[r["lb"]]
        exact = len(a & b) / len(a | b)
        est = r["jaccard_est"]
        if r["k_eff"] < _MINWISE_K:
            assert abs(est - exact) < 1e-6, r  # sketch degenerates to exact
        else:
            # ~3 sigma of the bottom-k estimator's sqrt(J(1-J)/k) std
            bound = 3.0 * (max(exact * (1 - exact), 0.01) / _MINWISE_K) ** 0.5
            assert abs(est - exact) <= bound, (r, bound)


def test_prefix_dedup_matches_bruteforce(spark):
    """Sort-adjacency subsumption must equal the O(n^2) definition
    (strict prefix of ANY other text) on a corpus constructed to
    stress it: chains of nested prefixes, shared first chars without
    prefix relations, exact duplicates, and an empty string."""
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.plans.quality_ops import q_dedup_prefix

    texts = [
        "alpha", "alpha beta", "alpha beta gamma",   # nested chain
        "alp",                                        # prefix of all three
        "alphax",                                     # shares chars, no prefix
        "beta", "beta", "betamax",                    # exact dup + superstring
        "zeta",                                       # singleton
        "",                                           # empty: never subsumed
    ]
    # run the REGISTRY query against a temp sf_dir so the exact
    # production code path (fragmentation included) is what's tested:
    # doc_id % 5 == 0 keeps fragment == full text for short docs
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df = spark.createDataFrame(
            [(i * 5, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        df.write.mode("overwrite").parquet(td + "/documents.parquet")
        got = {
            r["doc_id"]: r["subsumed"]
            for r in q_dedup_prefix(spark, td).collect()
        }
    expect = {}
    for i, t in enumerate(texts):
        expect[i * 5] = any(
            o != t and o.startswith(t) and len(t) > 0 for o in texts
        )
    assert got == expect, (got, expect)


def test_dedup_substring_known_spans(spark):
    """Duplicated-window coverage on a constructed corpus: two docs
    sharing an identical 20-token run must flag exactly that run
    (merged into ONE span despite 5 overlapping windows at w=16), a
    unique doc must not appear, and within-doc repetition counts too."""
    import tempfile

    from arc_kinesis_tagging_spark.plans.quality_ops import (
        _SUBSTR_W,
        q_dedup_substring,
    )

    assert _SUBSTR_W == 16
    shared = " ".join(f"s{i}" for i in range(20))
    docs = [
        (0, f"{' '.join(f'a{i}' for i in range(10))} {shared} "
            f"{' '.join(f'b{i}' for i in range(10))}"),       # 40 toks
        (1, f"{' '.join(f'c{i}' for i in range(5))} {shared} "
            f"{' '.join(f'd{i}' for i in range(15))}"),       # 40 toks
        (2, " ".join(f"u{i}" for i in range(40))),            # unique
        (3, " ".join(["r"] * 40)),                            # self-repeat
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(docs, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(td + "/documents.parquet")
        got = {r["doc_id"]: r for r in q_dedup_substring(spark, td).collect()}
    # doc 2 has no duplicated window anywhere
    assert 2 not in got
    # docs 0 and 1: the 20 shared tokens give 5 window starts (w=16),
    # merging into one span of exactly 20 tokens
    for d in (0, 1):
        assert got[d]["n_dup_windows"] == 5, got[d]
        assert got[d]["dup_token_coverage"] == 20, got[d]
        assert abs(got[d]["dup_fraction"] - 0.5) < 1e-9
    # doc 3 is one long self-repeat: every window identical -> all 25
    # starts duplicated, one span covering the whole doc
    assert got[3]["n_dup_windows"] == 25 and got[3]["dup_token_coverage"] == 40


def test_prefix_dedup_zipfian_skew_balanced(spark):
    """A corpus where 85% of distinct texts share the first word
    ("the ...") must (a) still mark subsumption exactly (vs the O(n^2)
    definition) and (b) spread the adjacency work across range
    partitions instead of piling the shared-first-char mass into one —
    the failure mode of the first-character partitioning this operator
    replaced."""
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.operators.textops import prefix_subsumed_marks

    texts = []
    for i in range(850):  # Zipf head: all start with "the "
        base = f"the topic {i:04d} body"
        texts.append(base)
        if i % 3 == 0:
            texts.append(base[: 10 + i % 8])  # strict prefixes
    for i in range(150):  # tail: varied first chars
        texts.append(f"{chr(97 + i % 26)}tail {i:03d}")
    uniq = sorted(set(texts))
    df = spark.createDataFrame([(t,) for t in texts], "frag string")

    n_parts = 8
    marks = prefix_subsumed_marks(df, "frag", num_partitions=n_parts)
    got = {r["frag"]: r["subsumed"] for r in marks.collect()}
    want = {
        a: any(b != a and b.startswith(a) for b in uniq) and len(a) > 0
        for a in uniq
    }
    assert got == want

    # balance: no range partition holds more than ~3x the mean of the
    # distinct texts (first-char partitioning would put 85% in one)
    dist = (
        df.select("frag").distinct()
        .repartitionByRange(n_parts, F.col("frag"))
        .groupBy(F.spark_partition_id().alias("pid")).count()
        .collect()
    )
    counts = [r["count"] for r in dist]
    assert max(counts) <= 3 * (len(uniq) / n_parts), counts


def test_substring_clip_toy(spark, tmp_path):
    """Known-answer clip: a 20-token run shared by two documents is
    removed exactly (merged window coverage = the shared run, nothing
    more), untouched documents pass through verbatim."""
    from arc_kinesis_tagging_spark.plans.quality_ops import (
        q_dedup_substring_clip,
    )

    shared = " ".join(f"s{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, shared + " unique one tail alpha"),
            (2, "lead tokens here " + shared),
            (3, "no duplication in this document at all"),
        ],
        ["doc_id", "text"],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r
        for r in q_dedup_substring_clip(spark, str(tmp_path)).collect()
    }
    assert rows[1]["clean_text"] == "unique one tail alpha"
    assert (rows[1]["n_tokens"], rows[1]["n_kept"]) == (24, 4)
    assert rows[2]["clean_text"] == "lead tokens here"
    assert (rows[2]["n_tokens"], rows[2]["n_kept"]) == (23, 3)
    assert rows[3]["clean_text"] == "no duplication in this document at all"
    assert (rows[3]["n_tokens"], rows[3]["n_kept"]) == (7, 7)


def test_substring_clip_matches_report(spark, sf_dir):
    """Cross-op invariant on the real corpus: clipped tokens per doc ==
    the report's merged dup_token_coverage, and every doc survives into
    the output."""
    from arc_kinesis_tagging_spark.plans.quality_ops import (
        q_dedup_substring,
        q_dedup_substring_clip,
    )

    rep = {
        r["doc_id"]: r for r in q_dedup_substring(spark, sf_dir).collect()
    }
    clip = {
        r["doc_id"]: r
        for r in q_dedup_substring_clip(spark, sf_dir).collect()
    }
    assert rep and set(rep) <= set(clip)
    for doc_id, c in clip.items():
        cov = rep[doc_id]["dup_token_coverage"] if doc_id in rep else 0
        assert c["n_tokens"] - c["n_kept"] == cov, doc_id
        if c["n_kept"]:
            assert len(c["clean_text"].split(" ")) == c["n_kept"], doc_id
        else:
            assert c["clean_text"] == "", doc_id


def test_lm_buckets_are_exact_tertiles(spark, sf_dir):
    """Per language: every scored doc is bucketed, bucket sizes are as
    close to n/3 as the (rounded-score) tie structure allows, and the
    bucket boundaries respect score order (max(head) <= min(middle)
    <= ... )."""
    from collections import defaultdict

    from arc_kinesis_tagging_spark.plans.quality_ops import q_lm_buckets

    rows = q_lm_buckets(spark, sf_dir).collect()
    assert rows
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append((r["bits_per_token"], r["bucket"]))
    for lang, docs in by_lang.items():
        n = len(docs)
        spans = defaultdict(list)
        for score, b in docs:
            spans[b].append(score)
        # order: head scores <= middle scores <= tail scores
        if spans["head"] and spans["middle"]:
            assert max(spans["head"]) <= min(spans["middle"]), lang
        if spans["middle"] and spans["tail"]:
            assert max(spans["middle"]) <= min(spans["tail"]), lang
        # head holds the smallest third up to ties: every doc strictly
        # below the head cutoff is in head, and |head| >= n/3 whenever
        # a head bucket exists (cum >= n/3 at the cutoff score)
        assert sum(len(v) for v in spans.values()) == n
        if spans["head"]:
            assert len(spans["head"]) >= n / 3.0 - 1e-9, lang


def test_bm25_ranking_properties(spark, sf_dir):
    """BM25 output shape and semantics: exactly the top-Q df terms
    appear, scores are positive and descending within each term's
    ranking, and a brute-force python BM25 over the same tokenization
    agrees on every (term, doc) score."""
    import math
    from collections import Counter, defaultdict

    from arc_kinesis_tagging_spark.plans.llmops import (
        _BM25_B, _BM25_K1, _BM25_TOPQ, q_text_bm25,
    )
    from arc_kinesis_tagging_spark.sources.tables import load_table

    rows = q_text_bm25(spark, sf_dir).collect()
    assert rows
    docs = {
        r["doc_id"]: [t for t in r["text"].split() if t]
        for r in load_table(spark, "documents", sf_dir).collect()
    }
    n = len(docs)
    sum_dl = sum(len(v) for v in docs.values())
    avgdl = sum_dl / n
    df = Counter(t for toks in docs.values() for t in set(toks))
    top = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:_BM25_TOPQ]
    assert {r["term"] for r in rows} == {t for t, _ in top}

    by_term = defaultdict(list)
    for r in rows:
        by_term[r["term"]].append(r)
    for term, rs in by_term.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        scores = [r["score4"] for r in rs]
        assert scores == sorted(scores, reverse=True) and scores[-1] > 0
        for r in rs:
            tf = docs[r["doc_id"]].count(term)
            dl = len(docs[r["doc_id"]])
            idf = math.log((n - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
            want = idf * (tf * (_BM25_K1 + 1.0)) / (
                tf + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / avgdl)
            )
            assert r["tf"] == tf
            assert abs(r["score4"] - want) <= 5.1e-5, (term, r["doc_id"])


def test_ewma_matches_python_fold(spark, sf_dir):
    """q_ts_ewma equals the literal python recurrence y_1 = x_1,
    y_i = a*x_i + (1-a)*y_{i-1} over each user's (ts, event_id)-ordered
    non-null values."""
    from arc_kinesis_tagging_spark.plans.quality_ops import _EWMA_ALPHA, q_ts_ewma
    from arc_kinesis_tagging_spark.sources.tables import load_table

    got = {r["user_id"]: r for r in q_ts_ewma(spark, sf_dir).collect()}
    ev = load_table(spark, "events", sf_dir).collect()
    series: dict = {}
    for r in sorted(ev, key=lambda r: (r["ts"], r["event_id"])):
        if r["value"] is None:
            continue
        series.setdefault(r["user_id"], []).append(float(r["value"]))
    assert set(got) == set(series)
    for uid, xs in series.items():
        y = xs[0]
        for x in xs[1:]:
            y = y * (1.0 - _EWMA_ALPHA) + x * _EWMA_ALPHA
        assert got[uid]["n_events"] == len(xs)
        assert abs(got[uid]["ewma6"] - y) < 1e-6, uid


def test_heavy_hitters_builder_is_lazy(spark, sf_dir):
    """Building the heavy-hitters plan must launch NO Spark job (the
    round-7 advice fix: localCheckpoint(eager=False) keeps the builder
    lazy); the first action then materializes the checkpointed
    partials and both consumers reuse them."""
    from arc_kinesis_tagging_spark.operators.textops import heavy_hitters
    from arc_kinesis_tagging_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    docs.count()  # absorb the parquet listing/footer job up front
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = heavy_hitters(docs, "text", 0.02)
    after_build = len(tracker.getJobIdsForGroup(None) or [])
    assert after_build == before, "plan construction launched a Spark job"
    assert df.count() >= 0  # the action still works end to end


def test_dsir_scores_enrich_target_language(spark, sf_dir):
    """DSIR semantics the oracle can't see: (a) the mean log importance
    ratio of target-language docs strictly exceeds the non-target mean
    (the hashed-bigram model actually separates the distributions);
    (b) scores are invariant under repartitioning; (c) the threshold
    gate keeps a strict, non-trivial subset ordered by score."""
    from arc_kinesis_tagging_spark.plans.quality_ops import q_dsir_score
    from arc_kinesis_tagging_spark.sources.tables import load_table

    scored = q_dsir_score(spark, sf_dir)
    langs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    rows = scored.join(langs, "doc_id").collect()
    assert len(rows) > 100
    en = [r["dsir_logratio"] for r in rows if r["lang"] == "en"]
    rest = [r["dsir_logratio"] for r in rows if r["lang"] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)
    # every score is finite and kept == (score >= 0)
    for r in rows:
        assert r["dsir_logratio"] is not None
        assert r["kept"] == (r["dsir_logratio"] >= 0.0)
    n_kept = sum(1 for r in rows if r["kept"])
    assert 0 < n_kept < len(rows)
    # repartition invariance of the full result multiset
    again = sorted(
        (r["doc_id"], r["n_grams"], r["dsir_logratio"])
        for r in q_dsir_score(spark, sf_dir).repartition(7).collect()
    )
    assert again == sorted(
        (r["doc_id"], r["n_grams"], r["dsir_logratio"]) for r in rows
    )


def test_dsir_sample_is_exact_gumbel_topk(spark, sf_dir):
    """The resample equals the exact top-N of the perturbed keys
    computed independently (Gumbel-max correctness + determinism), and
    its physical plan is a bounded TakeOrderedAndProject, not a global
    sort or corpus window."""
    from arc_kinesis_tagging_spark.plans.quality_ops import (
        _DSIR_N,
        q_dsir_sample,
        q_dsir_score,
    )

    samp = q_dsir_sample(spark, sf_dir)
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    got = [(r["doc_id"], r["key_micro"]) for r in samp.collect()]
    assert len(got) == _DSIR_N
    # reference: recompute keys for every doc and take the top N
    import math

    def key_for(doc_id, score):
        import hashlib

        h = int(
            hashlib.md5(f"dsir-u:{doc_id}".encode()).hexdigest()[:15], 16
        )
        u = (h + 1.0) / float((1 << 60) + 2)
        g = -math.log(-math.log(u))
        return round(score * 1000) * 1000 + round(g * 1e6)

    allk = [
        (r["doc_id"], key_for(r["doc_id"], r["dsir_logratio"]))
        for r in q_dsir_score(spark, sf_dir).collect()
    ]
    expect = sorted(allk, key=lambda t: (-t[1], t[0]))[:_DSIR_N]
    assert got == expect
