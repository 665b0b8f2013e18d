"""Unigram-LM tokenizer (operators/unigram.py): single-machine
reference parity, Viterbi optimality by brute force, coverage,
determinism, and partitioning invariance. The registry entries are
rows-only (iterative EM), so these tests are the correctness gate."""

import itertools
import math

from arc_kinesis_tagging_spark.operators.unigram import (
    _MEMO_CAP,
    _UNK_LP_MICRO,
    _lp_micro,
    _viterbi,
    _viterbi_counts,
    _word_freqs,
    unigram_encode,
    unigram_train,
)

CORPUS = [
    (1, "the cat sat on the mat"),
    (2, "the cats sat on mats"),
    (3, "a cat and a mat"),
    (4, "the mat sat on the cat"),
    (5, "cats and mats and cats"),
    (6, "sat the cat the mat"),
]


def _ref_train(texts, vocab_size, seed_size, max_len=6, n_rounds=2,
               em_per_round=2):
    """Independent single-machine reference: plain dict/loops, no
    Spark — mirrors Kudo 2018 hard-EM with this repo's deterministic
    tie-break conventions."""
    wf = {}
    for t in texts:
        for w in t.split():
            wf[w] = wf.get(w, 0) + 1
    seeds = {}
    for w, f in wf.items():
        for i in range(len(w)):
            for L in range(1, min(max_len, len(w) - i) + 1):
                p = w[i : i + L]
                seeds[p] = seeds.get(p, 0) + f
    chars = {p: c for p, c in seeds.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in seeds.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )[:seed_size]
    counts = dict(chars)
    counts.update(dict(multis))
    char_set = set(chars)
    n_multi_start = len(counts) - len(char_set)

    def to_vocab(cnts):
        total = sum(cnts.values())
        return {p: _lp_micro(c, total) for p, c in cnts.items()}

    for rnd in range(n_rounds):
        for _ in range(em_per_round):
            vocab = to_vocab(counts)
            got = {}
            for w, f in wf.items():
                pieces, _ = _viterbi(w, vocab, max_len)
                for p in pieces:
                    got[p] = got.get(p, 0) + f
            counts = {
                p: got.get(p, 1 if p in char_set else 0)
                for p in counts
                if p in char_set or got.get(p, 0) > 0
            }
        keep = max(
            vocab_size,
            int(n_multi_start * ((vocab_size / max(n_multi_start, 1))
                                 ** ((rnd + 1) / n_rounds))),
        )
        multi = sorted(
            ((p, c) for p, c in counts.items() if p not in char_set),
            key=lambda t: (-t[1], t[0]),
        )[:keep]
        counts = {p: c for p, c in counts.items() if p in char_set}
        counts.update(dict(multi))
    vocab = to_vocab(counts)
    rows = sorted(
        ((p, counts[p], vocab[p], len(p) == 1) for p in counts),
        key=lambda t: (-t[1], t[0]),
    )
    return vocab, rows


def test_unigram_train_matches_reference_and_is_layout_invariant(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    ref_vocab, ref_rows = _ref_train(
        [t for _, t in CORPUS], vocab_size=8, seed_size=40
    )
    for layout in (df, df.repartition(5), df.coalesce(1)):
        vocab, rows = unigram_train(
            layout, vocab_size=8, seed_size=40, n_rounds=2
        )
        assert vocab == ref_vocab
        assert rows == ref_rows
    # AQE coalesces the ~10-row word table into one partition; without
    # coalescing it keeps its shuffle partitions, so each EM sweep sums
    # partial counts of the same piece from several tasks. At 3 pieces
    # the words split into pieces that words in other partitions share
    # (at 8 most words are one piece each, and a merge that keeps one
    # task's partial count would still pass).
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        parts = _word_freqs(df, "text").rdd.glom().collect()
        assert sum(1 for p in parts if p) >= 2, parts
        vocab, rows = unigram_train(df, vocab_size=3, seed_size=40, n_rounds=2)
    finally:
        spark.conf.set(key, prev)
    assert (vocab, rows) == _ref_train([t for _, t in CORPUS], vocab_size=3, seed_size=40)
    # coverage: every corpus character is in the vocabulary
    corpus_chars = {
        c for _, t in CORPUS for w in t.split() for c in w
    }
    assert corpus_chars <= set(ref_vocab)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` in its own job group; return (its Spark job ids, its
    result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return sc.statusTracker().getJobIdsForGroup(group), out


def test_em_sweep_is_one_map_only_job(spark):
    """One E-step is one Spark job: each task emits its summed piece
    counts once and the driver adds them up (a piece-keyed groupBy
    would add a shuffle-map job). The word table has 3 partitions and
    some pieces come from more than one of them, so the driver's sum
    of partial counts is exercised; the result is the exact
    frequency-weighted Viterbi piece counts."""
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    vocab = {"a": -100, "at": -200, "the": -300, "ca": -250, "s": -120}
    want = {}
    for _, t in CORPUS:
        for w in t.split():
            for p in _viterbi(w, vocab, 6)[0]:
                want[p] = want.get(p, 0) + 1
    wf = _word_freqs(df, "text").repartition(3).localCheckpoint(eager=True)
    assert wf.rdd.getNumPartitions() == 3
    part_pieces = [
        {p for r in part for p in _viterbi(r["word"], vocab, 6)[0]}
        for part in wf.rdd.glom().collect()
    ]
    assert any(
        len([s for s in part_pieces if p in s]) > 1 for p in want
    ), part_pieces
    jobs, got = _jobs_in_group(
        spark, "unigram-em-sweep", lambda: _viterbi_counts(wf, vocab, 6)
    )
    assert len(jobs) == 1, jobs
    assert got == want


def test_unigram_train_job_count(spark):
    """One train (2 rounds x 2 EM sweeps) runs at most 8 jobs: the
    word-table pin's Exchange and the pin, the seed aggregate's one
    (reused) Exchange and its collect, and one job per sweep. With a
    piece-keyed shuffle per sweep and the seed kernel run once per
    union branch it ran 13."""
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    jobs, _ = _jobs_in_group(
        spark,
        "unigram-train",
        lambda: unigram_train(df, vocab_size=8, seed_size=40, n_rounds=2, em_per_round=2),
    )
    assert len(jobs) <= 8, jobs


def test_viterbi_is_optimal_by_brute_force():
    """The DP segmentation maximizes (score, -n_pieces, longest-last)
    over ALL segmentations, enumerated exhaustively for short words."""
    vocab = {
        "a": -100, "b": -200, "c": -150, "ab": -250, "bc": -240,
        "abc": -500, "abcb": -460,
    }

    def all_segs(w, max_len):
        if not w:
            yield []
            return
        for L in range(1, min(max_len, len(w)) + 1):
            head = w[:L]
            lp = vocab.get(head)
            if lp is None and L > 1:
                continue
            for rest in all_segs(w[L:], max_len):
                yield [head] + rest

    def score(seg):
        s = sum(vocab.get(p, _UNK_LP_MICRO) for p in seg)
        # the DP's tie-break: fewer pieces, then longer last piece
        # applied left-to-right == compare start-of-last-piece descending
        starts = list(itertools.accumulate([len(p) for p in seg[:-1]]))
        last_start = starts[-1] if starts else 0
        return (s, -len(seg), -last_start)

    for w in ["abc", "abcb", "abcbc", "ababc", "xabc", "bcbcbc"]:
        got, got_score = _viterbi(w, vocab, 4)
        best = max(all_segs(w, 4), key=score)
        assert score(got)[0] == got_score
        assert score(got) >= score(best), (w, got, best)
        assert "".join(got) == w


def test_unigram_encode_stats_and_unknown_chars(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    vocab, _rows = unigram_train(df, vocab_size=8, seed_size=40)
    enc = {r["doc_id"]: r for r in unigram_encode(df, vocab).collect()}
    assert set(enc) == {i for i, _ in CORPUS}
    for i, t in CORPUS:
        r = enc[i]
        words = t.split()
        assert r["n_words"] == len(words)
        # piece count bounded by char count, at least word count
        assert len(words) <= r["n_pieces"] <= sum(len(w) for w in words)
        ref_total = sum(
            _viterbi(w, vocab, 6)[1] for w in words
        )
        assert r["lp_micro_total"] == ref_total
        assert r["sample_pieces"]
    # unseen characters fall back to the UNK floor, never crash
    odd = spark.createDataFrame(
        [(99, "zzz 日本 cat")], "doc_id long, text string"
    )
    r = unigram_encode(odd, vocab).collect()[0]
    assert r["n_pieces"] >= 5
    assert r["lp_micro_total"] <= 5 * _UNK_LP_MICRO + vocab.get("cat", 0)


def test_unigram_encode_past_the_word_memo_cap(spark):
    """One task sees more distinct words than the per-task memo holds:
    words past the cap are encoded without being stored, and every
    document still matches the single-machine Viterbi encoding."""
    letters = "abcdefghij"
    words = [
        "".join(letters[int(d)] for d in f"{i:05d}") for i in range(_MEMO_CAP + 4_000)
    ]
    docs = [
        (k, " ".join(words[k * 100 : (k + 1) * 100] + words[:3]))
        for k in range(len(words) // 100)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").coalesce(1)
    vocab = {"a": -100, "b": -120, "ab": -150, "ba": -160, "aa": -170, "abc": -200}
    got = {r["doc_id"]: r for r in unigram_encode(df, vocab).collect()}
    assert len(got) == len(docs) and len(words) > _MEMO_CAP
    for k, text in docs:
        segs = [_viterbi(w, vocab, 6) for w in text.split()]
        pieces = [p for seg, _ in segs for p in seg]
        r = got[k]
        assert r["n_pieces"] == len(pieces), k
        assert r["lp_micro_total"] == sum(lp for _, lp in segs), k
        assert r["sample_pieces"] == "|".join(pieces[:10]), k


def test_unigram_registry_queries_run(spark, sf_dir):
    from arc_kinesis_tagging_spark.plans.quality_ops import (
        q_unigram_encode,
        q_unigram_train,
    )

    rows = q_unigram_train(spark, sf_dir).collect()
    # the synthetic corpus has a small word inventory, so EM collapses
    # most of the 600 seeds; the floor checks non-degeneracy only
    assert len(rows) >= 30
    pieces = {r["piece"] for r in rows}
    assert all(r["lp_micro"] < 0 for r in rows)
    assert any(r["is_char"] for r in rows)
    assert any(not r["is_char"] for r in rows)
    # log-probs normalize: sum of exp(lp) over the vocab ~ 1
    tot = sum(math.exp(r["lp_micro"] / 1e6) for r in rows)
    assert abs(tot - 1.0) < 1e-3
    enc = q_unigram_encode(spark, sf_dir).limit(50).collect()
    assert enc
    for r in enc:
        assert r["n_pieces"] >= r["n_words"]
        assert r["lp_micro_total"] <= 0
    assert pieces  # vocab non-degenerate alongside a usable encoding
