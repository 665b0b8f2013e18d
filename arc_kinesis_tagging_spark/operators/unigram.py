"""Unigram-LM subword tokenizer training (SentencePiece's model).

The second canonical tokenizer-training op of an LLM data pipeline,
next to BPE (operators/bpe.py): Kudo 2018's unigram language model —
seed a large candidate vocabulary, fit piece probabilities with EM
over the corpus, prune to the target size, and encode by Viterbi
segmentation. Where BPE grows a vocabulary bottom-up by merges, the
unigram model shrinks top-down by likelihood — the algorithm behind
SentencePiece's default mode (and the tokenizers of T5, ALBERT, XLNet).

Spark shape (the part that matters at 100 TB): the corpus is touched
EXACTLY ONCE — a word-frequency aggregate into a vocabulary-sized
table (corpus-independent; ~10M rows for web-scale English). Seeding,
every EM sweep, and pruning all run on that table: the candidate
explode is map-side with partial aggregation, and the seed table that
comes back to the driver is bounded by ``seed_size`` multi-char rows
plus the seen characters (explicitly bounded collect). Each E-step is
one map-only job: it broadcasts the current piece table to an
Arrow-batched Viterbi pass whose tasks each emit their summed piece
counts once, and the driver adds those partials up (bounded by
word-table partitions x vocabulary rows). Encoding is map-only with
the final vocab closure-captured, exactly like bpe_encode.

Determinism (the cross-engine discipline this repo applies
everywhere): piece log-probs are quantized to INTEGER micro-units
before any comparison, Viterbi ties break by (fewer pieces, then
longer last piece), and every ranked selection carries a full
(count DESC, piece ASC) order — so the trained vocabulary and every
segmentation are independent of partitioning, engine, and run.
This is hard EM (Viterbi counts, the documented SentencePiece
variant); soft EM's forward-backward expectations would put
unquantized float sums inside the M-step ranking, which is exactly
the nondeterminism class the oracle harness exists to catch.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.functions.text import tokens

_UNK_LP_MICRO = -23_025_851  # ln(1e-10) in micro-units: unseen-char floor

# Bound on ``unigram_encode``'s per-task word memo: ~64k short words
# and their piece lists are a few MB. Past it a new word is encoded but
# not stored, so a task over a heavy-tailed vocabulary (web text, typo
# soup) keeps a fixed memo instead of one entry per distinct word.
_MEMO_CAP = 1 << 16


def _lp_micro(count: int, total: int) -> int:
    """Half-up integer micro-units of ln(count/total)."""
    return int(math.floor(math.log(count / total) * 1e6 + 0.5))


def _viterbi(word: str, vocab: dict[str, int], max_len: int):
    """Best segmentation of ``word`` under quantized piece log-probs.

    Maximizes (sum lp_micro, -n_pieces, longest-last-piece) — a total
    order with optimal substructure, so the DP is deterministic.
    Characters absent from the vocab segment as themselves at the
    unknown floor. Returns (pieces, score_micro).
    """
    n = len(word)
    # best[i] = (score, -npieces, start_of_last_piece, last_piece)
    best: list[tuple[int, int, int, str] | None] = [None] * (n + 1)
    best[0] = (0, 0, 0, "")
    for i in range(1, n + 1):
        cand = None
        for j in range(max(0, i - max_len), i):
            prev = best[j]
            if prev is None:
                continue
            piece = word[j:i]
            lp = vocab.get(piece)
            if lp is None:
                if i - j > 1:
                    continue
                lp = _UNK_LP_MICRO  # single char not in vocab
            key = (prev[0] + lp, prev[1] - 1, -j)
            if cand is None or key > cand[0]:
                cand = (key, j, piece)
        # every position is reachable via the single-char fallback
        best[i] = (cand[0][0], cand[0][1], cand[1], cand[2])
    pieces: list[str] = []
    i = n
    while i > 0:
        _, _, j, piece = best[i]
        pieces.append(piece)
        i = j
    pieces.reverse()
    return pieces, best[n][0]


def _word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    words = df.select(F.explode(tokens(F.col(text_col))).alias("word"))
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _viterbi_counts(
    word_freqs: DataFrame, vocab: dict[str, int], max_len: int
) -> dict[str, int]:
    """One distributed hard-E-step as one map-only Spark job: per
    distinct word, Viterbi-count the pieces of its best segmentation
    weighted by corpus frequency. Each task sums its counts over all of
    its Arrow batches into one dict and emits it once; the driver
    fetches the partial counts as one Arrow frame and adds them up.
    The fetch is bounded by (word-table partitions x vocabulary) rows.
    The counts are exact integer sums, so the result does not depend
    on the partitioning."""
    spark = word_freqs.sparkSession
    b = spark.sparkContext.broadcast((vocab, max_len))

    def estep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v, ml = b.value
        out: dict[str, int] = {}
        for pdf in batches:
            for w, f in zip(pdf["word"], pdf["freq"]):
                pieces, _ = _viterbi(w, v, ml)
                for p in pieces:
                    out[p] = out.get(p, 0) + int(f)
        if out:
            yield pd.DataFrame(
                {"piece": list(out), "cnt": list(out.values())}
            )

    # bounded: <= partitions x len(vocab) rows, fetched as Arrow and
    # summed vectorized (300 partitions x 1,026 pieces = 208k rows:
    # 0.5 s, against 1.3 s for collect() and a loop over Rows)
    parts = word_freqs.mapInPandas(estep, "piece string, cnt long").toPandas()
    return {p: int(c) for p, c in parts.groupby("piece")["cnt"].sum().items()}


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 400,
    seed_size: int = 1000,
    max_piece_len: int = 6,
    n_rounds: int = 2,
    em_per_round: int = 2,
):
    """Train a unigram-LM vocabulary. Returns (vocab dict piece ->
    lp_micro, rows list of (piece, count, lp_micro, is_char) sorted by
    (count DESC, piece ASC)) — bounded metadata, like bpe_train's
    merge list.

    Round structure per Kudo 2018: seed ``seed_size`` candidates (all
    substrings up to ``max_piece_len`` ranked by weighted occurrence
    count; every seen single character is always included and never
    pruned — the coverage guarantee), then ``n_rounds`` of
    [``em_per_round`` hard-EM sweeps, prune multi-char pieces to the
    geometric schedule toward ``vocab_size``]."""
    # the single corpus pass; checkpointed because every EM sweep and
    # the seed explode re-reads it (same discipline as bpe_train)
    wf = _word_freqs(df, text_col).localCheckpoint(eager=True)
    ml = max_piece_len

    def seed_step(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, int] = {}
            for w, f in zip(pdf["word"], pdf["freq"]):
                n = len(w)
                for i in range(n):
                    for L in range(1, min(ml, n - i) + 1):
                        p = w[i : i + L]
                        out[p] = out.get(p, 0) + int(f)
            yield pd.DataFrame(
                {"piece": list(out), "cnt": list(out.values())}
            )

    # The piece length is an aggregate output, not a function of the
    # grouping key: Catalyst pushes a filter on the key below the
    # aggregate, which would give the two branches below two different
    # Exchanges (not reused) and run seed_step twice. Filtered on `n`,
    # both branches share one reused Exchange and seed_step runs once.
    seeds = (
        wf.mapInPandas(seed_step, "piece string, cnt long")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"), F.max(F.length("piece")).alias("n"))
    )
    chars = seeds.filter(F.col("n") == 1)
    multis = (
        seeds.filter(F.col("n") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(seed_size)
    )
    rows = chars.unionByName(multis).collect()  # bounded: seed_size + chars
    counts = {r["piece"]: int(r["cnt"]) for r in rows}
    char_set = {p for p in counts if len(p) == 1}

    def to_vocab(cnts: dict[str, int]) -> dict[str, int]:
        total = sum(cnts.values())
        return {p: _lp_micro(c, total) for p, c in cnts.items()}

    n_multi_start = len(counts) - len(char_set)
    for rnd in range(n_rounds):
        for _ in range(em_per_round):
            got = _viterbi_counts(wf, to_vocab(counts), ml)
            # single chars are never dropped: floor their count at 1
            counts = {
                p: got.get(p, 1 if p in char_set else 0)
                for p in counts
                if p in char_set or got.get(p, 0) > 0
            }
        # geometric prune schedule toward vocab_size multi-char pieces
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
    out_rows = sorted(
        (
            (p, counts[p], vocab[p], len(p) == 1)
            for p in counts
        ),
        key=lambda t: (-t[1], t[0]),
    )
    return vocab, out_rows


def unigram_vocab_df(spark, out_rows) -> DataFrame:
    """The trained vocabulary as a DataFrame (bounded metadata)."""
    return spark.createDataFrame(
        out_rows, "piece string, count long, lp_micro long, is_char boolean"
    )


def unigram_encode(
    df: DataFrame,
    vocab: dict[str, int],
    max_piece_len: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Viterbi-encode the corpus with a trained vocabulary. Map-only:
    the vocab is closure-captured bounded metadata, and each task
    memoizes up to ``_MEMO_CAP`` words across all of its Arrow batches.
    Emits per-document (n_words, n_pieces, lp_micro_total — an exact
    integer sum, order-independent by construction — and the first 10
    pieces as a sample)."""
    spark = df.sparkSession
    b = spark.sparkContext.broadcast((vocab, max_piece_len))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        v, ml = b.value
        cache: dict[str, tuple[list, int]] = {}

        def enc_word(w):
            got = cache.get(w)
            if got is None:
                got = _viterbi(w, v, ml)
                if len(cache) < _MEMO_CAP:
                    cache[w] = got
            return got

        for pdf in batches:
            rows = []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                # ASCII class pinned to RE2's \s ([ \t\n\f\r]) so word
                # boundaries agree with the DuckDB oracle's
                # string_split_regex(text, '\s+') on non-ASCII
                # whitespace (Python \s would also split on VT/NEL/
                # NBSP and fork n_words/n_pieces across engines).
                words = [w for w in re.split("[ \t\n\f\r]+", text or "") if w]
                n_pieces, lp_total = 0, 0
                sample: list[str] = []
                for w in words:
                    pieces, lp = enc_word(w)
                    n_pieces += len(pieces)
                    lp_total += lp
                    if len(sample) < 10:
                        sample.extend(pieces[: 10 - len(sample)])
                rows.append(
                    (rid, len(words), n_pieces, lp_total, "|".join(sample))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "n_words", "n_pieces", "lp_micro_total",
                    "sample_pieces",
                ],
            )

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        enc,
        f"{id_col} {id_type}, n_words long, n_pieces long, "
        "lp_micro_total long, sample_pieces string",
    )
