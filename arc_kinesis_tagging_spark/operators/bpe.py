"""Byte-pair-encoding vocabulary training as a DataFrame loop.

The canonical tokenizer-training op of an LLM data pipeline, shaped
for corpus scale the way the classic algorithm allows: the corpus is
touched EXACTLY ONCE (a word-frequency aggregate — one shuffle to a
vocabulary-sized table), and every merge iteration runs on that
distinct-word table, whose size is corpus-independent (~10M rows for
web-scale English). Per iteration:

- adjacent symbol pairs explode from each word's symbol array with the
  word's frequency as weight (map-side; the shuffle carries one row
  per distinct pair after partial aggregation);
- the argmax pair comes back to the driver as ONE row, with the tie
  broken lexicographically (deterministic across engines, runs, and
  partitionings — frequency ties are common and an unordered pick
  would fork the whole merge trajectory);
- the merge applies as an Arrow-batched pandas scan over the symbol
  arrays (the sequential adjacent-replace that higher-order functions
  cannot express), and ``localCheckpoint(eager=True)`` truncates the
  growing lineage — the same iterative-loop discipline as PageRank and
  connected components.

Reference semantics: Sennrich et al. 2016 (the original subword-NMT
formulation) — word-internal merges, ``</w>`` end-of-word marker.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.functions.text import tokens

END = "</w>"

# Bound on ``bpe_encode``'s per-task word memo: ~64k short words and
# their symbol lists are a few MB. Past it a new word is encoded but
# not stored, so a task over a heavy-tailed vocabulary (web text, typo
# soup) keeps a fixed memo instead of one entry per distinct word.
_MEMO_CAP = 1 << 16


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(syms array<string>, freq long): distinct words as char symbol
    arrays with an end-of-word marker, weighted by corpus frequency."""
    words = df.select(F.explode(tokens(F.col(text_col))).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat(F.split("word", ""), F.array(F.lit(END))).alias("syms"),
            "freq",
        )
    )


def _apply_merge(left: str, right: str):
    merged = left + right

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                syms = list(syms)
                res = []
                i = 0
                n = len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            yield pd.DataFrame({"syms": out, "freq": pdf["freq"]})

    return apply


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    min_freq: int = 2,
):
    """Learn ``n_merges`` BPE merges from the corpus. Returns
    (merges list of (left, right, weighted_freq), final vocab
    DataFrame). Stops early when the best pair's weighted frequency
    falls below ``min_freq``."""
    state = _word_vocab(df, text_col).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = state.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_freq:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((left, right, cnt))
        state = state.mapInPandas(
            _apply_merge(left, right), "syms array<string>, freq long"
        ).localCheckpoint(eager=True)
    return merges, state


def bpe_encode(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list to the corpus — the tokenize-apply
    half of the loop. Per word: start from chars + ``</w>`` and apply
    the merges in rank order (exactly the training-side replacement,
    so encoding any training-corpus word reproduces the final training
    vocabulary's symbol sequence — the self-consistency invariant the
    tests pin). Map-only: the merge list is closure-captured (it is
    rank-bounded metadata), each task memoizes up to ``_MEMO_CAP``
    words across all of its Arrow batches, and no shuffle happens at
    any scale. Emits per-document subword stats."""
    pairs = [(left, right) for left, right, *_ in merges]

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        cache: dict[str, list[str]] = {}

        def encode_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                syms = list(w) + [END]
                for left, right in pairs:
                    i, out = 0, []
                    n = len(syms)
                    while i < n:
                        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                            out.append(left + right)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                got = syms
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
                n_sub = 0
                sample: list[str] = []
                for w in words:
                    syms = encode_word(w)
                    n_sub += len(syms)
                    if len(sample) < 10:
                        sample.extend(syms[: 10 - len(sample)])
                rows.append((rid, len(words), n_sub, "|".join(sample)))
            yield pd.DataFrame(
                rows, columns=[id_col, "n_words", "n_subwords", "sample_tokens"]
            )

    # derive the id column's type from the input rather than hardcoding
    # `long` (a string doc_id would otherwise fail or miscast)
    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        enc,
        f"{id_col} {id_type}, n_words long, n_subwords long, "
        "sample_tokens string",
    )
