"""Round-3 corpus-quality and time-series operators.

The monitoring/reshaping primitives that run alongside the dedup and
sampling passes of a 100 TB training-corpus pipeline:

- **column profiling** (``q_profile_columns``): the per-source health
  table a pipeline publishes after every ingest — row counts, empty
  documents, language cardinality, char-length extremes, token means.
  One partial+final hash aggregation over the scan; at 100 TB this is
  the cheapest full-corpus pass there is, so it is the first thing to
  run on new data.
- **token-length histogram** (``q_token_histogram``): fixed-width
  bucketing of per-document token counts with a cumulative column —
  the input to context-length planning (how much of the corpus fits a
  2k/8k/32k window). Bucketing is a map-side projection; the agg output
  is bounded at 16 rows, so the cumulative window costs nothing.
- **domain balancing** (``q_domain_balance``): undersample every
  language to the size of the smallest one, selecting by the portable
  md5 hash order so the kept SET is engine- and run-stable. The rank
  window partitions by lang; at corpus scale a dominant language makes
  that window skewed — the scale path replaces exact ranking with a
  per-lang hash-threshold cut (quantile of the hash), which this
  module's docstring records as the documented degradation. The exact
  form stays the oracle.
- **time-series gap-fill** (``q_ts_gapfill``): per-user daily activity
  with missing days zero-filled from a generated date spine
  (``sequence`` + ``explode``) — the densification step before any
  rolling-window feature. Spine size = sum of per-user day spans, so
  it scales with user count, not with the cross product of users and
  the global date range.

- **corpus-pipeline composite** (``q_corpus_pipeline``): the daily
  refresh pass — quality gate -> exact dedup -> split -> per-split
  stats — as one declarative tree, so Catalyst fuses the map-side
  stages and the job runs exactly two shuffles (digest partition +
  bounded final agg) regardless of corpus size.

Reference parity: the reference has no analytics at all (SURVEY §2.B);
these extend the engine surface the same way the round-2/3 corpus ops
do, each oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.functions.text import STOPWORDS, stable_hash64, tokens
from arc_kinesis_tagging_spark.plans.common import Query, dec
from arc_kinesis_tagging_spark.sources.tables import load_table

_DUCK_H64 = "CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# --- per-source column profiling --------------------------------------------

def q_profile_columns(spark, sf_dir):
    """Per-source data-quality profile: the post-ingest health check.
    Counts, empty-document count (zero tokens after whitespace split),
    language cardinality, char-length extremes, exact mean tokens per
    doc. Single partial+final HashAggregate over one scan — every
    metric is computed in the same pass so the corpus is read once.
    Mean = CAST(SUM)/CAST(COUNT) as doubles in both engines (integer
    sums are exact, the division is one deterministic rounding)."""
    d = _t(spark, sf_dir, "documents")
    tok_cnt = F.size(tokens(F.col("text")))
    return (
        d.select("source", "lang", "n_chars", tok_cnt.alias("tc"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("tc") == 0, 1).otherwise(0)).alias("n_empty"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            (
                F.sum("tc").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_tokens"),
        )
    )


ORACLE_PROFILE_COLUMNS = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                          t -> t <> '')) = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                                t -> t <> ''))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_tokens
FROM documents
GROUP BY source
"""


# --- token-count histogram ---------------------------------------------------

def q_token_histogram(spark, sf_dir):
    """Token-count histogram: 32-token-wide buckets, capped at bucket
    15 (512+ tokens), with document counts and a cumulative count.
    The bucket id is a map-side projection; the aggregate emits at
    most 16 rows, so the cumulative window (single partition, 16 rows)
    is free — the one place a global window is acceptable is over an
    aggregation output whose size is a constant, not a function of the
    data."""
    d = _t(spark, sf_dir, "documents")
    tok_cnt = F.size(tokens(F.col("text")))
    bucket = F.least(F.floor(tok_cnt / 32), F.lit(15)).cast("long")
    hist = (
        d.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # Unpartitioned window: input is the 16-row-bounded bucket aggregate
    # (bucket = least(floor(tc/32), 15)), a CONSTANT independent of corpus
    # size. Audited by tests/test_plan_shapes.py::test_global_window_allowlist.
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        "bucket",
        (F.col("bucket") * 32).cast("long").alias("lo_tokens"),
        "n_docs",
        F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
    )


ORACLE_TOKEN_HISTOGRAM = """
WITH b AS (
  SELECT LEAST(CAST(floor(len(list_filter(string_split_regex(text, '\\s+'),
                                          t -> t <> '')) / 32) AS BIGINT),
               15) AS bucket
  FROM documents
), h AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs FROM b GROUP BY bucket
)
SELECT bucket, CAST(bucket * 32 AS BIGINT) AS lo_tokens, n_docs,
       CAST(SUM(n_docs) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs
FROM h
"""


# --- domain balancing --------------------------------------------------------

def q_domain_balance(spark, sf_dir):
    """Undersample every language to the smallest language's size.
    Selection order is the portable md5 hash of doc_id (doc_id as
    tiebreaker), so the kept set is a pure function of the data —
    stable across engines, reruns, and repartitions. The cap comes
    from one tiny aggregate (min over per-lang counts) broadcast onto
    the ranked rows. SCALE NOTE: rank-per-lang is exact but the
    dominant language's window partition is a straggler at corpus
    scale; the 100 TB degradation is a hash-threshold cut (keep rows
    whose hash falls below the lang's k/n quantile, estimated from a
    sample) — same statistical effect, fully map-side. The exact form
    here doubles as that variant's correctness oracle."""
    d = _t(spark, sf_dir, "documents")
    h = stable_hash64(F.concat(F.lit("balance:"), F.col("doc_id").cast("string")))
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    cap = counts.agg(F.min("n").alias("cap"))
    w = Window.partitionBy("lang").orderBy("__h", "doc_id")
    ranked = (
        d.select("doc_id", "lang", h.alias("__h"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
    )
    return (
        ranked.crossJoin(F.broadcast(cap))
        .filter(F.col("rk") <= F.col("cap"))
        .select("doc_id", "lang", "rk")
    )


ORACLE_DOMAIN_BALANCE = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY lang
             ORDER BY {_DUCK_H64.format(expr="'balance:' || CAST(doc_id AS VARCHAR)")},
                      doc_id) AS BIGINT) AS rk
  FROM documents
), cap AS (
  SELECT MIN(n) AS cap FROM (SELECT COUNT(*) AS n FROM documents GROUP BY lang)
)
SELECT doc_id, lang, rk FROM ranked, cap WHERE rk <= cap
"""


_H60 = 1 << 60  # exclusive upper bound of stable_hash64's range


def q_domain_balance_hash(spark, sf_dir):
    """Map-side hash-threshold domain balancing — the 100 TB form of
    ``q_domain_balance``. Instead of an exact per-lang rank window
    (whose dominant-language partition is a single-task straggler at
    corpus scale), keep each row iff its portable hash falls below the
    language's keep-ratio threshold::

        keep  <=>  h / 2^60  <  cap / n_lang

    evaluated in exact integer arithmetic (``h * n_lang < cap * 2^60``
    as decimal(38,0) / HUGEINT — no float rounding to disagree across
    engines). ``cap`` = size of the smallest language, ``n_lang`` from
    one tiny count aggregate broadcast back onto the scan, so the whole
    keep decision is a broadcast join + filter: no window, no per-lang
    shuffle, no straggler. Kept counts are Binomial(n_lang, cap/n_lang)
    ≈ cap ± sqrt(cap) rather than exactly cap — the documented,
    statistically equivalent degradation; tests/test_quality_ops.py
    bounds the deviation and test_plan_shapes.py asserts the plan has
    no WindowExec. Fully deterministic => exact DuckDB oracle."""
    d = _t(spark, sf_dir, "documents")
    h = stable_hash64(F.concat(F.lit("balance:"), F.col("doc_id").cast("string")))
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    cap = counts.agg(F.min("n").alias("cap"))
    thresholds = counts.crossJoin(F.broadcast(cap))  # n_langs rows
    return (
        d.select("doc_id", "lang", h.alias("__h"))
        .join(F.broadcast(thresholds), "lang")
        .filter(
            F.col("__h").cast("decimal(38,0)") * F.col("n")
            < F.col("cap").cast("decimal(38,0)") * F.lit(_H60).cast("decimal(38,0)")
        )
        .select("doc_id", "lang")
    )


ORACLE_DOMAIN_BALANCE_HASH = f"""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
), cap AS (
  SELECT MIN(n) AS cap FROM counts
)
SELECT d.doc_id, d.lang
FROM documents d
JOIN counts c ON d.lang = c.lang
CROSS JOIN cap
WHERE CAST({_DUCK_H64.format(expr="'balance:' || CAST(d.doc_id AS VARCHAR)")} AS HUGEINT) * c.n
      < CAST(cap.cap AS HUGEINT) * {_H60}
"""


# --- time-series gap-fill ----------------------------------------------------

def q_ts_gapfill(spark, sf_dir):
    """Per-user daily activity, densified: every day between a user's
    first and last event appears, with zero rows for silent days — the
    preprocessing step before rolling-window features (a 7-day moving
    average over a sparse series is wrong without the zeros). The
    spine is generated per user with ``sequence(min_day, max_day,
    1 day)`` + ``explode``: its size is the sum of per-user spans, so
    it never materializes the users x global-range cross product. The
    daily aggregate shuffles once on (user_id, day); the spine join is
    a second shuffle on the same key — co-partitioned by AQE. Value
    sums are exact decimals cast to double (order-independence)."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("day"),
            "value",
        )
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 6)).alias("pv"),
        )
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(d0, d1, interval 1 day)")
            ).alias("day"),
        )
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
            F.coalesce(F.col("pv").cast("double"), F.lit(0.0)).alias("day_value"),
        )
    )


ORACLE_TS_GAPFILL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(38,6))) AS pv
  FROM events GROUP BY user_id, date_trunc('day', ts)
), spine AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id)
)
SELECT s.user_id, s.day,
       COALESCE(d.n_events, 0) AS n_events,
       COALESCE(CAST(d.pv AS DOUBLE), 0.0) AS day_value
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
"""


# --- text normalization ------------------------------------------------------

def q_text_normalize(spark, sf_dir):
    """Canonical text normalization — the pass that runs before any
    hashing/dedup so near-identical documents collide: lowercase,
    collapse every non-alphanumeric run to one space, trim. Map-only
    projection (fuses into the scan); token count guards the empty
    string."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.when(norm == "", F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
        .alias("n_norm_tokens"),
    )


ORACLE_TEXT_NORMALIZE = """
SELECT doc_id,
       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm_text,
       CAST(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                 THEN 0
                 ELSE len(string_split(
                     trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))
            END AS BIGINT) AS n_norm_tokens
FROM documents
"""


def q_text_repetition(spark, sf_dir):
    """Repetition-based quality gate (the Gopher/MassiveText family of
    signals): per document, the duplicate-word fraction
    ((n_tokens - n_distinct) / n_tokens), the top-word fraction
    (most frequent token / n_tokens), and the top-bigram fraction —
    the signals that catch boilerplate, keyword stuffing, and
    degenerate generations that length/stopword ratios miss.

    Plan: one explode + two-level aggregate per signal family —
    (doc, token) counts then per-doc max/sum/count — all shuffles on
    doc_id, all arithmetic on exact integers until the final division
    (IEEE int/int division is engine-deterministic, so the oracle
    hash-matches without rounding). Bigrams come from zip_with over the
    token array (codegen, no UDF). ``kept`` applies fixed thresholds
    the way a corpus refresh would."""
    from arc_kinesis_tagging_spark.operators.skew import spread_small_scan

    d = _t(spark, sf_dir, "documents")
    # spread + pin: the token-array projection feeds both explode
    # passes (words, bigrams), each of which otherwise re-tokenized
    # the corpus as ONE task behind the single-row-group scan (r14)
    toks = spread_small_scan(d.select("doc_id", "text")).select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    ).localCheckpoint(eager=True)
    word_counts = (
        toks.select("doc_id", F.explode("__toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    words = word_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    bigrams = (
        toks.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
                    F.slice(F.col("__toks"), 2, F.size("__toks") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("bg"),
        )
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_count"))
    )
    dup_frac = (F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens")
    top_frac = F.col("top_count") / F.col("n_tokens")
    bg_frac = F.coalesce(
        F.col("top_bigram_count") / F.col("n_bigrams"), F.lit(0.0)
    )
    return (
        words.join(bigrams, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            dup_frac.alias("dup_word_frac"),
            top_frac.alias("top_word_frac"),
            bg_frac.alias("top_bigram_frac"),
            (
                (dup_frac <= F.lit(0.7))
                & (top_frac <= F.lit(0.3))
                & (bg_frac <= F.lit(0.18))
            ).alias("kept"),
        )
    )


ORACLE_TEXT_REPETITION = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), wc AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
  GROUP BY doc_id, tok
), words AS (
  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct, MAX(c) AS top_count
  FROM wc GROUP BY doc_id
), bgc AS (
  SELECT doc_id, bg, COUNT(*) AS c
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS bg
    FROM toks
  )
  GROUP BY doc_id, bg
), bigrams AS (
  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_count
  FROM bgc GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(w.n_tokens AS BIGINT) AS n_tokens,
       (w.n_tokens - w.n_distinct) / CAST(w.n_tokens AS DOUBLE) AS dup_word_frac,
       w.top_count / CAST(w.n_tokens AS DOUBLE) AS top_word_frac,
       COALESCE(b.top_bigram_count / CAST(b.n_bigrams AS DOUBLE), 0.0)
         AS top_bigram_frac,
       ((w.n_tokens - w.n_distinct) / CAST(w.n_tokens AS DOUBLE) <= 0.7
        AND w.top_count / CAST(w.n_tokens AS DOUBLE) <= 0.3
        AND COALESCE(b.top_bigram_count / CAST(b.n_bigrams AS DOUBLE), 0.0) <= 0.18)
         AS kept
FROM words w LEFT JOIN bigrams b ON w.doc_id = b.doc_id
"""


def q_corpus_pipeline2(spark, sf_dir):
    """The round-4 corpus refresh as ONE declarative plan, composing
    this round's operators end-to-end: repetition quality gate
    (dup-word + top-word fractions) -> exact content dedup (min doc_id
    per md5 digest) -> temperature-based source mixing (alpha=0.5
    integer weights over SURVIVOR counts, 10k-row budget) -> a
    deterministic hash-ranked take of each source's target rows ->
    per-source summary.

    Scale shape: the gate is one explode + two-level aggregate (all
    shuffles on doc_id), dedup is one digest-partitioned window, the
    mixing weights reduce to one tiny broadcast, and the take ranks
    WITHIN each source partition by the portable md5 hash (spread
    across the cluster — never a global sort). Chars summed as decimal
    for order independence."""
    from arc_kinesis_tagging_spark.functions.text import stable_hash64
    from arc_kinesis_tagging_spark.plans.common import dsum

    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    words = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.count(F.lit(1)).alias("n_dis"),
        F.max("c").alias("top"),
    )
    gated = words.filter(
        ((F.col("n_tok") - F.col("n_dis")) / F.col("n_tok") <= 0.7)
        & (F.col("top") / F.col("n_tok") <= 0.3)
    ).select("doc_id")
    kept = d.join(gated, "doc_id", "left_semi")
    uniq = (
        kept.withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("__rk") == 1)
        .drop("__rk")
        # The survivor set feeds BOTH the mixing-weight counts and the
        # ranked take, so the gate+dedup subtree executes twice.
        # Measured: a persist() here is SLOWER at bench scale (the
        # materialization barrier costs more than the codegen'd
        # recompute, 1.6 s vs 1.4 s at sf0.1) — and at corpus scale the
        # daily job materializes survivors as its own output table
        # anyway, which is the real dedup-once answer; a cache of a
        # corpus-sized intermediate is the wrong tool at either scale.
    )
    per = uniq.groupBy("source").agg(F.count(F.lit(1)).alias("n_survivors"))
    weighted = per.select(
        "source",
        "n_survivors",
        F.floor(F.sqrt(F.col("n_survivors").cast("double")) * F.lit(1048576))
        .cast("long")
        .alias("__w"),
    )
    targets = (
        weighted.crossJoin(
            F.broadcast(weighted.agg(F.sum("__w").alias("__denom")))
        )
        .select(
            "source",
            "n_survivors",
            F.expr("__w * 10000L div __denom").alias("target_rows"),
        )
    )
    mix_hash = stable_hash64(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    )
    ranked = uniq.withColumn(
        "__mrk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(mix_hash, F.col("doc_id"))
        ),
    )
    sampled = ranked.join(F.broadcast(targets), "source").filter(
        F.col("__mrk") <= F.col("target_rows")
    )
    return sampled.groupBy("source", "n_survivors", "target_rows").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        dsum("n_chars", 0).alias("sampled_chars"),
    )


ORACLE_CORPUS_PIPELINE2 = """
WITH wc AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
), words AS (
  SELECT doc_id, SUM(c) AS n_tok, COUNT(*) AS n_dis, MAX(c) AS top
  FROM wc GROUP BY doc_id
), gated AS (
  SELECT doc_id FROM words
  WHERE (n_tok - n_dis) / CAST(n_tok AS DOUBLE) <= 0.7
    AND top / CAST(n_tok AS DOUBLE) <= 0.3
), kept AS (
  SELECT d.* FROM documents d JOIN gated g ON d.doc_id = g.doc_id
), uniq AS (
  SELECT * FROM (
    SELECT k.*, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
    FROM kept k
  ) WHERE rk = 1
), per AS (
  SELECT source, COUNT(*) AS n_survivors FROM uniq GROUP BY source
), weighted AS (
  SELECT source, n_survivors,
         CAST(FLOOR(SQRT(CAST(n_survivors AS DOUBLE)) * 1048576) AS BIGINT) AS w
  FROM per
), targets AS (
  SELECT source, n_survivors,
         CAST(w * 10000 // (SELECT SUM(w) FROM weighted) AS BIGINT) AS target_rows
  FROM weighted
), ranked AS (
  SELECT u.source, u.n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY u.source
           ORDER BY CAST(('0x' || substr(md5('mix:' || CAST(u.doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                    u.doc_id
         ) AS mrk
  FROM uniq u
)
SELECT t.source,
       CAST(t.n_survivors AS BIGINT) AS n_survivors,
       t.target_rows,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(CAST(r.n_chars AS DECIMAL(38, 0))) AS DOUBLE) AS sampled_chars
FROM ranked r JOIN targets t ON r.source = t.source
WHERE r.mrk <= t.target_rows
GROUP BY t.source, t.n_survivors, t.target_rows
"""


# --- mergeable distinct-token sketch (integer KMV / stochastic minima) -------

_KMV_T = 32
_KMV_NUM = (_KMV_T - 1) * (1 << 53)  # fits a BIGINT: 31 * 2^53 < 2^58


def q_doc_stats_sketch(spark, sf_dir):
    """Per-source distinct-token ESTIMATE from a t=32 KMV (k-minimum-
    values) sketch, alongside the exact count it approximates. The
    t-th smallest hash U_(t) of the distinct token set inverts to
    ``(t-1) * R / U_(t)`` distinct values; everything stays in INTEGER
    arithmetic (hashes right-shifted to 53 bits so the numerator fits a
    BIGINT) — no float sum-order or decimal rounding-mode hazards, so
    the DuckDB oracle matches bit-for-bit. Sources with vocabulary <= t
    report the exact count (standard KMV behavior). The rank window
    partitions by source over the DISTINCT (source, token) set —
    vocabulary-bounded, not corpus-bounded; at 100 TB you'd pre-filter
    hashes under a constant threshold first (vocab >> t makes that
    safe), which keeps the same estimator. Relative error ~1/sqrt(t-1)
    (~18%); bounded in tests/test_quality_ops.py."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    h53 = F.expr(
        f"({_DUCK_H64_SPARK}) DIV 128"
    )
    hashed = toks.select("source", h53.alias("h"))
    w = Window.partitionBy("source").orderBy("h")
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _KMV_T)
        .select("source", F.col("h").alias("kth"))
    )
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("n_distinct_tokens")
    )
    n_docs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        n_docs.join(exact, "source")
        .join(kth, "source", "left")
        .select(
            "source", "n_docs", "n_distinct_tokens",
            F.when(
                F.col("kth").isNull(), F.col("n_distinct_tokens")
            )
            .otherwise(F.expr(f"{_KMV_NUM} DIV (kth + 1)"))
            .cast("long")
            .alias("est_distinct_tokens"),
        )
    )


# the engine-side portable hash, as a SQL expression usable in F.expr:
# first 15 md5 hex chars -> 60-bit integer (same as stable_hash64)
_DUCK_H64_SPARK = "CAST(conv(substring(md5(concat('tok:', tok)), 1, 15), 16, 10) AS BIGINT)"


ORACLE_DOC_STATS_SKETCH = f"""
WITH toks AS (
  SELECT DISTINCT source,
         UNNEST(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS tok
  FROM documents
), hashed AS (
  SELECT source, {_DUCK_H64.format(expr="'tok:' || tok")} // 128 AS h
  FROM toks
), kth AS (
  SELECT source, h AS kth FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn = {_KMV_T}
), exact AS (
  SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
  FROM toks GROUP BY source
), nd AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
)
SELECT nd.source, n_docs, n_distinct_tokens,
       CAST(CASE WHEN kth.kth IS NULL THEN n_distinct_tokens
                 ELSE {_KMV_NUM} // (kth.kth + 1) END AS BIGINT)
         AS est_distinct_tokens
FROM nd JOIN exact ON nd.source = exact.source
LEFT JOIN kth ON nd.source = kth.source
"""


# --- sequential funnel analysis ----------------------------------------------

def q_events_funnel(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase): per user, the
    earliest view, the earliest click strictly after it, the earliest
    purchase strictly after that — event-sequence matching expressed as
    chained conditional min-aggregates (operators/funnel.py:funnel),
    not a per-user sort window: at 100 TB the per-stage aggregates
    shrink the data before every join, and a heavy user costs an agg
    not a sort. stage_reached counts completed stages."""
    from arc_kinesis_tagging_spark.operators.funnel import funnel

    return funnel(
        _t(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        out_cols=["view_ts", "click_ts", "purchase_ts"],
    )


def q_events_funnel_k(spark, sf_dir):
    """The k-stage generalization exercised at k=5 (signup -> view ->
    click -> purchase -> error): same chained conditional-min plan —
    k aggregates + k-1 inner joins, every shuffle on user_id — factored
    as operators/funnel.py:funnel rather than hand-unrolled. Property-
    tested against a per-user Python reference model in
    tests/test_quality_ops.py."""
    from arc_kinesis_tagging_spark.operators.funnel import funnel

    return funnel(
        _t(spark, sf_dir, "events"),
        ["signup", "view", "click", "purchase", "error"],
    )


ORACLE_EVENTS_FUNNEL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS view_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS click_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.view_ts
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
  GROUP BY e.user_id
)
SELECT v.user_id, view_ts, click_ts, purchase_ts,
       CAST(1 + (CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN purchase_ts IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
         AS stage_reached
FROM v LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


ORACLE_EVENTS_FUNNEL_K = """
WITH s0 AS (
  SELECT user_id, MIN(ts) AS s0_signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), s1 AS (
  SELECT e.user_id, MIN(e.ts) AS s1_view_ts
  FROM events e JOIN s0 ON e.user_id = s0.user_id
  WHERE e.event_type = 'view' AND e.ts > s0.s0_signup_ts GROUP BY e.user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS s2_click_ts
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.s1_view_ts GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS s3_purchase_ts
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.s2_click_ts GROUP BY e.user_id
), s4 AS (
  SELECT e.user_id, MIN(e.ts) AS s4_error_ts
  FROM events e JOIN s3 ON e.user_id = s3.user_id
  WHERE e.event_type = 'error' AND e.ts > s3.s3_purchase_ts GROUP BY e.user_id
)
SELECT s0.user_id, s0_signup_ts, s1_view_ts, s2_click_ts, s3_purchase_ts,
       s4_error_ts,
       CAST(1 + (CASE WHEN s1_view_ts IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN s2_click_ts IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN s3_purchase_ts IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN s4_error_ts IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
         AS stage_reached
FROM s0 LEFT JOIN s1 ON s0.user_id = s1.user_id
LEFT JOIN s2 ON s0.user_id = s2.user_id
LEFT JOIN s3 ON s0.user_id = s3.user_id
LEFT JOIN s4 ON s0.user_id = s4.user_id
"""


# --- iterative graph ranking -------------------------------------------------

def q_graph_pagerank(spark, sf_dir):
    """PageRank over the part→supplier purchase graph (lineitem rows
    as directed edges, multiplicity = weight): top-20 nodes. The
    iterative operator is ``operators/graph.py:pagerank`` — join+agg
    per round with localCheckpoint lineage truncation. Iterative loops
    are not SQL-expressible → rows-only at the driver; exact numeric
    parity vs a numpy power-iteration model is asserted in
    tests/test_graph.py. Ranks rounded to 6 dp (double merge-order
    wobble), node id as the ordering tiebreaker."""
    from arc_kinesis_tagging_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    ranks = pagerank(edges, iterations=8)
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(20)
    )


# --- end-to-end corpus pipeline composite ------------------------------------

def q_corpus_pipeline(spark, sf_dir):
    """The whole daily corpus-refresh pass as ONE declarative plan:
    C4-style quality gate -> exact dedup (keep min doc_id per content
    digest) -> deterministic train/val/test split -> per-(split, lang)
    summary stats. Composes `q_quality_filter`, `dedup_exact`, and
    `q_split_assign` semantics end-to-end so Catalyst sees a single
    tree and can pipeline the stages.

    Scale shape: the gate and split are map-side projections fused into
    the scan; the ONLY shuffles are the dedup hash-partition on the
    content digest and the bounded final aggregation (partial+final,
    output <= n_splits x n_langs rows). Chars summed as decimal for
    order-independence (see plans/common.py)."""
    from arc_kinesis_tagging_spark.functions.text import text_metrics_struct
    from arc_kinesis_tagging_spark.plans.common import dsum

    d = _t(spark, sf_dir, "documents")
    s = d.select(
        "doc_id", "lang", "text", "n_chars",
        text_metrics_struct(F.col("text")).alias("m"),
    )
    kept = s.filter(
        (F.col("n_chars") >= 80)
        & (F.col("m.n_tokens") >= 15)
        & (F.col("m.mean_word_len") <= 12.0)
        & (F.col("m.stopword_ratio") <= 0.6)
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    uniq = (
        kept.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    bucket = F.pmod(
        stable_hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        uniq.select(split.alias("split"), "lang", "n_chars", F.col("m.n_tokens").alias("n_tokens"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dsum("n_chars", 0).alias("total_chars"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 6).alias("avg_tokens"),
        )
    )


# Oracle stopword list generated from the engine's own STOPWORDS so the
# two can never drift.
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

ORACLE_CORPUS_PIPELINE = f"""
WITH m AS (
  SELECT doc_id, lang, n_chars, text,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, lang, n_chars, text,
         len(toks) AS n_tokens,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
           / GREATEST(len(toks), 1) AS mwl,
         CAST(len(list_filter(toks,
              t -> list_contains([{_STOP_SQL}], lower(t)))) AS DOUBLE)
           / GREATEST(len(toks), 1) AS swr
  FROM m
), kept AS (
  SELECT doc_id, lang, n_chars, text, n_tokens FROM s
  WHERE n_chars >= 80 AND n_tokens >= 15 AND mwl <= 12.0 AND swr <= 0.6
), uniq AS (
  SELECT doc_id, lang, n_chars, n_tokens FROM kept
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
), assigned AS (
  SELECT lang, n_chars, n_tokens,
         CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
  FROM uniq
)
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS total_chars,
       ROUND(AVG(CAST(n_tokens AS DOUBLE)), 6) AS avg_tokens
FROM assigned
GROUP BY 1, 2
"""




# --- round-5 additions ------------------------------------------------------

def q_text_entropy(spark, sf_dir):
    """Character-entropy quality gate: Shannon entropy of the per-doc
    character distribution — the classic gibberish/boilerplate signal
    (low entropy = repeated filler, high = random noise). Computed as
    H = log2(n) - (1/n)*sum(c*log2 c) from integer character counts;
    explode -> two-level hash aggregate, all codegen. Rounded to 3
    decimals: the sum of c*log2(c) terms is float and the addition
    order differs between engines, so micro-ulp drift must be far
    below the rounding granularity (1e-12 vs 5e-4) for the oracle
    hash to be stable."""
    d = _t(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(F.col("c") * F.log2("c")).alias("clog"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars_total"),
        F.col("n_distinct_chars").cast("long").alias("n_distinct_chars"),
        F.round(F.log2("n") - F.col("clog") / F.col("n"), 3).alias("char_entropy"),
    )


ORACLE_TEXT_ENTROPY = """
WITH chars AS (
  SELECT doc_id, UNNEST(string_split(text, '')) AS ch FROM documents
), counts AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
), per_doc AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_distinct_chars,
         SUM(c * log2(c)) AS clog
  FROM counts GROUP BY doc_id
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars_total,
       CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
       ROUND(log2(n) - clog / n, 3) AS char_entropy
FROM per_doc
"""


def q_dedup_lines(spark, sf_dir):
    """C4/RefinedWeb-style cross-document line dedup
    (operators/textops.py:dedup_segments): fixed 10-token segments
    stand in for newline-delimited lines on this single-line corpus; a
    segment appearing in several documents survives only in the
    lowest-id one, and documents are reassembled from their surviving
    segments in order. The 100 TB shape: map-side segmentation, one
    distinct-segment aggregate, a keyed join back, and an ordered
    struct-sort reassembly — no window over the corpus, nothing
    quadratic."""
    from arc_kinesis_tagging_spark.operators.textops import dedup_segments

    return dedup_segments(
        _t(spark, sf_dir, "documents"), "doc_id", "text", seg_tokens=10
    )


ORACLE_DEDUP_LINES = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
), base AS (
  SELECT doc_id, tk, CAST(ceil(len(tk) / 10.0) AS BIGINT) AS n_segs FROM toks
), segs AS (
  SELECT doc_id,
         UNNEST(range(n_segs)) AS seg_idx,
         UNNEST(list_transform(range(n_segs),
                i -> array_to_string(tk[(i*10+1):(i*10+10)], ' '))) AS seg
  FROM base
), marked AS (
  SELECT doc_id, seg_idx, seg,
         MIN(doc_id) OVER (PARTITION BY seg) AS first_doc
  FROM segs
), re AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
  FROM marked WHERE doc_id = first_doc GROUP BY doc_id
)
SELECT b.doc_id, b.n_segs,
       COALESCE(re.n_kept, 0) AS n_kept,
       COALESCE(re.clean_text, '') AS clean_text
FROM base b LEFT JOIN re USING (doc_id)
"""


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix over the event stream: users are
    cohorted by the epoch-week of their first event, and each
    (cohort_week, week_offset) cell counts distinct active users and
    events. Weeks are floor(epoch/604800) — pure integer arithmetic,
    immune to engine week-truncation conventions. Exactly two keyed
    shuffles at any scale: the cohort week is a MIN window over the
    user_id partition (no self-join back, no second pass over the
    events), then the bounded cohort-cell aggregate. Per-user windows
    are bounded by per-user event counts, so no straggler partition."""
    ev = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; the session TZ is pinned UTC, so the
    # ntz -> timestamp -> long chain is the exact naive epoch
    wk = ev.select(
        "user_id",
        F.expr("CAST(CAST(ts AS TIMESTAMP) AS BIGINT) DIV 604800").alias("week"),
    )
    w = Window.partitionBy("user_id")
    return (
        wk.withColumn("cohort_week", F.min("week").over(w))
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


ORACLE_COHORT_RETENTION = """
WITH wk AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
  FROM events
), c AS (
  -- window form, NOT an equi-join back: a NULL user_id must cohort as
  -- its own partition (Spark window semantics), not silently drop
  SELECT user_id, week,
         MIN(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM wk
)
SELECT cohort_week, week - cohort_week AS week_offset,
       COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM c
GROUP BY 1, 2
"""


def q_heavy_hitters(spark, sf_dir):
    """Exact corpus heavy hitters (tokens above 2% of all occurrences)
    via Misra-Gries candidate generation + exact verification
    (operators/textops.py:heavy_hitters). The oracle is the plain
    exact-threshold SQL; hash-matching it proves the sketch pass's
    candidate superset really did contain every heavy hitter — the
    2-pass pattern a 100 TB vocabulary scan uses instead of a full
    token aggregate."""
    from arc_kinesis_tagging_spark.operators.textops import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "documents"), "text", phi=0.02)


ORACLE_HEAVY_HITTERS = """
WITH toks AS (
  SELECT UNNEST(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
  FROM documents
), tot AS (
  SELECT COUNT(*) AS total FROM toks
)
SELECT token, COUNT(*) AS freq,
       ROUND(COUNT(*) / (SELECT CAST(total AS DOUBLE) FROM tot), 6) AS frac
FROM toks GROUP BY token
HAVING COUNT(*) > 0.02 * (SELECT total FROM tot)
"""




def q_session_stats(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity cut) with
    per-session stats — the lag/cumulative-flag formulation every event
    warehouse runs, complementing q_window_session's declarative
    ``session_window``: a new session starts where the gap to the
    previous event exceeds 1800 s, session ids are the running count of
    starts, and each (user, session) aggregates its span and value.
    Both windows partition by user_id and order by the unique
    (ts, event_id), so session boundaries are engine-identical; value
    sums go through the exact-decimal rule. One shuffle: the session
    aggregate reuses the user_id partitioning the windows installed."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("CAST(CAST(ts AS TIMESTAMP) AS BIGINT)").alias("epoch"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("epoch").over(w).isNull()
            | (F.col("epoch") - F.lag("epoch").over(w) > 1800),
            1,
        ).otherwise(0),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    flagged = flagged.withColumn("sess_id", F.col("sess_id").cast("long"))
    return flagged.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("epoch").alias("sess_start"),
        (F.max("epoch") - F.min("epoch")).alias("duration_s"),
        F.sum(dec("value", 6)).cast("double").alias("sum_value"),
    )


ORACLE_SESSION_STATS = """
WITH ev AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS epoch, value
  FROM events
), flagged AS (
  SELECT *,
         CASE WHEN lag(epoch) OVER w IS NULL
                   OR epoch - lag(epoch) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch, event_id)
), sess AS (
  SELECT *,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id
                  ORDER BY epoch, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
  FROM flagged
)
SELECT user_id, sess_id, COUNT(*) AS n_events,
       MIN(epoch) AS sess_start,
       MAX(epoch) - MIN(epoch) AS duration_s,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, sess_id
"""




def q_text_perplexity(spark, sf_dir):
    """CCNet-style LM quality score, self-trained: a character-bigram
    model with add-one smoothing is estimated from the corpus itself
    (bigram counts, unigram-context counts, vocabulary size), then
    every document is scored with its mean negative log2 probability —
    bits per character, the perplexity proxy used to rank web text
    against a reference corpus. Model tables are vocabulary-sized, so
    they ride broadcast joins; the only data-sized shuffle is the
    per-document score aggregate. Bigrams are built map-side
    (transform over sequence — no join on position). Rounded to 3
    decimals: per-document log sums are float, and cross-engine
    addition-order drift (~1e-12) must sit far below the rounding
    granularity."""
    d = _t(spark, sf_dir, "documents")
    cs = F.split(F.col("text"), "")
    bigrams = F.when(
        F.size(cs) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(cs) - 1),
            lambda i: F.struct(
                F.element_at(cs, i).alias("ca"),
                F.element_at(cs, i + 1).alias("cb"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<ca:string,cb:string>>"))
    bg = d.select("doc_id", F.explode(bigrams).alias("b")).select(
        "doc_id", F.col("b.ca").alias("ca"), F.col("b.cb").alias("cb")
    )
    cab = bg.groupBy("ca", "cb").agg(F.count(F.lit(1)).alias("nab"))
    ca = bg.groupBy("ca").agg(F.count(F.lit(1)).alias("na"))
    vocab = d.select(
        F.explode(F.split(F.col("text"), "")).alias("ch")
    ).agg(F.countDistinct("ch").alias("vsize"))
    scored = (
        bg.join(F.broadcast(cab), ["ca", "cb"])
        .join(F.broadcast(ca), "ca")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "bits",
            -F.log2(
                (F.col("nab") + F.lit(1.0))
                / (F.col("na") + F.col("vsize")).cast("double")
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("bits") / F.count(F.lit(1)), 3).alias("bits_per_char"),
    )


ORACLE_TEXT_PERPLEXITY = """
WITH ch AS (
  SELECT doc_id, generate_subscripts(string_split(text, ''), 1) AS pos,
         UNNEST(string_split(text, '')) AS c
  FROM documents
), bg AS (
  SELECT a.doc_id, a.c AS ca, b.c AS cb
  FROM ch a JOIN ch b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), cab AS (
  SELECT ca, cb, COUNT(*) AS nab FROM bg GROUP BY ca, cb
), cactx AS (
  SELECT ca, COUNT(*) AS na FROM bg GROUP BY ca
), v AS (
  SELECT COUNT(DISTINCT c) AS vsize FROM ch
)
SELECT bg.doc_id, COUNT(*) AS n_bigrams,
       ROUND(SUM(-log2((cab.nab + 1.0) / (cactx.na + v.vsize))) / COUNT(*),
             3) AS bits_per_char
FROM bg
JOIN cab USING (ca, cb)
JOIN cactx USING (ca)
CROSS JOIN v
GROUP BY bg.doc_id
"""




def q_graph_triangles(spark, sf_dir):
    """Triangle enumeration over the user co-activity graph: vertices
    are users, an edge connects two users active in the same
    (event_type, epoch-hour) bucket, and the result lists each triangle
    once as va < vb < vc (operators/graph.py:triangle_enumeration —
    canonical-edge two-join + closing semi join, no permutation
    dedup). Complements PageRank (ranking) and connected components
    (clustering) with the motif-counting member of the graph family.
    Every stage is a keyed shuffle; co-occurrence fan-out is bounded
    by (type, hour) group sizes (day buckets make this synthetic
    corpus a near-complete graph — all C(n,3) triples)."""
    from arc_kinesis_tagging_spark.operators.graph import triangle_enumeration

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    act = ev.select(
        "user_id",
        "event_type",
        F.expr("CAST(CAST(ts AS TIMESTAMP) AS BIGINT) DIV 3600").alias("day"),
    ).distinct()
    a = act.alias("a")
    b = act.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst"))
        .distinct()
    )
    return triangle_enumeration(edges, "src", "dst")


ORACLE_GRAPH_TRIANGLES = """
WITH act AS (
  SELECT DISTINCT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS day
  FROM events WHERE user_id IS NOT NULL
), edges AS (
  SELECT DISTINCT a.user_id AS lo, b.user_id AS hi
  FROM act a JOIN act b
    ON a.event_type = b.event_type AND a.day = b.day
   AND a.user_id < b.user_id
)
SELECT e1.lo AS va, e1.hi AS vb, e2.hi AS vc
FROM edges e1
JOIN edges e2 ON e2.lo = e1.hi
JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
"""




def q_anomaly_zscore(spark, sf_dir):
    """Per-user anomaly flags: z-score of each event's value against
    its user's distribution, |z| > 2 flagged — the declarative twin of
    the applyInPandas grouped_zscore (operators/pandas_ops.py), proving
    the Arrow path against pure Catalyst. All statistics come from
    INTEGER-quantized exact sums (floor(value*1000); the n·Σq² and
    (Σq)² terms ride decimal(38,0) so nothing overflows, and the only
    floats are one cast, one division, and one IEEE-correctly-rounded
    sqrt — bit-identical across engines and partitionings). The domain
    guard |value| < 1e6 bounds the quantized magnitudes; z is rounded
    to 3 decimals. One user-partitioned shuffle shared by the window
    and nothing else."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.abs(F.col("value")) < 1e6)
    )
    q = ev.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1000).cast("decimal(38,0)").alias("vq"),
    )
    w = Window.partitionBy("user_id")
    stats = (
        q.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("s", F.sum("vq").over(w))
        .withColumn("ss", F.sum(F.col("vq") * F.col("vq")).over(w))
    )
    var_q = (
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
        / (F.col("n") * F.col("n")).cast("double")
    )
    sd_q = F.sqrt(var_q)
    z = F.when(sd_q > 0,
               (F.col("vq").cast("double") - F.col("s").cast("double") / F.col("n"))
               / sd_q).otherwise(F.lit(0.0))
    # + 0.0 collapses IEEE negative zero (round(-1e-4, 3) -> -0.0)
    z3 = F.round(z, 3) + F.lit(0.0)
    return stats.select(
        "event_id",
        "user_id",
        z3.alias("z"),
        (F.abs(z3) > 2.0).alias("is_outlier"),
    )


ORACLE_ANOMALY_ZSCORE = """
WITH q AS (
  SELECT event_id, user_id,
         CAST(FLOOR(value * 1000) AS HUGEINT) AS vq
  FROM events WHERE value IS NOT NULL AND abs(value) < 1e6
), stats AS (
  SELECT event_id, user_id, vq,
         COUNT(*) OVER w AS n,
         SUM(vq) OVER w AS s,
         SUM(vq * vq) OVER w AS ss
  FROM q
  WINDOW w AS (PARTITION BY user_id)
), z AS (
  SELECT event_id, user_id,
         CASE WHEN (n*ss - s*s) > 0
              THEN (CAST(vq AS DOUBLE) - CAST(s AS DOUBLE)/n)
                   / sqrt(CAST(n*ss - s*s AS DOUBLE)/CAST(n*n AS DOUBLE))
              ELSE 0.0 END AS zval
  FROM stats
)
SELECT event_id, user_id, ROUND(zval, 3) + 0.0 AS z,
       abs(ROUND(zval, 3) + 0.0) > 2.0 AS is_outlier
FROM z
"""




def q_corpus_pipeline3(spark, sf_dir):
    """Round-5 composite refresh: the new quality gates feeding the
    new dedup — character-entropy gate (>= 4.0) AND bigram-LM
    perplexity gate (<= 2.6 bits/char, model trained on the full
    corpus) -> cross-document segment dedup of the survivors ->
    per-source stats (docs, kept segments, clean chars) — composed as
    ONE declarative plan from the verified pieces (q_text_entropy,
    q_text_perplexity, dedup_segments), so Catalyst fuses the gates
    and the whole refresh carries a full SQL oracle. Both gate
    thresholds compare identical rounded doubles in both engines."""
    from arc_kinesis_tagging_spark.operators.textops import dedup_segments

    d = _t(spark, sf_dir, "documents")
    ent = q_text_entropy(spark, sf_dir).select("doc_id", "char_entropy")
    perp = q_text_perplexity(spark, sf_dir).select("doc_id", "bits_per_char")
    gated = (
        d.join(ent, "doc_id")
        .join(perp, "doc_id")
        .filter((F.col("char_entropy") >= 4.0) & (F.col("bits_per_char") <= 2.6))
        .select("doc_id", "text", "source")
    )
    deduped = dedup_segments(gated.select("doc_id", "text"), "doc_id", "text")
    survivors = deduped.filter(F.col("n_kept") >= 1).join(
        gated.select("doc_id", "source"), "doc_id"
    )
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_kept").alias("kept_segments"),
        F.sum(F.length("clean_text")).alias("clean_chars"),
    )


ORACLE_CORPUS_PIPELINE3 = f"""
WITH ent AS ({ORACLE_TEXT_ENTROPY.strip()}),
perp AS ({ORACLE_TEXT_PERPLEXITY.strip()}),
gated AS (
  SELECT d.doc_id, d.text, d.source
  FROM documents d
  JOIN ent ON ent.doc_id = d.doc_id
  JOIN perp ON perp.doc_id = d.doc_id
  WHERE ent.char_entropy >= 4.0 AND perp.bits_per_char <= 2.6
), toks3 AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM gated
), base3 AS (
  SELECT doc_id, source, tk,
         CAST(ceil(len(tk) / 10.0) AS BIGINT) AS n_segs
  FROM toks3
), segs3 AS (
  SELECT doc_id, source,
         UNNEST(range(n_segs)) AS seg_idx,
         UNNEST(list_transform(range(n_segs),
                i -> array_to_string(tk[(i*10+1):(i*10+10)], ' '))) AS seg
  FROM base3
), marked3 AS (
  SELECT doc_id, source, seg_idx, seg,
         MIN(doc_id) OVER (PARTITION BY seg) AS first_doc
  FROM segs3
), re3 AS (
  SELECT doc_id, source, COUNT(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
  FROM marked3 WHERE doc_id = first_doc GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_kept) AS BIGINT) AS kept_segments,
       CAST(SUM(len(clean_text)) AS BIGINT) AS clean_chars
FROM re3 WHERE n_kept >= 1
GROUP BY source
"""




def q_bpe_train(spark, sf_dir):
    """BPE tokenizer training over the corpus
    (operators/bpe.py:bpe_train): the corpus is read ONCE into a
    vocabulary-sized word-frequency table, then every merge iteration
    (pair explode -> weighted aggregate -> deterministic argmax with
    lexicographic tie-break -> Arrow-batched merge application) runs
    on that corpus-size-independent table. Returns the learned merge
    table (rank, left, right, weighted_freq). Iterative -> rows-only;
    exact merge-sequence parity with a single-machine Sennrich-style
    reference is pinned in tests/test_quality_ops.py."""
    from arc_kinesis_tagging_spark.operators.bpe import bpe_train

    d = _t(spark, sf_dir, "documents")
    merges, _vocab = bpe_train(d, "text", n_merges=16, min_freq=2)
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, weighted_freq long",
    )




def q_unigram_train(spark, sf_dir):
    """Unigram-LM (SentencePiece-model) tokenizer training
    (operators/unigram.py:unigram_train) — the top-down likelihood
    sibling of q_bpe_train's bottom-up merges: substring candidates
    seeded from the ONE corpus word-frequency pass, hard-EM sweeps
    with Viterbi counts over the vocabulary-sized word table
    (broadcast piece table, bounded collects), geometric pruning to
    the target size with single-character coverage never pruned.
    Integer micro-unit log-probs make training partition- and
    run-deterministic. Iterative EM -> rows-only; exact parity with a
    single-machine reference implementation plus Viterbi-optimality
    brute-force checks are pinned in tests/test_unigram.py."""
    from arc_kinesis_tagging_spark.operators.unigram import (
        unigram_train,
        unigram_vocab_df,
    )

    d = _t(spark, sf_dir, "documents")
    _vocab, rows = unigram_train(
        d, "text", vocab_size=200, seed_size=600, n_rounds=2
    )
    return unigram_vocab_df(spark, rows)


def q_wordpiece_train(spark, sf_dir):
    """WordPiece vocabulary training (operators/wordpiece.py:
    wordpiece_train — Schuster & Nakajima 2012, the BERT tokenizer's
    likelihood-scored merge loop), completing the tokenizer trio next
    to q_bpe_train (frequency merges) and q_unigram_train (top-down
    EM). One corpus pass to the distinct-word table, then bounded
    per-merge aggregates; iterative -> rows-only; single-machine
    reference parity, partitioning independence, and the greedy
    maximal-munch encode property pinned in tests/test_wordpiece.py.
    Returns the merge table (rank, left, right, count, score 6dp)."""
    from arc_kinesis_tagging_spark.operators.wordpiece import (
        wordpiece_train,
    )

    d = _t(spark, sf_dir, "documents")
    merges, _vocab = wordpiece_train(d, "text", n_merges=24)
    return spark.createDataFrame(
        [
            (i + 1, a, b, c, round(s, 6))
            for i, (a, b, c, s) in enumerate(merges)
        ],
        "rank int, left string, right string, pair_count long, "
        "score double",
    )


def q_wordpiece_encode(spark, sf_dir):
    """The tokenize-apply half: train the WordPiece vocab
    (q_wordpiece_train's path), then greedy-longest-match encode every
    document (operators/wordpiece.py:wordpiece_encode — map-only,
    vocab closure-captured, per-batch word memoization, zero shuffle)
    emitting per-document piece statistics. Iterative training
    upstream -> rows-only; maximal-munch and UNK semantics pinned in
    tests/test_wordpiece.py."""
    from arc_kinesis_tagging_spark.operators.wordpiece import (
        wordpiece_encode,
        wordpiece_train,
    )

    d = _t(spark, sf_dir, "documents")
    _merges, vocab = wordpiece_train(d, "text", n_merges=24)
    return wordpiece_encode(d, vocab, "text", "doc_id")


def q_unigram_encode(spark, sf_dir):
    """The tokenize-apply half of the unigram loop: train the
    vocabulary (q_unigram_train's path), then Viterbi-encode every
    document (operators/unigram.py:unigram_encode — map-only, vocab
    closure-captured, one bounded word memo per task, zero shuffle) and
    emit per-document piece statistics with an exact integer total
    log-prob. Iterative training upstream -> rows-only; the
    segmentation-optimality and determinism invariants are pinned in
    tests/test_unigram.py."""
    from arc_kinesis_tagging_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
    )

    d = _t(spark, sf_dir, "documents")
    vocab, _rows = unigram_train(
        d, "text", vocab_size=200, seed_size=600, n_rounds=2
    )
    return unigram_encode(d, vocab, text_col="text", id_col="doc_id")


def q_bpe_encode(spark, sf_dir):
    """The tokenize-apply half of the BPE loop: train 16 merges on the
    corpus (q_bpe_train's path), then encode every document with them
    (operators/bpe.py:bpe_encode — map-only, merge list closure-
    captured, bounded per-task word memoization, zero shuffle) and emit
    per-document subword statistics. Iterative training upstream ->
    rows-only; the train/apply self-consistency invariant (encoding a
    training word reproduces the final vocab's symbols) is pinned in
    tests."""
    from arc_kinesis_tagging_spark.operators.bpe import bpe_encode, bpe_train

    d = _t(spark, sf_dir, "documents")
    merges, _vocab = bpe_train(d, "text", n_merges=16, min_freq=2)
    return bpe_encode(d, merges, "text", "doc_id")




# fixed demonstration merge table for the SQL-oracled BPE application:
# rank-ordered, over this corpus's vocabulary. The \x01 separator trick
# makes greedy left-to-right merge application expressible as a chain
# of literal replaces in BOTH engines: a word becomes
# "c<SEP>h<SEP>a<SEP>r<SEP></w>", and applying merge (l, r) is
# replace("l<SEP>r" -> "lr") — string replace consumes non-overlapping
# occurrences left-to-right, exactly the scan-replace semantics of
# operators/bpe.py.
BPE_FIXED_MERGES = [
    ("t", "h"), ("th", "e"), ("the", "</w>"),
    ("d", "a"), ("da", "t"), ("dat", "a"), ("data", "</w>"),
    ("s", "p"), ("sp", "a"), ("r", "k"),
]
_BPE_SEP = "\u0001"


def q_bpe_subwords(spark, sf_dir):
    """BPE application with a FIXED merge table — the hash-checkable
    face of the tokenizer loop (q_bpe_train/q_bpe_encode learn
    data-dependent merges and are rows-only; here the merge table is a
    constant, so the whole computation is a codegen replace-chain with
    a full DuckDB oracle). Per document: word count, total subword
    count under the fixed merges, and the exact bytes-per-subword
    compression proxy. Map-side explode + one doc-keyed aggregate."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    enc = F.concat(
        F.array_join(F.split(F.col("w"), ""), _BPE_SEP),
        F.lit(_BPE_SEP + "</w>"),
    )
    for left, right in BPE_FIXED_MERGES:
        enc = F.replace(
            enc, F.lit(left + _BPE_SEP + right), F.lit(left + right)
        )
    n_sub = (
        F.length(enc) - F.length(F.replace(enc, F.lit(_BPE_SEP), F.lit("")))
        + F.lit(1)
    )
    return (
        w.select("doc_id", n_sub.alias("ns"), F.length("w").alias("wl"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("ns").alias("n_subwords"),
            F.round(
                F.sum("wl").cast("double") / F.sum("ns"), 6
            ).alias("chars_per_subword"),
        )
    )


def _bpe_oracle_sql() -> str:
    enc = "array_to_string(string_split(w, ''), chr(1)) || chr(1) || '</w>'"
    for left, right in BPE_FIXED_MERGES:
        enc = (
            f"replace({enc}, '{left}' || chr(1) || '{right}', '{left}{right}')"
        )
    return f"""
WITH words AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS w
  FROM documents
), enc AS (
  SELECT doc_id, w, {enc} AS e FROM words
)
SELECT doc_id, COUNT(*) AS n_words,
       CAST(SUM(length(e) - length(replace(e, chr(1), '')) + 1) AS BIGINT)
         AS n_subwords,
       ROUND(CAST(SUM(length(w)) AS DOUBLE)
             / SUM(length(e) - length(replace(e, chr(1), '')) + 1),
             6) AS chars_per_subword
FROM enc GROUP BY doc_id
"""


ORACLE_BPE_SUBWORDS = _bpe_oracle_sql()


# Fixed demonstration vocabulary for the SQL-oracled WordPiece
# application (the q_bpe_subwords precedent: q_wordpiece_train/encode
# learn a data-dependent vocab and are rows-only; with the vocab a
# CONSTANT, greedy longest-match is replicable in DuckDB with a
# recursive CTE, so encode semantics get a full hash check). The 'q'
# head and the '##y' continuation are deliberately absent: "query"
# fails at position 0 and "key" fails mid-word, so [UNK] semantics —
# including the discard-partial-pieces rule — are inside the checked
# surface.
WP_FIXED_VOCAB = [
    # multi-char heads
    "the", "spark", "sp", "bat", "cust", "fil", "str", "win", "tab",
    "val", "vec", "ord", "sma", "da",
    # single-char heads ('q' absent)
    "a", "b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "o", "p",
    "r", "s", "t", "v", "w",
    # multi-char continuations
    "##ark", "##atch", "##ch", "##dow", "##er", "##eam", "##omer",
    "##ter", "##art", "##alue", "##mall", "##ow", "##ine", "##oin",
    # single-char continuations ('##y' absent)
    "##a", "##b", "##c", "##d", "##e", "##g", "##h", "##i", "##l",
    "##m", "##n", "##o", "##p", "##r", "##s", "##t", "##u", "##w",
]


def q_wordpiece_subwords(spark, sf_dir):
    """WordPiece application with a FIXED vocabulary — the
    hash-checkable face of the WordPiece loop. Runs the REAL runtime
    encoder (operators/wordpiece.py:wordpiece_encode — map-only,
    vocab closure-captured, bounded per-partition memo, zero shuffle)
    against a constant vocab, so greedy longest-match, continuation
    (##) matching, and whole-word [UNK] fallback are all inside the
    DuckDB oracle's hash check rather than pinned only by pytest."""
    from arc_kinesis_tagging_spark.operators.wordpiece import wordpiece_encode

    d = _t(spark, sf_dir, "documents")
    return wordpiece_encode(d, set(WP_FIXED_VOCAB), "text", "doc_id")


def _wordpiece_oracle_sql() -> str:
    vocab_values = ", ".join(f"('{p}')" for p in WP_FIXED_VOCAB)
    # Greedy longest-match as a recursive CTE over DISTINCT words (the
    # SQL analog of the encoder's word memo): each step consumes the
    # longest vocab piece matching at pos (raw substring at pos 0,
    # '##'-prefixed continuation after), or marks the word failed.
    return f"""
WITH RECURSIVE
vocab(piece) AS (SELECT * FROM (VALUES {vocab_values}) v(piece)),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ws
  FROM documents
),
words AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS wi
  FROM toks
),
uw AS (SELECT DISTINCT w FROM words),
step(w, pos, sn, piece, failed) AS (
  SELECT w, 0, 0, CAST(NULL AS VARCHAR), length(w) > 100 FROM uw
  UNION ALL
  SELECT w,
         CASE WHEN best IS NULL THEN length(w)
              WHEN pos = 0 THEN pos + length(best)
              ELSE pos + length(best) - 2 END,
         sn + 1,
         best,
         best IS NULL
  FROM (
    SELECT s.w, s.pos, s.sn,
           (SELECT v.piece FROM vocab v
             WHERE CASE WHEN s.pos = 0
                   THEN v.piece = substr(s.w, 1, length(v.piece))
                   ELSE v.piece LIKE '##%'
                        AND length(v.piece) > 2
                        AND substr(v.piece, 3)
                            = substr(s.w, s.pos + 1, length(v.piece) - 2)
                   END
             ORDER BY CASE WHEN s.pos = 0 THEN length(v.piece)
                           ELSE length(v.piece) - 2 END DESC
             LIMIT 1) AS best
    FROM step s
    WHERE s.pos < length(s.w) AND NOT s.failed
  )
),
per_uw AS (
  SELECT w, bool_or(failed) AS failed,
         list(piece ORDER BY sn) FILTER (WHERE piece IS NOT NULL) AS pieces
  FROM step GROUP BY w
),
pw AS (
  SELECT w,
         CASE WHEN failed THEN ['[UNK]'] ELSE pieces END AS pieces,
         CASE WHEN failed THEN 1 ELSE len(pieces) END AS np,
         CASE WHEN failed THEN 1 ELSE 0 END AS unk
  FROM per_uw
),
doc AS (
  SELECT wd.doc_id,
         COUNT(*) AS nw, SUM(pw.np) AS npieces, SUM(pw.unk) AS nunk,
         array_to_string(
           list_slice(flatten(list(pw.pieces ORDER BY wd.wi)), 1, 10),
           '|') AS sample
  FROM words wd JOIN pw ON pw.w = wd.w
  GROUP BY wd.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(doc.nw, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(doc.npieces, 0) AS BIGINT) AS n_pieces,
       CAST(COALESCE(doc.nunk, 0) AS BIGINT) AS n_unk,
       COALESCE(doc.sample, '') AS sample_pieces
FROM documents d LEFT JOIN doc ON doc.doc_id = d.doc_id
"""


ORACLE_WORDPIECE_SUBWORDS = _wordpiece_oracle_sql()


# Fixed demonstration piece table (piece -> ln-prob in integer
# micro-units) for the SQL-oracled unigram-LM application. Scores are
# arbitrary but FIXED constants; 'mer' is pinned to exactly
# lp(m) + lp(er) so "merge" produces a genuine score tie between
# [mer, ge] and [m, er, ge] and the fewer-pieces tie-break is inside
# the checked surface. The 'q' single is absent AND no multi-char
# piece covers 'q', so "query" segments through the unseen-char floor
# (_UNK_LP_MICRO) — the floor value itself is hash-checked.
UNIGRAM_FIXED_VOCAB = {
    "a": -2_500_000, "b": -4_000_000, "c": -3_800_000, "d": -3_500_000,
    "e": -2_200_000, "f": -4_200_000, "g": -4_100_000, "h": -4_300_000,
    "i": -3_000_000, "j": -5_000_000, "k": -4_600_000, "l": -3_200_000,
    "m": -3_700_000, "n": -2_900_000, "o": -2_600_000, "p": -4_400_000,
    "r": -2_800_000, "s": -2_400_000, "t": -2_300_000, "u": -3_900_000,
    "v": -4_800_000, "w": -4_500_000, "y": -4_700_000,
    "th": -3_000_000, "the": -2_000_000, "er": -2_500_000,
    "ge": -4_000_000, "mer": -6_200_000, "data": -4_500_000,
    "da": -3_000_000, "ta": -3_100_000, "at": -3_050_000,
    "spark": -5_000_000, "sp": -3_400_000, "ark": -4_900_000,
    "ow": -3_300_000, "in": -2_700_000, "dow": -4_800_000,
    "win": -4_200_000, "window": -8_000_000, "or": -2_750_000,
    "sort": -6_000_000, "so": -3_600_000, "rt": -4_050_000,
    "stream": -9_000_000, "str": -5_100_000, "eam": -5_300_000,
    "ry": -4_250_000, "lue": -5_600_000,
    "val": -4_950_000, "ue": -3_950_000,
}

_UNIGRAM_ORACLE_UNK = -23_025_851  # operators/unigram.py:_UNK_LP_MICRO


def q_unigram_subwords(spark, sf_dir):
    """Unigram-LM (Viterbi) application with a FIXED piece table — the
    hash-checkable face of the unigram loop. Runs the REAL runtime
    encoder (operators/unigram.py:unigram_encode — map-only, vocab
    broadcast, per-partition word memo, zero shuffle) against constant
    piece log-probs, so segmentation optimality, the
    (score, fewer-pieces, longest-last) tie-break order, and the
    unseen-char floor are all inside the DuckDB oracle's hash check.
    lp_micro_total is an exact integer sum — order-independent, so
    hash-stable across both engines (plans/common.py rules)."""
    from arc_kinesis_tagging_spark.operators.unigram import unigram_encode

    d = _t(spark, sf_dir, "documents")
    return unigram_encode(
        d, UNIGRAM_FIXED_VOCAB, max_piece_len=6,
        text_col="text", id_col="doc_id",
    )


def _unigram_oracle_sql() -> str:
    vocab_values = ", ".join(
        f"('{p}', {lp})" for p, lp in sorted(UNIGRAM_FIXED_VOCAB.items())
    )
    # Viterbi via exhaustive path enumeration (sound here: words are
    # <= 8 chars so <= 2^7 segmentations each, over DISTINCT words) —
    # the best path per word is the (score DESC, n_pieces ASC,
    # reversed-cut-list ASC) minimum, the whole-path equivalent of the
    # DP's per-position (score, -n_pieces, longest-last-piece) order.
    return f"""
WITH RECURSIVE
vocab(piece, lp) AS (SELECT * FROM (VALUES {vocab_values}) v(piece, lp)),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ws
  FROM documents
),
words AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS wi
  FROM toks
),
uw AS (SELECT DISTINCT w FROM words),
opts AS (
  SELECT x.w, x.pos, x.len, substr(x.w, x.pos + 1, x.len) AS piece,
         COALESCE(v.lp,
                  CASE WHEN x.len = 1 THEN {_UNIGRAM_ORACLE_UNK} END
         ) AS lp
  FROM (
    SELECT u.w, gs.pos, gl.len
    FROM uw u,
         LATERAL (SELECT unnest(generate_series(0, length(u.w) - 1)) AS pos) gs,
         LATERAL (SELECT unnest(generate_series(1, 6)) AS len) gl
    WHERE gs.pos + gl.len <= length(u.w)
  ) x
  LEFT JOIN vocab v ON v.piece = substr(x.w, x.pos + 1, x.len)
),
paths(w, pos, score, np, pieces, cuts) AS (
  SELECT w, 0, CAST(0 AS BIGINT), 0,
         CAST([] AS VARCHAR[]), CAST([] AS INT[])
  FROM uw
  UNION ALL
  SELECT p.w, p.pos + o.len, p.score + o.lp, p.np + 1,
         list_append(p.pieces, o.piece),
         list_append(p.cuts, CAST(p.pos AS INT))
  FROM paths p
  JOIN opts o ON o.w = p.w AND o.pos = p.pos AND o.lp IS NOT NULL
  WHERE p.pos < length(p.w)
),
best AS (
  SELECT w, score, np, pieces FROM (
    SELECT *, row_number() OVER (
      PARTITION BY w
      ORDER BY score DESC, np ASC, list_reverse(cuts) ASC
    ) AS rn
    FROM paths WHERE pos = length(w)
  ) WHERE rn = 1
),
doc AS (
  SELECT wd.doc_id,
         COUNT(*) AS nw, SUM(b.np) AS npieces, SUM(b.score) AS lp_total,
         array_to_string(
           list_slice(flatten(list(b.pieces ORDER BY wd.wi)), 1, 10),
           '|') AS sample
  FROM words wd JOIN best b ON b.w = wd.w
  GROUP BY wd.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(doc.nw, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(doc.npieces, 0) AS BIGINT) AS n_pieces,
       CAST(COALESCE(doc.lp_total, 0) AS BIGINT) AS lp_micro_total,
       COALESCE(doc.sample, '') AS sample_pieces
FROM documents d LEFT JOIN doc ON doc.doc_id = d.doc_id
"""


ORACLE_UNIGRAM_SUBWORDS = _unigram_oracle_sql()


# Frozen models for the SQL-oracled ADMISSION GATE composite: the
# production streaming stage (streaming/pipeline.py:
# make_admission_gate — robots longest-match + pruned bigram LM +
# DSIR in ONE vectorized Arrow pass) run as a batch
# registry query, so the driver hash-checks the production scoring
# path itself. Models are constants (the fixed-artifact precedent):
# counts over the corpus vocabulary, power-of-two DSIR ratios (exact
# binary literals in both engines).
ADMISSION_RULES = [
    *[(f"site{h}", "/admin/", False) for h in range(7)],
    *[(f"site{h}", "/tmp/", False) for h in (0, 2, 4, 6)],
    ("site2", "/tmp/cache/", True),
    ("site5", "/", False),
    ("site5", "/public/", True),
]
ADMISSION_BIGRAMS = {
    ("the", "fast"): 4, ("fast", "key"): 2, ("key", "order"): 3,
    ("order", "sort"): 2, ("table", "scan"): 5, ("scan", "merge"): 2,
    ("hash", "join"): 6, ("sort", "merge"): 4, ("merge", "join"): 3,
    ("data", "row"): 2, ("row", "batch"): 3, ("batch", "stream"): 4,
    ("stream", "spark"): 2, ("spark", "window"): 3,
    ("window", "window"): 2, ("small", "filter"): 2,
}
ADMISSION_CONTEXTS = {
    "the": 9, "fast": 5, "key": 4, "order": 6, "table": 7, "scan": 5,
    "hash": 6, "sort": 5, "merge": 8, "data": 7, "row": 5, "batch": 6,
    "stream": 4, "spark": 6, "window": 5, "small": 4,
}
ADMISSION_V = 31
ADMISSION_DSIR = {
    3: 0.25, 17: -0.125, 42: 0.5, 77: -0.25, 101: 0.0625, 128: -0.5,
    160: 0.375, 191: -0.0625, 204: 0.125, 233: -0.375, 250: 0.25,
}
ADMISSION_UNSEEN = -0.03125


def _admission_urls(d):
    """host/path derivation shared by the Spark query and (textually)
    the oracle: host = site{doc_id%7}, path = one of four prefixes by
    doc_id%4 plus a per-doc suffix — every robots rule class matches
    some documents."""
    return d.select(
        "doc_id",
        "text",
        F.concat(
            F.lit("site"), (F.col("doc_id") % 7).cast("string")
        ).alias("host"),
        F.concat(
            F.when(F.col("doc_id") % 4 == 0, F.lit("/admin/"))
            .when(F.col("doc_id") % 4 == 1, F.lit("/public/"))
            .when(F.col("doc_id") % 4 == 2, F.lit("/tmp/cache/"))
            .otherwise(F.lit("/posts/")),
            F.floor(F.col("doc_id") / 4).cast("long").cast("string"),
        ).alias("path"),
    )


def q_admission_gate(spark, sf_dir):
    """The PRODUCTION admission stage as a hash-checked batch query:
    make_admission_gate — the vectorized mapInPandas stage over the
    same gate kernel the fused streaming ingest runs — over documents
    with derived host/path and the frozen constant models above. All
    eight gate columns (robots longest-match with default-allow,
    pruned-LM bits/kept, DSIR log-ratio/kept) are inside the DuckDB
    oracle's hash."""
    from arc_kinesis_tagging_spark.streaming.pipeline import (
        make_admission_gate,
    )

    d = _t(spark, sf_dir, "documents")
    gate = make_admission_gate(
        ADMISSION_RULES,
        (ADMISSION_BIGRAMS, ADMISSION_CONTEXTS, ADMISSION_V),
        (ADMISSION_DSIR, ADMISSION_UNSEEN),
        text_col="text",
        lm_threshold=5.0,
        dsir_threshold=0.0,
    )
    return gate(_admission_urls(d)).drop("text")


def _admission_oracle_sql() -> str:
    rules_v = ", ".join(
        f"('{h}', '{p}', {'TRUE' if a else 'FALSE'})"
        for h, p, a in ADMISSION_RULES
    )
    bg_v = ", ".join(
        f"('{ta}', '{tb}', {c})"
        for (ta, tb), c in sorted(ADMISSION_BIGRAMS.items())
    )
    ctx_v = ", ".join(
        f"('{t}', {c})" for t, c in sorted(ADMISSION_CONTEXTS.items())
    )
    ds_v = ", ".join(
        f"({b}, {r!r})" for b, r in sorted(ADMISSION_DSIR.items())
    )
    # ln(x)/ln(2) (not log2()) so the libm calls match the Arrow
    # engine's math.log exactly; list(expr ORDER BY i) + list_sum
    # reproduces the engine's sequential left-fold over grams in
    # document order (plans/common.py: same-order folds).
    return f"""
WITH docs AS (
  SELECT doc_id, text,
         'site' || CAST(doc_id % 7 AS VARCHAR) AS host,
         (CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN '/admin/' WHEN 1 THEN '/public/'
            WHEN 2 THEN '/tmp/cache/' ELSE '/posts/' END)
         || CAST(CAST(floor(doc_id / 4) AS BIGINT) AS VARCHAR) AS path
  FROM documents
),
rules(host, prefix, allow) AS (VALUES {rules_v}),
matched AS (
  SELECT d.doc_id, r.allow, r.prefix,
         ROW_NUMBER() OVER (PARTITION BY d.doc_id
                            ORDER BY length(r.prefix) DESC, r.prefix) AS rn
  FROM docs d JOIN rules r
    ON r.host = d.host AND substr(d.path, 1, length(r.prefix)) = r.prefix
),
robots AS (SELECT doc_id, allow, prefix FROM matched WHERE rn = 1),
lmts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM docs),
bg(ta, tb, c) AS (VALUES {bg_v}),
ctx(t, c) AS (VALUES {ctx_v}),
bgrows AS (
  SELECT l.doc_id, g.i, l.ts[g.i - 1] AS ta, l.ts[g.i] AS tb
  FROM lmts l, LATERAL (SELECT unnest(range(2, len(l.ts) + 1)) AS i) g
),
lmdoc AS (
  SELECT b.doc_id, COUNT(*) AS nb,
         list_sum(list(
           -(ln((COALESCE(bg.c, 0) + 1.0)
                / (COALESCE(ctx.c, 0) + {ADMISSION_V}.0)) / ln(2.0))
           ORDER BY b.i)) AS total
  FROM bgrows b
  LEFT JOIN bg ON bg.ta = b.ta AND bg.tb = b.tb
  LEFT JOIN ctx ON ctx.t = b.ta
  GROUP BY b.doc_id
),
dstok AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM docs
),
dsgrams AS (
  SELECT d.doc_id, gs.i,
         CASE WHEN gs.i <= len(d.tk) THEN d.tk[gs.i]
              ELSE d.tk[gs.i - len(d.tk)] || ' '
                   || d.tk[gs.i - len(d.tk) + 1] END AS g
  FROM dstok d, LATERAL (SELECT unnest(range(1, 2 * len(d.tk))) AS i) gs
),
dsmodel(b, r) AS (VALUES {ds_v}),
dsdoc AS (
  SELECT s.doc_id, COUNT(*) AS ng,
         list_sum(list(COALESCE(m.r, {ADMISSION_UNSEEN!r})
                       ORDER BY s.i)) AS total
  FROM (
    SELECT doc_id, i,
           CAST(CAST(('0x' || substr(md5('dsir:' || g), 1, 15)) AS BIGINT)
                % 256 AS INT) AS b
    FROM dsgrams
  ) s
  LEFT JOIN dsmodel m ON m.b = s.b
  GROUP BY s.doc_id
)
SELECT d.doc_id, d.host, d.path,
       COALESCE(r.allow, TRUE) AS admitted,
       COALESCE(r.prefix, '<default>') AS matched_rule,
       CAST(COALESCE(l.nb, 0) AS BIGINT) AS n_bigrams,
       CASE WHEN COALESCE(l.nb, 0) > 0
            THEN ROUND(l.total / l.nb, 3) END AS bits_per_token,
       COALESCE(CASE WHEN l.nb > 0
                     THEN ROUND(l.total / l.nb, 3) <= 5.0 END,
                FALSE) AS lm_kept,
       CAST(COALESCE(ds.ng, 0) AS BIGINT) AS n_grams,
       CASE WHEN COALESCE(ds.ng, 0) > 0
            THEN ROUND(ds.total / ds.ng, 3) + 0.0 END AS dsir_logratio,
       COALESCE(CASE WHEN ds.ng > 0
                     THEN ROUND(ds.total / ds.ng, 3) + 0.0 >= 0.0 END,
                FALSE) AS dsir_kept
FROM docs d
LEFT JOIN robots r ON r.doc_id = d.doc_id
LEFT JOIN lmdoc l ON l.doc_id = d.doc_id
LEFT JOIN dsdoc ds ON ds.doc_id = d.doc_id
"""


ORACLE_ADMISSION_GATE = _admission_oracle_sql()


def q_ngram_lm_score(spark, sf_dir):
    """Token-bigram LM quality gate — the word-level sibling of
    q_text_perplexity's character model, the form actually used to
    rank web documents against a reference corpus (KenLM-style): an
    add-one-smoothed token-bigram model is self-trained on the corpus
    (bigram counts, context counts, token vocabulary size), every
    document is scored with mean -log2 P(b|a) = bits per token, and a
    fixed threshold gates outliers. Model tables are vocabulary-sized
    (broadcast); bigrams are built map-side (transform over sequence);
    the only data-sized shuffle is the per-document aggregate. Docs
    with fewer than two tokens carry no bigram and are absent from the
    output (the gate upstream of this score handles empty docs).
    Rounded to 3 decimals so cross-engine float addition-order drift
    sits far below the comparison granularity."""
    from arc_kinesis_tagging_spark.operators.skew import spread_small_scan

    d = _t(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")
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
    # spread + pin: the text projection feeds TWO map-side consumers
    # (the bigram explode and vocab's token explode); on a
    # single-row-group fixture every one of those passes ran as ONE
    # task (round-14 measurement) — the spread parallelizes them and
    # the pin materializes the tiny text projection once
    sp = spread_small_scan(d.select("doc_id", "text")).localCheckpoint(
        eager=True
    )
    # ONE aggregate sees bigram OCCURRENCES (bgc, the per-doc distinct
    # counts); the model tables chain off it — nab = sum of m over
    # docs, na = sum of m over (docs, tb) — so the only occurrence-
    # sized shuffle is bgc's, and nab/na shuffle the per-doc-DISTINCT
    # table instead (round-15; previously three independent aggregates
    # each re-shuffled the raw bigram rows). Exact integer identities:
    # count over bg grouped by (ta,tb) == sum of per-doc counts, same
    # for (ta). bgc is pinned: it feeds the two model aggregates AND
    # the scoring join.
    bgc = sp.select("doc_id", F.explode(bigrams).alias("b")).select(
        "doc_id", F.col("b.ta").alias("ta"), F.col("b.tb").alias("tb")
    ).groupBy("doc_id", "ta", "tb").agg(
        F.count(F.lit(1)).alias("m")
    ).localCheckpoint(eager=True)
    nab = bgc.groupBy("ta", "tb").agg(F.sum("m").alias("nab"))
    na = bgc.groupBy("ta").agg(F.sum("m").alias("na"))
    vocab = sp.select(F.explode(ts).alias("t")).agg(
        F.countDistinct("t").alias("vsize")
    )
    # nab/na are NOT hinted broadcast: unlike the char model, the
    # token-bigram and token-context tables grow with vocabulary and
    # can be corpus-scale; the joins key on (ta,tb)/(ta) and AQE picks
    # broadcast only while they actually fit. Only the 1-row vsize is
    # forced broadcast. Documents are scored on their DISTINCT bigrams
    # with multiplicity (sum m*bits == sum over occurrences), so the
    # model join carries per-doc-distinct rows, not occurrences — the
    # standard compression for repetitive text.
    scored = (
        bgc.join(nab, ["ta", "tb"])
        .join(na, "ta")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "bits",
            -F.log2(
                (F.col("nab") + F.lit(1.0))
                / (F.col("na") + F.col("vsize")).cast("double")
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        F.round(
            F.sum(F.col("m") * F.col("bits")) / F.sum("m"), 3
        ).alias("bits_per_token"),
    )
    return per_doc.select(
        "doc_id", "n_bigrams", "bits_per_token",
        (F.col("bits_per_token") <= F.lit(5.0)).alias("kept"),
    )


ORACLE_NGRAM_LM_SCORE = """
WITH tok AS (
  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
         UNNEST(string_split(text, ' ')) AS t
  FROM documents
), bg AS (
  SELECT a.doc_id, a.t AS ta, b.t AS tb
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), nab AS (
  SELECT ta, tb, COUNT(*) AS nab FROM bg GROUP BY ta, tb
), na AS (
  SELECT ta, COUNT(*) AS na FROM bg GROUP BY ta
), v AS (
  SELECT COUNT(DISTINCT t) AS vsize FROM tok
), bgc AS (
  SELECT doc_id, ta, tb, COUNT(*) AS m FROM bg GROUP BY doc_id, ta, tb
), per_doc AS (
  SELECT bgc.doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
         ROUND(SUM(m * (-log2((nab.nab + 1.0) / (na.na + v.vsize))))
               / SUM(m), 3) AS bits_per_token
  FROM bgc
  JOIN nab USING (ta, tb)
  JOIN na USING (ta)
  CROSS JOIN v
  GROUP BY bgc.doc_id
)
SELECT doc_id, n_bigrams, bits_per_token,
       bits_per_token <= 5.0 AS kept
FROM per_doc
"""


_LM_TOP_V = 512  # pruned model: top-V bigrams kept, tail backs off


def q_ngram_lm_pruned(spark, sf_dir):
    """Tail-pruned token-bigram LM gate — the production form of
    q_ngram_lm_score (round-6 verdict item #5): instead of joining
    documents against the FULL bigram table (corpus-like when the
    vocabulary is), the model keeps only the top-V bigrams by count
    (V fixed => the model is BOUNDED BY CONSTRUCTION and broadcast),
    and every pruned-out bigram backs off to its add-one floor
    1/(na+vsize) — exactly the unpruned formula with nab=0, the
    additive analog of a KenLM-style pruned model's backoff weight.
    Selection is deterministic across engines: rank by (count DESC,
    ta||sep||tb ASC) with a sub-token separator, via the two-level
    bounded_topk_rank (no task sorts the full bigram table). The
    unigram context table stays vocabulary-sized (AQE-sized join),
    as in the unpruned form. Output adds n_model_hits — bigram
    occurrences scored from the kept model — so the pruning rate is
    observable."""
    from arc_kinesis_tagging_spark.operators.similarity import bounded_topk_rank
    from arc_kinesis_tagging_spark.operators.skew import spread_small_scan

    d = _t(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")
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
    # spread + pin: two map-side consumers of the text scan (see
    # q_ngram_lm_score — same round-14 single-task-scan fix); the
    # model tables chain off the single occurrence-sized aggregate
    # bgc (round-15, same exact-integer identities as lm_score)
    sp = spread_small_scan(d.select("doc_id", "text")).localCheckpoint(
        eager=True
    )
    bgc = sp.select("doc_id", F.explode(bigrams).alias("b")).select(
        "doc_id", F.col("b.ta").alias("ta"), F.col("b.tb").alias("tb")
    ).groupBy("doc_id", "ta", "tb").agg(
        F.count(F.lit(1)).alias("m")
    ).localCheckpoint(eager=True)
    nab = bgc.groupBy("ta", "tb").agg(F.sum("m").alias("nab"))
    # top-V prune: \x01 sorts below every token character, so the
    # composite key's string order equals the (ta, tb) pair order —
    # the oracle ranks with the identical composite
    keyed = nab.withColumn(
        "tkey", F.concat_ws("\x01", F.col("ta"), F.col("tb"))
    )
    model = (
        bounded_topk_rank(
            keyed, _LM_TOP_V, order_col="nab", id_col="tkey"
            , part_cols=()
        )
        .select("ta", "tb", F.col("nab").alias("nab_kept"))
    )
    na = bgc.groupBy("ta").agg(F.sum("m").alias("na"))
    vocab = sp.select(F.explode(ts).alias("t")).agg(
        F.countDistinct("t").alias("vsize")
    )
    scored = (
        bgc.join(F.broadcast(model), ["ta", "tb"], "left")
        .join(na, "ta")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "bits",
            -F.log2(
                (F.coalesce(F.col("nab_kept"), F.lit(0)) + F.lit(1.0))
                / (F.col("na") + F.col("vsize")).cast("double")
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        F.sum(
            F.when(F.col("nab_kept").isNotNull(), F.col("m")).otherwise(F.lit(0))
        ).alias("n_model_hits"),
        F.round(F.sum(F.col("m") * F.col("bits")) / F.sum("m"), 3).alias(
            "bits_per_token"
        ),
    )
    return per_doc.select(
        "doc_id", "n_bigrams", "n_model_hits", "bits_per_token",
        (F.col("bits_per_token") <= F.lit(6.0)).alias("kept"),
    )


ORACLE_NGRAM_LM_PRUNED = f"""
WITH tok AS (
  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
         UNNEST(string_split(text, ' ')) AS t
  FROM documents
), bg AS (
  SELECT a.doc_id, a.t AS ta, b.t AS tb
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), nab AS (
  SELECT ta, tb, COUNT(*) AS nab FROM bg GROUP BY ta, tb
), model AS (
  SELECT ta, tb, nab AS nab_kept FROM (
    SELECT ta, tb, nab,
           ROW_NUMBER() OVER (ORDER BY nab DESC,
                              ta || chr(1) || tb ASC) AS rn
    FROM nab
  ) WHERE rn <= {_LM_TOP_V}
), na AS (
  SELECT ta, COUNT(*) AS na FROM bg GROUP BY ta
), v AS (
  SELECT COUNT(DISTINCT t) AS vsize FROM tok
), bgc AS (
  SELECT doc_id, ta, tb, COUNT(*) AS m FROM bg GROUP BY doc_id, ta, tb
), per_doc AS (
  SELECT bgc.doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
         CAST(SUM(CASE WHEN model.nab_kept IS NOT NULL THEN m ELSE 0 END)
              AS BIGINT) AS n_model_hits,
         ROUND(SUM(m * (-log2((COALESCE(model.nab_kept, 0) + 1.0)
                              / (na.na + v.vsize))))
               / SUM(m), 3) AS bits_per_token
  FROM bgc
  LEFT JOIN model USING (ta, tb)
  JOIN na USING (ta)
  CROSS JOIN v
  GROUP BY bgc.doc_id
)
SELECT doc_id, n_bigrams, n_model_hits, bits_per_token,
       bits_per_token <= 6.0 AS kept
FROM per_doc
"""


def q_text_html_strip(spark, sf_dir):
    """Markup stripping — the first gate of every web-crawl text
    pipeline (the reference's corpus IS web content): each document is
    wrapped in a deterministic HTML shell (tags, attributes, entities,
    void elements), then cleaned by the codegen regex chain the
    production extractor runs: tag removal, the five standard entity
    decodes, whitespace normalization. Output pins the cleaned text,
    its token count, and that the shell's chrome (headings, entity
    noise) is gone while the payload text survives verbatim. Pure
    expression plan — zero shuffle, scales as a scan."""
    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div class="doc" id="d'),
        F.col("doc_id").cast("string"),
        F.lit('"><h1>Title &amp; #'),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit('</p><br/><span data-x="1">&lt;tail&gt;&nbsp;&quot;q&quot;&#39;s</span></div>'),
    )
    no_tags = F.regexp_replace(html, "<[^>]*>", " ")
    ent = no_tags
    for pat, rep in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        ent = F.regexp_replace(ent, pat, rep)
    clean = F.trim(F.regexp_replace(ent, "\\s+", " "))
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(F.split(clean, " ")).cast("long").alias("n_tokens"),
    )


def _html_strip_oracle() -> str:
    ent = "regexp_replace(no_tags, '<[^>]*>', ' ', 'g')"  # placeholder
    expr = "no_tags"
    for pat, rep in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "''"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    return f"""
WITH shell AS (
  SELECT doc_id,
         '<div class="doc" id="d' || doc_id || '"><h1>Title &amp; #'
         || doc_id || '</h1><p>' || text
         || '</p><br/><span data-x="1">&lt;tail&gt;&nbsp;&quot;q&quot;&#39;s</span></div>'
           AS html
  FROM documents
), stripped AS (
  SELECT doc_id,
         regexp_replace(html, '<[^>]*>', ' ', 'g') AS no_tags
  FROM shell
), cleaned AS (
  SELECT doc_id,
         trim(regexp_replace({expr}, '\\s+', ' ', 'g')) AS clean_text
  FROM stripped
)
SELECT doc_id, clean_text,
       CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n_tokens
FROM cleaned
"""


_EWMA_ALPHA = 0.3


def q_ts_ewma(spark, sf_dir):
    """Per-user exponentially-weighted moving average of event values
    — the classic streaming smoother (EWMA), computed batch-side as a
    LEFT FOLD over each user's time-ordered series: y_1 = x_1,
    y_i = alpha*x_i + (1-alpha)*y_{i-1}.

    Shape: one shuffle groups each user's events, the ordered series
    is a per-user array (bounded by per-user activity, the same bound
    q_session_stats lives with), and the recurrence is a sequential
    HOF fold — the only faithful evaluation of a recurrence, kept
    inside one task per user rather than faked with an unstable
    closed-form power sum (whose (1-a)^-i weights overflow on long
    series). Identical left-to-right fold in DuckDB's list_reduce
    makes the unrounded doubles bit-comparable; output rounded 6dp.
    Null values are excluded (both engines), ordering ties break by
    event_id."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    a = _EWMA_ALPHA
    series = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ),
        lambda s: s["value"],
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), series.alias("__vals")
    )
    ewma = F.aggregate(
        F.slice(F.col("__vals"), 2, F.greatest(F.size("__vals") - 1, F.lit(0))),
        F.element_at(F.col("__vals"), 1),
        lambda acc, x: acc * F.lit(1.0 - a) + x * F.lit(a),
    )
    return per_user.select(
        "user_id", "n_events", F.round(ewma, 6).alias("ewma6")
    )


ORACLE_TS_EWMA = f"""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(list_reduce(
         list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
         (acc, x) -> acc * CAST({1.0 - _EWMA_ALPHA} AS DOUBLE)
                     + x * CAST({_EWMA_ALPHA} AS DOUBLE)
       ), 6) AS ewma6
FROM events
WHERE value IS NOT NULL
GROUP BY user_id
"""


def q_lm_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity bucketing: every scored
    document lands in the head / middle / tail third of its language's
    LM-score distribution — the split CCNet uses to stratify crawl
    data by fluency before sampling. Scores come from the tail-pruned
    token-bigram LM (q_ngram_lm_pruned).

    Scale shape: tertile thresholds are NOT computed with a per-lang
    rank over the corpus (a corpus-sized window) but from the score
    HISTOGRAM — scores are 3-dp-rounded, so distinct values are
    bounded by the score range (~thousands of rows per language
    regardless of corpus size); the cumulative window runs over that
    bounded histogram and the L-row threshold table broadcasts back
    onto the scored stream. Threshold = smallest score whose
    cumulative count reaches n/3 (resp. 2n/3), so the bucketing is
    exact and deterministic in both engines. Docs with < 2 tokens
    carry no score and are absent, as in the LM queries."""
    scores = q_ngram_lm_pruned(spark, sf_dir).select(
        "doc_id", "bits_per_token"
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    # the scored stream feeds THREE consumers (histogram, per-lang
    # totals, final bucket join); a local checkpoint pins it so
    # the LM scoring pipeline materializes once. Measured gain at
    # sf0.1 is modest (3.74 -> 3.53 s: ReusedExchange already
    # deduplicated most of the repeated subtree), but the checkpoint
    # makes the once-only property structural rather than dependent
    # on exchange-reuse firing, at the usual non-replicated-block
    # trade-off (cheap recompute on executor loss).
    s = scores.join(d, "doc_id").localCheckpoint(eager=True)
    hist = s.groupBy("lang", "bits_per_token").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = Window.partitionBy("lang").orderBy("bits_per_token")
    cum = hist.withColumn("cum", F.sum("c").over(wcum))
    tot = s.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    th = (
        cum.join(tot, "lang")
        .groupBy("lang")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.col("n") / 3.0, F.col("bits_per_token")
                )
            ).alias("t1"),
            F.min(
                F.when(
                    F.col("cum") >= 2.0 * F.col("n") / 3.0,
                    F.col("bits_per_token"),
                )
            ).alias("t2"),
        )
    )
    return s.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "bits_per_token",
        F.when(F.col("bits_per_token") <= F.col("t1"), F.lit("head"))
        .when(F.col("bits_per_token") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def _lm_buckets_oracle() -> str:
    # reuse the pruned-LM per_doc CTE chain, then histogram tertiles
    body = ORACLE_NGRAM_LM_PRUNED.split("SELECT doc_id, n_bigrams")[0]
    return body + """
, s AS (
  SELECT p.doc_id, d.lang, p.bits_per_token
  FROM per_doc p JOIN documents d USING (doc_id)
), hist AS (
  SELECT lang, bits_per_token, COUNT(*) AS c FROM s GROUP BY lang, bits_per_token
), cum AS (
  SELECT lang, bits_per_token,
         SUM(c) OVER (PARTITION BY lang ORDER BY bits_per_token) AS cum
  FROM hist
), tot AS (
  SELECT lang, COUNT(*) AS n FROM s GROUP BY lang
), th AS (
  SELECT cum.lang,
         MIN(CASE WHEN cum >= n / 3.0 THEN bits_per_token END) AS t1,
         MIN(CASE WHEN cum >= 2.0 * n / 3.0 THEN bits_per_token END) AS t2
  FROM cum JOIN tot USING (lang) GROUP BY cum.lang
)
SELECT s.doc_id, s.lang, s.bits_per_token,
       CASE WHEN s.bits_per_token <= th.t1 THEN 'head'
            WHEN s.bits_per_token <= th.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM s JOIN th USING (lang)
"""


_MINWISE_K = 256


def minwise_lang_sketches(d, k: int = _MINWISE_K):
    """Per-language bottom-k (KMV) minwise sketch of the token
    vocabulary: the k lexicographically-smallest md5 token hashes per
    language, selected with the two-level bounded rank (local bottom-k
    per input partition, then global over the <= P*k survivors) so no
    task ever sorts a language's full vocabulary. Output: (lang, h),
    <= k rows per language — the ONLY thing that crosses the wire at
    100 TB."""
    from arc_kinesis_tagging_spark.operators.similarity import bounded_topk_rank

    vocab = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
        .select("lang", F.md5(F.concat(F.lit("mh:"), F.col("tok"))).alias("h"))
    )
    return bounded_topk_rank(
        vocab, k, order_col="h", part_cols=("lang",), id_col="h", ascending=True
    ).select("lang", "h")


def q_doc_minwise_sim(spark, sf_dir):
    """Corpus-pair vocabulary similarity from bottom-k (KMV) minwise
    sketches — the sketch family's PAIRWISE member (q_doc_stats_sketch
    is its cardinality sibling): for every language pair, estimate the
    Jaccard similarity of their token vocabularies by COMBINING the
    two languages' k-row sketches.

    Estimator: with S = the k smallest hashes of A∪B's vocabulary,
    J_est = |S ∩ A ∩ B| / |S| — the standard bottom-k estimate, exact
    when |A∪B| <= k. The KMV merge property makes the sketch-combine
    exact: bottom-k(A∪B) ⊆ bottom-k(A) ∪ bottom-k(B), and any h in
    bottom-k(A∪B) that belongs to A is necessarily in bottom-k(A), so
    membership counts from sketches alone equal those from the full
    vocabularies. Everything downstream of the sketches is bounded:
    each pair combines <= 2k sketch rows (the per-pair rank window is
    over <= 2k rows, never the vocabulary union — the round-6
    verdict's scale fix), and only k-row sketches ever cross the
    wire. Deterministic (md5 lexicographic order, no RNG), so the
    driver hash-checks the estimate; the exact-Jaccard baseline the
    estimator approximates is pinned by the pytest oracle
    (test_quality_ops), not computed here."""
    d = _t(spark, sf_dir, "documents")
    sk = minwise_lang_sketches(d, _MINWISE_K)
    langs = sk.select("lang").distinct()
    pairs = (
        langs.alias("x")
        .join(langs.alias("y"), F.col("x.lang") < F.col("y.lang"))
        .select(F.col("x.lang").alias("la"), F.col("y.lang").alias("lb"))
    )
    tagged = sk.join(
        F.broadcast(pairs),
        (F.col("lang") == F.col("la")) | (F.col("lang") == F.col("lb")),
    )
    sides = tagged.groupBy("la", "lb", "h").agg(
        F.countDistinct("lang").alias("n_sides")
    )
    # <= 2k rows per pair by construction (two k-row sketches)
    w = Window.partitionBy("la", "lb").orderBy("h")
    ranked = sides.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("la", "lb").agg(
        F.sum(
            F.when(
                (F.col("rn") <= _MINWISE_K) & (F.col("n_sides") == 2), 1
            ).otherwise(0)
        ).alias("k_common"),
        F.least(F.count(F.lit(1)), F.lit(_MINWISE_K)).alias("k_eff"),
        F.round(
            F.sum(
                F.when(
                    (F.col("rn") <= _MINWISE_K) & (F.col("n_sides") == 2), 1
                ).otherwise(0)
            )
            / F.least(F.count(F.lit(1)), F.lit(_MINWISE_K)).cast("double"),
            6,
        ).alias("jaccard_est"),
    )


ORACLE_DOC_MINWISE_SIM = f"""
WITH vocab AS (
  SELECT DISTINCT lang,
         md5('mh:' || tok) AS h
  FROM (
    SELECT lang,
           UNNEST(list_filter(string_split_regex(text, '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
  )
), pairs AS (
  SELECT x.lang AS la, y.lang AS lb
  FROM (SELECT DISTINCT lang FROM vocab) x
  JOIN (SELECT DISTINCT lang FROM vocab) y ON x.lang < y.lang
), sides AS (
  SELECT p.la, p.lb, v.h, COUNT(DISTINCT v.lang) AS n_sides
  FROM vocab v JOIN pairs p ON v.lang = p.la OR v.lang = p.lb
  GROUP BY p.la, p.lb, v.h
), ranked AS (
  SELECT la, lb, n_sides,
         ROW_NUMBER() OVER (PARTITION BY la, lb ORDER BY h) AS rn
  FROM sides
)
-- ORACLE NOTE: this oracle ranks the FULL vocabulary union per pair
-- (DuckDB runs at test scale); the engine combines k-row sketches.
-- The KMV merge property (see q_doc_minwise_sim docstring) makes the
-- two computations provably identical for every output column, so a
-- hash match here verifies the sketch-combine end to end.
SELECT la, lb,
       CAST(SUM(CASE WHEN rn <= {_MINWISE_K} AND n_sides = 2
                THEN 1 ELSE 0 END) AS BIGINT) AS k_common,
       CAST(LEAST(COUNT(*), {_MINWISE_K}) AS BIGINT) AS k_eff,
       ROUND(SUM(CASE WHEN rn <= {_MINWISE_K} AND n_sides = 2
                 THEN 1 ELSE 0 END)
             / CAST(LEAST(COUNT(*), {_MINWISE_K}) AS DOUBLE),
             6) AS jaccard_est
FROM ranked GROUP BY la, lb
"""


def q_corpus_pipeline5(spark, sf_dir):
    """Round-7 end-to-end refresh composite — the CCNet-style corpus
    build from this round's operators: (1) pruned-LM perplexity
    BUCKETS keep head+middle per language (tail dropped), (2)
    prefix-SUBSUMED fragments dropped (range-partitioned adjacency),
    (3) per-(source, bucket) survivor counts and mean bits — the
    report a data-curation run ships. Aggregates use the exact
    decimal-sum convention (order-independent), so the composite is
    hash-checked end to end."""
    from arc_kinesis_tagging_spark.operators.textops import prefix_subsumed_marks
    from arc_kinesis_tagging_spark.plans.common import dsum

    d = _t(spark, sf_dir, "documents")
    lm = q_lm_buckets(spark, sf_dir).filter(F.col("bucket") != "tail")
    frags = d.select(
        "doc_id",
        F.substring(F.col("text"), 1, 30 + (F.col("doc_id") % 5) * 30)
        .cast("string")
        .alias("frag"),
    )
    marks = prefix_subsumed_marks(frags, "frag")
    unsubsumed = (
        frags.join(marks, "frag")
        .filter(~F.col("subsumed"))
        .select("doc_id")
    )
    kept = lm.join(unsubsumed, "doc_id").join(
        d.select("doc_id", "source"), "doc_id"
    )
    return kept.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            dsum("bits_per_token", 6) / F.count(F.lit(1)), 6
        ).alias("avg_bits"),
    )


def _corpus_pipeline5_oracle() -> str:
    return f"""
WITH lm AS (
  SELECT * FROM ({_lm_buckets_oracle()}) t WHERE bucket <> 'tail'
), pf AS (
  SELECT * FROM ({{PREFIX}}) t WHERE NOT subsumed
)
SELECT d.source, lm.bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(lm.bits_per_token AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_bits
FROM lm
JOIN pf ON pf.doc_id = lm.doc_id
JOIN documents d ON d.doc_id = lm.doc_id
GROUP BY d.source, lm.bucket
"""


def q_dedup_prefix(spark, sf_dir):
    """Exact prefix-containment dedup — the crawl-snapshot case where
    one capture is a truncation of a longer capture of the same page:
    a document whose text is a STRICT prefix of another document's
    text is subsumed. The classic sort-adjacency reduction makes this
    one sort, not a quadratic join: over DISTINCT texts ordered
    lexicographically, if A is a prefix of any B then A is a prefix of
    its IMMEDIATE successor (any S with A < S <= B would otherwise
    diverge from A at some position and sort after B), so a single
    lead() comparison decides subsumption. The adjacency runs over a
    RANGE partition of the full text with boundary-row exchange
    (operators/textops.py:prefix_subsumed_marks) — balanced by row
    count even on a Zipfian first-character corpus, unlike the
    first-char-partitioned window it replaces (round-6 verdict fix).
    Each doc derives a fragment (id-dependent truncation) so the
    synthetic corpus's duplicate texts yield genuine strict-prefix
    pairs at differing lengths."""
    from arc_kinesis_tagging_spark.operators.textops import prefix_subsumed_marks

    d = _t(spark, sf_dir, "documents")
    frags = d.select(
        "doc_id",
        F.substring(F.col("text"), 1, 30 + (F.col("doc_id") % 5) * 30)
        .cast("string")
        .alias("frag"),
    )
    marks = prefix_subsumed_marks(frags, "frag")
    return (
        frags.join(marks, "frag")
        .select(
            "doc_id",
            F.length("frag").alias("n_frag_chars"),
            "subsumed",
        )
    )


ORACLE_DEDUP_PREFIX = """
WITH frags AS (
  SELECT doc_id,
         substr(text, 1, CAST(30 + (doc_id % 5) * 30 AS INT)) AS frag
  FROM documents
), texts AS (
  SELECT DISTINCT frag FROM frags
), marks AS (
  SELECT frag,
         lead(frag) OVER (PARTITION BY substr(frag, 1, 1)
                          ORDER BY frag) AS nxt
  FROM texts
)
SELECT f.doc_id,
       CAST(length(f.frag) AS INTEGER) AS n_frag_chars,
       (m.nxt IS NOT NULL AND length(f.frag) > 0
        AND m.nxt <> f.frag
        AND substr(m.nxt, 1, length(f.frag)) = f.frag) AS subsumed
FROM frags f JOIN marks m ON f.frag = m.frag
"""


_SUBSTR_W = 16  # duplicated-window width in tokens


def q_dedup_substring(spark, sf_dir):
    """Duplicated-SUBSTRING detection — the fixed-width practical form
    of suffix-array training-data dedup (flag every w-token window
    whose content appears more than once ANYWHERE in the corpus, then
    report each document's duplicated-token coverage): rolling
    w-token windows are built map-side (transform over sequence, no
    join on position), duplicate window CONTENT is found with one
    hash aggregate, and per-document coverage merges overlapping
    duplicate windows into spans with the classic
    cummax-interval-merge window (flag = start beyond every previous
    end; group = running flag sum; coverage = sum of merged span
    lengths). Shuffles carry (doc, window-hash) rows — linear in
    token count, the inherent cost of substring-level dedup — plus
    one doc-keyed window. Output: per-doc token count, duplicated
    window count, merged duplicated-token coverage and fraction.

    Window hashes come from the vectorized Rabin-Karp kernel
    (``_rolling_windows_np``): tokens hashed once, O(1) per window via
    a modular-inverse prefix, measured 6.6x end-to-end at sf0.1 over
    the former md5-per-window expression form (7.75 s -> 1.17 s;
    SCALE.md round-7). The OUTPUT is hash-agnostic — the digest only
    groups identical window content — so the DuckDB oracle, which
    digests windows with md5, still hash-checks these rows: the
    compared columns carry coverage counts, never digests."""
    spans = _substring_spans(_t(spark, sf_dir, "documents"))
    per_doc = spans.groupBy("doc_id", "n_tokens").agg(
        F.sum("n_wins").alias("n_dup_windows"),
        F.sum(F.col("e1") - F.col("s0")).alias("dup_token_coverage"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_dup_windows",
        F.col("dup_token_coverage").cast("long").alias("dup_token_coverage"),
        F.round(
            F.col("dup_token_coverage") / F.col("n_tokens").cast("double"), 6
        ).alias("dup_fraction"),
    )


def _rolling_windows_np(d, w: int):
    """TRUE rolling-hash window stage: tokens hashed once, then each
    w-token window digest is O(1) via a modular-inverse prefix trick
    instead of O(w) string assembly — the classic Rabin-Karp
    recurrence, vectorized over the whole Arrow batch in uint64
    wraparound arithmetic (mod 2^64, so
    the polynomial H(win) = sum h[t] * B^(w-1-t) is exact and
    position-independent). Per batch: one concatenated token-hash
    array, one cumsum, one gather — no per-window work at all.
    Returns (doc_id, n_tokens, s, wh long)."""
    import numpy as np
    import pandas as pd

    B = np.uint64(1000003)
    BINV = np.uint64(pow(1000003, -1, 1 << 64))

    def gen(batches):
        for pdf in batches:
            tok_lists = [
                ("" if t is None else t).split(" ") for t in pdf["text"]
            ]
            lens = np.array([len(t) for t in tok_lists], np.int64)
            doc_ids = pdf["doc_id"].to_numpy()
            flat = np.array(
                [t for toks in tok_lists for t in toks], dtype=object
            )
            if len(flat) == 0 or lens.max() < w:
                yield pd.DataFrame(
                    {"doc_id": [], "n_tokens": [], "s": [], "wh": []}
                ).astype({"doc_id": "int64", "n_tokens": "int32",
                          "s": "int32", "wh": "int64"})
                continue
            h = pd.util.hash_array(flat).astype(np.uint64)
            n = len(h)
            one = np.ones(1, np.uint64)
            with np.errstate(over="ignore"):
                # B^0..B^(n-1) mod 2^64 via wrapping cumprod
                bpow = np.concatenate(
                    [one, np.cumprod(np.full(n - 1, B, np.uint64))]
                ) if n > 1 else one
                binvpow = np.concatenate(
                    [one, np.cumprod(np.full(n - 1, BINV, np.uint64))]
                ) if n > 1 else one
                prefix = np.cumsum(h * binvpow, dtype=np.uint64)
                # window starting at global g: (prefix[g+w-1] -
                # prefix[g-1]) * B^(g+w-1)
                g = np.arange(n - w + 1)
                upper = prefix[g + w - 1]
                lower = np.concatenate(
                    [np.zeros(1, np.uint64), prefix[: n - w]]
                )
                wh = ((upper - lower) * bpow[g + w - 1]).view(np.int64)
            starts = np.concatenate([np.zeros(1, np.int64), np.cumsum(lens)[:-1]])
            doc_of = np.repeat(np.arange(len(lens)), lens)
            valid = doc_of[g] == doc_of[np.minimum(g + w - 1, n - 1)]
            g, wh = g[valid], wh[valid]
            di = doc_of[g]
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids[di],
                    "n_tokens": lens[di].astype(np.int32),
                    "s": (g - starts[di] + 1).astype(np.int32),
                    "wh": wh,
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        gen, "doc_id long, n_tokens int, s int, wh long"
    )


def _substring_spans(d):
    """Merged duplicated-window spans per document — the shared core of
    the substring-dedup REPORT (q_dedup_substring) and the substring
    CLIP (q_dedup_substring_clip): (doc_id, n_tokens, gid, s0, e1,
    n_wins) with 1-based token positions, span = tokens [s0, e1)."""
    w = _SUBSTR_W
    windows = _rolling_windows_np(d, w)
    dup = (
        windows.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("wh")
    )
    dw = windows.join(dup, "wh", "left_semi")
    ww = Window.partitionBy("doc_id").orderBy("s")
    prev_end = F.max(F.col("s") + w).over(
        ww.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dw.withColumn(
        "new_span",
        F.when(
            prev_end.isNull() | (F.col("s") > prev_end), 1
        ).otherwise(0),
    ).withColumn("gid", F.sum("new_span").over(ww))
    return flagged.groupBy("doc_id", "n_tokens", "gid").agg(
        F.min("s").alias("s0"),
        F.max(F.col("s") + w).alias("e1"),
        F.count(F.lit(1)).alias("n_wins"),
    )


# Shared CTE chain up to the merged-span table — the REPORT and CLIP
# oracles both read from `spans` (tokens [s0, e1), 1-based).
_SUBSTR_SPANS_SQL = f"""
WITH base AS (
  SELECT doc_id,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), windows AS (
  -- bounded range stands in for a lateral series (DuckDB's range()
  -- rejects lateral column bounds); 10000 exceeds every test-corpus
  -- token count, and a longer doc would lose windows and FAIL the
  -- row hash rather than silently pass
  SELECT doc_id, n_tokens, s,
         md5(array_to_string(list_slice(toks, s, s + {_SUBSTR_W} - 1), ' ')) AS wh
  FROM base CROSS JOIN range(1, 10000) AS t(s)
  WHERE n_tokens >= {_SUBSTR_W} AND s <= n_tokens - {_SUBSTR_W} + 1
), dup AS (
  SELECT wh FROM windows GROUP BY wh HAVING COUNT(*) > 1
), dw AS (
  SELECT w.doc_id, w.n_tokens, w.s FROM windows w JOIN dup USING (wh)
), flagged AS (
  SELECT doc_id, n_tokens, s,
         CASE WHEN max(s + {_SUBSTR_W}) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) IS NULL
              OR s > max(s + {_SUBSTR_W}) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              )
         THEN 1 ELSE 0 END AS new_span
  FROM dw
), grouped AS (
  SELECT doc_id, n_tokens, s,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY s) AS gid
  FROM flagged
), spans AS (
  SELECT doc_id, n_tokens, gid,
         MIN(s) AS s0, MAX(s + {_SUBSTR_W}) AS e1, COUNT(*) AS n_wins
  FROM grouped GROUP BY doc_id, n_tokens, gid
)
"""

ORACLE_DEDUP_SUBSTRING = _SUBSTR_SPANS_SQL + """
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(SUM(n_wins) AS BIGINT) AS n_dup_windows,
       CAST(SUM(e1 - s0) AS BIGINT) AS dup_token_coverage,
       ROUND(SUM(e1 - s0) / CAST(n_tokens AS DOUBLE), 6) AS dup_fraction
FROM spans GROUP BY doc_id, n_tokens
"""


def q_dedup_substring_clip(spark, sf_dir):
    """Substring-dedup CLIP — the curation ACTION on top of
    q_dedup_substring's report (Lee et al. 2021's ExactSubstr step:
    the reference pipeline tags records, a training-data pipeline
    must also REWRITE them): every merged duplicated-window span is
    removed from every document and the survivors are rejoined in
    order. Remove-all policy — deterministic and coordination-free
    (Lee et al. report downstream insensitivity to which occurrence
    survives; the keep-lowest-doc policy exists at segment
    granularity as q_dedup_lines). The 100 TB shape adds exactly one
    doc-keyed join to the report plan: spans collect per doc (few
    rows each — bounded by n_tokens/1 but in practice by duplicated
    coverage), then a map-side positional filter lambda drops
    covered tokens — no per-token explode, no second corpus
    shuffle. Same rolling window hash as the report."""
    d = _t(spark, sf_dir, "documents")
    spans = _substring_spans(d)
    span_arr = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("s0"), F.col("e1")))
        ).alias("sp")
    )
    ts = F.split(F.col("text"), " ")
    joined = (
        d.select("doc_id", ts.alias("tk"))
        .join(span_arr, "doc_id", "left")
        .withColumn(
            "sp",
            F.coalesce("sp", F.array().cast("array<struct<s0:int,e1:int>>")),
        )
    )
    # positions are 1-based in the span table; filter's index is 0-based
    kept = F.filter(
        F.col("tk"),
        lambda t, i: ~F.exists(
            F.col("sp"),
            lambda x: (i + 1 >= x["s0"]) & (i + 1 < x["e1"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("tk").cast("int").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("clean_text"),
    )


ORACLE_DEDUP_SUBSTRING_CLIP = _SUBSTR_SPANS_SQL + """
, pos_tab AS (
  SELECT doc_id, n_tokens,
         UNNEST(range(1, n_tokens + 1)) AS p,
         UNNEST(toks) AS tok
  FROM base
), kept AS (
  SELECT pt.doc_id, pt.p, pt.tok FROM pos_tab pt
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = pt.doc_id
                      AND pt.p >= s.s0 AND pt.p < s.e1)
), re AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_tokens AS INTEGER) AS n_tokens,
       CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(re.clean_text, '') AS clean_text
FROM base b LEFT JOIN re USING (doc_id)
"""


def q_corpus_diff(spark, sf_dir):
    """Corpus snapshot delta — the op that drives every incremental
    pipeline (which documents were added / removed / changed between
    two crawl snapshots, and how churny is each source): the two
    snapshots (derived deterministically here by doc_id split and a
    content perturbation) full-outer-join on doc_id with content
    digests compared, each doc classified, then per-source counts.
    One keyed join plus one bounded aggregate; at 100 TB both
    snapshot scans are digest-projected (two columns) and the join
    shuffles digests, not documents."""
    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    new = d.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(" [rev2]")),
            ).otherwise(F.col("text"))
        ).alias("digest"),
    )
    j = old.alias("o").join(
        new.alias("n"), F.col("o.doc_id") == F.col("n.doc_id"), "full"
    )
    status = (
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("o.digest") != F.col("n.digest"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return (
        j.select(
            F.coalesce(F.col("o.source"), F.col("n.source")).alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_CORPUS_DIFF = """
WITH old AS (
  SELECT doc_id, source, md5(text) AS digest
  FROM documents WHERE doc_id % 11 <> 0
), new AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                  ELSE text END) AS digest
  FROM documents WHERE doc_id % 13 <> 0
)
SELECT COALESCE(o.source, n.source) AS source,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.digest <> n.digest THEN 'changed'
            ELSE 'same' END AS status,
       COUNT(*) AS n_docs
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
GROUP BY 1, 2
"""


def q_corpus_pipeline4(spark, sf_dir):
    """Round-6 composite refresh — the new admission, quality, and
    dedup stages chained as ONE declarative plan: robots longest-match
    admission (q_robots_gate) -> token-bigram LM gate
    (q_ngram_lm_score, kept = bits/token <= 5.0; docs too short to
    score carry no bigram and are excluded by the gate's contract) ->
    duplicated-substring budget (q_dedup_substring coverage <= 0.5 of
    tokens; docs with NO duplicated window pass with 0) -> per-source
    summary (docs, tokens, mean bits/token, mean dup fraction).
    Catalyst fuses the stages; every piece is individually hash-green
    and the composite carries a full SQL oracle built from the same
    fragments. Aggregated means are computed over 3-dp-rounded
    per-doc scores, keeping cross-engine float drift far below the
    output rounding."""
    from arc_kinesis_tagging_spark.plans.relational3 import q_robots_gate

    d = _t(spark, sf_dir, "documents")
    adm = (
        q_robots_gate(spark, sf_dir)
        .filter(F.col("admitted"))
        .select("doc_id", "host")
    )
    lm = q_ngram_lm_score(spark, sf_dir).filter(F.col("kept")).select(
        "doc_id", "n_bigrams", "bits_per_token"
    )
    sub = q_dedup_substring(spark, sf_dir).select("doc_id", "dup_fraction")
    kept = (
        d.select("doc_id", "source")
        .join(adm, "doc_id")
        .join(lm, "doc_id")
        .join(sub, "doc_id", "left")
        .withColumn("dupf", F.coalesce(F.col("dup_fraction"), F.lit(0.0)))
        .filter(F.col("dupf") <= 0.5)
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_bigrams") + 1).alias("n_tokens"),
        F.round(F.avg("bits_per_token"), 3).alias("mean_bits_per_token"),
        F.round(F.avg("dupf"), 4).alias("mean_dup_fraction"),
    )


def _pipeline4_oracle() -> str:
    from arc_kinesis_tagging_spark.plans.relational3 import ORACLE_ROBOTS_GATE

    return f"""
WITH adm AS (
  SELECT doc_id FROM ({ORACLE_ROBOTS_GATE.strip()}) WHERE admitted
), lm AS (
  SELECT doc_id, n_bigrams, bits_per_token
  FROM ({ORACLE_NGRAM_LM_SCORE.strip()}) WHERE kept
), sub AS (
  SELECT doc_id, dup_fraction FROM ({ORACLE_DEDUP_SUBSTRING.strip()})
), kept AS (
  SELECT d.doc_id, d.source, lm.n_bigrams, lm.bits_per_token,
         COALESCE(sub.dup_fraction, 0.0) AS dupf
  FROM documents d
  JOIN adm USING (doc_id)
  JOIN lm USING (doc_id)
  LEFT JOIN sub USING (doc_id)
  WHERE COALESCE(sub.dup_fraction, 0.0) <= 0.5
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_bigrams + 1) AS BIGINT) AS n_tokens,
       ROUND(AVG(bits_per_token), 3) AS mean_bits_per_token,
       ROUND(AVG(dupf), 4) AS mean_dup_fraction
FROM kept GROUP BY source
"""


ORACLE_CORPUS_PIPELINE4 = _pipeline4_oracle()


def q_lm_arpa(spark, sf_dir):
    """KenLM artifact loop as one driver-checked query: TRAIN the
    add-one token-bigram gate model on the documents table, EXPORT it
    as a standard ARPA file (operators/lm.py:export_arpa_bigram —
    open-vocabulary <unk>, Katz backoff, byte-deterministic), then
    IMPORT that file and score the corpus through the generic ARPA
    scorer (score_docs_with_arpa) exactly as a pipeline scoring
    snapshot N against the model trained on snapshot N-1 would.

    The export is memoized per (session, sf_dir content fingerprint)
    with the same atomic-rename discipline as the persisted IVF index,
    so repeated query calls amortize training. Rows-only by design:
    the scored values equal q_ngram_lm_score up to the file's 7-dp
    log10 quantization (pinned at 1e-3 tolerance in
    tests/test_arpa_export.py), but a value that close to a rounding
    boundary cannot be HASH-compared across engines honestly — the
    parity belongs to pytest, the row-count/schema check to the
    driver."""
    import os as _os
    import tempfile as _tempfile

    from arc_kinesis_tagging_spark.operators.lm import (
        export_arpa_bigram,
        score_docs_with_arpa,
    )
    from arc_kinesis_tagging_spark.plans.llmops import _session_memo
    from arc_kinesis_tagging_spark.sources.tables import table_fingerprint

    d = _t(spark, sf_dir, "documents")
    path = _os.path.join(
        _tempfile.gettempdir(),
        "akt_arpa_" + table_fingerprint(sf_dir, "documents") + ".arpa",
    )
    memo = _session_memo(spark)
    if (path, "arpa") not in memo:
        if not _os.path.isfile(path):
            tmp = f"{path}.tmp-{_os.getpid()}"
            export_arpa_bigram(d, tmp)
            try:
                _os.rename(tmp, path)
            except OSError:
                _os.unlink(tmp)
        memo.add((path, "arpa"))
    scored = score_docs_with_arpa(d, path)
    return scored.select(
        "doc_id",
        "n_bigrams",
        "bits_per_token",
        (F.col("bits_per_token") <= F.lit(5.0)).alias("kept"),
    )


# --- DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169) ---------
# Data Selection via Importance Resampling: score every raw document by
# the log importance weight of a hashed-n-gram bag-of-words model of a
# TARGET distribution vs the RAW distribution, then resample with
# Gumbel-top-k on the log weights. The production curation method for
# "give me web data that looks like Wikipedia" — here the target is the
# English slice of the corpus and the raw distribution is everything.

_DSIR_B = 256  # hashed feature buckets; model tables are B rows


def _dsir_grams(d):
    """(doc_id, lang, gram) rows: unigrams + adjacent bigrams over
    whitespace tokens — DSIR's hashed n-gram features, built map-side
    with one explode (no UDF). The narrow round-robin repartition
    ahead of the CPU-bound gram/md5 kernel spreads a compacted
    single-row-group corpus across every core (the winnowing lesson:
    a map-only plan inherits the scan's splits, and one split means
    serial execution); at real scale the scan has ample splits and
    the repartition is one narrow pass."""
    d = d.select("doc_id", "lang", "text").repartition(
        d.sparkSession.sparkContext.defaultParallelism
    )
    toks = tokens(F.col("text"))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id", "lang",
        F.explode(F.concat(toks, bigrams)).alias("g"),
    )


def _dsir_scored(spark, sf_dir):
    """Per-doc DSIR log-importance-ratio over hashed n-gram buckets.

    Scale shape: the two bucket models are B-row aggregates (B = 256 —
    bounded by construction at any corpus size, broadcast); the corpus
    is read once into per-(doc, bucket) counts whose key includes
    doc_id (no skew pileup), and the only data-sized shuffle is that
    aggregate. Log-ratio floats follow the LM-gate convention: 3-dp
    rounding sits far above cross-engine addition-order drift."""
    from arc_kinesis_tagging_spark.operators.quality_clf import (
        hashed_gram_bucket_counts,
    )

    d = _t(spark, sf_dir, "documents")
    # Batch-native per-(doc, bucket) counts, pinned: the corpus text
    # is read ONCE map-side (round-14 optimization — the former gram
    # explode + md5 expression chain ran once per consumer, and both
    # model and per-doc aggregates consumed it); the raw/target model
    # counts fold from these compact rows (sum of m == count of gram
    # rows, per bucket).
    feats = hashed_gram_bucket_counts(
        d, "text", "doc_id", _DSIR_B, salt="dsir:", extra_cols=("lang",)
    ).localCheckpoint(eager=True)
    model = feats.groupBy("b").agg(
        F.sum("m").alias("cr"),
        F.sum(
            F.when(F.col("lang") == "en", F.col("m")).otherwise(F.lit(0))
        ).alias("ct"),
    )
    tots = model.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    ratio = (
        model.crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tt") + F.lit(float(_DSIR_B)))
                )
                - F.log(
                    (F.col("cr") + F.lit(1.0))
                    / (F.col("tr") + F.lit(float(_DSIR_B)))
                )
            ).alias("r"),
        )
    )
    dm = feats.select("doc_id", "b", "m")
    return dm.join(F.broadcast(ratio), "b").groupBy("doc_id").agg(
        F.sum("m").alias("n_grams"),
        # + 0.0 collapses IEEE -0.0 (a tiny negative mean rounds to
        # the SIGNED zero in one engine and not the other)
        (
            F.round(F.sum(F.col("m") * F.col("r")) / F.sum("m"), 3)
            + F.lit(0.0)
        ).alias("dsir_logratio"),
    )


def q_dsir_score(spark, sf_dir):
    """DSIR scoring + threshold gate: per-doc mean log importance
    ratio of the target (lang = 'en') hashed-bigram model over the raw
    model, add-one smoothed; kept = ratio >= 0 (doc looks more like
    the target than the background). Docs with no tokens carry no
    features and are absent (the empty-doc gate runs upstream)."""
    s = _dsir_scored(spark, sf_dir)
    return s.select(
        "doc_id", "n_grams", "dsir_logratio",
        (F.col("dsir_logratio") >= F.lit(0.0)).alias("kept"),
    )


_DSIR_N = 50  # resample size


def q_dsir_sample(spark, sf_dir):
    """DSIR Gumbel-top-k resample: perturb each doc's log weight with
    deterministic Gumbel noise g = -ln(-ln(u)), u a pure function of
    doc_id via the portable hash, and take the global top N = 50 — the
    Gumbel-max trick makes this an exact sample without replacement
    from softmax(log weights). The composite key is integer micro
    units (rounded score milli-units * 1000 + rounded noise micro
    units) with a doc_id tiebreak, so the selected SET is engine- and
    partitioning-deterministic; the top-N itself is a bounded
    TakeOrderedAndProject, never a corpus-wide window."""
    s = _dsir_scored(spark, sf_dir)
    h = stable_hash64(
        F.concat(F.lit("dsir-u:"), F.col("doc_id").cast("string"))
    )
    u = (h + F.lit(1)).cast("double") / F.lit(float((1 << 60) + 2))
    gum = -F.log(-F.log(u))
    key = (
        F.round(F.col("dsir_logratio") * 1000, 0).cast("long") * 1000
        + F.round(gum * 1e6, 0).cast("long")
    )
    return (
        s.select("doc_id", "dsir_logratio", key.alias("key_micro"))
        .orderBy(F.desc("key_micro"), F.asc("doc_id"))
        .limit(_DSIR_N)
    )


_DSIR_GRAMS_SQL = """
  base AS (
    SELECT doc_id, lang,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
             AS toks
    FROM documents
  ), tok AS (
    SELECT doc_id, lang, generate_subscripts(toks, 1) AS pos,
           UNNEST(toks) AS t
    FROM base
  ), grams AS (
    SELECT doc_id, lang, t AS g FROM tok
    UNION ALL
    SELECT a.doc_id, a.lang, a.t || ' ' || b.t AS g
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  ), hb AS (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5('dsir:' || g), 1, 15)) AS BIGINT)
             % 256 AS b
    FROM grams
  ), cr AS (
    SELECT b, COUNT(*) AS cr FROM hb GROUP BY b
  ), ct AS (
    SELECT b, COUNT(*) AS ct FROM hb WHERE lang = 'en' GROUP BY b
  ), tots AS (
    SELECT COUNT(*) AS tr,
           SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt
    FROM hb
  ), ratio AS (
    SELECT cr.b,
           ln((COALESCE(ct.ct, 0) + 1.0) / (tots.tt + 256.0))
             - ln((cr.cr + 1.0) / (tots.tr + 256.0)) AS r
    FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN tots
  ), dm AS (
    SELECT doc_id, b, COUNT(*) AS m FROM hb GROUP BY doc_id, b
  ), per AS (
    SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_grams,
           ROUND(SUM(m * r) / SUM(m), 3) + 0.0 AS dsir_logratio
    FROM dm JOIN ratio ON dm.b = ratio.b
    GROUP BY doc_id
  )
"""

ORACLE_DSIR_SCORE = f"""
WITH {_DSIR_GRAMS_SQL}
SELECT doc_id, n_grams, dsir_logratio,
       dsir_logratio >= 0.0 AS kept
FROM per
"""

ORACLE_DSIR_SAMPLE = f"""
WITH {_DSIR_GRAMS_SQL}
SELECT doc_id, dsir_logratio,
       CAST(ROUND(dsir_logratio * 1000, 0) AS BIGINT) * 1000
         + CAST(ROUND(
             -ln(-ln((CAST(('0x' || substr(
                 md5('dsir-u:' || CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) + 1.0) / {float((1 << 60) + 2)!r}))
             * 1e6, 0) AS BIGINT) AS key_micro
FROM per
ORDER BY key_micro DESC, doc_id ASC
LIMIT {_DSIR_N}
"""


# --- supervised quality classifier (fastText-style, round 14) --------------
#
# The engine's first SUPERVISED curation gate (Joulin et al. 2016's
# linear bag-of-hashed-ngrams classifier — the wiki-vs-CommonCrawl /
# lang-id machinery; see operators/quality_clf.py for the full model
# and scale notes). Two registry shapes:
#
# - q_quality_clf_score: the closed-form FIRST gradient step from
#   zero init (uniform softmax => errors 1/C - 1[y=c]) computed
#   entirely in DataFrame ops, then applied — train+apply as ONE
#   declarative tree, exactly SQL-expressible, so the whole path
#   (featurize -> gradient -> weights -> score -> argmax) is
#   hash-checked against DuckDB.
# - q_quality_clf_train: the real multi-epoch GD loop (driver-held
#   vocabulary-bounded weights) — iterative, rows-only, with numpy
#   parity + separable-corpus accuracy pinned in
#   tests/test_quality_clf.py.
#
# Labels: the fixture's in-data ground truth (lang — fastText's own
# flagship task); the operator is label-agnostic (production: quality
# labels, wiki-vs-cc).

_CLF_B = 256
_CLF_LR = 0.5
_CLF_CLASSES = ["de", "en", "es", "fr", "zh"]  # sorted; index = class id


def _clf_onestep_scored(docs: DataFrame) -> DataFrame:
    """Closed-form one-step train + apply over ``docs`` (doc_id, lang,
    text): returns (doc_id, lang, n_grams, pred, score, correct).

    Scale shape: features built once and pinned (three consumers:
    bucket-gradient agg, doc-count agg, apply join); the weight table
    is a B-row aggregate broadcast back (bucket-bounded — the hint is
    justified, and the corpus side never shuffles for it); the only
    corpus-sized shuffles are the (doc, bucket) count aggregate, its
    doc-keyed sibling, and the apply's doc-keyed score aggregate
    (partial-agg collapses each to ~1 row/doc before the wire).
    Rounding discipline: weights at 6 dp, scores at 4 dp, argmax over
    ROUNDED scores with first-class-wins ties — engine-deterministic
    (see operators/quality_clf.py docstring)."""
    from arc_kinesis_tagging_spark.functions.text import tokens
    from arc_kinesis_tagging_spark.operators.quality_clf import clf_features

    C = len(_CLF_CLASSES)
    feats = clf_features(
        docs, "text", "doc_id", _CLF_B, extra_cols=("lang",)
    ).localCheckpoint(eager=True)  # 3 consumers, see docstring
    # per-class doc counts straight off the docs frame: a doc carries
    # features iff it has >= 1 token (every token is a unigram gram),
    # so this map-side scan + 1-row aggregate equals the former
    # distinct-over-features — which shuffled the full feature table
    # TWICE (the 1-row result is consumed by two crossJoins and the
    # plan enumerated the distinct per consumer; round-14 before-plan).
    # Pinned so the second crossJoin reads the materialized row.
    nd = docs.filter(F.size(tokens(F.col("text"))) > 0).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col("lang") == c).cast("long")).alias(f"n_{i}")
            for i, c in enumerate(_CLF_CLASSES)
        ],
    ).localCheckpoint(eager=True)
    w1 = (
        feats.groupBy("b")
        .agg(
            F.sum("x").alias("sx"),
            *[
                F.sum(
                    F.when(F.col("lang") == c, F.col("x")).otherwise(0.0)
                ).alias(f"sx_{i}")
                for i, c in enumerate(_CLF_CLASSES)
            ],
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "b",
            *[
                F.round(
                    F.lit(-_CLF_LR)
                    * (F.col("sx") / C - F.col(f"sx_{i}"))
                    / F.col("n"),
                    6,
                ).alias(f"w{i}")
                for i in range(C)
            ],
        )
    )
    sr = (
        feats.join(F.broadcast(w1), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.max("n_grams").alias("n_grams"),
            *[
                F.sum(F.col("x") * F.col(f"w{i}")).alias(f"sr{i}")
                for i in range(C)
            ],
        )
        .crossJoin(F.broadcast(nd))
    )
    r_cols = [
        F.round(
            F.col(f"sr{i}")
            + F.round(
                F.lit(-_CLF_LR)
                * (F.col("n") / C - F.col(f"n_{i}"))
                / F.col("n"),
                6,
            ),
            4,
        )
        for i in range(C)
    ]
    best = F.greatest(*r_cols)
    pred = F.lit(None).cast("string")
    for i in range(C - 1, -1, -1):  # reversed: FIRST class wins ties
        pred = F.when(r_cols[i] == best, F.lit(_CLF_CLASSES[i])).otherwise(pred)
    return sr.select(
        "doc_id", "lang", "n_grams",
        pred.alias("pred"), best.alias("score"),
        (pred == F.col("lang")).alias("correct"),
    )


def q_quality_clf_score(spark, sf_dir):
    """Supervised classifier, closed-form one-step train + apply (see
    _clf_onestep_scored). Empty-text docs carry no features and are
    absent (the empty-doc gate runs upstream, R16-style)."""
    return _clf_onestep_scored(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )


def q_quality_clf_train(spark, sf_dir):
    """Multi-epoch distributed GD (the REAL training loop:
    driver-held vocabulary-bounded weights, per-epoch broadcast join
    + two bounded aggregates over pinned features — see
    operators/quality_clf.py). Iterative -> rows-only; numpy
    gradient-parity and separable-corpus accuracy pinned in
    tests/test_quality_clf.py. Output is the flattened (b, label, w)
    weights artifact: (64 + 1 bias row) x 5 classes = 325 rows."""
    from arc_kinesis_tagging_spark.operators.quality_clf import (
        train_quality_classifier,
        weights_table,
    )

    d = _t(spark, sf_dir, "documents")
    model = train_quality_classifier(
        d, "text", "lang", n_buckets=64, epochs=3, lr=0.5
    )
    return weights_table(spark, model).orderBy("b", "label")


def q_corpus_pipeline13(spark, sf_dir):
    """Composite #13 — mislabel-scrub curation: exact dedup (keep
    lowest doc_id per md5 digest) -> supervised label-agreement gate
    (drop docs whose one-step-classifier prediction disagrees with
    the recorded label — the cleanlab-style mislabel scrub) ->
    per-lang curation report. The classifier trains ON THE SURVIVOR
    SET (post-dedup), so the oracle recomputes the whole closed form
    over exactly that set — proving the composition, not just the
    stages (the pipeline11/12 discipline)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).withColumn("dg", F.md5("text"))
    # pin: the digest-dedup aggregate feeds the survivor semi
    # join AND the dropped-count anti join (round 14)
    keep = d.groupBy("dg").agg(
        F.min("doc_id").alias("doc_id")
    ).localCheckpoint(eager=True)
    surv = d.join(keep.select("doc_id"), "doc_id", "left_semi")
    dropped = (
        d.join(keep.select("doc_id"), "doc_id", "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_dups_dropped"))
    )
    scored = _clf_onestep_scored(surv.select("doc_id", "lang", "text"))
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("correct").cast("long")).alias("n_kept"),
            F.round(
                F.avg(F.when(F.col("correct"), F.col("score"))), 3
            ).alias("avg_kept_score"),
        )
        .join(dropped, "lang", "left")
        .select(
            "lang", "n_docs", "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_scrubbed"),
            F.coalesce("n_dups_dropped", F.lit(0)).alias("n_dups_dropped"),
            "avg_kept_score",
        )
    )


def _clf_core_sql(src: str) -> str:
    """The closed-form classifier CTE chain over ``src`` (a relation
    with doc_id, lang, text) — mirrors _clf_onestep_scored
    operation-for-operation (same association order inside every
    float expression, same 6/4-dp rounding, same CASE-order
    tiebreak)."""
    C = len(_CLF_CLASSES)
    n_cases = ",\n           ".join(
        f"SUM(CASE WHEN lang = '{c}' THEN 1 ELSE 0 END) AS n_{i}"
        for i, c in enumerate(_CLF_CLASSES)
    )
    w_cols = ",\n           ".join(
        f"ROUND(-{_CLF_LR} * (SUM(x) / {C} - SUM(CASE WHEN lang = "
        f"'{c}' THEN x ELSE 0 END)) / nd.n, 6) AS w{i}"
        for i, c in enumerate(_CLF_CLASSES)
    )
    sr_cols = ",\n           ".join(
        f"SUM(f.x * w.w{i}) AS sr{i}" for i in range(C)
    )
    r_cols = ",\n           ".join(
        f"ROUND(sr.sr{i} + ROUND(-{_CLF_LR} * (nd.n / {C} - nd.n_{i})"
        f" / nd.n, 6), 4) AS r{i}"
        for i in range(C)
    )
    rlist = ", ".join(f"r{i}" for i in range(C))
    pred_case = "\n                ".join(
        f"WHEN r{i} = best THEN '{c}'"
        for i, c in enumerate(_CLF_CLASSES)
    )
    h64 = _DUCK_H64.format(expr="'qclf:' || g")
    return f"""
  clf_base AS (
    SELECT doc_id, lang,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
             AS toks
    FROM {src}
  ), clf_tok AS (
    SELECT doc_id, lang, generate_subscripts(toks, 1) AS pos,
           UNNEST(toks) AS t
    FROM clf_base
  ), clf_grams AS (
    SELECT doc_id, lang, t AS g FROM clf_tok
    UNION ALL
    SELECT a.doc_id, a.lang, a.t || ' ' || b.t AS g
    FROM clf_tok a JOIN clf_tok b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  ), clf_hb AS (
    SELECT doc_id, lang, {h64} % {_CLF_B} AS b FROM clf_grams
  ), clf_dm AS (
    SELECT doc_id, lang, b, COUNT(*) AS m
    FROM clf_hb GROUP BY doc_id, lang, b
  ), clf_sizes AS (
    SELECT doc_id, SUM(m) AS n_grams FROM clf_dm GROUP BY doc_id
  ), clf_feats AS (
    SELECT dm.doc_id, dm.lang, dm.b, s.n_grams,
           CAST(dm.m AS DOUBLE) / s.n_grams AS x
    FROM clf_dm dm JOIN clf_sizes s ON dm.doc_id = s.doc_id
  ), clf_docs AS (
    SELECT DISTINCT doc_id, lang FROM clf_feats
  ), nd AS (
    SELECT COUNT(*) AS n,
           {n_cases}
    FROM clf_docs
  ), w AS (
    SELECT b,
           {w_cols}
    FROM clf_feats CROSS JOIN nd GROUP BY b, nd.n
  ), sr AS (
    SELECT f.doc_id, f.lang, MAX(f.n_grams) AS n_grams,
           {sr_cols}
    FROM clf_feats f JOIN w ON f.b = w.b
    GROUP BY f.doc_id, f.lang
  ), sc AS (
    SELECT sr.doc_id, sr.lang, sr.n_grams,
           {r_cols}
    FROM sr CROSS JOIN nd
  ), clf_best AS (
    SELECT doc_id, lang, n_grams, {rlist},
           GREATEST({rlist}) AS best
    FROM sc
  ), clf_pred AS (
    SELECT doc_id, lang, n_grams, best,
           CASE {pred_case}
                END AS pred
    FROM clf_best
  )"""


ORACLE_QUALITY_CLF_SCORE = f"""
WITH {_clf_core_sql("documents")}
SELECT doc_id, lang, CAST(n_grams AS BIGINT) AS n_grams, pred,
       best AS score, pred = lang AS correct
FROM clf_pred
"""


ORACLE_CORPUS_PIPELINE13 = f"""
WITH dup AS (
    SELECT doc_id, lang, text, md5(text) AS dg FROM documents
  ), keep AS (
    SELECT MIN(doc_id) AS doc_id FROM dup GROUP BY dg
  ), surv AS (
    SELECT d.doc_id, d.lang, d.text
    FROM dup d JOIN keep k ON d.doc_id = k.doc_id
  ), dropped AS (
    SELECT lang, COUNT(*) AS n_dups_dropped
    FROM dup WHERE doc_id NOT IN (SELECT doc_id FROM keep)
    GROUP BY lang
  ),
  {_clf_core_sql("surv")},
  report AS (
    SELECT lang, COUNT(*) AS n_docs,
           SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS n_kept,
           ROUND(AVG(CASE WHEN pred = lang THEN best END), 3)
             AS avg_kept_score
    FROM clf_pred GROUP BY lang
  )
SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs,
       CAST(r.n_kept AS BIGINT) AS n_kept,
       CAST(r.n_docs - r.n_kept AS BIGINT) AS n_scrubbed,
       CAST(COALESCE(d.n_dups_dropped, 0) AS BIGINT) AS n_dups_dropped,
       r.avg_kept_score
FROM report r LEFT JOIN dropped d ON r.lang = d.lang
"""


QUALITY_QUERIES = [
    Query("q_quality_clf_score", q_quality_clf_score,
          ORACLE_QUALITY_CLF_SCORE),
    Query("q_quality_clf_train", q_quality_clf_train, None,
          "iterative multi-epoch GD (driver-held weights) -> "
          "rows-only; numpy gradient parity + separable-corpus "
          "accuracy pinned in tests/test_quality_clf.py"),
    Query("q_corpus_pipeline13", q_corpus_pipeline13,
          ORACLE_CORPUS_PIPELINE13),
    Query("q_dsir_score", q_dsir_score, ORACLE_DSIR_SCORE),
    Query("q_dsir_sample", q_dsir_sample, ORACLE_DSIR_SAMPLE),
    Query("q_lm_arpa", q_lm_arpa, None,
          "ARPA file round-trip quantizes probs at 7-dp log10 — "
          "hash-comparing 3-dp rounded bits across that boundary would "
          "be flaky by construction; gate parity at 1e-3 pinned in "
          "tests/test_arpa_export.py -> rows-only"),
    Query("q_corpus_pipeline4", q_corpus_pipeline4, ORACLE_CORPUS_PIPELINE4),
    Query("q_corpus_diff", q_corpus_diff, ORACLE_CORPUS_DIFF),
    Query("q_dedup_substring", q_dedup_substring, ORACLE_DEDUP_SUBSTRING),
    Query("q_dedup_substring_clip", q_dedup_substring_clip,
          ORACLE_DEDUP_SUBSTRING_CLIP),
    Query("q_dedup_prefix", q_dedup_prefix, ORACLE_DEDUP_PREFIX),
    Query("q_doc_minwise_sim", q_doc_minwise_sim, ORACLE_DOC_MINWISE_SIM),
    Query("q_ngram_lm_score", q_ngram_lm_score, ORACLE_NGRAM_LM_SCORE),
    Query("q_ngram_lm_pruned", q_ngram_lm_pruned, ORACLE_NGRAM_LM_PRUNED),
    Query("q_lm_buckets", q_lm_buckets, _lm_buckets_oracle()),
    Query("q_ts_ewma", q_ts_ewma, ORACLE_TS_EWMA),
    Query("q_text_html_strip", q_text_html_strip, _html_strip_oracle()),
    Query("q_corpus_pipeline5", q_corpus_pipeline5,
          _corpus_pipeline5_oracle().replace("{PREFIX}", ORACLE_DEDUP_PREFIX)),
    Query("q_bpe_subwords", q_bpe_subwords, ORACLE_BPE_SUBWORDS),
    Query("q_wordpiece_subwords", q_wordpiece_subwords,
          ORACLE_WORDPIECE_SUBWORDS),
    Query("q_unigram_subwords", q_unigram_subwords,
          ORACLE_UNIGRAM_SUBWORDS),
    Query("q_admission_gate", q_admission_gate, ORACLE_ADMISSION_GATE),
    Query("q_unigram_train", q_unigram_train, None,
          "iterative hard-EM vocabulary fit -> rows-only; reference "
          "parity + Viterbi optimality pinned in tests/test_unigram.py"),
    Query("q_unigram_encode", q_unigram_encode, None,
          "EM-trained vocab upstream -> rows-only; optimality and "
          "determinism pinned in tests/test_unigram.py"),
    Query("q_wordpiece_train", q_wordpiece_train, None,
          "iterative likelihood-merge loop -> rows-only; reference "
          "parity + partitioning independence pinned in "
          "tests/test_wordpiece.py"),
    Query("q_wordpiece_encode", q_wordpiece_encode, None,
          "trains the vocab upstream (iterative) -> rows-only; greedy "
          "maximal-munch + UNK semantics pinned in "
          "tests/test_wordpiece.py"),
    Query("q_bpe_encode", q_bpe_encode, None,
          "trains merges upstream (iterative) -> rows-only; train/apply "
          "self-consistency pinned in tests/test_quality_ops.py"),
    Query("q_bpe_train", q_bpe_train, None,
          "iterative merge learning is not SQL-expressible -> rows-only; "
          "exact reference parity in tests/test_quality_ops.py"),
    Query("q_corpus_pipeline3", q_corpus_pipeline3, ORACLE_CORPUS_PIPELINE3),
    Query("q_anomaly_zscore", q_anomaly_zscore, ORACLE_ANOMALY_ZSCORE),
    Query("q_graph_triangles", q_graph_triangles, ORACLE_GRAPH_TRIANGLES),
    Query("q_text_perplexity", q_text_perplexity, ORACLE_TEXT_PERPLEXITY),
    Query("q_session_stats", q_session_stats, ORACLE_SESSION_STATS),
    Query("q_text_entropy", q_text_entropy, ORACLE_TEXT_ENTROPY),
    Query("q_dedup_lines", q_dedup_lines, ORACLE_DEDUP_LINES),
    Query("q_cohort_retention", q_cohort_retention, ORACLE_COHORT_RETENTION),
    Query("q_heavy_hitters", q_heavy_hitters, ORACLE_HEAVY_HITTERS),
    Query("q_profile_columns", q_profile_columns, ORACLE_PROFILE_COLUMNS),
    Query("q_token_histogram", q_token_histogram, ORACLE_TOKEN_HISTOGRAM),
    Query("q_domain_balance", q_domain_balance, ORACLE_DOMAIN_BALANCE),
    Query("q_domain_balance_hash", q_domain_balance_hash, ORACLE_DOMAIN_BALANCE_HASH),
    Query("q_text_normalize", q_text_normalize, ORACLE_TEXT_NORMALIZE),
    Query("q_text_repetition", q_text_repetition, ORACLE_TEXT_REPETITION),
    Query("q_corpus_pipeline2", q_corpus_pipeline2, ORACLE_CORPUS_PIPELINE2),
    Query("q_doc_stats_sketch", q_doc_stats_sketch, ORACLE_DOC_STATS_SKETCH),
    Query("q_ts_gapfill", q_ts_gapfill, ORACLE_TS_GAPFILL),
    Query("q_events_funnel", q_events_funnel, ORACLE_EVENTS_FUNNEL),
    Query("q_events_funnel_k", q_events_funnel_k, ORACLE_EVENTS_FUNNEL_K),
    Query("q_graph_pagerank", q_graph_pagerank, None,
          "iterative power iteration is not SQL-expressible -> rows-only; "
          "numpy-model parity asserted in tests/test_graph.py"),
    Query("q_corpus_pipeline", q_corpus_pipeline, ORACLE_CORPUS_PIPELINE),
]
