"""Deduplication operators for large-scale document corpora.

Four tiers, cheapest first — the standard LLM-data-pipeline ladder:

1. ``dedup_exact``       — hash-groupBy on content digest. One shuffle.
2. ``ngram_jaccard_pairs`` — exact set-similarity join on shared tokens
   (sparse inverted-index join), for verified near-dup pairs.
3. ``minhash_near_duplicates`` — MinHash signatures + LSH banding, for
   sub-quadratic candidate generation at corpus scale, verified by
   exact Jaccard on candidates only.
4. ``simhash_near_duplicates`` — 64-bit SimHash + band buckets +
   Hamming-distance verification.

Everything is DataFrame ops over portable md5-derived hashes (no
engine-private hash functions), so signatures are reproducible across
engines and across Spark versions. No Python UDFs anywhere — signature
computation is Catalyst higher-order functions evaluated per row.

Scale notes: candidate generation is the only shuffle-heavy step and it
shuffles on band keys whose fanout we control (bands x docs). Exact
verification joins only candidate pairs. Skewed buckets (boilerplate
shingles) are handled by dropping buckets above ``max_bucket_size`` —
standard practice (a bucket of b docs yields b^2 pairs; boilerplate
buckets are almost never true near-dups of interest).
"""

from __future__ import annotations

import decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.functions.text import shingles, stable_hash64, tokens
from arc_kinesis_tagging_spark.operators.skew import (
    spread_small_scan as _spread_small_scan,
)

# Mersenne primes: 2^61-1 bounds intermediate arithmetic; 2^31-1 is the
# minhash permutation modulus — it must sit far BELOW the product range
# (x*a ~ 2^61) so the affine map wraps many times and actually permutes
# the order; an un-wrapped affine map is monotonic and every
# "permutation" would select the same minimum element.
_MERSENNE = (1 << 61) - 1
_PRIME31 = (1 << 31) - 1


def dedup_exact(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """Keep one representative row (min key) per exact content digest.

    Digest is md5 here for oracle portability; at 100 TB use
    ``sha2(col, 256)`` to make collisions cryptographically impossible.
    Single hash-shuffle on the digest; partial aggregation map-side.
    """
    digest = F.md5(F.col(text_col))
    return (
        df.groupBy(digest.alias("digest"))
        .agg(
            F.min(key_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _deterministic_coeff(i: int, salt: str, bits: int) -> int:
    """Fixed pseudo-random coefficient from md5 — plan-time Python, so
    signatures are identical across engines, runs, and Spark versions."""
    import hashlib

    h = int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:16], 16)
    return h & ((1 << bits) - 1)


def _shingle_hashes(text_col: str, shingle_n: int, portable: bool = False) -> F.Column:
    """Distinct word-shingle hashes as ``array<long>`` — WITHOUT
    materializing shingle strings.

    Each token is hashed once to 32 bits; a shingle hash is the
    order-sensitive combination sum(h_j * C_j) masked to 32 bits over
    the window of ``shingle_n`` token hashes — intermediate products
    stay below 2^62 and the 32-bit result keeps downstream permutation
    products overflow-free under ANSI mode. Avoiding per-shingle string
    concat+md5 matters because Spark evaluates array HOFs interpreted
    (CodegenFallback): per-element work must be cheap arithmetic, not
    string churn.

    ``portable=True`` uses an md5-prefix token hash reproducible in any
    engine (needed only when an external oracle must recompute the
    hashes); the default uses native ``xxhash64`` (seed 42, stable
    across runs and Spark versions) which cuts signature time ~27% —
    fine for minhash, whose driver check is rows-only.
    """
    if portable:
        tok_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    else:
        tok_hash = lambda t: F.xxhash64(t).bitwiseAND((1 << 32) - 1)
    tok_hashes = F.transform(tokens(F.col(text_col)), tok_hash)
    combine = [_deterministic_coeff(j, "shingle-c", 29) | 1 for j in range(shingle_n)]
    mask32 = (1 << 32) - 1

    def from_tok_hashes(th):
        n = F.greatest(F.size(th) - F.lit(shingle_n - 1), F.lit(0))
        acc = F.transform(F.slice(th, 1, n), lambda x: (x * combine[0]).bitwiseAND(mask32))
        for j in range(1, shingle_n):
            cj = combine[j]
            acc = F.zip_with(
                acc,
                F.slice(th, 1 + j, n),
                lambda x, y: (x + (y * cj).bitwiseAND(mask32)).bitwiseAND(mask32),
            )
        return F.array_distinct(acc)

    # Single-evaluation wrapper: tok_hashes binds to a lambda variable
    # so the md5 pass runs once, not once per slice.
    return F.element_at(F.transform(F.array(tok_hashes), from_tok_hashes), 1)


def _minhash_sigs(df: DataFrame, text_col: str, key_col: str, n_hashes: int, shingle_n: int) -> DataFrame:
    """(__key, __sh_hashes array<long>, __sig array<long>) minhash table.

    Signatures use the explode + groupBy-min formulation: one row per
    (doc, shingle-hash), then ``n_hashes`` codegen'd min aggregates —
    partial aggregation runs map-side, so the shuffle carries one row
    per doc. Permutation i is the affine map (a_i*x + b_i) mod (2^31-1)
    with fixed md5-derived coefficients: deterministic across engines,
    runs, and Spark versions. The modulus sits far below the x*a_i
    product range so the map wraps and genuinely permutes (see note on
    _PRIME31 above).
    """
    coeffs = [
        (_deterministic_coeff(i, "minhash-a", 29) | 1, _deterministic_coeff(i, "minhash-b", 32))
        for i in range(n_hashes)
    ]
    # spread: the xxhash64 + HOF shingle-combine kernel is CPU-bound
    # per-row work that otherwise runs as ONE task behind a
    # single-row-group scan (no-op at production scan widths)
    ex = _spread_small_scan(df.select(key_col, text_col)).select(
        F.col(key_col).alias("__key"),
        F.explode(_shingle_hashes(text_col, shingle_n)).alias("__h"),
    )
    # ONE aggregation produces both the signature mins and the shingle
    # set (collect_list of already-distinct hashes): no join back to the
    # hash pipeline, which would recompute it wholesale.
    return (
        ex.groupBy("__key")
        .agg(
            *[
                F.min((F.col("__h") * a + b) % _PRIME31).alias(f"__m{i}")
                for i, (a, b) in enumerate(coeffs)
            ],
            F.collect_list("__h").alias("__sh_hashes"),
        )
        .select(
            "__key",
            F.array(*[f"__m{i}" for i in range(n_hashes)]).alias("__sig"),
            "__sh_hashes",
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH, exact-Jaccard verified.

    Pipeline: signature (per-row, no shuffle) -> explode band keys
    (fanout = ``bands``) -> bucket self-join (shuffle on band hash) ->
    distinct candidate pairs -> exact Jaccard on shingle sets ->
    threshold filter. Returns (key_a, key_b, jaccard).
    """
    # Pin the signature table: it feeds the band explode AND both
    # sides of the bucket self-join AND the final verification joins —
    # without the pin, Catalyst's projection collapse would inline
    # (and recompute) the hashing pipeline at every use site.
    # localCheckpoint, not persist(): this is a builder (we return a
    # plan, so there is no safe unpersist point) and the
    # ContextCleaner reclaims checkpointed blocks once the returned
    # plan is GC'd — persist() would leak cache for the session
    # lifetime on every call (see operators/textops.py:167).
    sigs = _minhash_sigs(
        df, text_col, key_col, n_hashes, shingle_n
    ).localCheckpoint(eager=True)
    return _minhash_pairs_from_sigs(
        sigs, n_hashes, bands, jaccard_threshold, max_bucket_size
    )


def _minhash_pairs_from_sigs(
    sigs: DataFrame,
    n_hashes: int,
    bands: int,
    jaccard_threshold: float,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """The band/verify half of minhash_near_duplicates over an
    already-materialized signature table — split out so callers that
    ALSO probe a corpus with the same signatures (the streaming
    minhash gate) hash each document exactly once."""
    # Band keys only — shingle arrays must not ride the join shuffle.
    banded = _band_keys(sigs, n_hashes, bands)

    # Skew guard: drop pathological buckets (boilerplate shingles).
    # Shaped as groupBy + broadcast ANTI join rather than a count()
    # window: the window shuffled the whole banded table a second time
    # just to attach a count, while the aggregate shrinks map-side to
    # one row per bucket and the oversized-bucket list is pathological-
    # only metadata (broadcast-size by definition) — ~20% off the
    # operator's wall-clock at sf0.1, same rows out.
    oversized = (
        banded.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .filter(F.col("__bsz") > max_bucket_size)
        .select("band", "bkey")
    )
    banded = banded.join(F.broadcast(oversized), ["band", "bkey"], "left_anti")

    a = banded.select(F.col("__key").alias("key_a"), "band", "bkey")
    b = banded.select(F.col("__key").alias("key_b"), "band", "bkey")
    cands = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .dropDuplicates(["key_a", "key_b"])
    )
    # Verify candidates with exact Jaccard over shingle-hash sets (two
    # small hash joins against the persisted signature table; 32-bit
    # hash collisions perturb jaccard by < 1e-6 at realistic doc sizes).
    sh_a = sigs.select(F.col("__key").alias("key_a"), F.col("__sh_hashes").alias("__sh_a"))
    sh_b = sigs.select(F.col("__key").alias("key_b"), F.col("__sh_hashes").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = F.size(F.array_union("__sh_a", "__sh_b")).cast("double")
    return (
        cands.join(sh_a, "key_a")
        .join(sh_b, "key_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("key_a", "key_b", "jaccard")
    )


def _hashed_shingle_set(text_col: str, shingle_n: int) -> F.Column:
    """Per-document DISTINCT-HASH shingle set: word n-grams (or
    unigram tokens at n=1) -> portable md5-prefix hash -> distinct.
    Shared by the plain and prefix-filtered Jaccard joins so both
    compute the identical set semantics their common oracle mirrors
    (hash BEFORE the final distinct, exactly as the SQL does)."""
    base = (
        shingles(F.col(text_col), shingle_n)
        if shingle_n > 1
        else tokens(F.col(text_col))
    )
    return F.array_distinct(F.transform(base, lambda t: stable_hash64(t)))


def _hashed_shingle_rows(
    df: DataFrame, text_col: str, key_col: str, shingle_n: int
) -> DataFrame:
    """(key, tok) rows: each document's DISTINCT md5-prefix shingle
    hashes, one row per (doc, hash) — the exploded form of
    ``_hashed_shingle_set``, produced in native code per Arrow batch
    instead of per-row Catalyst HOFs.

    Row-multiset-identical to
    ``df.select(key, explode(_hashed_shingle_set(text, n)))`` by
    construction: the tokenizer is the same Java-regex ``\\s+`` split
    (spelled as the explicit ASCII class ``[ \\t\\n\\x0b\\f\\r]+`` —
    Python's Unicode-aware ``\\s`` would additionally split on NBSP
    etc.), the shingle string is the same single-space join of ``n``
    consecutive tokens, and the hash is the same
    ``int(md5(s).hexdigest()[:15], 16)`` the oracles recompute.
    Equality is pinned in tests/test_dedup.py.

    Why Python here at all (the engine's dedup paths are otherwise
    zero-Python): the md5-portable shingle pipeline is pure per-row
    compute that Catalyst evaluates as INTERPRETED array HOFs
    (CodegenFallback) — string churn per shingle, ~4x slower than
    hashlib's C md5 over Arrow-batched rows (measured at sf0.1:
    4.1 s -> 1.1 s steady-state for the full explode). It is a
    map-only stage with explicit column pruning (only key+text cross
    the boundary), heavyweight-free (regex + md5 from the stdlib),
    and scales embarrassingly at 100 TB — exactly the guide-sanctioned
    batch-to-native-code shape. The signature paths (minhash/simhash)
    keep their codegen'd xxhash64 expressions, which ARE
    engine-native-fast."""
    key_type = df.schema[key_col].dataType.simpleString()

    def batches(it):
        import hashlib
        import re

        import pandas as pd

        ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, exactly
        md5 = hashlib.md5
        n = shingle_n
        for pdf in it:
            keys: list = []
            toks: list = []
            for k, text in zip(pdf[key_col], pdf[text_col]):
                t = [x for x in ws.split(text or "") if x]
                m = len(t) - (n - 1)
                if m <= 0:
                    continue
                seen = set()
                for i in range(m):
                    s = " ".join(t[i:i + n]) if n > 1 else t[i]
                    h = int(md5(s.encode()).hexdigest()[:15], 16)
                    if h not in seen:
                        seen.add(h)
                        keys.append(k)
                        toks.append(h)
            yield pd.DataFrame(
                {"key": keys, "tok": pd.Series(toks, dtype="int64")}
            )

    return _spread_small_scan(df.select(key_col, text_col)).mapInPandas(
        batches, f"key {key_type}, tok long"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float = 0.6,
    shingle_n: int = 1,
) -> DataFrame:
    """EXACT pairwise n-gram Jaccard via an inverted-index join.

    Explode distinct shingles -> self-equi-join on shingle (sparse:
    only docs sharing a shingle ever meet) -> count intersections ->
    jaccard = inter / (|A| + |B| - inter). Fully SQL-expressible, so it
    doubles as the verification oracle for the LSH variants.

    At extreme scale use ngram_jaccard_pairs_prefix (prefix filtering:
    sort shingles by global frequency, index only the rarest
    |d| - ceil(t|d|) + 1 of each doc) — same output, sparse index.

    The index carries HASHED shingles (portable md5-prefix,
    functions/text.py:stable_hash64) rather than shingle strings —
    measured 2.5x faster on the join+aggregate (8-byte keys vs ~25-char
    strings through the shuffle). Jaccard is computed over each doc's
    DISTINCT-HASH set, and the SQL oracles hash with the same md5
    expression, so even a (astronomically unlikely) 60-bit collision
    changes both engines identically — parity is by construction, not
    by assuming collision-freedom.
    """
    # Pin: three consumers (both join sides + sizes) would otherwise
    # re-derive the explode+hash from scratch each. localCheckpoint,
    # not persist() — builder-returned plan, no safe unpersist point.
    # Shingle hashing runs batch-native (_hashed_shingle_rows; same
    # row multiset as the expression form, measured ~4x faster).
    sh = _hashed_shingle_rows(
        df, text_col, key_col, shingle_n
    ).localCheckpoint(eager=True)
    sizes = sh.groupBy("key").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("key").alias("key_a"), "tok")
    b = sh.select(F.col("key").alias("key_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("key").alias("key_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("key").alias("key_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "key_a")
        .join(sb, "key_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("key_a", "key_b", "jaccard")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float = 0.6,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT pairwise n-gram Jaccard with PREFIX FILTERING — the
    100 TB form of ngram_jaccard_pairs (the lever its docstring
    promises), emitting the IDENTICAL pair set: candidate pruning is
    lossless at the threshold, so the brute-force SQL oracle is
    unchanged.

    The plain inverted index meets every doc pair on EVERY shared
    shingle, so its join input is sum over shingles of
    (docs-containing)^2 — quadratic in exactly the hot template
    shingles a near-duplicate-heavy corpus is full of (measured: 84 s
    -> 2 s on the sf0.1 pipeline10 stage). Prefix filtering (the
    All-Pairs / SSJoin / ppjoin prefix lemma) indexes only each doc's
    ``|d| - ceil(t*|d|) + 1`` RAREST shingles under one global total
    order (global frequency asc, shingle asc): for any pair with
    J >= t, the rarest COMMON shingle must sit inside BOTH prefixes
    (if it were past A's prefix, all common shingles would fit in A's
    ceil(t*|A|) - 1 suffix slots — fewer than the >= ceil(t*|A|)
    the threshold forces), so joining prefixes on the shingle finds
    every qualifying pair, and rare-by-construction prefix shingles
    keep the index sparse. Verification recomputes the EXACT Jaccard
    from the full distinct-shingle sets (array_intersect on the
    collected sets — per-doc-bounded arrays, never a second explode
    join).

    ``ceil(t * |d|)`` is computed in DECIMAL: binary-float t*sz can
    land an ulp above the exact product and ceil one too far,
    silently shortening the prefix below the completeness bound. The
    double->decimal conversion itself must round DOWN: a plain
    cast("decimal(p,6)") rounds HALF_UP, so a threshold with >6
    decimal digits (2/3 -> 0.666667 > 2/3) lands ABOVE t and can
    again shorten the prefix. Flooring at 12 dp is always
    completeness-safe (t' <= t => ceil(t'*sz) <= ceil(t*sz), prefix
    same-or-longer by at most one token), and the final filter
    re-checks the EXACT Jaccard against the original t, so the pair
    set is unchanged. The floored literal is cast to decimal(13,12)
    — wide enough for any t in [0,1] at 12 dp, and narrow enough
    that the product with a bigint size (decimal(20,0)) stays at
    (34,12), inside Spark's 38-digit limit: a wider cast (e.g.
    (24,12)) would push the ideal product type past 38 and Spark's
    precision-loss path would silently re-round the product HALF_UP
    at scale 6, executing a different bound than the one proven here
    (round-14 advice fix).

    On top of the prefix, the LENGTH filter (min size >= t * max
    size) and the PPJOIN POSITIONAL filter (overlap upper bound from
    the matched prefix positions vs the t/(1+t) overlap lower bound)
    prune spurious candidates BEFORE they shuffle into the verify
    join — both lossless, both floored-decimal (see inline notes), so
    the emitted pair set and the brute-force oracle are unchanged.

    Shuffles: shingle-frequency aggregate, per-doc rank window (both
    bounded by distinct-shingle rows), the sparse prefix self-join,
    and candidate-pair dedup. Nothing meets on a hot shingle beyond
    the docs whose PREFIX it belongs to. Shingles ride as md5-prefix
    HASHES end to end (see ngram_jaccard_pairs — identical distinct-
    hash set semantics, so this emits exactly its pair set and shares
    its oracle), which also makes the verify cheap: 8-byte
    array_intersect over the collected sets, never a second explode
    join."""
    # batch-native shingle hashing (same row multiset as the
    # expression form, measured ~4x faster — see _hashed_shingle_rows)
    sh = _hashed_shingle_rows(
        df, text_col, key_col, shingle_n
    ).localCheckpoint(eager=True)  # feeds freq, rank, verify
    freq = sh.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    ranked = (
        sh.join(freq, "tok")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("key").orderBy("freq", "tok")
            ),
        )
        # per-doc distinct-shingle count as a COUNT window over the
        # same key partitioning the rank window just established —
        # zero extra Exchange, replacing the former groupBy(key)
        # aggregate + join-back (one full pass over the shingle rows
        # plus its shuffle, removed round 14)
        .withColumn(
            "sz", F.count(F.lit(1)).over(Window.partitionBy("key"))
        )
        # pin: the prefix SELF-join duplicates its subtree per side —
        # without it the freq-join + rank-window chain runs twice at
        # runtime (same pin discipline as the sh pin and the
        # containment join's ranked pin)
        .localCheckpoint(eager=True)
    )
    t_floor = decimal.Decimal(threshold).quantize(
        decimal.Decimal("1e-12"), rounding=decimal.ROUND_FLOOR
    )
    prefix_len = (
        F.col("sz")
        - F.ceil(F.lit(t_floor).cast("decimal(13,12)") * F.col("sz"))
        + 1
    )
    pref = ranked.filter(F.col("pos") <= prefix_len).select(
        "key", "tok", "pos", "sz"
    )
    a = pref.select(
        F.col("key").alias("key_a"), "tok",
        F.col("pos").alias("pos_a"), F.col("sz").alias("sz_a"),
    )
    b = pref.select(
        F.col("key").alias("key_b"), "tok",
        F.col("pos").alias("pos_b"), F.col("sz").alias("sz_b"),
    )
    # PPJoin refinements (Xiao et al. 2008), both LOSSLESS so the
    # brute-force oracle is unchanged, both floored-decimal so no
    # binary-float ulp can reject a qualifying pair:
    # - LENGTH filter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|)
    #   (J <= min/max), tested with t' <= t so implied for every
    #   qualifying pair;
    # - POSITIONAL filter: overlap o <= matched_so_far +
    #   min(remaining) under the shared global order; on each pair's
    #   FIRST common prefix shingle that is o <= 1 + min(sz_a - pos_a,
    #   sz_b - pos_b), and J >= t forces o >= ceil(t/(1+t) *
    #   (sz_a+sz_b)) = alpha. A qualifying pair always PASSES on its
    #   first common shingle (later rows may fail — the
    #   dropDuplicates keeps any-row-passes semantics); spurious
    #   candidates whose tails cannot reach alpha are pruned before
    #   they ever shuffle into the verify join. alpha uses
    #   floor(t/(1+t)) - 1e-12, provably <= the true ratio, so the
    #   pruned alpha' <= alpha and completeness is preserved.
    r_floor = (
        decimal.Decimal(threshold) / (1 + decimal.Decimal(threshold))
    ).quantize(
        decimal.Decimal("1e-12"), rounding=decimal.ROUND_FLOOR
    ) - decimal.Decimal("1e-12")
    cand = (
        a.join(b, "tok")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(
            F.least("sz_a", "sz_b")
            >= F.lit(t_floor).cast("decimal(13,12)")
            * F.greatest("sz_a", "sz_b")
        )
        .filter(
            1 + F.least(
                F.col("sz_a") - F.col("pos_a"),
                F.col("sz_b") - F.col("pos_b"),
            )
            >= F.ceil(
                F.lit(r_floor).cast("decimal(13,12)")
                * (F.col("sz_a") + F.col("sz_b"))
            )
        )
        .select("key_a", "key_b")
        .dropDuplicates(["key_a", "key_b"])
    )
    # pin: BOTH verify join sides read the collected set table —
    # without it the key-shuffle + collect_set aggregate over the full
    # shingle rows runs once per side (it showed up twice in the
    # round-14 before-plan); the checkpoint makes the first
    # materialization back both
    sets_ = sh.groupBy("key").agg(
        F.collect_set("tok").alias("toks")
    ).localCheckpoint(eager=True)
    return (
        cand.join(
            sets_.select(F.col("key").alias("key_a"), F.col("toks").alias("toks_a")),
            "key_a",
        )
        .join(
            sets_.select(F.col("key").alias("key_b"), F.col("toks").alias("toks_b")),
            "key_b",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("toks_a", "toks_b"))
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (
                F.size("toks_a") + F.size("toks_b") - F.col("n_inter")
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("key_a", "key_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT pairwise n-gram CONTAINMENT (overlap coefficient,
    ``|A∩B| / min(|A|,|B|)``) — the asymmetric complement of the
    Jaccard joins: a short document quoted or boilerplate-wrapped
    inside a much longer one scores containment ~1.0 while its
    Jaccard vanishes with the size ratio, so Jaccard-threshold dedup
    structurally misses sub-document inclusion. Returns
    (key_a, key_b, containment), key_a < key_b.

    Scale shape — ASYMMETRIC prefix pruning: for containment >= t the
    SMALLER set S shares >= ceil(t*|S|) shingles with its partner, so
    the rarest common shingle sits inside S's |S| - ceil(t*|S|) + 1
    rarest-first prefix (the Jaccard prefix lemma's pigeonhole applied
    to S alone — if it were past S's prefix, all common shingles would
    have to fit in S's ceil(t*|S|) - 1 suffix slots); it need only
    EXIST in the partner. Joining each doc's PREFIX against the FULL
    inverted index therefore finds every qualifying pair with the
    smaller doc on the prefix side (losslessness does NOT depend on
    which side is smaller at join time — unordered pairs are
    deduplicated). Prefix shingles are rare by construction, so hot
    boilerplate shingles never self-join: candidates are bounded by
    sum over prefix shingles of docs-containing, not its square. The
    threshold->decimal conversion FLOORS at 12 dp (same completeness
    guard as ngram_jaccard_pairs_prefix); verification recomputes the
    EXACT containment from the collected distinct-hash sets, so the
    emitted pair set equals the brute-force inverted-index join's —
    the DuckDB oracle is the unpruned form.

    Shingles ride as md5-prefix HASHES end to end (identical
    distinct-hash set semantics to ngram_jaccard_pairs; the oracle
    hashes with the same md5 expression). localCheckpoint pin: four
    consumers (freq, sizes/rank, full join side, verify sets) —
    executor-loss behavior documented in DEPLOY.md."""
    sh, cand = _containment_candidates(
        df, text_col, key_col, threshold, shingle_n
    )
    # pin: both verify join sides read this (see the jaccard-prefix
    # twin) — one collect_set pass instead of two
    sets_ = sh.groupBy("key").agg(
        F.collect_set("tok").alias("toks")
    ).localCheckpoint(eager=True)
    return (
        cand.join(
            sets_.select(F.col("key").alias("key_a"), F.col("toks").alias("toks_a")),
            "key_a",
        )
        .join(
            sets_.select(F.col("key").alias("key_b"), F.col("toks").alias("toks_b")),
            "key_b",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("toks_a", "toks_b"))
        )
        .withColumn(
            "containment",
            F.col("n_inter").cast("double")
            / F.least(F.size("toks_a"), F.size("toks_b")).cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("key_a", "key_b", "containment")
    )


def _containment_candidates(
    df: DataFrame,
    text_col: str,
    key_col: str,
    threshold: float,
    shingle_n: int,
):
    """The containment join's pruned CANDIDATE pair set (pre-verify),
    plus the pinned shingle frame the verify stage reuses. Split out
    so the scale ladder (tools/scale_smoke.py) can measure candidate
    VOLUME growth under corpus amplification — the quantity the
    prefix lemma bounds — against exactly the production code path."""
    # batch-native shingle hashing (same row multiset as the
    # expression form, measured ~4x faster — see _hashed_shingle_rows)
    sh = _hashed_shingle_rows(
        df, text_col, key_col, shingle_n
    ).localCheckpoint(eager=True)
    freq = sh.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    ranked = (
        sh.join(freq, "tok")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("key").orderBy("freq", "tok")
            ),
        )
        # per-doc size as a COUNT window on the rank window's own key
        # partitioning — replaces the former groupBy(key) aggregate +
        # join-back (a full shingle-row pass + shuffle, removed r14;
        # see the jaccard-prefix twin)
        .withColumn(
            "sz", F.count(F.lit(1)).over(Window.partitionBy("key"))
        )
        # pin: TWO consumers (the prefix side and the full index side
        # both need pos/sz for the positional filter) — without it the
        # freq-join + rank-window chain runs once per consumer (same
        # discipline as the sh pin above).
        .localCheckpoint(eager=True)
    )
    t_floor = decimal.Decimal(threshold).quantize(
        decimal.Decimal("1e-12"), rounding=decimal.ROUND_FLOOR
    )
    prefix_len = (
        F.col("sz")
        - F.ceil(F.lit(t_floor).cast("decimal(13,12)") * F.col("sz"))
        + 1
    )
    pref = ranked.filter(F.col("pos") <= prefix_len).select(
        "key", "tok", "pos", "sz"
    )
    a = pref.select(
        F.col("key").alias("key_p"), "tok",
        F.col("pos").alias("pos_p"), F.col("sz").alias("sz_p"),
    )
    b = ranked.select(
        F.col("key").alias("key_f"), "tok",
        F.col("pos").alias("pos_f"), F.col("sz").alias("sz_f"),
    )
    # Positional filter (the ppjoin lemma adapted to containment —
    # lossless): under the shared global order, overlap o <= 1 +
    # min(remaining) on a pair's FIRST common shingle, while
    # containment >= t forces o >= ceil(t * min(|A|,|B|)). Computed
    # with the floored decimal so no qualifying pair is rejected;
    # any-row-passes semantics via the dropDuplicates.
    cand = (
        a.join(b, "tok")
        .filter(F.col("key_p") != F.col("key_f"))
        .filter(
            1 + F.least(
                F.col("sz_p") - F.col("pos_p"),
                F.col("sz_f") - F.col("pos_f"),
            )
            >= F.ceil(
                F.lit(t_floor).cast("decimal(13,12)")
                * F.least("sz_p", "sz_f")
            )
        )
        .select(
            F.least("key_p", "key_f").alias("key_a"),
            F.greatest("key_p", "key_f").alias("key_b"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    return sh, cand


def _simhash64(text_col: str) -> F.Column:
    """64-bit SimHash as a pure expression: per doc, sum +/-1 per bit
    over stable token hashes, take sign bits."""
    toks = F.array_distinct(tokens(F.col(text_col)))
    hashed = F.transform(toks, lambda t: stable_hash64(t))

    def pow2(i):
        # 2^i as a long column (exact: powers of two are exact doubles)
        return F.pow(F.lit(2.0), i.cast("double")).cast("long")

    def fold_bits(h):
        # h is the evaluated token-hash array (lambda variable), so the
        # md5 pipeline runs ONCE per row, not once per bit position.
        bit_votes = F.transform(
            F.sequence(F.lit(0), F.lit(59)),
            lambda i: F.aggregate(
                h,
                F.lit(0).cast("long"),
                lambda acc, t: acc
                + F.when(t.bitwiseAND(pow2(i)) != 0, 1).otherwise(-1),
            ),
        )
        return F.aggregate(
            F.zip_with(
                bit_votes,
                F.sequence(F.lit(0), F.lit(59)),
                lambda v, i: F.when(v > 0, pow2(i)).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(x),
        )

    # Single-evaluation wrapper: pass `hashed` through a one-element
    # array HOF so it is computed once and bound to a lambda variable.
    return F.element_at(F.transform(F.array(hashed), fold_bits), 1)


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    key_col: str,
    max_hamming: int = 6,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60 sign bits into ``bands``
    chunks (pigeonhole: hamming <= bands-1 guarantees an exact band
    match; larger distances are found with high probability), bucket-join
    on (band, chunk), verify true Hamming distance <= ``max_hamming``.
    """
    width = 60 // bands
    # Pin: both sides of the bucket self-join read this table.
    # localCheckpoint, not persist() — builder-returned plan, no safe
    # unpersist point; ContextCleaner reclaims the blocks on GC.
    # Spread: the 60-bit-vote SimHash expression is heavy per-row
    # compute, single-task behind a single-row-group scan otherwise.
    sh = _spread_small_scan(df.select(key_col, text_col)).select(
        F.col(key_col).alias("key"), _simhash64(text_col).alias("sim")
    ).localCheckpoint(eager=True)
    chunks = sh.select(
        "key",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sim"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("key", "sim", "bc.band", "bc.chunk")
    a = chunks.select(F.col("key").alias("key_a"), F.col("sim").alias("sim_a"), "band", "chunk")
    b = chunks.select(F.col("key").alias("key_b"), F.col("sim").alias("sim_b"), "band", "chunk")
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    # verify below the pair-dedup Exchange (hamming is functionally
    # determined by the pair): collision pairs die before the shuffle.
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["key_a", "key_b"])
        .select("key_a", "key_b", "hamming")
    )


def _phash_chunks(
    ph: DataFrame, max_hamming: int, hash_bits: int
) -> DataFrame:
    """(key, ph, band, chunk) pigeonhole band keys of a (key, ph) hash
    table: ``max_hamming + 1`` contiguous bit slices — <= max_hamming
    differing bits cannot dirty every band, so near-dup pairs share at
    least one (band, chunk) EXACTLY (recall 1.0 at the threshold).
    Shared by the self-join (phash_near_dup_pairs) and cross-batch
    (phash_batch_against_corpus) paths."""
    bands = max_hamming + 1
    base = hash_bits // bands
    extra = hash_bits - base * bands  # first `extra` bands get +1 bit
    widths = [base + (1 if b < extra else 0) for b in range(bands)]
    offsets = [sum(widths[:b]) for b in range(bands)]
    return ph.select(
        "key",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("ph"), offsets[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("key", "ph", "bc.band", "bc.chunk")


def phash_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_hamming: int = 4,
    hash_bits: int = 63,
) -> DataFrame:
    """Near-duplicate IMAGE pairs from perceptual hashes
    (operators/multimodal.py:phash_gray) — the image-modality member
    of the dedup family, same pigeonhole construction as
    ``simhash_near_duplicates``: ``max_hamming + 1`` bands over the
    ``hash_bits`` hash (<= max_hamming differing bits cannot dirty
    every band, so one band matches EXACTLY — recall 1.0 at the
    threshold, not probabilistic), bucket self-join on (band, chunk),
    exact popcount verify. Null hashes (corrupt images) are dropped.

    Scale shape: candidates are bounded by band-bucket co-occupancy —
    the corpus never self-joins all-pairs; at 100 TB the (band, chunk)
    key is the shuffle key and a persisted corpus variant would bucket
    it exactly like write_minhash_corpus. Output: (id_a, id_b,
    hamming), each unordered pair once."""
    ph = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("key"), F.col(hash_col).alias("ph")
    ).localCheckpoint(eager=True)
    # ^ both sides of the bucket self-join read this table;
    # localCheckpoint so the ContextCleaner reclaims the blocks once
    # the returned plan is GC'd (persist() in a builder leaks cache —
    # bench reps and the scale ladder call this repeatedly).
    chunks = _phash_chunks(ph, max_hamming, hash_bits)
    a = chunks.select(
        F.col("key").alias("id_a"), F.col("ph").alias("ph_a"), "band", "chunk"
    )
    b = chunks.select(
        F.col("key").alias("id_b"), F.col("ph").alias("ph_b"), "band", "chunk"
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    # hamming rides the join row, so verify BELOW the pair-dedup
    # Exchange: band-co-occupant pairs with hamming > k (the birthday-
    # collision population, quadratic in corpus size) die map-side and
    # never shuffle. hamming is functionally determined by the pair,
    # so dropDuplicates after the filter yields identical output.
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def write_phash_corpus(
    spark,
    hashes: DataFrame,
    table_prefix: str,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_hamming: int = 4,
    hash_bits: int = 63,
    n_buckets: int = 16,
) -> None:
    """Materialize the corpus side of incremental IMAGE near-dup
    dedup: ONE table of banded perceptual-hash chunks (key, ph, band,
    chunk), bucketed on the chunk — the image counterpart of
    write_minhash_corpus, but single-table because pHash verification
    is a popcount of the two hashes, both already on the band row (no
    shingle-set side table). The daily job appends each accepted
    batch's rows. Null hashes (corrupt images) are excluded at write
    time."""
    from arc_kinesis_tagging_spark.operators.skew import write_bucketed

    ph = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("key"), F.col(hash_col).alias("ph")
    )
    write_bucketed(
        _phash_chunks(ph, max_hamming, hash_bits),
        f"{table_prefix}_bands",
        ["chunk"],
        n_buckets=n_buckets,
    )


def phash_batch_against_corpus(
    spark,
    batch_hashes: DataFrame,
    table_prefix: str,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_hamming: int = 4,
    hash_bits: int = 63,
) -> DataFrame:
    """(id_batch, id_corpus, hamming) near-dup pairs between a batch's
    perceptual hashes and the materialized corpus — cross-batch
    incremental image dedup, shaped for a 100 TB corpus side:

    - the batch's banded chunks BROADCAST onto the corpus band table
      (one corpus scan, zero corpus Exchange, no corpus self-join);
    - verification is an inline popcount over the two hashes riding
      the band rows — no second corpus table, no verify join;
    - recall is EXACTLY 1.0 at the threshold (pigeonhole banding is
      deterministic, unlike MinHash's probabilistic bands), so the
      output is fully oracle-checkable, not rows-only.

    Null batch hashes are dropped (corrupt images cannot match)."""
    bph = batch_hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("key"), F.col(hash_col).alias("ph")
    )
    bchunks = _phash_chunks(bph, max_hamming, hash_bits).select(
        F.col("key").alias("id_batch"),
        F.col("ph").alias("ph_b"),
        "band",
        "chunk",
    )
    corpus = spark.table(f"{table_prefix}_bands").select(
        F.col("key").alias("id_corpus"),
        F.col("ph").alias("ph_c"),
        "band",
        "chunk",
    )
    hamming = F.bit_count(F.col("ph_b").bitwiseXOR(F.col("ph_c")))
    # verify below the pair-dedup Exchange (same reasoning as
    # phash_near_dup_pairs): only pairs that pass the popcount shuffle.
    return (
        corpus.join(F.broadcast(bchunks), ["band", "chunk"])
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_batch", "id_corpus"])
        .select("id_batch", "id_corpus", "hamming")
    )


def _frame_chunks(
    fh: DataFrame, max_hamming: int, hash_bits: int
) -> DataFrame:
    """(key, f, fh, band, chunk) pigeonhole band keys of a per-frame
    (key, f, fh) hash table — the frame-wise analog of _phash_chunks,
    shared by the video self-join (vhash_near_dup_pairs) and the
    cross-batch path (vhash_batch_against_corpus)."""
    bands = max_hamming + 1
    base = hash_bits // bands
    extra = hash_bits - base * bands  # first `extra` bands get +1 bit
    widths = [base + (1 if b < extra else 0) for b in range(bands)]
    offsets = [sum(widths[:b]) for b in range(bands)]
    return fh.select(
        "key",
        "f",
        "fh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("fh"), offsets[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("key", "f", "fh", "bc.band", "bc.chunk")


def vhash_near_dup_pairs(
    frame_hashes: DataFrame,
    id_col: str = "media_id",
    frame_col: str = "frame_idx",
    hash_col: str = "fhash",
    max_hamming: int = 4,
    hash_bits: int = 63,
) -> DataFrame:
    """Near-duplicate VIDEO pairs from per-frame perceptual hashes
    (operators/multimodal.py:vhash_frames): two videos are near-dups
    when EVERY temporally-aligned sampled frame is within
    ``max_hamming`` — the strict temporal criterion (a video with one
    replaced scene is NOT a duplicate). Candidates come from the same
    pigeonhole banding as ``phash_near_dup_pairs``, keyed by
    (frame_idx, band, chunk): if all aligned frames are close, frame
    pairs at every index are close, so at least one band of SOME
    aligned frame matches exactly — recall 1.0 at the threshold. The
    verify stage joins the full aligned-frame hash sets back and
    keeps pairs where n_close == n_frames on BOTH sides (equal
    sampled-frame counts included — a truncated video never matches
    its full-length source).

    Scale shape: per-frame banding buckets the corpus by (frame_idx,
    band, chunk) — no all-pairs; the verify join carries only
    candidate pairs x sampled frames. Output: (id_a, id_b, n_frames,
    max_hamming), each unordered pair once."""
    fh = frame_hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("key"),
        F.col(frame_col).alias("f"),
        F.col(hash_col).alias("fh"),
    ).localCheckpoint(eager=True)
    # ^ candidate banding AND both verify sides read this per-frame
    # table (K x the video count); localCheckpoint, not persist(),
    # so repeated invocations in a long-lived driver don't accumulate
    # cached tables (ContextCleaner reclaims on plan GC).
    chunks = _frame_chunks(fh, max_hamming, hash_bits).select(
        "key", "f", "band", "chunk"
    )
    cand = (
        chunks.select(F.col("key").alias("id_a"), "f", "band", "chunk")
        .join(
            chunks.select(F.col("key").alias("id_b"), "f", "band", "chunk"),
            ["f", "band", "chunk"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = fh.select(F.col("key").alias("id_a"), "f", F.col("fh").alias("fh_a"))
    b = fh.select(F.col("key").alias("id_b"), "f", F.col("fh").alias("fh_b"))
    per_frame = cand.join(a, "id_a").join(b, ["id_b", "f"])
    hamming = F.bit_count(F.col("fh_a").bitwiseXOR(F.col("fh_b")))
    agg = (
        per_frame.withColumn("hamming", hamming)
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_aligned"),
            F.sum(
                F.when(F.col("hamming") <= max_hamming, 1).otherwise(0)
            ).alias("n_close"),
            F.max("hamming").cast("long").alias("max_hamming"),
        )
    )
    # equal frame counts required: an aligned inner join undercounts
    # when one video has frames the other lacks, so compare against
    # BOTH videos' sampled-frame counts
    counts = fh.groupBy("key").agg(F.count(F.lit(1)).alias("nf"))
    return (
        agg.join(counts.select(F.col("key").alias("id_a"),
                               F.col("nf").alias("nf_a")), "id_a")
        .join(counts.select(F.col("key").alias("id_b"),
                            F.col("nf").alias("nf_b")), "id_b")
        .filter(
            (F.col("n_close") == F.col("n_aligned"))
            & (F.col("n_aligned") == F.col("nf_a"))
            & (F.col("nf_a") == F.col("nf_b"))
        )
        .select(
            "id_a", "id_b",
            F.col("n_aligned").cast("long").alias("n_frames"),
            "max_hamming",
        )
    )


def write_vhash_corpus(
    spark,
    frame_hashes: DataFrame,
    table_prefix: str,
    id_col: str = "media_id",
    frame_col: str = "frame_idx",
    hash_col: str = "fhash",
    max_hamming: int = 4,
    hash_bits: int = 63,
    n_buckets: int = 16,
) -> None:
    """Materialize the corpus side of incremental VIDEO near-dup
    dedup: ONE table of per-frame banded pHash chunks
    (key, f, fh, nf, band, chunk) bucketed on (f, chunk) — the video
    counterpart of write_phash_corpus. Two denormalizations keep the
    batch query corpus-Exchange-free:

    - ``nf`` (the video's sampled-frame count, needed by the strict
      temporal verify) rides every band row, so verification never
      aggregates the corpus;
    - the band-0 slice of this table IS the per-frame hash table
      (each (key, f) appears exactly once per band), so the verify
      stage re-reads this one table filtered to band=0 instead of
      maintaining a second frames table.

    The daily job appends each accepted batch's rows. Null frame
    hashes (corrupt videos) are excluded at write time."""
    from arc_kinesis_tagging_spark.operators.skew import write_bucketed

    fh = frame_hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("key"),
        F.col(frame_col).alias("f"),
        F.col(hash_col).alias("fh"),
    )
    nf = fh.groupBy("key").agg(F.count(F.lit(1)).alias("nf"))
    write_bucketed(
        _frame_chunks(fh, max_hamming, hash_bits).join(nf, "key"),
        f"{table_prefix}_bands",
        ["f", "chunk"],
        n_buckets=n_buckets,
    )


def vhash_batch_against_corpus(
    spark,
    batch_frame_hashes: DataFrame,
    table_prefix: str,
    id_col: str = "media_id",
    frame_col: str = "frame_idx",
    hash_col: str = "fhash",
    max_hamming: int = 4,
    hash_bits: int = 63,
) -> DataFrame:
    """(id_batch, id_corpus, n_frames, max_hamming) near-dup pairs
    between a batch's per-frame hashes and the materialized video
    corpus — cross-batch incremental video dedup under the same STRICT
    temporal criterion as vhash_near_dup_pairs (every aligned sampled
    frame within ``max_hamming`` AND equal sampled-frame counts).
    Shaped for a 100 TB corpus side:

    - candidates: the batch's banded frame chunks BROADCAST onto the
      corpus band table, joined on (f, band, chunk) — one corpus scan,
      zero corpus Exchange;
    - verify: candidate pairs (batch-scale, bounded by batch size x
      band collisions) BROADCAST onto the corpus band table's band-0
      slice (= the per-frame hash table), then the batch frames
      broadcast again for the aligned popcount — the second and last
      corpus scan, still Exchange-free on the corpus;
    - the corpus frame count ``nf`` rides the band rows (denormalized
      at write time), so the temporal completeness check never
      aggregates the corpus.

    Recall is exactly 1.0 at the threshold (pigeonhole banding per
    frame is deterministic), so the output is fully oracle-checkable.
    Null batch frame hashes are dropped."""
    bfh = batch_frame_hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("key"),
        F.col(frame_col).alias("f"),
        F.col(hash_col).alias("fh"),
    ).localCheckpoint(eager=True)
    # ^ batch-sized; feeds candidate banding, the verify join, and the
    # batch frame counts — pinned, ContextCleaner reclaims on GC.
    bchunks = _frame_chunks(bfh, max_hamming, hash_bits).select(
        F.col("key").alias("id_batch"), "f", "band", "chunk"
    )
    corpus = spark.table(f"{table_prefix}_bands")
    cand = (
        corpus.join(F.broadcast(bchunks), ["f", "band", "chunk"])
        .select(F.col("key").alias("id_corpus"), "id_batch")
        .distinct()
    )
    # band=0 slice of the corpus band table = the (key, f, fh, nf)
    # per-frame hash table (each frame appears once per band)
    cframes = corpus.filter(F.col("band") == 0).select(
        F.col("key").alias("id_corpus"),
        "f",
        F.col("fh").alias("fh_c"),
        F.col("nf").alias("nf_c"),
    )
    bframes = bfh.select(
        F.col("key").alias("id_batch"), "f", F.col("fh").alias("fh_b")
    )
    nf_b = bfh.groupBy("key").agg(F.count(F.lit(1)).alias("nf_b")).select(
        F.col("key").alias("id_batch"), "nf_b"
    )
    hamming = F.bit_count(F.col("fh_c").bitwiseXOR(F.col("fh_b")))
    per_frame = (
        cframes.join(F.broadcast(cand), "id_corpus")
        # duplicate-tolerance, REQUIRED for the strict count verify:
        # an at-least-once corpus append (streaming/dedup_gate.py's
        # crash-between-append-and-marker replay) can leave the same
        # (key, f) band rows twice; without this dedup each aligned
        # frame would count double (n_aligned = 2*nf) and the
        # equality verify would silently ADMIT true duplicates
        # forever after. Placed AFTER the broadcast candidate join so
        # the Exchange it needs is batch-scale (candidate pairs x
        # frames), never corpus-scale — fh_c/nf_c are functionally
        # determined by (id_corpus, f), so the dedup is exact.
        .dropDuplicates(["id_batch", "id_corpus", "f"])
        .join(F.broadcast(bframes), ["id_batch", "f"])
        .withColumn("hamming", hamming)
    )
    agg = per_frame.groupBy("id_batch", "id_corpus").agg(
        F.count(F.lit(1)).alias("n_aligned"),
        F.sum(
            F.when(F.col("hamming") <= max_hamming, 1).otherwise(0)
        ).alias("n_close"),
        F.max("hamming").cast("long").alias("max_hamming"),
        F.first("nf_c").alias("nf_c"),
    )
    return (
        agg.join(F.broadcast(nf_b), "id_batch")
        .filter(
            (F.col("n_close") == F.col("n_aligned"))
            & (F.col("n_aligned") == F.col("nf_b"))
            & (F.col("nf_b") == F.col("nf_c"))
        )
        .select(
            "id_batch",
            "id_corpus",
            F.col("n_aligned").cast("long").alias("n_frames"),
            "max_hamming",
        )
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    key_col: str,
    shingle_n: int = 5,
    min_shared: int = 3,
    broadcast_benchmark: bool | None = None,
) -> DataFrame:
    """Train/eval contamination check: corpus documents sharing at least
    ``min_shared`` distinct word ``shingle_n``-grams with any benchmark
    document. Returns (doc_key, bench_key, n_shared).

    Inverted-index join on the shingle. ``broadcast_benchmark=True``
    forces the benchmark shingle side broadcast — correct ONLY when the
    eval set is a genuinely small FIXED set (thousands of docs): then
    every corpus shingle checks against the benchmark index without
    shuffling the exploded corpus shingles (10-100x corpus bytes). The
    default (None) adds no hint and lets AQE pick broadcast vs shuffle
    from the MEASURED benchmark size at runtime — the safe shape when
    the benchmark is a corpus fraction (e.g. a 1% sample), where a
    forced broadcast would be TB-scale at 100 TB. Exact by
    construction; SQL-expressible, so the registry carries a full
    DuckDB oracle.
    """
    def _sh(df: DataFrame, out_key: str) -> DataFrame:
        # batch-native distinct shingle strings (same row multiset as
        # explode(array_distinct(shingles(...))) — the tokenizer is the
        # Java-\s-exact split and the shingle the same single-space
        # join; pinned in tests/test_operators.py), spread across
        # cores when the scan arrives single-partition
        key_type = df.schema[key_col].dataType.simpleString()

        def batches(it):
            import re

            import pandas as pd

            ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, exactly
            n = shingle_n
            for pdf in it:
                keys: list = []
                shs: list = []
                for k, text in zip(pdf[key_col], pdf[text_col]):
                    t = [x for x in ws.split(text or "") if x]
                    m = len(t) - (n - 1)
                    if m <= 0:
                        continue
                    seen = set()
                    for i in range(m):
                        s = " ".join(t[i:i + n]) if n > 1 else t[i]
                        if s not in seen:
                            seen.add(s)
                            keys.append(k)
                            shs.append(s)
                yield pd.DataFrame({out_key: keys, "__sh": shs})

        return _spread_small_scan(df.select(key_col, text_col)).mapInPandas(
            batches, f"{out_key} {key_type}, __sh string"
        )

    corpus_sh = _sh(corpus, "doc_key")
    bench_sh = _sh(benchmark, "bench_key")
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    return (
        corpus_sh.join(bench_sh, "__sh")
        .filter(F.col("doc_key") != F.col("bench_key"))
        .groupBy("doc_key", "bench_key")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def fresh_against_corpus(
    batch: DataFrame, corpus_digests: DataFrame, digest_col: str = "digest"
) -> DataFrame:
    """Batch rows whose ``digest_col`` does NOT appear in the corpus
    digest table — the cross-batch half of incremental dedup, shaped
    for a 100 TB corpus side.

    A naive ``batch.join(corpus, 'left_anti')`` is correct but Spark's
    runtime Bloom-filter rule does not fire on LeftAnti, so the corpus
    scan reads every row group. Instead the corpus is passed ONCE
    through a LEFT SEMI join against the batch's digests — that shape
    both (a) gets a Bloom filter built from the (small) batch side and
    injected directly above the corpus scan (``might_contain`` over the
    FileScan, pruning row groups before the join), and (b) runs with
    ZERO Exchange on the corpus side when the digest table is bucketed
    on ``digest_col`` (operators/skew.py:write_bucketed). The semi
    output — digests present in both — is bounded by the batch size, so
    the final anti join against it broadcasts. Proven in
    tests/test_plan_shapes.py.

    The ``merge`` hint pins SMJ so the bucketing is exercised at test
    scale; at corpus scale SMJ is what the planner picks anyway.
    """
    matched = corpus_digests.hint("merge").join(
        batch.select(digest_col), digest_col, "left_semi"
    )
    return batch.join(F.broadcast(matched), digest_col, "left_anti")


def _band_keys(sigs: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(__key, band, bkey) banded LSH keys from a signature table —
    the shared banding step of the self-join (minhash_near_duplicates)
    and cross-batch (minhash_fresh_against_corpus) paths.

    Banding must tile the signature exactly: a remainder would silently
    drop trailing hashes, and bands > n_hashes would make every band key
    md5('') so ALL documents collide in every band (quadratic candidate
    blowup)."""
    if bands <= 0 or bands > n_hashes or n_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes} "
            "(and satisfy 0 < bands <= n_hashes)"
        )
    rows = n_hashes // bands
    return sigs.select(
        "__key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("__sig", b * rows + r + 1).cast("string")
                                    for r in range(rows)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    ).select("__key", "__band.band", "__band.bkey")


def write_minhash_corpus(
    spark,
    corpus: DataFrame,
    table_prefix: str,
    text_col: str,
    key_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    n_buckets: int = 16,
) -> None:
    """Materialize the corpus side of incremental NEAR-dup dedup: the
    banded LSH keys bucketed on the band hash (so batch-probe joins
    read them with zero Exchange) and the shingle-hash sets bucketed on
    the document key (so candidate verification co-locates). The daily
    job maintains both incrementally by appending each accepted batch's
    rows — the approximate counterpart of the exact digest table that
    operators/dedup.py:fresh_against_corpus consumes."""
    from arc_kinesis_tagging_spark.operators.skew import write_bucketed

    sigs = _minhash_sigs(corpus, text_col, key_col, n_hashes, shingle_n).persist()
    try:
        write_bucketed(
            _band_keys(sigs, n_hashes, bands),
            f"{table_prefix}_bands",
            ["bkey"],
            n_buckets=n_buckets,
        )
        write_bucketed(
            sigs.select("__key", "__sh_hashes"),
            f"{table_prefix}_shingles",
            ["__key"],
            n_buckets=n_buckets,
        )
    finally:
        sigs.unpersist()


def minhash_fresh_against_corpus(
    spark,
    batch: DataFrame,
    table_prefix: str,
    text_col: str,
    key_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Batch rows with NO near-duplicate (exact Jaccard >= threshold,
    LSH-candidated) in the materialized corpus — cross-batch
    incremental near-dup dedup, shaped for a 100 TB corpus side:

    - the batch's banded keys BROADCAST onto the bucketed corpus band
      table (zero corpus Exchange, no corpus self-join ever);
    - only colliding (batch, corpus) candidate pairs are verified, by
      exact Jaccard over shingle-hash sets — corpus sets read from the
      key-bucketed table, batch sets broadcast;
    - precision is exact (every dropped row truly has a >= threshold
      neighbor); recall is the standard LSH band guarantee, and exact
      duplicates (jaccard 1.0) collide in EVERY band, so they are
      never missed.
    """
    # localCheckpoint(eager) rather than persist+unpersist: this is a
    # builder — no action runs before return, so an unpersist here
    # would drop the cache before it ever filled, and a bare persist
    # would leak. The checkpoint materializes the (small) batch
    # signature table once, both use sites read the materialized RDD,
    # and the ContextCleaner reclaims it when the plan is GC'd.
    bsigs = _minhash_sigs(batch, text_col, key_col, n_hashes, shingle_n).localCheckpoint(eager=True)
    stale = _minhash_stale_keys_from_sigs(
        spark, bsigs, table_prefix, n_hashes, bands, jaccard_threshold
    )
    return batch.join(
        F.broadcast(stale),
        batch[key_col] == stale["__batch_key"],
        "left_anti",
    )


def _minhash_stale_keys_from_sigs(
    spark,
    bsigs: DataFrame,
    table_prefix: str,
    n_hashes: int,
    bands: int,
    jaccard_threshold: float,
    exclude_self: bool = False,
) -> DataFrame:
    """``(__batch_key)`` rows of the batch signature table that HAVE a
    near-duplicate (exact Jaccard >= threshold, LSH-candidated) in the
    materialized corpus — the probe half of
    minhash_fresh_against_corpus over precomputed signatures, so a
    caller that also needs in-batch pairs (the streaming minhash gate)
    hashes each document once.

    ``exclude_self=True`` drops candidate pairs whose batch and corpus
    keys are EQUAL before verification: with globally unique document
    ids that pairing can only be an append-then-crash replay reading
    the batch's own survivors back out of the corpus — without the
    filter every survivor self-matches at Jaccard 1.0 on replay and
    the whole batch silently disappears downstream (the same guard as
    the perceptual gates' ``id_batch != id_corpus``)."""
    bands_df = _band_keys(bsigs, n_hashes, bands).select(
        F.col("__key").alias("__batch_key"), "band", "bkey"
    )
    corpus_bands = spark.table(f"{table_prefix}_bands").select(
        F.col("__key").alias("__corpus_key"), "band", "bkey"
    )
    cands = (
        corpus_bands.join(F.broadcast(bands_df), ["band", "bkey"])
        .select("__batch_key", "__corpus_key")
        .dropDuplicates(["__batch_key", "__corpus_key"])
    )
    if exclude_self:
        cands = cands.filter(F.col("__batch_key") != F.col("__corpus_key"))
    corpus_sh = spark.table(f"{table_prefix}_shingles").select(
        F.col("__key").alias("__corpus_key"), F.col("__sh_hashes").alias("__sh_c")
    )
    batch_sh = bsigs.select(
        F.col("__key").alias("__batch_key"), F.col("__sh_hashes").alias("__sh_b")
    )
    inter = F.size(F.array_intersect("__sh_b", "__sh_c")).cast("double")
    union = F.size(F.array_union("__sh_b", "__sh_c")).cast("double")
    return (
        cands.join(corpus_sh, "__corpus_key")
        .join(F.broadcast(batch_sh), "__batch_key")
        .filter(union > 0)
        .filter((inter / union) >= jaccard_threshold)
        .select("__batch_key")
        .distinct()
    )
