"""Adversarial-corpus oracle parity: every oracle-checked registry
query that reads the documents table must hash-match DuckDB on a
corpus the fixtures don't contain — empty text, whitespace-only,
sub-shingle-length docs, repeated tokens, unicode. This is the
permanent guard for the NULL-on-empty-list class of cross-engine
divergence (DuckDB array_to_string/list_sum return NULL on empty
lists; Spark's concat_ws/aggregate return ''/0)."""

import os

import duckdb
import pytest

from arc_kinesis_tagging_spark.plans.registry import QUERIES

import sys

sys.path.insert(0, "/root/repo")
from tools.verify_oracle import canon_rows, driver_canon_check  # noqa: E402

SF_BASE = "/root/testdata/sf0.001"

ADVERSARIAL_DOCS = [
    # (doc_id, text, lang, source, n_chars)
    (0, "", "en", "s0", 0),
    (7, "   ", "en", "s0", 3),
    (11, "one", "en", "s1", 3),
    (14, "spark vector", "en", "s1", 12),
    (21, "the the the the the", "en", "s0", 19),
    (22, "café naïve résumé words here", "fr", "s1", 28),
    (28, "a much longer document with enough tokens to produce shingles "
         "and chunks and quality metrics spark", "en", "s0", 99),
    (33, "a much longer document with enough tokens to produce shingles "
         "and chunks and quality metrics spark", "en", "s1", 99),
]

# registry queries whose builders read ONLY the documents table
DOC_QUERIES = [
    "q_array_funcs",
    "q_hof_funcs",
    "q_text_chunk",
    "q_seq_pack",
    "q_pii_scrub",
    "q_contamination",
    "q_text_termfreq",
    "q_text_quality",
    "q_text_langid",
    "q_text_fingerprint",
    "q_quality_filter",
    "q_text_tfidf",
    "q_dedup_exact",
    "q_dedup_ngram_jaccard",
    # round-3 corpus ops (documents-only readers)
    "q_sample_stratified",
    "q_split_assign",
    "q_shuffle_shard",
    "q_profile_columns",
    "q_token_histogram",
    "q_domain_balance",
    # round-3 driver-window additions (documents-only readers)
    "q_domain_balance_hash",
    "q_text_normalize",
    "q_doc_stats_sketch",
    "q_multimodal_ppm",
    "q_dedup_incremental",
    "q_corpus_pipeline",
    # round-4 additions (documents-only readers)
    "q_multimodal_png",
    "q_text_repetition",
    "q_source_mixing",
    "q_corpus_pipeline2",
    "q_sample_weighted",
    # round-5 additions (documents-only readers)
    "q_multimodal_jpeg",
    "q_dedup_lines",
    "q_heavy_hitters",
    "q_text_entropy",
    "q_text_perplexity",
    "q_merge_upsert",
    "q_scd2_update",
    "q_dedup_url",
    "q_bpe_subwords",
    "q_multimodal_png_gray",
    # round-6 additions (documents-only readers)
    "q_ngram_lm_score",
    "q_doc_minwise_sim",
    "q_dedup_prefix",
    "q_robots_gate",
    "q_dedup_substring",
    "q_corpus_diff",
    "q_corpus_pipeline4",
    "q_multimodal_jpeg420",
    "q_multimodal_png_palette",
    "q_multimodal_png16",
    "q_multimodal_jpeg_prog",
    # round-7 additions (documents-only readers)
    "q_ngram_lm_pruned",
    "q_lm_buckets",
    "q_text_bm25",
    "q_multimodal_png_adam7",
    "q_corpus_pipeline5",
    "q_text_html_strip",
    # round-9 additions (documents-only readers): fixed-vocab
    # tokenizer-encode faces — empty/whitespace docs and the accented
    # words ('é' is outside both fixture vocabs) stress the [UNK] and
    # unseen-char-floor paths cross-engine
    "q_wordpiece_subwords",
    "q_unigram_subwords",
    # the admission gate: empty, whitespace-only, single-token and
    # unicode docs, plus paths no robots rule matches (default allow)
    "q_admission_gate",
]


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adversarial-docs"))
    spark.createDataFrame(
        ADVERSARIAL_DOCS,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


@pytest.fixture(scope="module")
def adversarial_duck(adversarial_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{adversarial_dir}/documents.parquet/*.parquet')"
    )
    return con


@pytest.mark.parametrize("name", DOC_QUERIES)
def test_adversarial_oracle_parity(spark, adversarial_dir, adversarial_duck, name):
    q = QUERIES[name]
    sdf = q.builder(spark, adversarial_dir).toPandas()
    driver_canon_check(sdf)
    if q.oracle is None:
        return  # rows-only op: the point is it must not crash
    odf = adversarial_duck.execute(q.oracle).df()
    scols, srows = canon_rows(sdf)
    ocols, orows = canon_rows(odf)
    assert scols == ocols
    assert srows == orows


# --- embeddings-reading queries ---------------------------------------------

ADVERSARIAL_VECS = [
    # zero vector (ANSI divide-by-zero + NaN-sort traps), exact dup,
    # near dup, all-negative components
    (0, [0.0, 0.0, 0.0, 0.0], "a"),
    (1, [1.0, 0.0, 0.0, 0.0], "a"),
    (2, [1.0, 0.0, 0.0, 0.0], "b"),
    (3, [0.99, 0.01, 0.0, 0.0], "b"),
    (4, [-1.0, -1.0, -1.0, -1.0], "a"),
]

EMB_QUERIES = [
    "q_dedup_embedding",
    "q_similarity_topk",
    "q_vector_centroid",
    "q_vector_normalize",
    "q_embed_covariance",
    # round-6 embedding readers (zero-vector + exact-dup + negative
    # components stress the rounded ranking and per-dim calibration)
    "q_hard_negatives",
    "q_quant_calibrate",
]


@pytest.fixture(scope="module")
def adversarial_emb_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adversarial-emb"))
    spark.createDataFrame(
        ADVERSARIAL_VECS, "vec_id long, embedding array<double>, label string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    return d


@pytest.fixture(scope="module")
def adversarial_emb_duck(adversarial_emb_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{adversarial_emb_dir}/embeddings.parquet/*.parquet')"
    )
    return con


@pytest.mark.parametrize("name", EMB_QUERIES)
def test_adversarial_embedding_parity(spark, adversarial_emb_dir, adversarial_emb_duck, name):
    q = QUERIES[name]
    sdf = q.builder(spark, adversarial_emb_dir).toPandas()
    driver_canon_check(sdf)
    if q.oracle is None:
        return
    odf = adversarial_emb_duck.execute(q.oracle).df()
    assert canon_rows(sdf) == canon_rows(odf)


# --- 64-dim embeddings (PQ/IVF family: oracles hardcode 16-dim
# subspaces, so these queries need a full-width adversarial fixture) --

def _adv_vec64(kind):
    v = [0.0] * 64
    if kind == "e0":
        v[0] = 1.0
    elif kind == "near":
        v[0], v[1] = 0.99, 0.01
    elif kind == "neg":
        v = [-1.0] * 64
    elif kind == "ramp":
        v = [i / 64.0 for i in range(64)]
    elif kind == "alt":
        v = [1.0 if i % 2 == 0 else -1.0 for i in range(64)]
    elif kind == "e63":
        v[63] = 1.0
    return v


ADVERSARIAL_VECS64 = [
    # zero vector, exact dup pair, near dup, negatives, structured —
    # 20 vectors so the IVF-PQ residual codebook (ranks 9..16) exists
    (0, _adv_vec64("zero"), "a"),
    (1, _adv_vec64("e0"), "a"),
    (2, _adv_vec64("e0"), "b"),
    (3, _adv_vec64("near"), "b"),
    (4, _adv_vec64("neg"), "a"),
    (5, _adv_vec64("ramp"), "a"),
    (6, _adv_vec64("alt"), "b"),
    (7, _adv_vec64("e63"), "a"),
] + [
    (8 + j, [((i * (j + 3)) % 17 - 8) / 8.0 for i in range(64)], "c")
    for j in range(12)
]

EMB64_QUERIES = [
    # round-7 PQ/IVF family (16-dim subspaces, frozen codebooks)
    "q_embed_pq",
    "q_similarity_pq_adc",
    "q_dedup_embedding_pq",
    "q_ann_incremental",
    "q_similarity_ivfpq",
    # round-9: fixed-rotation OPQ assignment — the exact-dup pair puts
    # two IDENTICAL codewords in the rotated codebook, so every row's
    # argmin hits a genuine distance tie and the lowest-code break is
    # exercised in both engines
    "q_opq_assign",
]


@pytest.fixture(scope="module")
def adversarial_emb64_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adversarial-emb64"))
    spark.createDataFrame(
        ADVERSARIAL_VECS64, "vec_id long, embedding array<double>, label string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    return d


@pytest.fixture(scope="module")
def adversarial_emb64_duck(adversarial_emb64_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{adversarial_emb64_dir}/embeddings.parquet/*.parquet')"
    )
    return con


@pytest.mark.parametrize("name", EMB64_QUERIES)
def test_adversarial_embedding64_parity(
    spark, adversarial_emb64_dir, adversarial_emb64_duck, name
):
    q = QUERIES[name]
    sdf = q.builder(spark, adversarial_emb64_dir).toPandas()
    driver_canon_check(sdf)
    if q.oracle is None:
        return
    odf = adversarial_emb64_duck.execute(q.oracle).df()
    assert canon_rows(sdf) == canon_rows(odf)


# --- events-reading queries --------------------------------------------------

import datetime

_T0 = datetime.datetime(2024, 1, 1)
ADVERSARIAL_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (0, _T0, 1, "purchase", 10.5, '{"k": 87}'),
    (1, _T0 + datetime.timedelta(minutes=3), 1, "purchase", 0.0, "{k: 87"),
    (2, _T0 + datetime.timedelta(minutes=7), 2, "error", -5.25, None),
    (3, _T0 + datetime.timedelta(minutes=9), None, "signup", None, ""),
    (4, _T0 + datetime.timedelta(minutes=11), 3, None, 1e15, '{"k": null}'),
    (5, _T0 + datetime.timedelta(minutes=15), 3, "café", 2.5, '{"k": -1, "extra": [1,2]}'),
]

EVENT_QUERIES = [
    "q_json_extract",      # malformed JSON: PERMISSIVE null vs strict error
    "q_corrupt_routing",
    "q_map_funcs",
    "q_cast_funcs",        # 1e15: double->string rendering divergence
    "q_window_lag",
    "q_window_tumbling",   # 1e15: decimal(18,6) overflow abort
    "q_window_sliding",
    "q_window_session",
    "q_join_asof",
    "q_join_interval",
    "q_filter_project",
    "q_ts_gapfill",        # NULL user_id: NULL group + non-matching equi-join
    # round-5 additions (event readers)
    "q_cohort_retention",
    "q_session_stats",
    "q_events_pathing",
    "q_anomaly_zscore",    # 1e15 hits the quantization domain guard
    "q_graph_triangles",
    # round-7: VARIANT ingestion — malformed "{k: 87", empty string,
    # NULL props, and json-null k all land as null variants/values
    "q_json_variant",
    # round-7: EWMA fold — null values excluded, NULL user group,
    # 1e15 magnitudes through the recurrence
    "q_ts_ewma",
]


@pytest.fixture(scope="module")
def adversarial_ev_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adversarial-ev"))
    from arc_kinesis_tagging_spark.sources.tables import TABLES

    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_BASE}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    spark.createDataFrame(
        ADVERSARIAL_EVENTS,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    return d


@pytest.fixture(scope="module")
def adversarial_ev_duck(adversarial_ev_dir):
    from arc_kinesis_tagging_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        suffix = "/*.parquet" if t == "events" else ""
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{adversarial_ev_dir}/{t}.parquet{suffix}')"
        )
    return con


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_adversarial_event_parity(spark, adversarial_ev_dir, adversarial_ev_duck, name):
    q = QUERIES[name]
    sdf = q.builder(spark, adversarial_ev_dir).toPandas()
    driver_canon_check(sdf)
    if q.oracle is None:
        return
    odf = adversarial_ev_duck.execute(q.oracle).df()
    assert canon_rows(sdf) == canon_rows(odf)


# --- part/customer string & window families ---------------------------------

ADVERSARIAL_PART = [
    (0, "", "M", "B#1", "", 1, "C", 0.0, ""),
    (10, "CAFÉ naïve Ünïcode", "M", "B#2", "PROMO x", 5, "C", 1.5, "ünï"),
    (20, "dots.and*stars+plus[brackets]", "M", "B#3", "STD (paren)", 10, "C", 2.5, "x"),
    (30, "pink red pink", "M", "B#4", "tiny pink", 30, "C", 99.99, "ok"),
    (40, "a  double  spaced  name", "M", "B#5", "SMALL", 50, "C", 1e6, "y"),
]
PART_SCHEMA = ("p_partkey long, p_name string, p_mfgr string, p_brand string, "
               "p_type string, p_size int, p_container string, "
               "p_retailprice double, p_comment string")
PART_QUERIES = ["q_scan_parquet", "q_regex_funcs", "q_string_distance",
                "q_url_funcs", "q_unpivot"]

ADVERSARIAL_CUSTOMER = [
    (0, "", 0, "11-111", 0.0, "BUILDING", ""),
    (1, "Ünïcode Nàme", 1, "22-222", -10.5, "BUILDING", "café comment"),
    (2, "O'Brien \"quoted\"", 2, "33-333", 999.99, "MACHINERY", "x"),
    (3, "tab\there", 3, "44-444", 1e6, "AUTOMOBILE", "y"),
    (4, "plain name", 4, "55-555", 50.0, "MACHINERY", "z"),
]
CUSTOMER_SCHEMA = ("c_custkey long, c_name string, c_nationkey int, c_phone string, "
                   "c_acctbal double, c_mktsegment string, c_comment string")
CUSTOMER_QUERIES = ["q_string_funcs", "q_string_funcs2", "q_window_analytics",
                    "q_window_range_frame", "q_struct_funcs", "q_join_broadcast"]


def _family_fixture(spark, tmp_path_factory, table, rows, schema):
    from arc_kinesis_tagging_spark.sources.tables import TABLES

    d = str(tmp_path_factory.mktemp(f"adversarial-{table}"))
    for t in TABLES:
        if t != table:
            os.symlink(f"{SF_BASE}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, f"{table}.parquet")
    )
    con = duckdb.connect()
    for t in TABLES:
        suffix = "/*.parquet" if t == table else ""
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet{suffix}')"
        )
    return d, con


@pytest.fixture(scope="module")
def adversarial_part(spark, tmp_path_factory):
    return _family_fixture(spark, tmp_path_factory, "part", ADVERSARIAL_PART, PART_SCHEMA)


@pytest.fixture(scope="module")
def adversarial_customer(spark, tmp_path_factory):
    return _family_fixture(
        spark, tmp_path_factory, "customer", ADVERSARIAL_CUSTOMER, CUSTOMER_SCHEMA
    )


@pytest.mark.parametrize("name", PART_QUERIES)
def test_adversarial_part_parity(spark, adversarial_part, name):
    d, con = adversarial_part
    q = QUERIES[name]
    sdf = q.builder(spark, d).toPandas()
    driver_canon_check(sdf)
    assert canon_rows(sdf) == canon_rows(con.execute(q.oracle).df())


@pytest.mark.parametrize("name", CUSTOMER_QUERIES)
def test_adversarial_customer_parity(spark, adversarial_customer, name):
    d, con = adversarial_customer
    q = QUERIES[name]
    sdf = q.builder(spark, d).toPandas()
    driver_canon_check(sdf)
    assert canon_rows(sdf) == canon_rows(con.execute(q.oracle).df())


# --- funnel-semantics adversarial events -------------------------------------
# Complements the null/malformed-value events corpus above: THIS corpus
# is built from ORDERING traps — tied timestamps at funnel stage
# boundaries (strictly-after must exclude the tie), out-of-order
# arrival, duplicate rows, users missing the entry stage, events
# exactly on window edges.

from datetime import datetime  # noqa: E402


def _fts(s):
    return datetime.fromisoformat(s)


ADVERSARIAL_FUNNEL_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    # user 1: later-stage events with NO entry stage -> funnels exclude
    (1, _fts("2024-01-01 00:00:00"), 1, "click", 1.0, '{"k": 1}'),
    (2, _fts("2024-01-01 00:01:00"), 1, "purchase", 2.5, '{"k": 2}'),
    # user 2: view and click at the SAME timestamp (strictly-after must
    # exclude the tied click), then a later click and purchase
    (3, _fts("2024-01-01 00:05:00"), 2, "view", 0.0, '{"k": 3}'),
    (4, _fts("2024-01-01 00:05:00"), 2, "click", -1.0, '{"k": 4}'),
    (5, _fts("2024-01-01 00:07:30"), 2, "click", 10.0, '{"k": 5}'),
    (6, _fts("2024-01-01 00:10:00"), 2, "purchase", 327.53, '{"k": 6}'),
    # user 3: all five types, arriving out of order in the file
    (7, _fts("2024-01-01 01:00:00"), 3, "error", 0.5, '{"k": 7}'),
    (8, _fts("2024-01-01 00:20:00"), 3, "signup", 0.5, '{"k": 8}'),
    (9, _fts("2024-01-01 00:40:00"), 3, "click", 0.5, '{"k": 9}'),
    (10, _fts("2024-01-01 00:30:00"), 3, "view", 0.5, '{"k": 10}'),
    (11, _fts("2024-01-01 00:50:00"), 3, "purchase", 0.5, '{"k": 11}'),
    # user 4: exact duplicate rows except event_id; window-boundary ts
    (12, _fts("2024-01-01 00:05:00"), 4, "view", 7.0, '{"k": 12}'),
    (13, _fts("2024-01-01 00:05:00"), 4, "view", 7.0, '{"k": 12}'),
    # user 5: a single event exactly at midnight (window lower edge)
    (14, _fts("2024-01-01 00:00:00"), 5, "signup", 1e6, '{"k": 0}'),
]

FUNNEL_EVENT_QUERIES = [
    "q_events_funnel",
    "q_events_funnel_k",
    "q_window_tumbling",
    "q_window_sliding",
    "q_window_session",
    "q_ts_gapfill",
]


@pytest.fixture(scope="module")
def adversarial_funnel_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adversarial-funnel"))
    spark.createDataFrame(
        ADVERSARIAL_FUNNEL_EVENTS,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    return d


@pytest.fixture(scope="module")
def adversarial_funnel_duck(adversarial_funnel_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{adversarial_funnel_dir}/events.parquet/*.parquet')"
    )
    return con


@pytest.mark.parametrize("name", FUNNEL_EVENT_QUERIES)
def test_adversarial_funnel_oracle_parity(
    spark, adversarial_funnel_dir, adversarial_funnel_duck, name
):
    q = QUERIES[name]
    sdf = q.builder(spark, adversarial_funnel_dir).toPandas()
    driver_canon_check(sdf)
    if q.oracle is None:
        return
    odf = adversarial_funnel_duck.execute(q.oracle).df()
    scols, srows = canon_rows(sdf)
    ocols, orows = canon_rows(odf)
    assert scols == ocols
    assert srows == orows


def test_survey_counts_match_registry():
    """SURVEY.md's LAST 'Running counts:'/'counts:' line must state the
    true registry totals — the round-7 verdict found the doc trailing
    the registry by 5 queries. Pinning doc == code keeps the drift from
    recurring: update SURVEY.md when adding a query, or this fails."""
    import re

    from arc_kinesis_tagging_spark.plans.registry import QUERIES

    text = open("/root/repo/SURVEY.md").read()
    stated = re.findall(
        r"counts[^:]*: (\d+) registry queries \((\d+) oracle-checked"
        r"(?:[^)]*?\+ )?(\d+)\s*\n?\s*rows-only",
        text,
    )
    assert stated, "SURVEY.md lost its counts line"
    total, oracled, rows_only = map(int, stated[-1])
    true_oracled = sum(1 for q in QUERIES.values() if q.oracle is not None)
    assert (total, oracled, rows_only) == (
        len(QUERIES),
        true_oracled,
        len(QUERIES) - true_oracled,
    ), (
        f"SURVEY.md says {total}/{oracled}/{rows_only}, registry has "
        f"{len(QUERIES)}/{true_oracled}/{len(QUERIES) - true_oracled}"
    )
