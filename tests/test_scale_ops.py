"""Scale-path operators: salted skew join equivalence, bucketed join
shuffle elision, grouped-pandas z-score, Python UDTF."""

import pytest
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.operators.pandas_ops import (
    grouped_zscore,
    register_tokenize_udtf,
)
from arc_kinesis_tagging_spark.operators.skew import (
    bucketed_join,
    salted_join,
    write_bucketed,
)
from arc_kinesis_tagging_spark.sources.tables import load_table


def test_salted_join_equivalence(spark, sf_dir):
    """Salted join returns exactly the rows of the plain join, on a
    deliberately skewed fact table (every key hot)."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    fact = orders.withColumn("c_custkey", F.col("o_custkey") % 10)  # heavy skew
    plain = fact.join(customer, "c_custkey").select("o_orderkey", "c_name")
    salted = salted_join(fact, customer, "c_custkey", n_salts=8).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_elides_shuffle(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir).withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=8)
    write_bucketed(lineitem, "b_lineitem", ["o_orderkey"], n_buckets=8)
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == lineitem.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_grouped_zscore_matches_window(spark, sf_dir):
    docs = load_table(spark, "customer", sf_dir)
    viaudf = grouped_zscore(docs, "c_mktsegment", "c_acctbal", "c_custkey")
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment")
    viawin = docs.select(
        "c_custkey",
        (
            (F.col("c_acctbal") - F.mean("c_acctbal").over(w))
            / F.stddev_pop("c_acctbal").over(w)
        ).alias("z"),
    )
    a = {r["c_custkey"]: r["z"] for r in viaudf.collect()}
    b = {r["c_custkey"]: r["z"] for r in viawin.collect()}
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)


def test_tokenize_udtf(spark):
    register_tokenize_udtf(spark)
    rows = spark.sql(
        "SELECT t.pos, t.token FROM (SELECT 'a b c' AS txt), LATERAL tokenize(txt) t"
    ).collect()
    assert [(r["pos"], r["token"]) for r in rows] == [(0, "a"), (1, "b"), (2, "c")]


def test_minhash_vs_exact_harness_bounds(spark, sf_dir):
    """The LSH-quality harness must report coherent set arithmetic
    (intersection <= both sides) and a recall the banded parameters
    are tuned for (>= 0.5 on the synthetic near-dup corpus)."""
    from arc_kinesis_tagging_spark.plans.llmops import q_minhash_vs_exact

    r = q_minhash_vs_exact(spark, sf_dir).collect()[0]
    assert r["n_intersect"] <= r["n_minhash"]
    assert r["n_intersect"] <= r["n_exact"]
    assert 0.0 <= r["precision"] <= 1.0
    assert 0.0 <= r["recall"] <= 1.0
    if r["n_exact"] > 0:
        assert r["recall"] >= 0.5, r


def test_ann_recall_harness_bounds(spark, sf_dir):
    """IVF recall@5 over the probe set: per-query recall in [0,1],
    nprobe=4/16 cells must beat random cell selection (>= 0.5 mean)."""
    from arc_kinesis_tagging_spark.plans.llmops import q_ann_recall

    r = q_ann_recall(spark, sf_dir).collect()[0]
    assert r["n_queries"] > 0
    assert 0.0 <= r["min_recall_at_5"] <= 1.0
    assert r["mean_recall_at_5"] >= 0.5, r


def test_aqe_splits_skewed_join_partition(spark):
    """The session's AQE skew-join claim, held as code: a join where one
    key carries ~97% of the rows must execute with the hot partition
    SPLIT at runtime (SortMergeJoin(skew=true) in the final adaptive
    plan) — the defense that makes un-salted joins survive real-world
    key skew at 100 TB. Thresholds are lowered (and restored) so the
    tiny test dataset crosses the skew detection bar; the mechanism is
    identical at production sizes."""
    import re

    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        left = spark.range(0, 203100).select(
            F.when(F.col("id") < 200000, F.lit(0))
            .otherwise((F.col("id") % 31) + 1)
            .alias("k"),
            F.concat(
                F.lit("payload-padding-padding-"), F.col("id").cast("string")
            ).alias("pad"),
        )
        right = spark.range(0, 32).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 203100  # no row lost/duplicated by the split
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert re.search(r"skew=true", plan), plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _clustered_vectors(spark, n, dim=16, n_centers=256, seed=9):
    """n deterministic vectors in ~n_centers tight clusters, generated
    executor-side (no driver materialization): center from a per-cluster
    LCG stream, member = 0.9*center + 0.1*noise."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids:
                i = int(i)
                rng_c = np.random.default_rng(seed + (i % n_centers))
                center = rng_c.standard_normal(dim)
                rng_i = np.random.default_rng(seed * 1_000_003 + i)
                v = 0.9 * center + 0.1 * rng_i.standard_normal(dim)
                rows.append(v.tolist())
            yield pd.DataFrame({"vec_id": ids, "embedding": rows})

    return (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, "vec_id long, embedding array<double>")
    )


def test_ivf_realistic_nlist_scale(spark):
    """VERDICT r03 #8: every prior IVF test ran at nlist <= 16; at
    corpus scale nlist is 10^2-10^5 and the two driver-side structures
    — the centroid collect() and the nlist^2 cell-pair metadata — must
    stay metadata-sized while recall holds. 50k clustered vectors,
    nlist=256:

    - cosine_topk_ivf(nprobe=16) recall@5 vs the exact brute-force
      kernel >= 0.9 on 40 probe queries;
    - cosine_threshold_pairs at nlist=256 reports its surviving
      cell-pair count: bounded by nlist^2 = 65,536 rows of metadata
      and, on clustered data, pruned to a small fraction of it —
      the triangle-inequality bound doing its job at realistic nlist.
    """
    from arc_kinesis_tagging_spark.operators.similarity import (
        cosine_threshold_pairs,
        cosine_topk_bruteforce_np,
        cosine_topk_ivf,
    )

    n, nlist = 50_000, 256
    corpus = _clustered_vectors(spark, n).persist()
    try:
        queries = corpus.filter(F.col("vec_id") % 1250 == 7).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = cosine_topk_bruteforce_np(corpus, queries, k=5).collect()
        approx = cosine_topk_ivf(
            corpus, queries, k=5, nlist=nlist, nprobe=16
        ).collect()
        truth, got = {}, {}
        for r in exact:
            truth.setdefault(r["query_id"], set()).add(r["vec_id"])
        for r in approx:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        assert len(truth) == 40
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        recall = hits / sum(len(v) for v in truth.values())
        assert recall >= 0.9, recall

        stats = {}
        pairs = cosine_threshold_pairs(
            corpus, 0.97, nlist=nlist, stats=stats
        )
        n_pairs = pairs.count()
        assert stats["nlist"] == nlist
        assert stats["n_cell_pairs"] <= nlist * nlist
        # pruning must bite: on 256 tight clusters the surviving cell
        # pairs are a band around the diagonal, not the full cross
        assert stats["n_cell_pairs"] < 0.25 * nlist * nlist, stats
        # sanity: threshold pairs found the intra-cluster structure
        assert n_pairs > 0
    finally:
        corpus.unpersist()


def test_kmeans_lloyd_numpy_parity_and_partition_invariance(spark, sf_dir):
    """The distributed Lloyd loop must track a single-machine numpy
    model BIT-EXACTLY (same init, same quantized-integer updates, same
    stable tie-breaks), and be invariant under repartitioning — the
    property the integer partial-sum merge exists to provide."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.similarity import kmeans_lloyd
    from arc_kinesis_tagging_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", sf_dir)
    k, iters, quant = 8, 4, 1_000_000
    rows = e.select("vec_id", "embedding").orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])

    # reference numpy Lloyd with the identical arithmetic
    C = X[:k].copy()
    for _ in range(iters):
        d2 = (X * X).sum(1, keepdims=True) - 2 * X @ C.T + (C * C).sum(1)
        cell = np.argsort(d2, axis=1, kind="stable")[:, 0]
        Q = np.floor(X * quant).astype(np.int64)
        newC = C.copy()
        for c in range(k):
            m = cell == c
            if m.any():
                newC[c] = Q[m].sum(0) / m.sum() / quant
        if np.array_equal(
            np.floor(newC * quant).astype(np.int64),
            np.floor(C * quant).astype(np.int64),
        ):
            C = newC
            break
        C = newC
    d2 = (X * X).sum(1, keepdims=True) - 2 * X @ C.T + (C * C).sum(1)
    expect_cells = dict(zip(ids, np.argsort(d2, axis=1, kind="stable")[:, 0]))

    for layout in (e, e.repartition(7)):
        assign, Cd, n_iters = kmeans_lloyd(
            layout, k=k, max_iters=iters, quant=quant
        )
        assert np.array_equal(Cd, C), np.abs(Cd - C).max()
        got = {r["vec_id"]: r["cell_id"] for r in assign.collect()}
        assert got == expect_cells
        assert 1 <= n_iters <= iters


def test_pca_project_numpy_parity_and_spectral_properties(spark):
    """pca_project equals an independent numpy reference built from
    the SAME quantized-covariance formula; component variances come
    out in non-increasing order and match the eigenvalues; the
    projection basis is orthonormal; output is layout-invariant."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.similarity import pca_project

    rng = np.random.default_rng(43)
    d, n, k, quant = 6, 300, 3, 10_000
    # anisotropic data so the spectrum is well separated
    A = rng.normal(0, 1, (d, d))
    base = rng.normal(0, 1, (n, d)) @ (A * np.linspace(3, 0.3, d))
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in pca_project(df, k=k).collect()}

    # reference: same integer-quantized covariance and mean
    q = np.floor(base * quant).astype(np.int64)
    s = q.sum(axis=0)
    G = q.T @ q
    C = (n * G - np.outer(s, s)) / (float(n) * n * quant * quant)
    mean = s / (n * quant)
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:k]
    W = V[:, order]
    for c in range(k):
        j = int(np.abs(W[:, c]).argmax())
        if W[j, c] < 0:
            W[:, c] = -W[:, c]
    Z = np.floor((base - mean) @ W * 1e6 + 0.5).astype(np.int64)
    for i in range(n):
        assert tuple(got[i][f"pc{c}"] for c in range(k)) == tuple(Z[i]), i
    # orthonormal basis
    assert np.allclose(W.T @ W, np.eye(k), atol=1e-10)
    # variances non-increasing and ~ eigenvalues
    Zf = Z.astype(np.float64) / 1e6
    var = Zf.var(axis=0, ddof=0)
    assert all(var[c] >= var[c + 1] - 1e-9 for c in range(k - 1))
    evs = np.sort(w)[::-1][:k]
    assert np.allclose(var, evs, rtol=0.02)
    # layout invariance
    again = {
        r["vec_id"]: r for r in pca_project(df.repartition(7), k=k).collect()
    }
    assert all(
        tuple(got[i][f"pc{c}"] for c in range(k))
        == tuple(again[i][f"pc{c}"] for c in range(k))
        for i in range(n)
    )
