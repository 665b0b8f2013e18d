"""Persisted IVF index: build partitioned by cell, query with partition
pruning, recall vs brute force."""

from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk_bruteforce,
    query_ivf_index,
)
from arc_kinesis_tagging_spark.sources.tables import load_table


def test_ivf_index_build_query_prune(spark, sf_dir, tmp_path):
    emb = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "ivf")
    build_ivf_index(spark, emb, path, nlist=8)

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = query_ivf_index(spark, path, q, k=5, nprobe=3)

    # recall vs brute force
    brute = cosine_topk_bruteforce(emb, q, k=5)
    b = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    i = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    assert len(b & i) / len(b) >= 0.5
    for qid in range(10):
        assert (qid, qid) in i  # own vector always found

    # partition pruning: only probe-cell directories are read
    probe_dirs = {
        f"cell_id={r['cell_id']}"
        for r in spark.read.parquet(path + "/centroids").collect()
    }
    files = (
        spark.read.parquet(path + "/index")
        .filter(F.col("cell_id").isin([1, 2]))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    assert files and all(("cell_id=1" in r["f"]) or ("cell_id=2" in r["f"]) for r in files)


def test_ivf_kmeans_training_balances_cells(spark, sf_dir, tmp_path):
    """train="kmeans" must produce a working index whose recall@5 is at
    least the sample-seeded index's, with a more even cell population
    (lower max/mean imbalance) — the property that bounds worst-case
    probe cost at scale."""
    from arc_kinesis_tagging_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_bruteforce,
        query_ivf_index,
    )
    from arc_kinesis_tagging_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(e, q, k=5).collect()
    }

    recalls, imbalance = {}, {}
    for train in ("sample", "kmeans"):
        path = str(tmp_path / f"ivf-{train}")
        build_ivf_index(spark, e, path, nlist=8, train=train)
        got = {
            (r["query_id"], r["vec_id"])
            for r in query_ivf_index(spark, path, q, k=5, nprobe=4).collect()
        }
        recalls[train] = len(got & exact) / len(exact)
        sizes = [
            r["n"]
            for r in spark.read.parquet(path + "/index")
            .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n")).collect()
        ]
        imbalance[train] = max(sizes) / (sum(sizes) / len(sizes))
    assert recalls["kmeans"] >= recalls["sample"] - 1e-9, (recalls, imbalance)
    assert recalls["kmeans"] >= 0.8, recalls
    assert imbalance["kmeans"] <= imbalance["sample"] + 1e-9, imbalance


def test_append_ivf_index_equals_full_build(spark, sf_dir, tmp_path):
    """Append-then-query must equal build-on-full-corpus-then-query
    WHEN both use the same centroids: freeze centroids from the prior
    corpus, (a) build prior + append batch, (b) assign the full corpus
    against a prior-built index rebuilt from scratch is impossible
    with lowest-id training (centroids would differ), so compare (a)
    against brute-force expected assignment: every appended vector
    lands in its argmax-cosine prior-centroid cell, and the probe
    results include batch vectors."""
    import numpy as np
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )
    from arc_kinesis_tagging_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", sf_dir)
    prior = e.filter(F.col("vec_id") % 5 != 0)
    batch = e.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf-inc")
    build_ivf_index(spark, prior, path, nlist=16)
    append_ivf_index(spark, batch, path)

    idx = spark.read.parquet(path + "/index")
    assert idx.count() == e.count()  # nothing lost, nothing duplicated
    assert idx.select("vec_id").distinct().count() == e.count()

    # appended vectors sit in their argmax-cosine cell of the FROZEN
    # prior centroids (ties -> lowest cell), per numpy replica
    cents = sorted(
        spark.read.parquet(path + "/centroids").collect(),
        key=lambda r: r["cell_id"],
    )
    C = np.array([r["embedding"] for r in cents], np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    got = {r["vec_id"]: r["cell_id"] for r in idx.collect()}
    for r in batch.collect():
        v = np.array(r["embedding"], np.float64)
        vn = v / max(np.linalg.norm(v), 1e-12)
        assert got[r["vec_id"]] == cents[int(np.argmax(vn @ Cn.T))]["cell_id"]

    # a batch vector queried against the combined index finds itself
    q = batch.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    res = query_ivf_index(spark, path, q, k=1, nprobe=4)
    assert {r["query_id"] for r in res.collect()} == {
        r["vec_id"] for r in res.collect()
    }


def test_ivfpq_matches_numpy_replica(spark, sf_dir):
    """Full IVF-PQ parity against an independent numpy replica of the
    index: coarse routing (quantized-cosine, lowest-cell ties),
    residual codebook from the post-centroid donors, integer-micro
    encoding, per-(query, probed-cell) LUT scoring, (adc, vec_id)
    ranking."""
    import numpy as np
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.operators.similarity import ivfpq_adc_topk
    from arc_kinesis_tagging_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        map(tuple, ivfpq_adc_topk(e, q, k=5, nlist=8, m_subspaces=4,
                                  ksub=8, nprobe=2).collect())
    )

    rows = sorted(
        ((r["vec_id"], np.array(r["embedding"], np.float64)) for r in e.collect()),
        key=lambda t: t[0],
    )
    ids = np.array([i for i, _ in rows])
    V = np.array([v for _, v in rows])
    C = V[:8]
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def route(M):
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return np.floor((Mn @ Cn.T) * 1e12 + 0.5).astype(np.int64)

    cells = np.argmax(route(V), axis=1)
    donors = V[8:16]
    CB = donors - C[cells[8:16]]

    def micro(x):
        return np.floor(x * 1e6 + 0.5).astype(np.int64)

    R = V - C[cells]
    codes = np.empty((len(V), 4), np.int64)
    for m in range(4):
        s, t = m * 16, (m + 1) * 16
        dist = micro(((R[:, None, s:t] - CB[None, :, s:t]) ** 2).sum(axis=2))
        codes[:, m] = np.argmin(dist, axis=1)

    want = []
    for qi in range(5):
        probes = np.argsort(-route(V[qi:qi + 1])[0], kind="stable")[:2]
        cand = []
        for n, vid in enumerate(ids):
            if cells[n] not in probes:
                continue
            qr = V[qi] - C[cells[n]]
            adc = 0
            for m in range(4):
                s, t = m * 16, (m + 1) * 16
                adc += int(micro(((qr[s:t] - CB[codes[n, m], s:t]) ** 2).sum()))
            cand.append((adc, int(vid)))
        cand.sort()
        want += [(qi, vid, adc, r + 1) for r, (adc, vid) in enumerate(cand[:5])]
    assert got == sorted(want)


def test_ann_persisted_fingerprint_invalidates_on_data_change(spark, sf_dir, tmp_path):
    """The persisted-IVF path key includes a content fingerprint
    (round-7 advice fix): regenerating the embeddings under the SAME
    sf_dir must land the index at a NEW path and produce results for
    the new data, never probe the stale index."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.plans.llmops import q_ann_persisted
    from arc_kinesis_tagging_spark.sources.tables import load_table, table_fingerprint

    work = str(tmp_path / "sfcopy")
    os.makedirs(work)
    src = os.path.join(sf_dir, "embeddings.parquet")
    dst = os.path.join(work, "embeddings.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    fp1 = table_fingerprint(work, "embeddings")
    r1 = {(r["query_id"], r["rank"]): r["vec_id"]
          for r in q_ann_persisted(spark, work).collect()}
    assert r1

    # regenerate: shift every vec_id by 1000 (content change, same path)
    e = load_table(spark, "embeddings", sf_dir).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    tmp_out = str(tmp_path / "regen")
    e.write.mode("overwrite").parquet(tmp_out)
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    else:
        os.remove(dst)
    shutil.copytree(tmp_out, dst)
    fp2 = table_fingerprint(work, "embeddings")
    assert fp2 != fp1  # new content -> new fingerprint -> new index path

    r2 = q_ann_persisted(spark, work).collect()
    # probing the NEW index: queries are vec_id < 8 and no such ids
    # exist anymore, so the new-world result is empty — while a stale
    # index would happily return the old ids
    assert r2 == []


def test_ann_family_recall_ladder(spark, sf_dir):
    """Recall@5 of the approximate family against exact numpy
    baselines on the full test corpus: IVF (cosine) and IVF-PQ / ADC
    (L2) each recall a reasonable fraction of the true top-5, and the
    finer index (IVF-PQ, which re-ranks within probed cells by
    quantized residual distance) never does worse than chance. The
    asserted floors are deliberately loose — the pinned property is
    'approximate indexes stay useful', not a tuned benchmark."""
    import numpy as np
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.operators.similarity import (
        cosine_topk_ivf,
        ivfpq_adc_topk,
        pq_adc_topk,
    )
    from arc_kinesis_tagging_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = sorted(
        ((r["vec_id"], np.array(r["embedding"], np.float64)) for r in e.collect()),
        key=lambda t: t[0],
    )
    ids = np.array([i for i, _ in rows])
    V = np.array([v for _, v in rows])
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)

    def recall(got_pairs, exact_sets):
        hits = sum(
            1 for qid, vid in got_pairs if vid in exact_sets[qid]
        )
        return hits / sum(len(s) for s in exact_sets.values())

    # exact cosine top-5 per query
    S = Vn[:10] @ Vn.T
    cos_exact = {
        int(ids[qi]): set(ids[np.argsort(-S[qi], kind="stable")[:5]])
        for qi in range(10)
    }
    ivf = [(r["query_id"], r["vec_id"])
           for r in cosine_topk_ivf(e, q, k=5, nlist=16, nprobe=4).collect()]
    r_ivf = recall(ivf, cos_exact)

    # exact L2 top-5 per query
    d2 = ((V[:10, None, :] - V[None, :, :]) ** 2).sum(axis=2)
    l2_exact = {
        int(ids[qi]): set(ids[np.argsort(d2[qi], kind="stable")[:5]])
        for qi in range(10)
    }
    adc = [(r["query_id"], r["vec_id"])
           for r in pq_adc_topk(e, q, k=5).collect()]
    r_adc = recall(adc, l2_exact)
    ivfpq = [(r["query_id"], r["vec_id"])
             for r in ivfpq_adc_topk(e, q, k=5, nlist=8, ksub=8,
                                     nprobe=2).collect()]
    r_ivfpq = recall(ivfpq, l2_exact)

    print(f"recall@5 — ivf: {r_ivf:.2f}, pq-adc: {r_adc:.2f}, "
          f"ivf-pq: {r_ivfpq:.2f}")
    assert r_ivf >= 0.6, r_ivf
    assert r_adc >= 0.3, r_adc     # 4 subspaces x 16 codes is coarse
    assert r_ivfpq >= 0.3, r_ivfpq


def test_ivf_pq_retrain_detects_and_fixes_real_drift(spark):
    """Crafted drift: prior vectors cluster tightly around two coarse
    centers; batch vectors land in the same cells but offset by a
    pattern the prior-trained codebook cannot represent. The drifted
    cells must be flagged, their re-trained per-cell codebooks must
    strictly reduce the total micro-unit error, undrifted accounting
    must keep err_after == err_before, and the error bookkeeping must
    be exact (prior + batch sums == before; numpy reference parity on
    every output cell). Also pins partitioning invariance."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.similarity import ivf_pq_retrain
    from pyspark.sql import functions as F

    rng = np.random.default_rng(41)
    d, nlist, ksub, m = 8, 2, 4, 2
    centers = np.array(
        [[10.0] * d, [-10.0] * d]
    )
    rows = []
    vid = 0
    # prior: tight gaussian blobs (ids 1..40 skip %5==0 pattern below)
    for _ in range(40):
        c = centers[vid % 2]
        v = c + rng.normal(0, 0.05, d)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    # make ids such that batch = ids >= 1000 (clean predicate)
    batch_rows = []
    for j in range(20):
        c = centers[j % 2]
        # cell 0's batch drifts by a large fixed offset in the first
        # subspace; cell 1's batch matches the prior distribution
        off = np.zeros(d)
        if j % 2 == 0:
            off[: d // 2] = 3.0
        v = c + off + rng.normal(0, 0.05, d)
        batch_rows.append((1000 + j, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows + batch_rows, "vec_id long, embedding array<double>"
    )
    out = ivf_pq_retrain(
        df,
        F.col("vec_id") >= 1000,
        nlist=nlist,
        m_subspaces=m,
        ksub=ksub,
        drift_num=2,
        drift_den=1,
    )
    got = {r["cell_id"]: r for r in out.collect()}
    assert set(got) == {0, 1}

    # numpy reference: replicate the whole operator
    def micro(x):
        return np.floor(np.asarray(x) * 1e6 + 0.5).astype(np.int64)

    allv = {i: np.array(v) for i, v in rows + batch_rows}
    prior_ids = sorted(i for i in allv if i < 1000)
    C = np.array([allv[i] for i in prior_ids[:nlist]])

    def route(v):
        return int(np.argmin(micro(((v - C) ** 2).sum(axis=1))))

    cells = {i: route(v) for i, v in allv.items()}
    book_old = np.array(
        [allv[i] - C[cells[i]] for i in prior_ids[:ksub]]
    )

    def pq_err(rv, book):
        tot, dsub = 0, rv.shape[0] // m
        for mm in range(m):
            s, t = mm * dsub, (mm + 1) * dsub
            tot += int(micro(((rv[s:t] - book[:, s:t]) ** 2).sum(axis=1)).min())
        return tot

    err_old = {i: pq_err(v - C[cells[i]], book_old) for i, v in allv.items()}
    for cell in (0, 1):
        mem = sorted(i for i in allv if cells[i] == cell)
        prior_m = [i for i in mem if i < 1000]
        batch_m = [i for i in mem if i >= 1000]
        ep = sum(err_old[i] for i in prior_m)
        eb = sum(err_old[i] for i in batch_m)
        r = got[cell]
        assert (r["n_prior"], r["n_batch"]) == (len(prior_m), len(batch_m))
        assert (r["err_prior_u6"], r["err_batch_u6"]) == (ep, eb)
        assert r["err_before_u6"] == ep + eb
        drift = eb * len(prior_m) > 2 * ep * len(batch_m)
        assert r["drifted"] == drift
        if drift:
            kl = ksub // 2
            by_err = sorted(mem, key=lambda i: (-err_old[i], i))
            sel = sorted(set(mem[:kl]) | set(by_err[: ksub - kl]))
            book_new = np.array([allv[i] - C[cell] for i in sel])
            ea = sum(
                pq_err(allv[i] - C[cell], book_new) for i in mem
            )
            assert r["err_after_u6"] == ea
        else:
            assert r["err_after_u6"] == r["err_before_u6"]
            assert not r["improved"]
    # the offset cell must actually drift AND improve
    drifted_cells = [c for c, r in got.items() if r["drifted"]]
    assert drifted_cells, "crafted offset failed to trigger drift"
    for c in drifted_cells:
        assert got[c]["improved"]
        assert got[c]["err_after_u6"] < got[c]["err_before_u6"]
    # partitioning invariance
    again = {
        r["cell_id"]: r
        for r in ivf_pq_retrain(
            df.repartition(9),
            F.col("vec_id") >= 1000,
            nlist=nlist,
            m_subspaces=m,
            ksub=ksub,
            drift_num=2,
            drift_den=1,
        ).collect()
    }
    assert {c: tuple(r) for c, r in got.items()} == {
        c: tuple(r) for c, r in again.items()
    }


def test_default_nprobe_operating_point(spark, sf_dir, tmp_path):
    """Pin the shipped default nprobe=4 to the round-9 sweep's
    operating point (SCALE.md round-9: at nlist=32 the default scans
    ~12.5% of the corpus for recall@5 ~0.96+ on clustered corpora and
    ~0.78 on the worst-case unstructured fixture; callers with unknown
    corpus structure raise toward 16). The gate: the default-valued
    call must reach the index FileScan with EXACTLY 4 probe cells in
    PartitionFilters — a silent default change or a lost pushdown
    breaks this, not a 100 TB job."""
    import inspect
    import re

    from arc_kinesis_tagging_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )
    from arc_kinesis_tagging_spark.sources.tables import load_table

    assert (
        inspect.signature(query_ivf_index).parameters["nprobe"].default == 4
    )
    emb = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "ivf-default")
    build_ivf_index(spark, emb, path, nlist=8)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = query_ivf_index(spark, path, q, k=5)  # default nprobe
    phys = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*cell_id[^\]]*)\]", phys)
    assert m, phys[:2000]
    inlist = re.search(r"IN \(([\d,\s]+)\)", m.group(1))
    assert inlist, m.group(1)
    cells = re.findall(r"\d+", inlist.group(1))
    assert len(set(cells)) == 4, m.group(1)


def test_ivf_writes_are_cell_aligned(spark, sf_dir, tmp_path):
    """Build and append must write AT MOST one file per cell dir per
    pass (the round-12 fragmentation ladder measured probe latency
    linear in file count) — without the cell_id repartition each pass
    writes one file per (task, cell) pair, ~32x more on local[32]."""
    import os

    emb = load_table(spark, "embeddings", sf_dir).limit(400)
    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "ivf_aligned")
    build_ivf_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0).repartition(n), path,
        nlist=8,
    )
    from arc_kinesis_tagging_spark.operators.similarity import (
        append_ivf_index,
    )

    append_ivf_index(
        spark, emb.filter(F.col("vec_id") % 2 == 1).repartition(n), path
    )
    idx = os.path.join(path, "index")
    for d in os.listdir(idx):
        if not d.startswith("cell_id="):
            continue
        files = [
            f for f in os.listdir(os.path.join(idx, d))
            if f.startswith("part-")
        ]
        # one build pass + one append pass
        assert len(files) <= 2, (d, files)
