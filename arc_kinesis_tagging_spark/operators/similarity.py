"""Approximate-nearest-neighbor search over embedding columns.

Two strategies:

- ``cosine_topk_bruteforce`` — exact top-k: broadcast the (small) query
  set against the corpus, score with Catalyst HOF dot products, window
  top-k per query. O(N x Q) scoring but embarrassingly parallel, zero
  shuffle until the final per-query top-k (which AQE keeps tiny). The
  correctness baseline every ANN variant is judged against.
- ``cosine_topk_ivf`` — IVF-style: partition the corpus into nlist
  Voronoi cells around centroids, search only the nprobe cells nearest
  each query. Scoring cost drops to ~(nprobe/nlist) of brute force —
  the 100 TB path. Centroids here are a deterministic sample (lowest
  ids) so results are reproducible without an iterative k-means job;
  swap in pyspark.ml KMeans offline for production-quality cells.

Embeddings stay ``array<float>`` end-to-end; scoring uses built-in
``zip_with``/``aggregate`` (JVM codegen, no Python). For very wide
vectors a pandas_udf + numpy matmul per partition is the alternative;
at dim=64 the HOF path wins by avoiding Arrow transfer entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.functions.vectors import cosine_similarity


def bounded_topk_rank(
    scored: DataFrame,
    limit: int,
    order_col: str = "cos_sim",
    part_cols: tuple[str, ...] = ("query_id",),
    id_col: str = "vec_id",
    ascending: bool = False,
) -> DataFrame:
    """Rank rows within each ``part_cols`` group by (``order_col``
    DESC — or ASC with ``ascending=True`` for bottom-k sketches —
    then ``id_col`` ASC) and keep rank <= ``limit`` — without ever
    sorting a corpus-sized window partition.

    A single ``row_number() over (partition by query_id)`` puts each
    query's ENTIRE scored corpus in one task — a straggler by
    construction once the corpus outgrows one executor. This is the
    two-level form: (1) rank within (group, input-partition) — every
    window group is bounded by one input partition's rows and the
    groups hash-spread across tasks — keeping each partition's local
    top-``limit``; (2) rank the survivors (<= P * limit rows per
    group, P = input partitions) for the exact global order. The
    result is identical to the single-window form: a row in a group's
    global top-``limit`` is necessarily in the top-``limit`` of
    whichever input partition holds it, so stage 1 never drops a
    winner, and the (order DESC, id ASC) total order makes both
    levels deterministic. With ``part_cols=()`` this is a global
    top-``limit`` whose final window input is bounded by P * limit.
    """
    lead = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    order = [lead, F.col(id_col).asc()]
    local = Window.partitionBy(*part_cols, "__pid").orderBy(*order)
    pruned = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lr", F.row_number().over(local))
        .filter(F.col("__lr") <= limit)
        .drop("__pid", "__lr")
    )
    final = Window.partitionBy(*part_cols).orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(final)).filter(
        F.col("rank") <= limit
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows per ``queries`` row.

    Returns (query_id, vec_id, cos_sim, rank). Deterministic: ties in
    similarity break by vec_id. ``queries`` is broadcast — it must be
    the small side (typical: thousands of probes against billions of
    corpus vectors). The per-query rank is the two-level
    ``bounded_topk_rank``, so no task ever sorts a corpus-sized
    partition.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    scored = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cvec")
    ).join(F.broadcast(q), F.lit(True))
    scored = scored.withColumn(
        "cos_sim", cosine_similarity(F.col("__cvec"), F.col("__qvec"))
    )
    return bounded_topk_rank(scored, k).select(
        "query_id", "vec_id", "cos_sim", "rank"
    )


def _score_pairs_np(pairs: DataFrame, out_cols: list[str]) -> DataFrame:
    """Row-wise cosine over a DataFrame of (.., __cvec, __qvec) pairs
    with a vectorized numpy kernel (einsum row-dot per Arrow batch) —
    the scoring engine for candidate-pair workloads (IVF probes,
    near-dup verification) where each row pairs different vectors so a
    matmul doesn't apply. ~10x the interpreted HOF scorer."""
    import numpy as np
    import pandas as pd

    schema = ", ".join(out_cols) + ", cos_sim double"

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["__cvec"].tolist(), dtype=np.float64)
            Q = np.array(pdf["__qvec"].tolist(), dtype=np.float64)
            dots = np.einsum("ij,ij->i", V, Q)
            # zero-norm guard: without it a zero embedding yields NaN,
            # and Spark sorts NaN ABOVE every double — zero vectors
            # would rank #1 for every query. Clamped, they score 0.
            denom = np.maximum(np.linalg.norm(V, axis=1) * np.linalg.norm(Q, axis=1), 1e-12)
            sims = dots / denom
            out = pdf[[c.split()[0] for c in out_cols]].copy()
            out["cos_sim"] = sims
            yield out

    return pairs.mapInPandas(score, schema)


def _assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    rank_limit: int,
) -> DataFrame:
    """Assign each corpus vector to its ``rank_limit`` nearest centroids
    (1 for indexing, nprobe for query routing).

    Centroids are broadcast-size by construction, so they are collected
    into one numpy matrix and the whole assignment is a single NARROW
    ``mapInPandas`` pass (see ``_assign_to_centroids``)."""
    crows = sorted(
        centroids.select("cell_id", "__centroid").collect(), key=lambda r: r["cell_id"]
    )
    return _assign_to_centroids(
        corpus,
        [r["cell_id"] for r in crows],
        [r["__centroid"] for r in crows],
        id_col,
        vec_col,
        rank_limit,
    )


def _assign_to_centroids(
    corpus: DataFrame,
    cell_ids: list,
    centroid_vecs: list,
    id_col: str,
    vec_col: str,
    rank_limit: int,
    keep_sim: bool = False,
) -> DataFrame:
    """Assign each corpus vector to its ``rank_limit`` nearest of the
    given driver-side centroids: one matmul per Arrow batch, no
    shuffle, no window, no join-back (a previous windowed-rank
    formulation spent more time in its two extra shuffle stages than
    in all the math). Ties in similarity break toward the lowest
    cell_id (stable argsort over ascending cell ids). ``keep_sim``
    appends the vector-to-chosen-centroid cosine as ``__csim`` (the
    threshold join derives per-cell angular radii from it)."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    cids = np.array(cell_ids)
    C = np.array(centroid_vecs, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    bc = spark.sparkContext.broadcast((cids, Cn))

    id_type = dict(corpus.dtypes)[id_col]
    vec_type = corpus.schema[vec_col].dataType.simpleString()
    k = min(rank_limit, len(cids))
    schema = f"{id_col} {id_type}, cell_id int, {vec_col} {vec_type}" + (
        ", __csim double" if keep_sim else ""
    )

    def assign(batches):
        cids_, Cn_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            S = Vn @ Cn_.T  # n x nlist
            # stable argsort of -S: ties resolve to the lower cell_id
            top = np.argsort(-S, axis=1, kind="stable")[:, :k]
            n = len(pdf)
            out = pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), k),
                    "cell_id": cids_[top].ravel(),
                    vec_col: np.repeat(pdf[vec_col].to_numpy(), k),
                }
            )
            if keep_sim:
                out["__csim"] = np.take_along_axis(S, top, axis=1).ravel()
            yield out

    return corpus.select(id_col, vec_col).mapInPandas(assign, schema)


def _exact_cosines(X, ia, ib):
    """``functions/vectors.cosine_similarity``'s value, bit for bit, for
    the row pairs ``(X[ia], X[ib])`` of a float64 matrix: the HOF sums
    the double products left to right from 0.0 (so does this, one
    vectorized add per dimension — numpy's own sums are pairwise and
    would round differently), takes each norm the same way, and divides
    by ``max(sqrt(na) * sqrt(nb), 1e-12)``. O(len(ia)) memory."""
    import numpy as np

    dot = np.zeros(len(ia))
    sq = np.zeros(len(X))
    for col in X.T.copy():  # contiguous rows: one per dimension
        dot += col[ia] * col[ib]
        sq += col * col
    norm = np.sqrt(sq)
    return dot / np.maximum(norm[ia] * norm[ib], 1e-12)


def cosine_threshold_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    stats: dict | None = None,
) -> DataFrame:
    """EXACT cosine-threshold self-join (all pairs with
    ``cos(a, b) >= threshold``) without the quadratic cross product.

    Strategy — triangle-inequality pruning over IVF cells:

    1. collect the ``nlist`` lowest-id vectors as centroids (1 job);
    2. assign every vector to its nearest centroid in one narrow pass,
       pinned (1 job);
    3. each task reports its smallest member-to-centroid cosine per
       cell (1 job, at most tasks x nlist rows); the driver turns them
       into each cell's angular radius ``r_c`` = max angle between a
       member and its centroid;
    4. on the driver, keep the cell pairs whose centroid angle is <=
       ``theta_max + r_a + r_b``. For any qualifying vector pair,
       ``angle(c_a, c_b) <= angle(a, b) + r_a + r_b`` by the triangle
       inequality on the sphere, so no qualifying pair is ever pruned —
       the result is exactly the brute-force set, which is why the
       all-pairs SQL form can stay as this operator's oracle;
    5. replicate each vector once per candidate cell of its own cell
       (on the JVM: ``explode`` over a literal cell -> candidate-cells
       map), shuffle once on the candidate cell, and score each cell's
       group in one Python kernel (the exchange's map stage and the
       result stage are the last 2 jobs).

    The kernel (``block_score``) filters with a slabbed GEMM over
    normalized vectors, whose 1e-6 slack is orders of magnitude above
    its disagreement with the exact value (<1e-12), so no qualifying
    pair is lost; for the GEMM's hits only it computes
    ``functions/vectors.cosine_similarity``'s value bit for bit and
    keeps ``cos_sim >= threshold``. SQL oracles round and compare that
    value, so there is no join-back and no HOF re-score.

    At 100 TB: nlist scales to thousands (cells stay driver-side
    metadata — nlist^2 centroid comparisons are one small matmul), the
    big shuffle is keyed by cell instead of exploding N^2, and pruning
    power grows with centroid quality (swap the deterministic seed
    centroids for a k-means fit offline). One group holds one cell's
    members plus the vectors replicated to it from its candidate
    cells. Worst case (useless centroids) degrades to the cross join's
    cost but never to wrong answers. ``stats`` receives ``nlist`` and
    the surviving (ordered) cell-pair count, at no extra job.

    Zero-norm vectors score cos 0 against everything (see
    ``cosine_similarity``), so for thresholds > 0 they can't qualify
    and their non-metric "angle" can't break the pruning bound.
    """
    import math

    import numpy as np
    import pandas as pd

    if not (-1.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (-1, 1], got {threshold}")
    # null embeddings would crash the numpy kernels (object arrays);
    # they can't qualify for any positive threshold, so drop up front
    df = df.filter(F.col(vec_col).isNotNull())
    id_type = dict(df.dtypes)[id_col]
    schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"
    # slack absorbs float-ulp disagreement between the numpy assignment
    # scores and the exact verification cosine
    theta_max = math.acos(max(-1.0, threshold - 1e-9)) + 1e-6

    cent = [
        r[0] for r in df.orderBy(F.col(id_col).asc()).limit(nlist).select(vec_col).collect()
    ]
    if stats is not None:
        stats["nlist"] = nlist
        stats["n_cell_pairs"] = 0
    if not cent:
        return df.sparkSession.createDataFrame([], schema)
    cell_ids = list(range(1, len(cent) + 1))
    assigned = _assign_to_centroids(
        df, cell_ids, cent, id_col, vec_col, rank_limit=1, keep_sim=True
    ).localCheckpoint(eager=True)
    # ^ read by the radii job and the scoring plan; without the pin each
    # re-scores. localCheckpoint instead of persist(): the returned plan
    # has no unpersist point, and ContextCleaner reclaims checkpoint
    # blocks on GC where persist() would leak for the session.

    def min_csim(batches):
        lows = [pdf.groupby("cell_id")["__csim"].min() for pdf in batches if len(pdf)]
        if lows:
            low = pd.concat(lows).groupby(level=0).min()
            yield pd.DataFrame({"cell_id": low.index, "__csim": low.to_numpy()})

    # bounded: tasks x nlist rows; pandas' min skips the NaN cosines of
    # NaN vectors, which can never pass the kernel's filter
    low = (
        assigned.select("cell_id", "__csim")
        .mapInPandas(min_csim, "cell_id int, __csim double")
        .toPandas()
        .groupby("cell_id")["__csim"]
        .min()
    )
    cells = [int(c) for c in low.index]  # empty cells have no members
    radii = np.arccos(np.clip(low.to_numpy(), -1.0, 1.0))
    C = np.array([cent[c - 1] for c in cells], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    angle = np.arccos(np.clip(Cn @ Cn.T, -1.0, 1.0))
    keep = angle <= theta_max + radii[:, None] + radii[None, :]
    # a cell's own members always meet in its group, whatever its
    # radius (NaN for a cell holding only NaN vectors)
    np.fill_diagonal(keep, True)
    if stats is not None:
        stats["n_cell_pairs"] = int(keep.sum())
    ids = np.array(cells, dtype=np.int32)
    cand = F.create_map(
        *[x for i, c in enumerate(cells) for x in (F.lit(c), F.lit(ids[keep[i]]))]
    )

    # Blocked-GEMM verification: materializing one row PER PAIR (each
    # carrying two full vectors) makes data volume scale with pair
    # count — at 2k vectors that is already 4 GB through Arrow. Instead
    # each vector is replicated once per CANDIDATE CELL (not per pair)
    # and tagged with its own cell; the group of cell c holds c's
    # members (own cell c: the b side) and every vector whose cell has
    # c as a candidate (the a side, c's members included), so transfer
    # scales with rows x avg-candidate-cells and one Exchange serves
    # both sides. At 100 TB, oversized cells sub-chunk by hashing ids
    # into the group key (bounds per-group memory) — with each group
    # independent, the shuffle key count grows and the GEMMs stay
    # cache-sized.
    slack = threshold - 1e-6

    def block_score(pdf: pd.DataFrame) -> pd.DataFrame:
        own = np.flatnonzero((pdf["cell_id"] == pdf["__key"]).to_numpy())
        V = np.array(pdf["__vec"].tolist(), dtype=np.float64)
        ids_a = pdf["__id"].to_numpy()
        ids_b = ids_a[own]
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        Wn = Vn[own]
        # Slab the GEMM: a full |a| x |b| score matrix is O(na*nb)
        # doubles PER TASK — with weak pruning and 32 concurrent tasks
        # that exhausts executor memory (observed: 80k x 2.5k = 1.6 GB
        # each). ~4M-cell slabs keep each task's working set ~32 MB
        # with identical results.
        step = max(1, 4_000_000 // len(ids_b))
        hits_a, hits_b = [], []
        for s in range(0, len(ids_a), step):
            Sl = Vn[s : s + step] @ Wn.T
            # id_a < id_b both dedupes (each unordered pair meets in
            # exactly one direction: in the group of its larger id's
            # cell) and drops self-pairs
            ia, ib = np.nonzero(
                (Sl >= slack) & (ids_a[s : s + step, None] < ids_b[None, :])
            )
            hits_a.append(ia + s)
            hits_b.append(own[ib])
        # rows of V on both sides; only the GEMM's hits get the exact value
        ia, ib = np.concatenate(hits_a), np.concatenate(hits_b)
        sims = _exact_cosines(V, ia, ib)
        ok = sims >= threshold
        return pd.DataFrame(
            {"id_a": ids_a[ia[ok]], "id_b": ids_a[ib[ok]], "cos_sim": sims[ok]}
        )

    return (
        assigned.select(
            F.explode(F.element_at(cand, F.col("cell_id"))).alias("__key"),
            "cell_id",
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
        )
        .groupBy("__key")
        .applyInPandas(block_score, schema)
    )


def cosine_topk_bruteforce_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k with a numpy matmul scoring kernel: the query
    set (small side) is collected, L2-normalized, and broadcast; each
    Arrow batch of corpus vectors scores against the whole query matrix
    in ONE BLAS matmul. 12x faster than the expression-HOF scorer at
    80k x 100 (HOFs evaluate interpreted per element; BLAS is
    vectorized) — use this for scoring-bound workloads; the HOF variant
    (`cosine_topk_bruteforce`) stays bit-deterministic per element for
    oracle comparison.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    # null vectors crash the numpy kernels and can't rank anyway
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    qrows = queries.filter(F.col(vec_col).isNotNull()).select(
        query_id_col, vec_col
    ).collect()
    Q = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    qids = np.array([r[query_id_col] for r in qrows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    b = spark.sparkContext.broadcast((qids, Qn))

    def score(batches):
        qids_, Qn_ = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            S = Vn @ Qn_.T
            n, q = S.shape
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf[id_col].to_numpy(), q),
                    "query_id": np.tile(qids_, n),
                    "cos_sim": S.ravel(),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, "vec_id long, query_id long, cos_sim double"
    )
    return bounded_topk_rank(scored, k).select(
        "query_id", "vec_id", "cos_sim", "rank"
    )


def build_ivf_index(
    spark,
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "sample",
    kmeans_iters: int = 5,
) -> None:
    """Persist an IVF index: corpus assigned to Voronoi cells and
    written PARTITIONED BY cell_id, plus a centroids table.

    Partitioning by cell is the point: a query batch that probes
    ``nprobe`` cells reads only those directories (static partition
    pruning), so query cost scales with nprobe/nlist of the corpus —
    the build-once / query-many shape for embedding search at scale.

    ``train="sample"`` (default) seeds cells from the nlist lowest-id
    vectors — deterministic and build-cheap. ``train="kmeans"`` refines
    that same seed with ``kmeans_lloyd`` (bit-deterministic Lloyd
    iterations), which evens out cell populations so worst-case probe
    cost drops — the production setting when build time is amortized
    over many query batches.
    """
    if train == "kmeans":
        _assignments, C, _iters = kmeans_lloyd(
            corpus, id_col=id_col, vec_col=vec_col, k=nlist,
            max_iters=kmeans_iters,
        )
        centroids = spark.createDataFrame(
            [(i + 1, C[i].tolist()) for i in range(C.shape[0])],
            f"cell_id int, __centroid {corpus.schema[vec_col].dataType.simpleString()}",
        )
    else:
        centroids = (
            corpus.orderBy(F.col(id_col).asc())
            .limit(nlist)
            .select(
                # unpartitioned window over a .limit(nlist) input: nlist<=16
                # rows by construction, a constant — never corpus-sized
                # (see tests/test_plan_shapes.py::test_global_window_allowlist)
                F.row_number().over(Window.orderBy(F.col(id_col).asc())).alias("cell_id"),
                F.col(vec_col).alias("__centroid"),
            )
        )
    assigned = _assign_cells(corpus, F.broadcast(centroids), id_col, vec_col, rank_limit=1)
    # repartition by cell_id so each cell's rows land in ONE task ->
    # one file per cell dir, not one per (task, cell) pair: without
    # this a 10k-task build over 4096 cells writes 40M files (the
    # round-12 fragmentation ladder measured probe cost linear in
    # file count at ~0.33 ms/file). One extra corpus shuffle at
    # build time, the same alignment compact_partitioned restores.
    assigned.repartition(F.col("cell_id")).write.mode(
        "overwrite"
    ).partitionBy("cell_id").parquet(path + "/index")
    centroids.select("cell_id", F.col("__centroid").alias(vec_col)).write.mode(
        "overwrite"
    ).parquet(path + "/centroids")


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_dp: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k against a persisted IVF index: route each query to its
    ``nprobe`` nearest cells, scan ONLY those cell partitions, score,
    rank. Returns (query_id, vec_id, cos_sim, rank).

    ``exclude_self`` drops index rows whose vec_id equals the query's
    id BEFORE ranking — for callers whose query batch may already be
    (partially or repeatedly) present in the index, e.g. the streaming
    embedding dedup gate replaying an append-then-crash epoch: an
    after-rank filter caps how many self-rows it can see past (a
    twice-replayed append leaves TWO self-rows, exhausting k=2),
    whereas the pre-rank filter is immune to any number of duplicate
    self-rows. Plain filter on the probed cells, no extra shuffle.

    ``round_dp`` switches the final ranking to the ``round_dp``-rounded
    similarity (column ``cos{round_dp}``) with vec_id tiebreak, making
    the selected set bit-identical across engines despite float ulp
    differences — the cross-engine-oracle convention shared with
    ``q_similarity_topk``.

    Sizing (measured, SCALE.md rounds 10-11): on skewed corpora the
    scan-cost lever is NLIST at build time, not nprobe — at 80k
    vectors / nprobe=4, scanned_frac fell 39.7% -> 3.6% going
    nlist 32 -> 512 with recall pinned at 1.0, while raising nprobe
    only ever scans MORE. Size nlist so corpus_rows/nlist is roughly
    100-200x the top-k; under replica-cluster skew expect
    scanned_frac ~ 4-5x the uniform nprobe/nlist."""
    centroids = F.broadcast(
        spark.read.parquet(path + "/centroids").select(
            "cell_id", F.col(vec_col).alias("__centroid")
        )
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col))
    probes = _assign_cells(q, centroids, "query_id", vec_col, rank_limit=nprobe).select(
        F.col("query_id"), F.col(vec_col).alias("__qvec"), "cell_id"
    )
    # the union of probe cells across the batch is tiny -> collect it
    # and push an IN-list filter so partition pruning skips the rest
    probe_cells = [r["cell_id"] for r in probes.select("cell_id").distinct().collect()]
    index = (
        spark.read.parquet(path + "/index")
        .filter(F.col("cell_id").isin(probe_cells))
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cvec"), "cell_id")
    )
    scored = _score_pairs_np(
        index.join(probes, "cell_id"), ["query_id long", "vec_id long"]
    )
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("query_id"))
    if round_dp is not None:
        sim = f"cos{round_dp}"
        scored = scored.withColumn(sim, F.round(F.col("cos_sim"), round_dp))
    else:
        sim = "cos_sim"
    w = Window.partitionBy("query_id").orderBy(F.col(sim).desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", sim, "rank")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize corpus into ``nlist``
    cells, probe the ``nprobe`` nearest cells per query.

    Returns (query_id, vec_id, cos_sim, rank). At 100 TB the assignment
    table is computed once and persisted (bucketed by cell_id) so query
    batches shuffle only their probe cells.
    """
    centroids = F.broadcast(
        corpus.orderBy(F.col(id_col).asc())
        .limit(nlist)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col(id_col).asc()))
            .alias("cell_id"),
            F.col(vec_col).alias("__centroid"),
        )
    )
    indexed = _assign_cells(corpus, centroids, id_col, vec_col, rank_limit=1).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cvec"), "cell_id"
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    probes = _assign_cells(
        q.withColumnRenamed("__qvec", vec_col), centroids, "query_id", vec_col, rank_limit=nprobe
    ).select(F.col("query_id"), F.col(vec_col).alias("__qvec"), "cell_id")

    scored = _score_pairs_np(
        indexed.join(probes, "cell_id"), ["query_id long", "vec_id long"]
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def srp_lsh_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """PROBABILISTIC cosine near-dup candidates: signed-random-projection
    LSH (Charikar hyperplane hashing) with banding, then exact cosine
    verification of the candidates.

    This is the complement of ``cosine_threshold_pairs``: the exact
    cell-bound join guarantees recall 1.0 but its pruning power is
    data-dependent (zero on unstructured corpora); SRP-LSH prunes on
    ANY distribution — collision probability per bit is 1 - angle/pi,
    so a band of width w collides with p^w and recall over L bands is
    1 - (1 - p^w)^L, tunable via (n_bits, bands) for the target
    threshold. Use LSH when near-everything is far apart (web-scale
    dedup at high thresholds); use the exact join when a recall
    guarantee is required.

    Plan shape: one narrow mapInPandas signature pass (V @ R > 0, R a
    seed-deterministic hyperplane matrix), band-key explode, bucket
    self-join on (band, key) — identical shuffle shape to MinHash-LSH
    (operators/dedup.py), shuffling 8-byte band keys, never vectors —
    then candidate verification through the numpy kernel.
    """
    import numpy as np
    import pandas as pd

    if n_bits % bands != 0:
        raise ValueError("n_bits must divide evenly into bands")
    width = n_bits // bands
    spark = df.sparkSession
    # null embeddings would crash the signature kernel; they can't be
    # near-duplicates of anything, so drop up front
    df = df.filter(F.col(vec_col).isNotNull())
    first = df.select(vec_col).first()
    if first is None:
        return spark.createDataFrame(
            [], f"id_a {dict(df.dtypes)[id_col]}, id_b {dict(df.dtypes)[id_col]}, cos_sim double"
        )
    dim = len(first[0])
    R = np.random.default_rng(seed).standard_normal((dim, n_bits))
    bc = spark.sparkContext.broadcast(R)
    id_type = dict(df.dtypes)[id_col]

    def signatures(batches):
        R_ = bc.value
        weights = (1 << np.arange(width, dtype=np.int64))
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (V @ R_) > 0  # n x n_bits
            out = {id_col: pdf[id_col].to_numpy()}
            cols = {}
            for b in range(bands):
                seg = bits[:, b * width : (b + 1) * width].astype(np.int64)
                cols[f"band{b}"] = seg @ weights
            yield pd.DataFrame({**out, **cols})

    band_schema = ", ".join([f"{id_col} {id_type}"] + [f"band{b} long" for b in range(bands)])
    sigs = df.select(id_col, vec_col).mapInPandas(signatures, band_schema)
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("key"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.select(F.col(id_col).alias("id_a"), "band", "key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "key")
    cands = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__cvec"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__qvec"))
    scored = _score_pairs_np(
        cands.join(va, "id_a").join(vb, "id_b"),
        [f"id_a {id_type}", f"id_b {id_type}"],
    )
    return scored.filter(F.col("cos_sim") >= threshold)


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    quant: int = 10_000,
) -> DataFrame:
    """Exact covariance matrix of an embedding column — the one-pass
    Gram-matrix aggregate behind PCA whitening, drift monitoring, and
    dimension pruning on a 100 TB embedding store.

    Each partition computes an integer Gram block with one numpy
    matmul (Q^T Q over elements quantized to floor(v*quant) — exact
    int64, no float drift), plus per-dimension sums and a count; the
    shuffle then carries ONE d x d block per partition, never rows.
    The final covariance (n*Sij - Si*Sj) / (n^2 * quant^2) is a single
    deterministic double division of exact integers, so the result is
    bit-identical across engines, run orders, and partitionings.

    For d in the thousands the d^2-per-partition block still beats any
    row-explode formulation (which would shuffle d^2 rows per VECTOR);
    the quantization trades ~1/quant absolute precision for exactness,
    the same trick q_vector_centroid uses.
    """
    import numpy as np
    import pandas as pd

    def gram(batches):
        g = None
        s = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * quant
            ).astype(np.int64)
            if g is None:
                d = q.shape[1]
                g = np.zeros((d, d), np.int64)
                s = np.zeros(d, np.int64)
            g += q.T @ q
            s += q.sum(axis=0)
            n += q.shape[0]
        if g is None:
            return
        d = g.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": iu + 1,
                "j": ju + 1,
                "sij": g[iu, ju],
                "si": s[iu],
                "sj": s[ju],
                "n": np.full(len(iu), n, np.int64),
            }
        )

    partials = df.select(vec_col).mapInPandas(
        gram, "i int, j int, sij long, si long, sj long, n long"
    )
    # global sums and the n*Sij - Si*Sj numerator ride decimal(38,0):
    # per-partition int64 blocks are safe (bounded by partition size,
    # documented above), but at corpus scale Si*Sj ~ (quant*n)^2 blows
    # through int64 — the exactness guarantee must hold at exactly the
    # scale this operator advertises (same rule as q_anomaly_zscore)
    d0 = "decimal(38,0)"
    agg = partials.groupBy("i", "j").agg(
        F.sum(F.col("sij").cast(d0)).alias("sij"),
        F.sum(F.col("si").cast(d0)).alias("si"),
        F.sum(F.col("sj").cast(d0)).alias("sj"),
        F.sum("n").alias("n"),
    )
    numer = (
        F.col("n").cast(d0) * F.col("sij") - F.col("si") * F.col("sj")
    ).cast("double")
    denom = F.col("n").cast("double") * F.col("n") * float(quant) * quant
    return agg.select("i", "j", (numer / denom).alias("cov"))


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    max_iters: int = 10,
    quant: int = 1_000_000,
):
    """Distributed Lloyd's k-means — the real centroid trainer behind
    IVF cells (``build_ivf_index`` uses a deterministic id sample; this
    is the production-quality upgrade the module docstring promised).

    Per iteration: (1) assignment is one numpy matmul per Arrow batch
    against the broadcast centroid matrix (argmin squared Euclidean;
    ties break to the lowest cell id via stable argsort) — map-side,
    zero shuffle; (2) the update emits ONE (k x d) integer partial-sum
    block per partition (elements quantized to floor(v*quant), exact
    int64 — the q_vector_centroid trick), merged on the driver. Driver
    traffic is k*P*d ints per iteration — bounded by partition count,
    never by rows. Centroid means are exact-integer divisions, so the
    whole trajectory is bit-deterministic across engines, reruns, and
    partitionings. Stops early when no quantized centroid moves.

    Init is deterministic: the k lowest-id vectors. Returns
    (assignments DataFrame with cell_id, centroid numpy matrix,
    n_iters_run). Empty cells keep their previous centroid.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    init_rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    if not init_rows:
        raise ValueError("kmeans_lloyd: input has no rows")
    # fewer rows than requested clusters: clamp k (each row its own
    # cluster) — mirrors build_ivf_index's limit(nlist) behavior
    k = len(init_rows)
    C = np.array([r[vec_col] for r in init_rows], dtype=np.float64)
    d = C.shape[1]
    base = df.select(id_col, vec_col)

    def make_update(bc):
        def update(batches):
            C_ = bc.value
            sums = np.zeros((len(C_), d), np.int64)
            counts = np.zeros(len(C_), np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                # squared Euclidean argmin via the expanded form; the
                # stable argsort tie-break matches _assign_cells
                d2 = (V * V).sum(1, keepdims=True) - 2 * V @ C_.T + (
                    C_ * C_
                ).sum(1)
                cell = np.argsort(d2, axis=1, kind="stable")[:, 0]
                Q = np.floor(V * quant).astype(np.int64)
                np.add.at(sums, cell, Q)
                np.add.at(counts, cell, 1)
            rows = [
                (int(c), sums[c].tolist(), int(counts[c]))
                for c in range(len(C_))
                if counts[c] > 0
            ]
            yield pd.DataFrame(rows, columns=["cell_id", "qsums", "n"])

        return update

    iters_run = 0
    for _ in range(max_iters):
        bc = spark.sparkContext.broadcast(C)
        partials = base.mapInPandas(
            make_update(bc), "cell_id int, qsums array<long>, n long"
        ).collect()
        iters_run += 1
        sums = np.zeros((k, d), np.int64)
        counts = np.zeros(k, np.int64)
        for r in partials:
            sums[r["cell_id"]] += np.array(r["qsums"], np.int64)
            counts[r["cell_id"]] += r["n"]
        newC = C.copy()
        nz = counts > 0
        newC[nz] = sums[nz] / counts[nz, None] / float(quant)
        if np.array_equal(
            np.floor(newC * quant).astype(np.int64),
            np.floor(C * quant).astype(np.int64),
        ):
            C = newC
            break
        C = newC

    bc = spark.sparkContext.broadcast(C)

    def assign(batches):
        C_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d2 = (V * V).sum(1, keepdims=True) - 2 * V @ C_.T + (C_ * C_).sum(1)
            cell = np.argsort(d2, axis=1, kind="stable")[:, 0]
            yield pd.DataFrame({id_col: pdf[id_col], "cell_id": cell})

    id_type = dict(df.dtypes)[id_col]
    assignments = base.mapInPandas(assign, f"{id_col} {id_type}, cell_id int")
    return assignments, C, iters_run


def pq_assign(
    embeddings: DataFrame,
    m_subspaces: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization code assignment (Jégou et al., the
    workhorse of billion-scale ANN memory compression): the vector is
    split into ``m_subspaces`` contiguous subvectors, each quantized
    to its nearest of ``ksub`` subspace centroids, compressing d
    floats to m small codes (here 64 floats -> 4 bytes).

    Deterministic end to end so a SQL oracle can replicate it:
    centroids are the ``ksub`` lowest-id vectors' subvectors (the
    IVF-family convention; swap in per-subspace k-means offline for
    production-quality codebooks), squared-L2 distances are quantized
    to INTEGER micro-units (half-up at 1e-6) before the argmin — so
    ulp-scale engine drift collapses before any comparison AND the
    per-vector error total is an order-independent integer sum (a
    float SUM of the chosen distances proved flaky: the addition
    order of a parallel aggregate varies run to run, flipping a
    rounded 4th decimal) — with ties toward the lowest code. The
    codebook is a bounded collect (ksub rows); assignment is one
    narrow mapInPandas pass — a blocked (batch x ksub) GEMM per
    subspace, no shuffle, no window. Returns (vec_id,
    code0..code{m-1}, err_u6) with err_u6 = total squared
    reconstruction error in 1e-6 units.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    crows = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(ksub)
        .collect()
    )  # bounded: ksub rows
    C = np.array([r[vec_col] for r in crows], dtype=np.float64)
    d = C.shape[1]
    assert d % m_subspaces == 0, "dim must split evenly into subspaces"
    dsub = d // m_subspaces
    b = spark.sparkContext.broadcast(C)

    code_cols = [f"code{m}" for m in range(m_subspaces)]
    schema = (
        f"{id_col} long, "
        + ", ".join(f"{c} int" for c in code_cols)
        + ", err_u6 long"
    )

    def assign(batches):
        C_ = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            n = len(V)
            out = {id_col: pdf[id_col].to_numpy()}
            err = np.zeros(n, np.int64)
            for m in range(m_subspaces):
                s, e = m * dsub, (m + 1) * dsub
                diff = V[:, None, s:e] - C_[None, :, s:e]
                # HALF-UP integer micro-units (floor(x*1e6 + 0.5)):
                # matches DuckDB/Spark round-half-away for the
                # non-negative distances, unlike np.round's half-even
                dist = np.floor(
                    (diff * diff).sum(axis=2) * 1e6 + 0.5
                ).astype(np.int64)
                codes = np.argmin(dist, axis=1)  # first min = lowest code
                out[f"code{m}"] = codes.astype(np.int32)
                err += dist[np.arange(n), codes]
            out["err_u6"] = err
            yield pd.DataFrame(out)

    return (
        embeddings.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(assign, schema)
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_subspaces: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: the search half of product
    quantization — each query builds an (m x ksub) lookup table of
    exact query-subvector-to-centroid distances, and every corpus
    vector is scored from its CODES ALONE by m table lookups (the
    production shape stores only the codes; here they come from
    ``pq_assign`` inline). Distances live in integer micro-units end
    to end (same half-up 1e-6 quantization as pq_assign), so lookup
    sums are order-independent and the DuckDB oracle replicates the
    pipeline exactly. Ranking is the two-level ``bounded_topk_rank``
    (ascending): no task sorts one query's full corpus. Returns
    (query_id, vec_id, adc_u6, rank).
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    crows = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(ksub)
        .collect()
    )  # bounded: ksub rows
    C = np.array([r[vec_col] for r in crows], dtype=np.float64)
    d = C.shape[1]
    dsub = d // m_subspaces
    qrows = queries.select(query_id_col, vec_col).collect()  # bounded query set
    Q = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    qids = np.array([r[query_id_col] for r in qrows], dtype=np.int64)
    ksub_eff = len(C)  # a tiny corpus yields fewer centroids than ksub
    lut = np.empty((len(qrows), m_subspaces, ksub_eff), dtype=np.int64)
    for m in range(m_subspaces):
        s, e = m * dsub, (m + 1) * dsub
        diff = Q[:, None, s:e] - C[None, :, s:e]
        lut[:, m, :] = np.floor((diff * diff).sum(axis=2) * 1e6 + 0.5)
    b = spark.sparkContext.broadcast((qids, lut))

    codes = pq_assign(embeddings, m_subspaces, ksub, id_col, vec_col)
    code_cols = [f"code{m}" for m in range(m_subspaces)]

    def score(batches):
        qids_, lut_ = b.value
        nq = len(qids_)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            cm = pdf[code_cols].to_numpy()  # (n, m)
            adc = np.zeros((nq, n), np.int64)
            for m in range(lut_.shape[1]):
                adc += lut_[:, m, :][:, cm[:, m]]  # (nq, n) gather
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_, n),
                    "vec_id": np.tile(pdf[id_col].to_numpy(), nq),
                    "adc_u6": adc.reshape(-1),
                }
            )

    scored = codes.mapInPandas(
        score, "query_id long, vec_id long, adc_u6 long"
    )
    return bounded_topk_rank(
        scored, k, order_col="adc_u6", id_col="vec_id", ascending=True
    ).select(
        "query_id", "vec_id", "adc_u6", F.col("rank").cast("long").alias("rank")
    )


def append_ivf_index(
    spark,
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add a batch to a PERSISTED IVF index: assign the
    new vectors to the index's EXISTING centroids (no retrain — the
    Voronoi geometry is frozen, so old cells stay valid and probes
    need no re-routing) and append their rows to the cell partitions.
    The production shape for a growing corpus: ingest appends only the
    batch (one narrow assignment pass + a partitioned append),
    queries keep amortizing the original build. Retraining (when cell
    occupancy skews after much growth) is a fresh build_ivf_index at
    a new path."""
    centroids = F.broadcast(
        spark.read.parquet(path + "/centroids").select(
            "cell_id", F.col(vec_col).alias("__centroid")
        )
    )
    assigned = _assign_cells(batch, centroids, id_col, vec_col, rank_limit=1)
    # cell-aligned append: at most ONE file per touched cell per batch
    # (vs one per (task, cell) pair) — the batch-sized shuffle is
    # negligible and keeps index fragmentation bounded by the
    # compaction cadence (see streaming/dedup_gate.py docstring)
    assigned.repartition(F.col("cell_id")).write.mode(
        "append"
    ).partitionBy("cell_id").parquet(path + "/index")


def ivfpq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 8,
    m_subspaces: int = 4,
    ksub: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ asymmetric search — the FAISS-style production index for
    billion-scale ANN: a coarse IVF quantizer routes vectors to cells,
    the RESIDUAL (vector minus its cell centroid) is product-quantized
    (so codes spend their bits on the within-cell detail the coarse
    quantizer cannot express), and queries probe nprobe cells scoring
    codes with a per-(query, cell) lookup table over the query's OWN
    residual in that cell.

    Deterministic conventions (all oracle-replicable): coarse
    centroids = the nlist lowest-id vectors (cosine argmax assignment,
    ties to the lowest cell — the IVF-family convention); PQ codebook
    = the residuals of the NEXT ksub lowest-id vectors (the coarse
    centroids' own residuals are zero and would degenerate the
    codebook); all PQ distances in integer micro-units (half-up 1e-6)
    with lowest-code ties; final ranking the two-level bounded top-k
    (ascending, vec_id ties). Everything driver-side is a bounded
    collect (nlist + ksub + |queries| rows); corpus work is one
    narrow encode pass and one code-gather scoring pass filtered to
    probed cells before its only shuffle.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    head = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(nlist + ksub)
        .collect()
    )  # bounded: nlist + ksub rows
    C = np.array([r[vec_col] for r in head[:nlist]], dtype=np.float64)
    nlist_eff = len(C)
    donors = np.array(
        [r[vec_col] for r in head[nlist_eff:]], dtype=np.float64
    )
    if donors.size == 0:
        raise ValueError(
            "ivfpq_adc_topk needs more than nlist vectors: the residual "
            "codebook trains on the vectors after the coarse centroids"
        )
    d = C.shape[1]
    dsub = d // m_subspaces
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def route_scores(V):
        # routing cosine quantized to 1e-12 integer units: a vector
        # EXACTLY equidistant from two centroids ties on the quantized
        # score and breaks toward the lowest cell in BOTH engines —
        # unrounded doubles let ~1e-18 evaluation-order noise pick
        # different cells (normalize-then-dot here vs dot-then-divide
        # in SQL), which the adversarial fixture reproduces
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        return np.floor((Vn @ Cn.T) * 1e12 + 0.5).astype(np.int64)

    def coarse_cells(V):
        return np.argmax(route_scores(V), axis=1)  # first max = lowest cell

    donor_cells = coarse_cells(donors)
    CB = donors - C[donor_cells]  # (ksub_eff, d) residual codebook
    ksub_eff = len(CB)

    def micro(x):
        return np.floor(x * 1e6 + 0.5).astype(np.int64)

    qrows = queries.select(query_id_col, vec_col).collect()  # bounded
    Q = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    qids = np.array([r[query_id_col] for r in qrows], dtype=np.int64)
    nprobe_eff = min(nprobe, nlist_eff)
    # ties to the lowest cell: stable argsort over ascending cell ids
    probe_cells = np.argsort(-route_scores(Q), axis=1, kind="stable")[:, :nprobe_eff]
    # LUT[qi, cell, m, code] over the query's residual in that cell
    lut = np.empty((len(qrows), nlist_eff, m_subspaces, ksub_eff), np.int64)
    for qi in range(len(qrows)):
        for cell in range(nlist_eff):
            qr = Q[qi] - C[cell]
            for m in range(m_subspaces):
                s, e = m * dsub, (m + 1) * dsub
                diff = qr[s:e][None, :] - CB[:, s:e]
                lut[qi, cell, m, :] = micro((diff * diff).sum(axis=1))
    b = spark.sparkContext.broadcast(
        (C, Cn, CB, qids, probe_cells, lut)
    )

    def encode(batches):
        C_, Cn_, CB_, _qids, _pc, _lut = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cells = coarse_cells(V)
            R = V - C_[cells]
            out = {id_col: pdf[id_col].to_numpy(), "cell": cells.astype(np.int32)}
            for m in range(m_subspaces):
                s, e = m * dsub, (m + 1) * dsub
                diff = R[:, None, s:e] - CB_[None, :, s:e]
                dist = micro((diff * diff).sum(axis=2))
                out[f"code{m}"] = np.argmin(dist, axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    code_schema = (
        f"{id_col} long, cell int, "
        + ", ".join(f"code{m} int" for m in range(m_subspaces))
    )
    codes = (
        embeddings.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(encode, code_schema)
    )

    def score(batches):
        _C, _Cn, _CB, qids_, pc_, lut_ = b.value
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            cells = pdf["cell"].to_numpy()
            cm = pdf[[f"code{m}" for m in range(m_subspaces)]].to_numpy()
            frames = []
            for qi in range(len(qids_)):
                mask = np.isin(cells, pc_[qi])
                if not mask.any():
                    continue
                cc, codes_m = cells[mask], cm[mask]
                adc = np.zeros(len(cc), np.int64)
                for m in range(m_subspaces):
                    adc += lut_[qi, cc, m, codes_m[:, m]]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(cc), qids_[qi]),
                            "vec_id": pdf[id_col].to_numpy()[mask],
                            "adc_u6": adc,
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = codes.mapInPandas(score, "query_id long, vec_id long, adc_u6 long")
    return bounded_topk_rank(
        scored, k, order_col="adc_u6", id_col="vec_id", ascending=True
    ).select(
        "query_id", "vec_id", "adc_u6", F.col("rank").cast("long").alias("rank")
    )


def opq_train(
    embeddings: DataFrame,
    m_subspaces: int = 4,
    ksub: int = 16,
    opq_iters: int = 8,
    lloyd_iters: int = 10,
    sample_n: int = 512,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train an Optimized Product Quantizer (Ge et al., CVPR 2013,
    "Optimized Product Quantization" — the non-parametric OPQ-NP
    alternation): learn an orthogonal rotation R (d x d) and per-
    subspace codebooks C (m x ksub x d/m) minimizing the quantization
    error ||X R - Q(X R)||^2, by alternating (1) Lloyd k-means per
    subspace on the rotated sample and (2) the orthogonal-Procrustes
    solve R = U V^T from the SVD of X^T Y, where Y is the
    reconstruction. Plain PQ is the special case R = I, so OPQ's
    training error is non-increasing vs PQ by construction — a
    property the tests pin.

    Scale shape: training runs DRIVER-SIDE on a bounded deterministic
    sample (the ``sample_n`` lowest-id vectors — FAISS trains OPQ on a
    bounded sample at any corpus size; d x d Procrustes and m small
    k-means problems are microseconds at d=64). The corpus itself is
    never collected; assignment (``opq_assign``) broadcasts R + C and
    runs one map-only pass. Determinism: fixed sample order, fixed
    Lloyd init (first ksub distinct subvectors in sample order),
    integer micro-unit distances inside Lloyd's argmin, and the
    Procrustes solution is unique up to SVD degeneracy (real spreads
    have distinct singular values).

    Returns (R, C) as numpy float64 arrays: R is (d, d) orthogonal,
    C is (m_subspaces, ksub, d // m_subspaces).
    """
    import numpy as np

    rows = (
        embeddings.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .orderBy(F.col(id_col).asc())
        .limit(sample_n)
        .collect()
    )  # bounded: sample_n rows
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    n, d = X.shape
    assert d % m_subspaces == 0, "dim must split evenly into subspaces"
    dsub = d // m_subspaces

    def lloyd(S: "np.ndarray") -> "np.ndarray":
        # deterministic init: first ksub DISTINCT rows in sample order
        seen, init = set(), []
        for r in S:
            key = r.tobytes()
            if key not in seen:
                seen.add(key)
                init.append(r)
            if len(init) == ksub:
                break
        while len(init) < ksub:  # degenerate sample: repeat last
            init.append(init[-1])
        C_ = np.array(init, dtype=np.float64)
        # distances via the exact broadcast-subtract form (NOT the
        # ||a||^2+||b||^2-2ab GEMM identity: its different float
        # summation order can flip the integer micro-unit floor at
        # quantization boundaries and break bit-determinism vs the
        # assign kernel / test replica, which both use this form).
        # The round-10 speedup is structural instead: the np.add.at
        # scatter for the mean update in place of the 16-way python
        # mask loop. The squared distance stays the literal
        # (diff*diff).sum(axis=2) ufunc form — numpy does NOT
        # guarantee einsum's SOP loop and the ufunc pairwise reduce
        # sum in the same order across versions/SIMD, and a flipped
        # micro-unit floor at a quantization boundary would make
        # trained codebooks non-reproducible (same hazard as the GEMM
        # identity above; r10 advice).
        for _ in range(lloyd_iters):
            diff = S[:, None, :] - C_[None, :, :]
            dist = np.floor(
                (diff * diff).sum(axis=2) * 1e6 + 0.5
            ).astype(np.int64)
            a = np.argmin(dist, axis=1)
            sums = np.zeros_like(C_)
            np.add.at(sums, a, S)
            counts = np.bincount(a, minlength=ksub).astype(np.float64)
            nz = counts > 0
            C_[nz] = sums[nz] / counts[nz, None]
        return C_

    def codebooks(Xr: "np.ndarray") -> "np.ndarray":
        return np.stack(
            [
                lloyd(Xr[:, m * dsub : (m + 1) * dsub])
                for m in range(m_subspaces)
            ]
        )

    def reconstruct(Xr: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
        Y = np.empty_like(Xr)
        for m in range(m_subspaces):
            s, e = m * dsub, (m + 1) * dsub
            diff = Xr[:, None, s:e] - C[m][None, :, :]
            dist = np.floor(
                np.einsum("nkd,nkd->nk", diff, diff) * 1e6 + 0.5
            ).astype(np.int64)
            Y[:, s:e] = C[m][np.argmin(dist, axis=1)]
        return Y

    from arc_kinesis_tagging_spark.operators.blas import single_thread_blas

    # single-threaded BLAS: at n=512/d=64 every GEMM and the 64x64
    # Procrustes SVD is tiny, and OpenBLAS's thread fork/join costs
    # ~11x the arithmetic (measured; operators/blas.py docstring) —
    # the round-9 "q_similarity_opq regressed with code unchanged"
    # bench mystery was this threading penalty drifting with the host
    # scheduler. Values are unchanged: same kernels, one thread.
    with single_thread_blas():
        R = np.eye(d)
        C = codebooks(X @ R)
        for _ in range(opq_iters):
            Y = reconstruct(X @ R, C)
            # orthogonal Procrustes: min_R ||X R - Y||_F s.t. R^T R = I
            U, _s, Vt = np.linalg.svd(X.T @ Y)
            R = U @ Vt
            C = codebooks(X @ R)
    return R, C


def opq_assign(
    embeddings: DataFrame,
    m_subspaces: int = 4,
    ksub: int = 16,
    opq_iters: int = 8,
    sample_n: int = 512,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation=None,
    codebooks=None,
) -> DataFrame:
    """OPQ code assignment: rotate every vector by the trained
    orthogonal R, then product-quantize exactly like ``pq_assign``
    (same output schema: id, code0..code{m-1}, err_u6 in integer
    micro-units, half-up, lowest-code tie-break), so PQ-vs-OPQ error
    is directly comparable row by row. R (d x d) and the codebooks
    (m x ksub x d/m) are broadcast; assignment is one narrow
    mapInPandas pass — a batch GEMM for the rotation plus the blocked
    subspace argmin, no shuffle, no window. SVD training is not
    SQL-expressible, so the registry entry is rows-only; correctness
    is pinned by pytest (orthogonality, numpy parity, error <= plain
    PQ, determinism across retrains).

    When ``rotation`` AND ``codebooks`` are given, training is skipped
    and the provided (R, C) drive the same assign kernel — the
    hash-checkable face (plans/llmops.py:q_opq_assign pins a FIXED
    orthogonal R so the rotated assignment is DuckDB-replicable, the
    q_bpe_subwords precedent)."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    if rotation is not None and codebooks is not None:
        R = np.asarray(rotation, np.float64)
        C = np.asarray(codebooks, np.float64)
    else:
        R, C = opq_train(
            embeddings,
            m_subspaces=m_subspaces,
            ksub=ksub,
            opq_iters=opq_iters,
            sample_n=sample_n,
            id_col=id_col,
            vec_col=vec_col,
        )
    dsub = C.shape[2]
    b = spark.sparkContext.broadcast((R, C))

    code_cols = [f"code{m}" for m in range(m_subspaces)]
    schema = (
        f"{id_col} long, "
        + ", ".join(f"{c} int" for c in code_cols)
        + ", err_u6 long"
    )

    def assign(batches):
        R_, C_ = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64) @ R_
            n = len(V)
            out = {id_col: pdf[id_col].to_numpy()}
            err = np.zeros(n, np.int64)
            for m in range(m_subspaces):
                s, e = m * dsub, (m + 1) * dsub
                diff = V[:, None, s:e] - C_[m][None, :, :]
                dist = np.floor(
                    (diff * diff).sum(axis=2) * 1e6 + 0.5
                ).astype(np.int64)
                codes = np.argmin(dist, axis=1)
                out[f"code{m}"] = codes.astype(np.int32)
                err += dist[np.arange(n), codes]
            out["err_u6"] = err
            yield pd.DataFrame(out)

    return (
        embeddings.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(assign, schema)
    )


def ivf_pq_retrain(
    embeddings: DataFrame,
    batch_pred,
    nlist: int = 8,
    m_subspaces: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_num: int = 2,
    drift_den: int = 1,
) -> DataFrame:
    """Residual-PQ re-training under IVF drift — the maintenance step
    between append_ivf_index (frozen geometry, no retrain) and a full
    rebuild: when appended vectors stop being served well by the PQ
    codebook trained on the PRIOR corpus's residuals, re-train ONLY
    the drifted cells' codebooks on their own combined residuals.

    ``batch_pred`` is a boolean Column marking appended rows; the
    prior corpus is its complement. Coarse geometry: ``nlist``
    centroids = the nlist lowest-id PRIOR vectors (the deterministic
    IVF-family convention; swap in k-means offline for production),
    squared-L2 routing in integer micro-units with lowest-cell ties.
    The OLD codebook is global, trained on prior residuals (ksub
    lowest-id prior vectors, each reduced by its own cell centroid).
    A cell has DRIFTED when its batch rows' mean reconstruction error
    exceeds drift_num/drift_den times its prior rows' mean — computed
    by exact integer cross-multiplication on the micro-unit error
    sums, so the flag is engine- and partitioning-stable. The NEW
    per-cell codebook re-seeds where it hurts: the cell's ksub//2
    lowest-id members (representatives of the mass the old book
    already served) UNION its ksub - ksub//2 HIGHEST-old-error members
    (the drifted mass — a book of only low-id members would re-learn
    the old distribution and change nothing), deduplicated, residuals
    vs the cell centroid, codes ordered by vec_id. Both selections are
    the two-level bounded_topk_rank (never a corpus-sized per-cell
    window) and the collect is bounded (<= nlist * ksub rows).

    Scale shape: two narrow Arrow passes over the corpus (route +
    score old, score new), both against broadcast codebooks; the only
    shuffles are nlist-row aggregates. Returns one row per non-empty
    cell: (cell_id, n_prior, n_batch, err_prior_u6, err_batch_u6,
    drifted, err_before_u6, err_after_u6, improved) with err_after
    equal to err_before wherever the cell kept its old codebook.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        batch_pred.cast("boolean").alias("is_batch"),
    ).filter(F.col("vec").isNotNull())
    prior = e.filter(~F.col("is_batch"))

    def _micro(x):
        return np.floor(x * 1e6 + 0.5).astype(np.int64)

    # bounded collects: nlist coarse centroids + ksub old-book sources
    C = np.array(
        [
            r["vec"]
            for r in prior.orderBy("vec_id").limit(nlist).collect()
        ],
        dtype=np.float64,
    )
    d = C.shape[1]
    assert d % m_subspaces == 0, "dim must split evenly into subspaces"
    dsub = d // m_subspaces

    def _route(V):
        diff = V[:, None, :] - C[None, :, :]
        dist = _micro((diff * diff).sum(axis=2))
        return np.argmin(dist, axis=1)  # first min = lowest cell

    S = np.array(
        [
            r["vec"]
            for r in prior.orderBy("vec_id").limit(ksub).collect()
        ],
        dtype=np.float64,
    )
    book_old = S - C[_route(S)]  # (ksub, d) prior residuals
    b_old = spark.sparkContext.broadcast((C, book_old))

    def _pq_err(R, book):
        """Total micro-unit reconstruction error of residual rows R
        against ``book`` (n_codes, d), summed over subspaces."""
        err = np.zeros(len(R), np.int64)
        for m in range(m_subspaces):
            s, t = m * dsub, (m + 1) * dsub
            diff = R[:, None, s:t] - book[None, :, s:t]
            dist = _micro((diff * diff).sum(axis=2))
            err += dist[np.arange(len(R)), np.argmin(dist, axis=1)]
        return err

    def pass_old(batches):
        C_, bk = b_old.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            diff = V[:, None, :] - C_[None, :, :]
            cells = np.argmin(_micro((diff * diff).sum(axis=2)), axis=1)
            err = _pq_err(V - C_[cells], bk)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "is_batch": pdf["is_batch"].to_numpy(),
                    "cell_id": cells.astype(np.int32),
                    "err_old_u6": err,
                }
            )

    assigned = e.mapInPandas(
        pass_old, "vec_id long, is_batch boolean, cell_id int, err_old_u6 long"
    )
    agg_old = assigned.groupBy("cell_id").agg(
        F.sum((~F.col("is_batch")).cast("long")).alias("n_prior"),
        F.sum(F.col("is_batch").cast("long")).alias("n_batch"),
        F.sum(
            F.when(~F.col("is_batch"), F.col("err_old_u6")).otherwise(0)
        ).alias("err_prior_u6"),
        F.sum(
            F.when(F.col("is_batch"), F.col("err_old_u6")).otherwise(0)
        ).alias("err_batch_u6"),
    )

    # NEW per-cell codebooks: ksub//2 lowest-id members + the rest
    # highest-err_old members, two-level ranks (no corpus-sized
    # window), dedup, bounded collect
    kl = ksub // 2
    low = bounded_topk_rank(
        assigned.select("vec_id", "cell_id"),
        kl,
        order_col="vec_id",
        part_cols=("cell_id",),
        id_col="vec_id",
        ascending=True,
    ).select("vec_id", "cell_id")
    high = bounded_topk_rank(
        assigned.select("vec_id", "cell_id", "err_old_u6"),
        ksub - kl,
        order_col="err_old_u6",
        part_cols=("cell_id",),
        id_col="vec_id",
        ascending=False,
    ).select("vec_id", "cell_id")
    members = (
        low.union(high)
        .distinct()
        .join(e.select("vec_id", "vec"), "vec_id")
    )
    books: dict[int, np.ndarray] = {}
    mrows = sorted(  # code order = vec_id ASC (collect order is not)
        members.collect(), key=lambda r: int(r["vec_id"])
    )  # bounded: <= nlist * ksub rows
    for r in mrows:
        v = np.asarray(r["vec"], dtype=np.float64)
        books.setdefault(int(r["cell_id"]), []).append(
            v - C[int(r["cell_id"])]
        )
    b_new = spark.sparkContext.broadcast(
        (C, {c: np.array(rows) for c, rows in books.items()})
    )

    def pass_new(batches):
        C_, bks = b_new.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            diff = V[:, None, :] - C_[None, :, :]
            cells = np.argmin(_micro((diff * diff).sum(axis=2)), axis=1)
            err = np.zeros(len(V), np.int64)
            for c in np.unique(cells):
                sel = cells == c
                err[sel] = _pq_err(V[sel] - C_[c], bks[int(c)])
            yield pd.DataFrame(
                {
                    "cell_id": cells.astype(np.int32),
                    "err_new_u6": err,
                }
            )

    agg_new = (
        e.mapInPandas(pass_new, "cell_id int, err_new_u6 long")
        .groupBy("cell_id")
        .agg(F.sum("err_new_u6").alias("err_new_total_u6"))
    )

    drifted = (
        (F.col("n_batch") > 0)
        & (F.col("n_prior") > 0)
        & (
            F.col("err_batch_u6") * F.col("n_prior") * drift_den
            > F.col("err_prior_u6") * F.col("n_batch") * drift_num
        )
    )
    before = F.col("err_prior_u6") + F.col("err_batch_u6")
    return (
        agg_old.join(agg_new, "cell_id")
        .withColumn("drifted", drifted)
        .withColumn("err_before_u6", before)
        .withColumn(
            "err_after_u6",
            F.when(F.col("drifted"), F.col("err_new_total_u6")).otherwise(
                before
            ),
        )
        .withColumn(
            "improved", F.col("err_after_u6") < F.col("err_before_u6")
        )
        .select(
            "cell_id", "n_prior", "n_batch", "err_prior_u6",
            "err_batch_u6", "drifted", "err_before_u6", "err_after_u6",
            "improved",
        )
    )


def pca_project(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10_000,
) -> DataFrame:
    """PCA dimensionality reduction over an embedding column — the
    classic preprocessing step before ANN indexing or probing drift
    (and the rotation OPQ generalizes): covariance via the EXACT
    integer Gram aggregate (embedding_covariance — bit-identical
    across partitionings, the property that makes the whole pipeline
    deterministic), eigendecomposition of the bounded d x d matrix on
    the driver (d^2 doubles — metadata, like OPQ's rotation), then one
    broadcast map-only projection pass emitting the top-k components
    in half-up integer micro-units.

    Determinism: the eigh input is exact (so identical every run and
    layout), eigenvector SIGNS are canonicalized (largest-|component|
    entry made positive — eigh's sign choice is otherwise arbitrary),
    and outputs quantize before emission. Eigenvalue ties could still
    permute components, but the covariance being exact means any such
    tie is exact and stable too. Returns (id, pc0..pc{k-1} micro
    units); rows-only in the registry (eigendecomposition is not
    SQL-expressible), numpy-parity and spectral properties pinned in
    tests/test_scale_ops.py.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    e = df.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())

    # exact covariance: bounded d(d+1)/2-row collect
    cov_rows = embedding_covariance(e, vec_col, quant).collect()
    d = max(r["i"] for r in cov_rows)
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["i"] - 1, r["j"] - 1] = C[r["j"] - 1, r["i"] - 1] = r["cov"]

    # exact mean: per-partition quantized sums, one bounded agg
    def sums(batches):
        s = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * quant
            ).astype(np.int64)
            s = q.sum(axis=0) + (0 if s is None else s)
            n += len(q)
        if n:
            yield pd.DataFrame(
                {"dim": np.arange(d), "s": s, "n": np.full(d, n, np.int64)}
            )

    mrows = (
        e.mapInPandas(sums, "dim int, s long, n long")
        .groupBy("dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )  # bounded: d rows
    mean = np.zeros(d)
    for r in mrows:
        mean[r["dim"]] = r["s"] / (r["n"] * quant)

    from arc_kinesis_tagging_spark.operators.blas import single_thread_blas

    with single_thread_blas():  # d x d eigh: tiny, thread-join-bound
        w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:k]
    W = V[:, order]  # (d, k), columns = top-k eigenvectors
    for c in range(W.shape[1]):  # canonical sign
        j = int(np.abs(W[:, c]).argmax())
        if W[j, c] < 0:
            W[:, c] = -W[:, c]
    b = spark.sparkContext.broadcast((mean, W))

    cols = [f"pc{i}" for i in range(k)]

    def project(batches):
        mu, W_ = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            V_ = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Z = (V_ - mu) @ W_
            out = {id_col: pdf[id_col].to_numpy()}
            zq = np.floor(Z * 1e6 + 0.5).astype(np.int64)
            for i, c in enumerate(cols):
                out[c] = zq[:, i]
            yield pd.DataFrame(out)

    schema = f"{id_col} long, " + ", ".join(f"{c} long" for c in cols)
    return e.mapInPandas(project, schema)


def _rotate_vectors(
    df: DataFrame,
    R,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Map-only pass applying a broadcast orthogonal rotation R to
    every vector (one GEMM per Arrow batch). Orthogonality preserves
    inner products and norms, so cosine rankings in rotated space are
    exactly the original-space rankings — the property that lets the
    whole OPQ-rotated lifecycle be recall-checked against the
    unrotated brute-force truth. ``carry`` columns pass through the
    same pass (cheaper than a corpus-sized join-back later)."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    b = spark.sparkContext.broadcast(np.asarray(R, dtype=np.float64))
    dt = dict(df.dtypes)

    def rot(batches):
        R_ = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64) @ R_
            out = {id_col: pdf[id_col].to_numpy(), vec_col: list(V)}
            for c in carry:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    schema = f"{id_col} long, {vec_col} array<double>" + "".join(
        f", {c} {dt[c]}" for c in carry
    )
    return df.select(id_col, vec_col, *carry).mapInPandas(rot, schema)


def ann_lifecycle(
    spark,
    embeddings: DataFrame,
    batch_pred,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 8,
    m_subspaces: int = 4,
    ksub: int = 8,
    nprobe: int = 4,
    shortlist: int = 32,
    drift_num: int = 1,
    drift_den: int = 1,
    opq_iters: int = 4,
    sample_n: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    return_accounting: bool = False,
) -> DataFrame:
    """The full ANN index LIFECYCLE as one composition — the chain the
    separate registry rows (q_ann_persisted, q_ann_incremental,
    q_ann_retrain, q_similarity_opq) each exercise alone:

      1. train an OPQ rotation on a bounded PRIOR sample (opq_train)
         and rotate the whole corpus map-only — the rotation the
         IVF-PQ geometry is actually built in, not just beside;
      2. build the persisted cell-partitioned IVF index on the
         rotated prior corpus (build_ivf_index) and APPEND the rotated
         batch against the frozen centroids (append_ivf_index);
      3. drift-detect per cell on old-codebook reconstruction error
         (integer micro-unit cross-multiplication, the ivf_pq_retrain
         accounting) and RE-TRAIN only the drifted cells' codebooks
         on their own members (ksub//2 lowest-id + highest-error
         rest, the re-seed-where-it-hurts convention);
      4. SERVE queries through the retrained index: probe nprobe
         cells (static partition pruning on the persisted layout),
         ADC-score the probed rows' PQ codes against each cell's
         SERVED codebook (new where drifted, old elsewhere), shortlist
         by quantized ADC distance, exact-cosine REFINE the shortlist
         (the FAISS IVFPQ+refine production shape), rank top-k on the
         4-dp-rounded similarity with vec_id tie-break.

    Scale shape: every driver-side collect is bounded (nlist
    centroids, ksub book donors, <= nlist*ksub retrain members,
    |queries| probes, probe-cell IN-list); corpus-sized work is four
    narrow map passes (rotate, build-assign, append-assign, error
    accounting) plus the probed-partition scan at query time; ranks
    are two-level bounded_topk_rank throughout. Deterministic end to
    end: fixed OPQ sample, micro-unit distances with lowest-code /
    lowest-cell ties, rounded refine scores with vec_id tie-break.

    Returns (query_id, vec_id, cos4, rank, cell_id, served_book) —
    and, with ``return_accounting=True``, a second DataFrame of the
    per-cell drift accounting. Recall@k vs the unrotated brute-force
    truth is pinned >= 0.9 in tests/test_ann_lifecycle.py (valid
    because the rotation is orthogonal — see _rotate_vectors)."""
    import os as _os
    import shutil as _shutil

    import numpy as np
    import pandas as pd

    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        batch_pred.cast("boolean").alias("is_batch"),
    ).filter(F.col("embedding").isNotNull())
    prior = e.filter(~F.col("is_batch"))

    # -- 1. OPQ rotation from a bounded prior sample ----------------------
    R, _opq_books = opq_train(
        prior,
        m_subspaces=m_subspaces,
        ksub=ksub,
        opq_iters=opq_iters,
        sample_n=sample_n,
        id_col="vec_id",
        vec_col="embedding",
    )
    rot_prior = _rotate_vectors(prior, R)
    rot_batch = _rotate_vectors(e.filter(F.col("is_batch")), R)

    # -- 2. persisted build + append (atomic-rename discipline) ----------
    if not _os.path.isdir(path):
        tmp = f"{path}.tmp-{_os.getpid()}"
        build_ivf_index(spark, rot_prior, tmp, nlist=nlist)
        append_ivf_index(spark, rot_batch, tmp)
        try:
            _os.rename(tmp, path)
        except OSError:
            # "lost the race" only if another session actually produced
            # the index dir; any other rename failure (permissions,
            # path occupied by a file) must surface, not silently
            # discard the freshly built index.
            if not _os.path.isdir(path):
                raise
            _shutil.rmtree(tmp, ignore_errors=True)

    crows = sorted(
        spark.read.parquet(path + "/centroids").collect(),
        key=lambda r: r["cell_id"],
    )  # bounded: nlist rows
    cids = np.array([r["cell_id"] for r in crows])
    C = np.array([r["embedding"] for r in crows], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    d = C.shape[1]
    assert d % m_subspaces == 0, "dim must split evenly into subspaces"
    dsub = d // m_subspaces

    def _micro(x):
        return np.floor(x * 1e6 + 0.5).astype(np.int64)

    def _cell_of(V):
        """Cosine argmax against the persisted centroids, lowest-cell
        ties — the exact _assign_cells convention, so this routing
        matches the persisted partition layout row for row."""
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        S = Vn @ Cn.T
        return cids[np.argsort(-S, axis=1, kind="stable")[:, 0]]

    def _encode_err(Res, book):
        """(codes, err_u6) of residual rows against ``book`` — blocked
        per-subspace argmin in half-up micro-units, lowest-code ties."""
        n = len(Res)
        codes = np.zeros((n, m_subspaces), np.int32)
        err = np.zeros(n, np.int64)
        for m in range(m_subspaces):
            s, t = m * dsub, (m + 1) * dsub
            diff = Res[:, None, s:t] - book[None, :, s:t]
            dist = _micro((diff * diff).sum(axis=2))
            cm = np.argmin(dist, axis=1)
            codes[:, m] = cm
            err += dist[np.arange(n), cm]
        return codes, err

    # -- 3a. OLD global codebook: ksub lowest-id prior residuals ---------
    donors = np.array(
        [
            r["embedding"]
            for r in rot_prior.orderBy("vec_id").limit(ksub).collect()
        ],
        dtype=np.float64,
    )  # bounded: ksub rows
    cell_lookup = {int(c): i for i, c in enumerate(cids)}
    book_old = donors - C[[cell_lookup[int(c)] for c in _cell_of(donors)]]
    b_old = spark.sparkContext.broadcast((C, cids, Cn, book_old))

    # -- 3b. error-accounting pass over the corpus (re-derives the same
    # routing as the persisted layout; the is_batch flag rides the
    # rotation pass, so no corpus-sized join back to the index) ----------
    rot_all = _rotate_vectors(
        e.select("vec_id", "embedding", "is_batch"), R, carry=("is_batch",)
    )

    def pass_old(batches):
        C_, cids_, Cn_, bk = b_old.value
        look = {int(c): i for i, c in enumerate(cids_)}
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Vn = V / np.maximum(
                np.linalg.norm(V, axis=1, keepdims=True), 1e-12
            )
            cells = cids_[
                np.argsort(-(Vn @ Cn_.T), axis=1, kind="stable")[:, 0]
            ]
            rows = np.array([look[int(c)] for c in cells])
            _codes, err = _encode_err(V - C_[rows], bk)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "is_batch": pdf["is_batch"].to_numpy(),
                    "cell_id": cells.astype(np.int32),
                    "err_old_u6": err,
                }
            )

    assigned = rot_all.mapInPandas(
        pass_old,
        "vec_id long, is_batch boolean, cell_id int, err_old_u6 long",
    )
    acct = assigned.groupBy("cell_id").agg(
        F.sum((~F.col("is_batch")).cast("long")).alias("n_prior"),
        F.sum(F.col("is_batch").cast("long")).alias("n_batch"),
        F.sum(
            F.when(~F.col("is_batch"), F.col("err_old_u6")).otherwise(0)
        ).alias("err_prior_u6"),
        F.sum(
            F.when(F.col("is_batch"), F.col("err_old_u6")).otherwise(0)
        ).alias("err_batch_u6"),
    ).withColumn(
        "drifted",
        (F.col("n_batch") > 0)
        & (F.col("n_prior") > 0)
        & (
            F.col("err_batch_u6") * F.col("n_prior") * F.lit(drift_den)
            > F.col("err_prior_u6") * F.col("n_batch") * F.lit(drift_num)
        ),
    )
    drift_rows = acct.select("cell_id", "drifted").collect()  # bounded: nlist
    drifted_cells = {int(r["cell_id"]) for r in drift_rows if r["drifted"]}

    # -- 3c. retrain drifted cells' books (bounded member selection) -----
    served = {int(c): book_old for c in cids}
    if drifted_cells:
        in_drift = assigned.filter(
            F.col("cell_id").isin([int(c) for c in drifted_cells])
        )
        kl = ksub // 2
        low = bounded_topk_rank(
            in_drift.select("vec_id", "cell_id"),
            kl,
            order_col="vec_id",
            part_cols=("cell_id",),
            id_col="vec_id",
            ascending=True,
        ).select("vec_id", "cell_id")
        high = bounded_topk_rank(
            in_drift.select("vec_id", "cell_id", "err_old_u6"),
            ksub - kl,
            order_col="err_old_u6",
            part_cols=("cell_id",),
            id_col="vec_id",
            ascending=False,
        ).select("vec_id", "cell_id")
        members = (
            low.union(high)
            .distinct()
            .join(rot_all.select("vec_id", "embedding"), "vec_id")
        )
        mrows = sorted(  # code order = vec_id ASC
            members.collect(), key=lambda r: int(r["vec_id"])
        )  # bounded: <= |drifted| * ksub rows
        new_books: dict[int, list] = {}
        for r in mrows:
            v = np.asarray(r["embedding"], dtype=np.float64)
            c = int(r["cell_id"])
            new_books.setdefault(c, []).append(v - C[cell_lookup[c]])
        for c, rows in new_books.items():
            served[c] = np.array(rows)
    b_srv = spark.sparkContext.broadcast(
        (C, cids, Cn, served, sorted(drifted_cells))
    )

    # -- 4. serve: probe -> partition-pruned scan -> ADC -> refine -------
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("embedding"),
    )
    rot_q = _rotate_vectors(q, R, id_col="query_id")
    centroids_df = F.broadcast(
        spark.read.parquet(path + "/centroids").select(
            "cell_id", F.col("embedding").alias("__centroid")
        )
    )
    probes = _assign_cells(
        rot_q, centroids_df, "query_id", "embedding", rank_limit=nprobe
    ).select(
        F.col("query_id"),
        F.col("embedding").alias("__qvec"),
        "cell_id",
    )
    probe_cells = [
        r["cell_id"] for r in probes.select("cell_id").distinct().collect()
    ]  # bounded: <= nlist
    index = (
        spark.read.parquet(path + "/index")
        .filter(F.col("cell_id").isin(probe_cells))
        .select("vec_id", F.col("embedding").alias("__cvec"), "cell_id")
    )
    pairs = index.join(F.broadcast(probes), "cell_id")

    def adc(batches):
        C_, cids_, _Cn, srv, drift_list = b_srv.value
        look = {int(c): i for i, c in enumerate(cids_)}
        dset = set(drift_list)
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_v, out_c, out_d, out_b, out_cos = (
                [], [], [], [], [], [],
            )
            for c in pdf["cell_id"].unique():
                sel = pdf[pdf["cell_id"] == c]
                ci = look[int(c)]
                book = srv[int(c)]
                X = np.array(sel["__cvec"].tolist(), dtype=np.float64)
                codes, _err = _encode_err(X - C_[ci], book)
                recon = C_[ci] + np.concatenate(
                    [
                        book[codes[:, m]][
                            :, m * dsub : (m + 1) * dsub
                        ]
                        for m in range(m_subspaces)
                    ],
                    axis=1,
                )
                Q = np.array(sel["__qvec"].tolist(), dtype=np.float64)
                adc_d = _micro(((Q - recon) ** 2).sum(axis=1))
                cos = (X * Q).sum(axis=1) / np.maximum(
                    np.linalg.norm(X, axis=1) * np.linalg.norm(Q, axis=1),
                    1e-12,
                )
                out_q.append(sel["query_id"].to_numpy())
                out_v.append(sel["vec_id"].to_numpy())
                out_c.append(np.full(len(sel), int(c), np.int32))
                out_d.append(adc_d)
                out_b.append(
                    np.full(
                        len(sel),
                        "new" if int(c) in dset else "old",
                        dtype=object,
                    )
                )
                out_cos.append(cos)
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "cell_id": np.concatenate(out_c),
                    "adc_u6": np.concatenate(out_d),
                    "served_book": np.concatenate(out_b),
                    "cos_sim": np.concatenate(out_cos),
                }
            )

    scored = pairs.mapInPandas(
        adc,
        "query_id long, vec_id long, cell_id int, adc_u6 long, "
        "served_book string, cos_sim double",
    )
    short = bounded_topk_rank(
        scored,
        shortlist,
        order_col="adc_u6",
        part_cols=("query_id",),
        id_col="vec_id",
        ascending=True,
    ).drop("rank")
    refined = bounded_topk_rank(
        short.withColumn("cos4", F.round("cos_sim", 4)),
        k,
        order_col="cos4",
        part_cols=("query_id",),
        id_col="vec_id",
    ).select(
        "query_id", "vec_id", "cos4",
        F.col("rank").cast("long").alias("rank"),
        "cell_id", "served_book",
    )
    if return_accounting:
        return refined, acct
    return refined
