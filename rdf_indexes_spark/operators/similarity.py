"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — the correctness baseline. Dot
  products via F.zip_with + F.aggregate (JVM-side, codegen); queries are
  broadcast so the scan streams once over the corpus with no shuffle
  before the per-query top-k aggregation.
- lsh_topk: the scale path — random-hyperplane LSH buckets shrink the
  candidate set; exact cosine re-rank inside buckets. Recall is tunable
  via (planes, tables).

At 100 TB the corpus side stays partitioned; only the k·|Q| candidate
rows shuffle. The brute-force path's cross product is |Q|·N rows but
never materializes — it pipelines scan→dot→window-filter inside one
stage.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _scored_candidates(
    corpus: DataFrame, queries: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Per-partition numpy top-k: the query matrix rides in the UDF
    closure (queries are small by contract — the ANN API's query set);
    each Arrow batch of the corpus is one BLAS matmul. Spark's
    higher-order-fn fold (F.aggregate) is interpreted, ~30x slower.
    Output is a k*|Q| per-partition candidate set — the global top-k
    window then touches only |partitions|*k*|Q| rows."""
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    kk = k

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            C = Vn @ Qn.T  # (batch, nq)
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                col = C[:, j].copy()
                col[ids == qids[j]] = -np.inf  # exclude self
                # same tie-break as the global window (desc cosine, asc
                # neighbor_id): a positional argsort could drop a smaller-id
                # neighbor tied at the k boundary within this partition.
                top = np.lexsort((ids, -col))[:kk]
                top = top[np.isfinite(col[top])]
                out_q.extend([qids[j]] * len(top))
                out_n.extend(ids[top])
                out_c.extend(col[top])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cosine": out_c})

    return corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine) exact top-k per query.

    Self-matches (same id) are excluded. Ties broken by neighbor id for
    determinism across engines. One corpus scan (vectorized matmul per
    Arrow batch) + a tiny global top-k window over per-partition winners.
    """
    scored = _scored_candidates(corpus, queries, k, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine")
    )


def embedding_near_dup(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b), a < b, cosine >= threshold.

    With ``candidates`` (a, b) — e.g. from LSH bucketing — the exact
    cosine verify runs only on the pruned pair set (the 100 TB path).
    Without, an all-pairs self-join (test scale / oracle parity). Output
    carries no floats, so the driver's value-hash compare is engine-stable
    (the threshold test itself is safe: pairs land ~never within double
    rounding error of the cut)."""
    if candidates is not None:
        v = corpus.select(
            F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        a = v.select(F.col("_id").alias("a"), F.col("v").alias("va"))
        b = v.select(F.col("_id").alias("b"), F.col("v").alias("vb"))
        pairs = candidates.select("a", "b").join(a, "a").join(b, "b")
        return (
            pairs.withColumn("cosine", cosine_col(F.col("va"), F.col("vb")))
            .filter(F.col("cosine") >= F.lit(float(threshold)))
            .select("a", "b")
        )
    # Exact all-pairs, DISTRIBUTED: block-pair matmul. All-pairs at a low
    # threshold (continuous cosine mass at the cut — e.g. the gate's 0.35)
    # is inherently O(N^2) and NOT LSH-prunable with complete recall
    # (per-hyperplane collision prob at cos 0.35 is only ~0.61), so the
    # exact semantics cost a quadratic number of COMPARISONS — but they
    # must not cost a driver materialization. Rows hash into B id-disjoint
    # blocks; each of the B(B+1)/2 block pairs is one applyInPandas task
    # doing a single BLAS matmul over two in-memory block matrices.
    # Shuffle volume is N*B rows, peak task memory two blocks — no
    # collect() anywhere in the lineage. Real near-dup thresholds (>=0.9)
    # should use embedding_near_dup_lsh, which prunes then verifies here.
    return embedding_near_dup_blocked(corpus, threshold, id_col=id_col, vec_col=vec_col)


def embedding_near_dup_blocked(
    corpus: DataFrame,
    threshold: float = 0.9,
    blocks: int | None = None,
    block_rows: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine all-pairs (a, b), a < b, cosine >= threshold — the
    distributed block-matrix form. ``blocks`` defaults to ceil(N /
    block_rows) (one cheap count job), sizing each block matrix to fit a
    task comfortably (100k x 1k doubles = 0.8 GB per side at most)."""
    import pandas as pd

    th = float(threshold)
    if blocks is None:
        n = corpus.count()
        blocks = max(1, -(-n // block_rows))
    nb = int(blocks)
    v = corpus.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")
    ).withColumn("_bid", F.pmod(F.xxhash64(F.col("_id")), F.lit(nb)).cast("int"))
    # each row joins every partner block once: pair key (pi, pj), pi <= pj
    pairs = v.select(
        "_id",
        "_v",
        "_bid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("_bid"), F.lit(i)).alias("pi"),
                        F.greatest(F.col("_bid"), F.lit(i)).alias("pj"),
                    )
                    for i in range(nb)
                ]
            )
        ).alias("_pk"),
    ).select("_pk.pi", "_pk.pj", "_bid", "_id", "_v")

    def block_pairs(key, pdf):
        pi, pj = int(key[0]), int(key[1])
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        bid = pdf["_bid"].to_numpy()
        if pi == pj:
            C = Vn @ Vn.T
            ii, jj = np.nonzero(np.triu(C >= th, k=1))
        else:
            am, bm = bid == pi, bid == pj
            C = Vn[am] @ Vn[bm].T
            ai, bj = np.nonzero(C >= th)
            ii = np.flatnonzero(am)[ai]
            jj = np.flatnonzero(bm)[bj]
        a, b = ids[ii], ids[jj]
        return pd.DataFrame({"a": np.minimum(a, b), "b": np.maximum(a, b)})

    return pairs.groupBy("pi", "pj").applyInPandas(block_pairs, schema="a long, b long")


def knn_graph(
    corpus: DataFrame,
    k: int = 10,
    blocks: int | None = None,
    block_rows: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine): the exact k-nearest-
    neighbor graph over the WHOLE corpus — every vector is a query.

    brute_force_topk's collect-the-queries shape is wrong here (the
    query set IS the corpus); this is the distributed block-matrix
    form of embedding_near_dup_blocked with per-row top-k selection
    instead of a threshold: each (block_i, block_j) pair is one numpy
    matmul task emitting at most k candidates per row per partner
    block, and a global window (|rows| * blocks * k candidates, not
    |rows|^2) picks the final k. Tie rule matches the ANN family:
    cosine desc, neighbor_id asc — in-block selection keeps EVERY
    candidate tied at the k-boundary so the window never loses a
    smaller-id tie to block partitioning.
    """
    import pandas as pd

    if blocks is None:
        n = corpus.count()
        blocks = max(1, -(-n // block_rows))
    nb = int(blocks)
    kk = int(k)
    v = corpus.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")
    ).withColumn("_bid", F.pmod(F.xxhash64(F.col("_id")), F.lit(nb)).cast("int"))
    pairs = v.select(
        "_id",
        "_v",
        "_bid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("_bid"), F.lit(i)).alias("pi"),
                        F.greatest(F.col("_bid"), F.lit(i)).alias("pj"),
                    )
                    for i in range(nb)
                ]
            )
        ).alias("_pk"),
    ).select("_pk.pi", "_pk.pj", "_bid", "_id", "_v")

    def _row_topk(src_ids, dst_ids, C):
        # per source row: candidates with cosine >= the kth value
        # (ties at the boundary all survive to the global window)
        oq, on, oc = [], [], []
        for r in range(C.shape[0]):
            row = C[r].copy()
            row[dst_ids == src_ids[r]] = -np.inf
            m = int(np.sum(np.isfinite(row)))
            if m == 0:
                continue
            t = min(kk, m)
            part = np.argpartition(-row, t - 1)
            thresh = row[part[t - 1]]
            cand = np.flatnonzero(row >= thresh)
            keep = cand[np.lexsort((dst_ids[cand], -row[cand]))]
            oq.extend([src_ids[r]] * len(keep))
            on.extend(dst_ids[keep])
            oc.extend(row[keep])
        return oq, on, oc

    def block_topk(key, pdf):
        pi, pj = int(key[0]), int(key[1])
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        bid = pdf["_bid"].to_numpy()
        if pi == pj:
            C = Vn @ Vn.T
            oq, on, oc = _row_topk(ids, ids, C)
        else:
            am, bm = bid == pi, bid == pj
            C = Vn[am] @ Vn[bm].T
            q1, n1, c1 = _row_topk(ids[am], ids[bm], C)
            q2, n2, c2 = _row_topk(ids[bm], ids[am], np.ascontiguousarray(C.T))
            oq, on, oc = q1 + q2, n1 + n2, c1 + c2
        return pd.DataFrame({"query_id": oq, "neighbor_id": on, "cosine": oc})

    cands = pairs.groupBy("pi", "pj").applyInPandas(
        block_topk, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "cosine",
        )
    )


def embedding_near_dup_lsh(
    corpus: DataFrame,
    threshold: float = 0.9,
    planes: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path: LSH-bucketed candidate pairs, exact cosine verify.

    Per table, docs sharing a sign-pattern bucket form candidates via a
    within-bucket self-join on (bucket) — shuffle keys are small ints.
    High-cosine pairs collide in >=1 of `tables` tables w.h.p."""
    dim = len(corpus.select(vec_col).first()[0])
    b = _all_buckets_df(corpus, dim, planes, tables, id_col, vec_col, "_id").localCheckpoint(
        eager=False
    )
    lft = b.select("table", "bucket", F.col("_id").alias("a"))
    rgt = b.select("table", "bucket", F.col("_id").alias("b"))
    # within-bucket self-join across ALL tables at once on (table, bucket)
    cand = lft.join(rgt, ["table", "bucket"]).filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    return embedding_near_dup(corpus, threshold, id_col, vec_col, candidates=cand)


def _hyperplanes(dim: int, planes: int, table: int, seed: int = 11) -> list[list[float]]:
    rng = np.random.default_rng(seed + 1000 * table)
    return rng.standard_normal((planes, dim)).tolist()


def _all_buckets_df(
    df: DataFrame, dim: int, planes: int, tables: int, id_col: str, vec_col: str, out_id: str
) -> DataFrame:
    """(out_id, table, bucket): every table's sign-pattern bucket in ONE
    Arrow pass — projections for all tables are a single (n, T*P) matmul,
    bit-packed per table. The interpreted higher-order-fn fold costs
    ~T*P folds per row; this is one BLAS call per batch."""
    import pandas as pd

    H = np.stack([np.array(_hyperplanes(dim, planes, t)) for t in range(tables)])  # (T,P,D)
    Hm = H.reshape(tables * planes, dim)
    weights = (1 << np.arange(planes)).astype(np.int64)

    def buckets(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            proj = V @ Hm.T  # (n, T*P)
            bits = (proj >= 0).astype(np.int64).reshape(len(ids), tables, planes)
            vals = (bits * weights).sum(axis=2)  # (n, T)
            n = len(ids)
            yield pd.DataFrame(
                {
                    out_id: np.repeat(ids, tables),
                    "table": np.tile(np.arange(tables, dtype=np.int64), n),
                    "bucket": vals.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        buckets, schema=f"{out_id} long, table long, bucket long"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    planes: int = 8,
    tables: int = 4,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: union of per-table bucket matches, exact cosine
    re-rank. Each LSH table is one equi-join on (table, bucket) — shuffle
    keys are small ints; bucket skew is bounded by 2^planes spread.

    multiprobe=1 additionally probes, on the (small, broadcast) query side
    only, every bucket at Hamming distance 1 from the query's bucket —
    (planes+1)× more probe rows but the same single scan of the corpus,
    so recall rises steeply at negligible cost at scale."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    cb = _all_buckets_df(corpus, dim, planes, tables, id_col, vec_col, "neighbor_id")
    qb = _all_buckets_df(queries, dim, planes, tables, id_col, vec_col, "query_id")
    if multiprobe >= 1:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(planes)],
        )
        qb = (
            qb.withColumn("bucket_probe", F.explode(probes))
            .drop("bucket")
            .withColumnRenamed("bucket_probe", "bucket")
        )
    # ONE equi-join on (table, bucket) covers all tables; shuffle keys are
    # small ints, skew bounded by 2^planes spread per table.
    cand = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .select("query_id", "neighbor_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # exact re-rank on the candidate set only: vectors rejoin by id; the
    # query side broadcasts, the cosine is computed on candidate rows.
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", cosine_col(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine")
    )


def _train_sample(
    corpus: DataFrame, id_col: str, vec_col: str, sample: int
) -> np.ndarray:
    """DETERMINISTIC bounded training sample as a plain filtered scan.

    The old plan (`orderBy(xxhash64(id)).limit(n)`) compiled to a
    TakeOrdered over the WHOLE corpus: every partition sorts and ships
    its top-n rows to the driver — partitions x n rows moved and a
    full-corpus ordering evaluated for a 4k-row sample. Instead, pick a
    modulus K so that `pmod(xxhash64(id), K) == 0` passes ~4x the target
    rows (one column-pruned count to size K), collect that small set,
    and take the `sample` smallest hashes driver-side. Selection depends
    only on the hash values, so the sample is identical every run, at
    every scale, under any partitioning — with nothing but two plain
    scans and a driver-side sort of ~4*sample rows.

    DRIVER-MEMORY BOUND: the floor-divided modulus admits ~4*sample rows
    in expectation, at most ~8*sample (for corpora under 8*sample rows
    k_mod=1 and the whole — by definition sub-8*sample-row — vector
    column is collected). ~8*sample vectors is the budget callers size
    `sample` against. If a skewed hash distribution passes FEWER than
    `sample` rows, the modulus is halved and the scan retried until the
    sample is met (k_mod=1 collects everything, so the loop
    terminates)."""
    n = corpus.select(id_col).count()
    k_mod = max(1, n // max(1, 4 * sample))
    h = F.xxhash64(F.col(id_col))
    picked = corpus.select(h.alias("_h"), F.col(vec_col).alias("_v"))
    while True:
        rows = picked.where(F.pmod(F.col("_h"), F.lit(k_mod)) == 0).collect()
        if len(rows) >= min(sample, n) or k_mod == 1:
            break
        k_mod //= 2  # pathological hash spread: widen deterministically
    rows.sort(key=lambda r: r["_h"])
    return np.array([r["_v"] for r in rows[:sample]], dtype=np.float64)


def _kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 13,
) -> np.ndarray:
    """Driver-side Lloyd's k-means over a DETERMINISTIC bounded sample
    (hash-selected, see _train_sample): the coarse quantizer is
    centroid-count x dim — tiny — while assignment stays fully
    distributed. Standard IVF training practice: the sample, not the
    corpus, trains the quantizer."""
    X = _train_sample(corpus, id_col, vec_col, sample)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    k = min(n_centroids, len(Xn))
    C = Xn[rng.choice(len(Xn), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(Xn @ C.T, axis=1)  # cosine on normalized = dot
        for j in range(k):
            m = assign == j
            if m.any():
                c = Xn[m].mean(axis=0)
                C[j] = c / max(1e-12, np.linalg.norm(c))
    return C


def _assign_centroids(
    df: DataFrame, C: np.ndarray, nprobe: int, id_col: str, vec_col: str, out_id: str
) -> DataFrame:
    """(out_id, cid): nearest-`nprobe` centroid ids per vector — one
    BLAS matmul per Arrow batch, centroids ride in the closure."""
    import pandas as pd

    Cn = C

    def assign(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Cn.T
            top = np.argsort(-S, axis=1, kind="stable")[:, :nprobe]
            n = len(ids)
            yield pd.DataFrame(
                {out_id: np.repeat(ids, nprobe), "cid": top.reshape(-1)}
            )

    return df.select(id_col, vec_col).mapInPandas(assign, schema=f"{out_id} long, cid long")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse k-means quantizer (trained on a
    bounded deterministic sample), inverted lists = the centroid
    assignment column, probe the query's `nprobe` nearest lists, exact
    cosine re-rank on the candidates. The corpus side carries ONE
    centroid id per vector (nprobe expansion is query-side only), so the
    single equi-join on cid shuffles small-int keys — the same scale
    shape as lsh_topk, with data-adaptive buckets instead of random
    hyperplanes."""
    C = _kmeans_centroids(corpus, n_centroids, id_col, vec_col)
    cb = _assign_centroids(corpus, C, 1, id_col, vec_col, "neighbor_id")
    qb = _assign_centroids(queries, C, nprobe, id_col, vec_col, "query_id")
    cand = (
        cb.join(F.broadcast(qb), "cid")
        .select("query_id", "neighbor_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", cosine_col(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse k-means over the embedding
    space, exact cosine near-duplicate pairs WITHIN each cluster, then
    one survivor (minimum id) per duplicate component. Returns the kept
    ids, one ``id_col`` column — the semantic twin of the lexical
    near-dup chain (minhash_lsh_pairs → near_dup_keep).

    Composition of the engine's existing scale shapes, nothing new moves:
    the quantizer trains on a bounded deterministic sample
    (_kmeans_centroids), every vector carries ONE cid
    (_assign_centroids, nprobe=1 — map-side matmul), in-cluster pairs
    use the block-pair trick of embedding_near_dup_blocked keyed on
    (cid, pi, pj) so a big cluster splits into bounded block-matrix
    tasks instead of one straggler, and survivor selection reuses the
    KG engine's distributed connected components (near_dup_keep). With
    ``n_clusters=1`` this is EXACTLY the global near-dup keep (pinned by
    pytest); more clusters trade recall for a k× smaller pair search,
    the SemDeDup bargain.
    """
    import pandas as pd

    from .dedup import near_dup_keep

    th = float(threshold)
    C = _kmeans_centroids(corpus, n_clusters, id_col, vec_col)
    assigned = corpus.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")
    ).join(
        _assign_centroids(corpus, C, 1, id_col, vec_col, "_id"), "_id"
    )
    # eager cut: the assignment (a mapInPandas matmul over the corpus) is
    # consumed by BOTH the max-cluster-size agg and the pair job below
    assigned = assigned.localCheckpoint(eager=True)
    # bound the per-task matrix: sub-block count from the LARGEST cluster
    # (one tiny agg job), so (cid, pi, pj) tasks stay <= block_rows rows
    top = assigned.groupBy("cid").count().agg(F.max("count")).first()[0] or 1
    nb = max(1, -(-int(top) // block_rows))
    v = assigned.withColumn(
        "_bid", F.pmod(F.xxhash64(F.col("_id")), F.lit(nb)).cast("int")
    )
    pairs_keyed = v.select(
        "cid",
        "_id",
        "_v",
        "_bid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("_bid"), F.lit(i)).alias("pi"),
                        F.greatest(F.col("_bid"), F.lit(i)).alias("pj"),
                    )
                    for i in range(nb)
                ]
            )
        ).alias("_pk"),
    ).select("cid", "_pk.pi", "_pk.pj", "_bid", "_id", "_v")

    def block_pairs(key, pdf):
        pi, pj = int(key[1]), int(key[2])
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        bid = pdf["_bid"].to_numpy()
        if pi == pj:
            S = Vn @ Vn.T
            ii, jj = np.nonzero(np.triu(S >= th, k=1))
        else:
            am, bm = bid == pi, bid == pj
            S = Vn[am] @ Vn[bm].T
            ai, bj = np.nonzero(S >= th)
            ii = np.flatnonzero(am)[ai]
            jj = np.flatnonzero(bm)[bj]
        a, b = ids[ii], ids[jj]
        return pd.DataFrame({"a": np.minimum(a, b), "b": np.maximum(a, b)})

    pairs = pairs_keyed.groupBy("cid", "pi", "pj").applyInPandas(
        block_pairs, schema="a long, b long"
    )
    return near_dup_keep(
        corpus.select(F.col(id_col).cast("long").alias(id_col)), pairs, id_col=id_col
    )


def _pq_train(corpus: DataFrame, m: int, ks: int, id_col: str, vec_col: str,
              sample: int = 4096, iters: int = 10, seed: int = 17) -> np.ndarray:
    """Product-quantization codebooks: split the (normalized) vector into
    ``m`` subspaces and run Lloyd's k-means with ``ks`` centroids in each
    — trained driver-side on the same bounded deterministic sample as
    the IVF coarse quantizer (_train_sample: hash-threshold filter, no
    TakeOrdered over the corpus). Returns (m, ks, dim/m) float64."""
    X = _train_sample(corpus, id_col, vec_col, sample)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    dim = Xn.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide the embedding dim {dim}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    k = min(ks, len(Xn))
    books = np.empty((m, k, dsub))
    for j in range(m):
        S = Xn[:, j * dsub : (j + 1) * dsub]
        C = S[rng.choice(len(S), size=k, replace=False)]
        for _ in range(iters):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                msk = assign == c
                if msk.any():
                    C[c] = S[msk].mean(axis=0)
        books[j] = C
    return books


def pq_encode(corpus: DataFrame, books: np.ndarray, id_col: str = "vec_id",
              vec_col: str = "embedding", normalize: bool = True) -> DataFrame:
    """(id, codes): each normalized vector compressed to ``m`` one-byte
    subspace codes — 64 floats (256 B) become e.g. 8 bytes, the
    compression that makes a 100 TB embedding corpus scannable. One
    numpy argmin per subspace per Arrow batch; codebooks ride in the
    closure. ``normalize=False`` encodes the raw vectors — the
    oracle-parity escape hatch (integer-valued inputs stay exact)."""
    import pandas as pd

    B = books
    m, k, dsub = B.shape

    def encode(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True) if normalize else V
            codes = np.empty((len(ids), m), dtype=np.int16)
            for j in range(m):
                S = Vn[:, j * dsub : (j + 1) * dsub]
                d = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame({"_id": ids, "codes": list(codes)})

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, schema="_id long, codes array<short>"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    overscan: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: np.ndarray | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Product-quantization approximate top-k (Jégou et al. 2011): PQ
    codebooks train on a bounded deterministic sample; the corpus is
    compressed map-side to ``m`` byte codes; each query precomputes an
    asymmetric-distance (ADC) lookup table — dot(query_sub, centroid)
    per (subspace, code) — so a candidate's approximate cosine is just
    ``m`` table lookups summed over its codes: the full scan reads ONLY
    the code column (m bytes/vector), never the embeddings. Per
    partition the top ``k * overscan`` ADC candidates survive; the
    exact cosine re-rank (one join back to the embedding column for the
    tiny candidate set, |Q|·k·overscan·partitions rows) restores true
    scores and the output contract of brute_force_topk: (query_id,
    neighbor_id, rank, cosine), same tie rule.

    ``books`` injects a pre-trained codebook (m, ks, dim/m), skipping
    the k-means trainer — the standard faiss-style pretrained-quantizer
    workflow, and the oracle-parity seam: with an integer-valued
    codebook, integer-valued vectors, and ``normalize=False``, every
    encode distance and ADC score is an exact integer, so a SQL engine
    replays candidate selection value-for-value (the k-means trainer
    itself is not SQL-expressible)."""
    import pandas as pd

    if books is None:
        books = _pq_train(corpus, m, ks, id_col, vec_col)
    codes = pq_encode(corpus, books, id_col, vec_col, normalize=normalize)

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True) if normalize else Q
    mm, kk, dsub = books.shape
    # ADC tables: (nq, m, ks) — dot restricted to each subspace
    LUT = np.einsum("qmd,mkd->qmk", Qn.reshape(len(Qn), mm, dsub), books)
    cap = k * overscan

    def scan(batches):
        for pdf in batches:
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            C = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            out_q, out_n = [], []
            for qi in range(len(qids)):
                # approx dot = sum over subspaces of LUT[qi, j, code_j]
                s = LUT[qi][np.arange(mm)[None, :], C].sum(axis=1)
                s[ids == qids[qi]] = -np.inf
                top = np.lexsort((ids, -s))[:cap]
                top = top[np.isfinite(s[top])]
                out_q.extend([qids[qi]] * len(top))
                out_n.extend(ids[top])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

    cand = codes.mapInPandas(scan, schema="query_id long, neighbor_id long")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", cosine_col(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine")
    )


def embedding_norm_stats(
    corpus: DataFrame,
    vec_col: str = "embedding",
    group_col: str | None = "label",
    quant: int = 1000,
) -> DataFrame:
    """Per-group embedding-norm census — the sanity profile run before
    any ANN build (zero vectors, norm drift between shards/labels).

    Engine-portable by construction: each component is first quantized
    ``floor(double(x) * quant)`` (one IEEE multiply + floor, identical
    everywhere), the squared norm is then an EXACT integer sum over the
    array — order-free — and all group aggregates (count, min, max,
    sum) run on integers. No float ever crosses an aggregation.

    Plan: pure map-side array fold inside codegen + one tiny group
    hash aggregate; zero joins, zero windows. Output:
    (group, n_vecs, min_norm2_q, max_norm2_q, sum_norm2_q, n_zero).
    """
    q = F.lit(int(quant))
    norm2 = F.aggregate(
        F.transform(F.col(vec_col), lambda x: F.floor(x.cast("double") * q).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, xi: acc + xi * xi,
    )
    gcol = F.col(group_col) if group_col else F.lit(0)
    return (
        corpus.select(gcol.alias("grp"), norm2.alias("_n2"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("_n2").alias("min_norm2_q"),
            F.max("_n2").alias("max_norm2_q"),
            F.sum("_n2").alias("sum_norm2_q"),
            F.sum((F.col("_n2") == 0).cast("long")).alias("n_zero"),
        )
    )
