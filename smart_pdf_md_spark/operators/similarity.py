"""Similarity search over an embedding column (`array<float>`).

Three paths, same result shape (query_id, neighbor_id, cosine, rank):

- brute-force top-k — the exact baseline: broadcast the (small) query set,
  score every corpus vector with pure Column exprs (zip_with dot product —
  JVM-side, codegen'd), window top-k per query. At 100 TB: one scan, no
  shuffle except the final per-query top-k (tiny).
- IVF — the approximate scale path: score only the vectors in each
  query's nprobe nearest k-means lists (an equi-join on list_id).
- PQ — asymmetric distance over m-byte codes, so the raw vectors are never
  read at query time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _cosine(a, b) -> object:
    # compute in float64 regardless of storage type (float32 parquet) so the
    # result is engine-portable (matches a DOUBLE[]-cast DuckDB oracle)
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def topk_bruteforce(emb: DataFrame, queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    `queries` has the same schema as `emb` (typically a tiny filtered subset
    → broadcast). Self-matches excluded. Ties broken by neighbor id for
    determinism."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(_cosine(F.col("qv"), F.col("nv")) + 1e-9, 4).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the classic ANN scale path
# (cf. Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011 §III: IVF coarse quantizer without the PQ refinement).
# Train a small k-means codebook, partition vectors into n_lists inverted
# lists, search only the nprobe lists nearest to each query. Everything is
# pure Column exprs: the codebook is tiny and enters the plan as array
# literals, so assignment/search stay in whole-stage codegen — no UDF, no
# broadcast variable, and the candidate join is an equi-join on list_id.
# ---------------------------------------------------------------------------

def _sqdist_to_lists(vec_col: str, centroids: np.ndarray):
    """array<double> of squared distances from `vec_col` to every centroid
    (codebook as nested array literals — codegen'd, JVM-side)."""
    carr = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    v = F.col(vec_col).cast("array<double>")
    return F.transform(
        carr,
        lambda c: F.aggregate(F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
                              F.lit(0.0), lambda acc, x: acc + x))


def _nearest_list(vec_col: str, centroids: np.ndarray):
    """0-based index of the nearest centroid. array_min returns an element
    of the array, so the equality in array_position is exact; ties resolve
    to the FIRST minimal index — deterministic."""
    d2 = _sqdist_to_lists(vec_col, centroids)
    return (F.array_position(d2, F.array_min(d2)) - 1).cast("int")


def ivf_train(emb: DataFrame, n_lists: int = 16, n_iters: int = 3,
              id_col: str = "vec_id", vec_col: str = "embedding",
              dim: int = 64, sample_mod: int = 1) -> np.ndarray:
    """Deterministic Lloyd's k-means codebook (n_lists × dim).

    - init: the n_lists vectors with the smallest xxhash64(id) — a seeded
      pseudo-random sample, stable at any parallelism;
    - each iteration: one groupBy(list) with `dim` avg aggregates (one
      shuffle of n_lists×dim agg state — no per-component explode);
    - centroids are rounded to 9 decimals after every update so the
      float-reduction order of avg() cannot leak nondeterminism into
      assignments;
    - `sample_mod=m` trains on the deterministic 1/m id-hash sample — at
      100 TB you train the codebook on a sliver and assign everything.
    Empty clusters keep their previous centroid (standard Lloyd fallback).
    """
    base = emb.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    if sample_mod > 1:
        base = base.filter(F.pmod(F.xxhash64("id"), F.lit(sample_mod)) == 0)
    cents = np.array(
        [r.v for r in base.select("v", F.xxhash64("id").alias("h"), "id")
         .orderBy("h", "id").limit(n_lists).collect()], dtype="float64")
    if len(cents) == 0:
        raise ValueError("ivf_train: empty input")
    for _ in range(n_iters):
        assigned = base.withColumn("list_id", _nearest_list("v", cents))
        means = (assigned.groupBy("list_id")
                 .agg(*[F.avg(F.col("v")[i]).alias(f"c{i}")
                        for i in range(dim)])
                 .collect())
        new = cents.copy()
        for r in means:
            new[r.list_id] = [r[f"c{i}"] for i in range(dim)]
        cents = np.round(new, 9)
    return cents


def ivf_assign(emb: DataFrame, centroids: np.ndarray,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(list_id, id, v): the inverted lists. At scale, write this
    partitioned/bucketed by list_id so a probe reads only its lists."""
    return emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("list_id", _nearest_list("v", centroids))


def topk_ivf(emb: DataFrame, queries: DataFrame, k: int = 5,
             n_lists: int = 16, nprobe: int = 4, n_iters: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, centroids: np.ndarray | None = None) -> DataFrame:
    """Approximate top-k via IVF: score only vectors in each query's nprobe
    nearest lists. Same output shape as topk_bruteforce
    (query_id, neighbor_id, cosine, rank). Candidate work is
    sum(|probed lists|) per query, never n; the join is an equi-join on
    list_id with the (tiny) query-probe table broadcast."""
    if centroids is None:
        centroids = ivf_train(emb, n_lists, n_iters, id_col, vec_col, dim)
    index = ivf_assign(emb, centroids, id_col, vec_col) \
        .withColumnRenamed("id", "neighbor_id").withColumnRenamed("v", "nv")
    qd = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.posexplode(_sqdist_to_lists(vec_col, centroids))
        .alias("list_id", "d2"))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("list_id").asc())
    probes = (qd.withColumn("pr", F.row_number().over(w_probe))
              .filter(F.col("pr") <= nprobe)
              .select("query_id", "qv", "list_id"))
    scored = (
        index.join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(_cosine(F.col("qv"), F.col("nv")) + 1e-9, 4).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def pq_train(emb: DataFrame, m: int = 8, ks: int = 16, n_iters: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, sample_mod: int = 1) -> np.ndarray:
    """Product-quantization codebook (Jégou/Douze/Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011) → shape
    (m, ks, dim/m): the vector space splits into m subspaces and each is
    k-means'd independently, so a vector compresses to m small code ids
    (m bytes at ks=256) while distances remain computable from per-query
    lookup tables — the memory-bound ANN regime that keeps a billion-
    vector index in RAM where raw float32 would need dim·4 bytes/vector.

    Each subspace reuses :func:`ivf_train`'s deterministic Lloyd's
    machinery verbatim (seeded id-hash init, rounded centroids,
    `sample_mod` training sliver), applied to the sliced column — the
    codebook is a pure function of the data at any parallelism."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    vec = F.col(vec_col).cast("array<double>")
    books = []
    for s in range(m):
        sliced = emb.select(F.col(id_col).alias("vec_id"),
                            F.slice(vec, s * dsub + 1, dsub).alias("embedding"))
        books.append(ivf_train(sliced, n_lists=ks, n_iters=n_iters,
                               dim=dsub, sample_mod=sample_mod))
    return np.stack(books)


def pq_encode(emb: DataFrame, codebook: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, code array<int> length m) — each vector's per-subspace nearest
    centroid ids. One Arrow pass (numpy argmin over all subspaces at
    once); codes are a pure function of (vector, codebook), so encoding
    is partitioning/resume-invariant. At scale this table IS the index:
    m bytes/vector instead of dim·4."""
    from pyspark.sql import types as T

    mm, ks, dsub = codebook.shape
    cb = codebook  # captured; broadcast by closure serialization

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vs: pd.Series) -> pd.Series:
        x = np.array(vs.tolist(), dtype="float64")        # (n, dim)
        sub = x.reshape(len(x), mm, dsub)                 # (n, m, dsub)
        # ‖x_s − c_sj‖² for all subspaces/codes: (n, m, ks)
        d2 = ((sub[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        codes = d2.argmin(axis=2).astype("int32")         # first-min ties
        return pd.Series(list(codes))

    return emb.select(F.col(id_col).alias("id"),
                      encode(F.col(vec_col).cast("array<double>"))
                      .alias("code"))


def topk_pq(emb: DataFrame, queries: DataFrame, k: int = 5,
            m: int = 8, ks: int = 16, n_iters: int = 3,
            id_col: str = "vec_id", vec_col: str = "embedding",
            dim: int = 64, codebook: np.ndarray | None = None,
            codes: DataFrame | None = None,
            rerank_from: int | None = None) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance computation (ADC):
    per query, an (m × ks) table of subspace dot products against the
    codebook is built once, and every corpus vector scores as m table
    lookups over its CODE — the raw vectors are never touched at query
    time. Score = estimated cosine q·x̂/(‖q‖·‖x̂‖) with x̂ the codebook
    reconstruction; same output shape as the other ANN paths
    (query_id, neighbor_id, cosine, rank), with `cosine` the ADC
    ESTIMATE (recall-gated in tests, like IVF).

    Scale shape: the scan side reads only (id, code) — m bytes/vector;
    queries broadcast (tiny); the only shuffle is the per-query top-k
    window. Pass precomputed `codebook`/`codes` to skip training and
    encoding (the serving path).

    ``rerank_from=R`` enables the ADC+R configuration (the paper's §VII,
    the standard high-recall serving mode): ADC shortlists the top R per
    query from codes alone, then ONLY those R rows join back to the raw
    vectors for an exact-cosine rerank to k — quantization error affects
    the shortlist boundary, not the final ordering, and the raw-vector
    read is R·|queries| rows instead of the corpus."""
    if codebook is None:
        codebook = pq_train(emb, m, ks, n_iters, id_col, vec_col, dim)
    if codes is None:
        codes = pq_encode(emb, codebook, id_col, vec_col)
    mm, _ks, dsub = codebook.shape
    cb = codebook
    qrows = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).cast("array<double>").alias("qv")) \
        .collect()  # query set is tiny by contract (the broadcast side)
    qtab = {}
    for r in qrows:
        q = np.asarray(r.qv, dtype="float64").reshape(mm, dsub)
        qtab[r.query_id] = {
            "dot": np.einsum("sd,skd->sk", q, cb),        # (m, ks)
            "qn": float(np.linalg.norm(q)),
        }
    cnorm2 = (cb ** 2).sum(axis=2)                        # (m, ks)

    @F.pandas_udf("double")
    def adc(qids: pd.Series, code_s: pd.Series) -> pd.Series:
        codes_np = np.array(code_s.tolist(), dtype="int64")   # (n, m)
        rows = np.arange(mm)
        out = np.empty(len(codes_np))
        for qid, grp in pd.Series(range(len(qids))).groupby(qids.values):
            t = qtab[qid]
            idx = grp.values
            c = codes_np[idx]                                 # (g, m)
            dots = t["dot"][rows[None, :], c].sum(axis=1)     # (g,)
            xnorm = np.sqrt(cnorm2[rows[None, :], c].sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                est = np.where(xnorm > 0, dots / (t["qn"] * xnorm), 0.0)
            out[idx] = est
        return pd.Series(np.round(out + 1e-9, 4))

    qids_df = queries.select(F.col(id_col).alias("query_id"))
    scored = (codes.withColumnRenamed("id", "neighbor_id")
              .crossJoin(F.broadcast(qids_df))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      adc("query_id", "code").alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    if rerank_from is None:
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= max(rerank_from, k))
                 .select("query_id", "neighbor_id"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).cast("array<double>").alias("qv"))
    nv = emb.select(F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).cast("array<double>").alias("nv"))
    exact = (shortlist.join(nv, "neighbor_id").join(F.broadcast(qv), "query_id")
             .select("query_id", "neighbor_id",
                     F.round(_cosine(F.col("qv"), F.col("nv")) + 1e-9, 4)
                     .alias("cosine")))
    return (exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def mean_pool(emb: DataFrame, group_col: str, vec_col: str = "embedding",
              dim: int = 64, normalize: bool = True) -> DataFrame:
    """Pool chunk/frame embeddings into one vector per `group_col`
    (training-data pipelines embed chunks, then need doc-level vectors for
    dedup/ANN). Component-wise mean as `dim` avg aggregates in ONE groupBy —
    one shuffle of dim-wide agg state, no posexplode of n×dim rows. With
    `normalize=True` the result is L2-unit (cosine-ready)."""
    v = F.col(vec_col).cast("array<double>")
    pooled = emb.groupBy(group_col).agg(
        F.count("*").alias("n_vecs"),
        *[F.avg(v[i]).alias(f"_c{i}") for i in range(dim)])
    arr = F.array(*[F.col(f"_c{i}") for i in range(dim)])
    if normalize:
        nrm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))
        arr = F.when(nrm > 0, F.transform(arr, lambda x: x / nrm)) \
            .otherwise(arr)
    return pooled.select(group_col, "n_vecs", arr.alias(vec_col))


def semdedup(emb: DataFrame, eps: float = 0.05,
             n_lists: int = 16, n_iters: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, centroids: np.ndarray | None = None,
             max_cluster: int = 4096,
             metrics: dict | None = None) -> DataFrame:
    """Semantic deduplication — SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540): k-means-partition the embedding space, then inside
    each cluster drop vectors whose cosine similarity to an already-kept
    vector exceeds 1−eps. One row per input vector:
    (id, list_id, is_keeper, keeper_id, sim_to_keeper) — ``is_keeper``
    filtered is the semantically-deduped corpus; keepers point to
    themselves with sim 1.0.

    Deterministic at any parallelism: the codebook is ivf_train's seeded
    Lloyd's (train on a ``sample_mod`` sliver at scale), and the in-cluster
    greedy scan runs in (distance-to-centroid DESC, id) order — farthest
    from the centroid first, so of a duplicate group the example LEAST
    typical of its cluster is kept, the paper's low-centroid-similarity
    keeper choice.

    Scale shape: the only shuffle is the groupBy(list_id) feeding
    applyInPandas — O(n·dim) Arrow traffic partitioned by cluster; no
    pairwise relation ever materializes (the greedy scan is a numpy
    matmul against the cluster's KEPT set only). Clusters beyond
    ``max_cluster`` rows dedupe their first ``max_cluster`` scan-order
    rows and pass the overflow through as keepers, with COUNTED drops
    (``metrics``) — at real scale raise
    ``n_lists`` so clusters bound, exactly like linking's MAX_BUCKET."""
    from pyspark.sql import types as T

    if centroids is None:
        centroids = ivf_train(emb, n_lists, n_iters, id_col, vec_col, dim)
    cb = centroids
    assigned = (ivf_assign(emb, centroids, id_col, vec_col)
                .select("id", "list_id", "v"))

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("list_id", T.IntegerType()),
        T.StructField("is_keeper", T.BooleanType()),
        T.StructField("keeper_id", T.LongType()),
        T.StructField("sim_to_keeper", T.DoubleType()),
        T.StructField("overflow", T.IntegerType()),
    ])
    thresh = 1.0 - eps
    cap = max_cluster

    def dedupe_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        lid = int(pdf["list_id"].iloc[0])
        vs = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(vs, axis=1)
        unit = vs / np.where(norms == 0, 1.0, norms)[:, None]
        d2 = ((vs - cb[lid]) ** 2).sum(axis=1)
        order = np.lexsort((pdf["id"].to_numpy(), -d2))  # dist DESC, id ASC
        kept_rows: list[int] = []
        ids = pdf["id"].to_numpy()
        # keeper ids live in their own int64 array — routing them through a
        # float64 matrix silently corrupts ids above 2^53 (xxhash64-derived
        # ids, the common pattern here; ADVICE r7)
        is_keeper = np.zeros(len(pdf), dtype=bool)
        keeper_id = np.empty(len(pdf), dtype=np.int64)
        sim = np.zeros(len(pdf), dtype=np.float64)
        for rank, i in enumerate(order):
            if rank >= cap:  # overflow passes through as keeper, counted
                is_keeper[i], keeper_id[i], sim[i] = True, ids[i], 1.0
                continue
            if kept_rows:
                sims = unit[kept_rows] @ unit[i]
                j = int(np.argmax(sims))
                if sims[j] > thresh:
                    is_keeper[i] = False
                    keeper_id[i] = ids[kept_rows[j]]
                    sim[i] = round(float(sims[j]) + 1e-9, 4)
                    continue
            kept_rows.append(i)
            is_keeper[i], keeper_id[i], sim[i] = True, ids[i], 1.0
        return pd.DataFrame({
            "id": ids, "list_id": lid,
            "is_keeper": is_keeper,
            "keeper_id": keeper_id,
            "sim_to_keeper": sim,
            "overflow": max(0, len(pdf) - cap)})

    res = (assigned.groupBy("list_id").applyInPandas(dedupe_cluster, schema)
           .localCheckpoint(eager=True))
    # `overflow` repeats the cluster's count on every row — max per
    # cluster, then total
    n_over = (res.groupBy("list_id").agg(F.max("overflow").alias("o"))
              .agg(F.coalesce(F.sum("o"), F.lit(0))).collect()[0][0])
    stats = {"overflow_rows": int(n_over)}
    if metrics is not None:
        metrics.update(stats)
    if n_over:
        import sys
        print(f"[semdedup] {n_over} rows passed through undeduped in "
              f"clusters over max_cluster={max_cluster}", file=sys.stderr)
    return res.drop("overflow")
