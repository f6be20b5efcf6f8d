"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exactness baseline. Queries are the small
  side -> broadcast; candidates stream. All arithmetic is built-in
  higher-order functions (zip_with/aggregate) on double-cast arrays, fully
  JVM-side.
- LSH-bucketed ANN: random-hyperplane SimHash over the embedding (a numpy
  matmul per Arrow batch), banded like the text LSH so bucket self-joins
  find candidates; exact cosine re-rank inside buckets. The scale path:
  candidate generation is a shuffle on (band_idx, band_key), never a cross
  join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType

from datasketches_rust_spark.hashing import murmur3_x64_128


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def with_norm(df: DataFrame, vec_col: str = "embedding",
              out: str = "__norm") -> DataFrame:
    v = _as_double(F.col(vec_col))
    return df.withColumn(out, F.sqrt(_dot(v, v)))


def cosine_topk_bruteforce(queries: DataFrame, candidates: DataFrame,
                           k: int, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """DataFrame[query_id, neighbor_id, rank] — exact cosine top-k.

    queries is broadcast (small side); ties broken by neighbor id so the
    result is deterministic.
    """
    q = with_norm(queries.select(F.col(id_col).alias("query_id"),
                                 F.col(vec_col).alias("__qv")),
                  "__qv", "__qn")
    c = with_norm(candidates.select(F.col(id_col).alias("neighbor_id"),
                                    F.col(vec_col).alias("__cv")),
                  "__cv", "__cn")
    sim = (_dot(_as_double(F.col("__qv")), _as_double(F.col("__cv")))
           / F.greatest(F.col("__qn") * F.col("__cn"), F.lit(1e-12)))
    joined = F.broadcast(q).crossJoin(c).withColumn("__sim", sim)
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"),
                                               F.col("neighbor_id"))
    return (joined.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def cosine_pairs_bruteforce(df: DataFrame, threshold: float,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """DataFrame[id_a, id_b] — all pairs with cosine >= threshold.
    O(n^2): the correctness baseline; use lsh variants at scale."""
    a = with_norm(df.select(F.col(id_col).alias("id_a"),
                            F.col(vec_col).alias("__va")), "__va", "__na")
    b = with_norm(df.select(F.col(id_col).alias("id_b"),
                            F.col(vec_col).alias("__vb")), "__vb", "__nb")
    sim = (_dot(_as_double(F.col("__va")), _as_double(F.col("__vb")))
           / F.greatest(F.col("__na") * F.col("__nb"), F.lit(1e-12)))
    return (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
            .withColumn("__sim", sim)
            .where(F.col("__sim") >= threshold)
            .select("id_a", "id_b"))


# ---------------------------------------------------------------------------
# random-hyperplane LSH (angular SimHash on embeddings)
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, nbits: int, seed: int) -> np.ndarray:
    h1, h2 = murmur3_x64_128(b"hyperplane-lsh", seed)
    rng = np.random.default_rng(np.uint64(h1 ^ h2))
    return rng.standard_normal((dim, nbits))


def hyperplane_bands_udf(dim: int, nbits: int, num_bands: int, seed: int):
    """pandas UDF: embedding -> array<long> of band keys. nbits sign bits
    from a seeded Gaussian projection (one numpy matmul per Arrow batch),
    split into num_bands keys; vectors within a small angle share all bits
    w.h.p., so they collide on every band."""
    from pyspark.sql.functions import pandas_udf
    if nbits % num_bands:
        raise ValueError("num_bands must divide nbits")
    width = nbits // num_bands

    @pandas_udf(ArrayType(LongType()))
    def _udf(vecs: pd.Series) -> pd.Series:
        planes = _hyperplanes(dim, nbits, seed)
        mat = np.array(list(vecs), dtype=np.float64)  # (batch, dim)
        bits = (mat @ planes >= 0)  # (batch, nbits)
        weights = (np.uint64(1) << np.arange(width, dtype=np.uint64))
        out = []
        for row in bits:
            keys = [int((row[b * width:(b + 1) * width]
                         .astype(np.uint64) * weights).sum()) + (b << 40)
                    for b in range(num_bands)]
            out.append(keys)
        return pd.Series(out)

    return _udf


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Array columns carry no length in the schema, so absent an explicit
    ``dim`` this costs one tiny driver-side job. Callers on the hot path
    should pass dim explicitly."""
    return len(df.select(vec_col).first()[0])


def _band_candidates(df: DataFrame, id_col: str, vec_col: str, dim: int,
                     nbits: int, num_bands: int, seed: int,
                     max_bucket_size: int = 4096) -> DataFrame:
    """Id-only LSH candidate generation: DataFrame[id_a, id_b], id_a <
    id_b. The band exchange carries ONLY (id, band_key) rows — never the
    embedding vectors (at 10^9 rows x 768 dims, shuffling vectors
    through the band join would multiply shuffle bytes by ~2 x dim x
    bands; vectors are re-joined once afterwards by the caller). Pair
    dedup happens in one groupBy on the id pair.

    Hot-bucket guard: candidate generation is operators/lsh's one bucket
    pass (one band exchange, one Arrow pass; lsh.pair_candidates), the
    same for small keyspaces (the default low-threshold parameters,
    2^(nbits/num_bands) x num_bands keys) and for selective near-dup
    parameters whose occupied keys approach the row count. Buckets over
    ``max_bucket_size`` degrade to star edges around their min-id member
    instead of O(size^2) pairs (a crawl-scale cluster of near-identical
    embeddings lands its whole population in the same bucket of EVERY
    band; the downstream exact verify keeps star edges between true dups
    and rejects hash coincidences, so connected components still recover
    the cluster). Set max_bucket_size=0 to restore exact pairwise
    candidates.
    """
    from datasketches_rust_spark.operators.lsh import pair_candidates
    bands = hyperplane_bands_udf(dim, nbits, num_bands, seed)
    keyed = df.select(F.col(id_col).alias("__id"),
                      F.explode(bands(F.col(vec_col))).alias("band_key"))
    return pair_candidates(keyed, max_bucket_size)


def _exact_rerank_topk(cand: DataFrame, df: DataFrame, k: int,
                       id_col: str, vec_col: str) -> DataFrame:
    """Exact cosine re-rank of id-only candidate pairs: vectors re-join
    once (two broadcast-or-shuffle hash joins on the id key), so the
    candidate-generation shuffles never carry embedding payloads."""
    vecs = with_norm(df.select(F.col(id_col), F.col(vec_col)),
                     vec_col, "__n")
    qv = vecs.select(F.col(id_col).alias("query_id"),
                     F.col(vec_col).alias("__qv"), F.col("__n").alias("__qn"))
    cv = vecs.select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("__cv"), F.col("__n").alias("__cn"))
    sim = (_dot(_as_double(F.col("__qv")), _as_double(F.col("__cv")))
           / F.greatest(F.col("__qn") * F.col("__cn"), F.lit(1e-12)))
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"),
                                               F.col("neighbor_id"))
    return (cand.join(qv, "query_id").join(cv, "neighbor_id")
            .withColumn("__sim", sim)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def ann_lsh_topk(df: DataFrame, k: int, id_col: str = "vec_id",
                 vec_col: str = "embedding", nbits: int = 32,
                 num_bands: int = 4, seed: int = 9001,
                 dim: int | None = None,
                 max_bucket_size: int = 4096) -> DataFrame:
    """Approximate top-k neighbors per vector via hyperplane-LSH buckets +
    exact cosine re-rank. Returns DataFrame[query_id, neighbor_id, rank].

    The band exchange carries ids only; vectors re-join once for the
    re-rank (two broadcast-or-shuffle hash joins on the id key). Buckets
    over ``max_bucket_size`` degrade to star candidates around the
    bucket min (see _band_candidates) — members of a capped bucket only
    see the representative (plus their cold-bucket collisions) as
    candidates, the documented recall trade for not exploding a
    crawl-scale duplicate cluster quadratically."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    pairs = _band_candidates(df, id_col, vec_col, dim, nbits, num_bands,
                             seed, max_bucket_size)
    # both directions: each vector ranks its neighbors on either side
    cand = (pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"),
                     F.col("id_a").alias("id_b")))
        .select(F.col("id_a").alias("query_id"),
                F.col("id_b").alias("neighbor_id")))
    return _exact_rerank_topk(cand, df, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — KMeans coarse quantizer + cell-bucketed join
# ---------------------------------------------------------------------------

def train_ivf_centroids(df: DataFrame, nlist: int,
                        vec_col: str = "embedding", seed: int = 9001,
                        max_iter: int = 20) -> np.ndarray:
    """(nlist, dim) float64 coarse-quantizer centroids via distributed
    KMeans (pyspark.ml, k-means|| init, fixed seed). At 10^9+ rows train
    on a sample — the quantizer only needs the coarse density shape:
    ``df.sample(fraction).limit(...)`` upstream of this call."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    tr = df.select(array_to_vector(_as_double(F.col(vec_col)))
                   .alias("features"))
    model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(tr)
    return np.array([np.asarray(c) for c in model.clusterCenters()],
                    dtype=np.float64)


def ivf_cells_udf(centroids: np.ndarray, nprobe: int):
    """pandas UDF: embedding -> array<long> of the nprobe nearest cell
    ids by cosine (one numpy matmul per Arrow batch; the centroid matrix
    rides the closure exactly like a broadcast variable)."""
    from pyspark.sql.functions import pandas_udf
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    @pandas_udf(ArrayType(LongType()))
    def _udf(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cn.T                            # (batch, nlist)
        if nprobe == 1:
            top = np.argmax(sims, axis=1)[:, None]
        else:
            p = min(nprobe, sims.shape[1])
            top = np.argpartition(-sims, p - 1, axis=1)[:, :p]
            order = np.take_along_axis(sims, top, axis=1).argsort(axis=1)
            top = np.take_along_axis(top, order[:, ::-1], axis=1)
        return pd.Series([row.tolist() for row in top])

    return _udf


def ann_ivf_topk(df: DataFrame, k: int, id_col: str = "vec_id",
                 vec_col: str = "embedding", nlist: int = 16,
                 nprobe: int = 4, seed: int = 9001,
                 centroids: np.ndarray | None = None) -> DataFrame:
    """Approximate top-k neighbors per vector via an IVF (inverted-file)
    index: a KMeans coarse quantizer assigns every vector to its home
    cell; each query probes its ``nprobe`` nearest cells; candidates are
    the cell co-residents, re-ranked by exact cosine. Returns
    DataFrame[query_id, neighbor_id, rank].

    Scale shape: the candidate join is an equi-join on the cell id
    carrying ids only — rows per query = nprobe * n / nlist, tuned by
    nlist ~ sqrt(n) at 10^9 rows. A candidate's home cell is unique, so
    (query, candidate) pairs are already distinct: no dedup shuffle
    (unlike banded LSH). ``centroids`` may be passed in (e.g. trained
    once on a sample and reused / checkpointed); otherwise trained here.
    """
    if centroids is None:
        centroids = train_ivf_centroids(df, nlist, vec_col, seed)
    probe = ivf_cells_udf(centroids, nprobe)
    home = ivf_cells_udf(centroids, 1)
    q = df.select(F.col(id_col).alias("query_id"),
                  F.explode(probe(F.col(vec_col))).alias("__cell"))
    c = df.select(F.col(id_col).alias("neighbor_id"),
                  F.explode(home(F.col(vec_col))).alias("__cell"))
    cand = (q.join(c, "__cell")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id"))
    return _exact_rerank_topk(cand, df, k, id_col, vec_col)


def ann_recall_report(df: DataFrame, k: int = 3, id_col: str = "vec_id",
                      vec_col: str = "embedding", dim: int | None = None,
                      seed: int = 9001) -> DataFrame:
    """Driver-visible recall report: runs each ANN method against the
    exact brute-force top-k truth ON THE SAME INPUT and returns
    DataFrame[method, hits, n_truth, recall] — one row per (method,
    operating point). Lets the verification gate (and any operator of a
    production deploy) SEE the recall number instead of trusting a
    pytest that ran elsewhere.

    Operating points: each method's registered-query default plus its
    high-recall tuning (lsh 32 bits x 16 bands ~= 1.0 on the fixture;
    ivf probing 6/8 cells ~= 0.92 — i.i.d. Gaussian embeddings are
    IVF's worst case, no cluster structure for the coarse quantizer to
    exploit, so the honest recall/cost curve is steep). Truth is
    brute-force top-(k+1) with self-matches dropped and ranks
    renumbered; everything is one lazy DataFrame (no driver-side
    collection)."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    t = (cosine_topk_bruteforce(df, df, k=k + 1, id_col=id_col,
                                vec_col=vec_col)
         .where(F.col("query_id") != F.col("neighbor_id")))
    w = Window.partitionBy("query_id").orderBy("rank")
    truth = (t.withColumn("__r", F.row_number().over(w))
             .where(F.col("__r") <= k)
             .select("query_id", "neighbor_id"))
    runs = [
        ("lsh_24x8", ann_lsh_topk(df, k, id_col, vec_col, nbits=24,
                                  num_bands=8, seed=seed, dim=dim)),
        ("lsh_32x16", ann_lsh_topk(df, k, id_col, vec_col, nbits=32,
                                   num_bands=16, seed=seed, dim=dim)),
    ]
    # the three IVF-family points share (nlist=8, seed) -> train the
    # coarse quantizer ONCE and pass it through; the PQ codebooks are
    # likewise trained once here (each is otherwise retrained eagerly
    # at operator-construction time)
    cent = train_ivf_centroids(df, 8, vec_col, seed)
    runs += [
        ("ivf_8x3", ann_ivf_topk(df, k, id_col, vec_col, nlist=8,
                                 nprobe=3, seed=seed, centroids=cent)),
        ("ivf_8x6", ann_ivf_topk(df, k, id_col, vec_col, nlist=8,
                                 nprobe=6, seed=seed, centroids=cent)),
    ]
    # lazy import: operators.pq imports this module at load time
    from datasketches_rust_spark.operators.pq import (ann_ivfpq_topk,
                                                      train_pq_codebooks)
    books = train_pq_codebooks(df, id_col=id_col, vec_col=vec_col,
                               seed=seed, dim=dim)
    runs.append(
        ("ivfpq_16x16x64", ann_ivfpq_topk(df, k, id_col, vec_col,
                                          seed=seed, dim=dim,
                                          centroids=cent,
                                          codebooks=books)))
    got = None
    for name, res in runs:
        tagged = res.select(F.lit(name).alias("method"),
                            "query_id", "neighbor_id")
        got = tagged if got is None else got.unionByName(tagged)
    hits = (got.join(truth, ["query_id", "neighbor_id"])
            .groupBy("method").agg(F.count("*").alias("hits")))
    denom = truth.agg(F.count("*").alias("n_truth"))
    return (hits.crossJoin(denom)
            .select("method", "hits", "n_truth",
                    F.round(F.col("hits") / F.col("n_truth"), 4)
                    .alias("recall"))
            .orderBy("method"))


def _exact_cosine_verify(cand: DataFrame, df: DataFrame, threshold: float,
                         id_col: str, vec_col: str) -> DataFrame:
    """The id-only candidate pairs (id_a, id_b) whose exact cosine is >=
    threshold, with the cosine in ``__sim``: vectors and norms re-join
    once per side (two broadcast-or-shuffle hash joins on the id key)."""
    vecs = with_norm(df.select(F.col(id_col), F.col(vec_col)),
                     vec_col, "__n")
    va = vecs.select(F.col(id_col).alias("id_a"),
                     F.col(vec_col).alias("__va"), F.col("__n").alias("__na"))
    vb = vecs.select(F.col(id_col).alias("id_b"),
                     F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb"))
    sim = (_dot(_as_double(F.col("__va")), _as_double(F.col("__vb")))
           / F.greatest(F.col("__na") * F.col("__nb"), F.lit(1e-12)))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("__sim", sim)
            .where(F.col("__sim") >= threshold))


def cosine_pairs_lsh(df: DataFrame, threshold: float,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     nbits: int = 96, num_bands: int = 24,
                     seed: int = 9001, dim: int | None = None,
                     keep_sim: bool = False,
                     max_bucket_size: int = 4096) -> DataFrame:
    """DataFrame[id_a, id_b] — pairs with cosine >= threshold, via
    hyperplane-LSH candidate generation + exact cosine verify. The scale
    path replacing cosine_pairs_bruteforce: no cross join anywhere; the
    band exchange carries (id, band_key) rows only, and buckets over
    ``max_bucket_size`` degrade to star edges around their min-id member
    (see _band_candidates — the embedding-axis version of the MinHash
    hot-bucket guard; the exact-cosine verify below keeps true-dup star
    edges, so clusters of near-identical embeddings stay connected at
    O(size) instead of exploding the band join at O(size^2)).

    Recall is 1-(1-p^w)^B with p = 1 - theta/pi per bit: selective at
    near-dup thresholds (>=0.8 -> p>=0.8), inherently weak at low ones —
    at threshold 0.45 (p=0.65) the default 24 bands x 4 bits give recall
    ~1-1e-6 for pairs AT the threshold but barely filter the background
    (the physics of low-threshold angular LSH, not an implementation
    artifact; validated recall 1.0 vs the brute-force oracle on the
    sf0.01/sf0.1 fixtures in tests/test_similarity.py)."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    cand = _band_candidates(df, id_col, vec_col, dim, nbits, num_bands,
                            seed, max_bucket_size)
    out = _exact_cosine_verify(cand, df, threshold, id_col, vec_col)
    if keep_sim:
        return out.select("id_a", "id_b", F.col("__sim").alias("sim"))
    return out.select("id_a", "id_b")


def ivf_home_udf(centroids: np.ndarray):
    """pandas UDF: embedding -> struct<cell:long, csim:double> — the
    nearest centroid by cosine AND that cosine (one numpy matmul per
    Arrow batch; the argmax matches ivf_cells_udf(nprobe=1) exactly)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType, StructField, StructType
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    @pandas_udf(StructType([StructField("cell", LongType()),
                            StructField("csim", DoubleType())]))
    def _udf(vecs: pd.Series) -> pd.DataFrame:
        mat = np.array(list(vecs), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cn.T
        cell = np.argmax(sims, axis=1)
        return pd.DataFrame({
            "cell": cell.astype(np.int64),
            "csim": sims[np.arange(len(cell)), cell]})

    return _udf


SEMDEDUP_MAX_CELL = 4096    # semantic_dedup cells above this go star
SEMDEDUP_KMEANS_ITERS = 8   # Lloyd iterations of its coarse quantizer


def semantic_dedup(df: DataFrame, threshold: float, nlist: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed: int = 9001, centroids: np.ndarray | None = None
                   ) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — semantic dedup scoped by a KMeans
    partition of embedding space: every vector is assigned its nearest
    centroid's cell, candidate pairs exist only WITHIN a cell, pairs
    with exact cosine >= threshold form dup groups (connected
    components), and each group KEEPS its least-central member (min
    cosine to the cell centroid — the method's diversity rule: near the
    centroid means redundant; min-id on float ties).

    Output: DataFrame[vec_id, cell, cluster_id, cluster_size, is_kept]
    — one row per input vector; cluster columns are null for vectors
    with no dup (which are always kept).

    Scale shape: clustering IS the method's all-pairs guard — nlist
    grows with n (the paper uses ~n/10^4 clusters) so cells stay
    bounded, and the within-cell pairing routes through
    bucketed_pair_events (the one bucket pass of operators/lsh, cells as
    band keys) where cells over SEMDEDUP_MAX_CELL degrade to star edges
    around the min-id member instead of O(size^2) pairs — the exact
    verify keeps true-dup star edges and CC reconnects the group. Only
    (id, cell) rows enter the pairing exchange; vectors re-join once
    for the exact-cosine verify. The coarse quantizer trains on a
    sample at 10^9+ rows and rides the closure like a broadcast
    variable (pass ``centroids`` to reuse a checkpointed quantizer)."""
    from datasketches_rust_spark.operators.connected_components import \
        component_labels
    from datasketches_rust_spark.operators.lsh import bucketed_pair_events
    if centroids is None:
        # quantizer quality barely moves dedup recall (near-identical
        # vectors share an argmax cell under ANY reasonable centroids),
        # so fewer Lloyd iterations than ANN's quantizer is the right
        # default — each iteration is a full Spark job
        centroids = train_ivf_centroids(df, nlist, vec_col, seed,
                                        max_iter=SEMDEDUP_KMEANS_ITERS)
    home = ivf_home_udf(centroids)
    asg = (df.select(F.col(id_col), home(F.col(vec_col)).alias("__h"))
           .select(id_col, F.col("__h.cell").alias("cell"),
                   F.col("__h.csim").alias("csim")))
    # three independent consumers (pairing, members join, final left
    # join) would each re-run the assignment matmul over the whole
    # corpus — persist the small (id, cell, csim) table and materialize
    # it with one full-parallelism count() BEFORE consumers fan out
    # (per-partition cache-lock serialization otherwise; see CLAUDE.md).
    # NOT track()ed yet: component_labels releases tracked caches
    # when it checkpoints, and asg is consumed after that point —
    # registered for deferred release at the end instead.
    from pyspark.storagelevel import StorageLevel
    asg = asg.persist(StorageLevel.MEMORY_AND_DISK)
    asg.count()
    keyed = asg.select(F.col(id_col).alias("__id"),
                       F.col("cell").alias("band_key"))
    cand = (bucketed_pair_events(keyed, SEMDEDUP_MAX_CELL)
            .select("id_a", "id_b"))
    edges = (_exact_cosine_verify(cand, df, threshold, id_col, vec_col)
             .select("id_a", "id_b"))
    cc = component_labels(edges, id_col)
    members = cc.join(asg.select(id_col, "csim"), id_col)
    keep = (members.groupBy("cluster_id")
            .agg(F.min(F.struct("csim", id_col)).alias("__k"),
                 F.count("*").alias("cluster_size")))
    flagged = (members.join(keep, "cluster_id")
               .select(id_col, "cluster_id", "cluster_size",
                       (F.col("__k") == F.struct("csim", id_col))
                       .alias("is_kept")))
    from datasketches_rust_spark.cache import register
    register(asg)  # released by the next pipeline/CC invocation
    return (asg.select(id_col, "cell").join(flagged, id_col, "left")
            .select(id_col, "cell", "cluster_id", "cluster_size",
                    F.coalesce("is_kept", F.lit(True)).alias("is_kept")))


def embedding_dedup_keep_central(df: DataFrame, threshold: float,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 dim: int | None = None) -> DataFrame:
    """Embedding-axis representative selection: per embedding-dup
    cluster keep the most CENTRAL member — max summed cosine over its
    verified dup edges (min-id tiebreak) — the member that best
    represents the duplicate set, vs an arbitrary min-id keep.

    Output: DataFrame[cluster_id, rep_id, cluster_size] for clusters
    with >= 2 members.

    Scale shape: clusters come from connected components over the
    LSH-verified pair list (edge-touched vertices only), and centrality
    reuses the pair sims already computed by the verify stage — summed
    per incident vertex with one groupBy — so NO vector re-shuffles
    happen after the verify join. Rep selection is the same two
    cluster-keyed partial aggregates as the image path (max centrality,
    then min id among the argmax), deterministic on float ties.
    """
    from datasketches_rust_spark.operators.connected_components import \
        connected_components
    pairs = cosine_pairs_lsh(df, threshold, id_col=id_col, vec_col=vec_col,
                             dim=dim, keep_sim=True)
    cc = connected_components(pairs.select("id_a", "id_b"), id_col)
    centrality = (pairs.select(F.col("id_a").alias(id_col), "sim")
                  .unionByName(
                      pairs.select(F.col("id_b").alias(id_col), "sim"))
                  .groupBy(id_col)
                  .agg(F.sum("sim").alias("__cent")))
    members = cc.join(centrality, id_col)
    best = (members.groupBy("cluster_id")
            .agg(F.max("__cent").alias("__best"),
                 F.count("*").alias("cluster_size")))
    return (members.join(best, "cluster_id")
            .where(F.col("__cent") == F.col("__best"))
            .groupBy("cluster_id", "cluster_size")
            .agg(F.min(id_col).alias("rep_id"))
            .select("cluster_id", "rep_id", "cluster_size"))
