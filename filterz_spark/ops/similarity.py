"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force cosine top-k with JVM built-ins
  (F.zip_with/F.aggregate — no Python in the hot path); the baseline and the
  oracle-checkable path (DuckDB list_dot_product on the same data).
- ``lsh_ann_topk``: random-hyperplane LSH bucketing as the scale path — the
  candidate set shrinks to one bucket (+ optional multiprobe neighbors), and
  only candidates pay the exact-cosine cost. Hyperplanes are deterministic
  (SplitMix64 of (plane, dim)), so buckets are reproducible across runs and
  cluster sizes.

Scale posture: brute force is a map-only scan (fine as one pass, O(n) per
query — the right baseline); LSH turns it into an equi-join on bucket id:
at 10^9 vectors and 16-bit signatures each probe touches ~n/65536 vectors.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..hashing import splitmix64


def _dot_expr(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _batch_matrix(list_array: pa.Array) -> np.ndarray:
    """Arrow list<float> column -> (n, dim) float64 matrix WITHOUT the
    per-row python objects of ``to_pylist()`` (flatten is zero-copy on the
    values buffer). Embeddings must be non-null and fixed-width: a NULL or
    ragged row would silently shift every later row's values under the
    reshape, corrupting buckets/assignments/codes for the whole batch — so
    both conditions are validated, loudly."""
    n = len(list_array)
    if n == 0:
        return np.zeros((0, 0), dtype=np.float64)
    if list_array.null_count:
        raise ValueError(
            f"embedding column contains {list_array.null_count} NULL "
            "row(s); drop or impute them before similarity ops")
    flat = list_array.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    if flat.size % n:
        raise ValueError(
            f"ragged embedding widths in batch ({flat.size} values over "
            f"{n} rows); embeddings must be fixed-width")
    return flat.reshape(n, flat.size // n)


def cosine_topk(embeddings: DataFrame, query_vec: Sequence[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.

    Computation stays in whole-stage codegen (zip_with/aggregate on doubles);
    similarity rounded to 6dp with id tie-break for a deterministic ranking.
    """
    q = [float(x) for x in query_vec]
    qnorm = float(np.sqrt(np.dot(q, q)))
    qlit = F.array(*[F.lit(x) for x in q])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dot = _dot_expr(v, qlit)
    vnorm = F.sqrt(_dot_expr(v, v))
    sim = F.round(dot / (vnorm * F.lit(qnorm)), 6)
    return (
        embeddings.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(num_planes: int, dim: int) -> np.ndarray:
    """Deterministic +-1 hyperplanes from the SplitMix64 finalizer."""
    idx = (np.arange(num_planes, dtype=np.uint64)[:, None] * np.uint64(1_000_003)
           + np.arange(dim, dtype=np.uint64)[None, :])
    z = splitmix64(idx)
    return np.where((z & np.uint64(1)).astype(bool), 1.0, -1.0)


def _bucket_fn(num_planes: int, id_col: str, vec_col: str):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        planes = None
        for batch in batches:
            ids = batch.column(0)
            mat = _batch_matrix(batch.column(1))
            if mat.size == 0:
                continue  # defer plane init past empty batches (dim unknown)
            if planes is None:
                planes = _hyperplanes(num_planes, mat.shape[1])
            proj = mat @ planes.T  # (n, planes)
            bits = (proj > 0).astype(np.int64)
            bucket = bits.dot(1 << np.arange(num_planes, dtype=np.int64))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(bucket, pa.int64())], names=[id_col, "bucket"]
            )

    return fn


def lsh_buckets(embeddings: DataFrame, num_planes: int = 12,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(id, bucket) signature table — the ANN index side."""
    return embeddings.select(id_col, vec_col).mapInArrow(
        _bucket_fn(num_planes, id_col, vec_col), f"{id_col} long, bucket long"
    )


def query_bucket(query_vec: Sequence[float], num_planes: int = 12) -> int:
    q = np.asarray(query_vec, dtype=np.float64)
    planes = _hyperplanes(num_planes, q.size)
    bits = (planes @ q > 0).astype(np.int64)
    return int(bits.dot(1 << np.arange(num_planes, dtype=np.int64)))


def ivf_train(embeddings: DataFrame, n_clusters: int = 16, iters: int = 5,
              vec_col: str = "embedding", id_col: str = "vec_id") -> np.ndarray:
    """Deterministic coarse quantizer (k-means) for IVF: centroids init from
    the n_clusters lowest-id vectors, Lloyd iterations via one aggregation
    per round (assign map-side with broadcast centroids, re-center with a
    groupBy avg). Returns (n_clusters, dim) float64 centroids.

    Scale posture: each iteration is ONE scan + one tiny shuffle
    (n_clusters groups) — the assignment pass carries the vector through
    (``carry_vec``), so no per-iteration corpus join; centroids stay
    driver-side (KB)."""
    first = (embeddings.orderBy(id_col).limit(n_clusters)
             .select(vec_col).collect())
    centroids = np.array([r[0] for r in first], dtype=np.float64)
    for _ in range(iters):
        joined = ivf_assign(embeddings, centroids, vec_col, id_col,
                            carry_vec=True)
        for r in _recenter_means(joined, vec_col).collect():
            for e in r["dm"]:
                centroids[r["cluster"]][e["d"]] = e["m"]
    return centroids


def _recenter_means(assigned_vecs: DataFrame, vec_col: str) -> DataFrame:
    """Per-cluster mean vectors as ONE row per cluster:
    (cluster, dm array<struct<d,m>> sorted by dimension).

    Two-level shape, both executor-side: posexplode + groupBy(cluster, dim)
    computes the per-dimension means as one aggregate regardless of
    dimensionality (an avg() PER DIMENSION compiles dim separate aggregate
    expressions — a planner/codegen blowup at 768-dim widths), then a
    second groupBy(cluster) packs each cluster's dims into a sorted array
    so the driver pulls n_clusters rows — not n_clusters x dim scalar rows
    (~3.1M rows per Lloyd iteration at 4096 clusters x 768 dims)."""
    return (
        assigned_vecs.select("cluster", F.posexplode(vec_col).alias("d", "x"))
        .groupBy("cluster", "d").agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
    )


def ivf_assign(embeddings: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding", id_col: str = "vec_id",
               carry_vec: bool = False) -> DataFrame:
    """(id, cluster[, vec]) nearest-centroid assignment, Arrow-batched
    matmul. ``carry_vec`` echoes the input vector through the same Arrow
    pass — consumers that need (cluster, vec) together (Lloyd re-centering,
    index building) avoid a full-corpus shuffle join back onto the
    embeddings table."""
    cb = centroids.tolist()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        c = np.asarray(cb, dtype=np.float64)
        cn = np.linalg.norm(c, axis=1)
        cn[cn == 0] = 1.0
        # argmax of cosine is invariant to the (positive) row norm, so
        # normalizing CENTROIDS once and matmul'ing against them gives the
        # same assignment with none of the per-row division passes. Chunk
        # the rows so the (chunk, n_clusters) score block stays ~cache
        # sized instead of materializing an n x n_clusters float64 matrix:
        # at 31k rows x 4096 clusters the old full-batch form moved ~7 GB
        # of DRAM per task (1 GB scores written + two full elementwise
        # divisions + argmax re-read) and 32 concurrent tasks saturated
        # the memory bus (measured: the 1M-vector semdedup rehearsal's
        # assignment stage made no task progress in 5 minutes; chunked
        # no-division form finishes the stage in seconds).
        cnorm_t = (c / cn[:, None]).T
        chunk = max(1, (1 << 25) // max(1, c.shape[0] * 8))  # ~32 MB blocks
        for batch in batches:
            ids = batch.column(0)
            mat = _batch_matrix(batch.column(1))
            if mat.size == 0:
                continue
            best = np.empty(mat.shape[0], dtype=np.int32)
            for s in range(0, mat.shape[0], chunk):
                blk = mat[s:s + chunk] @ cnorm_t
                best[s:s + chunk] = np.argmax(blk, axis=1)
            cols = [ids, pa.array(best)]
            names = [id_col, "cluster"]
            if carry_vec:
                cols.append(batch.column(1))
                names.append(vec_col)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    schema = f"{id_col} long, cluster int"
    if carry_vec:
        schema += f", {vec_col} {embeddings.schema[vec_col].dataType.simpleString()}"
    return embeddings.select(id_col, vec_col).mapInArrow(fn, schema)


def ivf_index(embeddings: DataFrame, centroids: np.ndarray,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Materialized IVF index: (id, cluster, vec), repartitioned by cluster
    and cached — build it ONCE, serve many queries from it.

    This is the inverted-lists structure: a query's n_probe clusters map to
    n_probe partitions, so each lookup scans only those lists instead of
    re-assigning the full corpus (at 10^9 vectors the difference between a
    full-corpus matmul per query and ~n_probe/n_clusters of it). On a real
    deployment this DataFrame would be written bucketed-by-cluster."""
    return (ivf_assign(embeddings, centroids, vec_col, id_col, carry_vec=True)
            .repartition("cluster").cache())


def ivf_ann_topk(embeddings: DataFrame, query_vec: Sequence[float],
                 centroids: np.ndarray, k: int = 10, n_probe: int = 4,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 index: DataFrame | None = None) -> DataFrame:
    """IVF search: rank centroids by cosine to the query, scan only the
    n_probe nearest inverted lists, exact cosine top-k on the candidates.
    At 10^9 vectors with 4096 clusters and n_probe=64, this scans ~1.5% of
    the corpus per query.

    Pass ``index`` (from ``ivf_index``) to serve repeated queries from the
    materialized inverted lists; without it the assignment is computed
    inline (one full scan — fine for a single ad-hoc query, wrong for a
    query workload). ``n_probe >= n_clusters`` provably degenerates to the
    exact top-k (every list scanned) — the oracle regime."""
    q = np.asarray(query_vec, dtype=np.float64)
    cn = np.linalg.norm(centroids, axis=1)
    cn[cn == 0] = 1.0
    sims = (centroids @ q) / (np.linalg.norm(q) + 1e-12) / cn
    probe_clusters = [int(c) for c in np.argsort(-sims)[:n_probe]]
    if index is None:
        index = embeddings.select(id_col, vec_col).join(
            ivf_assign(embeddings, centroids, vec_col, id_col), id_col)
    subset = (index.filter(F.col("cluster").isin(probe_clusters))
              .select(id_col, vec_col))
    return cosine_topk(subset, query_vec, k, vec_col, id_col)


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                          vec_col: str = "embedding", id_col: str = "vec_id",
                          exact: bool = False, num_planes: int = 12) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine >= threshold).

    Default (exact=False) is the LSH-bucketed scale path — only pairs
    sharing a hyperplane bucket are compared, turning the cross join into
    an equi-join on bucket id (recall < 1 by design, the standard near-dup
    trade at 10^9 rows; ``num_planes=0`` degenerates to one bucket =
    provable recall 1, the oracle regime). Within-bucket comparison is
    SALTED: each side carries a hash-derived group in [0, salt_groups) and
    the join runs per ordered group pair, so one hot bucket of b rows fans
    out over ~salt_groups^2/2 tasks instead of landing on a single reducer
    (the same skew problem a constant bucket or a boilerplate cluster
    creates at corpus scale). Pass ``exact=True`` explicitly for the
    all-pairs O(n^2) baseline — verification scale ONLY, it is a cartesian
    join and must never be the default at corpus scale.
    """
    # norms are per-VECTOR, so compute them once before any pair join (a
    # per-pair norm recomputation triples the higher-order-function work on
    # n^2/2 pairs — measured 3x wall on the all-pairs path)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    normed = embeddings.select(
        F.col(id_col), vd.alias("__v"), F.sqrt(_dot_expr(vd, vd)).alias("__n"))

    if exact:
        a = normed.alias("a")
        bb = normed.alias("b")
        cos = F.round(_dot_expr(F.col("a.__v"), F.col("b.__v"))
                      / (F.col("a.__n") * F.col("b.__n")), 6)
        return (a.join(bb, [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
                .select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"),
                        cos.alias("cosine"))
                .filter(F.col("cosine") >= threshold))

    buckets = lsh_buckets(embeddings, num_planes, vec_col, id_col)
    e = normed.join(buckets, id_col)
    return _salted_pair_join(e, id_col, ["bucket"]) \
        .filter(F.col("cosine") >= threshold)


def _salted_pair_join(e: DataFrame, id_col: str, key_cols: list,
                      g: int = 8) -> DataFrame:
    """All unordered within-key cosine pairs of ``e`` — which must carry
    (id_col, __v double-array, __n norm, *key_cols) — as
    (id_a, id_b, cosine), id_a < id_b, each pair exactly once.

    The within-key comparison is SALTED: each row carries a hash-derived
    group in [0, g) and the join runs per ordered group pair, so one hot
    key of b rows fans out over ~g(g+1)/2 tasks instead of landing on a
    single reducer (the skew problem a degenerate LSH bucket or a huge
    semantic cluster creates at corpus scale)."""
    e = e.withColumn("grp", F.pmod(F.xxhash64(id_col), F.lit(g)).cast("int"))
    # replicate each row onto every ordered group pair it belongs to: the
    # join key becomes (*key_cols, gi, gj), so a degenerate key's pairs
    # spread over g(g+1)/2 shuffle keys instead of one reducer
    a_side = e.select(
        F.col(id_col).alias("id_a_raw"), F.col("__v").alias("va_raw"),
        F.col("__n").alias("na"),
        *key_cols, F.col("grp").alias("gi"),
        F.explode(F.sequence(F.col("grp"), F.lit(g - 1))).alias("gj"))
    b_side = e.select(
        F.col(id_col).alias("id_b_raw"), F.col("__v").alias("vb_raw"),
        F.col("__n").alias("nb"),
        *key_cols, F.explode(F.sequence(F.lit(0), F.col("grp"))).alias("gi"),
        F.col("grp").alias("gj"))
    joined = a_side.join(b_side, [*key_cols, "gi", "gj"]).filter(
        # same group pair: dedupe by id order; cross pair appears once
        (F.col("gi") < F.col("gj")) | (F.col("id_a_raw") < F.col("id_b_raw")))
    cos = F.round(_dot_expr(F.col("va_raw"), F.col("vb_raw"))
                  / (F.col("na") * F.col("nb")), 6)
    # each row carries ONE key and each unordered pair matches exactly
    # one (gi, gj) replica combination, so no dedup pass is needed
    return joined.select(
        F.least("id_a_raw", "id_b_raw").alias("id_a"),
        F.greatest("id_a_raw", "id_b_raw").alias("id_b"),
        cos.alias("cosine"))


def semdedup(embeddings: DataFrame, threshold: float = 0.95, *,
             cluster_col: str | None = None,
             centroids: np.ndarray | None = None,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, compare
    vectors ONLY within their cluster, and drop every vector that has a
    SMALLER-ID cluster-mate with cosine >= threshold — the released
    SemDeDup implementation's triangular rule (each vector checks its
    max similarity to lower-indexed cluster-mates; whether that mate is
    itself dropped does not matter), so the kept set is a pure function
    of (assignment, threshold), not of iteration order. Returns
    (id, cluster, kept boolean) for every input vector.

    Pass EXACTLY ONE of:
      - ``cluster_col``: an existing integer assignment column on
        ``embeddings`` (a precomputed k-means partition, a label, a
        shard) — used as-is, zero extra scans; or
      - ``centroids``: (n_clusters, dim) from ``ivf_train`` — assignment
        runs map-only via ``ivf_assign`` (Arrow-batched matmul,
        carry_vec, no corpus join).

    Scale shape: the cross join that makes all-pairs semantic dedup
    impossible at 10^9 vectors is cut to within-cluster pairs (the whole
    point of the paper — cost sum(|c|^2) instead of n^2, controlled by
    n_clusters), and the within-cluster join is the SALTED group-pair
    join shared with ``cosine_near_dup_pairs``, so one giant cluster
    fans out over g(g+1)/2 tasks instead of one reducer. The final
    kept-flag is a broadcast-friendly left join of the (tiny) dropped-id
    set. Size n_clusters so avg |c| stays O(10^4-10^5) at target scale.
    """
    if (cluster_col is None) == (centroids is None):
        raise ValueError("pass exactly one of cluster_col / centroids")
    if cluster_col is not None:
        assigned = embeddings.select(
            F.col(id_col), F.col(cluster_col).cast("int").alias("cluster"),
            F.col(vec_col))
    else:
        assigned = ivf_assign(embeddings, np.asarray(centroids, np.float64),
                              vec_col, id_col, carry_vec=True)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    normed = assigned.select(
        F.col(id_col), "cluster", vd.alias("__v"),
        F.sqrt(_dot_expr(vd, vd)).alias("__n"))
    if centroids is not None:
        # materialize the assignment ONCE: ``normed`` feeds both sides of
        # the salted pair join plus the final kept-flag select, and
        # Catalyst does not share the subtree — without the barrier the
        # Arrow-matmul assignment stage (the dominant cost at scale)
        # re-executes ~3x per action. Same materialize-signatures
        # discipline as lsh_candidate_pairs; the cluster_col path skips
        # it (its assignment is a cheap projection).
        normed = normed.localCheckpoint(eager=False)
    dropped = (_salted_pair_join(normed, id_col, ["cluster"])
               .filter(F.col("cosine") >= threshold)
               .select(F.col("id_b").alias(id_col)).distinct()
               .withColumn("__dropped", F.lit(True)))
    return (normed.select(id_col, "cluster")
            .join(dropped, id_col, "left")
            .select(id_col, "cluster",
                    F.col("__dropped").isNull().alias("kept")))


def pq_train(embeddings: DataFrame, m: int = 4, k_sub: int = 16,
             iters: int = 3, vec_col: str = "embedding",
             id_col: str = "vec_id") -> np.ndarray:
    """Product-quantization codebooks: (m, k_sub, dim/m) float64.

    The vector is split into ``m`` contiguous subspaces; each gets its own
    k-means codebook (L2, Lloyd). Same determinism discipline as
    ``ivf_train``: init from the ``k_sub`` lowest-id vectors' subvectors,
    every iteration is one corpus scan (codes for ALL subspaces computed in
    one Arrow pass) + one small shuffle (m*k_sub*dim grouped means, packed
    to m*k_sub collected rows). Codebooks stay driver-side: m*k_sub*dim
    doubles (e.g. 8*256*768 = 12 MB at embedding scale) — broadcastable.
    """
    first = (embeddings.orderBy(id_col).limit(k_sub).select(vec_col).collect())
    init = np.array([r[0] for r in first], dtype=np.float64)
    dim = init.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = np.stack([init[:, j * dsub:(j + 1) * dsub] for j in range(m)])
    for _ in range(iters):
        # the encode pass carries the vector through — no per-iteration
        # corpus join to reunite codes with their vectors
        joined = pq_encode(embeddings, codebooks, vec_col, id_col,
                           carry_vec=True)
        ex = joined.select(
            "codes", F.posexplode(vec_col).alias("d", "x"))
        sub = (F.col("d") / dsub).cast("int")
        means = (
            ex.select(sub.alias("sub"),
                      F.element_at("codes", sub + 1).alias("cluster"),
                      "d", F.col("x").cast("double").alias("x"))
            .groupBy("sub", "cluster", "d").agg(F.avg("x").alias("mval"))
            .groupBy("sub", "cluster")
            .agg(F.array_sort(F.collect_list(F.struct("d", "mval"))).alias("dm"))
        )
        for r in means.collect():  # m*k_sub rows, executor-side packing
            for e in r["dm"]:
                codebooks[r["sub"]][r["cluster"]][e["d"] % dsub] = e["mval"]
    return codebooks


def pq_encode(embeddings: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding", id_col: str = "vec_id",
              carry_vec: bool = False) -> DataFrame:
    """(id, codes array<int> of length m[, vec]): nearest sub-centroid per
    subspace (L2). One Arrow-batched map pass — at corpus scale this table
    (m bytes of code per vector vs dim floats) IS the compressed index you
    persist. ``carry_vec`` echoes the vector through the pass (training
    re-centering needs codes+vector together without a corpus join)."""
    m, k_sub, dsub = codebooks.shape
    cb = codebooks.tolist()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        c = np.asarray(cb, dtype=np.float64)            # (m, k_sub, dsub)
        cnorm2 = (c * c).sum(axis=2)                    # (m, k_sub)
        for batch in batches:
            ids = batch.column(0)
            mat = _batch_matrix(batch.column(1))
            if mat.size == 0:
                continue
            codes = np.empty((mat.shape[0], m), dtype=np.int32)
            for j in range(m):
                x = mat[:, j * dsub:(j + 1) * dsub]
                # argmin_c |x-c|^2 = argmin_c |c|^2 - 2 x.c (|x|^2 constant)
                codes[:, j] = np.argmin(cnorm2[j] - 2.0 * (x @ c[j].T), axis=1)
            cols = [ids, pa.array(codes.tolist(), pa.list_(pa.int32()))]
            names = [id_col, "codes"]
            if carry_vec:
                cols.append(batch.column(1))
                names.append(vec_col)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    schema = f"{id_col} long, codes array<int>"
    if carry_vec:
        schema += f", {vec_col} {embeddings.schema[vec_col].dataType.simpleString()}"
    return embeddings.select(id_col, vec_col).mapInArrow(fn, schema)


def pq_ann_topk(embeddings: DataFrame, query_vec: Sequence[float],
                codebooks: np.ndarray, k: int = 10, rerank: int = 100,
                vec_col: str = "embedding", id_col: str = "vec_id",
                codes: DataFrame | None = None) -> DataFrame:
    """PQ-ADC ANN: rank by asymmetric-distance cosine computed from per-
    subspace lookup tables over the code table (m table lookups per vector,
    never touching the full vectors), take the top-``rerank`` candidates,
    then exact-cosine rerank on only those.

    ADC cosine ~= sum_j LUT_dot[j][code_j] / sqrt(sum_j LUT_n2[j][code_j]):
    both numerator and reconstructed norm come from (m, k_sub) LUTs computed
    once from the query. ``rerank >= corpus size`` provably degenerates to
    the exact top-k (every vector survives to the exact stage) — the oracle
    regime; real deployments run rerank ~ 10-100x k. Pass ``codes`` (from
    ``pq_encode``, persisted) to serve query workloads without re-encoding.
    """
    if codes is None:
        codes = pq_encode(embeddings, codebooks, vec_col, id_col)
    scored = _adc_scores(codes, codebooks, query_vec, id_col)
    cand = scored.orderBy(F.desc("adc"), F.col(id_col)).limit(rerank).select(id_col)
    subset = embeddings.join(F.broadcast(cand), id_col)
    return cosine_topk(subset, query_vec, k, vec_col, id_col)


def _adc_scores(codes: DataFrame, codebooks: np.ndarray,
                query_vec: Sequence[float], id_col: str) -> DataFrame:
    """(id, adc): approximate-cosine scores for a PQ code table from
    per-subspace query LUTs — the shared ADC kernel of pq_ann_topk and
    ivfpq_ann_topk. Columns are selected by NAME before the Arrow pass, so
    any column order / extra columns in a persisted code table are safe."""
    m, k_sub, dsub = codebooks.shape
    q = np.asarray(query_vec, dtype=np.float64)
    lut_dot = np.stack([codebooks[j] @ q[j * dsub:(j + 1) * dsub]
                        for j in range(m)])                    # (m, k_sub)
    lut_n2 = (codebooks * codebooks).sum(axis=2)               # (m, k_sub)
    ld, ln = lut_dot.tolist(), lut_n2.tolist()

    def score_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        d = np.asarray(ld)
        n2 = np.asarray(ln)
        cols = np.arange(m)
        for batch in batches:
            ids = batch.column(0)
            codes_arr = batch.column(1)
            if len(codes_arr) == 0:
                continue
            cm = (codes_arr.flatten().to_numpy(zero_copy_only=False)
                  .astype(np.int64).reshape(len(codes_arr), m))
            dots = d[cols, cm].sum(axis=1)
            norms = np.sqrt(n2[cols, cm].sum(axis=1))
            score = dots / np.maximum(norms, 1e-12)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(score, pa.float64())], names=[id_col, "adc"])

    return codes.select(id_col, "codes").mapInArrow(
        score_fn, f"{id_col} long, adc double")


def ivfpq_index(embeddings: DataFrame, centroids: np.ndarray,
                codebooks: np.ndarray, vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """The IVF-PQ composite index (FAISS IVFPQ shape): inverted lists
    keyed by coarse cluster, each entry an m-byte PQ code — (id, cluster,
    codes), repartitioned by cluster and cached.

    This is the structure a 10^9-vector corpus actually serves from: the
    coarse quantizer prunes to n_probe lists, the PQ codes inside a list
    are scanned via LUT lookups (m byte-indexed adds per vector — no float
    vectors touched), and only the rerank candidates read full vectors.
    Memory: m bytes/vector vs 4*dim — e.g. 8 vs 3072 at 768-dim float32.
    """
    assigned = ivf_assign(embeddings, centroids, vec_col, id_col)
    codes = pq_encode(embeddings, codebooks, vec_col, id_col)
    return (codes.join(assigned, id_col)
            .repartition("cluster").cache())


def ivfpq_ann_topk(embeddings: DataFrame, query_vec: Sequence[float],
                   centroids: np.ndarray, codebooks: np.ndarray, k: int = 10,
                   n_probe: int = 4, rerank: int = 100,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   index: DataFrame | None = None) -> DataFrame:
    """IVF-PQ search: probe the n_probe nearest inverted lists, ADC-score
    their PQ codes from query LUTs, exact-cosine rerank the top ``rerank``.

    ``n_probe >= n_clusters`` AND ``rerank >= corpus size`` provably
    degenerates to the exact top-k (every list scanned, every survivor
    reranked exactly) — the oracle regime. Production shape: n_probe ~
    1-5% of lists, rerank ~ 10-100x k.
    """
    q = np.asarray(query_vec, dtype=np.float64)
    cn = np.linalg.norm(centroids, axis=1)
    cn[cn == 0] = 1.0
    sims = (centroids @ q) / (np.linalg.norm(q) + 1e-12) / cn
    probe_clusters = [int(c) for c in np.argsort(-sims)[:n_probe]]
    if index is None:
        # one-off query: build the lists inline WITHOUT cache/repartition —
        # ivfpq_index's cached form is for serving workloads; caching it
        # per ad-hoc call would pin a corpus-sized copy per query
        index = pq_encode(embeddings, codebooks, vec_col, id_col).join(
            ivf_assign(embeddings, centroids, vec_col, id_col), id_col)
    lists = index.filter(F.col("cluster").isin(probe_clusters))
    scored = _adc_scores(lists, codebooks, query_vec, id_col)
    cand = scored.orderBy(F.desc("adc"), F.col(id_col)).limit(rerank).select(id_col)
    subset = embeddings.join(F.broadcast(cand), id_col)
    return cosine_topk(subset, query_vec, k, vec_col, id_col)


def lsh_ann_topk(embeddings: DataFrame, query_vec: Sequence[float], k: int = 10,
                 num_planes: int = 12, multiprobe: int = 1,
                 vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """ANN top-k: LSH bucket prefilter + hamming-``multiprobe`` multiprobe,
    then exact cosine on the candidates only.

    ``multiprobe >= num_planes`` probes every bucket: the candidate set is
    the full corpus, so the result provably equals the exact top-k — the
    recall-1 oracle regime (sensible only at test scale / tiny num_planes).
    """
    qb = query_bucket(query_vec, num_planes)
    if multiprobe >= num_planes:
        probes = set(range(1 << num_planes))
    else:
        probes = {qb}
        for _ in range(multiprobe):
            probes |= {p ^ (1 << j) for p in list(probes)
                       for j in range(num_planes)}
    buckets = lsh_buckets(embeddings, num_planes, vec_col, id_col)
    cand = buckets.filter(F.col("bucket").isin([int(b) for b in probes])).select(id_col)
    subset = embeddings.join(F.broadcast(cand), id_col)
    return cosine_topk(subset, query_vec, k, vec_col, id_col)
