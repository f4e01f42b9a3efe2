"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and a random-hyperplane
LSH-bucketed variant as the scale path (bucket equi-join instead of the
all-pairs product).  All dot products quantize the INPUTS to int
(floor(x*2^20)) and sum exact integer products, so results are
deterministic, order-independent, and bit-identical to the SQL oracle —
and, because every partial sum stays below 2^53, the kernel side can
evaluate the identical sum as a float64 BLAS matmul.  Final cosine is a
single deterministic division + sqrt.

The LSH path runs JVM-side via zip_with/aggregate higher-order functions
(fully fused, no Python); the brute-force baseline is the Pandas-UDF-wins
case and uses the Arrow-batched GEMM kernel in ``brute_force_topk``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import worldspec as W

Q = 1.0e9          # cosine output quantum (nano-cosine)
QIN = 2.0 ** 20    # input quantum: floor(x*2^20) -> products stay < 2^53,
                   # so numpy float64 matmul computes the exact integer sum


def _load(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))


def _qdot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (F.floor(x * F.lit(QIN)).cast("long")
                                       * F.floor(y * F.lit(QIN)).cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def norms(embeddings: DataFrame) -> DataFrame:
    e = _load(embeddings)
    return e.select("vec_id", "emb", _qdot(F.col("emb"), F.col("emb")).alias("nrm"))


def _cos_nano(dt, na, nb) -> F.Column:
    return F.floor(
        (dt.cast("double") / F.sqrt(na.cast("double") * nb.cast("double")))
        * F.lit(Q)).cast("long")


def _gemm_topk(grid: DataFrame, k: int) -> DataFrame:
    """(vec_id, neighbor_id, cos_nano) — per-probe top-k WITHIN each grid
    row's index block, one BLAS matmul per row.  ``grid`` carries dense
    blocks ``probe_items`` / ``index_items`` (arrays of struct(vec_id,
    embedding)); self-pairs and zero-norm vectors are masked.  Every dot
    term and partial sum is an exact float64 integer (inputs floored to
    2^20), and the stable argsort over id-ascending blocks reproduces the
    (cos_nano DESC, neighbor_id ASC) tie order — the identical value tree
    as the Catalyst/SQL ``_qdot``+``_cos_nano`` pair.  Shared by the brute
    sharded-index layout (brute_force_topk) and the IVF probe refine
    (ivf_ann_top1), which differ only in how they build the grid."""
    import numpy as np
    import pandas as pd

    def _unpack(items):
        ids = np.asarray([d["vec_id"] for d in items], dtype=np.int64)
        M = np.floor(np.stack([np.asarray(d["embedding"], dtype=np.float64)
                               for d in items]) * QIN)
        order = np.argsort(ids, kind="stable")
        return ids[order], M[order]

    def kernel(batches):
        for pdf in batches:
            for pr_items, ix_items in zip(pdf["probe_items"],
                                          pdf["index_items"]):
                a_ids, Aq = _unpack(pr_items)
                b_ids, Bq = _unpack(ix_items)   # id-ascending: stable sort on
                #                                 -cos then yields id-asc ties
                na = (Aq * Aq).sum(axis=1)   # exact: terms < 2^40, sum < 2^46
                nb = (Bq * Bq).sum(axis=1)
                # one BLAS matmul per grid cell: every product and partial
                # sum is an exact float64 integer
                dt = Aq @ Bq.T
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.floor(
                        (dt / np.sqrt(na[:, None] * nb[None, :])) * 1.0e9)
                valid = ((na > 0)[:, None] & (nb > 0)[None, :]
                         & (b_ids[None, :] != a_ids[:, None]))
                cosm = np.where(valid, cos, -np.inf)
                kk = min(k, cosm.shape[1])
                top = np.argsort(-cosm, axis=1, kind="stable")[:, :kk]
                top_cos = np.take_along_axis(cosm, top, axis=1)
                keep = np.isfinite(top_cos).ravel()
                yield pd.DataFrame({
                    "vec_id": np.repeat(a_ids, kk)[keep],
                    "neighbor_id": b_ids[top].ravel()[keep],
                    "cos_nano": top_cos.ravel()[keep].astype(np.int64),
                })

    return grid.mapInPandas(
        kernel, schema="vec_id long, neighbor_id long, cos_nano long")


def _default_chunks(embeddings: DataFrame) -> int:
    """Probe-side chunk count: ~2-4 grid cells per core — fat enough for the
    GEMM to amortize the Arrow/worker overhead, parallel enough to fill the
    cluster."""
    return max(1, min(embeddings.sparkSession.sparkContext.defaultParallelism, 8))


def brute_force_topk(embeddings: DataFrame, k: int,
                     n_shards: int = 16,
                     n_chunks: int | None = None) -> DataFrame:
    """(vec_id, rank, neighbor_id, cos_nano) — exact cosine top-k via a
    distributed block-matrix product (no driver collect anywhere).

    Both sides of the N x N product are packed into dense blocks: the probe
    side into ``n_chunks`` row-chunks, the index side into ``n_shards``
    column-shards (plain groupBy-collect_list — each block is one row holding
    a small dense matrix).  The chunk x shard grid is enumerated by exploding
    each probe chunk over the shard ids and SHUFFLE-joining on ``sh`` — no
    executor ever holds more than the shard blocks hashed to it, and nothing
    is broadcast (FAISS shards the index; it does not replicate it).  An
    Arrow kernel runs ONE BLAS matmul per grid cell, emitting only each
    probe's per-shard top-k.  A final window re-rank over the k*n_shards
    partial candidates per probe recovers the exact global top-k.

    Exact because inputs are pre-quantized to 2^20, so every product and
    partial sum is an integer below 2^53 — the identical value tree as the
    SQL oracle.  Data moved is O(N * n_chunks + N * n_shards) block bytes
    (each shard is shipped once per probe chunk), never O(N^2) pair rows,
    and the GEMM work is evenly spread over the chunk x shard task grid —
    this is the FAISS-style sharded-index brute-force layout."""
    if n_chunks is None:
        n_chunks = _default_chunks(embeddings)
    e = embeddings.select("vec_id", "embedding")
    packed = F.collect_list(F.struct("vec_id", "embedding")).alias("items")
    chunks = (e.groupBy(F.pmod("vec_id", F.lit(n_chunks)).alias("pc"))
              .agg(packed).withColumnRenamed("items", "probe_items"))
    shards = (e.groupBy(F.pmod("vec_id", F.lit(n_shards)).alias("sh"))
              .agg(packed).withColumnRenamed("items", "index_items"))
    shard_ids = F.array(*[F.lit(s).cast("long") for s in range(n_shards)])
    grid = (chunks.select("probe_items", F.explode(shard_ids).alias("sh"))
            .join(shards.hint("shuffle_hash"), "sh"))
    partial = _gemm_topk(grid.repartition(n_chunks * n_shards), k)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_nano").desc(),
                                             F.col("neighbor_id").asc())
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", F.col("rank").cast("long").alias("rank"),
                    "neighbor_id", "cos_nano"))


def plane_weight_expr(j: int) -> str:
    """Hyperplane weight w[j][i] for 0-based dim i (SQL/Catalyst shared form):
    ((j*131 + i*737) % 1001 - 500) / 500.0"""
    return (f"(CAST((({j} * 131) + (i * 737)) % 1001 - 500 AS DOUBLE) / 500.0D)")


def lsh_buckets(embeddings: DataFrame) -> DataFrame:
    """(vec_id, emb, nrm, bucket) — sign-of-projection bits packed into a
    16-bit bucket id.  Projections use the same int64-quantized terms."""
    n = norms(embeddings)
    bucket = F.lit(0).cast("long")
    for j in range(W.ANN_PLANES):
        s = F.expr(
            "aggregate(transform(emb, (x, i) -> "
            f"CAST(floor((x * {plane_weight_expr(j)}) * 1000000000.0D) AS BIGINT)), "
            "0L, (acc, v) -> acc + v)")
        bucket = bucket + F.when(s > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return n.withColumn("bucket", bucket)


def _bucket_pair_cosines(bk: DataFrame, pair: F.Column) -> DataFrame:
    """Bucket-mate pairs (va, vb) of ``lsh_buckets`` rows that satisfy
    ``pair`` and have nonzero norms, with their exact ``cos_nano``."""
    a = bk.select(F.col("vec_id").alias("va"), F.col("emb").alias("ea"),
                  F.col("nrm").alias("na"), "bucket")
    b = bk.select(F.col("vec_id").alias("vb"), F.col("emb").alias("eb"),
                  F.col("nrm").alias("nb"), "bucket")
    cand = a.join(b, "bucket").filter(pair & (F.col("na") > 0)
                                      & (F.col("nb") > 0))
    return cand.withColumn(
        "cos_nano", _cos_nano(_qdot(F.col("ea"), F.col("eb")),
                              F.col("na"), F.col("nb")))


def lsh_ann_top1(embeddings: DataFrame) -> DataFrame:
    """Approximate NN: candidates share a bucket; exact cosine re-rank; top-1.
    Vectors with no bucket-mates surface with NULL neighbor (deterministic
    recall profile, verified against the identical SQL oracle)."""
    bk = lsh_buckets(embeddings)
    cos = _bucket_pair_cosines(bk, F.col("va") != F.col("vb"))
    w = Window.partitionBy("va").orderBy(F.col("cos_nano").desc(), F.col("vb").asc())
    top = (cos.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") == 1)
           .select(F.col("va").alias("vec_id"), F.col("vb").alias("neighbor_id"),
                   "cos_nano"))
    return (bk.select("vec_id", "bucket").join(top, "vec_id", "left")
            .select("vec_id", "bucket", "neighbor_id", "cos_nano"))


def embedding_neardup(embeddings: DataFrame, threshold_nano: int) -> DataFrame:
    """Embedding-cosine near-dup dedup decision (LSH-bucketed, the scale
    path): a vector is a duplicate iff some bucket-mate with a LOWER vec_id
    has cosine >= threshold; dup_of is the smallest such id.  Keep-lowest-id
    is the associative tie-break that makes the decision deterministic and
    distributable (same shape as the exact-dedup keep-first rule)."""
    bk = lsh_buckets(embeddings)
    cos = _bucket_pair_cosines(bk, F.col("vb") < F.col("va"))
    hits = (cos.filter(F.col("cos_nano") >= threshold_nano)
            .groupBy("va")
            .agg(F.min("vb").alias("dup_of"),
                 F.count("*").cast("long").alias("n_nearmatches"),
                 F.max("cos_nano").alias("best_cos_nano")))
    return (bk.select("vec_id").join(hits, bk.vec_id == hits.va, "left")
            .select("vec_id",
                    F.col("dup_of").isNotNull().alias("is_dup"),
                    "dup_of",
                    F.coalesce("n_nearmatches", F.lit(0)).alias("n_nearmatches"),
                    "best_cos_nano"))


IVF_LISTS = 16
IVF_NPROBE = 2         # the q39 DuckDB twin unrolls exactly two probes
IVF_KMEANS_ITERS = 2   # fixed-count Lloyd: both engines run the identical
                       # iteration sequence, so the trained centroids twin


def _quantized(embeddings: DataFrame) -> DataFrame:
    """norms() plus the int64-quantized vector qv = floor(emb * 2^20) —
    every k-means dot/score below is exact integer arithmetic on qv."""
    return norms(embeddings).withColumn(
        "qv", F.expr(f"transform(emb, x -> CAST(floor(x * {QIN}) AS BIGINT))"))


def _score_cols(cents: list[list[int]]):
    """L2 rank scores vs the trained centroid literals: score_j =
    |c_j|^2 - 2 * dot(qv, c_j) (the |x|^2 term is common to all j and
    dropped — the ranking is the exact L2 ranking).  All int64: |qv_i|,
    |c_i| < 2^20 so dots < 2^46 and scores < 2^47."""
    outs = []
    for j, c in enumerate(cents):
        c2 = sum(v * v for v in c)
        arr = "array(" + ", ".join(f"{v}L" for v in c) + ")"
        outs.append(F.expr(
            f"{c2}L - 2L * aggregate(zip_with(qv, {arr}, (x, y) -> x * y), "
            "0L, (acc, v) -> acc + v)").alias(f"s{j}"))
    return outs


def _argmin2(cols):
    """(best_j, second_j) over the score columns, smallest-j ties — the
    coarse quantizer assign + nprobe=2 probe set.  Mask value 2^62 exceeds
    every real score (< 2^47)."""
    n = len(cols)
    best_v = F.least(*cols)
    best_j = F.lit(n - 1)
    for j in range(n - 2, -1, -1):
        best_j = F.when(cols[j] == best_v, F.lit(j)).otherwise(best_j)
    masked = [F.when(F.lit(j) == best_j, F.lit(1 << 62)).otherwise(cols[j])
              for j in range(n)]
    sec_v = F.least(*masked)
    sec_j = F.lit(n - 1)
    for j in range(n - 2, -1, -1):
        sec_j = F.when(masked[j] == sec_v, F.lit(j)).otherwise(sec_j)
    return best_j, sec_j


def _assign_lists(q: DataFrame, cents: list[list[int]],
                  nprobe: int = IVF_NPROBE) -> DataFrame:
    """(vec_id, probes) — the ``nprobe`` nearest centroids per quantized
    vector (probes[0] is the assignment list), one exact int64 matmul per
    Arrow batch.  Identical integers to the _score_cols/_argmin2 Catalyst
    pair (scores c2_j - 2*dot < 2^47; the stable argsort's first-occurrence
    ties = smallest j at every rank, matching argmin + masked-argmin), but
    vectorized — the HOF form is CodegenFallback and walled q39's
    training/assign passes at 10x scale."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.int64)
    c2 = (C * C).sum(axis=1)
    np_ = min(nprobe, len(cents))

    def kern(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            S = c2[None, :] - 2 * (Q @ C.T)
            order = np.argsort(S, axis=1, kind="stable")[:, :np_]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "probes": list(order.astype(np.int64)),
            })

    return q.mapInPandas(kern, "vec_id long, probes array<long>")


def _centroid_partials(q: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(j, i, s, n) per-batch partial dimension sums + member counts of the
    nearest-centroid assignment — the map-side-combined k-means recenter
    input (only K*D rows per batch leave the kernel; empty clusters emit
    nothing, preserving the keep-old-centroid rule)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.int64)
    c2 = (C * C).sum(axis=1)

    def kern(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            best = (c2[None, :] - 2 * (Q @ C.T)).argmin(axis=1)
            js, is_, ss, ns = [], [], [], []
            for j in np.unique(best):
                M = Q[best == j]
                s = M.sum(axis=0)           # int64 exact: < N * 2^20 << 2^53
                js.append(np.full(M.shape[1], j, dtype=np.int64))
                is_.append(np.arange(M.shape[1], dtype=np.int64))
                ss.append(s)
                ns.append(np.full(M.shape[1], M.shape[0], dtype=np.int64))
            yield pd.DataFrame({
                "j": np.concatenate(js), "i": np.concatenate(is_),
                "s": np.concatenate(ss), "n": np.concatenate(ns)})

    return q.mapInPandas(kern, "j long, i long, s long, n long")


def train_ivf_centroids(embeddings: DataFrame,
                        n_lists: int = IVF_LISTS) -> list[list[int]]:
    """Fixed-count Lloyd k-means over the int64-quantized vectors,
    deterministic end-to-end: seeds are the ``n_lists`` lowest vec_ids with
    nrm > 0; each iteration assigns by exact integer L2 rank (smallest-j
    ties) and recenters to the elementwise floor(mean) (exact: sums stay
    below 2^53, so the one double division is correctly rounded and
    engine-identical); empty clusters keep their previous centroid.  Only
    O(K*D) bytes ever reach the driver (seed rows + 16x64 dim sums per
    iteration — the canonical distributed-k-means shape; the per-vector
    assign/sum passes stay on the executors)."""
    import math

    q = (_quantized(embeddings).filter(F.col("nrm") > 0)
         .select("vec_id", "qv").localCheckpoint(eager=True))
    try:
        seeds = q.orderBy("vec_id").limit(n_lists).collect()
        cents = [list(r["qv"]) for r in seeds]
        for _ in range(IVF_KMEANS_ITERS):
            stats = (_centroid_partials(q, cents)
                     .groupBy("j", "i")
                     .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                     .collect())
            nxt = [list(c) for c in cents]          # empty cluster keeps old
            for r in stats:
                nxt[r["j"]][r["i"]] = math.floor(r["s"] / r["n"])
            cents = nxt
    finally:
        # the centroids are driver-side lists now; release the checkpoint's
        # blocks (DataFrame.unpersist leaves a localCheckpoint's RDD cached,
        # so unpersist the RDD under its plan)
        q._jdf.queryExecution().logical().rdd().unpersist(False)
    return cents


def ivf_ann_top1(embeddings: DataFrame) -> DataFrame:
    """IVF ANN with TRAINED centroids: fixed-count Lloyd over the corpus
    builds the IVF_LISTS (16) inverted lists (train_ivf_centroids); every
    vector is assigned to its nearest centroid, a query probes its
    IVF_NPROBE (2) nearest lists and exact-cosine re-ranks the candidates.
    Both constants are what the DuckDB twin unrolls (16 lists, two probes),
    so no other value has an oracle.  The scale shape of FAISS-style IVF —
    index side partitioned by list id, probe side exploded x nprobe,
    training touches the driver only with O(K*D) bytes — with the engine's
    deterministic integer dot machinery.

    The probe refine runs through the same dense block-GEMM kernel as the
    brute path (_gemm_topk) with list_id as the shard key: per-list blocks
    x probe chunks, one BLAS matmul per grid cell, per-list top-1s reduced
    by a final (cos DESC, id ASC) rank over <= nprobe partials per probe.
    Measured at 20k vectors (10x the benched sf0.1): the previous
    pair-row refine — ~N^2*nprobe/K candidate ROWS each paying an
    interpreted zip_with+aggregate dot (HOFs are CodegenFallback, the
    round-4 lesson) plus a full window sort — walled at 100-218 s, LOSING
    20x to the brute GEMM (5 s) despite ~5x fewer dot products; the same
    refine as block GEMM is ~2 s.  A real deployment scales K ~ sqrt(N)
    AND nprobe with it — measured at 20k vectors vs brute q21: K=141 with
    nprobe still 2 probes 1.4% of the corpus and recall@1 FALLS 0.381 ->
    0.175; with nprobe scaled to 16/32 it recovers to 0.560/0.749 (finer
    lists beat coarse at equal candidate budget — BENCH.md round-5
    notes)."""
    cents = train_ivf_centroids(embeddings)
    assigned = (_assign_lists(
        _quantized(embeddings).select("vec_id", "qv"), cents)
        .withColumn("list_id", F.col("probes")[0]))
    e = embeddings.select("vec_id", "embedding")
    asg = assigned.join(e, "vec_id")
    packed = F.collect_list(F.struct("vec_id", "embedding"))
    index_blocks = asg.groupBy("list_id").agg(packed.alias("index_items"))
    n_chunks = _default_chunks(embeddings)
    probes = asg.select(
        "vec_id", "embedding",
        F.explode("probes").alias("list_id"))
    pchunks = (probes
               .groupBy("list_id", F.pmod("vec_id", F.lit(n_chunks)).alias("pc"))
               .agg(packed.alias("probe_items")))
    grid = pchunks.join(index_blocks.hint("shuffle_hash"), "list_id")
    partial = _gemm_topk(
        grid.select("probe_items", "index_items")
            .repartition(IVF_LISTS * n_chunks), 1)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_nano").desc(),
                                             F.col("neighbor_id").asc())
    top = (partial.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") == 1)
           .select("vec_id", "neighbor_id", "cos_nano"))
    return (assigned.select("vec_id", "list_id").join(top, "vec_id", "left")
            .select("vec_id", F.col("list_id").cast("long").alias("list_id"),
                    "neighbor_id", "cos_nano"))
