"""Embedding queries: exact top-k cosine, LSH ANN, embedding near-duplicates
and trained-IVF ANN.  Each builder sits beside its DuckDB twin."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import worldspec as W
from ..datagen import oracle
from .shared import (
    _cos_rank_cte, _cos_refine_ctes, _emb_ctes, _lsh_bucket_ctes, register)


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------- q21
def _q21_sql() -> str:
    return f"""
WITH {_emb_ctes()},
cand AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM e a JOIN e b ON a.vec_id != b.vec_id
),
{_cos_refine_ctes()},
{_cos_rank_cte()}
SELECT va AS vec_id, CAST(rank AS BIGINT) AS rank, vb AS neighbor_id, cos_nano
FROM cos_rank WHERE rank <= {W.ANN_TOPK}"""


@register("q21_embedding_topk", _q21_sql())
def q21_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column (the exactness
    baseline for ANN) — int64-quantized dot terms, deterministic ranking."""
    from ..operators import similarity

    return similarity.brute_force_topk(_embs(spark, sf_dir), W.ANN_TOPK)


# --------------------------------------------------------------------- q22
def _q22_sql() -> str:
    return f"""
WITH {_emb_ctes()},
{_lsh_bucket_ctes()},
cand AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
),
{_cos_refine_ctes()},
{_cos_rank_cte()}
SELECT b.vec_id, b.bucket, t.vb AS neighbor_id, t.cos_nano
FROM buckets b
LEFT JOIN (SELECT * FROM cos_rank WHERE rank = 1) t ON t.va = b.vec_id"""


@register("q22_lsh_ann", _q22_sql())
def q22_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: 16-bit sign buckets, bucket equi-join
    (the scale path replacing the all-pairs product), exact cosine re-rank."""
    from ..operators import similarity

    return similarity.lsh_ann_top1(_embs(spark, sf_dir))


# --------------------------------------------------------------------- q37
def _q37_sql() -> str:
    return f"""
WITH {_emb_ctes()},
{_lsh_bucket_ctes()},
cand AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND b.vec_id < a.vec_id
),
{_cos_refine_ctes()},
hits AS (
  SELECT va, MIN(vb) AS dup_of, CAST(COUNT(*) AS BIGINT) AS n_nearmatches,
         MAX(cos_nano) AS best_cos_nano
  FROM cosd WHERE cos_nano >= {W.NEARDUP_COS_NANO} GROUP BY va
)
SELECT b.vec_id, h.dup_of IS NOT NULL AS is_dup, h.dup_of,
       COALESCE(h.n_nearmatches, 0) AS n_nearmatches, h.best_cos_nano
FROM buckets b LEFT JOIN hits h ON h.va = b.vec_id"""


@register("q37_embedding_neardup", _q37_sql())
def q37_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup (LSH-bucketed candidates, exact cosine
    refine, keep-lowest-id decision) — the embedding leg of the dedup suite."""
    from ..operators import similarity

    return similarity.embedding_neardup(_embs(spark, sf_dir), W.NEARDUP_COS_NANO)


# --------------------------------------------------------------------- q39
def _q39_sql() -> str:
    """Twin of similarity.train_ivf_centroids + ivf_ann_top1: the SAME
    fixed-count Lloyd unrolled as CTEs — seeds = the IVF_LISTS lowest
    vec_ids with nrm > 0, per-iteration exact-integer L2 assignment
    (score = |c|^2 - 2*dot on the 2^20-quantized vectors, smallest-j
    ties), recenter to elementwise floor(mean) (one correctly-rounded
    double division), empty clusters keep their previous centroid — then
    the final all-vector assignment ranks list_id (rn=1) and probe2
    (rn=2), identical to the engine's masked-argmin pair."""
    from ..operators.similarity import IVF_KMEANS_ITERS, IVF_LISTS

    K = IVF_LISTS
    qin = oracle.fl(2.0 ** 20)
    parts = [f"""
WITH {_emb_ctes()},
q AS (
  SELECT t.vec_id, t.i,
         CAST(floor(CAST(t.embedding[t.i] AS DOUBLE) * {qin}) AS BIGINT) AS qx
  FROM terms1 t
),
qtrain AS (SELECT q.* FROM q JOIN nrm USING (vec_id)),
seeds AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
  FROM nrm ORDER BY vec_id LIMIT {K}
),
c0 AS (SELECT s.j, t.i, t.qx AS c FROM seeds s JOIN qtrain t USING (vec_id))"""]
    for t in range(IVF_KMEANS_ITERS):
        parts.append(f""",
c{t}sq AS (SELECT j, SUM(c * c) AS c2 FROM c{t} GROUP BY j),
sc{t} AS (
  SELECT t.vec_id, c.j, cs.c2 - 2 * SUM(t.qx * c.c) AS score
  FROM qtrain t JOIN c{t} c ON c.i = t.i JOIN c{t}sq cs ON cs.j = c.j
  GROUP BY t.vec_id, c.j, cs.c2
),
as{t} AS (
  SELECT vec_id, j FROM (
    SELECT vec_id, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, j) AS rn
    FROM sc{t}
  ) WHERE rn = 1
),
c{t + 1} AS (
  SELECT p.j, p.i, COALESCE(nc.c, p.c) AS c
  FROM c{t} p LEFT JOIN (
    SELECT a.j, t.i,
           CAST(floor(CAST(SUM(t.qx) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
    FROM as{t} a JOIN qtrain t USING (vec_id) GROUP BY a.j, t.i
  ) nc ON nc.j = p.j AND nc.i = p.i
)""")
    T = IVF_KMEANS_ITERS
    parts.append(f""",
cfsq AS (SELECT j, SUM(c * c) AS c2 FROM c{T} GROUP BY j),
scf AS (
  SELECT t.vec_id, c.j, cs.c2 - 2 * SUM(t.qx * c.c) AS score
  FROM q t JOIN c{T} c ON c.i = t.i JOIN cfsq cs ON cs.j = c.j
  GROUP BY t.vec_id, c.j, cs.c2
),
lists AS (
  SELECT vec_id, j,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, j) AS rn
  FROM scf
),
assigned AS (
  SELECT r1.vec_id, r1.j AS list_id, r2.j AS probe2
  FROM (SELECT * FROM lists WHERE rn = 1) r1
  JOIN (SELECT * FROM lists WHERE rn = 2) r2 USING (vec_id)
),
idx AS (SELECT vec_id AS vb, list_id FROM assigned),""")
    head = "".join(parts)
    return f"""{head}
probes AS (
  SELECT vec_id, list_id FROM assigned
  UNION ALL
  SELECT vec_id, probe2 AS list_id FROM assigned
),
cand AS (
  SELECT p.vec_id AS va, i.vb
  FROM probes p JOIN idx i USING (list_id)
  WHERE i.vb != p.vec_id
),
{_cos_refine_ctes()},
{_cos_rank_cte()}
SELECT a.vec_id, CAST(a.list_id AS BIGINT) AS list_id,
       t.vb AS neighbor_id, t.cos_nano
FROM assigned a
LEFT JOIN (SELECT * FROM cos_rank WHERE rank = 1) t ON t.va = a.vec_id"""


@register("q39_ivf_ann", _q39_sql())
def q39_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed ANN with a TRAINED coarse quantizer (fixed-count Lloyd
    k-means over the corpus, deterministic seeds, integer-quantized
    centroids — similarity.train_ivf_centroids), nprobe=2, exact cosine
    re-rank — the inverted-file scale path complementing the LSH variant
    (q22).  Replaces round 2-4's fixed-direction assignment (the declared
    'would train at real scale' caveat): the lists are now data-adapted
    exactly the way a FAISS IVF index is built."""
    from ..operators import similarity

    return similarity.ivf_ann_top1(_embs(spark, sf_dir))
