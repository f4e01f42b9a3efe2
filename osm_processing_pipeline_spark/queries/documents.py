"""Document queries: the interleaved road-document codec round trip, exact,
n-gram, MinHash and SimHash dedup, text quality, language id, fingerprints,
QC sampling and media features.  Each builder sits beside its DuckDB twin."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import worldspec as W
from ..datagen import oracle, oracle_text as ot, world
from ..operators import classify
from .shared import _jaccard_cte, _sql_road_type, register


# --------------------------------------------------------------------- q13
def _q13_sql() -> str:
    q = oracle.fl(W.COORD_Q)
    return f"""{oracle.with_world('verts')},
chk AS (
  SELECT osm_id,
         SUM(CAST(round(lon * {q}) AS BIGINT) + CAST(round(lat * {q}) AS BIGINT)) AS geom_checksum,
         MAX(CASE WHEN k = 0 THEN node_id END) AS first_node,
         MAX(CASE WHEN k = nv - 1 THEN node_id END) AS last_node
  FROM verts GROUP BY osm_id
)
SELECT 'way/' || CAST(r.osm_id AS VARCHAR) AS doc_id,
       r.osm_id, r.highway,
       CAST(2 + (CASE WHEN r.ref IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN r.lanes IS NOT NULL THEN 1 ELSE 0 END)
          + r.nv + 1
          + (CASE WHEN r.a % 5 = 0 THEN 1 ELSE 0 END) AS INT) AS n_spans,
       CAST(r.nv AS INT) AS n_node_refs,
       r.a % 5 = 0 AS has_image,
       CAST(c.geom_checksum AS BIGINT) AS geom_checksum,
       c.first_node, c.last_node
FROM roads_base r JOIN chk c USING (osm_id)"""


@register("q13_interleaved_roundtrip", _q13_sql())
def q13_interleaved_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S6 + span invariant: encode the world into interleaved text+media
    documents, parse back with pure array expressions, emit structural
    checksums the oracle recomputes relationally — proving the document codec
    end-to-end."""
    from ..sources import documents as D

    r = world.roads_materialized(spark, sf_dir)
    docs = D.encode_road_documents(r)
    p = D.parse_road_documents(docs)
    chk = F.aggregate(
        F.col("vertices"), F.lit(0).cast("long"),
        lambda acc, v: acc + F.round(v["lon"] * float(W.COORD_Q)).cast("long")
        + F.round(v["lat"] * float(W.COORD_Q)).cast("long"))
    return p.select(
        "doc_id", "osm_id", "highway",
        F.col("n_spans").cast("int").alias("n_spans"),
        F.size("node_refs").cast("int").alias("n_node_refs"),
        "has_image",
        chk.alias("geom_checksum"),
        F.element_at("node_refs", 1).alias("first_node"),
        F.element_at("node_refs", -1).alias("last_node"),
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --------------------------------------------------------------------- q14
@register("q14_exact_dedup", """
WITH keys AS (SELECT doc_id, md5(lower(text)) AS content_hash FROM documents),
canon AS (SELECT content_hash, MIN(doc_id) AS canonical_id FROM keys GROUP BY content_hash)
SELECT k.doc_id, c.canonical_id, k.doc_id != c.canonical_id AS is_duplicate, k.content_hash
FROM keys k JOIN canon c USING (content_hash)""")
def q14_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical id per content hash (hash groupBy; the min-id
    tie-break is associative -> partial-aggregable at any scale)."""
    from ..operators import dedup

    return dedup.exact_dedup(_docs(spark, sf_dir))


# --------------------------------------------------------------------- q15
def _q15_sql() -> str:
    return f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM tk)
),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle
        HAVING COUNT(*) > {W.SHINGLE_DF_MAX}),
sh AS (SELECT s.* FROM sh0 s ANTI JOIN hot h USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
{_jaccard_cte()}
SELECT * FROM jac WHERE jaccard_permille >= {W.JACCARD_MIN_PERMILLE}"""


@register("q15_ngram_jaccard_dedup", _q15_sql())
def q15_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup by word-trigram Jaccard: hot-shingle df-filter (the
    quadratic-fan-out guard) -> shingle self-join -> integer permille
    threshold."""
    from ..operators import dedup

    sh = dedup.df_filter(dedup.doc_shingles(_docs(spark, sf_dir), 3))
    return dedup.jaccard_pairs(sh, min_permille=W.JACCARD_MIN_PERMILLE)


# --------------------------------------------------------------------- q16
def _q16_sql() -> str:
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
th AS (SELECT doc_id, tok, {ot.token_hash_sql('tok')} AS h FROM dt),
mh AS (
  SELECT doc_id,
         {ot.minhash_cols_sql()}
  FROM th GROUP BY doc_id
),
bands AS ({ot.band_union_sql()}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared_bands
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, c.shared_bands, COUNT(*) AS inter_cnt
  FROM cand c
  JOIN dt a ON a.doc_id = c.doc_a
  JOIN dt b ON b.doc_id = c.doc_b AND b.tok = a.tok
  GROUP BY 1, 2, 3
),
{_jaccard_cte()}
SELECT * FROM jac"""


@register("q16_minhash_lsh_dedup", _q16_sql())
def q16_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 fns) -> 4-band LSH bucketing -> exact unigram-Jaccard
    verification of candidate pairs."""
    from ..operators import dedup

    return dedup.minhash_lsh_dedup(_docs(spark, sf_dir))


# --------------------------------------------------------------------- q17
def _q17_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
th AS (SELECT doc_id, ({ot.token_hash_sql('tok')} * {W.SIMHASH_SPREAD}) % {W.SIMHASH_MOD} AS h32 FROM t),
sums AS (
  SELECT doc_id,
         {ot.simhash_sum_cols_sql()}
  FROM th GROUP BY doc_id
),
sigs AS (SELECT doc_id, {ot.simhash_sig_sql()} AS simhash FROM sums),
blocks AS (
  SELECT doc_id, simhash, blk, (simhash // (CASE blk WHEN 0 THEN 1 WHEN 1 THEN 256 WHEN 2 THEN 65536 ELSE 16777216 END)) % 256 AS bval
  FROM (SELECT *, unnest(generate_series(0, 3)) AS blk FROM sigs)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sa, b.simhash AS sb
  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {W.SIMHASH_MAX_HAMMING}"""


@register("q17_simhash_dedup", _q17_sql())
def q17_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit bit-vote signature, 8-bit block bucketing,
    Hamming refine."""
    from ..operators import dedup

    return dedup.simhash_pairs(_docs(spark, sf_dir))


# --------------------------------------------------------------------- q18
def _q18_sql() -> str:
    stop = oracle.str_list(W.STOPWORDS)
    return f"""
WITH tk AS (SELECT doc_id, lang, source, text, string_split(text, ' ') AS t FROM documents)
SELECT doc_id, lang, source,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
       CAST((list_aggregate(list_transform(t, x -> length(x)), 'sum') * 100) // len(t) AS BIGINT) AS avg_tok_len_centi,
       CAST((len(list_filter(t, x -> list_contains([{stop}], x))) * 1000) // len(t) AS BIGINT) AS stop_permille,
       CASE WHEN len(t) >= 40 AND (len(list_filter(t, x -> list_contains([{stop}], x))) * 1000) // len(t) BETWEEN 20 AND 400 THEN 'good'
            WHEN len(t) >= 15 THEN 'fair'
            ELSE 'poor' END AS quality_class
FROM tk"""


@register("q18_text_quality", _q18_sql())
def q18_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token/char counts, distinct ratio, stopword
    permille, heuristic class — all integer outputs, pure Catalyst."""
    from ..functions import text as T

    stop = ", ".join(f"'{s}'" for s in W.STOPWORDS)
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", "source", "text", T.tokens(F.col("text")).alias("t"))
    n_tok = F.size("t").cast("long")
    stop_pm = F.expr(f"CAST((size(filter(t, x -> array_contains(array({stop}), x))) * 1000) "
                     f"DIV size(t) AS BIGINT)")
    return d.select(
        "doc_id", "lang", "source",
        n_tok.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct_tokens"),
        F.expr("CAST((aggregate(transform(t, x -> length(x)), 0, (acc, x) -> acc + x) * 100) "
               "DIV size(t) AS BIGINT)").alias("avg_tok_len_centi"),
        stop_pm.alias("stop_permille"),
        F.when((n_tok >= 40) & stop_pm.between(20, 400), "good")
         .when(n_tok >= 15, "fair").otherwise("poor").alias("quality_class"),
    )


# --------------------------------------------------------------------- q19
def _q19_sql() -> str:
    score_cols = []
    for lang in W.LANGS:
        m = oracle.str_list(W.LANG_MARKERS[lang])
        score_cols.append(
            f"CAST(len(list_filter(t, x -> list_contains([{m}], x))) AS BIGINT) AS s_{lang}")
    # argmax with alphabetical tie-break
    pred = "CASE "
    for i, lang in enumerate(W.LANGS):
        conds = " AND ".join(f"s_{lang} >= s_{o}" for o in W.LANGS[i + 1:])
        pred += f"WHEN {conds or 'TRUE'} THEN '{lang}' "
    pred += "END"
    return f"""
WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
scored AS (SELECT doc_id, lang, {', '.join(score_cols)} FROM tk)
SELECT doc_id, lang, {', '.join('s_' + x for x in W.LANGS)},
       {pred} AS predicted,
       ({pred}) = lang AS is_correct
FROM scored"""


@register("q19_langid", _q19_sql())
def q19_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: per-language token-hit scores,
    argmax with deterministic alphabetical tie-break."""
    from ..functions import text as T

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", T.tokens(F.col("text")).alias("t"))
    scores = {}
    for lang in W.LANGS:
        m = ", ".join(f"'{w}'" for w in W.LANG_MARKERS[lang])
        scores[lang] = F.expr(
            f"CAST(size(filter(t, x -> array_contains(array({m}), x))) AS BIGINT)")
    d = d.select("doc_id", "lang",
                 *[scores[lang].alias(f"s_{lang}") for lang in W.LANGS])
    pred = None
    for i, lang in enumerate(W.LANGS):
        cond = F.lit(True)
        for o in W.LANGS[i + 1:]:
            cond = cond & (F.col(f"s_{lang}") >= F.col(f"s_{o}"))
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return d.select(
        "doc_id", "lang", *[f"s_{lang}" for lang in W.LANGS],
        pred.alias("predicted"), (pred == F.col("lang")).alias("is_correct"))


# --------------------------------------------------------------------- q20
@register("q20_fingerprint", """
SELECT doc_id,
       md5(lower(text)) AS fp_hex,
       CAST(concat('0x', substring(md5(lower(text)), 1, 15)) AS BIGINT) AS fp60,
       CAST(concat('0x', substring(md5(lower(text)), 1, 8)) AS BIGINT) AS fp32
FROM documents""")
def q20_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 content hash + 60/32-bit integer
    projections (bucketing keys for sharded dedup at scale)."""
    d = _docs(spark, sf_dir)
    h = F.md5(F.lower(F.col("text")))
    return d.select(
        "doc_id", h.alias("fp_hex"),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("fp60"),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("fp32"),
    )


# --------------------------------------------------------------------- q40
def _q40_sql() -> str:
    rt = _sql_road_type("r")
    h = f"(r.osm_id * 2654435761) % {1 << 32}"
    return f"""{oracle.with_world('roads_base')}
SELECT r.osm_id, r.highway, {rt} AS road_type,
       CAST({h} AS BIGINT) AS sample_key
FROM roads_base r
ORDER BY sample_key, r.osm_id
LIMIT 25"""


@register("q40_qc_sample", _q40_sql())
def q40_qc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.6 QC sampling: the reference's ORDER BY RANDOM() LIMIT 25
    (04_qc_samples.sql:19-21) made deterministic — order by a multiplicative
    hash of the key (reproducible across runs/engines, TakeOrderedAndProject
    physical plan, no full sort)."""
    r = world.roads_materialized(spark, sf_dir)
    key = (F.col("osm_id") * F.lit(2654435761)) % F.lit(1 << 32)
    return (r.select(
        "osm_id", "highway",
        classify.road_type(F.col("ref"), F.col("highway")).alias("road_type"),
        key.cast("long").alias("sample_key"))
        .orderBy("sample_key", "osm_id").limit(25))


# --------------------------------------------------------------------- q49
def _q49_sql() -> str:
    def byte(i: int) -> str:
        return (f"CAST(concat('0x', substr(md5(media_ref), {1 + 2 * i}, 2)) "
                f"AS BIGINT)")

    seed = (f"({byte(0)} + {byte(1)} * 256 + {byte(2)} * 65536 "
            f"+ {byte(3)} * 16777216)")
    return f"""{oracle.with_world('roads_base')},
med AS (
  SELECT 'way/' || CAST(osm_id AS VARCHAR) AS doc_id,
         'img/' || CAST(osm_id AS VARCHAR) AS media_ref
  FROM roads_base WHERE a % 5 = 0
),
seeded AS (SELECT doc_id, media_ref, {seed} AS seed FROM med),
dims AS (
  SELECT *, 8 + seed % 9 AS w, 8 + (seed // 16) % 9 AS h FROM seeded
),
px AS (
  SELECT doc_id, media_ref, w, h,
         SUM((((k * 2654435761 + seed) % 4294967296) // 256) % 256) AS px_sum
  FROM (SELECT *, unnest(generate_series(0, w * h - 1)) AS k FROM dims)
  GROUP BY doc_id, media_ref, w, h
)
SELECT doc_id, media_ref,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST((px_sum * 1000) // (w * h) AS BIGINT) AS mean_px_milli,
       CAST(px_sum AS BIGINT) AS px_checksum
FROM px"""


@register("q49_media_features", _q49_sql())
def q49_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal media pipeline as a GRADED row: encode road documents with
    interleaved image spans -> parse -> fetch/synthesize binary payloads ->
    Arrow-batched decode + feature extraction (width/height/mean/checksum).
    The fake codec is deterministic (md5-seeded), so the DuckDB twin
    recomputes the pixel stats in closed form without ever seeing the
    binary — proving the media plumbing end-to-end (multimodal/media.py)."""
    from ..multimodal import media as M
    from ..sources import documents as D

    r = world.roads_materialized(spark, sf_dir)
    docs = D.parse_road_documents(D.encode_road_documents(r))
    return M.image_features(M.media_table(docs.filter(F.col("has_image"))))
