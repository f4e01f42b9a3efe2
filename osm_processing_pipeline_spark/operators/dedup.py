"""Deduplication operators over the documents table (training-data pipeline).

Exact (hash groupBy), n-gram Jaccard (shingle self-join), MinHash+LSH
(signature -> band -> bucket-join -> exact verify), SimHash (bit-vote
signature -> block bucket -> Hamming refine).  All hashes are engine-portable
integer polynomials (functions/text.py), so every operator has an exact DuckDB
oracle.

Scale notes: shingle/band/block self-joins are classic skew points (a hot
shingle fans out quadratically).  The LSH band join keys are wide (4 minhash
values), which diffuses hot buckets; the raw shingle join applies
``df_filter`` first — distinct (doc, shingle) -> drop shingles whose document
frequency exceeds SHINGLE_DF_MAX (a stop-phrase shared by df docs produces
O(df^2) candidate rows while carrying no dedup signal) -> self-join.  The
filter is part of the operator's *semantics* (set sizes are post-filter), so
the DuckDB oracle applies the identical filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import worldspec as W
from ..functions import text as T


def doc_tokens(docs: DataFrame, distinct: bool = True) -> DataFrame:
    t = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    return t.distinct() if distinct else t


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Canonical-id assignment by content hash (md5 of lowercased text)."""
    keys = docs.select("doc_id", F.md5(F.lower(F.col("text"))).alias("content_hash"))
    canon = keys.groupBy("content_hash").agg(F.min("doc_id").alias("canonical_id"))
    return keys.join(canon, "content_hash").select(
        "doc_id", "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        "content_hash")


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc."""
    tk = docs.select("doc_id", T.tokens(F.col("text")).alias("tk"))
    concat_args = ", ' ', ".join(f"tk[i + {d}]" for d in range(n))
    sh = tk.select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(tk) >= {n} THEN "
            f"transform(sequence(0, size(tk) - {n}), i -> concat({concat_args})) "
            f"ELSE array() END"
        )).alias("shingle"),
    )
    return sh.distinct()


def df_filter(sets: DataFrame, max_df: int | None = None) -> DataFrame:
    """Drop shingles with document frequency > max_df before a set self-join.

    The hot-key list is tiny by construction (keys above the threshold), so
    it broadcasts; the anti-join removes the quadratic fan-out a hot shingle
    would cause in ``jaccard_pairs`` (the 100 TB scale guard)."""
    max_df = W.SHINGLE_DF_MAX if max_df is None else max_df
    hot = (sets.groupBy("shingle").agg(F.count("*").alias("df"))
           .filter(F.col("df") > max_df).select("shingle"))
    return sets.join(F.broadcast(hot), "shingle", "left_anti")


def jaccard_pairs(sets: DataFrame, key: str = "shingle",
                  min_permille: int = 0,
                  pairs: DataFrame | None = None,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """Exact Jaccard over (doc_id, key) set rows.

    Without ``pairs``: all pairs sharing >= 1 key via a key self-join — the
    caller must bound key fan-out first (``df_filter``), or hot keys go
    quadratic.  With ``pairs`` (distinct (doc_a, doc_b), doc_a < doc_b): the
    self-join is replaced by two equi-joins THROUGH the candidate list, so
    cost is |pairs| x set size, independent of key document frequency — the
    scale path for verifying LSH candidates, where a token shared by half
    the corpus would otherwise fan out as n^2/2 rows (5k docs hide this;
    500k do not — BENCH.md 100x-docs rehearsal).  A candidate pair sharing
    zero keys yields no row in either mode (inner-join semantics).

    ``carry`` names per-pair-constant columns of ``pairs`` to ride the pair
    row through the verify, so the caller never re-joins the candidate
    table against its own verify output (a pairs x pairs shuffle; with a
    degenerate corpus the candidate set is ~n^2/2 rows, so that join was
    the single most expensive exchange in q16 — BENCH.md round-5 notes).

    Candidate mode computes the intersection as
    ``size(array_intersect(ta, tb))`` over per-doc key ARRAYS joined onto
    the pair row — per-row whole-stage codegen, NO pair re-aggregation —
    instead of fanning each pair out x set_size through two row-level
    equi-joins and a groupBy (measured 31 -> 17 s on q16's 7.5M pairs at
    sf0.1; values bit-identical).  The key-array dim is O(corpus), never
    broadcast by hand — Catalyst's size gate picks broadcast while it fits
    and shuffle-hash beyond.  ``inter_cnt >= 1`` preserves the self-join
    mode's inner semantics (a candidate pair sharing zero keys — possible
    via minhash collision — yields no row in either mode).

    Candidate mode requires distinct ``(doc_id, key)`` rows:
    ``array_intersect`` de-duplicates but ``size`` does not, so a repeated
    key would inflate ``union_cnt`` and understate the Jaccard.
    Returns (doc_a, doc_b, *carry, inter_cnt, union_cnt, jaccard_permille)."""
    if pairs is None:
        assert not carry, "carry requires a candidate pairs frame"
        sizes = sets.groupBy("doc_id").agg(F.count("*").alias("n"))
        a = sets.select(F.col("doc_id").alias("doc_a"), key)
        b = sets.select(F.col("doc_id").alias("doc_b"), key)
        inter = (
            a.join(b, key)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter_cnt"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
        j = (
            inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("union_cnt",
                        F.col("na") + F.col("nb") - F.col("inter_cnt"))
            .withColumn("jaccard_permille",
                        F.expr("CAST((inter_cnt * 1000) DIV union_cnt"
                               " AS BIGINT)"))
        )
    else:
        arrs = sets.groupBy("doc_id").agg(F.collect_list(key).alias("ks"))
        ta = arrs.select(F.col("doc_id").alias("doc_a"), F.col("ks").alias("ta"))
        tb = arrs.select(F.col("doc_id").alias("doc_b"), F.col("ks").alias("tb"))
        j = (
            pairs.select("doc_a", "doc_b", *carry)
            .join(ta, "doc_a").join(tb, "doc_b")
            .withColumn("inter_cnt",
                        F.size(F.array_intersect("ta", "tb")).cast("long"))
            # the nondeterministic barrier column keeps the >= 1 filter OUT
            # of the join condition: pushed, it re-evaluates array_intersect
            # per pair in the join (once in the condition, again in the
            # project) — as a standalone Filter it runs once in whole-stage
            # codegen (A/B at sf0.1, alternating: 22.6 -> 17.7 s; the q55
            # folded-condition lesson, cheap-predicate edition).  The filter
            # must READ `_mid`: an unread alias is pruned and the filter is
            # pushed into the join anyway (tests/test_plan_shape.py checks
            # q16's join conditions).  `_mid` is dropped by the final select
            # and never shuffled.
            .withColumn("_mid", F.monotonically_increasing_id())
            .filter((F.col("inter_cnt") >= 1) & (F.col("_mid") >= 0))
            .withColumn("union_cnt",
                        (F.size("ta") + F.size("tb")).cast("long")
                        - F.col("inter_cnt"))
            .withColumn("jaccard_permille",
                        F.expr("CAST((inter_cnt * 1000) DIV union_cnt"
                               " AS BIGINT)"))
        )
    out = j.select("doc_a", "doc_b", *carry,
                   F.col("inter_cnt").cast("long").alias("inter_cnt"),
                   F.col("union_cnt").cast("long").alias("union_cnt"),
                   "jaccard_permille")
    if min_permille > 0:
        out = out.filter(F.col("jaccard_permille") >= min_permille)
    return out


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{N-1}) MinHash signature over distinct unigrams."""
    th = doc_tokens(docs).withColumn("h", T.token_hash(F.col("tok")))
    return th.groupBy("doc_id").agg(*T.minhash_agg_cols(F.col("h")))


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band the signatures (MINHASH_BANDS bands x rows) and bucket-join."""
    rows = W.MINHASH_N // W.MINHASH_BANDS
    band_structs = []
    for k in range(W.MINHASH_BANDS):
        key = F.concat_ws(":", *[F.col(f"mh{k * rows + r}").cast("string")
                                 for r in range(rows)])
        band_structs.append(F.struct(F.lit(k).alias("band"), key.alias("bkey")))
    bands = sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("b")) \
                .select("doc_id", "b.band", "b.bkey")
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("shared_bands"))
    )


def minhash_lsh_dedup(docs: DataFrame) -> DataFrame:
    """LSH candidates verified with exact unigram Jaccard.

    The verify runs candidates-first (``jaccard_pairs(pairs=cand)``): the
    final result is inner-joined with the candidate list either way, so
    restricting the exact-Jaccard computation to candidate pairs is
    plan-only — identical output, but the all-pairs token self-join (which
    is quadratic in token document frequency and CANNOT be df-filtered here,
    exact Jaccard needs every token) never materializes.  ``shared_bands``
    rides THROUGH the verify aggregate (``carry``) instead of re-joining
    cand against jac afterwards: with a low-entropy corpus LSH buckets
    collapse (the 31-token sf0.1 seed puts 77% of docs in ONE bucket per
    band, 7.5M candidate pairs of 12.5M possible), so the candidate subtree
    is ~n^2/2 rows and anything that runs it twice — or shuffles two copies
    of it into a pairs x pairs join — doubles the query (64 -> 29 s at
    sf0.1, BENCH.md).  The 5k-row signature table is checkpointed: the
    band self-join otherwise recomputes the token explode + 16-min
    aggregate for both sides."""
    sigs = minhash_signatures(docs).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(sigs)
    jac = jaccard_pairs(doc_tokens(docs), key="tok", pairs=cand,
                        carry=("shared_bands",))
    return jac.select(
        "doc_a", "doc_b", "shared_bands", "inter_cnt", "union_cnt",
        "jaccard_permille")


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over the token multiset (bit votes weighted by count)."""
    t = doc_tokens(docs, distinct=False)
    h32 = T.simhash_spread(T.token_hash(F.col("tok")))
    sums = t.withColumn("h32", h32).groupBy("doc_id").agg(
        *T.simhash_bit_sum_cols(F.col("h32")))
    return sums.select("doc_id", T.simhash_from_sums().alias("simhash"))


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs: share >= 1 of 4 8-bit blocks, Hamming(xor) <=
    SIMHASH_MAX_HAMMING."""
    sigs = simhash_signatures(docs)
    blocks = sigs.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("blk"),
                     (F.floor(F.col("simhash") / F.lit(1 << (8 * k))).cast("long")
                      % 256).alias("bval"))
            for k in range(4)
        ])).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.bval")
    a = blocks.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"),
                      "blk", "bval")
    b = blocks.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"),
                      "blk", "bval")
    # A pair sharing m blocks appears in m bucket-join rows; instead of a
    # global distinct over the candidate set (a full shuffle of every pair
    # row), keep only the row whose block is the pair's FIRST shared block —
    # computable per-row from the two signatures already on the row (byte k
    # of sa == byte k of sb for k = blk, and for no k < blk).  Exactly one
    # row per pair survives, so the dedup is a filter inside the join stage
    # and the distinct exchange disappears.
    byte_eq = [((F.floor(F.col("sa") / F.lit(1 << (8 * k))) % 256)
                == (F.floor(F.col("sb") / F.lit(1 << (8 * k))) % 256))
               for k in range(4)]
    no_match_before = []  # no_match_before[k] = AND_{j<k} byte_j differs
    acc = F.lit(True)
    for k in range(4):
        no_match_before.append(acc)
        acc = acc & ~byte_eq[k]
    first_block = F.lit(False)
    for k in range(4):
        first_block = F.when(F.col("blk") == k, no_match_before[k]) \
                       .otherwise(first_block)
    pairs = (
        a.join(b, ["blk", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(first_block)
        .withColumn("hamming", F.expr("bit_count(sa ^ sb)").cast("long"))
        .filter(F.col("hamming") <= W.SIMHASH_MAX_HAMMING)
    )
    return pairs.select("doc_a", "doc_b", "hamming")
