"""Operator paths exercised directly rather than through a query: the
broadcast raster gather, union-find over a dense edge set, the one-SQL
ladder, the IVF Arrow kernels and the brute-force GEMM top-k."""

from pyspark.sql import functions as F

from osm_processing_pipeline_spark.operators import clusters, zonal
from osm_processing_pipeline_spark.sources.raster import raster_tiles


def test_sample_points_broadcast_gather_values(spark):
    """The pixel gather broadcasts the decoded pixel table, and every sampled
    value equals the raster's closed form at the clamped pixel."""
    import numpy as np

    from osm_processing_pipeline_spark import worldspec as W
    from osm_processing_pipeline_spark.sources.raster import (
        built_values, pop_values)

    tiles = raster_tiles(spark)
    coords = {1: (0.10, 0.20), 2: (0.515, 0.55), 3: (0.999, 0.001),
              4: (0.0, 0.0), 5: (0.51, 0.51)}
    pts = spark.createDataFrame(
        [(k, lon, lat) for k, (lon, lat) in coords.items()],
        "osm_id long, lon double, lat double")
    bc = zonal.sample_points(tiles, pts, with_built=True)
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "ShuffledHashJoin" not in plan
    got = {r.osm_id: (r.pop_value, r.built_value) for r in bc.collect()}
    lon, lat = np.array(list(coords.values())).T
    px, py = (np.clip(np.floor(v * W.RASTER_PX).astype(np.int64), 0,
                      W.RASTER_PX - 1) for v in (lon, lat))
    want = dict(zip(coords, zip(pop_values(px, py).tolist(),
                                built_values(px, py).tolist())))
    assert got == want


def test_cc_edges_dense_clique(spark):
    """A dense edge set (one 40-clique, 1560 directed edges) collapses to a
    single component labeled by its min cell."""
    ids = list(range(40))
    cells = spark.createDataFrame([(i,) for i in ids], "grid_id long")
    edges = (cells.crossJoin(cells.select(F.col("grid_id").alias("nbr")))
             .filter(F.col("grid_id") != F.col("nbr")))
    out = clusters.connected_components_edges(cells, edges)
    assert {r.grid_id: r.component for r in out.collect()} == {i: 0 for i in ids}


def test_apply_ladder_sql_matches_loop(spark):
    """_apply_ladder's one-SQL CTE chain must be column-for-column identical
    to the per-stage selectExpr loop it replaced, with and without the
    folded ``final`` projection (q58's shape)."""
    from osm_processing_pipeline_spark.queries.composites import _apply_ladder

    df = spark.createDataFrame(
        [(1, 10, 3), (2, 7, -4), (3, 0, 0)], "id long, a long, b long")
    stages = ({"s1": "a + b", "s2": "CASE WHEN a > b THEN a ELSE b END"},
              {"s3": "s1 * s2 + id"},
              {"s4": "s3 - s1"})
    loop = df
    for stage in stages:
        loop = loop.selectExpr("*", *[f"{e} AS {c}" for c, e in stage.items()])
    got = _apply_ladder(spark, df, stages, "_t_ladder").orderBy("id")
    assert got.columns == loop.columns == [
        "id", "a", "b", "s1", "s2", "s3", "s4"]
    assert got.collect() == loop.orderBy("id").collect()

    final = ["id", "s4 * 2 AS s4x2", "CAST(s1 AS BIGINT) AS s1_l"]
    got_f = _apply_ladder(spark, df, stages, "_t_ladder",
                          final=final).orderBy("id")
    want_f = loop.selectExpr(*final).orderBy("id")
    assert got_f.columns == want_f.columns == ["id", "s4x2", "s1_l"]
    assert got_f.collect() == want_f.collect()


def test_ivf_training_releases_its_checkpoint(spark):
    """train_ivf_centroids returns driver-side lists, so no RDD it
    checkpointed stays persisted after it returns."""
    from osm_processing_pipeline_spark.operators import similarity as sim

    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.train_ivf_centroids(emb, n_lists=8)
    assert len(cents) == 8
    assert sc.getPersistentRDDs().size() == before


def test_ivf_arrow_kernels_match_catalyst_pair(spark):
    """The vectorized IVF kernels (_assign_lists, _centroid_partials) must
    be integer-identical to the Catalyst _score_cols/_argmin2 pair they
    replaced (the HOF pair is CodegenFallback and walled q39 at 10x scale;
    it stays alive HERE as the equivalence oracle — its SQL rendering is
    also what the DuckDB twin unrolls, so this test is the bridge that
    keeps the Arrow path twin-exact)."""
    from osm_processing_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.train_ivf_centroids(emb, n_lists=8)
    q = (sim._quantized(emb).filter(F.col("nrm") > 0)
         .select("vec_id", "qv"))

    # assignment: best + second-best centroid, smallest-j ties
    best_j, sec_j = sim._argmin2(
        [F.col(f"s{j}") for j in range(len(cents))])
    ref = (q.select("vec_id", *sim._score_cols(cents))
           .select("vec_id", best_j.alias("list_id"), sec_j.alias("probe2")))
    got = (sim._assign_lists(q, cents, nprobe=2)
           .select("vec_id", F.col("probes")[0].alias("list_id"),
                   F.col("probes")[1].alias("probe2")))
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(got) == key(ref)

    # recenter input: per-(cluster, dim) sums and member counts
    ref_stats = (q.select("qv", *sim._score_cols(cents))
                 .select(best_j.alias("j"),
                         F.posexplode("qv").alias("i", "x"))
                 .groupBy("j", "i")
                 .agg(F.sum("x").alias("s"), F.count("*").alias("n")))
    got_stats = (sim._centroid_partials(q, cents)
                 .groupBy("j", "i")
                 .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))
    assert key(got_stats) == key(ref_stats)


def test_brute_gemm_topk_matches_pairwise_reference(spark):
    """brute_force_topk's sharded block-GEMM must match an independent
    per-pair reference with the same IEEE operand order on adversarial
    inputs: zero vectors (masked), exact duplicates (cosine ties broken by
    neighbor_id asc), negative components, and a shard/chunk grid that
    splits the probes unevenly.  Every dot and norm is an exact integer
    below 2^53, so float64 divide/sqrt/multiply are correctly rounded and
    the two value trees are bit-identical."""
    import math

    import numpy as np

    from osm_processing_pipeline_spark.operators import similarity as sim

    rng = np.random.default_rng(17)
    n, dim, k = 40, 8, 3
    E = rng.uniform(-2.0, 2.0, size=(n, dim))
    E[7] = 0.0                      # zero vector: excluded on both sides
    E[11] = E[3]                    # exact duplicate -> cos ties
    E[23] = E[3]                    # triple: tie broken by smallest id
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in E[i]]) for i in range(n)],
        "vec_id long, embedding array<float>")

    got = sorted(map(tuple, sim.brute_force_topk(
        emb, k, n_shards=4, n_chunks=3).collect()))

    # independent reference: same quantization, same operand order
    Q = np.floor(E.astype(np.float32).astype(np.float64) * sim.QIN
                 ).astype(object)          # python ints: exact dots
    nrm = [int(sum(int(x) * int(x) for x in Q[i])) for i in range(n)]
    exp = []
    for i in range(n):
        if nrm[i] == 0:
            continue
        cands = []
        for j in range(n):
            if j == i or nrm[j] == 0:
                continue
            dt = int(sum(int(a) * int(b) for a, b in zip(Q[i], Q[j])))
            cos = math.floor(
                (np.float64(dt) / np.sqrt(np.float64(nrm[i])
                                          * np.float64(nrm[j])))
                * np.float64(1.0e9))
            cands.append((-cos, j))
        for r, (negcos, j) in enumerate(sorted(cands)[:k], start=1):
            exp.append((i, r, j, -negcos))
    assert got == sorted(exp)


def test_sample_points_gather_is_one_to_one(spark):
    """q44's single-aggregate shape folds per-road constants into the
    post-gather aggregate, which is exactness-preserving ONLY because the
    gather is an inner 1:1 join: every sample's clamped pixel id hits
    exactly one row of the complete pixel table.  Pin that invariant."""
    from osm_processing_pipeline_spark.datagen import world

    sf = "/root/testdata/sf0.001"
    samples = zonal.line_interpolated_samples(
        world.roads_materialized(spark, sf))
    vals = zonal.sample_points(
        raster_tiles(spark),
        samples.select("osm_id", "lon", "lat", "total_um", "n_samples"),
        with_built=True, carry=("total_um", "n_samples"))
    assert vals.count() == samples.count()
    # carried columns are per-road constants: one distinct value per road
    assert (vals.select("osm_id", "total_um", "n_samples").distinct().count()
            == samples.select("osm_id").distinct().count())
