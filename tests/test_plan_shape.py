"""Plan-shape guards for the queries built on shared builders: the
rep-vertex helper, the persona branches, the projected-grid and embedding
builders and the shared oracle chains.

Every SQL execution a query runs — its eager ``localCheckpoint``s while it is
built, then the final plan — is read back from the driver's SQL status
store, so operators hidden behind a checkpoint are linted too, and so is
every micro-batch of the streaming queries (q50, q54): per-key Python state
(``FlatMapGroupsInPandasWithState``) is forbidden there, the built-in
streaming aggregation keeps state in the JVM.  No join
condition may contain ``array_intersect(``: folded into a join, it runs
interpreted per candidate pair and again in the projection that keeps it
(q16's ``_mid`` barrier keeps its filter out).  The driver
job count of building q10/q27/q44/q46/q58 is pinned: the shared branch
builder must checkpoint ``road_cells`` once per composite, and no build may
run a strategy probe."""

import pytest

from osm_processing_pipeline_spark import registry
from osm_processing_pipeline_spark.datagen import world
from osm_processing_pipeline_spark.sources.raster import raster_tiles
from tests.conftest import SF_SMOKE

SHAPED = ["q01_road_grid_classification", "q02_tile_assignment",
          "q07_intersection_detection", "q09_endpoint_proximity_upgrade",
          "q11_raster_point_sample", "q13_interleaved_roundtrip",
          "q15_ngram_jaccard_dedup", "q16_minhash_lsh_dedup",
          "q18_text_quality", "q21_embedding_topk", "q22_lsh_ann",
          "q28_intersection_degradation", "q29_persona_normalized",
          "q32_vector_tiles", "q33_length_percentiles",
          "q37_embedding_neardup", "q39_ivf_ann", "q42_fourlane",
          "q44_hill_composite", "q45_buffer_histogram", "q46_persona_v2",
          "q50_streaming_first_seen", "q51_analysis_summary",
          "q53_beach_scenery", "q54_streaming_late_windows",
          "q56_mollweide_grid",
          "q57_admin_bounds", "q58_persona_v1_simplified",
          "q59_mercator_endpoint_dwithin", "q60_mollweide_ellipsoidal",
          "q61_utm_grid_areas"]
FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
             "FlatMapGroupsInPandasWithState")
# Spark jobs run while BUILDING each query with the world cache warm:
# parquet schema reads, eager checkpoints, q46's bounds aggregate, and the
# driver collect that feeds q27's union-find.  The persona pins hold the
# shared branch builder to one road_cells checkpoint per composite; the
# others hold the raster and cluster queries to no strategy probe (a count
# that picks a plan) at build time.
PERSONA_JOBS = {"q46_persona_v2": 44, "q58_persona_v1_simplified": 4}
PROBE_FREE_JOBS = {"q10_zonal_stats": 1, "q27_urban_clusters": 2,
                   "q44_hill_composite": 6}


def _executions(spark) -> dict[int, str]:
    """SQL execution id -> latest physical plan text (AQE final plans are
    posted back to the status store as they are re-planned)."""
    it = spark._jsparkSession.sharedState().statusStore() \
        .executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out[e.executionId()] = e.physicalPlanDescription()
    return out


def _join_conditions(plan: str) -> list[str]:
    """Every join operator's condition in a formatted plan description."""
    return [line for line in plan.splitlines()
            if line.startswith("Join condition:")]


@pytest.mark.parametrize("name", SHAPED)
def test_executed_plans_have_no_cross_or_row_udf(name, spark):
    before = set(_executions(spark))
    df = registry.QUERIES[name](spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plans = {k: v for k, v in _executions(spark).items() if k not in before}
    assert plans, f"{name}: no SQL execution recorded"
    for op in FORBIDDEN:
        hits = [k for k, v in plans.items() if op in v]
        assert not hits, f"{name}: {op} in executions {hits}"
    hits = [c for v in plans.values() for c in _join_conditions(v)
            if "array_intersect(" in c]
    assert not hits, f"{name}: array_intersect in join conditions {hits}"


def _build_jobs(spark, name: str) -> int:
    sc = spark.sparkContext
    world.roads_materialized(spark, SF_SMOKE)      # warm the world caches
    raster_tiles(spark)
    group = f"build-{name}"
    sc.setJobGroup(group, group)
    try:
        registry.QUERIES[name](spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(PERSONA_JOBS))
def test_persona_build_job_count(name, spark):
    n = _build_jobs(spark, name)
    assert n == PERSONA_JOBS[name], (name, n)


@pytest.mark.parametrize("name", sorted(PROBE_FREE_JOBS))
def test_build_runs_no_strategy_probe(name, spark):
    n = _build_jobs(spark, name)
    assert n == PROBE_FREE_JOBS[name], (name, n)
