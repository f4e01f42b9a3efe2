"""Checkpoint/resume: completed ranges are skipped on restart; a changed
lineage invalidates them; resumed output is bit-identical."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from osm_processing_pipeline_spark.datagen import world
from osm_processing_pipeline_spark.operators import spatial_join
from osm_processing_pipeline_spark.plans import checkpoint as CP
from osm_processing_pipeline_spark.worldspec import NX, NY
from tests.conftest import SF_SMOKE


def _pieces_fn(spark):
    def fn():
        r = world.roads_materialized(spark, SF_SMOKE)
        s = world.segments(spark, SF_SMOKE, r)
        g = world.grids(spark)
        return spatial_join.segment_cell_pieces(s, g) \
            .select("osm_id", "grid_id", "piece_um")
    return fn


def test_checkpoint_resume_and_invalidate(spark, tmp_path):
    out = str(tmp_path / "ckpt")
    ranges = CP.make_ranges(0, NX * NY, 8)
    lin = CP.lineage_hash("pieces", [SF_SMOKE], version="1")

    r1 = CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                      ranges, out, lin)
    assert len(r1["computed"]) == 8 and not r1["skipped"]
    first_pd = CP.load_stage(spark, out).toPandas() \
        .sort_values(["osm_id", "grid_id"]).reset_index(drop=True)
    n1 = len(first_pd)
    assert n1 == r1["rows"] > 0

    # resume: everything skipped, nothing recomputed, same data
    r2 = CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                      ranges, out, lin)
    assert len(r2["skipped"]) == 8 and not r2["computed"]
    assert r2["rows"] == n1

    # partial failure: wipe two ranges -> only those recompute
    shutil.rmtree(f"{out}/range=3")
    shutil.rmtree(f"{out}/range=5")
    r3 = CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                      ranges, out, lin)
    assert sorted(r3["computed"]) == [3, 5] and len(r3["skipped"]) == 6
    after_pd = CP.load_stage(spark, out).toPandas() \
        .sort_values(["osm_id", "grid_id"]).reset_index(drop=True)
    # bit-identical content after resume
    assert len(after_pd) == n1
    assert (after_pd.values == first_pd.values).all()

    # lineage change invalidates all checkpoints
    lin2 = CP.lineage_hash("pieces", [SF_SMOKE], version="2")
    r4 = CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                      ranges, out, lin2)
    assert len(r4["computed"]) == 8

    # manifest carries per-range metrics
    man = CP.read_manifest(out)
    assert all({"stage", "range_id", "output_rows", "wall_s", "lineage"}
               <= set(m) for m in man)


def test_load_stage_ignores_stale_ranges_of_shrunk_layout(spark, tmp_path):
    """A re-run under a new lineage with FEWER ranges must not silently read
    the old layout's leftover range=N directories back in."""
    out = str(tmp_path / "ckpt")
    wide = CP.make_ranges(0, NX * NY, 8)
    lin_a = CP.lineage_hash("pieces", [SF_SMOKE], version="A")
    CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                 wide, out, lin_a)
    total = CP.load_stage(spark, out, "pieces", lin_a).count()

    # new lineage, 2 ranges covering only the first half of the key space:
    # ranges 2..7 from layout A stay on disk but must NOT be read
    narrow = CP.make_ranges(0, (NX * NY) // 2, 2)
    lin_b = CP.lineage_hash("pieces", [SF_SMOKE], version="B")
    CP.run_stage(spark, "pieces", _pieces_fn(spark), "grid_id",
                 narrow, out, lin_b)
    got = CP.load_stage(spark, out, "pieces", lin_b)
    assert got.count() < total
    assert got.select(F.max("grid_id")).first()[0] < (NX * NY) // 2
    # unfiltered, the live records of both lineages are read: layout A's
    # second half is still on disk, its first half is superseded by B
    assert CP.load_stage(spark, out).count() > got.count()


def test_load_stage_without_manifest_record_raises(spark, tmp_path):
    """A stage or lineage with no manifest record is an error naming both —
    never a glob over whatever range=N directories happen to be on disk."""
    out = str(tmp_path / "ckpt")
    lin = CP.lineage_hash("ids", ["x"])
    CP.run_stage(spark, "ids", lambda: spark.range(64), "id",
                 CP.make_ranges(0, 64, 4), out, lin)
    assert CP.load_stage(spark, out, "ids", lin).count() == 64
    for stage, lineage in (("ids", "stale"), ("other", lin), ("other", None)):
        with pytest.raises(FileNotFoundError,
                           match=f"stage={stage!r} lineage={lineage!r}"):
            CP.load_stage(spark, out, stage, lineage)
    # stale range dirs with no manifest at all are not read either
    os.remove(CP._manifest_path(out))
    assert os.path.isdir(f"{out}/range=0")
    with pytest.raises(FileNotFoundError, match="stage=None lineage=None"):
        CP.load_stage(spark, out)


def test_job_checkpointed_lineage_follows_data_version(spark, tmp_path,
                                                       monkeypatch, capsys):
    """``job.py --checkpointed`` hashes the world's DATA_VERSION into its
    lineage: after a version bump every range recomputes instead of
    resuming output computed from the old world, and recomputes it from
    roads materialized for the new version.  The job writes q38's stage,
    so its rows are q38's rows."""
    from osm_processing_pipeline_spark import job, registry
    from osm_processing_pipeline_spark import worldspec as W
    from osm_processing_pipeline_spark.queries.roads import PIECES_STAGE

    cache = tmp_path / "cache"
    monkeypatch.setattr(world, "CACHE_DIR", str(cache))
    argv = ["--checkpointed", "--sf-dir", SF_SMOKE,
            "--out-dir", str(tmp_path / "ckpt"), "--ranges", "4"]
    assert job.main(argv) == 0
    assert "computed=4 skipped=0" in capsys.readouterr().err
    assert job.main(argv) == 0
    assert "computed=0 skipped=4" in capsys.readouterr().err
    lin = CP.lineage_hash(PIECES_STAGE, [SF_SMOKE], version=W.DATA_VERSION)
    q38 = registry.QUERIES["q38_checkpointed_pieces"](spark, SF_SMOKE)
    rows = CP.load_stage(spark, str(tmp_path / "ckpt"), PIECES_STAGE, lin)
    assert sorted(rows.select(*q38.columns).collect()) == sorted(q38.collect())
    monkeypatch.setattr(W, "DATA_VERSION", W.DATA_VERSION + "-bumped")
    roads = (cache / f"v{W.DATA_VERSION}" / world.cache_key(SF_SMOKE)
             / "roads.parquet" / "_SUCCESS")
    assert not roads.exists()
    assert job.main(argv) == 0
    assert "computed=4 skipped=0" in capsys.readouterr().err
    assert roads.exists()


def _ids_stage(spark, out, n_ranges=4):
    lin = CP.lineage_hash("ids", ["x"])
    return CP.run_stage(spark, "ids", lambda: spark.range(64), "id",
                        CP.make_ranges(0, 64, n_ranges), out, lin)


def test_torn_last_manifest_line_is_ignored_and_recomputed(spark, tmp_path):
    """A crash mid-append leaves an unterminated partial last record: the
    reader skips it, and resume recomputes exactly that range."""
    out = str(tmp_path / "ckpt")
    _ids_stage(spark, out)
    p = CP._manifest_path(out)
    with open(p) as f:
        lines = f.read().splitlines()
    with open(p, "w") as f:
        f.write("\n".join(lines[:-1]) + "\n" + lines[-1][:25])
    assert [r["range_id"] for r in CP.read_manifest(out)] == [0, 1, 2]
    res = _ids_stage(spark, out)
    assert res["computed"] == [3] and res["skipped"] == [0, 1, 2]
    assert res["rows"] == 64
    assert sorted(r["range_id"] for r in CP.read_manifest(out)) == [0, 1, 2, 3]


def test_corrupt_middle_manifest_line_raises(spark, tmp_path):
    out = str(tmp_path / "ckpt")
    _ids_stage(spark, out)
    p = CP._manifest_path(out)
    with open(p) as f:
        lines = f.read().splitlines()
    lines[1] = lines[1][:25]
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")
    with pytest.raises(ValueError):
        CP.read_manifest(out)


def test_manifest_writes_one_record_per_range(spark, tmp_path, monkeypatch):
    """Each range appends its own record once: the bytes written to the
    manifest over a run equal its final size (a rewrite of every earlier
    record per range would write O(ranges^2) bytes)."""
    import builtins

    out = str(tmp_path / "ckpt")
    written = []
    real_open = builtins.open

    class Counted:
        def __init__(self, f):
            self._f = f

        def write(self, s):
            written.append(len(s))
            return self._f.write(s)

        def __getattr__(self, k):
            return getattr(self._f, k)

        def __enter__(self):
            self._f.__enter__()
            return self

        def __exit__(self, *exc):
            return self._f.__exit__(*exc)

    def spy(file, mode="r", *a, **kw):
        f = real_open(file, mode, *a, **kw)
        if any(c in mode for c in "wa") and "_manifest" in str(file):
            return Counted(f)
        return f

    monkeypatch.setattr(builtins, "open", spy)
    _ids_stage(spark, out, n_ranges=8)
    monkeypatch.undo()
    size = os.path.getsize(CP._manifest_path(out))
    assert len(CP.read_manifest(out)) == 8
    assert len(written) == 8 and sum(written) == size


def test_resume_with_a_different_range_count_recomputes_moved_spans(spark, tmp_path):
    """A record is done only for its own [lo, hi) span: re-running under the
    same lineage with 8 ranges after 4 must not skip ranges 0..3 (whose
    records cover twice the span) and leave 96 rows for 64 ids."""
    out = str(tmp_path / "ckpt")
    assert _ids_stage(spark, out, n_ranges=4)["rows"] == 64
    res = _ids_stage(spark, out, n_ranges=8)
    assert res["computed"] == list(range(8)) and not res["skipped"]
    assert res["rows"] == 64
    lin = CP.lineage_hash("ids", ["x"])
    back = CP.load_stage(spark, out, "ids", lin)
    assert back.count() == 64 == back.distinct().count()


def _ids_back(spark, out):
    return CP.load_stage(spark, out, "ids", CP.lineage_hash("ids", ["x"]))


def test_shrinking_the_range_count_reads_back_only_the_new_layout(spark, tmp_path):
    """8 then 4 ranges under one lineage: the 4-range records supersede the
    8-range ones they overlap, so the stale range=4..7 directories are not
    read back on top of the new layout (96 rows for 64 ids)."""
    out = str(tmp_path / "ckpt")
    _ids_stage(spark, out, n_ranges=8)
    res = _ids_stage(spark, out, n_ranges=4)
    assert res["computed"] == [0, 1, 2, 3] and res["rows"] == 64
    back = _ids_back(spark, out)
    assert back.count() == 64 == back.distinct().count()


def test_growing_back_recomputes_the_spans_a_shrunk_run_overwrote(spark, tmp_path):
    """8, then 4, then 8 ranges under one lineage: after the second run
    range=0..3 hold the 4-range spans, so the first run's records are dead
    and the third run recomputes all 8 ranges instead of skipping them."""
    out = str(tmp_path / "ckpt")
    _ids_stage(spark, out, n_ranges=8)
    _ids_stage(spark, out, n_ranges=4)
    res = _ids_stage(spark, out, n_ranges=8)
    assert res["computed"] == list(range(8)) and not res["skipped"]
    assert res["rows"] == 64
    back = _ids_back(spark, out)
    assert back.count() == 64 == back.distinct().count()
    assert [r["range_id"] for r in CP.live_records(out, "ids")] == list(range(8))


def test_stages_sharing_a_directory_never_read_each_others_ranges(spark, tmp_path):
    """Range directories carry no stage name: when a second stage writes
    range=0..1 into the same out_dir, the first stage's records for those
    ranges are dead, so its read-back holds only its own surviving rows and
    its re-run recomputes the overwritten ranges."""
    out = str(tmp_path / "ckpt")
    _ids_stage(spark, out, n_ranges=4)
    lin = CP.lineage_hash("big", ["x"])
    CP.run_stage(spark, "big", lambda: spark.range(1000, 1064), "id",
                 CP.make_ranges(1000, 1064, 2), out, lin)
    assert [r["range_id"] for r in CP.live_records(out, "ids")] == [2, 3]
    ids = [r.id for r in _ids_back(spark, out).collect()]
    assert sorted(ids) == list(range(32, 64))
    res = _ids_stage(spark, out, n_ranges=4)
    assert res["computed"] == [0, 1] and res["skipped"] == [2, 3]
    assert res["rows"] == 64
    assert sorted(r.id for r in _ids_back(spark, out).collect()) == list(range(64))


def _counted_ids(spark, n=64):
    """A 64-id stage whose every evaluation adds the rows it produced to an
    accumulator (the mapInPandas is opaque, so the range filters stay above
    it and cannot prune its input)."""
    acc = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    return acc, lambda: spark.range(n).mapInPandas(count_rows, "id long")


def test_stage_plan_runs_once_per_call(spark, tmp_path):
    out = str(tmp_path / "ckpt")
    lin = CP.lineage_hash("ids", ["x"])
    ranges = CP.make_ranges(0, 64, 8)
    acc, fn = _counted_ids(spark)
    res = CP.run_stage(spark, "ids", fn, "id", ranges, out, lin)
    assert len(res["computed"]) == 8 and res["rows"] == 64
    assert acc.value == 64

    # resume with one lost range: one pending range, one plan evaluation
    shutil.rmtree(f"{out}/range=5")
    acc, fn = _counted_ids(spark)
    res = CP.run_stage(spark, "ids", fn, "id", ranges, out, lin)
    assert res["computed"] == [5] and len(res["skipped"]) == 7
    assert acc.value == 64 and res["rows"] == 64


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_nothing_stays_cached_after_run_or_failed_write(spark, tmp_path,
                                                        monkeypatch):
    from pyspark.sql import DataFrameWriter

    spark.catalog.clearCache()
    lin = CP.lineage_hash("ids", ["x"])
    ranges = CP.make_ranges(0, 64, 4)
    CP.run_stage(spark, "ids", lambda: spark.range(64), "id", ranges,
                 str(tmp_path / "ok"), lin)
    assert _cache_empty(spark)

    real = DataFrameWriter.parquet
    cached_at_failure = []

    def fail_range_2(self, path, *a, **kw):
        if path.endswith("range=2"):
            cached_at_failure.append(not _cache_empty(spark))
            raise RuntimeError("disk full")
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", fail_range_2)
    with pytest.raises(RuntimeError, match="disk full"):
        CP.run_stage(spark, "ids", lambda: spark.range(64), "id", ranges,
                     str(tmp_path / "fail"), lin)
    assert cached_at_failure == [True]    # the stage frame was persisted ...
    assert _cache_empty(spark)            # ... and released on the way out
    recs = CP.read_manifest(str(tmp_path / "fail"))
    assert [r["range_id"] for r in recs] == [0, 1]


def test_manifest_output_rows_match_rows_on_disk(spark, tmp_path):
    """Uneven ranges, empty ones included: each record's row count is the
    count of rows read back from its own range=N directory."""
    out = str(tmp_path / "ckpt")
    lin = CP.lineage_hash("sq", ["x"])
    res = CP.run_stage(spark, "sq",
                       lambda: spark.range(64).selectExpr("id * id % 64 AS id"),
                       "id", CP.make_ranges(0, 128, 8), out, lin)
    recs = CP.read_manifest(out)
    assert sorted(r["range_id"] for r in recs) == list(range(8))
    got = {r["range_id"]: r["output_rows"] for r in recs}
    want = {rid: spark.read.parquet(f"{out}/range={rid}").count()
            for rid in range(8)}
    assert got == want and res["rows"] == 64
    assert len(set(got.values())) > 2 and got[7] == 0
