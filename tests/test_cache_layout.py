"""One owner for derived inputs: every materialized input (world roads,
raster tiles, staged stream replays, the bench's scaled table) is written
through ``datagen/world.cached``, which alone decides where it lives (under
the current ``DATA_VERSION``) and when it is complete (``_SUCCESS``).  This
scans the package, ``scripts/`` and ``bench.py`` for code outside the owner
that names ``CACHE_DIR`` or tests for a ``_SUCCESS`` marker.  Docstrings are
not scanned; they may describe the contract.

``plans/checkpoint.py`` keeps its own marker test: a checkpointed range is
committed when its ``range=N`` directory carries ``_SUCCESS``, under a
lineage the manifest records, which is a contract of its own."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
OWNERS = {"osm_processing_pipeline_spark/datagen/world.py",
          "osm_processing_pipeline_spark/plans/checkpoint.py"}


def _docstrings(tree) -> set[int]:
    """ids of the string constants that are module/class/def docstrings."""
    return {id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)}


def cache_sites(root: pathlib.Path) -> list[str]:
    """``path:line`` of every name of ``CACHE_DIR`` and every ``_SUCCESS``
    string outside the owners."""
    files = sorted(root.glob("osm_processing_pipeline_spark/**/*.py")) \
        + sorted(root.glob("scripts/*.py")) + sorted(root.glob("bench.py"))
    found = []
    for f in files:
        rel = f.relative_to(root).as_posix()
        if rel in OWNERS:
            continue
        tree = ast.parse(f.read_text())
        docs = _docstrings(tree)
        for n in sorted(ast.walk(tree), key=lambda n: getattr(n, "lineno", 0)):
            named = ((isinstance(n, ast.Name) and n.id == "CACHE_DIR")
                     or (isinstance(n, ast.Attribute) and n.attr == "CACHE_DIR")
                     or (isinstance(n, ast.alias) and n.name == "CACHE_DIR"))
            marker = (isinstance(n, ast.Constant) and isinstance(n.value, str)
                      and "_SUCCESS" in n.value and id(n) not in docs)
            if named or marker:
                found.append(f"{rel}:{n.lineno}")
    return found


def test_only_world_cached_owns_derived_inputs():
    found = cache_sites(ROOT)
    assert not found, ("derived-input cache handled outside "
                       f"datagen/world.cached: {', '.join(found)}")


def test_hand_rolled_cache_is_found(tmp_path):
    pkg = tmp_path / "osm_processing_pipeline_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text(
        '"""Reads _SUCCESS-marked tables."""\n'
        "import os\n"
        "from .datagen.world import CACHE_DIR\n\n\n"
        "def table(spark, world):\n"
        '    """Written once; complete when it has _SUCCESS."""\n'
        '    path = f"{world.CACHE_DIR}/t.parquet"\n'
        '    if not os.path.exists(os.path.join(path, "_SUCCESS")):\n'
        "        pass\n"
        "    return spark.read.parquet(path)\n")
    (tmp_path / "bench.py").write_text(
        'DONE = f"{CACHE_DIR}/x/_SUCCESS"\n')
    assert cache_sites(tmp_path) == [
        "osm_processing_pipeline_spark/a.py:3",
        "osm_processing_pipeline_spark/a.py:8",
        "osm_processing_pipeline_spark/a.py:9",
        "bench.py:1", "bench.py:1"]


def test_a_write_sweeps_only_other_versions(tmp_path, monkeypatch):
    """A cache miss removes the trees ``cached`` wrote under other
    versions (``v<digit>...``) and leaves every other name alone: the
    current version's inputs, and whatever else the env-settable dir
    holds."""
    from osm_processing_pipeline_spark import worldspec as W
    from osm_processing_pipeline_spark.datagen import world

    monkeypatch.setattr(world, "CACHE_DIR", str(tmp_path))
    current = f"v{W.DATA_VERSION}"
    for d in ("v1/old", f"{current}/kept", "vscode-x", "notes"):
        (tmp_path / d).mkdir(parents=True)
    path = world.cached("new", lambda p: pathlib.Path(p).mkdir(parents=True))
    assert path == f"{tmp_path}/{current}/new"
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        [current, "notes", "vscode-x"])
    assert sorted(p.name for p in (tmp_path / current).iterdir()) == [
        "kept", "new"]
