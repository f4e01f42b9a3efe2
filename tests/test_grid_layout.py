"""One module knows the grid layout: every cell key, ring and micro-grid goes
through ``functions/cells`` (the DuckDB oracles have one twin of it in
``datagen/oracle_geom``).  This scans the package and ``scripts/`` for Python
code outside ``functions/cells.py`` that

- takes a cell id apart or steps it by the grid width (``% NX``, ``/ NX``,
  ``// NX``, ``id + NX``), or builds one (``j * NX + i``);
- floors a coordinate onto a cell grid: ``floor(x / edge)`` or
  ``floor(x * 1/edge)`` where the edge is the tiling grid's (``CELL_DEG``,
  ``NX``, ``NY``) or a radius-sized micro-grid's (``ENDPOINT_DIST_DEG``,
  ``HILL_SMOOTH_DEG``, ``micro_grid_for_radius``), named directly or
  through a local variable of the same or an enclosing function.

SQL text inside f-strings is not scanned: it is the oracles' side of the
twin.  ``worldspec.py`` declares the layout constants and is not scanned.
The raster's pixel grid (``RASTER_PX``) and the map-tile pyramid (``ZOOMS``)
are data layouts of their own, not cell keys.

A site that must stay is allow-listed below by ``path::enclosing def`` with
the reason it cannot call ``functions/cells``."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
LAYOUT_MODULE = "osm_processing_pipeline_spark/functions/cells.py"
NOT_SCANNED = {LAYOUT_MODULE, "osm_processing_pipeline_spark/worldspec.py"}
WIDTH = {"NX", "NY"}
GRID = WIDTH | {"CELL_DEG", "ENDPOINT_DIST_DEG", "HILL_SMOOTH_DEG",
                "micro_grid_for_radius"}

ALLOWED = {
    "osm_processing_pipeline_spark/operators/zonal.py::zonal_cell_sums.kernel":
        "mapInPandas numpy kernel: builds cj * NX + ci over whole pixel "
        "arrays inside Python, where Column functions cannot run",
    "osm_processing_pipeline_spark/operators/clusters.py::connected_components":
        "driver-side union-find: steps collected Python int ids to their "
        "4-neighbours, where Column functions cannot run",
}


def _name(node) -> str | None:
    """The constant a node names: ``NX``, ``W.NX`` or ``F.lit(W.NX)``."""
    if isinstance(node, ast.Call) and len(node.args) == 1 \
            and _name(node.func) == "lit":
        return _name(node.args[0])
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _mentions(node, names: set[str]) -> bool:
    return any(_name(n) in names for n in ast.walk(node)
               if isinstance(n, (ast.Name, ast.Attribute)))


def _tainted(fn, outer: set[str]) -> set[str]:
    """``outer`` (GRID, or the enclosing def's set for a closure) plus every
    local name of ``fn`` assigned from an expression that mentions one (to a
    fixpoint, so chains of locals are followed)."""
    names = set(outer)
    assigns = [n for n in ast.walk(fn) if isinstance(n, ast.Assign)]
    while True:
        new = {t.id for a in assigns if _mentions(a.value, names)
               for tgt in a.targets for t in ast.walk(tgt)
               if isinstance(t, ast.Name)} - names
        if not new:
            return names
        names |= new


def _layout_ops(fn, grid: set[str]) -> list[int]:
    """Line numbers in ``fn`` (its nested defs excluded) that do cell-layout
    arithmetic, ``grid`` being the names that carry a grid edge or size.
    f-string contents are skipped: they are SQL text."""
    hits = []

    def visit(node):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef, ast.JoinedStr)):
                continue
            if isinstance(child, ast.BinOp):
                right, left = _name(child.right), _name(child.left)
                if isinstance(child.op, (ast.Mod, ast.Div, ast.FloorDiv,
                                         ast.Add, ast.Sub)) and right in WIDTH:
                    hits.append(child.lineno)
                elif isinstance(child.op, ast.Mult) \
                        and (right in WIDTH) != (left in WIDTH):
                    hits.append(child.lineno)
            if isinstance(child, ast.Call) and _name(child.func) == "floor" \
                    and child.args and _mentions(child.args[0], grid):
                hits.append(child.lineno)
            visit(child)

    visit(fn)
    return hits


def layout_sites(root: pathlib.Path) -> dict[str, list[str]]:
    """{path::def: [path:line, ...]} for every scope outside the layout
    module that does cell-layout arithmetic."""
    files = sorted(root.glob("osm_processing_pipeline_spark/**/*.py")) \
        + sorted(root.glob("scripts/*.py"))
    found: dict[str, list[str]] = {}
    for f in files:
        rel = f.relative_to(root).as_posix()
        if rel in NOT_SCANNED:
            continue

        def scan(node, prefix, outer):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                      ast.ClassDef)):
                    name = f"{prefix}{child.name}"
                    grid = _tainted(child, outer)
                    lines = _layout_ops(child, grid)
                    if lines:
                        found[f"{rel}::{name}"] = [f"{rel}:{n}" for n in lines]
                    scan(child, name + ".", grid)
                else:
                    scan(child, prefix, outer)

        tree = ast.parse(f.read_text())
        top = [n for n in tree.body if not isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
        lines = [n for stmt in top for n in _layout_ops(
            ast.Module(body=[stmt], type_ignores=[]), GRID)]
        if lines:
            found[f"{rel}::<module>"] = [f"{rel}:{n}" for n in lines]
        scan(tree, "", GRID)
    return found


def test_only_cells_knows_the_grid_layout():
    found = {site: at for site, at in layout_sites(ROOT).items()
             if site not in ALLOWED}
    report = "\n".join(f"{site}: {', '.join(at)}"
                       for site, at in sorted(found.items()))
    assert not found, (f"{len(found)} scopes do cell-layout arithmetic "
                       f"outside {LAYOUT_MODULE}:\n{report}")


def test_allow_list_names_live_sites():
    stale = set(ALLOWED) - set(layout_sites(ROOT))
    assert not stale, f"allow-list entries with no layout arithmetic: {stale}"


def test_hand_rolled_layout_is_found(tmp_path):
    pkg = tmp_path / "osm_processing_pipeline_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text(
        "from pyspark.sql import functions as F\n"
        "from . import worldspec as W\n\n\n"
        "def split(cid):\n"
        "    return cid % W.NX, F.floor(cid / F.lit(W.NX))\n\n\n"
        "def micro(lon):\n"
        "    inv = 1.0 / W.HILL_SMOOTH_DEG\n\n"
        "    def index(x):\n"
        "        return F.floor(x * F.lit(inv))\n"
        "    return index(lon)\n\n\n"
        "def fine(lon, v):\n"
        "    sql = f'SELECT {W.NX} * j + i'\n"
        "    return F.floor(lon * W.RASTER_PX), F.floor(v * 1000.0), W.NX - 1\n")
    (tmp_path / "scripts").mkdir()
    (tmp_path / "scripts" / "b.py").write_text(
        "from osm_processing_pipeline_spark.worldspec import NX\n\n\n"
        "def compose(i, j):\n"
        "    return j * NX + i\n")
    assert layout_sites(tmp_path) == {
        "osm_processing_pipeline_spark/a.py::split":
            ["osm_processing_pipeline_spark/a.py:6"] * 3,
        "osm_processing_pipeline_spark/a.py::micro.index":
            ["osm_processing_pipeline_spark/a.py:13"],
        "scripts/b.py::compose": ["scripts/b.py:5"],
    }
