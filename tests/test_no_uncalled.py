"""Ship only what runs: every module-level function or class in the package
has a caller outside the tests.  A caller is any reference by name from
non-test code — the package, ``scripts/``, ``bench.py``,
``__spark_entry__.py`` or ``perfbench/`` — other than the definition's own
body: a name, an attribute, an import, a ``@register`` decorator (the query
registry is the caller) or a string constant equal to the name (the form in
which perfbench's tracer names the functions it wraps).

A definition that must stay with tests as its only callers is allow-listed
below with the reason it stays."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "osm_processing_pipeline_spark"

ALLOWED = {
    f"{PKG}/operators/similarity.py::_score_cols":
        "half of the Catalyst reference pair that "
        "test_ivf_arrow_kernels_match_catalyst_pair compares the IVF Arrow "
        "kernels against",
    f"{PKG}/operators/similarity.py::_argmin2":
        "half of the Catalyst reference pair that "
        "test_ivf_arrow_kernels_match_catalyst_pair compares the IVF Arrow "
        "kernels against",
    f"{PKG}/sources/documents.py::assert_span_equality":
        "the span-invariant check that tests/test_spans.py runs over the "
        "document codec",
}


def _sources(root: pathlib.Path) -> list[pathlib.Path]:
    files = sorted(root.glob(f"{PKG}/**/*.py")) + sorted(root.glob("scripts/*.py")) \
        + sorted(p for p in root.glob("perfbench/*.py")
                 if not p.name.startswith("test_"))
    return files + [p for p in (root / "bench.py", root / "__spark_entry__.py")
                    if p.exists()]


def _names(node: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Every name ``node`` refers to, leaving out the subtree ``skip``."""
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if n is skip:
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
        stack.extend(ast.iter_child_nodes(n))
    return out


def _registered(d: ast.AST) -> bool:
    return any(isinstance(dec, ast.Call) and isinstance(dec.func, ast.Name)
               and dec.func.id == "register" for dec in d.decorator_list)


def uncalled(root: pathlib.Path) -> list[str]:
    """``path::name`` of every module-level def or class in the package
    that no non-test code refers to outside its own body."""
    trees = {f.relative_to(root).as_posix(): ast.parse(f.read_text())
             for f in _sources(root)}
    defs = [(rel, d) for rel, tree in trees.items() if rel.startswith(PKG + "/")
            for d in tree.body
            if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
    elsewhere = {rel: _names(tree) for rel, tree in trees.items()}
    out = []
    for rel, d in defs:
        if _registered(d):
            continue
        if any(d.name in names for other, names in elsewhere.items()
               if other != rel) or d.name in _names(trees[rel], skip=d):
            continue
        out.append(f"{rel}::{d.name}")
    return out


def test_every_definition_has_a_caller():
    found = [site for site in uncalled(ROOT) if site not in ALLOWED]
    assert not found, (f"{len(found)} definitions no non-test code calls:\n"
                       + "\n".join(found))


def test_allow_list_names_live_definitions():
    stale = set(ALLOWED) - set(uncalled(ROOT))
    assert not stale, f"allow-list entries that have a caller or are gone: {stale}"


def test_an_uncalled_definition_is_found(tmp_path):
    pkg = tmp_path / PKG
    pkg.mkdir()
    (pkg / "a.py").write_text(
        "from x import register\n\n\n"
        "def used():\n    return 1\n\n\n"
        "def recursive(n):\n    return recursive(n - 1) if n else 0\n\n\n"
        "@register('q')\ndef query():\n    return used()\n\n\n"
        "def traced():\n    return 2\n\n\n"
        "class Dead:\n    pass\n")
    (tmp_path / "scripts").mkdir()
    (tmp_path / "scripts" / "b.py").write_text(
        "from osm_processing_pipeline_spark import a\n"
        "TARGETS = [(a, 'traced')]\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_a.py").write_text(
        "from osm_processing_pipeline_spark.a import Dead\n")
    assert uncalled(tmp_path) == [f"{PKG}/a.py::recursive", f"{PKG}/a.py::Dead"]
