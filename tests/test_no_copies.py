"""Compose, don't copy: a block of code used in two places has one builder
that both call.  This scans the package and ``scripts/`` for any window of
4 consecutive stripped lines — none blank or a ``#`` comment, at least 120
characters together — that occurs at two places, and fails on each one.

A copy that must stay is allow-listed below by the two sites it joins
(``path::enclosing def``) with the reason it cannot be shared: an engine
builder and its DuckDB twin, for instance, must stay independent."""

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
WINDOW = 4
MIN_CHARS = 120

ALLOWED = {
    frozenset({
        "osm_processing_pipeline_spark/functions/geometry.py::seg_seg_intersect",
        "osm_processing_pipeline_spark/datagen/oracle_geom.py::seg_seg_intersect",
    }): "engine kernel and its DuckDB twin: the oracle must stay an "
        "independent reference, so the two never share text",
}


def _owners(text: str) -> dict[int, str]:
    """line number -> qualified name of the innermost def/class holding it."""
    owner: dict[int, str] = {}

    def visit(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                name = f"{prefix}{child.name}"
                for ln in range(child.lineno, child.end_lineno + 1):
                    owner[ln] = name
                visit(child, name + ".")
            else:
                visit(child, prefix)

    visit(ast.parse(text), "")
    return owner


def copies(root: pathlib.Path) -> dict[frozenset, list[list[str]]]:
    """{sites: [[path:line, ...] per copied window]} for every window of
    WINDOW lines that occurs more than once under ``root``."""
    files = sorted(root.glob("osm_processing_pipeline_spark/**/*.py")) \
        + sorted(root.glob("scripts/*.py"))
    seen = collections.defaultdict(list)
    for f in files:
        text = f.read_text()
        rel = f.relative_to(root).as_posix()
        owner = _owners(text)
        lines = [ln.strip() for ln in text.splitlines()]
        for k in range(len(lines) - WINDOW + 1):
            w = lines[k:k + WINDOW]
            if any(not t or t.startswith("#") for t in w) \
                    or sum(map(len, w)) < MIN_CHARS:
                continue
            seen[tuple(w)].append(
                (f"{rel}:{k + 1}", f"{rel}::{owner.get(k + 1, '<module>')}"))
    groups = collections.defaultdict(list)
    for occ in seen.values():
        if len(occ) > 1:
            groups[frozenset(site for _, site in occ)].append(
                [at for at, _ in occ])
    return groups


def test_no_copied_blocks():
    found = {sites: at for sites, at in copies(ROOT).items()
             if sites not in ALLOWED}
    report = "\n".join(
        f"{' <-> '.join(sorted(sites))}: windows at {at[0]}"
        + (f" (+{len(at) - 1} overlapping)" if len(at) > 1 else "")
        for sites, at in sorted(found.items(), key=lambda kv: sorted(kv[0])))
    assert not found, f"{len(found)} copied blocks:\n{report}"


def test_allow_list_names_live_copies():
    stale = set(ALLOWED) - set(copies(ROOT))
    assert not stale, f"allow-list entries with no copy left: {stale}"


def test_a_pasted_block_is_found(tmp_path):
    block = ("    total = sum(x * weight for x, weight in zip(values, weights))\n"
             "    norm = math.sqrt(sum(w * w for w in weights)) or 1.0\n"
             "    scaled = [v / norm for v in values if v is not None]\n"
             "    return total / norm, scaled\n")
    pkg = tmp_path / "osm_processing_pipeline_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text("def f(values, weights):\n" + block)
    (tmp_path / "scripts").mkdir()
    (tmp_path / "scripts" / "b.py").write_text(
        "import math\n\n\ndef g(values, weights):\n" + block)
    assert copies(tmp_path) == {
        frozenset({"osm_processing_pipeline_spark/a.py::f",
                   "scripts/b.py::g"}):
            [["osm_processing_pipeline_spark/a.py:2", "scripts/b.py:5"]]}
