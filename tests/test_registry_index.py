"""One registration per query: ``@register(name, oracle_sql)`` in a family
module under ``queries/`` records the builder and its DuckDB twin together,
and ``registry`` only orders them (the sorted graded head, then ``_TAIL``)."""

import ast
import pathlib

from osm_processing_pipeline_spark import registry

PKG = pathlib.Path(registry.__file__).parent


def _trees():
    return {f.relative_to(PKG.parent).as_posix(): ast.parse(f.read_text())
            for f in sorted(PKG.glob("**/*.py"))}


def test_order_is_sorted_head_then_tail():
    head = [k for k in registry.QUERIES if k not in registry._TAIL]
    assert list(registry.QUERIES) == list(registry.ORACLES) \
        == sorted(head) + registry._TAIL


def test_no_second_registration_of_a_twin():
    """Only ``register`` itself stores into ORACLES."""
    found = [f"{rel}:{n.lineno}" for rel, tree in _trees().items()
             for top in tree.body
             if not (isinstance(top, ast.FunctionDef) and top.name == "register")
             for n in ast.walk(top)
             if isinstance(n, (ast.Assign, ast.AugAssign, ast.AnnAssign))
             for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
             if isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name)
             and t.value.id == "ORACLES"]
    assert not found, f"ORACLES[...] assigned outside register: {found}"


def test_every_registration_names_the_query_and_its_twin():
    calls = [(rel, n) for rel, tree in _trees().items() for n in ast.walk(tree)
             if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
             and n.func.id == "register"]
    bad = [f"{rel}:{n.lineno}" for rel, n in calls
           if len(n.args) != 2 or n.keywords
           or not isinstance(n.args[0], ast.Constant)
           or not isinstance(n.args[0].value, str)]
    assert not bad, f"register(...) without (name, oracle_sql): {bad}"
    names = [n.args[0].value for _, n in calls]
    assert sorted(names) == sorted(registry.QUERIES), \
        "each query must be registered exactly once"
