"""Layout law for the declared-query modules (default tier, no Spark):
one module per query family, every declaring module loaded by the
registry, and no private helper shared across query modules."""

from __future__ import annotations

import ast
import pathlib
import re

QUERIES_DIR = (
    pathlib.Path(__file__).resolve().parents[1] / "datawarehouse1_spark" / "queries"
)
PKG = "datawarehouse1_spark.queries"


def _modules() -> dict[str, ast.Module]:
    return {
        p.stem: ast.parse(p.read_text(), filename=str(p))
        for p in sorted(QUERIES_DIR.glob("*.py"))
        if p.stem != "__init__"
    }


def _listed_modules() -> tuple[str, ...]:
    tree = ast.parse((QUERIES_DIR / "__init__.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_MODULES" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("queries/__init__.py defines no _MODULES")


def test_every_declaring_module_is_loaded():
    declaring = {
        name
        for name, tree in _modules().items()
        if any(
            isinstance(n, ast.FunctionDef) and n.name.startswith("q_")
            for n in tree.body
        )
    }
    assert declaring - set(_listed_modules()) == set()


def test_no_module_is_named_after_a_round():
    assert [m for m in _modules() if re.search(r"_r\d+", m)] == []


def test_no_private_name_crosses_query_modules():
    crossings = []
    for name, tree in _modules().items():
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.module is None:
                continue
            if node.level:
                source = node.module  # relative: `from .x import _y`
            elif node.module.startswith(PKG + "."):
                source = node.module[len(PKG) + 1 :]
            else:
                continue
            crossings += [
                f"{name} <- {source}.{a.name}"
                for a in node.names
                if a.name.startswith("_") and source != name
            ]
    assert crossings == []
