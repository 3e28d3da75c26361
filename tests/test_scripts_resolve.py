"""Every ``rify_spark`` name a script under ``scripts/`` uses must exist.

The scripts import the library lazily inside ``main()``, so no other test
loads them and a renamed or deleted library name would go unnoticed until
someone runs the script. This walks each script's syntax tree instead of
running it (no Spark session): every ``from rify_spark… import name`` must
resolve, and so must every ``X.attr`` chain on a name bound to a
``rify_spark`` module.
"""

import ast
import importlib
import types
from pathlib import Path

import pytest

SCRIPTS = sorted((Path(__file__).resolve().parent.parent / "scripts").glob("*.py"))


def _lib(module: str | None) -> bool:
    return module is not None and module.split(".")[0] == "rify_spark"


def _unresolved(path: Path) -> list:
    tree = ast.parse(path.read_text(), filename=str(path))
    bound: dict = {}  # local name -> rify_spark module it is bound to
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _lib(a.name):
                    mod = importlib.import_module(a.name)
                    if a.asname:
                        bound[a.asname] = mod
                    else:
                        bound["rify_spark"] = importlib.import_module("rify_spark")
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and _lib(node.module):
            mod = importlib.import_module(node.module)
            for a in node.names:
                if a.name == "*":
                    continue
                if not hasattr(mod, a.name):
                    try:
                        importlib.import_module(f"{node.module}.{a.name}")
                    except ModuleNotFoundError:
                        missing.append(f"line {node.lineno}: {node.module}.{a.name}")
                        continue
                obj = getattr(mod, a.name)
                if isinstance(obj, types.ModuleType):
                    bound[a.asname or a.name] = obj

    def resolve(expr):
        """The module an attribute chain ends at, or None."""
        if isinstance(expr, ast.Name):
            return bound.get(expr.id)
        if isinstance(expr, ast.Attribute):
            mod = resolve(expr.value)
            if mod is None:
                return None
            obj = getattr(mod, expr.attr, None)
            if obj is None:
                try:
                    obj = importlib.import_module(f"{mod.__name__}.{expr.attr}")
                except ModuleNotFoundError:
                    return None
            return obj if isinstance(obj, types.ModuleType) else None
        return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            mod = resolve(node.value)
            if mod is None or hasattr(mod, node.attr):
                continue
            try:
                importlib.import_module(f"{mod.__name__}.{node.attr}")
            except ModuleNotFoundError:
                missing.append(f"line {node.lineno}: {mod.__name__}.{node.attr}")
    return missing


@pytest.mark.parametrize("path", SCRIPTS, ids=[p.name for p in SCRIPTS])
def test_script_library_names_resolve(path):
    assert _unresolved(path) == []


def test_detects_a_deleted_name(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "def main():\n"
        "    from rify_spark.infer import seed_facts, no_such_name\n"
        "    from rify_spark import dictionary as D\n"
        "    import rify_spark.prove as P\n"
        "    D.build_dict, D.no_such_fn, P.recall_proof, P.no_such_fn\n"
    )
    assert _unresolved(bad) == [
        "line 2: rify_spark.infer.no_such_name",
        "line 5: rify_spark.dictionary.no_such_fn",
        "line 5: rify_spark.prove.no_such_fn",
    ]
