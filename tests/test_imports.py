"""Static import guards over the package source (no linter is installed,
so these stand in for one): no unused imports, and the near-dup family's
one import direction (index_minhash -> dedup) with one text featurizer
scaffold."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "snappydata_spark"


def _bound(alias: ast.alias) -> str:
    return alias.asname or alias.name.split(".")[0]


def _own_imports(scope: ast.AST):
    """Import statements whose nearest enclosing function is `scope`."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        stack.extend(ast.iter_child_nodes(node))


def _names(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _unused_imports(src: str) -> list[tuple[int, str]]:
    """(line, bound name) of every import no code in its scope reads."""
    lines = src.splitlines()
    tree = ast.parse(src)
    exported = {
        elt.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "__all__" for t in node.targets)
        for elt in node.value.elts
    }
    scopes = [tree] + [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    out = []
    for scope in scopes:
        used = _names(scope) | (exported if scope is tree else set())
        for imp in _own_imports(scope):
            if getattr(imp, "module", None) == "__future__":
                continue
            if "noqa" in lines[imp.lineno - 1]:  # deliberate re-export
                continue
            for alias in imp.names:
                if alias.name != "*" and _bound(alias) not in used:
                    out.append((imp.lineno, _bound(alias)))
    return out


def test_no_unused_imports():
    unused = [
        f"{p.relative_to(PKG.parent)}:{line} {name}"
        for p in sorted(PKG.rglob("*.py"))
        for line, name in _unused_imports(p.read_text())
    ]
    assert unused == []


def test_unused_import_scan_sees_module_and_function_scopes():
    src = (
        "import os\nimport re\n\n\ndef f():\n    import json\n"
        "    from math import pi\n\n    def g():\n        return pi\n\n"
        "    return re.compile(g())\n"
    )
    assert sorted(_unused_imports(src)) == [(1, "os"), (6, "json")]


def test_near_dup_featurizers_share_one_scaffold_and_one_import_direction():
    dedup = ast.parse((PKG / "dedup" / "__init__.py").read_text())
    index = ast.parse((PKG / "index_minhash.py").read_text())

    def map_in_pandas_calls(tree):
        return [
            n for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr == "mapInPandas"
        ]

    def imported_modules(tree, top_level_only):
        nodes = tree.body if top_level_only else list(ast.walk(tree))
        return {
            n.module for n in nodes if isinstance(n, ast.ImportFrom)
        } | {a.name for n in nodes if isinstance(n, ast.Import) for a in n.names}

    assert len(map_in_pandas_calls(dedup)) == 1
    assert map_in_pandas_calls(index) == []
    assert "snappydata_spark.dedup" in imported_modules(index, True)
    local = imported_modules(index, False) - imported_modules(index, True)
    assert "snappydata_spark.dedup" not in local
    assert not any(
        "index_minhash" in m for m in imported_modules(dedup, False) if m
    )
