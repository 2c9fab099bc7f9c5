"""The package reads only deployment settings from the environment.

Tuning switches that pick between two code paths do not belong in the
environment: each decision has one path.  This guard parses every module
of snappydata_spark and lists each environment read."""

import ast
import pathlib

import snappydata_spark

DEPLOYMENT_VARS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEM",
    "SPARK_WAREHOUSE_DIR",
    "SPARK_GRAFT_EXTRA_CONF",
}


def _is_environ(node):
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_key(node):
    """The key expression of an environment read — os.environ[...],
    os.environ.get/pop/setdefault(...), os.getenv(...) — or None."""
    if isinstance(node, ast.Subscript) and _is_environ(node.value):
        return node.slice
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.args:
        f = node.func
        if (_is_environ(f.value) and f.attr in ("get", "pop", "setdefault")) or (
            f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os"
        ):
            return node.args[0]
    return None


def test_package_reads_only_deployment_env_vars():
    root = pathlib.Path(snappydata_spark.__file__).parent
    reads = {}
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            key = _env_key(node)
            if key is None:
                continue
            name = key.value if isinstance(key, ast.Constant) else "<computed>"
            reads.setdefault(name, []).append(str(path.relative_to(root)))
    unexpected = {k: v for k, v in reads.items() if k not in DEPLOYMENT_VARS}
    assert not unexpected, f"environment reads beyond deployment settings: {unexpected}"
    assert reads, "guard found no environment reads at all"
