"""Structure guards for the session package: one statement classifier
(dialect.split_statement) feeding one dispatch table, and modules small
enough to read."""

import ast
import pathlib

import snappydata_spark.dialect as dialect
from snappydata_spark.dialect import split_statement
from snappydata_spark.session import _STATEMENT_HANDLERS

MAX_MODULE_LINES = 1500

# one statement per kind split_statement can return
EXAMPLES = {
    "passthrough": "SELECT 1",
    "begin": "BEGIN TRANSACTION",
    "commit": "COMMIT",
    "rollback": "ROLLBACK",
    "autocommit": "AUTOCOMMIT OFF",
    "set_isolation": "SET ISOLATION READ COMMITTED",
    "describe_history": "DESCRIBE HISTORY t",
    "vacuum": "VACUUM t",
    "compact_table": "COMPACT TABLE t",
    "merge": "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE",
    "create_external": "CREATE EXTERNAL TABLE e USING csv OPTIONS (path '/x')",
    "create_stream": "CREATE STREAM TABLE s (a INT) USING rate OPTIONS (x '1')",
    "drop_stream": "DROP STREAM TABLE s",
    "streaming_ctl": "STREAMING START",
    "create_view": "CREATE VIEW v AS SELECT 1",
    "alter_view": "ALTER VIEW v AS SELECT 2",
    "drop_view": "DROP VIEW v",
    "create_sample": "CREATE SAMPLE TABLE st ON t OPTIONS (qcs 'a', fraction '0.1')",
    "create_topk": "CREATE TOPK TABLE tk ON t OPTIONS (key 'a')",
    "call_proc": "CALL SYS.EXPORT_DATA('x')",
    "create_diskstore": "CREATE DISKSTORE ds",
    "drop_diskstore": "DROP DISKSTORE ds",
    "create_synonym": "CREATE SYNONYM syn FOR t",
    "drop_synonym": "DROP SYNONYM syn",
    "create_table": "CREATE TABLE t (a INT) USING column",
    "create_index": "CREATE INDEX ix ON t (a)",
    "drop_index": "DROP INDEX ix",
    "drop_table": "DROP TABLE t",
    "create_table_like": "CREATE TABLE t2 LIKE t",
    "alter_rls": "ALTER TABLE t ENABLE ROW LEVEL SECURITY",
    "show_members": "SHOW MEMBERS",
    "show_create": "SHOW CREATE TABLE t",
    "alter_add": "ALTER TABLE t ADD COLUMN b INT",
    "alter_drop": "ALTER TABLE t DROP COLUMN b",
    "create_policy": "CREATE POLICY p ON t FOR SELECT USING (a > 0)",
    "drop_policy": "DROP POLICY p",
    "grant_revoke": "GRANT SELECT ON t TO u",
    "deploy": "DEPLOY PACKAGE p 'g:a:v'",
    "undeploy": "UNDEPLOY p",
    "list_packages": "LIST PACKAGES",
    "set_schema": "SET SCHEMA s",
    "set_conf": "SET snappydata.x = 1",
    "put": "PUT INTO t VALUES (1)",
    "update": "UPDATE t SET a = 1",
    "delete": "DELETE FROM t WHERE a = 1",
    "truncate": "TRUNCATE TABLE t",
    "insert_select": "INSERT INTO t SELECT 1",
    "insert_overwrite": "INSERT OVERWRITE t SELECT 1",
}


def _classifier_kinds() -> set[str]:
    """Every kind literal split_statement can construct, read from the
    dialect source (a kind is always a literal, or a conditional over
    literals)."""

    def literals(node):
        if isinstance(node, ast.Constant):
            return {node.value}
        if isinstance(node, ast.IfExp):
            return literals(node.body) | literals(node.orelse)
        raise AssertionError(f"non-literal statement kind: {ast.unparse(node)}")

    tree = ast.parse(pathlib.Path(dialect.__file__).read_text())
    kinds = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "Statement"
        ):
            kinds |= literals(node.args[0])
    return kinds


def test_examples_cover_every_classifier_kind():
    assert set(EXAMPLES) == _classifier_kinds()
    for kind, text in EXAMPLES.items():
        assert split_statement(text).kind == kind, text


def test_every_statement_kind_has_one_handler():
    """A kind the classifier returns without a handler would fall through
    to Spark silently; a handler for a kind the classifier never returns
    is dead."""
    parsed = {split_statement(text).kind for text in EXAMPLES.values()}
    assert parsed == _classifier_kinds()
    assert set(_STATEMENT_HANDLERS) == parsed - {"passthrough"}


def test_session_modules_stay_small():
    pkg = pathlib.Path(dialect.__file__).parent
    files = [*pkg.glob("session.py"), *pkg.glob("session/*.py")]
    sizes = {str(p.relative_to(pkg)): len(p.read_text().splitlines()) for p in files}
    assert sizes, "session module not found"
    too_big = {n: s for n, s in sizes.items() if s > MAX_MODULE_LINES}
    assert not too_big, f"modules over {MAX_MODULE_LINES} lines: {too_big}"
