"""SQL dialect pre-parser for the reference's extensions over Spark SQL.

The reference extends the grammar with PUT INTO (SnappyParser.scala:
1173-1176, putValuesOperation :1220-1247), UPDATE (:1177-1197), DELETE
(:1198-1206) and TRUNCATE TABLE (SnappyDDLParser.scala:627).  Spark 3 SQL
already parses UPDATE/DELETE but only executes them on v2 tables, so we
intercept all four statement heads with a light regex pre-parser and route
them to the mutation layer; every other statement passes through untouched
to spark.sql (the dialect is a superset, like the reference).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class Statement:
    kind: str  # one per statement shape split_statement knows, else passthrough
    table: str = ""
    where: str | None = None
    assignments: dict = field(default_factory=dict)
    source_sql: str | None = None
    provider: str = "column"
    options: dict = field(default_factory=dict)
    schema_sql: str | None = None
    if_not_exists: bool = False


_PUT = re.compile(
    r"^\s*PUT\s+INTO\s+(?:TABLE\s+)?([\w.]+)\s*"
    r"(?:\(\s*(?!SELECT\b)([\w\s,]+?)\s*\)\s*)?(.+)$",
    re.I | re.S,
)
# optional ANSI table alias (UPDATE t [AS] a SET / DELETE FROM t [AS] a)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+([\w.]+)(?:\s+(?:AS\s+)?(?!SET\b)(\w+))?"
    r"\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?\s*;?\s*$",
    re.I | re.S,
)
_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.]+)(?:\s+(?:AS\s+)?(?!WHERE\b)(\w+))?"
    r"(?:\s+WHERE\s+(.*))?\s*;?\s*$",
    re.I | re.S,
)


def replace_alias_qualifier(
    expr: str | None, alias: str, new: str = ""
) -> str | None:
    """Rewrite `alias.` qualifiers in an expression to `new.` (or drop
    them when new="").  Quote-aware incl. backslash escapes; occurrences
    inside string literals are preserved.  Replacement (not removal) is
    what correlated subqueries need: DELETE FROM t WHERE EXISTS (SELECT
    1 FROM u WHERE u.k = t.k) must keep the OUTER qualifier resolvable
    against the aliased target frame — dropping it would rebind the
    correlation to the inner relation."""
    if expr is None:
        return None
    mask = _quote_mask(expr)
    out: list[str] = []
    i, n = 0, len(expr)
    a, la = alias.lower(), len(alias)
    repl = f"{new}." if new else ""
    while i < n:
        if (
            not mask[i]
            and expr[i : i + la].lower() == a
            and i + la < n
            and expr[i + la] == "."
            and (i == 0 or not (expr[i - 1].isalnum() or expr[i - 1] in "_."))
        ):
            out.append(repl)
            i += la + 1  # past alias and its dot
        else:
            out.append(expr[i])
            i += 1
    return "".join(out)


def strip_alias_qualifier(expr: str | None, alias: str) -> str | None:
    return replace_alias_qualifier(expr, alias, "")


_TRUNCATE = re.compile(r"^\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*;?\s*$", re.I)
# transaction control, with ij's AUTOCOMMIT and the reference's SET
# ISOLATION; then table maintenance (the SQL faces of table_history(),
# vacuum() and compact_table())
_TX_CONTROL = re.compile(
    r"^\s*(BEGIN(?:\s+TRANSACTION)?|START\s+TRANSACTION|COMMIT|ROLLBACK)\s*;?\s*$",
    re.I,
)
_AUTOCOMMIT = re.compile(r"^\s*AUTOCOMMIT\s+(ON|OFF)\s*;?\s*$", re.I)
_SET_ISOLATION = re.compile(
    r"^\s*SET\s+ISOLATION\s+(?:TO\s+)?([A-Za-z_ ]+?)\s*;?\s*$", re.I
)
_DESCRIBE_HISTORY = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
_VACUUM = re.compile(r"^\s*VACUUM\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I)
_COMPACT_TABLE = re.compile(
    r"^\s*COMPACT\s+TABLE\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
# optional ANSI column list after the table name; the (?!SELECT\b)
# lookahead keeps a parenthesized subselect from being eaten as a list
_COL_LIST = r"(?:\(\s*(?!SELECT\b)([\w\s,]+?)\s*\)\s*)?"
_INSERT_SELECT = re.compile(
    r"^\s*INSERT\s+INTO\s+(?:TABLE\s+)?([\w.]+)\s*" + _COL_LIST + r"(SELECT\s+.*)$",
    re.I | re.S,
)
# INSERT INTO t [(cols)] VALUES (...) — routed through the managed
# insert path (positional binding + CHECK constraints), not Spark's
# direct file append into the backing view
_INSERT_VALUES = re.compile(
    r"^\s*INSERT\s+INTO\s+(?:TABLE\s+)?([\w.]+)\s*" + _COL_LIST + r"(VALUES\s*.+)$",
    re.I | re.S,
)
_INSERT_OVERWRITE = re.compile(
    r"^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.]+)\s+(SELECT\s+.*)$", re.I | re.S
)
# CREATE TABLE t (schema)? USING column|row [OPTIONS (...)] [AS SELECT ...]
_CREATE_TABLE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*"
    r"(\(.*?\))?\s*USING\s+(COLUMN|ROW)\s*"
    r"(?:OPTIONS\s*\((.*?)\))?\s*(AS\s+SELECT\s+.*)?$",
    re.I | re.S,
)
# CREATE TABLE with NO `USING` clause: the reference defaults the
# provider to 'row' (SnappyDDLParser.createTable:309-318
# Consts.DEFAULT_SOURCE, hive support off).  Any statement carrying
# USING/PARTITIONED BY/STORED/etc. fails this match and passes through
# to Spark untouched.
_CREATE_TABLE_NOUSING = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*"
    r"(\(.*?\))?\s*(?:OPTIONS\s*\((.*?)\))?\s*(AS\s+SELECT\s+.*?)?\s*;?\s*$",
    re.I | re.S,
)
# CREATE EXTERNAL TABLE t USING provider OPTIONS (...) — any Spark
# datasource (createExternalTable SnappySession.scala:1076-1127; DDL
# accepts EXTERNAL for non-managed providers).  Routed to
# session.create_external_table: path-providers read OPTIONS path;
# jdbc reads url/dbtable.
_CREATE_EXTERNAL = re.compile(
    r"^\s*CREATE\s+EXTERNAL\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*"
    r"USING\s+(\w+)\s*OPTIONS\s*\((.*?)\)\s*;?\s*$",
    re.I | re.S,
)
# CREATE [OR REPLACE] VIEW v AS SELECT (createView SnappyDDLParser:542)
# — persistent views over managed (temp-view-backed) tables, which Spark
# itself refuses; TEMPORARY/GLOBAL forms do not match and pass through.
_CREATE_VIEW = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(SELECT\s+.*?)\s*;?\s*$",
    re.I | re.S,
)
_ALTER_VIEW = re.compile(
    r"^\s*ALTER\s+VIEW\s+([\w.]+)\s+AS\s+(SELECT\s+.*?)\s*;?\s*$",
    re.I | re.S,
)
_DROP_VIEW = re.compile(
    r"^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$", re.I
)
_CREATE_SAMPLE = re.compile(
    r"^\s*CREATE\s+SAMPLE\s+TABLE\s+([\w.]+)\s+ON\s+([\w.]+)\s*"
    r"OPTIONS\s*\((.*?)\)\s*$",
    re.I | re.S,
)
# CALL SYS.<proc>('arg', ...) — built-in system procedures
# (reference/inbuilt_system_procedures: EXPORT_DATA export_data.md,
# EXPORT_DDLS export_ddl.md)
_CALL_PROC = re.compile(
    r"^\s*CALL\s+(?:SYS|SYSCS_UTIL)\.(\w+)\s*\((.*)\)\s*;?\s*$",
    re.I | re.S,
)

# CREATE DISKSTORE name [MAXLOGSIZE n] [AUTOCOMPACT b]
# [ALLOWFORCECOMPACTION b] [COMPACTIONTHRESHOLD n] [TIMEINTERVAL n]
# [WRITEBUFFERSIZE n] [QUEUESIZE n] [('dir' [mb] [, 'dir' [mb]]*)]
# (reference/sql_reference/create-diskstore.md:6-20); DROP DISKSTORE
# [IF EXISTS] name (drop-diskstore.md)
_CREATE_DISKSTORE = re.compile(
    r"^\s*CREATE\s+DISKSTORE\s+([\w.-]+)\s*(.*?)\s*;?\s*$", re.I | re.S
)
_DROP_DISKSTORE = re.compile(
    r"^\s*DROP\s+DISKSTORE\s+(IF\s+EXISTS\s+)?([\w.-]+)\s*;?\s*$", re.I
)
_DISKSTORE_OPT = re.compile(
    r"\b(MAXLOGSIZE|AUTOCOMPACT|ALLOWFORCECOMPACTION|COMPACTIONTHRESHOLD"
    r"|TIMEINTERVAL|WRITEBUFFERSIZE|QUEUESIZE)\s+(\w+)",
    re.I,
)
_DISKSTORE_DIRS = re.compile(r"\(([^()]*'[^()]*)\)\s*$", re.S)


def _parse_diskstore_clauses(tail: str) -> dict:
    """Option clauses + the trailing ('dir' [mb], ...) list of a CREATE
    DISKSTORE statement (create-diskstore.md:6-20).  Unknown tokens
    outside the known clauses are rejected so typos don't silently
    become defaults."""
    opts: dict = {}
    dirs_m = _DISKSTORE_DIRS.search(tail)
    if dirs_m:
        opts["dirs"] = [
            (d, int(mb) if mb else None)
            for d, mb in re.findall(
                r"'([^']*)'(?:\s+(\d+))?", dirs_m.group(1)
            )
        ]
        tail = tail[: dirs_m.start()]
    for k, v in _DISKSTORE_OPT.findall(tail):
        opts[k.lower()] = v
    leftover = _DISKSTORE_OPT.sub(" ", tail).strip()
    if leftover:
        raise ValueError(
            f"unrecognized CREATE DISKSTORE clause: '{leftover}' "
            "(create-diskstore.md options: MAXLOGSIZE AUTOCOMPACT "
            "ALLOWFORCECOMPACTION COMPACTIONTHRESHOLD TIMEINTERVAL "
            "WRITEBUFFERSIZE QUEUESIZE, then the ('dir' [mb], ...) list)"
        )
    return opts


# CREATE SYNONYM s FOR t — alternate name for a table or view
# (reference/sql_reference/create-synonym.md; Derby/GemFireXD surface)
_CREATE_SYNONYM = re.compile(
    r"^\s*CREATE\s+SYNONYM\s+([\w.]+)\s+FOR\s+([\w.]+)\s*;?\s*$", re.I
)
_DROP_SYNONYM = re.compile(
    r"^\s*DROP\s+SYNONYM\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$", re.I
)
# CREATE TOPK TABLE t ON base OPTIONS(key 'c', frequencyCol 'f',
# timeSeriesColumn 'ts', timeInterval '1h', size '40')
# (docs/aqp/sketching.md:14-18,57-62)
_CREATE_TOPK = re.compile(
    r"^\s*CREATE\s+TOPK\s+TABLE\s+([\w.]+)\s+ON\s+([\w.]+)\s*"
    r"OPTIONS\s*\((.*?)\)\s*$",
    re.I | re.S,
)
_CREATE_INDEX = re.compile(
    r"^\s*CREATE\s+(?:GLOBAL\s+HASH\s+|UNIQUE\s+)?INDEX\s+(\w+)\s+ON\s+([\w.]+)"
    r"\s*\((.*?)\)(?:\s+USING\s+(\w+))?\s*;?\s*$",
    re.I | re.S,
)
_DROP_INDEX = re.compile(r"^\s*DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", re.I)
_DROP_TABLE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$", re.I
)
# ALTER TABLE t ADD [COLUMN] c TYPE | DROP [COLUMN] c
# (SnappyDDLParser.alterTable:697; API SnappySession.alterTable:1634)
_ALTER_ADD = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+(?:COLUMN\s+)?(\w+)\s+([\w()\s,]+?)\s*;?\s*$",
    re.I,
)
_ALTER_DROP = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:COLUMN\s+)?(\w+)\s*;?\s*$", re.I
)
# CREATE TABLE t LIKE s (SnappyDDLParser.createTableLike:349)
_CREATE_LIKE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+LIKE\s+([\w.]+)\s*;?\s*$",
    re.I,
)

# CREATE STREAM TABLE t [(schema)] USING provider OPTIONS (...)
# (SnappyDDLParser.createStream:716-737 — declares a stream relation in
# SQL; routed to streaming/sources.stream_reader and registered as a
# streaming temp view queryable by name)
_CREATE_STREAM = re.compile(
    r"^\s*CREATE\s+STREAM\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
    r"(\(.*?\))?\s*USING\s+(\w+)\s*OPTIONS\s*\((.*?)\)\s*;?\s*$",
    re.I | re.S,
)
_DROP_STREAM = re.compile(
    r"^\s*DROP\s+STREAM\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", re.I
)

# SNAPPY_STREAMING_CONTEXT DDL (streamContext SnappyDDLParser:875-888):
# STREAMING INIT <n><unit> | STREAMING START | STREAMING STOP
_STREAMING_CTL = re.compile(
    r"^\s*STREAMING\s+(?:(INIT)\s+(\d+)\s*([a-zA-Z]+)|(START)|(STOP))\s*;?\s*$",
    re.I,
)

# CQ sliding-window grammar attached to a stream relation
# (streamWindowOptions SnappyParser.scala:552-557; WindowLogicalPlan →
# DStream.window(d, s)): `FROM s WINDOW (DURATION n SECONDS [, SLIDE n
# SECONDS])` — rewritten onto an event-time window() column, the
# structured-streaming upgrade of the reference's processing-time window.
_STREAM_WINDOW = re.compile(
    r"\b(FROM|JOIN)\s+(\w+)\s+WINDOW\s*\(\s*DURATION\s+(\d+)\s*([a-zA-Z]+)"
    r"(?:\s*,\s*SLIDE\s+(\d+)\s*([a-zA-Z]+))?\s*\)",
    re.I,
)

_UNIT_NORMALIZE = {
    "ms": "milliseconds", "millisecond": "milliseconds",
    "milliseconds": "milliseconds",
    "sec": "seconds", "secs": "seconds", "second": "seconds",
    "seconds": "seconds",
    "min": "minutes", "mins": "minutes", "minute": "minutes",
    "minutes": "minutes",
    "hour": "hours", "hours": "hours",
}


def _norm_unit(u: str) -> str:
    key = u.lower()
    if key not in _UNIT_NORMALIZE:
        raise ValueError(f"unsupported duration unit: {u}")
    return _UNIT_NORMALIZE[key]


def rewrite_stream_windows(text: str, ts_col_of) -> str:
    """Rewrite the reference's CQ window grammar onto window() subqueries.

    `ts_col_of(name)` returns the event-time column for a registered
    stream relation, or None for ordinary tables (left untouched).  The
    windowed relation keeps its name and gains a `window` struct column
    (window.start / window.end), so `SELECT window, count(*) FROM s
    WINDOW (DURATION 10 SECONDS) GROUP BY window` works as the reference's
    `registerCQ` sliding-window queries do.
    """

    def _sub(m: re.Match) -> str:
        kw, name, dur_n, dur_u, sl_n, sl_u = m.groups()
        ts = ts_col_of(name)
        if ts is None:
            return m.group(0)
        dur = f"{dur_n} {_norm_unit(dur_u)}"
        slide = f"{sl_n} {_norm_unit(sl_u)}" if sl_n else dur
        return (
            f"{kw} (SELECT *, window({ts}, '{dur}', '{slide}') AS window "
            f"FROM {name}) {name}"
        )

    return _STREAM_WINDOW.sub(_sub, text)

# ALTER TABLE t ENABLE|DISABLE ROW LEVEL SECURITY
# (alterTableToggleRowLevelSecurity SnappyDDLParser:631-637; policies are
# inert until RLS is enabled on the table, docs/security/
# row_level_security.md "Enabling Row Level Security")
_ALTER_RLS = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+(ENABLE|DISABLE)\s+ROW\s+LEVEL\s+SECURITY"
    r"\s*;?\s*$",
    re.I,
)

# SHOW MEMBERS (SnappyParser.show:1264-1270 → SELECT ID, HOST, KIND,
# STATUS, ... FROM SYS.MEMBERS)
_SET_SCHEMA = re.compile(
    r"^\s*(?:SET\s+(?:CURRENT\s+)?SCHEMA\s*=?\s*|USE\s+)([A-Za-z_]\w*)\s*;?\s*$",
    re.I,
)
_SHOW_MEMBERS = re.compile(r"^\s*SHOW\s+MEMBERS\s*;?\s*$", re.I)

# SHOW CREATE TABLE (SnappyParser.show:1292) — managed tables rebuild
# their DDL from catalog metadata; others pass through to Spark
_SHOW_CREATE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*;?\s*$", re.I
)

# CREATE POLICY p ON t FOR SELECT [TO user] USING (<filter>)
# (SnappyDDLParser.createPolicy:392-418; RowLevelSecurity rule
# SnappySessionState.scala:422 injects the filter into read plans)
_CREATE_POLICY = re.compile(
    r"^\s*CREATE\s+POLICY\s+(\w+)\s+ON\s+(\w+)\s+FOR\s+SELECT"
    r"(?:\s+TO\s+(\w+))?\s+USING\s*\((.*)\)\s*;?\s*$",
    re.I | re.S,
)
_DROP_POLICY = re.compile(r"^\s*DROP\s+POLICY\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", re.I)

# SET snappydata.* = v (SnappyDDLParser set:932; config keys
# Literals.scala:122-310) — intercepted so engine knobs reach the session
_SET_CONF = re.compile(
    r"^\s*SET\s+((?:(?:snappydata|spark|gemfirexd)\.[\w.-]+)"
    r"|skip-constraint-checks|allow-explicit-commit"
    r"|query-timeout|query-cancellation-interval)\s*=\s*(.+?)\s*;?\s*$",
    re.I,
)

# GRANT/REVOKE <priv> ON [TABLE] t TO/FROM user (grantRevoke passThrough
# SnappyDDLParser.scala:818-857 — the reference forwards these to the
# store; we keep an engine-side grant registry enforced at SELECT)
# GRANT EXECUTE ON FUNCTION|PROCEDURE f TO u (grant.md routine syntax)
_GRANT_EXECUTE = re.compile(
    r"^\s*(GRANT|REVOKE)\s+EXECUTE\s+ON\s+(?:FUNCTION|PROCEDURE)\s+"
    r"([\w.]+)\s+(?:TO|FROM)\s+([\w,\s]+?)\s*(?:RESTRICT\s*)?;?\s*$",
    re.I,
)
# GRANT <priv-list | ALL [PRIVILEGES]> ON [TABLE] t TO u1,u2 / REVOKE ...
# FROM ... (reference/sql_reference/grant.md: privilege-list of
# SELECT/INSERT/UPDATE/DELETE/TRIGGER/REFERENCES; grant-all.md)
_GRANT_REVOKE = re.compile(
    r"^\s*(GRANT|REVOKE)\s+(ALL(?:\s+PRIVILEGES)?|[\w,\s]+?)\s+ON\s+"
    r"(?:TABLE\s+)?([\w.]+)\s+(?:TO|FROM)\s+([\w,\s]+?)\s*;?\s*$",
    re.I,
)
# DEPLOY PACKAGE name 'coords' / DEPLOY JAR name 'paths' / UNDEPLOY name /
# LIST PACKAGES (deployPackages SnappyDDLParser.scala:858-874).  Python
# engine divergence: no dynamic JVM jar loading — the registry records the
# dependency surface; Python UDF code arrives via create_function instead.
_DEPLOY = re.compile(
    r"^\s*DEPLOY\s+(PACKAGE|JAR)\s+(\w+)\s+'([^']+)'"
    r"(?:\s+REPOS\s+'([^']+)')?(?:\s+PATH\s+'([^']+)')?\s*;?\s*$",
    re.I,
)
_UNDEPLOY = re.compile(r"^\s*UNDEPLOY\s+(\w+)\s*;?\s*$", re.I)
_LIST_PACKAGES = re.compile(r"^\s*LIST\s+(?:PACKAGES|JARS)\s*;?\s*$", re.I)

# SELECT ... WITH ERROR [<fraction>] (SDE approximate queries,
# docs/sde/running_queries.md:4-31): route the aggregate to a sample
# table of the FROM table and return error-bounded estimates
_WITH_ERROR = re.compile(
    r"^(.*?)\s+WITH\s+ERROR(?:\s+([\d.]+))?"
    r"(?:\s+CONFIDENCE\s+([\d.]+))?"
    r"(?:\s+BEHAVIOR\s+'(\w+)')?\s*;?\s*$",
    re.I | re.S,
)
_APPROX_AGG = re.compile(
    r"^\s*SELECT\s+(.+?)\s+FROM\s+(.+?)"
    r"(?:\s+WHERE\s+(.+?))?(?:\s+GROUP\s+BY\s+(.+?))?"
    r"(?:\s+ORDER\s+BY\s+(.+?))?(?:\s+LIMIT\s+(\d+))?\s*$",
    re.I | re.S,
)
_AGG_ITEM = re.compile(r"^(SUM|AVG|COUNT)\s*\(\s*(\*|\w+)\s*\)(?:\s+AS\s+(\w+))?$", re.I)
# SDE error functions in the projection (docs/sde/hac_contracts.md:44-56;
# more_examples.md:13-18): absolute_error(alias) etc. select which error
# columns the query returns
_ERRFN_ITEM = re.compile(
    r"^(ABSOLUTE_ERROR|RELATIVE_ERROR|LOWER_BOUND|UPPER_BOUND)"
    r"\s*\(\s*(\w+)\s*\)(?:\s+AS\s+(\w+))?$",
    re.I,
)
_JOIN_ITEM = re.compile(r"^(\w+)\s+ON\s+(.+)$", re.I | re.S)


def split_top_level(s: str) -> list[str]:
    """Split a SQL list on commas OUTSIDE parentheses — `qcs
    'hack_license, year(pickup)'` and `GROUP BY a, hour(ts)` must not
    split inside a function call (working_with_stratified_samples.md:
    QCS 'can be constructed using SQL expressions')."""
    out: list[str] = []
    depth, cur = 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _parse_approx_from(from_clause: str) -> tuple[str, list[tuple[str, str]]]:
    """`fact [JOIN dim ON cond]*` — the SDE join surface: the FROM table
    routes to its sample; joins are to NON-sample tables only
    (docs/sde/index.md:43 'Joins are only supported to non-samples').
    Join conditions must use unambiguous column names (the TPC-H/star
    convention); table aliases are not part of the SDE grammar here."""
    parts = re.split(r"\s+(?:INNER\s+)?JOIN\s+", from_clause.strip(), flags=re.I)
    table = parts[0].strip()
    if not re.match(r"^\w+$", table):
        raise ValueError(
            "WITH ERROR FROM clause must be `table [JOIN dim ON cond]...` "
            f"(got {from_clause!r})"
        )
    joins: list[tuple[str, str]] = []
    for p in parts[1:]:
        m = _JOIN_ITEM.match(p.strip())
        if not m:
            raise ValueError(
                f"WITH ERROR join must be `JOIN dim ON <condition>` (got {p!r})"
            )
        joins.append((m.group(1).lower(), m.group(2).strip()))
    return table.lower(), joins


def parse_with_error(text: str):
    """Return (agg_list, group_items, table, where, group_by,
    error_fraction, confidence, behavior, joins, errfns, order_by,
    limit) for a `... WITH ERROR [f] [CONFIDENCE c] [BEHAVIOR 'b']`
    query (full SDE grammar, docs/sde/running_queries.md:10-15), else
    None.  The select list may contain any number of SUM/AVG/COUNT
    aggregates plus SDE error functions absolute_error(alias) /
    relative_error / lower_bound / upper_bound
    (docs/sde/hac_contracts.md:44-56); remaining items are group cols.
    The FROM clause may join the sampled table to NON-sample dimensions
    (docs/sde/index.md:43); `joins` is the [(dim_table, on_condition),
    ...] chain.  ORDER BY / LIMIT apply to the estimate frame
    (more_examples.md:13-18)."""
    m = _WITH_ERROR.match(text)
    if not m:
        return None
    body, frac, conf, behavior = m.groups()
    q = _APPROX_AGG.match(body)
    if not q:
        raise ValueError(
            "WITH ERROR supports SELECT <agg>(col), ...[, group cols] FROM t "
            "[JOIN dim ON cond]... [WHERE ...] [GROUP BY ...]"
        )
    table, joins = _parse_approx_from(q.group(2))
    # top-level split: a select item may be an expression with its own
    # commas, e.g. substr(name, 1, 3)
    items = split_top_level(q.group(1))
    aggs: list[tuple] = []
    group_items: list[str] = []
    errfns: list[tuple] = []
    for it in items:
        am = _AGG_ITEM.match(it)
        em = _ERRFN_ITEM.match(it)
        if am:
            aggs.append((am.group(1).lower(), am.group(2).lower(), am.group(3)))
        elif em:
            errfns.append(
                (em.group(1).lower(), em.group(2).lower(), em.group(3))
            )
        else:
            group_items.append(it)
    if not aggs:
        raise ValueError("WITH ERROR requires a SUM/AVG/COUNT aggregate")
    behavior = (behavior or "").lower() or None
    valid = {
        None, "do_nothing", "local_omit", "strict",
        "run_on_full_table", "partial_run_on_base_table",
    }
    if behavior not in valid:
        raise ValueError(f"BEHAVIOR {behavior!r} not in {sorted(valid - {None})}")
    return (
        aggs,
        group_items,
        table,
        q.group(3),
        q.group(4),
        float(frac) if frac else None,
        float(conf) if conf else 0.95,
        behavior,
        joins,
        errfns,
        q.group(5),
        int(q.group(6)) if q.group(6) else None,
    )


# Reference row-table DDL column constraints (GemFireXD/Derby surface:
# "(OrderId INT NOT NULL PRIMARY KEY, ...)").  Spark's DDL parser accepts
# neither PRIMARY KEY nor NOT NULL in a plain schema string, so managed
# CREATE TABLE strips them and maps PRIMARY KEY columns to key_columns.
_PK_CONSTRAINT = re.compile(r"\bPRIMARY\s+KEY\b", re.I)
_NOT_NULL_CONSTRAINT = re.compile(r"\bNOT\s+NULL\b", re.I)


_CHECK_HEAD = re.compile(r"\bCHECK\s*\(", re.I)
_CONSTRAINT_ITEM = re.compile(r"^\s*CONSTRAINT\s+\w+\s*", re.I)


def _extract_check(item: str) -> tuple[str, str | None]:
    """Strip a `CHECK (<expr>)` clause from a DDL item; return
    (item-without-check, expr or None).  Parens inside the expression are
    balanced by hand (regex can't)."""
    m = _CHECK_HEAD.search(item)
    if not m:
        return item, None
    depth, i = 1, m.end()
    while i < len(item) and depth:
        if item[i] == "(":
            depth += 1
        elif item[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise ValueError(f"unbalanced CHECK constraint in: {item!r}")
    expr = item[m.end(): i - 1].strip()
    return (item[: m.start()] + item[i:]).strip(), expr


_UNIQUE_TABLE = re.compile(r"^\s*UNIQUE\s*\(([^)]*)\)\s*$", re.I)
_UNIQUE_COL = re.compile(r"\bUNIQUE\b", re.I)
_FK_TABLE = re.compile(
    r"^\s*FOREIGN\s+KEY\s*\(([^)]*)\)\s*REFERENCES\s+([\w.]+)"
    r"\s*(?:\(([^)]*)\))?\s*$",
    re.I,
)
_REFS_COL = re.compile(r"\bREFERENCES\s+([\w.]+)\s*(?:\(([^)]*)\))?", re.I)
# GENERATED ALWAYS|BY DEFAULT AS IDENTITY [(START WITH n [, INCREMENT BY m]
# | INCREMENT BY m [, START WITH n])] — create-table.md Identity Columns
# (row tables, INTEGER/BIGINT only)
_IDENTITY = re.compile(
    r"\bGENERATED\s+(ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY"
    r"(?:\s*\(([^)]*)\))?",
    re.I,
)
_START_WITH = re.compile(r"\bSTART\s+WITH\s+(-?\d+)", re.I)
_INCREMENT_BY = re.compile(r"\bINCREMENT\s+BY\s+(-?\d+)", re.I)


def _collist(s: str) -> list[str]:
    return [c.strip().lower() for c in s.split(",") if c.strip()]


def parse_ddl_schema(
    schema: str,
) -> tuple[str, list[str], list[str], list[list[str]], list[dict], list[dict]]:
    """``(col TYPE [NOT NULL] [PRIMARY KEY] [UNIQUE] [REFERENCES t [(c)]]
    [CHECK (expr)], ..., [CONSTRAINT name] PRIMARY KEY (..) | UNIQUE (..)
    | FOREIGN KEY (..) REFERENCES t [(..)] | CHECK (expr))`` →
    (Spark DDL string, primary-key column list, CHECK expressions,
    UNIQUE column lists, FOREIGN KEY dicts) — the GemFireXD row-DDL
    constraint surface (create-table.md:341-366: UNIQUE disallows NULLs;
    a multi-column FK with any NULL component is wholly NULL and passes).
    Each FK dict is {"columns": [...], "ref_table": str,
    "ref_columns": [...]} with ref_columns empty when the DDL omitted
    them (resolved to the referenced table's key columns at CREATE
    time).  Constraint NAMES are accepted and dropped (the reference
    auto-generates names; this engine addresses constraints by shape).
    The sixth element lists identity columns (create-table.md Identity
    Columns): {"column", "always", "start", "increment"} per
    GENERATED ALWAYS|BY DEFAULT AS IDENTITY clause.  Tolerates the
    unparenthesized form."""
    s = schema.strip()
    if s.startswith("(") and s.endswith(")"):
        s = s[1:-1]
    # the DDL route strips ALL trailing parens ('(...)'.strip('() ')), so a
    # schema ending in CHECK (...) can arrive missing closers — re-balance
    imbalance = s.count("(") - s.count(")")
    if imbalance > 0:
        s += ")" * imbalance
    cols, keys = [], []
    depth = 0
    item = ""
    items = []
    for ch in s:  # split on commas OUTSIDE parens (DECIMAL(10,2))
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            items.append(item)
            item = ""
        else:
            item += ch
    if item.strip():
        items.append(item)
    checks: list[str] = []
    uniques: list[list[str]] = []
    fks: list[dict] = []
    identities: list[dict] = []
    for item in items:
        item = item.strip()
        if not item:
            continue
        item, check = _extract_check(item)
        if check:
            checks.append(check)
        item = _CONSTRAINT_ITEM.sub("", item).strip()
        if not item:
            continue  # pure [CONSTRAINT name] CHECK(...) table constraint
        pk_table = re.match(r"^\s*PRIMARY\s+KEY\s*\(([^)]*)\)\s*$", item, re.I)
        if pk_table:
            # table-level composite constraint: PRIMARY KEY (a, b) — key
            # columns only, nothing to emit as a column definition
            keys.extend(c.strip().lower() for c in pk_table.group(1).split(","))
            continue
        uq_table = _UNIQUE_TABLE.match(item)
        if uq_table:
            uniques.append(_collist(uq_table.group(1)))
            continue
        fk_table = _FK_TABLE.match(item)
        if fk_table:
            fks.append(
                {
                    "columns": _collist(fk_table.group(1)),
                    "ref_table": fk_table.group(2).lower(),
                    "ref_columns": _collist(fk_table.group(3) or ""),
                }
            )
            continue
        colname = item.split()[0].lower()
        idm = _IDENTITY.search(item)
        if idm:
            spec = idm.group(2) or ""
            sm, im = _START_WITH.search(spec), _INCREMENT_BY.search(spec)
            identities.append(
                {
                    "column": colname,
                    "always": idm.group(1).upper() == "ALWAYS",
                    "start": int(sm.group(1)) if sm else 1,
                    "increment": int(im.group(1)) if im else 1,
                }
            )
            item = _IDENTITY.sub("", item)
        refs_col = _REFS_COL.search(item)
        if refs_col:
            fks.append(
                {
                    "columns": [colname],
                    "ref_table": refs_col.group(1).lower(),
                    "ref_columns": _collist(refs_col.group(2) or ""),
                }
            )
            item = _REFS_COL.sub("", item)
        if _PK_CONSTRAINT.search(item):
            keys.append(colname)
            item = _PK_CONSTRAINT.sub("", item)
        if _UNIQUE_COL.search(item):
            uniques.append([colname])
            item = _UNIQUE_COL.sub("", item)
        item = _NOT_NULL_CONSTRAINT.sub("", item)
        cols.append(" ".join(item.split()))
    return ", ".join(cols), keys, checks, uniques, fks, identities


# Function-surface rewrites (io/snappydata/functions.scala:39-54): DSID()
# → the partition id of the row (the Spark-native analogue of the server
# id), CURRENT_SCHEMA → current_database().  Applied to passthrough SQL.
_DSID = re.compile(r"\bDSID\s*\(\s*\)", re.I)
_CURRENT_SCHEMA = re.compile(r"\bCURRENT_SCHEMA\b(?:\s*\(\s*\))?", re.I)
# CURRENT_USER_LDAP_GROUPS (io/snappydata/functions.scala:39-54): no LDAP
# directory in this engine — empty list, the reference's value when the
# user has no LDAP groups (documented divergence, SURVEY §8)
_LDAP_GROUPS = re.compile(
    r"\bCURRENT_USER_LDAP_GROUPS\b(?:\s*\(\s*\))?", re.I
)
# FETCH FIRST n ROWS ONLY (SnappyParser.scala:776-785 fetchExpression —
# SQL-standard alternative to LIMIT; Spark SQL has no FETCH clause)
_FETCH_FIRST = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY\b", re.I
)


# Reference comment hints (QueryHint Literals.scala:405-511): `--+ hint()`
# or `/*+ hint() */` placed AFTER the table they apply to in FROM.
# joinType(broadcast|hash|sort) (applyJoinHint SnappyStrategies.scala:
# 86-126) maps onto Spark's BROADCAST / SHUFFLE_HASH / MERGE hints against
# that table.  joinOrder(fixed) is the Spark default (syntactic join order
# is preserved; spark.sql.cbo.joinReorder.enabled stays off) and the
# remaining hints (index/withIndex — metadata indexes; complexTypeAsJson /
# columnsAsClob — JDBC wire formatting) are stripped as documented no-ops.
_COMMENT_HINT = re.compile(
    r"(?:--\+\s*|/\*\+\s*)(\w+)\s*\(([^)]*)\)\s*(?:\*/)?", re.I
)
_JOIN_TYPE_MAP = {
    "broadcast": "BROADCAST",
    "hash": "SHUFFLE_HASH",
    "sort": "MERGE",
}
# identifier (optionally "table alias") immediately before the hint
_PRECEDING_TABLE = re.compile(r"(\w+)(?:\s+(?:AS\s+)?(\w+))?\s*$", re.I)


def _quote_mask(text: str) -> list[bool]:
    """True at positions inside '...' / "..." literals or SQL comments
    (-- line, /* block */) — regions a rewrite must never touch.
    Handles both escape conventions Spark accepts: doubled quotes
    ('it''s') and backslash escapes ('it\\'s')."""
    mask = [False] * len(text)
    in_s = in_d = False
    i = 0
    while i < len(text):
        c = text[i]
        if in_s or in_d:
            mask[i] = True
            if c == "\\" and i + 1 < len(text):
                mask[i + 1] = True
                i += 1
            elif in_s and c == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    mask[i + 1] = True
                    i += 1
                else:
                    in_s = False
            elif in_d and c == '"':
                in_d = False
        elif c == "-" and text[i : i + 2] == "--":
            j = text.find("\n", i)
            j = j if j != -1 else len(text)
            for k in range(i, j):
                mask[k] = True
            i = j - 1
        elif c == "/" and text[i : i + 2] == "/*":
            j = text.find("*/", i + 2)
            j = (j + 2) if j != -1 else len(text)
            for k in range(i, j):
                mask[k] = True
            i = j - 1
        elif c == "'":
            mask[i] = True
            in_s = True
        elif c == '"':
            mask[i] = True
            in_d = True
        i += 1
    return mask


def sub_outside_quotes(pattern: str, repl, text: str, flags=0) -> str:
    """re.sub that leaves matches starting inside string literals alone."""
    mask = _quote_mask(text)
    return re.sub(
        pattern,
        lambda m: m.group(0) if mask[m.start()] else repl(m),
        text,
        flags=flags,
    )


def rewrite_qualified_names(text: str, resolve) -> str:
    """Replace schema-qualified relation references (`sch.tbl`) with the
    canonical managed-table name `resolve(sch, tbl)` returns (None = not
    a managed table, leave untouched — e.g. alias.column references).
    Quote-aware (incl. backslash escapes): occurrences inside string
    literals are kept.  For a.b.c chains, (a, b) resolving to a managed
    table rewrites the relation part and keeps the column."""
    mask = _quote_mask(text)
    out: list[str] = []
    i, n = 0, len(text)
    pat = re.compile(r"[A-Za-z_]\w*\.[A-Za-z_]\w*")
    while i < n:
        c = text[i]
        if (
            not mask[i]
            and (c.isalpha() or c == "_")
            and (i == 0 or not (text[i - 1].isalnum() or text[i - 1] in "_."))
        ):
            m = pat.match(text, i)
            if m:
                sch, tbl = m.group(0).split(".", 1)
                repl = resolve(sch, tbl)
                if i + len(m.group(0)) < n and text[i + len(m.group(0))] == ".":
                    out.append(
                        (repl + ".") if repl is not None else m.group(0) + "."
                    )
                    i += len(m.group(0)) + 1
                    continue
                out.append(repl if repl is not None else m.group(0))
                i += len(m.group(0))
                continue
        out.append(c)
        i += 1
    return "".join(out)


def rewrite_hints(text: str) -> str:
    """Translate reference comment hints into Spark /*+ */ hints injected
    after the first SELECT (where Spark requires them)."""
    if "--+" not in text and "/*+" not in text:
        return text
    spark_hints: list[str] = []

    def _hint_target(upto: int) -> str | None:
        m = _PRECEDING_TABLE.search(text[:upto])
        if not m:
            return None
        # hint binds to the alias when present (Spark hints resolve
        # against the relation alias), else the table name
        return m.group(2) or m.group(1)

    _REFERENCE_HINTS = {
        "jointype", "joinorder", "index", "withindex",
        "complextypeasjson", "columnsasclob",
    }

    def _sub(m: re.Match) -> str:
        name, arg = m.group(1).lower(), m.group(2).strip().lower()
        if name not in _REFERENCE_HINTS:
            return m.group(0)  # native Spark hint — leave untouched
        if name == "jointype" and arg in _JOIN_TYPE_MAP:
            target = _hint_target(m.start())
            if target:
                spark_hints.append(f"{_JOIN_TYPE_MAP[arg]}({target})")
        return " "

    stripped = _COMMENT_HINT.sub(_sub, text)
    if spark_hints:
        stripped = re.sub(
            r"(\bSELECT\b)",
            r"\1 /*+ " + ", ".join(spark_hints) + " */",
            stripped,
            count=1,
            flags=re.I,
        )
    return stripped


# --+ noIndex — per-query opt-out of automatic index routing
# (resolve_index.py; the reference's index hints are the inverse —
# --+ index()/withIndex() force one, Literals.scala:405-511).  Stripped
# here so an unrouted query reaching spark.sql stays parseable.
_NOINDEX = re.compile(r"--\+\s*noindex(?:\s*\(\s*\))?", re.I)


def _expand_calls(text: str, fname: str, render) -> str:
    """Expand every balanced `fname(args...)` call via render(args).
    Balanced-paren scan (arguments may nest calls like array(...)); the
    rendered output must not itself contain fname.  String literals are
    not special-cased — don't name string payloads after macros."""
    pat = re.compile(rf"\b{fname}\s*\(", re.I)
    while True:
        m = pat.search(text)
        if not m:
            return text
        i, depth = m.end(), 1
        while i < len(text) and depth:
            if text[i] == "(":
                depth += 1
            elif text[i] == ")":
                depth -= 1
            i += 1
        if depth:
            return text  # unbalanced — leave untouched
        args = _split_top_commas(text[m.end() : i - 1])
        text = text[: m.start()] + render(args) + text[i:]


def _cosine_sim_sql(args: list[str]) -> str:
    """cosine_sim(a, b) → the zip_with/aggregate HOF cosine — the exact
    SAME expression tree as functions.vector.cosine (dot/(norm·norm) in
    double), so the full-scan fallback and the DataFrame API agree
    bit-for-bit.  This is the exact slow path; resolve_index routes the
    top-k shape to a materialized ivf_sq8 index before this expansion
    runs."""
    if len(args) != 2:
        raise ValueError("cosine_sim(a, b) takes exactly two array arguments")
    a, b = (x.strip() for x in args)
    da = f"transform({a}, x -> CAST(x AS DOUBLE))"
    db = f"transform({b}, x -> CAST(x AS DOUBLE))"
    return (
        f"(aggregate(zip_with({da}, {db}, (x, y) -> x * y), 0D, "
        "(acc, x) -> acc + x) / "
        f"(sqrt(aggregate({da}, 0D, (acc, x) -> acc + x * x)) * "
        f"sqrt(aggregate({db}, 0D, (acc, x) -> acc + x * x))))"
    )


def expand_scalar_macros(text: str) -> str:
    """Engine scalar macros with no Spark builtin.  cosine_sim expands to
    pure Catalyst HOFs; bm25_score has no scalar expansion (corpus-stat
    dependent) and is only served through resolve_index's top-k shape."""
    if re.search(r"\bcosine_sim\s*\(", text, re.I):
        text = _expand_calls(text, "cosine_sim", _cosine_sim_sql)
    return text


def rewrite_builtins(text: str, current_schema: str | None = None) -> str:
    # per-rewriter substring gates (preparse cost discipline): each sub
    # fires only when its trigger keyword appears at all — one lowercase
    # scan replaces five regex scans on the hot plain-SELECT path
    low = text.lower()
    if "--+" in text:
        text = _NOINDEX.sub(" ", text)
    if "cosine_sim" in low:
        text = expand_scalar_macros(text)
    if "dsid" in low:
        text = _DSID.sub("spark_partition_id()", text)
    if "current_schema" in low:
        # CURRENT_SCHEMA returns the SESSION's schema (setCurrentSchema
        # state) when the caller tracks one; current_database() otherwise
        text = _CURRENT_SCHEMA.sub(
            f"'{current_schema}'" if current_schema else "current_database()",
            text,
        )
    if "ldap" in low:
        text = _LDAP_GROUPS.sub("array()", text)
    if "fetch" in low:
        text = _FETCH_FIRST.sub(r"LIMIT \1", text)
    text = rewrite_hints(text)
    return text


def _parse_options(text: str | None) -> dict:
    """OPTIONS (k 'v', k2 'v2') or (k='v') — the reference accepts both."""
    out: dict[str, str] = {}
    if not text:
        return out
    for m in re.finditer(r"(\w+)\s*(?:=|\s)\s*'([^']*)'", text):
        out[m.group(1).lower()] = m.group(2)
    return out


def _split_top_commas(text: str) -> list[str]:
    depth = 0
    cur: list[str] = []
    parts: list[str] = []
    for ch in text:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def _split_assignments(text: str) -> dict[str, str]:
    """Split `a = expr1, b = expr2` at top-level commas."""
    out: dict[str, str] = {}
    for p in _split_top_commas(text):
        col, _, expr = p.partition("=")
        out[col.strip().lower()] = expr.strip()
    return out


# MERGE INTO t [AS a] USING (src|(subquery)) [AS b] ON cond WHEN ...
# (beyond the reference's surface: it composes PUT INTO + deleteFrom,
# ColumnTableBulkOps.scala:46-120; MERGE is the one-statement ANSI form)
_MERGE = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+"
    r"USING\s+(\(.*?\)|[\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+"
    r"ON\s+(.*?)\s+(WHEN\s+.*?)\s*;?\s*$",
    re.I | re.S,
)
_MERGE_WHEN = re.compile(
    r"WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\s+(.*?))?\s+THEN\s+"
    r"(UPDATE\s+SET\s+.*?|DELETE|INSERT\s+.*?)(?=\s+WHEN\s+(?:NOT\s+)?MATCHED|\s*;?\s*$)",
    re.I | re.S,
)
_MERGE_INSERT = re.compile(
    r"^INSERT\s*(?:\*|\(([^)]*)\)\s*VALUES\s*\((.*)\))\s*$", re.I | re.S
)


def _parse_merge(m: re.Match) -> "Statement":
    table, t_alias, using, s_alias, on, whens = m.groups()
    matched: list[tuple] = []
    insert = None
    for w in _MERGE_WHEN.finditer(whens):
        negated, cond, action = w.groups()
        cond = cond.strip() if cond else None
        a = action.strip()
        if negated:
            mi = _MERGE_INSERT.match(a)
            if not mi:
                raise ValueError(f"unsupported MERGE clause: {a[:60]}")
            if mi.group(1) is None:
                insert = (cond, None)  # INSERT *
            else:
                cols = [c.strip().lower() for c in mi.group(1).split(",")]
                vals = [v.strip() for v in _split_top_commas(mi.group(2))]
                if len(cols) != len(vals):
                    raise ValueError("MERGE INSERT column/value count mismatch")
                insert = (cond, dict(zip(cols, vals)))
        elif a.upper() == "DELETE":
            matched.append(("delete", cond, None))
        else:
            # strip the UPDATE SET prefix by pattern, not fixed length —
            # any extra whitespace/newline between the keywords would
            # otherwise leave keyword residue in the first assignment
            body = re.sub(r"^UPDATE\s+SET\s*", "", a, flags=re.I)
            matched.append(("update", cond, _split_assignments(body)))
    return Statement(
        "merge",
        table=table,
        options={
            "t_alias": (t_alias or table).lower(),
            "using": using,
            "s_alias": (s_alias or "s").lower(),
            "on": on.strip(),
            "matched": matched,
            "insert": insert,
        },
    )


def equi_key_pairs(on: str, t_alias: str, s_alias: str) -> list[tuple[str, str]] | None:
    """If the ON condition is a pure conjunction of alias-qualified column
    equalities, return [(t_col, s_col), ...]; else None.  Drives file-
    pruned MERGE (only equality merges can prune by key)."""
    pairs = []
    for part in re.split(r"\s+AND\s+", on.strip(), flags=re.I):
        m = re.match(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", part)
        if not m:
            return None
        a1, c1, a2, c2 = (g.lower() for g in m.groups())
        if a1 == t_alias and a2 == s_alias:
            pairs.append((c1, c2))
        elif a1 == s_alias and a2 == t_alias:
            pairs.append((c2, c1))
        else:
            return None
    return pairs or None


_QUERY_HEAD = re.compile(r"\s*\(*\s*(SELECT|WITH|VALUES|TABLE|EXPLAIN)\b", re.I)


def _values_defaults_to_null(body: str) -> tuple[str, list[int]]:
    """DEFAULT keywords inside a VALUES body become NULL literals before
    Spark parses the inline table (Spark's VALUES has no DEFAULT): the
    managed write path then treats NULL in an identity column as "assign
    the next sequence value" (create-table.md Identity Columns) — the
    reference's `INSERT INTO greetings VALUES (DEFAULT, 'hello')`.

    Returns (rewritten_body, explicit_null_positions): the 0-based value
    positions where some row carried a LITERAL NULL (as opposed to
    DEFAULT).  The write path uses this to reproduce the reference's
    distinction — an identity column is implicitly NOT NULL, so an
    explicit NULL into it errors (Derby/GemFireXD 23502) while DEFAULT
    assigns the next sequence value.  Applied only when the body head is
    VALUES: a SELECT body must keep its DEFAULT identifiers (e.g. a
    column named `default` would otherwise be mangled)."""
    if not re.match(r"\s*\(*\s*VALUES\b", body, re.I):
        return body, []
    null_pos: set[int] = set()
    if re.search(r"\bNULL\b", body, re.I):
        rows_part = re.sub(r"^\s*\(*\s*VALUES\b", "", body, flags=re.I)
        for row in _split_top_commas(rows_part):
            row = row.strip()
            if row.startswith("(") and row.endswith(")"):
                row = row[1:-1]
            for i, v in enumerate(_split_top_commas(row)):
                if v.strip().upper() == "NULL":
                    null_pos.add(i)
    if "default" not in body.lower():
        return body, sorted(null_pos)
    return (
        sub_outside_quotes(r"\bDEFAULT\b", lambda m: "NULL", body, flags=re.I),
        sorted(null_pos),
    )


def _cols_opt(group: str | None) -> dict:
    """Options entry for an optional `(c1, c2, ...)` column list."""
    if not group:
        return {}
    return {"columns": [c.strip().lower() for c in group.split(",") if c.strip()]}


def split_statement(text: str) -> Statement:
    # preparse gate (plan-cache cold-path cost discipline): a statement
    # whose head keyword is a plain query form can never match any of the
    # ~40 ANCHORED statement patterns below — skip the whole chain.  The
    # gate is conservative by construction: every pattern in this chain
    # is a re.match anchored at a non-query keyword (MERGE/CREATE/PUT/
    # UPDATE/...), so a SELECT/WITH/VALUES/TABLE/EXPLAIN head cannot
    # reach any of them (fuzzed in test_dialect_property.py).
    if _QUERY_HEAD.match(text):
        return Statement("passthrough")
    m = _TX_CONTROL.match(text)
    if m:
        head = m.group(1)[0].upper()
        return Statement(
            "commit" if head == "C" else "rollback" if head == "R" else "begin"
        )
    m = _AUTOCOMMIT.match(text)
    if m:
        return Statement("autocommit", options={"on": m.group(1).upper() == "ON"})
    m = _SET_ISOLATION.match(text)
    if m:
        level = m.group(1).strip().lower().replace(" ", "_")
        return Statement("set_isolation", options={"level": level})
    m = _DESCRIBE_HISTORY.match(text)
    if m:
        return Statement("describe_history", table=m.group(1))
    m = _VACUUM.match(text)
    if m:
        return Statement("vacuum", table=m.group(1))
    m = _COMPACT_TABLE.match(text)
    if m:
        return Statement("compact_table", table=m.group(1))
    m = _MERGE.match(text)
    if m:
        return _parse_merge(m)
    m = _CREATE_EXTERNAL.match(text)
    if m:
        return Statement(
            "create_external",
            table=m.group(1),
            provider=m.group(2).lower(),
            options=_parse_options(m.group(3)),
            if_not_exists=bool(re.search(r"IF\s+NOT\s+EXISTS", text, re.I)),
        )
    m = _CREATE_STREAM.match(text)
    if m:
        name, schema_sql, provider, opts = m.groups()
        return Statement(
            "create_stream",
            table=name,
            schema_sql=schema_sql.strip("() \n") if schema_sql else None,
            provider=provider.lower(),
            options=_parse_options(opts),
            if_not_exists=bool(re.search(r"IF\s+NOT\s+EXISTS", text, re.I)),
        )
    m = _DROP_STREAM.match(text)
    if m:
        return Statement(
            "drop_stream", table=m.group(1),
            if_not_exists=bool(re.search(r"IF\s+EXISTS", text, re.I)),
        )
    m = _STREAMING_CTL.match(text)
    if m:
        init, n, unit, start, _stop = m.groups()
        if init:
            return Statement(
                "streaming_ctl",
                options={"op": "init", "duration": f"{n} {_norm_unit(unit)}"},
            )
        return Statement(
            "streaming_ctl", options={"op": "start" if start else "stop"}
        )
    m = _CREATE_VIEW.match(text)
    if m:
        return Statement("create_view", table=m.group(1), source_sql=m.group(2))
    m = _ALTER_VIEW.match(text)
    if m:
        return Statement("alter_view", table=m.group(1), source_sql=m.group(2))
    m = _DROP_VIEW.match(text)
    if m:
        return Statement(
            "drop_view", table=m.group(1),
            if_not_exists=bool(re.search(r"IF\s+EXISTS", text, re.I)),
        )
    m = _CREATE_SAMPLE.match(text)
    if m:
        return Statement(
            "create_sample", table=m.group(1), source_sql=m.group(2),
            options=_parse_options(m.group(3)),
        )
    m = _CREATE_TOPK.match(text)
    if m:
        return Statement(
            "create_topk", table=m.group(1), source_sql=m.group(2),
            options=_parse_options(m.group(3)),
        )
    m = _CALL_PROC.match(text)
    if m:
        return Statement(
            "call_proc",
            options={
                "proc": m.group(1).lower(),
                # quoted strings AND bare literals (DUMP_STACKS(true),
                # SET_STATISTICS_TIMING(1) pass unquoted booleans/ints)
                "args": [
                    a.strip().strip("'")
                    for a in _split_top_commas(m.group(2))
                    if a.strip()
                ],
            },
        )
    m = _CREATE_DISKSTORE.match(text)
    if m:
        return Statement(
            "create_diskstore",
            options={"name": m.group(1),
                     **_parse_diskstore_clauses(m.group(2))},
        )
    m = _DROP_DISKSTORE.match(text)
    if m:
        return Statement(
            "drop_diskstore",
            options={"name": m.group(2)},
            if_not_exists=bool(m.group(1)),
        )
    m = _CREATE_SYNONYM.match(text)
    if m:
        return Statement(
            "create_synonym", table=m.group(1), source_sql=m.group(2)
        )
    m = _DROP_SYNONYM.match(text)
    if m:
        return Statement(
            "drop_synonym", table=m.group(1),
            if_not_exists=bool(re.search(r"IF\s+EXISTS", text, re.I)),
        )
    m = _CREATE_TABLE.match(text)
    if m:
        name, schema_sql, provider, opts, as_select = m.groups()
        return Statement(
            "create_table",
            table=name,
            schema_sql=schema_sql.strip("() \n") if schema_sql else None,
            provider=provider.lower(),
            options=_parse_options(opts),
            source_sql=re.sub(r"^AS\s+", "", as_select, flags=re.I) if as_select else None,
            if_not_exists=bool(re.search(r"IF\s+NOT\s+EXISTS", text, re.I)),
        )
    m = _CREATE_TABLE_NOUSING.match(text)
    if (
        m
        and (m.group(2) or m.group(4))
        # Spark-native clauses mean this is NOT the no-USING managed form:
        # the lazy schema group would otherwise backtrack across
        # ') PARTITIONED BY (' / ') USING x OPTIONS(...)' and hijack valid
        # Spark DDL with a garbage schema
        and not re.search(
            r"\bUSING\b|\bPARTITIONED\s+BY\b|\bSTORED\s+AS\b"
            r"|\bROW\s+FORMAT\b|\bTBLPROPERTIES\b|\bLOCATION\s+'",
            text,
            re.I,
        )
    ):
        name, schema_sql, opts, as_select = m.groups()
        return Statement(
            "create_table",
            table=name,
            schema_sql=schema_sql.strip("() \n") if schema_sql else None,
            provider="row",
            options=_parse_options(opts),
            source_sql=re.sub(r"^AS\s+", "", as_select, flags=re.I)
            if as_select
            else None,
            if_not_exists=bool(re.search(r"IF\s+NOT\s+EXISTS", text, re.I)),
        )
    m = _CREATE_INDEX.match(text)
    if m:
        return Statement(
            "create_index", table=m.group(2),
            options={
                "index": m.group(1),
                "columns": m.group(3),
                "using": (m.group(4) or "").lower(),
            },
        )
    m = _DROP_INDEX.match(text)
    if m:
        return Statement("drop_index", options={"index": m.group(1)})
    m = _DROP_TABLE.match(text)
    if m:
        return Statement(
            "drop_table", table=m.group(1),
            if_not_exists=bool(re.search(r"IF\s+EXISTS", text, re.I)),
        )
    m = _CREATE_LIKE.match(text)
    if m:
        return Statement(
            "create_table_like", table=m.group(1), source_sql=m.group(2),
            if_not_exists=bool(re.search(r"IF\s+NOT\s+EXISTS", text, re.I)),
        )
    m = _ALTER_RLS.match(text)
    if m:
        return Statement(
            "alter_rls", table=m.group(1),
            options={"enable": m.group(2).upper() == "ENABLE"},
        )
    if _SHOW_MEMBERS.match(text):
        return Statement("show_members")
    m = _SHOW_CREATE.match(text)
    if m:
        return Statement("show_create", table=m.group(1))
    m = _ALTER_ADD.match(text)
    if m:
        return Statement(
            "alter_add", table=m.group(1),
            options={"column": m.group(2), "type": m.group(3).strip()},
        )
    m = _ALTER_DROP.match(text)
    if m:
        return Statement(
            "alter_drop", table=m.group(1), options={"column": m.group(2)}
        )
    m = _CREATE_POLICY.match(text)
    if m:
        return Statement(
            "create_policy", table=m.group(2), where=m.group(4).strip(),
            options={"policy": m.group(1), "user": (m.group(3) or "").lower()},
        )
    m = _DROP_POLICY.match(text)
    if m:
        return Statement("drop_policy", options={"policy": m.group(1)})
    m = _GRANT_EXECUTE.match(text)
    if m:
        return Statement(
            "grant_revoke", table=f"function::{m.group(2).lower()}",
            options={
                "verb": m.group(1).lower(),
                "privileges": ["execute"],
                "users": [
                    u.strip().lower()
                    for u in m.group(3).split(",") if u.strip()
                ],
            },
        )
    m = _GRANT_REVOKE.match(text)
    if m:
        privs = [
            p.strip().lower() for p in m.group(2).split(",") if p.strip()
        ]
        if privs and privs[0].startswith("all"):
            privs = ["all"]
        valid = {
            "all", "select", "insert", "update", "delete",
            "trigger", "references",
        }
        bad = [p for p in privs if p not in valid]
        if bad:
            raise ValueError(
                f"unknown privilege {bad[0]!r} (grant.md privilege-list: "
                f"{sorted(valid - {'all'})} or ALL [PRIVILEGES])"
            )
        return Statement(
            "grant_revoke", table=m.group(3),
            options={
                "verb": m.group(1).lower(),
                "privileges": privs,
                "users": [
                    u.strip().lower()
                    for u in m.group(4).split(",") if u.strip()
                ],
            },
        )
    m = _DEPLOY.match(text)
    if m:
        return Statement(
            "deploy",
            options={"kind": m.group(1).lower(), "name": m.group(2),
                     "coords": m.group(3), "repos": m.group(4),
                     "path": m.group(5)},
        )
    m = _UNDEPLOY.match(text)
    if m:
        return Statement("undeploy", options={"name": m.group(1)})
    if _LIST_PACKAGES.match(text):
        return Statement("list_packages")
    m = _SET_SCHEMA.match(text)
    if m:
        return Statement("set_schema", options={"schema": m.group(1)})
    m = _SET_CONF.match(text)
    if m:
        return Statement(
            "set_conf", options={"key": m.group(1), "value": m.group(2)}
        )
    m = _PUT.match(text)
    if m:
        body = m.group(3).strip()
        cols = _cols_opt(m.group(2))
        if body.upper().startswith("SELECT"):
            return Statement("put", table=m.group(1), source_sql=body, options=cols)
        # VALUES (...) [, (...)] — let Spark parse it as an inline table
        vbody, null_pos = _values_defaults_to_null(body)
        return Statement(
            "put",
            table=m.group(1),
            source_sql=f"SELECT * FROM {vbody}",
            options={**cols, "explicit_null_positions": null_pos},
        )
    m = _UPDATE.match(text)
    if m:
        return Statement(
            "update",
            table=m.group(1),
            assignments=_split_assignments(m.group(3)),
            where=m.group(4),
            options={"alias": m.group(2).lower()} if m.group(2) else {},
        )
    m = _DELETE.match(text)
    if m:
        return Statement(
            "delete",
            table=m.group(1),
            where=m.group(3),
            options={"alias": m.group(2).lower()} if m.group(2) else {},
        )
    m = _TRUNCATE.match(text)
    if m:
        return Statement("truncate", table=m.group(1))
    m = _INSERT_SELECT.match(text)
    if m:
        return Statement(
            "insert_select",
            table=m.group(1),
            source_sql=m.group(3),
            options=_cols_opt(m.group(2)),
        )
    m = _INSERT_VALUES.match(text)
    if m:
        # inline table → positional SELECT, same contract as PUT VALUES
        vbody, null_pos = _values_defaults_to_null(m.group(3))
        return Statement(
            "insert_select",
            table=m.group(1),
            source_sql=f"SELECT * FROM {vbody}",
            options={**_cols_opt(m.group(2)),
                     "explicit_null_positions": null_pos},
        )
    m = _INSERT_OVERWRITE.match(text)
    if m:
        return Statement("insert_overwrite", table=m.group(1), source_sql=m.group(2))
    return Statement("passthrough")
