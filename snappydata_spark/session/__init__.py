"""SnappySession facade over pyspark.sql.SparkSession.

Mirrors the reference's Python API surface (python/pyspark/sql/snappy/
snappysession.py:26-138: createTable, truncateTable, dropTable, insert,
put, update, delete) plus sql() with the dialect extras (PUT INTO — parser
rule SnappyParser.scala:1173-1176 — and UPDATE/DELETE against managed
tables) and the plan cache (SnappySession.scala:2584-2683 — the one
lifecycle feature Catalyst lacks; here it is an exact-text → DataFrame
map, which in Spark saves re-parse/re-analysis for repeated statements).
"""

from __future__ import annotations

import hashlib
import os
import re
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from snappydata_spark.catalog import Catalog, canon_name
from snappydata_spark.dialect import (
    parse_with_error,
    replace_alias_qualifier,
    rewrite_builtins,
    rewrite_qualified_names,
    rewrite_stream_windows,
    split_statement,
    sub_outside_quotes,
)
from snappydata_spark.plans.cache import PlanCache
from snappydata_spark.session.approx import ApproxMixin
from snappydata_spark.session.ddl import DDLMixin
from snappydata_spark.session.dml import DMLMixin
from snappydata_spark.session.functions import FunctionMixin
from snappydata_spark.session.locks import (
    LockingMixin,
    LockTimeout,
    QueryCancelled,
    TransactionConflict,
    _CancellableDataFrame,
)
from snappydata_spark.session.storage import StorageMixin
from snappydata_spark.session.streams import StreamMixin
from snappydata_spark.session.system import SystemMixin
from snappydata_spark.session.transactions import TransactionMixin

__all__ = [
    "LockTimeout",
    "PreparedStatement",
    "QueryCancelled",
    "SnappySession",
    "TransactionConflict",
    "get_spark",
]


def get_spark(
    app_name: str = "snappydata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """SparkSession tuned for this engine.

    Local defaults mirror the bench harness; on a real cluster the same
    builder is used with master unset (taken from spark-submit) and
    shuffle partitions sized to ~2-3× total cores.  AQE stays on in both:
    it re-plans skew joins and coalesces small shuffle partitions at 100 TB.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "snappydata_spark_warehouse"),
            ),
        )
    )
    # perturbation hook for robustness sweeps (BASELINE.md): semicolon-
    # separated k=v pairs applied LAST so they override any default —
    # e.g. SPARK_GRAFT_EXTRA_CONF="spark.sql.ansi.enabled=true;
    # spark.driver.extraJavaOptions=-Duser.timezone=America/New_York"
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    # programmatic overrides win over everything (callers like the
    # shuffle-bytes measurement need spark.ui.enabled back on)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if master or not SparkSession.getActiveSession():
        builder = builder.master(master or f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# a query head: the statement reads (and may be served from the plan cache)
_READ_HEAD = re.compile(r"\s*\(*\s*(SELECT|WITH|VALUES|TABLE)\b", re.I)
# statement kinds an explicit transaction rejects
_TX_REJECTED = frozenset({
    "create_table", "drop_table", "create_table_like", "truncate",
    "alter_add", "alter_drop", "create_index", "drop_index", "create_view",
    "drop_view", "alter_view", "create_sample", "create_topk",
    "insert_overwrite", "merge", "create_external", "create_stream",
    "drop_stream",
})
# a synonym statement names the synonym itself, not a table to resolve
_UNBOUND_TARGETS = frozenset({"create_synonym", "drop_synonym"})

# statement kind (dialect.split_statement) → handler(session, stmt); a
# handler returns NotImplemented for a target this session does not
# manage, and the statement goes on to _sql_dispatch's Spark tail.
_STATEMENT_HANDLERS = {
    "begin": lambda s, st: s.begin_transaction(),
    "commit": lambda s, st: s.commit(),
    "rollback": lambda s, st: s.rollback(),
    # ij / SQL-client statement shape (allow-explicit-commit.md's target
    # scenario); semantics live in set_autocommit()
    "autocommit": lambda s, st: s.set_autocommit(st.options["on"]),
    "set_isolation": TransactionMixin._sql_set_isolation,
    "set_schema": lambda s, st: s.set_current_schema(st.options["schema"]),
    "set_conf": lambda s, st: s.set_conf(st.options["key"], st.options["value"]),
    "create_table": DDLMixin._sql_create_table,
    "create_external": DDLMixin._sql_create_external,
    "create_table_like": DDLMixin._sql_create_table_like,
    "drop_table": DDLMixin._sql_drop_table,
    "alter_add": lambda s, st: s.alter_table(
        st.table, add={st.options["column"]: st.options["type"]}
    ),
    "alter_drop": lambda s, st: s.alter_table(st.table, drop=[st.options["column"]]),
    "alter_rls": DDLMixin._sql_alter_rls,
    "show_create": lambda s, st: s.show_create_table(st.table),
    "create_view": DDLMixin._sql_create_view,
    "alter_view": DDLMixin._sql_alter_view,
    "drop_view": DDLMixin._sql_drop_view,
    "create_policy": DDLMixin._sql_create_policy,
    "drop_policy": DDLMixin._sql_drop_policy,
    "grant_revoke": DDLMixin._sql_grant_revoke,
    # COMPACT TABLE <table> — small-file maintenance
    "compact_table": lambda s, st: s.spark.createDataFrame(
        [(s.compact_table(st.table),)], "files_after long"
    ),
    "put": DMLMixin._sql_put,
    "insert_select": DMLMixin._sql_insert_select,
    "insert_overwrite": DMLMixin._sql_insert_overwrite,
    "update": lambda s, st: s.update(
        st.table, st.where or F.lit(True), st.assignments,
        alias=st.options.get("alias"),
    ),
    "delete": lambda s, st: s.delete(
        st.table, st.where or F.lit(True), alias=st.options.get("alias")
    ),
    "truncate": lambda s, st: s.truncate_table(st.table),
    "merge": lambda s, st: s._merge(st),
    "create_stream": StreamMixin._sql_create_stream,
    "drop_stream": StreamMixin._sql_drop_stream,
    "streaming_ctl": StreamMixin._sql_streaming_ctl,
    "create_sample": ApproxMixin._sql_create_sample,
    "create_topk": ApproxMixin._sql_create_topk,
    "call_proc": lambda s, st: s._call_proc(st.options["proc"], st.options["args"]),
    "show_members": lambda s, st: s._show_members(),
    "create_diskstore": lambda s, st: s._create_diskstore(st.options),
    "drop_diskstore": lambda s, st: s._drop_diskstore(
        st.options["name"], st.if_not_exists
    ),
    "create_synonym": lambda s, st: s._create_synonym(st.table, st.source_sql),
    "drop_synonym": lambda s, st: s._drop_synonym(st.table, st.if_not_exists),
    "deploy": FunctionMixin._sql_deploy,
    "undeploy": FunctionMixin._sql_undeploy,
    "list_packages": FunctionMixin._sql_list_packages,
    "create_index": lambda s, st: s._create_index(st.table, st.options),
    "drop_index": FunctionMixin._sql_drop_index,
    "describe_history": StorageMixin._sql_describe_history,
    # VACUUM <table> — immediate tombstone GC; retires time-travel
    # history with the files
    "vacuum": lambda s, st: s.spark.createDataFrame(
        [(s.vacuum(st.table),)], "files_removed long"
    ),
}


class SnappySession(
    LockingMixin, TransactionMixin, DDLMixin, DMLMixin, StreamMixin,
    ApproxMixin, SystemMixin, FunctionMixin, StorageMixin,
):
    """The user-facing engine session (reference: SnappySession.scala).
    Each mixin is one concern's methods over the state set up here."""

    def __init__(self, spark: SparkSession | None = None, store_dir: str | None = None):
        self.spark = spark or get_spark()
        self.catalog = Catalog(store_dir)
        self.plan_cache = PlanCache()
        # index registry: name → (table, columns). Indexes are metadata in
        # this engine (reference createIndex SnappyDDLParser:519): parquet
        # row-group min/max stats + key-clustered layout provide the
        # skipping; the registry records intent and drives sort-on-write.
        self._indexes: dict[str, tuple[str, list[str]]] = {}
        # materialized ANN indexes (CREATE INDEX ... USING ivf_sq8):
        # name → model + index-table meta (index_ann.py; the reference's
        # index-as-column-table, IndexColumnFormatRelation)
        self._ann_indexes: dict[str, dict] = {}
        # row-level security: policy name → (table, filter SQL, user)
        # (createPolicy SnappyDDLParser:392-418; filter injected at read
        # like the RowLevelSecurity rule, SnappySessionState.scala:422)
        self._policies: dict[str, tuple[str, str, str]] = {}
        # tables with ROW LEVEL SECURITY enabled (alterTableToggleRowLevel-
        # Security SnappyDDLParser:631-637): policies are created inert and
        # only filter reads once the table is RLS-enabled (docs/security/
        # row_level_security.md)
        self._rls: set[str] = set()
        # indexes/policies persist with the store (the reference keeps
        # both in its hive-backed catalog)
        # SELECT grants: table → set of users (grantRevoke passThrough
        # SnappyDDLParser:818-857).  Empty set / absent table = open access
        # (matches the reference's default of no grants recorded).
        # table -> {user -> privilege set} (grant.md privilege-list:
        # select/insert/update/delete/trigger/references, or 'all')
        self._grants: dict[str, dict[str, set[str]]] = {}
        # DEPLOY PACKAGE/JAR registry (deployPackages SnappyDDLParser:
        # 858-874) — dependency metadata only; see dialect.py divergence note
        self._packages: dict[str, dict[str, str]] = {}
        # CREATE DISKSTORE registry (create-diskstore.md:6-20): disk
        # stores are GemFire oplog config — a documented metadata no-op
        # here (parquet+manifest storage has no oplogs); recorded so DDL
        # scripts replay, SYSDISKSTORES serves rows, and DROP validates
        # no table still targets the store
        self._diskstores: dict[str, dict] = {}
        # identity-assignment pins: frames persisted by _assign_identities
        # so validation probes and the final write see the SAME generated
        # values (a nondeterministic source would otherwise recompute
        # different ids per action); released after the write completes
        self._identity_pins: list[DataFrame] = []
        # SYSCS_UTIL.SET_STATISTICS_TIMING (setstatstimingproc.md): when
        # on, sql() records (statement, wall_ms) per execution; off
        # resets all timing values (the documented zeroing)
        self._stats_timing = False
        self._stmt_stats: list[tuple[str, float]] = []
        # mutation-path plan audit hook (tests only): a list here makes
        # _audit_plan record (tag, executedPlan) for write/validation
        # frames so tests/test_plan_audit_mutations.py can sweep them
        self._plan_audit_log: list[tuple[str, str]] | None = None
        # persistent views (createView SnappyDDLParser:542): name →
        # defining SELECT; re-registered per session over the store, and
        # re-bound per query so RLS/grants resolve against the CURRENT
        # user through the view
        self._views: dict[str, str] = {}
        # CREATE SYNONYM registry: canonical synonym -> canonical target
        # (reference/sql_reference/create-synonym.md; may be nested)
        self._synonyms: dict[str, str] = {}
        # current schema for unqualified names (setCurrentSchema,
        # SnappySession.scala:1725) — APP is the reference default
        self.current_schema = "app"
        # explicit-transaction state (begin_transaction/commit/rollback)
        self._tx: dict | None = None
        self._isolation = "none"  # SET ISOLATION default for BEGIN
        # java.sql.Connection#setAutoCommit analogue (ij: AUTOCOMMIT OFF)
        self._autocommit = True
        # deferred-manifest mode for atomic cross-table commits: while a
        # dict, _manifest_commit stages payloads instead of publishing
        self._staged_manifests: dict | None = None
        # connection/system properties (SET ...) — initialized BEFORE the
        # tx roll-forward below: recovery takes table locks, and the lock
        # guard reads the max-lock-wait property via get_conf
        self._engine_confs: dict[str, str] = {}
        self._load_registry()
        # roll forward any multi-table commit a crashed process left
        # behind its commit point (see commit(): intent-log two-phase)
        self._recover_tx_intents()
        # stream tables declared via CREATE STREAM TABLE (createStream
        # SnappyDDLParser:716-737): name → streaming DataFrame.  Session-
        # scoped like the reference's stream relations (they hold live
        # readStream handles, not storable metadata).
        self._streams: dict[str, DataFrame] = {}
        # event-time column per stream table (CQ WINDOW rewrites bind to
        # it; `timestampColumn` DDL option, else first timestamp field)
        self._stream_ts: dict[str, str | None] = {}
        # continuous queries (registerCQ SnappyStreamingContext.scala
        # analogue): name → (streaming df, sink, output mode); START/STOP
        # managed by the STREAMING control DDL
        self._cqs: dict[str, tuple[DataFrame, object, str]] = {}
        self._active_cqs: dict[str, object] = {}
        self._streaming_trigger: str | None = None
        self.current_user: str = ""
        # disambiguates bucketed catalog-table names across SnappySession
        # instances sharing one SparkSession (e.g. test fixtures).  Derived
        # from the store dir, NOT random: two sessions over the SAME store
        # must resolve the same catalog entry (a random id made every
        # bucketed table silently unreadable — and mutations silently
        # no-op — from any second session)
        self._session_id = hashlib.md5(
            os.path.abspath(self.catalog.base_dir).encode()
        ).hexdigest()[:8]
        # re-expose persisted managed tables as temp views: without this a
        # fresh session over an existing store could table()/mutate them
        # but sql("SELECT ... FROM t") raised TABLE_OR_VIEW_NOT_FOUND
        # until some mutation happened to refresh the view
        for tbl in list(self.catalog.list_tables()):
            try:
                meta = self.catalog.load_meta(tbl)
                if self._is_bucketed(meta):
                    # finish any mutation a crash interrupted mid-swap
                    with self._table_lock(tbl):
                        self._recover_mutation_journal(meta)
                self._refresh_view(tbl)
            except Exception:  # noqa: BLE001 — e.g. bucketed layout whose
                pass  # catalog entry didn't survive the process restart
        for vname, vsql in list(self._views.items()):
            try:
                self.spark.sql(vsql).createOrReplaceTempView(vname)
            except Exception:  # noqa: BLE001 — underlying table gone
                pass

    def _canon(self, name: str) -> str:
        """Schema-aware canonical table id: unqualified names resolve
        against the session's current schema (setCurrentSchema,
        SnappySession.scala:1725; default APP), qualified names through
        catalog.canon_name."""
        n = name.strip().lower()
        if n.startswith("function::"):
            return n  # routine grant scope, not a relation name
        if (
            "." not in n
            and "__" not in n  # already-canonical s__t must stay put
            and getattr(self, "current_schema", "app") not in ("app", "default")
        ):
            n = f"{self.current_schema}.{n}"
        return canon_name(n)

    def sql_uncached(self, text: str) -> DataFrame | None:
        """sqlUncached (apireference_guide.md:68-90): execute with a
        FRESH plan, bypassing the plan cache — for queries whose cached
        plan's statistics-driven choices must be re-made."""
        prev = getattr(self, "_skip_plan_cache", False)
        self._skip_plan_cache = True
        try:
            return self.sql(text)
        finally:
            self._skip_plan_cache = prev

    def sql(self, text: str) -> DataFrame | None:
        """Dialect-aware sql(): each statement kind dialect.split_statement
        knows runs its handler (PUT INTO / UPDATE / DELETE / TRUNCATE on
        managed tables reach the mutation layer); everything else goes to
        spark.sql via the plan cache (keyed on the exact text, see
        plans/cache.py)."""
        if self._stats_timing:
            # SYSCS_UTIL.SET_STATISTICS_TIMING(1): record wall per
            # statement (setstatstimingproc.md) — dispatch only; the
            # flag costs one boolean test when off
            t0 = time.perf_counter()
            try:
                return self._wrap_query_timeout(self._sql_dispatch(text))
            finally:
                if self._stats_timing:  # the OFF call zeroed mid-flight
                    self._stmt_stats.append(
                        (text, (time.perf_counter() - t0) * 1000.0)
                    )
        return self._wrap_query_timeout(self._sql_dispatch(text))

    def _wrap_query_timeout(self, res):
        """Bind the session's query-timeout budget (if set) to the
        statement's result frame — actions on it are cancelled via job
        groups when the budget expires (gemfirexd.query-timeout.md)."""
        if res is None or not isinstance(res, DataFrame):
            return res
        try:
            timeout = float(
                self.get_conf("snappydata.query-timeout", 0) or 0
            )
        except (TypeError, ValueError):
            timeout = 0.0
        if timeout <= 0:
            return res
        return _CancellableDataFrame(res, self, timeout)

    def get_statement_stats(self) -> list[tuple[str, float]]:
        """(statement, wall_ms) pairs recorded while statistics timing is
        on; empty after SET_STATISTICS_TIMING(0) (the documented
        zeroing)."""
        return list(self._stmt_stats)

    # (SYS.<name> pattern, temp view name, frame builder) per system table;
    # sysdiskstoreids.md's own example queries `sys.diskstoreids`, so both
    # spellings resolve to one view
    _SYS_VIEWS = (
        (r"\bSYS\.MEMBERS\b", "sys_members", lambda s: s._show_members()),
        (r"\bSYS\.SYSTABLES\b", "sys_systables", lambda s: s._systables()),
        (r"\bSYS\.TABLESTATS\b", "sys_tablestats", lambda s: s._systablestats()),
        (r"\bSYS\.SYSDISKSTORES\b", "sys_sysdiskstores",
         lambda s: s._sysdiskstores()),
        (r"\bSYS\.(?:SYS)?DISKSTOREIDS\b", "sys_sysdiskstoreids",
         lambda s: s._sysdiskstoreids()),
        (r"\bSYS\.SYSPOLICIES\b", "sys_syspolicies", lambda s: s._syspolicies()),
    )

    def _sql_dispatch(self, text: str) -> DataFrame | None:
        # ONE lowercase scan gates every rewriter below on its trigger
        # substring: a substring test is ~100x cheaper than the regex it
        # guards and provably conservative — each gated regex requires its
        # keyword verbatim, and the rewrites BETWEEN the scan and a gate
        # only substitute identifiers/view names, never introduce keywords
        low = text.lower()
        # CREATE TEMPORARY TABLE t USING src / AS SELECT
        # (create-temporary-table.md: session-scoped, not in the catalog)
        # — Spark 3+ dropped the statement; TEMPORARY VIEW is the exact
        # semantic match (connection/session scope, invisible elsewhere)
        if "temporary" in low:
            text = re.sub(
                r"^(\s*CREATE\s+)(OR\s+REPLACE\s+)?TEMPORARY\s+TABLE\b",
                lambda m: f"{m.group(1)}OR REPLACE TEMPORARY VIEW",
                text,
                flags=re.I,
            )
        # queryable system tables (reference/system_tables/): each SYS.<name>
        # resolves to a session-computed frame under its temp view name
        if "sys." in low:
            for pattern, view, build in self._SYS_VIEWS:
                if re.search(pattern, text, re.I):
                    build(self).createOrReplaceTempView(view)
                    text = re.sub(pattern, view, text, flags=re.I)
        if "." in text:
            # schema-qualified relation references (APP.t / other.t) over
            # MANAGED tables/streams canonicalize in the statement text;
            # alias.column dotted pairs never resolve and stay untouched
            text = rewrite_qualified_names(
                text,
                lambda sch, tbl: (
                    self._canon(f"{sch}.{tbl}")
                    if self.catalog.exists(f"{sch}.{tbl}")
                    or self._canon(f"{sch}.{tbl}") in self._streams
                    or self._canon(f"{sch}.{tbl}") in self._synonyms
                    else None
                ),
            )
        if self.current_schema not in ("app", "default"):
            # under SET SCHEMA s, bare relation references resolve into
            # the schema's namespace (relation positions only, outside
            # string literals)
            def _bare_sub(m: re.Match) -> str:
                cn = self._canon(m.group(2))
                if (
                    self.catalog.exists(cn)
                    or cn in self._views
                    or cn in self._streams
                    or cn in self._synonyms
                ):
                    return f"{m.group(1)} {cn}"
                return m.group(0)

            text = sub_outside_quotes(
                r"\b(FROM|JOIN|INTO|TABLE)\s+([A-Za-z_]\w*)\b",
                _bare_sub,
                text,
                flags=re.I,
            )
        if self._tx is not None and _READ_HEAD.match(text):
            # a read inside an open transaction resolves touched tables to
            # this session's overlay views (read-your-writes without
            # leaking uncommitted state into the shared temp views); DML
            # heads are excluded — their FROM clauses are mutation targets
            text = self._tx_reads(text)
        stmt = split_statement(text)
        handler = _STATEMENT_HANDLERS.get(stmt.kind)
        if handler is not None:
            if self._tx is not None and stmt.kind in _TX_REJECTED:
                # the reference rejects DDL inside an explicit transaction
                # (autocommit off); MERGE/OVERWRITE would bypass the buffer
                raise ValueError(
                    f"{stmt.kind} is not allowed inside a transaction"
                )
            if stmt.table and stmt.kind not in _UNBOUND_TARGETS:
                self._bind_target(stmt)
            res = handler(self, stmt)
            if res is not NotImplemented:
                return res
        if " as of" in low and re.search(
            r"\b(?:VERSION|TIMESTAMP)\s+AS\s+OF\b", text, flags=re.I
        ):
            # FROM <managed> VERSION AS OF <gen> | TIMESTAMP AS OF '<ts>'
            # — snapshot time travel in SQL: the generation's manifest
            # resolves to a temp view named by (table, gen), so the
            # rewritten text stays cache-keyable and the snapshot itself
            # is immutable
            def _asof_sub(vm: re.Match) -> str:
                kw, tbl, kind, spec = vm.groups()
                if not self.catalog.exists(tbl.lower()):
                    return vm.group(0)
                if kind.upper() == "VERSION":
                    df = self.table_version(tbl, int(spec))
                    view = f"{tbl.lower()}__asof_{int(spec)}"
                else:
                    df = self.table_version(tbl, as_of_ts=spec.strip("'"))
                    view = (
                        f"{tbl.lower()}__asofts_"
                        + re.sub(r"\W", "_", spec.strip("'"))
                    )
                df.createOrReplaceTempView(view)
                return f"{kw} {view}"

            text = re.sub(
                r"\b(FROM|JOIN)\s+([A-Za-z_]\w*)\s+"
                r"(VERSION|TIMESTAMP)\s+AS\s+OF\s+(\d+|'[^']+')",
                _asof_sub,
                text,
                flags=re.I,
            )
        if "error" in low and re.search(r"\bWITH\s+ERROR\b", text, flags=re.I):
            parsed = parse_with_error(text)
            if parsed:
                self._resolve_read_access(text)
                return self._approx_sql(*parsed)
        # plain SELECT path: enforce grants + re-bind RLS policies for the
        # current user before touching any managed view; plans are cached
        # per-user (policy-filtered views are user-dependent)
        self._resolve_read_access(text)
        topk = self._topk_select(text)
        if topk is not None:
            return topk
        if (
            self._ann_indexes
            or "bm25_score" in low
            or ("--+" in text and "index" in low)
        ):
            # ResolveIndex analogue (SnappyOptimizations.scala:110-250):
            # a top-k query shaped like a registered similarity/inverted
            # index serves from the index tables; --+ noIndex or
            # SET snappydata.sql.useIndexes=false opts out (resolve_index.py)
            from snappydata_spark import resolve_index as _ri

            em = re.match(
                r"\s*EXPLAIN(?:\s+(?:EXTENDED|CODEGEN|COST|FORMATTED))?\s+"
                r"(?P<q>(?:SELECT|WITH)\b.*)$",
                text,
                re.I | re.S,
            )
            if em:
                # EXPLAIN must show the plan that would actually RUN —
                # the reference's explain surfaces the injected index
                # relations the same way (ResolveIndex rewrites before
                # explain).  Unroutable/opted-out queries fall through
                # to Spark's own EXPLAIN of the full-scan form.
                routed = _ri.try_route(self, em.group("q"))
                if routed is not None:
                    plan = (
                        "== Routed by ResolveIndex (materialized index "
                        "serve; --+ noIndex for the scan plan) ==\n"
                        + routed._jdf.queryExecution().executedPlan().toString()
                    )
                    return self.spark.createDataFrame([(plan,)], "plan string")
            routed = _ri.try_route(self, text)
            if routed is not None:
                return routed
        rewritten = rewrite_builtins(text, self.current_schema)
        if self._streams:
            windowed = rewrite_stream_windows(
                rewritten,
                lambda n: self._stream_ts.get(n.lower())
                if n.lower() in self._streams
                else None,
            )
            # relation-position match only (FROM s / JOIN s / comma-join
            # ", s") — a column, alias, or string literal that merely
            # mentions a stream name must not bypass the plan cache.  A
            # comma counts as a relation position only while still inside
            # a FROM list (the most recent clause keyword is FROM), so
            # "SELECT x, s FROM t" with a stream named s stays cacheable.
            def _mentions_stream_relation(s: str) -> bool:
                for m in re.finditer(
                    rf"(?:\bFROM\b|\bJOIN\b|,)\s*{re.escape(s)}\b",
                    rewritten,
                    flags=re.I,
                ):
                    if not m.group(0).startswith(","):
                        return True
                    prefix = rewritten[: m.start()]
                    kws = re.findall(
                        r"\b(FROM|SELECT|WHERE|GROUP|ORDER|HAVING|ON)\b",
                        prefix,
                        flags=re.I,
                    )
                    if kws and kws[-1].upper() == "FROM":
                        return True
                return False

            if windowed != rewritten or any(
                _mentions_stream_relation(s) for s in self._streams
            ):
                # query touches a stream relation: the result is a live
                # streaming DataFrame — never cache it (plan cache entries
                # would pin stale readStream handles)
                return self.spark.sql(windowed)
        if _READ_HEAD.match(rewritten):
            if self._tx is not None or getattr(self, "_skip_plan_cache", False):
                # overlay views change per staged op — never cache plans
                # resolved inside an open transaction; sql_uncached
                # callers asked for a fresh plan explicitly
                return self.spark.sql(rewritten)
            return self.plan_cache.get_or_build(
                self.spark, rewritten, scope=self.current_user
            )
        # passthrough DDL/commands (CREATE VIEW, ALTER VIEW, CACHE, ...)
        # can redefine objects cached plans depend on — never cache them,
        # and conservatively invalidate (ALTER VIEW ... AS must not leave
        # a stale analyzed plan behind)
        self.plan_cache.clear()
        return self.spark.sql(rewritten)

    def _bind_target(self, stmt) -> None:
        """Resolve a statement's target through synonyms and canonicalize
        it (APP.t / other.t); UPDATE/DELETE qualifiers are normalized to
        one alias."""
        kind = stmt.kind
        if self._synonyms:
            syn = self._canon(stmt.table)
            if syn in self._synonyms:
                if kind in (
                    "put", "update", "delete", "truncate", "insert_select",
                    "insert_overwrite", "merge",
                ):
                    # DML through a synonym targets the resolved object
                    # (create-synonym.md: usable in INSERT/UPDATE/DELETE)
                    stmt.table = self._resolve_synonym(stmt.table)
                    if not self.catalog.exists(stmt.table):
                        raise ValueError(
                            f"synonym '{syn}' references '{stmt.table}', "
                            "which does not exist — the target must be "
                            "present when the synonym is used"
                        )
                elif kind == "drop_table":
                    raise ValueError(
                        f"'{syn}' is a synonym — use DROP SYNONYM {syn}"
                    )
                elif kind.startswith("create"):
                    raise ValueError(
                        f"'{syn}' already names a synonym — synonyms share "
                        "the table/view namespace (create-synonym.md)"
                    )
        orig_table = stmt.table.lower()
        stmt.table = self._canon(stmt.table)
        if kind in ("update", "delete"):
            # normalize every qualifier spelling (user alias, bare or
            # schema-qualified table name) to ONE alias that the mutation
            # layer binds on the target frame — REPLACED, not stripped, so
            # correlated subqueries keep their outer references (longest
            # spelling first: rewriting `qt.` before `app.qt.` would
            # mangle the longer form)
            alias = stmt.options.get("alias") or stmt.table
            for q in sorted(
                {orig_table, stmt.table} - {alias}, key=len, reverse=True
            ):
                stmt.where = replace_alias_qualifier(stmt.where, q, alias)
                stmt.assignments = {
                    k: replace_alias_qualifier(v, q, alias)
                    for k, v in stmt.assignments.items()
                }
            stmt.options["alias"] = alias

    def prepare(self, text: str) -> "PreparedStatement":
        """Prepared statement with `?` positional parameters (the JDBC
        entry's setPreparedQuery flow, SnappyParser.scala:74-87: `?` binds
        a ParamLiteral; re-execution re-binds values into the cached
        plan).  Here: `?` → Spark named parameters over one parse-stable
        template."""
        return PreparedStatement(self, text)


class PreparedStatement:
    """`?`-parameterized statement (SnappyParser.scala:74-87 prepared-query
    flow).  The template is parsed once per distinct shape by Spark's
    parameterized sql(); execute(*params) re-binds new values."""

    def __init__(self, session: SnappySession, text: str):
        self.session = session
        # replace only BARE `?` markers: a ? inside a string literal is
        # data, not a parameter (a naive split corrupted the literal and
        # miscounted the parameters)
        n = 0

        def _mark(m: re.Match) -> str:
            nonlocal n
            if m.group(1) is not None:  # quoted literal — untouched
                return m.group(1)
            out = f":p{n}"
            n += 1
            return out

        self.template = re.sub(r"('(?:[^'\\]|\\.)*')|\?", _mark, text)
        self.n_params = n

    def execute(self, *params) -> DataFrame:
        if len(params) != self.n_params:
            raise ValueError(f"expected {self.n_params} params, got {len(params)}")
        args = {f"p{i}": v for i, v in enumerate(params)}
        return self.session.spark.sql(self.template, args=args)
