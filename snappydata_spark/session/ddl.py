"""Table DDL, grants and policies, and the policy-filtered read path."""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from snappydata_spark.catalog import TableMeta
from snappydata_spark.session.locks import _serialized


class DDLMixin:
    def create_table(
        self,
        name: str,
        schema: StructType | str | None = None,
        provider: str = "column",
        options: dict | None = None,
        df: DataFrame | None = None,
        overwrite: bool = False,
    ) -> None:
        """CREATE TABLE ... USING COLUMN/ROW OPTIONS(...) [AS SELECT]
        (SnappyDDLParser.createTable:301; SnappySession.createTable:1055-1363).
        """
        name = self._canon(name)
        if self.catalog.exists(name):
            if not overwrite:
                raise ValueError(f"table {name} already exists")
            self.catalog.drop(name)
        if isinstance(schema, str):
            # reference row-DDL constraints: PRIMARY KEY → key_columns,
            # NOT NULL stripped (CreateTable SnappyDDLParser; GemFireXD
            # column constraints)
            from snappydata_spark.dialect import parse_ddl_schema

            schema, pk, checks, uniques, fks, identities = parse_ddl_schema(
                schema
            )
            # CHAR(n)/VARCHAR(n) store as STRING (Spark's own storage
            # semantics; Spark 4 rejects char types in a python-built
            # empty frame outright) — the reference's row DDL uses
            # VARCHAR ubiquitously, so the managed route normalizes
            schema = re.sub(
                r"\b(?:VAR)?CHAR\s*\(\s*\d+\s*\)", "STRING", schema,
                flags=re.I,
            )
            # GemFireXD LOB/legacy type spellings
            # (reference/misc/supported_datatypes.md): CLOB / LONG
            # VARCHAR are unbounded text -> STRING; BLOB is unbounded
            # bytes -> BINARY (the doc's "work only if you do not
            # provide the size" rule — a size suffix is accepted and
            # dropped like CHAR(n)'s)
            schema = re.sub(
                r"\bLONG\s+VARCHAR\b|\bCLOB\s*(?:\(\s*\d+\s*[KMG]?\s*\))?",
                "STRING", schema, flags=re.I,
            )
            schema = re.sub(
                r"\bBLOB\s*(?:\(\s*\d+\s*[KMG]?\s*\))?", "BINARY",
                schema, flags=re.I,
            )
            if pk or checks or uniques or fks or identities:
                options = dict(options or {})
            if identities:
                # GENERATED ... AS IDENTITY (create-table.md Identity
                # Columns): INTEGER/BIGINT only, like the reference
                low_schema = schema.lower()
                for ident in identities:
                    m = re.search(
                        rf"\b{ident['column']}\s+(\w+)", low_schema
                    )
                    if m and m.group(1) not in ("int", "integer", "bigint", "long"):
                        raise ValueError(
                            f"identity column {ident['column']} must be "
                            f"INTEGER or BIGINT, not {m.group(1).upper()}"
                        )
                    ident["next"] = ident["start"]
                options["identities"] = json.dumps(identities)
            if pk:
                options.setdefault("key_columns", ",".join(pk))
            if checks:
                options["checks"] = json.dumps(checks)
            if uniques:
                options["uniques"] = json.dumps(uniques)
            if fks:
                # resolve omitted ref column lists to the referenced
                # table's PRIMARY KEY now (create-table.md:341-366: an FK
                # references the parent's primary key or unique columns)
                for fk in fks:
                    rt = self._canon(fk["ref_table"])
                    fk["ref_table"] = rt
                    if not self.catalog.exists(rt):
                        raise ValueError(
                            f"FOREIGN KEY references unknown table {rt}"
                        )
                    if not fk["ref_columns"]:
                        rmeta = self.catalog.load_meta(rt)
                        if not rmeta.key_columns:
                            raise ValueError(
                                f"FOREIGN KEY references {rt} which has no "
                                "PRIMARY KEY; name the referenced columns"
                            )
                        fk["ref_columns"] = list(rmeta.key_columns)
                    if len(fk["ref_columns"]) != len(fk["columns"]):
                        raise ValueError(
                            "FOREIGN KEY column count mismatch: "
                            f"{fk['columns']} vs {rt}({fk['ref_columns']})"
                        )
                options["foreign_keys"] = json.dumps(fks)
        meta = TableMeta.from_options(name, provider, options)
        ds = str(meta.options.get("diskstore", "")).lower()
        if ds and ds not in self._all_diskstores():
            # the reference rejects a table targeting an uncreated store
            # (create-table.md DISKSTORE option / StoreUtils vocabulary)
            raise ValueError(
                f"CREATE TABLE {name}: diskstore '{ds}' does not exist — "
                "CREATE DISKSTORE it first (create-diskstore.md)"
            )
        if df is not None:
            # initial load (CREATE TABLE AS SELECT / df=) obeys the
            # declared constraints like any other write
            self._validate_checks(meta, df)
            self._validate_uniques_full(meta, df)
            self._validate_fks(meta, df)
        self.catalog.save_meta(meta)
        if df is None and schema is not None:
            df = self.spark.createDataFrame([], schema)
        if df is not None:
            self._write(df, meta, mode="overwrite")
        self._refresh_view(name)

    def drop_table(self, name: str, if_exists: bool = True) -> None:
        name = self._canon(name)
        if not self.catalog.exists(name) and not if_exists:
            raise ValueError(f"table {name} does not exist")
        if self.catalog.exists(name):
            children = [
                c for c, _ in self._referencing_fks(name) if c != name
            ]
            if children:
                raise ValueError(
                    f"cannot drop {name}: referenced by FOREIGN KEY on "
                    f"{sorted(set(children))} (drop the referencing "
                    "table(s) first)"
                )
        if self.catalog.exists(name):
            m = self.catalog.load_meta(name)
            # a sketch-backed TOPK TABLE drops its CMS + StreamSummary
            # companions with it
            for companion in (m.options.get("cms_table"),
                              m.options.get("ss_table")):
                if (m.provider == "topk" and companion
                        and self.catalog.exists(companion)):
                    self.drop_table(companion)
        self._drop_catalog_entry(name)
        self.catalog.drop(name)
        if name in self._rls:
            self._rls.discard(name)
            self._save_registry()
        # cascade: ANN indexes on the dropped table go with it (the
        # reference drops dependent indexes with their base table —
        # GemFireXD dependency management); a dangling index would keep
        # serving stale matches for a table that no longer exists
        dangling = [
            k for k, v in self._ann_indexes.items() if v["table"] == name
        ]
        for k in dangling:
            info = self._ann_indexes.pop(k)
            self._indexes.pop(f"{k}__cell", None)
            self._indexes.pop(f"{k}__term", None)
            if self.catalog.exists(info["index_table"]):
                self.drop_table(info["index_table"])
        if dangling:
            self._save_registry()
        try:
            self.spark.catalog.dropTempView(name)
        except Exception:
            pass

    @_serialized
    def truncate_table(self, name: str) -> None:
        """TRUNCATE TABLE (SnappyDDLParser:627, API truncateTable:812):
        a pure manifest commit (live = ∅, schema retained) — no Spark
        job, old files tombstoned under the usual grace."""
        self._check_write_priv(name, "delete")
        meta = self.catalog.load_meta(name.lower())
        if self._referencing_fks(meta.name):
            self._assert_no_fk_orphans(meta, None)
        schema = self._read_table(name).schema
        self._manifest_commit(self._canon(name), full=[], schema=schema)
        self._refresh_view(name)

    def create_external_table(
        self,
        name: str,
        path: str | None = None,
        fmt: str = "parquet",
        options: dict | None = None,
    ) -> DataFrame:
        """createExternalTable (SnappySession.scala:1076-1127) — any Spark
        datasource registered in the catalog; we register a temp view.
        Path-less datasources (fmt='jdbc' with url/dbtable options —
        JDBCAppendableRelation) pass path=None."""
        opts = dict(options or {})
        if fmt.lower() == "jdbc":
            from snappydata_spark.sources.jdbc import DERBY_DRIVER

            opts.setdefault("driver", DERBY_DRIVER)
        reader = self.spark.read.format(fmt)
        for k, v in opts.items():
            reader = reader.option(k, v)
        df = reader.load(path) if path is not None else reader.load()
        df.createOrReplaceTempView(self._canon(name))
        return df

    @_serialized
    def alter_table(
        self, name: str, add: dict | None = None, drop: list | None = None
    ) -> None:
        """ALTER TABLE ADD/DROP COLUMN (SnappyDDLParser.alterTable:697;
        API SnappySession.alterTable:1634).  Schema evolution on an
        immutable columnar layout = one full rewrite — at scale this is a
        metadata-only op on formats with schema evolution (Parquet merge
        schema / Delta); we rewrite to keep single-format reads simple."""
        name = self._canon(name)
        meta = self.catalog.load_meta(name)
        df = self._read_table(name)
        for col, sql_type in (add or {}).items():
            df = df.withColumn(col.lower(), F.lit(None).cast(sql_type))
        for col in drop or []:
            if col.lower() in meta.key_columns:
                raise ValueError(f"cannot drop key column {col}")
            df = df.drop(col.lower())
        self._rewrite(df, meta)

    def create_table_like(self, name: str, source: str) -> None:
        """CREATE TABLE t LIKE s (SnappyDDLParser.createTableLike:349):
        clone schema + layout options, no data."""
        src_meta = self.catalog.load_meta(source.lower())
        empty = self.spark.createDataFrame([], self.table(source).schema)
        options = dict(src_meta.options)
        if src_meta.key_columns:
            options["key_columns"] = ",".join(src_meta.key_columns)
        if src_meta.partition_by:
            options["partition_by"] = ",".join(src_meta.partition_by)
        if src_meta.buckets:
            options["buckets"] = str(src_meta.buckets)
        if src_meta.colocate_with:
            options["colocate_with"] = src_meta.colocate_with
        if src_meta.replicate:
            options["replicate"] = "true"
        self.create_table(name, provider=src_meta.provider, options=options, df=empty)

    @_serialized
    def compact_table(self, name: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Compact a managed table's small files (the maintenance op
        copy-on-write appends need: every insert adds files; scans slow
        down as file count grows).  Rewrites to ceil(bytes/target) files
        — bucketed tables re-bucket instead (the staging writer's bucket
        count fixes their layout).  Returns the resulting file count."""
        name = self._canon(name)
        meta = self.catalog.load_meta(name)
        stats = self.analyze_table(name)
        n_files = max(1, -(-stats["size_bytes"] // target_file_bytes))
        self._rewrite(self._read_table(name).repartition(n_files), meta)
        live = self._live_files(name)
        return len(live if live is not None else self._list_data_files(name))

    def cache_table(self, name: str) -> None:
        """CACHE TABLE (SnappyDDLParser cache:917) — pin the managed
        table's view into Spark's columnar cache (the in-memory column-
        batch analogue: InMemoryTableScanExec does the stat-skipping the
        reference's ColumnTableScan does)."""
        self.spark.catalog.cacheTable(self._canon(name))

    def uncache_table(self, name: str) -> None:
        self.spark.catalog.uncacheTable(self._canon(name))

    def list_tables(self) -> list[str]:
        return self.catalog.list_tables()

    def describe(self, name: str) -> DataFrame:
        """DESCRIBE (SnappyDDLParser.describe:889): schema plus the
        engine's layout options as trailing metadata rows."""
        name = self._canon(name)
        df = self._read_table(name)
        rows = [(f.name, f.dataType.simpleString(), str(f.nullable)) for f in df.schema]
        if self.catalog.exists(name):
            meta = self.catalog.load_meta(name)
            rows += [
                ("# provider", meta.provider, ""),
                ("# key_columns", ",".join(meta.key_columns), ""),
                ("# partition_by", ",".join(meta.partition_by), ""),
                ("# buckets", str(meta.buckets), ""),
                ("# colocate_with", meta.colocate_with, ""),
                ("# replicate", str(meta.replicate).lower(), ""),
            ]
        return self.spark.createDataFrame(
            rows, "col_name string, data_type string, nullable string"
        )

    def show_tables(self) -> DataFrame:
        """SHOW TABLES (SnappyParser.show:1249-1293) — managed + temp."""
        managed = {(t, "managed") for t in self.catalog.list_tables()}
        temps = {
            (t.name.lower(), "temp")
            for t in self.spark.catalog.listTables()
            if t.tableType == "TEMPORARY"
        }
        rows = sorted(managed | (temps - {(n, "temp") for n, _ in managed}))
        return self.spark.createDataFrame(rows, "table_name string, table_type string")

    def show_create_table(self, name: str) -> DataFrame:
        """SHOW CREATE TABLE (SnappyParser.show:1292 ShowCreateTable-
        Command): reconstruct the managed table's DDL from catalog
        metadata — schema, provider, and the engine's options vocabulary.
        Non-managed names fall through to Spark's own command."""
        lname = self._canon(name)
        if not self.catalog.exists(lname):
            return self.spark.sql(f"SHOW CREATE TABLE {name}")
        meta = self.catalog.load_meta(lname)
        idents = {i["column"]: i for i in self._meta_identities(meta)}

        def _identity_clause(col: str) -> str:
            i = idents.get(col.lower())
            if not i:
                return ""
            # re-emit with START WITH = the live cursor so a replayed
            # statement CONTINUES the sequence (Derby's RESTART WITH
            # discipline for exported identity DDL)
            kind = "ALWAYS" if i["always"] else "BY DEFAULT"
            return (
                f" GENERATED {kind} AS IDENTITY (START WITH "
                f"{i.get('next', i['start'])}, INCREMENT BY {i['increment']})"
            )

        col_items = [
            f"{f.name} {f.dataType.simpleString().upper()}"
            + _identity_clause(f.name)
            + ("" if f.nullable else " NOT NULL")
            for f in self._read_table(lname).schema
        ]
        # constraints re-emit as table-level clauses (create-table.md:
        # 341-366) so the statement replays through parse_ddl_schema —
        # EXPORT_DDLS round-trips them without leaking the raw JSON
        for expr in json.loads(meta.options.get("checks") or "[]"):
            col_items.append(f"CHECK ({expr})")
        for ucols in self._meta_uniques(meta):
            col_items.append(f"UNIQUE ({', '.join(ucols)})")
        for fk in self._meta_fks(meta):
            col_items.append(
                f"FOREIGN KEY ({', '.join(fk['columns'])}) REFERENCES "
                f"{fk['ref_table']} ({', '.join(fk['ref_columns'])})"
            )
        cols = ", ".join(col_items)
        opts = []
        if meta.key_columns:
            opts.append(f"key_columns '{','.join(meta.key_columns)}'")
        if meta.partition_by:
            opts.append(f"partition_by '{','.join(meta.partition_by)}'")
        if meta.buckets:
            opts.append(f"buckets '{meta.buckets}'")
        if meta.colocate_with:
            opts.append(f"colocate_with '{meta.colocate_with}'")
        if meta.replicate and meta.provider != "row":
            opts.append("replicate 'true'")
        for k, v in sorted(meta.options.items()):
            if k in ("checks", "uniques", "foreign_keys", "identities"):
                continue  # emitted as column/constraint clauses above
            opts.append(f"{k} '{v}'")
        stmt = f"CREATE TABLE {lname} ({cols}) USING {meta.provider.upper()}"
        if opts:
            stmt += f" OPTIONS ({', '.join(opts)})"
        return self.spark.createDataFrame([(stmt,)], "createtab_stmt string")

    def analyze_table(self, name: str) -> dict:
        """ANALYZE TABLE ... COMPUTE STATISTICS (SnappyDDLParser.analyze:
        1306): row count + on-disk bytes recorded into table metadata
        (Catalyst reads parquet sizes natively for broadcast decisions;
        these stats serve the user/describe surface)."""
        name = self._canon(name)
        meta = self.catalog.load_meta(name)
        n = self._read_table(name).count()
        size = 0
        live = self._live_files(name)
        if live is not None:
            size = sum(
                os.path.getsize(f) for f in live if os.path.exists(f)
            )
        else:
            for root, _dirs, files in os.walk(self.catalog.table_path(name)):
                size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        meta.options["row_count"] = str(n)
        meta.options["size_bytes"] = str(size)
        self.catalog.save_meta(meta)
        return {"row_count": n, "size_bytes": size}

    def key_columns(self, name: str) -> list[str]:
        """getKeyColumns (SnappySession.scala:1512)."""
        return self.catalog.load_meta(name.lower()).key_columns

    def _lacks_priv(self, scope: str | None, priv: str) -> bool:
        """True when `scope` has a grant registry and the CURRENT user's
        privileges include neither `priv` nor ALL (grant.md
        privilege-list).  Tables with no grants registered stay open —
        the reference's behavior before any GRANT runs."""
        if not scope or not self.current_user:
            return False
        entry = self._grants.get(scope)
        if not entry:
            return False
        # PUBLIC grants apply to every user (grant.md: 'a specific user
        # or all users')
        privs = entry.get(self.current_user, set()) | entry.get(
            "public", set()
        )
        return priv not in privs and "all" not in privs

    def _check_write_priv(self, name: str, priv: str) -> None:
        """DML privilege gate (grant.md: INSERT/UPDATE/DELETE table
        privileges) — mirrors the SELECT gate in table()."""
        scope = self._canon(name)
        if self._lacks_priv(scope, priv):
            raise PermissionError(
                f"user '{self.current_user}' lacks {priv.upper()} on "
                f"'{scope}' (GRANT {priv.upper()} ON {scope} TO "
                f"{self.current_user})"
            )

    def key_columns_and_positions(self, name: str) -> list[tuple[str, int]]:
        """getKeyColumnsAndPositions (apireference_guide.md: returns each
        key column with its 1-based ordinal position in the table
        schema)."""
        meta = self.catalog.load_meta(self._canon(name))
        cols = [f.name.lower() for f in self._read_table(name).schema.fields]
        return [(k, cols.index(k.lower()) + 1) for k in meta.key_columns]

    def table(self, name: str) -> DataFrame:
        """Policy-filtered, grant-checked read (SELECT path).  Mutations
        use _read_table: the reference's policies apply FOR SELECT only —
        a filtered mutation read would silently drop the invisible rows on
        copy-on-write rewrite."""
        if self._synonyms:
            name = self._resolve_synonym(name)
        lname = self._canon(name)
        # a sample table is derived data: reading it also requires SELECT
        # on its base (else the sample becomes a grant bypass)
        for scope in (lname, self._sample_base_of(lname)):
            if self._lacks_priv(scope, "select"):
                raise PermissionError(
                    f"user '{self.current_user}' lacks SELECT on '{scope}' "
                    f"(GRANT SELECT ON {scope} TO {self.current_user})"
                )
        return self._wrap_query_timeout(
            self._apply_policies(lname, self._read_table(name))
        )

    def _read_table(self, name: str, tx_bypass: bool = False) -> DataFrame:
        name = self._canon(name)
        if (
            not tx_bypass
            and self._tx is not None
            and name in self._tx["ops"]
        ):
            # read-your-writes inside an open transaction
            return self._tx_overlay(name)
        if self.catalog.exists(name):
            meta = self.catalog.load_meta(name)
            df = self._managed_df(name)
            if meta.replicate:
                # REPLICATE tables join broadcast-side (StoreUtils REPLICATE
                # option; replicated-table local join SnappyStrategies:330-343)
                df = F.broadcast(df)
            return df
        return self.spark.table(name)

    def _read_is_filtered(self, name: str) -> bool:
        """True when the user-facing read of `name` can differ from the
        raw data: RLS enabled, or SELECT grants restrict access.  Index
        search paths use this to skip their visibility semi-join when
        it provably filters nothing (at scale that join re-scans the
        base id projection on every probe)."""
        cname = self._canon(name)
        return cname in self._rls or bool(self._grants.get(cname))

    def _sample_maintain(self, name: str) -> None:
        """Keep dependent SAMPLE TABLES fresh through base mutations
        (the reference's AQP maintains stratified samples as data
        arrives — docs/sde; stream→sample ingestion).  The per-row draw
        is a deterministic xxhash of the row (aqp.create_sample_table),
        so re-deriving the sample keeps previously-kept surviving rows,
        evaluates the same draw for new rows, drops deleted rows, and
        re-realizes per-stratum weights in one pass.  Cost is a base
        scan + one stratum window — at 100 TB the maintenance would
        instead update reservoir counters incrementally; the DRAW
        contract already supports that (documented)."""
        cname = self._canon(name)
        deps = [
            t
            for t in self.catalog.list_tables()
            if (m := self.catalog.load_meta(t)).provider == "sample"
            and m.options.get("base_table") == cname
        ]
        for t in deps:
            opts = self.catalog.load_meta(t).options
            self._create_sample_table(t, cname, dict(opts))
        # TOPK TABLES track their base the same way (sketching.md: 'all
        # relevant synopses are updated incrementally' as data arrives;
        # stream ingest goes through topk_stream_updater's PUT-merge,
        # batch mutations re-derive the panel — one groupBy over the
        # base, the same cost class as the sample rebuild above)
        topk_deps = [
            t
            for t in self.catalog.list_tables()
            if (m := self.catalog.load_meta(t)).provider == "topk"
            and m.options.get("base_table") == cname
        ]
        for t in topk_deps:
            opts = self.catalog.load_meta(t).options
            window = opts.get("window")
            self.create_approx_ts_topk(
                t,
                cname,
                opts["key"],
                ts_col=opts.get("ts", "ts"),
                k=int(opts.get("k", 10)),
                window=None if window in (None, "all") else window,
                freq_col=opts.get("freq") or None,
                sketch=opts.get("mode") == "sketch",
            )

    def _apply_policies(self, name: str, df: DataFrame) -> DataFrame:
        # derived data never widens visibility: a SAMPLE TABLE read also
        # carries its BASE table's policies (the sample holds the base's
        # columns, so the filter applies directly) — the same contract
        # the index serve paths enforce with their visibility semi-join
        for scope in (name, self._sample_base_of(name)):
            if scope is None or scope not in self._rls:
                # policies exist but do not filter until the table is
                # RLS-enabled (reference: AlterTableToggleRowLevelSecurity)
                continue
            for table, filter_sql, user in self._policies.values():
                if table == scope and (not user or user == self.current_user):
                    df = df.filter(filter_sql)
        return df

    def _sample_base_of(self, name: str) -> str | None:
        """Base table of a SAMPLE TABLE (None for everything else)."""
        try:
            meta = self.catalog.load_meta(self._canon(name))
        except Exception:  # noqa: BLE001 — not a managed table
            return None
        if meta.provider != "sample":
            return None
        base = meta.options.get("base_table")
        return self._canon(base) if base else None

    def _tables_in(self, text: str) -> set[str]:
        """Managed tables referenced (as identifiers) by a SQL text."""
        toks = set(re.findall(r"[a-z_][a-z0-9_]*", text.lower()))
        return {t for t in self.catalog.list_tables() if t in toks}

    def _resolve_read_access(self, text: str | None) -> None:
        """Per-query grant check + row-level-security re-binding for every
        managed table a SQL statement reads (the reference injects the RLS
        filter at plan time per query — RowLevelSecurity rule
        SnappySessionState.scala:422 — and this is where sql() enforces
        SELECT grants, mirroring table()).  Policies are re-applied against
        the CURRENT user by refreshing the temp view, not whatever user was
        active when the view was last built."""
        if not text:
            return
        # a view hides its base tables from the query text: expand every
        # referenced view first (grant check + RLS refresh on its bases,
        # then re-bind the view so it sees the refreshed policy filters)
        for vname, vsql in list(self._views.items()):
            if re.search(rf"\b{re.escape(vname)}\b", text, flags=re.I):
                if vsql != text:  # cycle guard
                    self._resolve_read_access(vsql)
                    self.spark.sql(vsql).createOrReplaceTempView(vname)
        # synonyms referenced by the query re-bind to their CURRENT
        # target through the grant-checked, policy-filtered read path
        # (create-synonym.md: usable instead of the original name) —
        # a synonym never widens visibility beyond its target
        for syn in list(self._synonyms):
            if re.search(rf"\b{re.escape(syn)}\b", text, flags=re.I):
                tgt = self._resolve_synonym(syn)
                if tgt in self._views:
                    self._resolve_read_access(self._views[tgt])
                    self.spark.sql(self._views[tgt]).createOrReplaceTempView(tgt)
                    self.spark.table(tgt).createOrReplaceTempView(syn)
                elif tgt in self._streams:
                    # stream-table target: alias the live streaming frame
                    self._streams[tgt].createOrReplaceTempView(syn)
                elif self.catalog.exists(tgt):
                    self.table(tgt).createOrReplaceTempView(syn)
                else:
                    raise ValueError(
                        f"synonym '{syn}' references '{tgt}', which does "
                        "not exist — the target must be present when the "
                        "synonym is used"
                    )
        # EXECUTE grants on routines (grant.md routine syntax): a granted
        # function denies callers outside its grantee list
        if self.current_user:
            for scope in self._grants:
                if not scope.startswith("function::"):
                    continue
                fname = scope.split("::", 1)[1]
                if re.search(
                    rf"\b{re.escape(fname)}\s*\(", text, flags=re.I
                ) and self._lacks_priv(scope, "execute"):
                    raise PermissionError(
                        f"user '{self.current_user}' lacks EXECUTE on "
                        f"function '{fname}' (GRANT EXECUTE ON FUNCTION "
                        f"{fname} TO {self.current_user})"
                    )
        policy_tables = {t for (t, _, _) in self._policies.values()}
        for name in self._tables_in(text):
            # sample tables inherit their base's grants and policies
            # (derived data never widens visibility)
            base = self._sample_base_of(name)
            for scope in (name, base):
                if self._lacks_priv(scope, "select"):
                    raise PermissionError(
                        f"user '{self.current_user}' lacks SELECT on "
                        f"'{scope}' (GRANT SELECT ON {scope} TO "
                        f"{self.current_user})"
                    )
            if name in policy_tables or (base and base in policy_tables):
                self._refresh_view(name)

    # ------------------------------------------- SQL statement handlers

    def _sql_create_table(self, stmt) -> None:
        if self.catalog.exists(stmt.table) and stmt.if_not_exists:
            return
        self._resolve_read_access(stmt.source_sql)
        df = self.spark.sql(stmt.source_sql) if stmt.source_sql else None
        self.create_table(
            stmt.table,
            schema=stmt.schema_sql if df is None else None,
            provider=stmt.provider,
            options=stmt.options,
            df=df,
        )

    def _sql_create_external(self, stmt):
        opts = dict(stmt.options)
        path = opts.pop("path", None)
        return self.create_external_table(
            stmt.table, path=path, fmt=stmt.provider, options=opts
        )

    def _sql_create_table_like(self, stmt):
        if self.catalog.exists(stmt.table) and stmt.if_not_exists:
            return None
        return self.create_table_like(stmt.table, stmt.source_sql)

    def _sql_drop_table(self, stmt):
        if not self.catalog.exists(stmt.table):
            return NotImplemented
        self.drop_table(stmt.table, if_exists=stmt.if_not_exists)

    def _sql_alter_rls(self, stmt) -> None:
        t = stmt.table.lower()
        if stmt.options["enable"]:
            self._rls.add(t)
        else:
            self._rls.discard(t)
        self._save_registry()
        if self.catalog.exists(t):
            self._refresh_view(t)

    def _sql_create_view(self, stmt) -> None:
        # persistent view over managed tables (createView
        # SnappyDDLParser:542): recorded in the registry, re-bound per
        # session AND per referencing query so grants/RLS resolve for the
        # current user (see _resolve_read_access)
        self._resolve_read_access(stmt.source_sql)
        self.spark.sql(stmt.source_sql).createOrReplaceTempView(stmt.table)
        self._views[stmt.table] = stmt.source_sql
        self._save_registry()
        self.plan_cache.clear()

    def _sql_alter_view(self, stmt):
        # ALTER VIEW v AS SELECT (alterView SnappyDDLParser:606) redefines
        # a registered persistent view; a plain temp view is Spark's own
        if stmt.table not in self._views:
            return NotImplemented
        self._sql_create_view(stmt)

    def _sql_drop_view(self, stmt):
        if stmt.table not in self._views:
            return NotImplemented
        del self._views[stmt.table]
        self._save_registry()
        self.spark.catalog.dropTempView(stmt.table)
        self.plan_cache.clear()

    def _sql_create_policy(self, stmt) -> None:
        self._policies[stmt.options["policy"].lower()] = (
            stmt.table.lower(), stmt.where, stmt.options["user"]
        )
        self._save_registry()
        self._refresh_view(stmt.table)

    def _sql_drop_policy(self, stmt) -> None:
        p = self._policies.pop(stmt.options["policy"].lower(), None)
        self._save_registry()
        if p:
            self._refresh_view(p[0])

    def _sql_grant_revoke(self, stmt) -> None:
        tbl = stmt.table.lower()
        privs = stmt.options["privileges"]
        users = stmt.options["users"]
        entry = self._grants.setdefault(tbl, {})
        if stmt.options["verb"] == "grant":
            for u in users:
                entry.setdefault(u, set()).update(privs)
        else:
            for u in users:
                got = entry.get(u)
                if got is None:
                    continue
                if "all" in privs:
                    got.clear()
                else:
                    got -= set(privs)
                    # revoking SELECT from an ALL-grantee leaves the
                    # explicit remainder (the reference decomposes ALL)
                    if "all" in got and privs:
                        got.discard("all")
                        got |= {
                            "select", "insert", "update", "delete",
                            "trigger", "references",
                        } - set(privs)
                if not got:
                    entry.pop(u, None)
            if not entry:
                self._grants.pop(tbl, None)
        self._save_registry()
