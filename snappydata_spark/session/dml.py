"""INSERT / PUT / UPDATE / DELETE / MERGE, identity columns and
CHECK / UNIQUE / FOREIGN KEY constraints."""

from __future__ import annotations

import json
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window, functions as F

from snappydata_spark import mutate
from snappydata_spark.catalog import TableMeta
from snappydata_spark.session.locks import _serialized
from snappydata_spark.session.storage import _observe_hits


# logical operators whose output rows can differ between two evaluations
# of the same plan
_UNSTABLE_NODES = {"GlobalLimit", "LocalLimit", "Offset", "Tail", "Sample"}


class DMLMixin:
    def _skip_constraints(self) -> bool:
        """skip-constraint-checks connection property
        (configuration_parameters/skip-constraint-checks.md): true =
        bulk-import mode — constraint validation scans are absent from
        every write plan; PK uniqueness is preserved by routing keyed
        INSERTs through PUT INTO keep-last (the reference's documented
        exception); UNIQUE/FK violations become undefined behavior until
        the property is unset."""
        return str(
            self.get_conf("snappydata.skip-constraint-checks", "false")
        ).lower() == "true"

    def _validate_checks(self, meta: TableMeta, df: DataFrame) -> None:
        """Enforce CHECK constraints (GemFireXD row-DDL surface) on the
        incoming/rewritten rows — SQL semantics: NULL passes, FALSE
        rejects.  ALL constraints evaluate in ONE scan of the write batch
        (one conditional max per check), never the whole table on the
        pruned paths.  Note: the batch is evaluated once here and again
        by the write — a nondeterministic source (rand()) can pass
        validation yet write different rows; stage such sources first."""
        raw = meta.options.get("checks")
        if not raw or self._skip_constraints():
            return
        exprs = json.loads(raw)
        if not exprs:
            return
        flags = [
            F.max(
                F.when(
                    ~F.coalesce(F.expr(e).cast("boolean"), F.lit(True)), 1
                ).otherwise(0)
            ).alias(f"c{i}")
            for i, e in enumerate(exprs)
        ]
        probe = df.agg(*flags)
        self._audit_plan(f"check:{meta.name}", probe)
        row = probe.first()
        for i, e in enumerate(exprs):
            if row[i] == 1:
                raise ValueError(
                    f"CHECK constraint violated on {meta.name}: {e}"
                )

    def _reject_explicit_null_identities(self, stmt, src, cols) -> None:
        """The reference's DEFAULT-vs-NULL distinction for identity
        columns (create-table.md Identity Columns; Derby 23502): an
        identity column is implicitly NOT NULL, so `VALUES (NULL, ...)`
        into it ERRORS while `VALUES (DEFAULT, ...)` assigns the next
        sequence value.  The parser records which VALUES positions
        carried a literal NULL (dialect._values_defaults_to_null);
        positions map through the explicit column list when present,
        else the table's column order."""
        null_pos = stmt.options.get("explicit_null_positions")
        if not null_pos or not self.catalog.exists(stmt.table.lower()):
            return
        meta = self.catalog.load_meta(stmt.table.lower())
        idents = {i["column"] for i in self._meta_identities(meta)}
        if not idents:
            return
        if cols:
            names = [c.lower() for c in cols]
        else:
            # positional VALUES without a column list target the table's
            # declared order
            names = [
                f.name.lower()
                for f in self._read_table(stmt.table).schema.fields
            ]
        hit = [
            names[p] for p in null_pos if p < len(names) and names[p] in idents
        ]
        if hit:
            raise ValueError(
                f"cannot insert NULL into identity column(s) "
                f"{sorted(set(hit))} of {stmt.table} (23502) — use DEFAULT "
                "or omit the column to assign the next sequence value"
            )

    def _meta_identities(self, meta: TableMeta) -> list:
        raw = meta.options.get("identities")
        if not raw:
            return []
        return json.loads(raw)

    def _assign_identities(self, meta: TableMeta, df: DataFrame) -> DataFrame:
        """GENERATED ... AS IDENTITY assignment (create-table.md Identity
        Columns): NULLs in an identity column receive the next values of
        the persisted arithmetic sequence (START WITH / INCREMENT BY).
        GENERATED ALWAYS rejects user-supplied values — insert DEFAULT
        (parsed to NULL) or omit the column from the insert list.  The
        generated values are unique per the reference's contract;
        assignment order within a batch is unspecified (Derby's is too).
        The sequence cursor persists in the catalog so it survives
        sessions; per-table write serialization keeps it race-free.

        Values come from a two-phase distributed prefix sum (the
        txt_pack_sequences discipline, operators/pipeline_ops.py): a
        per-partition row_number window (parallel) plus each partition's
        broadcast prefix offset — NOT an unpartitioned
        Window.orderBy(monotonically_increasing_id()), which funnels the
        whole batch through one task.  The tagged frame is persisted so
        partition ids — and therefore the generated values — are
        identical across the validation probes and the final write even
        over a nondeterministic source; insert()/put() release the pin
        after the write."""
        idents = self._meta_identities(meta)
        if not idents:
            return df
        changed = False
        for ident in idents:
            col, inc = ident["column"], ident["increment"]
            if col not in df.columns:
                df = df.withColumn(col, F.lit(None).cast("long"))
            # ONE aggregation job answers both questions this column
            # needs (a separate ALWAYS-gate probe plus a per-pid
            # null-count pass would scan the batch twice):
            # per-partition (nulls, non-nulls) gives the ALWAYS gate via
            # any(non-nulls) and the prefix-sum offsets via the null
            # counts.  The persist also materializes under the same job,
            # pinning partition ids for the validation/write replays.
            tagged_all = (
                df.withColumn("__pid", F.spark_partition_id()).persist()
            )
            self._statement_pins().append(tagged_all)
            stats = (
                tagged_all.groupBy("__pid")
                .agg(
                    F.count(F.when(F.col(col).isNull(), 1)).alias("__nulls"),
                    F.count(
                        F.when(F.col(col).isNotNull(), 1)
                    ).alias("__vals"),
                )
                .collect()
            )
            if any(r["__vals"] for r in stats) and ident["always"]:
                raise ValueError(
                    f"cannot insert a value into GENERATED ALWAYS identity "
                    f"column {col} of {meta.name} — use DEFAULT or omit "
                    "the column"
                )
            done = tagged_all.filter(F.col(col).isNotNull()).drop("__pid")
            tagged = tagged_all.filter(F.col(col).isNull())
            n = sum(r["__nulls"] for r in stats)
            if n == 0:
                continue
            run, offs = 0, []
            for r in sorted(stats, key=lambda r: r["__pid"]):
                if r["__nulls"]:
                    offs.append((int(r["__pid"]), run))
                    run += int(r["__nulls"])
            off_df = self.spark.createDataFrame(offs, "__pid int, __off long")
            rn = F.row_number().over(
                Window.partitionBy("__pid").orderBy(
                    F.monotonically_increasing_id()
                )
            )
            dtype = dict(df.dtypes)[col]
            assigned = (
                tagged.join(F.broadcast(off_df), "__pid")
                .withColumn(
                    col,
                    (
                        F.lit(ident["next"])
                        + (F.col("__off") + rn - 1) * F.lit(inc)
                    ).cast(dtype),
                )
                .drop("__pid", "__off")
            )
            df = done.unionByName(assigned)
            ident["next"] = ident["next"] + n * inc
            changed = True
        if changed:
            meta.options["identities"] = json.dumps(idents)
            self.catalog.save_meta(meta)
        return df

    def _audit_plan(self, tag: str, df: DataFrame) -> None:
        """Mutation-path plan capture (tools/audit_plans.py companion):
        when `_plan_audit_log` is a list, record (tag, executedPlan text)
        for every frame the write/validation paths are about to execute.
        The registry sweep only sees SELECT plans, so a mutation-only
        plan regression (an identity global window) would otherwise go
        unseen.  Off (None) outside tests: executedPlan() forces planning
        work per write."""
        if self._plan_audit_log is None:
            return
        try:
            self._plan_audit_log.append(
                (tag, df._jdf.queryExecution().executedPlan().toString())
            )
        except Exception:  # noqa: BLE001 — audit must never break writes
            pass

    def _pin_source(self, df: DataFrame) -> DataFrame:
        """A keyed mutation's source, as every evaluation in the
        statement will read it: its bucket ids or claim tokens, its anti
        join and its written rows.  These evaluations are planned in
        different shapes, and a source such as ``t.limit(5)`` picks
        different rows in each, so a source whose optimized plan holds a
        limit, a sample or a nondeterministic expression is persisted
        until the statement ends (a statement pin).  Other sources,
        inline VALUES batches among them, read the same rows every time
        and are used as they are."""
        if df.storageLevel != StorageLevel.NONE:
            return df  # already pinned (a transaction's staged source)
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if not node.deterministic() or node.nodeName() in _UNSTABLE_NODES:
                pinned = df.persist()
                self._statement_pins().append(pinned)
                return pinned
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        return df

    def _statement_pins(self) -> list[DataFrame]:
        """This thread's frames persisted for its running statements.
        Sessions are shared across threads (like _scope_stack), so a
        statement must never release a pin another thread's statement
        is still reading."""
        tl = self._pin_tl
        if not hasattr(tl, "pins"):
            tl.pins = []
        return tl.pins

    def _release_pins(self, mark: int = 0) -> None:
        """Unpersist this thread's pins above `mark`, the pin count when
        the releasing statement began: a nested statement (a PUT into an
        empty table runs insert) keeps its caller's pins."""
        pins = self._statement_pins()
        for p in pins[mark:]:
            try:
                p.unpersist()
            except Exception:  # noqa: BLE001 — session teardown race
                pass
        del pins[mark:]

    # (create-table.md:341-366 — GemFireXD row-DDL constraint surface:
    # UNIQUE disallows NULLs; an FK row with any NULL component is
    # wholly NULL and passes; FK values must exist in the referenced
    # table's primary-key/unique columns.)

    def _meta_uniques(self, meta: TableMeta) -> list:
        raw = meta.options.get("uniques")
        if not raw:
            return []
        return json.loads(raw)

    def _meta_fks(self, meta: TableMeta) -> list:
        raw = meta.options.get("foreign_keys")
        if not raw:
            return []
        return json.loads(raw)

    def _validate_uniques_full(self, meta: TableMeta, post_df: DataFrame) -> None:
        """Enforce UNIQUE over a frame that IS the table's full
        post-write state (create/overwrite/update paths): one grouped
        count per constraint — a violation is a >1 group or any NULL."""
        if self._skip_constraints():
            return
        for cols in self._meta_uniques(meta):
            null_pred = None
            for c in cols:
                p = F.col(c).isNull()
                null_pred = p if null_pred is None else (null_pred | p)
            probe = (
                post_df.groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter((F.col("__n") > 1) | null_pred)
                .limit(1)
            )
            self._audit_plan(f"unique_full:{meta.name}", probe)
            bad = probe.count()
            if bad:
                raise ValueError(
                    f"UNIQUE constraint ({', '.join(cols)}) violated on "
                    f"{meta.name} (duplicate or NULL value)"
                )

    def _validate_uniques_incremental(
        self, meta: TableMeta, batch: DataFrame, exclude_keys: list | None = None
    ) -> None:
        """Enforce UNIQUE for an incoming batch (insert/put): the batch
        itself must be NULL-free and duplicate-free on the unique
        columns, and must not collide with EXISTING rows — probed with
        one column-pruned anti/equi join per constraint instead of a
        full-table grouped scan (the batch is small; the table is not).
        `exclude_keys` (the PUT path) removes existing rows whose key
        the batch replaces before the collision probe."""
        uniques = self._meta_uniques(meta)
        if not uniques or self._skip_constraints():
            return
        existing = self._mutation_target(meta.name)
        for cols in uniques:
            null_pred = None
            for c in cols:
                p = F.col(c).isNull()
                null_pred = p if null_pred is None else (null_pred | p)
            probe = (
                batch.groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter((F.col("__n") > 1) | null_pred)
                .limit(1)
            )
            self._audit_plan(f"unique_batch:{meta.name}", probe)
            bad = probe.count()
            if bad:
                raise ValueError(
                    f"UNIQUE constraint ({', '.join(cols)}) violated by "
                    f"write batch into {meta.name} (duplicate or NULL)"
                )
            if existing is None:
                continue
            surviving = existing
            if exclude_keys:
                surviving = mutate._anti_on_keys(existing, batch, exclude_keys)
            probe = (
                surviving.select(*cols)
                .join(batch.select(*cols).distinct(), list(cols), "inner")
                .limit(1)
            )
            self._audit_plan(f"unique_clash:{meta.name}", probe)
            clash = probe.count()
            if clash:
                raise ValueError(
                    f"UNIQUE constraint ({', '.join(cols)}) violated: "
                    f"write batch collides with existing rows of {meta.name}"
                )

    def _validate_fks(self, meta: TableMeta, rows: DataFrame) -> None:
        """Enforce FOREIGN KEY on written rows: every row whose FK
        components are ALL non-null must match the referenced columns
        (left-anti probe against the parent's distinct key projection —
        column-pruned, never a full parent materialization).  Rows with
        any NULL component pass (the reference's documented rule)."""
        if self._skip_constraints():
            return
        for fk in self._meta_fks(meta):
            cols, rt, rcols = fk["columns"], fk["ref_table"], fk["ref_columns"]
            if not self.catalog.exists(rt):
                raise ValueError(
                    f"FOREIGN KEY on {meta.name} references missing table {rt}"
                )
            nonnull = rows
            for c in cols:
                nonnull = nonnull.filter(F.col(c).isNotNull())
            parent = self._mutation_target(rt)
            if parent is None:
                if nonnull.limit(1).count():
                    raise ValueError(
                        f"FOREIGN KEY ({', '.join(cols)}) on {meta.name}: "
                        f"referenced table {rt} is empty"
                    )
                continue
            ref = parent.select(
                *[F.col(rc).alias(c) for rc, c in zip(rcols, cols)]
            ).distinct()
            probe = (
                nonnull.select(*cols).join(ref, list(cols), "left_anti").limit(1)
            )
            self._audit_plan(f"fk_probe:{meta.name}", probe)
            missing = probe.count()
            if missing:
                raise ValueError(
                    f"FOREIGN KEY ({', '.join(cols)}) on {meta.name}: value "
                    f"not present in {rt}({', '.join(rcols)})"
                )

    def _referencing_fks(self, parent: str) -> list:
        """(child_table, fk) pairs for every catalog table whose FOREIGN
        KEY references `parent` — the parent-side lookup for delete/drop
        RESTRICT (the reference's NO ACTION default)."""
        out = []
        for t in self.catalog.list_tables():
            try:
                m = self.catalog.load_meta(t)
            except Exception:
                continue
            for fk in self._meta_fks(m):
                if fk["ref_table"] == parent:
                    out.append((t, fk))
        return out

    def _assert_no_fk_orphans(self, parent_meta: TableMeta, survivors) -> None:
        """Parent-side NO ACTION: reject a delete/truncate/drop of parent
        rows still referenced by a child FK.  `survivors` is the parent's
        post-operation frame (None = table emptied/dropped).  Per child:
        one anti-join of its non-null FK projection against the
        surviving referenced values."""
        if self._skip_constraints():
            return
        refs = self._referencing_fks(parent_meta.name)
        for child, fk in refs:
            cols, rcols = fk["columns"], fk["ref_columns"]
            child_df = self._mutation_target(child)
            if child_df is None:
                continue
            nonnull = child_df
            for c in cols:
                nonnull = nonnull.filter(F.col(c).isNotNull())
            if survivors is None:
                if nonnull.limit(1).count():
                    raise ValueError(
                        f"cannot remove rows from {parent_meta.name}: "
                        f"referenced by FOREIGN KEY on {child}"
                    )
                continue
            ref = survivors.select(
                *[F.col(rc).alias(c) for rc, c in zip(rcols, cols)]
            ).distinct()
            probe = (
                nonnull.select(*cols).join(ref, list(cols), "left_anti").limit(1)
            )
            self._audit_plan(f"fk_orphan:{parent_meta.name}", probe)
            orphan = probe.count()
            if orphan:
                raise ValueError(
                    f"delete from {parent_meta.name} would orphan FOREIGN "
                    f"KEY rows in {child} (NO ACTION)"
                )

    @staticmethod
    def _parse_size(v) -> int:
        """'24m' / '128k' / '1g' / plain bytes → int bytes (the
        reference's size-literal vocabulary for batchSize options)."""
        s = str(v).strip().lower()
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        if s and s[-1] in mult:
            return int(float(s[:-1]) * mult[s[-1]])
        return int(float(s))

    @_serialized
    def insert(self, name: str, df: DataFrame) -> None:
        """INSERT INTO (append) — SnappySession.insert:1990-2029."""
        self._check_write_priv(name, "insert")
        meta = self.catalog.load_meta(name.lower())
        mark = len(self._statement_pins())
        try:
            if self._skip_constraints() and meta.key_columns:
                # skip-constraint-checks.md: PK constraints survive the
                # bypass because the reference executes keyed inserts as
                # PUT INTO — only the last value per key remains.  Route
                # BEFORE identity assignment: put() assigns identities
                # itself, and pre-assigned GENERATED ALWAYS values would
                # trip its user-supplied-value rejection.
                if self._mutation_target(name) is not None:
                    self.put(name, df)
                    return
            df = self._assign_identities(meta, df)
            if self._skip_constraints() and meta.key_columns:
                df = mutate.conflate_last(df, meta.key_columns)
            self._validate_checks(meta, df)
            self._validate_uniques_incremental(meta, df)
            self._validate_fks(meta, df)
            self._write(df, meta, mode="append")
        finally:
            self._release_pins(mark)
        self._maybe_flush_small_files(name, meta)
        self._refresh_view(name)

    def _maybe_flush_small_files(self, name: str, meta: TableMeta) -> None:
        """The reference's delta-row-buffer flush at file granularity
        (ColumnMaxDeltaRows, Literals.scala:138-146: small writes buffer
        in a row store and flush into a column batch at maxDeltaRows
        rows): when the table's SMALL files accumulate at least
        maxDeltaRows rows, merge just those files into column-batch-sized
        ones — big files are never touched, so the flush cost is bounded
        by the buffered tail, not table size.  This is what keeps
        trickle-insert workloads from degrading scans at 100 TB (every
        append adds a file; unchecked, file count grows without bound).

        Activation mirrors the reference: the table option
        `maxDeltaRows` or the session conf
        `snappydata.column.maxDeltaRows` (0/absent = off, the historical
        inert behavior).  'Small' = under the column-batch target
        (snappydata.column.batchSize, default 24m)."""
        limit = int(
            meta.options.get("maxdeltarows")
            or self.get_conf("snappydata.column.maxdeltarows", 0)
            or 0
        )
        if not limit:
            return
        # opportunistic maintenance must not run beside blast-radius
        # claim holders (it merges files it didn't claim) — a downgraded
        # or claim-adjacent writer just skips; the next quiet write
        # flushes instead
        scope = self._current_write_scope()
        if scope is not None and scope.downgraded:
            return
        if self._claims(name).has_others(scope.owner if scope else None):
            return
        cname = self._canon(name)
        live = self._live_files(cname)
        if live is None or len(live) < 2:
            return
        batch_bytes = self._parse_size(
            meta.options.get("batchsize")
            or self.get_conf("snappydata.column.batchsize", "24m")
        )
        small = [f for f in live if os.path.getsize(f) < batch_bytes]
        if len(small) < 2:
            return
        try:
            import pyarrow.parquet as pq

            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in small)
        except Exception:  # noqa: BLE001 — footer unreadable: skip flush
            return
        if rows < limit:
            return
        schema = self._read_table(name).schema
        total = sum(os.path.getsize(f) for f in small)
        n_out = max(1, -(-total // batch_bytes))
        merged = self._read_files(schema, small).coalesce(n_out)
        self._replace_files(meta, small, merged)

    @_serialized
    def put(self, name: str, df: DataFrame) -> None:
        """PUT INTO (upsert on key_columns) — SnappySession.put:2031-2117.

        File-pruned: only data files holding a matched key are rewritten
        (their unmatched rows kept, matched rows dropped); ALL source rows
        are appended as new files.  A put whose keys match nothing touches
        zero existing files — it degenerates to a pure insert."""
        self._check_write_priv(name, "insert")
        meta = self.catalog.load_meta(name.lower())
        mark = len(self._statement_pins())
        try:
            df = self._pin_source(self._assign_identities(meta, df))
            self._validate_checks(meta, df)
            keys = meta.key_columns or meta.partition_by
            if not keys:
                # must fail BEFORE the pruned path: keys=[] would make the
                # semi-join conditionless (every file "affected") and the
                # anti-join keep nothing — silently replacing the whole table
                raise ValueError(
                    f"PUT INTO {name} requires key_columns (or partition_by)"
                )
            # duplicate keys within one batch conflate to the LAST occurrence
            # (CDC keep-last discipline) BEFORE any path — the pruned path
            # unions the source verbatim, so an unconflated batch would write
            # two rows under one key.  Bucket ids and claim tokens read the
            # raw batch: conflation keeps its key set, and the raw batch
            # yields them without planning the conflating window
            raw, df = df, mutate.conflate_last(df, keys)
            self._validate_uniques_incremental(meta, df, exclude_keys=keys)
            self._validate_fks(meta, df)
            target = self._mutation_target(name)
            if target is None:  # empty table: put == insert
                self.insert(name, df)
                return
            # parent-side NO ACTION: a PUT replaces whole rows by key, so
            # a child-REFERENCED non-key column (FKs may reference UNIQUE
            # columns) can change and orphan child rows.  Ref columns that
            # are a subset of the PUT key cannot change (same key = same
            # value) — the common references-the-PK case costs nothing.
            key_set = {k.lower() for k in keys}
            if any(
                not set(fk["ref_columns"]) <= key_set
                for _, fk in self._referencing_fks(meta.name)
            ):
                self._assert_no_fk_orphans(
                    meta, mutate.put_into_df(target, df, keys)
                )
            files = self._bucket_affected_files(meta, raw, keys)
            if files is None:
                files = self._affected_files(target, source=raw, keys=keys)
            # key tokens guard the empty-radius case: two concurrent PUTs
            # of the same NEW key touch zero common files but must still
            # serialize, or both would append and duplicate the key
            self._scope_gate(meta, files, key_source=(raw, keys))
            touched = self._read_files(target.schema, files)
            keep = mutate._anti_on_keys(touched, raw, keys).select(*target.columns)
            self._replace_files(
                meta, files, keep.unionByName(df.select(*target.columns))
            )
        finally:
            self._release_pins(mark)
        self._maybe_flush_small_files(name, meta)

    @_serialized
    def update(self, name: str, where, assignments: dict, alias: str | None = None) -> None:
        """UPDATE t SET ... WHERE ... — SnappySession.update:2054-2100.
        Key columns are immutable under UPDATE (the reference rejects
        SET on a key column; change-of-key is a DELETE + PUT).

        File-pruned: only files that can hold a matched row are
        rewritten — the reference's ColumnDeltaEncoder writes deltas per
        column batch (ColumnDelta.scala:16-75), this is the same
        blast-radius contract at file granularity.  On a bucketed table
        whose predicate fixes the bucket column (``WHERE k IN (1, 2)``)
        the files come from the planner's bucket set with no Spark job
        (_planned_bucket_files); otherwise a predicate scan (parquet
        min/max pushdown prunes row groups) finds the files containing
        matched rows (_affected_files).  An UPDATE matching no row
        commits nothing on either path."""
        self._check_write_priv(name, "update")
        meta = self.catalog.load_meta(name.lower())
        bad = [c for c in assignments if c.lower() in meta.key_columns]
        if bad:
            raise ValueError(f"cannot UPDATE key column(s) {bad} of {name}")
        always = {
            i["column"] for i in self._meta_identities(meta) if i["always"]
        }
        bad_id = [c for c in assignments if c.lower() in always]
        if bad_id:
            raise ValueError(
                f"cannot UPDATE GENERATED ALWAYS identity column(s) "
                f"{bad_id} of {name} (create-table.md Identity Columns)"
            )
        target = self._mutation_target(name)
        if target is None:
            return
        if alias:
            # qualified refs (incl. correlated-subquery OUTER refs) bind
            # against the aliased target frame
            target = target.alias(alias)
        # constraint gates fire only when SET touches a constrained
        # column: UNIQUE needs the full post-update state (a rewritten
        # value can collide with an untouched row), FK re-probes the
        # parent for the post-image rows
        assigned = {c.lower() for c in assignments}
        uq_hit = any(
            assigned & set(cols) for cols in self._meta_uniques(meta)
        )
        fk_hit = [
            fk for fk in self._meta_fks(meta)
            if assigned & set(fk["columns"])
        ]
        # parent-side NO ACTION: SET on a column some child FK REFERENCES
        # (FKs may reference UNIQUE / non-key columns) can rewrite a
        # referenced value away and orphan the child rows — probe the
        # post-update parent state like delete() does
        ref_hit = any(
            assigned & set(fk["ref_columns"])
            for _, fk in self._referencing_fks(meta.name)
        )
        files = self._planned_bucket_files(meta, target, where)
        planned = files is not None
        if not planned:
            files = self._affected_files(target, pred=where)
        if not files:
            return  # nothing matched: zero writes
        self._scope_gate(meta, files)
        if uq_hit:
            self._validate_uniques_full(
                meta, mutate.update_df(target, where, assignments)
            )
        if ref_hit:
            self._assert_no_fk_orphans(
                meta, mutate.update_df(target, where, assignments)
            )
        touched = self._read_files(target.schema, files)
        if alias:
            touched = touched.alias(alias)
        updated = mutate.update_df(touched, where, assignments)
        self._validate_checks(meta, updated)
        if fk_hit:
            self._validate_fks(meta, updated)
        hits = None
        if planned:
            # observed on a fresh frame: an observation keeps only the
            # first action's count, and the validations ran their own
            touched, hits = _observe_hits(touched, where)
            updated = mutate.update_df(touched, where, assignments)
        self._replace_files(meta, files, updated, hits)

    @_serialized
    def delete(self, name: str, where, alias: str | None = None) -> None:
        """DELETE FROM t WHERE ... — SnappySession.delete:2119.  File-pruned
        like update(), through the planner's bucket set when the
        predicate fixes the bucket column, else the predicate scan; a
        DELETE matching no row commits nothing.  The reference's
        analogue is the per-batch delete bitmap
        (ColumnDeleteEncoder.scala:39)."""
        self._check_write_priv(name, "delete")
        meta = self.catalog.load_meta(name.lower())
        target = self._mutation_target(name)
        if target is None:
            return
        if alias:
            target = target.alias(alias)
        if self._referencing_fks(meta.name):
            # parent-side NO ACTION: the post-delete survivors must still
            # cover every child's non-null FK values
            self._assert_no_fk_orphans(meta, mutate.delete_df(target, where))
        files = self._planned_bucket_files(meta, target, where)
        planned = files is not None
        if not planned:
            files = self._affected_files(target, pred=where)
        if not files:
            return
        self._scope_gate(meta, files)
        touched = self._read_files(target.schema, files)
        if alias:
            touched = touched.alias(alias)
        hits = None
        if planned:
            touched, hits = _observe_hits(touched, where)
        self._replace_files(meta, files, mutate.delete_df(touched, where), hits)

    @_serialized
    def delete_from(self, name: str, df: DataFrame) -> None:
        """df.write.deleteFrom(t) (SnappyImplicits.scala:209-222)."""
        self._check_write_priv(name, "delete")
        meta = self.catalog.load_meta(name.lower())
        keys = meta.key_columns or meta.partition_by
        if not keys:
            raise ValueError(
                f"deleteFrom {name} requires key_columns (or partition_by) "
                "— keys=[] would wipe every row, not match none"
            )
        target = self._mutation_target(name)
        if target is None:
            return
        mark = len(self._statement_pins())
        try:
            df = self._pin_source(df)
            if self._referencing_fks(meta.name):
                self._assert_no_fk_orphans(
                    meta, mutate.delete_from_df(target, df, keys)
                )
            files = self._bucket_affected_files(meta, df, keys)
            if files is None:
                files = self._affected_files(target, source=df, keys=keys)
            if not files:
                return
            self._scope_gate(meta, files, key_source=(df, keys))
            touched = self._read_files(target.schema, files)
            self._replace_files(
                meta, files, mutate._anti_on_keys(touched, df, keys).select(*target.columns)
            )
        finally:
            self._release_pins(mark)

    def _apply_column_list(self, name: str, src: DataFrame, cols: list[str]) -> DataFrame:
        """ANSI column-list DML (INSERT/PUT INTO t (a, b) ...): the
        source's columns bind positionally to the LISTED columns; every
        unlisted table column is filled with NULL."""
        fields = self._read_table(name).schema.fields  # schema-only access
        known = {f.name.lower() for f in fields}
        unknown = [c for c in cols if c not in known]
        if unknown:
            raise ValueError(f"unknown column(s) {unknown} in INSERT column list for {name}")
        if len(src.columns) != len(cols):
            raise ValueError(
                f"column list names {len(cols)} column(s) but the source "
                f"provides {len(src.columns)}"
            )
        named = src.toDF(*cols)
        listed = set(cols)
        return named.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name.lower() in listed
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in fields
            ]
        )

    def _align_source(self, name: str, src: DataFrame) -> DataFrame:
        """SQL INSERT/PUT sources bind POSITIONALLY (ANSI semantics; the
        inline-table form arrives as col1..colN): rename + cast the source
        to the target's schema when arities match and names differ."""
        # schema-only access: an INSERT-privileged user needs no SELECT
        # grant to append (grant.md — privileges are independent)
        return self._align_fields(self._read_table(name).schema.fields, src)

    @staticmethod
    def _align_fields(fields, src: DataFrame) -> DataFrame:
        if len(src.columns) != len(fields):
            return src
        if [c.lower() for c in src.columns] == [f.name.lower() for f in fields]:
            return src
        renamed = src.toDF(*[f.name for f in fields])
        return renamed.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields]
        )

    def _merge(self, stmt) -> None:
        """MERGE INTO dispatch (ANSI one-statement form of the PUT INTO +
        deleteFrom composition, ColumnTableBulkOps.scala:46-120).  When
        the ON condition is a pure key-equality conjunction the rewrite is
        file-pruned exactly like put/update: files holding a matched key
        are rewritten, everything else is untouched; matched-ness against
        the pruned subset equals matched-ness against the full table
        because _affected_files returns EVERY file containing a source
        key."""
        o = stmt.options
        name = stmt.table.lower()
        return self._run_exclusive(
            name, lambda: self._merge_locked(stmt, o, name)
        )

    def _merge_locked(self, stmt, o, name) -> None:
        from snappydata_spark.dialect import equi_key_pairs

        meta = self.catalog.load_meta(name)
        using = o["using"].strip()
        src_sql = using[1:-1] if using.startswith("(") else f"SELECT * FROM {using}"
        self._resolve_read_access(src_sql)
        source = self.spark.sql(src_sql)
        target = self._mutation_target(name)
        if target is None:  # empty table: only the insert branch can fire
            if o["insert"] is not None:
                icond, imap = o["insert"]
                # the insert condition/column list reference the source by
                # its MERGE alias (s.col) — alias the frame or they can't
                # resolve (MERGE right after TRUNCATE takes this branch)
                src2 = source.alias(o["s_alias"]) if o["s_alias"] else source
                if icond:
                    src2 = src2.filter(F.expr(icond))
                if imap:
                    src2 = src2.select(*[F.expr(v).alias(k) for k, v in imap.items()])
                else:
                    # INSERT * — drop the alias wrapper back to plain cols
                    src2 = src2.select(*source.columns)
                self.insert(name, src2)
            return None

        def _result(tgt: DataFrame) -> DataFrame:
            return mutate.merge_df(
                tgt,
                source,
                o["on"],
                o["matched"],
                o["insert"],
                t_alias=o["t_alias"],
                s_alias=o["s_alias"],
            )

        pairs = equi_key_pairs(o["on"], o["t_alias"], o["s_alias"])
        files = None
        if pairs:
            keyed_src = source.select(
                *[F.col(s_c).alias(t_c) for t_c, s_c in pairs]
            )
            mkeys = [t_c for t_c, _ in pairs]
            files = self._bucket_affected_files(meta, keyed_src, mkeys)
            if files is None:
                files = self._affected_files(target, source=keyed_src, keys=mkeys)
        if files is None:
            res = _result(target)
            self._validate_checks(meta, res)
            if self._meta_uniques(meta):
                self._validate_uniques_full(meta, res)
            self._validate_fks(meta, res)
            self._rewrite(res, meta)
            return None
        if self._meta_uniques(meta):
            # pruned path rewrites only touched files — UNIQUE collisions
            # with untouched rows need the full post-merge frame
            self._validate_uniques_full(meta, _result(target))
        touched = self._read_files(target.schema, files)
        res = _result(touched)
        self._validate_checks(meta, res)
        self._validate_fks(meta, res)
        self._replace_files(meta, files, res)
        return None

    # ------------------------------------------- SQL statement handlers

    def _sql_source(self, stmt) -> DataFrame:
        """The source rows of PUT INTO / INSERT INTO, bound to the
        target's columns (by the statement's column list, else by
        position)."""
        self._resolve_read_access(stmt.source_sql)
        src = self.spark.sql(self._tx_reads(stmt.source_sql))
        cols = stmt.options.get("columns")
        self._reject_explicit_null_identities(stmt, src, cols)
        if cols:
            return self._apply_column_list(stmt.table, src, cols)
        return self._align_source(stmt.table, src)

    def _sql_put(self, stmt) -> None:
        self.put(stmt.table, self._sql_source(stmt))

    def _sql_insert_select(self, stmt):
        if not self.catalog.exists(stmt.table):
            return NotImplemented
        self.insert(stmt.table, self._sql_source(stmt))

    def _sql_insert_overwrite(self, stmt):
        if not self.catalog.exists(stmt.table):
            return NotImplemented
        # full replace; _rewrite stages to a tmp dir first, which also
        # legalizes self-referencing overwrites (INSERT OVERWRITE t
        # SELECT ... FROM t — Spark rejects overwrite-while-reading)
        self._resolve_read_access(stmt.source_sql)

        # same per-table serialization as insert/put/update, PLUS a
        # claims drain (_run_exclusive): an unlocked overwrite racing
        # a concurrent append could commit a manifest that tombstones
        # the append's files, and a lock-only overwrite racing a
        # DOWNGRADED claim holder would be resurrected by the
        # holder's later commit
        def _overwrite_body():
            meta = self.catalog.load_meta(stmt.table.lower())
            aligned = self._align_source(
                stmt.table, self.spark.sql(stmt.source_sql)
            )
            self._validate_checks(meta, aligned)
            self._validate_uniques_full(meta, aligned)
            self._validate_fks(meta, aligned)
            if self._referencing_fks(meta.name):
                self._assert_no_fk_orphans(meta, aligned)
            self._rewrite(aligned, meta)

        self._run_exclusive(stmt.table.lower(), _overwrite_body)
