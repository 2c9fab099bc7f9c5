"""Explicit transactions, session settings and the persisted catalog
registry."""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, functions as F

from snappydata_spark import mutate
from snappydata_spark.catalog import write_json_atomic
from snappydata_spark.dialect import sub_outside_quotes
from snappydata_spark.session.locks import LockTimeout, TransactionConflict


class TransactionMixin:
    def begin_transaction(self, isolation: str | None = None) -> None:
        """Explicit transaction (reference: JDBC tx isolation levels for
        row tables, use_transactions_isolation_levels.md; snapshot tx
        semantics consistency/using_transactions_row.md).  Mutations of
        ROW tables buffer until commit(); reads in THIS session see the
        buffered state (read-your-writes), other sessions never see
        uncommitted data.  Commit takes all touched-table locks, checks
        an optimistic write-write condition (table unchanged since first
        touch — the reference's write-lock failure → auto-rollback
        becomes TransactionConflict here), then applies every buffered
        op.  Application is crash-atomic ACROSS tables: manifests
        stage first, ONE intent record is the commit point, and a crash
        mid-publish rolls forward on the next session over the store —
        the manifest-level analogue of the reference's store tx commit
        (SnapshotConnectionListener.scala:395).  Column tables reject
        transactional mutations, as in the reference.  Known limit: a
        VIEW over a touched table still reads the committed base inside
        the transaction — only direct relation references rewrite to the
        overlay."""
        if self._tx is not None:
            raise ValueError("a transaction is already in progress")
        iso = (isolation or self._isolation or "read_committed").lower()
        if iso == "none":
            iso = "read_committed"
        self._tx = {
            "isolation": iso,
            "ops": {},
            "tokens": {},
            "staged_dfs": [],
            # key-level optimistic CC: per table, the set of key tuples
            # this tx writes and a fingerprint of each key's COMMITTED
            # base row at first touch (None key set = table-level mode)
            "keys": {},
            "row_fps": {},
        }

    def _allow_explicit_commit(self) -> bool:
        """allow-explicit-commit connection property
        (configuration_parameters/allow-explicit-commit.md): SQL-client
        tools set autocommit(false) and issue commit/rollback; with the
        property, those calls are the documented no-ops (autocommit
        stays effectively true) instead of errors."""
        return (
            self.get_conf("snappydata.allow-explicit-commit", "false")
            == "true"
        )

    def set_autocommit(self, on: bool) -> None:
        """java.sql.Connection#setAutoCommit analogue (ij/SQL clients:
        AUTOCOMMIT OFF).  With allow-explicit-commit=true the OFF call is
        the documented no-op — autocommit remains effectively true and
        commit/rollback are accepted as no-ops
        (allow-explicit-commit.md).  Without it, OFF opens a real chained
        row-table transaction (commit/rollback immediately reopen the
        next one, JDBC semantics); column-table operations inside it
        raise the reference's documented routing error."""
        if not on:
            if self._allow_explicit_commit():
                return  # documented: autocommit is always effectively true
            self._autocommit = False
            if self._tx is None:
                self.begin_transaction()
            return
        was_off = not self._autocommit
        self._autocommit = True
        if was_off and self._tx is not None:
            self.commit()  # JDBC: enabling autocommit commits the open tx

    def commit(self) -> None:
        tx = self._tx
        if tx is None:
            if self._allow_explicit_commit():
                return  # documented no-op (allow-explicit-commit.md)
            raise ValueError("no transaction in progress")
        self._tx = None  # replay goes through the normal mutation paths
        from contextlib import ExitStack

        try:
            timeout_s = 300.0
            if tx["ops"]:
                timeout_s = self._lock_and_timeout(next(iter(tx["ops"])))[1]
            deadline = time.monotonic() + timeout_s
            while True:
                with ExitStack() as stack:
                    for t in sorted(tx["ops"]):
                        stack.enter_context(self._table_lock(t))
                    # single-statement writers that DOWNGRADED to a
                    # blast-radius claim run outside the table lock —
                    # drain them before replaying (replay assumes
                    # exclusive tables).  New claims can't appear while
                    # we hold every lock (claiming requires the table
                    # lock), so a clean check here is stable.
                    busy = [
                        t
                        for t in sorted(tx["ops"])
                        if self._claims(t).has_others(None)
                    ]
                    if not busy:
                        self._commit_locked(tx)
                        break
                # all locks released: wait out the claim holders, retry
                for t in busy:
                    if not self._claims(t).wait_clear(-1, None, deadline):
                        raise LockTimeout(
                            f"40XL1: commit could not drain claim holders "
                            f"on {t} within gemfirexd.max-lock-wait"
                        )
        finally:
            self._tx_cleanup(tx)
            if not self._autocommit and self._tx is None:
                # chained transactions (JDBC autocommit-off): the next
                # statement runs inside a fresh implicit transaction
                self.begin_transaction()

    def _commit_locked(self, tx: dict) -> None:
        """commit() body once every touched-table lock is held and claim
        holders are drained: optimistic conflict checks, then the
        two-phase cross-table-atomic replay."""
        for t in sorted(tx["ops"]):
            if self._table_snapshot_token(t) == tx["tokens"][t]:
                continue  # table untouched since first touch
            # Key-level check (reference: row write locks /
            # use_transactions_isolation_levels.md — writers on
            # DISJOINT rows of one table both commit): the table
            # changed, but conflict only if a row THIS tx writes
            # was itself changed.  Re-fingerprint the committed
            # rows under our touched keys and compare with the
            # fingerprints taken at stage time.
            touched = tx["keys"].get(t)
            if touched is None:
                raise TransactionConflict(
                    f"table {t} was modified by another writer "
                    "since this transaction first touched it"
                )
            now_fps = self._key_fingerprints(t, touched)
            before_fps = tx["row_fps"].get(t, {})
            changed = [
                k
                for k in touched
                if before_fps.get(k) != now_fps.get(k)
            ]
            if changed:
                raise TransactionConflict(
                    f"row(s) {sorted(changed)[:5]} of {t} were "
                    "modified by another writer since this "
                    "transaction staged its writes"
                )
        # Cross-table crash atomicity (reference: store-level tx,
        # SnapshotConnectionListener.scala:395), two-phase:
        # (1) apply every op with manifest publication DEFERRED —
        #     data files land on disk as invisible orphans and
        #     each table's would-be generation is staged beside
        #     its manifest;
        # (2) write ONE intent record listing every staged
        #     manifest (os.replace — the atomic COMMIT POINT);
        # (3) publish each staged manifest into place and drop
        #     the intent record.
        # A crash before (2) leaves every table on its old
        # generation (staged files are unreferenced garbage); a
        # crash during (3) rolls FORWARD on the next session over
        # the store (_recover_tx_intents).  Index/sample tables
        # maintained by the ops join the same atomic group.
        self._tx_commit_id = uuid.uuid4().hex
        self._staged_manifests = {}
        try:
            for t in sorted(tx["ops"]):
                for kind, args, kwargs in tx["ops"][t]:
                    getattr(self, kind)(t, *args, **kwargs)
            staged = self._staged_manifests
        finally:
            self._staged_manifests = None
        if staged:
            txdir = os.path.join(self.catalog.base_dir, "_tx")
            os.makedirs(txdir, exist_ok=True)
            intent = {
                "tables": {
                    n: {"staged": v["staged"], "gen": v["payload"]["gen"]}
                    for n, v in staged.items()
                }
            }
            ipath = os.path.join(txdir, f"{self._tx_commit_id}.json")
            write_json_atomic(ipath, intent)  # ---- commit point ----
            for n, v in staged.items():
                self._publish_staged(n, v["staged"], v["payload"])
            os.remove(ipath)

    def rollback(self) -> None:
        tx = self._tx
        if tx is None:
            if self._allow_explicit_commit():
                return  # documented no-op (allow-explicit-commit.md)
            raise ValueError("no transaction in progress")
        self._tx = None
        self._tx_cleanup(tx)
        if not self._autocommit:
            self.begin_transaction()

    def _tx_cleanup(self, tx: dict) -> None:
        for df in tx["staged_dfs"]:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001
                pass
        for t in tx["ops"]:
            try:
                self.spark.catalog.dropTempView(self._tx_view_name(t))
            except Exception:  # noqa: BLE001
                pass

    def _tx_reads(self, sql_text: str | None) -> str | None:
        """Rewrite relation references in a READ (e.g. a DML source
        subquery) so touched tables resolve to this transaction's
        overlay views — a staged PUT INTO t SELECT ... FROM t must see
        the transaction's own prior writes."""
        if sql_text is None or self._tx is None or not self._tx["ops"]:
            return sql_text
        touched = set(self._tx["ops"])

        def _sub(tm: re.Match) -> str:
            cn = self._canon(tm.group(2))
            if cn in touched:
                return f"{tm.group(1)} {self._tx_view_name(cn)}"
            return tm.group(0)

        return sub_outside_quotes(
            r"\b(FROM|JOIN)\s+([A-Za-z_][\w.]*)\b", _sub, sql_text, flags=re.I
        )

    def _tx_view_name(self, name: str) -> str:
        return f"snappy_tx_{self._session_id}_{self._canon(name)}"

    def _tx_stage(self, kind: str, name: str, args: tuple, kwargs: dict):
        name = self._canon(name)
        meta = self.catalog.load_meta(name)
        if meta.provider != "row":
            if not self._autocommit:
                # the reference's documented error for column-table ops
                # under autocommit(false) (allow-explicit-commit.md);
                # setting the property makes them no-op-autocommit instead
                raise ValueError(
                    "Operations on column tables are not supported when "
                    "query routing is disabled or autocommit is false "
                    "(set allow-explicit-commit=true to allow them as "
                    "documented no-op autocommit)"
                )
            raise ValueError(
                f"{name} is a column table: transactions are supported "
                "for row tables only (reference semantics)"
            )
        if name not in self._tx["ops"]:
            self._tx["tokens"][name] = self._table_snapshot_token(name)
            self._tx["ops"][name] = []
        # pin DataFrame sources: the staged op must not re-evaluate
        # against a base that later mutations change
        args = tuple(
            a.persist() if isinstance(a, DataFrame) else a for a in args
        )
        for a in args:
            if isinstance(a, DataFrame):
                a.count()
                self._tx["staged_dfs"].append(a)
        self._tx["ops"][name].append((kind, args, kwargs))
        self._tx_record_keys(name, meta, kind, args, kwargs)
        # refresh this session's read-your-writes overlay view
        self._tx_overlay(name).createOrReplaceTempView(self._tx_view_name(name))
        return None

    def _tx_overlay(self, name: str) -> DataFrame:
        """The table as THIS transaction sees it: base state + staged ops
        replayed as pure DataFrame transforms (nothing is written)."""
        name = self._canon(name)
        df = self._read_table(name, tx_bypass=True)
        keys = self.catalog.load_meta(name).key_columns
        fields = df.schema.fields
        for kind, args, kwargs in self._tx["ops"].get(name, []):
            if kind == "insert":
                df = df.unionByName(self._align_fields(fields, args[0]))
            elif kind == "put":
                df = mutate.put_into_df(df, self._align_fields(fields, args[0]), keys)
            elif kind == "update":
                frame = df.alias(kwargs["alias"]) if kwargs.get("alias") else df
                df = mutate.update_df(frame, args[0], args[1])
            elif kind == "delete":
                frame = df.alias(kwargs["alias"]) if kwargs.get("alias") else df
                df = mutate.delete_df(frame, args[0])
            elif kind == "delete_from":
                df = mutate.delete_from_df(df, args[0], keys)
        return df

    _KEYCC_CAP = 100_000  # write-set size above which key-level CC

    # falls back to the table-level token check (the key set and row
    # fingerprints are driver-held state; bulk rewrites don't need
    # per-row precision)

    def _tx_record_keys(self, name: str, meta, kind: str, args, kwargs) -> None:
        """Record the key tuples this staged op writes plus a fingerprint
        of each key's COMMITTED base row, enabling ROW-level optimistic
        conflict detection at commit (reference: row write locks —
        use_transactions_isolation_levels.md; two writers on disjoint
        rows of one table both commit)."""
        tx = self._tx
        keys = meta.key_columns
        if not keys or tx["keys"].get(name, ...) is None:
            tx["keys"][name] = None  # keyless table → table-level mode
            return
        if kind in ("put", "insert", "delete_from"):
            src = args[0].select(*keys)
        else:  # update / delete: rows the predicate matches in the
            # committed base (phantom rows staged by other txs are
            # caught by the token + fingerprint re-read at commit)
            base = self._read_table(name, tx_bypass=True)
            if base is None:
                tx["keys"].setdefault(name, set())
                tx["row_fps"].setdefault(name, {})
                return
            frame = base.alias(kwargs["alias"]) if kwargs.get("alias") else base
            pred = args[0]
            cond = F.expr(pred) if isinstance(pred, str) else pred
            src = frame.filter(F.coalesce(cond, F.lit(False))).select(*keys)
        rows = src.distinct().limit(self._KEYCC_CAP + 1).collect()
        if len(rows) > self._KEYCC_CAP:
            tx["keys"][name] = None
            tx["row_fps"].pop(name, None)
            return
        new_keys = {tuple(r) for r in rows}
        seen = tx["keys"].setdefault(name, set())
        fps = tx["row_fps"].setdefault(name, {})
        fresh = new_keys - seen
        if fresh:
            fps.update(self._key_fingerprints(name, fresh))
        seen |= new_keys

    def _key_fingerprints(self, name: str, key_tuples) -> dict:
        """{key_tuple: md5(row-json)} over the COMMITTED rows of `name`
        whose key is in `key_tuples` (absent keys are simply missing —
        a row that appears or disappears flips the comparison)."""
        if not key_tuples:
            return {}
        keys = self.catalog.load_meta(name).key_columns
        base = self._read_table(name, tx_bypass=True)
        if base is None:
            return {}
        kschema = base.select(*keys).schema
        kdf = self.spark.createDataFrame(
            [list(k) for k in key_tuples], kschema
        )
        fp = F.md5(
            F.to_json(F.struct(*[F.col(c) for c in sorted(base.columns)]))
        )
        rows = base.join(F.broadcast(kdf), keys).select(
            *keys, fp.alias("__fp")
        ).collect()
        return {tuple(r[:-1]): r[-1] for r in rows}

    def _table_snapshot_token(self, name: str):
        """Cheap change token for optimistic conflict detection: manifest
        generation where one exists, else the live file listing."""
        name = self._canon(name)
        m = self._load_manifest(name)
        if m is not None:
            return ("manifest", m["gen"])
        return ("files", tuple(self._list_data_files(name)))

    def set_current_schema(self, schema: str, create_if_not_exists: bool = True) -> None:
        """setCurrentSchema (SnappySession.scala:1725; SQL: SET SCHEMA x /
        USE x): unqualified table names in subsequent statements resolve
        against `schema`.  APP (the reference default) and `default` mean
        the root namespace."""
        self.current_schema = schema.strip().lower()
        self.plan_cache.clear()  # cached plans bound names in the old schema

    @property
    def _registry_path(self) -> str:
        return os.path.join(self.catalog.base_dir, "_registry.json")

    def _load_registry(self) -> None:
        try:
            with open(self._registry_path) as f:
                data = json.load(f)
            self._indexes = {
                k: (v[0], list(v[1])) for k, v in data.get("indexes", {}).items()
            }
            self._ann_indexes = dict(data.get("ann_indexes", {}))
            self._policies = {
                k: tuple(v) for k, v in data.get("policies", {}).items()
            }
            self._grants = {}
            for k, v in data.get("grants", {}).items():
                if isinstance(v, dict):
                    self._grants[k] = {u: set(p) for u, p in v.items()}
                else:
                    # older registries stored a flat SELECT user list
                    self._grants[k] = {u: {"select"} for u in v}
            self._rls = set(data.get("rls", []))
            self._packages = dict(data.get("packages", {}))
            self._views = dict(data.get("views", {}))
            self._synonyms = dict(data.get("synonyms", {}))
            self._diskstores = dict(data.get("diskstores", {}))
        except FileNotFoundError:
            pass

    def _save_registry(self) -> None:
        # atomic replace (same discipline as table manifests): a crash
        # mid-write must not leave a truncated registry, and a concurrent
        # fresh session must never read a partial file
        write_json_atomic(
            self._registry_path,
            {
                "indexes": self._indexes,
                "ann_indexes": self._ann_indexes,
                "policies": self._policies,
                "grants": {
                    k: {u: sorted(p) for u, p in v.items()}
                    for k, v in self._grants.items()
                },
                "rls": sorted(self._rls),
                "packages": self._packages,
                "views": self._views,
                "synonyms": self._synonyms,
                "diskstores": self._diskstores,
            },
            indent=2,
        )

    def set_conf(self, key: str, value) -> None:
        """Engine config surface (Literals.scala:122-310, SET DDL :932).
        Reference knobs map to their Spark-native equivalent where one
        exists; store-format-only knobs are recorded but inert (the
        columnar format is parquet).  spark.* keys pass through."""
        key_l = key.lower()
        value = str(value).strip().strip("'\"")
        if key_l in (
            "skip-constraint-checks", "snappydata.skip-constraint-checks"
        ):
            # connection property skip-constraint-checks.md ("Prefix:
            # n/a" — both spellings accepted): bulk-import mode that
            # bypasses UNIQUE/FK/CHECK validation scans on the write
            # paths; keyed inserts route through PUT INTO keep-last so
            # primary keys stay unique (the reference's documented
            # exception).  Violations admitted while set are UNDEFINED
            # BEHAVIOR, exactly as documented.
            self._engine_confs["snappydata.skip-constraint-checks"] = (
                value.lower()
            )
            return
        if key_l in (
            "allow-explicit-commit", "snappydata.allow-explicit-commit"
        ):
            # connection property allow-explicit-commit.md: commit /
            # rollback / autocommit(false) become documented no-ops for
            # SQL-client tools (see set_autocommit / commit / rollback)
            self._engine_confs["snappydata.allow-explicit-commit"] = (
                value.lower()
            )
            return
        if key_l in (
            "query-timeout", "snappydata.query-timeout",
            "gemfirexd.query-timeout",
        ):
            # gemfirexd.query-timeout.md: seconds; queries running longer
            # are cancelled (enforced by _CancellableDataFrame around the
            # actions of frames returned by sql()/table())
            float(value)  # validate now, not at first query
            self._engine_confs["snappydata.query-timeout"] = value
            return
        if key_l in (
            "max-lock-wait", "snappydata.max-lock-wait",
            "gemfirexd.max-lock-wait",
        ):
            # snappydata.max-lock-wait.md: max MILLISECONDS a writer/DDL
            # waits for the table lock (default 300000); expiry raises
            # the 40XL1-shaped LockTimeout instead of hanging forever
            float(value)  # validate now, not at first mutation
            self._engine_confs["snappydata.max-lock-wait"] = value
            return
        if key_l in (
            "query-cancellation-interval",
            "snappydata.query-cancellation-interval",
            "gemfirexd.query-cancellation-interval",
        ):
            # gemfirexd.query-cancellation-interval.md: ms between
            # cancellation attempts — here the watchdog's re-cancel
            # period (a multi-job action can submit NEW jobs after the
            # first cancelJobGroup; re-issuing every interval kills them)
            float(value)
            self._engine_confs[
                "snappydata.query-cancellation-interval"
            ] = value
            return
        if key_l == "snappydata.sql.plancaching":
            self.plan_cache.enabled = value.lower() == "true"
        elif key_l == "snappydata.sql.plancachesize":
            self.plan_cache.max_size = int(value)
        elif key_l == "snappydata.sql.hashjoinsize":
            # gate for hash-build joins (default 100 MB) → Spark's
            # broadcast-build threshold, the same "small enough to build
            # a hash table" decision
            self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value)
        elif key_l == "snappydata.column.batchsize":
            # column-batch target size (default 24m) → scan split size
            self.spark.conf.set("spark.sql.files.maxPartitionBytes", value)
        elif key_l.startswith("snappydata."):
            # recorded-but-inert store knobs (maxDeltaRows, compression
            # codec ids, eviction...) — visible via get_conf
            self._engine_confs[key_l] = value
        else:
            self.spark.conf.set(key, value)

    def get_conf(self, key: str, default=None):
        return self._engine_confs.get(key.lower(), default)

    def _sql_set_isolation(self, stmt) -> None:
        # SET ISOLATION <level> (reference set-isolation SQL): stored as
        # the default for the next BEGIN; RESET/NONE = autocommit
        level = stmt.options["level"]
        self._isolation = "none" if level in ("reset", "none") else level
