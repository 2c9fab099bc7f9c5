"""System procedures, SYS tables, store backup/restore, synonyms and
disk stores."""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, functions as F


class SystemMixin:
    def _member_id(self) -> str:
        """This process's member id (host:port of the first executor —
        the 'loner' in local mode), the MEMBERID SYSDISKSTOREIDS uses."""
        infos = (
            self.spark.sparkContext._jsc.sc()
            .statusTracker()
            .getExecutorInfos()
        )
        if infos:
            return f"{infos[0].host()}:{infos[0].port()}"
        return "localhost:0"

    def _show_members(self) -> DataFrame:
        """SHOW MEMBERS (SnappyParser.show:1264-1270, rewritten there to
        `SELECT ID, HOST, KIND, STATUS, NETSERVERS, SERVERGROUPS FROM
        SYS.MEMBERS`): the Spark-cluster analogue reports the driver plus
        live executors from the status tracker.  local[n] is a single
        member — GemFire's "loner" — while on a real cluster the driver
        maps to the lead and executors to datastores."""
        sc = self.spark.sparkContext
        master = sc.master or ""
        is_local = master.startswith("local")
        rows = []
        for i, info in enumerate(sc._jsc.sc().statusTracker().getExecutorInfos()):
            host, port = info.host(), info.port()
            kind = "loner" if is_local else ("lead" if i == 0 else "datastore")
            rows.append(
                (
                    f"{host}:{port}",
                    host,
                    kind,
                    "running",
                    master if kind in ("loner", "lead") else "",
                    "",
                )
            )
        return self.spark.createDataFrame(
            rows,
            "id string, host string, kind string, status string, "
            "netservers string, servergroups string",
        )

    def _call_proc(self, proc: str, args: list[str]):
        """CALL SYS.<proc>(...) dispatch
        (reference/inbuilt_system_procedures/)."""
        if proc == "diskstore_fsync":
            # sys.diskstore_fsync (GemFireXD surface): force-fsync a disk
            # store's oplogs.  DIVERGENCE: manifests here commit via
            # atomic rename (already durable) — accepted as a no-op after
            # validating the store exists, so reference scripts replay.
            (name,) = args or ("",)
            if name.lower() not in self._all_diskstores():
                raise ValueError(f"diskstore '{name}' does not exist")
            return self.spark.createDataFrame(
                [(name.upper(), "synced")], "diskstore string, status string"
            )
        if proc == "export_data":
            return self._export_data(*args)
        if proc == "export_ddls":
            return self._export_ddls(*args)
        if proc == "rebalance_all_buckets":
            # reference: redistributes bucket data across members
            # (rebalance-all-buckets.md).  The file-layout analogue:
            # rewrite every BUCKETED table through its bucketed writer,
            # re-hashing rows into their buckets — evening out file
            # sizes after skewed appends.  Unbucketed tables have no
            # buckets to balance and are untouched.
            rows = []
            for t in self.catalog.list_tables():
                meta = self.catalog.load_meta(t)
                if self._is_bucketed(meta):
                    rows.append((t, self.compact_table(t)))
            return self.spark.createDataFrame(
                rows or [("", 0)], "table string, buckets int"
            ).filter(F.col("table") != "")
        if proc == "dump_stacks":
            # sys.dump_stacks(all) (dump-stacks.md): thread stacks to the
            # log.  Here: the DRIVER JVM's stacks via
            # Thread.getAllStackTraces (executors are in-process on
            # local[n]; on a cluster the `all` flag would fan out — the
            # lead-only scope is the documented divergence).
            traces = (
                self.spark.sparkContext._jvm.java.lang.Thread
                .getAllStackTraces()
            )
            it = traces.entrySet().iterator()
            n_threads, lines = 0, []
            while it.hasNext():
                e = it.next()
                t = e.getKey()
                n_threads += 1
                lines.append(
                    f'"{t.getName()}" state={t.getState().toString()} '
                    f"frames={len(e.getValue())}"
                )
            print("SYS.DUMP_STACKS:\n" + "\n".join(sorted(lines)))
            return self.spark.createDataFrame(
                [(n_threads,)], "threads int"
            )
        if proc == "set_trace_flag":
            flag, on = (args + ["", "false"])[:2]
            self._engine_confs[f"snappydata.trace.{flag.lower()}"] = (
                str(on).lower()
            )
            return None
        if proc in ("set_critical_heap_percentage",
                    "set_eviction_heap_percentage"):
            (pct,) = args or ("",)
            v = float(pct)
            if not 0.0 <= v <= 100.0:
                raise ValueError(
                    f"SYS.{proc.upper()} expects a percentage in [0, 100], "
                    f"got {pct}"
                )
            # recorded, inert: Spark sizes executor memory statically
            # (spark.memory.fraction at launch) — the reference's
            # runtime heap thresholds have no live Spark equivalent
            self._engine_confs[f"snappydata.{proc}"] = str(v)
            return None
        if proc == "set_statistics_timing":
            (flag,) = args or ("0",)
            self._stats_timing = str(flag).strip() not in ("0", "false", "")
            if not self._stats_timing:
                self._stmt_stats.clear()
            return None
        if proc == "backup_store":
            (dest,) = args or ("",)
            path = self.backup_store(dest)
            return self.spark.createDataFrame(
                [(path, len(self.catalog.list_tables()))],
                "backup_path string, tables int",
            )
        if proc == "restore_store":
            (src,) = args or ("",)
            n = self.restore_store(src)
            return self.spark.createDataFrame(
                [(src, n)], "backup_path string, tables int"
            )
        if proc == "recover_table":
            (t,) = args or ("",)
            return self.recover_table(t)
        if proc == "remove_metastore_entry":
            # sys.remove_metastore_entry('<db>.<table>', '<forceDrop>')
            # (sys_remove_metastore_entry.md): drop the catalog entry
            # WITHOUT existence/constraint/policy checks — the emergency
            # hatch for an inconsistent catalog.  Policies/base tables
            # are intentionally untouched (the doc says drop those
            # separately).
            name = self._canon((args or [""])[0])
            self.catalog.drop(name)
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:  # noqa: BLE001 — view may not exist
                pass
            self.plan_cache.clear()
            return None
        raise ValueError(
            f"unknown system procedure SYS.{proc.upper()} "
            "(supported: EXPORT_DATA, EXPORT_DDLS, REBALANCE_ALL_BUCKETS, "
            "DISKSTORE_FSYNC, DUMP_STACKS, SET_TRACE_FLAG, "
            "SET_CRITICAL_HEAP_PERCENTAGE, SET_EVICTION_HEAP_PERCENTAGE, "
            "SET_STATISTICS_TIMING, REMOVE_METASTORE_ENTRY, BACKUP_STORE, "
            "RESTORE_STORE, RECOVER_TABLE)"
        )

    def _export_data(
        self, uri: str, fmt: str = "parquet", tables: str = "all",
        ignore_error: str = "false",
    ) -> DataFrame:
        """SYS.EXPORT_DATA (export_data.md): write each managed table to
        `<uri>_<millis>/<SCHEMA>.<TABLE>/` in the given Spark format.
        tables='all' exports every user table (derived sample/topk/index
        structures are rebuilt by their DDL, not exported);
        ignoreError='true' logs a failing table and continues.  Returns a
        (table, path, rows) summary frame.  Scale: each export is one
        distributed write of that table's scan — no driver collect."""
        out_dir = f"{uri.rstrip('/')}_{int(time.time() * 1000)}"
        if tables.strip().lower() == "all":
            names = [
                t for t in self.catalog.list_tables()
                if self.catalog.load_meta(t).provider
                not in ("sample", "topk")
                and not t.endswith("__ann")
            ]
        else:
            names = [self._canon(t) for t in tables.split(",") if t.strip()]
        ignore = ignore_error.strip().lower() == "true"
        rows = []
        for t in names:
            label = t.replace("__", ".").upper()
            path = os.path.join(out_dir, f"APP.{label}" if "." not in label else label)
            try:
                df = self.table(t)
                w = df.write.mode("overwrite").format(fmt.lower())
                if fmt.lower() == "csv":
                    w = w.option("header", "true")
                w.save(path)
                rows.append((t, path, df.count()))
            except Exception as e:  # noqa: BLE001 — per-table isolation
                if not ignore:
                    raise
                print(f"EXPORT_DATA: skipped {t}: {e}")
                rows.append((t, "", -1))
        return self.spark.createDataFrame(
            rows, "table string, path string, rows long"
        )

    def _export_ddls(self, uri: str) -> DataFrame:
        """SYS.EXPORT_DDLS (export_ddl.md): every DDL needed to rebuild
        the catalog — tables (SHOW CREATE TABLE form), views, synonyms,
        sample/topk structures, grants, policies, deployed packages —
        written as one text file `part-00000` (+ _SUCCESS) under
        `<uri>_<millis>/`, replayable in order."""
        out_dir = f"{uri.rstrip('/')}_{int(time.time() * 1000)}"
        os.makedirs(out_dir, exist_ok=True)
        ddls: list[str] = []
        # diskstores replay FIRST: a table's `diskstore` option must
        # resolve when its CREATE TABLE replays
        for dn, rec in self._diskstores.items():
            clauses = [f"CREATE DISKSTORE {dn}"]
            for k in ("maxlogsize", "autocompact", "allowforcecompaction",
                      "compactionthreshold", "timeinterval",
                      "writebuffersize", "queuesize"):
                if rec.get(k) != self._DISKSTORE_DEFAULTS[k]:
                    clauses.append(f"{k.upper()} {rec[k]}")
            dir_sql = ", ".join(
                f"'{d}'" + (f" {mb}" if mb else "") for d, mb in rec["dirs"]
            )
            ddls.append(" ".join(clauses) + f" ({dir_sql});")
        derived: list[str] = []  # sample/topk DDL replays AFTER its base
        for t in self.catalog.list_tables():
            meta = self.catalog.load_meta(t)
            if meta.provider == "sample":
                opts = meta.options
                derived.append(
                    f"CREATE SAMPLE TABLE {t} ON {opts['base_table']} "
                    f"OPTIONS (qcs '{opts['qcs']}', fraction "
                    f"'{opts['fraction']}');"
                )
                continue
            if meta.provider == "topk":
                opts = meta.options
                parts = [f"key '{opts['key']}'", f"size '{opts['k']}'"]
                if opts.get("window") not in (None, "all"):
                    parts += [
                        f"timeSeriesColumn '{opts['ts']}'",
                        f"timeInterval '{opts['window']}'",
                    ]
                derived.append(
                    f"CREATE TOPK TABLE {t} ON {opts['base_table']} "
                    f"OPTIONS ({', '.join(parts)});"
                )
                continue
            if t.endswith("__ann"):
                continue  # rebuilt by its CREATE INDEX below
            try:
                stmt = self.show_create_table(t).collect()[0].createtab_stmt
                ddls.append(stmt.rstrip(";") + ";")
            except Exception:  # noqa: BLE001 — e.g. dropped mid-export
                continue
        # layout (range/Z-ORDER) indexes — skipping the ones the ANN
        # CREATE INDEX replay recreates itself (<ann>__cell / <ann>__term)
        auto = {
            f"{a}__{suffix}"
            for a in self._ann_indexes
            for suffix in ("cell", "term")
        }
        for idx_name, (itable, icols) in self._indexes.items():
            if idx_name in auto:
                continue
            ddls.append(
                f"CREATE INDEX {idx_name} ON {itable} ({', '.join(icols)});"
            )
        for idx_name, info in self._ann_indexes.items():
            ddls.append(
                f"CREATE INDEX {idx_name} ON {info['table']}"
                f"({info['column']}) USING {info['method']};"
            )
        ddls.extend(derived)
        for vname, vsql in self._views.items():
            ddls.append(f"CREATE VIEW {vname} AS {vsql};")
        for syn, tgt in self._synonyms.items():
            ddls.append(f"CREATE SYNONYM {syn} FOR {tgt};")
        for scope, users in self._grants.items():
            for u in sorted(users):
                privs = sorted(users[u])
                if scope.startswith("function::"):
                    ddls.append(
                        f"GRANT EXECUTE ON FUNCTION "
                        f"{scope.split('::', 1)[1]} TO {u};"
                    )
                    continue
                plist = "ALL" if "all" in privs else ", ".join(
                    p.upper() for p in privs
                )
                ddls.append(f"GRANT {plist} ON {scope} TO {u};")
        for pname, (ptable, pexpr, puser) in self._policies.items():
            to = f" TO {puser}" if puser else ""
            ddls.append(
                f"CREATE POLICY {pname} ON {ptable} FOR SELECT{to} "
                f"USING ({pexpr});"
            )
        for t in sorted(self._rls):
            ddls.append(f"ALTER TABLE {t} ENABLE ROW LEVEL SECURITY;")
        for pkg, info in self._packages.items():
            kind = info.get("kind", "package").upper()
            ddls.append(f"DEPLOY {kind} {pkg} '{info.get('coords', '')}';")
        # connection/system properties that shape statement semantics
        # replay too, so an EXPORT_DDLS-restored session behaves like the
        # one that exported (allow-explicit-commit.md, query-timeout.md)
        for prop in (
            "snappydata.allow-explicit-commit",
            "snappydata.skip-constraint-checks",
            "snappydata.query-timeout",
            "snappydata.query-cancellation-interval",
            "snappydata.max-lock-wait",
        ):
            v = self._engine_confs.get(prop)
            if v is not None:
                ddls.append(f"SET {prop} = {v};")
        with open(os.path.join(out_dir, "part-00000"), "w") as f:
            f.write("\n".join(ddls) + "\n")
        open(os.path.join(out_dir, "_SUCCESS"), "w").close()
        return self.spark.createDataFrame(
            [(os.path.join(out_dir, "part-00000"), len(ddls))],
            "path string, statements int",
        )

    def backup_store(self, dest_dir: str) -> str:
        """Consistent online store backup — the engine's analogue of the
        reference's `store-backup` utility (command_line_utilities/
        store-backup.md: per-member disk-store snapshot into a
        minute-stamped subdirectory, restorable to the original
        locations).  Here the "disk store" is the managed-table store
        directory: for each table, UNDER ITS MUTATION LOCK (so no writer
        is mid-swap — the doc's "run during low activity" caveat becomes
        a hard per-table consistency guarantee), the backup copies the
        table meta + the CURRENT manifest generation + exactly the
        manifest's live files (tombstones and uncommitted orphans are
        skipped); bucketed tables copy their live bucketed files plus
        the schema/bucketing spec needed to re-register them.  The
        catalog registry (indexes, grants, policies, views) rides along,
        so restored indexes serve without a rebuild.  Returns the
        created backup directory."""
        stamp = datetime.datetime.now().strftime("%Y-%m-%d-%H-%M-%S")
        bdir = os.path.join(dest_dir, stamp)
        n = 0
        while os.path.exists(bdir):  # same-second reruns
            n += 1
            bdir = os.path.join(dest_dir, f"{stamp}-{n}")
        os.makedirs(os.path.join(bdir, "store"))
        desc: dict = {"created": stamp, "tables": {}}
        from snappydata_spark.catalog import _META_FILE

        for t in self.catalog.list_tables():
            with self._table_lock(t):
                meta = self.catalog.load_meta(t)
                tdir = os.path.join(bdir, "store", t)
                os.makedirs(os.path.join(tdir, "data"), exist_ok=True)
                shutil.copy2(
                    os.path.join(self.catalog.table_path(t), _META_FILE),
                    os.path.join(tdir, _META_FILE),
                )
                entry: dict = {"bucketed": False}
                if self._is_bucketed(meta):
                    df = self.spark.table(self._cat_name(t))
                    wdir = os.path.join(bdir, "warehouse", t)
                    os.makedirs(wdir)
                    for f in df.inputFiles():
                        src = re.sub(r"^file:(//)?(?=/)", "", f)
                        shutil.copy2(src, wdir)
                    entry = {
                        "bucketed": True,
                        "buckets": meta.buckets,
                        "partition_by": list(meta.partition_by),
                        "schema_ddl": ", ".join(
                            f"`{fld.name}` {fld.dataType.simpleString()}"
                            for fld in df.schema.fields
                        ),
                    }
                else:
                    m = self._load_manifest(t)
                    data = self.catalog.data_path(t)
                    if m is not None:
                        # manifest-pinned copy: live generation only; the
                        # backed-up manifest carries no tombstones (their
                        # files are not copied)
                        clean = dict(m)
                        clean["tombstones"] = []
                        with open(
                            os.path.join(tdir, "manifest.json"), "w"
                        ) as f:
                            json.dump(clean, f)
                        files = m["files"]
                    else:
                        files = self._list_data_files(t)
                    for f in files:
                        shutil.copy2(
                            os.path.join(data, f),
                            os.path.join(tdir, "data", f),
                        )
                desc["tables"][t] = entry
        # registry copied LAST: it then reflects every DDL
        # that completed before any per-table copy it describes.  Each
        # table copy is individually consistent (taken under its lock);
        # CROSS-table + registry consistency still needs a quiet window —
        # a DDL racing the backup can create a table/index after its
        # would-be position in the loop, leaving it out of the snapshot
        # (the reference's 'run during low activity' caveat applies).
        if os.path.exists(self._registry_path):
            shutil.copy2(
                self._registry_path, os.path.join(bdir, "_registry.json")
            )
        with open(os.path.join(bdir, "backup.json"), "w") as f:
            json.dump(desc, f, indent=1)
        return bdir

    def restore_store(self, backup_dir: str) -> int:
        """Restore a backup_store() snapshot into THIS session's store:
        each backed-up table's directory (meta + manifest + live files)
        replaces the current one under the table's mutation lock;
        bucketed tables re-register in the Spark catalog as external
        bucketed tables over the restored files (CLUSTERED BY ... INTO n
        BUCKETS LOCATION), so colocated-join exchange elision survives
        the round trip; the catalog registry (indexes/grants/policies)
        is restored and reloaded.  Returns the number of tables
        restored.  (store-backup.md's restore script analogue — copy
        back to original locations, refusing nothing: restore is an
        operator action that overwrites current state.)"""
        with open(os.path.join(backup_dir, "backup.json")) as f:
            desc = json.load(f)
        # wholesale semantics (store-backup.md restore copies
        # the snapshot back verbatim): tables created AFTER the backup
        # are dropped first — otherwise they would survive on disk while
        # the restored registry (indexes/grants/views) knows nothing of
        # them, leaving store and catalog registry inconsistent
        for t in list(self.catalog.list_tables()):
            if t not in desc["tables"]:
                self.drop_table(t, if_exists=True)
        for t, entry in desc["tables"].items():
            with self._table_lock(t):
                # drop the live bucketed catalog entries before the swap
                if self.catalog.exists(t):
                    old_meta = self.catalog.load_meta(t)
                    if self._is_bucketed(old_meta):
                        old_gen = int(old_meta.options.get("bucket_gen", 0))
                        for g in (old_gen - 1, old_gen, old_gen + 1):
                            if g >= 0:
                                try:
                                    self.spark.sql(
                                        "DROP TABLE IF EXISTS "
                                        + self._cat_name(t, gen=g)
                                    )
                                except Exception:  # noqa: BLE001
                                    pass
                tpath = self.catalog.table_path(t)
                shutil.rmtree(tpath, ignore_errors=True)
                shutil.copytree(os.path.join(backup_dir, "store", t), tpath)
                if entry.get("bucketed"):
                    loc = os.path.join(tpath, "bucketdata")
                    shutil.copytree(
                        os.path.join(backup_dir, "warehouse", t), loc
                    )
                    meta = self.catalog.load_meta(t)
                    gen = int(meta.options.get("bucket_gen", 0))
                    cat = self._cat_name(t, gen=gen)
                    self.spark.sql(f"DROP TABLE IF EXISTS {cat}")
                    cluster = ", ".join(entry["partition_by"])
                    self.spark.sql(
                        f"CREATE TABLE {cat} ({entry['schema_ddl']}) "
                        f"USING parquet CLUSTERED BY ({cluster}) "
                        f"SORTED BY ({cluster}) "
                        f"INTO {entry['buckets']} BUCKETS "
                        f"LOCATION '{loc}'"
                    )
            self._refresh_view(t)
        reg = os.path.join(backup_dir, "_registry.json")
        if os.path.exists(reg):
            shutil.copy2(reg, self._registry_path)
            self._load_registry()
        self.plan_cache.clear()
        return len(desc["tables"])

    def recover_table(self, name: str) -> DataFrame:
        """CALL SYS.RECOVER_TABLE('t') — disk-store salvage for a managed
        table whose MANIFEST is corrupted or deleted (the engine analogue
        of the reference's data extractor / `dataextractor` utility,
        command_line_utilities/data_extractor.md + modify_disk_store.md:
        recover table data from a store that no longer opens cleanly).

        Recovery ladder:
          1. **History replay** — the newest `_history/gen-N.json`
             snapshot whose files all survive becomes the manifest again
             (every in-grace generation keeps its full file set on disk),
             an EXACT recovery.
          2. **Footer scavenge** — no usable history: every data file
             whose parquet footer still reads joins the rebuilt table;
             torn/corrupt files are skipped (reported).  With
             key_columns the rows dedup keep-newest by file mtime, so an
             in-grace tombstoned pre-image can't double a key; without
             keys the surviving files are taken verbatim (duplicate rows
             from a mid-flight mutation may survive — reported, exactly
             the salvage contract of the reference tool).

        Unrecoverable by design: data whose bytes are gone, and
        uncommitted orphans (correctly invisible).  Catalog metadata
        (key columns, indexes, grants) lives in the catalog registry —
        restore that from a SYS.BACKUP_STORE copy if it was lost too.
        Returns one row: (table, mode, files, skipped, rows)."""
        name = self._canon(name)
        meta = self.catalog.load_meta(name)
        if self._is_bucketed(meta):
            raise ValueError(
                f"SYS.RECOVER_TABLE: {name} is a bucketed table — its "
                "layout lives in the Spark catalog, not a manifest; "
                "recreate it from SYS.BACKUP_STORE or re-register it"
            )
        with self._table_lock(name):
            data = self.catalog.data_path(name)
            hist_gens = self._history_gens(name)
            # 1) newest intact history generation
            for gen in reversed(hist_gens):
                try:
                    with open(
                        os.path.join(self._history_dir(name), f"gen-{gen}.json")
                    ) as f:
                        payload = json.load(f)
                except (OSError, ValueError):
                    continue
                if not all(
                    os.path.exists(os.path.join(data, fn))
                    for fn in payload["files"]
                ):
                    continue
                new_gen = max(hist_gens) + 1
                fresh = {
                    "gen": new_gen,
                    "ts": time.time(),
                    "files": payload["files"],
                    "tombstones": [],
                    "schema": payload.get("schema"),
                }
                self._publish_generation(name, fresh)
                self._refresh_view(name)
                n = self.table(name).count()
                return self.spark.createDataFrame(
                    [(name, f"history:gen-{gen}", len(payload["files"]), 0, n)],
                    "table string, mode string, files int, skipped int, "
                    "rows long",
                )
            # 2) footer scavenge
            import pyarrow.parquet as _pq

            valid, skipped = [], []
            for fn in self._list_data_files(name):
                p = os.path.join(data, fn)
                try:
                    _pq.ParquetFile(p)  # footer parse = readability probe
                    valid.append(p)
                except Exception:  # noqa: BLE001 — torn/corrupt file
                    skipped.append(fn)
            if not valid:
                raise ValueError(
                    f"SYS.RECOVER_TABLE: no readable data files under "
                    f"{data} — nothing to salvage"
                )
            # a corrupt manifest must not poison the rebuild below
            # (_manifest_commit seeds from the directory listing when the
            # manifest is unreadable); stale history snapshots reference
            # a numbering we are about to restart — retire them
            try:
                os.remove(self._manifest_path(name))
            except FileNotFoundError:
                pass
            shutil.rmtree(self._history_dir(name), ignore_errors=True)
            df = (
                self.spark.read.option("mergeSchema", "true").parquet(*valid)
            )
            mode = "scavenge"
            if meta.key_columns:
                mode = "scavenge:keyed-dedup"
                ranks = sorted(
                    valid, key=lambda p: (os.path.getmtime(p), p)
                )
                rank_df = self.spark.createDataFrame(
                    [(os.path.basename(p), i) for i, p in enumerate(ranks)],
                    "___fname string, ___rank int",
                )
                from pyspark.sql import Window as _W

                tagged = df.withColumn(
                    "___fname",
                    F.element_at(F.split(F.input_file_name(), "/"), -1),
                ).join(F.broadcast(rank_df), "___fname")
                w = _W.partitionBy(
                    *[F.col(k) for k in meta.key_columns]
                ).orderBy(F.col("___rank").desc())
                df = (
                    tagged.withColumn("___rn", F.row_number().over(w))
                    .filter(F.col("___rn") == 1)
                    .drop("___fname", "___rank", "___rn")
                )
            self._rewrite(df, meta)
            self._refresh_view(name)
            n = self.table(name).count()
            return self.spark.createDataFrame(
                [(name, mode, len(valid), len(skipped), n)],
                "table string, mode string, files int, skipped int, rows long",
            )

    def _systables(self) -> DataFrame:
        """SYS.SYSTABLES (reference/system_tables/systables.md): one row
        per table/view/synonym with the documented core columns —
        TABLETYPE 'T' (user table), 'V' (view), 'A' (synonym);
        DATAPOLICY from the managed layout (PARTITION / REPLICATE)."""
        rows = []
        for t in self.catalog.list_tables():
            meta = self.catalog.load_meta(t)
            replicated = meta.options.get("replicated", "").lower() == "true"
            rows.append(
                (
                    t.upper(),
                    "T",
                    "APP",
                    "REPLICATE" if replicated else "PARTITION",
                    meta.provider,
                )
            )
        for v in self._views:
            rows.append((v.upper(), "V", "APP", "", "view"))
        for s in self._synonyms:
            rows.append((s.upper(), "A", "APP", "", "synonym"))
        return self.spark.createDataFrame(
            rows,
            "tablename string, tabletype string, tableschemaname string, "
            "datapolicy string, provider string",
        )

    def _syspolicies(self) -> DataFrame:
        """SYS.SYSPOLICIES (docs/security/row_level_security.md:126): one
        row per RLS policy — NAME, SCHEMANAME, TABLENAME, POLICYFOR
        (always SELECT, as documented), APPLYTO (user or CURRENT_USER),
        FILTER, OWNER (the target table's schema owner)."""
        rows = []
        for pname, (table, filter_sql, user) in self._policies.items():
            if "__" in table:
                sch, tbl = table.split("__", 1)
            else:
                sch, tbl = "app", table
            rows.append((
                pname.upper(), sch.upper(), tbl.upper(), "SELECT",
                (user or "current_user").upper(), filter_sql, sch.upper(),
            ))
        return self.spark.createDataFrame(
            rows or [("", "", "", "", "", "", "")],
            "name string, schemaname string, tablename string, "
            "policyfor string, applyto string, filter string, owner string",
        ).filter(F.col("name") != "")

    def _systablestats(self) -> DataFrame:
        """SYS.TABLESTATS (reference/system_tables/systablestats.md):
        per-table row count / on-disk size / layout flags — sizes from
        ANALYZE TABLE (cached in table meta after the first call)."""
        rows = []
        for t in self.catalog.list_tables():
            meta = self.catalog.load_meta(t)
            opts = meta.options
            if "row_count" not in opts or "size_bytes" not in opts:
                try:
                    self.analyze_table(t)
                    opts = self.catalog.load_meta(t).options
                except Exception:  # noqa: BLE001 — unreadable table
                    continue
            replicated = opts.get("replicated", "").lower() == "true"
            rows.append(
                (
                    f"APP.{t.upper()}",
                    meta.provider != "row",
                    replicated,
                    int(opts.get("row_count", 0)),
                    int(opts.get("size_bytes", 0)),
                    int(opts.get("size_bytes", 0)),
                    int(meta.buckets or 1),
                )
            )
        return self.spark.createDataFrame(
            rows,
            '`table` string, is_column_table boolean, '
            "is_replicated_table boolean, row_count long, "
            "size_in_memory long, total_size long, buckets long",
        )

    def _resolve_synonym(self, name: str) -> str:
        """Follow a (possibly nested) synonym chain to the target name
        (create-synonym.md: 'A synonym can be used instead of the
        original ... in SELECT, INSERT, UPDATE, DELETE').  Circular
        chains raise (the reference's SQLSTATE 42916)."""
        n = self._canon(name)
        seen = set()
        while n in self._synonyms:
            if n in seen:
                raise ValueError(
                    f"circular synonym chain through '{name}' (SQLSTATE 42916)"
                )
            seen.add(n)
            n = self._synonyms[n]
        return n

    #: the reference's built-in stores (sysdiskstores.md example output):
    #: data-dictionary + default-data stores exist in every system
    _BUILTIN_DISKSTORES = {
        "gfxd-dd-diskstore": {"maxlogsize": 10},
        "gfxd-default-diskstore": {},
    }

    _DISKSTORE_DEFAULTS = {
        # create-diskstore.md documented defaults: MAXLOGSIZE 1 GB,
        # AUTOCOMPACT true, ALLOWFORCECOMPACTION false,
        # COMPACTIONTHRESHOLD 50 %, TIMEINTERVAL 1000 ms,
        # WRITEBUFFERSIZE 32768 B, QUEUESIZE 0 (unbounded)
        "maxlogsize": 1024,
        "autocompact": "true",
        "allowforcecompaction": "false",
        "compactionthreshold": 50,
        "timeinterval": 1000,
        "writebuffersize": 32768,
        "queuesize": 0,
    }

    def _create_diskstore(self, opts: dict) -> None:
        """CREATE DISKSTORE (create-diskstore.md:6-20).  DIVERGENCE:
        GemFire preallocates oplog files; this engine's storage is
        parquet files under an atomic manifest, so the store is catalog
        metadata — its directories are created under the store dir and
        recorded so SYSDISKSTORES/EXPORT_DDLS/table `diskstore` options
        resolve, but no oplogs exist to roll or compact."""
        name = opts["name"].lower()
        if name in self._diskstores or name in self._BUILTIN_DISKSTORES:
            raise ValueError(f"diskstore '{opts['name']}' already exists")
        rec = dict(self._DISKSTORE_DEFAULTS)
        for k in rec:
            if k in opts:
                v = str(opts[k]).lower()
                if k in ("autocompact", "allowforcecompaction"):
                    if v not in ("true", "false"):
                        raise ValueError(
                            f"CREATE DISKSTORE {k.upper()} expects a "
                            f"boolean constant, got '{opts[k]}'"
                        )
                    rec[k] = v
                else:
                    rec[k] = int(v)
        dirs = []
        for d, mb in opts.get("dirs", []):
            path = d if os.path.isabs(d) else os.path.join(
                self.catalog.base_dir, "diskstores", name, d
            )
            os.makedirs(path, exist_ok=True)
            dirs.append([path, mb])
        if not dirs:
            # default: the member working directory (create-diskstore.md
            # "By default ... the working directory of the member")
            path = os.path.join(self.catalog.base_dir, "diskstores", name)
            os.makedirs(path, exist_ok=True)
            dirs.append([path, None])
        rec["dirs"] = dirs
        self._diskstores[name] = rec
        # cached SELECTs over SYS.SYSDISKSTORES pinned the pre-create view
        self.plan_cache.clear()
        self._save_registry()

    def _drop_diskstore(self, name: str, if_exists: bool) -> None:
        """DROP DISKSTORE [IF EXISTS] (drop-diskstore.md) — blocked while
        any table's `diskstore` option still targets the store (the
        reference fails the drop while a table uses it)."""
        n = name.lower()
        if n in self._BUILTIN_DISKSTORES:
            raise ValueError(f"cannot drop built-in diskstore '{name}'")
        if n not in self._diskstores:
            if if_exists:
                return
            raise ValueError(f"diskstore '{name}' does not exist")
        users = [
            t for t in self.catalog.list_tables()
            if str(
                self.catalog.load_meta(t).options.get("diskstore", "")
            ).lower() == n
        ]
        if users:
            raise ValueError(
                f"cannot drop diskstore '{name}': in use by table(s) "
                f"{', '.join(sorted(users))}"
            )
        self._diskstores.pop(n)
        self.plan_cache.clear()
        self._save_registry()

    def _all_diskstores(self) -> dict:
        out = {
            k: {**self._DISKSTORE_DEFAULTS, **v,
                "dirs": [[self.catalog.base_dir, None]]}
            for k, v in self._BUILTIN_DISKSTORES.items()
        }
        out.update(self._diskstores)
        return out

    def _sysdiskstores(self) -> DataFrame:
        """SYS.SYSDISKSTORES (system_tables/sysdiskstores.md): one row per
        disk store with the documented columns; DIR_PATH_SIZE is the
        comma-joined 'dir[ size-mb]' list."""
        rows = []
        for n, rec in self._all_diskstores().items():
            rows.append((
                n.upper(),
                int(rec["maxlogsize"]),
                str(rec["autocompact"]),
                str(rec["allowforcecompaction"]),
                int(rec["compactionthreshold"]),
                int(rec["timeinterval"]),
                int(rec["writebuffersize"]),
                int(rec["queuesize"]),
                ",".join(
                    f"{d} {mb}" if mb else d for d, mb in rec["dirs"]
                ),
            ))
        return self.spark.createDataFrame(
            rows,
            "name string, maxlogsize bigint, autocompact string, "
            "allowforcecompaction string, compactionthreshold int, "
            "timeinterval bigint, writebuffersize int, queuesize int, "
            "dir_path_size string",
        )

    def _sysdiskstoreids(self) -> DataFrame:
        """SYS.SYSDISKSTOREIDS / SYS.DISKSTOREIDS
        (system_tables/sysdiskstoreids.md): per-member store ids — one
        member here (the driver); IDs are stable uuid5 digests of the
        store path so repeated queries agree."""
        member = self._member_id()
        rows = []
        for n, rec in self._all_diskstores().items():
            sid = str(uuid.uuid5(
                uuid.NAMESPACE_URL, f"{self.catalog.base_dir}/{n}"
            ))
            rows.append((
                member, n.upper(), sid,
                ",".join(d for d, _ in rec["dirs"]),
            ))
        return self.spark.createDataFrame(
            rows, "memberid string, name string, id string, dirs string"
        )

    def _create_synonym(self, name: str, target: str) -> None:
        """CREATE SYNONYM s FOR t (create-synonym.md): synonyms share the
        table/view namespace; the target may not exist yet (warning, not
        error); circular references are rejected at creation."""
        syn = self._canon(name)
        if self.catalog.exists(syn) or syn in self._views or syn in self._streams:
            raise ValueError(
                f"'{name}' already names a table or view — synonyms share "
                "that namespace (create-synonym.md)"
            )
        if syn in self._synonyms:
            raise ValueError(f"synonym '{name}' already exists")
        tgt = self._canon(target)
        # creating s -> t must not close a cycle: resolving t must never
        # reach s (SQLSTATE 42916)
        n, seen = tgt, set()
        while n in self._synonyms:
            if n == syn or n in seen:
                raise ValueError(
                    f"CREATE SYNONYM {name} FOR {target} would create a "
                    "circular reference (SQLSTATE 42916)"
                )
            seen.add(n)
            n = self._synonyms[n]
        if n == syn:
            raise ValueError(
                f"CREATE SYNONYM {name} FOR {target} would create a "
                "circular reference (SQLSTATE 42916)"
            )
        if not (self.catalog.exists(n) or n in self._views or n in self._streams):
            # the reference warns (SQLSTATE 01522) and creates anyway;
            # the target must exist when the synonym is USED
            print(
                f"WARNING 01522: synonym target '{target}' does not exist "
                "yet — it must be present when the synonym is used"
            )
        self._synonyms[syn] = tgt
        self._save_registry()

    def _drop_synonym(self, name: str, if_exists: bool = False) -> None:
        syn = self._canon(name)
        if syn not in self._synonyms:
            if if_exists:
                return
            raise ValueError(f"synonym '{name}' does not exist")
        del self._synonyms[syn]
        try:
            self.spark.catalog.dropTempView(syn)
        except Exception:  # noqa: BLE001 — never registered
            pass
        self._save_registry()
