"""Table files: writes, manifest commits, time travel and pruned
copy-on-write."""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from snappydata_spark.catalog import TableMeta, write_json_atomic


class StorageMixin:
    def _is_bucketed(self, meta: TableMeta) -> bool:
        return bool(meta.partition_by and meta.buckets)

    def _cat_name(self, name: str, gen: int | None = None) -> str:
        """Spark-catalog identifier for a bucketed managed table (the
        bucketing spec lives in the session catalog, which is what lets
        EnsureRequirements elide the shuffle on colocated joins).
        Bucketed overwrites are generation-swapped for crash atomicity:
        the LIVE generation comes from the table meta; gen 0 is the
        legacy unsuffixed name so pre-existing stores stay readable."""
        cname = self._canon(name)
        if gen is None:
            gen = 0
            try:
                gen = int(
                    self.catalog.load_meta(cname).options.get("bucket_gen", 0)
                )
            except (OSError, ValueError):
                pass
        suffix = f"__g{gen}" if gen else ""
        return f"snappy_managed_{self._session_id}_{cname}{suffix}"

    def _bloom_opts(self, meta: TableMeta) -> dict[str, str]:
        """KEY_COLUMNS get parquet bloom filters: the engine's
        point-lookup / PUT-INTO probe columns (the reference's row-table
        primary-key index analogue, StoreUtils KEY_COLUMNS) — at 100 TB
        a keyed lookup then skips row groups whose bloom excludes the
        key, on top of min/max stats (which don't help on
        hash-distributed key values whose ranges overlap every row
        group).  Applied on EVERY path that writes table data files
        (create/insert, mutation appends, copy-on-write rewrites) so the
        property doesn't decay with mutations."""
        return {
            f"parquet.bloom.filter.enabled#{c}": "true"
            for c in meta.key_columns
        }

    def _write(self, df: DataFrame, meta: TableMeta, mode: str) -> None:
        """PARTITION_BY + BUCKETS → a real bucketed catalog table
        (bucketBy on the partition keys: Catalyst then knows
        HashPartitioning, so joins/aggs on those keys need no exchange —
        the CollapseCollocatedPlans / COLOCATE_WITH semantics of the
        reference, SnappyStrategies.scala:768-826).  Unbucketed tables are
        plain parquet dirs."""
        # COMPRESSION option (ExternalStoreUtils.scala:88-105; batch codecs
        # CompressionCodecId.scala LZ4/SNAPPY) → parquet codec per table
        self._audit_plan(f"write:{meta.name}", df)
        codec = str(meta.options.get("compression", "snappy")).lower()
        codec = {"lz4": "lz4", "snappy": "snappy", "none": "uncompressed"}.get(
            codec, codec
        )
        blooms = self._bloom_opts(meta)
        if self._is_bucketed(meta):
            cur_gen = int(meta.options.get("bucket_gen", 0))
            # overwrite = generation swap (crash-atomic: saveAsTable's
            # overwrite deletes-then-writes IN PLACE, so a crash there
            # would truncate the table; writing gen+1 and flipping the
            # meta pointer afterwards leaves the old generation intact
            # through any crash).  Appends go into the live generation —
            # Spark's commit protocol makes those all-or-nothing already.
            target_gen = cur_gen + 1 if mode == "overwrite" else cur_gen
            writer = (
                df.repartition(meta.buckets, *meta.partition_by)
                .write.format("parquet")
                .option("compression", codec)
                .options(**blooms)
                .bucketBy(meta.buckets, *meta.partition_by)
                .sortBy(*meta.partition_by)
                .mode("overwrite" if mode == "overwrite" else mode)
            )
            writer.saveAsTable(self._cat_name(meta.name, gen=target_gen))
            if mode == "overwrite":
                meta.options["bucket_gen"] = target_gen
                self.catalog.save_meta(meta)  # atomic pointer flip
                for old in (cur_gen, cur_gen - 1):
                    if old >= 0 and old != target_gen:
                        try:
                            self.spark.sql(
                                "DROP TABLE IF EXISTS "
                                + self._cat_name(meta.name, gen=old)
                            )
                        except Exception:  # noqa: BLE001 — orphan, GC later
                            pass
        else:
            before = (
                set(self._list_data_files(meta.name)) if mode == "append" else None
            )
            df.write.mode(mode).option("compression", codec).options(
                **blooms
            ).parquet(self.catalog.data_path(meta.name))
            after = self._list_data_files(meta.name)
            if mode == "append":
                self._manifest_commit(
                    meta.name,
                    add=[f for f in after if f not in before],
                    schema=df.schema,
                )
            else:
                self._manifest_commit(meta.name, full=after, schema=df.schema)

    # tombstoned files survive this many further manifest generations
    # before physical deletion, so a reader that resolved the previous
    # manifest finishes its scan on intact files (the snapshot-isolation
    # contract the reference gets from its store transaction,
    # SnapshotConnectionListener.scala; here: manifest pinning + grace GC)
    # a tombstoned file is physically unlinked only after this many younger
    # generations exist — the isolation window for in-flight scans: a
    # reader survives up to GRACE-1 concurrent mutations of the table it
    # is scanning (not unbounded; see _managed_df).  vacuum() ignores it.
    _TOMBSTONE_GRACE = 8

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.catalog.table_path(name.lower()), "manifest.json")

    def _load_manifest(self, name: str) -> dict | None:
        staged = self._staged_manifests
        if staged is not None and name.lower() in staged:
            # inside a deferred (transactional) commit: later ops of the
            # same tx must read the tx's own staged generation
            return dict(staged[name.lower()]["payload"])
        try:
            with open(self._manifest_path(name)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _list_data_files(self, name: str) -> list[str]:
        data = self.catalog.data_path(name)
        if not os.path.isdir(data):
            return []
        return sorted(f for f in os.listdir(data) if f.endswith(".parquet"))

    def _live_files(self, name: str) -> list[str] | None:
        """Absolute paths of the table's live data files per the manifest;
        None = table predates the manifest (fall back to dir listing)."""
        m = self._load_manifest(name)
        if m is None:
            return None
        data = self.catalog.data_path(name)
        return [os.path.join(data, f) for f in m["files"]]

    def _managed_df(self, name: str) -> DataFrame:
        """Unbucketed managed read resolved through the manifest: the
        returned plan pins this generation's file list, and a concurrent
        mutation never unlinks inside the grace window — a scan stays
        valid across up to _TOMBSTONE_GRACE-1 subsequent mutations (a
        scan slower than that many writes can lose a file mid-read and
        must retry; the reference bounds the same race with its snapshot
        tx lease).  Empty tables come back as an
        empty frame with the manifest-recorded schema."""
        files = self._live_files(name)
        if files is None:
            return self.spark.read.parquet(self.catalog.data_path(name))
        if not files:
            m = self._load_manifest(name)
            if m and m.get("schema"):
                return self.spark.createDataFrame(
                    [], StructType.fromJson(m["schema"])
                )
            raise FileNotFoundError(f"table {name} has no data files")
        return self.spark.read.parquet(*files)

    def _manifest_commit(
        self,
        name: str,
        add: list[str] | tuple = (),
        remove: list[str] | tuple = (),
        full: list[str] | None = None,
        schema: StructType | None = None,
    ) -> None:
        """One atomic manifest generation: live' = (live − remove) + add,
        or exactly `full`.  The swap is a single os.replace (POSIX-atomic
        rename), so a crash leaves either the old or the new generation —
        never a torn state: new files not yet committed are invisible
        orphans; files removed from the manifest stay on disk as
        tombstones until _TOMBSTONE_GRACE younger generations exist.
        File names (not paths) are stored — the manifest moves with the
        table directory."""
        data = self.catalog.data_path(name)
        m = self._load_manifest(name)
        if m is None:
            # first commit on a pre-manifest table: the directory listing
            # ALREADY contains the just-written `add`/`full` files (they
            # are staged before the commit) — seed live from the listing
            # minus those, or they'd be recorded twice and double-read
            staged = set(add) | (set(full) if full is not None else set())
            live = [f for f in self._list_data_files(name) if f not in staged]
            tombs, gen, sch = [], 0, None
        else:
            live, tombs, gen, sch = (
                m["files"],
                m.get("tombstones", []),
                m["gen"],
                m.get("schema"),
            )
        gen += 1
        if full is not None:
            new_set = set(full)
            removed = [f for f in live if f not in new_set]
            live = list(full)
        else:
            rm = set(remove)
            removed = [f for f in live if f in rm]
            live = [f for f in live if f not in rm] + list(add)
        live = list(dict.fromkeys(live))  # a name must never appear twice
        tombs = tombs + [{"file": f, "gen": gen} for f in removed]
        keep, drop = [], []
        for t in tombs:
            (drop if t["gen"] <= gen - self._TOMBSTONE_GRACE else keep).append(t)
        if schema is not None:
            sch = schema.jsonValue()
        if self._staged_manifests is not None:
            # deferred (transactional) publication: stash the would-be
            # generation; nothing becomes visible until the tx intent
            # record lands (the commit point in commit()).  Tombstone GC
            # is skipped entirely here (keep = all) — physical deletes
            # are irreversible and must not precede the commit point;
            # the next normal commit applies the grace policy.
            payload = {
                "gen": gen,
                "ts": time.time(),
                "files": live,
                "tombstones": keep + drop,
                "schema": sch,
            }
            spath = os.path.join(
                self.catalog.table_path(name.lower()),
                f"manifest.staged-{self._tx_commit_id}.json",
            )
            write_json_atomic(spath, payload)
            self._staged_manifests[name.lower()] = {
                "payload": payload,
                "staged": spath,
            }
            return
        payload = {
            "gen": gen,
            "ts": time.time(),
            "files": live,
            "tombstones": keep,
            "schema": sch,
        }
        self._publish_generation(name, payload)
        hist = self._history_dir(name)
        for old in self._history_gens(name):
            if old <= gen - self._TOMBSTONE_GRACE:
                try:
                    os.remove(os.path.join(hist, f"gen-{old}.json"))
                except FileNotFoundError:
                    pass
        for t in drop:
            try:
                os.remove(os.path.join(data, t["file"]))
            except FileNotFoundError:
                pass

    def _publish_staged(
        self, name: str, staged_path: str, payload: dict | None
    ) -> None:
        """Phase-3 of an atomic multi-table commit: move one staged
        manifest into place (os.replace — per-table atomic) and record
        its generation in the snapshot history.  Idempotent across
        crashes: a staged file exists iff its table is unpublished."""
        if payload is None:
            try:
                with open(staged_path) as f:
                    payload = json.load(f)
            except (OSError, ValueError):
                return
        self._publish_generation(name, payload, staged_path)

    def _publish_generation(
        self, name: str, payload: dict, staged_path: str | None = None
    ) -> None:
        """Make `payload` the live manifest of `name` in one os.replace
        (the commit point), then record its history copy for snapshot
        time travel (table_version): any generation still inside the
        tombstone grace window has every one of its files intact on
        disk, so the history manifest alone reconstructs that snapshot.
        A staged manifest already holding `payload` is renamed into
        place rather than rewritten."""
        if staged_path is None:
            write_json_atomic(self._manifest_path(name), payload)
        else:
            os.replace(staged_path, self._manifest_path(name))
        hist = self._history_dir(name)
        os.makedirs(hist, exist_ok=True)
        write_json_atomic(
            os.path.join(hist, f"gen-{payload['gen']}.json"), payload
        )

    def _recover_tx_intents(self) -> None:
        """Roll FORWARD any multi-table commit that crashed after its
        commit point: every staged manifest named by an intent record is
        published (gen-guarded — a record another session already rolled
        forward and built upon must not clobber newer generations), then
        the record drops.  Pre-commit-point crashes leave no record, so
        their staged manifests and orphan data files stay invisible."""
        txdir = os.path.join(self.catalog.base_dir, "_tx")
        if not os.path.isdir(txdir):
            return

        for fn in sorted(os.listdir(txdir)):
            if not fn.endswith(".json"):
                continue
            path = os.path.join(txdir, fn)
            try:
                with open(path) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue
            for n, v in rec.get("tables", {}).items():
                if not os.path.exists(v["staged"]):
                    continue  # already published (rename consumed it)
                with self._table_lock(n):
                    m = self._load_manifest(n)
                    if m is not None and m.get("gen", 0) >= v["gen"]:
                        # newer state exists — the staged copy is stale
                        try:
                            os.remove(v["staged"])
                        except FileNotFoundError:
                            pass
                        continue
                    self._publish_staged(n, v["staged"], None)
            try:
                os.remove(path)
            except FileNotFoundError:
                pass

    def _history_dir(self, name: str) -> str:
        return os.path.join(self.catalog.table_path(name.lower()), "_history")

    def _history_gens(self, name: str) -> list[int]:
        hist = self._history_dir(name)
        if not os.path.isdir(hist):
            return []
        gens = []
        for f in os.listdir(hist):
            if f.startswith("gen-") and f.endswith(".json"):
                try:
                    gens.append(int(f[4:-5]))
                except ValueError:
                    pass
        return sorted(gens)

    def table_history(self, name: str) -> list[dict]:
        """Snapshot history of a manifest-managed table, oldest first:
        one row per readable generation — {gen, ts, n_files} (the
        DESCRIBE HISTORY shape).  Retention = the tombstone grace
        window: older generations' files may already be unlinked, so
        their manifests are pruned with them."""
        name = self._canon(name)
        out = []
        for g in self._history_gens(name):
            try:
                with open(os.path.join(self._history_dir(name), f"gen-{g}.json")) as f:
                    m = json.load(f)
            except (OSError, ValueError):
                continue
            out.append(
                {"gen": g, "ts": m.get("ts"), "n_files": len(m["files"])}
            )
        return out

    def table_version(
        self, name: str, gen: int | None = None, as_of_ts: float | str | None = None
    ) -> DataFrame:
        """Time-travel read: the table AS OF manifest generation `gen`,
        or AS OF a wall-clock instant `as_of_ts` (epoch seconds or an
        ISO-8601 string, resolved to the newest generation committed at
        or before it).  Beyond the reference — its store keeps no
        version history; this falls out of the manifest-commit design.
        Grant-checked and policy-filtered like table().  Raises if the
        generation has been retired (older than the tombstone grace
        window, or vacuumed)."""
        name = self._canon(name)
        if gen is None:
            if as_of_ts is None:
                raise ValueError("table_version needs gen or as_of_ts")
            if isinstance(as_of_ts, str):
                from datetime import datetime, timezone

                dt = datetime.fromisoformat(as_of_ts)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                as_of_ts = dt.timestamp()
            eligible = [
                h["gen"]
                for h in self.table_history(name)
                if h["ts"] is not None and h["ts"] <= as_of_ts
            ]
            if not eligible:
                raise ValueError(
                    f"table {name} has no generation committed at or "
                    f"before {as_of_ts} (history: {self.table_history(name)})"
                )
            gen = max(eligible)
        if self._lacks_priv(name, "select"):
            raise PermissionError(
                f"user '{self.current_user}' lacks SELECT on '{name}'"
            )
        path = os.path.join(self._history_dir(name), f"gen-{gen}.json")
        try:
            with open(path) as f:
                m = json.load(f)
        except OSError:
            have = self._history_gens(name)
            raise ValueError(
                f"table {name} has no readable generation {gen}"
                f" (available: {have})"
            ) from None
        data = self.catalog.data_path(name)
        files = [os.path.join(data, f) for f in m["files"]]
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            raise ValueError(
                f"generation {gen} of {name} is no longer readable: "
                f"{len(missing)} of its files were vacuumed"
            )
        if not files:
            if m.get("schema"):
                df = self.spark.createDataFrame([], StructType.fromJson(m["schema"]))
            else:
                raise FileNotFoundError(f"generation {gen} of {name} is empty")
        else:
            df = self.spark.read.parquet(*files)
        return self._apply_policies(name, df)

    def vacuum(self, name: str) -> int:
        """Delete ALL tombstoned files now (no grace) — the explicit GC a
        long-idle table needs; returns the number of files removed.
        Unsafe only if a reader is still mid-scan on a pre-previous
        generation."""
        name = self._canon(name)
        # manifest read-modify-write must not interleave with a writer's
        # commit — an unlocked vacuum could overwrite a concurrent
        # mutation's freshly-committed manifest generation entirely
        with self._table_lock(name):
            m = self._load_manifest(name)
            if m is None:
                return 0
            data = self.catalog.data_path(name)
            n = 0
            for t in m.get("tombstones", []):
                try:
                    os.remove(os.path.join(data, t["file"]))
                    n += 1
                except FileNotFoundError:
                    pass
            gen = m["gen"] + 1
            self._publish_generation(name, {**m, "gen": gen, "tombstones": []})
            # historical generations referenced the files just deleted —
            # retire every time-travel snapshot older than the one just
            # published along with them
            hist = self._history_dir(name)
            for g in self._history_gens(name):
                if g < gen:
                    try:
                        os.remove(os.path.join(hist, f"gen-{g}.json"))
                    except FileNotFoundError:
                        pass
            # cached plans (incl. VERSION AS OF snapshots) may pin the
            # files just unlinked
            self.plan_cache.clear()
            return n

    def _mutation_target(self, name: str, meta: TableMeta) -> DataFrame | None:
        """Raw table read for mutation (no broadcast hint, no RLS filter —
        mutations see the whole table).  None = table has no data yet.
        Read FAILURES propagate — swallowing them into None turned broken
        states (missing catalog entry, corrupt file) into silent no-op
        UPDATE/DELETE and duplicate-key PUT-as-INSERT."""
        if self._is_bucketed(meta):
            cat = self._cat_name(meta.name)
            if not self.spark.catalog.tableExists(cat):
                raise ValueError(
                    f"bucketed table {meta.name} has no catalog entry in "
                    "this SparkSession (bucketed layouts live in the Spark "
                    "catalog and do not survive a process restart — "
                    "recreate the table; documented divergence)"
                )
            return self.spark.table(cat)
        files = self._live_files(name)
        if files is not None and not files:
            return None  # manifest says: no data
        try:
            return self._managed_df(name)
        except FileNotFoundError:
            return None  # pre-manifest table whose data dir is absent/empty

    def _bucket_affected_files(
        self, meta: TableMeta, source: DataFrame, keys: list[str]
    ) -> list[str] | None:
        """Bucket-function file pruning for key-based mutations on bucketed
        tables: the affected bucket ids are computed from the SOURCE keys
        alone — ``pmod(murmur3_hash(bucket_cols), n)``, the exact
        expression Spark's bucketed writer assigns files with
        (HashPartitioning.partitionIdExpression) — so NO scan of the
        target runs at all; candidate files come from the catalog's
        driver-side listing, filtered by the bucket id encoded in each
        file name.  The reference's analogue is routing a keyed mutation
        to its owning bucket via the store's hash ring
        (PartitionedRegion put routing; ColumnTableBulkOps.scala:46-120).

        Returns the (superset-safe) file list, or None to fall back to the
        semi-join scan (unbucketed table, keys not covering the bucket
        columns, or an unexpected file layout)."""
        if not self._is_bucketed(meta):
            return None
        bcols = [c.lower() for c in meta.partition_by]
        if not set(bcols) <= {k.lower() for k in keys}:
            return None
        try:
            table = self.spark.table(self._cat_name(meta.name))
        except Exception:
            return None  # no bucketed catalog entry: use the scan path
        # hash() is physical-type-sensitive: cast source keys to the
        # target's column types so int32/int64 drift can't mis-bucket
        types = {f.name.lower(): f.dataType for f in table.schema.fields}
        exprs = [F.col(c).cast(types[c]) for c in bcols]
        ids = {
            r[0]
            for r in source.select(
                F.pmod(F.hash(*exprs), F.lit(meta.buckets)).alias("b")
            )
            .distinct()
            .collect()
        }
        files: list[str] = []
        for f in table.inputFiles():
            m = re.search(r"_(\d{5})(?:\.|$)", os.path.basename(f))
            if m is None:
                return None  # not a bucketed layout: use the scan path
            if int(m.group(1)) % meta.buckets in ids:
                files.append(f)
        return files

    def _affected_files(
        self,
        target: DataFrame,
        pred=None,
        source: DataFrame | None = None,
        keys: list[str] | None = None,
    ) -> list[str]:
        """Data files containing ≥1 row hit by the mutation — the file-level
        blast radius (the Delta-Lake copy-on-write discipline; the
        reference's analogue is per-column-batch deltas + delete bitmaps,
        ColumnDelta.scala:16-75).  The scan benefits from parquet
        row-group min/max pruning for predicate mutations.  Every keyed
        or predicate mutation commits through this list, however long.

        The collected list is driver metadata (file PATHS, not rows) —
        same contract as Delta's transaction log reads."""
        tagged = target.withColumn("__sg_file", F.input_file_name())
        if pred is not None:
            p = F.expr(pred) if isinstance(pred, str) else pred
            hits = tagged.filter(F.coalesce(p, F.lit(False)))
        else:
            marked = source.select(
                *[F.col(k).alias(f"__src_{k}") for k in keys]
            ).distinct()
            cond = None
            for k in keys:
                c = tagged[k].eqNullSafe(marked[f"__src_{k}"])
                cond = c if cond is None else cond & c
            hits = tagged.join(marked, cond, "left_semi")
        return [r[0] for r in hits.select("__sg_file").distinct().collect()]

    def _read_files(self, schema, files: list[str]) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*files)

    @staticmethod
    def _local_path(uri: str) -> str:
        if uri.startswith("file:"):
            from urllib.parse import unquote, urlparse

            return unquote(urlparse(uri).path)
        return uri

    def _recover_mutation_journal(self, meta: TableMeta) -> None:
        """Complete (or discard) a bucketed mutation interrupted between
        its append and its old-file removals — see _replace_files.  Runs
        under the table lock before any new mutation, and at session init
        over an existing store."""
        jpath = os.path.join(
            self.catalog.table_path(meta.name), "mutation_journal.json"
        )
        try:
            with open(jpath) as fh:
                j = json.load(fh)
        except (OSError, ValueError):
            return
        tdir = j.get("dir")
        if tdir and os.path.isdir(tdir):
            current = {
                f for f in os.listdir(tdir) if f.endswith(".parquet")
            }
            appended = current - set(j.get("existing", []))
            if appended:
                # the append committed: the removals are what is missing
                for p in j.get("remove", []):
                    try:
                        os.remove(p)
                    except FileNotFoundError:
                        pass
            # else: the append never committed — pre-mutation state is
            # already exact; just drop the journal
        try:
            os.remove(jpath)
        except FileNotFoundError:
            pass
        try:
            self.spark.catalog.refreshTable(self._cat_name(meta.name))
        except Exception:  # noqa: BLE001 — table may not be registered yet
            pass

    def _replace_files(
        self, meta: TableMeta, files: list[str], new_rows: DataFrame
    ) -> None:
        """Swap the touched files for the rewritten rows; every other file
        is untouched (byte-identical).  New files are staged, moved in,
        and become visible in ONE atomic manifest commit — a crash at any
        point leaves either the pre-mutation state (uncommitted orphans
        are invisible) or the post-mutation state (old files tombstoned,
        physically removed only after the grace window); never duplicates,
        never loss.  Readers that resolved the previous manifest keep
        scanning intact files (the reference brackets this in a store
        transaction, SnapshotConnectionListener.scala).

        Bucketed tables append through the bucketed writer (rows re-hash
        into their buckets, so bucket pruning and colocated joins stay
        correct even if an UPDATE moved a partition column) and rely on
        Spark's catalog listing, so old-file deletion is eager — made
        crash-exact by a mutation JOURNAL: the pre-append file listing is
        recorded first, so recovery can tell whether the append committed
        (new parquet files present ⇒ finish the removals; none ⇒ the
        mutation never happened — drop the journal).  Either way a crash
        replays to exactly-before or exactly-after, never duplicates."""
        self._audit_plan(f"replace_files:{meta.name}", new_rows)
        if self._is_bucketed(meta):
            self._recover_mutation_journal(meta)
            local_remove = [self._local_path(f) for f in files]
            table_dir = (
                os.path.dirname(local_remove[0]) if local_remove else None
            )
            jpath = os.path.join(
                self.catalog.table_path(meta.name), "mutation_journal.json"
            )
            if table_dir and os.path.isdir(table_dir):
                existing = sorted(
                    f for f in os.listdir(table_dir) if f.endswith(".parquet")
                )
                write_json_atomic(
                    jpath,
                    {"dir": table_dir, "remove": local_remove, "existing": existing},
                )
            self._write(new_rows, meta, mode="append")
            for f in local_remove:
                try:
                    os.remove(f)
                except FileNotFoundError:
                    pass
            try:
                os.remove(jpath)
            except FileNotFoundError:
                pass
            self.spark.catalog.refreshTable(self._cat_name(meta.name))
        else:
            data = self.catalog.data_path(meta.name)
            cols = self._index_cols(meta.name)
            if cols:
                # indexed tables keep their clustered layout through
                # mutations: re-cluster just the touched rows so footer
                # min/max skipping doesn't decay with every UPDATE
                new_rows = self._cluster_for_index(
                    new_rows, cols, max(1, len(files))
                )
            schema = new_rows.schema
            tmp = self.catalog.table_path(meta.name) + "/mut-" + uuid.uuid4().hex[:8]
            new_rows.write.mode("overwrite").options(
                **self._bloom_opts(meta)
            ).parquet(tmp)
            stamp = uuid.uuid4().hex[:8]
            added = []
            for f in os.listdir(tmp):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(tmp, f), os.path.join(data, f"mut-{stamp}-{f}")
                    )
                    added.append(f"mut-{stamp}-{f}")
            shutil.rmtree(tmp, ignore_errors=True)
            # the manifest read-modify-write is the only section that
            # needs the table lock: a DOWNGRADED writer (claims held,
            # lock released — see _WriteScope) re-takes it just for this.
            # Its removals can't collide: the claimed files are live and
            # no intersecting writer is in flight.
            with self._table_lock(meta.name):
                self._manifest_commit(
                    meta.name,
                    add=added,
                    remove=[
                        os.path.basename(self._local_path(f)) for f in files
                    ],
                    schema=schema,
                )
                self._refresh_view(meta.name)
            return
        self._refresh_view(meta.name)

    def _rewrite(self, result: DataFrame, meta: TableMeta) -> None:
        """Copy-on-write: materialize to a fresh dir then swap — the
        semantics (not storage trick) of column deltas/delete bitmaps
        (ColumnDeltaEncoder.scala / ColumnDeleteEncoder.scala).  The tmp
        materialization also breaks the read-your-own-target cycle of
        overwrite-while-reading."""
        cols = self._index_cols(meta.name)
        if cols and not self._is_bucketed(meta):
            live = self._live_files(meta.name)
            n_files = max(1, len(live) if live is not None
                          else len(self._list_data_files(meta.name)))
            result = self._cluster_for_index(result, cols, n_files)
        self._audit_plan(f"rewrite:{meta.name}", result)
        schema = result.schema
        tmp = self.catalog.table_path(meta.name) + "/rewrite-" + uuid.uuid4().hex[:8]
        result.write.mode("overwrite").options(
            **self._bloom_opts(meta)
        ).parquet(tmp)
        staged = self.spark.read.parquet(tmp)
        if self._is_bucketed(meta):
            self._write(staged, meta, mode="overwrite")
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            # full-replace through the same atomic manifest commit the
            # pruned path uses: move the staged files in under fresh
            # names, then one os.replace flips the table to exactly them
            data = self.catalog.data_path(meta.name)
            os.makedirs(data, exist_ok=True)
            stamp = uuid.uuid4().hex[:8]
            names = []
            for f in os.listdir(tmp):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(tmp, f), os.path.join(data, f"rw-{stamp}-{f}")
                    )
                    names.append(f"rw-{stamp}-{f}")
            shutil.rmtree(tmp, ignore_errors=True)
            self._manifest_commit(meta.name, full=names, schema=schema)
        self._refresh_view(meta.name)

    def _refresh_view(self, name: str) -> None:
        # any view change invalidates cached plans: analyzed DataFrames
        # capture the old view definition (and parquet file listing)
        self.plan_cache.clear()
        name = self._canon(name)
        if self.catalog.exists(name):
            meta = self.catalog.load_meta(name)
            try:
                if self._is_bucketed(meta):
                    self.spark.catalog.refreshTable(self._cat_name(name))
                    df = self.spark.table(self._cat_name(name))
                else:
                    df = self._managed_df(name)
                self._apply_policies(name, df).createOrReplaceTempView(name)
            except Exception:
                pass  # empty table with no files yet

    def _sql_describe_history(self, stmt) -> DataFrame:
        # DESCRIBE HISTORY <table> — the SQL face of table_history()
        return self.spark.createDataFrame(
            [
                (h["gen"], float(h["ts"]) if h["ts"] else None, h["n_files"])
                for h in self.table_history(stmt.table)
            ],
            "gen long, ts double, n_files long",
        )
