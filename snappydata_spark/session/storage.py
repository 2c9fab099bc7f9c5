"""Table files: writes, manifest commits, time travel and pruned
copy-on-write."""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import threading
import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, functions as F
from pyspark.sql.types import StructType

from snappydata_spark.catalog import TableMeta, write_json_atomic

# catalog entry name → ((gen, ts), spec): the generation each bucketed
# table's Spark-catalog entry points at and the DDL it was created with.
# One record per process, like the catalog it describes: every
# SnappySession over a store shares the entries.
_CATALOG_ENTRIES: dict[str, tuple] = {}
_CATALOG_LOCK = threading.Lock()


class _BucketFiles(list):
    """A bucket-pruned file radius.  `buckets` are the bucket ids the
    mutation's keys hash to; they double as its key-claim tokens (the
    same key always hashes to the same bucket), so claiming them costs
    no second job over the source."""

    def __init__(self, files: list[str], buckets: set[int]):
        super().__init__(files)
        self.buckets = frozenset(buckets)


def _source_ids(source: DataFrame, expr: Column) -> set[int]:
    """The distinct values of the int expression `expr` over `source`,
    computed by Spark so the driver never converts source rows.  When
    the id projection plans to a LocalRelation (an inline VALUES batch:
    its rows, and so its ids, are already in the driver), the ids are
    collected as they are, which runs no Spark job, where a distinct()
    runs its shuffle stages.  Any other source is evaluated once, by
    the distinct() collect."""
    ids = source.select(expr.alias("__id"))
    if ids._jdf.queryExecution().optimizedPlan().nodeName() != "LocalRelation":
        ids = ids.distinct()
    return {r[0] for r in ids.collect()}


def _observe_hits(df: DataFrame, pred) -> tuple[DataFrame, Observation]:
    """`df` with an Observation that counts its rows matching `pred`.
    The count rides the frame's first action (on a bucketed staged
    write, no extra job); read it after that action with
    _observed_hits."""
    p = F.expr(pred) if isinstance(pred, str) else pred
    hits = Observation()
    observed = df.observe(hits, F.count_if(F.coalesce(p, F.lit(False))).alias("n"))
    return observed, hits


def _observed_hits(hits: Observation) -> int | None:
    """The count `hits` observed, or None when it observed nothing (the
    observed frame was planned away as empty).  Call it after the action
    that ran the observed frame has returned: Spark then completes the
    observation, with an empty row when the frame was planned away, so
    the wait always ends.  PySpark's `get` waits the same way but fails
    on that empty row; the JVM's getRowOrEmpty gives up after 100 ms,
    which would make a slow listener commit a no-match rewrite."""
    row = hits._jo.getRow()
    if row.size() == 0:
        return None
    return row.getLong(0)


def _bucket_id(cols: list, buckets: int) -> Column:
    """The bucket a row of a PARTITION_BY + BUCKETS table belongs to:
    ``pmod(murmur3_hash(cols), buckets)``, the expression Spark's
    bucketed writer assigns files with
    (HashPartitioning.partitionIdExpression).  The staging writer
    shuffles on it and bucket pruning computes it from source keys."""
    return F.pmod(F.hash(*cols), F.lit(buckets))


def _murmur3_int(v: int) -> int:
    """Spark's hash() of one INT value (Murmur3_x86_32.hashInt, seed
    42), as a signed 32-bit int."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    k = rotl((v * 0xCC9E2D51) & m, 15) * 0x1B873593 & m
    h = (rotl(42 ^ k, 13) * 5 + 0xE6546B64) & m
    h ^= 4
    h = (h ^ (h >> 16)) * 0x85EBCA6B & m
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@functools.lru_cache(maxsize=64)
def _bucket_labels(buckets: int, n: int) -> tuple[int, ...]:
    """One INT label per bucket id such that a hash exchange of `n`
    partitions sends bucket b to partition b mod n: the smallest v with
    pmod(hash(v), n) == b mod n.  Bucket ids themselves hash unevenly
    (ids 0-7 over 4 partitions put 4 buckets in one partition and none
    in another)."""
    want = min(buckets, n)
    first: dict[int, int] = {}
    v = 0
    while len(first) < want:
        p = _murmur3_int(v) % n
        if p < want:
            first.setdefault(p, v)
        v += 1
    return tuple(first[b % n] for b in range(buckets))


def _bucket_shuffle_key(cols: list, buckets: int, n: int) -> Column:
    """The staging writer's shuffle key for an `n`-partition exchange:
    a function of the bucket id, so every row of a bucket lands in one
    partition, that spreads the buckets evenly (b → b mod n)."""
    labels = F.array(*[F.lit(v) for v in _bucket_labels(buckets, n)])
    return labels[_bucket_id(cols, buckets)]


class StorageMixin:
    def _is_bucketed(self, meta: TableMeta) -> bool:
        return bool(meta.partition_by and meta.buckets)

    def _cat_name(self, name: str) -> str:
        """Spark-catalog identifier of a bucketed table's one catalog
        entry (unique per store directory, see ``_session_id``)."""
        return f"snappy_managed_{self._session_id}_{self._canon(name)}"

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

    def _stage(
        self, df: DataFrame, meta: TableMeta, tag: str, n_files: int | None = None
    ) -> list[str]:
        """The staging writer: write `df` as new files in the table's
        data dir, under fresh names, and return those names.  Nothing is
        visible until the caller commits them through _manifest_commit.
        A failed write leaves no staging directory or staging table.

        PARTITION_BY + BUCKETS tables stage through Spark's bucketed
        writer (bucketBy needs saveAsTable: a throwaway external table
        at the staging path), so every file holds one bucket and keeps
        Spark's `_NNNNN` bucket-id suffix — what the table's catalog
        entry (_catalog_entry) and bucket pruning
        (_bucket_affected_files) read.  Colocated joins then need no
        exchange (the CollapseCollocatedPlans / COLOCATE_WITH semantics
        of the reference, SnappyStrategies.scala:768-826).

        The rows are shuffled on their bucket id (_bucket_shuffle_key),
        with no fixed partition count.  Every row of a bucket lands in
        one task, so each touched bucket gets exactly one file, and AQE
        coalesces the shuffle to the tasks the data needs: a keyed
        mutation that touches two buckets writes from one or two tasks,
        not one per declared bucket, while a large write keeps its
        buckets spread evenly over the exchange's partitions.  (A
        shuffle on the key columns splits a bucket across tasks unless
        the partition count divides the bucket count, and over the
        table's own bucketed scan, as in COMPACT, Spark plans it away.)

        Other tables with an index range-cluster the rows into
        `n_files` files when `n_files` is given (rewrites and
        mutations)."""
        # COMPRESSION option (ExternalStoreUtils.scala:88-105; batch codecs
        # CompressionCodecId.scala LZ4/SNAPPY) → parquet codec per table
        codec = str(meta.options.get("compression", "snappy")).lower()
        codec = {"lz4": "lz4", "snappy": "snappy", "none": "uncompressed"}.get(
            codec, codec
        )
        stamp = uuid.uuid4().hex[:8]
        tmp = os.path.join(self.catalog.table_path(meta.name), f"{tag}-{stamp}")
        staging = None
        try:
            if self._is_bucketed(meta):
                staging = f"snappy_stage_{stamp}_{uuid.uuid4().hex[:8]}"
                conf = self.spark._jsparkSession.sessionState().conf()
                # the exchange's partition count before AQE coalesces it
                key = _bucket_shuffle_key(
                    meta.partition_by, meta.buckets, conf.numShufflePartitions()
                )
                (
                    df.repartition(key)
                    .write.format("parquet")
                    .option("compression", codec)
                    .options(**self._bloom_opts(meta))
                    .bucketBy(meta.buckets, *meta.partition_by)
                    .sortBy(*meta.partition_by)
                    .option("path", tmp)
                    .saveAsTable(staging)
                )
            else:
                cols = self._index_cols(meta.name) if n_files else None
                if cols:
                    # indexed tables keep their clustered layout through
                    # mutations: footer min/max skipping doesn't decay
                    df = self._cluster_for_index(df, cols, n_files)
                df.write.mode("overwrite").option("compression", codec).options(
                    **self._bloom_opts(meta)
                ).parquet(tmp)
            data = self.catalog.data_path(meta.name)
            os.makedirs(data, exist_ok=True)
            names = []
            for f in sorted(os.listdir(tmp)):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(tmp, f), os.path.join(data, f"{tag}-{stamp}-{f}")
                    )
                    names.append(f"{tag}-{stamp}-{f}")
            return names
        finally:
            if staging is not None:
                self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
            shutil.rmtree(tmp, ignore_errors=True)

    def _write(self, df: DataFrame, meta: TableMeta, mode: str) -> None:
        """Create (mode 'overwrite') or append: stage, then one manifest
        commit."""
        self._audit_plan(f"write:{meta.name}", df)
        names = self._stage(df, meta, "ins" if mode == "append" else "new")
        if mode == "append":
            self._manifest_commit(meta.name, add=names, schema=df.schema)
        else:
            self._manifest_commit(meta.name, full=names, schema=df.schema)

    # a tombstoned file is physically unlinked only after this many younger
    # manifest generations exist, so a reader that resolved an earlier
    # manifest finishes its scan on intact files: it survives up to
    # GRACE-1 concurrent mutations of the table it is scanning (not
    # unbounded; see _managed_df).  The reference gets this snapshot
    # isolation from its store transaction (SnapshotConnectionListener
    # .scala); here it is manifest pinning + grace GC.  vacuum() ignores it.
    _TOMBSTONE_GRACE = 8

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.catalog.table_path(name.lower()), "manifest.json")

    def _load_manifest(self, name: str) -> dict | None:
        staged = self._staged_manifests
        if staged is not None and name.lower() in staged:
            # inside a deferred (transactional) commit: later ops of the
            # same tx must read the tx's own staged generation
            return dict(staged[name.lower()]["payload"])
        return self._published_manifest(name)

    def _published_manifest(self, name: str) -> dict | None:
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
        """Managed read resolved through the manifest: the returned plan
        pins this generation's file list (for a bucketed table, its
        gens/gen-N link directory), and a concurrent mutation never
        unlinks inside the grace window — a scan stays valid across up
        to _TOMBSTONE_GRACE-1 subsequent mutations (a scan slower than
        that many writes can lose a file mid-read and must retry; the
        reference bounds the same race with its snapshot tx lease).
        Empty tables come back as an empty frame with the
        manifest-recorded schema."""
        m = self._load_manifest(name)
        if m is None:  # table predates the manifest
            return self.spark.read.parquet(self.catalog.data_path(name))
        staged = self._staged_manifests
        if staged is None or name.lower() not in staged:
            cat = self._catalog_entry(name)
            if cat is not None:
                try:
                    return self.spark.table(cat)
                except AnalysisException:
                    # the entry went away behind this process's record
                    # (dropped by hand, or a new SparkContext): register
                    with _CATALOG_LOCK:
                        _CATALOG_ENTRIES.pop(cat, None)
                    return self.spark.table(self._catalog_entry(name))
        if not m["files"]:
            if m.get("schema"):
                return self.spark.createDataFrame(
                    [], StructType.fromJson(m["schema"])
                )
            raise FileNotFoundError(f"table {name} has no data files")
        data = self.catalog.data_path(name)
        return self.spark.read.parquet(*[os.path.join(data, f) for f in m["files"]])

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
        self._retire_generations(name, gen - self._TOMBSTONE_GRACE + 1)
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
        A bucketed table's catalog entry then moves to the new
        generation (_catalog_entry).  A staged manifest already holding
        `payload` is renamed into place rather than rewritten."""
        if staged_path is None:
            write_json_atomic(self._manifest_path(name), payload)
        else:
            os.replace(staged_path, self._manifest_path(name))
        hist = self._history_dir(name)
        os.makedirs(hist, exist_ok=True)
        write_json_atomic(
            os.path.join(hist, f"gen-{payload['gen']}.json"), payload
        )
        self._catalog_entry(name)

    def _catalog_entry(self, name: str) -> str | None:
        """The Spark-catalog entry of a bucketed table, pointed at its
        published generation; None for other tables.  The entry carries
        the bucketing spec — what lets EnsureRequirements elide the
        shuffle of colocated joins — over gens/gen-N, a directory of
        hard links to generation N's live files.  A process that has no
        record of the entry (a new process, a restore) registers it from
        the manifest, so bucketed tables survive a restart; after that a
        new generation only moves its LOCATION (the ALTER also drops the
        cached relation, so no refreshTable is needed).  Reading the
        manifest under the lock keeps the entry monotone when sessions
        race: it always moves to the newest published generation."""
        meta = self.catalog.load_meta(name)
        if not self._is_bucketed(meta):
            return None
        cat = self._cat_name(name)
        with _CATALOG_LOCK:
            m = self._published_manifest(name)
            if m is None:
                return None
            known = _CATALOG_ENTRIES.get(cat)
            mark = (m["gen"], m.get("ts"))
            if known is not None and known[0] == mark:
                return cat
            loc = self._link_generation(name, m).replace("'", "\\'")
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in StructType.fromJson(m["schema"]).fields
            )
            keys = ", ".join(meta.partition_by)
            spec = (
                f"({cols}) USING parquet CLUSTERED BY ({keys}) "
                f"SORTED BY ({keys}) INTO {meta.buckets} BUCKETS"
            )
            if known is not None and known[1] == spec:
                self.spark.sql(f"ALTER TABLE {cat} SET LOCATION '{loc}'")
            else:  # first sight, or the schema or bucketing changed
                self.spark.sql(f"DROP TABLE IF EXISTS {cat}")
                self.spark.sql(f"CREATE TABLE {cat} {spec} LOCATION '{loc}'")
            _CATALOG_ENTRIES[cat] = (mark, spec)
        return cat

    def _drop_catalog_entry(self, name: str) -> None:
        cat = self._cat_name(name)
        with _CATALOG_LOCK:
            _CATALOG_ENTRIES.pop(cat, None)
            self.spark.sql(f"DROP TABLE IF EXISTS {cat}")

    def _gens_dir(self, name: str) -> str:
        return os.path.join(self.catalog.table_path(name.lower()), "gens")

    def _link_generation(self, name: str, m: dict) -> str:
        """gens/gen-N: hard links to generation N's live files, built
        once under a temporary name and renamed into place.  A link that
        cannot be made (a file already gone) raises."""
        gdir = os.path.join(self._gens_dir(name), f"gen-{m['gen']}")
        if os.path.isdir(gdir):
            return gdir
        data = self.catalog.data_path(name)
        tmp = f"{gdir}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        for f in m["files"]:
            os.link(os.path.join(data, f), os.path.join(tmp, f))
        try:
            os.rename(tmp, gdir)
        except OSError:  # another process built it first
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(gdir):
                raise
        return gdir

    def _retire_generations(self, name: str, below: int) -> None:
        """Drop the history manifests and link directories of every
        generation older than `below`."""
        for d in (self._history_dir(name), self._gens_dir(name)):
            if not os.path.isdir(d):
                continue
            for f in os.listdir(d):
                m = re.match(r"gen-(\d+)", f)
                if m is None or int(m.group(1)) >= below:
                    continue
                p = os.path.join(d, f)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    try:
                        os.remove(p)
                    except FileNotFoundError:
                        pass

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
            # retire every time-travel snapshot (and link directory)
            # older than the one just published along with them
            self._retire_generations(name, gen)
            # cached plans (incl. VERSION AS OF snapshots) may pin the
            # files just unlinked
            self.plan_cache.clear()
            return n

    def _mutation_target(self, name: str) -> DataFrame | None:
        """Raw table read for mutation (no broadcast hint, no RLS filter —
        mutations see the whole table).  None = table has no data yet.
        Read FAILURES propagate — swallowing them into None turned broken
        states (missing catalog entry, corrupt file) into silent no-op
        UPDATE/DELETE and duplicate-key PUT-as-INSERT."""
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
        alone with _bucket_id, the expression the files were written
        by, so NO scan of the target runs at all.  `source` may be the
        raw, unconflated batch: conflation keeps exactly its key set.
        The ids come back through _source_ids, which over an inline
        VALUES batch runs no Spark job.  The reference's analogue is
        routing a keyed mutation to its owning bucket via the store's
        hash ring (PartitionedRegion put routing;
        ColumnTableBulkOps.scala:46-120).

        Returns the (superset-safe) file list with its bucket ids, or None
        to fall back to the semi-join scan (no bucket count, keys not
        covering the bucket columns, or a file without a bucket id)."""
        bcols = [c.lower() for c in meta.partition_by]
        if not meta.buckets or not bcols or not set(bcols) <= {
            k.lower() for k in keys
        }:
            return None
        m = self._load_manifest(meta.name)
        if m is None or not m.get("schema"):
            return None
        # hash() is physical-type-sensitive: cast source keys to the
        # target's column types so int32/int64 drift can't mis-bucket
        types = {
            f.name.lower(): f.dataType
            for f in StructType.fromJson(m["schema"]).fields
        }
        exprs = [F.col(c).cast(types[c]) for c in bcols]
        ids = _source_ids(source, _bucket_id(exprs, meta.buckets))
        return self._bucket_files(meta, m, ids)

    def _planned_bucket_files(
        self, meta: TableMeta, target: DataFrame, pred
    ) -> list[str] | None:
        """Bucket pruning for a predicate mutation, taken from Spark's own
        planner: when `pred` fixes the bucket column (``k = c``,
        ``k IN (...)``, either ANDed with other terms), FileSourceStrategy
        gives the table's scan an optionalBucketSet, the buckets whose
        rows can match.  Planning runs no Spark job, so the mutation
        skips the _affected_files scan.  The radius is a superset: its
        files may hold no matching row (keys absent from the table), so
        the caller counts matches while it writes (_replace_files'
        `hits`).

        None falls back to _affected_files: a table that is not
        bucketed, a transaction reading its own staged generation (a
        plain parquet read with no bucket spec), a plan with more or
        other leaves than one file scan (``k IN (SELECT ...)``), or a
        scan with no bucket set (the predicate does not fix the bucket
        column, or it matches every bucket)."""
        staged = self._staged_manifests
        if not self._is_bucketed(meta) or (
            staged is not None and meta.name.lower() in staged
        ):
            return None
        p = F.expr(pred) if isinstance(pred, str) else pred
        leaves = target.filter(p)._jdf.queryExecution().sparkPlan().collectLeaves()
        if leaves.size() != 1:
            return None
        scan = leaves.apply(0)
        if scan.getClass().getSimpleName() != "FileSourceScanExec":
            return None
        spec, bits = scan.relation().bucketSpec(), scan.optionalBucketSet()
        if not (spec.isDefined() and bits.isDefined()):
            return None
        if spec.get().numBuckets() != meta.buckets:
            return None
        bits, ids, b = bits.get(), set(), 0
        while (b := bits.nextSetBit(b)) >= 0:
            ids.add(b)
            b += 1
        m = self._load_manifest(meta.name)
        return None if m is None else self._bucket_files(meta, m, ids)

    def _bucket_files(
        self, meta: TableMeta, m: dict, ids: set[int]
    ) -> list[str] | None:
        """Manifest `m`'s live files of the buckets `ids`, by the bucket
        id encoded in each file name; None when a file has no bucket id
        (not a bucketed layout: use the scan path)."""
        data = self.catalog.data_path(meta.name)
        files: list[str] = []
        for f in m["files"]:
            b = re.search(r"_(\d{5})(?:\.|$)", f)
            if b is None:
                return None
            if int(b.group(1)) % meta.buckets in ids:
                files.append(os.path.join(data, f))
        return _BucketFiles(files, ids)

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
        row-group min/max pruning for predicate mutations.  It is the
        fallback of bucketed tables: keyed mutations there prune with
        _bucket_affected_files, and predicates that fix the bucket
        column with _planned_bucket_files, neither of which scans.

        The collected list is driver metadata (file PATHS, not rows) —
        same contract as Delta's transaction log reads."""
        tagged = target.withColumn("__sg_file", F.input_file_name())
        if pred is not None:
            p = F.expr(pred) if isinstance(pred, str) else pred
            hits = tagged.filter(F.coalesce(p, F.lit(False)))
        else:
            # a semi join's output does not depend on duplicate source keys
            marked = source.select(*[F.col(k).alias(f"__src_{k}") for k in keys])
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

    def _replace_files(
        self,
        meta: TableMeta,
        files: list[str],
        new_rows: DataFrame,
        hits: Observation | None = None,
    ) -> None:
        """Swap the touched files for the rewritten rows; every other file
        is untouched (byte-identical).  New files are staged, moved in,
        and become visible in ONE atomic manifest commit — a crash at any
        point leaves either the pre-mutation state (uncommitted orphans
        are invisible) or the post-mutation state (old files tombstoned,
        physically removed only after the grace window); never duplicates,
        never loss.  Readers that resolved the previous manifest keep
        scanning intact files (the reference brackets this in a store
        transaction, SnapshotConnectionListener.scala).  Bucketed rows
        re-hash into their buckets in the staging writer, so bucket
        pruning and colocated joins stay correct even if an UPDATE moved
        a partition column.  `hits` (from _observe_hits on the rewritten
        rows' input) makes a rewrite that matched no row commit nothing:
        its staged files are unlinked, as if it never ran."""
        self._audit_plan(f"replace_files:{meta.name}", new_rows)
        schema = new_rows.schema
        added = self._stage(new_rows, meta, "mut", n_files=max(1, len(files)))
        if hits is not None and _observed_hits(hits) == 0:
            # a planned bucket radius none of whose rows matched: the
            # rewrite changed nothing, so nothing commits
            data = self.catalog.data_path(meta.name)
            for n in added:
                os.remove(os.path.join(data, n))
            return
        # the manifest read-modify-write is the only section that
        # needs the table lock: a DOWNGRADED writer (claims held,
        # lock released — see _WriteScope) re-takes it just for this.
        # Its removals can't collide: the claimed files are live and
        # no intersecting writer is in flight.
        with self._table_lock(meta.name):
            self._manifest_commit(
                meta.name,
                add=added,
                remove=[os.path.basename(self._local_path(f)) for f in files],
                schema=schema,
            )
            self._refresh_view(meta.name)

    def _rewrite(self, result: DataFrame, meta: TableMeta) -> None:
        """Copy-on-write: stage the whole result under fresh names, then
        one manifest commit flips the table to exactly those files — the
        semantics (not storage trick) of column deltas/delete bitmaps
        (ColumnDeltaEncoder.scala / ColumnDeleteEncoder.scala).  The old
        files stay on disk as tombstones, so reading the table while
        rewriting it is safe."""
        live = self._live_files(meta.name)
        n_files = max(1, len(live) if live is not None
                      else len(self._list_data_files(meta.name)))
        self._audit_plan(f"rewrite:{meta.name}", result)
        schema = result.schema
        names = self._stage(result, meta, "rw", n_files=n_files)
        self._manifest_commit(meta.name, full=names, schema=schema)
        self._refresh_view(meta.name)

    def _refresh_view(self, name: str) -> None:
        # any view change invalidates cached plans: analyzed DataFrames
        # capture the old view definition (and parquet file listing)
        self.plan_cache.clear()
        name = self._canon(name)
        if self.catalog.exists(name):
            try:
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
