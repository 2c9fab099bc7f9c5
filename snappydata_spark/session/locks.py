"""Per-table mutation locks, write claims and write scopes, plus the
session exceptions and the query-timeout frame."""

from __future__ import annotations

import errno
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

from snappydata_spark.catalog import TableMeta
from snappydata_spark.session.storage import _source_ids

try:
    import fcntl as _fcntl
except ImportError:  # non-POSIX: in-process locking only
    _fcntl = None


class LockTimeout(Exception):
    """A writer could not obtain the table's mutation lock within
    gemfirexd.max-lock-wait (configuration_parameters/
    snappydata.max-lock-wait.md: max milliseconds a DDL/writer waits for
    the distributed table lock, default 300000).  Derby/GemFireXD
    surface this as SQLState 40XL1 ("a lock could not be obtained
    within the time requested") — without a bound, a stuck peer process
    holding the store lock file would hang every other writer forever."""


class _TableMutationLock:
    """Reentrant per-(store, table) mutation lock: a process-global RLock
    serializes sessions/threads in this process; while the OUTERMOST
    level is held, an OS flock on the table's lock file serializes
    writers in other processes sharing the store directory (the
    single-store analogue of the reference's store transaction).  The
    flock is taken once per outermost entry — never re-taken on
    reentrancy, since a second flock on a fresh fd would self-deadlock.

    `acquire(timeout_s)` bounds BOTH waits (in-process RLock and
    cross-process flock) and raises LockTimeout on expiry — the flock
    wait polls LOCK_NB against the deadline since POSIX flock has no
    native timeout."""

    def __init__(self, lock_path: str):
        self._rlock = threading.RLock()
        self._path = lock_path
        self._depth = 0  # mutated only while _rlock is held
        self._fh = None
        # flock PINS (disjoint-writer concurrency): a downgraded
        # writer releases the in-process rlock so disjoint-radius peers
        # can proceed, but must keep serializing OTHER PROCESSES at table
        # granularity — it pins the flock across the downgrade.  _state
        # guards the fh/pin/depth transitions that happen outside _rlock.
        self._pins = 0
        self._state = threading.Lock()

    def pin_flock(self) -> None:
        """Keep the cross-process flock held after this thread releases
        its rlock acquisition.  Call only while holding the lock."""
        with self._state:
            self._pins += 1

    def unpin_flock(self) -> None:
        with self._state:
            self._pins -= 1
            if self._pins == 0 and self._depth == 0 and self._fh is not None:
                try:
                    _fcntl.flock(self._fh, _fcntl.LOCK_UN)
                finally:
                    self._fh.close()
                    self._fh = None

    def acquire(self, timeout_s: float | None = None):
        deadline = (
            None if timeout_s is None else time.monotonic() + timeout_s
        )
        if not self._rlock.acquire(
            timeout=-1 if timeout_s is None else timeout_s
        ):
            raise LockTimeout(
                f"40XL1: lock on {self._path} not obtained within "
                f"{timeout_s:g}s (gemfirexd.max-lock-wait)"
            )
        with self._state:
            self._depth += 1
            need_flock = (
                self._depth == 1 and self._fh is None and _fcntl is not None
            )
        if need_flock:
            fh = None
            try:
                os.makedirs(os.path.dirname(self._path), exist_ok=True)
                fh = open(self._path, "w")  # noqa: SIM115
                if deadline is None:
                    _fcntl.flock(fh, _fcntl.LOCK_EX)
                else:
                    while True:
                        try:
                            _fcntl.flock(
                                fh, _fcntl.LOCK_EX | _fcntl.LOCK_NB
                            )
                            break
                        except OSError as e:
                            if e.errno not in (errno.EAGAIN, errno.EACCES):
                                raise  # not "held elsewhere" — fall back
                            remaining = deadline - time.monotonic()
                            if remaining <= 0:
                                fh.close()
                                with self._state:
                                    self._depth -= 1
                                self._rlock.release()
                                raise LockTimeout(
                                    f"40XL1: lock on {self._path} not "
                                    f"obtained within {timeout_s:g}s "
                                    "(gemfirexd.max-lock-wait) — held by "
                                    "another process"
                                ) from None
                            time.sleep(min(0.05, remaining))
                with self._state:
                    self._fh = fh
            except LockTimeout:
                raise
            except OSError:
                # store on a filesystem without flock: fall back to
                # in-process serialization only
                if fh is not None:
                    fh.close()
        return self

    def release(self) -> None:
        with self._state:
            self._depth -= 1
            drop = (
                self._depth == 0 and self._pins == 0 and self._fh is not None
            )
            if drop:
                fh, self._fh = self._fh, None
        if drop:
            try:
                _fcntl.flock(fh, _fcntl.LOCK_UN)
            finally:
                fh.close()
        self._rlock.release()

    def __enter__(self):
        return self.acquire()

    def __exit__(self, *exc):
        self.release()


class _LockGuard:
    """Context manager binding one acquisition of a _TableMutationLock to
    a session's max-lock-wait budget (so the shared per-table lock object
    itself stays session-agnostic)."""

    def __init__(self, lock: "_TableMutationLock", timeout_s: float | None):
        self._lock = lock
        self._timeout_s = timeout_s

    def __enter__(self):
        return self._lock.acquire(self._timeout_s)

    def __exit__(self, *exc):
        self._lock.release()


_MUTATION_LOCKS: dict[tuple[str, str], _TableMutationLock] = {}
_MUTATION_LOCKS_GUARD = threading.Lock()


class _MutationRetry(Exception):
    """Internal control flow: a mutation observed an intersecting
    in-flight write claim; its computed blast radius is stale once the
    rival commits, so the whole operation re-runs against fresh state."""


class _TableWriteClaims:
    """Per-(store, table) write-claim registry — the engine analogue of
    the reference's ROW-level write locks (using_transactions_row.md:
    writers on disjoint rows of one table both commit).  A pruned
    mutation claims its blast radius (live data-file names + key-hash
    tokens) and runs its rewrite OUTSIDE the table mutation lock;
    writers whose claims intersect wait and retry.  In-process only:
    cross-process writers still serialize on the table flock, which a
    claim holder keeps pinned for its duration (documented divergence —
    the reference's distributed lock service spans members; a shared
    filesystem flock has no sub-table granularity)."""

    def __init__(self):
        self.cond = threading.Condition()
        self.by_owner: dict[int, frozenset] = {}

    def try_claim(self, owner: int, tokens: frozenset) -> bool:
        with self.cond:
            for o, t in self.by_owner.items():
                if o != owner and t & tokens:
                    return False
            self.by_owner[owner] = tokens
            return True

    def release(self, owner: int) -> None:
        with self.cond:
            if self.by_owner.pop(owner, None) is not None:
                self.cond.notify_all()

    def has_others(self, owner: int | None) -> bool:
        with self.cond:
            return any(o != owner for o in self.by_owner)

    def wait_clear(
        self, owner: int, tokens: frozenset | None, deadline: float
    ) -> bool:
        """Block until no OTHER owner's claim intersects `tokens`
        (None = until no other claim exists at all).  True once clear;
        False on deadline expiry.  Callers must NOT hold the table
        mutation lock (a claim holder needs it briefly to commit)."""
        with self.cond:
            while True:
                busy = any(
                    o != owner and (tokens is None or t & tokens)
                    for o, t in self.by_owner.items()
                )
                if not busy:
                    return True
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return False
                self.cond.wait(min(remaining, 1.0))


_TABLE_CLAIMS: dict[tuple[str, str], _TableWriteClaims] = {}
_TABLE_CLAIMS_GUARD = threading.Lock()


class _WriteScope:
    """One mutation's locking lifecycle.  Starts holding the exclusive
    table lock (classic behavior).  A pruned mutation with a computed
    blast radius may `downgrade(tokens)`: claim the radius, pin the
    cross-process flock, and release the in-process lock so writers with
    DISJOINT radii proceed concurrently; the manifest commit re-takes
    the table lock briefly.  `ensure_exclusive()` is the other side:
    whole-table actions wait out any in-flight claims (releasing the
    lock while waiting, then retrying the mutation from scratch)."""

    def __init__(self, session: "SnappySession", name: str):
        self.session = session
        self.name = session._canon(name)
        self.lock, self.timeout_s = session._lock_and_timeout(name)
        self.claims = session._claims(name)
        self.owner = id(self)
        self.holding_lock = False
        self.downgraded = False
        self.deadline = time.monotonic() + (self.timeout_s or 300.0)

    def _remaining(self) -> float:
        return self.deadline - time.monotonic()

    def enter(self) -> None:
        remaining = self._remaining()
        if remaining <= 0:
            raise LockTimeout(
                f"40XL1: mutation of {self.name} exceeded "
                "gemfirexd.max-lock-wait across claim retries"
            )
        self.lock.acquire(remaining)
        self.holding_lock = True

    def exit(self) -> None:
        if self.downgraded:
            self.claims.release(self.owner)
            self.lock.unpin_flock()
            self.downgraded = False
        if self.holding_lock:
            self.lock.release()
            self.holding_lock = False

    def reset_for_retry(self) -> None:
        """Re-arm after _MutationRetry: the scope released the table lock
        before waiting; re-acquire it for the next attempt."""
        if not self.holding_lock:
            self.enter()

    def downgrade(self, tokens: frozenset) -> None:
        """Swap the exclusive table lock for a claim on `tokens`.  On
        intersection with an in-flight claim: release the lock, wait for
        the blockers, and raise _MutationRetry (the caller's file list
        is stale once the rival commits)."""
        assert self.holding_lock and not self.downgraded
        if self.claims.try_claim(self.owner, tokens):
            self.lock.pin_flock()
            self.lock.release()
            self.holding_lock = False
            self.downgraded = True
            return
        self.lock.release()
        self.holding_lock = False
        if not self.claims.wait_clear(self.owner, tokens, self.deadline):
            raise LockTimeout(
                f"40XL1: write claim on {self.name} not obtained within "
                "gemfirexd.max-lock-wait — intersecting writer in flight"
            )
        raise _MutationRetry

    def ensure_exclusive(self) -> None:
        """Whole-table action gate: with claim holders in flight, release
        the lock, wait them out, and retry the mutation.  No-op during a
        transaction replay (commit() drains claims before applying)."""
        if self.session._staged_manifests is not None:
            return
        if not self.claims.has_others(self.owner):
            return
        if self.holding_lock:
            self.lock.release()
            self.holding_lock = False
        if not self.claims.wait_clear(self.owner, None, self.deadline):
            raise LockTimeout(
                f"40XL1: exclusive access to {self.name} not obtained "
                "within gemfirexd.max-lock-wait — claim holders in flight"
            )
        raise _MutationRetry


class TransactionConflict(Exception):
    """Optimistic write-write conflict at COMMIT: another writer changed
    a touched table after this transaction first read it (the engine's
    analogue of the reference's write-lock acquisition failure → auto
    rollback, consistency/using_transactions_row.md).  The transaction
    is already rolled back when this raises."""


class QueryCancelled(Exception):
    """A query exceeded snappydata.query-timeout and was cancelled
    (gemfirexd.query-timeout.md; Derby/GemFireXD SQLState XCL52: the
    statement has been cancelled or timed out).  The session stays
    usable — only the offending statement's jobs were killed."""


class _CancellableDataFrame(_ClassicDataFrame):
    """DataFrame whose actions run under the session's query-timeout
    budget (gemfirexd.query-timeout.md / query-cancellation-interval.md;
    the reference's CancelStatement path).  Each action submits its jobs
    inside a dedicated job group with interruptOnCancel=true; a watchdog
    thread cancels the group when the budget expires and keeps
    re-cancelling every cancellation-interval ms so multi-job actions
    (persist pipelines, broadcast stages) can't outrun the first cancel.
    Transformations return plain DataFrames — the budget binds to the
    statement the user got back from sql()/table(), not derived frames
    (re-wrap by running the derived query through sql())."""

    def __new__(cls, *args, **kwargs):
        # pyspark.sql.dataframe.DataFrame.__new__ dispatches classic vs
        # connect from (jdf, session) args — bypass it, this class is
        # constructed from an existing classic frame
        return object.__new__(cls)

    def __init__(self, df: DataFrame, session, timeout_s: float):
        super().__init__(df._jdf, df.sparkSession)
        self._snappy_session = session
        self._timeout_s = timeout_s

    def _cancellable(self, fn):
        sn = self._snappy_session
        sc = self.sparkSession.sparkContext
        try:
            interval = (
                float(
                    sn.get_conf(
                        "snappydata.query-cancellation-interval", "100"
                    )
                )
                / 1000.0
            )
        except (TypeError, ValueError):
            interval = 0.1
        group = f"snappy-query-timeout-{uuid.uuid4().hex[:12]}"
        done = threading.Event()
        cancelled = threading.Event()

        def _watch():
            if done.wait(self._timeout_s):
                return
            cancelled.set()
            while not done.is_set():
                try:
                    sc.cancelJobGroup(group)
                except Exception:  # noqa: BLE001 — context shut down
                    return
                done.wait(max(interval, 0.01))

        sc.setJobGroup(
            group,
            f"snappydata.query-timeout={self._timeout_s}s",
            interruptOnCancel=True,
        )
        watcher = threading.Thread(
            target=_watch, name=group, daemon=True
        )
        watcher.start()
        try:
            return fn()
        except Exception as e:
            if cancelled.is_set():
                raise QueryCancelled(
                    "query cancelled after exceeding "
                    f"snappydata.query-timeout={self._timeout_s:g}s "
                    "(SQLState XCL52)"
                ) from e
            raise
        finally:
            done.set()
            try:
                sc._jsc.clearJobGroup()
            except Exception:  # noqa: BLE001 — py4j teardown race
                pass

    def count(self):
        return self._cancellable(lambda: _ClassicDataFrame.count(self))

    def collect(self):
        return self._cancellable(lambda: _ClassicDataFrame.collect(self))

    def toPandas(self):
        return self._cancellable(lambda: _ClassicDataFrame.toPandas(self))

    def take(self, num):
        return self._cancellable(lambda: _ClassicDataFrame.take(self, num))

    def head(self, n=None):
        return self._cancellable(lambda: _ClassicDataFrame.head(self, n))

    def first(self):
        return self._cancellable(lambda: _ClassicDataFrame.first(self))

    def show(self, n=20, truncate=True, vertical=False):
        return self._cancellable(
            lambda: _ClassicDataFrame.show(self, n, truncate, vertical)
        )

    def toLocalIterator(self, prefetchPartitions=False):
        return self._cancellable(
            lambda: _ClassicDataFrame.toLocalIterator(self, prefetchPartitions)
        )

    def foreach(self, f):
        return self._cancellable(lambda: _ClassicDataFrame.foreach(self, f))

    def foreachPartition(self, f):
        return self._cancellable(
            lambda: _ClassicDataFrame.foreachPartition(self, f)
        )


_TX_STAGEABLE = {"insert", "put", "update", "delete", "delete_from"}
# DDL/maintenance inside an explicit transaction is a syntax error in the
# reference (use_transactions_isolation_levels.md) — reject the same ops
_TX_FORBIDDEN = {"truncate_table", "alter_table", "compact_table"}


def _serialized(fn):
    """Per-table write section for a (self, table_name, ...) mutation.
    Default: exclusive table lock for the whole read→rewrite→swap (see
    _table_lock).  Pruned mutations may DOWNGRADE to a blast-radius
    claim mid-flight (see _WriteScope) — disjoint-radius writers then
    commit concurrently, the reference's row-write-lock behavior
    (using_transactions_row.md).  A _MutationRetry (stale radius after
    waiting out an intersecting claim) re-runs the mutation from
    scratch against fresh state, bounded by gemfirexd.max-lock-wait.
    With an explicit transaction open, stageable mutations buffer into
    the transaction instead of executing."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, name, *args, **kwargs):
        if getattr(self, "_tx", None) is not None:
            if fn.__name__ in _TX_STAGEABLE:
                return self._tx_stage(fn.__name__, name, args, kwargs)
            if fn.__name__ in _TX_FORBIDDEN:
                raise ValueError(
                    f"{fn.__name__} is not allowed inside a transaction "
                    "(the reference rejects DDL with autocommit off)"
                )
        scope = _WriteScope(self, name)
        scope.enter()
        stack = self._scope_stack()
        stack.append(scope)
        try:
            for _ in range(64):  # livelock backstop; deadline is the gate
                try:
                    if fn.__name__ in _EXCLUSIVE_REQUIRED:
                        scope.ensure_exclusive()
                    result = fn(self, name, *args, **kwargs)
                    break
                except _MutationRetry:
                    scope.reset_for_retry()
            else:
                raise LockTimeout(
                    f"40XL1: mutation of {name} kept losing claim races"
                )
            # maintain materialized ANN indexes on the mutated table with
            # the stored model — assignment + encoding only, never a
            # training job (IndexColumnFormatRelation's index-updated-on-
            # mutation contract).  put/insert narrow the refresh to the
            # source rows; other mutations re-derive + prune stale keys.
            # (Tables with ANN indexes / samples never downgrade —
            # _claims_eligible — so this still runs under the table lock.)
            if fn.__name__ in _ANN_MAINTAINED:
                if getattr(self, "_ann_indexes", None):
                    src = pred = None
                    if fn.__name__ in ("put", "insert", "delete_from") and args:
                        src = args[0]
                    elif fn.__name__ in ("update", "delete") and args:
                        pred = args[0]
                    self._ann_maintain(
                        name, source=src, pred=pred, kind=fn.__name__
                    )
                self._sample_maintain(name)
            return result
        finally:
            stack.pop()
            scope.exit()

    return wrapper


# whole-table operations: never downgrade, and must wait out in-flight
# claim holders before acting (insert is append-only — new files under
# fresh names, manifest add-only commit — so it composes with claims)
_EXCLUSIVE_REQUIRED = {"truncate_table", "alter_table", "compact_table"}


_ANN_MAINTAINED = {"put", "insert", "update", "delete", "delete_from",
                   "truncate_table"}


class LockingMixin:
    def _lock_and_timeout(self, name: str) -> tuple[_TableMutationLock, float]:
        # RLock semantics: put() on an empty table delegates to insert()
        # in-thread, so the same thread re-enters without re-flocking
        key = (os.path.abspath(self.catalog.base_dir), self._canon(name))
        with _MUTATION_LOCKS_GUARD:
            lock = _MUTATION_LOCKS.get(key)
            if lock is None:
                lock = _MUTATION_LOCKS[key] = _TableMutationLock(
                    os.path.join(key[0], "_locks", f"{key[1]}.lock")
                )
        # gemfirexd.max-lock-wait (snappydata.max-lock-wait.md): max ms a
        # writer waits for the table lock; reference default 300000
        wait_ms = float(
            self.get_conf("snappydata.max-lock-wait", 300000) or 300000
        )
        return lock, wait_ms / 1000.0

    def _table_lock(self, name: str) -> "_LockGuard":
        lock, timeout_s = self._lock_and_timeout(name)
        return _LockGuard(lock, timeout_s)

    def _claims(self, name: str) -> _TableWriteClaims:
        key = (os.path.abspath(self.catalog.base_dir), self._canon(name))
        with _TABLE_CLAIMS_GUARD:
            claims = _TABLE_CLAIMS.get(key)
            if claims is None:
                claims = _TABLE_CLAIMS[key] = _TableWriteClaims()
        return claims

    def _scope_stack(self) -> list:
        """Per-thread stack of active _WriteScopes (sessions are shared
        across threads; a scope belongs to the thread that opened it)."""
        tl = getattr(self, "_scope_tl", None)
        if tl is None:
            tl = self._scope_tl = threading.local()
        if not hasattr(tl, "scopes"):
            tl.scopes = []
        return tl.scopes

    def _current_write_scope(self) -> "_WriteScope | None":
        stack = self._scope_stack()
        return stack[-1] if stack else None

    def _claims_eligible(self, meta: TableMeta) -> bool:
        """May a pruned mutation of this table downgrade to a blast-radius
        claim and run beside disjoint writers?  Only when nothing about
        the table requires observing the WHOLE post-state of a rival
        write: no UNIQUE/FK constraints (their validators
        scan the full table), nothing referencing it, no identity columns
        (assignment reads the current max), no clustered/ANN index or
        dependent sample/topk table (maintained synchronously under the
        table lock).  Everything else serializes exactly as before."""
        if self._staged_manifests is not None:
            return False  # tx replay: commit() already drained claims
        name = meta.name.lower()
        if self._meta_uniques(meta) or self._meta_fks(meta):
            return False
        if self._referencing_fks(meta.name):
            return False
        if self._meta_identities(meta):
            return False
        if self._index_cols(meta.name):
            return False
        if any(
            v.get("table") == name
            for v in (getattr(self, "_ann_indexes", None) or {}).values()
        ):
            return False
        for t in self.catalog.list_tables():
            m = self.catalog.load_meta(t)
            if (
                m.provider in ("sample", "topk")
                and m.options.get("base_table") == name
            ):
                return False
        return True

    def _scope_gate(
        self,
        meta: TableMeta,
        files: list[str],
        key_source: tuple[DataFrame, list[str]] | None = None,
    ) -> None:
        """Locking decision point for a pruned mutation, called once the
        blast radius is known.  A keyed mutation (`key_source`) of an
        eligible table → downgrade the current write scope to a file/key
        claim (disjoint writers commit in parallel — reference
        row-write-lock semantics).  Otherwise → wait out in-flight claim
        holders and keep the classic exclusive table lock: a predicate
        mutation cannot claim the rows a concurrent upsert is adding
        (its radius is the files matching NOW), so beside one it would
        miss a phantom row, and constrained or index-maintained tables
        must see the whole post-state.  Either branch may raise
        _MutationRetry, re-running the mutation fresh."""
        scope = self._current_write_scope()
        if scope is None or scope.downgraded:
            return
        if key_source is not None and self._claims_eligible(meta):
            buckets = getattr(files, "buckets", None)  # _BucketFiles
            if buckets is not None:
                keyed = frozenset(f"bucket:{b}" for b in buckets)
            else:
                keyed = self._key_claim_tokens(*key_source)
            tokens = frozenset(
                os.path.basename(self._local_path(f)) for f in files
            ) | keyed
            scope.downgrade(tokens)
        else:
            scope.ensure_exclusive()

    def _key_claim_tokens(
        self, source: DataFrame, keys: list[str], buckets: int = 4096
    ) -> frozenset:
        """Key-space claim tokens for keyed upserts: two concurrent PUTs
        of the SAME key whose key is new to the table have EMPTY file
        radii — without a shared token both would append and duplicate
        the key.  Hashing source keys into a bounded token space makes
        them intersect (false-positive collisions just serialize).  The
        hashes come from the raw source through the same collect as
        bucket ids (_source_ids)."""
        expr = F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(buckets))
        return frozenset(f"key:{t}" for t in _source_ids(source, expr))

    def _run_exclusive(self, name: str, body):
        """Run `body()` under the exclusive table lock with in-flight
        write claims DRAINED first — the @_serialized /
        _EXCLUSIVE_REQUIRED discipline for mutation paths that don't go
        through the decorator (MERGE INTO, INSERT OVERWRITE, the
        create-index clustering rewrite).  A bare table lock is NOT
        enough for these: a downgraded claim holder runs its rewrite
        with the lock RELEASED, so a full-rewrite rival that only takes
        the lock would commit between the holder's read and its commit —
        the holder's later manifest commit then re-adds rows the rival
        replaced (lost update / resurrection).  `body` re-runs from
        scratch after a _MutationRetry, exactly like @_serialized."""
        scope = _WriteScope(self, name)
        scope.enter()
        stack = self._scope_stack()
        stack.append(scope)
        try:
            for _ in range(64):  # livelock backstop; deadline is the gate
                try:
                    scope.ensure_exclusive()
                    return body()
                except _MutationRetry:
                    scope.reset_for_retry()
            raise LockTimeout(
                f"40XL1: mutation of {name} kept losing claim races"
            )
        finally:
            stack.pop()
            scope.exit()
