"""Concurrent writers on disjoint keys (r10 verdict Next#5): a pruned
mutation claims its blast radius (live file names + key-hash tokens) and
runs its rewrite OUTSIDE the table lock, so writers whose radii don't
intersect commit in parallel — the engine analogue of the reference's
ROW-level write locks (consistency/using_transactions_row.md: writers on
disjoint rows of one table both commit).  Intersecting writers still
serialize; whole-table actions wait out in-flight claims."""

import os
import threading
import time

import pytest

# r13: excluded from the default (driver) test lane — see pytest.ini
pytestmark = pytest.mark.slow


def _mk_two_file_table(snappy, spark, name="cw_t"):
    """Keyed table whose rows land in (at least) two distinct data files:
    each insert commits its own files, so keys 1-50 and 51-100 have
    disjoint file radii."""
    a = spark.createDataFrame([(i, i * 10) for i in range(1, 51)], "k long, v long")
    b = spark.createDataFrame(
        [(i, i * 10) for i in range(51, 101)], "k long, v long"
    )
    snappy.create_table(name, options={"key_columns": "k"}, df=a)
    snappy.insert(name, b)
    return name


def _vals(sn, t):
    return {r.k: r.v for r in sn.table(t).collect()}


def test_disjoint_put_commits_while_rival_mid_rewrite(snappy, spark):
    """Writer A downgrades to a claim and stalls mid-rewrite; writer B
    (disjoint keys → disjoint files) must commit to completion while A is
    still in flight.  Under the old whole-mutation table lock this
    deadlocks: B waits for A's lock, A waits for B's completion."""
    from snappydata_spark import SnappySession

    name = _mk_two_file_table(snappy, spark)
    store = snappy.catalog.base_dir
    sa = SnappySession(spark, store_dir=store)
    sb = SnappySession(spark, store_dir=store)

    a_mid_rewrite = threading.Event()
    b_done = threading.Event()
    errors = []

    real_replace = type(sa)._replace_files

    def stalling_replace(meta, files, rows, hits=None):
        # runs AFTER _scope_gate: A holds its claim, not the table lock
        a_mid_rewrite.set()
        if not b_done.wait(timeout=90):
            raise AssertionError(
                "writer B did not commit while A held a disjoint claim"
            )
        return real_replace(sa, meta, files, rows, hits)

    sa._replace_files = stalling_replace

    def run_a():
        try:
            sa.put(name, spark.createDataFrame([(1, 111)], "k long, v long"))
        except Exception as e:  # noqa: BLE001
            errors.append(("a", e))

    def run_b():
        try:
            assert a_mid_rewrite.wait(timeout=90)
            sb.put(name, spark.createDataFrame([(51, 511)], "k long, v long"))
            b_done.set()
        except Exception as e:  # noqa: BLE001
            errors.append(("b", e))
            b_done.set()  # unblock A so the test fails fast, not on timeout

    ta = threading.Thread(target=run_a)
    tb = threading.Thread(target=run_b)
    ta.start()
    tb.start()
    ta.join(timeout=180)
    tb.join(timeout=180)
    assert not ta.is_alive() and not tb.is_alive()
    assert errors == []
    final = _vals(snappy, name)
    assert final[1] == 111 and final[51] == 511
    assert len(final) == 100
    # all claims released
    assert snappy._claims(name).by_owner == {}


def test_predicate_delete_sees_concurrent_new_key(snappy, spark):
    """A predicate DELETE cannot claim rows a concurrent PUT is adding:
    beside an in-flight upsert of a NEW key inside its range it must
    wait for the PUT to commit and then delete that row too (serial
    order PUT → DELETE), not commit a radius that misses it."""
    from snappydata_spark import SnappySession

    name = _mk_two_file_table(snappy, spark)
    store = snappy.catalog.base_dir
    sa = SnappySession(spark, store_dir=store)
    sb = SnappySession(spark, store_dir=store)
    a_stalled = threading.Event()
    b_rewriting = threading.Event()
    a_done = threading.Event()
    errors = []
    real_replace = type(sa)._replace_files

    def put_replace(meta, files, rows, hits=None):
        a_stalled.set()
        b_rewriting.wait(timeout=5)  # a downgraded DELETE would get here
        real_replace(sa, meta, files, rows, hits)
        a_done.set()

    def delete_replace(meta, files, rows, hits=None):
        b_rewriting.set()
        a_done.wait(timeout=90)  # commit after the PUT
        real_replace(sb, meta, files, rows, hits)

    sa._replace_files = put_replace
    sb._replace_files = delete_replace

    def run_a():
        try:
            sa.put(name, spark.createDataFrame([(200, 2000)], "k long, v long"))
        except Exception as e:  # noqa: BLE001
            errors.append(("a", e))
            a_done.set()

    def run_b():
        try:
            assert a_stalled.wait(timeout=90)
            sb.delete(name, "k >= 90")
        except Exception as e:  # noqa: BLE001
            errors.append(("b", e))

    ta = threading.Thread(target=run_a)
    tb = threading.Thread(target=run_b)
    ta.start()
    tb.start()
    ta.join(timeout=180)
    tb.join(timeout=180)
    assert not ta.is_alive() and not tb.is_alive()
    assert errors == []
    final = _vals(snappy, name)
    assert 200 not in final
    assert sorted(final) == list(range(1, 90))
    assert snappy._claims(name).by_owner == {}


def test_intersecting_put_waits_then_applies(snappy, spark):
    """Writer B touching the SAME key as in-flight writer A must wait out
    A's claim, retry against fresh state, and apply after it — never a
    lost update."""
    from snappydata_spark import SnappySession

    name = _mk_two_file_table(snappy, spark)
    store = snappy.catalog.base_dir
    sa = SnappySession(spark, store_dir=store)
    sb = SnappySession(spark, store_dir=store)

    a_mid_rewrite = threading.Event()
    b_started = threading.Event()
    order = []

    real_replace = type(sa)._replace_files

    def stalling_replace(meta, files, rows, hits=None):
        a_mid_rewrite.set()
        assert b_started.wait(timeout=90)
        time.sleep(1.0)  # give B time to reach the claim wait
        order.append("a")
        return real_replace(sa, meta, files, rows, hits)

    sa._replace_files = stalling_replace

    def run_a():
        sa.put(name, spark.createDataFrame([(7, 700)], "k long, v long"))

    def run_b():
        assert a_mid_rewrite.wait(timeout=90)
        b_started.set()
        sb.put(name, spark.createDataFrame([(7, 777)], "k long, v long"))
        order.append("b")

    ta = threading.Thread(target=run_a)
    tb = threading.Thread(target=run_b)
    ta.start()
    tb.start()
    ta.join(timeout=180)
    tb.join(timeout=180)
    assert not ta.is_alive() and not tb.is_alive()
    # B blocked on A's claim, so it committed after A — and wins
    assert order == ["a", "b"]
    final = _vals(snappy, name)
    assert final[7] == 777
    assert len(final) == 100  # exactly one row per key — no duplicate 7


def test_same_new_key_puts_never_duplicate(snappy, spark):
    """Two concurrent PUTs of the same key that is NEW to the table have
    EMPTY file radii; the key-hash claim tokens must still serialize them
    or both would append (duplicate key)."""
    from snappydata_spark import SnappySession

    name = _mk_two_file_table(snappy, spark)
    store = snappy.catalog.base_dir
    sessions = [SnappySession(spark, store_dir=store) for _ in range(2)]
    barrier = threading.Barrier(2)
    errors = []

    def run(i):
        try:
            barrier.wait(timeout=60)
            sessions[i].put(
                name,
                spark.createDataFrame([(999, 9000 + i)], "k long, v long"),
            )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    assert errors == []
    rows = [r for r in snappy.table(name).collect() if r.k == 999]
    assert len(rows) == 1, f"duplicate key appended: {rows}"
    assert rows[0].v in (9000, 9001)


def test_whole_table_action_waits_for_claims(snappy, spark):
    """TRUNCATE while a claim holder is mid-rewrite must wait the claim
    out (then win: the put's rows are truncated away or the put retried
    first — either serial order, never a torn state)."""
    from snappydata_spark import SnappySession

    name = _mk_two_file_table(snappy, spark)
    store = snappy.catalog.base_dir
    sa = SnappySession(spark, store_dir=store)
    sc = SnappySession(spark, store_dir=store)

    a_mid_rewrite = threading.Event()
    t_end = {}

    real_replace = type(sa)._replace_files

    def stalling_replace(meta, files, rows, hits=None):
        a_mid_rewrite.set()
        time.sleep(2.0)
        out = real_replace(sa, meta, files, rows, hits)
        t_end["a"] = time.monotonic()
        return out

    sa._replace_files = stalling_replace

    def run_a():
        sa.put(name, spark.createDataFrame([(1, 111)], "k long, v long"))

    def run_c():
        assert a_mid_rewrite.wait(timeout=90)
        sc.truncate_table(name)
        t_end["c"] = time.monotonic()

    ta = threading.Thread(target=run_a)
    tc = threading.Thread(target=run_c)
    ta.start()
    tc.start()
    ta.join(timeout=180)
    tc.join(timeout=180)
    assert not ta.is_alive() and not tc.is_alive()
    # truncate drained the claim first: it finished after A's commit
    assert t_end["c"] >= t_end["a"]
    assert snappy.table(name).count() == 0


def test_constrained_tables_stay_serial(snappy, spark):
    """A table with a UNIQUE constraint is ineligible for claims — its
    validators scan the whole table — so mutations keep the classic
    exclusive lock (correctness over parallelism)."""
    snappy.sql(
        "CREATE TABLE cw_u (k LONG NOT NULL PRIMARY KEY, v LONG UNIQUE) "
        "USING row"
    )
    snappy.sql("INSERT INTO cw_u VALUES (1, 10), (2, 20)")
    meta = snappy.catalog.load_meta("cw_u")
    assert snappy._claims_eligible(meta) is False
    # plain keyed table IS eligible
    snappy.create_table(
        "cw_plain",
        options={"key_columns": "k"},
        df=spark.createDataFrame([(1, 10)], "k long, v long"),
    )
    assert snappy._claims_eligible(snappy.catalog.load_meta("cw_plain")) is True
    # bucketed tables are too: they commit through the same manifest
    snappy.create_table(
        "cw_b",
        options={"key_columns": "k", "partition_by": "k", "buckets": "4"},
        df=spark.createDataFrame([(1, 10)], "k long, v long"),
    )
    assert snappy._claims_eligible(snappy.catalog.load_meta("cw_b")) is True


def test_claims_registry_semantics():
    from snappydata_spark.session.locks import _TableWriteClaims

    c = _TableWriteClaims()
    assert c.try_claim(1, frozenset({"f1", "key:3"}))
    assert not c.try_claim(2, frozenset({"f1"}))  # file intersect
    assert not c.try_claim(2, frozenset({"key:3", "f9"}))  # token intersect
    assert c.try_claim(2, frozenset({"f2", "key:4"}))  # disjoint
    assert c.has_others(1) and c.has_others(None)
    # wait_clear times out while the blocker holds
    t0 = time.monotonic()
    assert not c.wait_clear(3, frozenset({"f1"}), time.monotonic() + 0.3)
    assert time.monotonic() - t0 >= 0.25
    # release unblocks a waiter
    done = []

    def waiter():
        done.append(c.wait_clear(3, frozenset({"f1"}), time.monotonic() + 30))

    th = threading.Thread(target=waiter)
    th.start()
    time.sleep(0.2)
    c.release(1)
    th.join(timeout=10)
    assert done == [True]
    # non-intersecting tokens never blocked
    assert c.wait_clear(3, frozenset({"zzz"}), time.monotonic() + 0.1)
    c.release(2)
    assert c.by_owner == {}


def test_flock_pin_survives_release(tmp_path):
    """A downgraded writer releases the in-process lock but must keep the
    cross-process flock pinned until its claim drops."""
    from snappydata_spark.session.locks import _TableMutationLock

    lk = _TableMutationLock(str(tmp_path / "t.lock"))
    lk.acquire(5)
    lk.pin_flock()
    lk.release()
    assert lk._fh is not None, "flock dropped despite the pin"
    # reacquire for the commit section: must not re-take the flock
    lk.acquire(5)
    lk.release()
    assert lk._fh is not None
    lk.unpin_flock()
    assert lk._fh is None


def test_merge_waits_out_claim_holder(snappy, spark):
    """MERGE INTO must drain in-flight blast-radius claims before its
    read→rewrite→commit (r12: _merge routed through _run_exclusive).  A
    lock-only merge racing downgraded writer A would read pre-A state,
    commit, and then have A's later manifest commit re-add the rows the
    merge replaced — duplicated keys and a lost update."""
    from snappydata_spark import SnappySession

    name = _mk_two_file_table(snappy, spark, "cw_mg")
    store = snappy.catalog.base_dir
    sa = SnappySession(spark, store_dir=store)
    sb = SnappySession(spark, store_dir=store)

    a_mid_rewrite = threading.Event()
    release_a = threading.Event()
    merge_done = threading.Event()
    errors = []

    real_replace = type(sa)._replace_files

    def stalling_replace(meta, files, rows, hits=None):
        a_mid_rewrite.set()
        if not release_a.wait(timeout=90):
            raise AssertionError("test never released writer A")
        return real_replace(sa, meta, files, rows, hits)

    sa._replace_files = stalling_replace

    def run_a():
        try:
            sa.put(name, spark.createDataFrame([(1, 111)], "k long, v long"))
        except Exception as e:  # noqa: BLE001
            errors.append(("a", e))

    def run_b():
        try:
            assert a_mid_rewrite.wait(timeout=90)
            sb.sql(
                f"MERGE INTO {name} t USING (SELECT CAST(1 AS LONG) AS k, "
                "CAST(222 AS LONG) AS v) s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET v = s.v "
                "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
            )
        except Exception as e:  # noqa: BLE001
            errors.append(("b", e))
        merge_done.set()

    ta = threading.Thread(target=run_a)
    tb = threading.Thread(target=run_b)
    ta.start()
    tb.start()
    # the merge must NOT commit while A's intersecting claim is in flight
    assert a_mid_rewrite.wait(timeout=90)
    assert not merge_done.wait(timeout=5), (
        "MERGE committed while an intersecting write claim was in flight"
    )
    release_a.set()
    ta.join(timeout=180)
    tb.join(timeout=180)
    assert not ta.is_alive() and not tb.is_alive()
    assert errors == []
    final = _vals(snappy, name)
    assert len(final) == 100, "merge/claim race duplicated rows"
    assert final[1] == 222  # serial order: A's put, then B's merge


def test_insert_overwrite_waits_out_claim_holder(snappy, spark):
    """INSERT OVERWRITE (full replace) racing a downgraded claim holder
    must drain the claim first, or the holder's later commit resurrects
    pre-overwrite rows on top of the replacement."""
    from snappydata_spark import SnappySession

    name = _mk_two_file_table(snappy, spark, "cw_ow")
    store = snappy.catalog.base_dir
    sa = SnappySession(spark, store_dir=store)
    sb = SnappySession(spark, store_dir=store)

    a_mid_rewrite = threading.Event()
    release_a = threading.Event()
    ow_done = threading.Event()
    errors = []

    real_replace = type(sa)._replace_files

    def stalling_replace(meta, files, rows, hits=None):
        a_mid_rewrite.set()
        if not release_a.wait(timeout=90):
            raise AssertionError("test never released writer A")
        return real_replace(sa, meta, files, rows, hits)

    sa._replace_files = stalling_replace

    def run_a():
        try:
            sa.put(name, spark.createDataFrame([(1, 111)], "k long, v long"))
        except Exception as e:  # noqa: BLE001
            errors.append(("a", e))

    def run_b():
        try:
            assert a_mid_rewrite.wait(timeout=90)
            sb.sql(
                f"INSERT OVERWRITE {name} "
                "SELECT CAST(500 AS LONG) AS k, CAST(5000 AS LONG) AS v"
            )
        except Exception as e:  # noqa: BLE001
            errors.append(("b", e))
        ow_done.set()

    ta = threading.Thread(target=run_a)
    tb = threading.Thread(target=run_b)
    ta.start()
    tb.start()
    assert a_mid_rewrite.wait(timeout=90)
    assert not ow_done.wait(timeout=5), (
        "INSERT OVERWRITE committed while a write claim was in flight"
    )
    release_a.set()
    ta.join(timeout=180)
    tb.join(timeout=180)
    assert not ta.is_alive() and not tb.is_alive()
    assert errors == []
    final = _vals(snappy, name)
    # serial order: A's put applied, then the overwrite replaced ALL rows
    assert final == {500: 5000}, f"resurrected rows after overwrite: {final}"
