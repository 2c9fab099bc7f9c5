"""Cross-session mutation serialization: two SnappySession objects over
the SAME store directory must serialize writers of a table exactly like
two threads of one session (the reference's store transaction brackets
writers regardless of which session they enter through), and the
outermost lock level takes an OS flock so writers in other PROCESSES
serialize too."""

import os
import subprocess
import sys
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

# r13: excluded from the default (driver) test lane — see pytest.ini
pytestmark = pytest.mark.slow


def test_two_sessions_same_store_serialize_puts(spark, sf_dir):
    from snappydata_spark import SnappySession

    store = tempfile.mkdtemp(prefix="snappy_xsess_")
    sn1 = SnappySession(spark, store_dir=store)
    sn2 = SnappySession(spark, store_dir=store)
    base = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(100)
    sn1.create_table(
        "xs_orders",
        options={"key_columns": "o_orderkey"},
        df=base,
    )

    # the two sessions must share the SAME underlying lock for the table
    # (the guard wrapper binds each acquisition to a max-lock-wait budget)
    assert sn1._table_lock("xs_orders")._lock is sn2._table_lock("xs_orders")._lock

    # concurrent upsert storms through BOTH sessions over disjoint keys:
    # without cross-session serialization the copy-on-write swap loses
    # one writer's rows
    errs = []

    def storm(sn, lo, hi):
        try:
            for i in range(lo, hi):
                src = base.filter(F.col("o_orderkey") % 10 == i % 10).withColumn(
                    "o_totalprice", F.lit(float(i))
                )
                sn.put("xs_orders", src)
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    threads = [
        threading.Thread(target=storm, args=(sn1, 0, 5)),
        threading.Thread(target=storm, args=(sn2, 5, 10)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    # every PUT hit existing keys: row count must be exactly the base 100
    assert sn1.table("xs_orders").count() == 100
    assert sn2.table("xs_orders").count() == 100


@pytest.mark.skipif(os.name != "posix", reason="flock is POSIX-only")
def test_outermost_lock_holds_os_flock():
    from snappydata_spark.session.locks import _TableMutationLock

    store = tempfile.mkdtemp(prefix="snappy_flock_")
    path = os.path.join(store, "_locks", "t.lock")
    lock = _TableMutationLock(path)
    probe = (
        "import fcntl, sys\n"
        "fh = open(sys.argv[1], 'w')\n"
        "try:\n"
        "    fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)\n"
        "    print('ACQUIRED')\n"
        "except BlockingIOError:\n"
        "    print('BLOCKED')\n"
    )
    with lock:
        with lock:  # reentrant: no self-deadlock on the flock
            out = subprocess.run(
                [sys.executable, "-c", probe, path],
                capture_output=True,
                text=True,
                timeout=30,
            ).stdout.strip()
    # while held (even reentrantly) another PROCESS must be locked out
    assert out == "BLOCKED"
    out = subprocess.run(
        [sys.executable, "-c", probe, path],
        capture_output=True,
        text=True,
        timeout=30,
    ).stdout.strip()
    assert out == "ACQUIRED"
