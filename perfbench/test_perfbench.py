"""Tests of the benchmark's own checking: a wrong result must be caught.

    python3 -m pytest perfbench -q -p no:cacheprovider

They need neither Spark nor DuckDB: the session and the registry query
are stand-ins that return deliberately wrong results.
"""

from __future__ import annotations

import filecmp
import types

import checks
import datagen
import run
import workloads


class _Probe:
    trace = False

    def begin_op(self, i):
        pass

    def plan(self, df):
        pass

    def end_op(self, *a):
        pass


class _Session:
    def __init__(self, rows):
        self.rows = rows

    def sql(self, text):
        return types.SimpleNamespace(collect=lambda: self.rows)


def _run() -> run.Run:
    args = types.SimpleNamespace(workload="dashboard_ro", seed=1, seconds=1, trace=0)
    return run.Run(args, "/nonexistent")


def test_digest_ignores_row_order_and_sees_any_changed_cell():
    rows = [(1, "a", 2.5), (2, "b", None)]
    assert checks.digest_rows(rows) == checks.digest_rows(rows[::-1])
    assert checks.digest_rows(rows) != checks.digest_rows([(1, "a", 2.5), (2, "b", 0.0)])
    assert checks.digest_rows(rows) != checks.digest_rows(rows[:1])


def test_wrong_read_result_is_counted_as_failed():
    good = [(7, 3, "F", 100.25, "1-URGENT")]
    op = {"kind": "read", "name": "point", "sql": "SELECT 1", "expect": checks.digest_rows(good)}
    r = _run()
    r.sn = _Session(good)
    assert r.sql_op(_Probe(), 0, op) is not None
    assert (r.attempted, r.failed) == (1, 0)
    r.sn = _Session([(7, 3, "F", 100.26, "1-URGENT")])
    r.sql_op(_Probe(), 1, op)
    assert (r.attempted, r.failed) == (2, 1)


def test_failing_statement_is_counted_as_failed():
    class Broken:
        def sql(self, text):
            raise RuntimeError("boom")

    r = _run()
    r.sn = Broken()
    assert r.sql_op(_Probe(), 0, {"kind": "write", "name": "put", "sql": "PUT", "rows": 1}) is None
    assert (r.attempted, r.failed) == (1, 1)


def test_wrong_corpus_row_count_is_counted_as_failed(monkeypatch):
    from snappydata_spark.operators import QUERIES

    monkeypatch.setitem(QUERIES, "fake_query", lambda spark, d: types.SimpleNamespace(count=lambda: 41))
    r = _run()
    r.spark = types.SimpleNamespace(catalog=types.SimpleNamespace(clearCache=lambda: None))
    r.expect = {"fake_query": {"rows": 42}}
    r.corpus_op(_Probe(), 0, {"kind": "read", "name": "fake_query"})
    assert (r.attempted, r.failed) == (1, 1)


def test_model_summary_sees_a_lost_update():
    rows = {k: (k, 1, "F", 10.0 + k, "1996-01-01 00:00:00", "1-URGENT") for k in range(5)}
    model = checks.OrdersModel(rows)
    model.add_price([1, 2], 1.25)
    table = checks.OrdersModel(rows)
    table.add_price([1], 1.25)
    assert model.summary() != table.summary()
    table.add_price([2], 1.25)
    assert model.summary() == table.summary()
    table.delete([4])
    assert model.summary() != table.summary()


def test_plans_are_seeded_and_miss_the_same_number_of_times():
    rows = {k: (k, k % 7, "F", 100.0, "1996-01-01 00:00:00", "1-URGENT") for k in range(1000)}

    def plan(seed):
        return workloads.build_sql_plan("dashboard_ro", seed, 6, rows)

    assert plan(1) == plan(1)
    assert plan(1) != plan(2)

    def distinct(p):
        return len({op["sql"] for r in p["warmup"] + p["rounds"] for op in r})

    assert distinct(plan(1)) == distinct(plan(2))


def test_upsert_plan_expects_the_model_state():
    rows = {k: (k, k % 7, "F", 100.0 + k, "1996-01-01 00:00:00", "1-URGENT") for k in range(1000)}
    p = workloads.build_sql_plan("upsert_rw", 3, 6, rows)
    writes = [op for r in p["rounds"] for op in r if op["kind"] == "write"]
    assert {op["name"] for op in writes} == {"put", "update", "delete", "readd"}
    assert p["final"]["count"] == 1000
    assert p["final"] != checks.OrdersModel(rows).summary()  # prices moved


def test_upsert_rounds_repeat_reads_before_their_writes():
    # the repeats are what exercises plan-cache hits on upsert_rw: each is
    # an exact earlier statement of its round, run before the round writes
    rows = {k: (k, k % 7, "F", 100.0 + k, "1996-01-01 00:00:00", "1-URGENT") for k in range(1000)}
    p = workloads.build_sql_plan("upsert_rw", 3, 6, rows)
    for ops in p["warmup"][1:] + p["rounds"]:
        kinds = [op["kind"] for op in ops]
        first_write = kinds.index("write")
        again = [i for i, op in enumerate(ops) if op["name"].endswith("_again")]
        assert len(again) == 2 and max(again) < first_write
        earlier = {op["sql"] for op in ops[:min(again)]}
        assert all(ops[i]["sql"] in earlier for i in again)


def test_datagen_is_deterministic(tmp_path):
    a = datagen.generate(str(tmp_path / "a"), 5, 0.001, corpus=True)
    b = datagen.generate(str(tmp_path / "b"), 5, 0.001, corpus=True)
    c = datagen.generate(str(tmp_path / "c"), 6, 0.001, corpus=False)
    for t in ("orders", "lineitem", "documents", "embeddings", "events"):
        assert filecmp.cmp(f"{a}/{t}.parquet", f"{b}/{t}.parquet", shallow=False)
    assert not filecmp.cmp(f"{a}/orders.parquet", f"{c}/orders.parquet", shallow=False)
