"""Child process: write the seeded inputs, build the op plan and compute
every expected result with DuckDB (or, for upsert_rw, the orders model).

Kept out of the measured process so that data generation and DuckDB do
not count towards its time or peak memory.

    python3 perfbench/prepare.py <workload> <seed> <seconds> <data_dir> <plan.json>
"""

from __future__ import annotations

import json
import os
import sys

import checks
import datagen
import workloads


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def _orders_rows(data_dir: str) -> dict[int, tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, "orders.parquet"), columns=list(workloads.ORDERS_COLUMNS))
    cols = [t.column(c).to_pylist() for c in workloads.ORDERS_COLUMNS]
    cols[4] = [d.strftime("%Y-%m-%d %H:%M:%S") for d in cols[4]]
    return {row[0]: row for row in zip(*cols)}


def prepare(workload: str, seed: int, seconds: int, data_dir: str) -> dict:
    corpus = workload == "corpus_batch"
    datagen.generate(data_dir, seed, workloads.SCALE, corpus)
    con = _duck(data_dir)
    if corpus:
        from snappydata_spark.operators import ORACLES

        plan = workloads.build_corpus_plan(workload, seconds)
        plan["expect"] = {}
        for name in workloads.CORPUS_CYCLE:
            pdf = con.execute(ORACLES[name]).df()
            plan["expect"][name] = {
                "digest": checks.digest_frame(pdf),
                "rows": len(pdf),
                "columns": checks.frame_columns(pdf),
            }
        return plan

    plan = workloads.build_sql_plan(workload, seed, seconds, _orders_rows(data_dir))
    digests: dict[str, str] = {}
    for op in [op for r in plan["warmup"] + plan["rounds"] for op in r]:
        if op["kind"] != "read":
            continue
        if "expect_rows" in op:
            op["expect"] = checks.digest_rows(op.pop("expect_rows"))
            continue
        if op["sql"] not in digests:
            digests[op["sql"]] = checks.digest_rows(con.execute(op["sql"]).fetchall())
        op["expect"] = digests[op["sql"]]
    plan["checked_statements"] = len(digests)
    return plan


if __name__ == "__main__":
    workload, seed, seconds, data_dir, out = sys.argv[1:6]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    plan = prepare(workload, int(seed), int(seconds), data_dir)
    with open(out, "w") as f:
        json.dump(plan, f)
