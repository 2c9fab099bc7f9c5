"""The three workloads: what each one runs, and its expected results.

A plan is built from the seed alone, before Spark starts, by the
preparing child (prepare.py). It lists the warm-up and the timed ops,
and for every read the digest its result must have. The measured
process only executes a plan and compares digests.

  dashboard_ro  reads only, through SnappySession.sql()
  upsert_rw     the same reads plus PUT INTO / UPDATE / DELETE on orders
  corpus_batch  a fixed cycle of registry operators, each with .count()

Both SQL workloads run in rounds: the four read templates in a seeded
order, then (upsert_rw only) two writes. Each template takes a fresh
literal, never used before, in one round out of five, so it misses the
plan cache; otherwise it repeats one of three hot literals exactly. The
miss count is therefore the same for every seed. In upsert_rw the point
lookup reads both keys the previous round last wrote, and expects the
model's rows; the round then repeats its filter aggregate and one of its
point reads exactly, which hit the plan cache before the writes clear it.
"""

from __future__ import annotations

import random

import checks

# rounds (SQL) or cycles (corpus) per second of --seconds; the op count is
# fixed per run so every run of a workload does the same work
ROUNDS_PER_SECOND = {"dashboard_ro": 3.1, "upsert_rw": 0.67, "corpus_batch": 0.25}
WARMUP_ROUNDS = {"dashboard_ro": 3, "upsert_rw": 5, "corpus_batch": 2}
SCALE = 0.01  # datagen scale: 15k orders; fixed per-op costs dominate
FRESH_EVERY = 5  # one round in FRESH_EVERY uses a never-seen literal
HOT = 3  # hot literals per template, weighted 3:2:1
KEYS_PER_WRITE = 2

ORDERS_COLUMNS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)
TEMPLATES = {
    "point": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderpriority FROM orders WHERE o_orderkey = {0}"
    ),
    "filter_agg": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty "
        "FROM lineitem WHERE l_quantity < {0} AND l_tax >= 0.0{1} "
        "GROUP BY l_returnflag, l_linestatus"
    ),
    "join_agg": (
        "SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_quantity) AS qty "
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "WHERE o.o_orderstatus = '{0}' AND l.l_quantity > {1} "
        "GROUP BY o.o_orderpriority"
    ),
    "topk": (
        "SELECT c.c_custkey, c.c_nationkey, COUNT(*) AS n "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
        "WHERE c.c_mktsegment = '{0}' AND c.c_nationkey = {1} "
        "GROUP BY c.c_custkey, c.c_nationkey ORDER BY n DESC, c.c_custkey LIMIT 10"
    ),
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# tables, load options: lineitem is bucketed on the orders key and
# colocated with orders; customer is a keyed unbucketed column table
TABLES = {
    "orders": {"key_columns": "o_orderkey", "partition_by": "o_orderkey", "buckets": 8},
    "lineitem": {"partition_by": "l_orderkey", "buckets": 8, "colocate_with": "orders"},
    "customer": {"key_columns": "c_custkey"},
}

# an odd number of op types, so the median query falls inside one type's
# latencies rather than on the gap between two
CORPUS_CYCLE = [
    "tpch_q03_shipping_priority",
    "ev_sessionize",
    "sim_ivf_topk_vectorized",
    "dedup_minhash_lsh",
    "dedup_cluster_components",
]

WORKLOADS = tuple(ROUNDS_PER_SECOND)


def timed_rounds(workload: str, seconds: int) -> int:
    return max(2, round(seconds * ROUNDS_PER_SECOND[workload]))


def _literal_pools(rng: random.Random, n_orders: int) -> dict[str, list[tuple]]:
    """Distinct literal tuples per template, in seeded order."""
    pools = {
        "point": [(k,) for k in rng.sample(range(n_orders), 400)],
        "filter_agg": [(q, t) for q in range(5, 50) for t in range(9)],
        "join_agg": [(s, q) for s in "FOP" for q in range(1, 50)],
        "topk": [(s, n) for s in SEGMENTS for n in range(25)],
    }
    for pool in pools.values():
        rng.shuffle(pool)
    return pools


def _orders_row_sql(row: tuple) -> str:
    k, cust, status, price, date, prio = row
    return f"({k}, {cust}, '{status}', {price!r}, TIMESTAMP '{date}', '{prio}')"


class _Writer:
    """Generates the write ops of upsert_rw and applies each to the model,
    so the plan carries the expected table state after every write."""

    def __init__(self, rng: random.Random, model: checks.OrdersModel):
        self.rng = rng
        self.model = model
        self.turn = 0
        self.last_keys: list[int] = []

    def ops(self) -> list[dict]:
        keys = self.rng.sample(sorted(self.model.rows), KEYS_PER_WRITE)
        self.last_keys = keys
        in_list = ", ".join(map(str, keys))
        self.turn += 1
        if self.turn % 2:
            rows = [
                self.model.rows[k][:3] + (round(self.rng.uniform(1000, 500000), 2),)
                + self.model.rows[k][4:]
                for k in keys
            ]
            self.model.put(rows)
            delta = round(self.rng.uniform(0.01, 99.99), 2)
            self.model.add_price(keys, delta)
            return [
                _write("put", "PUT INTO orders VALUES " + ", ".join(map(_orders_row_sql, rows)), keys),
                _write("update", f"UPDATE orders SET o_totalprice = o_totalprice + {delta} "
                       f"WHERE o_orderkey IN ({in_list})", keys),
            ]
        rows = [self.model.rows[k] for k in keys]
        self.model.delete(keys)
        self.model.put(rows)
        return [
            _write("delete", f"DELETE FROM orders WHERE o_orderkey IN ({in_list})", keys),
            _write("readd", "PUT INTO orders VALUES " + ", ".join(map(_orders_row_sql, rows)), keys),
        ]


def _write(name: str, sql: str, keys: list[int]) -> dict:
    return {"kind": "write", "name": name, "sql": sql, "rows": len(keys)}


def build_sql_plan(workload: str, seed: int, seconds: int, orders_rows: dict) -> dict:
    """Warm-up and timed ops for dashboard_ro / upsert_rw. Reads carry
    `sql` (checked against DuckDB by the caller) or, for upsert_rw point
    reads of just-written keys, an `expect_rows` list from the model."""
    rng = random.Random(seed)
    pools = _literal_pools(rng, len(orders_rows))
    hot = {t: [pools[t].pop() for _ in range(HOT)] for t in TEMPLATES}
    writer = _Writer(rng, checks.OrdersModel(orders_rows)) if workload == "upsert_rw" else None
    names = list(TEMPLATES)

    def round_ops(r: int) -> list[dict]:
        order = names[:]
        rng.shuffle(order)
        ops = []
        for t in order:
            if writer is not None and t == "point" and writer.last_keys:
                for k in rng.sample(writer.last_keys, 2):
                    row = writer.model.rows[k]
                    ops.append({"kind": "read", "name": t, "sql": TEMPLATES[t].format(k),
                                "expect_rows": [[row[0], row[1], row[2], row[3], row[5]]]})
                continue
            if (r + names.index(t)) % FRESH_EVERY == 0:
                lit = pools[t].pop()
            else:
                lit = rng.choices(hot[t], weights=(3, 2, 1))[0]
            ops.append({"kind": "read", "name": t, "sql": TEMPLATES[t].format(*lit)})
        if writer is not None:
            # before the writes clear the plan cache: repeat the round's
            # filter aggregate and one point read exactly, so they hit it
            again = [op for op in ops if op["name"] == "filter_agg"]
            again.append(rng.choice([op for op in ops if op["name"] == "point"]))
            ops.extend(dict(op, name=op["name"] + "_again") for op in again)
            ops.extend(writer.ops())
        return ops

    # priming: every hot literal once, so each run's window starts with the
    # same statements (and generated code) warm, whatever the seed
    prime = [{"kind": "read", "name": t, "sql": TEMPLATES[t].format(*lit)}
             for t in names for lit in hot[t]]
    warm = [prime] + [round_ops(r) for r in range(WARMUP_ROUNDS[workload])]
    timed = [round_ops(r) for r in range(timed_rounds(workload, seconds))]
    plan = {"workload": workload, "warmup": warm, "rounds": timed}
    if writer is not None:
        plan["final"] = writer.model.summary()
    return plan


def build_corpus_plan(workload: str, seconds: int) -> dict:
    cycle = [{"kind": "read", "name": q} for q in CORPUS_CYCLE]
    return {
        "workload": workload,
        "warmup": [list(cycle) for _ in range(WARMUP_ROUNDS[workload])],
        "rounds": [list(cycle) for _ in range(timed_rounds(workload, seconds))],
    }
