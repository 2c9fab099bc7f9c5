"""Per-sql() overhead profile (r11 verdict item 7 / guide §1).

Breaks one sn.sql() round-trip into its facade layers and times each
over N repeats in-process (perf_counter, no Spark jobs): total sql()
build wall, the plan-cache hit path, the dispatch preparse
(split_statement + gated rewrites), grant/RLS resolution, and — as the
execution yardstick — spark.sql() + count() for the same text.

Usage: python tools/profile_sql_overhead.py [sf_dir] [repeats]
Prints a JSON breakdown; bench.py records the headline number as the
`sql_overhead_ms` row.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
N = int(sys.argv[2]) if len(sys.argv) > 2 else 200


def timed(fn, n=N):
    t0 = time.perf_counter()
    for _ in range(n):
        fn()
    return (time.perf_counter() - t0) * 1000.0 / n


def main() -> None:
    from snappydata_spark import SnappySession, get_spark

    spark = get_spark("sql-overhead")
    sn = SnappySession(spark)
    spark.read.parquet(f"{SF_DIR}/orders.parquet").createOrReplaceTempView(
        "bench_orders"
    )
    q = (
        "SELECT o_orderpriority, COUNT(*) AS n FROM bench_orders "
        "WHERE o_totalprice > 1000 GROUP BY o_orderpriority"
    )
    sn.sql(q).count()  # warm cache + JIT

    out: dict[str, float] = {}
    # full facade build (plan-cache hit path, identical text)
    out["sql_build_hit_ms"] = timed(lambda: sn.sql(q))
    # varied-literal hit path: 20 distinct texts, each a cache hit after
    # its first miss (the dashboard shape; the key is the exact text)
    i = [0]

    def varied():
        i[0] += 1
        sn.sql(
            f"SELECT o_orderpriority, COUNT(*) AS n FROM bench_orders "
            f"WHERE o_totalprice > {1000 + i[0] % 20} GROUP BY o_orderpriority"
        )

    out["sql_build_varied_hit_ms"] = timed(varied)
    # cache-off cold build (spark.sql analysis each time)
    sn.plan_cache.enabled = False
    out["sql_build_cold_ms"] = timed(lambda: sn.sql(q), n=max(20, N // 10))
    sn.plan_cache.enabled = True
    # vanilla spark.sql build for the same text (the floor)
    out["spark_sql_build_ms"] = timed(
        lambda: spark.sql(q), n=max(20, N // 10)
    )
    # dispatch preparse layers, isolated
    from snappydata_spark.dialect import rewrite_builtins, split_statement

    out["split_statement_ms"] = timed(lambda: split_statement(q))
    out["rewrite_builtins_ms"] = timed(lambda: rewrite_builtins(q, "app"))
    out["resolve_read_access_ms"] = timed(lambda: sn._resolve_read_access(q))
    # execution yardstick (one count on the cached plan)
    t0 = time.perf_counter()
    for _ in range(20):
        sn.sql(q).count()
    out["sql_plus_count_ms"] = (time.perf_counter() - t0) * 1000.0 / 20
    out = {k: round(v, 3) for k, v in out.items()}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
