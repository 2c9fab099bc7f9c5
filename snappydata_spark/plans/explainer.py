"""Plan introspection helpers.

The reference asserts physical properties in tests (NorthWindTest checks
head operator classes; colocated joins must not shuffle —
CollapseCollocatedPlans SnappyStrategies.scala:768-826).  We provide the
same assertions over Spark's formatted explain output: count Exchanges,
check broadcast vs sort-merge choice, and verify parquet pushdown
(PushedFilters / ReadSchema) — the feedback loop for 100 TB plan quality.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded — those are the cheap kind for small dims).
    Counts formatted-explain Exchange blocks whose Arguments are hash/
    range/single partitionings (i.e. real shuffles)."""
    plan = physical_plan(df)
    n = 0
    for block in re.finditer(
        r"\(\d+\) Exchange\n(.*?)(?=\n\(\d+\)|\Z)", plan, flags=re.S
    ):
        if re.search(
            r"Arguments: (hashpartitioning|rangepartitioning|SinglePartition)",
            block.group(1),
        ):
            n += 1
    return n


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin", physical_plan(df)))


def scan_pushdown_info(df: DataFrame) -> list[dict]:
    """Extract PushedFilters / ReadSchema per parquet scan — the check that
    filters and projections actually reached the scan."""
    plan = physical_plan(df)
    out = []
    for scan in re.finditer(
        r"\(\d+\) Scan parquet.*?(?=\n\(\d+\)|\Z)", plan, flags=re.S
    ):
        block = scan.group(0)
        pushed = re.search(r"PushedFilters: \[(.*?)\]", block)
        schema = re.search(r"ReadSchema: (.*)", block)
        out.append(
            {
                "pushed_filters": pushed.group(1) if pushed else "",
                "read_schema": schema.group(1).strip() if schema else "",
            }
        )
    return out
