"""Physical-plan audit over the full query registry: flags the plan
shapes that break at 100 TB even when sf0.01 correctness is green.

Checks per query (executedPlan after AQE initial plan):
- CartesianProduct / BroadcastNestedLoopJoin on non-trivial inputs
- Window with an empty PARTITION BY (single-task global sort)
- Exchange SinglePartition feeding more work than a final limit/agg
- rows collected to the driver via any non-limit collect

Usage: python tools/audit_plans.py [sf_dir] [name_filter]
Exit code 1 if any NEW flag appears that is not in the allowlist below.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Reviewed and accepted plan shapes (query -> reason), so the audit stays
# a zero-tolerance gate for everything else.
ALLOWLIST = {
    # global panel is bounded by calendar hours (720 at sf0.1; ~90k for a
    # decade) — documented in operators/events.py
    "ev_sliding_window": {"window_unpartitioned", "single_partition_exchange"},
    # cumulative sums run over the per-month panel, bounded by calendar
    # months (~83 at sf0.1; ~1200 for a century) — operators/tpcds.py ds_q51
    "ds_cumulative_channel_compare": {
        "window_unpartitioned",
        "single_partition_exchange",
    },
    # RRF ranks each system's TOP-RRF_N list only (TakeOrderedAndProject
    # bounds the frame to 100 rows before the rank window) —
    # operators/pipeline_ops.py sim_hybrid_rrf_topk
    "sim_hybrid_rrf_topk": {
        "window_unpartitioned",
        "single_partition_exchange",
    },
    # NOT IN surface-coverage exemplar: the null-aware broadcast anti
    # join is the price of NOT IN's NULL semantics; the scale-safe
    # NOT EXISTS twin (sql_not_in_scalable, same oracle) plans a
    # shuffled SortMergeJoin LeftAnti — see sqlfeatures.py.
    "sql_in_subquery": {"null_aware_broadcast_anti"},
    # ROW_NUMBER runs on the 10 survivors of a TakeOrderedAndProject
    # (distributed top-k merged on the driver) — bounded at any scale;
    # operators/tpcds.py ds_q44.  Visible since the r8 group-counting
    # window detector (the old regex missed projected sort keys).
    "ds_top_bottom_parts": {"window_unpartitioned"},
}

_AGG_BELOW = re.compile(
    r"HashAggregate\(keys=\[\], functions=\[(?:partial_|merge_|finalmerge_)"
)


def audit(name: str, df) -> set[str]:
    return audit_text(df._jdf.queryExecution().executedPlan().toString())


def audit_text(plan: str) -> set[str]:
    """Flag scale-killer shapes in an executedPlan string — shared by the
    registry sweep (main) and the mutation-path pytest sweep
    (tests/test_plan_audit_mutations.py, which captures write/validation
    plans via SnappySession's _plan_audit_log hook)."""
    flags: set[str] = set()
    if "CartesianProduct" in plan:
        flags.add("cartesian")
    # null-aware anti join (NOT IN over a nullable key): Spark can ONLY
    # execute it as a broadcast of the whole subquery side — unbounded
    # in subquery size at scale.  Prints as
    # `BroadcastHashJoin [..], [..], LeftAnti, BuildRight, true`
    # (the trailing literal is isNullAwareAntiJoin).
    if re.search(r"BroadcastHashJoin .*LeftAnti, Build\w+, true", plan):
        flags.add("null_aware_broadcast_anti")
    # Window lines print as `Window [fns], [partExprs], [orderExprs]`
    # (3 bracket groups) when partitioned, `Window [fns], [orderExprs]`
    # (2 groups, the 2nd carrying ASC/DESC) or `Window [fns]` when not:
    # an order-by with no partition spec funnels everything through one
    # task.  Group-counting beats the old windowspecdefinition regex,
    # which missed projected sort keys (`_w0#3L ASC` — the r7 identity
    # monotonically_increasing_id shape).
    for wline in re.findall(r"Window \[.*", plan):
        groups = re.findall(r"\[[^\[\]]*\]", wline)
        if len(groups) >= 3:
            continue  # partitioned
        if len(groups) < 2 or re.search(r"(?:ASC|DESC)", groups[1]):
            flags.add("window_unpartitioned")
    # SinglePartition exchanges are the canonical final stage of a global
    # aggregate — fine when the line directly below is a keys=[] partial/
    # merge HashAggregate (map-side combine already shrank the data).
    # Anything else funneling into one partition is a real global choke.
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        below = lines[i + 1] if i + 1 < len(lines) else ""
        if not _AGG_BELOW.search(below):
            flags.add("single_partition_exchange")
    return flags


def main() -> int:
    from snappydata_spark import get_spark
    from snappydata_spark.operators import QUERIES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    pat = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark("plan-audit")
    bad = 0
    for name in sorted(QUERIES):
        if pat and not name.startswith(pat):
            continue
        try:
            flags = audit(name, QUERIES[name](spark, sf_dir))
        except Exception as exc:  # pragma: no cover - audit tool
            print(f"ERR   {name}: {exc}")
            bad += 1
            continue
        new = flags - ALLOWLIST.get(name, set())
        if new:
            bad += 1
            print(f"FLAG  {name}: {sorted(new)}")
        elif flags:
            print(f"ok*   {name}: allowlisted {sorted(flags)}")
    print(f"\n{bad} queries flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
