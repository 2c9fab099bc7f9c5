from snappydata_spark.plans.cache import PlanCache
from snappydata_spark.plans.explainer import (
    physical_plan,
    exchange_count,
    scan_pushdown_info,
)

__all__ = [
    "PlanCache",
    "physical_plan",
    "exchange_count",
    "scan_pushdown_info",
]
