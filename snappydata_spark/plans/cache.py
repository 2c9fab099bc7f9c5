"""Plan cache keyed on the exact statement text.

The reference tokenizes literals (ParamLiteral, SnappyParser.scala:
226-261) so that one analyzed plan serves many literal values, re-bound
in place (SnappySession.scala:2584-2683).  PySpark exposes no hook to
rebind a literal inside an analyzed plan, so a literal-tokenized key
could only ever reuse exact repeats anyway — and re-parsing a tokenized
template with bound parameters changes answers (a parameter binds
``1.5`` as DOUBLE where the SQL literal is DECIMAL(2,1), and a Python
unescaper is never quite Spark's).  The cache therefore maps
(scope, text) → the analyzed DataFrame: a repeated statement (the
dashboard refresh shape) returns the cached DataFrame with zero
re-parse/re-analysis, and a miss is exactly ``spark.sql(text)``.

`scope` carries the session user: row-level-security policies make view
contents user-dependent, so plans must never be shared across users
(CachedKey includes schema/user, SnappySession.scala:2807).  Any view
refresh (mutation, policy change) must `clear()` the cache — the session
facade does this in `_refresh_view`.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession


class PlanCache:
    """Guava-planCache analogue (size default PlanCacheSize, Literals.scala:
    122-124); LRU of (scope, SQL text) → analyzed plan."""

    def __init__(self, max_size: int = 3000, enabled: bool = True):
        self.max_size = max_size
        self.enabled = enabled
        self._cache: OrderedDict[tuple, DataFrame] = OrderedDict()
        # concurrent sessions share one cache (the reference's is a shared
        # Guava cache); parse/analyze runs OUTSIDE the lock so concurrent
        # misses don't serialize on each other
        self._lock = threading.RLock()
        self.hits = 0
        self.misses = 0

    def get_or_build(self, spark: SparkSession, text: str, scope: str = "") -> DataFrame:
        if not self.enabled:
            return spark.sql(text)
        key = (scope, text)
        with self._lock:
            cached = self._cache.get(key)
            if cached is not None:
                self.hits += 1
                self._cache.move_to_end(key)
                return cached
            self.misses += 1
        df = spark.sql(text)
        with self._lock:
            self._cache[key] = df
            if len(self._cache) > self.max_size:
                self._cache.popitem(last=False)
        return df

    def clear(self) -> None:
        """Invalidate every cached plan.  Called on any view refresh —
        mutation, DDL, policy/grant change — because cached DataFrames
        capture the view definition (and its file listing) at analysis
        time and would otherwise serve stale plans."""
        with self._lock:
            self._cache.clear()
