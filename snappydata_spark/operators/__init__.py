"""Operator inventory (SURVEY.md §2) — importing this package populates
the QUERIES/ORACLES registries used by __spark_entry__ and bench.py."""

from snappydata_spark.operators.registry import QUERIES, ORACLES, register

# Each import registers its queries.
from snappydata_spark.operators import tpch  # noqa: F401
from snappydata_spark.operators import analytic  # noqa: F401
from snappydata_spark.operators import events  # noqa: F401
from snappydata_spark.operators import dml  # noqa: F401
from snappydata_spark.operators import textops  # noqa: F401
from snappydata_spark.operators import dedup_ops  # noqa: F401
from snappydata_spark.operators import aqp_ops  # noqa: F401
from snappydata_spark.operators import sqlfeatures  # noqa: F401
from snappydata_spark.operators import timeseries_ops  # noqa: F401
from snappydata_spark.operators import outerjoins  # noqa: F401
from snappydata_spark.operators import pipeline_ops  # noqa: F401
from snappydata_spark.operators import skew_ops  # noqa: F401
from snappydata_spark.operators import funnels  # noqa: F401
from snappydata_spark.operators import privacy  # noqa: F401
from snappydata_spark.operators import tpcds  # noqa: F401
from snappydata_spark.operators import ml_ops  # noqa: F401
from snappydata_spark.operators import corpus_ops  # noqa: F401

def reset_build_once_sessions() -> None:
    """Drop every module-level build-once index/TOPK session cache.

    These caches pin a SparkSession inside a SnappySession keyed by
    sf_dir; after a fatal executor error kills the SparkContext (e.g. a
    deliberate over-scale rehearsal query), a fresh context cannot serve
    the cached sessions — harnesses that restart Spark mid-sweep
    (tools/bench_registry_sf.py) must clear them so the next index query
    rebuilds against the live context."""
    aqp_ops._TOPK_SESSIONS.clear()
    corpus_ops._ANN_SESSIONS.clear()
    dedup_ops._MINHASH_SESSIONS.clear()


# Build-once index/session constructors, exposed so sweep harnesses can
# force each build EXPLICITLY and time it as its own "_build_*" row
# instead of charging it to whichever dependent query happens to run
# first (r9 verdict Wrong#2: the sf100 artifact charged the ~110 s
# corpus_mh build to its alphabetical successor).  Each callable is
# idempotent — a second call returns the cached session.
PREBUILDS = {
    "_build_ann_ivf_sq8_index": corpus_ops._ann_index_session,
    "_build_minhash_corpus_index": dedup_ops._minhash_index_session,
    "_build_minhash_gate_base_index": dedup_ops._gate_base_index_session,
    "_build_bm25_inverted_index": pipeline_ops._bm25_index_session,
    "_build_topk_sketch_table": aqp_ops._topk_table_session,
}

# Registry queries SERVED BY the build-once sessions above.  Sweep
# harnesses run every other query FIRST on a fresh heap, then force the
# builds (timed as _build_* rows), then these: the live index sessions
# pin JVM memory (broadcasts, plan state) that heavy standalone
# self-joins need as execution headroom — at sf100, builds-first OOMed
# dedup_ngram_jaccard/dedup_containment, which pass on a fresh heap.
INDEX_SERVED = frozenset({
    "aqp_topk_table_sql",
    "aqp_topk_sketch_table_sql",
    "aqp_topk_streamsummary_evictions",
    "aqp_topk_range_guaranteed_min",
    "dedup_minhash_lsh_index",
    "dedup_incoming_batch_gate",
    "dedup_incoming_batch_gate_members",
    "sim_ivf_sq8_index_topk",
    "sim_ann_sql_routed",
    "sim_ann_threshold_sql_routed",
    "sim_ann_batch_sql_routed",
    "sim_ann_batch_topk",
    "txt_bm25_index_topk",
    "txt_bm25_sql_routed",
    "txt_bm25_batch_sql_routed",
    "txt_bm25_batch_topk",
})


__all__ = [
    "QUERIES", "ORACLES", "register", "reset_build_once_sessions",
    "PREBUILDS", "INDEX_SERVED",
]
