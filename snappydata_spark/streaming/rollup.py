"""Continuous aggregate: an incrementally-maintained time-bucketed rollup
table fed by a stream — the hypertable/continuous-aggregate shape, and the
reference's canonical CQ + put pattern (SnappyStreamingContext.registerCQ
feeding SnappySession.put; examples/.../StreamingIngestion jobs).

Each micro-batch computes MERGEABLE partials (count + per-column sums)
per (bucket_start, *keys) and combines them into a managed key_columns
table via PUT INTO.  avg/rate are derived at read time from sum/cnt, so
the stored state is always mergeable.

Replay safety: merging partials is NOT idempotent, so every stored row
carries a `last_batch_id` ledger column committed IN THE SAME PUT as the
merged values.  On replay of batch N, any key whose stored row already
has last_batch_id >= N keeps its stored values unchanged (the partial
was already applied); only keys the crashed write never reached are
merged.  The side-car json file is merely a fast-path skip — a crash
between the PUT and the file write cannot double-count, because the
in-row ledger travels atomically with the values it guards.

Scale: partials are bounded by touched buckets × key cardinality, never
by raw event volume; the merge join reads only the target's bucket range
the batch touches (min/max pruned), and the write is the engine's
file-pruned PUT path.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from snappydata_spark.catalog import write_json_atomic


class ContinuousAggregate:
    """foreachBatch callable maintaining the rollup table.

    Usage::

        ca = ContinuousAggregate(session, "hourly_user_stats",
                                 ts_col="ts", bucket="1 hour",
                                 keys=["user_id"], agg_cols=["value"])
        stream.writeStream.foreachBatch(ca).start()

    The target table stores (bucket_start, *keys, cnt, sum_<col>...) with
    key_columns = bucket_start,*keys; `readback()` adds avg_<col> columns.
    """

    def __init__(
        self,
        session,
        table: str,
        ts_col: str,
        bucket: str = "1 hour",
        keys: list[str] | tuple[str, ...] = (),
        agg_cols: list[str] | tuple[str, ...] = (),
        query_name: str | None = None,
        state_dir: str | None = None,
        bucket_col: str = "bucket_start",
    ):
        self.session = session
        self.table = table.lower()
        self.ts_col = ts_col
        self.bucket = bucket
        self.bucket_col = bucket_col.lower()
        self.keys = [k.lower() for k in keys]
        self.agg_cols = [c.lower() for c in agg_cols]
        self.query_name = query_name or f"ca_{self.table}"
        self.state_dir = state_dir or os.path.join(
            session.catalog.base_dir, "_sink_state"
        )
        os.makedirs(self.state_dir, exist_ok=True)

    # ledger — same contract as SnappySink's state table (exactly-once:
    # SnappySinkCallback.scala:197-206); partial-merge replay would
    # double-count, so a duplicate batch id is always skipped
    def _state_path(self) -> str:
        return os.path.join(self.state_dir, f"{self.query_name}.json")

    def _last_batch_id(self) -> int:
        try:
            with open(self._state_path()) as f:
                return json.load(f)["batch_id"]
        except (OSError, KeyError, ValueError):
            return -1

    def _record_batch(self, batch_id: int) -> None:
        write_json_atomic(self._state_path(), {"batch_id": batch_id})

    def _partial(self, batch: DataFrame) -> DataFrame:
        win = F.window(F.col(self.ts_col), self.bucket)
        aggs = [F.count(F.lit(1)).alias("cnt")] + [
            F.sum(c).alias(f"sum_{c}") for c in self.agg_cols
        ]
        return (
            batch.groupBy(win.start.alias(self.bucket_col), *self.keys)
            .agg(*aggs)
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self._last_batch_id():
            return
        # materialize the per-batch partial once: bounds.first(), the
        # validation pass, and the PUT would otherwise each re-run the
        # batch aggregation on the streaming hot path
        part = self._partial(batch).localCheckpoint(eager=True)
        key_cols = [self.bucket_col, *self.keys]
        if not self.session.catalog.exists(self.table):
            self.session.create_table(
                self.table,
                options={"key_columns": ",".join(key_cols)},
                df=part.withColumn("last_batch_id", F.lit(batch_id)),
            )
            self._record_batch(batch_id)
            return
        # merge partials with current state, touching only the batch's
        # bucket range (late data merges into its own old bucket)
        bounds = part.agg(
            F.min(self.bucket_col).alias("lo"), F.max(self.bucket_col).alias("hi")
        ).first()
        if bounds.lo is None:
            self._record_batch(batch_id)
            return
        # read the merge target through the RAW mutation read, not the
        # user-facing table(): an RLS policy or grant on the rollup table
        # must never hide stored rows from the merge (hidden row ⇒ its
        # history silently overwritten) or kill the stream with a
        # permission error inside foreachBatch
        meta = self.session.catalog.load_meta(self.table)
        raw = self.session._mutation_target(self.table, meta)
        if raw is None:  # table exists but holds no data yet
            self.session.put(
                self.table, part.withColumn("last_batch_id", F.lit(batch_id))
            )
            self._record_batch(batch_id)
            return
        tgt = raw.filter(
            (F.col(self.bucket_col) >= bounds.lo)
            & (F.col(self.bucket_col) <= bounds.hi)
        )
        if "last_batch_id" not in tgt.columns:
            # migration: a rollup table created before the in-row ledger
            # has no column — treat every stored row as last_batch_id=-1
            # (never replayed) instead of failing analysis on t.last_batch_id
            tgt = tgt.withColumn("last_batch_id", F.lit(-1))
        # per-row ledger: a stored row with last_batch_id >= batch_id
        # already contains this batch's partial (crash-after-PUT replay);
        # keep its values verbatim instead of double-merging
        applied = F.coalesce(F.col("t.last_batch_id"), F.lit(-1)) >= F.lit(
            batch_id
        )
        merged = part.alias("p").join(tgt.alias("t"), key_cols, "left").select(
            *key_cols,
            F.when(applied, F.col("t.cnt"))
            .otherwise(F.col("p.cnt") + F.coalesce(F.col("t.cnt"), F.lit(0)))
            .alias("cnt"),
            *[
                F.when(applied, F.col(f"t.sum_{c}"))
                .otherwise(
                    F.col(f"p.sum_{c}")
                    + F.coalesce(F.col(f"t.sum_{c}"), F.lit(0.0))
                )
                .alias(f"sum_{c}")
                for c in self.agg_cols
            ],
            F.greatest(
                F.lit(batch_id), F.coalesce(F.col("t.last_batch_id"), F.lit(-1))
            ).alias("last_batch_id"),
        )
        self.session.put(self.table, merged)
        self._record_batch(batch_id)

    def readback(self) -> DataFrame:
        """The rollup with derived averages (read-time finalization of the
        mergeable state)."""
        df = self.session.table(self.table).drop("last_batch_id")
        for c in self.agg_cols:
            df = df.withColumn(f"avg_{c}", F.col(f"sum_{c}") / F.col("cnt"))
        return df
