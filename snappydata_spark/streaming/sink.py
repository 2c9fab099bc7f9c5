"""CDC-aware, idempotent streaming sink ("snappysink" equivalent).

Reference semantics (SnappySinkCallback.scala:49-360, matrix tested by
SnappyStoreSinkProviderSuite.scala:72-286):

- exactly-once: a state table stores (query_name, batch_id); a batch whose
  id is ≤ the recorded one is skipped (:197-206).  We keep the ledger as a
  small json per query and make the apply path idempotent anyway for the
  keyed paths (PUT INTO / deleteFrom rewrites converge on replay),
  mirroring the `possibleDuplicate` handling.  KEYLESS insert targets are
  at-least-once across a crash between insert() and the ledger write: the
  reference closes that window by updating its state table in the same
  store transaction as the data (:197-206) — no cross-table transaction
  exists here (documented divergence; give the table key_columns to get
  the convergent upsert path).
- with an `_eventType` column (ints INSERT=0/UPDATE=1/DELETE=2, :119):
  per key keep only the LAST event in the batch (event conflation,
  :286-309; insert followed by update ⇒ upsert), then apply deletes via
  deleteFrom, upserts via putInto, inserts via insertInto (:325-351).
- without `_eventType`: putInto if the table has key columns else
  insertInto (:245-273).

Usage::

    sink = SnappySink(session, "target_table", query_name="q")
    stream.writeStream.foreachBatch(sink).start()

Offset-column contract (the reference's primary ingest is Kafka,
DirectKafkaStreamSource.scala:52): pass ``order_col`` naming the
transport offset column.  Kafka's producer partitioner routes a given
key to ONE topic partition, and offsets are a total order within a
partition — so every event of a key is mutually offset-comparable and
``order_col="<offset>"`` reproduces exact per-key last-event-wins even
though offsets across different partitions are not comparable.  A
transport-level order column (not part of the target table) is dropped
automatically before apply.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window, functions as F

from snappydata_spark.catalog import write_json_atomic

EVENT_INSERT = 0
EVENT_UPDATE = 1
EVENT_DELETE = 2
EVENT_TYPE_COL = "_eventType"


def conflate_events(batch: DataFrame, keys: list[str], order_col: str | None = None) -> DataFrame:
    """Keep the last event per key tuple (reference dedups on key within
    the batch keeping the final state, :286-309).  Order within the batch
    follows `order_col` if given (Kafka offset / event timestamp — the
    reliable notion of "last").

    Without an order column, the only safe fallback is a single-partition
    batch, where monotonically_increasing_id() reproduces delivery order.
    Across partitions that surrogate orders by (partition id, position) —
    NOT arrival order — so a later update for a key landing in an
    earlier-numbered partition would silently lose; we refuse instead."""
    if order_col is None:
        # .rdd here is deliberate and safe: we need the batch's ACTUAL
        # partition count (defaultParallelism would be wrong), and
        # foreachBatch frames are already materialized so the AQE
        # re-execution trap (executing the upstream plan to answer
        # getNumPartitions) does not apply.
        if batch.rdd.getNumPartitions() > 1:
            raise ValueError(
                "conflate_events: multi-partition batch needs an explicit "
                "order column (Kafka offset or event timestamp); "
                "monotonically_increasing_id order is per-partition only"
            )
        batch = batch.withColumn("__seq", F.monotonically_increasing_id())
        order_col = "__seq"
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    out = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return out.drop("__seq") if "__seq" in out.columns else out


class SnappySink:
    """foreachBatch callable implementing the snappysink contract."""

    def __init__(
        self,
        session,
        table: str,
        query_name: str = "default",
        state_dir: str | None = None,
        order_col: str | None = None,
    ):
        self.session = session
        self.table = table.lower()
        self.query_name = query_name
        self.order_col = order_col
        self.state_dir = state_dir or os.path.join(
            session.catalog.base_dir, "_sink_state"
        )
        os.makedirs(self.state_dir, exist_ok=True)

    # -- ledger (snappysys_internal____sink_state_table analogue) --------

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

    # -- the sink --------------------------------------------------------

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self._last_batch_id():
            return  # duplicate delivery — exactly-once skip (:197-206)
        keys = self.session.key_columns(self.table)
        if EVENT_TYPE_COL in batch.columns:
            self._apply_cdc(batch, keys)
        elif keys:
            self.session.put(self.table, batch)  # :245-273 put-if-keyed
        else:
            self.session.insert(self.table, batch)
        self._record_batch(batch_id)

    def _apply_cdc(self, batch: DataFrame, keys: list[str]) -> None:
        if not keys:
            raise ValueError(
                f"CDC stream into {self.table} requires key_columns metadata"
            )
        last = conflate_events(batch, keys, order_col=self.order_col)
        drop_cols = [EVENT_TYPE_COL]
        if self.order_col is not None:
            # a transport-level order column (Kafka offset) is dropped
            # before apply; an order column that IS a table column
            # (event timestamp) flows through
            table_cols = {c.lower() for c in self.session.table(self.table).columns}
            if self.order_col.lower() not in table_cols:
                drop_cols.append(self.order_col)
        deletes = last.filter(F.col(EVENT_TYPE_COL) == EVENT_DELETE).drop(
            *drop_cols
        )
        upserts = last.filter(F.col(EVENT_TYPE_COL) != EVENT_DELETE).drop(
            *drop_cols
        )
        # reference applies deletes first, then put-into for insert+update
        # (:325-351 — an insert followed by update conflates to upsert)
        if deletes.limit(1).count() > 0:
            self.session.delete_from(self.table, deletes)
        if upserts.limit(1).count() > 0:
            self.session.put(self.table, upserts)
