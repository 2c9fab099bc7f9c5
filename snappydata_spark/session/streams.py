"""Stream tables and continuous queries."""

from __future__ import annotations

from pyspark.sql import DataFrame


class StreamMixin:
    def register_cq(
        self,
        query: str | DataFrame,
        name: str | None = None,
        sink=None,
        output_mode: str = "update",
    ) -> DataFrame:
        """Register a continuous query over declared stream tables
        (SnappyStreamingContext.registerCQ → SchemaDStream; CQ window
        grammar streamWindowOptions SnappyParser.scala:552-557).

        `query` is CQ SQL text or an already-built streaming DataFrame.
        Returns the live streaming DataFrame (the SchemaDStream analogue).
        `sink` is what the reference's foreachDataFrame / saveStream
        attaches: a foreachBatch callable (e.g. streaming.sink.SnappySink)
        or a writeStream format string ("memory", "console", ...).  Sinked
        CQs start on `STREAMING START` and stop on `STREAMING STOP`.
        """
        df = self.sql(query) if isinstance(query, str) else query
        if df is None or not df.isStreaming:
            raise ValueError("register_cq requires a query over a stream table")
        cq_name = (name or f"cq{len(self._cqs)}").lower()
        self._cqs[cq_name] = (df, sink, output_mode)
        return df

    def start_streaming(self) -> dict[str, object]:
        """STREAMING START: launch every sinked CQ not already running,
        with the STREAMING INIT batch duration as the processing-time
        trigger.  Returns name → StreamingQuery handles (useful in tests:
        `.processAllAvailable()`)."""
        for cq_name, (df, sink, mode) in self._cqs.items():
            if cq_name in self._active_cqs or sink is None:
                continue
            writer = df.writeStream.outputMode(mode).queryName(cq_name)
            if self._streaming_trigger:
                writer = writer.trigger(processingTime=self._streaming_trigger)
            if callable(sink):
                writer = writer.foreachBatch(sink)
            else:
                writer = writer.format(str(sink))
            self._active_cqs[cq_name] = writer.start()
        return dict(self._active_cqs)

    def stop_streaming(self) -> None:
        """STREAMING STOP: stop the CQs this session started (leaves other
        streaming queries on the shared SparkSession untouched)."""
        errors = []
        for name, q in list(self._active_cqs.items()):
            try:
                q.stop()
            except Exception as e:  # noqa: BLE001 — keep stopping the rest
                # keep the handle: a failed stop must stay addressable so
                # a retry (another STREAMING STOP) can still reach it
                errors.append((name, e))
            else:
                self._active_cqs.pop(name, None)
        if errors:
            raise RuntimeError(
                "STREAMING STOP: failed to stop "
                + ", ".join(f"{n} ({e})" for n, e in errors)
            ) from errors[0][1]

    # ------------------------------------------- SQL statement handlers

    def _sql_create_stream(self, stmt) -> DataFrame:
        name = stmt.table.lower()
        if name in self._streams and stmt.if_not_exists:
            return self._streams[name]
        from snappydata_spark.streaming.sources import stream_reader

        opts = dict(stmt.options)
        ts_col = opts.pop("timestampcolumn", None)
        df = stream_reader(
            self.spark, stmt.provider, schema=stmt.schema_sql, **opts
        )
        df.createOrReplaceTempView(name)
        self._streams[name] = df
        if ts_col is None:
            ts_col = next(
                (
                    f.name
                    for f in df.schema.fields
                    if f.dataType.typeName().startswith("timestamp")
                ),
                None,
            )
        self._stream_ts[name] = ts_col
        return df

    def _sql_drop_stream(self, stmt) -> None:
        name = stmt.table.lower()
        if name not in self._streams:
            if stmt.if_not_exists:
                return
            raise ValueError(f"stream table {name} not found")
        del self._streams[name]
        self._stream_ts.pop(name, None)
        self.spark.catalog.dropTempView(name)

    def _sql_streaming_ctl(self, stmt) -> None:
        op = stmt.options["op"]
        if op == "init":
            # STREAMING INIT <n><unit> (streamContext SnappyDDLParser:
            # 875-888) sets the batch duration — here the processing-
            # time trigger applied when CQs start
            self._streaming_trigger = stmt.options["duration"]
        elif op == "start":
            self.start_streaming()
        else:
            self.stop_streaming()
