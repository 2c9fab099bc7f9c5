"""JDBC streaming source: poll a CDC/offset-carrying JDBC table into a
parquet landing zone and stream from it.

The reference ships a JDBC streaming connector that sources change
events from CDC-enabled databases (SQL Server CDC tables polled by LSN)
into stream tables (docs/connectors/jdbc_streaming_connector.md).
Structured Streaming has no JDBC source, and the production-shaped
Spark-first equivalent is the landing-zone pattern this module
implements:

  1. a POLLER reads `WHERE <offset_column> > <watermark>` through the
     JVM JDBC reader (sources/jdbc.py — no Python DB driver, scan
     parallelizable with partitioned range reads) and APPENDS the new
     rows to a parquet staging directory;
  2. the stream table is a genuine `readStream` (file source) over that
     directory — watermarks, windows, CQs, and the snappysink CDC
     matrix all compose exactly as for any other stream table;
  3. the offset watermark persists next to the staging data
     (_offset.json, atomic replace), so a restarted poller resumes
     where it left off.

Delivery is at-least-once across poller crashes (rows land before the
watermark persists; a crash between the two re-lands the tail batch) —
the same contract as the reference's connector, whose downstream
conflation (SnappySinkCallback key-conflate) absorbs replays.  Use the
snappysink path for exactly-once effects on managed tables.

Usage (DDL):

    CREATE STREAM TABLE changes (...) USING jdbc_stream OPTIONS (
        url 'jdbc:derby:/path/db', dbtable 'APP.EVENTS',
        offsetColumn 'evt_id', stagingDir '/path/landing')

then drive it with `poll(stagingDir)` (or `poll_all()`), e.g. from a
scheduler; each poll lands one micro-batch worth of new rows.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from snappydata_spark.catalog import write_json_atomic

# staging dir -> poller (module registry so DDL-created streams can be
# driven without holding the object returned at CREATE time)
POLLERS: dict[str, "JdbcCdcPoller"] = {}


class JdbcCdcPoller:
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        dbtable: str,
        offset_column: str,
        staging_dir: str,
        driver: str | None = None,
        starting_offset=None,
    ):
        self.spark = spark
        self.url = url
        self.dbtable = dbtable
        self.offset_column = offset_column
        self.staging_dir = staging_dir
        self.driver = driver
        os.makedirs(staging_dir, exist_ok=True)
        self._state_path = os.path.join(staging_dir, "_offset.json")
        if not os.path.exists(self._state_path) and starting_offset is not None:
            self._save_offset(starting_offset)

    def _load_offset(self):
        try:
            with open(self._state_path) as f:
                return json.load(f)["offset"]
        except FileNotFoundError:
            return None

    def _save_offset(self, offset) -> None:
        write_json_atomic(self._state_path, {"offset": offset})

    def _offset_literal(self, offset) -> str:
        if isinstance(offset, (int, float)):
            return repr(offset)
        return "'" + str(offset).replace("'", "''") + "'"

    def source_frame(self) -> DataFrame:
        """Unfiltered batch view of the source table (schema probe)."""
        from snappydata_spark.sources.jdbc import jdbc_read

        return jdbc_read(self.spark, self.url, self.dbtable, driver=self.driver)

    def poll(self) -> int:
        """Land rows past the watermark; returns the row count landed.
        The incremental predicate pushes INTO the JDBC subquery, so each
        poll reads only the new tail — never re-scans the source.

        The tail is read from the source ONCE (staged to an incoming
        dir, then the count/max watermark computes from the FROZEN
        staged files before they move into the landing zone): a
        concurrent writer committing between two source reads can
        neither be double-landed nor skipped."""
        import uuid

        from snappydata_spark.sources.jdbc import jdbc_read

        wm = self._load_offset()
        if wm is None:
            sub = self.dbtable
        else:
            # alias must not start with '_' (Derby/ANSI identifier rule);
            # the offset column is double-quoted EXACTLY as given —
            # Spark's JDBC writer creates case-sensitive quoted
            # identifiers, so `offsetColumn` must match the source's case
            sub = (
                f'(SELECT * FROM {self.dbtable} WHERE '
                f'"{self.offset_column}" > {self._offset_literal(wm)}) cdc_tail'
            )
        fresh = jdbc_read(self.spark, self.url, sub, driver=self.driver)
        incoming = os.path.join(
            self.staging_dir, f"incoming-{uuid.uuid4().hex[:12]}"
        )
        fresh.write.mode("overwrite").parquet(incoming)
        staged = self.spark.read.schema(fresh.schema).parquet(incoming)
        agg = staged.agg(
            F.count(F.lit(1)).alias("n"), F.max(self.offset_column).alias("mx")
        ).collect()[0]
        data_dir = os.path.join(self.staging_dir, "data")
        if agg.n == 0:
            import shutil

            shutil.rmtree(incoming, ignore_errors=True)
            return 0
        # move the frozen files into the landing zone BEFORE persisting
        # the watermark: a crash between the two replays the tail
        # (at-least-once), never loses it
        os.makedirs(data_dir, exist_ok=True)
        for f in os.listdir(incoming):
            if f.endswith(".parquet"):
                os.replace(
                    os.path.join(incoming, f), os.path.join(data_dir, f)
                )
        import shutil

        shutil.rmtree(incoming, ignore_errors=True)
        mx = agg.mx
        self._save_offset(
            mx if isinstance(mx, (int, float)) else str(mx)
        )
        return int(agg.n)


def create_jdbc_stream(
    spark: SparkSession, schema=None, **options
) -> DataFrame:
    """Provider factory for `USING jdbc_stream` (stream_reader hook):
    registers a poller and returns the readStream over its landing
    directory.  Options: url, dbtable, offsetColumn, stagingDir
    (default: a fresh temp dir), driver, startingOffset."""
    url = options.get("url")
    dbtable = options.get("dbtable")
    offset_column = options.get("offsetcolumn") or options.get("offset_column")
    if not (url and dbtable and offset_column):
        raise ValueError(
            "jdbc_stream needs url, dbtable and offsetColumn options "
            "(docs/connectors/jdbc_streaming_connector.md)"
        )
    staging = (
        options.get("stagingdir")
        or options.get("staging_dir")
        or tempfile.mkdtemp(prefix="jdbc_stream_")
    )
    so = options.get("startingoffset")
    if so is not None:
        # DDL options arrive as strings; a numeric offset column needs a
        # numeric literal (WHERE id > '100' is a type error in Derby)
        try:
            so = int(so)
        except (TypeError, ValueError):
            try:
                so = float(so)
            except (TypeError, ValueError):
                pass
    poller = JdbcCdcPoller(
        spark,
        url,
        dbtable,
        offset_column,
        staging,
        driver=options.get("driver"),
        starting_offset=so,
    )
    POLLERS[staging] = poller
    if schema is None:
        schema = poller.source_frame().schema
    data_dir = os.path.join(staging, "data")
    os.makedirs(data_dir, exist_ok=True)
    return spark.readStream.schema(schema).parquet(data_dir)


def poll(staging_dir: str) -> int:
    """Drive one poll of the stream registered at `staging_dir`."""
    return POLLERS[staging_dir].poll()


def poll_all() -> dict[str, int]:
    """Poll every registered jdbc_stream once; returns rows landed per
    staging dir (the scheduler entry point)."""
    return {k: p.poll() for k, p in POLLERS.items()}
