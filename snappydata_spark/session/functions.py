"""User functions, scripts, package deployment and indexes."""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


class _ScriptExit(Exception):
    """CLI `exit` (interactive_commands/exit.md): halts the outermost
    script input loop, including every `run`-included file."""


class FunctionMixin:
    def create_function(
        self,
        name: str,
        fn,
        return_type="string",
        pandas: bool = False,
        aggregate: bool = False,
        table: bool = False,
    ):
        """CREATE FUNCTION (SnappyDDLParser.createFunction:765-795) — the
        Python-engine analogue of the reference's jar-backed UDF1..UDF22
        classes: register a Python callable (or a vectorized pandas UDF,
        the fast path: Arrow batches, ~10-100× row-at-a-time) under a SQL
        name for use in any sql() query.

        aggregate=True registers a custom AGGREGATE (the reference's
        UserDefinedAggregateFunction jars, SnappyUDFTest UDAF cases) as a
        grouped-agg pandas UDF: `fn` receives each group's values as one
        pd.Series and returns a scalar.  Executes as a real partial/final
        hash aggregate over Arrow batches — usable in GROUP BY and as a
        window function, shuffles only group keys + partial states.

        table=True registers a TABLE function (the reference's
        table-valued-function surface: UnresolvedTableValuedFunction,
        SnappyParser.scala relationLeaf:657-675, plus LATERAL VIEW
        grammar :1137-1151) as a Python UDTF: `fn` is either a class
        with an `eval(self, *args)` generator method, or a plain
        generator function (wrapped).  return_type is the output schema
        string, e.g. "word string, pos int".  Callable from SQL both as
        a relation — SELECT * FROM fn(...) — and as a per-row LATERAL
        join; rows stream out Arrow-batched per input partition, no
        driver materialization."""
        if table:
            self.register_table_function(self.spark, name, fn, return_type)
        elif aggregate:
            self.register_aggregate(self.spark, name, fn, return_type)
        elif pandas:
            from pyspark.sql.functions import pandas_udf

            udf = pandas_udf(fn, returnType=return_type)
            self.spark.udf.register(name, udf)
        else:
            self.spark.udf.register(name, fn, return_type)
        # redefinition invalidates plans resolved against the old function
        self.plan_cache.clear()
        return name

    @staticmethod
    def register_aggregate(spark: SparkSession, name: str, fn, return_type="double"):
        """Register a custom aggregate on a bare SparkSession (the
        create_function(aggregate=True) mechanics, reusable without a
        SnappySession instance)."""
        import pandas as _pd
        from pyspark.sql.functions import pandas_udf

        def _grouped(v):
            return fn(v)

        # Series→scalar type hints mark this SQL_GROUPED_AGG_PANDAS_UDF
        # (functionType inference); returnType still rules the SQL type
        _grouped.__annotations__ = {"v": _pd.Series, "return": float}
        spark.udf.register(name, pandas_udf(_grouped, returnType=return_type))
        return name

    @staticmethod
    def register_table_function(spark: SparkSession, name: str, fn, return_type):
        """Register a Python UDTF on a bare SparkSession (the
        create_function(table=True) mechanics).  Accepts a UDTF class
        (has `eval`) or a generator function, which is wrapped into a
        one-method class.  useArrow=True keeps row emission on the
        Arrow-batched fast path."""
        from pyspark.sql.functions import udtf

        if isinstance(fn, type):
            cls = fn
        else:
            # plain generator function -> minimal UDTF class
            cls = type(
                f"_udtf_{name}",
                (),
                {"eval": staticmethod(fn)},
            )
        try:
            tf = udtf(cls, returnType=return_type, useArrow=True)
        except Exception:
            # Arrow path unavailable (e.g. unsupported output type) —
            # fall back to the pickled-row path, same semantics
            tf = udtf(cls, returnType=return_type)
        spark.udtf.register(name, tf)
        return name

    def drop_function(self, name: str) -> None:
        """DROP FUNCTION (SnappyDDLParser.dropFunction:796).  Spark has no
        unregister API — rebind to a tombstone that fails loudly."""
        def _dropped(*_args):
            raise RuntimeError(f"function {name} was dropped")

        self.spark.udf.register(name, _dropped, "string")
        # cached plans resolved the old function at analysis time
        self.plan_cache.clear()

    _RUN_MAX_DEPTH = 16  # nested `run 'file.sql'` include depth cap

    def run_script(
        self, script: str, base_dir: str | None = None
    ) -> list[DataFrame | None]:
        """Execute a multi-statement SQL script (the reference's
        snappy-sql CLI shape: statements separated by top-level `;`).
        Splits outside quotes and comments, runs each statement through
        sql(), returns the per-statement results in order.

        The snappy-CLI interactive commands that reference scripts use
        are accepted inline (reference/interactive_commands/):

        - ``elapsedtime on|off`` (elapsedtime.md): toggles per-statement
          wall recording — the same machinery as
          SYSCS_UTIL.SET_STATISTICS_TIMING, readable via
          get_statement_stats(); ON also echoes ``ELAPSED TIME = N
          milliseconds`` per statement like the CLI.  OFF restores the
          timing state elapsedtime found (a script's toggle must not
          permanently pin SET_STATISTICS_TIMING on).
        - ``maximumdisplaywidth <n>`` (maximumdisplaywidth.md): clamps
          column display width for show_df(); stored on the session as
          max_display_width.
        - ``run 'file.sql'`` (run.md): reads and executes the named
          script inline; relative paths resolve against the INCLUDING
          script's directory, files can contain further run commands
          (depth-capped), and environment changes persist when the
          including script resumes.
        - ``connect 'url' [as name]`` / ``set connection name`` /
          ``disconnect [all|current|name]`` / ``show connections``
          (connect.md, set_connection.md, disconnect.md): connection
          BOOKKEEPING so reference CLI scripts replay end-to-end.  The
          engine is a single in-process store — every statement executes
          against this session whichever named connection is "current"
          (documented divergence; there is no remote endpoint to dial).
        - ``exit`` (exit.md): halts the outermost input loop — remaining
          statements in THIS and every including script are skipped.
        """
        results: list = []
        try:
            self._run_statements(script, base_dir, results, depth=0)
        except _ScriptExit:
            pass  # exit.md: outermost input loop halts
        return results

    def run_script_file(self, path: str) -> list[DataFrame | None]:
        """``snappy run 'file.sql'`` entry point: execute a script FILE,
        resolving its nested run commands relative to its directory."""
        with open(path) as fh:
            text = fh.read()
        return self.run_script(text, base_dir=os.path.dirname(os.path.abspath(path)))

    def _run_statements(
        self,
        script: str,
        base_dir: str | None,
        results: list,
        depth: int,
    ) -> None:
        import re as _re

        for stmt in self._split_script(script):
            s = stmt.strip()
            m = _re.fullmatch(r"elapsedtime\s+(on|off)", s, _re.IGNORECASE)
            if m:
                on = m.group(1).lower() == "on"
                if on and not getattr(self, "_elapsedtime_echo", False):
                    # remember the pre-elapsedtime timing state so OFF
                    # restores rather than pinning timing on for the
                    # session's lifetime
                    self._elapsedtime_prior_timing = self._stats_timing
                self._elapsedtime_echo = on
                if on:
                    self._stats_timing = True
                else:
                    self._stats_timing = getattr(
                        self, "_elapsedtime_prior_timing", False
                    )
                results.append(None)
                continue
            m = _re.fullmatch(r"maximumdisplaywidth\s+(\d+)", s, _re.IGNORECASE)
            if m:
                self.max_display_width = int(m.group(1))
                results.append(None)
                continue
            m = _re.fullmatch(r"run\s+'([^']+)'", s, _re.IGNORECASE)
            if m:
                if depth >= self._RUN_MAX_DEPTH:
                    raise ValueError(
                        f"run: include depth exceeds {self._RUN_MAX_DEPTH} "
                        f"(cycle?) at {m.group(1)!r}"
                    )
                path = m.group(1)
                if not os.path.isabs(path) and base_dir:
                    path = os.path.join(base_dir, path)
                with open(path) as fh:
                    nested = fh.read()
                self._run_statements(
                    nested, os.path.dirname(os.path.abspath(path)),
                    results, depth + 1,
                )
                continue
            m = _re.fullmatch(
                r"connect\s+'([^']*)'(?:\s+as\s+([A-Za-z_]\w*))?",
                s,
                _re.IGNORECASE,
            )
            if m:
                conns = self._cli_connections
                name = (
                    m.group(2) or f"CONNECTION{len(conns)}"
                ).upper()
                conns[name] = m.group(1)
                self._cli_current_connection = name
                results.append(None)
                continue
            m = _re.fullmatch(
                r"set\s+connection\s+([A-Za-z_]\w*)", s, _re.IGNORECASE
            )
            if m:
                name = m.group(1).upper()
                if name not in self._cli_connections:
                    raise ValueError(
                        f"set connection: no connection named {name}"
                    )
                self._cli_current_connection = name
                results.append(None)
                continue
            m = _re.fullmatch(
                r"disconnect(?:\s+(all|current|[A-Za-z_]\w*))?",
                s,
                _re.IGNORECASE,
            )
            if m:
                which = (m.group(1) or "current").lower()
                conns = self._cli_connections
                if which == "all":
                    conns.clear()
                    self._cli_current_connection = None
                else:
                    name = (
                        self._cli_current_connection
                        if which == "current"
                        else which.upper()
                    )
                    if name:
                        conns.pop(name, None)
                    if self._cli_current_connection == name:
                        self._cli_current_connection = None
                results.append(None)
                continue
            if _re.fullmatch(r"show\s+connections", s, _re.IGNORECASE):
                rows = [
                    (
                        n + ("*" if n == self._cli_current_connection else ""),
                        url,
                    )
                    for n, url in self._cli_connections.items()
                ]
                results.append(
                    self.spark.createDataFrame(
                        rows or [("", "")], "name string, url string"
                    ).filter("name != ''")
                )
                continue
            if _re.fullmatch(r"exit", s, _re.IGNORECASE):
                raise _ScriptExit
            if getattr(self, "_elapsedtime_echo", False):
                t0 = time.perf_counter()
                res = self.sql(stmt)
                ms = (time.perf_counter() - t0) * 1000.0
                print(f"ELAPSED TIME = {ms:.0f} milliseconds")
                results.append(res)
            else:
                results.append(self.sql(stmt))

    @property
    def _cli_connections(self) -> dict:
        if not hasattr(self, "_cli_conns"):
            self._cli_conns: dict[str, str] = {}
            self._cli_current_connection: str | None = None
        return self._cli_conns

    def show_df(self, df: DataFrame, n: int = 20) -> None:
        """CLI-style display honoring ``maximumdisplaywidth`` (snappy
        interactive command): columns truncate at the configured width
        (0/None = no truncation, Spark default 20 otherwise)."""
        w = getattr(self, "max_display_width", None)
        df.show(n, truncate=20 if w is None else (w if w > 0 else False))

    @staticmethod
    def _split_script(script: str) -> list[str]:
        stmts, buf = [], []
        i, n = 0, len(script)
        in_s = in_d = False  # '...' / "..."
        while i < n:
            c = script[i]
            if in_s:
                buf.append(c)
                if c == "\\" and i + 1 < n:
                    buf.append(script[i + 1])
                    i += 1
                elif c == "'":
                    # '' escape stays inside the literal
                    if i + 1 < n and script[i + 1] == "'":
                        buf.append("'")
                        i += 1
                    else:
                        in_s = False
            elif in_d:
                buf.append(c)
                if c == "\\" and i + 1 < n:
                    buf.append(script[i + 1])
                    i += 1
                elif c == '"':
                    in_d = False
            elif c == "-" and script[i : i + 2] == "--":
                # line comment: skip to end of line (kept out of the
                # statement so a trailing comment can't swallow the `;`)
                j = script.find("\n", i)
                i = (j if j != -1 else n) - 1
            elif c == "/" and script[i : i + 2] == "/*":
                j = script.find("*/", i + 2)
                # land ON the closing '/', the loop's i += 1 steps past it
                i = (j + 1) if j != -1 else (n - 1)
            elif c == ";":
                stmts.append("".join(buf))
                buf = []
            else:
                buf.append(c)
                if c == "'":
                    in_s = True
                elif c == '"':
                    in_d = True
            i += 1
        stmts.append("".join(buf))
        return [s.strip() for s in stmts if s.strip()]

    def exec_python(self, code: str, **bindings):
        """EXEC SCALA analogue (interpretCode SnappyDDLParser.scala:
        476-517): run a Python code block with `session` and `spark` in
        scope; the block's `result` variable (a DataFrame) is returned.
        Driver-side only — the block itself must build distributed plans,
        not loop over data."""
        scope = {"session": self, "spark": self.spark, **bindings}
        exec(code, scope)  # noqa: S102 — the reference feature IS eval-a-block
        return scope.get("result")

    def _create_index(self, table: str, options: dict):
        """CREATE INDEX (CreateIndex SnappyDDLParser; row-table indexes in
        the reference are GemFireXD B-trees).  A Spark-idiomatic index is a
        LAYOUT, not a lookup structure: the table's data files are
        rewritten range-clustered + sorted on the indexed columns, so
        parquet footer min/max stats turn point/range predicates into
        row-group skips (the scan reads only the files whose range can
        match — data skipping is the distributed analogue of an index
        seek).  Bucketed tables keep their bucket layout (hash-partitioned
        store indexes colocate the same way); the registry entry alone
        still serves metadata queries."""
        cols = [c.strip().lower() for c in options["columns"].split(",")]
        name = self._canon(table)
        using = options.get("using")
        if using in ("ivf_sq8", "minhash", "inverted"):
            # materialized similarity indexes (index_ann / index_minhash):
            # model/signatures computed once, stored in a managed keyed
            # table, maintained on mutation via _ann_maintain
            if len(cols) != 1:
                raise ValueError(f"USING {using} indexes exactly one column")
            if using == "ivf_sq8":
                from snappydata_spark import index_ann

                index_ann.build_ivf_sq8(self, options["index"], name, cols[0])
            elif using == "minhash":
                from snappydata_spark import index_minhash

                index_minhash.build_minhash(self, options["index"], name, cols[0])
            else:
                from snappydata_spark import index_inverted

                index_inverted.build_inverted(self, options["index"], name, cols[0])
            return None
        self._indexes[options["index"].lower()] = (name, cols)
        self._save_registry()
        if self.catalog.exists(name):
            meta = self.catalog.load_meta(name)

            # serialize with writers AND drain in-flight claims: the
            # registration above makes the table claims-ineligible for
            # NEW writers, but a holder downgraded before it would
            # commit over this clustering rewrite
            def _cluster_body():
                df = self._mutation_target(name)
                if df is not None and not df.isEmpty():
                    # the staging writer clusters for the just-registered
                    # index (a bucketed table keeps its bucket layout)
                    self._rewrite(df, meta)

            self._run_exclusive(name, _cluster_body)
        return None

    def _index_cols(self, name: str) -> list[str] | None:
        """Indexed columns of a table, if any index is registered on it."""
        for tbl, cols in self._indexes.values():
            if tbl == name:
                return cols
        return None

    _ZORDER_BITS = 8

    def _cluster_for_index(self, df: DataFrame, cols: list[str], n_files: int):
        """Layout for a materialized index: single column → range-cluster;
        multiple NUMERIC columns → Z-ORDER (bit-interleaved bucket ids),
        so EVERY indexed column's footer min/max narrows per file — the
        multi-dimensional data-skipping layout (Delta/Hudi Z-ORDER; the
        reference's multi-column store indexes serve the same predicates).
        Bucket ids linear-scale each column into 2^8 bins from global
        min/max (one tiny agg); non-numeric columns (incl. date/timestamp
        — float(datetime) has no meaning and the double cast is invalid)
        fall back to lexicographic range clustering."""
        numeric = {"int", "bigint", "smallint", "tinyint", "double", "float"}
        dtypes = dict(df.dtypes)
        if len(cols) == 1 or not all(
            dtypes.get(c, "").split("(")[0] in numeric for c in cols
        ):
            return df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
        row = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in cols],
            *[F.max(c).alias(f"mx_{c}") for c in cols],
        ).first()
        bits, n = self._ZORDER_BITS, len(cols)
        z = F.lit(0).cast("long")
        for i, c in enumerate(cols):
            mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
            if mx is None or mn is None or mx == mn:
                bucket = F.lit(0).cast("long")
            else:
                span = float(mx) - float(mn)
                bucket = F.least(
                    F.lit((1 << bits) - 1),
                    F.floor(
                        (F.col(c).cast("double") - float(mn)) / span * (1 << bits)
                    ),
                ).cast("long")
            for b in range(bits):
                z = z + (
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1))
                    * F.lit(1 << (b * n + i)).cast("long")
                )
        clustered = (
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        return clustered

    def list_indexes(self) -> dict:
        return dict(self._indexes)

    def _ann_maintain(
        self,
        name: str,
        source: DataFrame | None = None,
        pred=None,
        kind: str | None = None,
    ) -> None:
        """Refresh every ANN index registered on `name` (no-op for the
        index tables themselves — they carry no ANN index).  The refresh
        is narrowed to the mutated rows whenever the mutation tells us
        which they are: put/insert/delete_from pass their source frame;
        update passes its predicate (the changed rows are exactly the
        post-mutation rows matching it); delete/delete_from touch no
        surviving rows, so only the stale-key prune runs.  truncate and
        predicate shapes we can't evaluate fall back to a full
        re-derive — still assignment+encoding only, never training."""
        cname = self._canon(name)
        hits = [k for k, v in self._ann_indexes.items() if v["table"] == cname]
        if not hits:
            return
        delete_only = kind in ("delete", "delete_from")
        if pred is not None and not delete_only:
            try:
                base = self.table(cname)
                cond = F.expr(pred) if isinstance(pred, str) else pred
                source = base.filter(F.coalesce(cond, F.lit(False)))
            except Exception:  # noqa: BLE001 — unresolvable alias/pred
                source = None
        for k in hits:
            method = self._ann_indexes[k].get("method")
            if method == "minhash":
                from snappydata_spark import index_minhash

                index_minhash.refresh_minhash(
                    self, k, source=source, delete_only=delete_only
                )
            elif method == "inverted":
                from snappydata_spark import index_inverted

                index_inverted.refresh_inverted(
                    self, k, source=source, delete_only=delete_only
                )
            else:
                from snappydata_spark import index_ann

                index_ann.refresh_ivf_sq8(
                    self, k, source=source, delete_only=delete_only
                )

    def _resolve_maven_local(
        self, coord: str, repos: str | None, cache: str | None
    ) -> str | None:
        """Resolve one maven coordinate ``group:artifact:version`` against
        local maven-layout repositories: each candidate root in REPOS
        (comma-separated ``file://`` URIs or plain directories; http(s)
        roots are skipped — no network) plus the PATH cache dir and
        ``~/.m2/repository``, probing
        ``<root>/<group/with/slashes>/<artifact>/<version>/
        <artifact>-<version>.jar``.  Returns the jar path or None."""
        parts = coord.split(":")
        if len(parts) != 3:
            return None
        group, artifact, version = parts
        roots: list[str] = []
        for r in (repos or "").split(","):
            r = r.strip()
            if not r or r.startswith(("http://", "https://")):
                continue
            roots.append(self._local_path(r))
        if cache:
            roots.append(cache)
        roots.append(os.path.expanduser("~/.m2/repository"))
        rel = os.path.join(
            group.replace(".", os.sep),
            artifact,
            version,
            f"{artifact}-{version}.jar",
        )
        for root in roots:
            p = os.path.join(root, rel)
            if os.path.exists(p):
                return p
        return None

    # ------------------------------------------- SQL statement handlers

    def _sql_deploy(self, stmt) -> None:
        kind = stmt.options["kind"]
        coords = stmt.options["coords"]
        # DEPLOY JAR with a local path actually loads it (Spark-native
        # ADD JAR — classpath on driver + executors; .py/.zip go through
        # addPyFile).  DEPLOY PACKAGE resolves maven coordinates against
        # LOCAL maven-layout repositories only (REPOS 'file:///...' /
        # local dirs, plus the PATH cache dir — deployPackages
        # SnappyDDLParser.scala:858-874); remote repositories are
        # recorded but never fetched: no network in this engine
        # (documented divergence, SURVEY §8).
        resolved: list[str] = []
        for c in coords.split(","):
            c = c.strip().strip("'\"")
            if kind == "jar" and os.path.exists(c):
                if c.endswith((".py", ".zip")):
                    self.spark.sparkContext.addPyFile(c)
                else:
                    self.spark.sql(f"ADD JAR '{c}'")
            elif kind == "package":
                jar = self._resolve_maven_local(
                    c, stmt.options.get("repos"), stmt.options.get("path")
                )
                if jar is not None:
                    self.spark.sql(f"ADD JAR '{jar}'")
                    resolved.append(jar)
        self._packages[stmt.options["name"].lower()] = {
            "kind": kind, "coords": coords
        }
        if resolved:
            self._packages[stmt.options["name"].lower()]["resolved"] = (
                ",".join(resolved)
            )
        self._save_registry()

    def _sql_undeploy(self, stmt) -> None:
        self._packages.pop(stmt.options["name"].lower(), None)
        self._save_registry()

    def _sql_list_packages(self, stmt) -> DataFrame:
        return self.spark.createDataFrame(
            [(k, v["kind"], v["coords"]) for k, v in sorted(self._packages.items())]
            or [("", "", "")],
            "name string, kind string, coords string",
        ).filter("name <> ''")

    def _sql_drop_index(self, stmt) -> None:
        index = stmt.options["index"].lower()
        ann_info = self._ann_indexes.pop(index, None)
        if ann_info is not None:
            self._indexes.pop(f"{index}__cell", None)
            self._indexes.pop(f"{index}__term", None)
            self.drop_table(ann_info["index_table"])
        else:
            self._indexes.pop(index, None)
        self._save_registry()
