"""Approximate queries: WITH ERROR over sample tables and top-k."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F


class ApproxMixin:
    def _approx_sql(
        self, aggs, group_items, table, where, group_by, frac,
        confidence=0.95, behavior=None, joins=(), errfns=(),
        order_by=None, limit=None,
    ):
        """`SELECT <agg>, ... WITH ERROR [f] [CONFIDENCE c] [BEHAVIOR 'b']`
        routing (full SDE grammar, docs/sde/running_queries.md:4-31;
        SnappyContextFunctions AQP hooks): rewrite the aggregates onto a
        registered sample table of the FROM table and return estimates
        with SDE's error columns at the requested confidence.  A
        multi-aggregate select list is ONE sample scan (approx_agg_multi);
        the scan touches only the sample — that is the entire point at
        100 TB.  BEHAVIOR decides what happens when a row's relative
        error exceeds f (default run_on_full_table, the reference's SQL
        default): do_nothing | local_omit (drop the row) | strict (raise)
        | run_on_full_table (exact re-run of the whole query) |
        partial_run_on_base_table (exact re-run of violating groups
        only, stitched with the good estimates)."""
        from snappydata_spark import aqp

        candidates = []
        for cand in self.catalog.list_tables():
            m = self.catalog.load_meta(cand)
            if m.provider == "sample" and m.options.get("base_table") == table:
                candidates.append((cand, m))
        if not candidates:
            raise ValueError(
                f"WITH ERROR query on '{table}' has no sample table "
                f"(CREATE SAMPLE TABLE s ON {table} OPTIONS (qcs ..., fraction ...))"
            )
        sample_name, meta = self._select_sample(
            candidates, table, where, group_by, group_items
        )
        self._last_sample_choice = sample_name
        from snappydata_spark.dialect import split_top_level as _stl

        qcs = _stl(meta.options["qcs"])
        sample = self.table(sample_name)
        # SDE joins to NON-samples (docs/sde/index.md:43): the sampled
        # fact joins the dimension tables as written, BEFORE the WHERE
        # (which may reference dim columns).  Per-stratum scaling stays
        # unbiased because each surviving sample row carries the same
        # inclusion probability into the join (fact-FK joins don't
        # duplicate fact rows).  Joining the SAMPLE instead of the base
        # is the entire point: the dim join probes |sample| rows.
        for dim, cond in joins:
            dmeta = self.catalog.load_meta(self._canon(dim)) if self.catalog.exists(dim) else None
            if dmeta is not None and dmeta.provider == "sample":
                raise ValueError(
                    f"WITH ERROR joins are supported to non-samples only "
                    f"('{dim}' is a sample table — docs/sde/index.md:43)"
                )
            sample = sample.join(self.table(dim), F.expr(cond))
        if where:
            sample = sample.filter(F.expr(where))
        # group entries may be SQL EXPRESSIONS (Example 3: GROUP BY
        # hour(pickup_datetime) WITH ERROR): bare identifiers pass
        # through; expressions project to a named column first — the
        # select-list alias when one exists, else a synthetic name
        from snappydata_spark.dialect import split_top_level

        def _norm(s):
            return re.sub(r"\s+", "", s.lower())

        sel_aliases = {}
        for it in group_items:
            am = re.match(r"^(.*?)\s+as\s+(\w+)\s*$", it.strip(), re.I | re.S)
            if am:
                sel_aliases[_norm(am.group(1))] = am.group(2).lower()
        raw_groups = (
            split_top_level(group_by)
            if group_by
            else [re.sub(r"\s+as\s+\w+\s*$", "", g, flags=re.I) for g in group_items]
        )
        group_cols: list[str] = []
        group_exprs: dict[str, str] = {}
        for i, g in enumerate(raw_groups):
            g = g.strip()
            if re.match(r"^[A-Za-z_]\w*$", g):
                group_cols.append(g.lower())
            else:
                alias = sel_aliases.get(_norm(g), f"__grp{i}")
                group_exprs[alias] = g
                group_cols.append(alias)
        for a, gexpr in group_exprs.items():
            sample = sample.withColumn(a, F.expr(gexpr))
        st = aqp.SampleTable(sample, qcs, {"*": float(meta.options["fraction"])}, -1)
        if len(aggs) == 1:
            # legacy single-aggregate contract: estimate + 4 error columns
            agg_fn, value_col, alias = aggs[0]
            out = aqp.approx_agg(
                st, group_cols, qcs[0] if value_col == "*" else value_col,
                agg_fn, confidence=confidence,
            )
            if alias:
                out = out.withColumnRenamed("estimate", alias)
            rel_cols = ["relative_error"]
            named = [(agg_fn, qcs[0] if value_col == "*" else value_col,
                      alias or "estimate")]
        else:
            named = [
                (fn, qcs[0] if col == "*" else col,
                 alias or f"{fn}_{col}".replace("*", "all"))
                for fn, col, alias in aggs
            ]
            out = aqp.approx_agg_multi(st, group_cols, named, confidence=confidence)
            rel_cols = [f"{alias}_relative_error" for _, _, alias in named]
        out = self._apply_error_behavior(
            out, rel_cols, named, table, where, group_cols, frac, behavior,
            joins, group_exprs,
        )
        if errfns:
            # SDE error-function projections (docs/sde/hac_contracts.md:
            # 44-56): the query returns ONLY the requested error columns
            # next to the group cols + estimates, in request order
            single = len(named) == 1
            sel = list(group_cols) + [a for _, _, a in named]
            aliases = {a for _, _, a in named}
            for fn, target, out_alias in errfns:
                if target not in aliases:
                    raise ValueError(
                        f"{fn}({target}): no aggregate aliased '{target}' "
                        f"in the select list (have {sorted(aliases)})"
                    )
                src = fn if single else f"{target}_{fn}"
                sel.append(F.col(src).alias(out_alias or f"{target}_{fn}"))
            out = out.select(*sel)
        if order_by:
            sort_cols = []
            for item in order_by.split(","):
                m = re.match(
                    r"^(.+?)(?:\s+(ASC|DESC))?$", item.strip(), re.I | re.S
                )
                e = F.expr(m.group(1).strip())
                sort_cols.append(
                    e.desc() if (m.group(2) or "").upper() == "DESC" else e.asc()
                )
            out = out.orderBy(*sort_cols)
        if limit is not None:
            out = out.limit(limit)
        return out

    def _select_sample(self, candidates, table, where, group_by, group_items):
        """The reference's sample-selection ladder
        (docs/sde/sample_selection.md): query QCS = base-table columns
        named in WHERE/GROUP BY; pick (1) a sample whose QCS matches it
        exactly, else (2) the smallest QCS superset, else (3) the subset
        with the most matching columns — ties broken by largest sample
        fraction, then name for determinism.  With no overlap at all,
        the largest-fraction sample serves (the estimate is still
        unbiased; stratification just stops helping the variance)."""
        if len(candidates) == 1:
            return candidates[0]
        import re as _re

        from snappydata_spark.dialect import split_top_level as _stl

        def _norm(s):
            return _re.sub(r"\s+", "", s.lower())

        base_cols = {c.lower() for c in self.table(table).columns}
        text = " ".join(
            x for x in (where, group_by, " ".join(group_items or [])) if x
        )
        norm_text = _norm(text)
        query_qcs = {
            t for t in _re.findall(r"[A-Za-z_]\w*", text.lower())
            if t in base_cols
        }
        # expression QCS entries (e.g. hour(pickup_datetime)) match when
        # the normalized expression appears in the query text; the
        # columns inside a matched expression are accounted for by it
        for _, m in candidates:
            for e in _stl(m.options["qcs"].lower()):
                if not _re.match(r"^\w+$", e) and _norm(e) in norm_text:
                    query_qcs.add(_norm(e))
                    query_qcs -= {
                        t for t in _re.findall(r"[A-Za-z_]\w*", e)
                        if t in base_cols
                    }

        def qcs_of(m):
            return {
                e if _re.match(r"^\w+$", e) else _norm(e)
                for e in (x.lower() for x in _stl(m.options["qcs"]))
            }

        def frac_of(m):
            return float(m.options.get("fraction", 0))

        exact = [c for c in candidates if qcs_of(c[1]) == query_qcs]
        if exact:
            return min(exact, key=lambda c: (-frac_of(c[1]), c[0]))
        supers = [c for c in candidates if qcs_of(c[1]) >= query_qcs]
        if supers:
            return min(
                supers,
                key=lambda c: (len(qcs_of(c[1])), -frac_of(c[1]), c[0]),
            )
        subs = [c for c in candidates if qcs_of(c[1]) <= query_qcs]
        if subs:
            return min(
                subs,
                key=lambda c: (
                    -len(qcs_of(c[1]) & query_qcs), -frac_of(c[1]), c[0]
                ),
            )
        return min(candidates, key=lambda c: (-frac_of(c[1]), c[0]))

    def _apply_error_behavior(
        self, out, rel_cols, named, table, where, group_cols, frac, behavior,
        joins=(), group_exprs=None,
    ):
        """BEHAVIOR clause semantics (docs/sde/running_queries.md:15;
        reference SQL default run_on_full_table): act on rows whose
        relative error exceeds the requested fraction."""
        behavior = behavior or "run_on_full_table"
        if frac is None or behavior == "do_nothing":
            return out
        viol = None
        for c in rel_cols:
            cond = F.col(c) > frac
            viol = cond if viol is None else (viol | cond)
        if behavior == "local_omit":
            return out.filter(~viol)
        n_bad = out.filter(viol).limit(1).count()
        if n_bad == 0:
            return out
        if behavior == "strict":
            raise ValueError(
                f"WITH ERROR ... BEHAVIOR 'strict': estimate exceeds "
                f"relative error {frac} (docs/sde/running_queries.md)"
            )
        exact = self._exact_agg(
            table, where, group_cols, named, out.columns, joins, group_exprs
        )
        if behavior == "run_on_full_table":
            return exact
        # partial_run_on_base_table: exact rows for violating groups only
        good = out.filter(~viol)
        bad_keys = out.filter(viol).select(*group_cols)
        bad_exact = exact.join(F.broadcast(bad_keys), group_cols, "left_semi")
        return good.unionByName(bad_exact)

    def _exact_agg(
        self, table, where, group_cols, named, out_columns, joins=(),
        group_exprs=None,
    ):
        """Exact re-run on the base table with the SAME output schema as
        the estimate frame (error columns collapse to zero-width)."""
        base = self.table(table)
        for dim, cond in joins:
            base = base.join(self.table(dim), F.expr(cond))
        if where:
            base = base.filter(F.expr(where))
        for a, gexpr in (group_exprs or {}).items():
            base = base.withColumn(a, F.expr(gexpr))
        fns = {"sum": F.sum, "avg": F.avg}
        agg_exprs = []
        for fn, col, alias in named:
            if fn == "count":
                # COUNT(col) excludes NULLs — only COUNT(*) / COUNT(1)
                # may take the count-every-row shortcut
                e = (
                    F.count(F.lit(1))
                    if col in (None, "*", "1")
                    else F.count(col)
                ).cast("double")
            else:
                e = fns[fn](col)
            agg_exprs.append(F.round(e.cast("double"), 4).alias(alias))
        exact = base.groupBy(*group_cols).agg(*agg_exprs)
        aliases = {alias for _, _, alias in named}
        for c in out_columns:
            if c in aliases or c in group_cols:
                continue
            src = next((a for a in aliases if c.startswith(f"{a}_")), None)
            base_col = src if src is not None else next(iter(aliases))
            if c.endswith(("lower_bound", "upper_bound")):
                exact = exact.withColumn(c, F.col(base_col))
            else:  # absolute_error / relative_error
                exact = exact.withColumn(c, F.lit(0.0))
        return exact.select(*out_columns)

    def create_approx_ts_topk(
        self,
        name: str,
        base_table: str,
        key_col: str,
        ts_col: str = "ts",
        k: int = 10,
        window: str = "1 hour",
        freq_col: str | None = None,
        sketch: bool = False,
    ) -> None:
        """createApproxTSTopK (SnappySession.scala:958-1026): register a
        time-windowed top-k structure over a base table.  The reference
        maintains a count-min sketch + StreamSummary per window; here the
        DEFAULT structure is a materialized per-window (key, cnt) panel —
        exact, refreshable from the base table, mergeable across windows
        at query time — whose size grows with distinct keys per window.
        `sketch=True` (SQL option `sketch 'true'`) switches to the
        reference's BOUNDED state: per-window CountMinSketch cells plus a
        StreamSummary-style `size`-capped candidate list
        (_create_topk_sketch) — O(D·W + size) rows per window at ANY key
        cardinality, with real nonzero ErrorBoundsInfo.  `freq_col` ranks
        keys by a frequency column's SUM instead of row count
        (docs/aqp/sketching.md frequencyCol); `window=None` disables the
        time dimension (sketching.md:79 — one global panel)."""
        from snappydata_spark import aqp as aqp_mod

        if sketch:
            self._create_topk_sketch(
                name, base_table, key_col, ts_col, k, window, freq_col
            )
            return
        if window is None:
            # time disabled: a single all-time window at the epoch
            base = self.table(base_table)
            cnt = (
                F.sum(F.col(freq_col)) if freq_col else F.count(F.lit(1))
            ).alias("cnt")
            panel = (
                base.groupBy(key_col)
                .agg(cnt)
                .orderBy(F.desc("cnt"), F.asc(key_col))
                .limit(max(k * 4, k))
                .select(
                    F.lit("1970-01-01 00:00:00").cast("timestamp").alias(
                        "window_start"
                    ),
                    key_col,
                    "cnt",
                )
            )
            window = "all"
        else:
            panel = aqp_mod.approx_topk_time(
                self.table(base_table), key_col, ts_col, k=max(k * 4, k),
                window=window, freq_col=freq_col,
            ).drop("rank")
        self.create_table(
            name,
            provider="topk",
            options={
                "base_table": self._canon(base_table),
                "key": key_col.lower(),
                "ts": ts_col.lower(),
                "k": str(k),
                "window": window,
                "freq": (freq_col or "").lower(),
                # keyed so topk_stream_updater can PUT-merge per-window
                # partial counts (the reference maintains the structure
                # from the stream, SnappySession.scala:958-1026)
                "key_columns": f"window_start,{key_col.lower()}",
            },
            df=panel,
            overwrite=True,
        )

    def _create_topk_sketch(
        self,
        name: str,
        base_table: str,
        key_col: str,
        ts_col: str,
        k: int,
        window: str | None,
        freq_col: str | None,
    ) -> None:
        """Sketch-backed TOPK TABLE state (clearspring CountMinSketch +
        StreamSummary analogue, core/src/main/java/io/snappydata/util/
        com/clearspring/analytics/stream/frequency/): two managed
        tables —

          <name>       (window_start, <key>, est)  — the per-window
                       candidate list, top `size` keys by THAT window's
                       CMS estimate (StreamSummary's heavy-hitter list);
          <name>__cms  (window_start, row_idx, bucket, cnt) — the
                       additive CMS cells, ≤ D·W rows per window.

        State is O((D·W + size) · windows) at ANY key cardinality —
        the 100 TB contract the exact panel can't make.  Query-time
        merge: sum cells across the range, probe the union of candidate
        lists, bound the overcount with the clearspring guarantee
        eps·N = 2N/W (ErrorBoundsInfo, real and nonzero)."""
        from snappydata_spark import aqp as aqp_mod

        base = self.table(base_table)
        size = max(k * 4, k)
        if window is None:
            win = F.lit("1970-01-01 00:00:00").cast("timestamp")
            window = "all"
        else:
            win = F.window(F.col(ts_col), window)["start"]
        rows = base.select(
            win.alias("window_start"),
            F.col(key_col),
            *([F.col(freq_col)] if freq_col else []),
        ).filter(F.col(key_col).isNotNull())
        # aggregate before you explode: CMS cells are
        # ADDITIVE over keys, so aggregate per (window, key) FIRST (one
        # map-side-partial shuffle) and build the cells from the
        # aggregated frame — the ×D explode + md5 then run over distinct
        # (window, key) rows instead of every event, and the old
        # SECOND full pass (distinct for the candidate key list) reads
        # the same aggregate for free.
        per_key = rows.groupBy("window_start", key_col).agg(
            (
                F.sum(F.col(freq_col).cast("long"))
                if freq_col
                else F.count(F.lit(1))
            ).alias("__kcnt")
        )
        cells = aqp_mod.topk_cms_cells(
            per_key, key_col, "window_start", freq_col="__kcnt"
        )
        cells = cells.persist()  # candidate build + store read it twice
        wkeys = per_key.select("window_start", key_col)
        est = aqp_mod.topk_cms_probe(
            cells, wkeys, key_col, window_col="window_start"
        )
        rk = F.row_number().over(
            Window.partitionBy("window_start").orderBy(
                F.desc("est"), F.asc(key_col)
            )
        )
        panel = (
            est.withColumn("__rk", rk)
            .filter(F.col("__rk") <= size)
            .select("window_start", key_col, "est")
        )
        cms_table = f"{self._canon(name)}__cms"
        self.create_table(
            cms_table,
            options={"key_columns": "window_start,row_idx,bucket"},
            df=cells,
            overwrite=True,
        )
        # the clearspring StreamSummary companion (StreamSummary.java
        # offerReturnAll): the candidate list AS THE REFERENCE MAINTAINS
        # IT — capacity-bounded Space-Saving counters with per-counter
        # overcount error from min-count eviction, processed in
        # deterministic (ts, key) order so the state is reproducible
        # (and hash-checkable by the aqp_topk_streamsummary_evictions
        # oracle).  Queryable directly: SELECT * FROM <name>__ss —
        # cnt - err is the guaranteed minimum, err > 0 flags a counter
        # that inherited an evicted slot.
        ss_rows = base.select(
            win.alias("window_start"),
            F.col(key_col),
            *([F.col(ts_col).alias("__ord")] if ts_col else []),
            *([F.col(freq_col)] if freq_col else []),
        )
        ss = aqp_mod.stream_summary_state(
            ss_rows,
            key_col,
            capacity=size,
            order_cols=(["__ord", key_col] if ts_col else [key_col]),
            window_col="window_start",
            freq_col=freq_col,
        )
        ss_table = f"{self._canon(name)}__ss"
        self.create_table(
            ss_table,
            options={"key_columns": f"window_start,{key_col.lower()}"},
            df=ss,
            overwrite=True,
        )
        self.create_table(
            name,
            provider="topk",
            options={
                "base_table": self._canon(base_table),
                "key": key_col.lower(),
                "ts": ts_col.lower(),
                "k": str(k),
                "window": window,
                "freq": (freq_col or "").lower(),
                "mode": "sketch",
                "cms_table": cms_table,
                "ss_table": ss_table,
                "key_columns": f"window_start,{key_col.lower()}",
            },
            df=panel,
            overwrite=True,
        )
        cells.unpersist()

    def topk_stream_updater(self, name: str):
        """foreachBatch callable that maintains an approx-TS-topk
        structure from a STREAM: per micro-batch, additive (window, key)
        count partials PUT-merge into the panel with the in-row
        last_batch_id ledger (exactly-once under replay — the
        ContinuousAggregate discipline).  The reference's
        createApproxTSTopK is stream-fed the same way (CMS +
        StreamSummary updated per batch)."""
        from snappydata_spark.streaming.rollup import ContinuousAggregate

        meta = self.catalog.load_meta(name.lower())
        if meta.provider != "topk":
            raise ValueError(f"{name} is not an approx TS topk structure")
        if meta.options.get("mode") == "sketch":
            # the sketch panel stores CMS estimates (not additive counts)
            # and its cells live in the __cms companion — the exact-panel
            # PUT-merge would silently corrupt both.  Stream-feed the
            # exact panel, or re-derive the sketch from the base on each
            # batch (the mutation-maintenance path already does).
            raise ValueError(
                f"{name} is a sketch-backed TOPK TABLE; the streaming "
                "updater maintains exact panels only — batch mutations "
                "of the base table re-derive the sketch"
            )
        return ContinuousAggregate(
            self,
            name,
            ts_col=meta.options["ts"],
            bucket=meta.options["window"],
            keys=[meta.options["key"]],
            bucket_col="window_start",
            query_name=f"topk_{name.lower()}",
        )

    def query_approx_ts_topk(
        self,
        name: str,
        start_time: str | None = None,
        end_time: str | None = None,
        k: int | None = None,
        with_guarantees: bool = False,
    ) -> DataFrame:
        """queryApproxTSTopK (SnappySession.scala:2162-2167): top-k keys
        over a time range — per-window partial counts are merged (sum)
        across the requested range, never touching base-table rows.

        with_guarantees=True adds `guaranteed_min`: in sketch mode the
        clearspring StreamSummary MERGE contract (StreamSummary.java —
        each summary guarantees count-error per counter; summing the
        per-window guarantees over the range is a floor the merged
        overcounted estimate can never undershoot), served from the
        `<name>__ss` companion; windows where a key fell off the
        candidate list contribute 0.  In exact-panel mode the partials
        carry no overcount, so guaranteed_min == estimated_count."""
        meta = self.catalog.load_meta(name.lower())
        if meta.provider != "topk":
            raise ValueError(f"{name} is not an approx TS topk structure")
        k = k or int(meta.options["k"])
        key = meta.options["key"]
        panel = self.table(name)

        def _range(df):
            if start_time:
                df = df.filter(
                    F.col("window_start")
                    >= F.lit(start_time).cast("timestamp")
                )
            if end_time:
                df = df.filter(
                    F.col("window_start") < F.lit(end_time).cast("timestamp")
                )
            return df

        panel = _range(panel)
        if meta.options.get("mode") == "sketch":
            # bounded-state path: merge CMS cells across the range, probe
            # the union of the range's candidate lists, attach the
            # clearspring overcount bound eps*N = 2N/W (ErrorBoundsInfo)
            from snappydata_spark import aqp as aqp_mod

            cells = _range(self.table(meta.options["cms_table"]))
            merged = cells.groupBy("row_idx", "bucket").agg(
                F.sum("cnt").alias("cnt")
            )
            cands = panel.select(key).distinct()
            est = aqp_mod.topk_cms_probe(merged, cands, key)
            n = merged.agg(
                (F.sum("cnt") / aqp_mod.TOPK_CMS_D).cast("long").alias("__n")
            )
            out = est.crossJoin(F.broadcast(n)).select(
                key,
                F.col("est").alias("estimated_count"),
                F.ceil(
                    F.lit(2.0) * F.col("__n") / aqp_mod.TOPK_CMS_W
                ).cast("long").alias("error_bound"),
            )
            if with_guarantees:
                ss = _range(self.table(meta.options["ss_table"]))
                g = ss.groupBy(key).agg(
                    F.sum(F.col("cnt") - F.col("err")).cast("long").alias(
                        "guaranteed_min"
                    )
                )
                out = out.join(F.broadcast(g), key, "left").na.fill(
                    {"guaranteed_min": 0}
                )
            out = out.orderBy(F.desc("estimated_count"), F.asc(key))
            return out if k < 0 else out.limit(k)
        out = panel.groupBy(key).agg(F.sum("cnt").alias("estimated_count"))
        if with_guarantees:
            # exact partials: no overcount, the estimate IS the floor
            out = out.withColumn(
                "guaranteed_min", F.col("estimated_count")
            )
        out = out.orderBy(F.desc("estimated_count"), F.asc(key))
        # k < 0 = every merged key (custom-ordered reads rank over all)
        return out if k < 0 else out.limit(k)

    def _create_topk_table(self, name: str, base_table: str, options: dict):
        """CREATE TOPK TABLE t ON base OPTIONS(key 'c', frequencyCol 'f',
        timeSeriesColumn 'ts', timeInterval '1h', size '40')
        (docs/aqp/sketching.md:14-18,57-62): the SQL form of
        create_approx_ts_topk.  Omitting timeInterval disables the time
        dimension (sketching.md:79); frequencyCol ranks by that column's
        SUM instead of row count."""
        key = options.get("key")
        if not key:
            raise ValueError("CREATE TOPK TABLE requires a key option")
        interval = options.get("timeinterval")
        if interval:
            m = re.match(r"^\s*(\d+)\s*(ms|s|m|h)\s*$", interval, re.I)
            if m:
                unit = {
                    "ms": "milliseconds", "s": "seconds",
                    "m": "minutes", "h": "hours",
                }[m.group(2).lower()]
                interval = f"{m.group(1)} {unit}"
        ts = options.get("timeseriescolumn")
        self.create_approx_ts_topk(
            name,
            base_table,
            key,
            ts_col=ts or "ts",
            k=int(options.get("size", 10)),
            window=interval if (interval and ts) else None,
            freq_col=options.get("frequencycol"),
            # sketch 'true' -> CMS + StreamSummary-bounded state (the
            # reference's clearspring substrate; docs/aqp sketching)
            sketch=str(options.get("sketch", "false")).lower() == "true",
        )
        return None

    def _topk_select(self, text: str):
        """SQL reads of a TOPK TABLE (sketching.md:36-49): `SELECT ...
        FROM topk [WHERE startTime='..' AND endTime='..'] [ORDER BY
        EstimatedValue DESC] [LIMIT n]` — window partials in the time
        range merge into (key, EstimatedValue, ErrorBoundsInfo).  Returns
        None when the FROM table is not a topk structure.  Divergence
        note: the panel stores exact per-window partials (not CMS cells),
        so ErrorBoundsInfo is 0 — the estimate has no overcount."""
        m = re.match(
            r"^\s*SELECT\s+(.+?)\s+FROM\s+([\w.]+)"
            r"(?:\s+WHERE\s+(.+?))?(?:\s+ORDER\s+BY\s+(.+?))?"
            r"(?:\s+LIMIT\s+(\d+))?\s*;?\s*$",
            text,
            re.I | re.S,
        )
        if not m:
            return None
        name = m.group(2).lower()
        if not self.catalog.exists(name):
            return None
        meta = self.catalog.load_meta(self._canon(name))
        if meta.provider != "topk":
            return None
        sel, _, where, order, limit = m.groups()
        start = end = None
        if where:
            sm = re.search(r"startTime\s*=\s*'([^']+)'", where, re.I)
            em = re.search(r"endTime\s*=\s*'([^']+)'", where, re.I)
            start = sm.group(1) if sm else None
            end = em.group(1) if em else None
            residue = re.sub(
                r"(startTime|endTime)\s*=\s*'[^']+'", "", where, flags=re.I
            )
            residue = re.sub(r"\bAND\b", "", residue, flags=re.I).strip()
            if residue:
                raise ValueError(
                    "TOPK TABLE queries support only startTime/endTime "
                    f"predicates (sketching.md:46-49); got {where!r}"
                )
        key = meta.options["key"]
        # a non-default ORDER BY must rank over ALL merged keys, not the
        # count-DESC top-k (ASC would otherwise return the opposite rows)
        om = (
            re.match(r"^\s*(\w+)\s*(ASC|DESC)?\s*$", order, re.I)
            if order
            else None
        )
        if order and not om:
            raise ValueError(
                "TOPK TABLE ORDER BY supports a single column "
                f"[ASC|DESC] (sketching.md:36-49); got {order!r}"
            )
        default_order = om is None or (
            om.group(1).lower() == "estimatedvalue"
            and (om.group(2) or "DESC").upper() == "DESC"
        )
        k = int(limit) if limit else None
        merged = self.query_approx_ts_topk(
            name, start, end, k=(k if default_order else -1)
        )
        # sketch-backed structures carry the real CMS overcount bound
        # (eps*N = 2N/W); exact panels have no overcount by construction
        err = (
            F.col("error_bound").cast("double")
            if "error_bound" in merged.columns
            else F.lit(0.0)
        )
        out = merged.select(
            F.col(key),
            F.col("estimated_count").alias("EstimatedValue"),
            err.alias("ErrorBoundsInfo"),
        )
        if not default_order:
            cols = {c.lower(): c for c in out.columns}
            oc = cols.get(om.group(1).lower())
            if oc is None:
                raise ValueError(
                    f"TOPK TABLE ORDER BY column {om.group(1)!r} not in "
                    f"{list(cols.values())}"
                )
            e = F.col(oc)
            out = out.orderBy(
                e.desc() if (om.group(2) or "ASC").upper() == "DESC" else e.asc(),
                F.col(key).asc(),
            )
            if k is not None:
                out = out.limit(k)
        sel = sel.strip()
        if sel != "*":
            cols = {c.lower(): c for c in out.columns}
            wanted = []
            for item in sel.split(","):
                it = item.strip().lower()
                if it not in cols:
                    raise ValueError(
                        f"TOPK TABLE column {item.strip()!r} not in "
                        f"{list(cols.values())} (sketching.md:36-49)"
                    )
                wanted.append(cols[it])
            out = out.select(*wanted)
        return out

    def _create_sample_table(self, name: str, base_table: str, options: dict):
        """CREATE SAMPLE TABLE s ON t OPTIONS (qcs 'c1,c2', fraction '0.02')
        (SnappySession.createSampleTable:872-936): materialize the
        stratified sample as a managed table tagged with AQP metadata."""
        from snappydata_spark import aqp
        from snappydata_spark.dialect import split_top_level

        # top-level split: a qcs entry may be an SQL expression with its
        # own commas, e.g. 'hack_license, year(pickup_datetime)'
        qcs = [c.lower() for c in split_top_level(options.get("qcs", ""))]
        fraction = float(options.get("fraction", 0.01))
        if not qcs:
            raise ValueError("CREATE SAMPLE TABLE requires a qcs option")
        # build from the RAW base: the stored sample covers every row, and
        # visibility is enforced at READ time (table()/_apply_policies
        # carry the base's RLS/grants onto sample reads).  Building from a
        # filtered read would bake the CREATING user's visibility into
        # everyone's estimates — and a maintenance rebuild triggered by a
        # restricted writer would silently shrink other users' samples.
        base = self._read_table(base_table)
        st = aqp.create_sample_table(
            base, qcs, fraction,
            min_stratum_rows=int(options.get("stratareservoirsize", 0)),
        )
        self.create_table(
            name,
            provider="sample",
            options={
                "base_table": self._canon(base_table),
                "qcs": ",".join(qcs),
                "fraction": str(fraction),
            },
            df=st.sample,
            overwrite=True,
        )
        return None

    def create_sample_table(self, name: str, base_table: str, qcs, fraction: float):
        opts = {"qcs": ",".join(qcs) if not isinstance(qcs, str) else qcs,
                "fraction": str(fraction)}
        return self._create_sample_table(name, base_table, opts)

    def approx_agg(self, sample_table: str, group_cols, value_col, agg="sum"):
        """WITH ERROR query path against a registered sample table."""
        from snappydata_spark import aqp

        meta = self.catalog.load_meta(sample_table.lower())
        fraction = float(meta.options["fraction"])
        qcs = meta.options["qcs"].split(",")
        st = aqp.SampleTable(self.table(sample_table), qcs, {"*": fraction}, -1)
        return aqp.approx_agg(st, list(group_cols), value_col, agg)

    # ------------------------------------------- SQL statement handlers

    def _sql_create_sample(self, stmt):
        self._resolve_read_access(stmt.source_sql)
        return self._create_sample_table(stmt.table, stmt.source_sql, stmt.options)

    def _sql_create_topk(self, stmt):
        self._resolve_read_access(stmt.source_sql)
        return self._create_topk_table(stmt.table, stmt.source_sql, stmt.options)
