#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as a JSON line.

    python3 perfbench/run.py --workload dashboard_ro --seed 1 --seconds 8 --trace 0

Workloads: dashboard_ro, upsert_rw, corpus_batch (see README.md). The
seeded inputs are written into a private run directory under
`.perfbench_run/` in the checkout, together with the store, the Spark
warehouse, Spark's local dirs and the JVM's temp dir; the directory is
removed at exit. `--trace 0` prints the end-to-end metrics, `--trace 1`
the per-layer ones. The last stdout line is the result; a human-readable
summary goes to stderr. Exits 1 when a correctness check failed, 2 when
the checkout has no `snappydata_spark` package to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

perf = time.perf_counter


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cores() -> int:
    """Spark cores: a quarter of the CPUs this process may use, at least
    one. With every vCPU busy (tasks, JIT and GC threads, driver) the host
    showed steal and runs slowed unevenly; see README.md, Steadiness."""
    return max(1, _cpus() // 4)


def _java_options(run_dir: str, tmp: str) -> str:
    """JVM flags: private temp and derby dirs, no hsperfdata file, and a
    JIT and GC sized to leave CPUs idle. C1 only (TieredStopAtLevel=1)
    finishes compiling within the warm-up; C2 kept compiling through the
    whole timed window of a short run, unevenly from run to run."""
    cpus = _cpus()
    return (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} -XX:+PerfDisableSharedMem "
        f"-XX:TieredStopAtLevel=1 -XX:CICompilerCount=1 "
        f"-XX:ParallelGCThreads={max(1, cpus // 2)} -XX:ConcGCThreads={max(1, cpus // 4)}"
    )


def _isolate(run_dir: str) -> dict:
    """Point every place Spark, the JVM and the package write to into
    run_dir; returns the Spark confs that go with it."""
    paths = {k: os.path.join(run_dir, k) for k in ("tmp", "warehouse", "local")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    os.environ.update({
        "TMPDIR": paths["tmp"],
        "SPARK_WAREHOUSE_DIR": paths["warehouse"],
        "SPARK_LOCAL_DIRS": paths["local"],
        "SPARK_GRAFT_CPUS": str(_cores()),
        # the JVM spark-submit runs first to build the driver's command line
        "SPARK_LAUNCHER_OPTS": f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={paths['tmp']}",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)  # derby.log / metastore_db land here
    return {
        "spark.local.dir": paths["local"],
        "spark.driver.extraJavaOptions": _java_options(run_dir, paths["tmp"]),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.plan_path = os.path.join(run_dir, "plan.json")
        self.failed = 0
        self.attempted = 0
        self.notes: list[str] = []
        self.spark = None
        self.sn = None
        self.store: dict = {"files": [], "bytes": [], "rows": [], "written": []}

    # -- bookkeeping --------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)

    # -- set-up -------------------------------------------------------------

    def prepare(self) -> dict:
        """Run the child that writes the inputs and the plan, to its end,
        before Spark starts, so that it shares no CPU with the set-up."""
        a = self.args
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "prepare.py"), a.workload, str(a.seed),
             str(a.seconds), self.data_dir, self.plan_path],
        )
        try:
            code = child.wait(timeout=170)
        finally:
            if child.poll() is None:
                child.kill()
                child.wait()
        if code != 0:
            raise RuntimeError(f"prepare.py failed with exit code {code}")
        with open(self.plan_path) as f:
            return json.load(f)

    def start_spark(self, confs: dict) -> float:
        t0 = perf()
        from snappydata_spark import get_spark

        cores = _cores()
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=confs
        )
        return perf() - t0

    def load_store(self) -> float:
        from snappydata_spark import SnappySession

        t0 = perf()
        sn = SnappySession(self.spark, store_dir=os.path.join(self.run_dir, "store"))
        for name, options in workloads.TABLES.items():
            df = self.spark.read.parquet(os.path.join(self.data_dir, f"{name}.parquet"))
            sn.create_table(name, options=dict(options), df=df)
        self.sn = sn
        return perf() - t0

    # -- ops ----------------------------------------------------------------

    def sql_op(self, probe, i: int, op: dict) -> float | None:
        trace_files = probe.trace and op["kind"] == "write"
        before = set(self.sn.table("orders").inputFiles()) if trace_files else None
        probe.begin_op(i)
        try:
            t0 = perf()
            df = self.sn.sql(op["sql"])
            t1 = perf()
            if op["kind"] == "read":
                probe.plan(df)
                t2 = perf()
                rows = df.collect()
            else:
                t2 = t1
                rows = None
            t3 = perf()
        except Exception as e:  # a failing op counts, the run goes on
            self.check(False, f"{op['name']}: {type(e).__name__}: {str(e)[:200]}")
            return None
        probe.end_op(i, op, t1 - t0, t2 - t1, t3 - t0)
        if rows is not None:
            self.check(checks.digest_rows(rows) == op["expect"], f"wrong result: {op['sql']}")
        else:
            self.attempted += 1
            if trace_files:
                self._diff_files(before, op["rows"])
        return t3 - t0

    def _diff_files(self, before: set, rows_written: int) -> None:
        import pyarrow.parquet as pq

        new = [p for p in self.sn.table("orders").inputFiles() if p not in before]
        paths = [p[len("file:"):] if p.startswith("file:") else p for p in new]
        self.store["files"].append(len(paths))
        self.store["bytes"].append(sum(os.path.getsize(p) for p in paths))
        self.store["rows"].append(sum(pq.ParquetFile(p).metadata.num_rows for p in paths))
        self.store["written"].append(rows_written)

    def corpus_op(self, probe, i: int, op: dict) -> float | None:
        from snappydata_spark.operators import QUERIES

        name = op["name"]
        probe.begin_op(i)
        try:
            t0 = perf()
            df = QUERIES[name](self.spark, self.data_dir)
            t1 = perf()
            probe.plan(df)
            t2 = perf()
            n = df.count()
            t3 = perf()
        except Exception as e:
            self.check(False, f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return None
        finally:
            self.spark.catalog.clearCache()
        probe.end_op(i, op, t1 - t0, t2 - t1, t3 - t0)
        self.check(n == self.expect[name]["rows"], f"{name}: {n} rows, oracle {self.expect[name]['rows']}")
        return t3 - t0

    def corpus_oracle_pass(self) -> float:
        """Each query once in full against its DuckDB oracle; returns the
        Spark-side seconds (the first, cold pass over the cycle)."""
        from snappydata_spark.operators import QUERIES

        spent = 0.0
        for name in workloads.CORPUS_CYCLE:
            exp = self.expect[name]
            try:
                t0 = perf()
                pdf = QUERIES[name](self.spark, self.data_dir).toPandas()
                spent += perf() - t0
            except Exception as e:
                self.check(False, f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            finally:
                self.spark.catalog.clearCache()
            ok = (checks.frame_columns(pdf) == exp["columns"] and len(pdf) == exp["rows"]
                  and checks.digest_frame(pdf) == exp["digest"])
            self.check(ok, f"{name}: differs from its DuckDB oracle")
        return spent

    # -- the run ------------------------------------------------------------

    def execute(self) -> dict:
        a = self.args
        confs = _isolate(self.run_dir)
        plan = self.prepare()
        spark_s = self.start_spark(confs)
        corpus = a.workload == "corpus_batch"
        probe = layers.Probe(self.spark, bool(a.trace))
        op_fn = self.corpus_op if corpus else self.sql_op
        info: dict = {"spark_start_s": spark_s}

        if corpus:
            self.expect = plan["expect"]
            info["cold_pass_s"] = self.corpus_oracle_pass()
            setup_s = spark_s + info["cold_pass_s"]
        else:
            info["store_load_s"] = self.load_store()
            setup_s = spark_s + info["store_load_s"]
            live_start = len(self.sn.table("orders").inputFiles())
            count_start = self.sn.table("orders").count()

        warm_s, _, _ = self.run_rounds(plan["warmup"], op_fn, probe, -1_000_000)
        info["warmup_round_s"] = warm_s
        setup_s += sum(warm_s)
        probe.ops.clear()

        hits0 = (self.sn.plan_cache.hits, self.sn.plan_cache.misses) if self.sn else (0, 0)
        snap0 = probe.snapshot()
        round_s, lat, per_name = self.run_rounds(plan["rounds"], op_fn, probe, 0)
        snap1 = probe.snapshot()
        wall = snap1["t"] - snap0["t"]
        n_ops = sum(len(r) for r in plan["rounds"])
        hits1 = (self.sn.plan_cache.hits, self.sn.plan_cache.misses) if self.sn else (0, 0)

        if not corpus:
            live_end = len(self.sn.table("orders").inputFiles())
            count_end = self.sn.table("orders").count()
            info.update(live_files=(live_start, live_end), rows=(count_start, count_end))
            if a.workload == "upsert_rw":
                self.check(live_start == live_end, f"orders live files {live_start} -> {live_end}")
                self.check(count_start == count_end, f"orders rows {count_start} -> {count_end}")
                self.check(self._final_summary() == plan["final"], "orders differs from the model")

        reads = lat["read"]
        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (n_ops / wall, "ops/s"),
            "read_p50_ms": (statistics.median(reads) * 1e3, "ms"),
            "read_p90_ms": (layers.quantile(reads, 0.9) * 1e3, "ms"),
            "cycle_s": (statistics.median(round_s), "s"),
            "python_peak_rss_mb": (layers.peak_rss_mb(), "MB"),
        }
        lm = layers.window_metrics(probe, snap0, snap1, len(round_s))
        half = len(round_s) // 2
        steady = statistics.median(round_s[half:]) / statistics.median(round_s[:half])
        lookups = (hits1[0] - hits0[0]) + (hits1[1] - hits0[1])
        info.update(
            ops=n_ops, reads=len(lat["read"]), writes=len(lat["write"]), wall_s=wall,
            round_s=round_s,
            steady_half_ratio=steady, jit_ms=lm["jvm.jit_ms"][0], steal_pct=lm["host.steal_pct"][0],
            per_op_p50_ms={k: statistics.median(v) * 1e3 for k, v in per_name.items()},
        )
        if lat["write"]:
            info["write_p50_ms"] = statistics.median(lat["write"]) * 1e3
            info["write_p90_ms"] = layers.quantile(lat["write"], 0.9) * 1e3
        self.info = info
        if not a.trace:
            return {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

        lm.update(layers.op_metrics(probe, wall, workloads.CORPUS_CYCLE))
        st = self.store
        written = sum(st["written"])
        lm.update({
            "plans.cache_hit_ratio": ((hits1[0] - hits0[0]) / lookups if lookups else 0.0, "ratio"),
            "plans.cache_misses": (hits1[1] - hits0[1], "count"),
            "store.files_rewritten_per_write": (_mean(st["files"]), "count"),
            "store.rows_rewritten_per_row_written": (sum(st["rows"]) / written if written else 0.0, "ratio"),
            "store.bytes_rewritten_per_write_kb": (_mean(st["bytes"]) / 1024.0, "kB"),
            "store.live_files_start": (0 if corpus else live_start, "count"),
            "store.live_files_end": (0 if corpus else live_end, "count"),
            "spark.persisted_rdds_end": (self.spark.sparkContext._jsc.getPersistentRDDs().size(), "count"),
            "spark.storage_mb_end": (self._storage_mb(), "MB"),
            "steady.half_ratio": (steady, "ratio"),
            "traced.ops_per_s": (e2e["ops_per_s"][0], "ops/s"),
            "traced.read_p50_ms": (e2e["read_p50_ms"][0], "ms"),
            "traced.cycle_s": (e2e["cycle_s"][0], "s"),
        })
        return {k: {"value": v, "unit": u} for k, (v, u) in lm.items()}

    def run_rounds(self, rounds, op_fn, probe, first: int):
        """Execute rounds of ops; returns each round's wall time, the op
        latencies by kind and by op name (failed ops left out)."""
        lat: dict[str, list[float]] = {"read": [], "write": []}
        per_name: dict[str, list[float]] = {}
        round_s: list[float] = []
        i = first
        for ops in rounds:
            r0 = perf()
            for op in ops:
                dt = op_fn(probe, i, op)
                i += 1
                if dt is not None:
                    lat[op["kind"]].append(dt)
                    per_name.setdefault(op["name"], []).append(dt)
            round_s.append(perf() - r0)
        return round_s, lat, per_name

    def _final_summary(self) -> dict:
        row = self.sn.sql(
            "SELECT COUNT(*), SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) FROM orders"
        ).collect()[0]
        keys = [r[0] for r in self.sn.table("orders").select("o_orderkey").collect()]
        return checks.table_summary(row[0], keys, row[1])

    def _storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / (1024.0 * 1024.0)

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for both. A run interrupted
        inside a py4j call can leave the gateway unusable; the JVM is then
        stopped through its stdin, and killed if it does not exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
            gateway.shutdown()
        except Exception as e:
            print(f"stopping Spark failed: {type(e).__name__}: {e}", file=sys.stderr)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _parse(argv: list[str]):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, "snappydata_spark")):
        print(f"no snappydata_spark package next to {HERE}; nothing to measure", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    run = Run(args, run_dir)
    try:
        metrics = run.execute()
    finally:
        try:
            run.shutdown()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass  # another run still uses it
    info = dict(run.info, attempted=run.attempted, failed=run.failed,
                failed_ratio=run.failed / max(1, run.attempted), failures=run.notes)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **info}, default=str), file=sys.stderr)
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
