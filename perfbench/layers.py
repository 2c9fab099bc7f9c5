"""Per-layer measurement from outside the package.

Counters are read at the edges of the timed window: Spark's status store
(per-stage run time, CPU, shuffle, input, spill), the driver JVM's JMX
beans (GC and JIT time), /proc for the CPU of the JVM, of its Python
workers (`pyspark.daemon` and its children) and of this process, and
the host's steal time. With tracing on, each op is also split into the
API call, Catalyst planning and the action, and its Spark jobs and tasks
are counted through a job group; upsert writes also diff the orders
table's files.
"""

from __future__ import annotations

import os
import statistics
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _proc_cpu_s(pid: int, children: bool = False) -> float:
    """utime + stime (+ reaped children's) of a process, in seconds."""
    try:
        st = _proc_stat(pid)
    except OSError:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if children:
        ticks += int(st[13]) + int(st[14])
    return ticks / CLK_TCK


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def quantile(values: list[float], q: float) -> float:
    """The q-quantile (0 < q < 1) by linear interpolation."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Probe:
    """Counters of one Spark application, snapshotted around a window."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.trace = trace
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self.ops: list[dict] = []  # per-op split, trace mode only

    # -- counters -----------------------------------------------------------

    def _pyworker_cpu_s(self) -> float:
        total = 0.0
        for pid in _children(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark.daemon" not in f.read():
                        continue
            except OSError:
                continue
            total += _proc_cpu_s(pid, children=True)
            total += sum(_proc_cpu_s(c) for c in _children(pid))
        return total

    def _jmx(self) -> tuple[float, float]:
        mf = self.jvm.java.lang.management.ManagementFactory
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return float(gc), float(mf.getCompilationMXBean().getTotalCompilationTime())

    def _stages(self) -> dict[int, tuple]:
        jvm = self.jvm
        lst = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out = {}
        for i in range(lst.size()):
            s = lst.apply(i)
            out[(s.stageId(), s.attemptId())] = (
                s.executorRunTime() / 1e3, s.executorCpuTime() / 1e9,
                s.shuffleReadBytes(), s.shuffleWriteBytes(), s.inputBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
            )
        return out

    def snapshot(self) -> dict:
        gc, jit = self._jmx()
        steal, total = _host_cpu()
        snap = {
            "t": time.perf_counter(),
            "gc_ms": gc, "jit_ms": jit,
            "jvm_cpu": _proc_cpu_s(self.jvm_pid),
            "py_cpu": self._pyworker_cpu_s(),
            "driver_cpu": time.process_time(),
            "steal": steal, "total": total,
        }
        if self.trace:
            snap["stages"] = self._stages()
        return snap

    # -- per-op tracing -----------------------------------------------------

    def begin_op(self, i: int) -> None:
        if self.trace:
            self.sc.setJobGroup(f"perfbench-{i}", f"perfbench op {i}")

    def plan(self, df) -> None:
        """Trace mode: force Catalyst planning before the action."""
        if self.trace and df is not None:
            df._jdf.queryExecution().executedPlan()

    def end_op(self, i: int, op: dict, t_call: float, t_plan: float, t_total: float) -> None:
        if not self.trace:
            return
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"perfbench-{i}")
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo else 0
        self.ops.append({
            "kind": op["kind"], "name": op["name"], "call": t_call, "plan": t_plan,
            "action": t_total - t_call - t_plan, "jobs": len(jobs), "tasks": tasks,
        })


def window_metrics(probe: Probe, start: dict, end: dict, rounds: int) -> dict:
    """Per-layer metrics from two snapshots around the timed window."""
    steal = end["steal"] - start["steal"]
    total = max(1, end["total"] - start["total"])
    jvm_cpu = end["jvm_cpu"] - start["jvm_cpu"]
    py_cpu = end["py_cpu"] - start["py_cpu"]
    drv_cpu = end["driver_cpu"] - start["driver_cpu"]
    m = {
        "driver.cpu_s": (drv_cpu / rounds, "s"),
        "jvm.cpu_s": (jvm_cpu / rounds, "s"),
        "pyworkers.cpu_share": (py_cpu / max(1e-9, jvm_cpu + py_cpu + drv_cpu), "ratio"),
        "jvm.gc_ms": (end["gc_ms"] - start["gc_ms"], "ms"),
        "jvm.jit_ms": (end["jit_ms"] - start["jit_ms"], "ms"),
        "jvm.peak_rss_mb": (peak_rss_mb(probe.jvm_pid), "MB"),
        "host.steal_pct": (100.0 * steal / total, "%"),
        "host.load1": (os.getloadavg()[0], "load"),
    }
    if "stages" in end:
        new = [v for k, v in end["stages"].items() if k not in start["stages"]]
        mb = 1024.0 * 1024.0
        for name, idx, scale, unit in (
            ("spark.executor_run_s", 0, 1.0, "s"), ("spark.executor_cpu_s", 1, 1.0, "s"),
            ("spark.shuffle_read_mb", 2, mb, "MB"), ("spark.shuffle_write_mb", 3, mb, "MB"),
            ("spark.input_mb", 4, mb, "MB"), ("spark.spill_mb", 5, mb, "MB"),
        ):
            m[name] = (sum(v[idx] for v in new) / scale / rounds, unit)
    return m


def op_metrics(probe: Probe, window_wall: float, corpus_names: list[str]) -> dict:
    """Trace-mode per-op splits: medians of the call / plan / action phases,
    job and task counts, and each phase's share of the window."""
    reads = [o for o in probe.ops if o["kind"] == "read"]
    writes = [o for o in probe.ops if o["kind"] == "write"]

    def med(ops, key):
        return statistics.median(o[key] for o in ops) * 1e3 if ops else 0.0

    def mean(ops, key):
        return sum(o[key] for o in ops) / len(ops) if ops else 0.0

    m = {
        "api.read_call_ms_p50": (med(reads, "call"), "ms"),
        "catalyst.plan_ms_p50": (med(reads, "plan"), "ms"),
        "spark.action_ms_p50": (med(reads, "action"), "ms"),
        "mutation.write_share": (sum(o["call"] for o in writes) / window_wall, "ratio"),
        "spark.jobs_per_read": (mean(reads, "jobs"), "count"),
        "spark.jobs_per_write": (mean(writes, "jobs"), "count"),
        "spark.tasks_per_op": (mean(probe.ops, "tasks"), "count"),
    }
    for q in corpus_names:
        busy = sum(o["call"] + o["plan"] + o["action"] for o in reads if o["name"] == q)
        m[f"operators.{q}_share"] = (busy / window_wall, "ratio")
    return m
