#!/usr/bin/env python
"""Concurrent-mutation differential fuzzer (r12 verdict Next#1).

Randomized interleavings of PUT / UPDATE / DELETE / deleteFrom / MERGE
(+ occasional whole-table TRUNCATE and COMPACT) run from N threads —
each with its own SnappySession over one shared store — against a
SERIAL-REPLAY ORACLE: the same logical ops applied in observed commit
order to a plain python dict, hash-compared with the final table state.

The machinery under test is the blast-radius write-claims protocol
(session/locks.py _TableWriteClaims/_WriteScope): disjoint-radius writers
commit in parallel, intersecting writers wait + retry, whole-table
actions drain claims — the engine analogue of the reference's ROW-level
write locks (consistency/using_transactions_row.md: writers on disjoint
rows of one table both commit; intersecting writers serialize).

Why serial replay is a sound oracle here
----------------------------------------
Every mutation's effect becomes visible at exactly one point:

* commit-bearing ops — their (first) `_manifest_commit`, which always
  runs under the table lock, so commit order IS a total order;
* no-effect ops (e.g. a DELETE whose predicate matched nothing) — the
  moment they release the exclusive table lock, since their no-match
  decision was made from the manifest read under that same lock.

The harness hooks both points (an instance wrapper on
`_manifest_commit`, a class wrapper on `_WriteScope.exit`), logging each
op's FIRST event while the lock is still held.  Any rival commit must
take the same lock, so the log respects the engine's serialization
order.  Intersecting ops are fully serialized by claims (the second
cannot even read until the first committed), and ops the claims protocol
lets interleave have disjoint radii, whose model effects commute — so
replaying the log serially reproduces the unique correct final state.

Every schedule runs twice: on an unbucketed keyed table and on a
bucketed one (PARTITION_BY k, 4 BUCKETS).  Both commit through the same
hooked `_manifest_commit` and take the same claims, so one oracle serves
both layouts.  On the bucketed layout a schedule also ends by checking
that every row of every live file hashes to the bucket in its file name.

Usage:
    python tools/fuzz_mutations.py --schedules 200 --seed 1 \
        --json FUZZ_MUTATIONS.json
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYSPACE = 96
TABLE = "fmz_t"
# table options per layout; every schedule runs on each
LAYOUTS = {
    "plain": {"key_columns": "k"},
    "bucketed": {"key_columns": "k", "partition_by": "k", "buckets": 4},
}

_TLS = threading.local()


class OpLog:
    """Serialization-order log: each op's FIRST event wins (commit if it
    committed, lock-release otherwise); later events are dropped, so a
    post-commit flush generation can't double-enter an op."""

    def __init__(self):
        self.lock = threading.Lock()
        self.entries: list[int] = []
        self._seen: set[int] = set()

    def log(self, op_id):
        if op_id is None:
            return
        with self.lock:
            if op_id not in self._seen:
                self._seen.add(op_id)
                self.entries.append(op_id)


def _install_scope_hook(oplog: OpLog):
    """Patch _WriteScope.exit so a no-commit op records its serialization
    point BEFORE releasing the table lock.  Returns a restore fn."""
    from snappydata_spark.session import locks

    real_exit = locks._WriteScope.exit

    def exit_logged(self):
        oplog.log(getattr(_TLS, "op_id", None))
        return real_exit(self)

    locks._WriteScope.exit = exit_logged

    def restore():
        locks._WriteScope.exit = real_exit

    return restore


def _wrap_session(sn, oplog: OpLog):
    """Instance-level commit hook: log the current thread's op right
    after its manifest generation lands, still under the table lock."""
    real_commit = sn._manifest_commit

    def commit_logged(name, *a, **kw):
        out = real_commit(name, *a, **kw)
        oplog.log(getattr(_TLS, "op_id", None))
        return out

    sn._manifest_commit = commit_logged
    return sn


# ------------------------------------------------------------- op generation


def _key_range(rng: random.Random, lo: int, hi: int) -> tuple[int, int]:
    """Random closed subrange of [lo, hi)."""
    a = rng.randrange(lo, hi)
    b = min(hi - 1, a + rng.randrange(1, max(2, (hi - lo) // 3)))
    return a, b


def _maybe_key_list(op: dict) -> dict:
    """Half the UPDATE/DELETE ops trade their BETWEEN range for an
    IN-list of 1-4 keys from it, sometimes plus a key the table never
    holds (KEYSPACE and above).  Spark bucket-prunes an IN-list but not
    a BETWEEN, so only the IN-lists reach the planned bucket path on
    the bucketed layout.  The choice uses its own generator seeded from
    the op, so the schedule's other draws stay as they were."""
    pick = random.Random(op["lo"] * 1_000_003 + op["hi"] * 1009 + op["id"])
    if pick.random() < 0.5:
        return op
    span = range(op["lo"], op["hi"] + 1)
    keys = pick.sample(span, min(pick.randrange(1, 5), len(span)))
    if pick.random() < 0.3:
        keys.append(KEYSPACE + pick.randrange(KEYSPACE))
    rest = {k: v for k, v in op.items() if k not in ("lo", "hi")}
    return {**rest, "keys": sorted(keys)}


def _pred(op: dict) -> str:
    if "keys" in op:
        return f"k IN ({', '.join(map(str, op['keys']))})"
    return f"k BETWEEN {op['lo']} AND {op['hi']}"


def _hit(op: dict, k: int) -> bool:
    if "keys" in op:
        return k in op["keys"]
    return op["lo"] <= k <= op["hi"]


def gen_schedule(
    rng: random.Random,
    n_threads: int,
    ops_per_thread: int,
    mode: str,
) -> list[list[dict]]:
    """Per-thread op lists.  mode='disjoint': thread i draws keys only
    from its own slice of the keyspace (claims should let everything run
    in parallel); mode='mixed': all threads draw from the full keyspace
    (intersecting radii force waits/retries).  Both modes sprinkle
    whole-table TRUNCATE/COMPACT to exercise the exclusive drain."""
    per_thread: list[list[dict]] = []
    op_seq = 0
    slice_w = KEYSPACE // n_threads
    for t in range(n_threads):
        if mode == "disjoint":
            lo, hi = t * slice_w, (t + 1) * slice_w
        else:
            lo, hi = 0, KEYSPACE
        ops: list[dict] = []
        for _ in range(ops_per_thread):
            op_seq += 1
            r = rng.random()
            if r < 0.04:
                ops.append({"id": op_seq, "kind": "truncate"})
                continue
            if r < 0.08:
                ops.append({"id": op_seq, "kind": "compact"})
                continue
            kind = rng.choices(
                ["put", "update", "delete", "delete_from", "merge"],
                weights=[4, 3, 2, 2, 3],
            )[0]
            if kind in ("put", "merge"):
                n_keys = rng.randrange(1, 7)
                keys = rng.sample(range(lo, hi), min(n_keys, hi - lo))
                rows = [(k, op_seq * 1000 + k) for k in sorted(keys)]
                ops.append({"id": op_seq, "kind": kind, "rows": rows})
            elif kind == "update":
                a, b = _key_range(rng, lo, hi)
                ops.append(
                    _maybe_key_list(
                        {
                            "id": op_seq,
                            "kind": "update",
                            "lo": a,
                            "hi": b,
                            "delta": op_seq * 1000,
                        }
                    )
                )
            elif kind == "delete":
                a, b = _key_range(rng, lo, hi)
                ops.append(
                    _maybe_key_list({"id": op_seq, "kind": "delete", "lo": a, "hi": b})
                )
            else:  # delete_from
                n_keys = rng.randrange(1, 5)
                keys = rng.sample(range(lo, hi), min(n_keys, hi - lo))
                ops.append(
                    {"id": op_seq, "kind": "delete_from", "keys": sorted(keys)}
                )
        per_thread.append(ops)
    return per_thread


# ---------------------------------------------------------------- execution


def _exec_op(sn, spark, op: dict) -> None:
    kind = op["kind"]
    if kind == "put":
        sn.put(
            TABLE, spark.createDataFrame(op["rows"], "k long, v long")
        )
    elif kind == "merge":
        values = ", ".join(f"({k}L, {v}L)" for k, v in op["rows"])
        sn.sql(
            f"MERGE INTO {TABLE} t USING "
            f"(SELECT k, v FROM VALUES {values} AS s0(k, v)) s "
            "ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
        )
    elif kind == "update":
        sn.update(TABLE, _pred(op), {"v": f"v + {op['delta']}"})
    elif kind == "delete":
        sn.delete(TABLE, _pred(op))
    elif kind == "delete_from":
        sn.delete_from(
            TABLE,
            spark.createDataFrame([(k,) for k in op["keys"]], "k long"),
        )
    elif kind == "truncate":
        sn.truncate_table(TABLE)
    elif kind == "compact":
        sn.compact_table(TABLE, target_file_bytes=1 << 20)
    else:  # pragma: no cover
        raise ValueError(f"unknown op kind {kind}")


def _apply_model(model: dict[int, int], op: dict) -> None:
    kind = op["kind"]
    if kind in ("put", "merge"):
        for k, v in op["rows"]:
            model[k] = v
    elif kind == "update":
        for k in model:
            if _hit(op, k):
                model[k] += op["delta"]
    elif kind == "delete":
        for k in [k for k in model if _hit(op, k)]:
            del model[k]
    elif kind == "delete_from":
        for k in op["keys"]:
            model.pop(k, None)
    elif kind == "truncate":
        model.clear()
    # compact: no logical effect


def _misplaced_rows(sn, name: str, opts: dict) -> list[tuple[str, int]]:
    """(file, bucket id) for every live file of a bucketed table holding
    a row that does not hash to the bucket in its file name — the
    invariant bucket pruning and colocated joins rely on.  Empty for a
    table without buckets."""
    from pyspark.sql import functions as F

    if not opts.get("buckets"):
        return []
    data = sn.catalog.data_path(name)
    files = sn._load_manifest(name)["files"]
    if not files:
        return []
    rows = (
        sn.spark.read.parquet(*[os.path.join(data, f) for f in files])
        .select(
            F.input_file_name().alias("f"),
            F.expr(
                f"pmod(hash({opts['partition_by']}), {opts['buckets']})"
            ).alias("b"),
        )
        .distinct()
        .collect()
    )
    return [
        (os.path.basename(r.f), r.b)
        for r in rows
        if int(re.search(r"_(\d{5})\.", os.path.basename(r.f)).group(1))
        != r.b
    ]


def run_schedule(
    spark,
    seed: int,
    n_threads: int = 4,
    ops_per_thread: int = 5,
    mode: str = "mixed",
) -> dict:
    """One randomized schedule, run on every layout in LAYOUTS.  Returns
    {'ok': bool, ...} — the first failing layout's diagnostics, or the
    per-layout walls."""
    walls = {}
    for layout in LAYOUTS:
        res = _run_layout(spark, seed, n_threads, ops_per_thread, mode, layout)
        if not res["ok"]:
            return res
        walls[layout] = res["wall"]
    return {**res, "layout": "all", "wall": walls}


def _run_layout(
    spark, seed: int, n_threads: int, ops_per_thread: int, mode: str, layout: str
) -> dict:
    from snappydata_spark import SnappySession

    rng = random.Random(seed)
    per_thread = gen_schedule(rng, n_threads, ops_per_thread, mode)
    by_id = {op["id"]: op for ops in per_thread for op in ops}

    store = tempfile.mkdtemp(prefix="fuzz_mut_")
    oplog = OpLog()
    restore = _install_scope_hook(oplog)
    errors: list[tuple[int, str]] = []
    try:
        boot = SnappySession(spark, store_dir=store)
        # three insert generations → ≥3 data files, so disjoint-key ops
        # have genuinely disjoint file radii
        chunks = [range(0, 32), range(32, 64), range(64, KEYSPACE)]
        boot.create_table(
            TABLE,
            options=dict(LAYOUTS[layout]),
            df=spark.createDataFrame(
                [(k, k) for k in chunks[0]], "k long, v long"
            ),
        )
        for c in chunks[1:]:
            boot.insert(
                TABLE,
                spark.createDataFrame([(k, k) for k in c], "k long, v long"),
            )
        model: dict[int, int] = {k: k for k in range(KEYSPACE)}

        sessions = [
            _wrap_session(SnappySession(spark, store_dir=store), oplog)
            for _ in range(n_threads)
        ]
        barrier = threading.Barrier(n_threads)

        def worker(i: int) -> None:
            sn = sessions[i]
            try:
                barrier.wait(timeout=60)
            except threading.BrokenBarrierError:
                errors.append((-1, "start barrier broken"))
                return
            for op in per_thread[i]:
                _TLS.op_id = op["id"]
                try:
                    _exec_op(sn, spark, op)
                except Exception as e:  # noqa: BLE001
                    errors.append(
                        (op["id"], f"{type(e).__name__}: {e}"[:300])
                    )
                    return
                finally:
                    _TLS.op_id = None

        threads = [
            threading.Thread(target=worker, args=(i,), daemon=True)
            for i in range(n_threads)
        ]
        t0 = time.time()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        wall = time.time() - t0
        if any(t.is_alive() for t in threads):
            return {
                "ok": False,
                "seed": seed,
                "mode": mode,
                "layout": layout,
                "reason": "worker hung (>600s)",
            }
        if errors:
            return {
                "ok": False,
                "seed": seed,
                "mode": mode,
                "layout": layout,
                "reason": f"op errors: {errors}",
            }
        logged = set(oplog.entries)
        missing = sorted(set(by_id) - logged)
        if missing:
            return {
                "ok": False,
                "seed": seed,
                "mode": mode,
                "layout": layout,
                "reason": f"ops never logged a serialization point: {missing}",
            }
        for op_id in oplog.entries:
            _apply_model(model, by_id[op_id])
        rows = boot.table(TABLE).collect()
        final = {r.k: r.v for r in rows}
        if len(rows) != len(final):
            return {
                "ok": False,
                "seed": seed,
                "mode": mode,
                "layout": layout,
                "reason": f"duplicate keys in final state "
                f"({len(rows)} rows, {len(final)} keys)",
            }
        if final != model:
            extra = {k: final[k] for k in set(final) - set(model)}
            gone = {k: model[k] for k in set(model) - set(final)}
            diff = {
                k: (model[k], final[k])
                for k in set(model) & set(final)
                if model[k] != final[k]
            }
            return {
                "ok": False,
                "seed": seed,
                "mode": mode,
                "layout": layout,
                "reason": "final state != serial-replay model",
                "extra_keys": repr(extra)[:400],
                "missing_keys": repr(gone)[:400],
                "value_diffs": repr(diff)[:400],
                "commit_order": oplog.entries,
                "ops": {i: by_id[i] for i in oplog.entries},
            }
        misplaced = _misplaced_rows(boot, TABLE, LAYOUTS[layout])
        if misplaced:
            return {
                "ok": False,
                "seed": seed,
                "mode": mode,
                "layout": layout,
                "reason": f"rows outside their file's bucket: {misplaced[:10]}",
            }
        return {
            "ok": True,
            "seed": seed,
            "mode": mode,
            "layout": layout,
            "n_ops": len(by_id),
            "wall": round(wall, 2),
        }
    finally:
        restore()
        shutil.rmtree(store, ignore_errors=True)


def run(
    n_schedules: int,
    seed: int,
    spark=None,
    n_threads: int = 4,
    ops_per_thread: int = 5,
) -> list[dict]:
    """Run n schedules alternating mixed/disjoint modes; returns all
    per-schedule results (callers filter on ok=False)."""
    if spark is None:
        from snappydata_spark import get_spark

        spark = get_spark("fuzz_mutations")
    results = []
    for i in range(n_schedules):
        mode = "disjoint" if i % 3 == 2 else "mixed"
        res = run_schedule(
            spark,
            seed=seed * 1_000_003 + i,
            n_threads=n_threads,
            ops_per_thread=ops_per_thread,
            mode=mode,
        )
        status = "PASS" if res["ok"] else "FAIL"
        print(
            f"{status}  schedule {i + 1}/{n_schedules} mode={mode} "
            f"seed={res['seed']} "
            + (f"wall={res.get('wall')}" if res["ok"] else
               f"layout={res['layout']} {res['reason']}"),
            flush=True,
        )
        results.append(res)
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--schedules", type=int, default=200)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--threads", type=int, default=4)
    ap.add_argument("--ops", type=int, default=5)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()
    results = run(
        args.schedules,
        args.seed,
        n_threads=args.threads,
        ops_per_thread=args.ops,
    )
    failures = [r for r in results if not r["ok"]]
    summary = {
        "schedules": args.schedules,
        "seed": args.seed,
        "threads": args.threads,
        "ops_per_thread": args.ops,
        "failures": len(failures),
        "results": results if failures else None,
        "walls": [r.get("wall") for r in results if r["ok"]],
    }
    if args.json:
        with open(args.json, "w") as f:
            json.dump(summary, f, indent=2)
    print(f"\n{len(failures)} failing schedules / {args.schedules}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
