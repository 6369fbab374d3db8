"""One benchmark run in a fresh interpreter: set up, check, time, trace.

``run.py`` starts this file as a child process with the environment
the engine needs (``TZ``, ``TMPDIR``, ``PYTHONPATH``, Spark options),
so that set-up time counts from interpreter start and every file the
run writes stays under the run's work directory.  The result is
written as JSON to ``--out``.

A run is:

1. set-up: ``get_session``, ``load_all_operators``, a check pass that
   calls every key once through ``tests.parity.check_query`` (DuckDB
   oracle, value-exact compare; oracle and compare time are not set-up
   time) and the workload's untimed warm-up passes;
2. timed passes: every key once per pass, ``spec.fn(spark, sf_dir)``
   then a ``noop`` write, one key at a time, in an order shuffled by
   the seed;
3. with ``--trace 1``, every timed pass is followed by a traced pass
   over the same order, with job groups per phase, a streaming
   listener and the Spark event log.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import stats
import tracing
from workloads import ROWS_ONLY, WORKLOADS, layer_of


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def key_order(keys, seed: int, pass_no: int) -> list[str]:
    order = list(keys)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set size of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


@contextmanager
def timing_calls(module, name: str, totals: dict, slot: str):
    """Add the time spent in ``module.name`` to ``totals[slot]`` while active."""
    original = getattr(module, name)

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return original(*args, **kwargs)
        finally:
            totals[slot] += time.perf_counter() - t0

    setattr(module, name, timed)
    try:
        yield
    finally:
        setattr(module, name, original)


class Run:
    def __init__(self, args):
        from bigdata_twitter_spark.registry import load_all_operators
        from bigdata_twitter_spark.session import get_session

        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.passes = args.passes or self.workload.passes
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failures: list[dict] = []
        self.latencies: list[float] = []

        t0 = time.perf_counter()
        self.spark = get_session(
            app_name=f"perfbench-{args.workload}", master=f"local[{self.cores}]"
        )
        self.session_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        t0 = time.perf_counter()
        self.specs = load_all_operators()
        self.registry_s = time.perf_counter() - t0
        missing = [k for k in self.workload.keys if k not in self.specs]
        if missing:
            raise SystemExit(f"keys not in the registry: {missing}")
        self.listener = self._add_listener() if args.trace else None

    def _fail(self, key: str, kind: str, exc: BaseException) -> None:
        self.failures.append(
            {"key": key, "kind": kind, "error": "".join(
                traceback.format_exception_only(type(exc), exc))[:2000]}
        )

    # -- warm-up and output check ------------------------------------

    def check_pass(self) -> dict:
        """Call every key once and compare its output with the oracle."""
        from tests import parity

        spent = defaultdict(float)
        with timing_calls(parity, "oracle_multiset", spent, "oracle"), \
                timing_calls(parity, "compare_to_oracle", spent, "compare"):
            for key in key_order(self.workload.keys, self.args.seed, 0):
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    if key in ROWS_ONLY:
                        self._rows_only_check(parity, key)
                    else:
                        parity.check_query(self.spark, self.args.data, key)
                except AssertionError as exc:
                    self._fail(key, "check", exc)
                except Exception as exc:  # noqa: BLE001 - counted, not fatal
                    self._fail(key, "raised", exc)
                spent["total"] += time.perf_counter() - t0
        return {
            "oracle_s": spent["oracle"],
            "compare_s": spent["compare"],
            "collect_s": spent["total"] - spent["oracle"] - spent["compare"],
        }

    def _rows_only_check(self, parity, key: str) -> None:
        spec = self.specs[key]
        pdf = spec.fn(self.spark, self.args.data).toPandas()
        cols, n_rows, _ = parity.oracle_multiset(self.args.data, key, spec.sql)
        if sorted(pdf.columns) != cols or len(pdf) != n_rows:
            raise AssertionError(
                f"{key}: columns {sorted(pdf.columns)} x {len(pdf)} rows, "
                f"oracle {cols} x {n_rows} rows")

    # -- timed passes ------------------------------------------------

    def timed_pass(self, order: list[str], latencies: list[float]) -> float:
        """Run one pass; append ``(key, latency)`` of each successful invocation."""
        t_pass = time.perf_counter()
        for key in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                materialize(self.specs[key].fn(self.spark, self.args.data))
            except Exception as exc:  # noqa: BLE001
                self._fail(key, "raised", exc)
                continue
            latencies.append((key, time.perf_counter() - t0))
        return time.perf_counter() - t_pass

    def traced_pass(self, order: list[str], pass_no: int) -> tuple[float, list[dict]]:
        records = []
        t_pass = time.perf_counter()
        for i, key in enumerate(order):
            self.attempted += 1
            inv = f"{pass_no}.{i}"
            rec = {"id": inv, "key": key,
                   "layer": layer_of(self.specs[key].fn.__module__)}
            self.listener.current = inv
            rec["start"] = time.time()
            try:
                df = self._phase(rec, "build", lambda: self.specs[key].fn(
                    self.spark, self.args.data))
                self._phase(rec, "plan", lambda: df._jdf.queryExecution().executedPlan())
                self._phase(rec, "exec", lambda: materialize(df))
            except Exception as exc:  # noqa: BLE001
                self._fail(key, "raised", exc)
                continue
            finally:
                self.listener.current = None
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["end"] = time.time()
            rec["persist_bytes"] = self._storage_bytes()
            records.append(rec)
        return time.perf_counter() - t_pass, records

    def _phase(self, rec: dict, phase: str, call):
        """Run ``call`` under the phase's job group and record its span."""
        self.sc.setJobGroup(tracing.group_id(rec["id"], phase), rec["key"])
        t0 = time.time()
        out = call()
        rec[phase] = (t0, time.time())
        return out

    def _storage_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def _add_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        class RunIds(StreamingQueryListener):
            """Maps each streaming query's runId to the invocation that started it."""

            def __init__(self):
                self.current = None
                self.run_to_inv: dict[str, str] = {}
                self.progress: dict[str, list[dict]] = defaultdict(list)

            def onQueryStarted(self, event):
                # Called synchronously on the thread that starts the query.
                if self.current is not None:
                    self.run_to_inv[str(event.runId)] = self.current

            def onQueryProgress(self, event):
                p = event.progress
                self.progress[str(p.runId)].append({
                    "runId": str(p.runId),
                    "durationMs": dict(p.durationMs),
                    "numInputRows": p.numInputRows,
                    "stateOperators": [
                        {"commitTimeMs": s.commitTimeMs, "numRowsTotal": s.numRowsTotal}
                        for s in p.stateOperators
                    ],
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = RunIds()
        self.spark.streams.addListener(listener)
        return listener

    # -- the run -----------------------------------------------------

    def execute(self) -> dict:
        args, w = self.args, self.workload
        check = self.check_pass()
        # The JIT keeps speeding passes up for a few passes after the
        # first; those run untimed, as part of set-up.
        for i in range(w.warmup):
            self.timed_pass(key_order(w.keys, args.seed, -1 - i), [])
        setup_s = time.time() - args.spawned_at - check["oracle_s"] - check["compare_s"]

        plain_walls: list[float] = []
        traced_walls: list[float] = []
        traced: list[list[dict]] = []
        t_timed = time.perf_counter()
        while len(plain_walls) < self.passes or time.perf_counter() - t_timed < args.seconds:
            order = key_order(w.keys, args.seed, len(plain_walls) + 1)
            plain_walls.append(self.timed_pass(order, self.latencies))
            if args.trace:
                wall, records = self.traced_pass(order, len(plain_walls))
                traced_walls.append(wall)
                traced.append(records)

        jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024.0
        if args.trace:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        app_id = self.sc.applicationId
        self.spark.stop()

        by_key = defaultdict(list)
        for key, lat in self.latencies:
            by_key[key].append(lat)
        lats = [lat for _, lat in self.latencies]
        n = len(lats)
        q = stats.tail_quantile(self.passes * len(w.keys))
        result = {
            "workload": w.name, "seed": args.seed, "cores": self.cores,
            "keys": len(w.keys), "passes": len(plain_walls),
            "attempted": self.attempted, "failures": self.failures,
            "setup_s": setup_s,
            "pass_s": stats.median(plain_walls),
            "pass_walls": plain_walls,
            "query_p50_s": stats.percentile(lats, 0.5) if n else None,
            "query_p90_s": stats.percentile(lats, q) if n else None,
            "tail_q": q, "samples": n,
            "beyond": stats.beyond(lats, q) if n else 0,
            "key_p50_s": {k: stats.median(v) for k, v in sorted(by_key.items())},
            "peak_rss_mb": peak_rss_mb,
        }
        if args.trace:
            result["per_layer"], result["key_jobs"] = self._per_layer(
                app_id, traced, traced_walls, plain_walls, check)
            result["per_layer"]["memory.peak_rss_mb"] = peak_rss_mb
        return result

    def _per_layer(self, app_id, traced, traced_walls, plain_walls, check):
        """Per-layer metrics, and per key the median (build jobs, jobs, microbatches)."""
        run_to_inv = self.listener.run_to_inv
        with open(os.path.join(self.args.event_dir, app_id)) as fh:
            inv_stats = tracing.read_event_log(fh, run_to_inv)
        progress = defaultdict(list)
        for run_id, events in self.listener.progress.items():
            if run_id in run_to_inv:
                progress[run_to_inv[run_id]].extend(events)
        per_pass = [
            tracing.pass_metrics(records, inv_stats, progress, self.cores)
            for records in traced
        ]
        key_counts = defaultdict(list)
        for rec in (r for records in traced for r in records):
            st = inv_stats.get(rec["id"], tracing.InvocationStats())
            key_counts[rec["key"]].append(
                (st.jobs["build"], sum(st.jobs.values()), len(progress[rec["id"]])))
        key_jobs = {
            key: [stats.median(c[i] for c in counts) for i in range(3)]
            for key, counts in sorted(key_counts.items())
        }
        units = tracing.per_layer_units()
        out = {
            name: stats.median(p.get(name, 0.0) for p in per_pass) for name in units
        }
        out.update({
            "session.start_s": self.session_s,
            "registry.load_s": self.registry_s,
            "check.oracle_s": check["oracle_s"] + check["compare_s"],
            "check.collect_s": check["collect_s"],
            "trace.overhead_frac":
                stats.median(traced_walls) / stats.median(plain_walls) - 1.0,
            "trace.unattributed_frac":
                tracing.unattributed([r for rs in traced for r in rs]),
        })
        return out, key_jobs


def main() -> None:
    ap = argparse.ArgumentParser(description="one benchmark run (started by run.py)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--event-dir", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--passes", type=int, default=None)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = Run(args).execute()
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    sys.exit(main())
