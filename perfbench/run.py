#!/usr/bin/env python3
"""Layered benchmark of the bigdata_twitter_spark engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload batch_analytics --seed 1 --seconds 10 --trace 0

One run generates the ten fixture tables from ``--seed``
(``datagen.py``), starts the engine in a fresh interpreter
(``engine.py``) on ``local[<cores>]``, and prints a summary followed by
one JSON line::

    {"correct": true, "attempted": 48, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``pass_s``, ``query_p50_s``, ``query_p90_s``); with
``--trace 1`` they are the per-layer ones of ``tracing.py``.
``correct`` is false if any invocation raised or any output differed
from its DuckDB oracle.  Everything the run writes goes under
``.perfbench/`` in the repository and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Fixture scale of the generated tables (lineitem = 6M x SF rows).
DEFAULT_SF = 0.01
DRIVER_MEMORY = "2g"
# A run must end within 180 s; the engine gets what is left after data
# generation and clean-up.
ENGINE_TIMEOUT_S = 165

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("query_p50_s", "s"),
    ("query_p90_s", "s"),
)


def engine_env(work: str, trace: bool) -> dict[str, str]:
    """Environment of the engine process: UTC, repo importable, files under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_TEST_SF_DIR", None)
    env.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        BDT_ORACLE_CACHE="0",
        # Python workers import the package by name (pandas UDFs,
        # applyInPandasWithState), whatever the working directory.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    return env


def stop_group(pgid: int) -> None:
    """Terminate a process group and wait until all its members are gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def run_engine(args, work: str, data: str) -> dict | None:
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "engine.log")
    env = engine_env(work, bool(args.trace))
    cmd = [
        sys.executable, os.path.join(HERE, "engine.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--event-dir", os.path.join(work, "events"),
        "--out", out,
    ]
    if args.passes:
        cmd += ["--passes", str(args.passes)]
    with open(log, "w") as fh:
        cmd += ["--spawned-at", repr(time.time())]
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=fh,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=ENGINE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        # The session has stopped (or the run is abandoned): end the JVM
        # and any Python workers left in the engine's process group.
        stop_group(proc.pid)
        proc.wait()
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: engine {why}\n{tail}", file=sys.stderr)
        return None
    with open(out) as fh:
        return json.load(fh)


def report(args, result: dict) -> dict:
    """Print the summary and return the final JSON object."""
    kinds = [f["kind"] for f in result["failures"]]
    failed = len(kinds)
    attempted = result["attempted"]
    for f in result["failures"]:
        print(f"perfbench: {f['kind']} {f['key']}: {f['error'].strip()}", file=sys.stderr)
    print(
        f"perfbench {result['workload']} seed={result['seed']} sf={args.sf} "
        f"cores={result['cores']} keys={result['keys']} timed_passes={result['passes']} "
        f"trace={args.trace}"
    )
    frac = stats.failed_frac(attempted, kinds.count("raised"), kinds.count("check"))
    print(f"  failed_frac {frac!r} ratio ({failed} of {attempted} invocations)")
    print(f"  peak_rss_mb {result['peak_rss_mb']:.1f} MiB (driver JVM + Python client)")
    if args.trace:
        units = tracing.per_layer_units()
        values = result["per_layer"]
        print("  per key, median over traced passes: build jobs, jobs, microbatches")
        for key, (build_jobs, jobs, batches) in result["key_jobs"].items():
            print(f"    {key:<32} {build_jobs:g} {jobs:g} {batches:g}")
    else:
        units = dict(END_TO_END)
        values = {name: result[name] for name in units}
        print(f"  setup_s {values['setup_s']:.4f} s (session, registry, check pass "
              f"without oracle time, warm-up passes)")
        walls = ", ".join(f"{w:.3f}" for w in result["pass_walls"])
        print(f"  pass_s {values['pass_s']:.4f} s (median of {result['passes']} passes: {walls})")
        print(f"  query_p50_s {values['query_p50_s']:.4f} s (n={result['samples']})")
        print(f"  query_p90_s {values['query_p90_s']:.4f} s (p{100 * result['tail_q']:.1f} "
              f"of n={result['samples']}, {result['beyond']} samples beyond)")
        for key, p50 in sorted(result["key_p50_s"].items(), key=lambda kv: kv[1]):
            print(f"    {key:<32} {p50:.4f} s median")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": values[name], "unit": unit} for name, unit in units.items()
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Layered benchmark of bigdata_twitter_spark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum length of the timed phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help=f"scale of the generated tables (default {DEFAULT_SF})")
    ap.add_argument("--passes", type=int, default=None,
                    help="minimum number of timed passes instead of the workload's own")
    args = ap.parse_args()

    for need in ("bigdata_twitter_spark/__init__.py", "tests/parity.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found next to perfbench/", file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        datagen.write_tables(data, args.seed, args.sf)
        result = run_engine(args, work, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(report(args, result)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
