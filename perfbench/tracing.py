"""Per-layer metrics of a traced run, from spans and the Spark event log.

The engine process records one span per key invocation and one per
phase (``build``, ``plan``, ``exec``), and tags every Spark job it
starts with the job group ``pb|<invocation>|<phase>``.  Structured
Streaming runs its microbatch jobs under the query's ``runId`` instead;
a ``StreamingQueryListener`` maps each ``runId`` to the invocation that
started it, and those jobs count as ``build`` jobs.  After the session
stops, :func:`read_event_log` attributes jobs, task metrics and
Python-node SQL metrics to invocations, and :func:`pass_metrics` folds
them into per-layer totals for one pass.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

from stats import self_time, union_length
from workloads import LAYERS

PHASES = ("build", "plan", "exec")

# Plan nodes that evaluate Python code in workers.
_PY_NODE_MARKERS = ("Python", "Pandas", "InArrow")
_PY_SENT_METRIC = "data sent to Python workers"


def group_id(inv: str, phase: str) -> str:
    return f"pb|{inv}|{phase}"


def parse_group(group: str | None, run_to_inv: dict[str, str]) -> tuple[str, str] | None:
    """Job group -> ``(invocation, phase)``; streaming runIds map to ``build``."""
    if not group:
        return None
    if group.startswith("pb|"):
        _, inv, phase = group.split("|")
        return inv, phase
    if group in run_to_inv:
        return run_to_inv[group], "build"
    return None


@dataclass
class InvocationStats:
    """What the event log says about one invocation."""

    jobs: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    job_spans: dict[str, list] = field(default_factory=lambda: defaultdict(list))
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_read: int = 0
    py_nodes: int = 0
    py_bytes: int = 0


def _walk(node):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _python_nodes(plan) -> list[dict]:
    return [n for n in _walk(plan) if any(m in n["nodeName"] for m in _PY_NODE_MARKERS)]


def read_event_log(lines, run_to_inv: dict[str, str]) -> dict[str, InvocationStats]:
    """Attribute jobs, tasks and Python-node metrics to invocations.

    ``lines`` is the event log as an iterable of JSON strings.
    """
    out: dict[str, InvocationStats] = defaultdict(InvocationStats)
    job_owner: dict[int, tuple[str, str]] = {}
    job_start: dict[int, float] = {}
    stage_owner: dict[int, str] = {}
    exec_owner: dict[int, str] = {}
    exec_py_nodes: dict[int, int] = {}
    py_accum_owner: dict[int, str] = {}

    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            owner = parse_group(props.get("spark.jobGroup.id"), run_to_inv)
            if owner is None:
                continue
            job = ev["Job ID"]
            job_owner[job] = owner
            job_start[job] = ev["Submission Time"] / 1000.0
            out[owner[0]].jobs[owner[1]] += 1
            for stage in ev["Stage IDs"]:
                stage_owner[stage] = owner[0]
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_owner:
                inv, phase = job_owner[job]
                out[inv].job_spans[phase].append(
                    (job_start[job], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            inv = stage_owner.get(ev["Stage ID"])
            if inv is None:
                continue
            st = out[inv]
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.bytes_read += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                owner = py_accum_owner.get(acc.get("ID"))
                if owner is not None:
                    out[owner].py_bytes += int(acc.get("Update") or 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            owner = parse_group(ev.get("jobGroupId"), run_to_inv)
            if owner is not None:
                exec_owner[ev["executionId"]] = owner[0]
                _note_plan(ev, exec_owner, exec_py_nodes, py_accum_owner)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if ev["executionId"] in exec_owner:
                _note_plan(ev, exec_owner, exec_py_nodes, py_accum_owner)

    for execution, n in exec_py_nodes.items():
        out[exec_owner[execution]].py_nodes += n
    return dict(out)


def _note_plan(ev, exec_owner, exec_py_nodes, py_accum_owner) -> None:
    execution = ev["executionId"]
    nodes = _python_nodes(ev["sparkPlanInfo"])
    # The latest plan of an execution is its final one.
    exec_py_nodes[execution] = len(nodes)
    for node in nodes:
        for metric in node.get("metrics", ()):
            if metric["name"] == _PY_SENT_METRIC:
                py_accum_owner[metric["accumulatorId"]] = exec_owner[execution]


def streaming_totals(progress: list[dict]) -> dict[str, float]:
    """Fold the progress events of one invocation's streaming queries.

    Each event is ``StreamingQueryProgress`` as a dict: ``durationMs``,
    ``numInputRows``, ``runId`` and ``stateOperators`` (a list of dicts
    with ``commitTimeMs`` and ``numRowsTotal``).
    """
    dur = defaultdict(float)
    rows = 0
    state_commit_ms = 0.0
    last_state_rows: dict[str, int] = {}
    for p in progress:
        for k, v in p["durationMs"].items():
            dur[k] += v
        rows += p["numInputRows"]
        ops = p.get("stateOperators") or ()
        state_commit_ms += sum(op["commitTimeMs"] for op in ops)
        last_state_rows[p["runId"]] = sum(op["numRowsTotal"] for op in ops)
    return {
        "batches": len(progress),
        "trigger_s": dur["triggerExecution"] / 1000.0,
        "add_batch_s": dur["addBatch"] / 1000.0,
        "query_planning_s": dur["queryPlanning"] / 1000.0,
        "wal_commit_s": (dur["walCommit"] + dur["commitOffsets"]) / 1000.0,
        "state_commit_s": state_commit_ms / 1000.0,
        "state_rows": sum(last_state_rows.values()),
        "input_rows": rows,
    }


# (name, unit) of every per-layer metric, in print order.  Times of one
# layer are shares of the pass's invocation wall time, and so are the
# streaming times: a layer or streaming query absent from a workload
# reads 0 there, a ratio rather than a time that never changes.  The
# same times summed over all layers are ``phase.*_s``.
LAYER_FIELDS = (
    ("build_frac", "ratio"),
    ("build_self_frac", "ratio"),
    ("build_jobs", "count"),
    ("plan_frac", "ratio"),
    ("exec_frac", "ratio"),
    ("exec_self_frac", "ratio"),
    ("jobs", "count"),
    ("no_job_frac", "ratio"),
    ("py_nodes", "count"),
    ("py_bytes", "bytes"),
)
# Span times of one invocation; each is reported per layer as
# <layer>.<name>_frac and summed over all layers as phase.<name>_s.
_SPAN_TIMES = ("build", "build_self", "plan", "exec", "exec_self", "no_job")
GLOBAL_FIELDS = (
    *((f"phase.{name}_s", "s") for name in _SPAN_TIMES),
    ("executor.busy_frac", "ratio"),
    ("executor.cpu_s", "s"),
    ("executor.gc_s", "s"),
    ("executor.tasks", "count"),
    ("shuffle.write_bytes", "bytes"),
    ("spill.bytes", "bytes"),
    ("tables.bytes_read", "bytes"),
    ("tables.persist_bytes", "bytes"),
    ("streaming.batches", "count"),
    ("streaming.trigger_frac", "ratio"),
    ("streaming.add_batch_frac", "ratio"),
    ("streaming.query_planning_frac", "ratio"),
    ("streaming.wal_commit_frac", "ratio"),
    ("streaming.state_commit_frac", "ratio"),
    ("streaming.state_rows", "count"),
    ("streaming.input_rows_per_s", "rows/s"),
    ("streaming.outside_batch_frac", "ratio"),
)
RUN_FIELDS = (
    ("session.start_s", "s"),
    ("registry.load_s", "s"),
    ("check.oracle_s", "s"),
    ("check.collect_s", "s"),
    ("memory.peak_rss_mb", "MiB"),
    ("trace.overhead_frac", "ratio"),
    ("trace.unattributed_frac", "ratio"),
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit; the ``per_layer`` list of BENCHMARK.json."""
    units = {f"{layer}.{name}": unit for layer in LAYERS for name, unit in LAYER_FIELDS}
    units.update(GLOBAL_FIELDS)
    units.update(RUN_FIELDS)
    return units


def pass_metrics(
    invocations: list[dict],
    stats: dict[str, InvocationStats],
    progress: dict[str, list[dict]],
    cores: int,
) -> dict[str, float]:
    """Per-layer and executor totals of one traced pass.

    ``invocations`` holds one record per key invocation with ``id``,
    ``layer``, ``start``, ``end``, ``persist_bytes`` and one
    ``(start, end)`` span per phase, all in epoch seconds.
    """
    m: dict[str, float] = defaultdict(float)
    layer_s: dict[str, float] = defaultdict(float)
    wall = 0.0
    stream_progress: list[dict] = []
    for inv in invocations:
        st = stats.get(inv["id"], InvocationStats())
        lay = inv["layer"]
        span = (inv["start"], inv["end"])
        wall += span[1] - span[0]
        all_jobs = [j for spans in st.job_spans.values() for j in spans]
        times = {phase: inv[phase][1] - inv[phase][0] for phase in PHASES}
        times["build_self"] = self_time(inv["build"], st.job_spans["build"])
        times["exec_self"] = self_time(inv["exec"], st.job_spans["exec"])
        times["no_job"] = self_time(span, all_jobs)
        for name, t in times.items():
            layer_s[f"{lay}.{name}"] += t
            m[f"phase.{name}_s"] += t
        m[f"{lay}.build_jobs"] += st.jobs["build"]
        m[f"{lay}.jobs"] += sum(st.jobs.values())
        m[f"{lay}.py_nodes"] += st.py_nodes
        m[f"{lay}.py_bytes"] += st.py_bytes
        m["executor.cpu_s"] += st.cpu_ns / 1e9
        m["executor.gc_s"] += st.gc_ms / 1000.0
        m["executor.tasks"] += st.tasks
        m["executor.run_s"] += st.run_ms / 1000.0
        m["shuffle.write_bytes"] += st.shuffle_write_bytes
        m["spill.bytes"] += st.spill_bytes
        m["tables.bytes_read"] += st.bytes_read
        m["tables.persist_bytes"] += inv["persist_bytes"]
        stream_progress.extend(progress.get(inv["id"], ()))
    if not wall:
        return dict(m)

    for name, t in layer_s.items():
        m[f"{name}_frac"] = t / wall
    m["executor.busy_frac"] = m.pop("executor.run_s") / (cores * wall)
    s = streaming_totals(stream_progress)
    m["streaming.batches"] = s["batches"]
    m["streaming.state_rows"] = s["state_rows"]
    for k in ("trigger", "add_batch", "query_planning", "wal_commit", "state_commit"):
        m[f"streaming.{k}_frac"] = s[f"{k}_s"] / wall
    m["streaming.input_rows_per_s"] = (
        s["input_rows"] / s["trigger_s"] if s["trigger_s"] else 0.0
    )
    m["streaming.outside_batch_frac"] = (
        (layer_s["streaming.build"] - s["trigger_s"]) / wall if stream_progress else 0.0
    )
    return dict(m)


def unattributed(invocations: list[dict]) -> float:
    """Share of invocation wall time that no phase span covers."""
    wall = sum(inv["end"] - inv["start"] for inv in invocations)
    covered = sum(union_length([inv[p] for p in PHASES]) for inv in invocations)
    return (wall - covered) / wall if wall else 0.0
