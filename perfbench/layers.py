"""Per-layer metrics of the ``--trace 1`` run.

Layers are the engine package's modules: ``session``, ``sources``,
``__spark_entry__`` (``entry``), ``operators.*``, ``plans``, ``sinks``,
``streaming``, plus the Spark engine itself (``exec``). Every metric below
is printed for every workload; a layer the workload never enters reads 0.
``sources.*``, ``entry.*``, ``operators.*`` and ``exec.*`` figures are
means per operation (query or daily job) over all operations of the run,
cold pass and warm-up included (on ``daily_etl`` the span-based ones also
count the stream leg and the ``local[1]`` rerun); ``plans.pipeline.*`` and
``sinks.*`` are means per daily job; ``plans.session_cache.*`` are totals
over the run; ``streaming.*`` describe the daily job's stream leg.
"""

from __future__ import annotations

import os

import stats
from spans import OPERATOR_MODULES

EXEC = ("sql_executions", "jobs", "stages", "tasks", "executor_run_s",
        "executor_cpu_s", "gc_s", "input_bytes", "output_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

NAMES = (
    ["session.get_spark_s", "sources.call_s", "sources.calls",
     "entry.construct_s", "entry.construct_jobs", "entry.action_s", "entry.action_jobs"]
    + [f"operators.{m}.{k}" for m in OPERATOR_MODULES for k in ("self_s", "calls")]
    + ["plans.session_cache.hits", "plans.session_cache.misses",
       "plans.session_cache.build_s", "plans.pipeline.run_s",
       "sinks.write_silver_s", "sinks.write_tsv_s", "sinks.write_tasks",
       "sinks.files_written", "sinks.bytes_written_per_input_byte",
       "streaming.batches", "streaming.files_per_batch", "streaming.trigger_s",
       "streaming.add_batch_s", "streaming.list_files_s", "streaming.wal_commit_s",
       "streaming.planning_s", "streaming.state_rows", "streaming.backlog_files_max",
       "streaming.generator_late_s"]
    + [f"exec.{k}" for k in EXEC]
    + ["exec.cpu_per_wall", "exec.driver_gap_s", "exec.speedup_vs_1core",
       "trace.overhead_share"]
)

CACHE_SPAN = "plans.session_cache:get_or_build"
#: per-layer figures divided by the number of operations of the run
PER_OP = ("sources.", "entry.", "operators.", "exec.")
#: sink figures divided by the number of daily jobs
PER_JOB = ("plans.pipeline.run_s", "sinks.write_silver_s", "sinks.write_tsv_s",
           "sinks.write_tasks", "sinks.files_written", "sinks.bytes_written_per_input_byte")
RATIOS = ("exec.cpu_per_wall", "exec.driver_gap_s", "exec.speedup_vs_1core")


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_per_wall", "_per_input_byte", "_vs_1core")):
        return "ratio"
    return "count"


def install_probes(tracer) -> None:
    """Record the session cache's size around every ``get_or_build`` call,
    so a call that adds an entry reads as a miss (a build)."""
    from real_estate_project1_etl_spark.plans import session_cache

    tracer.probes[CACHE_SPAN] = lambda: len(session_cache._CACHE)


def add_delta(layer: dict, kind: str, delta: dict, wall: float) -> None:
    """Fold one operation's status-store delta into the tallies. ``kind``
    is ``entry.construct``, ``entry.action`` (one query is both) or
    ``job`` (a daily job)."""
    if kind.startswith("entry."):
        layer[f"{kind}_s"] = layer.get(f"{kind}_s", 0.0) + wall
        layer[f"{kind}_jobs"] = layer.get(f"{kind}_jobs", 0) + delta["jobs"]
    for k in EXEC:
        layer[f"exec.{k}"] = layer.get(f"exec.{k}", 0) + delta[k]
    layer["_wall"] = layer.get("_wall", 0.0) + wall
    layer["_gap"] = layer.get("_gap", 0.0) + max(
        0.0, wall - stats.interval_union(delta["intervals"]))
    layer.setdefault("_stage_starts", []).extend(delta["stage_starts"])
    if kind != "entry.construct":
        layer["_ops"] = layer.get("_ops", 0) + 1


def speedup_vs_1core(run, inbox: str, warm_walls: list, etl_job) -> None:
    """Rerun the daily job once on ``local[1]`` (same JVM, fresh context)
    and divide its wall time by the median warm ``local[nproc]`` job."""
    run.spark.stop()
    run.setup_once(1)
    run.reset_status()
    _, wall, _ = etl_job(run, inbox, "one_core")
    run.layer["exec.speedup_vs_1core"] = wall / stats.median(warm_walls)


def streaming(run, progress: list, committed: dict, gen, backlog_max: int) -> None:
    """Streaming figures of the daily job's stream leg, from the query's
    progress reports and the checkpoint logs."""
    import json

    batches = [json.loads(p.json) for p in progress]
    data = [b for b in batches if b.get("numInputRows", 0) > 0]

    def mean_ms(key):
        vals = [b["durationMs"].get(key, 0) for b in data]
        return sum(vals) / len(vals) / 1e3 if vals else 0.0

    n_batches = len({b for hits in committed.values() for b, _ in hits})
    state = data[-1].get("stateOperators", []) if data else []
    run.layer.update({
        "streaming.batches": n_batches,
        "streaming.files_per_batch": len(committed) / max(1, n_batches),
        "streaming.trigger_s": mean_ms("triggerExecution"),
        "streaming.add_batch_s": mean_ms("addBatch"),
        "streaming.list_files_s": mean_ms("latestOffset"),
        "streaming.wal_commit_s": mean_ms("walCommit"),
        "streaming.planning_s": mean_ms("queryPlanning"),
        "streaming.state_rows": state[0].get("numRowsTotal", 0) if state else 0,
        "streaming.backlog_files_max": backlog_max,
        "streaming.generator_late_s": max(gen.late) if gen.late else 0.0,
    })


def _sink_outputs(work: str) -> tuple[int, int]:
    files = size = 0
    out = os.path.join(work, "out")
    for dp, _, fs in os.walk(out):
        for f in fs:
            if f.endswith((".parquet", ".csv")):
                files += 1
                size += os.path.getsize(os.path.join(dp, f))
    return files, size


def finish(run, wall: float) -> dict:
    """All per-layer metrics of the run, by name."""
    layer, tracer = run.layer, run.tracer
    out = dict.fromkeys(NAMES, 0)
    out.update((k, v) for k, v in layer.items() if k in out)
    self_s = stats.self_times(tracer.spans)
    by_id = {s["id"]: s for s in tracer.spans}
    stage_starts = layer.get("_stage_starts", [])
    jobs = 0
    for sp in tracer.spans:
        name = sp["name"]
        lay, _, fn = name.partition(":")
        dur = sp["end"] - sp["start"]
        if lay.startswith("operators."):
            out[f"{lay}.self_s"] += self_s[sp["id"]]
            out[f"{lay}.calls"] += 1
        elif lay == "sources":
            parent = by_id.get(sp["parent"])
            if parent is None or not parent["name"].startswith("sources:"):
                out["sources.call_s"] += dur
                out["sources.calls"] += 1
        elif name == CACHE_SPAN:
            miss = sp["after"] > sp["before"]
            out["plans.session_cache.misses" if miss else "plans.session_cache.hits"] += 1
            out["plans.session_cache.build_s"] += dur if miss else 0.0
        elif name == "plans.pipeline:run_batch_pipeline":
            out["plans.pipeline.run_s"] += dur
            jobs += 1
        elif lay == "sinks" and f"sinks.{fn}_s" in out:
            out[f"sinks.{fn}_s"] += dur
            t0, t1 = sp["start"] + tracer.epoch_offset, sp["end"] + tracer.epoch_offset
            out["sinks.write_tasks"] += sum(n for at, n in stage_starts if t0 <= at <= t1)
        elif name == "session:get_spark" and not out["session.get_spark_s"]:
            out["session.get_spark_s"] = dur  # the cold set-up, with the JVM launch
    if jobs:
        files, size = _sink_outputs(run.work)
        out["sinks.files_written"] = files
        out["sinks.bytes_written_per_input_byte"] = size / run.identity["input_bytes"]
        for k in PER_JOB:
            out[k] /= jobs
    ops = max(1, layer.get("_ops", 0))
    for k in out:
        if k.startswith(PER_OP) and k not in RATIOS:
            out[k] /= ops
    if layer.get("_wall"):
        out["exec.cpu_per_wall"] = layer["exec.executor_cpu_s"] / (layer["_wall"] * run.nproc)
        out["exec.driver_gap_s"] = layer["_gap"] / ops
    status_s = run.status.read_s if run.status else 0.0
    out["trace.overhead_share"] = (tracer.bookkeeping_s + status_s) / wall
    return out
