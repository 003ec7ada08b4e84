"""Metric arithmetic for the benchmark: medians, span self time and
the per-layer metrics of a traced run. Pure functions over plain data, so
tests/test_metrics.py can check them on hand-built inputs."""
import os
import statistics

# the ten warehouse tables a vc_full_load pass writes
PIPELINE_TABLES = ("dim_date", "dim_company", "dim_funds", "dim_people", "fct_investments",
                   "fct_ipos", "fct_acquisition", "bridge_company_people", "milestones",
                   "data_profile")
# the corpus_dedup gates, in the order a pass runs them (Main.CorpusDedup.Gates)
GATES = ("x13_edit_distance", "x14_store_merge_dedup", "x8_dup_clusters_star")
JOB_MODULES = ("pipeline", "sources", "operators", "queries")


def median_of(values):
    """(median, sample count); a median needs at least one sample."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values), len(values)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(interval, within):
    start, end = max(interval[0], within[0]), min(interval[1], within[1])
    return (start, end) if end > start else None


def self_times(spans):
    """{span id: its duration minus the union of its children's intervals},
    children clipped to the parent's interval."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        own = (s["start_ms"], s["end_ms"])
        kids = [clip((c["start_ms"], c["end_ms"]), own) for c in children.get(s["id"], [])]
        out[s["id"]] = (own[1] - own[0]) - union_length([k for k in kids if k])
    return out


def _table_of(target):
    name = os.path.basename(target.rstrip("/"))
    return name[:-len("__tmp")] if name.endswith("__tmp") else name


def op_metrics(op, spans, cores):
    """Per-layer metrics of one traced op from the spans that carry its id."""
    mine = [s for s in spans if s.get("op") == op["id"] and s["id"] != op["id"]]
    kind = lambda k: [s for s in mine if s["kind"] == k]
    sqls, jobs, stages, gates = kind("sql"), kind("job"), kind("stage"), kind("gate")
    window = (op["start_ms"], op["end_ms"])
    wall = op.get("wall_s", (window[1] - window[0]) / 1000)
    job_iv = [iv for iv in (clip((j["start_ms"], j["end_ms"]), window) for j in jobs) if iv]
    job_union = union_length(job_iv)
    ssum = lambda rows, key: sum(r.get(key, 0) for r in rows)
    task_s = ssum(stages, "task_duration_ms") / 1000
    run_s = ssum(stages, "run_ms") / 1000
    tasks = ssum(stages, "tasks")
    probes = [j for j in jobs if " at Pipeline.scala:" in j.get("call_site", "")]
    checkpoints = [j for j in jobs if j.get("module") in ("operators", "queries")
                   and j.get("call_site", "").split(" at ")[0] in ("checkpoint", "localCheckpoint")]
    m = {
        "driver.self_s": max(0.0, wall - job_union / 1000),
        "driver.analysis_s": ssum(sqls, "analysis_ms") / 1000,
        "driver.optimize_s": ssum(sqls, "optimization_ms") / 1000,
        "driver.planning_s": ssum(sqls, "planning_ms") / 1000,
        "driver.sql_executions": len(sqls),
        "driver.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": tasks,
        "sched.task_overhead_s": task_s - run_s,
        "sched.idle_core_s": wall * cores - task_s,
        "exec.run_s": run_s,
        "exec.cpu_s": ssum(stages, "cpu_ns") / 1e9,
        "exec.util": run_s / (wall * cores) if wall > 0 else 0.0,
        "exec.straggler_s": sum(s["max_run_ms"] - s["median_run_ms"] for s in stages) / 1000,
        "exec.empty_task_ratio": ssum(stages, "empty_tasks") / tasks if tasks else 0.0,
        "shuffle.exchanges": ssum(sqls, "exchanges"),
        "shuffle.explicit_exchanges": ssum(sqls, "explicit_exchanges"),
        "shuffle.write_bytes": ssum(stages, "shuffle_write_bytes"),
        "shuffle.read_bytes": ssum(stages, "shuffle_read_bytes"),
        "shuffle.fetch_wait_s": ssum(stages, "fetch_wait_ms") / 1000,
        "mem.spill_bytes": ssum(stages, "spill_bytes"),
        "mem.gc_s": ssum(stages, "gc_ms") / 1000,
        "mem.peak_exec_mb": max([s.get("peak_exec_bytes", 0) for s in stages] or [0]) / 2 ** 20,
        "io.read_bytes": ssum(stages, "input_bytes"),
        "io.write_bytes": ssum(stages, "output_bytes"),
        "io.files_written": ssum(sqls, "files_written"),
        "pipeline.probe_jobs": len(probes),
        "pipeline.probe_s": union_length([(j["start_ms"], j["end_ms"]) for j in probes]) / 1000,
        "sources.files_stored": op.get("files_stored", 0),
        "operators.checkpoint_jobs": len(checkpoints),
        "core.overlap_ratio": (sum(e - s for s, e in job_iv) / job_union) if job_union else 1.0,
    }
    for module in JOB_MODULES:
        m[f"{module}.jobs"] = sum(1 for j in jobs if j.get("module") == module)
    for table in PIPELINE_TABLES:
        writes = [s for s in sqls if s.get("write_target") and _table_of(s["write_target"]) == table]
        m[f"pipeline.stage.{table}_s"] = sum(s["end_ms"] - s["start_ms"] for s in writes) / 1000
    for gate in GATES:
        g = [s for s in gates if s["name"] == gate]
        m[f"gate.{gate}_s"] = sum(s["end_ms"] - s["start_ms"] for s in g) / 1000
        ids = {s["id"] for s in g}
        m[f"gate.{gate}_exchanges"] = ssum([s for s in sqls if s["parent"] in ids], "exchanges")
    return m


def per_layer(spans, cores):
    """Median over the traced ops of each per-layer metric."""
    ops = [s for s in spans if s["kind"] == "op"]
    if not ops:
        raise ValueError("trace holds no op span")
    rows = [op_metrics(op, spans, cores) for op in ops]
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
