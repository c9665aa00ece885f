"""Turn one run's driver output into the benchmark's metrics.

`end_to_end` (untraced runs) and `per_layer` (traced runs) each return
({name: (value, unit)}, detail). The names and units are those of
BENCHMARK.json; tests/test_benchmark.py keeps the two in step.
A per-layer metric of an operation a workload does not run reads 0.
"""
import math
import statistics

import gen

# operation kind -> per-layer metric of its median latency
OP_METRICS = {
    "q1": "q1_s", "q2": "q2_s", "q3": "q3_s", "q4": "q4_s",
    "mergetree_probe": "mergetree_probe_s", "dml.range_probe": "range_probe_s",
    "dml.update": "update_s", "dml.delete": "delete_s",
    "dml.merge": "merge_s", "dml.snapshot_q1": "snapshot_q1_s",
    "kmeans_train": "kmeans_train_s", "lr_train": "lr_train_s",
    "triangle_count": "triangle_count_s",
}
# commit kind -> the engine call its commit time is read from
COMMIT_CALLS = {
    "append": "SnapshotStore.appendPartitions",
    "update": "RowLevelOps.updateCommit",
    "delete": "RowLevelOps.deleteRowsCommit",
    "merge": "MergeInto.mergeCommit",
    "rewrite": "SnapshotStore.rewriteDataFiles",
}
# listener count (per traced operation) -> per-layer metric and unit
SPARK_COUNTS = {
    "sql_executions": ("spark.sql_executions", "count"),
    "jobs": ("spark.jobs", "count"),
    "stages": ("spark.stages", "count"),
    "tasks": ("spark.tasks", "count"),
    "driver_only_s": ("spark.driver_only_s", "s"),
    "task_run_s": ("spark.task_run_s", "s"),
    "task_cpu_s": ("spark.task_cpu_s", "s"),
    "input_bytes": ("spark.input_bytes", "bytes"),
    "input_records": ("spark.input_records", "count"),
    "shuffle_read_bytes": ("spark.shuffle_read_bytes", "bytes"),
    "shuffle_write_bytes": ("spark.shuffle_write_bytes", "bytes"),
    "spill_bytes": ("spark.spill_bytes", "bytes"),
    "output_bytes": ("spark.output_bytes", "bytes"),
    "gc_s": ("spark.gc_s", "s"),
    "analysis_ms": ("plans.analysis_ms", "ms"),
    "optimization_ms": ("plans.optimization_ms", "ms"),
    "planning_ms": ("plans.planning_ms", "ms"),
}
PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def timing(xs):
    """Median, sample count, and the highest percentile with at least
    ten samples beyond it (None when there are fewer than 20)."""
    xs = sorted(xs)
    out = {"median": _median(xs), "n": len(xs), "p": None, "p_value": None}
    for p in PERCENTILES:
        if len(xs) * (100 - p) / 100 >= 10:
            idx = min(len(xs) - 1, math.ceil(p / 100 * len(xs)) - 1)
            out.update(p=p, p_value=xs[idx])
            break
    return out


def _measured(out):
    return [o for o in out["ops"] if o["measured"]]


def _by_kind(ops):
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["seconds"])
    return kinds


def end_to_end(out, gen_s, attempted, failed):
    kinds = _by_kind(_measured(out))
    medians = [_median(v) for v in kinds.values()]
    cycles = out["cycles"]
    setup = gen_s + _median(out["setup_s"])
    values = {
        "setup_s": (setup, "s"),
        "cycle_s": (_median(cycles), "s"),
        "op_geomean_s": (math.exp(_mean([math.log(m) for m in medians]))
                         if medians else 0.0, "s"),
        "retained_heap_mb": (out["retained_heap_mb"], "MB"),
        "ok_op_ratio": ((attempted - failed) / attempted, "ratio"),
    }
    detail = {
        "setup": {"generate_s": gen_s, "build_s": out["setup_s"]},
        "cycles": timing(cycles),
        "ops": {k: timing(v) for k, v in sorted(kinds.items())},
        "measured_s": out["measured_s"],
    }
    return values, detail


def per_layer(workload, out, untraced_cycle_s):
    """`untraced_cycle_s`: the median cycle time of untraced runs of the
    same workload (None if there are none yet); the tracing overhead is
    this traced run's median cycle time minus it."""
    ops = _measured(out)
    traced = [o for o in ops if o.get("traced")]
    kinds = _by_kind(ops)
    v = {}

    def child(kind_prefix, name):
        return [o["children"][name] for o in ops
                if o["kind"].startswith(kind_prefix) and name in o["children"]]

    for kind, name in OP_METRICS.items():
        v[name] = (_median(kinds.get(kind, [])), "s")
    appends = kinds.get("dml.append", [])
    v["ingest_rows_per_s"] = (
        gen.DROP_ROWS / _median(appends) if appends else 0.0, "rows/s")

    etl = out.get("etl", {})
    parse, transform = etl.get("parse_s", []), etl.get("transform_s", [])
    v["etl.parse_s"] = (_median(parse), "s")
    v["etl.transform_s"] = (
        max(0.0, _median(transform) - _median(parse)) if transform else 0.0, "s")
    v["etl.rows_rejected"] = (etl.get("rows_rejected", 0), "count")

    for kind, call in COMMIT_CALLS.items():
        v[f"etl.snapshot.commit_s.{kind}"] = (
            _median(child(f"dml.{kind}", call)), "s")
    commits = [o for o in ops if "files_added" in o]
    v["etl.snapshot.files_added"] = (
        _mean([o["files_added"] for o in commits]), "count")
    v["etl.snapshot.files_removed"] = (
        _mean([o["files_removed"] for o in commits]), "count")
    user = sum(o.get("user_bytes", 0) for o in commits)
    v["etl.snapshot.bytes_written_per_user_byte"] = (
        sum(o["bytes_written"] for o in commits) / user if user else 0.0,
        "ratio")
    v["etl.snapshot.resolve_s"] = (
        _median(child("dml.snapshot_q1", "SnapshotStore.current")), "s")
    v["etl.snapshot.read_plan_s"] = (
        _median(child("dml.snapshot_q1", "SnapshotStore.read")), "s")
    reads = [o for o in ops if "live_files" in o]
    v["etl.snapshot.live_files"] = (
        _mean([o["live_files"] for o in reads]), "count")
    v["etl.snapshot.live_dirs"] = (
        _mean([o["live_dirs"] for o in reads]), "count")
    space = out.get("space", {})
    v["etl.snapshot.space_amp"] = (
        space["root_bytes"] / space["live_bytes"]
        if space.get("live_bytes") else 0.0, "ratio")
    v["etl.snapshot.manifest_bytes"] = (space.get("manifest_bytes", 0), "bytes")
    v["etl.snapshot.retained_snapshots"] = (
        space.get("retained_snapshots", 0), "count")

    probes = out.get("probe_files", [])
    v["sources.plan_s"] = (_median(child("dml.range_probe", "sources.plan")), "s")
    v["sources.files_planned"] = (
        _mean([p["planned"] for p in probes]), "count")
    v["sources.files_total"] = (_mean([p["total"] for p in probes]), "count")

    lanes = ("kmeans_train", "lr_train", "triangle_count")
    lane_ops = [o for o in ops if o["kind"] in lanes]
    v["queries.build_s"] = (
        _median([o["children"]["build"] for o in lane_ops]), "s")
    v["queries.action_s"] = (
        _median([o["children"]["action"] for o in lane_ops]), "s")
    v["util.pinned_blocks"] = (
        _mean([o["pinned_blocks"] for o in lane_ops]), "count")

    for key, (name, unit) in SPARK_COUNTS.items():
        v[name] = (_mean([o[key] for o in traced]), unit)
    wall = sum(o["seconds"] for o in traced)
    v["spark.busy_fraction"] = (
        sum(o["task_run_s"] for o in traced) / (wall * out["cores"])
        if wall else 0.0, "ratio")
    v["spark.failed_tasks"] = (sum(o["failed_tasks"] for o in traced), "count")

    traced_cycle = _median(out["cycles"])
    overhead = (traced_cycle - untraced_cycle_s
                if untraced_cycle_s and out["cycles"] else 0.0)
    v["trace.overhead_s"] = (overhead, "s")
    v["trace.overhead_share"] = (
        overhead / untraced_cycle_s if untraced_cycle_s else 0.0, "ratio")
    v["trace.self_share"] = (
        sum(o["self_s"] for o in traced) / wall if wall else 0.0, "ratio")

    detail = {
        "traced_ops": len(traced),
        "cycles": timing(out["cycles"]),
        "untraced_cycle_s": untraced_cycle_s,
        "self_s": {k: _median([o["self_s"] for o in traced
                               if o["kind"] == k])
                   for k in sorted({o["kind"] for o in traced})},
        "ops": {k: timing(x) for k, x in sorted(kinds.items())},
    }
    return v, detail
