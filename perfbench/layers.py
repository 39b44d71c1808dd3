"""Per-layer metrics from a traced run.

The JVM records a span per pass, per query, and per build / sink call, the
Spark jobs each call submitted, and counter deltas around every build and
sink call. Each metric here is summed over one pass and reported as the
median over the warm passes (``cold.*`` metrics: the cold pass alone).

Left out because they read 0 on every run of some workload: the shuffle
fetch wait (local mode fetches blocks in-process), the tracker's analysis
phase (a DataFrame is analyzed when built, inside ``build.s``), the time of
file writes (it is ``sink.s`` on flagship, the only workload that writes),
and the cold pass's GC time (a 1 GB young generation rarely fills in it).
"""
import metrics

# name -> (unit, how it is derived); the order is the report's order.
LAYER_METRICS = [
    ("build.s", "s", "time inside the calls that return the DataFrames"),
    ("build.jobs", "count", "Spark jobs submitted inside those calls"),
    ("build.self_ms", "ms", "build time with none of its jobs running"),
    ("sink.s", "s", "time inside the noop or parquet actions"),
    ("sink.self_ms", "ms", "sink time with none of its jobs running"),
    ("sources.scan_bytes", "bytes", "input bytes read by tasks"),
    ("sources.scan_rows", "count", "input rows read by tasks"),
    ("sources.scan_rows_per_out_row", "ratio", "scan rows / output rows"),
    ("sources.write_bytes", "bytes", "bytes written by file sinks"),
    ("sources.write_files", "count", "files written by file sinks"),
    ("catalyst.sql_execs", "count", "SQL executions (QueryExecutionListener)"),
    ("catalyst.optimizer_ms", "ms", "qe.tracker optimization phase"),
    ("catalyst.planning_ms", "ms", "qe.tracker planning phase"),
    ("scheduler.jobs", "count", "jobs"),
    ("scheduler.stages", "count", "stages run"),
    ("scheduler.stages_skipped", "count", "stages skipped (outputs reused)"),
    ("scheduler.stage_reuse", "ratio", "skipped / (run + skipped)"),
    ("scheduler.tasks", "count", "tasks"),
    ("scheduler.tasks_failed", "count", "failed tasks"),
    ("scheduler.busy_ms", "ms", "time with at least one job active"),
    ("driver.idle_ms", "ms", "pass wall - scheduler.busy_ms"),
    ("executor.run_ms", "ms", "task run time"),
    ("executor.cpu_ms", "ms", "task CPU time"),
    ("executor.cpu_frac", "ratio", "cpu_ms / run_ms"),
    ("executor.slot_util", "ratio", "run_ms / (busy_ms * cores)"),
    ("shuffle.write_bytes", "bytes", "shuffle bytes written"),
    ("shuffle.read_bytes", "bytes", "shuffle bytes read"),
    ("memory.spill_bytes", "bytes", "bytes spilled (in-memory size)"),
    ("codegen.compiles", "count", "whole-stage-codegen compiles"),
    ("jvm.jit_ms", "ms", "JIT compilation time"),
    ("jvm.gc_ms", "ms", "GC time"),
    ("trace.residual_ms", "ms", "query walls - build - sink"),
    ("cold.build.s", "s", "build.s of the cold pass"),
    ("cold.sink.s", "s", "sink.s of the cold pass"),
    ("cold.catalyst.optimizer_ms", "ms", "optimizer time of the cold pass"),
    ("cold.codegen.compiles", "count", "codegen compiles of the cold pass"),
    ("cold.jvm.jit_ms", "ms", "JIT time of the cold pass"),
]

SUMMED = ["sources.scan_bytes", "sources.scan_rows", "sources.write_bytes",
          "sources.write_files", "catalyst.sql_execs", "catalyst.optimizer_ms",
          "catalyst.planning_ms", "scheduler.jobs", "scheduler.stages",
          "scheduler.stages_skipped", "scheduler.tasks", "scheduler.tasks_failed",
          "executor.run_ms", "shuffle.write_bytes", "shuffle.read_bytes",
          "memory.spill_bytes", "codegen.compiles", "jvm.jit_ms", "jvm.gc_ms"]


def pass_layers(res, pass_span, wall_s, cores):
    """Every layer metric for one pass, from its spans, jobs and counters."""
    spans = res["spans"]
    queries = [s for s in spans if s["parent"] == pass_span["id"]]
    leaves = [s for s in spans if s["parent"] in {q["id"] for q in queries}]
    jobs_of = {}
    for j in res["jobs"]:
        if j["end_ms"] is not None and j["end_ms"] >= 0:
            jobs_of.setdefault(j["span"], []).append((j["start_ms"], j["end_ms"]))
    m = {k: 0.0 for k in SUMMED}
    m["executor.cpu_ms"] = 0.0
    out_rows = 0
    for e in res["execs"]:
        if e["span"] in {q["id"] for q in queries}:
            out_rows += int(e["observed"].get("rows", 0))
    build_s = sink_s = build_self = sink_self = 0.0
    busy = []
    for s in leaves:
        dur = (s["end_ms"] - s["start_ms"]) / 1000.0
        c = s["counters"]
        for k in SUMMED:
            m[k] += c.get(k, 0.0)
        m["executor.cpu_ms"] += c.get("executor.cpu_ns", 0.0) / 1e6
        own = jobs_of.get(s["id"], [])
        self_ms = metrics.self_ms((s["start_ms"], s["end_ms"]), own)
        busy += metrics.clip(own, s["start_ms"], s["end_ms"])
        if s["name"] == "build":
            build_s += dur
            build_self += self_ms
            m.setdefault("build.jobs", 0.0)
            m["build.jobs"] += c.get("scheduler.jobs", 0.0)
        else:
            sink_s += dur
            sink_self += self_ms
    query_s = sum((q["end_ms"] - q["start_ms"]) / 1000.0 for q in queries)
    busy_ms = metrics.union_ms(busy)
    run_ms = m["executor.run_ms"]
    m.update({
        "build.s": build_s, "build.self_ms": build_self, "build.jobs": m.get("build.jobs", 0.0),
        "sink.s": sink_s, "sink.self_ms": sink_self,
        "sources.scan_rows_per_out_row": m["sources.scan_rows"] / max(1, out_rows),
        "scheduler.stage_reuse": m["scheduler.stages_skipped"] / max(
            1.0, m["scheduler.stages"] + m["scheduler.stages_skipped"]),
        "scheduler.busy_ms": busy_ms,
        "driver.idle_ms": wall_s * 1000.0 - busy_ms,
        "executor.cpu_frac": m["executor.cpu_ms"] / run_ms if run_ms else 0.0,
        "executor.slot_util": run_ms / (busy_ms * cores) if busy_ms else 0.0,
        "trace.residual_ms": (query_s - build_s - sink_s) * 1000.0,
    })
    return m


def per_layer(res, passes):
    """The per-layer metrics of a traced run, with units."""
    cores = res["provenance"]["cores"]
    spans = {s["id"]: s for s in res["spans"]}
    each = [pass_layers(res, spans[p["span"]], wall, cores)
            for p, wall in zip(res["passes"], passes)]
    warm = each[1:] or each
    out = {}
    for name, unit, _ in LAYER_METRICS:
        if name.startswith("cold."):
            v = each[0][name[len("cold."):]]
        else:
            v = metrics.median([p[name] for p in warm])
        out[name] = {"value": v, "unit": unit}
    return out


def table(per_layer_metrics):
    lines = ["per-layer (median over warm passes; cold.* = the cold pass):"]
    for name, unit, what in LAYER_METRICS:
        v = per_layer_metrics[name]["value"]
        lines.append(f"  {name:32s} {v:16.4f} {unit:6s} {what}")
    return lines
