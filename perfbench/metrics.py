"""Turns one harness result (raw samples, layer records, spans) into the
benchmark's end-to-end and per-layer metrics."""
import math
from collections import defaultdict

from stats import highest_tail, median, percentile

# span name -> layer its self time is charged to
SPAN_LAYER = {"op": "harness", "build": "queries", "action": "action",
              "job": "exec", "stage": "exec", "extract": "lineage",
              "render": "lineage", "registry": "lineage"}
SELF_LAYERS = ["harness", "queries", "action", "catalyst", "exec", "lineage"]

# per-op layer keys reported as the sum over the workload's ops of each
# op's median over its traced executions
SUMMED = [
    "queries.build_ms", "queries.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.plan_nodes", "catalyst.codegen_stages", "catalyst.codegen_fallbacks",
    "exec.wall_ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_ms",
    "exec.cpu_ms", "exec.gc_ms", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.input_mb", "exec.output_mb",
    "streaming.batches", "streaming.batch_ms", "streaming.state_rows",
    "streaming.state_mb",
    "lineage.extract_ms", "lineage.render_ms", "lineage.registry_ms",
    "lineage.lnodes", "lineage.column_refs", "lineage.listener_ms",
]


def _rows(samples):
    s = samples
    return list(zip(s["op"], s["cls"], s["pass"], s["traced"], s["ms"], s["cpu_ms"],
                    s["task_ms"]))


def _op_medians(rows, col=4):
    """Per op, the median of one column (4: wall ms, 5: CPU ms, 6: task
    run ms)."""
    by_op = defaultdict(list)
    for r in rows:
        by_op[r[0]].append(r[col])
    return {op: median(v) for op, v in sorted(by_op.items())}


def _pass_s(rows, col=4):
    """Sum over ops of each op's median, in seconds."""
    return sum(_op_medians(rows, col).values()) / 1000.0


def _geomean(xs):
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _plan_medians(replay, key):
    by_plan = defaultdict(list)
    for i, v in zip(replay["plan"], replay[key]):
        by_plan[i].append(v / 1e6)
    return {i: median(v) for i, v in by_plan.items()}


def end_to_end(res):
    """(metrics, info): the BENCHMARK.json end-to-end metrics and the
    figures printed beside them: wall-clock pass time and op geomean (host
    CPU steal spreads them past any allowed bound), per-class medians,
    lineage replay and tails."""
    rows = [r for r in _rows(res["samples"]) if not r[3]]
    ms = [r[4] for r in rows]
    op_ms = _op_medians(rows)
    m = {
        "setup_s": res["setup_s"],
        "pass_cpu_s": _pass_s(rows, 5),
        # share of the cores the ops' Spark tasks kept busy while they ran
        "core_util": _pass_s(rows, 6) / (_pass_s(rows) * res["cpus"]),
        "heap_mb": res["heap_mb"],
    }
    rp = res["replay"]
    extract_ms = [ns / 1e6 for ns in rp["extract_ns"]]
    report_ms = [(e + r + g) / 1e6 for e, r, g in
                 zip(rp["extract_ns"], rp["render_ns"], rp["registry_ns"])]
    listener_ms = [ns / 1e6 for ns in res["listener_ns"]]
    info = {"pass_s": _pass_s(rows),
            "op_geomean_ms": _geomean(op_ms.values()),
            "passes": len({r[2] for r in rows}),
            "op_median_ms": op_ms,
            "op_p50_ms": median(ms),
            "session_s": res["session_s"],
            "warmup_ms": res["warmup_ms"],
            "plans": res["plans"],
            "extract_p50_ms": median(extract_ms) if extract_ms else None,
            "extract_pass_ms": sum(_plan_medians(rp, "extract_ns").values()),
            "reports_per_s": len(report_ms) / (sum(report_ms) / 1000.0) if report_ms else None,
            "listener_p50_ms": median(listener_ms) if listener_ms else None}
    for cls in sorted({r[1] for r in rows}):
        info[f"{cls}_p50_ms"] = median([r[4] for r in rows if r[1] == cls])
    for name, xs in (("op", ms), ("extract", extract_ms), ("listener", listener_ms)):
        p = highest_tail(xs)
        info[f"{name}_samples"] = len(xs)
        if p is not None:
            info[f"{name}_p{p:g}_ms"] = percentile(xs, p)
    return m, info


def _union(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per layer, the median over traced passes of the layer's self time in
    ms: each span's duration minus the part its child spans cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append(s)
    per_pass = defaultdict(lambda: defaultdict(float))
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        covered = _union([(max(a, k["start_us"]), min(b, k["end_us"]))
                          for k in kids[s["id"]]
                          if k["end_us"] > a and k["start_us"] < b])
        name = s["name"]
        layer = "catalyst" if name.startswith("phase.") else SPAN_LAYER[name]
        per_pass[layer][s["pass"]] += max(0.0, (b - a) - covered) / 1000.0
    return {layer: median(list(per_pass[layer].values())) if per_pass[layer] else 0.0
            for layer in SELF_LAYERS}


def per_layer(res, spans, cpus):
    """Every per-layer metric of a traced run."""
    layers = res.get("layers", [])
    by_op = defaultdict(list)
    for rec in layers:
        by_op[(rec["op"], rec["cls"])].append(rec["m"])

    def opsum(key, cls=None):
        return sum(median([r.get(key, 0.0) for r in recs])
                   for (op, c), recs in by_op.items() if cls in (None, c))

    m = {k: opsum(k) for k in SUMMED}
    wall = m["exec.wall_ms"]
    m["exec.core_util"] = m["exec.task_ms"] / (wall * cpus) if wall > 0 else 0.0
    m["operators.probe_write_mb"] = opsum("exec.output_mb", "probe")
    snaps = [tuple(res["layout_setup"])] if "layout_setup" in res else []
    snaps += [(r["m"]["operators.layout_disk_mb"], r["m"]["operators.layout_files"])
              for r in layers if "operators.layout_disk_mb" in r["m"]]
    m["operators.layout_disk_mb"] = max((s[0] for s in snaps), default=0.0)
    m["operators.layout_files"] = max((s[1] for s in snaps), default=0.0)
    callbacks = sum(r["m"].get("lineage.callbacks", 0.0) for r in layers)
    m["lineage.callbacks_per_op"] = callbacks / len(layers) if layers else 0.0

    rows = _rows(res["samples"])
    traced_s = _pass_s([r for r in rows if r[3]])
    untraced_s = _pass_s([r for r in rows if not r[3]])
    for layer, v in self_times(spans).items():
        m[f"self.{layer}_ms"] = v
    m["trace.traced_pass_s"] = traced_s
    m["trace.untraced_pass_s"] = untraced_s
    m["trace.overhead_s"] = traced_s - untraced_s
    return m


def per_op(res):
    """Per op, the median of each layer key over its traced executions."""
    by_op = defaultdict(list)
    for rec in res.get("layers", []):
        by_op[rec["op"]].append(rec["m"])
    return {op: {k: median([r.get(k, 0.0) for r in recs])
                 for k in sorted({k for r in recs for k in r})}
            for op, recs in by_op.items()}
