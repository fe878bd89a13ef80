"""Metrics of one run, computed from the harness's per-operation records.

`compute` turns `result.json` (written by graft.perfbench.Main) into the
run report: the result line (end-to-end metrics untraced, per-layer
metrics traced), every end-to-end figure with its sample count, and the
run record.
"""
import math
import statistics

import numpy as np

import spans as spanlib


def hd_quantile(xs, q):
    """Harrell-Davis quantile (q in (0, 1)): a Beta-weighted mean of all
    order statistics. An operation mix has gaps between the latencies of
    its kinds; a single order statistic jumps across a gap with small
    noise, this estimate moves smoothly."""
    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    if n < 2:
        return float(xs[0]) if n else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    # the Beta(a, b) cdf at i/n, by the midpoint rule on 200 cells per step
    t = (np.arange(200 * n) + 0.5) / (200 * n)
    log_pdf = ((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
               - (math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)))
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf))])
    weights = np.diff(cdf[::200]) / cdf[-1]
    return float(np.dot(weights, xs))


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# end-to-end metrics printed in the result line (they apply to every
# workload); write_p50_ms, read_p50_ms and fail_ratio are in the report
END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_ms", "ms"),
              ("op_p90_ms", "ms"), ("space_bytes_per_row", "B/row"),
              ("jobs_per_op", "count"), ("retained_heap_mb", "MB")]


def _layer(op, key):
    return op.get("layer_ms", {}).get(key)


def _median_calls(ops, key):
    xs = [v for v in (_layer(o, key) for o in ops) if v is not None]
    return (statistics.median(xs) if xs else 0.0), len(xs)


def _driver_share(ops, key):
    """Median over ops calling `key` of the call's wall minus the time its
    operation's Spark jobs were running."""
    xs = [max(0.0, _layer(o, key) - o["exec"]["job_busy_ms"])
          for o in ops if _layer(o, key) is not None]
    return (statistics.median(xs) if xs else 0.0), len(xs)


def per_layer(res, ops):
    end, n = res["end"], len(ops)
    reads = [o for o in ops if not o["write"]]
    ex = [o["exec"] for o in ops]
    scans = [s for o in reads for s in o.get("scans", [])]
    live_by_table = end.get("live_files_by_table") or {end.get("table", ""): end.get("live_files", 0)}

    def live_of(name):
        hits = [v for k, v in live_by_table.items() if name.endswith(k) or k.endswith(name)]
        return hits[0] if hits else 0

    scan_files = sum(s["files"] for s in scans)
    scan_live = sum(live_of(s["table"]) for s in scans)
    rows_out = sum(o["rows"] for o in reads)
    busy = sum(e["job_busy_ms"] for e in ex)
    run = sum(e["task_run_ms"] for e in ex)
    m = {}

    def put(name, unit, value, samples):
        m[name] = {"value": float(value), "unit": unit, "samples": samples}

    for name, key in (("schema.ddl_ms", "schema.ddl"), ("lake.load_ms", "lake.load"),
                      ("lake.append_ms", "lake.append"), ("lake.merge_ms", "lake.merge"),
                      ("lake.delete_ms", "lake.delete"), ("lake.compact_ms", "lake.compact"),
                      ("sources.mv_refresh_ms", "sources.mv_refresh"),
                      ("queries.build_ms", "queries.build"),
                      ("queries.exec_ms", "queries.exec")):
        put(name, "ms", *_median_calls(ops, key))
    put("lake.append_driver_ms", "ms", *_driver_share(ops, "lake.append"))
    put("lake.merge_driver_ms", "ms", *_driver_share(ops, "lake.merge"))
    put("schema.evolutions", "count", end.get("evolutions", 0), 1)
    put("lake.metadata_bytes", "bytes", end.get("metadata_bytes", 0), 1)
    put("lake.manifest_loads_per_op", "count", mean([o["manifest_loads"] for o in ops]), n)
    put("lake.files_written_per_op", "count", mean([o.get("files_written", 0) for o in ops]), n)
    put("lake.bytes_written_per_op", "bytes", mean([o.get("bytes_written", 0) for o in ops]), n)
    for k in ("live_files", "live_delete_files", "snapshots"):
        put("lake." + k, "count", end.get(k, 0), 1)
    put("sources.scan_files_per_read", "count",
        scan_files / len(reads) if reads else 0.0, len(reads))
    put("sources.scan_files_ratio", "ratio", scan_files / scan_live if scan_live else 0.0,
        len(scans))
    put("sources.rows_read_per_row_out", "ratio",
        sum(s["rows"] for s in scans) / rows_out if rows_out else 0.0, len(reads))
    put("sources.row_mode_readers", "count", sum(o["row_mode_readers"] for o in ops), n)
    put("sources.group_walks", "count", sum(o["group_walks"] for o in ops), n)
    for ph in ("parse", "analysis", "optimization", "planning"):
        put(f"catalyst.{ph}_ms", "ms", mean([o[f"{ph}_ms"] for o in ops]), n)
    put("catalyst.statements_per_op", "count", mean([o["statements"] for o in ops]), n)
    put("exec.stages_per_op", "count", mean([e["stages"] for e in ex]), n)
    put("exec.tasks_per_op", "count", mean([e["tasks"] for e in ex]), n)
    for k in ("job_busy_ms", "task_run_ms", "task_cpu_ms", "task_wait_ms", "task_gc_ms"):
        put("exec." + k, "ms", mean([e[k] for e in ex]), n)
    put("exec.slot_util", "ratio", run / (busy * res["cores"]) if busy else 0.0, n)
    put("exec.input_bytes", "bytes", mean([e["input_bytes"] for e in ex]), n)
    put("exec.shuffle_bytes", "bytes", mean([e["shuffle_bytes"] for e in ex]), n)
    return m


def compute(res, setup_s, trace, spans=None):
    ops = res["ops"]
    n = len(ops)
    walls = [o["wall_ms"] for o in ops]
    writes = [o["wall_ms"] for o in ops if o["write"]]
    reads = [o["wall_ms"] for o in ops if not o["write"]]
    failed = sum(1 for o in ops if not o["ok"])
    end = res["end"]
    by_kind = {}
    for o in sorted(ops, key=lambda o: o["kind"]):
        by_kind.setdefault(o["kind"].split("#")[0], []).append(o["wall_ms"])
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "ops_per_s": (n / (sum(walls) / 1000.0), "1/s", n),
        "op_p50_ms": (hd_quantile(walls, 0.5), "ms", n),
        "op_p90_ms": (hd_quantile(walls, 0.9), "ms", n),
        "write_p50_ms": (hd_quantile(writes, 0.5), "ms", len(writes)),
        "read_p50_ms": (hd_quantile(reads, 0.5), "ms", len(reads)),
        "fail_ratio": (failed / n, "ratio", n),
        "space_bytes_per_row": (end["warehouse_bytes"] / max(1, end["live_rows"]), "B/row", 1),
        "jobs_per_op": (res["jobs"] / n, "count", n),
        "retained_heap_mb": (res["retained_heap_mb"], "MB", 1),
    }
    report = {
        "correct": failed == 0,
        "end_to_end": {k: {"value": v, "unit": u, "samples": s} for k, (v, u, s) in e2e.items()},
        "end_state": end,
        "errors": [f"op {o['i']} {o['kind']}: {o['error']}" for o in ops if not o["ok"]][:20],
        "record": {"ops": n, "warm_ops": res["warm_ops"], "cores": res["cores"],
                   "setup_split_s": {
                       "to_session": (res["session_ready_ms"] - res["jvm_start_ms"]) / 1000.0,
                       "fixture": res["fixture_ms"] / 1000.0,
                       "to_measured": (res["setup_done_ms"] - res["jvm_start_ms"]) / 1000.0},
                   "jvm_loadavg_end": res["loadavg_end"],
                   "op_walls_ms": [[o["kind"], round(o["wall_ms"], 3)] for o in ops],
                   "kinds": {k: len(v) for k, v in by_kind.items()},
                   "kind_p50_ms": {k: hd_quantile(v, 0.5) for k, v in by_kind.items()}},
    }
    if trace:
        report["per_layer"] = per_layer(res, ops)
        report["self_ms_per_op"] = {k: v / n for k, v in
                                    spanlib.self_times(spans or []).items()}
        chosen = report["per_layer"]
    else:
        chosen = {k: report["end_to_end"][k] for k, _ in END_TO_END}
    report["line"] = {"correct": failed == 0, "attempted": n, "failed": failed,
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                                  for k, v in chosen.items()}}
    return report


def print_human(report):
    rec = report["record"]
    print(f"[perfbench] {rec.get('workload')} seed={rec.get('seed')} trace={rec.get('trace')} "
          f"ops={rec['ops']} (+{rec['warm_ops']} warm) kinds={rec['kinds']} "
          f"nproc={rec.get('nproc')} heap={rec.get('heap')} "
          f"load={rec.get('loadavg_before'):.2f}->{rec.get('loadavg_after'):.2f} "
          f"commit={rec.get('commit')}")
    for k, v in report["end_to_end"].items():
        print(f"[perfbench]   {k:<22} {v['value']:>14.4f} {v['unit']:<6} n={v['samples']}")
    for k, v in report.get("per_layer", {}).items():
        print(f"[perfbench]   {k:<32} {v['value']:>14.4f} {v['unit']:<6} n={v['samples']}")
    for k, v in report.get("self_ms_per_op", {}).items():
        print(f"[perfbench]   self.{k:<27} {v:>14.4f} ms/op")
    print(f"[perfbench]   correct={report['correct']}")
    for e in report["errors"]:
        print(f"[perfbench]   ERROR {e}")
