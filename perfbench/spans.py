#!/usr/bin/env python3
"""Span tooling for traced runs.

    python3 perfbench/spans.py summarize RECORD.spans.jsonl
        self time per layer (ms per operation)
    python3 perfbench/spans.py diff A1.json [A2.json ...] -- B1.json [B2.json ...]
        per workload, the per-layer metrics that moved between two sets of
        traced run records by more than their run-to-run spread
    python3 perfbench/spans.py overhead UNTRACED.json TRACED.json
        the end-to-end figures of an untraced and a traced run side by side

A traced run writes its record and spans under
`<build dir>/perfbench/records/`.
"""
import json
import statistics
import sys

# A span's layer owns the time it covers unless a deeper layer is active:
# Spark jobs inside catalyst phases inside layer calls inside the operation.
DEPTH = {"op": 0, "schema": 1, "lake": 1, "sources": 1, "queries": 1,
         "catalyst": 2, "exec": 3}


def self_times(spans):
    """Total self time (ms) per layer, over all operations. Where spans of
    the same depth nest (a load inside an append) the innermost, i.e. the
    latest-started, owns the time."""
    events = []
    for i, s in enumerate(spans):
        if s["name"] == "stage" or s["t1"] <= s["t0"]:
            continue
        events.append((s["t0"], 1, i))
        events.append((s["t1"], 0, i))
    events.sort()
    active, out, last = set(), {}, None
    for t, kind, i in events:
        if active and last is not None and t > last:
            top = max(active, key=lambda j: (DEPTH[spans[j]["layer"]], spans[j]["t0"]))
            layer = spans[top]["layer"]
            out[layer] = out.get(layer, 0.0) + (t - last)
        if kind == 1:
            active.add(i)
        else:
            active.discard(i)
        last = t
    return out


def _spread(xs):
    if len(xs) >= 4:
        q = statistics.quantiles(xs, n=4)
        return q[2] - q[0]
    return max(xs) - min(xs)


def diff(a_records, b_records):
    """{workload: [(metric, median_a, median_b)]} for metrics whose median
    moved by more than the larger run-to-run spread of the two sets."""
    def group(records):
        g = {}
        for r in records:
            w = r["record"]["workload"]
            for k, v in r.get("per_layer", {}).items():
                g.setdefault(w, {}).setdefault(k, []).append(v["value"])
        return g
    ga, gb = group(a_records), group(b_records)
    moved = {}
    for w in sorted(set(ga) & set(gb)):
        for k in sorted(set(ga[w]) & set(gb[w])):
            xa, xb = ga[w][k], gb[w][k]
            ma, mb = statistics.median(xa), statistics.median(xb)
            if abs(mb - ma) > max(_spread(xa), _spread(xb)) + 1e-9 * max(abs(ma), 1.0):
                moved.setdefault(w, []).append((k, ma, mb))
    return moved


def _load(path):
    with open(path) as f:
        return json.load(f)


def main(argv):
    if len(argv) >= 2 and argv[0] == "summarize":
        with open(argv[1]) as f:
            sp = [json.loads(ln) for ln in f if ln.strip()]
        n = len({s["op"] for s in sp if s["layer"] == "op"}) or 1
        total = self_times(sp)
        for layer in sorted(total, key=lambda k: -total[k]):
            print(f"{layer:<10} {total[layer] / n:10.3f} ms/op")
        return 0
    if len(argv) >= 4 and argv[0] == "diff" and "--" in argv:
        cut = argv.index("--")
        a = [_load(p) for p in argv[1:cut]]
        b = [_load(p) for p in argv[cut + 1:]]
        moved = diff(a, b)
        if not moved:
            print("no per-layer metric moved beyond its run-to-run spread")
        for w, rows in moved.items():
            for k, ma, mb in rows:
                print(f"{w:<16} {k:<34} {ma:14.4f} -> {mb:14.4f}")
        return 0
    if len(argv) == 3 and argv[0] == "overhead":
        u, t = _load(argv[1]), _load(argv[2])
        for k, v in u["end_to_end"].items():
            tv = t["end_to_end"].get(k, {}).get("value")
            ratio = f"{tv / v['value']:.3f}x" if tv is not None and v["value"] else "-"
            print(f"{k:<22} {v['value']:14.4f} {tv if tv is not None else float('nan'):14.4f} "
                  f"{ratio}")
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
