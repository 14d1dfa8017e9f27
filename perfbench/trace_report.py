"""Summarize traced runs into one artifact, with the tracing overhead.

    python3 perfbench/sweep.py --out runs/plain --seeds 1-3
    python3 perfbench/sweep.py --out runs/traced --seeds 1-3 --trace 1
    python3 perfbench/trace_report.py runs/plain runs/traced perfbench/results/trace.json

For each workload: the median of every per-layer metric over the traced
runs, and the tracing overhead — the untraced runs' `ops_per_s` over the
traced runs' (`trace.ops_per_s`), seeds paired, minus one: how much longer
the same ops take with the listeners and probes on. Every metric that reads 0 is listed under "zero" with the
reason: the layer is exercised by the other workload, or it was measured
and is 0.
"""

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# measured and 0 on these runs, and why
MEASURED_ZERO = {
    "streaming.UpsertTable.spill_bytes": "measured: nothing spills at these sizes",
    "operators.Normalize.self_s": "measured: no slower than its input span (a projection "
                                  "fused into the scan), clamped at 0",
    "spark.jvm_gc_ms": "measured: the ops' tasks reported no GC time",
    "error_rate": "measured: no result check failed",
    "sources.Ndjson.dump_passes": "the livestream sink reads listings through the streaming "
                                  "source; JSON scans per ingest are counted on archive_reads",
}

# layer metrics that only one workload exercises, and why the other reads 0
ONLY = {
    "livestream": ("streaming.upsertSink.", "poll_publish_"),
    "archive_reads": ("operators.Analytics.", "render.OfflineReading.", "thread_html_",
                      "breakdown_", "index_", "ingest_rows_per_s",
                      "streaming.UpsertTable.resolve_ms",
                      "streaming.UpsertTable.files_scanned_per_lookup",
                      "streaming.UpsertTable.bytes_scanned_per_lookup"),
}


def runs(directory, workload, trace):
    path = os.path.join(directory, f"{workload}.jsonl")
    out = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r["trace"] == trace:
                out[r["seed"]] = r["result"]
    return out


def main(argv):
    if len(argv) != 4:
        print(__doc__, file=sys.stderr)
        return 2
    plain_dir, traced_dir, out_path = argv[1:]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in (x["name"] for x in bench["workloads"]):
        plain, traced = runs(plain_dir, w, 0), runs(traced_dir, w, 1)
        seeds = sorted(set(plain) & set(traced))
        if not seeds:
            raise SystemExit(f"trace_report: no paired seeds for {w}")
        layers = {}
        for m in bench["per_layer"]:
            values = [traced[s]["metrics"][m["name"]]["value"] for s in seeds]
            layers[m["name"]] = {"value": statistics.median(values), "unit": m["unit"]}
        untraced = statistics.median(plain[s]["metrics"]["ops_per_s"]["value"] for s in seeds)
        with_trace = layers["trace.ops_per_s"]["value"]
        others = [k for k in ONLY if k != w]
        zero = {}
        for m in layers:
            if layers[m]["value"] != 0:
                continue
            owner = [o for o in others if m.startswith(ONLY[o])]
            zero[m] = (f"not exercised by {w}; measured on {owner[0]}" if owner
                       else MEASURED_ZERO.get(m, "no reason recorded"))
        report["workloads"][w] = {
            "seeds": seeds,
            "correct": all(traced[s]["correct"] and plain[s]["correct"] for s in seeds),
            "untraced_ops_per_s": untraced,
            "traced_ops_per_s": with_trace,
            "tracing_overhead": untraced / with_trace - 1,
            "per_layer": layers,
            "zero": zero,
        }
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=False)
        f.write("\n")
    for w, r in report["workloads"].items():
        print(f"{w}: tracing overhead {r['tracing_overhead']:+.1%} "
              f"({r['traced_ops_per_s']:.3f} vs {r['untraced_ops_per_s']:.3f} ops/s)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
