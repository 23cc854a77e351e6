#!/usr/bin/env python3
"""Print the per-layer split of traced benchmark runs.

    python3 perfbench/trace_report.py <trace.json>...

Each file is what `run.py --trace 1 --trace-out <file>` dumps for one
workload. For each workload this prints every layer's self time (its
spans' time minus the part covered by inner layers), the share of the
traced wall time the layers account for (everything but `bench`, the
harness between operations), the tracing overhead (traced over
untraced pass time, same run), the split per operation, and every
per-layer metric the workload reaches (the rest read 0).
"""
import json
import sys

LAYERS = ("ops", "sql", "codegen", "exec", "streaming", "sink", "fake", "bench")


def report(path):
    d = json.load(open(path))
    n = max(1, d["traced_passes"])
    wall = d["wall_s"]
    print(f"## {d['workload']} (seed {d['seed']}, {d['traced_passes']} traced passes)")
    print()
    print(f"wall per traced pass: {wall / n:.3f} s; "
          f"layers account for {100 * (1 - d['layers']['bench'] / wall):.1f}% of it; "
          f"trace.overhead = {d['overhead']:.3f}")
    print()
    print("| layer | self s / pass | share of wall |")
    print("|---|---:|---:|")
    for l in LAYERS:
        v = d["layers"].get(l, 0.0)
        print(f"| {l} | {v / n:.3f} | {100 * v / wall:.1f}% |")
    print()
    cols = [l for l in LAYERS if l != "bench"]
    print("| operation | runs | wall s | " + " | ".join(cols) + " |")
    print("|---|---:|---:|" + "---:|" * len(cols))
    for op, v in sorted(d["ops"].items()):
        shares = " | ".join(f"{100 * v[l] / v['wall_s']:.0f}%" if v["wall_s"] else "-"
                            for l in cols)
        print(f"| {op} | {v['count']} | {v['wall_s'] / v['count']:.3f} | {shares} |")
    print()
    print("| per-layer metric | value | unit |")
    print("|---|---:|---|")
    for k, (v, unit) in d["metrics"].items():
        if v:
            print(f"| {k} | {v:.4g} | {unit} |")
    print()


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for p in sys.argv[1:]:
        report(p)


if __name__ == "__main__":
    main()
