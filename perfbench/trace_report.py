#!/usr/bin/env python3
"""Render traced runs as a markdown report.

    python3 perfbench/trace_report.py TRACE.json... > perfbench/artifacts/TRACE.md

Each TRACE.json is a file `run.py --trace 1` wrote to .bench_build/work/traces/.
"""
import json
import sys


def render(path):
    t = json.load(open(path))
    host = t["host"]
    out = [f"## {t['workload']} (seed {t['seed']})", ""]
    out.append(
        f"Host: {host['nproc']} CPUs ({host['cpu_model']}), local[{host['cores']}], "
        f"JVM heap {host['jvm_heap_mb']} MB, Spark {host['spark_version']}. "
        f"Calibration before/after: scalar {host['calibration_before']['scalar_s']:.3f}/"
        f"{host['calibration_after']['scalar_s']:.3f} s, parallel "
        f"{host['calibration_before']['parallel_s']:.3f}/"
        f"{host['calibration_after']['parallel_s']:.3f} s.")
    out.append("")
    out.append("Input: " + ", ".join(f"{k} {v}" for k, v in sorted(t["input"].items())))
    out.append("")
    out.append("Set-ups: " + ", ".join(f"{s:.3f}" for s in t["setup_s"]) + " s.")
    out.append("")
    table = t["trace"]["table"]
    out.append("Spans of the last traced pass (wall and self time; jobs, tasks, core "
               "utilization, seconds with no task running and shuffle write are "
               "inclusive of child spans). The pass row's self time is the "
               "unattributed time.")
    out.append("")
    out.append("| " + " | ".join(table[0]) + " |")
    out.append("|" + "---|" * len(table[0]))
    for row in table[1:]:
        out.append("| " + " | ".join(row) + " |")
    spans = t["trace"]["spans"]
    root = spans[0]
    selfs = sum(s["self_seconds"] for s in spans[1:])
    out.append("")
    out.append(f"Span self times {selfs:.4f} s + unattributed {root['self_seconds']:.4f} s "
               f"= {selfs + root['self_seconds']:.4f} s; pass wall {root['seconds']:.4f} s.")
    leaks = [l for l in t["trace"]["leaks"] if l["entries"] > 0]
    out.append("")
    out.append("Cache left behind by an op (beyond its documented result): " + (
        "; ".join(f"{l['op']} {l['mb']:.3f} MB in {l['entries']} entries" for l in leaks)
        if leaks else "none") + ".")
    out.append("")
    out.append("| per-layer metric (median over traced passes) | value | unit |")
    out.append("|---|---|---|")
    for k, m in sorted(t["metrics"].items()):
        if m["value"] != 0:
            out.append(f"| `{k}` | {m['value']:.6g} | {m['unit']} |")
    out.append("")
    return "\n".join(out)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    print("\n".join(render(p) for p in sys.argv[1:]))
