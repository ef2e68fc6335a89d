#!/usr/bin/env python3
"""Per-layer table from traced runs.

    python3 perfbench/layers.py REPORT.json [REPORT.json ...] > table.md

Each argument is a report that `run.py --trace 1` wrote. For every workload
the table gives each layer's self time (the report's `layer_self_s`: see
`Layers` in Report.scala for which spans count), its share of the total,
the traced and untraced job times and the tracing overhead, then every
non-zero per-layer figure.
"""
import json
import sys


def table(report):
    layer = report["per_layer"]
    by_layer = report["layer_self_s"]
    total = sum(by_layer.values()) or 1.0
    out = [f"### {report['workload']} (seed {report['seed']})", "",
           f"traced job {layer['trace.job_s']['value']:.3f} s, untraced job "
           f"{report['end_to_end']['job_s']['value']:.3f} s, tracing overhead "
           f"{layer['trace.overhead_s']['value']:+.3f} s; "
           f"{report['info'].get('job_samples', '?')} untraced job samples", "",
           "| layer | self time (s) | share of layer self time |", "|---|---|---|"]
    for name, secs in by_layer.items():
        out.append(f"| {name} | {secs:.3f} | {100 * secs / total:.1f}% |")
    out += ["", "| per-layer metric | value | unit |", "|---|---|---|"]
    for name, m in layer.items():
        if m["value"]:
            out.append(f"| `{name}` | {m['value']:.6g} | {m['unit']} |")
    return "\n".join(out) + "\n"


def main():
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    for path in sys.argv[1:]:
        with open(path) as fh:
            report = json.load(fh)
        if str(report.get("trace")) != "1":
            print(f"{path}: not a traced report", file=sys.stderr)
            return 1
        print(table(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
