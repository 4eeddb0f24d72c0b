#!/usr/bin/env python3
"""Dev tool: format a graft.Bench JSON record into the BASELINE.md
per-query table (the recorded baseline the driver's 2x gate compares
against). Feed it the BENCH.local.json SIDECAR — the stdout line
deliberately carries only the headline fields (no cold/load detail)
so the round record's capture window can't truncate the warm map.
Usage:
    sbt -batch "runMain graft.Bench" > /dev/null 2>&1 \
        && python3 tools/format_baseline.py BENCH.local.json
(or pipe the sidecar on stdin). Prints a markdown table (warm min +
cold rep-1 + loadavg per query) to stdout.
"""
import json
import sys

src = open(sys.argv[1]) if len(sys.argv) > 1 else sys.stdin
line = src.read().strip().splitlines()[-1]
d = json.loads(line)
warm, cold = d["queries"], d.get("cold", {})
load = d.get("load_1m", {})
# Cross-history provisional rows (graft.Bench, r14 verdict task 2):
# warm mins >2.5x the all-time committed best are measurement-hygiene
# suspects (a whole band re-measured inside one contention wake defeats
# every in-run defense). They are EXCLUDED from the emitted table —
# their old BASELINE.md rows survive the re-record — until an isolated
# re-measure (graft.Probe) clears or replaces them.
provisional = set(d.get("provisional", []))
print(f"Total (sum of per-query warm min): **{d['value']:.1f} s** "
      f"(reps={d.get('reps')}, failed={d.get('failed')}, sf={d.get('sf')})")
if provisional:
    print()
    print(f"PROVISIONAL — excluded pending isolated re-measure "
          f"({len(provisional)}): {', '.join(sorted(provisional))}")
print()
print("| query | warm s | cold s | load |")
print("|---|---|---|---|")
for name in sorted(warm):
    if name in provisional:
        continue
    c = cold.get(name)
    cs = f"{c:.2f}" if c is not None else "—"
    ld = load.get(name)
    ls = f"{ld:.1f}" if ld is not None else "—"
    print(f"| {name} | {warm[name]:.2f} | {cs} | {ls} |")
