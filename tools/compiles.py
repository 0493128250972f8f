#!/usr/bin/env python3
"""Spark code generation per traced perfbench call.

    python3 tools/compiles.py <jvm log> <perfbench outDir>

The JVM log is perfbench.Main's stderr under
-Dlog4j2.configurationFile=tools/log4j2-codegen.properties: one line
"<epoch ms> INFO CodeGenerator: Code generated in <ms> ms" per class
compiled. Each line is attributed to the traced call (`spans.jsonl`) whose
build/plan/exec interval holds its time stamp. Prints one row per traced
pass and query: compiles and compile milliseconds, then per-pass totals
and the lines outside every traced call.
"""
import collections
import json
import re
import sys

LINE = re.compile(r"^(\d+) INFO CodeGenerator: Code generated in ([0-9.]+) ms")


def main(log, out):
    spans = [json.loads(ln) for ln in open(f"{out}/spans.jsonl") if ln.strip()]
    calls = [s for s in spans if s["name"] == "call"]
    per = collections.OrderedDict((s["call"], [0, 0.0]) for s in calls)
    loose = [0, 0.0]
    for ln in open(log, errors="replace"):
        m = LINE.match(ln)
        if not m:
            continue
        t, ms = int(m.group(1)), float(m.group(2))
        hit = next((s["call"] for s in calls if s["start_ms"] <= t <= s["end_ms"] + 1), None)
        acc = per[hit] if hit else loose
        acc[0] += 1
        acc[1] += ms
    passes = collections.OrderedDict()
    print("pass\tquery\tcompiles\tcompile_ms")
    for call, (n, ms) in per.items():
        p, q = call.split("/", 1)
        print(f"{p}\t{q}\t{n}\t{ms:.0f}")
        tot = passes.setdefault(p, [0, 0.0])
        tot[0] += n
        tot[1] += ms
    for p, (n, ms) in passes.items():
        print(f"{p}\tALL\t{n}\t{ms:.0f}")
    print(f"-\toutside traced calls\t{loose[0]}\t{loose[1]:.0f}")


if __name__ == "__main__":
    main(*sys.argv[1:3])
