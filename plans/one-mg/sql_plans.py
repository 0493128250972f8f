"""Print every SQL execution of a Spark event log: its call site, the
number of jobs it ran, its physical operator tree and the aggregate
functions it calls (argument lists cut after the first argument).

Usage: python3 sql_plans.py <events_1_... file>
"""
import json
import re
import sys


def main(path):
    execs, jobs = [], {}
    for line in open(path):
        e = json.loads(line)
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart"):
            execs.append(e)
        elif ev == "SparkListenerJobStart":
            sid = e["Properties"].get("spark.sql.execution.id")
            if sid is not None:
                jobs[int(sid)] = jobs.get(int(sid), 0) + 1
    for e in execs:
        sid = e["executionId"]
        desc = e.get("description", "").split("\n")[0]
        print(f"-- SQL {sid}: {desc} ({jobs.get(sid, 0)} jobs)")
        plan = e.get("physicalPlanDescription", "").split("\n")
        tree = []
        for l in plan[1:]:
            if not l.strip():
                break
            tree.append(l)
        print("\n".join(tree))
        funcs = sorted({re.sub(r"\(([^,()]*)[,)].*", r"(\1, ...)", f)
                        for l in plan if l.startswith("Functions")
                        for f in [l.split(": ", 1)[1].strip("[]")]})
        for f in funcs:
            print("   functions:", f)
        print()


if __name__ == "__main__":
    main(sys.argv[1])
