#!/usr/bin/env python3
"""graft benchmark.

    python3 perfbench/run.py --workload <relational|curation|eager>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. It builds the engine and the
benchmark JVM (`sbt compile` in perfbench/, skipped when the sources are
unchanged), derives the workload's inputs from the sf0.1 corpus with the
seed (cached per seed), runs one benchmark JVM, checks every query's output
against its DuckDB oracle, and prints a report whose last line is one JSON
object: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. Everything it writes goes under `.perfbench/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in perfbench/ or tools/

import gen  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# the generated sf0.1 corpus the engine's oracle gates use (TESTDATA.md)
CORPUS = os.environ.get("PERFBENCH_CORPUS") or os.path.join(
    os.path.expanduser("~"), "testdata", "sf0.1")
SLOTS = min(4, len(os.sched_getaffinity(0)))
JVM_HEAP = "4g"
RUN_TIMEOUT_S = 170   # a run that is not done by then is killed and fails
BUILD_TIMEOUT_S = 840

# the JDK 17 module openings Spark needs, as in build.sbt's jdk17AddOpens
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, cwd, env, log, timeout):
    """Run `cmd` in its own process group, log its output, kill the whole
    group on timeout, and wait for it to end. Returns the exit code."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return -1
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


# ---------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha256(root.encode())  # the exported classpath is absolute
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    h.update(open(p, "rb").read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        h.update(open(os.path.join(root, f), "rb").read())
    return h.hexdigest()


def build(root, work):
    """Compile the engine and the benchmark JVM unless their sources are
    unchanged; return (seconds spent, the JVM's runtime classpath)."""
    stamp_path = os.path.join(work, "build.stamp")
    cp_path = os.path.join(work, "classpath.txt")
    stamp = source_stamp(root)
    if (os.path.exists(stamp_path) and os.path.exists(cp_path)
            and open(stamp_path).read() == stamp):
        return 0.0, open(cp_path).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(work, "build.log")
    t0 = time.time()
    code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.autostart=false", "compile",
                     "export Runtime/fullClasspath"],
                    os.path.join(root, "perfbench"), env, log, BUILD_TIMEOUT_S)
    if code != 0:
        fail(f"build failed (exit {code}); last lines of {log}:\n{tail(log)}", 3)
    with open(log) as f:  # `export` prints the classpath as a bare line
        cp = [ln.strip() for ln in f if ln.strip() and not ln.startswith("[")][-1]
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return time.time() - t0, cp


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail_latency(lat):
    """The highest latency percentile with at least ten samples beyond it
    (nearest-rank), and which percentile that is. With fewer than twenty
    samples that rank falls below the median, so the maximum is reported
    instead (percentile 100)."""
    s = sorted(lat)
    if len(s) < 20:
        return s[-1], 100.0
    k = len(s) - 10  # 1-based rank; ten samples lie above it
    return s[k - 1], 100.0 * k / len(s)


def end_to_end(res, failures, attempted):
    passes = [p for p in res["passes"] if not p["traced"]]
    clean = [p["wall_s"] for p in passes if p["failed"] == 0]
    lat = [c["total_s"] for c in res["calls"] if not c["traced"] and c["error"] is None]
    tail_v, tail_pct = tail_latency(lat) if lat else (float("nan"), 0.0)
    return {
        "setup_s": (res["setup"]["total_s"], "s", 1),
        "pass_s": (median(clean), "s", len(clean)),
        "query_p50_s": (median(lat), "s", len(lat)),
        "query_tail_s": (tail_v, "s", len(lat)),
        "live_heap_mb": (res["live_heap_mb"], "MB", 1),
        "fail_frac": (failures / attempted, "ratio", attempted),
    }, tail_pct


def trace_overhead(passes):
    """Traced pass time minus the untraced pass right after it, median over
    such pairs. The later pass has had more warm-up, so this errs high."""
    wall = [p["wall_s"] for p in passes]
    diffs = [wall[i] - wall[i + 1]
             for i, p in enumerate(passes) if p["traced"] and i + 1 < len(passes)]
    if not diffs:  # the last pass was the only traced one
        diffs = [median([w for w, p in zip(wall, passes) if p["traced"]]) -
                 median([w for w, p in zip(wall, passes) if not p["traced"]])]
    return median(diffs)


def per_layer(res, queries):
    slots = res["slots"]
    traced = [p for p in res["passes"] if p["traced"]]
    by_pass = {}
    for c in res["calls"]:
        if c["traced"]:
            by_pass.setdefault(c["pass"], []).append(c)

    def per_pass(f):
        return median([f(by_pass.get(p["pass"], []), p) for p in traced])

    def total(key):
        return lambda cs, p: sum(c[key] for c in cs)

    def layer(key):
        return lambda cs, p: sum(c["layers"][key] for c in cs if c["layers"])

    def core_util(cs, p):
        wall = sum(c["exec_s"] for c in cs)
        return layer("exec_task_s")(cs, p) / (wall * slots) if wall > 0 else 0.0

    last = traced[-1] if traced else {}
    m = {
        "session.start_s": (res["setup"]["session_s"], "s"),
        "tables.resolve_s": (res["setup"]["tables_s"], "s"),
        "build.s": (per_pass(total("build_s")), "s"),
        "build.jobs": (per_pass(layer("build_jobs")), "count"),
        "build.task_s": (per_pass(layer("build_task_s")), "s"),
        "plan.s": (per_pass(total("plan_s")), "s"),
        "exec.s": (per_pass(total("exec_s")), "s"),
        "exec.jobs": (per_pass(layer("exec_jobs")), "count"),
        "exec.stages": (per_pass(layer("exec_stages")), "count"),
        "exec.tasks": (per_pass(layer("exec_tasks")), "count"),
        "exec.task_s": (per_pass(layer("exec_task_s")), "s"),
        "exec.core_util": (per_pass(core_util), "ratio"),
        "exec.skew": (per_pass(lambda cs, p: max(
            [c["layers"]["exec_skew"] for c in cs if c["layers"]] or [1.0])), "ratio"),
        "exec.driver_gap_s": (per_pass(layer("exec_driver_gap_s")), "s"),
        "exec.shuffle_write_mb": (per_pass(layer("exec_shuffle_write_mb")), "MB"),
        "exec.shuffle_read_mb": (per_pass(layer("exec_shuffle_read_mb")), "MB"),
        "exec.spill_mb": (per_pass(layer("exec_spill_mb")), "MB"),
        "gc.s": (per_pass(lambda cs, p: p["gc_s"]), "s"),
        "gc.count": (per_pass(lambda cs, p: p["gc_count"]), "count"),
        "cache.storage_mb": (last.get("cache_storage_mb", 0.0), "MB"),
        "cache.persisted_rdds": (last.get("cache_persisted_rdds", 0), "count"),
        "staging.written_mb": (per_pass(lambda cs, p: p["staging_written_mb"]), "MB"),
        "setup.warmup_s": (res["setup"]["warmup_s"], "s"),
        "trace.overhead_s": (trace_overhead(res["passes"]), "s"),
    }
    for q in queries:
        calls = [c for c in res["calls"] if c["traced"] and c["query"] == q]
        m[f"q.{q}.s"] = (median([c["total_s"] for c in calls]), "s")
        m[f"q.{q}.build_jobs"] = (median([c["layers"]["build_jobs"] for c in calls
                                          if c["layers"]]), "count")
    return m, len(traced)


def findings(res, queries):
    """Report lines for construction-job counts that change within the run
    and for exec work that left task slots idle."""
    lines = []
    calls = [c for c in res["warmup_calls"] + res["calls"] if c["layers"]]
    for q in queries:
        series = [c["layers"]["build_jobs"] for c in calls if c["query"] == q]
        if len(set(series)) > 1:
            lines.append(f"build-jobs-change {q}: {series} (warm-up pass first)")
        heavy = [c for c in calls if c["query"] == q and c["pass"] > 0]
        single = [c for c in heavy if c["layers"]["heaviest_stage_tasks"] == 1
                  and c["layers"]["heaviest_stage_task_s"] >= 0.25 * c["exec_s"] > 0]
        if heavy and len(single) * 2 > len(heavy) and res["slots"] > 1:
            t = median([c["layers"]["heaviest_stage_task_s"] for c in single])
            lines.append(f"single-task-stage {q}: heaviest exec stage ran as 1 task on "
                         f"{res['slots']} slots ({t:.3f} s of task time)")
    return lines


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not os.path.exists(os.path.join(root, f)):
            fail(f"run from the root of a graft checkout ({f} is missing)", 2)
    if not os.path.isdir(CORPUS):
        fail(f"source corpus {CORPUS} not found (set PERFBENCH_CORPUS)", 2)
    work = os.path.join(root, ".perfbench")
    os.makedirs(work, exist_ok=True)

    build_s, cp = build(root, work)
    wl = WORKLOADS[a.workload]
    queries, recipe = wl["queries"], wl["recipe"]
    data = os.path.join(work, "data", f"{a.workload}-{gen.recipe_key(recipe)}-s{a.seed}")
    t0 = time.time()
    manifest = gen.generate(CORPUS, data, recipe, a.seed)
    gen_s = time.time() - t0

    # a fresh working directory per run: the engine's staging root, Spark's
    # local dirs and the JVM's temp dir all live in it
    run = os.path.join(work, "run")
    shutil.rmtree(run, ignore_errors=True)
    out = os.path.join(run, "out")
    os.makedirs(os.path.join(run, "tmp"))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_", "SPARK_CONF", "_JAVA_OPTIONS",
                                "JAVA_TOOL_OPTIONS"))}
    env.update(SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"), SPARK_LOCAL_IP="127.0.0.1")
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={run}/tmp",
            f"-Dgraft.tmp.dir={run}/graft-tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            a.workload, data, ",".join(queries), ",".join(sorted(recipe)),
            str(a.seconds), str(a.trace), out, str(SLOTS), str(wl["passes"])])
    log = os.path.join(run, "jvm.log")
    budget = RUN_TIMEOUT_S - (time.time() - t_start) + build_s
    code = run_proc(cmd, run, env, log, max(30.0, budget))
    if code != 0:
        fail(f"benchmark JVM failed (exit {code}); last lines of {log}:\n{tail(log)}", 4)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)

    t0 = time.time()
    checks = oracle.verify(data, os.path.join(out, "check"), queries, oracle_sql,
                           res["check_errors"])
    check_s = time.time() - t0
    timed = res["calls"]
    # a check-pass call that threw is failed by the oracle check instead
    threw = [c for c in res["warmup_calls"] + timed
             if c["pass"] != 0 and c["error"] is not None]
    mismatched = [q for q, why in checks.items() if why is not None]
    attempted = len(timed) + len(res["warmup_calls"])
    failures = len(threw) + len(mismatched)

    # ------------------------------------------------------------ report
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds:g} trace {a.trace} "
          f"slots {SLOTS} window {res['window_s']:.2f}s passes {len(res['passes'])}")
    for t, m in sorted(manifest["tables"].items()):
        print(f"input {t}: {m['rows']} rows, {m['files']} file, {m['row_groups']} row group(s) "
              f"of up to {m['row_group_rows']} rows, {m['bytes'] / 1048576:.2f} MB")
    print(f"harness build {build_s:.1f}s, input generation {gen_s:.1f}s, "
          f"oracle check {check_s:.1f}s, jvm boot {res['setup']['jvm_boot_s']:.2f}s")
    # CPU time the hypervisor gave to other guests during the timed passes:
    # a run with a high share was measured on a contended host
    steal = sum(p["host_steal_s"] for p in res["passes"]) / (
        sum(p["wall_s"] for p in res["passes"]) * (os.cpu_count() or 1))
    print(f"host cpu steal during the timed passes {100 * steal:.1f}%")
    for c in threw:
        print(f"FAILED call {c['query']} pass {c['pass']}: {c['error']}")
    for q in mismatched:
        print(f"FAILED check {q}: {checks[q]}")
    e2e, tail_pct = end_to_end(res, failures, attempted)
    for name, (v, unit, n) in e2e.items():
        extra = f" (p{tail_pct:.1f})" if name == "query_tail_s" else ""
        print(f"e2e {name} = {v:.6g} {unit} [n={n}]{extra}")
    print("passes (wall s / process cpu s / host steal s) " + "  ".join(
        f"{p['wall_s']:.3f}/{p['cpu_s']:.2f}/{p['host_steal_s']:.2f}" for p in res["passes"]))
    for q in queries:
        lat = [c["total_s"] for c in res["calls"]
               if c["query"] == q and not c["traced"] and c["error"] is None]
        print(f"query {q} p50 = {median(lat):.4f} s [n={len(lat)}]")
    if a.trace:
        layers, n_traced = per_layer(res, queries)
        for name, (v, unit) in layers.items():
            print(f"layer {name} = {v:.6g} {unit} [passes={n_traced}]")
        for line in findings(res, queries):
            print(line)
        spans = os.path.join(out, "spans.jsonl")
        cover = [(c["build_s"] + c["plan_s"] + c["exec_s"]) / c["total_s"]
                 for c in res["calls"] if c["traced"] and c["total_s"] > 0]
        print(f"spans {spans}: build+plan+exec covers {min(cover):.4f}-{max(cover):.4f} "
              "of each traced call's latency")
        if cover and min(cover) < 0.99:
            failures += 1
            print("FAILED span check: phases do not account for a call's latency")

    # The last line carries the metrics BENCHMARK.json declares. The report
    # above also has those that can read exactly 0 on every run of a
    # workload (fail_frac, build.task_s, per-query figures of queries the
    # workload does not call), which BENCHMARK.json leaves out.
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        declared = json.load(f)
    if a.trace:
        names = [m["name"] for m in declared["per_layer"]]
        source = {k: v for k, (v, _) in layers.items()}
        units = {k: u for k, (_, u) in layers.items()}
    else:
        names = [m["name"] for m in declared["end_to_end"]]
        source = {k: v for k, (v, _, _) in e2e.items()}
        units = {k: u for k, (_, u, _) in e2e.items()}
    print(json.dumps({
        "correct": failures == 0,
        "attempted": attempted,
        "failed": failures,
        "metrics": {n: {"value": source[n], "unit": units[n]} for n in names},
    }))


if __name__ == "__main__":
    main()
