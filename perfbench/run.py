#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one run of one workload.

    python3 perfbench/run.py --workload graph-loops --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the program and the
benchmark driver from source with sbt (offline) and caches the classpath
under perfbench/.work/; later runs reuse it while the sources are unchanged.
Each run launches one fresh driver JVM on the compiled classes (see
harness/src/main/scala/graftbench/Main.scala), checks the query outputs
against DuckDB and the property checks in checks.py, and prints one JSON
object as its last line. See README.md for the workloads and metrics.
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
from pathlib import Path

import checks

# the sf0.1 test tables (TESTDATA.md)
SF_DIR = str(Path.home() / "testdata" / "sf0.1")
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

# name -> queries, the tables they read, and the ungated queries that only
# the traced run executes, once, to check their outputs. Every query is
# oracle-gated (SparkEntry.oracleSql) or has a property in checks.PROPERTIES.
WORKLOADS = {
    "graph-loops": dict(
        queries=["q110_bfs_hops"],
        tables=["documents"],
        extra=["q281_hits_bipartite", "q118_kcore"]),
    "stream-replay": dict(
        queries=["q128_streaming_restart_resume"],
        tables=["events"],
        extra=["q285_streaming_lsh_dedup"]),
}
MIN_TIMED = 3
END_TO_END_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "heap_live_mb": "MB"}
PER_LAYER_UNITS = {
    "ops.build_s": "s", "ops.exec_s": "s",
    "sql.plan_s": "s", "sql.executions": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_s": "s", "sched.task_cpu_s": "s", "sched.driver_only_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "tables.block_writes": "count", "tables.block_write_mb": "MB", "tables.retained_mb": "MB",
    "sources.read_mb": "MB", "sources.rows": "count",
    "stream.batches": "count", "stream.batch_p50_s": "s", "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s", "stream.commit_offsets_s": "s", "stream.query_planning_s": "s",
    "stream.offsets_s": "s", "stream.state_rows": "count", "stream.state_mem_mb": "MB",
    "stream.state_commit_s": "s",
    "jvm.cpu_s": "s", "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.write_mb": "MB",
    "trace.overhead_pct": "%",
}
MAX_WARMUP = 3

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, log, **kw):
    """Runs cmd in its own process group with output to log; on timeout
    kills the whole group. Returns the exit code, or "timeout"."""
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:  # also when this script is interrupted or terminated
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def source_fingerprint(root):
    files = [root / "build.sbt"]
    for d in (root / "project", root / "src" / "main", root / "perfbench" / "harness"):
        files += [p for p in d.rglob("*") if p.is_file()
                  and "target" not in p.relative_to(root).parts]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root, work):
    """Compiles the program and the driver; returns the runtime classpath."""
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        fail("no program sources (build.sbt, src/main/scala) in the working directory")
    stamp = work / "build.json"
    fp = source_fingerprint(root)
    if stamp.is_file():
        cached = json.loads(stamp.read_text())
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   f"{Path.home() / '.sbt' / 'repositories'} -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    log = work / "build.log"
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "export graftbench/Runtime/fullClasspath"],
                     BUILD_TIMEOUT_S, log, cwd=root / "perfbench" / "harness", env=env)
    output = log.read_text()
    lines = [l for l in output.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(output[-6000:])
        fail(f"build failed (sbt: {code})")
    classpath = lines[-1].strip()
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": classpath}))
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def run_jvm(classpath, run_dir, workload, seed, seconds, trace):
    w = WORKLOADS[workload]
    tmp, local, out = run_dir / "tmp", run_dir / "local", run_dir / "out"
    for d in (tmp, local, out):
        d.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"]
    args = dict(queries=",".join(w["queries"]), tables=",".join(w["tables"]),
                extra=",".join(w["extra"]) if trace else "", sf=SF_DIR,
                seed=seed, seconds=seconds, trace=trace, min_timed=MIN_TIMED * (2 if trace else 1),
                max_warmup=MAX_WARMUP, out=out, local_dir=local, cpus=cpus)
    log = run_dir / "jvm.log"
    args["launch_ns"] = time.time_ns()
    code = run_group(cmd + [f"{k}={v}" for k, v in args.items()], JVM_TIMEOUT_S, log,
                     env=dict(os.environ, LC_ALL="C.UTF-8"))
    result = out / "result.json"
    if code != 0 or not result.is_file():
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"driver JVM failed ({code})")
    return json.loads(result.read_text()), out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end_metrics(res, passes, plain):
    per_query = {}
    for p in plain:
        for e in p["execs"]:
            per_query.setdefault(e["query"], []).append(e["build_s"] + e["exec_s"])
    for q, v in sorted(per_query.items()):
        print(f"query {q}: median {median(v):.3f} s over {len(v)} timed passes")
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": next(p["wall_s"] for p in passes if p["kind"] == "cold"),
        "warm_pass_s": median([p["wall_s"] for p in plain]),
        "heap_live_mb": res["heap_live_mb"],
    }


def trace_metrics(timed, plain):
    """Per-layer metrics: each the median over the traced timed passes of
    its per-pass value; batch latency from the untraced timed passes."""
    traced = [p["layers"] | p["jvm"] for p in timed if p["traced"]]
    metrics = {k: median([t[k] for t in traced]) for k in PER_LAYER_UNITS if k in traced[0]}
    metrics["stream.batch_p50_s"] = median([b for p in plain for b in p["batches_s"]])
    warm = median([p["wall_s"] for p in plain])
    metrics["trace.overhead_pct"] = 100.0 * (
        median([p["wall_s"] for p in timed if p["traced"]]) / warm - 1)
    return metrics


def main():
    # SIGTERM unwinds like Ctrl-C, so run_group stops the child JVM or sbt
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "perfbench" / "run.py").is_file():
        fail("run from the repository root")
    if not Path(SF_DIR).is_dir():
        fail(f"test data {SF_DIR} not found")
    work = root / "perfbench" / ".work"
    work.mkdir(exist_ok=True)
    classpath = build(root, work)

    run_dir = work / f"run-{os.getpid()}-{time.time_ns()}"
    try:
        res, out = run_jvm(classpath, run_dir, a.workload, a.seed, a.seconds, a.trace)
        written = [e["query"] for p in res["passes"] if p["kind"] in ("check", "extra")
                   for e in p["execs"] if not e["error"]]
        verdicts = checks.check_outputs(SF_DIR, out / "check", res["oracles"], written)
        spans = (out / "spans.json").read_text() if a.trace else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = res["passes"]
    for p in passes:
        tag = " traced" if p["traced"] else ""
        print(f"pass {p['index']:2d} {p['kind']:7s}{tag:7s} {p['wall_s']:8.3f} s")
    # a query whose output is wrong fails in every pass of the run
    wrong = {q for q, v in verdicts.items() if v.startswith("WRONG")}
    for q, v in sorted(verdicts.items()):
        print(f"check {q}: {v}")
    attempted = failed = 0
    for p in passes:
        for e in p["execs"]:
            attempted += 1
            if e["error"] or e["query"] in wrong:
                failed += 1
            if e["error"]:
                print(f"failed {e['query']} in pass {p['index']}: "
                      f"{e['error']['class']}: {e['error']['message'][:300]}")
    correct = all(not v.startswith("CHECK_ERROR") for v in verdicts.values())

    timed = [p for p in passes if p["kind"] == "timed"]
    plain = [p for p in timed if not p["traced"]]
    if a.trace:
        metrics = trace_metrics(timed, plain)
        report = {"workload": a.workload, "seed": a.seed, "metrics": metrics,
                  "spans": json.loads(spans)}
        out_dir = root / "perfbench" / "out"
        out_dir.mkdir(exist_ok=True)
        path = out_dir / f"trace-{a.workload}-seed{a.seed}.json"
        path.write_text(json.dumps(report))
        print(f"trace written to {path.relative_to(root)}; tracing overhead "
              f"{metrics['trace.overhead_pct']:.1f} % of the untraced warm pass")
        units = PER_LAYER_UNITS
    else:
        metrics = end_to_end_metrics(res, passes, plain)
        units = END_TO_END_UNITS
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
