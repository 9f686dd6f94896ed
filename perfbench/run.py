#!/usr/bin/env python3
"""End-to-end benchmark of the engine: the HTTP API under mixed reads and
ingest, and a materialized batch set of registry queries.

    python3 perfbench/run.py --workload api_mixed --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source (sbt) into .bench_build/. Each run then generates its
inputs from --seed, starts one JVM that serves and measures the workload,
checks every answer against DuckDB, and prints one JSON line last:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics of a traced run. Spans and a full report land in
.bench_out/<workload>-seed<seed>-trace<t>/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import lake  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("api_mixed", "batch_catalog")
JVM_TIMEOUT_S = 150

# JDK 17 module opens Spark needs outside spark-submit (as the engine's
# build passes to its forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_newer_than(path):
    t = os.path.getmtime(path)
    for base in ("src/main", "perfbench/src", "build.sbt", "perfbench/build.sbt"):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p) and os.path.getmtime(p) > t:
            return True
        for d, _, files in os.walk(p):
            if any(os.path.getmtime(os.path.join(d, f)) > t for f in files):
                return True
    return False


def build():
    """Compiles the engine and the harness; caches the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("engine sources not found; run from the repository root")
    if os.path.isfile(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
    except subprocess.TimeoutExpired:
        fail("build did not finish within 840 s")
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout)
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l
          and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())


def heap_size():
    """Heap as the repository's tier-1 test command sets it: half the
    host's memory, clamped to [2g, 8g]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def prepare(workload, seed, work):
    """Fresh work directory with the seeded inputs and the plan."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "spark-local"))
    lake_dir = os.path.join(work, "lake")
    sf = lake.BATCH_SF if workload == "batch_catalog" else lake.API_SF
    lake.write_lake(seed, sf, lake_dir)
    if workload == "api_mixed":
        files = lake.write_ingest_sources(seed, os.path.join(tmp, "ingest_src"))
        plan = lake.api_mixed_plan(seed, files)
    else:
        plan = {"queries": stats.BATCH}
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan, lake_dir


def run_jvm(args, work, lake_dir):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    env.pop("SPARK_GRAFT_SF_DIR", None)
    cmd = (["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--plan", os.path.join(work, "plan.json"),
            "--lake", lake_dir, "--work", work, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", os.path.join(work, "result.json")])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"the engine did not finish within {JVM_TIMEOUT_S} s "
                 f"(see {os.path.join(work, 'jvm.log')})")
        finally:  # never leave the JVM behind, also on a signal
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        fail(f"the engine exited with {code} (see {os.path.join(work, 'jvm.log')})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check(workload, plan, res, work, lake_dir):
    """Oracle problems as (key, why); plus extra notes for the report."""
    con = oracle.connect(lake_dir)
    if workload == "api_mixed":
        bad = (oracle.check_tabular(plan["pool"], res["responses"], con) +
               oracle.check_raster(plan["pool"], res["responses"], plan["quads"], con) +
               oracle.check_ingest(plan, res["aoi_responses"], con))
        return bad, {}
    bad, checked = oracle.check_batch(plan["queries"], res.get("oracles", {}),
                                      os.path.join(work, "dumps"), con)
    return bad, {"oracle_checked": checked}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build()
    work = os.path.join(BUILD, "work", f"{args.workload}-trace{args.trace}")
    plan, lake_dir = prepare(args.workload, args.seed, work)
    res = run_jvm(args, work, lake_dir)
    bad, notes = check(args.workload, plan, res, work, lake_dir)
    report = stats.report(args.workload, res, bad, trace=bool(args.trace))
    report.update(notes)
    report["host"] = dict(res.get("host", {}), seed=args.seed,
                          holdout_seed=stats.HOLDOUT_SEED)

    out = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    if args.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), out)
    line = {k: report[k] for k in ("correct", "attempted", "failed")}
    line["metrics"] = report["trace_metrics" if args.trace else "metrics"]
    for key, why in report["problems"][:20]:
        print(f"perfbench: wrong answer {key}: {why}", file=sys.stderr)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
