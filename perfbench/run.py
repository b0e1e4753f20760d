#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: athena_surface, iterative_rebuild, ingest_query_mix (see
README.md). The first run in a checkout builds the library and the
harness with sbt; later runs reuse the build while the sources are
unchanged. The input tables are generated once per checkout.

Output: a report line with every metric the workload defines, then, as the
last line, {"correct", "attempted", "failed", "metrics"} where metrics are
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Exits non-zero when an output is wrong or an operation failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
BUILD_STAMP = HERE / "target" / "perfbench-build.json"
WORKLOADS = ("athena_surface", "iterative_rebuild", "ingest_query_mix")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 needs these when a session is created outside
# spark-submit; the library's own build passes the same list.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"")
    return h.hexdigest()


def build():
    """Compile the library and the harness; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"the library sources are not next to the benchmark (looked in {ROOT})")
    stamp = source_stamp()
    if BUILD_STAMP.exists():
        cached = json.loads(BUILD_STAMP.read_text())
        if cached["stamp"] == stamp and all(Path(p).exists() for p in cached["classpath"]):
            return cached["classpath"]
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip().split(os.pathsep)
    BUILD_STAMP.parent.mkdir(parents=True, exist_ok=True)
    BUILD_STAMP.write_text(json.dumps({"stamp": stamp, "classpath": classpath}))
    return classpath


def tables():
    """The input tables, generated once per generator version."""
    import gen_data
    tag = hashlib.sha256((HERE / "gen_data.py").read_bytes()).hexdigest()[:12]
    out = WORK / f"data-{tag}"
    if not out.is_dir():
        tmp = WORK / f"data-{tag}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(str(tmp))
        try:
            tmp.rename(out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # another run won the race
    return out


def java(classpath, main, args, cwd, log):
    """Run a harness main in its own JVM, confined to `cwd`."""
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=str(cwd / "spark-local"))
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Djava.io.tmpdir={cwd / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={cwd / 'warehouse'}",
            "-cp", os.pathsep.join(classpath), main] + args
    (cwd / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(Path(log).read_text()[-4000:])
        fail(f"{main} exited with {rc}", code=1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    import checks
    import metrics

    data = tables()
    run_dir = WORK / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    raw_path = run_dir / "raw.json"
    try:
        java(classpath, "perfbench.Main",
             ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", str(data), "--work", str(run_dir),
              "--out", str(raw_path)],
             run_dir, WORK / f"last-{a.workload}.log")
        raw = json.loads(raw_path.read_text())
        facts = checks.ingest_facts(raw) if a.workload == "ingest_query_mix" else None
        problems = checks.problems(raw, facts)
        e2e, report = metrics.e2e_metrics(raw, facts)
        chosen = metrics.layer_metrics(raw, facts) if a.trace else e2e
        units = metrics.LAYER_UNITS if a.trace else metrics.E2E_UNITS
    finally:
        # the raw record (operations, spans, counters) of the last run stays
        # for inspection
        if raw_path.exists():
            raw_path.replace(WORK / f"last-{a.workload}.json")
        shutil.rmtree(run_dir, ignore_errors=True)

    # every query, operator call, reader query and ingested file; passes
    # and rounds only group them
    attempted = (sum(o["kind"] not in ("pass", "round") for o in raw["ops"])
                 + len(raw.get("files", [])))
    failed = min(attempted, len(problems))
    report["failed_frac"] = (failed / attempted, "ratio")
    if a.trace:
        report.update({k: (v, metrics.LAYER_UNITS[k]) for k, v in chosen.items()})
    for p in problems[:20]:
        print(f"problem: {p}")
    print(json.dumps({"report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()}}))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
