#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload dashboard|ingest|curate \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles graft's main
sources together with the harness (perfbench/build.sbt) and caches the
classpath under perfbench/work/; later runs start the JVM directly.
Prints the workload's named metrics, one per line, then as the last
line one JSON object: {"correct", "attempted", "failed", "metrics"},
whose metrics are the end-to-end ones (--trace 0) or the per-layer
ones of a traced run (--trace 1).
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

import stats

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170
HEAP = "4g"

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    tops = [GRAFT_SRC, os.path.join(BENCH, "src", "main"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    opts = ["-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        # resolve only from the local caches and the configured repositories
        env["COURSIER_MODE"] = "offline"
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build if the sources changed since the cached build; return the
    runtime classpath."""
    cp_file = os.path.join(WORK, f"classpath-{source_hash()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file, encoding="utf-8") as f:
            return f.read().strip()
    os.makedirs(WORK, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines()
             if not l.startswith("[") and "scala-2.13" in l and ":" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w", encoding="utf-8") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(args, out):
    cp = classpath()
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--out", out])
    log = os.path.join(out, "jvm.log")
    with open(log, "w", encoding="utf-8") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S}s (log: {log})")
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log, encoding="utf-8", errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code}")
    with open(result, encoding="utf-8") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "ingest", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {GRAFT_SRC}: run from a full checkout")

    out = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    rec = run_jvm(args, out)
    # the stores are large and not needed once the record is read
    shutil.rmtree(os.path.join(out, "work"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)

    print(f"env {json.dumps(rec['env'], sort_keys=True)}")
    for msg in rec.get("failures", []):
        print(f"failure {msg}")
    if args.trace:
        metrics = stats.per_layer(rec, out)
    else:
        for name, value, unit in stats.detail(rec):
            print(f"metric {name} {value:.6g} {unit}")
        metrics = stats.end_to_end(rec)
    for name, (value, unit) in metrics.items():
        print(f"{'layer' if args.trace else 'e2e'} {name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
