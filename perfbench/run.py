#!/usr/bin/env python3
"""Run one benchmark workload against the program in the enclosing checkout.

    python3 perfbench/run.py --workload commit_sync --seed 1 --seconds 20 --trace 0

Builds the harness with sbt on first use (the program's sources compile as
a dependency of perfbench/build.sbt), runs it in one JVM on local[4], checks
every output, and prints one JSON line last: `correct`, `attempted`,
`failed` and `metrics`. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer ones. Exits non-zero when a check fails, and
without a result when the program cannot be built or run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import metrics
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
WORKLOADS = ("commit_sync", "store_serve", "query_suite")
DEADLINE_S = 175

# What spark-submit would pass on JDK 17 (JavaModuleOptions).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(base):
            if os.sep + "target" in d:
                continue
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        die("the program's sources (../src/main/scala, ../build.sbt) are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build and run the benchmark")
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                 "-Dsbt.server.autostart=false"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(cp, args, work, budget_s):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    launch_ms = time.time() * 1000.0
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"the run did not finish within {budget_s:.0f} s")
    if code != 0 or not os.path.exists(out):
        die(f"the harness exited with code {code}")
    with open(out) as f:
        raw = json.load(f)
    raw["launch_ms"] = launch_ms
    with open(out, "w") as f:
        json.dump(raw, f)
    return raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    t_start = time.time()  # a run that builds may take longer than the deadline
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = run_jvm(cp, args, work, DEADLINE_S - (time.time() - t_start))

    attempted, failed = raw["attempted"], raw["failed"]
    failures = list(raw["failures"])
    if "oracle" in raw:
        for name, err in oracle.check(raw["oracle"]["tables"], raw["oracle"]["checks"]):
            attempted += 1
            if err:
                failed += 1
                failures.append(f"oracle {name}: {err}")

    if args.trace:
        m = metrics.per_layer(raw)
        for name, why in metrics.UNMEASURED.items():
            print(f"perfbench: {name} not measured: {why}", file=sys.stderr)
        info = {}
    else:
        m, info = metrics.end_to_end(raw)
    info["sizes"] = raw.get("sizes")
    info["failed_frac"] = failed / attempted if attempted else 0.0
    print(f"perfbench: {args.workload} seed={args.seed} {json.dumps(info)}", file=sys.stderr)
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    # keep the raw samples, drop the stores and tables
    for entry in os.listdir(work):
        if entry != "raw.json":
            path = os.path.join(work, entry)
            shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)

    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
