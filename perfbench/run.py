#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark harness from source with sbt (perfbench/build.sbt) and generates the
input tables; later runs start the JVM directly. Everything the benchmark
writes goes under `.bench_build/` in the repository root.

The run prints one record line (host, commit, input and output digests, every
metric) and, as its last line, the summary object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
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


def source_digest():
    """SHA-256 over the sources the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}")
    opts += f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')} -XX:-UsePerfData"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compiles once per source digest; returns the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, f"classpath-{digest[:16]}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    print("perfbench: building the program and the benchmark", file=sys.stderr)
    r = subprocess.run(
        [sbt, "--batch", "-Dsbt.server.autostart=false", "writeClasspath"],
        cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as f:
        cp = f.read().strip()
    with open(stamp + ".tmp", "w") as f:
        f.write(cp)
    os.replace(stamp + ".tmp", stamp)
    return cp


def java_cmd(cp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else shutil.which("java")
    if not java:
        fail("no java found (set JAVA_HOME)")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + [f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={tmp}", "-Xlog:disable",
                  "-XX:-UsePerfData",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]


def prepare(cp, sf):
    """Generates the input tables once per checkout and, while doing so,
    records a class-data archive that later runs map to start faster."""
    jsa = os.path.join(BUILD, f"classes-{source_digest()[:16]}.jsa")
    if os.path.isfile(jsa):
        return jsa
    cmd = java_cmd(cp) + [f"-XX:ArchiveClassesAtExit={jsa}.tmp", "-cp", cp,
                          "perfbench.Main", "--prepare", "1",
                          "--work", os.path.join(BUILD, "work")]
    if sf is not None:
        cmd += ["--sf", str(sf)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"generating the input tables failed (exit {r.returncode})")
    os.replace(jsa + ".tmp", jsa)
    return jsa


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "none (not a git checkout)"


def heap_mb():
    """A quarter of the host's memory, between 2 and 6 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return max(2048, min(6144, kb // 4096))


def run_jvm(cp, jsa, args):
    cmd = java_cmd(cp) + [f"-XX:SharedArchiveFile={jsa}", "-cp", cp, "perfbench.Main",
                          "--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--work", os.path.join(BUILD, "work")]
    if args.sf is not None:
        cmd += ["--sf", str(args.sf)]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"the run did not finish within {RUN_TIMEOUT_S} s")
    records = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH_RECORD ")]
    if r.returncode != 0 or not records:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"the benchmark JVM failed (exit {r.returncode})")
    return json.loads(records[-1][len("PERFBENCH_RECORD "):])


def summary(record, spec, trace):
    """The contract's last line: every metric of the requested kind."""
    kind, source = ("per_layer", "per_layer") if trace else ("end_to_end", "end_to_end")
    values = record[source]
    metrics = {}
    for m in spec[kind]:
        v = values.get(m["name"])
        if v is None:
            if not trace:
                fail(f"end-to-end metric {m['name']} was not measured")
            v = 0.0  # this layer does no work on this workload
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": record["failed"] == 0, "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override every workload's table scale (smoke runs)")
    ap.add_argument("--emit", metavar="DIR",
                    help="write the operator_suite queries' results under DIR "
                         "for tools/check_oracle.py and print their digest lines")
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; "
             "run from the root of a full checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    cp = build()
    jsa = prepare(cp, args.sf)
    if args.emit:
        cmd = java_cmd(cp) + [f"-XX:SharedArchiveFile={jsa}", "-cp", cp, "perfbench.Main",
                              "--work", os.path.join(BUILD, "work"),
                              "--emit", os.path.abspath(args.emit)]
        if args.sf is not None:
            cmd += ["--sf", str(args.sf)]
        sys.exit(subprocess.run(cmd, cwd=ROOT, timeout=BUILD_TIMEOUT_S).returncode)
    record = run_jvm(cp, jsa, args)
    record["commit"] = commit()
    record["source_digest"] = source_digest()
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps(summary(record, spec, args.trace)))


if __name__ == "__main__":
    main()
