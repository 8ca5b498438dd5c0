#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload,
and print its result as the last line of standard output.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run compiles with sbt
(the repository's root build plus `perfbench/build.sbt`); later runs
reuse the classes while the sources are unchanged. Everything a run
writes goes under `.bench_build/` in the checkout. Extra arguments
(`--service-delay-ms`) are passed through to the benchmark program.
"""
import hashlib
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD_TIMEOUT = 840
RUN_TIMEOUT = 170
# The workload that must report each per-layer metric, by name prefix;
# other workloads report 0 for it. A metric no prefix matches must come
# from every workload.
OWNERS = [("ingest.", "crawl"), ("pipeline.", "crawl"), ("io.", "crawl"),
          ("queries.curation.", "curate")]
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".json", ".txt"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_stamp(stamp):
    """The build's source stamp plus this launcher, which sets the JVM."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(stamp.encode() + f.read()).hexdigest()[:16]


def classpath(stamp):
    """Compile if the sources changed; return the runtime classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def normalize(result, workload, trace):
    """Report exactly the metrics BENCHMARK.json declares for a declared
    workload: a per-layer metric of another workload's layer is a
    measured zero; any other missing metric is an error."""
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        return result
    with open(spec_file) as f:
        spec = json.load(f)
    if workload not in [w["name"] for w in spec["workloads"]]:
        return result
    got = result["metrics"]
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        owner = next((w for p, w in OWNERS if m["name"].startswith(p)), workload)
        if m["name"] in got:
            out[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif trace and owner != workload:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"workload {workload} did not report {m['name']}")
    result["metrics"] = out
    return result


def main():
    args = sys.argv[1:]
    if not os.path.isdir(ENGINE):
        fail(f"no engine sources at {os.path.relpath(ENGINE, ROOT)}; "
             "run from the root of a full checkout")
    workload = args[args.index("--workload") + 1] if "--workload" in args else ""
    trace = "--trace" in args and args[args.index("--trace") + 1] == "1"
    stamp = source_stamp()
    cp = classpath(stamp)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # the heap ceiling of the program's own launcher (the root
        # build's `run`); the collector sizes the heap below it
        "-Xmx8g",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(OUT, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main",
        "--work", os.path.join(OUT, "work"),
        "--stamp", run_stamp(stamp)] + args
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if p.returncode not in (0, 1) or not lines:
        fail(f"benchmark exited with {p.returncode}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail("benchmark printed no result")
    print(json.dumps(normalize(result, workload, trace)), flush=True)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
