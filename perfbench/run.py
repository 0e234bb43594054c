#!/usr/bin/env python3
"""Run one workload of the ingestion benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt (into `target/` directories and
`.bench_build/`); later runs reuse the build while the sources are
unchanged. Each run then

  1. generates the workload's inputs from the seed (gen.py),
  2. runs the workload in one JVM (perfbench.Main): untimed set-up, a timed
     closed loop of `--seconds`, then the output checks,
  3. for the query workload, diffs every query result against its DuckDB
     oracle with the repository's tools/check_oracle.py,

and prints, as its last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The spans and counters of a traced run are kept under
`.bench_build/traces/`.
"""
import argparse
import fnmatch
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["ingest_fanout", "curation_queries"]
# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the engine's build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) if "target" not in d
            for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def classpath():
    """Build with sbt if needed; return the benchmark's runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    # resolve only from the local caches, as the engine's own test command does
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l
             and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    for old in os.listdir(BUILD):  # classpaths of earlier source trees
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def generate(workload, seed, scale, out):
    r = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                        "--seed", str(seed), "--scale", scale, "--out", out])
    if r.returncode != 0:
        fail("input generation failed")


def own_layer_metrics(workload, names):
    """The per-layer metrics `names` that metrics.json assigns to `workload`
    (or to every workload); `<query>` in a definition's name matches any."""
    with open(os.path.join(HERE, "metrics.json")) as f:
        defs = json.load(f)["per_layer"]
    pats = [k.replace("<query>", "*") for k, d in defs.items()
            if d["workload"] in (workload, "all")]
    return [n for n in names if any(fnmatch.fnmatchcase(n, p) for p in pats)]


def run_jvm(cp, args, work, timeout):
    # the engine's build gives its JVMs the same code-cache headroom
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload JVM exited with {p.returncode}")


def oracle_check(data, work):
    """Diff every query result against its DuckDB oracle; returns the number
    of queries checked and the report line of each one that failed."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    r = subprocess.run([sys.executable, tool, f"{data}/tables", f"{work}/results"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.splitlines()
    failed = [l for l in lines if l.startswith("FAIL ")]
    return sum(l.startswith("PASS ") for l in lines) + len(failed), failed


def main():
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the smoke test")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    needed = [spec_path, os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(ROOT, "tools", "check_oracle.py")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        fail(f"not a checkout of the engine (missing {', '.join(missing)})")
    with open(spec_path) as f:
        spec = json.load(f)

    cp = classpath()
    tag = f"{a.workload}-seed{a.seed}-{a.scale}-trace{a.trace}-{os.getpid()}"
    data, work = os.path.join(BUILD, "inputs", tag), os.path.join(BUILD, "runs", tag)
    phases = {}
    try:
        t0 = time.time()
        generate(a.workload, a.seed, a.scale, data)
        os.makedirs(work)
        result_path = os.path.join(work, "result.json")
        t1 = time.time()
        run_jvm(cp, ["--workload", a.workload, "--data", data, "--work", work,
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--out", result_path], work, timeout=300 + 3 * a.seconds)
        phases.update(generate_s=t1 - t0, jvm_s=time.time() - t1)
        with open(result_path) as f:
            res = json.load(f)
        attempted, failures = res["attempted"], list(res["failures"])
        if a.workload == "curation_queries":
            checked, bad = oracle_check(data, work)
            attempted += max(checked, 1)
            failures += bad if checked else ["oracle check ran no query"]
        for msg in failures:
            print(f"perfbench: failed: {msg}", file=sys.stderr)
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    failed = len(failures)
    # sample counts, tails and per-phase times, beside the result line
    phases["main_s"] = res["main_s"]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "diag": dict(res["diag"], **phases)}))
    if a.trace:
        # the other workload's layer metrics print as 0; this one's must exist
        wanted, values = spec["per_layer"], res["layers"]
        own = own_layer_metrics(a.workload, [m["name"] for m in wanted])
        missing = [n for n in own if n not in values]
        if missing:
            fail(f"traced run did not report {', '.join(missing)}")
        values = {n: values[n] for n in own}
    else:
        wanted = spec["end_to_end"]
        values = dict(res["metrics"], ok_ratio=(attempted - failed) / attempted)
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            fail(f"run did not report {', '.join(missing)}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
