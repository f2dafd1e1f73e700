#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/build.sbt`, sbt offline); later runs reuse the build
while the sources are unchanged. The run launches one JVM
(`graft.perfbench.Main`) at local[<cores>] over the sf0.1 tables in
`perfbench/data`, then checks its outputs and prints a human-readable
table followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (see BENCHMARK.json). The exit code is 0 only when no
operation failed. Run artifacts go to `.bench_build/perfbench/`.
"""
import argparse
import collections
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import analysis  # noqa: E402
import canon  # noqa: E402

WORKLOADS = ("dashboard", "corpus", "lifecycle", "ingest", "facts")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.1")
RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 700
JVM_HEAP = "4g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def finite(x):
    return x if math.isfinite(x) else None


def source_stamp():
    """Hash of everything the build compiles: engine and harness sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(tree)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine source at {need}: run from the root of a graft checkout")
    if not os.path.isdir(DATA):
        fail(f"missing input tables under {DATA}")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                           f"-Dsbt.repository.config={repos}")
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        # its own process group, so that a timeout also stops the JVM the
        # sbt launcher starts
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"],
                                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build exceeded {BUILD_LIMIT_S} s; see {log_path}")
        log.write(stdout)
    lines = [l for l in stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def launch(cp, args, out):
    """Run the JVM side; it writes result.json (and trace.json) into out."""
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={out}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", DATA, "--out", out]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM exceeded {RUN_LIMIT_S} s; see {out}/jvm.log")
    if code != 0 or not os.path.exists(os.path.join(out, "result.json")):
        fail(f"JVM exited {code}; see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    out = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    result = launch(cp, args, out)
    trace = None
    if args.trace:
        with open(os.path.join(out, "trace.json")) as f:
            trace = json.load(f)

    if args.workload == "ingest":
        e2e, attempted, failures = analysis.ingest(result)
    else:
        e2e, attempted, failures = analysis.closed(result)
        expected = canon.load_expected(os.path.join(HERE, "expected.json"))
        errored = {s["name"] for s in result["samples"] if s["pass"] == -1 and s["error"]}
        for name in result["queries"]:
            msg = canon.check(os.path.join(out, "check", name), expected.get(name))
            if msg and name not in errored:
                failures.append(f"{name}: output check: {msg}")

    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  "
          f"cores {result['cores']}  trace {args.trace}")
    analysis.print_e2e(e2e)
    reported, kind = e2e, "end_to_end"
    if trace is not None:
        reported, kind = analysis.layers(result, trace), "per_layer"
        analysis.print_layers(reported)
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump(reported, f, indent=1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # a failed query's infinite latency has no JSON number; the run is then
    # incorrect anyway
    metrics = {m["name"]: {"value": finite(reported[m["name"]][0]), "unit": m["unit"]}
               for m in spec[kind]}
    for msg, n in collections.Counter(failures).items():
        print(f"FAILED {msg}" + (f" (x{n})" if n > 1 else ""))
    print(f"fail_ratio {len(failures)}/{attempted} failed/attempted")
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
