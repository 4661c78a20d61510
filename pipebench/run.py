#!/usr/bin/env python3
"""Build and run the pipeline benchmark.

    python3 pipebench/run.py --workload <pipeline|dedup> --seed N --seconds S --trace 0|1
    python3 pipebench/run.py --workload all --seed N --seconds S

Run from the repository root. The first run compiles the benchmark package
(pipebench/build.sbt, which depends on the repository's own build) with sbt,
offline; later runs reuse the build while no source changed. Each run starts its own JVM with fresh scratch
directories under .bench_build/pipebench, which are removed afterwards
(a traced run keeps its layer table and spans there). The last line of
stdout is the run's JSON result; the exit code is 0 only if every output
checked out. `--workload all` runs every workload in turn and prints
every named metric with its unit.
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "pipebench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# A fixed heap and young generation: sized by the collector, they follow
# the load on the host rather than the program (pipebench/README.md).
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]


def fail(msg, code=2):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order: both builds'
    definitions and main sources."""
    out = []
    for base in (LIB_SRC, os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    for b in (ROOT, HERE):
        out += [os.path.join(b, "build.sbt"),
                os.path.join(b, "project", "build.properties")]
    return sorted(f for f in out if os.path.exists(f))


def build():
    """Compile if any source changed since the last build; return the
    JVM arguments (the library build's options and the classpath)."""
    if not (os.path.isdir(LIB_SRC) and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        fail(f"library build not found at {ROOT}; run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "build.stamp")
    jvm_file = os.path.join(HERE, "target", "pipebench.jvm")
    if os.path.exists(stamp) and os.path.exists(jvm_file):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                with open(jvm_file) as fh:
                    return fh.read().splitlines()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "benchJvm"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(jvm_file):
        with open(log) as fh:
            sys.stderr.write("\n".join(fh.read().splitlines()[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    with open(jvm_file) as fh:
        return fh.read().splitlines()


def run_one(jvm, workload, seed, seconds, trace):
    """Run one workload in its own JVM; return (exit code, stdout lines)."""
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    logs = os.path.join(OUT, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    cmd = ["java"] + HEAP + ["-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + jvm
    cmd += ["pipebench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work]
    with open(os.path.join(logs, f"{tag}.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{tag} exceeded {RUN_TIMEOUT_S} s", 3)
    if trace and os.path.isdir(os.path.join(work, "trace")):
        dest = os.path.join(OUT, "traces", f"{workload}-seed{seed}")
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(os.path.join(work, "trace"), dest)
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]], \
        [w["name"] for w in spec["workloads"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    names, workloads = expected_metrics(a.trace)
    if a.workload != "all" and a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {', '.join(workloads)}")
    jvm = build()

    if a.workload == "all":
        bad = 0
        for w in workloads:
            code, lines = run_one(jvm, w, a.seed, a.seconds, 0)
            result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            print(f"== {w} (exit {code})")
            for l in lines[:-1]:
                print("  " + l)
            if result:
                for k, v in result["metrics"].items():
                    print(f"  metric {k:<22} {v['value']:14.4f} {v['unit']}")
            bad += code != 0 or not result or not result["correct"]
        sys.exit(1 if bad else 0)

    code, lines = run_one(jvm, a.workload, a.seed, a.seconds, a.trace)
    if not lines or not lines[-1].startswith("{"):
        fail(f"no result from {a.workload} (exit {code}); see {OUT}/logs", code or 1)
    result = json.loads(lines[-1])
    if sorted(result["metrics"]) != sorted(names):
        fail("metric set differs from BENCHMARK.json", 1)
    for l in lines:
        print(l)
    sys.exit(code)


if __name__ == "__main__":
    main()
