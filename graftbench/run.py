#!/usr/bin/env python3
"""The graft benchmark.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1
                              [--expect FILE]

Run from the root of a graft checkout. Builds graft and the benchmark
from source with sbt when the sources changed, generates the input
tables once (under graftbench/.work), then measures one workload in one
JVM on one local Spark session with a single client. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (and the spans are written to
graftbench/.work/trace/). Exits non-zero when any check fails.

--expect checks against pinned expectations in another file. What a run
observed is written to graftbench/.work/observed/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ops_pipeline", "plan_qc")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, to rebuild only on change."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in d.split(os.sep))
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building graft and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = os.path.join(WORK, "build.log")
    with open(out, "w") as f:
        code = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            timeout=800).returncode
    if code != 0:
        with open(out) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise SystemExit(f"graftbench: build failed ({code}), see {out}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def java_cmd(cp, *args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={WORK}/tmp",
            "-cp", cp, "graftbench.Main", *args, "--work", WORK]


def run_jvm(cmd, logname, on_line=None):
    """Run a JVM to completion, killing it after JVM_TIMEOUT_S; returns
    (exit code, stdout lines, seconds from launch to its READY line)."""
    lines, ready = [], None
    with open(os.path.join(WORK, "logs", logname), "w") as err:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        timer = threading.Timer(JVM_TIMEOUT_S, p.kill)
        timer.start()
        try:
            for line in p.stdout:
                line = line.rstrip("\n")
                if line == "READY" and ready is None:
                    ready = time.monotonic() - t0
                lines.append(line)
                if on_line:
                    on_line(line)
        finally:
            p.wait()
            timer.cancel()
    elapsed = time.monotonic() - t0
    if elapsed >= JVM_TIMEOUT_S:
        log(f"{logname}: killed after {JVM_TIMEOUT_S} s")
        return 124, lines, ready
    log(f"{logname}: {elapsed:.1f} s")
    return p.returncode, lines, ready


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--expect", default=os.path.join(HERE, "expected.json"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft sources at {ROOT}: run from the root of a graft checkout")
        return 2
    for d in ("logs", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cp = build()

    data = os.path.join(WORK, "data")
    if not all(os.path.isdir(os.path.join(data, d)) for d in ("s01", "s1")) \
            or not os.path.isfile(os.path.join(data, "inputs.json")):
        log("generating the input tables")
        shutil.rmtree(data, ignore_errors=True)
        code, _, _ = run_jvm(java_cmd(cp, "gen"), "gen.log")
        if code != 0:
            log("input generation failed, see .work/logs/gen.log")
            return 1

    args = ["run", "--bench", HERE, "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--expect", os.path.abspath(a.expect)]

    def echo(line):
        if line != "READY" and not line.startswith("RESULT "):
            print(line, flush=True)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    code, lines, ready = run_jvm(java_cmd(cp, *args), f"{tag}.log", echo)
    results = [l for l in lines if l.startswith("RESULT ")]
    if ready is None or not results:
        log(f"run failed (exit {code}), see .work/logs/{tag}.log")
        with open(os.path.join(WORK, "logs", f"{tag}.log")) as f:
            sys.stderr.write("".join(f.readlines()[-20:]))
        return code or 1
    result = json.loads(results[-1][len("RESULT "):])
    if a.trace == 0:
        # Set-up: from launching the measuring JVM until its session is
        # built and has run one trivial job.
        result["metrics"] = {"setup_s": {"value": ready, "unit": "s"},
                             **result["metrics"]}
    for k, v in result["metrics"].items():
        print(f"{k:28s} {v['value']:>14.4f} {v['unit']}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump({"lines": [l for l in lines if l != "READY"],
                   "result": result}, f, indent=1)
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
