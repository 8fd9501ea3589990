#!/usr/bin/env python3
"""Run one benchmark workload against graft and print the result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the benchmark and graft from source with sbt the first time (or
when a source file changed), then runs `graftbench.Main` in one JVM on
`local[n]`, n = min(4, CPUs available). The last line on stdout is one
JSON object: `correct`, `attempted`, `failed` and `metrics`, holding the
end-to-end metrics of BENCHMARK.json for `--trace 0` and its per-layer
metrics for `--trace 1`. Everything else goes to stderr. The full run
record (every metric, span summaries, host context, failures) is kept in
`.bench_build/runs/`.

Exits 0 when every output check passed, 1 when one failed, 2 when the
checkout has no graft sources or the build fails.

Harness self-tests: `sbt test` in perfbench/ (percentiles, the interval
union behind driver_gap_s, crediting jobs to spans) and
`python3 -m unittest discover -s perfbench/tests` (BENCHMARK.json and
perfbench/layers.json schema).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
# Class-data-sharing archive of the classes a run loads: the first run
# after a build writes it when its JVM exits, later runs map it and skip
# most class loading (about 5 s of every run's set-up).
CDS_ARCHIVE = BUILD / "classes.jsa"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# A fixed heap (-Xms = -Xmx) keeps the resident-set high-water mark
# steady from run to run: G1 grows an elastic heap at GC-timing-dependent
# moments, which made peak RSS swing by half between identical runs.
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the root build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# What the build reads; a change to any of these triggers a rebuild.
BUILD_INPUTS = [
    "build.sbt", "project/build.properties", "src/main",
    "perfbench/build.sbt", "perfbench/project/build.properties",
    "perfbench/src/main",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = ROOT / rel
        files = sorted(f for f in p.rglob("*") if f.is_file()) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, stdout, env=None):
    """Run `cmd` in its own process group; kill the group on timeout or
    interruption and wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            env=env, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def build():
    """Compile and package graft and the benchmark; return the runtime
    classpath (jars only, so the JVM can archive the loaded classes)."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building graft and the benchmark with sbt")
    BUILD.mkdir(parents=True, exist_ok=True)
    CDS_ARCHIVE.unlink(missing_ok=True)
    out = BUILD / "sbt-export.txt"
    # resolve from the local caches only: the build needs nothing that the
    # toolchain does not already hold
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(out, "w") as f:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                          "export Runtime/fullClasspathAsJars"],
                         cwd=HERE, timeout=BUILD_LIMIT_S, stdout=f, env=env)
    lines = out.read_text().splitlines()
    sys.stderr.write("\n".join(l for l in lines if not l.startswith("/")) + "\n")
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if code != 0 or not cps:
        log(f"build failed (sbt exit {code})")
        sys.exit(2)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def main():
    # a terminated benchmark unwinds like an interrupted one, so run_child
    # kills and reaps the JVM instead of leaving it running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main/scala/graft").is_dir():
        log(f"no graft sources under {ROOT}: nothing to benchmark")
        sys.exit(2)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {args.workload!r}")
        sys.exit(2)

    classpath = build()
    started = time.monotonic()

    cores = min(4, len(os.sched_getaffinity(0)))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = BUILD / "work" / f"{tag}-{os.getpid()}"
    record = BUILD / "runs" / f"{tag}.json"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    record.parent.mkdir(parents=True, exist_ok=True)
    record.unlink(missing_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin/java") if "JAVA_HOME" in os.environ else "java"
    cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if CDS_ARCHIVE.exists()
           else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    # no hsperfdata file: it would land in /tmp, outside the checkout
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", cds, "-Xlog:disable", "-Xlog:all=error:stderr",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(record), "--cores", str(cores)]
    try:
        # the run that writes the class archive spends its exit dumping it
        limit = RUN_LIMIT_S if CDS_ARCHIVE.exists() else BUILD_LIMIT_S
        # Spark's scratch space stays inside the work directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        code = run_child(cmd, cwd=ROOT, timeout=limit, stdout=sys.stderr, env=env)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {limit} s")
        sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not record.exists():
        log(f"benchmark process failed (exit {code})")
        sys.exit(1)

    rec = json.loads(record.read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = rec["per_layer"] if args.trace else rec["end_to_end"]
    missing = [m["name"] for m in wanted if measured.get(m["name"]) is None]
    if missing:
        log(f"run record lacks metrics {missing}")
        sys.exit(1)
    host = rec["host"]
    log(f"host: nproc={host['nproc']} master={host['spark_master']} "
        f"xmx_mb={host['xmx_mb']} cpu_probe_s={host['cpu_probe_s']:.3f}; "
        f"{rec['detail']['ops']} ops in {time.monotonic() - started:.1f} s")
    log(f"facts: {json.dumps(rec['detail']['facts'], sort_keys=True)}")
    log(f"by kind: {json.dumps(rec['detail']['by_kind'], sort_keys=True)}")
    for f in rec["failures"]:
        log(f"FAILED: {f}")
    print(json.dumps({
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }), flush=True)
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
