#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/, keyed by a digest of every source and build
file; later runs start the JVM directly. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}, where metrics are
the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1), each with its unit.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["telemetry_stream", "telemetry_batch", "corpus_ingest", "corpus_query"]
# Per-layer metric prefixes that belong to one workload's layers: a traced
# run must emit every listed metric under its own prefixes; one under only
# another workload's prefixes reads 0.
OWN = {
    "telemetry_stream": ("streaming.", "telemetry_stream.", "store.archive."),
    "telemetry_batch": ("batch.", "store.archive."),
    "corpus_ingest": ("ext.", "core.", "corpus_ingest.", "store.dedup.", "store.postings.",
                      "store.ivf.", "store.pq.", "store.knn."),
    "corpus_query": ("ext.", "store.postings.", "store.ivf.", "store.pq.", "store.knn."),
}
DEADLINE_S = 175  # a run, not counting a build, must end within 180 s
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads: the engine's and the benchmark's."""
    h = hashlib.sha256()
    roots = [ROOT, HERE]
    for base in roots:
        for rel in ("build.sbt", os.path.join("project", "build.properties")):
            p = os.path.join(base, rel)
            if os.path.isfile(p):
                h.update(rel.encode())
                h.update(open(p, "rb").read())
        src = os.path.join(base, "src", "main")
        for dirpath, dirnames, filenames in os.walk(src):
            dirnames.sort()
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                h.update(open(p, "rb").read())
    return h.hexdigest()


def classpath():
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.isfile(stamp):
        cached = json.load(open(stamp))
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, stdin=subprocess.DEVNULL)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    json.dump({"digest": digest, "classpath": cp}, open(stamp, "w"))
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("no graft sources next to perfbench/: run from a checkout of the repository")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = classpath()
    started = time.time()  # a first run's build has its own, longer allowance
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-Xmn512m", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        raise SystemExit("benchmark JVM timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        for d in ("data", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
    res = json.loads(lines[-1])
    values = res["values"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in values:
            v = values[name]
        elif args.trace and not name.startswith(OWN[args.workload]) and any(
                name.startswith(p) for w, ps in OWN.items() if w != args.workload for p in ps):
            v = 0.0  # a layer this workload does not run
        else:
            raise SystemExit(f"metric {name} was not measured")
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            raise SystemExit(f"metric {name} has no value")
        metrics[name] = {"value": v, "unit": m["unit"]}
    if not args.trace:
        extra = {k: values[k] for k in ("op_tail_ms", "failed_frac") if k in values}
        log(f"also measured: {json.dumps(extra)}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
