#!/usr/bin/env python3
"""claimbench: the repository's benchmark.

    python3 claimbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Builds the library and the benchmark runner from source (once per source
state, with sbt), generates the workload's inputs from the seed, runs
the workload on ``local[nproc]`` with one closed-loop client, checks the
outputs, and prints a report followed by one JSON result line. With
``--trace 1`` the result carries the per-layer metrics instead of the
end-to-end ones. See README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import median, percentile  # noqa: E402

ROOT = os.path.dirname(HERE)
LIBRARY = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSPATH = os.path.join(HERE, "target", "claimbench-classpath.txt")
STAMP = os.path.join(HERE, "target", "claimbench-source.sha256")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("ingest", "dashboard", "curation")
# Set-ups per run; setup_s is their median. One set-up generates the
# seeded inputs (here) and prepares the stores from them (the runner:
# restore the claims base, or convert the corpus to parquet).
SETUPS = {"ingest": 5, "dashboard": 5, "curation": 3}
RUN_LIMIT_S = 170
MB = 1024.0 * 1024.0

# The JVM options spark-submit would add on JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# End-to-end metrics: every workload reports all of them; what
# "latency" and "throughput" count is the workload's own user-facing
# operation (README.md).
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "success_rate": "ratio",
    "peak_heap_mb": "MB",
    "store_mb": "MB",
}
# The operation behind latency_p50_s, and throughput's (work, seconds)
# counters, per workload.
LATENCY_KIND = {"ingest": "upload", "dashboard": "lookup",
                "curation": "pass_s"}
THROUGHPUT = {"ingest": ("claims_uploaded", "upload_loop_s"),
              "dashboard": ("session_ops", "session_total_s"),
              "curation": ("docs_done", "pass_total_s")}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
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


def build():
    """Compile library + runner with sbt unless this source state is built."""
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("claimbench: sbt is not on PATH")
    log("claimbench: building library and runner with sbt")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile", "writeClasspath"]
    r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit("claimbench: build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def base_cache(inputs):
    """The checkout's claims-base cache dir for this source and base
    input state; caches of other states are removed.
    """
    h = hashlib.sha256(source_digest().encode())
    for f in ("base.csv", "sales.csv"):
        with open(os.path.join(inputs, f), "rb") as fh:
            h.update(fh.read())
    name = "base-" + h.hexdigest()[:16]
    for old in os.listdir(WORK):
        if old.startswith("base-") and old != name:
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    return os.path.join(WORK, name)


def java_cmd(args, inputs, work, out, cores):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    opts += ["-Xms1g", "-Xmx3g", "-XX:+UseG1GC", "-Dfile.encoding=UTF-8",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false"]
    return [java] + opts + ["-cp", cp, "graft.claimbench.Main",
                            "--workload", args.workload,
                            "--seed", str(args.seed),
                            "--seconds", str(args.seconds),
                            "--trace", str(args.trace),
                            "--inputs", inputs, "--work", work,
                            "--out", out, "--cores", str(cores),
                            "--setups", str(SETUPS[args.workload])] + (
        ["--base-cache", base_cache(inputs)]
        if args.workload in ("ingest", "dashboard") else [])


def run_jvm(cmd, work, deadline):
    """Runs the runner JVM; kills it (and waits) at the deadline."""
    # Korean partition directory names need a UTF-8 file-path encoding;
    # the persisted vector/dedup stores start empty under the run dir.
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8",
               GRAFT_INDEX_ROOT=os.path.join(work, "index"))
    logf = os.path.join(work, "runner.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             env=env, cwd=work)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    return rc, logf


def tail(path, n=40):
    with open(path, encoding="utf-8", errors="replace") as f:
        return "".join(f.readlines()[-n:])


def end_to_end(workload, res):
    """The end-to-end metrics; a run whose operations all failed reads 0
    where it has no sample (its result line says correct: false).
    """
    s, c = res["samples"], res["counters"]
    lat = s.get(LATENCY_KIND[workload], [])
    work_key, secs_key = THROUGHPUT[workload]
    return {
        "setup_s": median(s["setup_s"]) if s.get("setup_s") else 0.0,
        "latency_p50_s": median(lat) if lat else 0.0,
        "throughput_per_s": c.get(work_key, 0.0) / c[secs_key]
        if c.get(secs_key) else 0.0,
        "success_rate": 1.0 - res["failed"] / attempted(res),
        "peak_heap_mb": c.get("peak_heap_mb", 0.0),
        "store_mb": c.get("store_bytes", 0.0) / MB,
    }


def attempted(res):
    """Operations attempted; a run that failed before its first timed
    operation counts its failure as the one attempt.
    """
    return max(res["attempted"], res["failed"], 1)


def report_lines(workload, res):
    """The metrics under their design-note names, with units and sample
    counts.
    """
    s, c = res["samples"], res["counters"]
    e = end_to_end(workload, res)
    out = []

    def dist(name, kind, pcts=(50,)):
        xs = s.get(kind, [])
        if not xs:
            return
        for q in pcts:
            out.append("%-24s %12.4f s   p%d of n=%d" % (
                name.replace("{q}", str(q)), percentile(xs, q), q, len(xs)))

    dist("setup_s", "setup_s")
    if workload == "ingest":
        dist("upload_p{q}_s", "upload")
        out.append("%-24s %12.1f 1/s claims %d over %.2f s" % (
            "ingest_claims_per_s", e["throughput_per_s"],
            c.get("claims_uploaded", 0), c.get("upload_loop_s", 0)))
    if workload == "dashboard":
        dist("session_s", "session_s")
        dist("lookup_p{q}_s", "lookup", (50, 90))
        dist("risk_scan_p{q}_s", "risk_scan")
    if workload == "curation":
        dist("pass_s", "pass_s")
        out.append("%-24s %12.1f 1/s docs %d over %.2f s" % (
            "curation_docs_per_s", e["throughput_per_s"],
            c.get("docs_done", 0), c.get("pass_total_s", 0)))
    out.append("%-24s %12.4f     failed %d of %d attempted" % (
        "error_rate", res["failed"] / attempted(res), res["failed"],
        attempted(res)))
    if "base_build_s" in c:
        out.append("%-24s %12.4f s   claims base build, once per checkout "
                   "(part of setup_s)" % ("base_build_s", c["base_build_s"]))
    out.append("%-24s %12.1f MB  largest heap live set after a full GC" % (
        "peak_heap_mb", e["peak_heap_mb"]))
    out.append("%-24s %12.2f MB  on disk after the run" % (
        "store_mb", e["store_mb"]))
    return out


def layer_metrics(workload, res):
    """Per-layer metrics, plus what tracing cost this run: the listener's
    own callback time, and the traced run's end-to-end figures (the
    overhead is these minus an untraced run's at the same seed).
    """
    m = dict(res["layers"])
    e2e = end_to_end(workload, res)
    m["trace.latency_p50_s"] = e2e["latency_p50_s"]
    m["trace.throughput_per_s"] = e2e["throughput_per_s"]
    return m


def unit_of(name):
    leaf = name.split(".", 1)[1]
    if leaf == "throughput_per_s":
        return "1/s"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf == "rows_per_file":
        return "rows/file"
    if leaf in ("read_amp", "write_amp", "touched_per_rewritten",
                "verified_per_candidate", "core_util", "listener_share"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(LIBRARY):
        log("claimbench: library sources not found at %s" % LIBRARY)
        return 2
    build()
    t_start = time.time()  # the time limit counts from here: a build
    # happens only on the first run of a checkout

    work = os.path.join(WORK, "%s-%d-%d" % (args.workload, args.seed,
                                            os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s = []
        for k in range(SETUPS[args.workload]):
            inputs = os.path.join(work, "inputs-%d" % k)
            t0 = time.perf_counter()
            sizes = gen.generate(args.workload, args.seed, inputs)
            gen_s.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(os.path.join(work, "inputs-%d" % (k - 1)))
        cores = len(os.sched_getaffinity(0))
        out = os.path.join(work, "result.json")
        rc, logf = run_jvm(java_cmd(args, inputs, work, out, cores), work,
                              t_start + RUN_LIMIT_S)
        if rc != 0 or not os.path.exists(out):
            log(tail(logf))
            log("claimbench: runner %s" % ("timed out" if rc is None
                                            else "exited with %d" % rc))
            return 1
        with open(out) as f:
            res = json.load(f)
        # One set-up: generate the inputs, then prepare the stores. The
        # claims base is built once per checkout (through the upload
        # verb) and restored by every run; its build seconds count in
        # every run's set-up, so work moved into the base build shows.
        res["samples"]["setup_s"] = [
            g + p + res["counters"].get("base_build_s", 0.0)
            for g, p in zip(gen_s, res["samples"]["setup_s"])]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks_ok = all(ch["ok"] for ch in res["checks"])
    correct = checks_ok and res["failed"] == 0 and not res["errors"]
    print("claimbench workload=%s seed=%d nproc=%d master=%s spark=%s "
          "seconds=%s trace=%d passes=%d" % (
              args.workload, args.seed, cores, res["spark_master"],
              res["spark_version"], args.seconds, args.trace,
              res["counters"].get("passes", 0)))
    print("inputs " + " ".join("%s=%s" % kv for kv in sorted(sizes.items())))
    c = res["counters"]
    print("phases spark_start=%.1fs setup=%.1fs warmup=%.1fs measure=%.1fs "
          "total=%.1fs" % (c.get("session_start_s", 0), c.get("setup_phase_s", 0),
                           c.get("warmup_s", 0), c.get("measure_s", 0),
                           time.time() - t_start))
    for ch in res["checks"]:
        if not ch["ok"]:
            print("CHECK FAILED %s: %s" % (ch["name"], ch["detail"]))
    for e in res["errors"]:
        print("ERROR " + e)
    if args.trace:
        metrics = layer_metrics(args.workload, res)
        for k in sorted(metrics):
            print("%-36s %14.4f %s" % (k, metrics[k], unit_of(k)))
        for k, v in sorted(res["jobs_by_layer"].items()):
            print("jobs %-40s %d" % (k, v))
        units = {k: unit_of(k) for k in metrics}
    else:
        metrics = end_to_end(args.workload, res)
        for line in report_lines(args.workload, res):
            print(line)
        units = END_TO_END
    print("verdict %s (%d checks)" % ("PASS" if correct else "FAIL",
                                      len(res["checks"])))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted(res),
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
