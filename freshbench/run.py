#!/usr/bin/env python3
"""Freshness benchmark of the CDC extractor.

    python3 freshbench/run.py --workload extract_steady --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Builds the extractor and the harness from
source (freshbench/build.sh, cached in .bench_build/), runs one JVM with
Spark local[nproc], checks the extracted output, prints every metric by
name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--workload all` runs
every workload in turn and ends with one line for all of them, its metric
names prefixed with the workload's. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones and writes the trace
spans to .bench_build/traces/. The raw observations of the last run of
each (workload, seed, trace) stay in .bench_build/raw/. See
freshbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

WORKLOADS = ("extract_steady", "extract_backlog")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170     # one harness run, after the build
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("freshbench: " + msg, file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, log, timeout, env=None):
    """Run cmd in its own process group with stdout+stderr to `log`; kill
    the whole group on timeout and wait for it. Returns (code, stdout)."""
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail("%s timed out after %ds (log: %s)" % (cmd[0], timeout, log))
    return p.returncode, out.decode()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compile (or reuse) the classes; returns the Spark jar directory."""
    os.makedirs(".bench_build", exist_ok=True)
    build_log = os.path.abspath(".bench_build/build.log")
    code, out = run_bounded(["bash", "freshbench/build.sh"], build_log,
                            BUILD_TIMEOUT_S)
    if code != 0 or not out.strip():
        fail("build failed (log: %s)\n%s" % (build_log, tail(build_log)))
    return out.strip().splitlines()[-1]


def harness(jars, workload, seed, seconds, trace):
    """Run the JVM harness once; returns its raw observations."""
    work = os.path.abspath(".bench_build/run-%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    log = os.path.abspath(".bench_build/%s.log" % workload)
    if os.path.exists(log):
        os.remove(log)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.abspath("freshbench/log4j2.properties"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", os.path.abspath(".bench_build/classes") + os.pathsep
            + os.path.join(jars, "*"),
            "freshbench.FreshBench", workload, str(seed), str(seconds),
            str(trace), work, raw_path]
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    code, _ = run_bounded(cmd, log, RUN_TIMEOUT_S, env)
    if code != 0 or not os.path.exists(raw_path):
        fail("harness exited %d (log: %s)\n%s" % (code, log, tail(log)))
    with open(raw_path) as f:
        raw = json.load(f)
    os.makedirs(".bench_build/raw", exist_ok=True)
    shutil.move(raw_path, ".bench_build/raw/%s-seed%d-trace%d.json"
                % (workload, seed, trace))
    shutil.rmtree(work, ignore_errors=True)
    return raw


def report(raw, workload, seed, seconds, trace):
    """Print the run's record and metrics; returns its result object."""
    try:
        e2e, ctx = metrics.end_to_end(raw)
        attempted, failed = metrics.check(raw)
        layer = metrics.per_layer(raw, ctx["batches"], ctx["latency_samples"]) \
            if trace else None
    except metrics.Bad as e:
        fail("no result: %s" % e)

    print("workload %s  seed %d  seconds %d  trace %d" % (workload, seed, seconds, trace))
    print("env " + json.dumps(metrics.environment(raw), sort_keys=True))
    c = raw["check"]
    print("check landed=%d lines=%d missing=%d duplicated=%d wrong=%d "
          "commit_ts_mismatch=%d error_frac=%.6f latency_samples=%d"
          % (c["landed"], c["lines"], c["missing"], c["duplicated"], c["wrong"],
             c["commit_ts_mismatch"], failed / attempted, ctx["latency_samples"]))
    for name, (unit, better) in metrics.END_TO_END.items():
        print("%-34s %14.4f %-7s (%s is better)" % (name, e2e[name], unit, better))
    if trace:
        for name, (unit, better) in metrics.PER_LAYER.items():
            print("%-34s %14.4f %-7s" % (name, layer[name], unit))
        spans = metrics.spans(ctx["batches"], raw.get("trace", {}), raw["query_id"])
        print("self time by span (ms): " + json.dumps(
            {k: round(v, 1) for k, v in sorted(metrics.self_times(spans).items())}))
        os.makedirs(".bench_build/traces", exist_ok=True)
        with open(".bench_build/traces/%s-seed%d.json" % (workload, seed), "w") as f:
            json.dump({"workload": workload, "seed": seed, "spans": spans}, f)

    chosen = layer if trace else e2e
    table = metrics.PER_LAYER if trace else metrics.END_TO_END
    return {
        "correct": failed == 0 and ctx["latency_missing"] == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": table[k][0]} for k in table},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or all of them in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isdir("src/main/scala") and os.path.isfile("build.sbt")):
        fail("run from the repository root: the extractor's sources are missing")
    jars = build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in names:
        raw = harness(jars, w, a.seed, a.seconds, a.trace)
        results[w] = report(raw, w, a.seed, a.seconds, a.trace)
    if len(names) == 1:
        print(json.dumps(results[a.workload]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {"%s.%s" % (w, k): v for w, r in results.items()
                        for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
