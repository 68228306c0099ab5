#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload feed_ingest --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark if needed (perfbench/build.py), runs the
workload in one JVM on local[<cores>], checks every output, and prints a
human summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics. Exit status is 0 only when every operation
succeeded and every output was correct. A run always measures one pass of
the workload: `--seconds` is accepted for the benchmark interface but does
not change the work, so two builds are measured on the same operations.
`--inject` (self-test only) takes a comma list of missing_column,
tampered_expectation (feed_ingest) or tampered_result (registry workloads).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("feed_ingest", "corpus_curation", "star_analytics")
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
CHECK_ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# per-workload names of the end-to-end metrics, as the summary prints them
NAMED = {
    "feed_ingest": ["feed_latency_p50_s", "feed_latency_p90_s", "feed_rows_per_s"],
    "corpus_curation": ["curation_pass_s", "curation_geomean_s"],
    "star_analytics": ["analytics_pass_s", "analytics_geomean_s"],
}


def declared(kind):
    """Metric names BENCHMARK.json declares for `kind`, or None without it."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    return [m["name"] for m in json.load(open(path))[kind]]


def jvm(cp, args, work, out, cores):
    cmd = (["java", "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC", "-Xss4m"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
              "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--trace", str(args.trace), "--cores", str(cores), "--work", work, "--out", out,
              "--corpus", CORPUS, "--inject", args.inject or "",
              "--python", sys.executable, "--check-oracle", CHECK_ORACLE])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        # its own process group: the JVM starts the oracle check as a child
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        stop_group(p)
        return code


def stop_group(p):
    """Kill whatever is left of the JVM's process group and wait until it is gone."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()
    for _ in range(500):
        try:
            os.killpg(p.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.01)


def oracle_verdicts(work, res):
    """Parse the repository's DuckDB oracle check, which the JVM ran over the
    kept results (`tools/check_oracle.py`, stdout in oracle_check.out).

    Returns {query: None if it passed, else the reason}. A query the tool
    printed no verdict for (it stopped early) counts as wrong.
    """
    queries = json.load(open(os.path.join(work, "dump", "oracle_sql.json")))
    verdict = {}
    for line in open(os.path.join(work, "oracle_check.out"), errors="replace").read().splitlines():
        word, _, rest = line.partition(" ")
        name, _, why = rest.partition(": ")
        if word in ("PASS", "FAIL") and name in queries:
            verdict[name] = None if word == "PASS" else why
    err = open(os.path.join(work, "oracle_check.err"), errors="replace").read()
    tail = (err.strip().splitlines() or [""])[-1]
    code = res["inputs"].get("oracle_check_exit")
    return {q: verdict[q] if q in verdict else f"no verdict from check_oracle.py (exit {code}) {tail}"
            for q in queries}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="")
    args = ap.parse_args()

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"perfbench: build failed: {e}")

    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".bench_build", "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    t0 = time.time()
    code = jvm(cp, args, work, out, cores)
    if code != 0 or not os.path.isfile(out):
        log = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        sys.exit(f"perfbench: benchmark JVM {'timed out' if code is None else f'exited {code}'}\n{log}")
    res = json.load(open(out))

    if args.workload != "feed_ingest":
        wrong = oracle_verdicts(work, res)
        res["oracle"] = wrong
        for q, why in sorted(wrong.items()):
            if why:  # every execution of a query whose result is wrong fails, each counted once
                n = res["inputs"]["executions"][q] - res["inputs"]["failed_executions"][q]
                res["failures"].append(f"{q}: wrong result ({why}), {n} more failed executions")
                res["failed"] += n
    res["named"]["failed_ratio"]["value"] = res["failed"] / max(1, res["attempted"])

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = res[kind]
    want = declared(kind)
    if want is not None:
        missing = [m for m in want if m not in metrics]
        if missing:
            sys.exit(f"perfbench: metrics missing from the run: {missing}")
        metrics = {m: metrics[m] for m in want}

    runs = os.path.join(ROOT, ".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    if args.trace and os.path.isfile(os.path.join(work, "spans.json")):
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(runs, f"{tag}-spans.json"))
    untraced = os.path.join(runs, f"{args.workload}-s{args.seed}-t0.json")
    if args.trace and os.path.isfile(untraced):
        base = json.load(open(untraced))["end_to_end"]["pass_s"]["value"]
        traced = res["end_to_end"]["pass_s"]["value"]
        res["trace_overhead"] = traced / base - 1
    json.dump(res, open(os.path.join(runs, f"{tag}.json"), "w"), indent=1)
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(runs, f"{tag}.log"))
    shutil.rmtree(work, ignore_errors=True)  # generated feeds, outputs and kept results

    ok = res["failed"] == 0
    print(f"graftbench {args.workload} seed={args.seed} trace={args.trace} cores={cores} "
          f"wall={time.time() - t0:.1f}s passes={res['inputs']['passes']}")
    for name in NAMED[args.workload] + ["setup_s", "peak_rss_mb", "failed_ratio"]:
        m = res["named"][name]
        print(f"  {name:<22} {m['value']:.6g} {m['unit']}")
    samples = res["inputs"].get("feed_samples") or res["inputs"].get("query_samples")
    print(f"  latency samples        {samples}")
    if "trace_overhead" in res:
        print(f"  trace overhead         {res['trace_overhead']:+.1%} pass_s vs the untraced run of this seed")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    print(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
