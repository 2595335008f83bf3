#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 30 --trace 0

The first run in a checkout compiles the engine and the harness
(perfbench/build.py) and writes the scaled input data (perfbench/data.py)
under `.bench_build/`. A run then starts one engine JVM (local[<cpus>],
one client thread in a closed loop), times its set-up, runs the
workload's query mix in seed order, checks every output against its
DuckDB oracle, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`.

`--trace 0` reports the end-to-end metrics. `--trace 1` runs the workload
twice, untraced and then traced, and reports the per-layer metrics of the
traced JVM plus the tracing overhead; its spans go to
`.bench_build/trace/<workload>-seed<seed>.spans.jsonl`.
See perfbench/README.md for the metrics and workloads.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

import build  # noqa: E402
import data  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

CPUS = os.cpu_count() or 4
HEAP = "3g"
# one invocation, after any build, must end within this many seconds
RUN_BUDGET_S = 170
REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
            os.path.join(data.FIXTURE, "lineitem.parquet")]

END_TO_END_UNITS = {"setup_s": "s", "queries_per_s": "1/s", "latency_p50_ms": "ms",
                    "peak_rss_mb": "MB"}


class RunError(Exception):
    pass


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def prepare(root, wl):
    """Builds the program and the workload's data once per checkout."""
    os.makedirs(os.path.join(root, build.BUILD), exist_ok=True)
    with open(os.path.join(root, build.BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classpath = build.ensure(root)
        fixture = os.path.join(root, data.FIXTURE)
        if wl["scale"] == 1:
            data_dir = fixture
        else:
            data_dir = data.scaled(root, wl["scale"],
                                   os.path.join(root, build.BUILD, "data", f"x{wl['scale']}"))
    return classpath, data_dir, fixture


def cpu_times():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return sum(f[:3]) + sum(f[5:7]), f[7]


def jvm_env():
    # engine tunables and Spark's scratch-dir override come only from the
    # harness's session settings, never from the calling shell
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS",
                                                              "JAVA_TOOL_OPTIONS")}


def run_jvm(root, classpath, work, args, deadline):
    """Starts the harness JVM in a fresh work dir; returns (setup_s, lines).

    setup_s runs from the JVM's launch to its `ready` line. The JVM is
    killed if it is still running at `deadline` (monotonic seconds)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap: G1's heap sizing otherwise adds run-to-run noise
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"]
           + build.jvm_opens(root)
           + ["-cp", classpath, "graftbench.Harness", "--work", work, "--cpus", str(CPUS)] + args)
    err = open(os.path.join(work, "jvm.err"), "w")
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                            env=jvm_env())
    timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
    timer.start()
    setup_s, lines = None, []
    try:
        for line in proc.stdout:
            if not line.startswith("{"):
                continue
            rec = json.loads(line)
            if rec["kind"] == "ready" and setup_s is None:
                setup_s = time.monotonic() - t0
            lines.append(rec)
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        err.close()
    if code != 0 or setup_s is None:
        tail = open(os.path.join(work, "jvm.err")).read()[-3000:]
        raise RunError(f"engine JVM exited with {code}:\n{tail}")
    return setup_s, lines


def check_outputs(root, wl, data_dir, work, queries):
    """Marks each query record with whether its output matches the oracle."""
    out = os.path.join(work, "out")
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))
    cache_dir = os.path.join(root, build.BUILD, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    orc = oracle.Oracle(data_dir, os.path.join(cache_dir, f"x{wl['scale']}.json"),
                        os.path.join(work, "tmp"))
    verdict = {}
    for q in queries:
        why = None
        if not q["ok"]:
            why = "threw: " + q["error"]
        elif not q["repeat_ok"]:
            why = "result differs from the query's first execution in this run"
        elif q["name"] in sql:
            if wl["sink"] == "parquet":
                why = orc.check(sql[q["name"]], q["output"])
            else:
                key = q["name"]
                if key not in verdict:
                    verdict[key] = orc.check(sql[key], os.path.join(out, f"{key}.check"))
                why = verdict[key]
        q["mismatch"] = why
    orc.save()


def one_jvm(root, wl, classpath, data_dir, fixture, args, deadline, tag, trace):
    work = os.path.join(root, build.BUILD, "runs", f"{tag}-{os.getpid()}")
    passes = max(1, round(args.seconds / workloads.PASS_S))
    jargs = ["--data", data_dir, "--sink", wl["sink"], "--queries", ",".join(wl["queries"]),
             "--passes", str(passes), "--seed", str(args.seed),
             "--warmup", workloads.WARMUP, "--warmup-data", fixture]
    try:
        setup_s, lines = run_jvm(root, classpath, work, jargs + (["--trace"] if trace else []),
                                 deadline)
        kinds = {}
        for rec in lines:
            kinds.setdefault(rec["kind"], []).append(rec)
        queries = kinds.get("query", [])
        check_outputs(root, wl, data_dir, work, queries)
        if trace:
            os.makedirs(os.path.join(root, build.BUILD, "trace"), exist_ok=True)
            shutil.move(os.path.join(work, "spans.jsonl"),
                        os.path.join(root, build.BUILD, "trace",
                                     f"{args.workload}-seed{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {"setup_s": setup_s, "ready": kinds["ready"][0], "queries": queries,
            "cache": kinds.get("cache", []), "done": kinds["done"][0],
            "trace": kinds.get("trace", [{}])[0], "passes": passes}


def latencies(r):
    good = [q["ms"] for q in r["queries"] if q["ok"]]
    if not good:
        raise RunError("no query completed")
    return good


def end_to_end(r):
    good = latencies(r)
    return {
        "setup_s": r["setup_s"],
        "queries_per_s": len(good) / (sum(good) / 1000.0),
        "latency_p50_ms": statistics.median(good),
        "peak_rss_mb": r["done"]["peak_rss_mb"],
    }


PER_LAYER_UNITS = {
    "setup.session_ms": "ms", "setup.warmup_ms": "ms",
    "construct.ms": "ms", "construct.jobs": "count",
    "plan.analysis_ms": "ms", "plan.optimize_ms": "ms", "plan.physical_ms": "ms",
    "plan.count": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_ms": "ms", "sched.task_wait_ms": "ms", "sched.failed_task_frac": "ratio",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.core_busy_frac": "ratio", "exec.spill_bytes": "B", "exec.peak_mem_bytes": "B",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_ms": "ms",
    "scan.bytes_read": "B", "scan.rows_read": "count",
    "sink.ms": "ms", "sink.bytes_written": "B", "sink.result_bytes": "B",
    "cache.rdds_left": "count", "cache.bytes_left": "B",
    "self.construct_ms": "ms", "self.plan_ms": "ms", "self.sched_ms": "ms",
    "self.exec_ms": "ms", "self.sink_ms": "ms", "self.unattributed_ms": "ms",
    "trace.queries_per_s": "1/s", "trace.overhead_qps": "1/s", "trace.overhead_frac": "ratio",
}


def per_layer(untraced, traced):
    m = dict(traced["trace"])
    m["setup.session_ms"] = traced["ready"]["session_ms"]
    m["setup.warmup_ms"] = traced["ready"]["warmup_ms"]
    n = max(1, len(traced["cache"]))
    m["cache.rdds_left"] = sum(c["rdds_left"] for c in traced["cache"]) / n
    m["cache.bytes_left"] = sum(c["bytes_left"] for c in traced["cache"]) / n
    qps_u = end_to_end(untraced)["queries_per_s"]
    qps_t = end_to_end(traced)["queries_per_s"]
    m["trace.queries_per_s"] = qps_t
    m["trace.overhead_qps"] = qps_u - qps_t
    m["trace.overhead_frac"] = (qps_u - qps_t) / qps_u
    missing = set(PER_LAYER_UNITS) - set(m)
    if missing:
        raise RunError(f"trace lacks {sorted(missing)}")
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=workloads.PASS_S)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        fail(f"run from the root of a graft checkout; missing {', '.join(missing)}")
    wl = workloads.WORKLOADS[args.workload]
    try:
        classpath, data_dir, fixture = prepare(root, wl)
        base = (root, wl, classpath, data_dir, fixture, args, time.monotonic() + RUN_BUDGET_S)
        cpu0 = cpu_times()
        runs = [one_jvm(*base, f"{args.workload}-s{args.seed}", False)]
        if args.trace:
            runs.append(one_jvm(*base, f"{args.workload}-s{args.seed}-traced", True))
    except (RunError, RuntimeError) as e:
        fail(str(e))

    cpu1 = cpu_times()
    busy, steal = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    print(f"cpu steal during the run: {100 * steal / max(1, busy + steal):.1f}% of busy time")
    executions = [q for r in runs for q in r["queries"]]
    bad = [q for q in executions if q["mismatch"]]
    for q in runs[-1]["queries"]:
        print(f"query {q['name']:<28} pass {q['pass']} {q['ms']:10.1f} ms "
              f"{'FAIL ' + q['mismatch'][:200] if q['mismatch'] else 'ok'}")
    e2e = end_to_end(runs[0])
    print(f"workload={args.workload} seed={args.seed} scale=sf{0.01 * wl['scale']:g} "
          f"sink={wl['sink']} cpus={CPUS} passes={runs[0]['passes']} "
          f"timed_queries={len(runs[0]['queries'])}")
    print(f"error_rate={len(bad) / len(executions):.4f} ratio ({len(bad)}/{len(executions)})")
    if args.trace:
        metrics = per_layer(runs[0], runs[1])
        wall = sum(q["ms"] for q in runs[1]["queries"]) / max(1, len(runs[1]["queries"]))
        print(f"self time per query (ms), of {wall:.1f} ms wall:")
        for k in ("construct", "plan", "sched", "exec", "sink", "unattributed"):
            print(f"  {k:<13} {metrics[f'self.{k}_ms']['value']:10.2f}")
        print(f"tracing overhead: {metrics['trace.overhead_qps']['value']:+.4f} queries/s "
              f"({100 * metrics['trace.overhead_frac']['value']:+.2f}% of untraced "
              f"{e2e['queries_per_s']:.4f})")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        for k, v in metrics.items():
            print(f"{k}={v['value']:.4f} {v['unit']}")
        # printed, not gated: a p90 of a few dozen samples has fewer than
        # ten beyond it, and spreads too widely from run to run to compare
        good = latencies(runs[0])
        p90 = statistics.quantiles(good, n=10, method="inclusive")[8] if len(good) > 1 else good[0]
        print(f"latency_p90_ms={p90:.4f} ms (from {len(good)} samples)")
    print(json.dumps({"correct": not bad, "attempted": len(executions), "failed": len(bad),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
