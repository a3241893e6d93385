#!/usr/bin/env python3
"""graft benchmark: drives the engine through its public functions on three
workloads and prints every metric by name, with its unit and sample count.

    python3 perfbench/run.py --workload live --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8

`--workload all` runs live, vod-backfill and catalog, each untraced and
traced, and reports the tracing overhead of every end-to-end metric and the
catalog determinism report between the two catalog runs. The last line of
standard output is one JSON object: correct, attempted, failed, metrics
(the end-to-end metrics with --trace 0, the per-layer ones with --trace 1).
See perfbench/README.md for the workloads and the metric map.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import fixtures  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("live", "vod-backfill", "catalog")
E2E = ["setup_s", "latency_p50_ms", "latency_p95_ms", "throughput_per_s", "peak_rss_mb"]
PER_LAYER = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms_sum",
             "spark.core_busy_share", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
             "spark.task_skew_max", "trace.spans"]
# The report prints a gated metric under the workload's own name, where it has one.
ALIASES = {
    "live": {"latency_p50_ms": "chunk_latency_p50_ms", "latency_p95_ms": "chunk_latency_p95_ms",
             "throughput_per_s": "live_chunks_per_s"},
    "vod-backfill": {"latency_p50_ms": "manifest_read_p50_ms",
                     "latency_p95_ms": "manifest_read_p95_ms",
                     "throughput_per_s": "vod_chunks_per_s"},
    "catalog": {"latency_p50_ms": "query_median_ms", "latency_p95_ms": "query_p95_ms",
                "throughput_per_s": "queries_per_s"},
}
CATALOG_SF = 0.01
# A fixed heap (-Xms = -Xmx) keeps the JVM's heap sizing out of peak RSS.
HEAP = {"live": "1g", "vod-backfill": "1g", "catalog": "2g"}
JVM_TIMEOUT_S = 170


class RunError(Exception):
    pass


def probe_ms():
    """A fixed CPU calibration probe: 64 MB of SHA-256."""
    data = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(data)
    h.digest()
    return (time.perf_counter() - t0) * 1e3


def cpu_ticks():
    """(steal, total) CPU ticks since boot, from /proc/stat; zeros where absent."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7] if len(t) > 7 else 0, sum(t[:8])
    except (OSError, ValueError):
        return 0, 0


def host():
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg()),
            "probe_ms": probe_ms(), "cpu_ticks": cpu_ticks()}


def steal_share(before, after):
    """Share of the machine's CPU time the hypervisor gave to other guests."""
    (s0, t0), (s1, t1) = before["cpu_ticks"], after["cpu_ticks"]
    return (s1 - s0) / max(1, t1 - t0)


def run_jvm(cp, args, heap, log):
    """Runs the bench JVM to completion; returns (exit code, peak RSS in MB)."""
    cmd = ["java", *build.JDK17_OPENS, f"-Xms{heap}", f"-Xmx{heap}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={args[4]}/tmp", "-cp", cp, "perfbench.Main", *args]
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT)
    timer = threading.Timer(JVM_TIMEOUT_S, p.kill)
    timer.start()
    try:
        _, status, ru = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, ru.ru_maxrss / 1024.0


def determinism(outdir, seed, r):
    """Queries whose job/stage/task counts differ between passes of this run,
    or between this run and the previous catalog run with the same seed."""
    shapes = r["extra"]["work_shape"]
    path = os.path.join(outdir, f"ledger-catalog-{seed}.json")
    report = {"within_run": r["extra"]["unstable_shapes"], "vs_previous_run": None}
    if os.path.exists(path):
        prev = json.load(open(path))
        report["vs_previous_run"] = sorted(
            q for q in shapes if q in prev and prev[q][0] != shapes[q][0])
    with open(path, "w") as f:
        json.dump(shapes, f)
    return report


def run_workload(name, seed, seconds, trace, cp):
    work = os.path.join(ROOT, ".bench_work", f"{name}-{seed}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(outdir, exist_ok=True)
    try:
        fx = ""
        if name == "catalog":
            fx = os.path.join(work, "fixtures")
            fixtures.generate(fx, seed, CATALOG_SF)
        os.sync()  # write back what earlier runs left dirty before timing starts
        before = host()
        result = os.path.join(work, "result.json")
        tj = time.time()
        rc, rss = run_jvm(cp, [name, str(seed), str(seconds), str(trace), work, result, fx],
                          HEAP[name], os.path.join(work, "jvm.log"))
        after = host()
        if rc != 0 or not os.path.exists(result):
            log = open(os.path.join(work, "jvm.log"), errors="replace").read()
            errs = [l for l in log.splitlines() if "Exception" in l or "Error" in l]
            raise RunError(f"{name}: the bench JVM exited with {rc}\n" + "\n".join(errs[:20]))
        r = json.load(open(result))
        r["jvm_wall_s"] = time.time() - tj
        r["host_before"], r["host_after"] = before, after
        r["metrics"]["peak_rss_mb"] = {"value": rss, "unit": "MB", "samples": 1}
        if name == "catalog":
            import oracle
            fails = oracle.check(fx, os.path.join(work, "out"), r["extra"]["queries"],
                                 r["extra"]["oracle_sql"])
            r["attempted"] += len(r["extra"]["queries"])
            r["failed"] += len(fails)
            r["errors"] += [f"{q}: oracle mismatch: {m}" for q, m in sorted(fails.items())]
            r["determinism"] = determinism(outdir, seed, r)
            for k in ("oracle_sql", "work_shape", "query_ms"):
                r["extra"].pop(k)
        if trace:
            spans = os.path.join(outdir, f"spans-{name}-{seed}.jsonl")
            shutil.move(result + ".spans.jsonl", spans)
            r["span_file"] = os.path.relpath(spans, ROOT)
        return r
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()


def fmt(m):
    return f"{m['value']:.4f} {m['unit']} (n={m['samples']})"


def report(name, seed, seconds, trace, r):
    print(f"perfbench {name} seed={seed} seconds={seconds} trace={trace} "
          f"nproc={r['host_before']['nproc']} "
          f"loadavg={r['host_before']['loadavg'][0]:.2f}->{r['host_after']['loadavg'][0]:.2f} "
          f"probe_ms={r['host_before']['probe_ms']:.1f}->{r['host_after']['probe_ms']:.1f} "
          f"cpu_steal={steal_share(r['host_before'], r['host_after']):.3f}")
    alias = ALIASES[name]
    for k in sorted(r["metrics"], key=lambda k: alias.get(k, k)):
        print(f"  {alias.get(k, k):34s} {fmt(r['metrics'][k])}")
    rate = r["failed"] / max(1, r["attempted"])
    print(f"  {'error_rate':34s} {rate:.4f} failed/attempted (n={r['attempted']})")
    for e in r["errors"][:20]:
        print(f"  ERROR {e}")
    if "determinism" in r:
        print(f"  determinism: counts differ between passes: {r['determinism']['within_run'] or 'none'}; "
              f"vs previous run: {r['determinism']['vs_previous_run']}")
    if trace:
        for k in sorted(r["layers"]):
            print(f"  layer {k:40s} {fmt(r['layers'][k])}")
        unc = r["extra"].get("batch_uncovered_ms")
        if unc:
            print("  triggerExecution not covered by phase spans, per batch (ms): " +
                  json.dumps({b: unc[b] for b in sorted(unc, key=int)}))
        print(f"  spans: {r['span_file']}")
    print("perfbench-report " + json.dumps({"workload": name, "seed": seed, **r}, sort_keys=True))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build.build()
        names = WORKLOADS if a.workload == "all" else (a.workload,)
        traces = (0, 1) if a.workload == "all" else (a.trace,)
        results = {}
        for name in names:
            for t in traces:
                results[(name, t)] = r = run_workload(name, a.seed, a.seconds, t, cp)
                report(name, a.seed, a.seconds, t, r)
    except (build.BuildError, RunError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    if a.workload == "all":
        for name in names:
            u, t = results[(name, 0)]["metrics"], results[(name, 1)]["metrics"]
            print(f"perfbench tracing overhead {name}: " + ", ".join(
                f"{k} {t[k]['value'] / u[k]['value'] - 1:+.1%}" for k in E2E))
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    if a.workload == "all":
        metrics = {f"{n}.{k}": {"value": m["value"], "unit": m["unit"]}
                   for (n, t), r in results.items() if t == 0
                   for k, m in r["metrics"].items() if k in E2E}
    else:
        (r,) = results.values()
        src = r["layers"] if a.trace else r["metrics"]
        names = PER_LAYER if a.trace else E2E
        metrics = {k: {"value": src[k]["value"], "unit": src[k]["unit"]} for k in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
