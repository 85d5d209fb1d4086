#!/usr/bin/env python3
"""Run the benchmark.

One run of one workload (the form BENCHMARK.json's command uses):

    python3 perfbench/run.py --workload serve_tenants --seed 1 --seconds 7 --trace 0

builds the program and the harness if needed (perfbench/build.py), runs the
workload in a fresh local-mode JVM, checks every answer, prints each metric
by name with its unit and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 runs the same workload with spans and the
Spark listener on and reports the per-layer metrics. The exit code is 0
only when every check passed.

Every workload, untraced and traced, with the tracing overhead:

    python3 perfbench/run.py --all [--seed 1] [--seconds 7]

Each run's record is appended to .bench_build/results/runs.jsonl, the
input of perfbench/compare.py. The benchmark's own tests:

    python3 -m unittest discover -s perfbench/tests
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import stats  # noqa: E402

BUILD = ROOT / ".bench_build"
RESULTS = BUILD / "results"
RUN_LIMIT_S = 170

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def bench_spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def heap():
    """Driver heap as the tier-1 test command sizes it: half the host's
    memory, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def commit():
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if res.returncode == 0:
            return res.stdout.strip()
    except OSError:
        pass
    return "source:" + build.source_digest()


def run_jvm(classpath, workload, seed, seconds, trace, deadline):
    out = BUILD / "runs" / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["--add-modules=jdk.incubator.vector", f"-Xmx{heap()}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={out / 'tmp'}",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--out", str(out),
            "--layers", str(HERE / "layers.json")]
    log = out / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=out, start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"run: {workload} did not finish in time; log {log}")
    if proc.returncode != 0 or not (out / "result.json").exists():
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"run: harness exited with {proc.returncode}")
    with open(out / "result.json") as f:
        result = json.load(f)
    return out, result


def metrics_of(result, trace, spec):
    if trace:
        values = result["layers"]["metrics"]
        wanted = spec["per_layer"]
    else:
        lat = result["latency_ms"]
        values = dict(result["e2e"])
        values["p50_ms"] = stats.percentile(lat, 50)
        values["p90_ms"] = stats.percentile(lat, 90)
        wanted = spec["end_to_end"]
    out = {}
    for m in wanted:
        v = values.get(m["name"])
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def run_one(workload, seed, seconds, trace, started):
    spec = bench_spec()
    names = [w["name"] for w in spec["workloads"]]
    if workload not in names:
        raise SystemExit(f"run: unknown workload {workload}; one of {names}")
    classpath = build.build()
    # the first run in a checkout may spend its time building; the run
    # itself gets the usual limit from here
    out, result = run_jvm(classpath, workload, seed, seconds, trace,
                          time.time() + RUN_LIMIT_S - min(30, time.time() - started))
    metrics = metrics_of(result, trace, spec)
    missing = [k for k, v in metrics.items()
               if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    failures = list(result["failures"])
    if missing:
        failures.append(f"metrics without a value: {missing}")
    attempted = max(1, int(result["attempted"]))
    failed = int(result["failed"])
    correct = failed == 0 and not missing
    prov = dict(result["provenance"], commit=commit(), heap=heap())

    lat = result["latency_ms"]
    print(f"workload {workload}  seed {seed}  trace {trace}  "
          f"requests {len(lat)}  p90_ms {stats.percentile(lat, 90):.1f}  "
          f"p99_ms {stats.percentile(lat, 99):.1f}  queries {result['queries']}  "
          f"untimed_s {result['untimed_s']:.2f}  session_s {result['session_s']:.2f}")
    print("provenance " + json.dumps(prov, sort_keys=True))
    if prov.get("high_steal"):
        print(f"WARNING: CPU steal {prov['cpu_steal_share']:.1%} during the timed phase")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']!s:>24} {m['unit']}")
    print(f"  {'error_rate':40s} {failed / attempted:>24} ratio")
    if result.get("extra"):
        print("extra " + json.dumps(result["extra"], sort_keys=True))
    if trace:
        lay = result["layers"]
        print(f"spans (name: count, median ms, total ms, self ms, gc ms, jobs)")
        for name, s in sorted(lay["spans"].items()):
            print(f"  {name:32s} {s['count']:6d} {s['median_ms']:10.2f} {s['total_ms']:10.1f} "
                  f"{s['self_ms']:10.1f} {s['gc_ms']:6d} {s['jobs']:6d}")
        print(f"jobs_per_call hot {lay['jobs_per_call_hot']}  cold {lay['jobs_per_call_cold']}")
    for f in failures[:20]:
        print("FAILED: " + f)

    RESULTS.mkdir(parents=True, exist_ok=True)
    if trace:
        spans = result["layers"].pop("span_log")
        with open(RESULTS / f"spans-{workload}-s{seed}.json", "w") as f:
            json.dump({"fields": ["id", "parent", "req", "name", "layer", "start_ms",
                                  "end_ms", "gc_ms"], "spans": spans}, f)
    final = {"correct": correct, "attempted": attempted, "failed": failed,
             "metrics": metrics}
    with open(RESULTS / "runs.jsonl", "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                            "seconds": seconds, "provenance": prov,
                            "extra": result.get("extra", {}), "result": final}) + "\n")
    shutil.rmtree(out, ignore_errors=True)
    return final, metrics_of(result, 0, spec)


def run_all(seed, seconds):
    spec = bench_spec()
    rows = []
    ok = True
    for w in spec["workloads"]:
        plain, _ = run_one(w["name"], seed, seconds, 0, time.time())
        traced, traced_e2e = run_one(w["name"], seed, seconds, 1, time.time())
        ok = ok and plain["correct"] and traced["correct"]
        rows.append((w["name"], plain, traced_e2e))
    print()
    print("end-to-end metrics (untraced runs)")
    for name, plain, _ in rows:
        print(f"[{name}]  error_rate {plain['failed'] / plain['attempted']:.4f}")
        for m, v in plain["metrics"].items():
            print(f"  {m:24s} {v['value']:>14.4f} {v['unit']}")
    print()
    print("tracing overhead: traced run against untraced run, same seed")
    overhead = {}
    for name, plain, traced_e2e in rows:
        overhead[name] = {}
        for m, v in plain["metrics"].items():
            base, got = v["value"], traced_e2e[m]["value"]
            overhead[name][m] = (got - base) / base if base else None
        print(f"  {name}: " + ", ".join(
            f"{m} {100 * overhead[name][m]:+.1f}%" for m in ("qps", "p50_ms", "p90_ms")))
    with open(RESULTS / "overhead.json", "w") as f:
        json.dump(overhead, f, indent=1)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()
    started = time.time()
    seconds = args.seconds or bench_spec()["run_seconds"]
    if args.all:
        sys.exit(0 if run_all(args.seed, seconds) else 1)
    if not args.workload:
        ap.error("--workload or --all is required")
    final, _ = run_one(args.workload, args.seed, seconds, args.trace, started)
    print(json.dumps(final))
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
