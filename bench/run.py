#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 bench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

The engine is built from this checkout's sources (bench/build.py), then
one JVM runs the workload as a closed loop with one client thread on
local[nproc]: a session start and an untimed warm pass (set-up), then
timed passes over seed-permuted query orders until --seconds have
passed and at least the workload's MIN_PASSES passes are done. The warm
pass saves each query's result as parquet instead of to the noop sink;
after the JVM exits those results are compared with DuckDB. The seed
only permutes the order of queries in each pass; the engine always
reads the fixtures in bench/data (the sf0.01 tables).

--trace 0 times every pass with no listener attached and reports the
end-to-end metrics: set-up wall time (process start through the warm
pass), CPU seconds of the engine process per pass and per query
(median), and the heap in use after a forced GC. Wall-clock pass and
query times are printed and kept in the report but are not metrics: on
a virtual machine whose hypervisor steals CPU they spread across runs by
more than any usable bound, while the CPU time the engine process spends
does not count stolen time. --trace 1 alternates
untraced and traced passes, reports the per-layer metrics of the traced
ones, and the tracing overhead as the difference of their median pass
times. Both write a report with per-query figures (and, traced, the
span tree) to .bench_out/. The last line of standard output is one
JSON object.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

DATA_DIR = os.path.join(HERE, "data")
OUT_DIR = os.path.join(build.ROOT, ".bench_out")
RUNS_DIR = os.path.join(build.ROOT, ".bench_runs")
MAX_PASSES = 400
RUN_LIMIT_S = 175

CHECKER = os.path.join(build.ROOT, "scripts", "check_oracle.py")

# The metrics this runner reports, name -> unit: BENCHMARK.json's
# end_to_end ones for --trace 0 and its per_layer ones for --trace 1.
with open(os.path.join(build.ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classpath, props, args):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:-UsePerfData"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", ":".join(classpath), "graftbench.Main"] +
            [f"{k}={v}" for k, v in args.items()])


def run_jvm(cmd, env, log_path, timeout):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=build.ROOT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"bench: JVM did not finish within {timeout:.0f} s")
        finally:
            if proc.poll() is None:  # timed out or interrupted
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"bench: JVM exited {code}")


def catalog(classpath):
    """Every query name and oracle SQL of the built engine, cached beside
    the driver's classes."""
    path = os.path.join(classpath[0], "catalog.json")
    if not os.path.exists(path):
        run_jvm(java_cmd(classpath, {}, {"mode": "catalog", "out": path + ".tmp"}),
                dict(os.environ), os.path.join(build.BUILD_DIR, "catalog.log"), 120)
        os.rename(path + ".tmp", path)
    with open(path) as fh:
        return json.load(fh)


def pressure():
    """Host CPU and I/O pressure counters (microseconds stalled) and the
    CPU time the hypervisor stole (clock ticks), a diagnostic of how
    busy the machine was; empty where unsupported."""
    out = {}
    try:
        with open("/proc/stat") as fh:
            out["cpu_steal_ticks"] = int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        pass
    for res in ("cpu", "io"):
        try:
            with open(f"/proc/pressure/{res}") as fh:
                for line in fh:
                    kind, *fields = line.split()
                    out[f"{res}_{kind}_us"] = int(dict(
                        f.split("=") for f in fields)["total"])
        except OSError:
            pass
    return out


def check(check_dir, oracle, warm, timeout):
    """The output check, run after the JVM has exited: the repo's own
    checker (scripts/check_oracle.py) compares each oracled result the
    warm pass wrote with DuckDB running its oracle SQL over the same
    fixtures, and lints every written result. Returns {name: None or
    why} for every query of the pass; an un-oracled query passes when it
    completed and its output passed the lint."""
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as fh:
        json.dump(oracle, fh)
    r = subprocess.run([sys.executable, CHECKER, DATA_DIR, check_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, cwd=build.ROOT, timeout=timeout)
    if r.returncode not in (0, 1):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"bench: output check exited {r.returncode}")
    verdicts = {w["name"]: None if w["ok"] else "did not complete" for w in warm}
    seen = set()
    for line in r.stdout.splitlines():
        kind, _, rest = line.partition(" ")
        name, _, why = rest.strip().partition(":")
        name = name.split(" ")[0]
        if kind == "OK" and name in verdicts:
            seen.add(name)
        elif kind == "FAIL" and name in verdicts and verdicts[name] is None:
            verdicts[name] = why.strip()
    for name in oracle:
        if verdicts[name] is None and name not in seen:
            verdicts[name] = "not reported by the checker"
    return verdicts


def end_to_end(res):
    untraced = [s for s in res["samples"] if not s["traced"] and s["ok"]]
    lat = [(s["construct_ms"] + s["execute_ms"]) / 1000 for s in untraced]
    passes = [p for p in res["passes"] if not p["traced"]]
    wall = [(p["end_ms"] - p["start_ms"]) / 1000 for p in passes]
    p90, p90_beyond, p90_ok = stats.tail(lat, 90)
    return {
        "setup_s": (res["setup_end_ms"] - res["jvm_start_ms"]) / 1000,
        "setup_cpu_s": res["setup_cpu_ms"] / 1000,
        "pass_s": statistics.median(wall),
        "pass_cpu_s": statistics.median([p["cpu_ms"] / 1000 for p in passes]),
        "query_p50_s": statistics.median(lat),
        "query_cpu_p50_s": statistics.median([s["cpu_ms"] / 1000 for s in untraced]),
        "heap_live_mb": res["heap_live_bytes"] / 1e6,
    }, {
        "passes": len(wall), "pass_quartiles_s": stats.quartiles(wall),
        "samples": len(lat), "query_p90_s": p90,
        "query_p90_beyond": p90_beyond, "query_p90_supported": p90_ok,
        "disk_left_mb": res["disk_left_bytes"] / 1e6,
    }


def per_query(res):
    out = {}
    for s in res["samples"]:
        if not s["traced"] and s["ok"]:
            out.setdefault(s["name"], []).append(
                (s["construct_ms"] + s["execute_ms"]) / 1000)
    warm = {w["name"]: w["ms"] / 1000 for w in res["warm"]}
    return {n: {"median_s": statistics.median(v), "warm_s": warm.get(n)}
            for n, v in sorted(out.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated runner still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    t_start = time.time()
    cat = catalog(classpath)
    names = workloads.select(workloads.WORKLOADS[a.workload], cat["queries"])
    oracle = {n: cat["oracle"][n] for n in names if n in cat["oracle"]}

    run_dir = os.path.join(RUNS_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local, check_dir = (os.path.join(run_dir, d) for d in ("tmp", "local", "check"))
    for d in (tmp, local, check_dir):
        os.makedirs(d)
    orders_path = os.path.join(run_dir, "orders")
    with open(orders_path, "w") as fh:
        for order in workloads.pass_orders(names, a.seed, MAX_PASSES + 1):
            fh.write(",".join(order) + "\n")
    result_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cpus = len(os.sched_getaffinity(0))
    cmd = java_cmd(classpath, {
        "java.io.tmpdir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }, {
        "mode": "run", "data": DATA_DIR, "orders": orders_path, "cpus": cpus,
        "seconds": a.seconds, "min_samples": workloads.MIN_PASSES[a.workload] * len(names),
        "trace": a.trace, "check_dir": check_dir, "scratch": f"{tmp},{local}",
        "out": result_path,
    })
    before = pressure()
    try:
        run_jvm(cmd, env, os.path.join(run_dir, "jvm.log"),
                RUN_LIMIT_S - (time.time() - t_start))
        after = pressure()
        with open(result_path) as fh:
            res = json.load(fh)
        verdicts = check(check_dir, oracle, res["warm"],
                         RUN_LIMIT_S - (time.time() - t_start))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    runs = res["warm"] + res["samples"]
    failed_runs = sum(1 for r in runs if not r["ok"])
    mismatches = {n: v for n, v in verdicts.items() if v is not None}
    attempted = len(runs) + len(verdicts)
    failed = failed_runs + len(mismatches)
    e2e, extra = end_to_end(res)
    streams = [w["name"] for w in res["warm"] if w["streams"]]
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "end_to_end": e2e, "diagnostics": extra,
        "fail_frac": failed / attempted, "attempted": attempted, "failed": failed,
        "checked": {"oracled_matched": sum(
                        1 for n in oracle if verdicts[n] is None),
                    "oracled": len(oracle),
                    "unoracled_completed": sum(
                        1 for n, v in verdicts.items() if n not in oracle and v is None),
                    "unoracled": len(verdicts) - len(oracle),
                    "mismatches": mismatches},
        "stream_running": streams,
        "pressure_delta": {k: after[k] - before.get(k, 0) for k in after},
        "per_query": per_query(res),
        "passes_s": [(p["end_ms"] - p["start_ms"]) / 1000 for p in res["passes"]],
        "samples": [[s["pass"], s["name"], (s["construct_ms"] + s["execute_ms"]) / 1000]
                    for s in res["samples"]],
    }
    if a.trace:
        m = layers.per_layer(res, PER_LAYER)
        metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
        report["per_layer"] = m
        report["breakdown"] = layers.breakdown_by_query(
            [dict(layers.query_breakdown(s), name=s["name"])
             for s in res["samples"] if s["traced"]])
        report["spans"] = layers.spans(res)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as fh:
        json.dump(report, fh, indent=1)

    for k, v in e2e.items():
        print(f"{k} = {v:.4f} {END_TO_END.get(k, 's')}")
    q1, _, q3 = extra["pass_quartiles_s"]
    print(f"pass_s quartiles = {q1:.4f} .. {q3:.4f} s over {extra['passes']} passes")
    print(f"query_p90_s = {extra['query_p90_s']:.4f} s "
          f"({extra['query_p90_beyond']} of {extra['samples']} samples above it)")
    print(f"fail_frac = {report['fail_frac']:.4f} ({failed} of {attempted} operations)")
    print(f"disk_left_mb = {extra['disk_left_mb']:.3f} MB")
    c = report["checked"]
    print(f"checked: {c['oracled_matched']}/{c['oracled']} oracled queries match DuckDB, "
          f"{c['unoracled_completed']}/{c['unoracled']} un-oracled completed")
    for n, why in mismatches.items():
        print(f"MISMATCH {n}: {why}")
    print("stream-running (observed): " + (", ".join(streams) or "none"))
    print("host pressure delta: " + json.dumps(report["pressure_delta"]))
    if a.trace:
        print(f"tracing overhead = {m['trace.overhead_s']:.4f} s per pass "
              "(median traced pass minus median untraced pass)")
        for n, b in report["breakdown"].items():
            jobs = ", ".join(f"{k} {v:.3f}" for k, v in b["label_s"].items())
            print(f"{n}: wall {b['wall_s']:.3f} s = jobs by label [{jobs}] "
                  f"+ driver gap {b['driver_gap_s']:.3f} "
                  f"(accounted {b['accounted_share']:.0%}); "
                  f"streaming machinery {b['streaming_machinery_s']:.3f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
