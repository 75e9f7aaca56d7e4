#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark harness
(perfbench/build.py), runs one workload in one JVM on local[<cores>] with a
single closed-loop client for --seconds, checks every operation's output
outside the timed section (perfbench/checks.py), and prints as its last line
one JSON object: the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1. See perfbench/README.md.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("medallion_refresh", "catalog_sweep")
JVM_TIMEOUT_S = 165  # a run must end within 180 s; the checks after it take a few
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(classpath, args, work):
    """Runs the harness; its output goes to <work>/jvm.log. Returns the exit
    code, or None if it timed out. The JVM never outlives this call."""
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Xss8m",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", classpath, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def end_to_end(result):
    """setup_s, and the median over passes of a pass's wall time (pass_s) and
    of the CPU time the JVM spent on it (pass_cpu_s). A pass is one round of
    the workload's operation mix: one refresh, or every swept query once."""
    k = result["pass_ops"]

    def median_pass(field):
        xs = [o[field] for o in result["ops"]]
        return statistics.median(sum(xs[i:i + k]) / 1e3 for i in range(0, len(xs), k))
    return {"setup_s": result["setup_s"], "pass_s": median_pass("wall_ms"),
            "pass_cpu_s": median_pass("cpu_ms")}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    # a terminated benchmark still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit(f"perfbench: no program sources under {ROOT}/src/main/scala")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    import build
    import checks
    classpath = build.build(ROOT)

    entry_ms = int(time.time() * 1000)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        rc = run_jvm(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                 work, str(entry_ms)], work)
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}")
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)

        failures, problems = checks.check(a.workload, result)
        ops = result["ops"]
        for n, why in sorted(failures.items()):
            key = next(o["key"] for o in ops if o["n"] == n)
            print(f"FAILED op {n} ({key}): {why}")
        for why in problems:
            print(f"FAILED: {why}")

        if a.trace:
            names = spec["per_layer"]
            values = dict(result["layers"])
            unknown = set(values) - {m["name"] for m in names}
            if unknown:
                sys.exit(f"perfbench: layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            trace_dir = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump({"spans": result["spans"], "layers": values,
                           "ops": [{k: o[k] for k in ("n", "key", "wall_ms", "traced")}
                                   for o in ops]}, f)
        else:
            names = spec["end_to_end"]
            values = end_to_end(result)
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in names}
        walls = sorted(o["wall_ms"] for o in ops)
        print(f"{a.workload} seed={a.seed} cores={result['cores']} ops={len(ops)} "
              f"measured_s={result['measured_s']:.2f} input_s={result['input_s']} "
              f"warmup_s={result['warmup_s']:.2f} "
              f"op_ms[min/p50/max]={walls[0]:.1f}/{statistics.median(walls):.1f}/{walls[-1]:.1f}")
        print(json.dumps({"correct": not failures and not problems, "attempted": len(ops),
                          "failed": len(failures), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
