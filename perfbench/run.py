#!/usr/bin/env python3
"""Benchmark entry point: build the program, run one workload, print the result.

Usage (from the repository root):

    python3 perfbench/run.py --workload daily_steady --seed 1 --seconds 10 --trace 0

Before the run it builds the program and this harness (build.py; the
first run in a checkout compiles, later runs reuse the classes). The run
itself is one JVM (graft.perfbench.Main) on local[nproc]; its last stdout
line is the result object. Its metrics are bare numbers: this script checks
that they are exactly the metrics BENCHMARK.json lists for the mode
(end_to_end untraced, per_layer traced), attaches the units listed there,
and prints the result as its own last line. On any failure it prints the
tail of the build or run log to stderr and exits 2 without a result.
"""
import argparse
import json
import os
import subprocess
import time

from build import HERE, ROOT, WORK, build, fail, run_child

RUN_TIMEOUT_S = 170

# the module opens Spark needs on JDK 17 (same list as the program's build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_flags():
    """Heap of a quarter of physical memory (1 to 6 GiB), committed up front,
    with a fixed young generation of a sixth of it, the parallel collector and
    a metaspace that starts large. A heap that neither grows nor triggers
    full collections to grow its class metadata keeps collections out of the
    timed run (the run collects the set-up's garbage just before it), and a
    fixed young size keeps the peak RSS from following adaptive sizing."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    heap_mb = 1024 * max(1, min(6, kb // (4 * 1024 * 1024)))
    return [f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", f"-Xmn{heap_mb // 6}m",
            "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"]
                 for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    cmd = (["java", "-XX:-UsePerfData",
            f"-Xlog:gc:file={os.path.join(WORK, 'logs', tag + '.gc.log')}"] + heap_flags()
           + [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
              f"-Dderby.system.home={os.path.join(WORK, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--dir", WORK,
              "--catalog", os.path.join(HERE, "catalog")])
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    # Spark binds its driver to the loopback interface, whatever the host
    # name resolves to
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    t0 = time.time()
    with open(log_path, "w") as log:
        code, out = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                              stderr=log, stdin=subprocess.DEVNULL, text=True)
    if code is None:
        fail(f"run timed out after {RUN_TIMEOUT_S} s; see {log_path}", log_path)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"run failed (exit {code}) after {time.time() - t0:.1f} s; see {log_path}", log_path)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last output line is not JSON; see {log_path}", log_path)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"unexpected result keys {sorted(result)}")
    if set(result["metrics"]) != set(units):
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(result['metrics']))}, "
             f"unlisted {sorted(set(result['metrics']) - set(units))}")
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
