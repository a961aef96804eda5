#!/usr/bin/env python3
"""graft's end-to-end benchmark: build graft and the harness from source, run
one workload in one JVM, and relay the harness's result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload upsert_lookup --seed 1 --seconds 10 --trace 0

Workloads: upsert_lookup, scan_query, dedup_corpus (see perfbench/README.md).
The last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; everything before it is a human-readable
report. Everything the run writes stays under the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`) inside the checkout.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402  (perfbench/build.py)

WORKLOADS = ("upsert_lookup", "scan_query", "dedup_corpus")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics(root, trace):
    """The metric names BENCHMARK.json declares for this mode, if present."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def java_command(classpath, work, cpus, args):
    # A fixed heap keeps G1 from resizing it during the timed loop, and
    # lower JIT thresholds bring C2 code in within the warm-up: at the
    # default thresholds a dedup pass still got faster for about 45 s.
    return (["java", "-Xms2g", "-Xmx2g", "-XX:CompileThresholdScaling=0.2", "-Xss4m",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + build.ADD_OPENS
            + ["-cp", classpath, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", repr(args.seconds), "--trace", str(args.trace),
               "--work", work, "--cpus", str(cpus)])


def main(argv):
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, build.GRAFT_SOURCES)):
        print(f"perfbench: no graft sources under {build.GRAFT_SOURCES}; "
              "run from the root of a graft checkout", file=sys.stderr)
        return 2
    out_dir = build.build_dir(root)
    classes = build.ensure_built(root, out_dir)
    work = os.path.join(out_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # two task threads leave the other cores to the driver thread, GC and
    # JIT: graft's ops here are driver-bound, and on a 4-core host this
    # was as fast as local[4] and less disturbed by the host's load
    cpus = min(2, os.cpu_count() or 1)
    classpath = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    try:
        proc = subprocess.Popen(java_command(classpath, work, cpus, args),
                                stdout=subprocess.PIPE, text=True)
        last = None
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if last is not None:
                    print(last, flush=True)
                last = line
        finally:
            proc.stdout.close()
            code = proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or last is None:
        if last is not None:
            print(last)
        print(f"perfbench: harness exited with code {code}", file=sys.stderr)
        return code or 1
    result = json.loads(last)
    if set(result) != RESULT_KEYS or result["attempted"] < 1:
        print(f"perfbench: malformed result line: {last}", file=sys.stderr)
        return 1
    declared = declared_metrics(root, args.trace)
    if declared is not None and declared != set(result["metrics"]):
        print("perfbench: metrics differ from BENCHMARK.json: "
              f"{sorted(declared ^ set(result['metrics']))}", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
