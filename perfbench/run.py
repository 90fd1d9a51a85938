"""Seeded end-to-end benchmark of the graft sketch engine.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source (perfbench/build.py), runs
one workload in a fresh JVM, and prints one JSON object as the last line of
standard output. Exits non-zero when an output check fails. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True  # nothing written beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("rollup_build", "dashboard_query", "stream_maintain", "curation_chain")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    out = build.ensure_built(root)
    work = os.path.join(root, build.BUILD_DIR, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java_command(out, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)])
    last = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=root)
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                last = line
            else:
                sys.stdout.write(line)
        code = proc.wait()
    finally:
        timer.cancel()
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if last is None:
        sys.exit(f"perfbench: the benchmark JVM exited with {code} and printed no result")
    result = json.loads(last)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(result["metrics"]) != want:
        sys.exit(f"perfbench: metrics {sorted(set(result['metrics']) ^ want)} "
                 "differ between the run and BENCHMARK.json")
    print(json.dumps(result), flush=True)
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
