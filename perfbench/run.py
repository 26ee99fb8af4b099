#!/usr/bin/env python3
"""Runs one graft benchmark workload from the root of a graft checkout:

    python3 perfbench/run.py --workload mtm_bulk --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source on first use (into
.bench_build/perfbench), then runs the benchmark JVM, whose last stdout
line is the result JSON. Exits non-zero when the build fails, a check
fails, or the run exceeds its time limit.
"""
import argparse
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the source tree free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("mtm_bulk", "mtm_sweep", "corpus_dedup")
RUN_LIMIT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = Path.cwd()
    out = root / ".bench_build" / "perfbench"
    try:
        classes = build.build(root, out)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = out / a.workload
    cmd = build.jvm_command(classes, work, "graft.perfbench.Main") + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(work),
        "--digests", str(Path(__file__).resolve().parent / "digests.tsv")]
    # the JVM exits when its stdin closes, so it cannot outlive this
    # process; a signal here still stops and reaps it first
    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, stop)
    proc = subprocess.Popen(cmd, env=build.jvm_env(work), stdin=subprocess.PIPE)
    try:
        return proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {RUN_LIMIT_S} s; stopped", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
