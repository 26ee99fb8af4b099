#!/usr/bin/env python3
"""Runs the benchmark's own tests of its pure parts (percentile rule,
digests, self-time arithmetic, generators, union-find) from the root of
a graft checkout:

    python3 perfbench/tests/run_tests.py
"""
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the source tree free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402


def main() -> int:
    root = Path.cwd()
    out = root / ".bench_build" / "perfbench"
    try:
        classes = build.build(root, out)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = out / "tests"
    cmd = build.jvm_command(classes, work, "graft.perfbench.PureChecks", heap="1g")
    return subprocess.run(cmd, env=build.jvm_env(work), timeout=300).returncode


if __name__ == "__main__":
    sys.exit(main())
