import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)


def leftover_processes() -> list[str]:
    """Command lines of processes that still refer to a benchmark run
    directory (the worker, its JVM, the endpoint)."""
    marker = os.path.join(REPO_ROOT, ".bench_build", "perfbench-").encode()
    found = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if marker in cmd:
            found.append(cmd.replace(b"\0", b" ").decode(errors="replace"))
    return found


def run_benchmark(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """One benchmark run from the repository root; (detail, result) lines."""
    import json
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=200,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert not leftover_processes(), "the run left processes behind"
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.fixture()
def bench():
    return run_benchmark
