"""Self-tests of the benchmark itself (not of graft).

    python3 graftbench/selftest.py [workload ...]

1. A run with one corrupted expected value (--corrupt 1) must fail: exit
   non-zero and report "correct": false. Checked per workload (default:
   every workload run.py knows).
2. In a directory holding only BENCHMARK.json and graftbench/, the
   benchmark must exit non-zero within 180 s without printing a result.

Exits non-zero if any expectation fails.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def last_json(out):
    lines = out.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except ValueError:
        return None


def corrupt_fails(workload):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "5", "--trace", "0", "--corrupt", "1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    r = last_json(p.stdout)
    ok = p.returncode != 0 and r is not None and r["correct"] is False
    print(f"selftest: corrupted check on {workload}: exit {p.returncode}, "
          f"correct={r and r['correct']} -> {'ok' if ok else 'FAIL'}")
    return ok


def bare_dir_fails():
    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                    ignore=shutil.ignore_patterns(".build", ".work", "__pycache__"))
    t0 = time.monotonic()
    try:
        p = subprocess.run([sys.executable, "graftbench/run.py", "--workload", WORKLOADS[0],
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    secs = time.monotonic() - t0
    ok = p.returncode != 0 and last_json(p.stdout) is None
    print(f"selftest: bare directory: exit {p.returncode} after {secs:.1f} s, "
          f"result printed={last_json(p.stdout) is not None} -> {'ok' if ok else 'FAIL'}")
    return ok


if __name__ == "__main__":
    results = [bare_dir_fails()] + [corrupt_fails(w) for w in (sys.argv[1:] or WORKLOADS)]
    sys.exit(0 if all(results) else 1)
