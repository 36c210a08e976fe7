"""graft benchmark runner.

    python3 graftbench/run.py --workload table_churn|scan_mix|corpus_pipeline \
        --seed N --seconds S --trace 0|1 [--corrupt 1]

Run from the root of a graft checkout. Builds the benchmark package if its
inputs changed (build.py), launches one JVM for the run, and prints as the
last line of stdout one JSON object: correct, attempted, failed, and the
metrics that BENCHMARK.json lists (end_to_end with --trace 0, per_layer
with --trace 1). All staging lives under graftbench/.work/<run> and is
deleted at exit. A traced run leaves its spans in
graftbench/.traces/<workload>-seed<seed>.jsonl. `--corrupt 1` perturbs one
expected value of the output check; the run must then exit non-zero (see
selftest.py).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("table_churn", "scan_mix", "corpus_pipeline")
# one run must end within 180 s; a first run that compiles gets 900 s
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880

JVM_OPTS = [
    "-Xmx3g", "-Xss8m",
    "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def remove_stale_work():
    """Delete work roots left by runs that were killed before cleaning up."""
    root = os.path.join(HERE, ".work")
    for name in os.listdir(root) if os.path.isdir(root) else []:
        pid = name.rsplit("-", 1)[-1]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        except PermissionError:
            pass


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    nproc = os.cpu_count()
    load = os.getloadavg()[0]
    print(f"graftbench: workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} nproc={nproc} loadavg_prelaunch={load:.2f}", flush=True)
    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        fail(str(e))
    # a run that compiled first gets the build allowance on top
    built_s = time.monotonic() - t_start
    deadline = t_start + min(BUILD_LIMIT_S, RUN_LIMIT_S + (built_s if built_s > 5 else 0))

    remove_stale_work()
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = [build.java()] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--corrupt", str(a.corrupt)]
    if a.trace:
        traces = os.path.join(HERE, ".traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=work)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded its time limit", 3)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    raw = None
    for line in out.splitlines():
        if line.startswith("GRAFTBENCH "):
            raw = json.loads(line[len("GRAFTBENCH "):])
        else:
            print(line)
    if raw is None:
        fail(f"the benchmark JVM exited with code {proc.returncode} and no result", 1)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = raw["values"].get(m["name"])
        if v is None:
            if not a.trace:
                fail(f"end-to-end metric {m['name']} missing from the run", 1)
            v = 0.0  # a layer this workload bypasses
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}), flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
