"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Runs the workload in a fresh child process
(one at a time: the iterative workload's JVM alone can take most of a
15 GB host), pins the environment the engine reads to values derived from
the host, waits for every process the child started, checks the reported
metrics against BENCHMARK.json and prints them, ending with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Scratch files (Spark local dirs, checkpoints, the stream's sink output)
live under .perfbench-work/ and are removed at exit; traced runs keep
their span file in .perfbench-work/traces/.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")

sys.path.insert(0, HERE)
import measure  # noqa: E402
from workload import ncpus  # noqa: E402

CHILD_TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def child_env(work: str) -> dict:
    """The inherited environment minus every engine knob, plus the values
    derived from this host: all cores, the repo importable by Spark's
    Python workers, and scratch dirs inside the work dir. The driver heap
    stays at the engine default."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update({
        "SPARK_GRAFT_CPUS": str(ncpus()),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONHASHSEED": "0",
    })
    return env


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM, once the child Python exits)
    re-parent to this process, so it can reap them itself."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(pgid: int) -> None:
    """Kill what is left of the child's process group (after a clean run:
    the JVM, already stopped by the child) and reap every descendant."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    # Spark's Python worker daemon runs in a process group of its own and
    # exits when the JVM does; kill any straggler after a grace period.
    deadline = time.monotonic() + 10
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in measure.descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return fail(f"unknown workload {args.workload!r}")
    for need in ("numaflow_spark/queries.py", "tools/check_queries.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return fail(f"{need} not found: run from the repository root")

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(WORK_ROOT, "traces")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out, "--work", work,
        "--trace-out", os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
    ]
    become_subreaper()
    try:
        spawned = time.time()
        child = subprocess.Popen(cmd + ["--spawned-at", repr(spawned)], cwd=work,
                                 env=child_env(work), stdout=sys.stderr,
                                 start_new_session=True)
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        stop_descendants(child.pid)
        print(f"# child ran {time.time() - spawned:.2f} s", file=sys.stderr)
        if code != 0:
            return fail(f"workload process {'timed out' if code is None else f'exited {code}'}")
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer" if args.trace else "end_to_end"]
    problems = measure.check_metrics(declared, result["metrics"])
    if problems:
        return fail("; ".join(problems))
    for e in result.pop("errors"):
        print(f"# error: {e}", file=sys.stderr)
    for m in declared:
        v = result["metrics"][m["name"]]
        print(f"{m['name']} {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
