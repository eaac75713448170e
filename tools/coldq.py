"""Cold-JVM single-query A/B harness (VERDICT r13 #7).

Every r13 "it's the host" exoneration compared warmed, in-session arms; the
driver's contract is a COLD JVM at local[$SPARK_GRAFT_CPUS], optionally on a
busy box. This tool runs each arm in a FRESH subprocess (fresh JVM, fresh
Python), with the bench's own warmup protocol inside (table memo + Arrow
round-trip + min-of-2 per query), and can pin a controlled background CPU
load for the duration of every arm so "cold under contention" is a
reproducible condition, not a host accident.

Usage:
  python tools/coldq.py --queries khop_trade_graph,brand_supplier_counts \
      [--repo /root/repo] [--repo-b /root/r12w] [--sf /root/testdata/sf0.1] \
      [--cpus N] [--reps 2] [--load 16] \
      [--rounds 1] [--out tools/coldq_result.json]

With --repo-b the tool alternates arms A,B per round (cold JVM each) so a
host drift hits both arms symmetrically. --cpus defaults to the engine's
own default width (session.DEFAULT_CPUS: SPARK_GRAFT_CPUS, else the cores
this process may use). The load recipe is recorded in the
output JSON (`_meta.load_procs` busy-spin workers, started before and killed
after each arm).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from numaflow_spark.session import DEFAULT_CPUS  # noqa: E402

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["COLDQ_REPO"])
os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")
from numaflow_spark.queries import QUERIES
from numaflow_spark.session import get_spark, load_table

sf_dir = os.environ["COLDQ_SF"]
names = os.environ["COLDQ_QUERIES"].split(",")
reps = int(os.environ.get("COLDQ_REPS", "2"))
spark = get_spark("coldq", extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
t_boot = time.perf_counter()
for t in ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"):
    load_table(spark, sf_dir, t).count()
import pandas as pd  # noqa: F401

def _ident(batches):
    for pdf in batches:
        yield pdf

spark.range(32).mapInPandas(_ident, schema="id long").count()
warm_s = time.perf_counter() - t_boot
out = {}
for name in names:
    fn = QUERIES[name]
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        n = len(fn(spark, sf_dir).toPandas())
        runs.append(round(time.perf_counter() - t0, 3))
    out[name] = {"min": min(runs), "runs": runs, "rows": n}
spark.stop()
print("COLDQ_JSON:" + json.dumps({"warm_s": round(warm_s, 2), "queries": out}))
"""

_BURN = (
    "import sys,time\n"
    "deadline=time.time()+float(sys.argv[1])\n"
    "x=1.0\n"
    "while time.time()<deadline:\n"
    "    for _ in range(100000): x=x*1.0000001+1e-9\n"
)


def _start_load(n: int, max_seconds: float) -> list[subprocess.Popen]:
    return [
        subprocess.Popen(
            [sys.executable, "-c", _BURN, str(max_seconds)],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        for _ in range(n)
    ]


def _kill_load(procs: list[subprocess.Popen]) -> None:
    for p in procs:
        try:
            p.send_signal(signal.SIGKILL)
        except Exception:
            pass
    for p in procs:
        try:
            p.wait(timeout=5)
        except Exception:
            pass


def _run_arm(repo: str, args) -> dict:
    env = dict(os.environ)
    env.update(
        COLDQ_REPO=repo,
        COLDQ_SF=args.sf,
        COLDQ_QUERIES=args.queries,
        COLDQ_REPS=str(args.reps),
        SPARK_GRAFT_CPUS=str(args.cpus),
        SPARK_GRAFT_CACHE_TABLES="1",
    )
    load = _start_load(args.load, 1200.0) if args.load else []
    try:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "-c", _CHILD], env=env, capture_output=True,
            text=True, timeout=1200, cwd=repo,
        )
        wall = time.perf_counter() - t0
    finally:
        _kill_load(load)
    for line in proc.stdout.splitlines():
        if line.startswith("COLDQ_JSON:"):
            payload = json.loads(line[len("COLDQ_JSON:"):])
            payload["proc_wall_s"] = round(wall, 2)
            return payload
    raise RuntimeError(
        f"arm at {repo} produced no COLDQ_JSON "
        f"(rc={proc.returncode}):\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--repo", default="/root/repo")
    ap.add_argument("--repo-b", default=None,
                    help="second arm (e.g. a worktree at another commit)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--rounds", type=int, default=1)
    ap.add_argument("--load", type=int, default=0,
                    help="background busy-spin processes during each arm")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    arms: list[tuple[str, str]] = [("A", args.repo)]
    if args.repo_b:
        arms.append(("B", args.repo_b))

    results: dict[str, list[dict]] = {label: [] for label, _ in arms}
    for r in range(args.rounds):
        for label, repo in arms:
            res = _run_arm(repo, args)
            results[label].append(res)
            per_q = {k: v["min"] for k, v in res["queries"].items()}
            print(f"round {r} arm {label} ({repo}): {per_q} "
                  f"warm={res['warm_s']}s", flush=True)

    payload = {
        "_meta": {
            "tool": "tools/coldq.py",
            "protocol": "fresh subprocess (cold JVM) per arm per round; "
                        "bench warmup inside; min-of-%d per query" % args.reps,
            "cpus": args.cpus,
            "sf": args.sf,
            "load_procs": args.load,
            "load_recipe": "N python busy-spin workers (float mul loop), "
                           "started before session boot, SIGKILLed after",
            "rounds": args.rounds,
            "arms": dict(arms),
        },
        "results": results,
    }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
