"""Dump ``.explain("formatted")`` per declared query to one file each.

The optimization rounds commit before/after plan evidence under
``plans/r{N}/<query>_{before,after}.txt``; this tool produces those files
from any checkout (run it inside a worktree pinned to an older ref for the
"before" side).

Usage: python tools/dump_plans.py OUT_DIR SUFFIX [sf_dir] [query ...]

With no query names, dumps every registered query. SUFFIX is appended as
``<query>_<SUFFIX>.txt`` (use ``before`` / ``after``).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    names = sys.argv[4:]

    from numaflow_spark.operators.graph import lazy_plans
    from numaflow_spark.queries import QUERIES
    from numaflow_spark.session import get_spark

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    todo = names or list(QUERIES)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in todo:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"{name}: NOT REGISTERED (skipped)")
            continue
        try:
            # the full lazy query shape, not a post-materialization stub
            with lazy_plans():
                df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as ex:  # noqa: BLE001 — dump what we can, loudly
            plan = f"PLAN FAILED: {type(ex).__name__}: {ex}"
        dest = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(dest, "w") as f:
            f.write(plan)
        print(f"{name}: {dest}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
