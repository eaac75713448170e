"""Plan-shape audit: one row per declared query with the physical-plan
metrics that matter at 100 TB — exchanges (shuffles), join strategies,
Python stages, codegen coverage. Writes PLANS.md.

Usage: python tools/audit_plans.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from numaflow_spark.operators.graph import lazy_plans
from numaflow_spark.queries import QUERIES
from numaflow_spark.session import get_spark


def _nodes(plan: str, op: str) -> int:
    return len(re.findall(rf"\(\d+\) {op}\b", plan))


def audit(spark, name: str, fn, sf_dir: str) -> dict:
    df = fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    return {
        "query": name,
        "exchanges": _nodes(plan, "Exchange"),
        "bhj": _nodes(plan, "BroadcastHashJoin"),
        "smj": _nodes(plan, "SortMergeJoin"),
        "bnlj": _nodes(plan, "BroadcastNestedLoopJoin"),
        "cartesian": _nodes(plan, "CartesianProduct"),
        "python": len(re.findall(r"EvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
        "scans": len(re.findall(r"\(\d+\) Scan ", plan)),
        "heap_take": _nodes(plan, "TakeOrderedAndProject"),
    }


REGIME_NOTES = """
## Regime notes (measured operator-choice boundaries)

- **Sketch vs exact heavy hitters** (`cms_heavy_bigrams`, r9 rescope;
  measurement: `tools/ab_cms_result.json`): the Count-Min prefilter scans
  the key stream twice (sketch build + probe), so in a single batch query
  it pays 2x the n-gram-explode floor to save shuffle volume that the
  exact plan's map-side partial aggregation already collapses. At x10 the
  exact one-scan groupBy wins BOTH the real bigram stream (919 distinct
  keys: 2.3 s vs 7.3 s) and the adversarial 1.79M-distinct-key 5-gram
  stream (6.2 s vs 9.0 s). The query therefore ships the exact plan; the
  CMS operator (`operators/sketch.py`) is the branch for the regimes a
  local batch A/B cannot reach: incremental streaming maintenance (the
  d x w state IS the aggregate — one amortized pass), cross-corpus merge
  (union + sum of counters, no raw-key re-aggregation), and group counts
  whose exact state exceeds executor memory. On a 1000-executor cluster
  the crossover moves only when shuffle capacity, not scan, is the
  bottleneck — i.e. when the distinct-key volume per partition stops
  collapsing under partial aggregation AND the stream is read once from
  a source that cannot be re-scanned.
"""


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    out_md = argv[1] if len(argv) > 1 else "PLANS.md"
    spark = get_spark(
        "audit_plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    # Plan audits inspect the UNDERLYING plan, not a materialized stub.
    with lazy_plans():
        for name, fn in QUERIES.items():
            try:
                rows.append(audit(spark, name, fn, sf_dir))
            except Exception as ex:  # noqa: BLE001 — audit must not abort
                rows.append({"query": name, "error": f"{type(ex).__name__}"})
                print(f"! {name}: {ex}", file=sys.stderr)
    with open(out_md, "w") as f:
        f.write(
            "# PLANS — physical-plan audit of every declared query\n\n"
            f"Generated by `python tools/audit_plans.py` at {sf_dir} "
            "(plan SHAPE only — row counts do not affect operator choice "
            "except via AQE, which re-plans at runtime anyway). Iterative "
            "queries (pagerank, khop) cut lineage per round, so their "
            "audited plan is the final-round stage; per-round shape is "
            "pinned in tests/test_plans.py.\n\n"
            "Columns: Exchange = shuffle boundaries; BHJ/SMJ/BNLJ = join\n"
            "strategies (broadcast hash / sort-merge / broadcast nested\n"
            "loop — the latter only legal for tiny scalar or range\n"
            "broadcasts); Cart = cartesian products (policy: ZERO); Py =\n"
            "Python/Arrow stages (policy: only where JVM expressions\n"
            "cannot express the op); Scans = source scans in the plan; Heap =\n"
            "TakeOrderedAndProject top-k (no global sort).\n\n"
            "| query | Exchange | BHJ | SMJ | BNLJ | Cart | Py | Scans | Heap |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        n_cart = 0
        for r in rows:
            if "error" in r:
                f.write(f"| {r['query']} | (build error: {r['error']}) |\n")
                continue
            n_cart += r["cartesian"]
            f.write(
                f"| {r['query']} | {r['exchanges']} | {r['bhj']} | {r['smj']} "
                f"| {r['bnlj']} | {r['cartesian']} | {r['python']} "
                f"| {r['scans']} | {r['heap_take']} |\n"
            )
        ok = [r for r in rows if "error" not in r]
        f.write(
            f"\n**{len(ok)} queries audited; "
            f"total cartesian products: {n_cart}** (policy: 0). "
            f"Python stages appear in "
            f"{sum(1 for r in ok if r['python'])} queries "
            "(multimodal decode, ANN block math, accumulator state — the "
            "ops JVM expressions cannot express; all Arrow-vectorized).\n"
        )
        f.write(REGIME_NOTES)
    spark.stop()
    print(f"wrote {out_md}: {len(rows)} rows")


if __name__ == "__main__":
    main()
