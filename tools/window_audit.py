"""Sweep every registered query's physical plan for WindowExec nodes fed
by an Exchange SinglePartition — the unpartitioned global sort that
inverts at 100x (VERDICT r9 "What's wrong" #5). Prints one line per query
with the offending window count; the pytest pin in tests/test_plans.py
uses the same detector with an explicit allowlist.

Usage: python tools/window_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_tree(plan: str) -> list[tuple[int, str, int]]:
    """(indent_depth, op_name, node_id) per tree line of a formatted
    explain, in tree order (parent before child, child indented deeper)."""
    out = []
    for line in plan.splitlines():
        m = re.search(r"([A-Za-z][A-Za-z0-9]*) \((\d+)\)\s*$", line)
        if not m:
            # non-tree lines (details, subquery headers) don't match; a
            # following subquery tree restarts at depth 0, which the
            # child-walk treats as a sibling boundary — safe across blocks
            continue
        # indent = chars before the op marker; WholeStageCodegen's '* ' and
        # branch glyphs all count, which is enough for parent/child nesting
        depth = len(line) - len(line.lstrip(" :+-*"))
        out.append((depth, m.group(1), int(m.group(2))))
    return out


def single_partition_ids(plan: str) -> set[int]:
    """Node ids of Exchange nodes whose Arguments are SinglePartition."""
    ids = set()
    # the Arguments line must belong to THIS node's details block — stop
    # the scan at the next "(N) Op" header so a later node's
    # SinglePartition can't be attributed to an earlier hash exchange
    for m in re.finditer(
        r"\((\d+)\) Exchange\n(?:(?!\(\d+\) ).*\n)*?Arguments: SinglePartition",
        plan,
    ):
        ids.add(int(m.group(1)))
    return ids


def _direct_children(tree: list[tuple[int, str, int]], j: int) -> list[int]:
    """Indexes of node j's direct children: within j's subtree (every
    following line strictly deeper than j), the nodes at the subtree's
    minimum depth. Robust to uneven indent steps between levels."""
    d = tree[j][0]
    sub = []
    k = j + 1
    while k < len(tree) and tree[k][0] > d:
        sub.append(k)
        k += 1
    if not sub:
        return []
    mind = min(tree[k][0] for k in sub)
    return [k for k in sub if tree[k][0] == mind]


def unpartitioned_windows(plan: str) -> int:
    """Count Window nodes whose nearest downstream Exchange is a
    SinglePartition exchange. Walks the FULL unary descendant chain —
    any single-child op (Sort, Project, Filter, AQEShuffleRead, ...) is a
    passthrough — stopping at the first Exchange or the first multi-child
    node (a join/union re-establishes distribution only via its own
    exchanges, which a SinglePartition-requiring window above cannot
    reuse). The r10 version whitelisted passthrough ops by name and broke
    at the first unknown op, so a Project/Filter between Window and its
    Exchange hid the offender (ADVICE r10)."""
    tree = parse_tree(plan)
    sp = single_partition_ids(plan)
    bad = 0
    for i, (_depth, op, _nid) in enumerate(tree):
        if op != "Window":
            continue
        cur = i
        while True:
            kids = _direct_children(tree, cur)
            if len(kids) != 1:
                break  # leaf (scan/ReusedExchange) or multi-child node
            cur = kids[0]
            cop, cid = tree[cur][1], tree[cur][2]
            if cop == "Exchange":
                if cid in sp:
                    bad += 1
                break
    return bad


def main() -> None:
    from pyspark.sql.session import SparkSession

    from numaflow_spark.operators.graph import lazy_plans
    from numaflow_spark.queries import QUERIES
    from numaflow_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    flagged = {}
    # Plan audits inspect the UNDERLYING plan, not a materialized stub.
    with lazy_plans():
        for name, fn in QUERIES.items():
            try:
                df = fn(spark, sf)
                plan = df._jdf.queryExecution().explainString(mode)
                n = unpartitioned_windows(plan)
            except Exception as ex:  # noqa: BLE001 — report, keep sweeping
                print(f"ERR {name}: {ex}")
                continue
            if n:
                flagged[name] = n
                print(f"FLAG {name}: {n} single-partition window(s)")
    print(f"\n{len(flagged)} queries flagged of {len(QUERIES)}")
    print(sorted(flagged))


if __name__ == "__main__":
    main()
