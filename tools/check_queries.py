"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive multiset of normalized row values. Stricter than any
reasonable driver compare: values must match exactly after normalization
(Decimal -> str at its own scale, float -> repr, timestamp -> isoformat).

Usage: python tools/check_queries.py [--json OUT] [sf_dir] [query ...]

``--json OUT`` additionally writes a driver-CORRECTNESS-shaped artifact
(per-query rows/schema/hash match booleans) so the repo can commit local
evidence for queries the driver snapshot hasn't certified yet.
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return f"b:{v.hex()}"
    return f"{type(v).__name__}:{v}"


def _multiset(rows, col_order):
    return Counter(
        "|".join(_norm(row[i]) for i in col_order) for row in rows
    )


def _run_meta(sf_dir: str, note: str | None = None) -> dict:
    """Run provenance embedded in --json artifacts. A rerun on unchanged
    code produces identical per-query rows, which git cannot record as a
    new commit — the freshness rule (tools/artifact_freshness.py) then
    cannot see that fresh evidence exists. The timestamp + HEAD here make
    every rerun a committable content change.

    The _meta block is STRICTLY tool-written (r11 ADVICE): annotations go
    through --note, never a hand edit, so artifact_freshness can trust
    git_head as actual run provenance. git rev-parse is pinned to THIS
    repo's root so invoking the tool from elsewhere can't record an
    unrelated repo's HEAD."""
    import subprocess
    import time

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, cwd=repo_root,
        ).stdout.strip()
    except Exception:
        head = "unknown"
    meta = {
        "sf_dir": sf_dir,
        "generated_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "git_head": head,
    }
    if note:
        meta["note"] = note
    return meta


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("error: --json requires an output path", file=sys.stderr)
            return 2
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    note = None
    if "--note" in argv:
        i = argv.index("--note")
        if i + 1 >= len(argv):
            print("error: --note requires a string", file=sys.stderr)
            return 2
        note = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    skip: set[str] = set()
    while "--skip" in argv:
        i = argv.index("--skip")
        if i + 1 >= len(argv):
            print("error: --skip requires a query name", file=sys.stderr)
            return 2
        skip.add(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    report: dict[str, dict] = {}

    def _flush():
        # Flush after EVERY query: the r7 sf1 attempt died at a 5400s timeout
        # having written nothing because the artifact landed only at the end.
        # A partial artifact is evidence; a missing one is not.
        if json_out:
            import json

            with open(json_out, "w") as f:
                json.dump(
                    {"_meta": _run_meta(sf_dir, note), **report}, f, indent=2
                )

    import __spark_entry__ as e
    from numaflow_spark.session import get_spark

    spark = get_spark("check_queries")
    con = duckdb.connect()
    # DuckDB's default max_temp_directory_size is 0 for in-memory
    # connections — any spill then fails as a phantom "No space left on
    # device" regardless of real free disk (bit the r9 sf1 embedding
    # oracles). Give the big-oracle runs a real spill lane.
    import os as _os

    _os.makedirs("/tmp/ddb_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/ddb_spill'")
    con.execute("SET max_temp_directory_size='40GB'")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if (only and name not in only) or name in skip:
            if name in skip:
                print(f"- {name}: skipped (--skip)")
                report[name] = {
                    "rows_match": None, "schema_match": None, "hash_match": None,
                    "spark_rows": None, "oracle_rows": None,
                    "err": "skipped (--skip)",
                }
                _flush()
            continue
        # One query blowing up must not discard the evidence gathered for
        # every query before it: record the error and keep going.
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = list(sdf.columns)
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001 — per-query isolation
            print(f"✗ {name}: raised {type(ex).__name__}: {ex}")
            report[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None,
                "err": f"{type(ex).__name__}: {ex}",
            }
            _flush()
            failures.append(name)
            continue

        if name not in oracles:
            print(f"  {name:24s} rows={len(spark_rows):7d}  (no oracle — rows-only)")
            report[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(spark_rows), "oracle_rows": None,
                "err": "no_oracle (rows-only)",
            }
            _flush()
            continue

        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as ex:  # noqa: BLE001 — per-query isolation
            print(f"✗ {name}: oracle raised {type(ex).__name__}: {ex}")
            report[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": len(spark_rows), "oracle_rows": None,
                "err": f"oracle: {type(ex).__name__}: {ex}",
            }
            _flush()
            failures.append(name)
            continue

        schema_ok = sorted(spark_cols) == sorted(duck_cols)
        rows_ok = len(spark_rows) == len(duck_rows)
        hash_ok = False
        if not schema_ok:
            print(f"✗ {name}: columns differ spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if not rows_ok:
            print(f"✗ {name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        if schema_ok and rows_ok:
            s_order = [spark_cols.index(c) for c in sorted(spark_cols)]
            d_order = [duck_cols.index(c) for c in sorted(duck_cols)]
            ms, md = _multiset(spark_rows, s_order), _multiset(duck_rows, d_order)
            hash_ok = ms == md
            if not hash_ok:
                diff_s = list((ms - md).items())[:3]
                diff_d = list((md - ms).items())[:3]
                print(f"✗ {name}: value mismatch\n  spark-only: {diff_s}\n  duck-only:  {diff_d}")
        report[name] = {
            "rows_match": rows_ok, "schema_match": schema_ok, "hash_match": hash_ok,
            "spark_rows": len(spark_rows), "oracle_rows": len(duck_rows), "err": None,
        }
        _flush()
        if schema_ok and rows_ok and hash_ok:
            print(f"✓ {name:24s} rows={len(spark_rows):7d}")
        else:
            failures.append(name)

    if json_out:
        import json

        # Keep _meta on the FINAL write too — r11's committed artifact lost
        # it here and the provenance had to be restored by hand, which is
        # exactly what _run_meta exists to prevent.
        with open(json_out, "w") as f:
            json.dump({"_meta": _run_meta(sf_dir, note), **report}, f, indent=2)
        print(f"wrote {json_out} ({len(report)} queries)")

    if failures:
        print(f"\nFAILED: {failures}")
        return 1
    print("\nall queries match the oracle")
    return 0


if __name__ == "__main__":
    sys.exit(main())
