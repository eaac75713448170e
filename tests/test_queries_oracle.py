"""Every declared query hash-matches its DuckDB oracle at sf0.001.

This mirrors the driver's t2 correctness gate (row count + columns +
order-insensitive value multiset); the heavier sf0.01 run happens via
tools/check_queries.py and the driver itself.
"""

from collections import Counter

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.check_queries import TABLES, _multiset

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF)
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(r) for r in sdf.collect()]

    if name not in ORACLES:
        assert len(spark_rows) >= 0  # rows-only contract: must at least run
        return

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows)
    s_order = [spark_cols.index(c) for c in sorted(spark_cols)]
    d_order = [duck_cols.index(c) for c in sorted(duck_cols)]
    assert _multiset(spark_rows, s_order) == _multiset(duck_rows, d_order)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"window_start", "window_end", "event_type", "n_events", "sum_value_cents"}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_types_spark_expressible(name, duck):
    """The r5 postmortem guard: DuckDB silently promotes SUM(BIGINT) ->
    HUGEINT (and exact decimal math -> DECIMAL), neither of which Spark can
    emit — the driver's value-hash is type-sensitive, so such a column
    hash-mismatches even when every value is numerically identical (all five
    r5 driver failures were exactly this). DESCRIBE every oracle and forbid
    any output column type outside what a Spark BIGINT/INT/DOUBLE/VARCHAR
    twin can produce. Fix sites wrap the outer aggregate in
    CAST(... AS BIGINT)."""
    desc = duck.execute(f"DESCRIBE {ORACLES[name]}").fetchall()
    offenders = [
        (col, typ)
        for col, typ, *_ in desc
        if "HUGEINT" in typ or typ.startswith("DECIMAL")
    ]
    assert not offenders, (
        f"{name}: oracle emits Spark-inexpressible column types {offenders}; "
        "CAST the outer aggregate to BIGINT (see VERDICT r5 'What's wrong' #1)"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_decimal_in_final_schema(name, spark):
    """Final schemas must not expose DECIMAL: engines canonicalize decimal
    scale differently (919.60 vs 919.6) at the driver's hash layer. Money
    goes out as integer cents; ratios as ROUNDed doubles."""
    from pyspark.sql.types import DecimalType

    sdf = QUERIES[name](spark, SF)
    decs = [f.name for f in sdf.schema.fields if isinstance(f.dataType, DecimalType)]
    assert not decs, f"{name} exposes DECIMAL columns: {decs}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_nested_types_in_final_schema(name, spark):
    """The r6 postmortem guard (inverted_index): the driver's canonicalizer
    sorts the result through pandas, which cannot factorize list/dict-typed
    cells -> "TypeError: unhashable type: 'list'" and a permanently-red row,
    even when the values are cross-engine identical. (The local checker
    normalizes nested values recursively, so this class is invisible at
    sf0.001/sf0.01 local certification — exactly like the r5 HUGEINT class.)
    Forbid Array/Map/Struct output columns in every registered query;
    serialize collections with array_join(sort_array(...), ',') and give
    the oracle a string_agg(... ORDER BY) twin (a proven cross-engine-exact
    primitive)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    sdf = QUERIES[name](spark, SF)
    nested = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"{name} emits driver-uncanonicalizable nested columns {nested}; "
        "join to a deterministic string (see VERDICT r6 'What's wrong' #1)"
    )
