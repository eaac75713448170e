"""Unit tests for the two-phase global ranking module
(operators/ranking.py) against the single-partition windows it replaces —
including the NULL-primary row-preservation contract (ADVICE r10: a NULL
sort key used to get a NULL bucket id and fall out of the offsets join).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from numaflow_spark.operators.ranking import (
    add_global_rank,
    add_global_running_max_strictly_before,
    add_global_running_sum,
    ntile_from_rank,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, v bigint, amt bigint")


ROWS = [
    (1, 40, 2), (2, 10, 5), (3, 30, 1), (4, 10, 7), (5, 90, 3),
    (6, 55, 4), (7, 30, 9), (8, 70, 6), (9, 5, 8), (10, 60, 2),
]


def test_rank_matches_window(spark):
    df = _df(spark, ROWS)
    got = {
        r["id"]: r["rk"]
        for r in add_global_rank(
            df, [F.col("v"), F.col("id")], "rk", primary="v", partitions=4
        ).collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want


def test_rank_descending_matches_window(spark):
    df = _df(spark, ROWS)
    got = {
        r["id"]: r["rk"]
        for r in add_global_rank(
            df, [F.col("v").desc(), F.col("id")], "rk",
            primary="v", descending=True, partitions=4,
        ).collect()
    }
    w = Window.orderBy(F.col("v").desc(), "id")
    want = {
        r["id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want


def test_running_sum_matches_window(spark):
    df = _df(spark, ROWS)
    got = {
        r["id"]: r["rs"]
        for r in add_global_running_sum(
            df, [F.col("v"), F.col("id")], "amt", "rs",
            primary="v", partitions=4,
        ).collect()
    }
    w = (
        Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["id"]: r["rs"]
        for r in df.withColumn("rs", F.sum("amt").over(w)).collect()
    }
    assert got == want


def test_running_max_strictly_before_matches_window(spark):
    df = _df(spark, ROWS)
    got = {
        r["id"]: r["rm"]
        for r in add_global_running_max_strictly_before(
            df, "v", "amt", "rm", partitions=4
        ).collect()
    }
    w = (
        Window.orderBy("v")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r["id"]: r["rm"]
        for r in df.withColumn("rm", F.max("amt").over(w)).collect()
    }
    assert got == want


def test_null_primary_rows_are_preserved_nulls_first_asc(spark):
    """ADVICE r10: NULL primaries must survive (edge bucket), ordered the
    way the replaced Window.orderBy orders them — NULLS FIRST ascending."""
    rows = ROWS + [(11, None, 1), (12, None, 2)]
    df = _df(spark, rows)
    out = add_global_rank(
        df, [F.col("v"), F.col("id")], "rk", primary="v", partitions=4
    )
    got = {r["id"]: r["rk"] for r in out.collect()}
    assert len(got) == len(rows)
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want
    assert got[11] == 1 and got[12] == 2  # nulls first under asc


def test_null_primary_rows_are_preserved_nulls_last_desc(spark):
    rows = ROWS + [(11, None, 1)]
    df = _df(spark, rows)
    out = add_global_rank(
        df, [F.col("v").desc(), F.col("id")], "rk",
        primary="v", descending=True, partitions=4,
    )
    got = {r["id"]: r["rk"] for r in out.collect()}
    assert len(got) == len(rows)
    w = Window.orderBy(F.col("v").desc(), "id")
    want = {
        r["id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want
    assert got[11] == len(rows)  # nulls last under desc


def test_all_null_primary(spark):
    df = _df(spark, [(1, None, 1), (2, None, 2), (3, None, 3)])
    out = add_global_rank(
        df, [F.col("v"), F.col("id")], "rk", primary="v", partitions=4
    )
    got = {r["id"]: r["rk"] for r in out.collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_ntile_from_rank_matches_sql_ntile(spark):
    df = _df(spark, ROWS)
    n = df.count()
    ranked = add_global_rank(
        df, [F.col("v"), F.col("id")], "rk", primary="v", partitions=4
    ).withColumn("n", F.lit(n).cast("bigint"))
    for k in (1, 2, 3, 4, 7, 10, 13):
        got = {
            r["id"]: r["t"]
            for r in ranked.select(
                "id", ntile_from_rank("rk", "n", k).alias("t")
            ).collect()
        }
        w = Window.orderBy("v", "id")
        want = {
            r["id"]: r["t"]
            for r in df.withColumn("t", F.ntile(k).over(w)).collect()
        }
        assert got == want, f"k={k}"


def test_running_sum_bounded_matches_two_phase(spark):
    """The bounded-census broadcast triangle (add_running_sum_bounded) and
    the two-phase form compute the same inclusive prefix on a census with
    unique keys — the substitution contract behind the r12-continuation
    spearman/cusum/runs_test rewrites."""
    from numaflow_spark.operators.ranking import add_running_sum_bounded

    rows = [(k, v) for k, v in
            [(3, 7), (1, 2), (9, 5), (4, 1), (12, 8), (7, 3), (2, 11)]]
    df = spark.createDataFrame(rows, "k bigint, c bigint")
    got = {
        r["k"]: r["cum"]
        for r in add_running_sum_bounded(df, "k", "c", "cum").collect()
    }
    want = {
        r["k"]: r["cum"]
        for r in add_global_running_sum(
            df, [F.col("k")], "c", "cum", primary="k", partitions=4
        ).collect()
    }
    assert got == want
    # inclusive semantics: the smallest key's prefix is its own value
    assert got[1] == 2 and got[12] == sum(v for _, v in rows)


def test_running_sum_bounded_preserves_columns_and_types(spark):
    from numaflow_spark.operators.ranking import add_running_sum_bounded

    df = spark.createDataFrame(
        [(1, 5, "a"), (2, 6, "b")], "k bigint, c bigint, tag string"
    )
    out = add_running_sum_bounded(df, "k", "c", "cum")
    assert set(out.columns) == {"k", "c", "tag", "cum"}
    assert dict(out.dtypes)["cum"] == "bigint"


def test_kendall_cd_matches_bruteforce():
    """The 2-D suffix-sum concordant/discordant fold (queries._kendall_cd,
    the r13 scalar-side collapse of kendall_tau_qty_size) must equal the
    O(cells^2) brute force on random count matrices, including empty
    rows/columns and degenerate 1xK / Kx1 shapes."""
    import numpy as np

    from numaflow_spark.queries import _kendall_cd

    rng = np.random.default_rng(7)
    shapes = [(1, 1), (1, 5), (5, 1), (2, 2), (7, 3), (50, 50)]
    for nq, ns in shapes:
        M = rng.integers(0, 9, size=(nq, ns)).astype(np.int64)
        M[rng.random(size=M.shape) < 0.3] = 0  # sparse cells, like a census
        c_want = d_want = 0
        for i in range(nq):
            for j in range(ns):
                if not M[i, j]:
                    continue
                for i2 in range(i + 1, nq):
                    for j2 in range(ns):
                        if M[i2, j2]:
                            if j2 > j:
                                c_want += int(M[i, j]) * int(M[i2, j2])
                            elif j2 < j:
                                d_want += int(M[i, j]) * int(M[i2, j2])
        c_got, d_got = _kendall_cd(M)
        assert (c_got, d_got) == (c_want, d_want), (nq, ns)


def test_sweep_peak_matches_day_expansion():
    """The sweep-line scalar fold (queries._sweep_peak, the r13 wave-5
    collapse of order_concurrency_peak) must equal the brute force that
    expands every interval into per-day open counts and takes the first
    day attaining the per-segment max — including ties in the peak (first
    day wins), single-interval segments, and intervals sharing endpoints."""
    import random

    from numaflow_spark.queries import _sweep_peak

    rng = random.Random(5)
    for trial in range(20):
        # random intervals per segment: (open_day, close_day), inclusive
        intervals = [
            ("s%d" % rng.randint(0, 3), (lambda o: (o, o + rng.randint(0, 9)))(
                rng.randint(0, 30)
            ))
            for _ in range(rng.randint(1, 40))
        ]
        # brute force: count open intervals per (seg, day) over the full grid
        want = []
        for seg in sorted({s for s, _ in intervals}):
            days = {}
            for s, (o, c) in intervals:
                if s != seg:
                    continue
                for d in range(o, c + 1):
                    days[d] = days.get(d, 0) + 1
            peak = max(days.values())
            first = min(d for d, v in days.items() if v == peak)
            want.append((seg, first, peak))
        # the fold's input: the (seg, day, net) census the query collects
        census = {}
        for s, (o, c) in intervals:
            census[(s, o)] = census.get((s, o), 0) + 1
            census[(s, c + 1)] = census.get((s, c + 1), 0) - 1
        got = _sweep_peak([(s, d, n) for (s, d), n in census.items()])
        assert got == want, (trial, intervals)


def test_running_sums_totals_and_count_stamp(spark):
    """totals_cols/count_col (r13 wave 2): the op-stamped grand totals and
    row count equal the separate aggregate they replace, and NULL/empty
    semantics match Spark's sum/count contracts."""
    from numaflow_spark.operators.ranking import add_global_running_sums

    df = _df(spark, ROWS)
    out = add_global_running_sums(
        df, [F.col("v"), F.col("id")], ["amt"], ["rs"],
        primary="v", partitions=4,
        totals_cols=["amt_tot"], count_col="n",
    ).collect()
    assert len(out) == len(ROWS)
    want_tot = sum(r[2] for r in ROWS)
    assert all(r["amt_tot"] == want_tot and r["n"] == len(ROWS)
               for r in out)
    # the stamped running sum itself is unchanged by the extra columns
    w = (
        Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want_rs = {
        r["id"]: r["rs"]
        for r in df.withColumn("rs", F.sum("amt").over(w)).collect()
    }
    assert {r["id"]: r["rs"] for r in out} == want_rs


def test_rank_count_col_stamp(spark):
    """count_col on add_global_rank (r13 wave 2): the stamped total equals
    count(*), and ranks are unchanged."""
    from pyspark.sql.types import LongType

    df = _df(spark, ROWS)
    out = add_global_rank(
        df, [F.col("v"), F.col("id")], "rk",
        primary="v", partitions=4, count_col="n_tot",
    )
    rows = out.collect()
    assert all(r["n_tot"] == len(ROWS) for r in rows)
    assert isinstance(out.schema["n_tot"].dataType, LongType)
    assert sorted(r["rk"] for r in rows) == list(range(1, len(ROWS) + 1))


def test_census_order_statistics_match_bruteforce(spark):
    """The (group, value) census cumulative-count device (r13 wave 3,
    quantity_quartiles): the value at rank r recovered from cum_before <
    r <= cum must equal indexing the sorted multiset directly, for random
    tied data and all three quartile rank formulas."""
    import random

    from pyspark.sql import Window

    rng = random.Random(13)
    rows = [
        ("g%d" % (i % 3), rng.randint(0, 9)) for i in range(500)
    ] + [("g3", 7)]  # single-row group: all quartiles are that row
    df = spark.createDataFrame(rows, "g string, qty long")

    census = df.groupBy("g", "qty").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("g").orderBy("qty")
    wn = Window.partitionBy("g")
    cum = census.select(
        "g", "qty", "cnt",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    ).withColumn("cum_before", F.col("cum") - F.col("cnt"))
    pick = lambda r: F.max(
        F.when((F.col("cum_before") < r) & (r <= F.col("cum")), F.col("qty"))
    )
    got = {
        r["g"]: (r["q25"], r["q50"], r["q75"])
        for r in cum.groupBy("g").agg(
            pick(F.expr("(n + 3) div 4")).alias("q25"),
            pick(F.expr("(n + 1) div 2")).alias("q50"),
            pick(F.expr("(3 * n + 3) div 4")).alias("q75"),
        ).collect()
    }

    by_g = {}
    for g, q in rows:
        by_g.setdefault(g, []).append(q)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        want = tuple(
            vals[r - 1]
            for r in ((n + 3) // 4, (n + 1) // 2, (3 * n + 3) // 4)
        )
        assert got[g] == want, (g, got[g], want)
