"""Scale-safe global ranking and running aggregates (two-phase).

Replaces the unpartitioned ``Window.orderBy`` pattern — a single-partition
global sort, the one plan shape in this repo that would invert at 100x
data (VERDICT r9 "What's wrong" #5: at the 100 TB target the "collapsed"
per-customer / per-part / per-vocabulary tables are billions of rows, and
an unpartitioned window forces ALL of them through ONE task).

The classic two-phase distributed ranking:

1. Every row gets an order-respecting bucket id computed as a
   DETERMINISTIC PURE FUNCTION of its primary sort value:
   ``bucket = ((v - min) * P) div (max - min + 1)`` against the broadcast
   1-row (min, max) aggregate — monotone in v, so bucket boundaries
   respect the total order and equal keys always co-locate.
2. Local running aggregates (row_number / running sum / running max) run
   inside each bucket — P parallel sorts of ~n/P rows each, partitioned
   on the bucket column (one hash exchange).
3. Per-bucket closing totals reduce to <=P+2 rows, which the driver
   collects; each bucket's EXCLUSIVE prefix (what all strictly-earlier
   buckets contribute) is inlined as a literal map lookup:
   global = exclusive_prefix (+) local. The literal removes the
   triangle-join + per-bucket-agg + broadcast-build stages a pure-plan
   prefix would need — 2-4 AQE jobs per ranking op at sf0.1, where the
   scheduling floor is 69% of suite wall (VERDICT r11 task 6). Driver
   traffic is bounded by the partition constant (same class as the BPE
   1-row argmax and the CC convergence boolean, the repo's bounded-collect
   allowlist). The collect reads the SAME materialized snapshot the local
   window reads (cut_lineage eager), so the inlined offsets cannot diverge
   from the windowed rows; in the lazy plan-audit regime both evaluations
   are pure functions of the data (the bucket-determinism contract below).
   No single-partition sort of any size appears in the rewritten plans.

WHY a value-interpolated bucket and not ``repartitionByRange`` +
``spark_partition_id()``: the r10 first cut used the physical partition
id, and its correctness silently depended on Spark REUSING the range
exchange between the plan's two reads (the local-window branch and the
per-bucket-counts branch). When the optimizer does not reuse — measured
on the chained customer_rfm plan at x10 — each branch re-evaluates the
exchange, the range sampler draws DIFFERENT bounds per evaluation (its
seed derives from the RDD id), and offsets from one bucketing get applied
to local ranks from another: 145k of 150k ranks came out wrong while the
same single-call plan passed via lucky reuse. A bucket id that is a pure
function of the DATA is consistent across any number of independent
evaluations by construction; no physical-plan property is load-bearing.
The price is balance, not correctness: value-space interpolation can skew
on pathological distributions (sampled range partitioning balances
better), which degrades parallelism gracefully and never the result.

Ranks are EXACT for any bucket boundaries because equal keys co-locate
and every key in bucket i precedes every key in bucket j>i (ascending
primary; descending flips the bucket index).

The primary sort value must be an INTEGER column (bigint-castable) — true
of every consumer in this repo (cents, days, counts); the interpolation
arithmetic is exact 64-bit ((v-min)*P stays < 2^63 for P <= 2^13 on any
realistic money/count domain).

Reference parity: numaflow's reducers are keyed and never need a global
total order (rust/numaflow-core reduce pipeline); this module serves the
analytic query surface the engine adds on top, where SQL ranking
semantics (rank / ntile / running sums / skyline prefixes) must hold
globally at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from numaflow_spark.operators import graph


def _collect_no_aqe(df: DataFrame):
    """collect() with AQE disabled for the module's bounded aggregate
    pulls (per-bucket counts/sums/maxes/stats — ≤ partitions+1 rows over
    an already-materialized input). AQE splits each pull into a shuffle-
    materialize job plus a result job; the non-adaptive plan is ONE job
    over the same two-stage shuffle (the CC probe device, graph.py) —
    measured 2 -> 1 jobs per pull, and the ranking ops make 1-3 pulls
    per call. A graph.py::scoped_conf block (see its concurrency
    contract)."""
    with graph.scoped_conf(df.sparkSession, {graph.AQE: "false"}):
        return df.collect()


def _prefix_map_expr(pairs, pid_col: str, dtype: str, combine):
    """Exclusive prefix per bucket id as a literal map lookup.

    ``pairs`` = collected (pid, closing_total) rows; buckets with no
    strictly-earlier non-NULL total get no map entry, so the lookup yields
    NULL — exactly the empty-frame semantics of the window this replaces.
    Ascending pid is always the prefix direction: descending rankings
    already flipped the bucket index in _bucket_expr."""
    entries = []
    acc = None
    for pid, val in sorted(pairs, key=lambda kv: kv[0]):
        if acc is not None:
            entries += [F.lit(pid), F.lit(acc).cast(dtype)]
        if val is not None:
            acc = val if acc is None else combine(acc, val)
    if not entries:
        return F.lit(None).cast(dtype)
    return F.create_map(*entries)[F.col(pid_col)]

# Default fan-out of the two-phase sort. On the local[32] harness this
# matches the core count; on a real cluster raise it toward the shuffle
# partition count — correctness does not depend on it, only parallelism.
DEFAULT_RANGE_PARTITIONS = 32

_PID = "__rk_pid"
_LOC = "__rk_loc"
_LO = "__rk_lo"
_HI = "__rk_hi"


def _bucket_expr(primary: str, lo: str, hi: str, partitions: int,
                 descending: bool):
    """The order-respecting deterministic bucket id (module docstring),
    with NULL primaries routed to a dedicated edge bucket."""
    base = (
        f"((CAST({primary} AS BIGINT) - {lo}) * {partitions})"
        f" div ({hi} - {lo} + 1)"
    )
    if descending:
        return F.expr(
            f"CAST(CASE WHEN {primary} IS NULL THEN {partitions} "
            f"ELSE {partitions - 1} - ({base}) END AS INT)"
        )
    return F.expr(
        f"CAST(CASE WHEN {primary} IS NULL THEN -1 "
        f"ELSE {base} END AS INT)"
    )


def _bucketed(df: DataFrame, primary: str, descending: bool,
              partitions: int, materialize: bool = True) -> DataFrame:
    """Attach the order-respecting deterministic bucket id (see module
    docstring). The (min, max) aggregate broadcasts as one row; both are
    order-insensitive, so every independent evaluation of this subtree
    yields identical buckets."""
    stats = df.agg(
        F.min(F.col(primary).cast("bigint")).alias(_LO),
        F.max(F.col(primary).cast("bigint")).alias(_HI),
    )
    # NULL primaries get a dedicated edge bucket (-1 ascending, P
    # descending): the interpolation alone yields a NULL bucket id, which
    # the literal prefix lookup would map to offset 0 (ADVICE r10). The edge choice mirrors the Window.orderBy these
    # ops replace: Spark sorts NULLS FIRST ascending, NULLS LAST
    # descending. min/max ignore NULLs, so an all-NULL column routes every
    # row through the NULL arm and (lo, hi) being NULL is harmless.
    part = (
        df.crossJoin(F.broadcast(stats))
        .withColumn(_PID, _bucket_expr(primary, _LO, _HI, partitions,
                                       descending))
        .drop(_LO, _HI)
    )
    # Each two-phase op reads its input from TWO branches (local windows +
    # per-bucket totals); correctness no longer cares (buckets are pure
    # functions of the data), but lazily the upstream subtree re-evaluates
    # per branch and CHAINED rankings compound it 2^k-fold — customer_rfm
    # (3 chained ntiles) measured 18 s at x10 lazy vs ~3 s with the input
    # materialized once per call. Callers that already ran
    # graph.materialize on the shared input pass ``materialize=False`` and
    # skip the per-op cut (VERDICT r10 #3). Inside graph.lazy_plans() the
    # cut is skipped so the pin tests see the real window/join structure.
    if materialize:
        part = graph.materialize(part)
    return part


def add_running_sum_bounded(df: DataFrame, order_col: str, value_col: str,
                            out_col: str) -> DataFrame:
    """Inclusive running sum of ``value_col`` over ``order_col`` ascending
    for CONSTANT-BOUNDED censuses (calendar-day rollups, value-domain
    censuses): one broadcast strictly-less triangle instead of the
    two-phase machinery. The two-phase form exists for unbounded key
    spaces and pays its materialize + stats + offsets jobs per call; over
    a bounded census the triangle is pure plan (no action), so the whole
    prefix folds into the consumer's final job DAG (r12 continuation:
    spearman 19 -> 14 jobs from the quantity side alone). ``order_col``
    must be unique per row — census keys are. Cost: |df|² broadcast
    nested-loop probes; callers document the bound (≤10⁴ rows → ≤10⁸
    probes). Unbounded inputs stay on add_global_running_sum."""
    cols = df.columns
    b = df.select(
        F.col(order_col).alias("__rb_k"), F.col(value_col).alias("__rb_v")
    )
    return (
        df.join(F.broadcast(b), F.col("__rb_k") < F.col(order_col), "left")
        .groupBy(*cols)
        .agg(
            (F.coalesce(F.sum("__rb_v"), F.lit(0)) + F.col(value_col))
            .alias(out_col)
        )
    )


def add_global_rank(df: DataFrame, order_cols: list[Column], out_col: str,
                    *, primary: str, descending: bool = False,
                    partitions: int = DEFAULT_RANGE_PARTITIONS,
                    materialize: bool = True,
                    count_col: str | None = None) -> DataFrame:
    """`row_number() OVER (ORDER BY order_cols)` without the global sort.
    `order_cols` must be a total order (include a tiebreak) whose leading
    key is the integer column `primary` (sorted DESC when `descending`) —
    same determinism contract as the window it replaces. Pass
    ``materialize=False`` when `df` was already run through
    graph.materialize (skips the per-op eager cut).

    ``count_col`` (r13 wave 2, the add_global_ranks device): also stamp
    the TOTAL row count — the sum of the already-collected per-bucket
    counts, a free literal."""
    part = _bucketed(df, primary, descending, partitions, materialize)
    wloc = Window.partitionBy(_PID).orderBy(*order_cols)
    local = part.withColumn(_LOC, F.row_number().over(wloc))
    cnts = part.groupBy(_PID).agg(F.count("*").alias("_cnt"))
    pairs = [(r[0], r[1]) for r in _collect_no_aqe(cnts)]
    pre = _prefix_map_expr(pairs, _PID, "bigint", lambda a, b: a + b)
    out = local.withColumn(
        out_col, (F.coalesce(pre, F.lit(0)) + F.col(_LOC)).cast("bigint")
    ).drop(_PID, _LOC)
    if count_col is not None:
        out = out.withColumn(
            count_col,
            F.lit(sum(c for _, c in pairs)).cast("bigint"),
        )
    return out


def add_global_ranks(df: DataFrame,
                     specs: list[tuple[list[Column], str, str, bool]],
                     *, partitions: int = DEFAULT_RANGE_PARTITIONS,
                     materialize: bool = True,
                     count_col: str | None = None) -> DataFrame:
    """N independent global ranks over ONE input with ONE materialization
    (VERDICT r10 #3: chaining N add_global_rank calls paid the eager cut
    N times on the same rollup). Each spec is (order_cols, out_col,
    primary, descending); every `primary` must be a column of `df` (all
    rankings order by INPUT columns, so one broadcast stats row and one
    projection attach every bucket id at once). The result plan is one
    linear chain — per spec: one hash exchange for the local window plus
    a literal offsets lookup — evaluated once.

    ``count_col`` (r13): also stamp the TOTAL row count as a bigint
    column: the sum of the already-collected per-bucket counts — a free
    literal, saving the consumer's separate count aggregate + broadcast
    (ntile consumers all need n)."""
    aggs = []
    for i, (_oc, _out, primary, _desc) in enumerate(specs):
        aggs += [
            F.min(F.col(primary).cast("bigint")).alias(f"{_LO}{i}"),
            F.max(F.col(primary).cast("bigint")).alias(f"{_HI}{i}"),
        ]
    stats = df.agg(*aggs)
    part = df.crossJoin(F.broadcast(stats))
    for i, (_oc, _out, primary, desc) in enumerate(specs):
        part = part.withColumn(
            f"{_PID}{i}",
            _bucket_expr(primary, f"{_LO}{i}", f"{_HI}{i}", partitions, desc),
        )
    part = part.drop(*[c for i in range(len(specs))
                       for c in (f"{_LO}{i}", f"{_HI}{i}")])
    if materialize:
        part = graph.materialize(part)
    grouped_cnts = None
    total_rows: int | None = None
    if len(specs) > 1:
        # ONE pass for every spec's per-bucket counts: grouping sets over
        # the N bucket-id columns (bucket ids are never NULL — the NULL
        # primary routes to a dedicated integer edge bucket — so the
        # grouping-set marker NULLs are unambiguous). <= N*(P+1) rows.
        pids = [f"{_PID}{i}" for i in range(len(specs))]
        rows = (
            part.groupingSets([[p] for p in pids], *[F.col(p) for p in pids])
            .agg(F.count("*").alias("_cnt"))
        )
        rows = _collect_no_aqe(rows)
        grouped_cnts = {
            p: [(r[j], r[len(pids)]) for r in rows if r[j] is not None]
            for j, p in enumerate(pids)
        }
        total_rows = sum(c for _, c in grouped_cnts[pids[0]])
    result = part
    for i, (order_cols, out_col, _primary, _desc) in enumerate(specs):
        pid = f"{_PID}{i}"
        wloc = Window.partitionBy(pid).orderBy(*order_cols)
        result = result.withColumn(f"{_LOC}{i}", F.row_number().over(wloc))
        pairs = (
            grouped_cnts[pid]
            if grouped_cnts is not None
            else [(r[0], r[1])
                  for r in _collect_no_aqe(part.groupBy(pid).agg(
                      F.count("*").alias("_cnt")))]
        )
        if total_rows is None:
            total_rows = sum(c for _, c in pairs)
        pre = _prefix_map_expr(pairs, pid, "bigint", lambda a, b: a + b)
        result = result.withColumn(
            out_col,
            (F.coalesce(pre, F.lit(0)) + F.col(f"{_LOC}{i}"))
            .cast("bigint"),
        ).drop(pid, f"{_LOC}{i}")
    if count_col is not None:
        result = result.withColumn(
            count_col, F.lit(int(total_rows)).cast("bigint")
        )
    return result


def add_grouped_global_ntile(
    df: DataFrame, group_col: str, order_cols: list[Column], out_col: str,
    k: int, *, primary: str, descending: bool = False,
    partitions: int = DEFAULT_RANGE_PARTITIONS, materialize: bool = True,
    max_groups: int = 64,
) -> DataFrame:
    """``ntile(k) OVER (PARTITION BY group ORDER BY order_cols)`` for a
    SMALL (constant-bounded) integer group domain whose per-group tables
    are huge — the two-value-partitioning trap (VERDICT r9 #5: a 2-year
    partitionBy forces each year's whole customer set through ONE task).
    Each group gets its own value-interpolated bucketing from a per-group
    (min, max) stats row, then ONE local window over (group, bucket) and
    ONE per-(group, bucket) counts pass serve every group — versus one full
    two-phase op per group (clv_decile_migration paid 26 sf0.1 jobs that
    way; this shape is ~8).

    Driver traffic: |groups| stats rows + |groups|*(P+2) count rows, both
    constant-bounded (asserted ≤ ``max_groups``). A LARGE group domain
    does not want this op at all — plain ``partitionBy(group)`` windows
    already parallelize there."""
    part = df
    if materialize:
        part = graph.materialize(part)
    stats_rows = _collect_no_aqe(part.groupBy(group_col).agg(
        F.min(F.col(primary).cast("bigint")).alias("lo"),
        F.max(F.col(primary).cast("bigint")).alias("hi"),
    ))
    if len(stats_rows) > max_groups:
        raise ValueError(
            f"add_grouped_global_ntile: {len(stats_rows)} groups > "
            f"{max_groups} — a large group domain should use a plain "
            "partitionBy(group) window instead"
        )
    lo_entries = [x for r in stats_rows if r[1] is not None
                  for x in (F.lit(r[0]), F.lit(r[1]))]
    hi_entries = [x for r in stats_rows if r[2] is not None
                  for x in (F.lit(r[0]), F.lit(r[2]))]
    lo = (F.create_map(*lo_entries)[F.col(group_col)]
          if lo_entries else F.lit(None).cast("bigint"))
    hi = (F.create_map(*hi_entries)[F.col(group_col)]
          if hi_entries else F.lit(None).cast("bigint"))
    part = (
        part.withColumn(_LO, lo.cast("bigint"))
        .withColumn(_HI, hi.cast("bigint"))
        .withColumn(_PID, _bucket_expr(primary, _LO, _HI, partitions,
                                       descending))
        .drop(_LO, _HI)
    )
    wloc = Window.partitionBy(group_col, _PID).orderBy(*order_cols)
    local = part.withColumn(_LOC, F.row_number().over(wloc))
    cnt_rows = _collect_no_aqe(part.groupBy(group_col, _PID).count())
    # composite literal key: pid ∈ [-1, partitions], so (g, pid) packs
    # collision-free into g*(partitions+2) + pid + 1
    span = partitions + 2
    key = (F.col(group_col).cast("bigint") * span + F.col(_PID) + 1)
    by_group: dict = {}
    for g, pid, c in sorted(cnt_rows, key=lambda r: (r[0], r[1])):
        by_group.setdefault(g, []).append((pid, c))
    pre_entries, n_entries = [], []
    for g, pairs in by_group.items():
        acc = 0
        for pid, c in pairs:
            if acc:
                pre_entries += [F.lit(g * span + pid + 1), F.lit(acc)]
            acc += c
        n_entries += [F.lit(g), F.lit(acc)]
    pre = (F.create_map(*pre_entries)[key]
           if pre_entries else F.lit(None).cast("bigint"))
    n_tot = F.create_map(*n_entries)[F.col(group_col)]
    ranked = local.withColumn(
        "__rk_grank",
        (F.coalesce(pre, F.lit(0)) + F.col(_LOC)).cast("bigint"),
    ).withColumn("__rk_gn", n_tot.cast("bigint"))
    return (
        ranked.withColumn(out_col, ntile_from_rank("__rk_grank", "__rk_gn", k))
        .drop(_PID, _LOC, "__rk_grank", "__rk_gn")
    )


def add_global_running_sum(df: DataFrame, order_cols: list[Column],
                           value_col: str, out_col: str,
                           *, primary: str, descending: bool = False,
                           partitions: int = DEFAULT_RANGE_PARTITIONS,
                           materialize: bool = True,
                           total_col: str | None = None,
                           count_col: str | None = None,
                           ) -> DataFrame:
    """`sum(value) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING..
    CURRENT ROW)` without the global sort (order must be total, led by
    the integer column `primary`). ``total_col``/``count_col`` stamp the
    grand total of ``value_col`` / the total row count (see
    add_global_running_sums)."""
    return add_global_running_sums(
        df, order_cols, [value_col], [out_col], primary=primary,
        descending=descending, partitions=partitions,
        materialize=materialize, totals_cols=[total_col],
        count_col=count_col,
    )


def add_global_running_sums(df: DataFrame, order_cols: list[Column],
                            value_cols: list[str], out_cols: list[str],
                            *, primary: str, descending: bool = False,
                            partitions: int = DEFAULT_RANGE_PARTITIONS,
                            materialize: bool = True,
                            totals_cols: list[str | None] | None = None,
                            count_col: str | None = None,
                            ) -> DataFrame:
    """N running sums over the SAME total order from ONE two-phase pass
    (VERDICT r11 #2: ks_priority_price paid the full bucketing + local
    window + per-bucket totals + triangle twice for its two ECDFs). All N
    sums share one bucket assignment, ONE local Window physical operator
    (identical window spec, N aggregate expressions), and one per-bucket
    totals pull — the job count is flat in N.

    ``totals_cols`` (r13, the add_global_ranks ``count_col`` device): for
    each non-None entry, also stamp the GRAND total of that value column
    as a column of the result: the fold of the already-collected
    per-bucket sums — a free literal in the same exact integer/decimal
    terms (commutative adds of the same per-bucket values), saving the
    consumer's separate total aggregate + broadcast join (the ECDF
    consumers all need n1/n2). ``count_col`` likewise stamps the TOTAL row count — the per-bucket
    counts ride the same single sums pull."""
    assert len(value_cols) == len(out_cols) and value_cols
    assert totals_cols is None or len(totals_cols) == len(value_cols)
    part = _bucketed(df, primary, descending, partitions, materialize)
    wloc = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part
    for i, v in enumerate(value_cols):
        local = local.withColumn(f"{_LOC}{i}", F.sum(v).over(wloc))
    sum_aggs = [F.sum(v).alias(f"_s{i}") for i, v in enumerate(value_cols)]
    if count_col is not None:
        sum_aggs.append(F.count("*").alias("_scnt"))
    sums = part.groupBy(_PID).agg(*sum_aggs)
    dtypes = [
        f.dataType.simpleString()
        for f in sums.schema.fields[1:len(value_cols) + 1]
    ]
    rows = _collect_no_aqe(sums)
    out = local
    for i, out_col in enumerate(out_cols):
        pre = _prefix_map_expr(
            [(r[0], r[i + 1]) for r in rows], _PID, dtypes[i],
            lambda a, b: a + b,
        )
        out = out.withColumn(
            out_col, F.coalesce(pre, F.lit(0)) + F.col(f"{_LOC}{i}")
        )
    if totals_cols is not None:
        for i, tc in enumerate(totals_cols):
            if tc is None:
                continue
            # grand total = fold of the collected per-bucket sums:
            # NULL iff every bucket sum is NULL (Spark's sum-over-
            # empty/all-NULL contract), else the exact commutative add
            vals = [r[i + 1] for r in rows if r[i + 1] is not None]
            tot = sum(vals) if vals else None
            out = out.withColumn(tc, F.lit(tot).cast(dtypes[i]))
    if count_col is not None:
        # count-over-anything is 0 on empty input, never NULL
        out = out.withColumn(
            count_col,
            F.lit(sum(r[len(value_cols) + 1] for r in rows))
            .cast("bigint"),
        )
    return out.drop(
        _PID, *[f"{_LOC}{i}" for i in range(len(value_cols))]
    )


def add_global_running_max_strictly_before(
    df: DataFrame, range_col: str, value_col: str, out_col: str,
    partitions: int = DEFAULT_RANGE_PARTITIONS,
    materialize: bool = True,
) -> DataFrame:
    """`max(value) OVER (ORDER BY range_col RANGE UNBOUNDED PRECEDING..
    1 PRECEDING)` — the skyline "best among strictly smaller keys" frame —
    without the global sort. Bucketing on `range_col` alone keeps equal
    keys in one bucket (the id is a function of the value), so boundaries
    never split a strictly-before frame. NULL when nothing precedes."""
    part = _bucketed(df, range_col, False, partitions, materialize)
    wloc = (
        Window.partitionBy(_PID)
        .orderBy(range_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    local = part.withColumn(_LOC, F.max(value_col).over(wloc))
    maxes = part.groupBy(_PID).agg(F.max(value_col).alias("_m"))
    dtype = maxes.schema.fields[1].dataType.simpleString()
    pre = _prefix_map_expr(
        [(r[0], r[1]) for r in _collect_no_aqe(maxes)], _PID, dtype,
        lambda a, b: max(a, b),
    )
    # greatest() skips NULLs (returns NULL only when BOTH are), which
    # is exactly the empty-frame semantics of the window it replaces
    return local.withColumn(
        out_col, F.greatest(pre, F.col(_LOC))
    ).drop(_PID, _LOC)


def ntile_from_rank(rank_col: str, n_col: str, k: int) -> Column:
    """SQL NTILE(k) from an exact 1-based global rank column and a total
    row count column, both bigint and already materialized under these
    names (both engines' published semantics: with q = n div k, r = n % k,
    the first r buckets hold q+1 rows, the rest q). Integer `div`
    arithmetic only — bit-exact across engines at any n, no doubles. The
    q=0 arm (n < k) never divides by zero: CASE evaluates lazily and
    every rank then satisfies the first arm (r = n)."""
    q = f"({n_col} div {k})"
    r = f"({n_col} % {k})"
    big = f"({r} * ({q} + 1))"
    return F.expr(
        f"CAST(CASE WHEN {rank_col} <= {big} "
        f"THEN ({rank_col} + {q}) div ({q} + 1) "
        f"ELSE {r} + ({rank_col} - {big} + {q} - 1) div {q} END AS BIGINT)"
    )
