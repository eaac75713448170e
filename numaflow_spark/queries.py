"""Declared query set: one entry per implemented operator (SURVEY.md §2),
each with a DuckDB oracle in ``oracles.py``.

Determinism discipline (so value-hashes match the oracle engine):
  * window bounds -> epoch seconds BIGINT (timestamps hash engine-specific);
  * money sums -> DECIMAL casts before summing (exact, order-independent),
    then the FINAL column is integer cents (``sum * 100 AS BIGINT``; ``*
    10000`` for scale-4 products) — engines canonicalize DECIMAL scale
    differently (919.60 vs 919.6) at the hash layer, integers never differ;
  * ratios/averages -> computed from exact decimal sums, cast to double and
    ROUND()ed — a ratio is generically far from a rounding boundary, while a
    double SUM at 1e9 magnitude is not;
  * every computed column aliased identically here and in the oracle SQL;
  * ordering never relied on (driver compare is order-insensitive) but ties
    in top-k queries get explicit deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from numaflow_spark.operators import reduce_ops, routing
from numaflow_spark.operators.graph import materialize
from numaflow_spark.session import load_table

DEC = "decimal(18,2)"


def _cents(col, scale: int = 100):
    """Exact decimal -> integer minor units (BIGINT). The input is an exact
    decimal whose scale divides ``scale``, so the product is integral and the
    cast is lossless in both Spark (truncating) and DuckDB (rounding)."""
    return (col * scale).cast("bigint")


def _literal_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A small driver-side table, typed by the DDL ``ddl``, as a local
    relation shipped through Arrow. ``createDataFrame(list)`` would scan a
    Python RDD instead and start the Python worker daemon to decode it."""
    import pyarrow as pa
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    cols = {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}
    return spark.createDataFrame(pa.table(cols), schema)


# ---------------------------------------------------------------------------
# Reduce operators (§2.4) on the events stream table, batch-mode correctness.
# ---------------------------------------------------------------------------

def q_fixed_window_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 fixed/tumbling keyed window (fixed.rs:44-91): 10-minute windows per
    event_type — the batch twin of reduce-one-e2e TestSimpleKeyedReducePipeline."""
    events = load_table(spark, sf_dir, "events")
    return reduce_ops.tumbling(
        events,
        "ts",
        "10 minutes",
        keys=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            _cents(F.sum(F.col("value").cast(DEC))).alias("sum_value_cents"),
        ],
    )


def q_fixed_window_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 non-keyed reduce (aligned/reducer.rs:26): all messages collapse to a
    single group per window."""
    events = load_table(spark, sf_dir, "events")
    return reduce_ops.tumbling(
        events,
        "ts",
        "1 hour",
        keys=[],
        aggs=[
            F.count("*").alias("n_events"),
            _cents(F.sum(F.col("value").cast(DEC))).alias("sum_value_cents"),
        ],
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 sliding window (sliding.rs:1-47): 30-minute length, 10-minute slide,
    keyed by event_type — each event lands in exactly 3 windows."""
    events = load_table(spark, sf_dir, "events")
    return reduce_ops.sliding(
        events,
        "ts",
        "30 minutes",
        "10 minutes",
        keys=["event_type"],
        aggs=[F.count("*").alias("n_events")],
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 session windows (session.rs:46-70): per-user sessions with a
    30-minute inactivity gap; Spark's session_window performs the reference's
    OPEN/APPEND/EXPAND/MERGE lifecycle."""
    events = load_table(spark, sf_dir, "events")
    return reduce_ops.session(
        events,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[F.count("*").alias("n_events")],
    )


# ---------------------------------------------------------------------------
# Map surface (§2.2/§2.3): filter / typed payload projection / flat-map.
# ---------------------------------------------------------------------------

def q_filter_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/M5 builtin filter transformer + payload field extraction
    (docs/.../builtin-transformers/filter.md): predicate over a JSON payload
    field, like udf-filtering.yaml's `json(payload).id < 100`."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        events.withColumn("k", k)
        .filter((F.col("k") < 50) & (F.col("event_type") != "error"))
        .select("event_id", "user_id", "event_type", "k")
    )


def q_flat_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 flat-map 1->N fanout (mapstream.proto:30-35): each event emits one
    row per tag; declarative explode keeps the fanout JVM-side."""
    events = load_table(spark, sf_dir, "events")
    tagged = events.withColumn(
        "tag",
        F.explode(
            F.array(
                F.col("event_type"),
                F.when(F.col("value") >= 10, F.lit("high")).otherwise(F.lit("low")),
            )
        ),
    )
    return tagged.groupBy("tag").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Routing (§2.6): tag conditions and/or/not, fan-in union.
# ---------------------------------------------------------------------------

def _with_tags(events: DataFrame) -> DataFrame:
    # Synthesize a tags column from payload fields, as a source transformer
    # would (sourcetransform.proto Result.tags).
    return events.withColumn(
        "tags",
        F.array_compact(
            F.array(
                F.col("event_type"),
                F.when(F.col("value") >= 10, F.lit("high")),
            )
        ),
    )


def q_route_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 conditional forwarding, `and` operator (forward.rs:45-53): edge
    fires iff condition values ⊆ message tags."""
    events = _with_tags(load_table(spark, sf_dir, "events"))
    branch = routing.forward(events, "and", ["click", "high"])
    return branch.groupBy("event_type").agg(F.count("*").alias("n"))


def q_route_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 conditional forwarding, `or` operator (forward.rs:55-62)."""
    events = _with_tags(load_table(spark, sf_dir, "events"))
    branch = routing.forward(events, "or", ["click", "view"])
    return branch.groupBy("event_type").agg(F.count("*").alias("n"))


def q_route_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 conditional forwarding, `not` operator (forward.rs:64-71)."""
    events = _with_tags(load_table(spark, sf_dir, "events"))
    branch = routing.forward(events, "not", ["error", "high"])
    return branch.groupBy("event_type").agg(F.count("*").alias("n"))


def q_fan_in_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 fan-in / join vertex (join-vertex.md:1-44): two branches of the DAG
    merge by interleaved UNION ALL, then a keyed window reduce — the
    diamond-e2e topology."""
    events = load_table(spark, sf_dir, "events")
    left = events.filter(F.col("event_type") == "click").withColumn("source_id", F.lit("input-one"))
    right = events.filter(F.col("event_type") == "view").withColumn("source_id", F.lit("input-two"))
    merged = routing.fan_in(left, right)
    return merged.groupBy("source_id").agg(
        F.count("*").alias("n_events"),
        _cents(F.sum(F.col("value").cast(DEC))).alias("sum_value_cents"),
    )


# ---------------------------------------------------------------------------
# Dedup (F8/ISB dedup + north-star exact dedup).
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 effectively-once dedup (js_writer.rs:167-171) in batch form: exact
    duplicate collapse on a message-id equivalent, then a per-key count of
    distinct payload shapes."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Relational surface (§2.13 — free from DataFrame/SQL, in-scope extensions).
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem: multi-agg groupBy with
    exact decimal arithmetic; Catalyst plans partial aggregation before the
    single shuffle on the two group keys."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    disc_price = price * (F.lit(1).cast(DEC) - disc)
    filtered = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    out = filtered.groupBy("l_returnflag", "l_linestatus").agg(
        _cents(F.sum(qty)).alias("sum_qty_c"),
        _cents(F.sum(price)).alias("sum_base_price_c"),
        _cents(F.sum(disc_price), 10000).alias("sum_disc_price_c4"),
        F.round(F.sum(qty).cast("double") / F.count("*"), 4).alias("avg_qty"),
        F.round(F.sum(price).cast("double") / F.count("*"), 4).alias("avg_price"),
        F.count("*").alias("count_order"),
    )
    return out


def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join + aggregation: revenue per nation via
    lineitem ⋈ orders ⋈ customer ⋈ nation. The dimension tables are
    broadcast (they stay tiny at any scale factor); the only shuffle is the
    final group-by on n_name."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return joined.groupBy("n_name").agg(
        _cents(F.sum(revenue), 10000).alias("revenue_c4"),
        F.count("*").alias("n_items"),
    )


def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned items
    (l_returnflag = 'R'), with nation context. The returnflag filter pushes
    to the lineitem scan; dimension joins broadcast; one group-by shuffle on
    customer; the global top-20 is a bounded takeOrdered-style sort of the
    (small) aggregated table, ties broken by c_custkey for determinism."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        _cents(F.sum(revenue), 10000).alias("revenue_c4")
    )
    return agg.orderBy(F.col("revenue_c4").desc(), F.col("c_custkey").asc()).limit(20)


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation where the ordering customer and
    the supplying supplier share a nation — a 5-way join whose selective
    equi-predicate (c_nationkey = s_nationkey) rides the join, not a
    post-filter. supplier/customer/nation broadcast; single group-by
    shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    return joined.groupBy("n_name").agg(
        _cents(F.sum(revenue), 10000).alias("revenue_c4"),
        F.count("*").alias("n_items"),
    )


def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via TWO-PHASE window ranking (§2.13 gap: the
    reference has no ranking operators): top-3 orders by price per order
    priority, deterministic (price desc, orderkey asc) tie-break.

    o_orderpriority has ~5 distinct values, so a single window over it
    funnels the whole table into ≤5 tasks — a straggler at scale. Phase 1
    ranks within (priority, salt) buckets (full parallelism) and keeps each
    bucket's local top-3; phase 2 re-ranks the ≤ 3×SALT survivors per
    priority — exactly the merge `brute_force_topk` uses for candidates."""
    from pyspark.sql import Window

    SALT = 32
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(SALT))
    )
    order_cols = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    w_local = Window.partitionBy("o_orderpriority", "salt").orderBy(*order_cols)
    w_merge = Window.partitionBy("o_orderpriority").orderBy(*order_cols)
    return (
        orders.withColumn("local_rank", F.row_number().over(w_local))
        .filter(F.col("local_rank") <= 3)
        .withColumn("rank", F.row_number().over(w_merge))
        .filter(F.col("rank") <= 3)
        .select(
            "o_orderpriority",
            "rank",
            "o_orderkey",
            _cents(F.col("o_totalprice").cast(DEC)).alias("totalprice_c"),
        )
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (§2.13 gap: no grouping sets in the reference):
    counts at (returnflag, linestatus), (returnflag), and grand-total levels."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _cents(F.sum(F.col("l_quantity").cast(DEC))).alias("sum_qty_c"))
    )


# ---------------------------------------------------------------------------
# Full-DAG pipeline through the spec->DataFrame compiler (§3.1): the
# diamond-e2e topology — source → tagger → two conditional branches with
# different maps → fan-in → fixed-window reduce → sink. Multicast semantics:
# an event matching BOTH edge conditions flows down both branches
# (writer.rs:106-115), so it is counted twice — the oracle reproduces that
# with UNION ALL of the two filtered selects.
# ---------------------------------------------------------------------------

def q_accumulator_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 accumulator window, batch twin (accumulator.rs:38-58; stream-sorter
    examples/40-stream-sorter.yaml): per-key event-time re-ordering with a
    deterministic sequence number. Epoch-micro output keeps full precision."""
    from numaflow_spark.operators.accumulator import sorted_replay_batch

    events = load_table(spark, sf_dir, "events")
    out = sorted_replay_batch(events, ["user_id"], "ts", tiebreak_cols=["event_id"])
    return out.select(
        "user_id",
        "seq",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )


def q_pipeline_diamond(spark: SparkSession, sf_dir: str) -> DataFrame:
    from numaflow_spark.compiler import compile_batch
    from numaflow_spark.pipeline import MapUDF, Pipeline, ReduceUDF, Sink, Source, Vertex

    def read_events(s: SparkSession) -> DataFrame:
        return _with_tags(load_table(s, sf_dir, "events"))

    def enrich_a(df: DataFrame) -> DataFrame:
        return df.select(F.col("ts"), F.col("value").cast(DEC).alias("v"), "tags")

    def enrich_b(df: DataFrame) -> DataFrame:
        return df.select(F.col("ts"), (F.col("value").cast(DEC) * 2).alias("v"), "tags")

    p = (
        Pipeline("diamond")
        .add(Vertex("in", source=Source(read_events)))
        .add(Vertex("branch-a", udf=MapUDF(enrich_a)))
        .add(Vertex("branch-b", udf=MapUDF(enrich_b)))
        .add(
            Vertex(
                "window-sum",
                udf=ReduceUDF(
                    window={"fixed": "1 hour"},
                    keys=(),
                    aggs=[
                        F.count("*").alias("n_events"),
                        _cents(F.sum("v")).alias("sum_value_cents"),
                    ],
                    ts_col="ts",
                ),
            )
        )
        .add(Vertex("out", sink=Sink()))
        .connect("in", "branch-a", "or", ["click", "view"])
        .connect("in", "branch-b", "and", ["high"])
        .connect("branch-a", "window-sum")
        .connect("branch-b", "window-sum")
        .connect("window-sum", "out")
    )
    return compile_batch(p, spark)["out"]


# ---------------------------------------------------------------------------
# Custom join operators (§2.13): as-of and range joins.
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each click, the latest view ≤ click time by the same
    user (single shuffle + ordered window; operators/asof.py)."""
    from numaflow_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = events.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    joined = asof_join(
        clicks, views, on=["user_id"], left_ts="ts", right_ts="ts", right_cols=["event_id", "ts"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("event_id_asof").alias("prev_event_id"),
        F.unix_micros(F.col("ts_asof")).alias("prev_ts_us"),
    )


def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join against a broadcast band table (price bands of width 250):
    BroadcastNestedLoopJoin is the correct plan for a tiny inequality side."""
    from numaflow_spark.operators.asof import range_join

    part = load_table(spark, sf_dir, "part")
    bands = _literal_frame(
        spark,
        [(i, 900.0 + i * 10.0, 900.0 + (i + 1) * 10.0) for i in range(10)],
        "band int, lo double, hi double",
    )
    joined = range_join(
        part, bands, (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi"))
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("n_parts"),
        _cents(F.sum(F.col("p_retailprice").cast(DEC))).alias("sum_price_c"),
    )


# ---------------------------------------------------------------------------
# Remaining relational surface (§2.13): cube, pivot, set ops, percentiles,
# ordered-window analytics.
# ---------------------------------------------------------------------------

def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


def q_pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast(DEC)))
        .select(
            "l_returnflag",
            _cents(F.col("O")).alias("qty_open_c"),
            _cents(F.col("F")).alias("qty_filled_c"),
        )
    )


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with no lineitems (EXCEPT distinct semantics).

    Plan note: EXCEPT DISTINCT == anti-join then distinct. The naive
    ``exceptAll(items.distinct()).distinct()`` shuffles the FULL lineitem
    side for a distinct, then runs the except machinery, then distincts
    again — three wide exchanges (6.3 s at sf1 in the suite run, 38x
    DuckDB). The anti-join form shuffles each side once on the join key
    and the trailing distinct runs over the anti-join SURVIVORS
    (near-empty here), so the only big exchange is the join itself — the
    shape that holds at 100 TB where the right side never fits a
    distinct-broadcast. A/B (tools/timeq.py, warm tables, best of 2):
    x10 4.56 -> 3.57 s, sf0.1 0.95 -> 0.89 s. r8b refinement: the right
    side pre-dedups with ``distinct()`` — its map-side partial aggregate
    collapses the fact rows BEFORE the exchange (6M -> 1.5M keys at x10)
    and the anti-join reuses the resulting hash partitioning, so the
    extra aggregate costs no extra shuffle. A/B same harness: x10
    5.15 -> 2.59 s."""
    ordered = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("orderkey"))
    items = load_table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("orderkey"))
    return ordered.join(items.distinct(), "orderkey", "left_anti").distinct()


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer keys appearing in both customer and orders (INTERSECT)."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    ordered = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return cust.intersect(ordered)


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (p50/p90)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.count("*").alias("n"),
    )


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-window analytics per user: lag + running decimal sum (the
    per-key FIFO shape of ordered processing, F9, as batch analytics)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        _cents(F.sum(F.col("value").cast(DEC)).over(run)).alias("run_sum_c"),
    )


# ---------------------------------------------------------------------------
# North-star extensions (BASELINE.json): text analysis, dedup, similarity,
# multimodal — the LLM-training-data operator set, over documents/embeddings.
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token counts, stopword ratio, composite quality
    band — all integer-derived (bit-identical across engines)."""
    from numaflow_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        F.length(t).cast("bigint").alias("n_chars_m"),
        X.stopword_count(t).alias("n_stopwords"),
        (X.stopword_count(t) / X.token_count(t)).alias("stopword_ratio"),
        X.quality_score(t).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language ID (deterministic CASE ladder over marker
    counts; precedence en>de>fr>es, 'und' when no marker hits)."""
    from numaflow_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.lang_id(F.col("text")).alias("lang_pred"))


def q_doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5 fingerprint over normalized text: duplicate groups
    (one hash shuffle; shuffle volume = #distinct fingerprints)."""
    from numaflow_spark.operators.dedup import exact_dup_groups

    docs = load_table(spark, sf_dir, "documents")
    return exact_dup_groups(docs, "doc_id", "text")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs at J≥0.8 (ground-truth path)."""
    from numaflow_spark.operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs verified by exact Jaccard (the scale
    path). Oracle = the exact-Jaccard pair set: banding (k=64, b=16, r=4)
    has ≥99.97% per-pair recall at J≥0.8, and verification gives exact
    precision, so the outputs coincide."""
    from numaflow_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=64, bands=16, threshold=0.8)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (Hamming ≤ 3 over 64-bit signatures).
    The token hash is a polynomial fold + affine bit extractors so the
    DuckDB oracle (dedup.simhash_oracle_sql) computes the identical
    signatures — full hash check."""
    from numaflow_spark.operators.dedup import simhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=3)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id<20 over the full
    corpus (broadcast queries, one corpus pass, one top-k shuffle)."""
    from numaflow_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)


def q_embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs with cosine ≥ 0.4 (embedding near-dup surface)."""
    from numaflow_spark.operators.similarity import similar_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return similar_pairs(emb, threshold=0.4)


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (scale path). Approximate in recall,
    but deterministic given the seeded planes — the DuckDB oracle embeds the
    same plane constants (lsh_topk_oracle_sql) so this is a full hash check."""
    from numaflow_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 20), k=5, n_planes=6)


def q_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN top-k (Lv et al., VLDB 2007): candidates are
    corpus vectors whose 8-plane bucket is within Hamming distance 1 of the
    query's — 9 probed buckets per query, recovering neighbors that fall one
    sign-flip across a hyperplane. Same scan/shuffle shape as lsh_ann_topk;
    only the candidate mask changes. Deterministic given the seeded planes,
    so the DuckDB oracle (same plane literals, bit_count(xor) join) is a
    full hash check."""
    from numaflow_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5, n_planes=8, probe_bits=1
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou et al., TPAMI 2011): corpus
    vectors compress to m=8 codebook indices (8 bytes vs 256 — the storage
    layout of a 100 TB vector corpus) and are scored against full-precision
    queries via per-query lookup tables over the reconstructions. Seeded
    data-independent codebooks make the assignment + ADC math reproducible
    in DuckDB (pq_topk_oracle_sql embeds the codeword literals), so this is
    a full hash check; k-means-trained codebooks (better distortion) are
    the production path, recall-gated in pytest."""
    from numaflow_spark.operators.similarity import pq_codebooks, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebooks(64, m=8, k=16, seed=202)
    return pq_topk(emb, emb.filter(F.col("vec_id") < 20), codebooks=cb, k=5)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: text payload → binary blob + typed metadata →
    mapInPandas batch 'decode' to features (deterministic stub codec; the
    Arrow plumbing is the real deliverable)."""
    from numaflow_spark.operators.multimodal import attach_blob, decode_features

    docs = load_table(spark, sf_dir, "documents")
    return decode_features(attach_blob(docs, "doc_id", "text", source_col="source"))


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (words | numbers | single punctuation) via one
    regexp_extract_all — the token-budget pass of an LLM-data pipeline, all
    inside WholeStageCodegen."""
    from numaflow_spark.operators.text import tokens_re

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(tokens_re(F.col("text"))).alias("n_bpe_tokens")
    )


def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest dedup: one survivor per user_id — newest ts, event_id as
    the deterministic tie-break (the crawl-dedup 'keep newest snapshot per
    URL' shape). One shuffle on the key; row_number, not a self-join."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.col("event_type"),
        )
    )


def q_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (rank-per-group top-k: window
    ranking prunes map-side under AQE instead of a global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "rnk",
            _cents(F.col("o_totalprice").cast(DEC)).alias("price_c"),
        )
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling plumbing: blob + frame-count metadata →
    exploded sampled frame indices (stride 4), JVM-side sequence/explode —
    the per-frame decode then rides the decode_features mapInPandas shape."""
    from numaflow_spark.operators.multimodal import attach_blob, frame_sample

    docs = load_table(spark, sf_dir, "documents")
    assets = attach_blob(docs, "doc_id", "text").join(
        docs.select("doc_id", (F.col("n_chars") % 16 + 1).alias("n_frames")),
        "doc_id",
    )
    return frame_sample(assets, stride=4).select("doc_id", "n_frames", "frame_idx")


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k through the full IVF plan (k-means quantizer, list
    assignment, probe pruning) with n_probe == n_centroids, which probes
    every list and therefore degrades exactly to brute force — giving this
    operator a full DuckDB oracle. The pruned config (n_probe < n_centroids)
    is covered by a recall-vs-brute-force gate in tests/test_ivf_frames.py."""
    from numaflow_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5, n_centroids=16, n_probe=16
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence filtering as LEFT SEMI JOIN (§2.13 relational extension):
    orders that contain at least one high-quantity lineitem. A semi join
    ships only the join keys of the probe side — no fan-out, no dedup —
    and the big side never widens (TPC-H Q4 shape)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hot = li.filter(F.col("l_quantity") >= 48).select("l_orderkey")
    return orders.join(
        hot, orders.o_orderkey == hot.l_orderkey, "left_semi"
    ).select(
        "o_orderkey",
        "o_orderpriority",
        _cents(F.col("o_totalprice").cast(DEC)).alias("price_c"),
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-existence filtering as LEFT ANTI JOIN: customers with no
    high-value order, counted per nation (TPC-H Q22 shape). Anti join =
    NOT EXISTS without the null-trap of NOT IN; at scale the orders side
    is filtered then reduced to its distinct keys before the join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey").distinct()
    return (
        cust.join(keys, cust.c_custkey == keys.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_custs"),
            _cents(F.sum(F.col("c_acctbal").cast(DEC))).alias("acctbal_c"),
        )
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than cube/rollup, §2.13): per
    (returnflag, linestatus), per returnflag, and grand total in one pass —
    Spark expands the sets map-side, one shuffle. NULL group labels are
    COALESCEd to 'ALL' so the indicator encoding is engine-neutral."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
               COALESCE(l_linestatus, 'ALL') AS lstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS qty_c
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (training-data pipeline primitive): keep
    ~1/64 of lineitem by a Knuth multiplicative hash of the key tuple. A
    pure row-local filter — no shuffle, pushdown-friendly, identical sample
    on every engine and every partitioning (unlike TABLESAMPLE/rand), so
    sampled pipelines are replayable."""
    li = load_table(spark, sf_dir, "lineitem")
    h = F.pmod(
        (F.col("l_orderkey") * F.lit(2654435761) + F.col("l_linenumber") * F.lit(40503))
        .cast("bigint"),
        F.lit(4294967296),
    )
    return li.filter(h < 67108864).select(
        "l_orderkey",
        "l_linenumber",
        _cents(F.col("l_extendedprice").cast(DEC)).alias("price_c"),
    )


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (text-analysis extension): term
    frequency per doc, document frequency per term, idf = ln(N/df). One
    token shuffle for tf, one slim term-level agg for df (broadcast back),
    window rank per doc. Ranked on the ROUNDED score with a term tie-break
    so the ordering is engine-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    from numaflow_spark.operators.text import tokens

    n_docs = docs.count()
    term = docs.select(
        F.col("doc_id").alias("doc"), F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = term.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    # r13 wave 2: tf feeds the df broadcast AND the scoring probe —
    # lazily cut it so the tokenize + (doc, term) rollup runs once (the
    # df broadcast build materializes the blocks inside its own job).
    tf = materialize(tf, eager=False)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_), "term").withColumn(
        "tfidf", F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6)
    )
    w = Window.partitionBy("doc").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc", "term", "rnk", "tf", "df", "tfidf")
    )


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join (F3 + AQE story): events join a tiny per-type
    dim table. The fact side's hot keys are salted into 8 sub-keys and the
    dim is replicated ×8, so no single task owns a whole hot key; the
    post-join aggregate folds the salt back out. Result is provably equal
    to the unsalted join (the oracle runs the plain form)."""
    events = load_table(spark, sf_dir, "events")
    dim = (
        events.groupBy("event_type")
        .agg(F.count("*").alias("type_n"))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(7))))
    )
    salted = events.withColumn("salt", F.pmod(F.col("event_id"), F.lit(8)).cast("int"))
    dim = dim.withColumn("salt", F.col("salt").cast("int"))
    joined = salted.join(F.broadcast(dim), ["event_type", "salt"])
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.max("type_n").alias("type_n"),
        _cents(F.sum(F.col("value").cast(DEC))).alias("sum_value_cents"),
    )


def q_doc_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/shape quality signals per document: word
    count, mean word length (rounded), duplicate-line fraction, symbol
    ratio — the pre-training corpus filter battery (Rae et al. 2021,
    'Scaling Language Models', repetition filters §A1.1). All integer or
    rounded-ratio outputs, engine-deterministic; one pass + one slim
    line-level agg."""
    docs = load_table(spark, sf_dir, "documents")
    from numaflow_spark.operators.text import tokens

    toks = tokens(F.col("text"))
    n_words = F.size(toks).cast("bigint")
    mean_wlen = F.round(
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
        / F.size(toks),
        4,
    )
    # repetition signal: fraction of word occurrences that repeat an
    # earlier word (Gopher's duplicate-content family, word granularity)
    dup_frac = F.round(1 - F.size(F.array_distinct(toks)) / F.size(toks), 4)
    max_wlen = F.array_max(F.transform(toks, F.length)).cast("bigint")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        dup_frac.alias("dup_word_frac"),
        max_wlen.alias("max_word_len"),
        (
            (n_words >= 50)
            & (n_words <= 100000)
            & (mean_wlen >= 2)
            & (mean_wlen <= 10)
        )
        .cast("int")
        .alias("passes"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing (training-data hygiene): mask multi-digit runs
    in the event payload with a placeholder tag and report per-row hit
    counts. Pure JVM regexp stages — at 100 TB this is a row-local map
    with no shuffle at all. The pattern stays in the regex subset with
    identical semantics in Java (Spark) and RE2 (DuckDB)."""
    events = load_table(spark, sf_dir, "events")
    digits = "[0-9][0-9]+"
    scrubbed = F.regexp_replace(F.col("props"), digits, "<NUM>")
    # hit count via the 1-char-replacement length delta (greedy runs count
    # once, same rule both engines)
    n_hits = (
        F.length(F.regexp_replace(F.col("props"), digits, "\x01"))
        - F.length(F.regexp_replace(F.col("props"), digits, ""))
    ).cast("bigint")
    return events.select(
        "event_id",
        scrubbed.alias("scrubbed"),
        n_hits.alias("n_digit_runs"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LM training: stream documents (per source, in
    doc_id order) into fixed token-budget bins — bin id = floor(running
    token count / capacity). The sequential-fill rule is a window running
    sum, so packing is fully declarative: one shuffle on the packing key,
    deterministic on any engine, and each source packs independently (the
    unit of parallelism at 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    from numaflow_spark.operators.text import token_count

    cap = 512
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = token_count(F.col("text"))
    run = F.sum(n_tok).over(w)
    return docs.select(
        "doc_id",
        "source",
        n_tok.alias("n_tokens"),
        run.alias("cum_tokens"),
        F.floor((run - 1) / cap).cast("bigint").alias("bin_id"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (training-data hygiene): flag corpus
    documents sharing any 5-gram with a held-out benchmark set (here the
    'src0' source plays the benchmark). The benchmark's distinct shingle
    set is small by construction — broadcast it and stream the corpus
    shingles through, so at 100 TB this is one corpus pass + one doc-level
    agg; no corpus-vs-corpus join ever happens.

    r9: shingles are xxhash64 int64s over the 5 token columns directly
    (shingle_hashes) — no concatenated string is ever built, the broadcast
    side is 8 bytes/entry, and the probe is an int64 hash lookup. The
    string-keyed oracle is unchanged: the output is doc-level hit COUNTS,
    identical modulo 64-bit collisions."""
    from numaflow_spark.operators.dedup import shingle_hashes

    docs = load_table(spark, sf_dir, "documents")
    bench_sh = (
        shingle_hashes(docs.filter(F.col("source") == "src0"), "doc_id", "text", 5)
        .select("h")
        .distinct()
    )
    corpus_sh = shingle_hashes(
        docs.filter(F.col("source") != "src0"), "doc_id", "text", 5
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "h")
        .groupBy("doc")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .select(F.col("doc").alias("doc_id"), "n_hits")
    )


def q_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-n-gram fraction per document (the Gopher/
    RefinedWeb repetition signal at corpus granularity): what share of a
    doc's distinct 3-grams also occur in another document.

    Plan shape (r8 rewrite — join-free complement counting): a shingle is
    "shared" iff its corpus count > 1, so instead of joining every
    (doc, shingle) row back to the count table, count each doc's UNIQUE
    shingles — a corpus-count-1 shingle belongs to exactly one document,
    which min(doc) recovers for free inside the same aggregate — and
    subtract: n_shared = n_shingles - n_unique. The shingle-keyed
    aggregate and the doc-keyed total are both still paid, but the join
    materialization and its doc-keyed re-aggregation of the full joined
    stream disappear; the recovered-unique rollup is |unique shingles|
    rows and the final join is per-doc-sized. A/B (min-of-2, x10,
    bit-identical output verified): 8.2 -> 3.3 s.

    r9: shingle keys are xxhash64 int64s taken over the 3 token columns
    directly (shingle_hashes) instead of concatenated strings — no string
    is ever built and every shuffle in the plan is 16 bytes/row wide. The
    oracle keeps its string keys: outputs are doc-level COUNTS, identical
    across key representations modulo 64-bit collisions (~|S|²/2⁶⁵)."""
    from numaflow_spark.operators.dedup import shingle_hashes

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes(docs, "doc_id", "text", 3)
    totals = sh.groupBy("doc").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    uniq = (
        sh.groupBy("h")
        .agg(F.count("*").alias("ndocs"), F.min("doc").alias("only_doc"))
        .filter(F.col("ndocs") == 1)
        .groupBy("only_doc")
        .agg(F.count("*").cast("bigint").alias("n_unique"))
    )
    per_doc = totals.join(
        uniq, totals.doc == uniq.only_doc, "left"
    ).select(
        F.col("doc").alias("doc_id"),
        "n_shingles",
        (F.col("n_shingles") - F.coalesce(F.col("n_unique"), F.lit(0)))
        .cast("bigint")
        .alias("n_shared"),
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_shingles"), 4).alias("shared_frac"),
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary: top-100 tokens by corpus frequency with a
    deterministic (count desc, token asc) tie-break. The occurrence table
    collapses to vocab size in one partial-aggregated shuffle; the top-100
    runs as TakeOrderedAndProject (distributed heap take, NO global sort),
    then ranks are assigned over just those 100 rows."""
    from numaflow_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    top = cnt.orderBy(F.col("cnt").desc(), F.col("token")).limit(100)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep rates (en 1/2,
    de 1/4, fr 1/8, rest 1/16) via the same Knuth multiplicative hash as
    hash_sample — a pure row-local filter, shuffle-free and replayable:
    the identical sample falls out on any engine, any partitioning, any
    day. The per-stratum rate is just a per-row threshold, so rebalancing
    a 100 TB corpus needs no groupBy at all."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.pmod((F.col("doc_id") * F.lit(2654435761)).cast("bigint"), F.lit(4294967296))
    thresh = (
        F.when(F.col("lang") == "en", F.lit(1 << 31))
        .when(F.col("lang") == "de", F.lit(1 << 30))
        .when(F.col("lang") == "fr", F.lit(1 << 29))
        .otherwise(F.lit(1 << 28))
    )
    return docs.filter(h < thresh).select("doc_id", "lang", "source")


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup clustering, the corpus-level half of near-dup removal:
    MinHash-LSH pairs → distributed connected components (alternating
    large-star/small-star, O(log² n) rounds of one keyed shuffle each) →
    (doc_id, cluster_id=component min). The oracle recomputes the same
    components with a recursive CTE over the exact-Jaccard pair set, which
    coincides with the LSH pair set at these params (see minhash_neardup)."""
    from numaflow_spark.operators.dedup import minhash_lsh_pairs
    from numaflow_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=64, bands=16, threshold=0.8)
    return connected_components(pairs, "d1", "d2").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def q_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus after fuzzy dedup: one survivor (minimum doc_id) per near-dup
    component, all unpaired docs kept. The anti-join keys on component
    members minus roots, so its build side tracks the duplicate count, not
    the corpus."""
    from numaflow_spark.operators.dedup import minhash_lsh_pairs
    from numaflow_spark.operators.graph import dedup_survivors

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=64, bands=16, threshold=0.8)
    return dedup_survivors(docs, pairs, "doc_id").select("doc_id", "lang", "source")


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup clustering, declared on the
    SUB-QUADRATIC path: banded-LSH candidate pairs (24 bands × 4 sign bits,
    exact-cosine verify of candidates only, threshold ≥0.4) → connected
    components → (vec_id, cluster_id). The oracle mirrors the identical
    banding (seeded hyperplanes as SQL literals), so the comparison is a
    full hash check; recall vs the exact all-pairs twin is gated ≥0.95 in
    pytest (test_extensions.py), and ``similar_pairs`` remains the gated
    ground-truth path for bounded corpora."""
    from numaflow_spark.operators.graph import connected_components
    from numaflow_spark.operators.similarity import lsh_similar_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = lsh_similar_pairs(emb, threshold=0.4, n_planes=4, n_bands=24)
    return connected_components(pairs, "id1", "id2").select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )


def q_embedding_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup end product — the embedding-space twin of
    neardup_survivors: banded-LSH pair graph (same config/oracle mirroring
    as embedding_clusters) → connected components → keep one survivor
    (minimum vec_id) per component plus everything unpaired. The anti-join
    build side tracks the duplicate count, not the corpus."""
    from numaflow_spark.operators.graph import dedup_survivors
    from numaflow_spark.operators.similarity import lsh_similar_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = lsh_similar_pairs(emb, threshold=0.4, n_planes=4, n_bands=24)
    return dedup_survivors(emb, pairs, "vec_id", pair_cols=("id1", "id2")).select("vec_id")


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing to target language weights (en 40%, de/es/fr/zh
    15% each): the feasible total T = min_l ⌊n_l·100 / w_l⌋ saturates the
    scarcest language, per-language quotas w_l·T/100 are then taken by
    deterministic affine-hash threshold. All-integer arithmetic (the accept
    test is h·n_l·100 < 2²⁰·w_l·T) so both engines accept the identical
    set. Plan shape: one tiny per-lang agg broadcast back over the corpus —
    rebalancing 100 TB costs one aggregate plus a map-side filter."""
    docs = load_table(spark, sf_dir, "documents")
    weights = F.when(F.col("lang") == "en", F.lit(40)).otherwise(F.lit(15))
    counts = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_l"))
        .withColumn("w", weights)
    )
    t_min = counts.select(F.min(F.expr("n_l * 100 div w")).alias("t"))
    h = F.pmod(F.col("doc_id") * F.lit(1103515245) + F.lit(12345), F.lit(1 << 20))
    return (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(t_min))
        .filter(h * F.col("n_l") * 100 < F.lit(1 << 20) * F.col("w") * F.col("t"))
        .select("doc_id", "lang")
    )


def q_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source relative quality gate: keep docs at/above the lower-25th-
    percentile token count within their source. The quantile is exact but
    computed histogram-style — groupBy (source, n_tokens) first, cumulate
    over that tiny table, broadcast thresholds back — so no window function
    ever sees corpus-sized partitions (the skew trap a direct per-source
    percent_rank would hit at 100 TB: 20 sources → 20 straggler tasks)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.withColumn("v", F.size(F.split(F.col("text"), " ")).cast("long"))
    hist = toks.groupBy("source", "v").agg(F.count("*").alias("c"))
    wcum = Window.partitionBy("source").orderBy("v")
    cum = hist.withColumn("cum", F.sum("c").over(wcum))
    tot = hist.groupBy("source").agg(F.sum("c").alias("n_s"))
    thr = (
        cum.join(tot, "source")
        .filter(F.col("cum") * 4 >= F.col("n_s"))
        .groupBy("source")
        .agg(F.min("v").alias("q25"))
    )
    return (
        toks.join(F.broadcast(thr), "source")
        .filter(F.col("v") >= F.col("q25"))
        .select("doc_id", "source", F.col("v").alias("n_tokens"))
    )


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) document ranking for the query terms {join,
    vector, stream}: tf from one explode+filter pass, df/N/avgdl from two
    tiny aggregates broadcast into the scoring join, global top-10 via
    TakeOrderedAndProject (no single-partition window). Scores rounded to 6
    for cross-engine float identity."""
    docs = load_table(spark, sf_dir, "documents")
    terms = ["join", "vector", "stream"]
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    # r13 wave 2 NOTE: the lazy shared-rollup cut was tried here (dl, tf,
    # then tf alone) and REJECTED on interleaved x10 A/Bs — old 3.15-3.19 s
    # vs cut 3.54-3.94 s min-of-3: Catalyst already reuses these exchanges
    # between consumers, so the checkpoint only broke pipelining.
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("t").isin(terms))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("t").agg(F.countDistinct("doc_id").alias("df_t"))
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
    )
    denom = F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(F.broadcast(dfreq), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * F.col("tf") * 2.2 / denom), 6).alias("bm25"))
    )
    return (
        scored.orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(10)
        .select("doc_id", "bm25")
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel (view → click after it → purchase after that):
    users surviving each stage. The reference computes patterns like this in
    reduce UDFs (per-key state); here it is three stage aggregates chained
    by broadcast-joinable per-user minima — each stage's state is one
    timestamp per user, never the event history."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stage = lambda df, name: df.agg(F.count("*").alias("n_users")).select(
        F.lit(name).alias("stage"), "n_users"
    )
    return stage(v, "view").unionByName(stage(c, "click")).unionByName(
        stage(p, "purchase")
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen week, counted
    per (cohort_week, week_offset). Weeks are integer micros-epoch math so
    both engines bin identically; the per-user first-week table shuffles
    once on user_id and joins back pre-aggregated."""
    ev = load_table(spark, sf_dir, "events")
    week = F.expr("unix_micros(ts) div 86400000000 div 7")
    ev_w = ev.select("user_id", week.alias("w"))
    first = ev_w.groupBy("user_id").agg(F.min("w").alias("w0"))
    return (
        ev_w.join(first, "user_id")
        .groupBy(F.col("w0").alias("cohort_week"), (F.col("w") - F.col("w0")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_json_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON surface (§2.8 — the reference delegates payload parsing
    to UDF containers; here it is an engine-native expression): extract
    props.k, aggregate per event_type. Stays inside WholeStageCodegen."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_k"),
        F.max(k).alias("max_k"),
    )


def q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query, entered through the SQL
    façade (the reference has no SQL layer at all — SURVEY §0; here the
    full ANSI surface rides on Catalyst): top-10 undelivered orders by
    revenue. Joins are dim-filtered before the fact join so AQE broadcasts
    them; revenue is exact decimal summed then emitted as integer cents.

    r14: REVERTED the r13 wave-3 pre-aggregate-revenue-per-orderkey form
    (verdict #3 — the driver measured it slower at both core counts,
    0.59 -> 1.23 s @32 / 0.96 @8, and the cold min-of-3 A/B
    (tools/coldq_wave23_vs_r12.json) confirmed the r12 form wins every
    round, 1.06 vs 1.28 s). The algebra favors this shape at ANY scale:
    the broadcast of the dim-filtered customer⋈orders side semi-filters
    lineitem ~20x BEFORE the aggregation exchange, so the groupBy
    exchanges only matched rows, where the pre-agg form exchanged every
    shipdate-surviving orderkey group first."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_sql")
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2))))
                    * 10000 AS BIGINT) AS revenue_c4,
               CAST(date_format(o_orderdate, 'yyyyMMdd') AS BIGINT) AS odate,
               o_orderpriority
        FROM customer_sql JOIN orders_sql ON c_custkey = o_custkey
                          JOIN lineitem_sql ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue_c4 DESC, l_orderkey
        LIMIT 10
        """
    )


def q_winnow_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing shared-substring groups (Schleimer et al. 2003): window-min
    k-gram fingerprints guarantee any >= w+k-1-token substring match between
    docs shares a fingerprint — the exact-substring dedup signal Jaccard
    similarity misses. Row-local array math to the sketch, one fingerprint
    groupBy shuffle (see operators/winnow.py for the scale analysis)."""
    from numaflow_spark.operators.winnow import winnow_dup_groups

    docs = load_table(spark, sf_dir, "documents")
    return winnow_dup_groups(docs, "doc_id", "text", k=3, w=4)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar uint8 embedding quantization (vector-pipeline compression):
    per-dim corpus min/max -> affine [0,255] codes. The query emits integer
    code summaries per vector (sum / max / nonzero count) so the value hash
    is array-layout-free; the stats pass shuffles dim x partitions rows and
    the codes ride a one-row broadcast — nothing touches the driver."""
    from numaflow_spark.operators.similarity import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    coded = quantize_embeddings(emb, id_col="vec_id", vec_col="embedding", dim=64)
    return coded.select(
        "vec_id",
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_max(F.col("q")).alias("q_max"),
        F.size(F.filter(F.col("q"), lambda x: x > 0)).cast("bigint").alias("q_nz"),
    )


def q_train_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training order: replayable shard + intra-shard order
    keys from multiplicative hashes of doc_id — a global pseudo-random
    permutation produced with one hash exchange and per-shard sorts, never
    a global sort (operators/ordering.py; the writer materializes one
    sorted parquet directory per shard)."""
    from numaflow_spark.operators.ordering import shard_order_keys

    docs = load_table(spark, sf_dir, "documents")
    return shard_order_keys(docs, "doc_id", n_shards=16).select(
        "doc_id", "shard", "okey"
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document span dedup (C4-style duplicate-line removal at 10-word
    granularity): globally duplicated spans keep exactly one copy (in the
    min-doc-id keeper), docs are reassembled in span order. Two linear
    shuffles — span-hash agg + doc reassembly — no self-join (see
    operators/dedup.py::span_dedup). The emitted text_clean hashes the
    whole reassembly, so the oracle checks byte-identical output text."""
    from numaflow_spark.operators.dedup import span_dedup

    docs = load_table(spark, sf_dir, "documents")
    return span_dedup(docs, "doc_id", "text", span_words=10).select(
        F.col("doc").alias("doc_id"), "n_spans", "n_kept", "text_clean"
    )


def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape perplexity filter signal: an add-one-smoothed bigram LM
    trained on the corpus scores every document's mean bigram log-prob
    (operators/lm.py). Count tables shuffle on n-gram keys with map-side
    partials; |V| rides a 1-row broadcast; no Python anywhere."""
    from numaflow_spark.operators.lm import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "doc_id", "text").select(
        F.col("doc").alias("doc_id"), "n_bigrams", "avg_logp"
    )


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE-training iteration: corpus-weighted adjacent character-pair
    frequencies, top-50. The token vocabulary is aggregated FIRST (one
    shuffle collapses the corpus to distinct tokens), pairs explode off the
    tiny vocab table — the explode-then-count order a naive implementation
    gets wrong by a factor of corpus/vocab. Top-50 via
    TakeOrderedAndProject with a (cnt desc, pair asc) tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n_occ"))
        .where(F.length("tok") >= 2)
    )
    pairs = vocab.select(
        "n_occ",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i.cast("int"), F.lit(2)),
            )
        ).alias("pair"),
    )
    cnt = pairs.groupBy("pair").agg(F.sum("n_occ").cast("bigint").alias("cnt"))
    top = cnt.orderBy(F.col("cnt").desc(), F.col("pair")).limit(50)
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def q_audio_pcm_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction on multimodal binary columns: document text
    bytes play the PCM-u8 track (byte reinterpretation IS the decode, so
    nothing is stubbed); per 100-sample window the operator emits integer
    energy and zero-crossing counts from one vectorized numpy pass
    (operators/multimodal.py::pcm_window_features). Zero shuffles; the
    all-integer contract gives an exact DuckDB oracle over codepoints."""
    from numaflow_spark.operators.multimodal import attach_blob, pcm_window_features

    docs = load_table(spark, sf_dir, "documents")
    blobs = attach_blob(docs, "doc_id", "text", modality="audio", mime="audio/pcm")
    return pcm_window_features(blobs, window_samples=100)


def q_priority_pending_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): count orders per priority
    that have at least one line item shipped after the order date —
    EXISTS-style existence test (§2.13: the reference has no joins at all).

    r13 wave-3 rewrite (guide §2.3, aggregate before you shuffle):
    EXISTS(l_shipdate > o_orderdate) == max(l_shipdate) > o_orderdate, so
    the lineitem side collapses to a per-orderkey max BEFORE its exchange
    — map-side partial agg ships one narrow (orderkey, max_ship) row per
    key per partition where the old left-semi shuffled the full lineitem
    detail. The semi join then runs between two order-sized tables with
    the inequality as its residual. Identical result: max>d iff some
    row>d. Measured interleaved min-of-3 at x10: 3.14 -> 2.10 s."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("max_ship"))
    late = orders.join(
        last_ship,
        (orders.o_orderkey == last_ship.l_orderkey)
        & (last_ship.max_ship > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): one fully-pushed-down scan
    — the year/discount/quantity predicates all reach the parquet reader as
    PushedFilters, the projection prunes to three columns, and the single
    global agg is a partial-then-final two-rower. The simplest possible
    100 TB query: cost = bytes actually matching the row-group stats."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    )
    revenue = F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC)
    return filtered.agg(
        _cents(F.sum(revenue), 10000).alias("revenue_c4"),
        F.count("*").alias("n_items"),
    )


def q_promo_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): monthly share of revenue from
    PROMO-type parts in 1996. part broadcasts (dimension-sized at any SF);
    the month group-by is the only shuffle; the share is a ratio of two
    exact integer sums so the hash is engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    joined = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    agg = joined.groupBy(F.month("l_shipdate").alias("month")).agg(
        _cents(
            F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0).cast(DEC))),
            10000,
        ).alias("promo_c4"),
        _cents(F.sum(disc_price), 10000).alias("total_c4"),
    )
    return agg.withColumn(
        "promo_pct",
        F.round(F.col("promo_c4").cast("double") / F.col("total_c4").cast("double") * 100, 4),
    )


def q_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): per brand, how many
    DISTINCT suppliers ship it and how many line items. COUNT(DISTINCT)
    plans as a two-phase expand/agg — partial distinct per partition, final
    merge — so no single task ever sees a brand's full supplier list;
    that is the shape that survives a skewed brand at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return joined.groupBy("p_brand", "p_size").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count("*").alias("n_items"),
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids as exact integer sums: posexplode the
    vector to (label, dim, component), aggregate count + micro-scaled
    component sum per (label, dim). The all-integer contract (round to 1e-6
    then sum BIGINTs) makes the result order-independent and engine-exact —
    the float-mean version would hash-diverge in the last ulp. This is the
    per-cluster statistics primitive under semantic dedup QA, class
    prototypes, and drift monitoring. One explode + one shuffle on
    (label, dim): shuffle volume = corpus x dim x 16 bytes, no collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "v")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("v").cast("double") * 1_000_000).cast("bigint").alias("micro"),
    )
    return ex.groupBy("label", "dim").agg(
        F.count("*").alias("n"), F.sum("micro").alias("sum_micro")
    )


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-data curation pipeline as ONE declarative chain —
    exact dedup → Gopher quality gate → benchmark decontamination →
    stratified sample — proving the operators compose without
    materialization barriers. Catalyst sees the whole thing as a single
    plan: the dedup survivor pick is one window shuffle on the text
    fingerprint, the quality gate is a row-local filter pushed below it,
    decontamination is a broadcast semi/anti join against the (small,
    distinct) benchmark shingle set, and the sample is a row-local hash
    filter — so the composition costs the sum of its shuffles, nothing
    extra. Stage semantics match the standalone queries (dedup_exact /
    doc_quality_gopher / decontaminate / stratified_sample oracles).

    r9: the decontamination stage keys on xxhash64 int64 shingles
    (shingle_hashes, same as q_decontaminate) — the broadcast set and the
    probe stream never build shingle strings."""
    from numaflow_spark.operators.dedup import fingerprint_md5, shingle_hashes
    from numaflow_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")

    # Stages 1+2 COMMUTED (r13 wave 7, guide §2.2 shuffle-fewer-bytes):
    # the quality gate runs BELOW the dedup window. Valid because
    # fp = md5(text) determines text, so every fp-group's members share one
    # gate outcome (the gate reads only text) — groups pass or fail
    # atomically and min(doc_id) within a surviving group is unchanged.
    # The fp exchange — the query's only full-text shuffle — now carries
    # just the gate's survivors (measured sf0.1: 2,603 of 4,750 corpus
    # docs, a 45% byte cut that holds at every scale). sf0.1 probe
    # 2.16 → 1.48 s; ×10 walls within this host's noise band
    # (tools/ab_w7_result.json) — the claim is bytes-structural.

    # 2. quality gate (same signals as doc_quality_gopher's `passes`)
    toks = tokens(F.col("text"))
    mean_wlen = F.round(
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
        / F.size(toks),
        4,
    )
    gated = (
        corpus.withColumn("n_words", F.size(toks).cast("bigint"))
        .withColumn("mean_wlen", mean_wlen)
        .filter(
            (F.col("n_words") >= 50)
            & (F.col("n_words") <= 100000)
            & (F.col("mean_wlen") >= 2)
            & (F.col("mean_wlen") <= 10)
        )
    )

    # 1. exact dedup: keep the minimum doc_id per normalized-text
    # fingerprint — one window shuffle (over gate survivors only), no
    # self-join
    w = Window.partitionBy("fp").orderBy("doc_id")
    qual = (
        gated.withColumn("fp", fingerprint_md5(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("fp", "rn")
    )

    # The survivor set feeds TWO consumers — the shingle probe below and
    # the anti-join's left side — and Catalyst evaluates the subtree (full-
    # text window shuffle + tokenize + filters) once per consumer (r11,
    # VERDICT r10 task 8: measured 6.1 -> 3.7 s min-of-3 at x10,
    # interleaved arms, medians 10.6 -> 4.0, identical 5378-row output).
    # Materialize the pruned survivor projection once.
    qual = qual.select("doc_id", "text", "lang", "source", "n_words")
    # r13 wave 2: lazy cut — the flagged-docs broadcast build (the
    # survivor shingle probe) materializes the survivor set inside its own
    # job; the anti-join's probe side then reads the same blocks. The
    # standalone checkpoint job is gone (survivors are a deterministic
    # window pick, so concurrent first-evaluation is benign).
    qual = materialize(qual, eager=False)

    # 3. decontaminate: drop any survivor sharing a 5-gram with the src0
    # benchmark (broadcast the benchmark's distinct shingles)
    bench_sh = (
        shingle_hashes(docs.filter(F.col("source") == "src0"), "doc_id", "text", 5)
        .select("h")
        .distinct()
    )
    flagged = (
        shingle_hashes(qual.select("doc_id", "text"), "doc_id", "text", 5)
        .join(F.broadcast(bench_sh), "h")
        .select(F.col("doc").alias("doc_id"))
        .distinct()
    )
    clean = qual.join(flagged, "doc_id", "left_anti")

    # 4. stratified sample (same multiplicative hash as stratified_sample)
    h = F.pmod((F.col("doc_id") * F.lit(2654435761)).cast("bigint"), F.lit(4294967296))
    thresh = (
        F.when(F.col("lang") == "en", F.lit(1 << 31))
        .when(F.col("lang") == "de", F.lit(1 << 30))
        .when(F.col("lang") == "fr", F.lit(1 << 29))
        .otherwise(F.lit(1 << 28))
    )
    return clean.filter(h < thresh).select("doc_id", "lang", "source", "n_words")


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total line-item
    quantity exceeds 300, with customer context. The HAVING subquery is a
    lineitem-sized group-by whose output is order-sized and *filtered to a
    handful of rows* before any join — so the joins back to orders/customer
    are build-side-tiny broadcasts, not shuffles. At 100 TB the only big
    exchange is the first groupBy(l_orderkey), which AQE coalesces."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_cents(F.sum(F.col("l_quantity").cast(DEC))).alias("sum_qty_c"))
        .filter(F.col("sum_qty_c") > 300 * 100)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("long").alias("orderdate_epoch"),
            _cents(F.col("o_totalprice").cast(DEC)).alias("totalprice_c"),
            "sum_qty_c",
        )
    )


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier revenue over 1996 Q1,
    then the supplier(s) achieving the maximum. The argmax is a scalar
    subquery realized as a one-row broadcast cross-join against the
    (supplier-sized) aggregate — no global sort, no single-partition window.
    The only full-data exchange is the groupBy(l_suppkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(_cents(F.sum(revenue), 10000).alias("revenue_c4"))
    )
    best = rev.agg(F.max("revenue_c4").alias("max_c4"))
    return (
        rev.join(F.broadcast(best), rev.revenue_c4 == best.max_c4)
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "revenue_c4")
    )


def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers holding more
    than the average positive account balance who placed no order in 2001,
    aggregated per nation. Two classic decorrelations: the AVG scalar
    subquery becomes a one-row broadcast cross-join; NOT EXISTS becomes a
    LEFT ANTI join on custkey with the date predicate pushed into the
    orders scan (so the anti join's build side is only 2001's orders).
    The "above average" test is kept integer-exact across engines by
    cross-multiplying: bal_cents * n_pos > sum_cents, all BIGINT — no
    decimal-vs-double average in the comparison."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    bal_c = _cents(F.col("c_acctbal").cast(DEC))
    pos_stats = cust.filter(F.col("c_acctbal") > 0).agg(
        F.count("*").alias("n_pos"), F.sum(bal_c).alias("sum_pos_c")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select("o_custkey")
    idle = (
        cust.crossJoin(F.broadcast(pos_stats))
        .filter(bal_c * F.col("n_pos") > F.col("sum_pos_c"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return idle.groupBy("c_nationkey").agg(
        F.count("*").alias("n_custs"),
        _cents(F.sum(F.col("c_acctbal").cast(DEC))).alias("sum_bal_c"),
    )


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): within orders placed by ASIA
    customers, the yearly revenue share supplied by NATION_3. Five dimension
    broadcasts; the customer-side and supplier-side nation lookups join the
    same tiny table twice under different aliases; one group-by shuffle on
    year. The share is a ratio of two exact integer sums (hash-stable)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    c_nat = nation.alias("cn")
    s_nat = nation.alias("sn")
    revenue = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(c_nat), cust.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(region), F.col("cn.n_regionkey") == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(s_nat), supp.s_nationkey == F.col("sn.n_nationkey"))
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        _cents(
            F.sum(F.when(F.col("sn.n_name") == "NATION_3", revenue).otherwise(F.lit(0).cast(DEC))),
            10000,
        ).alias("nation_c4"),
        _cents(F.sum(revenue), 10000).alias("total_c4"),
    )
    return agg.withColumn(
        "mkt_share_pct",
        F.round(F.col("nation_c4").cast("double") / F.col("total_c4").cast("double") * 100, 4),
    )


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): histogram of customers by
    order count, including zero-order customers via a LEFT OUTER join.
    Two cascaded aggregations — per-customer count (shuffle on custkey),
    then the distribution over the (tiny) count domain. The left join keeps
    every customer so the c_count=0 bucket is honest; at 100 TB the orders
    side shuffles once and the second agg is dimension-sized."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        ~F.col("o_orderpriority").startswith("1")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue from line
    items below 40% of their part's average quantity. The correlated AVG
    subquery decorrelates to a per-part aggregate joined back — the
    textbook rewrite. The comparison is kept integer-exact by
    cross-multiplying (5 * qty_cents * n < 2 * sum_qty_cents, all BIGINT:
    qty < 0.4 * sum/n), so no float average crosses engines. Two shuffles
    on l_partkey (agg + join share partitioning)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = _cents(F.col("l_quantity").cast(DEC))
    stats = li.groupBy("l_partkey").agg(
        F.count("*").alias("n_li"), F.sum(qty_c).alias("sum_qty_c")
    )
    joined = li.join(stats, "l_partkey").filter(
        qty_c * 5 * F.col("n_li") < F.col("sum_qty_c") * 2
    )
    return joined.agg(
        _cents(F.sum(F.col("l_extendedprice").cast(DEC))).alias("revenue_c"),
        F.count("*").alias("n_items"),
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): yearly revenue between two trading
    nations, in both directions — supplier nation and customer nation must
    form the pair (NATION_1, NATION_2) either way round. The nation pair
    predicate rides the dimension joins (all broadcast); one group-by
    shuffle on (supp_nation, cust_nation, year)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.alias("n1")
    n2 = nation.alias("n2")
    revenue = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2.n_nationkey"))
        .filter(
            (
                (F.col("n1.n_name") == "NATION_1") & (F.col("n2.n_name") == "NATION_2")
            )
            | (
                (F.col("n1.n_name") == "NATION_2") & (F.col("n2.n_name") == "NATION_1")
            )
        )
    )
    return joined.groupBy(
        F.col("n1.n_name").alias("supp_nation"),
        F.col("n2.n_name").alias("cust_nation"),
        F.year("l_shipdate").alias("l_year"),
    ).agg(
        _cents(F.sum(revenue), 10000).alias("revenue_c4"),
        F.count("*").alias("n_items"),
    )


def q_discounted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): three
    OR'd (brand, size-range, quantity-range) arms. The interesting part is
    what Catalyst does with the disjunction: the common p_partkey equi-key
    is extracted so the join stays a broadcast HASH join (not nested-loop),
    per-side implied predicates (quantity ≤ max of any arm's upper bound,
    size ≤ max) push to the scans, and the residual OR evaluates post-join
    in codegen. One agg, no shuffle beyond it."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731 — three structurally-identical arms
        (F.col("p_brand") == brand)
        & (F.col("p_size").between(1, smax))
        & (F.col("l_quantity") >= qlo)
        & (F.col("l_quantity") <= qhi)
    )
    revenue = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (
        joined.filter(
            arm("Brand#1", 5, 1, 11) | arm("Brand#2", 10, 10, 20) | arm("Brand#3", 15, 20, 30)
        )
        .agg(
            _cents(F.sum(revenue), 10000).alias("revenue_c4"),
            F.count("*").alias("n_items"),
        )
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact HyperLogLog distinct-count sketch (operators/sketch.py):
    unlike approx_count_distinct, whose engine-private hashes make Spark and
    DuckDB estimates incomparable, this fixes the hash and keeps the
    register math in scaled integers, so the approximate estimate itself is
    hash-checkable across engines. Two rows exercise both estimator
    branches: event_id (high cardinality — raw harmonic path) and user_id
    (small — linear-counting correction). One pass + a 64-row mergeable
    state per column: the 100 TB count-distinct shape."""
    from numaflow_spark.operators.sketch import hll_estimate

    events = load_table(spark, sf_dir, "events")
    return hll_estimate(events, "event_id", "event_id").unionByName(
        hll_estimate(events, "user_id", "user_id")
    )


def q_cms_heavy_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter bigrams: bigrams covering >= 1/700 of all bigram
    occurrences, via one explode + map-side-combined groupBy + integer
    cross-multiplied HAVING against the broadcast 1-row total.

    Regime choice (r9 rescope, measured — tools/ab_cms_result.json): the
    Count-Min prefilter (operators/sketch.py::cms_heavy_hitters, the
    original engine path here) must scan the n-gram stream TWICE (sketch
    build + probe), so a single-query batch context pays 2x the explode
    floor to save shuffle volume the exact plan's partial aggregation
    already collapses. At x10 the exact plan wins on BOTH the real bigram
    stream (919 distinct keys: 2.3 s vs 7.3 s) and an adversarial
    1.79M-distinct-key 5-gram stream (6.2 s vs 9.0 s). The CMS branch is
    the operator for the regimes the measurement can't reach locally:
    incremental/streaming maintenance (one pass amortized — the sketch IS
    the state, tests/test_sketch.py + streaming tests), cross-corpus merge
    (union + sum of d x w counters instead of re-aggregating raw keys),
    and exact-state-exceeds-memory group counts. Bigram stream built
    JVM-side: split -> transform(sequence) -> explode, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    bigrams = (
        docs.select(F.split(F.col("text"), " ").alias("a"))
        .filter(F.size("a") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(a)-1),"
                    " i -> concat(element_at(a, i), ' ', element_at(a, i+1)))"
                )
            ).alias("bigram")
        )
    )
    total = bigrams.agg(F.count("*").alias("_t"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 700 >= F.col("_t"))
        .drop("_t")
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history built from an event log:
    per user, the validity intervals of their event_type 'state' — a row
    per state CHANGE with effective_from/effective_to epoch seconds
    (9999999999 = open interval). The warehouse upsert-history shape:
    lag() detects changes, lead() closes intervals, both over one
    (user_id) window ordered by (ts, event_id) — the unique event_id
    tiebreak makes the interval set deterministic under equal timestamps.
    One hash shuffle on user_id; both window functions share the sort."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.unix_timestamp("ts")
    changes = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "event_type", ts_s.alias("eff_from_s"), "ts", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "eff_from_s",
        F.coalesce(
            F.lead("eff_from_s").over(w2) - 1, F.lit(9999999999)
        ).alias("eff_to_s"),
    )


def q_uniform_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform corpus sample, replayable on any engine: rank
    every doc by the Knuth multiplicative hash of doc_id and keep the 200
    smallest — the distributed-heap TakeOrderedAndProject plan (per-
    partition top-200 merge at the driver-side take, NO global sort), the
    scale-correct way to draw 'exactly k rows, uniformly, deterministically'
    from 100 TB. Tie-broken by doc_id so the sample set is unique.

    The hash is computed in 16-bit limbs so no intermediate exceeds 2^48:
    a naive doc_id * 2654435761 wraps silently in Spark (ANSI off) for
    doc_id above ~3.47e9 while DuckDB's checked arithmetic errors —
    breaking cross-engine replayability exactly at large id spaces (r5
    ADVICE). h = ((d1*A mod 2^16)*2^16 + d0*A) mod 2^32 where
    d = doc_id mod 2^32 = d1*2^16 + d0, identical to (d*A) mod 2^32."""
    docs = load_table(spark, sf_dir, "documents")
    a = F.lit(2654435761)
    d = F.pmod(F.col("doc_id"), F.lit(4294967296))
    d1 = F.shiftright(d, 16)  # d >= 0: exact floor(d / 2^16)
    d0 = d.bitwiseAND(F.lit(65535))
    h = F.pmod(
        F.pmod(d1 * a, F.lit(65536)) * F.lit(65536) + d0 * a,
        F.lit(4294967296),
    )
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(200)
    )


def q_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-iteration PageRank over the customer<->supplier trade graph
    (undirected: both directions of every distinct lineitem x orders
    customer-supplier pair), with ALL rank math in scaled integers so the
    iterative result is engine-exact: ranks carry scale 1e9, per-edge
    contribution = rank div out_degree (bigint floor division), damping =
    (85 * inflow) div 100 — no float ever accumulates, so a 5-deep
    iterative dataflow hash-matches a 5-times-unrolled CTE chain in the
    oracle engine. The edge list builds once (one orderkey join + distinct);
    each iteration is one groupBy-dst shuffle over edges joined to the
    previous rank table — the O(iters) keyed-shuffle shape GraphX/Pregel
    uses, expressed declaratively so AQE sizes every round."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
    )
    from numaflow_spark.operators.graph import pagerank

    # Node ids: customers as +custkey, suppliers as -suppkey (disjoint).
    fwd = pairs.select(F.col("cust").alias("src"), (-F.col("supp")).alias("dst"))
    rev = pairs.select((-F.col("supp")).alias("src"), F.col("cust").alias("dst"))
    ranks = pagerank(fwd.unionByName(rev), iters=5, scale=1_000_000_000)
    return ranks.select("node", F.col("rank").alias("rank_e9"))


def _c100(col):
    """Double money/ratio column -> exact integer hundredths (BIGINT), via
    the decimal cast both engines round identically (the _cents pattern,
    applied per-row so downstream arithmetic is pure integer)."""
    return _cents(F.col(col).cast(DEC))


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier). The testdata has no partsupp
    table, so supply cost per (part, supplier) is derived from lineitem:
    the minimum extended price (in exact cents) any order paid that
    supplier for that part. For every ECONOMY part of size <= 10 find the
    EUROPE supplier(s) achieving the region-wide minimum cost — the
    correlated MIN subquery computed as min() OVER (PARTITION BY
    p_partkey) on the filtered cost rows (r13 wave-6 — the decorrelated
    agg + join-back planned the cost subtree twice). Cost build: one
    shuffle on (l_partkey, l_suppkey); region/nation/supplier/part all
    broadcast; one part-keyed window exchange finishes it. All
    min-achieving suppliers are kept (ties included), so no ORDER BY /
    LIMIT nondeterminism crosses engines."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    euro_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_c100("l_extendedprice")).alias("cost_c"))
        .join(F.broadcast(euro_supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    wanted = part.filter((F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 10))
    cost = cost.join(F.broadcast(wanted), F.col("l_partkey") == F.col("p_partkey"))
    # r13 wave-6 (guide §2.4): the per-part MIN used to be a separate
    # aggregate joined back — Catalyst planned the whole cost subtree
    # TWICE (two lineitem rollup exchanges, eight broadcast builds) and
    # finished with a SortMergeJoin. min() OVER (PARTITION BY p_partkey)
    # computes the same per-part minimum in one pass over the already
    # doubly-filtered cost rows (part-keyed, fine-grained partitioning —
    # no skew, no single-partition window), so the second subtree and the
    # self-join disappear. Same rows: every min-achieving supplier kept.
    min_w = Window.partitionBy("p_partkey")
    return (
        cost.withColumn("min_cost_c", F.min("cost_c").over(min_w))
        .filter(F.col("cost_c") == F.col("min_cost_c"))
        .select(
            _c100("s_acctbal").alias("s_acctbal_c"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.col("cost_c"),
        )
    )


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year). No
    partsupp.ps_supplycost exists, so cost is modeled per line as
    quantity * p_retailprice * l_discount (the discount the supplier
    absorbed against list price); profit = extprice*(1-disc) - that cost.
    The money math is per-row BIGINT at scale 1e4 — ext_c*(100-disc_c) and
    qty*retail_c*disc_c are both exact integer ten-thousandths — so the
    five-way join + (nation, year) rollup hashes identically on any
    engine. Plan: part filter (name contains 'red') broadcast-prunes
    lineitem before the orders join; supplier/nation broadcast; one
    group-by shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    red_parts = part.filter(F.col("p_name").contains("red")).select(
        "p_partkey", _c100("p_retailprice").alias("retail_c")
    )
    ext_c = _c100("l_extendedprice")
    disc_c = _c100("l_discount")
    qty = F.col("l_quantity").cast("bigint")
    amount_c4 = ext_c * (F.lit(100) - disc_c) - qty * F.col("retail_c") * disc_c
    return (
        li.join(F.broadcast(red_parts), li.l_partkey == red_parts.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount_c4).alias("profit_c4"), F.count("*").alias("n_items"))
    )


def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification). Inventory value
    per part is derived from lineitem shipped by EUROPE suppliers (no
    partsupp): sum of extended-price cents. The HAVING
    `value > fraction * total` scalar subquery becomes a one-row aggregate
    cross-joined (broadcast) against the per-part rollup — Catalyst's
    ReuseExchange shares the scan between the two aggregations. The
    threshold compare is integer cross-multiplication (value_c * 1000 >
    total_c), no float fraction. Shuffles: one on l_partkey + one
    single-row reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    euro_keys = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey")
    )
    euro_li = li.join(F.broadcast(euro_keys), li.l_suppkey == euro_keys.s_suppkey)
    per_part = euro_li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(_c100("l_extendedprice")).alias("value_c")
    )
    total = per_part.agg(F.sum("value_c").alias("total_c"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_c") * 1000 > F.col("total_c"))
        .select("p_partkey", "value_c")
    )


def q_late_shipment_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority). The testdata
    carries no l_shipmode/l_receiptdate, so the mode axis is the shipping
    latency class computed from datediff(l_shipdate, o_orderdate): FAST
    (<=30d), NORMAL (<=90d), SLOW (else). Per class, count lines from
    high-priority (1-URGENT/2-HIGH) vs lower-priority orders — Q12's
    conditional CASE-sum over the orders⋈lineitem join. datediff on
    date-truncated timestamps is whole-day exact in both engines. One
    broadcast-free shuffle join on orderkey + a 3-group reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    mode = (
        F.when(lag <= 30, "FAST").when(lag <= 90, "NORMAL").otherwise("SLOW")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(mode.alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_excess_shipment_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess concentration). Without
    partsupp.ps_availqty, 'excess' is re-posed on shipments: ASIA suppliers
    for whom some 'small'-named part had more than half its all-time
    quantity shipped in 1997 alone (qty_1997 * 2 > qty_total, integer
    quantities). Keeps Q20's nested structure — a part-name IN-subquery,
    a per-(supp, part) aggregate subquery with a correlated threshold,
    then a semi-join up to supplier/nation. Distinct supplier output, no
    LIMIT. Shuffles: one on (l_suppkey, l_partkey); everything dimension-
    sized is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    small_parts = part.filter(F.col("p_name").startswith("small")).select("p_partkey")
    qty = F.col("l_quantity").cast("bigint")
    per_sp = (
        li.join(F.broadcast(small_parts), li.l_partkey == small_parts.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(qty).alias("qty_total"),
            F.sum(F.when(F.year("l_shipdate") == 1997, qty).otherwise(0)).alias(
                "qty_1997"
            ),
        )
        .filter(F.col("qty_1997") * 2 > F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(per_sp, supp.s_suppkey == per_sp.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("s_name", "n_name")
    )


def q_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting). Late delivery
    is l_shipdate > o_orderdate + 60 days (the testdata has no
    commit/receipt dates). A supplier 'kept the order waiting' when it is
    the ONLY late supplier on a finalized ('F') multi-supplier order —
    Q21's EXISTS (another supplier) AND NOT EXISTS (another late supplier)
    pair, decorrelated into one per-order aggregate: n_supp = distinct
    suppliers, n_late = distinct late suppliers; the late lineitems then
    join back on orderkey and keep n_supp > 1 AND n_late = 1. Output:
    numwait per supplier (all rows — no LIMIT/tie nondeterminism).
    Shuffles (r12 rewrite): ONE (orderkey, suppkey) GROUPED collapse of the
    joined fact — keeping the map-side partial agg the r8-rejected
    repartition rewrite forfeited — materialized once and reused three
    ways: the per-order rollup (which reuses the pair partitioning — its
    key is a prefix — so NO second fact-sized exchange), the late-supplier
    side (a filter of the same table, replacing the r11 plan's SECOND
    fact scan + distinct shuffle), and the final join. The r11
    double-countDistinct plan paid a 2x Expand on the wide shuffle plus
    that second scan; measured at x10 this form reads 3.63 -> 2.85 s
    (min-of-3) with identical results."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li_f = li.join(f_orders, li.l_orderkey == f_orders.o_orderkey)
    late = F.to_date("l_shipdate") > F.date_add(F.to_date("o_orderdate"), 60)
    per_pair = li_f.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(late, 1).otherwise(0)).alias("is_late")
    )
    # r13 wave 2: lazy cut — the first consumer stage (the per-order
    # rollup's exchange) materializes the pair table inside its own job;
    # the late-supplier branch then reads the same blocks. The standalone
    # checkpoint job is gone (the CC probe-fusion device; per_pair is a
    # deterministic grouped aggregate, so concurrent first-evaluation is
    # benign).
    per_pair = materialize(per_pair, eager=False)
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("is_late").alias("n_late"),
    )
    late_sup = per_pair.filter(F.col("is_late") == 1).select(
        "l_orderkey", "l_suppkey"
    )
    return (
        late_sup.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Commerce and corpus analytics: channel matrices, market baskets, rolling
# revenue, CLV deciles, CDC apply, grouped HLL, edit distance, k-hop and
# BPE training loops.
# ---------------------------------------------------------------------------


def q_hourly_channel_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q88 shape (time-slot count matrix): one scan of events,
    conditional-count aggregates for every (hour band x event_type
    channel) cell — eight independent COUNT(*) FILTER columns folded into
    a single partial-aggregated pass instead of eight scans. Fully
    JVM-side, one 1-row reduce."""
    events = load_table(spark, sf_dir, "events")
    hour = F.hour("ts")
    cell = lambda lo, hi, et: F.sum(  # noqa: E731 — eight structurally-identical cells
        F.when((hour >= lo) & (hour < hi) & (F.col("event_type") == et), 1).otherwise(0)
    )
    return events.agg(
        cell(0, 6, "view").alias("night_views"),
        cell(6, 12, "view").alias("morning_views"),
        cell(12, 18, "view").alias("afternoon_views"),
        cell(18, 24, "view").alias("evening_views"),
        cell(0, 6, "click").alias("night_clicks"),
        cell(6, 12, "click").alias("morning_clicks"),
        cell(12, 18, "click").alias("afternoon_clicks"),
        cell(18, 24, "click").alias("evening_clicks"),
    )


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-occurring in >= 2 orders,
    top-50 by support. Edge build via operators/graph.py::cooccurrence_pairs
    (one orderkey shuffle + row-local pair expansion over the per-order
    item set — r7 rewrite of the orderkey self-join, which shuffled
    lineitem twice); pair blowup stays bounded by per-order item count
    (~7 in TPC-H), never corpus-quadratic, and the set-agg collapses
    multi-line duplicates. Heap take (TakeOrderedAndProject) with a full
    deterministic tie-break. Materialized via
    operators/graph.py::materialize(aqe=False) — the cooccurrence family's
    CPU-bound pair expansion measured 3.8 -> 1.6 s (sf0.1) / 4.4 -> 1.8 s
    (x10) with AQE's advisory coalescing out of the expansion stage."""
    from numaflow_spark.operators.graph import cooccurrence_pairs

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        cooccurrence_pairs(li, "l_orderkey", "l_partkey")
        .select(F.col("u").alias("p1"), F.col("v").alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )
    return pairs.orderBy(F.col("n_orders").desc(), "p1", "p2").limit(50)


def q_revenue_rolling_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day rolling revenue per supplier nation: daily totals first
    (collapses the fact table to |nations| x |days| rows), then a RANGE
    BETWEEN 29 PRECEDING frame over integer day numbers — the frame runs
    over the TINY daily table, not the fact table, and integer cents keep
    the running sums engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev_c = _cents(F.col("l_extendedprice").cast(DEC))
    daily = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.datediff(F.to_date("l_shipdate"), F.lit("1995-01-01").cast("date")).alias(
                "day_no"
            ),
        )
        .agg(F.sum(rev_c).alias("day_rev_c"))
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("day_no")
        .rangeBetween(-29, 0)
    )
    return daily.select(
        "nation", "day_no", "day_rev_c", F.sum("day_rev_c").over(w).alias("rev_30d_c")
    )


def q_clv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value deciles: lifetime revenue per customer
    (integer cents), NTILE(10) over a UNIQUE total order (revenue desc,
    custkey) so bucket assignment is deterministic, then per-decile
    rollup. The ntile is the TWO-PHASE distributed form
    (operators/ranking.py): range-partitioned parallel sorts + broadcast
    exclusive prefix counts + integer ntile arithmetic from the exact
    global rank — no single-partition WindowExec anywhere, so the plan
    survives |customers| in the billions (VERDICT r9 #5)."""
    from numaflow_spark.operators.ranking import (
        add_global_rank,
        ntile_from_rank,
    )

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        _cents(F.sum(F.col("o_totalprice").cast(DEC))).alias("ltv_c")
    )
    # r13 wave 2: lazy cut (the ranking op's bounded counts pull
    # materializes the rollup inside its own job) + n_tot stamped by the
    # op from the same collected per-bucket counts — the separate count
    # aggregate + crossJoin broadcast job is gone (VERDICT r10 #3, then
    # the count_col device).
    per_cust = materialize(per_cust, eager=False)
    ranked = add_global_rank(
        per_cust, [F.col("ltv_c").desc(), F.col("o_custkey")], "rk",
        primary="ltv_c", descending=True, materialize=False,
        count_col="n_tot",
    )
    return (
        ranked
        .select("ltv_c", ntile_from_rank("rk", "n_tot", 10).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("ltv_c").alias("decile_rev_c"),
        )
    )


def q_cdc_orders_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply over real tables (operators/cdc.py): treat each
    customer's orders as an update stream over the customer snapshot —
    the most recent order (max o_orderkey as the sequence) rewrites the
    balance to that order's total. Exercises latest-op-per-key collapse
    + broadcast anti join + union; customers with no orders pass through
    untouched. All money integer cents."""
    from numaflow_spark.operators.cdc import cdc_apply

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    snapshot = cust.select(
        "c_custkey", "c_name", _cents(F.col("c_acctbal").cast(DEC)).alias("bal_c")
    )
    changes = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.lit(None).cast("string").alias("c_name"),
        _cents(F.col("o_totalprice").cast(DEC)).alias("bal_c"),
        F.lit("U").alias("op"),
        F.col("o_orderkey").alias("seq"),
    )
    # carry the snapshot's name through the update (a U replaces the whole
    # row, so join the name in — the realistic enrichment step)
    changes = changes.drop("c_name").join(
        F.broadcast(snapshot.select("c_custkey", "c_name")), "c_custkey"
    ).select("c_custkey", "c_name", "bal_c", "op", "seq")
    return cdc_apply(snapshot, changes, ["c_custkey"], "seq")


def q_grouped_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users via the engine-exact grouped HLL
    (operators/sketch.py::hll_estimate_by): the 100 TB replacement for
    count(DISTINCT) GROUP BY — |keys| x 64 mergeable register rows
    instead of shuffling every (key, user) pair. The ESTIMATE itself is
    hash-checked against the DuckDB twin of the register math."""
    from numaflow_spark.operators.sketch import hll_estimate_by

    events = load_table(spark, sf_dir, "events")
    return hll_estimate_by(events, ["event_type"], "user_id")


def q_editdist_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Levenshtein-<=2 part-name pairs (operators/editdist.py):
    q-gram inverted-index candidates + character-multiset short-class
    filter + JVM-side verify, checked against the oracle's brute-force
    cross join."""
    from numaflow_spark.operators.editdist import edit_distance_pairs

    part = load_table(spark, sf_dir, "part")
    return edit_distance_pairs(part, "p_partkey", "p_name", max_dist=2)


def q_khop_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS distances over the customer<->supplier trade graph from
    a 10-customer seed set (operators/graph.py::k_hop_distances) —
    frontier-based shortest paths, integer distances, engine-exact
    against an unrolled min-merge CTE chain."""
    from numaflow_spark.operators.graph import k_hop_distances

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    edges = pairs.select(F.col("cust").alias("src"), (-F.col("supp")).alias("dst")).unionByName(
        pairs.select((-F.col("supp")).alias("src"), F.col("cust").alias("dst"))
    )
    seeds = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 10
    ).select(F.col("c_custkey").alias("node"))
    return k_hop_distances(edges, seeds, 3)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned from the corpus vocabulary
    (operators/bpe.py::train_bpe) as (step, sym_a, sym_b) rows. Fully
    oracle-checked: the training loop unrolls into a static SQL CTE chain
    (oracles.py::_bpe_merges_sql) — the greedy-LTR merge apply has a pure
    window-function form because candidates only overlap when a == b, and
    then greedy-LTR is exactly the even offsets within candidate runs.
    The trainer is additionally pinned against an independent Python
    reference in tests/test_bpe.py."""
    from numaflow_spark.operators.bpe import train_bpe, word_freq_table

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = train_bpe(word_freq_table(docs), 8)
    rows = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
    return _literal_frame(spark, rows, "step int, sym_a string, sym_b string")


def q_yoy_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue per supplier nation: yearly rollup (integer
    cents) + lag() over the tiny (nation, year) table — the growth-report
    shape. No division crosses engines; the previous year's value rides
    as its own column (ratio math left to the consumer)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev_c = _cents(F.col("l_extendedprice").cast(DEC))
    yearly = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("yr"))
        .agg(F.sum(rev_c).alias("rev_c"))
    )
    w = Window.partitionBy("nation").orderBy("yr")
    return yearly.select(
        "nation", "yr", "rev_c", F.lag("rev_c").over(w).alias("prev_rev_c")
    )


def q_part_return_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate per brand (TPC-DS Q83 flavor on the available flags):
    returned vs shipped quantity as conditional sums in ONE scan, ratio
    carried as integer parts-per-million (returned_qty * 1e6 div
    shipped_qty — bigint floor division, engine-exact). Brands under 10
    shipped units are filtered to keep the ratio meaningful."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity").cast("bigint")
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", qty).otherwise(0)).alias(
                "returned_qty"
            ),
            F.sum(qty).alias("shipped_qty"),
        )
        .filter(F.col("shipped_qty") >= 10)
    )
    return agg.select(
        "p_brand",
        "returned_qty",
        "shipped_qty",
        F.expr("(returned_qty * 1000000) div shipped_qty").alias("return_ppm"),
    )


def q_repeat_customer_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-period retention: per year, how many customers also
    ordered the PREVIOUS year — the repeat-rate shape. Distinct
    (customer, year) first (collapses the fact table), then one lag()
    per customer over the tiny per-customer year list; conditional count
    per year. Integer-only output."""
    orders = load_table(spark, sf_dir, "orders")
    cy = orders.select(
        "o_custkey", F.year("o_orderdate").alias("yr")
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("yr")
    flagged = cy.withColumn("prev_yr", F.lag("yr").over(w))
    return flagged.groupBy("yr").agg(
        F.count("*").alias("n_customers"),
        F.sum(
            F.when(F.col("prev_yr") == F.col("yr") - 1, 1).otherwise(0)
        ).alias("n_repeat"),
    )


def q_supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market concentration per nation: Herfindahl-Hirschman index over
    supplier revenue shares, all integer — share in ppm via bigint floor
    division against the nation total (broadcast back), HHI = sum of
    squared ppm shares (fits bigint: 25 suppliers x (1e6)^2). Two keyed
    shuffles: supplier rollup + nation rollup; the nation totals join
    broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev_c = _cents(F.col("l_extendedprice").cast(DEC))
    per_supp = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(F.sum(rev_c).alias("srev_c"))
    )
    totals = per_supp.groupBy("nation").agg(F.sum("srev_c").alias("nrev_c"))
    shared = per_supp.join(F.broadcast(totals), "nation").withColumn(
        "share_ppm", F.expr("(srev_c * 1000000) div nrev_c")
    )
    return shared.groupBy("nation").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.expr("share_ppm * share_ppm")).alias("hhi_ppm2"),
    )


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus inventory with ROLLUP over (lang, source): doc counts,
    char and whitespace-token totals at every aggregation level in ONE
    Expand + one shuffle (the multi-level report a curation dashboard
    reads). NULL group markers replaced by 'ALL' so the level columns
    hash identically across engines."""
    from numaflow_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    agg = (
        docs.withColumn("n_tok", token_count(F.col("text")).cast("bigint"))
        .rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
            F.sum("n_tok").alias("toks"),
        )
    )
    return agg.select(
        F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
        F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
        "n_docs",
        "chars",
        "toks",
    )


# ---------------------------------------------------------------------------
# Sessionization, gap filling, postings, corpus profiling, weighted
# sampling, triangle counting, chunking.
# ---------------------------------------------------------------------------


def _knuth32(col):
    """(col * 2654435761) mod 2^32 in 16-bit limbs so no intermediate
    exceeds 2^48 — replayable on checked-arithmetic engines for the full
    int64 id space (the q_uniform_k_sample fix, shared)."""
    a = F.lit(2654435761)
    d = F.pmod(col, F.lit(4294967296))
    d1 = F.shiftright(d, 16)
    d0 = d.bitwiseAND(F.lit(65535))
    return F.pmod(
        F.pmod(d1 * a, F.lit(65536)) * F.lit(65536) + d0 * a,
        F.lit(4294967296),
    )


def q_session_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): per-user event stream cut
    at >30-minute silences, one row per session with bounds and size — the
    batch twin of the R3 session window, and the canonical lag()+running-
    sum island pattern. ONE exchange total: the lag window, the running
    sum, and the session groupBy all share the user_id hash partitioning
    (the sort is reused too), so Catalyst plans a single shuffle. Integer
    epoch-seconds math end to end."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts) div 1000000").alias("ts_s"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    new_sess = F.when(
        F.col("ts_s") - F.lag("ts_s").over(w) > 1800, 1
    ).otherwise(0)
    sess = e.withColumn("sess_no", F.sum(new_sess).over(w))
    return sess.groupBy("user_id", "sess_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts_s").alias("start_s"),
        F.max("ts_s").alias("end_s"),
        (F.max("ts_s") - F.min("ts_s")).alias("dur_s"),
    )


def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with last-observation-carried-forward: daily
    per-nation revenue, each observed day emitting itself plus the gap
    days up to the next observation (lead() + sequence() explode — no
    driver-side date loop, no calendar join; r13 wave-6). The report
    shape every monitoring pipeline needs before rates/rolling windows
    make sense. is_gap marks synthesized rows. Scale: the generated rows
    are |nations| x |days| (tiny vs the fact table); the lead window
    rides one nation-keyed exchange of the daily rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    day_no = F.datediff(F.to_date("l_shipdate"), F.lit("1995-01-01"))
    daily = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), day_no.alias("day_no"))
        .agg(F.sum(_cents(F.col("l_extendedprice").cast(DEC))).alias("day_rev_c"))
    )
    # r13 wave-6 (guide §2.4): the calendar + left-join + last(ignorenulls)
    # form planned the daily rollup TWICE (once under the per-nation
    # min/max calendar aggregate, once as the join probe side — different
    # exchange keys, so no reuse) and paid a join plus a fill window.
    # LOCF is generated directly instead: each observed day emits itself
    # plus every missing day up to the next observation via
    # explode(sequence(day_no, next_day - 1)), carrying its own revenue —
    # the carried value IS the last observation by construction, and the
    # calendar starts at each nation's min observed day exactly as the
    # per-nation min/max sequence did (no leading-NULL rows exist in
    # either form). One daily rollup, one nation-keyed window exchange,
    # zero joins; identical (nation, day_no, rev, is_gap) rows.
    w = Window.partitionBy("nation").orderBy("day_no")
    nxt = daily.withColumn("next_day", F.lead("day_no").over(w))
    filled = nxt.select(
        "nation",
        "day_rev_c",
        F.col("day_no").alias("obs_day"),
        F.explode(
            F.expr("sequence(day_no, coalesce(next_day - 1, day_no))")
        ).alias("day_no"),
    )
    return filled.select(
        "nation",
        "day_no",
        F.col("day_rev_c").alias("rev_filled_c"),
        F.when(F.col("day_no") == F.col("obs_day"), 0).otherwise(1).alias("is_gap"),
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index build: per-term posting lists over the corpus — the
    retrieval-side primitive of a RAG/search pipeline. (term, doc)
    distinct pairs -> one groupBy(term) emitting document frequency and
    the doc_id-sorted posting array; terms under df 10 are left to the
    long tail (the realistic index cut). Postings arrive pre-grouped from
    the shuffle, so sort_array is per-group local work; at 100 TB the
    posting array for a stop-word-grade term is the known skew point —
    cap or segment those terms (delta-encoded segments) at write time.
    The posting list is emitted as a ','-joined string (scalar column):
    downstream harnesses canonicalize scalar outputs only, and the
    serialized form is what an index segment writer would emit anyway.

    r13 wave-3 rewrite (guide §2.4): the old distinct() on (term, doc)
    followed by groupBy(term) shuffled the pair stream TWICE — once
    hash-partitioned on (term, doc) for the dedup, once on term for the
    postings build. collect_set(doc_id) dedups inside the term
    aggregation itself (its partial aggregate collapses same-partition
    duplicates map-side exactly as the distinct did), so one term-keyed
    exchange does both. df = size(set) is the same distinct-doc count.
    Measured interleaved min-of-3 at x10: 2.71 -> 1.57 s, 4 -> 3 jobs."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(
            F.explode(F.split("text", " ")).alias("term"), "doc_id"
        )
        .filter(F.length("term") > 0)
    )
    return (
        pairs.groupBy("term")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("_p"))
        .select(
            "term",
            F.size("_p").cast("bigint").alias("df"),
            F.array_join("_p", ",").alias("postings"),
        )
        .filter(F.col("df") >= 10)
    )


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiling in ONE corpus pass: per-column null counts
    and exact distinct counts over documents, unpivoted to one row per
    column. The multi-count(DISTINCT) agg plans as one Expand (the
    grouping-sets machinery) — still a single scan, no per-column rescan;
    the stack() unpivot runs on the 1-row aggregate. The schema-drift /
    ingest-QA primitive every pipeline fronts its corpus with."""
    docs = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    agg = docs.agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
            for c in cols
        ],
        *[F.countDistinct(c).cast("bigint").alias(f"dist_{c}") for c in cols],
    )
    stack_expr = ", ".join(
        f"'{c}', null_{c}, dist_{c}" for c in cols
    )
    return agg.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {stack_expr}) AS (column_name, n_null, n_distinct)"
        ),
    ).select("column_name", "n_rows", "n_null", "n_distinct")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted bottom-k sample (priority sampling, Duffield,
    Lund & Thorup, JACM'07): rank = u / w with u the Knuth multiplicative
    hash of doc_id and w = n_chars, keep the 200 smallest ranks — long
    documents are proportionally more likely to be drawn, the standard
    size-weighted corpus subsample. All integer (rank carries a 2^16
    scale, bigint floor division), so the sample replays bit-identically
    on any engine; distributed heap take, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("_h", _knuth32(F.col("doc_id")))
        .withColumn(
            "rank",
            F.expr("(_h * 65536) div greatest(cast(n_chars as bigint), 1)"),
        )
        .select("doc_id", "lang", "n_chars", "rank")
        .orderBy("rank", "doc_id")
        .limit(200)
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the part co-purchase graph (parts sharing
    an order), via operators/graph.py::triangle_count — degree-ordered
    orientation bounds the wedge join at O(sqrt(m)) per node, the
    skew-proof MapReduce formulation. Oracle: the id-oriented 3-way
    self-join (orientation choice never changes the count). Edge build via
    cooccurrence_pairs (one orderkey shuffle + row-local pair expansion —
    r7 rewrite of the orderkey self-join that shuffled lineitem twice).
    Materialized via materialize(aqe=False): 13.3 -> 4.9 s (sf0.1) /
    32.1 -> 18.7 s (x10), same-session min-of-2, identical count.

    r14: the query-level ``.distinct()`` on the pair stream is GONE —
    triangle_count's entry canonicalization (greatest/least + distinct)
    dedups the raw pair stream anyway. NOT claimed as a perf win: the
    optimized physical plans are byte-identical (Catalyst's
    RemoveRedundantAggregates already elided the lower aggregate —
    checked at sf0.01 and sf1,
    plans/r14/triangle_count_edgebuild_sf1_{before,after}.txt); an
    in-session A/B that first suggested a 1.4x win was a warming-order
    artifact (run walls decreased monotonically regardless of arm — the
    cautionary counterexample for same-session A/Bs this round). The edit
    only makes the redundancy explicit in code. Count identical
    (1884488 sf0.1 / 18844880 x10)."""
    from numaflow_spark.operators.graph import (
        cooccurrence_pairs,
        triangle_count,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = cooccurrence_pairs(li, "l_orderkey", "l_partkey").select("u", "v")
    return triangle_count(edges)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-ingestion chunking: split every document into overlapping
    token-window chunks (32 tokens, stride 24) — one row per chunk with a
    deterministic md5 of the chunk text (compact + hash-comparable; the
    text itself would just re-ship the corpus). Entirely row-local array
    math (split/filter/sequence/slice/array_join) inside WholeStageCodegen:
    zero shuffles, so at 100 TB chunking is a free rider on the ingest
    scan. Chunk count per doc = 1 + ceil((n_tok - 32) / 24), floor-div
    integer form mirrored exactly in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: F.length(t) > 0)
    d = docs.select("doc_id", toks.alias("ts"))
    last = F.greatest(
        ((F.size("ts") - 32 + 23) / 24).cast("bigint"), F.lit(0)
    )
    chunks = d.select(
        "doc_id",
        F.col("ts"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("chunk_no"),
    ).select(
        "doc_id",
        "chunk_no",
        F.slice(
            "ts", (F.col("chunk_no") * 24 + 1).cast("int"), 32
        ).alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_no",
        F.size("chunk").cast("bigint").alias("n_tokens"),
        F.md5(F.array_join("chunk", " ").cast("binary")).alias("chunk_md5"),
    ).filter(F.col("n_tokens") > 0)


def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per 7-day sliding window (day grain) — the
    rolling-reach metric. COUNT(DISTINCT) does not decompose over sliding
    windows, so the scale shape is: collapse events to distinct
    (day, user) once (the only corpus-sized shuffle), then explode each
    pair into the 7 window-end days it contributes to and run one exact
    countDistinct per window end. Cost is 7x the |day,user| table — at
    100 TB that beats re-scanning raw events per window by the event/user
    multiplicity, and window width only scales the small side. Integer
    day bins (micros-epoch) keep both engines identical."""
    ev = load_table(spark, sf_dir, "events")
    day_user = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"), "user_id"
    ).distinct()
    exploded = day_user.select(
        F.explode(
            F.expr("sequence(day, day + 6)")
        ).alias("win_end_day"),
        "user_id",
    )
    return exploded.groupBy("win_end_day").agg(
        F.countDistinct("user_id").alias("n_users")
    )


# ---------------------------------------------------------------------------
# Event analytics + corpus profiling shapes.
# ---------------------------------------------------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over the event stream: per-user consecutive
    (from_type -> to_type) pairs counted — the behavioral-model input every
    product-analytics pipeline derives. One exchange: the lag window hashes
    on user_id and the tiny 5x5 transition groupBy rides a partial agg.
    Integer epoch-micros ordering with event_id tiebreak keeps the pair set
    engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("to_type"),
        F.expr("unix_micros(ts)").alias("ts_u"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_u", "event_id")
    t = e.withColumn("from_type", F.lag("to_type").over(w)).filter(
        F.col("from_type").isNotNull()
    )
    return t.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))


def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 onboarding journeys: each user's first five events as a
    'a>b>c' path string, counted across users, deterministic total order
    (n_users desc, path) so the LIMIT is engine-exact. Scale shape: the
    row_number window and the per-user path groupBy share the user_id
    hash partitioning (one exchange), the path census is a tiny partial
    agg, and the top-50 is a distributed heap take, not a global sort."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("ts_u"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_u", "event_id")
    first5 = e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    paths = first5.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(50)
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer sizing: the smallest frequency-ranked vocabulary prefix
    covering >= 90% of all token occurrences, with each kept term's count
    and running cumulative. The running cumulative is the TWO-PHASE
    distributed form (operators/ranking.py): the collapsed vocabulary is
    range-partitioned on (freq desc, term), locally cumulated in parallel
    and closed with broadcast exclusive prefix sums — no single-partition
    WindowExec, so the plan holds even when the distinct vocabulary is
    itself huge (web-scale corpora; VERDICT r9 #5). The coverage test is
    integer cross-multiplication ((cum - n) * 10 < total * 9) against the
    broadcast 1-row total, so no float crosses engines."""
    from numaflow_spark.operators.ranking import add_global_running_sum

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    # r13 wave 2: lazy cut (the running-sum op's bounded sums pull
    # materializes the census inside its own job) + the corpus total
    # stamped by the op from the same collected per-bucket sums — the
    # separate total aggregate + crossJoin broadcast job is gone
    # (VERDICT r10 #3, then the totals_cols device).
    counts = materialize(counts, eager=False)
    cum = add_global_running_sum(
        counts, [F.desc("n"), F.col("term")], "n", "cum",
        primary="n", descending=True, materialize=False,
        total_col="total",
    )
    return (
        cum.filter((F.col("cum") - F.col("n")) * 10 < F.col("total") * 9)
        .select("term", "n", "cum")
    )


def q_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick downsample of the event stream: per (event_type, day)
    open/close (value at the first/last event in (second, event_id)
    order — a fully-framed window over the unique composite order, so no
    packed-integer tiebreak key that could collide at scale), low/high,
    and count. Values ride as floor-micros bigints so both engines agree
    bit-for-bit (IEEE double multiply + floor is deterministic). ONE
    exchange: the window and the final aggregate share the
    (event_type, day) hash partitioning — the hypertable
    continuous-aggregate shape."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        "event_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("unix_micros(ts) div 1000000").alias("ts_s"),
        F.expr("cast(floor(value * 1000000) as bigint)").alias("v_u"),
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    oc = e.select(
        "event_type",
        "day",
        "v_u",
        F.first("v_u").over(w).alias("open_u"),
        F.last("v_u").over(w).alias("close_u"),
    )
    return oc.groupBy("event_type", "day").agg(
        F.max("open_u").alias("open_u"),   # constant within the group
        F.max("close_u").alias("close_u"),
        F.min("v_u").alias("lo_u"),
        F.max("v_u").alias("hi_u"),
        F.count("*").alias("n"),
    )


def q_source_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per source over power-of-two buckets —
    the size-distribution profile a curation run reads before choosing
    chunk/packing parameters. The bucket is the binary magnitude
    length(bin(n_chars)) = floor(log2)+1, computed in pure integer string
    ops (log2() doubles round differently across libms at boundary values;
    bin() cannot). Row-local + one tiny groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            F.length(F.expr("bin(n_chars)")).cast("bigint").alias("bucket"),
            F.col("n_chars"),
        )
        .groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
    )


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality audit: confusion matrix of the marker-based
    lang_id prediction (operators/text.py) against the labeled lang column
    — the eval loop that decides whether the cheap classifier is good
    enough to gate a corpus. Row-local CASE ladder + one 5x5 groupBy."""
    from numaflow_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", X.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Customer segmentation, streaks, fulfillment latency, market-basket lift.
# ---------------------------------------------------------------------------


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per ordering customer, recency (days from last
    order to the corpus max order day), frequency (order count), monetary
    (lifetime cents), each banded into quintiles with ntile(5) — the
    classic CRM cut. All three quintile bands are TWO-PHASE distributed
    ntiles (operators/ranking.py): chained range-partitioned parallel
    sorts over the collapsed per-customer table with broadcast exclusive
    prefix counts — no single-partition WindowExec, so the plan holds at
    billions of customers (VERDICT r9 #5). Each total order carries a
    custkey tiebreak so band edges are engine-exact; the corpus max day
    rides as a broadcast 1-row aggregate. Integer day/cent math only."""
    from numaflow_spark.operators.ranking import (
        add_global_ranks,
        ntile_from_rank,
    )

    orders = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(o_orderdate) div 86400000000")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(day).alias("last_day"),
        F.count("*").alias("frequency"),
        F.sum(_cents(F.col("o_totalprice").cast(DEC))).alias("monetary_c"),
    )
    maxd = orders.agg(F.max(day).alias("corpus_max_day"))
    base = per_cust.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        (F.col("corpus_max_day") - F.col("last_day")).alias("recency_days"),
        "frequency",
        "monetary_c",
    )
    # All three rankings order by columns of the SAME per-customer rollup,
    # so they share one materialization and one stats row (VERDICT r10 #3:
    # three chained add_global_rank calls paid the eager cut 3x) — and the
    # n_tot row reads the same checkpoint instead of re-rolling the fact
    # table. Lazy cut (r13): the ranking op's stats aggregate is the
    # action that materializes the rollup — no separate checkpoint job.
    base = materialize(base, eager=False)
    # count_col (r13): n_tot is the sum of the already-collected bucket
    # counts under the literal-offsets regime — no separate count
    # aggregate + broadcast over the rollup.
    r = add_global_ranks(base, [
        ([F.col("recency_days"), F.col("o_custkey")], "r_rk",
         "recency_days", False),
        ([F.col("frequency").desc(), F.col("o_custkey")], "f_rk",
         "frequency", True),
        ([F.col("monetary_c").desc(), F.col("o_custkey")], "m_rk",
         "monetary_c", True),
    ], materialize=False, count_col="n_tot")
    return r.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_c",
        ntile_from_rank("r_rk", "n_tot", 5).alias("r_band"),
        ntile_from_rank("f_rk", "n_tot", 5).alias("f_band"),
        ntile_from_rank("m_rk", "n_tot", 5).alias("m_band"),
    )


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (gaps-and-islands at
    day grain): distinct (user, day) once — the only corpus-sized shuffle —
    then island id = day - row_number() rides the same user partitioning,
    and two tiny per-user aggregates finish it. The engagement metric
    behind every retention dashboard. Integer day bins."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = ud.withColumn("island", F.col("day") - F.row_number().over(w))
    runs = isl.groupBy("user_id", "island").agg(F.count("*").alias("run_len"))
    return runs.groupBy("user_id").agg(
        F.sum("run_len").alias("n_active_days"),
        F.max("run_len").alias("longest_streak"),
    )


def q_order_fill_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-latency distribution: days from order placement to each
    line's ship date, bucketed into weeks, counted per order priority —
    the SLA histogram an ops dashboard reads. The orders->lineitem join
    shuffles on orderkey once (both sides pre-projected to two columns);
    the (priority, week) census is a tiny partial agg. Integer day/week
    floor division on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("od"),
    )
    l = li.select(
        "l_orderkey",
        F.expr("unix_micros(l_shipdate) div 86400000000").alias("sd"),
    )
    j = o.join(l, o.o_orderkey == l.l_orderkey).select(
        "o_orderpriority",
        F.expr("(sd - od) div 7").alias("latency_weeks"),
    )
    return j.groupBy("o_orderpriority", "latency_weeks").agg(
        F.count("*").alias("n_lines")
    )


def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift for part pairs: lift_ppm = n_ab * n_orders *
    1e6 div (n_a * n_b), top 50 by (lift desc, pair) — the market-basket
    signal behind 'bought together'. Scale shape: per-order part lists
    collapse to distinct pairs (orientation a < b halves the space and the
    per-order explosion is bounded by basket size, not corpus size); the
    singles table joins back TWICE by part key (broadcastable — |parts|
    rows); n_orders rides as a 1-row broadcast; the top-50 is a heap take.
    All-integer lift via bigint floor division. Pairs below support 5 are
    cut before the joins, the standard a-priori prune. Materialized via
    materialize(aqe=False) (cooccurrence-family regime, registry wrapper).

    r12 shared-dedup rewrite: the singles table, the n_orders scalar, and
    BOTH sides of the pair self-join now hang off ONE repartition(order)
    + dropDuplicates([order, part]) subtree (the shape
    graph.cooccurrence_pairs builds internally), so ReuseExchange
    collapses the lineitem scan+shuffle to a single physical occurrence
    where the old op.distinct() form scanned and shuffled the fact table
    twice. Measured min-of-3 same-session, identical output:
    5.05 -> 2.55 s at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem")
    gi = (
        li.select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey").isNotNull())
        .repartition(F.col("l_orderkey"))
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    n_orders = gi.groupBy().agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    singles = gi.groupBy("l_partkey").agg(F.count("*").alias("n_single"))
    pa = gi.select(
        F.col("l_orderkey").alias("_g"), F.col("l_partkey").alias("u")
    )
    pb = gi.select(
        F.col("l_orderkey").alias("_g2"), F.col("l_partkey").alias("v")
    )
    pairs = (
        pa.join(pb, (F.col("_g") == F.col("_g2")) & (F.col("u") < F.col("v")))
        .groupBy(F.col("u").alias("part_a"), F.col("v").alias("part_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    sa = singles.select(
        F.col("l_partkey").alias("part_a"), F.col("n_single").alias("n_a")
    )
    sb = singles.select(
        F.col("l_partkey").alias("part_b"), F.col("n_single").alias("n_b")
    )
    enriched = (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n_orders))
    )
    return (
        enriched.select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("(n_ab * n_orders * 1000000) div (n_a * n_b)").alias(
                "lift_ppm"
            ),
        )
        .orderBy(F.desc("lift_ppm"), "part_a", "part_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Attribution, skyline, deterministic mode.
# ---------------------------------------------------------------------------


def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click attribution: every purchase attributed to the user's
    most recent PRIOR click (same instant resolved by event_id order —
    the documented contract), reported as a click-to-purchase gap-day
    histogram with attributed value; purchases with no prior click land
    in gap_days = -1. ONE exchange: the carried-forward click timestamp
    (last_value IGNORE NULLS) rides the user_id window partitioning and
    the tiny histogram agg is partial+final. Value rides as floor-micros
    bigints (IEEE-deterministic)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("ts_u"),
        F.expr("cast(floor(value * 1000000) as bigint)").alias("v_u"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_u", "event_id")
    lc = F.last(
        F.when(F.col("event_type") == "click", F.col("ts_u")), ignorenulls=True
    ).over(w)
    purchases = e.withColumn("lc_ts", lc).filter(
        F.col("event_type") == "purchase"
    )
    gap = F.when(F.col("lc_ts").isNull(), F.lit(-1)).otherwise(
        F.expr("(ts_u - lc_ts) div 86400000000")
    )
    return purchases.groupBy(gap.alias("gap_days")).agg(
        F.count("*").alias("n_purchases"),
        F.sum("v_u").alias("value_u"),
    )


def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier over (price down, size up): parts no
    other part strictly beats on BOTH axes (the strict-dominance frontier
    — the contract; <=-dominance differs only on exact ties). The classic
    skyline query (Borzsony et al., ICDE'01) in ONE window: sort by
    price, and a part survives iff the max size over all STRICTLY cheaper
    parts (RANGE ... 1 PRECEDING on integer cents) does not exceed it.
    No self-join, no cartesian — and the strictly-cheaper running max is
    the TWO-PHASE distributed form (operators/ranking.py): range-
    partitioned on price alone (equal prices co-locate, so no boundary
    splits a strictly-before frame), local RANGE windows per partition,
    broadcast exclusive prefix maxes — no single-partition WindowExec,
    so the skyline holds at billions of parts (VERDICT r9 #5).
    Integer cents/size only."""
    from numaflow_spark.operators.ranking import (
        add_global_running_max_strictly_before,
    )

    part = load_table(spark, sf_dir, "part")
    base = part.select(
        "p_partkey",
        _cents(F.col("p_retailprice").cast(DEC)).alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    flagged = add_global_running_max_strictly_before(
        base, "price_c", "size", "best_cheaper_size"
    )
    return flagged.filter(
        F.col("best_cheaper_size").isNull()
        | (F.col("best_cheaper_size") <= F.col("size"))
    ).select("p_partkey", "price_c", "size")


def q_brand_mode_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: each brand's most frequent return flag, ties to
    the lexicographically smallest flag — the categorical-summary shape.
    Census groupBy + rank window on the tiny (brand, flag) table; the
    part dimension broadcasts into the fact scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    census = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("n"), "l_returnflag")
    return (
        census.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_brand", F.col("l_returnflag").alias("mode_flag"), "n")
    )


# ---------------------------------------------------------------------------
# Exact medians, cross-modality join, seasonality, rate alerting.
# ---------------------------------------------------------------------------


def q_median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median (lower-median contract: the value at
    row_number (n+1) div 2 in (value, orderkey) order — deterministic,
    interpolation-free, so it replays on any engine). Both windows (rank
    and group size) ride ONE priority partitioning; at 100 TB the
    per-group sort is the unavoidable cost of an EXACT median — the
    approximate path is percentile_approx over the same partitioning."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        "o_orderkey",
        _cents(F.col("o_totalprice").cast(DEC)).alias("price_c"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("price_c", "o_orderkey")
    wc = Window.partitionBy("o_orderpriority")
    ranked = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_orders", F.count("*").over(wc)
    )
    return ranked.filter(
        F.expr("rn = (n_orders + 1) div 2")
    ).select(
        "o_orderpriority",
        "n_orders",
        F.col("price_c").alias("median_price_c"),
    )


def q_label_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality metadata join: embedding cluster labels against the
    text corpus's source field — the coverage matrix that shows which
    ingest source feeds which embedding cluster. Equi-join on the shared
    id space (vec_id = doc_id), count matrix with per-cell char volume.
    At scale both sides are bucketed on id (scale.py::write_bucketed)
    so the join is exchange-free; here it is one keyed shuffle."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .groupBy("source", "label")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
    )


def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: each (year, month) revenue as parts-per-
    million of its year's MEAN month (rev_c * 12 * 1e6 div year_total) —
    the classic seasonal index, all bigint floor division. Month rollup
    (one shuffle) -> year totals (tiny) broadcast back."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
    ).agg(F.sum(_cents(F.col("o_totalprice").cast(DEC))).alias("rev_c"))
    yearly = monthly.groupBy("yr").agg(F.sum("rev_c").alias("year_c"))
    return (
        monthly.join(F.broadcast(yearly), "yr")
        .select(
            "yr",
            "mo",
            "rev_c",
            F.expr("(rev_c * 12 * 1000000) div year_c").alias("index_ppm"),
        )
    )


def q_error_rate_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational rate alert: hours whose error share exceeds 25% of
    events (err_ppm > 250000, integer ppm). One conditional-sum groupBy
    over hour bins — the monitoring query the streaming twin
    (fixed_window_keyed) feeds continuously; the HAVING filter runs on
    the aggregate, costing nothing at scale."""
    ev = load_table(spark, sf_dir, "events")
    hours = ev.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("hour_bin")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
    )
    return hours.withColumn(
        "err_ppm", F.expr("(n_errors * 1000000) div n_events")
    ).filter(F.col("err_ppm") > 250000)


# ---------------------------------------------------------------------------
# Graph degree profile, inequality metric, interarrival histogram.
# ---------------------------------------------------------------------------


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph in power-of-two
    buckets — the first diagnostic run before any graph algorithm (it
    decides orientation/salting strategy; see triangle_count). Distinct
    undirected edges -> per-node degree (each edge counted at both ends
    via the symmetric union) -> log2-bucket census. bin()-length bucketing
    keeps it integer-exact (no libm log2).

    r10 rewrite (VERDICT r9 task 2, 7.3 s x10 residual): degree =
    COUNT(DISTINCT neighbor) over the pre-shuffle symmetric union instead
    of global edge distinct THEN a second degree shuffle. The distinct
    aggregate's map-side partial dedup collapses duplicate pairs before
    they hit the wire, and the union is a projection — measured A/B at
    x10 (min-of-2, identical 3-row output): 7.39 s -> 5.41 s; the
    repartition(u)+dropDuplicates orientation split read 5.61 s.
    Materialized via materialize(aqe=False) (cooccurrence-family regime):
    4.0 -> 2.0 s at sf0.1 / 15.9 -> 7.0 s at x10, same session."""
    from numaflow_spark.operators.graph import cooccurrence_pairs

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey").select("u", "v")
    und = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.countDistinct("v").alias("degree"))
    return (
        deg.groupBy(
            F.length(F.expr("bin(degree)")).cast("bigint").alias("degree_bucket")
        )
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("degree").alias("sum_degree"),
        )
    )


def q_gini_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-count concentration across customers, in
    exact integer ppm: gini_ppm = (2*S1 - (n+1)*S0) * 1e6 div (n*S0) with
    S0 = total orders, S1 = sum of rank*orders over customers ranked
    ascending (ties by custkey — deterministic). The rank is the
    TWO-PHASE distributed form (operators/ranking.py): range-partitioned
    parallel sorts + broadcast exclusive prefix counts — no single-
    partition WindowExec (VERDICT r9 #5); both moments reduce to one row.
    Operand bound: rank*x <= |customers|^2 * max_orders — bigint-safe to
    ~10^8 customers (documented; beyond that, bucket the rank moment)."""
    from numaflow_spark.operators.ranking import add_global_rank

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count("*").alias("x"))
    ranked = add_global_rank(
        per_cust, [F.col("x"), F.col("o_custkey")], "rank", primary="x"
    )
    m = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s0"),
        F.sum(F.expr("rank * x")).alias("s1"),
    )
    return m.select(
        "n",
        "s0",
        F.expr("(2 * s1 - (n + 1) * s0) * 1000000 div (n * s0)").alias(
            "gini_ppm"
        ),
    )


def q_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event inter-arrival profile: seconds between consecutive
    events, binned into power-of-two buckets (bin()-length, integer-
    exact), counted per event_type of the LATER event — the traffic-shape
    diagnostic behind session-gap and rate-limit tuning. One exchange:
    the lag window hashes on user_id; the (type, bucket) census is a tiny
    partial agg. Zero-gap pairs land in bucket 1 (bin(0) = '0')."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("ts_s"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    gaps = e.withColumn("prev_s", F.lag("ts_s").over(w)).filter(
        F.col("prev_s").isNotNull()
    )
    return (
        gaps.select(
            "event_type",
            F.length(F.expr("bin(ts_s - prev_s)")).cast("bigint").alias(
                "gap_bucket"
            ),
        )
        .groupBy("event_type", "gap_bucket")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# The 80/20 concentration cut, segment-status census, credit-risk exposure.
# ---------------------------------------------------------------------------


def q_revenue_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 report: the smallest set of customers (by lifetime
    revenue, ties by custkey) covering >= 80% of total revenue — vocab
    coverage's shape on the revenue domain. The running revenue sum is
    the TWO-PHASE distributed form (operators/ranking.py): range-
    partitioned parallel sorts + broadcast exclusive prefix sums — no
    single-partition WindowExec (VERDICT r9 #5); the coverage test is
    integer cross-multiplication against the broadcast 1-row total; the
    final reduce emits one row (n_top, n_customers, top_rev_c,
    total_rev_c)."""
    from numaflow_spark.operators.ranking import add_global_running_sum

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice").cast(DEC))).alias("rev_c")
    )
    # r13 wave 2: lazy cut (the running-sum op's bounded sums pull
    # materializes the rollup inside its own job) + the total/count row
    # stamped by the op from the same collected per-bucket sums/counts —
    # the separate totals aggregate + crossJoin broadcast job is gone
    # (VERDICT r10 #3, then the totals_cols/count_col device).
    per_cust = materialize(per_cust, eager=False)
    cum = add_global_running_sum(
        per_cust, [F.desc("rev_c"), F.col("o_custkey")], "rev_c", "cum_c",
        primary="rev_c", descending=True, materialize=False,
        total_col="total_rev_c", count_col="n_customers",
    )
    kept = cum.filter(
        (F.col("cum_c") - F.col("rev_c")) * 10 < F.col("total_rev_c") * 8
    )
    return kept.groupBy("n_customers", "total_rev_c").agg(
        F.count("*").alias("n_top"),
        F.sum("rev_c").alias("top_rev_c"),
    ).select("n_top", "n_customers", "top_rev_c", "total_rev_c")


def q_segment_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment x order-status census with revenue — the order-book
    health matrix. Customer (dimension) broadcasts into the orders scan;
    the tiny matrix agg is partial+final. Integer cents."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice").cast(DEC))).alias("rev_c"),
        )
    )


def q_negative_balance_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credit-risk exposure: per nation, customers in negative account
    balance and the open-order value still owed to them — filter pushed
    to the customer scan, broadcast dim join into the orders fact, open
    orders filtered at THEIR scan. Integer cents."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    risky = cust.filter(F.col("c_acctbal") < 0).select(
        "c_custkey", "c_nationkey"
    )
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_custkey",
        _cents(F.col("o_totalprice").cast(DEC)).alias("open_c"),
    )
    return (
        open_orders.join(
            F.broadcast(risky), open_orders.o_custkey == risky.c_custkey
        )
        .join(F.broadcast(nation), risky.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.countDistinct("c_custkey").cast("bigint").alias("n_risky_customers"),
            F.count("*").alias("n_open_orders"),
            F.sum("open_c").alias("exposure_c"),
        )
    )


# ---------------------------------------------------------------------------
# Traffic heatmap, first-event census, stickiness, dedup rate, lead times.
# ---------------------------------------------------------------------------


def q_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic heatmap: events and value by (day-of-week, hour) — the
    capacity-planning census. Day-of-week via pure integer epoch math
    ((epoch_days + 4) mod 7, 0 = Sunday; engine date functions disagree
    on week origin, integers cannot). One tiny 7x24 groupBy."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr("(unix_micros(ts) div 86400000000 + 4) % 7").alias("dow"),
            F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hour"),
            F.expr("cast(floor(value * 1000000) as bigint)").alias("v_u"),
        )
        .groupBy("dow", "hour")
        .agg(F.count("*").alias("n_events"), F.sum("v_u").alias("value_u"))
    )


def q_first_event_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-context census: each user's FIRST event type, counted —
    the cold-start profile (users whose first touch is already a purchase
    need no funnel). One user_id exchange: the rank window and nothing
    else touches the corpus; the census is a 5-row agg."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("ts_u"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_u", "event_id")
    first = e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return first.groupBy(F.col("event_type").alias("first_type")).agg(
        F.count("*").alias("n_users")
    )


def q_wau_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness (DAU/WAU in integer ppm) per day: daily distinct users
    against the trailing-7-day distinct users ending that day — the
    engagement ratio every growth dashboard tracks. The trailing-window
    side reuses the sliding_distinct_users shape (explode each distinct
    (day, user) into the 7 window-ends it serves); the join is day-keyed
    and tiny. Windows with no 7-day history still report (ppm is exact
    on whatever history exists — the standard convention)."""
    ev = load_table(spark, sf_dir, "events")
    day_user = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"), "user_id"
    ).distinct()
    dau = day_user.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    wau = (
        day_user.select(
            F.explode(F.expr("sequence(day, day + 6)")).alias("day"),
            "user_id",
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.expr("(dau * 1000000) div wau").alias("stickiness_ppm"),
    )


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation KPI: per ingest source, exact-duplicate rate in integer
    ppm — docs vs distinct normalized fingerprints (operators/text.py's
    md5-over-normalized-text, the same identity the dedup operators key
    on). One fingerprint shuffle; the per-source census is tiny."""
    from numaflow_spark.operators.text import fingerprint_md5

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("source", fingerprint_md5(F.col("text")).alias("fp"))
    agg = fp.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_distinct"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_distinct",
        F.expr("((n_docs - n_distinct) * 1000000) div n_docs").alias(
            "dup_ppm"
        ),
    )


def q_supplier_lead_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delivery-consistency profile: per supplier, order->ship lead-time
    count, mean (x100) and variance (x10000) — ALL integer, via the
    moment identity n*Var = n*Σx² - (Σx)²; per-supplier n keeps every
    product far inside bigint (documented bound: n·Σx² < 2^63 needs
    n ≲ 2.5e7 rows per supplier at 120-day lead times). One orderkey
    join + one supplier rollup; suppliers under 10 lines filtered so the
    moments mean something."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.select(
        "o_orderkey",
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("od"),
    )
    l = li.select(
        "l_orderkey",
        "l_suppkey",
        F.expr("unix_micros(l_shipdate) div 86400000000").alias("sd"),
    )
    x = o.join(l, o.o_orderkey == l.l_orderkey).select(
        "l_suppkey", (F.col("sd") - F.col("od")).alias("lead_days")
    )
    m = x.groupBy("l_suppkey").agg(
        F.count("*").alias("n"),
        F.sum("lead_days").alias("s1"),
        F.sum(F.expr("lead_days * lead_days")).alias("s2"),
    ).filter(F.col("n") >= 10)
    return m.select(
        "l_suppkey",
        "n",
        F.expr("(s1 * 100) div n").alias("mean_days_x100"),
        F.expr("((n * s2 - s1 * s1) * 10000) div (n * n)").alias(
            "var_days_x10000"
        ),
    )


# ---------------------------------------------------------------------------
# Top-k with ties, exact order-statistic quantiles, streaming-consistent
# sessionization, rank-shift, cross-source contamination, per-entity median.
# ---------------------------------------------------------------------------


def q_topk_brand_parts_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by revenue WITH ties (rank(), not
    row_number()): the leaderboard semantics where equal revenue shares
    the podium — the output is determined by the VALUE SET, so it is
    engine-order-independent without any tiebreak column. One part-key
    rollup + a rank window over the collapsed (brand, part) table; the
    fact scan never sees the window."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.sum(_cents(F.col("l_extendedprice").cast(DEC))).alias("rev_c"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("rev_c"))
    return rev.withColumn("rnk", F.rank().over(w)).filter(F.col("rnk") <= 3)


def q_quantity_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quartiles of order quantity per return flag, as order
    statistics (value at row ceil(q*n) of the sorted column — the
    inverse-CDF definition). percentile_approx-style sketches are
    engine-specific; the order-statistic form is bit-identical on any
    engine because the value at a rank is a property of the sorted
    multiset.

    r13 wave-3 rewrite (guide §2.5): the old row_number() window
    partitioned by l_returnflag (3 values) sorted the ENTIRE fact table
    on 3 tasks — the exact single-hot-partition shape the window audit
    exists to catch, and a fixed ~2.8 s at x10 that would become hours at
    100 TB. qty is integer-valued, so the value at rank r is recoverable
    from the (flag, qty) frequency census: it is the unique qty with
    cum_before < r <= cum over the ascending cumulative counts. The fact
    table now collapses via one map-side-partial census agg; the windows
    run over |flags| x |distinct qty| rows only. Identical output by the
    multiset-rank argument (row_number tiebreaks between equal qty rows
    cannot change the value at a rank). Measured interleaved min-of-3 at
    x10: 2.78 -> 0.60 s."""
    li = load_table(spark, sf_dir, "lineitem")
    census = (
        li.select("l_returnflag", F.floor("l_quantity").cast("bigint").alias("qty"))
        .groupBy("l_returnflag", "qty")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("l_returnflag").orderBy("qty")
    wn = Window.partitionBy("l_returnflag")
    cum = census.select(
        "l_returnflag", "qty", "cnt",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    ).withColumn("cum_before", F.col("cum") - F.col("cnt"))
    pick = lambda r: F.max(
        F.when((F.col("cum_before") < r) & (r <= F.col("cum")), F.col("qty"))
    )
    return cum.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        pick(F.expr("(n + 3) div 4")).alias("q25_qty"),
        pick(F.expr("(n + 1) div 2")).alias("q50_qty"),
        pick(F.expr("(3 * n + 3) div 4")).alias("q75_qty"),
    )


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion by session size: 30-minute-gap sessionization (the exact
    batch twin of a session-window streaming reduce), each session flagged
    if it contains a purchase, then a census over power-of-two session-size
    buckets — does engagement length buy conversion? One user_id exchange
    for the two stacked windows; the census is tiny."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("ts_s"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    marked = e.withColumn(
        "new_sess",
        F.when(
            F.lag("ts_s").over(w).isNull()
            | (F.col("ts_s") - F.lag("ts_s").over(w) > 1800),
            1,
        ).otherwise(0),
    ).withColumn("sess_no", F.sum("new_sess").over(w))
    sessions = marked.groupBy("user_id", "sess_no").agg(
        F.count("*").alias("n_events"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    return (
        sessions.groupBy(
            F.length(F.expr("bin(n_events)")).cast("bigint").alias("size_bucket")
        )
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("conv").alias("n_converted"),
        )
    )


def q_brand_rank_shift_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard churn: each brand's revenue rank within a ship year vs
    its rank in its previous appearing year — the market-movement report.
    Rank order is totalized (rev desc, brand) so both engines place every
    row identically; the shift rides a lag window on the tiny (brand,
    year) rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    yearly = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", F.year("l_shipdate").alias("yr"))
        .agg(F.sum(_cents(F.col("l_extendedprice").cast(DEC))).alias("rev_c"))
    )
    wy = Window.partitionBy("yr").orderBy(F.desc("rev_c"), "p_brand")
    wb = Window.partitionBy("p_brand").orderBy("yr")
    ranked = yearly.withColumn("rnk", F.row_number().over(wy))
    return ranked.select(
        "p_brand", "yr", "rev_c", "rnk", F.lag("rnk").over(wb).alias("prev_rnk")
    )


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: distinct 5-gram shingles shared
    between every pair of ingest sources — the decontamination audit that
    tells you WHICH corpora leak into each other (the per-doc variant is
    `decontaminate`/`dup_ngram_frac`; this is the corpus-level rollup).

    Scale shape (r8 rewrite — bitmask rollup instead of a shingle
    self-join): sources get dense ids (r13: a literal map from the
    bounded distinct-source collect — ≤64 by the bitmask width, asserted),
    every shingle occurrence ORs its source bit into a per-shingle mask — one shuffle keyed on the
    shingle, and because bit_or is idempotent the map-side combiner
    absorbs duplicate (source, shingle) rows BEFORE the exchange, so no
    distinct pass exists at all. The per-shingle masks then collapse to
    (mask, count) — thousands of rows — and the ≤ C(|sources|, 2) pair
    expansion runs row-locally over that collapsed table. Replaces the
    old plan's three wide exchanges (distinct + two join sides) with one;
    stop-word-grade shingle skew now hits only a commutative bit_or
    (AQE-splittable), not a join fan-out. Honest measurement: x10 wall is
    NEUTRAL (10.2 -> 10.5 s, host noise) — profiling shows the wall is
    the shingle-string explode (3.5 s) plus the string-keyed aggregation
    (+3.5 s), paid identically by both forms; the rewrite's win is the
    removed self-join fan-out, which matters exactly when a shingle is
    shared by MANY sources (the skew case the old plan's docstring
    flagged), not on this uniform synthetic corpus. Bit width bounds
    |sources| <= 64 — the audit's realistic regime; beyond that, batch
    the source ids (documented).

    r9: the shingle key is xxhash64 over the 5 token columns (same move
    as dup_ngram_frac/decontaminate) — the explode emits int64s, never a
    concatenated string, and the one exchange carries 8-byte keys. The
    string-keyed oracle is unchanged: outputs are per-source-pair COUNTS,
    identical modulo 64-bit collisions."""
    docs = load_table(spark, sf_dir, "documents")
    # r13 wave 2: the dense source-id assignment is a LITERAL map from a
    # bounded driver collect (the ingest-source label set is pipeline
    # config, single-digit cardinality, and hard-bounded at 64 by the
    # bitmask width this query already declares — asserted loudly). The
    # old plan evaluated the distinct+row_number subtree once per
    # broadcast consumer (bit join + two name join-backs = 3x) and put
    # the only single-partition window in the query here; now the source
    # -> bit and sid -> name mappings are plan literals, the name
    # join-backs are element_at lookups, and the window is gone entirely
    # (this query leaves the window-audit allowlist). sid order is
    # identical to the row_number it replaces: rank in the sorted
    # distinct-source list.
    srcs = sorted(r[0] for r in docs.select("source").distinct().collect())
    if len(srcs) > 64:
        raise ValueError(
            f"source_overlap_matrix: {len(srcs)} sources > 64-bit mask — "
            "batch the source ids (docstring) before using this query"
        )
    bit_map = F.create_map(*[
        x for i, s in enumerate(srcs)
        for x in (F.lit(s), F.lit(1 << i).cast("bigint"))
    ])
    # r11 (VERDICT r10 task 8): the source->bit mapping sits ABOVE the
    # explode, so it maps |docs| rows instead of |shingles| (~120x fewer
    # at this corpus's mean doc length). At 100 TB the saved probe is
    # billions of rows per scan.
    toks = (
        docs.select(
            bit_map[F.col("source")].alias("bit"),
            F.split("text", " ").alias("w"),
        )
        .filter(F.size("w") >= 5)
    )
    sh = toks.select(
        "bit",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 4),"
                " i -> xxhash64(element_at(w, i), element_at(w, i + 1),"
                " element_at(w, i + 2), element_at(w, i + 3),"
                " element_at(w, i + 4)))"
            )
        ).alias("h"),
    )
    masks = (
        sh.groupBy("h")
        .agg(F.expr("bit_or(bit)").alias("mask"))
        .groupBy("mask")
        .agg(F.count("*").alias("n_sh"))
    )
    pair_expr = (
        "flatten(transform(bits, (x, i) -> "
        "transform(slice(bits, i + 2, size(bits)), "
        "y -> named_struct('i', x, 'j', y))))"
    )
    pairs = (
        masks.select(
            F.expr(
                "filter(sequence(0, 63), b -> ((mask >> b) & 1) = 1)"
            ).alias("bits"),
            "n_sh",
        )
        .select(F.explode(F.expr(pair_expr)).alias("p"), "n_sh")
        .groupBy(F.col("p.i").alias("sid_a"), F.col("p.j").alias("sid_b"))
        .agg(F.sum("n_sh").alias("n_shared"))
    )
    names = F.array(*[F.lit(s) for s in srcs])
    return pairs.select(
        F.element_at(names, F.col("sid_a") + 1).alias("src_a"),
        F.element_at(names, F.col("sid_b") + 1).alias("src_b"),
        "n_shared",
    )


def q_customer_order_gap_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder cadence: per customer, the EXACT median gap in days between
    consecutive orders (lower median as an order statistic — same
    engine-proof form as q_quantity_quartiles), for customers with >= 3
    gaps. Both windows (the consecutive-order lag and the gap rank) hash
    on o_custkey, so the whole query is one exchange."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        "o_orderkey",
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("od"),
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    gaps = (
        o.withColumn("prev", F.lag("od").over(w))
        .filter(F.col("prev").isNotNull())
        .select("o_custkey", (F.col("od") - F.col("prev")).alias("gap_days"))
    )
    wg = Window.partitionBy("o_custkey").orderBy("gap_days")
    wn = Window.partitionBy("o_custkey")
    ranked = gaps.select(
        "o_custkey",
        "gap_days",
        F.row_number().over(wg).alias("rn"),
        F.count("*").over(wn).alias("m"),
    )
    return (
        ranked.groupBy("o_custkey")
        .agg(
            F.max("m").alias("n_gaps"),
            F.max(
                F.when(F.col("rn") == F.expr("(m + 1) div 2"), F.col("gap_days"))
            ).alias("median_gap_days"),
        )
        .filter(F.col("n_gaps") >= 3)
    )


# ---------------------------------------------------------------------------
# Interval-overlap concurrency (sweep line), exact integer apportionment
# (largest remainder), weighted-median selection (cumulative threshold),
# growth-in-integer-bp and mix-share division — all in integer-deterministic
# arithmetic (counts, cent-scaled revenue, basis-point ratios with
# positive-operand integer division) so the driver's type-sensitive value hash
# replays on any engine.
# ---------------------------------------------------------------------------


def q_nation_yoy_order_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year order-count growth per nation, in basis points via
    positive-operand integer division ((cnt*10000) div prev - 10000 —
    trunc == floor when both operands are positive, so Spark's `div` and
    DuckDB's `//` agree). customer->nation is a broadcast dim join; the
    (nation, year) rollup is tiny, and the lag window runs on it, never on
    the fact table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    yearly = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(F.count("*").alias("orders_cnt"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    return yearly.select(
        "n_name", "yr", "orders_cnt",
        (
            (F.col("orders_cnt") * F.lit(10000))
            .cast("bigint")
            .alias("_num")
        ),
        F.lag("orders_cnt").over(w).alias("_prev"),
    ).select(
        "n_name", "yr", "orders_cnt",
        F.expr("_num div _prev - 10000").alias("growth_bp"),
    )


def _sweep_peak(rows: list) -> list:
    """Scalar-side sweep over a (segment, day, net-delta) census: cumulate
    the per-day net into a running open count per segment (days ascending)
    and return (segment, first day attaining the max, max) per segment,
    segments sorted. The strictly-greater update keeps the FIRST peak day —
    exactly the min(day)-where-open==peak semantics of the windowed form
    this replaces (brute-force-tested in tests/test_ranking.py)."""
    by_seg: dict = {}
    for seg, day, net in rows:
        by_seg.setdefault(seg, []).append((day, net))
    out = []
    for seg in sorted(by_seg):
        cum = 0
        peak = None
        first_day = None
        for day, net in sorted(by_seg[seg]):
            cum += net
            if peak is None or cum > peak:
                peak = cum
                first_day = day
        out.append((seg, first_day, peak))
    return out


def q_order_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-open orders per market segment, via a
    sweep line: each order contributes +1 at its open day and -1 the day
    after its last ship date, per-day net deltas cumulate into a running
    open-order count, and the peak plus its FIRST attainment day come off
    the tiny per-segment day series. The interval-overlap shape no other
    registered query exercises — counting concurrency without expanding
    order×day rows (an order open 80 days costs 2 events, not 80). All
    integer (day numbers via unix_micros div 86400000000 on both engines).

    r13 wave 5 (guide §2.4 + §8): the old unionByName event build
    re-evaluated the whole spans subtree per branch — the lineitem close
    rollup and both joins ran TWICE (plans/r13/
    order_concurrency_peak_before_w5.txt). Now one spans pass emits both
    events row-locally via explode(array(+1@open, −1@close+1)), and the
    (segment, day) net census — bounded by |segments|×|calendar days|×2
    (≲ 26 K rows at ANY scale factor, the written-bound collect class:
    cusum/theilsen device) — folds scalar-side in _sweep_peak, replacing
    the running-sum and peak windows. Interleaved ×10 A/B
    (tools/ab_w5_result.json, min over 2 rounds of min-of-3, wall ranges
    disjoint): 2.79 → 2.17 s. Hash-green vs the unchanged oracle at
    sf0.001/0.01/0.1."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    close = li.groupBy("l_orderkey").agg(
        F.max(F.expr("unix_micros(l_shipdate) div 86400000000"))
        .alias("close_day")
    )
    spans = (
        o.select(
            "o_orderkey", "o_custkey",
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("open_day"),
        )
        .join(close, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_mktsegment", "open_day", "close_day")
    )
    events = spans.select(
        "c_mktsegment",
        F.explode(
            F.array(
                F.struct(
                    F.col("open_day").alias("day"), F.lit(1).alias("delta")
                ),
                F.struct(
                    (F.col("close_day") + 1).alias("day"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("e"),
    ).select("c_mktsegment", "e.day", "e.delta")
    daily = events.groupBy("c_mktsegment", "day").agg(
        F.sum("delta").alias("net")
    )
    rows = [(r["c_mktsegment"], r["day"], r["net"]) for r in daily.collect()]
    assert len(rows) < 500_000, "segment×day census bound blown"
    return _literal_frame(
        spark,
        _sweep_peak(rows),
        "c_mktsegment string, first_peak_day bigint, peak_open bigint",
    )


def q_nation_seat_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) apportionment: 10000 'seats' allocated
    to nations proportionally to order count — floor quotas by
    positive-operand integer division, then the leftover seats go to the
    largest remainders (ties broken by name, a total order both engines
    replay). Exercises exact integer proration — an allocation algorithm,
    not another rollup: sum(seats) is EXACTLY 10000 by construction, which
    no rounding-based share query guarantees. The fact table collapses to
    25 rows before any window; both whole-table windows run on that."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cnt = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("orders_cnt"))
    )
    w_all = Window.partitionBy()
    quotas = cnt.select(
        "n_name",
        "orders_cnt",
        F.expr("orders_cnt * 10000").alias("num"),
        F.sum("orders_cnt").over(w_all).alias("total"),
    ).select(
        "n_name",
        "orders_cnt",
        F.expr("num div total").alias("floor_seats"),
        F.expr("num % total").alias("rem"),
    )
    ranked = quotas.select(
        "n_name",
        "orders_cnt",
        "floor_seats",
        F.sum("floor_seats").over(w_all).alias("base_total"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "n_name"))
        .alias("rk"),
    )
    return ranked.select(
        "n_name",
        "orders_cnt",
        (
            F.col("floor_seats")
            + F.when(F.col("rk") <= F.lit(10000) - F.col("base_total"), 1)
            .otherwise(0)
        ).alias("seats"),
    )


def q_event_type_daily_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event-type mix in basis points: share_bp = cnt*10000 div
    day_total (positive integer division — engine-exact). One (day, type)
    rollup; the day total rides a window over that tiny rollup, not a
    second pass over events."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("day")
    return per.select(
        "day", "event_type", "cnt",
        F.expr("cnt * 10000 div sum(cnt) over (partition by day)")
        .alias("share_bp"),
    )


def q_repeat_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-buyer rate per nation: customers with >=2 orders over all
    customers WITH orders, in basis points (integer division, positive
    operands). Orders collapse to per-customer counts first (one custkey
    shuffle); nation is a broadcast dim."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    return (
        per_cust.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_buyers"),
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
            .alias("n_repeat"),
        )
        .select(
            "n_name", "n_buyers", "n_repeat",
            F.expr("n_repeat * 10000 div n_buyers").alias("repeat_bp"),
        )
    )


def q_brand_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted LOWER median line price per brand: the smallest
    price (in cents, floor(double*100) — a verified engine-exact
    primitive) whose cumulative quantity reaches half the brand's total.
    The weighted-median shape — cumulative-threshold selection over an
    ordered distribution — is not covered by the quantile/ntile queries
    (they weight rows equally). Rows collapse to (brand, price) with
    summed quantity first, so the cumulative window is over the collapsed
    distribution and needs no row-level tiebreak: cum_qty(p) = total
    quantity at prices <= p is well-defined on both engines. One fact
    shuffle (brand+price rollup); part is a broadcast dim."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_price = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            "p_brand",
            F.floor(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("price_c"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
    )
    w_cum = (
        Window.partitionBy("p_brand")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_brand = Window.partitionBy("p_brand")
    cum = per_price.select(
        "p_brand",
        "price_c",
        F.sum("qty").over(w_cum).alias("cum_qty"),
        F.sum("qty").over(w_brand).alias("tot_qty"),
    )
    return (
        cum.filter(F.lit(2) * F.col("cum_qty") >= F.col("tot_qty"))
        .groupBy("p_brand")
        .agg(
            F.min("price_c").alias("wmedian_price_c"),
            F.max("tot_qty").alias("total_qty"),
        )
    )


def q_customer_streak_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: census of each customer's LONGEST run of
    consecutive calendar months with >= 1 order — the classic islands
    trick (month_no minus a per-customer row_number is constant within a
    consecutive run), a window shape none of the session/funnel queries
    cover (they group by time gap, not calendar adjacency). Orders
    collapse to distinct (customer, month) first, every later stage runs
    on that collapsed table, and all three windows/aggregations hash on
    o_custkey — ONE exchange, reused: the dedup runs as
    repartition(custkey) + dropDuplicates, whose HashPartitioning(custkey)
    already satisfies the window and both rollups (a plain .distinct()
    would partition on (custkey, mno) and force a second exchange;
    measured 2.46 -> 2.09 s at x10, identical output). Integer-exact
    throughout."""
    orders = load_table(spark, sf_dir, "orders")
    months = (
        orders.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mno"),
        )
        .repartition(F.col("o_custkey"))
        .dropDuplicates(["o_custkey", "mno"])
    )
    w_rn = Window.partitionBy("o_custkey").orderBy("mno")
    runs = (
        months.select(
            "o_custkey",
            (F.col("mno") - F.row_number().over(w_rn)).alias("grp"),
        )
        .groupBy("o_custkey", "grp")
        .agg(F.count("*").alias("run_len"))
    )
    longest = runs.groupBy("o_custkey").agg(F.max("run_len").alias("streak"))
    return (
        longest.groupBy(F.col("streak").cast("bigint").alias("streak_months"))
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )


def q_brand_price_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of line price per brand — the robust
    dispersion statistic (median of |x - median(x)|), exact in integer
    cents as a DOUBLE order statistic: lower median at position
    (n+1) div 2 both times. Scale shape: prices collapse to a
    (brand, price_c, cnt) distribution FIRST, so both median selections
    are cumulative-threshold scans over the collapsed table (the
    brand_weighted_median trick applied twice) — never a row-level window
    over the fact table, which would concentrate 6M rows into
    |brands| = 25 window partitions. The medians table is 25 rows and
    broadcasts back for the deviation pass.

    r10 exchange collapse (VERDICT r9 task 2: 7 exchanges and a
    twice-evaluated fact subtree): ONE explicit repartition(p_brand)
    right after the collapsed distribution becomes the shared reuse
    point — the median scan, the deviation rollup, the MAD scan and the
    final join all consume HashPartitioning(p_brand) (subset-of-keys
    satisfies the (brand, d) aggregate), so the plan is two exchanges
    total and the fact join+agg runs exactly once (ReusedExchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_price = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            "p_brand",
            F.floor(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("price_c"),
        )
        .agg(F.count("*").alias("cnt"))
        .repartition("p_brand")
    )

    def lower_median(dist: DataFrame, val: str, out: str,
                     carry: tuple = ()) -> DataFrame:
        w_cum = (
            Window.partitionBy("p_brand")
            .orderBy(val)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_tot = Window.partitionBy("p_brand")
        cum = dist.select(
            "p_brand",
            *carry,
            F.col(val),
            F.sum("cnt").over(w_cum).alias("cum_cnt"),
            F.sum("cnt").over(w_tot).alias("tot"),
        )
        return (
            cum.filter(F.col("cum_cnt") >= F.expr("(tot + 1) div 2"))
            .groupBy("p_brand", *carry)
            .agg(F.min(val).alias(out))
        )

    med = lower_median(per_price, "price_c", "median_price_c")
    # median_price_c rides THROUGH the deviation rollup as a grouping key
    # (functionally dependent on brand, so the groups are unchanged): the
    # MAD branch then emits the final row directly — no med-mad join and
    # no second evaluation of the median subtree (A/B at x10, identical
    # 25-row output: 4.74 s -> 3.69 s min-of-2).
    devs = (
        per_price.join(F.broadcast(med), "p_brand")
        .groupBy(
            "p_brand",
            "median_price_c",
            F.abs(F.col("price_c") - F.col("median_price_c")).alias("d"),
        )
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = lower_median(devs, "d", "mad_c", carry=("median_price_c",))
    return mad.select("p_brand", "median_price_c", "mad_c")


# ---------------------------------------------------------------------------
# Rank-transition matrices (decile migration across periods), first-occurrence
# census with running cumulative, generated calendar-spine anti-joins
# (zero-activity gap detection), second-order lag census (trend of interarrival
# deltas), and nested argmax (per-group champion then global ranking of
# champions) — all integer-deterministic (counts, cent-scaled revenue,
# epoch-second gaps, ntile/row_number/dense_rank over unique total orders) so
# the driver's type-sensitive value hash replays on any engine.
# ---------------------------------------------------------------------------


def q_clv_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-decile TRANSITION MATRIX between the corpus's first two
    order years: each customer's ntile(10) decile within year y0 and
    within y0+1 (both over the unique (revenue desc, custkey) total
    order), then the (from, to) census — the churn/upsell migration table
    a CRM rollup runs. The yearly rollup is |customers|-sized, so a
    partitionBy(yr) ntile would force each year's WHOLE customer set
    through one task (2-value partitioning = the unpartitioned-window
    inversion, VERDICT r9 #5, wearing a costume); instead each year's
    decile is the TWO-PHASE distributed ntile (operators/ranking.py) on
    its filtered half. The only fact-table pass is the first aggregate."""
    from numaflow_spark.operators.ranking import add_grouped_global_ntile

    orders = load_table(spark, sf_dir, "orders")
    per = (
        orders.select(
            "o_custkey",
            F.year("o_orderdate").alias("yr"),
            _cents(F.col("o_totalprice").cast(DEC)).alias("p_c"),
        )
        .groupBy("o_custkey", "yr")
        .agg(F.sum("p_c").alias("rev_c"))
    )
    # First corpus year straight off the (pruned) fact scan — identical to
    # min(yr) over the rollup, without re-rolling the rollup inside the
    # broadcast subquery.
    y0 = orders.agg(F.min(F.year("o_orderdate")).alias("y0"))
    per = per.crossJoin(F.broadcast(y0)).filter(
        (F.col("yr") == F.col("y0")) | (F.col("yr") == F.col("y0") + 1)
    )
    # One materialization of the two-year rollup; both year halves (and
    # their stats/local/counts branches and row counts) re-read the
    # checkpoint instead of re-aggregating the fact table per branch
    # (VERDICT r10 #3: the per-op eager cut ran the rollup twice). Lazy
    # cut (r13): the grouped ntile's per-group stats pull materializes
    # the rollup inside its own job — no separate checkpoint job.
    per = materialize(per, eager=False)
    # BOTH years' deciles in one grouped two-phase pass (r12: the per-year
    # add_global_rank pair cost 26 sf0.1 jobs; one window over (yr, bucket)
    # + one counts pass costs ~8) — group domain is exactly 2 years.
    deciled = add_grouped_global_ntile(
        per, "yr", [F.col("rev_c").desc(), F.col("o_custkey")], "decile",
        10, primary="rev_c", descending=True, materialize=False,
    )
    # (from, to) census in ONE pass over the deciled stream (r13 wave 7,
    # guide §2.4): the former a ⋈ b self-join on o_custkey evaluated the
    # whole rank-attach pipeline once per branch and paid the join's
    # exchanges. Each customer has ≤ 1 row per year (the rollup is keyed
    # (cust, yr)), so max(when(yr = …)) IS that year's decile and the
    # both-non-null filter IS the inner join. Interleaved ×10 A/B
    # (tools/ab_w7_result.json): wins all 3 rounds, min 2.19 vs 2.73 s;
    # sf0.1 probe 2.87 → 1.36 s.
    pair = deciled.groupBy("o_custkey").agg(
        F.max(F.when(F.col("yr") == F.col("y0"), F.col("decile"))).alias(
            "decile_from"
        ),
        F.max(F.when(F.col("yr") == F.col("y0") + 1, F.col("decile"))).alias(
            "decile_to"
        ),
    )
    return (
        pair.filter(
            F.col("decile_from").isNotNull() & F.col("decile_to").isNotNull()
        )
        .groupBy("decile_from", "decile_to")
        .agg(F.count("*").alias("n_customers"))
    )


def q_new_parts_monthly_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-growth census: for every ship month, how many parts shipped
    for the FIRST time, and the running cumulative distinct-part count —
    the first-occurrence + running-total shape (new-vocabulary curves on
    a training corpus are this exact query). One fact-table aggregate
    (min month per part), then all windowing runs on the month-sized
    rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    firsts = (
        li.select(
            "l_partkey",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("mk"),
        )
        .groupBy("l_partkey")
        .agg(F.min("mk").alias("first_mk"))
    )
    census = firsts.groupBy(F.col("first_mk").alias("month_key")).agg(
        F.count("*").alias("n_new_parts")
    )
    w = Window.orderBy("month_key").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return census.withColumn(
        "cum_parts", F.sum("n_new_parts").over(w)
    ).select("month_key", "n_new_parts", "cum_parts")


def q_nation_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-activity gap detection against a GENERATED calendar spine:
    months (global min..max order month) with no order from any customer
    of a nation, for nations that ordered at least once. The spine is
    nations x months built from one broadcast min/max row + sequence() —
    no calendar table exists anywhere in the data. Anti-join against the
    observed (nation, month) pairs; output nations WITH gaps, their gap
    count and first gap month. Spine cardinality is |nations| x |months|
    (tiny at any corpus scale); the fact table is touched once."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    # month serial k = year*12 + (month-1): sequence arithmetic stays exact
    ok = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("k"),
    )
    observed = (
        ok.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                ok.o_custkey == cust.c_custkey)
        .select("c_nationkey", "k")
        .distinct()
    )
    bounds = ok.agg(F.min("k").alias("k0"), F.max("k").alias("k1"))
    nations = observed.select("c_nationkey").distinct()
    spine = (
        nations.crossJoin(F.broadcast(bounds))
        .select(
            "c_nationkey",
            F.explode(F.sequence(F.col("k0"), F.col("k1"))).alias("k"),
        )
    )
    gaps = spine.join(observed, ["c_nationkey", "k"], "left_anti")
    return (
        gaps.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_gap_months"),
            F.min("k").alias("first_gap_k"),
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .select(
            "n_name",
            "n_gap_months",
            ((F.col("first_gap_k") / 12).cast("int") * 100
             + (F.col("first_gap_k") % 12 + 1)).alias("first_gap_month"),
        )
    )


def q_gap_trend_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order interarrival analysis: per customer, consecutive
    order gaps (epoch seconds, exact integers) and the census of whether
    each gap GREW, SHRANK, or held vs the previous gap — the
    accelerating/decelerating-customer signal. Shape: a lag over a
    lag-derived column, both on ONE (customer) partitioning/sort — the
    second window adds no exchange. Global output: 3 rows (trend in
    {-1, 0, 1}, customers-distinct count, transition count)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ts = F.unix_timestamp("o_orderdate")
    gaps = orders.select(
        "o_custkey",
        (ts - F.lag(ts).over(w)).alias("gap_s"),
        F.col("o_orderdate"),
        F.col("o_orderkey"),
    ).filter(F.col("gap_s").isNotNull())
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    deltas = gaps.select(
        "o_custkey",
        (F.col("gap_s") - F.lag("gap_s").over(w2)).alias("d"),
    ).filter(F.col("d").isNotNull())
    return (
        deltas.select(
            "o_custkey", F.signum("d").cast("int").alias("trend")
        )
        .groupBy("trend")
        .agg(
            F.count("*").alias("n_transitions"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


def q_nation_top_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested argmax: each nation's top supplier by line-item revenue
    (row_number over (rev desc, suppkey) — deterministic champion), then
    a dense_rank of NATIONS by their champion's revenue — the
    champion-of-champions leaderboard shape. The per-supplier aggregate
    is the only fact-table pass; both windows run on supplier/nation-
    sized rollups; dims ride broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    rev = li.groupBy("l_suppkey").agg(
        _cents(F.sum(revenue), 10000).alias("rev_c4")
    )
    enriched = rev.join(
        F.broadcast(sup.select("s_suppkey", "s_name", "s_nationkey")),
        rev.l_suppkey == sup.s_suppkey,
    )
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("rev_c4").desc(), "s_suppkey"
    )
    champs = enriched.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    wr = Window.orderBy(F.col("rev_c4").desc(), F.col("n_name"))
    return (
        champs.join(
            F.broadcast(nat), champs.s_nationkey == nat.n_nationkey
        )
        .select("n_name", F.col("s_name").alias("top_supplier"), "rev_c4")
        .withColumn("nation_rank", F.dense_rank().over(wr).cast("int"))
    )


def q_unresolved_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range ANTI join: error events with NO purchase by the same user
    within the following hour — the unresolved-incident / abandoned-
    recovery shape. The join is an equi anti join on user_id with the
    time band riding the join condition (never a cartesian: the equi key
    drives the physical strategy, the range is a residual predicate);
    output is per-user unresolved counts + first unresolved instant in
    exact epoch seconds."""
    events = load_table(spark, sf_dir, "events")
    err = events.filter(F.col("event_type") == "error").select(
        "user_id", F.unix_timestamp("ts").alias("et")
    )
    pur = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.unix_timestamp("ts").alias("pt")
    )
    unresolved = err.join(
        pur,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pt") > F.col("et"))
        & (F.col("pt") <= F.col("et") + 3600),
        "left_anti",
    )
    return unresolved.groupBy("user_id").agg(
        F.count("*").alias("n_unresolved"),
        F.min("et").alias("first_unresolved_s"),
    )


def q_lang_topk_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-head-plus-OTHER rollup: per ingest source, the top-2
    languages by document count (deterministic (count desc, lang) order)
    as ranked rows, and every remaining language collapsed into one
    'OTHER' row per source — the report shape that keeps dashboards
    bounded no matter the tail cardinality. One fact aggregate; the rank
    and the head/tail split run on the (source, lang)-sized rollup."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_docs").desc(), F.col("lang")
    )
    ranked = counts.withColumn("rk", F.row_number().over(w))
    head = ranked.filter(F.col("rk") <= 2).select(
        "source", F.col("lang").alias("lang_or_other"), "n_docs",
        F.col("rk").cast("int").alias("rank"),
    )
    other = (
        ranked.filter(F.col("rk") > 2)
        .groupBy("source")
        .agg(F.sum("n_docs").cast("bigint").alias("n_docs"))
        .select(
            "source", F.lit("OTHER").alias("lang_or_other"), "n_docs",
            F.lit(3).cast("int").alias("rank"),
        )
    )
    return head.unionByName(other)


def q_winsorized_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized revenue per order priority: clamp each order's price to
    the group's [p10, p90] order statistics (lower-kth by rank — exact,
    interpolation-free) and report the clamped SUM alongside the raw sum
    — the outlier-robust aggregate shape, all in integer cents with no
    division anywhere. Both rank windows and the clamp share ONE
    priority partitioning."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        _cents(F.col("o_totalprice").cast(DEC)).alias("price_c"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy("price_c", "o_orderkey")
    wc = Window.partitionBy("o_orderpriority")
    ranked = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wc)
    )
    # lower-kth thresholds: k10 = max(1, (n*10) div 100), k90 = (n*90) div 100
    lo_rank = F.greatest(F.lit(1), F.expr("(n * 10) div 100"))
    hi_rank = F.greatest(F.lit(1), F.expr("(n * 90) div 100"))
    marks = ranked.select(
        "o_orderpriority", "price_c", "rn",
        F.when(F.col("rn") == lo_rank, F.col("price_c")).alias("lo_v"),
        F.when(F.col("rn") == hi_rank, F.col("price_c")).alias("hi_v"),
    )
    bounds = marks.groupBy("o_orderpriority").agg(
        F.min("lo_v").alias("p10_c"), F.min("hi_v").alias("p90_c")
    )
    clamped = ranked.join(F.broadcast(bounds), "o_orderpriority").select(
        "o_orderpriority", "price_c",
        F.greatest(F.col("p10_c"), F.least(F.col("p90_c"), F.col("price_c"))).alias("w_c"),
    )
    return clamped.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("price_c").cast("bigint").alias("sum_raw_c"),
        F.sum("w_c").cast("bigint").alias("sum_winsorized_c"),
    )


# ---------------------------------------------------------------------------
# Statistical shapes — digit-law census, exact-moment correlation/regression,
# two-sample Kolmogorov-Smirnov distance, Kaplan-Meier risk table,
# autocorrelation function, CUSUM change-point — none overlapping the existing
# deciles / census / matrix / funnel / quantile families. All outputs are exact
# integers or doubles derived by a single IEEE op chain from identical exact
# integer moments in both engines (the promo_pct precedent), so the driver hash
# compare is deterministic. Reference parity: these extend the analytic query
# surface (SURVEY §2.8) the engine layers over the reference's map/reduce
# contract.
# ---------------------------------------------------------------------------


def q_benford_digit_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit census of order totals (Benford's-law audit shape):
    for each first significant digit 1-9 of o_totalprice, the order count
    and its exact share in ppm (integer div — no float distribution sums).
    One scan + a 9-row partial agg + one broadcast total: the plan is a
    map-side census at any scale; nothing shuffles more than 9 rows past
    the partial agg. Fraud/ETL-drift screens run exactly this shape over
    ledgers at 100 TB."""
    o = load_table(spark, sf_dir, "orders").select(
        _cents(F.col("o_totalprice").cast(DEC)).alias("price_c")
    )
    census = (
        o.select(
            F.substring(F.col("price_c").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    total = census.agg(F.sum("n").alias("n_total"))
    return census.crossJoin(F.broadcast(total)).select(
        "digit", "n", F.expr("n * 1000000 div n_total").alias("obs_ppm")
    )


def q_brand_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pearson correlation AND least-squares slope of line-item
    quantity vs extended price, computed from EXACT integer moments
    (cents-scaled bigint x/y; sum x**2 et al. in DECIMAL(38,0)) so both
    engines derive the same doubles from the same integers — never from
    order-dependent float accumulation (DuckDB's corr() would not hash-
    match Spark's). One broadcast dim join + one 25-group partial agg;
    the moments pattern is the scale path for any distributed covariance/
    regression at 100 TB (map-side combine reduces everything to 6 numbers
    per group). Overflow audit: x<=5e3, y<=2e7 cents; n*syy at SF1k ~ 6e9
    * (6e9*4e14) -> exceeds 38 digits only past ~SF10k; variance terms are
    cast to DOUBLE before the final product to keep the denominator in
    IEEE range.

    r14 (guide §2.3 narrower types, verdict #5 weak-list item): the
    per-row moment products run in BIGINT — x*x <= 2.5e7, y*y <= 4e14,
    x*y <= 1e11, all per-row bounds that hold at ANY scale factor, far
    inside int64 — and only the SUM accumulates in DECIMAL(38,0) (the
    accumulator is what overflows int64, the row products never do). Same
    integers; one 64-bit multiply replaces an Int128 multiply per row.
    Measured small at x10 (~0.93 -> ~0.89 s warm on the moment aggregate,
    inside the host band — the honest claim is "strictly fewer decimal
    ops, never slower", not a headline number)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        "p_brand",
        _cents(F.col("l_quantity").cast(DEC)).alias("x"),
        _cents(F.col("l_extendedprice").cast(DEC)).alias("y"),
    )
    m = j.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(38,0))")).alias("sxx"),
        F.sum(F.expr("CAST(y * y AS DECIMAL(38,0))")).alias("syy"),
        F.sum(F.expr("CAST(x * y AS DECIMAL(38,0))")).alias("sxy"),
    )
    num = "(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)"
    vx = "(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
    vy = "(CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy)"
    return m.select(
        "p_brand",
        "n",
        F.expr(
            f"round(CAST({num} AS DOUBLE) / "
            f"sqrt(CAST({vx} AS DOUBLE) * CAST({vy} AS DOUBLE)), 6)"
        ).alias("corr_qty_price"),
        F.expr(
            f"round(CAST({num} AS DOUBLE) / CAST({vx} AS DOUBLE), 6)"
        ).alias("slope_c_per_qty"),
    )


def q_ks_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the order-total
    distributions of 1-URGENT vs 5-LOW orders, in EXACT integer terms:
    per distinct price the two sample counts, both ECDFs as global running
    sums (two-phase — operators/ranking.py, no single-partition sort), and
    D = max|cum1*n2 - cum2*n1| with ks_ppm = D*1e6 div (n1*n2). The
    distribution-shift gate a training-data pipeline runs between corpus
    snapshots, expressed with zero float comparisons. Scale: the grouped
    price table is ~|distinct prices| rows; both ECDFs come from ONE
    two-phase pass (add_global_running_sums — shared bucketing, one local
    window, one triangle; VERDICT r11 #2 halved this query's job count).
    Overflow audit: cum*n products reach n1*n2 ~ (SF*750k)^2/4 — past
    int64 near SF10 — and ks_num*1e6 likewise, so BOTH the D comparison
    and the ppm run in DECIMAL(38,0) while the stored columns stay bigint
    (exact; DuckDB's HUGEINT twin matches bit-for-bit)."""
    from numaflow_spark.operators.ranking import add_global_running_sums

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    per = (
        o.select(
            _cents(F.col("o_totalprice").cast(DEC)).alias("price_c"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("is_a"),
        )
        .groupBy("price_c")
        .agg(
            F.sum("is_a").alias("c1"),
            F.sum(F.expr("1 - is_a")).alias("c2"),
        )
    )
    # r13 wave 2: lazy census cut (the running-sum op's bounded sums pull
    # materializes the rollup inside its own job) + totals stamped by the
    # op from the already-collected per-bucket sums — the separate
    # sum(c1)/sum(c2) aggregate + crossJoin broadcast job is gone; n1/n2
    # are the identical exact bigint folds of the same per-bucket values.
    per = materialize(per, eager=False)
    per = add_global_running_sums(
        per, [F.col("price_c")], ["c1", "c2"], ["cum1", "cum2"],
        primary="price_c", materialize=False, totals_cols=["n1", "n2"],
    )
    dec = "DECIMAL(38,0)"
    d = per.select(
        F.expr(
            f"abs(CAST(cum1 AS {dec}) * n2 - CAST(cum2 AS {dec}) * n1)"
        ).alias("dnum"),
        "n1", "n2",
    )
    return (
        d.groupBy("n1", "n2")
        .agg(F.max("dnum").cast("bigint").alias("ks_num"))
        .select(
            "n1", "n2", "ks_num",
            F.expr(
                f"CAST(CAST(ks_num AS {dec}) * 1000000 div "
                f"(CAST(n1 AS {dec}) * n2) AS BIGINT)"
            ).alias("ks_ppm"),
        )
    )


def q_survival_km_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk table of customer inter-order gaps: per week
    bucket (gap div 7 days, capped at 52) the event count d_i, the risk
    set n_i = sum of events at >= that bucket, and the exact hazard in ppm
    (d_i*1e6 div n_i) — the survival/churn primitive, integer-exact (the
    S(t) product is a trivial client-side fold of these rows). The risk
    set's reverse cumulative sum is a BROADCAST TRIANGLE SELF-JOIN over
    the <=53-row bucket census (53^2 rows), deliberately not a window —
    zero single-partition sorts, same device as ranking.py's exclusive
    prefix. Heavy lifting (per-customer lag) hashes on o_custkey."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").alias("d"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = o.withColumn("prev", F.lag("d").over(w)).filter(
        F.col("prev").isNotNull()
    )
    d_per = (
        gaps.select(
            F.least(F.lit(52), F.expr("datediff(d, prev) div 7"))
            .cast("bigint")
            .alias("wk")
        )
        .groupBy("wk")
        .agg(F.count("*").alias("d_i"))
    )
    a, b = d_per.alias("a"), d_per.alias("b")
    r = (
        a.join(F.broadcast(b), F.expr("b.wk >= a.wk"))
        .groupBy(F.col("a.wk").alias("wk"), F.col("a.d_i").alias("d_i"))
        .agg(F.sum("b.d_i").cast("bigint").alias("n_at_risk"))
    )
    return r.select(
        "wk", "n_at_risk", "d_i",
        F.expr("d_i * 1000000 div n_at_risk").alias("hazard_ppm"),
    )


def q_daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily order revenue at lags 1-7 days,
    from exact integer moments over the (day, day-lag) self-join — the
    seasonality detector behind scheduling/forecast pipelines. The daily
    rollup is one partial agg (map-side combine) collapsing the fact table
    to ~|days| rows; the 7 lags explode via a broadcast 7-row table and
    self-join on day index (tiny hash join). Moments in DECIMAL(38,0)
    (day revenue ~ 4e8 cents at SF1; sum of squares passes int64 at ~2400
    days), final corr = one IEEE chain per lag from identical integers."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("datediff(o_orderdate, DATE '1990-01-01')")
        .cast("bigint")
        .alias("di"),
        _cents(F.col("o_totalprice").cast(DEC)).alias("rc"),
    )
    day = o.groupBy("di").agg(F.sum("rc").alias("rev"))
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    left = day.crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("di") - F.col("lag")).alias("jd"),
        F.col("rev").alias("xv"),
    )
    pairs = left.join(
        day.select(F.col("di").alias("jd"), F.col("rev").alias("yv")), "jd"
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").alias("n_days"),
        F.sum("xv").alias("sx"),
        F.sum("yv").alias("sy"),
        F.sum(F.expr("CAST(xv AS DECIMAL(38,0)) * xv")).alias("sxx"),
        F.sum(F.expr("CAST(yv AS DECIMAL(38,0)) * yv")).alias("syy"),
        F.sum(F.expr("CAST(xv AS DECIMAL(38,0)) * yv")).alias("sxy"),
    )
    num = ("(CAST(n_days AS DECIMAL(38,0)) * sxy"
           " - CAST(sx AS DECIMAL(38,0)) * sy)")
    vx = ("(CAST(n_days AS DECIMAL(38,0)) * sxx"
          " - CAST(sx AS DECIMAL(38,0)) * sx)")
    vy = ("(CAST(n_days AS DECIMAL(38,0)) * syy"
          " - CAST(sy AS DECIMAL(38,0)) * sy)")
    return m.select(
        "lag", "n_days",
        F.expr(
            f"round(CAST({num} AS DOUBLE) / "
            f"sqrt(CAST({vx} AS DOUBLE) * CAST({vy} AS DOUBLE)), 6)"
        ).alias("acf"),
    )


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point over the daily order-count series: with D days
    and T total orders, dev_i = x_i*D - T (exact bigint, = D*(x_i - mean))
    and the change point is the earliest day maximizing |running sum of
    dev| — the classic drift detector, integer-exact end to end. The
    fact table collapses to |days| rows in one partial agg; the running
    sum and earliest-argmax run on the SCALAR side after a bounded
    collect (r13, the theilsen device — |days| is calendar-bounded at
    ANY scale factor), so the series stage is O(days) regardless of SF."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(o_orderdate AS DATE)").alias("day")
    )
    day = o.groupBy("day").agg(F.count("*").alias("x"))
    # r13 (the theilsen device, guide §8): the day census is calendar-
    # bounded (≤ ~2,600 rows at ANY scale factor), so the running
    # deviation sum, max |cum| and earliest-argmax are scalar-side work
    # on a bounded collect — the distributed plan is the one fact-pass
    # rollup. Replaces a 9-job plan (bounded-triangle running sum + max
    # pull + self-join). Integer-exact end to end, as before.
    # Re-certified hash-green vs the unchanged oracle at all three SFs.
    rows = sorted((r["day"], r["x"]) for r in day.collect())
    d = len(rows)
    t = sum(x for _, x in rows)
    cum = 0
    best = -1
    change_day = None
    for dy, x in rows:
        cum += x * d - t
        if abs(cum) > best:
            best = abs(cum)
            change_day = dy
    return spark.range(1).select(
        F.lit(change_day).cast("date").alias("change_day"),
        F.lit(best).cast("bigint").alias("cusum_stat"),
        F.lit(d).cast("bigint").alias("n_days"),
        F.lit(t).cast("bigint").alias("total_orders"),
    )


# ---------------------------------------------------------------------------
# Graph assortativity, higher-moment profiles, A-Priori frequent triples,
# Poisson overdispersion, one-way ANOVA — all exact-integer-moment formulations
# (the statistical shapes' determinism discipline; no pow(), only sqrt/mul/div
# chains identical in both engines).
# ---------------------------------------------------------------------------


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph: the Pearson
    correlation of endpoint degrees over all directed edge instances
    (each undirected edge counted both ways — Newman's r). Positive r =
    hubs buy with hubs (salting strategy must split hub-hub pairs);
    negative = hub-leaf (broadcast the leaf side). Exact integer moments
    over the edge list (degrees are bigints; products in DECIMAL(38,0)),
    one double chain at the end — no float accumulation. Scale: distinct
    edges is one exchange; the degree join hashes on a part-sized table."""
    from numaflow_spark.operators.graph import cooccurrence_pairs

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # DISTINCT edges: cooccurrence_pairs emits one row per order, so the
    # same pair repeats across orders; assortativity is over the graph's
    # edge set, and degree = distinct-neighbor count (matches the oracle)
    pairs = (
        cooccurrence_pairs(li, "l_orderkey", "l_partkey")
        .select("u", "v")
        .distinct()
    )
    # One materialization of the distinct edge set: deg and the s(u) join
    # both read it, and lazily each branch would re-run the full
    # cooccurrence pipeline (explode + self-join) — the same shared-input
    # rule as the ranking inputs. Under AQE, NOT materialize(aqe=False):
    # unlike degree_distribution, the expensive side here is the DISTINCT
    # after the explode (a real shuffle AQE sizes well), and the
    # interleaved x10 A/B (tools/ab_assort_sf1.json) measured no-AQE
    # 10.01 s vs AQE 5.59 s min-of-3 — the no-AQE regime was 1.8x slower
    # for this shape (r12 VERDICT What's-wrong #1).
    pairs = materialize(pairs)
    und = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    # Symmetry collapse (r12): over the both-ways edge set the x and y
    # marginals are identical, so n = Σd, sx = sy = Σd², sxx = syy = Σd³
    # come from the DEGREE TABLE alone — no edge join. Only the cross
    # moment needs the graph (wave-7 form below). All sums are exact
    # integers (DECIMAL(38,0)), so the regrouped summation order cannot
    # perturb the final double chain — bit-identical to the oracle's
    # edge-join form.
    m1 = deg.agg(
        F.sum("d").cast("bigint").alias("n"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0)) * d")).alias("sx"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0)) * d * d")).alias("sxx"),
    )
    # Cross moment without the 2|E|-row join chain (r13 wave 7): over the
    # both-ways edge set, sxy = Σ_directed d(src)·d(dst) = 2·Σ_{u,v ∈ E}
    # d(u)·d(v) — attach d to BOTH endpoints of the DISTINCT pair stream
    # (half the rows of `und`) with two part-keyed equi-joins and fold one
    # aggregate. No broadcast hint: AQE picks broadcast-hash at local sizes
    # (deg is |V| ≤ |part| rows) and falls back to a shuffled join at
    # cluster scale. Replaces und(2|E|) ⋈ deg + groupBy(u) + ⋈ deg (s(u)
    # never materializes). Exact-integer regrouping in DECIMAL(38,0) under
    # commutative adds — bit-identical final double chain. Interleaved ×10
    # A/B (tools/ab_w7_result.json, tmpfs-shuffle regime): min 9.22 vs
    # 9.99 s, 2/3 rounds; sf0.1 jobs 13 → 11.
    du = deg.select(F.col("u").alias("ku"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("kv"), F.col("d").alias("dv"))
    sxy = (
        pairs.join(du, pairs.u == du.ku)
        .join(dv, pairs.v == dv.kv)
        .agg(
            F.sum(F.expr("2 * CAST(du AS DECIMAL(38,0)) * dv")).alias("sxy")
        )
    )
    m = m1.crossJoin(F.broadcast(sxy))
    num = "(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sx)"
    vx = "(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
    return m.select(
        F.col("n").alias("n_directed_edges"),
        F.expr(
            f"round(CAST({num} AS DOUBLE) / "
            f"sqrt(CAST({vx} AS DOUBLE) * CAST({vx} AS DOUBLE)), 6)"
        ).alias("assortativity"),
    )


def q_moment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape profile of line-item quantity per returnflag:
    mean, skewness, and excess kurtosis from EXACT raw moments (S1..S4 in
    DECIMAL(38,0); cents-scaled x <= 5e5 keeps S4 under 38 digits to
    ~SF100). The final doubles use only mul/div/sqrt (m2^1.5 is written
    m2*sqrt(m2) — pow() is not correctly rounded and could diverge across
    libms). One partial agg; 3 output rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _cents(F.col("l_quantity").cast(DEC)).alias("x"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("s2"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x * x")).alias("s3"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x * x * x")).alias("s4"),
    )
    # identical double chain in the oracle: mu, m2..m4 from exact ints
    mu = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    m2 = f"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - {mu} * {mu})"
    m3 = (f"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
          f" - 3.0d * {mu} * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
          f" + 2.0d * {mu} * {mu} * {mu})")
    m4 = (f"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
          f" - 4.0d * {mu} * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
          f" + 6.0d * {mu} * {mu} * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
          f" - 3.0d * {mu} * {mu} * {mu} * {mu})")
    return m.select(
        "l_returnflag",
        F.col("n").alias("n_items"),
        F.expr(f"round({mu}, 6)").alias("mean_qty_c"),
        F.expr(f"round({m3} / ({m2} * sqrt({m2})), 6)").alias("skewness"),
        F.expr(f"round({m4} / ({m2} * {m2}) - 3.0d, 6)").alias(
            "kurtosis_excess"
        ),
    )


def q_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent BRAND 3-itemsets over order baskets (the A-Priori step
    after basket_pairs, lifted to the brand dimension so support is
    meaningful at every scale — raw part-key triples go empty past sf0.01
    on this uniform corpus): distinct sorted brand triples per order via
    a ROW-LOCAL combination explode over the per-order sorted brand array
    (baskets are bounded — no self-join fan-out, the classic
    market-basket scale trap), then one census shuffle keyed on the
    triple; support >= 2. Output is bounded by C(|brands|, 3) = 2300
    regardless of corpus size; at 100 TB the expansion is C(basket, 3)
    per row.

    r12 int-pack rewrite: brands carry through the basket build and the
    combination explode as a lex-order-preserving 7-bit key (d1*11 +
    (d2+1), so 'Brand#1' < 'Brand#10' < 'Brand#2' survives numerically)
    and each triple is ONE int (k1*16384 + k2*128 + k3) instead of a
    3-string named_struct — the collect_set buffers ints not strings,
    the explode allocates no structs, and the census groupBy keys on a
    4-byte int. Brand strings are algebraically decoded only on the
    2300-row census output. Measured min-of-3 same-session, identical
    output: 3.37 -> 2.06 s at sf0.1, 3.15 -> 2.72 s at x10 idle-host."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr(
            "(ascii(substr(p_brand, 7, 1)) - 48) * 11 + "
            "if(length(p_brand) = 8, ascii(substr(p_brand, 8, 1)) - 47, 0)"
        ).alias("b"),
    )
    lb = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select("o", "b")
    baskets = lb.groupBy("o").agg(
        F.array_sort(F.collect_set("b")).alias("a")
    ).filter(F.size("a") >= 3)
    combo = (
        "flatten(flatten(transform(a, (x, i) -> "
        "transform(slice(a, i + 2, size(a)), (y, j) -> "
        "transform(slice(a, i + j + 3, size(a)), z -> "
        "x * 16384 + y * 128 + z)))))"
    )
    t = baskets.select(F.explode(F.expr(combo)).alias("t"))
    cens = t.groupBy("t").agg(F.count("*").alias("support")).filter(
        F.col("support") >= 2
    )

    def _dec(key: str):
        return F.expr(
            f"concat('Brand#', CAST(({key}) div 11 AS STRING), "
            f"if(({key}) % 11 = 0, '', CAST(({key}) % 11 - 1 AS STRING)))"
        )

    return cens.select(
        _dec("t div 16384").alias("p1"),
        _dec("(t div 128) % 128").alias("p2"),
        _dec("t % 128").alias("p3"),
        "support",
    )


def q_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion test per event type: the variance-to-mean
    ratio of per-hour arrival counts (observed (date, hour) buckets only —
    zero-count hours excluded, documented). Dispersion ~1 = Poisson
    arrivals (rate-limit by mean), >1 = bursty (size buffers by the
    ratio). Counts are exact ints; variance is the population form from
    exact S1/S2; one double chain."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy(
        "event_type",
        F.expr("CAST(ts AS DATE)").alias("d"),
        F.hour("ts").alias("h"),
    ).agg(F.count("*").alias("c"))
    m = per.groupBy("event_type").agg(
        F.count("*").alias("n_buckets"),
        F.sum("c").alias("s1"),
        F.sum(F.expr("c * c")).alias("s2"),
    )
    mean = "(CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE))"
    var = f"(CAST(s2 AS DOUBLE) / CAST(n_buckets AS DOUBLE) - {mean} * {mean})"
    return m.select(
        "event_type",
        "n_buckets",
        F.expr(f"round({mean}, 6)").alias("mean_per_hour"),
        F.expr(f"round({var} / {mean}, 6)").alias("dispersion"),
    )


def q_anova_weekday_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic for daily order revenue across ISO
    weekdays — "does day-of-week move revenue?" as a hypothesis test.
    Between/within sums of squares come from EXACT integer group moments;
    the only non-exact step is a micro-scaled integer floor division
    (S1_g^2 * 1e6 div n_g), so the 7-term between-group sum is an exact
    bigint sum — never an order-dependent float accumulation. Two partial
    aggs (day rollup, weekday rollup); one output row."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(o_orderdate AS DATE)").alias("day"),
        _cents(F.col("o_totalprice").cast(DEC)).alias("rc"),
    )
    day = o.groupBy("day").agg(F.sum("rc").alias("rev"))
    wd = day.select(
        F.expr("weekday(day) + 1").alias("dow"),
        "rev",
    )
    g = wd.groupBy("dow").agg(
        F.count("*").alias("ng"),
        F.sum("rev").alias("sg"),
        F.sum(F.expr("CAST(rev AS DECIMAL(38,0)) * rev")).alias("s2g"),
    )
    tot = g.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sg").alias("s1"),
        F.sum("s2g").alias("s2"),
        F.count("*").cast("bigint").alias("k"),
        # exact int128-style floor division: Spark's `div` returns LONG
        # (overflows at ~9.2e18; sg^2*1e6 is ~1e27 at x10), so floor via
        # remainder-subtract — the decimal quotient is then an exact
        # integer and the (38,6) division introduces no rounding
        F.sum(
            F.expr(
                "CAST((CAST(sg AS DECIMAL(38,0)) * sg * 1000000"
                " - (CAST(sg AS DECIMAL(38,0)) * sg * 1000000) % ng)"
                " / ng AS DECIMAL(38,0))"
            )
        ).alias("between_scaled"),
    )
    ssb = ("(CAST(between_scaled AS DOUBLE)"
           " - CAST(CAST((CAST(s1 AS DECIMAL(38,0)) * s1 * 1000000"
           " - (CAST(s1 AS DECIMAL(38,0)) * s1 * 1000000) % n)"
           " / n AS DECIMAL(38,0)) AS DOUBLE))")
    ssw = "(CAST(s2 AS DOUBLE) * 1000000.0d - CAST(between_scaled AS DOUBLE))"
    return tot.select(
        F.col("n").alias("n_days"),
        "k",
        F.expr(
            f"round(({ssb} / CAST(k - 1 AS DOUBLE)) / "
            f"({ssw} / CAST(n - k AS DOUBLE)), 6)"
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Rank-based hypothesis tests (Mann-Whitney U with tie terms, Spearman rho), a
# chi-square independence census, an exact order-statistic quantile, and a
# Wald-Wolfowitz runs test — all integer-exact: tied ranks carry in DOUBLED
# units (2R is always an integer), chi-square accumulates per-cell ppm integer
# divisions, and the runs test is a join-based adjacency count with no
# unpartitioned window. No pow()/log(); the only double chain (Spearman) uses
# the same mul/div/sqrt ops as the statistical shapes above.
# ---------------------------------------------------------------------------


def q_mannwhitney_price_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the order-total distributions of 1-URGENT vs
    5-LOW orders, tie-corrected, in EXACT integers: per distinct price the
    two group counts, ONE two-phase running sum (shared with nothing — the
    same add_global_running_sums device as ks_priority_price), then
    R1_doubled = Σ c1 · (2·cum_before + c + 1) (doubled average ranks are
    always integers), U1_doubled = 2·n1·n2 + n1(n1+1) − R1_doubled, and the
    tie term Σ(t³−t) the variance formula needs — all DECIMAL(38,0), zero
    floats, bit-equal across engines at any SF. The location-shift test a
    corpus pipeline runs between two sources' length/score distributions."""
    from numaflow_spark.operators.ranking import add_global_running_sums

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    per = (
        o.select(
            _cents(F.col("o_totalprice").cast(DEC)).alias("price_c"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("is_a"),
        )
        .groupBy("price_c")
        .agg(
            F.sum("is_a").alias("c1"),
            F.sum(F.expr("1 - is_a")).alias("c2"),
        )
    )
    # r13 wave 2: lazy census cut — the running-sum op's bounded sums
    # pull materializes the rollup inside its own job (the ks twin's
    # device; the standalone checkpoint job is gone).
    per = materialize(per, eager=False)
    per = add_global_running_sums(
        per, [F.col("price_c")], ["c1", "c2"], ["cum1", "cum2"],
        primary="price_c", materialize=False,
    )
    dec = "DECIMAL(38,0)"
    agg = per.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        # cum_before = (cum1 - c1) + (cum2 - c2); doubled avg rank of the
        # tie block = 2*cum_before + (c1 + c2) + 1
        F.sum(
            F.expr(
                f"CAST(c1 AS {dec}) * "
                f"(2 * (cum1 - c1 + cum2 - c2) + (c1 + c2) + 1)"
            )
        ).alias("r1_doubled"),
        F.sum(
            F.expr(
                f"CAST(c1 + c2 AS {dec}) * (c1 + c2) * (c1 + c2)"
                f" - (c1 + c2)"
            )
        ).alias("tie_cubes"),
    )
    # Outer columns cast to BIGINT (the r5 oracle-type rule: the driver
    # comparator is only trusted on Spark-expressible types). Bounds:
    # r1_doubled/u1_doubled <= 2*n1*n2 + n1(n1+1) ~ 2n^2 — int64-safe to
    # ~SF1400 (n ~ 4e8); tie_cubes <= sum t^3 <= n*max_tie^2, far smaller.
    # The INTERNAL arithmetic stays DECIMAL(38,0).
    return agg.select(
        "n1", "n2",
        F.col("r1_doubled").cast("bigint").alias("r1_doubled"),
        F.expr(
            f"CAST(2 * CAST(n1 AS {dec}) * n2 + CAST(n1 AS {dec}) * (n1 + 1)"
            f" - r1_doubled AS BIGINT)"
        ).alias("u1_doubled"),
        F.col("tie_cubes").cast("bigint").alias("tie_cubes"),
    )


def q_spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line-item quantity and extended
    price: both columns ranked with AVERAGE tied ranks carried in DOUBLED
    units (2R integer always), then Pearson over the doubled ranks from
    exact DECIMAL(38,0) moments — one double chain at the end. Ranks come
    from the per-distinct-value census + running count (quantity: 50
    values, broadcast; price: the two-phase running sum, then a hash join
    back on the value). The monotone-dependence check a feature pipeline
    runs before assuming linear correlation says anything. Overflow audit:
    2R <= 2n, (2R)^2 * n ~ 4n^3 — 38 digits holds past SF10^5."""
    from numaflow_spark.operators.ranking import (
        add_global_running_sum,
        add_running_sum_bounded,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        # bigint census key, not DECIMAL(38,0): cents fit int64 exactly,
        # and the 8-byte key halves the census shuffle's key bytes and
        # speeds its hash-agg (guide §2.3 narrower types; measured 0.97 →
        # 0.81 s on the isolated census at sf0.1). Grouping and ordering
        # are value-identical — _cents is integral by construction.
        _cents(F.col("l_extendedprice").cast(DEC)).cast("bigint").alias("p"),
    )
    dec = "DECIMAL(38,0)"
    # quantity side: <= 50 distinct values — the running count is a
    # broadcast strictly-less triangle over the census itself (the
    # add_running_sum_bounded shape), NOT the two-phase machinery: the
    # two-phase module exists for unbounded key spaces and pays its
    # materialize + stats + offsets jobs; over a value-bounded census the
    # triangle stays entirely inside the final action's DAG (r12
    # continuation: spearman 19 -> 12 jobs, the whole quantity-side
    # two-phase block collapsed). Doubled avg rank = 2*prefix + cnt + 1.
    qc = li.groupBy("q").agg(F.count("*").alias("cq"))
    qr = add_running_sum_bounded(qc, "q", "cq", "cumq").select(
        "q", F.expr("2 * (cumq - cq) + cq + 1").alias("rq2")
    )
    # price side (r13 rewrite): the join back to the fact table is GONE.
    # At sf0.1, 583K of 600K prices are distinct — the census doesn't
    # compress, so `li ⋈ census` re-shuffled the full fact table just to
    # attach rp2 (guide §2.4: an Exchange the algebra doesn't need).
    # Instead the census itself carries the quantity-side moments: per
    # distinct price, cp = row count, s1 = Σ rq2, s2 = Σ rq2² (rq2 is
    # attached by the ≤50-row broadcast BEFORE the census shuffle, so the
    # one fact-table exchange is the census groupBy it always paid).
    # Every Pearson moment is then a census-level sum:
    #   n = Σ cp, sx = Σ s1, sxx = Σ s2,
    #   sy = Σ cp·rp2, syy = Σ cp·rp2², sxy = Σ rp2·s1
    # — integer/DECIMAL(38,0) terms regrouped by price value, so the sums
    # are value-identical to the per-row formulation (commutative exact
    # adds). Measured sf0.1: 4.4 s / 12 jobs → 1.3 s / 8 jobs (plan diff:
    # the 600K⋈583K hash join dropped; one fact exchange remains).
    pc = li.join(F.broadcast(qr), "q").groupBy("p").agg(
        F.count("*").alias("cp"),
        F.sum(F.expr(f"CAST(rq2 AS {dec})")).alias("s1"),
        F.sum(F.expr(f"CAST(rq2 AS {dec}) * rq2")).alias("s2"),
    )
    # Lazy shared-input cut (the r13 probe-fusion device): the running-sum
    # op's first bounded pull materializes the census inside its own job —
    # the eager per-op cut paid the census shuffle twice (stats + cut).

    pc = materialize(pc, eager=False)
    pr = add_global_running_sum(
        pc, [F.col("p")], "cp", "cump", primary="p", materialize=False,
    ).withColumn("rp2", F.expr("2 * (cump - cp) + cp + 1"))
    m = pr.agg(
        F.sum("cp").alias("n"),
        F.sum("s1").alias("sx"),
        F.sum(F.expr(f"CAST(rp2 AS {dec}) * cp")).alias("sy"),
        F.sum("s2").alias("sxx"),
        F.sum(F.expr(f"CAST(rp2 AS {dec}) * rp2 * cp")).alias("syy"),
        F.sum(F.expr(f"CAST(rp2 AS {dec}) * s1")).alias("sxy"),
    )
    num = f"(CAST(n AS {dec}) * sxy - CAST(sx AS {dec}) * sy)"
    vx = f"(CAST(n AS {dec}) * sxx - CAST(sx AS {dec}) * sx)"
    vy = f"(CAST(n AS {dec}) * syy - CAST(sy AS {dec}) * sy)"
    return m.select(
        F.col("n").alias("n_items"),
        F.expr(
            f"round(CAST({num} AS DOUBLE) / "
            f"sqrt(CAST({vx} AS DOUBLE) * CAST({vy} AS DOUBLE)), 6)"
        ).alias("spearman_rho"),
    )


def q_chi2_brand_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence census of p_brand x l_returnflag: per cell
    the exact scaled contribution ((O·n − r·c)² · 1e6) div (n·r·c), summed
    as bigints — the integer-division-per-cell form is order-independent
    and engine-exact (no float accumulation; the statistic is recoverable
    as ppm). One fact pass for the census; marginals are tiny broadcast
    rollups of the census itself. The drift detector for any categorical
    x categorical pairing (source x language, shard x label)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cells = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_brand", "l_returnflag")
        .agg(F.count("*").alias("o"))
    )
    # r13 (the theilsen device, guide §8): the census is value-bounded
    # (≤ |brands|×|returnflags| = 75 cells at ANY scale factor), so the
    # marginals and the per-cell integer-division fold are scalar-side
    # work on a bounded collect — the distributed plan is the one
    # fact-pass census. Replaces an 11-job plan (eager cut + 2 marginal
    # rollups + 3 broadcast joins). Python int arithmetic is unbounded,
    # so the DECIMAL(38,0) internals' exactness is preserved verbatim
    # ((O·n − r·c)² ≥ 0 and n·r·c > 0, so DECIMAL `div` = Python `//`).
    # Re-certified hash-green vs the unchanged oracle at all three SFs.
    rows = cells.collect()
    r_tot: dict = {}
    c_tot: dict = {}
    for row in rows:
        r_tot[row["p_brand"]] = r_tot.get(row["p_brand"], 0) + row["o"]
        c_tot[row["l_returnflag"]] = (
            c_tot.get(row["l_returnflag"], 0) + row["o"]
        )
    n = sum(r_tot.values())
    chi2_ppm = sum(
        (row["o"] * n - r_tot[row["p_brand"]] * c_tot[row["l_returnflag"]])
        ** 2
        * 1_000_000
        // (n * r_tot[row["p_brand"]] * c_tot[row["l_returnflag"]])
        for row in rows
    )
    return spark.range(1).select(
        F.lit(len(rows)).cast("bigint").alias("n_cells"),
        F.lit(n).cast("bigint").alias("n_obs"),
        F.lit(chi2_ppm).cast("bigint").alias("chi2_ppm"),
    )


def q_p90_interarrival_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p90 of per-user inter-event gaps per event type, as an ORDER
    STATISTIC (k-th smallest, k = ceil(0.9·n)) over the (type, gap_second)
    census — no approx_percentile (engine-specific interpolation) and no
    row-level sort: the census collapses to <= |types| x |distinct gaps|
    rows, the within-type cumulative count is a window PARTITIONED by type,
    and the answer is min(gap | cum >= k). The latency/staleness SLO
    primitive. Heavy lifting (per-user lag) hashes on user_id."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "event_type",
            F.expr("CAST(unix_micros(ts) - unix_micros(prev) AS BIGINT)"
                   " div 1000000").alias("gap_s"),
        )
    )
    census = gaps.groupBy("event_type", "gap_s").agg(
        F.count("*").alias("cnt")
    )
    wt = Window.partitionBy("event_type").orderBy("gap_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = census.withColumn("cum", F.sum("cnt").over(wt))
    tot = census.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    j = cum.join(F.broadcast(tot), "event_type").filter(
        # k = ceil(0.9 n) without floats: k = (9n + 9) div 10
        F.expr("cum >= (9 * n + 9) div 10")
    )
    return j.groupBy("event_type").agg(
        F.max("n").alias("n_gaps"),
        F.min("gap_s").alias("p90_gap_s"),
    )


def q_runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily order revenue vs its EXACT median
    (k-th smallest over the day census, k = (n+1) div 2): days flag above /
    not-above, runs counted on the calendar-bounded day census after a
    bounded collect (r13, the theilsen device; a missing next day ends a
    run by construction, exactly as the day-index+1 join it replaces).
    Output n_above, n_below, n_runs — the z-chain is a client-side fold
    of these three integers. Randomness check against regime drift in any
    daily metric."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("datediff(o_orderdate, DATE '1990-01-01')")
        .cast("bigint")
        .alias("di"),
        _cents(F.col("o_totalprice").cast(DEC)).alias("rc"),
    )
    day = o.groupBy("di").agg(F.sum("rc").cast("decimal(38,0)").alias("rev"))
    # r13 (the theilsen device, guide §8): the day census is calendar-
    # bounded (≤ ~2,600 rows at ANY scale factor), so the exact median
    # (k-th smallest, k = (n+1) div 2), the above/not-above flags and the
    # run count (a run ends where the next calendar day is absent or the
    # flag flips — identical to the day-index+1 join it replaces) are
    # scalar-side work on a bounded collect; the distributed plan is the
    # one fact-pass rollup. Replaces a 12-job plan (eager cut + value
    # census + bounded running sum + median pull + flag join). Integer-
    # exact end to end, as before. Re-certified hash-green vs the
    # unchanged oracle at all three SFs.
    rows = sorted((r["di"], int(r["rev"])) for r in day.collect())
    n = len(rows)
    k = (n + 1) // 2
    median_rev = sorted(rev for _, rev in rows)[k - 1] if n else None
    flags = {di: int(rev > median_rev) for di, rev in rows}
    n_above = sum(flags.values())
    n_runs = sum(
        1 for di, f in flags.items()
        if flags.get(di + 1) is None or flags[di + 1] != f
    )
    return spark.range(1).select(
        F.lit(n_above).cast("bigint").alias("n_above"),
        F.lit(n - n_above).cast("bigint").alias("n_below"),
        F.lit(n_runs).cast("bigint").alias("n_runs"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b from a bounded contingency census (concordant/discordant pair
# mass via a broadcast cell x cell triangle, never a row-level pair join), the
# Mann-Kendall trend test (sign-pair S + tie-corrected variance over the <=
# |days| daily rollup), per-nation Gini from a tie-invariant value-census block
# formula, a lagged cross-correlation between two segment revenue series, and a
# two-proportion z-test — the experiment-readout primitive. Integer /
# DECIMAL(38,0) accumulation throughout; each emits at most one double chain
# (mul/div/sqrt + round 6, the spearman precedent) at the very end.
# ---------------------------------------------------------------------------


def _kendall_cd(M) -> tuple[int, int]:
    """Concordant/discordant pair mass over a value-sorted contingency
    count matrix M[i, j] via 2-D suffix sums: C = Σ M[i,j]·(mass at
    i' > i, j' > j), D = Σ M[i,j]·(mass at i' > i, j' < j) — each
    unordered pair counted once (the row order fixes the direction).
    int64 intermediates ≤ n²/2, the same bound as the BIGINT output
    contract of its one caller (kendall_tau_qty_size). Unit-tested
    against the O(cells²) brute force (tests/test_ranking.py)."""
    import numpy as np

    right = np.cumsum(M[::-1, :], axis=0)[::-1, :]  # suffix over rows
    ss_gt = np.zeros_like(M)
    ss_gt[:-1, :-1] = np.cumsum(right[1:, ::-1], axis=1)[:, ::-1][:, 1:]
    ss_lt = np.zeros_like(M)
    ss_lt[:-1, 1:] = np.cumsum(right[1:, :], axis=1)[:, :-1]
    return int((M * ss_gt).sum()), int((M * ss_lt).sum())


def q_kendall_tau_qty_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between l_quantity (1..50) and the part's p_size
    (1..50): ONE fact pass builds the <= 2500-cell contingency census;
    concordant/discordant mass comes from a broadcast cell x cell
    comparison (C = sum n_a*n_b over a.q < b.q and a.s < b.s — each
    unordered pair counted once because the q-order fixes the direction),
    tie terms from the two marginals of the same census. The row-level
    pair space is n^2 (10^13 at sf0.1); the cell triangle is 2500^2 =
    6.25M products REGARDLESS of corpus size — the entire statistic
    reduces to census + broadcast triangle, the KM/KS device. Counts in
    DECIMAL(38,0); outputs BIGINT (r5 oracle-type rule; c/d <= n^2/2 is
    int64-safe to ~SF1000) plus one double chain for tau_b.

    Reference parity: numaflow exposes no analytics surface; this extends
    SURVEY §2.8's scalar/agg functions the way a data-quality monitor
    needs (monotone-association drift between two bounded ordinals)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"), "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_size").cast("bigint").alias("s")
    )
    dec = "DECIMAL(38,0)"
    cells = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("q", "s")
        .agg(F.count("*").alias("cnt"))
    )
    # r13 (the theilsen device, guide §8): the contingency census is
    # value-bounded (≤ 2,500 cells at ANY scale factor), so the cell×cell
    # triangle, marginal tie masses and pair counts are scalar-side work
    # on a bounded collect — the distributed plan is the one fact-pass
    # census. C/D via 2-D suffix sums over the 50×50 count matrix
    # (int64 intermediates ≤ n²/2, exactly the query's existing BIGINT
    # output bound — int64-safe to ~SF700, the docstring's contract).
    # Replaces a 12-job plan (cell triangle + two marginal rollups + two
    # cross joins). The tau_b double chain is evaluated IN SPARK over the
    # integer literals (same expression, identical double semantics).
    # Re-certified hash-green vs the unchanged oracle at sf0.001/0.01/0.1.
    import numpy as np

    rows = cells.collect()
    qvals = sorted({r["q"] for r in rows})
    svals = sorted({r["s"] for r in rows})
    qi = {v: k for k, v in enumerate(qvals)}
    si = {v: k for k, v in enumerate(svals)}
    M = np.zeros((len(qvals), len(svals)), dtype=np.int64)
    for r in rows:
        M[qi[r["q"]], si[r["s"]]] = r["cnt"]
    c_pairs, d_pairs = _kendall_cd(M)
    tq = M.sum(axis=1)
    ts = M.sum(axis=0)
    n = int(M.sum())
    n1_doubled = int((tq * (tq - 1)).sum())
    n2_doubled = int((ts * (ts - 1)).sum())
    n0d = f"(CAST(n_items AS {dec}) * (n_items - 1))"
    return spark.range(1).select(
        F.lit(n).cast("bigint").alias("n_items"),
        F.lit(c_pairs).cast("bigint").alias("c_pairs"),
        F.lit(d_pairs).cast("bigint").alias("d_pairs"),
        F.lit(n1_doubled).cast("bigint").alias("n1_doubled"),
        F.lit(n2_doubled).cast("bigint").alias("n2_doubled"),
    ).select(
        "n_items", "c_pairs", "d_pairs", "n1_doubled", "n2_doubled",
        F.expr(
            f"round(CAST(c_pairs - d_pairs AS DOUBLE) / "
            f"sqrt(CAST({n0d} - n1_doubled AS DOUBLE) / 2.0 * "
            f"(CAST({n0d} - n2_doubled AS DOUBLE) / 2.0)), 6)"
        ).alias("tau_b"),
    )


def q_mann_kendall_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily order revenue: S = sum over day
    pairs i<j of sign(rev_j - rev_i), with the tie-corrected variance
    var*18 = n(n-1)(2n+5) - sum t(t-1)(2t+5) — the nonparametric
    monotone-trend monitor for any daily metric. The pair triangle runs
    over the DAY rollup (<= ~2600 rows for a 7-year calendar — a written
    constant bound, the KM-triangle precedent) on the SCALAR side after a
    bounded collect (r13, the theilsen device); the fact table is touched
    exactly once for the rollup. S, var18 integer-exact; one double chain
    for the normal-approximation z (continuity-corrected), evaluated in
    Spark over the integer literals."""
    import numpy as np
    from collections import Counter

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("datediff(o_orderdate, DATE '1990-01-01')")
        .cast("bigint")
        .alias("di"),
        _cents(F.col("o_totalprice").cast(DEC)).alias("rc"),
    )
    day = o.groupBy("di").agg(
        F.sum("rc").cast("decimal(38,0)").alias("rev")
    )
    # r13 (the theilsen device, guide §8): the day census is calendar-
    # bounded (≤ ~2,600 rows at ANY scale factor), so the sign-pair
    # triangle, tie term and variance are scalar-side work on a bounded
    # collect — the distributed plan is the one rollup pass. Replaces an
    # 8-job plan (eager cut + broadcast triangle + ties rollup + cross
    # join). S and var18 are exact integers in both formulations; the
    # z normal-approximation chain is evaluated IN SPARK over the integer
    # literals, so its double semantics are unchanged. Re-certified
    # hash-green vs the unchanged oracle at sf0.001/0.01/0.1.
    rows = sorted((r["di"], int(r["rev"])) for r in day.collect())
    n_days = len(rows)
    rev = np.array([r[1] for r in rows], dtype=np.int64)
    i, j = np.triu_indices(n_days, k=1)
    d = rev[j] - rev[i]
    s_stat = int(np.sign(d).sum())
    tie_term = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(rev.tolist()).values()
    )
    var18 = n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
    return spark.range(1).select(
        F.lit(n_days).cast("bigint").alias("n_days"),
        F.lit(s_stat).cast("bigint").alias("s_stat"),
        F.lit(var18).cast("bigint").alias("var18"),
    ).select(
        "n_days",
        "s_stat",
        "var18",
        F.expr(
            "round(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
            " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
            " ELSE 0.0 END / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)"
        ).alias("z_stat"),
    )


def q_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini of customer order revenue (customers with >= 1
    order), via the tie-invariant census block formula: per (nation,
    revenue-value) the count c and within-nation running count C before
    the block give 2*sum(i*x) over the block = v*(2*c*C + c*(c+1)) —
    identical for ANY ordering of tied values, so no row_number
    tie-break leaks into the statistic. gini_ppm = (2*sum(i*x) -
    (n+1)*sum(x)) * 1e6 div (n * sum(x)), all DECIMAL(38,0). The window
    is PARTITIONED by nation and runs over the per-nation distinct-value
    census (|customers-with-orders| rows worst case, spread over 25
    partitions); at extreme scale the same block formula rides the
    two-phase per-group running sum instead. Inequality drift per shard
    is the curation analogue (is one source's contribution concentrating?)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents(F.col("o_totalprice").cast(DEC)).alias("rc")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    dec = "DECIMAL(38,0)"
    cust = o.groupBy("o_custkey").agg(
        F.sum("rc").cast("decimal(38,0)").alias("x")
    )
    nx = cust.join(c, cust.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nk"), "x"
    )
    cens = nx.groupBy("nk", "x").agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("nk")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cens.withColumn("cumc", F.sum("cnt").over(w))
    per = cum.groupBy("nk").agg(
        F.sum("cnt").cast("bigint").alias("n_cust"),
        F.sum(F.expr(f"CAST(x AS {dec}) * cnt")).alias("sx"),
        # 2*sum(i*x) per block: x * (2*c*(cum-c) + c*(c+1))
        F.sum(
            F.expr(
                f"CAST(x AS {dec}) * "
                f"(2 * cnt * (cumc - cnt) + cnt * (cnt + 1))"
            )
        ).alias("si2"),
    )
    out = per.join(F.broadcast(n), per.nk == n.n_nationkey)
    return out.select(
        "n_name",
        "n_cust",
        F.expr(
            f"CAST((si2 - (CAST(n_cust AS {dec}) + 1) * sx) * 1000000"
            f" div (CAST(n_cust AS {dec}) * sx) AS BIGINT)"
        ).alias("gini_ppm"),
    )


def q_xcorr_segments_lag7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation at lag 7 days between the daily order revenue of
    the BUILDING and MACHINERY market segments (does one segment lead the
    other by a week?): one orders-x-customer pass rolls both series up to
    (day, segment) cents; the lag join is an EQUI-join on di = di + 7
    over the <= |days| rollup; Pearson from exact DECIMAL(38,0) moments,
    one double chain at the end. The lead-lag detector between any two
    source time series (ingest volume vs dedup survivors, etc.)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("datediff(o_orderdate, DATE '1990-01-01')")
        .cast("bigint")
        .alias("di"),
        _cents(F.col("o_totalprice").cast(DEC)).alias("rc"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    dec = "DECIMAL(38,0)"
    day = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy("di", "c_mktsegment")
        .agg(F.sum("rc").cast("decimal(38,0)").alias("rev"))
    )
    bld = day.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("di").alias("db"), F.col("rev").alias("xb")
    )
    mch = day.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("di").alias("dm"), F.col("rev").alias("xm")
    )
    j = bld.join(F.broadcast(mch), F.col("db") == F.col("dm") + 7)
    m = j.agg(
        F.count("*").alias("n"),
        F.sum(F.expr(f"CAST(xb AS {dec})")).alias("sx"),
        F.sum(F.expr(f"CAST(xm AS {dec})")).alias("sy"),
        F.sum(F.expr(f"CAST(xb AS {dec}) * xb")).alias("sxx"),
        F.sum(F.expr(f"CAST(xm AS {dec}) * xm")).alias("syy"),
        F.sum(F.expr(f"CAST(xb AS {dec}) * xm")).alias("sxy"),
    )
    num = f"(CAST(n AS {dec}) * sxy - CAST(sx AS {dec}) * sy)"
    vx = f"(CAST(n AS {dec}) * sxx - CAST(sx AS {dec}) * sx)"
    vy = f"(CAST(n AS {dec}) * syy - CAST(sy AS {dec}) * sy)"
    return m.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.expr(
            f"round(CAST({num} AS DOUBLE) / "
            f"sqrt(CAST({vx} AS DOUBLE) * CAST({vy} AS DOUBLE)), 6)"
        ).alias("xcorr_lag7"),
    )


def q_ztest_promo_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: do PROMO-type parts come back (l_returnflag
    = 'R') at a different rate than non-PROMO parts? The A/B-experiment
    readout primitive. ONE fact pass with a broadcast part dim produces
    the four counts (n1, x1, n2, x2); the pooled z^2 is one double chain
    over exact integers: z2 = d^2 * (n1+n2) / (n1*n2*px*(n1+n2-px)) with
    d = x1*n2 - x2*n1 (DECIMAL(38,0), int64-safe output to ~SF100) and
    px = x1 + x2. Identical expression tree in the oracle so the single
    double rounding matches bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag"
    )
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr("CAST(p_type LIKE 'PROMO%' AS INT)").alias("g"),
    )
    dec = "DECIMAL(38,0)"
    m = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .agg(
            F.sum("g").cast("bigint").alias("n1"),
            F.sum(
                F.expr("g * CAST(l_returnflag = 'R' AS INT)")
            ).cast("bigint").alias("x1"),
            F.sum(F.expr("1 - g")).cast("bigint").alias("n2"),
            F.sum(
                F.expr("(1 - g) * CAST(l_returnflag = 'R' AS INT)")
            ).cast("bigint").alias("x2"),
        )
    )
    d = f"(CAST(x1 AS {dec}) * n2 - CAST(x2 AS {dec}) * n1)"
    px = f"(CAST(x1 AS {dec}) + x2)"
    return m.select(
        "n1", "x1", "n2", "x2",
        F.expr(
            f"round(CAST({d} AS DOUBLE) * CAST({d} AS DOUBLE) * "
            f"CAST(n1 + n2 AS DOUBLE) / "
            f"(CAST(CAST(n1 AS {dec}) * n2 AS DOUBLE) * "
            f"CAST({px} AS DOUBLE) * "
            f"CAST(CAST(n1 AS {dec}) + n2 - {px} AS DOUBLE)), 6)"
        ).alias("z2_stat"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen median slope over the constant-bounded daily-revenue rollup (the
# robust-trend twin of mann_kendall — pairwise slopes over ≤|days| rows via a
# broadcast triangle, never a fact-level pair join), Cohen's kappa between two
# binary labelings from a 4-cell census, the pairwise Jensen–Shannon divergence
# matrix between document sources (drift/contamination monitor over a dense
# source×lang census grid), a Zipf log–log OLS slope over the deterministic
# top-1000 vocabulary (rank by broadcast strictly-greater triangle — no
# single-partition window), the Population Stability Index census between two
# order years (the ML-ops drift readout; per-bucket rows so every double is
# row-local), and per-source Shannon entropy + exact-integer Simpson
# concentration. Integer / DECIMAL(38,0) accumulation; ln() only inside a final
# round(..., 6) chain (the tfidf/bm25 precedent).
# ---------------------------------------------------------------------------


def q_theilsen_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator (median of pairwise slopes) for daily order
    revenue vs time — the robust trend line whose sign mann_kendall
    tests. The fact table collapses to ≤|days| rows (≤~2,600 for this
    corpus's 1995–2001 calendar span at ANY scale factor — a written
    constant bound, the KM/KS census device) in one partial agg; that
    bounded census is then pulled to the driver and the ≤3.4M pairwise
    slopes + exact interpolating median run vectorized on the scalar
    side (guide §8: decide with small rows — the distributed plan's only
    pass is the rollup). r13: this replaces a 7-job plan whose exact
    ``percentile`` aggregate over 2.9M distinct slope doubles ran
    11.8 s single-threaded in its merge (measured sf0.1; the day count
    — and so this cost — is scale-invariant, so the same wall would
    show at 100 TB). Value-identical by construction: slopes are
    IEEE-double (int64→double casts round half-even in both engines,
    division identical), the interpolation reproduces Spark's
    ``percentile`` formula (lower + (higher−lower)·frac at rank
    (n−1)·p), and the final round(…, 6) is applied IN SPARK on the
    literal so HALF_UP semantics are Spark's own. Re-certified
    hash-green vs the unchanged DuckDB oracle at sf0.001/0.01/0.1."""
    import numpy as np

    o = load_table(spark, sf_dir, "orders").select(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).cast("bigint").alias("t"),
        _cents(F.col("o_totalprice").cast(DEC)).alias("c"),
    )
    daily = o.groupBy("t").agg(
        F.sum("c").cast("decimal(38,0)").alias("rev")
    )
    # Bounded collect: ≤ ~2,600 rows (calendar span), ordered for a
    # deterministic pair orientation (ta < tb  <=>  i < j).
    rows = sorted((r["t"], int(r["rev"])) for r in daily.collect())
    n_days = len(rows)
    t = np.array([r[0] for r in rows], dtype=np.int64)
    rev = np.array([r[1] for r in rows], dtype=np.int64)
    i, j = np.triu_indices(n_days, k=1)
    n_pairs = int(i.size)
    if n_pairs == 0:
        med = None
    else:
        # CAST(rb - ra AS DOUBLE) / CAST(tb - ta AS DOUBLE), elementwise
        slopes = (rev[j] - rev[i]).astype(np.float64) / (
            (t[j] - t[i]).astype(np.float64)
        )
        slopes.sort()
        rk = (n_pairs - 1) * 0.5
        k = int(rk)
        frac = rk - k
        lo = float(slopes[k])
        med = lo if frac == 0.0 else lo + (float(slopes[k + 1]) - lo) * frac
    return spark.range(1).select(
        F.lit(n_days).cast("bigint").alias("n_days"),
        F.lit(n_pairs).cast("bigint").alias("n_pairs"),
        F.round(F.lit(med).cast("double"), 6).alias(
            "ts_slope_cents_per_day"
        ),
    )


def q_kappa_priority_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two binary labelings of every line item —
    "expedited order" (priority 1-URGENT/2-HIGH) vs "returned"
    (l_returnflag = 'R'): chance-corrected agreement, the standard
    label-quality readout when two annotators (here: two business
    signals) tag the same corpus. One fact join + a 4-cell census;
    kappa = (n·agree − Σ marginal products) / (n² − Σ marginal
    products) held exact in DECIMAL(38,0) (n² < 10³⁸ to ~SF10¹⁰),
    emitted as exact ppm (div) plus one double chain."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("x"),
    )
    dec = "DECIMAL(38,0)"
    cells = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("x", "y")
        .agg(F.count("*").alias("cnt"))
    )
    m = cells.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN x = y THEN cnt ELSE 0 END"))
        .cast("bigint").alias("agree"),
        F.sum(F.expr("CASE WHEN x = 1 THEN cnt ELSE 0 END"))
        .cast("bigint").alias("r1"),
        F.sum(F.expr("CASE WHEN y = 1 THEN cnt ELSE 0 END"))
        .cast("bigint").alias("c1"),
    )
    pe = (
        f"(CAST(r1 AS {dec}) * c1 + CAST(n - r1 AS {dec}) * (n - c1))"
    )
    num = f"(CAST(n AS {dec}) * agree - {pe})"
    den = f"(CAST(n AS {dec}) * n - {pe})"
    return m.select(
        F.col("n").alias("n_items"),
        "agree",
        F.expr(f"CAST({num} * 1000000 div {den} AS BIGINT)").alias(
            "kappa_ppm"
        ),
        F.expr(
            f"round(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE), 6)"
        ).alias("kappa"),
    )


def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between document sources over
    their language distributions — the drift matrix a curation pipeline
    watches to catch a source changing character (JS is symmetric,
    bounded by ln 2, and defined even where supports differ — exactly
    why it beats KL here). The corpus collapses to a dense
    |sources|×|langs| census grid (one partial agg + a tiny left join);
    the matrix is a source×source broadcast triangle over that grid.
    Counts exact integers; each pair's JS is one double chain summed
    over ≤|langs| row-local terms, round 6 (tfidf ln() precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count("*").alias("cnt"))
    ns = c.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("n_s"))
    langs = c.select("lang").distinct()
    grid = (
        ns.crossJoin(F.broadcast(langs))
        .join(c, ["source", "lang"], "left")
        .select(
            "source", "lang", "n_s",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("k"),
        )
    )
    a = grid.select(
        F.col("source").alias("source_a"), "lang",
        F.col("n_s").alias("na"), F.col("k").alias("ka"),
    )
    b = grid.select(
        F.col("source").alias("source_b"), F.col("lang").alias("lang_b"),
        F.col("n_s").alias("nb"), F.col("k").alias("kb"),
    )
    pa = "(CAST(ka AS DOUBLE) / CAST(na AS DOUBLE))"
    pb = "(CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE))"
    term = (
        f"(CASE WHEN ka > 0 THEN {pa} * ln({pa} * 2.0d / ({pa} + {pb})) "
        f"ELSE 0.0d END + "
        f"CASE WHEN kb > 0 THEN {pb} * ln({pb} * 2.0d / ({pa} + {pb})) "
        f"ELSE 0.0d END)"
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.expr(f"round(0.5d * sum({term}), 6)").alias("js_nats"),
        )
    )


def q_zipf_slope_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of ln(freq)
    on ln(rank) across the top-1000 tokens — the one-number diagnostic
    of vocabulary health (natural text ≈ −1; boilerplate/spam corpora
    flatten it). Token census in one partial-aggregated shuffle; the
    top-1000 cut is TakeOrderedAndProject (distributed heap, count
    desc / token asc — deterministic under ties); ranks come from a
    broadcast strictly-greater triangle over the 1000-row cut (≤10⁶
    probes, NO single-partition window); the five OLS moments reduce
    to one row. Sums of ≤1000 ln() doubles — round 6 far above the
    accumulated ulp error."""
    from numaflow_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    top = cnt.orderBy(F.col("cnt").desc(), F.col("token")).limit(1000)
    a = top.select(F.col("token").alias("tok_a"), F.col("cnt").alias("ca"))
    bb = top.select(F.col("token").alias("tok_b"), F.col("cnt").alias("cb"))
    ranked = (
        a.join(
            F.broadcast(bb),
            (F.col("cb") > F.col("ca"))
            | ((F.col("cb") == F.col("ca")) & (F.col("tok_b") < F.col("tok_a"))),
            "left",
        )
        .groupBy("tok_a", "ca")
        .agg((F.count("tok_b") + F.lit(1)).cast("bigint").alias("rank"))
    )
    x = "ln(CAST(rank AS DOUBLE))"
    y = "ln(CAST(ca AS DOUBLE))"
    m = ranked.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.expr(f"sum({x})").alias("sx"),
        F.expr(f"sum({y})").alias("sy"),
        F.expr(f"sum({x} * {y})").alias("sxy"),
        F.expr(f"sum({x} * {x})").alias("sxx"),
    )
    return m.select(
        "n_terms",
        F.expr(
            "round((CAST(n_terms AS DOUBLE) * sxy - sx * sy) / "
            "(CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6)"
        ).alias("zipf_slope"),
    )


def q_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index census of the order-price distribution,
    1997 vs 1998 — the standard ML-ops drift gate between a training
    snapshot and a serving window. Prices bucket by power-of-two cents
    (length(bin(c)) — integer-exact, no libm), the two years' bucket
    counts come from ONE fact pass, and each shared bucket emits its
    own PSI contribution (p−q)·ln(p/q) as a row-local double — no
    cross-row double summation anywhere, so the only rounding surface
    is one round-6 per row. Buckets seen in only one year are reported
    with a NULL term (they carry infinite PSI weight; the monitor's
    cue to alarm on support change, not average over it)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.length(
            F.expr(
                f"bin(CAST(CAST(o_totalprice AS {DEC}) * 100 AS BIGINT))"
            )
        ).cast("bigint").alias("bucket"),
    ).filter(F.col("yr").isin(1997, 1998))
    census = o.groupBy("bucket").agg(
        F.sum(F.expr("CASE WHEN yr = 1997 THEN 1 ELSE 0 END"))
        .cast("bigint").alias("n_a"),
        F.sum(F.expr("CASE WHEN yr = 1998 THEN 1 ELSE 0 END"))
        .cast("bigint").alias("n_b"),
    )
    tot = census.agg(
        F.sum("n_a").cast("bigint").alias("ta"),
        F.sum("n_b").cast("bigint").alias("tb"),
    )
    p = "(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))"
    q = "(CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))"
    return census.crossJoin(F.broadcast(tot)).select(
        "bucket", "n_a", "n_b",
        F.expr(
            f"CASE WHEN n_a > 0 AND n_b > 0 THEN "
            f"round(({p} - {q}) * ln({p} / {q}), 6) END"
        ).alias("psi_term"),
    )


def q_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix diversity: Shannon entropy (nats) plus the
    exact-integer Simpson concentration Σ k(k−1) / n(n−1) in ppm — the
    pair of readouts a mixture dashboard shows per corpus slice (are
    sources monolingual silos or balanced mixes?). One census pass;
    Simpson is pure integer arithmetic end-to-end (unbiased
    small-sample form), entropy is the single ln() double chain summed
    over ≤|langs| terms, round 6."""
    docs = load_table(spark, sf_dir, "documents")
    dec = "DECIMAL(38,0)"
    c = docs.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("k")
    )
    ns = c.groupBy("source").agg(F.sum("k").cast("bigint").alias("n"))
    pk = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
    return (
        c.join(F.broadcast(ns), "source")
        .groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_langs"),
            F.expr(
                f"CAST(sum(CAST(k AS {dec}) * (k - 1)) * 1000000 div "
                f"(CAST(max(n) AS {dec}) * (max(n) - 1)) AS BIGINT)"
            ).alias("simpson_ppm"),
            F.expr(f"round(-sum({pk} * ln({pk})), 6)").alias(
                "entropy_nats"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# The driver's correctness harness certifies the FIRST 50 entries of
# QUERIES, in insertion order (tests/test_registry_contract.py). A query
# with no driver CORRECTNESS row yet, or one in RECERT_PENDING, must sit
# inside that window; when adding one, insert it before position 50 and
# move an already-certified query to the tail.
QUERIES = {
    "neardup_clusters": q_neardup_clusters,
    "neardup_survivors": q_neardup_survivors,
    "embedding_clusters": q_embedding_clusters,
    "embedding_dedup_survivors": q_embedding_dedup_survivors,
    "bpe_merges": q_bpe_merges,
    "khop_trade_graph": q_khop_trade_graph,
    "pagerank_bipartite": q_pagerank_bipartite,
    "triangle_count": q_triangle_count,
    "brand_qty_price_corr": q_brand_qty_price_corr,
    "sql_shipping_priority": q_sql_shipping_priority,
    "ngram_lm_score": q_ngram_lm_score,
    "hll_distinct": q_hll_distinct,
    "idle_customer_balance": q_idle_customer_balance,
    "label_centroids": q_label_centroids,
    "large_order_customers": q_large_order_customers,
    "lsh_multiprobe_topk": q_lsh_multiprobe_topk,
    "nation_market_share": q_nation_market_share,
    "pq_adc_topk": q_pq_adc_topk,
    "promo_revenue_monthly": q_promo_revenue_monthly,
    "quality_quantile_filter": q_quality_quantile_filter,
    "scd2_history": q_scd2_history,
    "set_except": q_set_except,
    "nation_yoy_order_growth": q_nation_yoy_order_growth,
    "nation_seat_apportionment": q_nation_seat_apportionment,
    "event_type_daily_share": q_event_type_daily_share,
    "repeat_purchase_rate": q_repeat_purchase_rate,
    "dup_ngram_frac": q_dup_ngram_frac,
    "decontaminate": q_decontaminate,
    "cms_heavy_bigrams": q_cms_heavy_bigrams,
    "sequence_packing": q_sequence_packing,
    "vocab_topk": q_vocab_topk,
    "stratified_sample": q_stratified_sample,
    "train_shard_order": q_train_shard_order,
    "top_revenue_supplier": q_top_revenue_supplier,
    "volume_shipping": q_volume_shipping,
    "uniform_k_sample": q_uniform_k_sample,
    "json_props_agg": q_json_props_agg,
    "product_type_profit": q_product_type_profit,
    "important_part_value": q_important_part_value,
    "hourly_channel_matrix": q_hourly_channel_matrix,
    "revenue_rolling_30d": q_revenue_rolling_30d,
    "cdc_orders_apply": q_cdc_orders_apply,
    "grouped_hll_users": q_grouped_hll_users,
    "editdist_part_names": q_editdist_part_names,
    "yoy_nation_revenue": q_yoy_nation_revenue,
    "part_return_ratio": q_part_return_ratio,
    "repeat_customer_years": q_repeat_customer_years,
    "supplier_concentration_hhi": q_supplier_concentration_hhi,
    "corpus_rollup": q_corpus_rollup,
    "minhash_neardup": q_minhash_neardup,
    "kendall_tau_qty_size": q_kendall_tau_qty_size,
    "mann_kendall_daily_revenue": q_mann_kendall_daily_revenue,
    "gini_by_nation": q_gini_by_nation,
    "xcorr_segments_lag7": q_xcorr_segments_lag7,
    "ztest_promo_return_rate": q_ztest_promo_return_rate,
    "theilsen_daily_revenue": q_theilsen_daily_revenue,
    "kappa_priority_return": q_kappa_priority_return,
    "js_divergence_sources": q_js_divergence_sources,
    "zipf_slope_vocab": q_zipf_slope_vocab,
    "psi_price_drift": q_psi_price_drift,
    "entropy_by_source": q_entropy_by_source,
    "graph_assortativity": q_graph_assortativity,
    "customer_rfm": q_customer_rfm,
    "clv_decile_migration": q_clv_decile_migration,
    "spearman_qty_price": q_spearman_qty_price,
    "chi2_brand_returnflag": q_chi2_brand_returnflag,
    "runs_test_daily_revenue": q_runs_test_daily_revenue,
    "cusum_changepoint": q_cusum_changepoint,
    "ks_priority_price": q_ks_priority_price,
    "mannwhitney_price_priority": q_mannwhitney_price_priority,
    "waiting_supplier": q_waiting_supplier,
    "corpus_curation": q_corpus_curation,
    "source_overlap_matrix": q_source_overlap_matrix,
    "clv_deciles": q_clv_deciles,
    "vocab_coverage": q_vocab_coverage,
    "revenue_pareto_customers": q_revenue_pareto_customers,
    "tfidf_topterms": q_tfidf_topterms,
    "quantity_quartiles": q_quantity_quartiles,
    "priority_pending_orders": q_priority_pending_orders,
    "winnow_dups": q_winnow_dups,
    "simhash_neardup": q_simhash_neardup,
    "inverted_index": q_inverted_index,
    "span_dedup": q_span_dedup,
    "order_concurrency_peak": q_order_concurrency_peak,
    "min_cost_supplier": q_min_cost_supplier,
    "gap_fill_locf": q_gap_fill_locf,
    "customer_order_distribution": q_customer_order_distribution,
    "discounted_brand_revenue": q_discounted_brand_revenue,
    "domain_mix_sample": q_domain_mix_sample,
    "embedding_quantize": q_embedding_quantize,
    "excess_shipment_supplier": q_excess_shipment_supplier,
    "forecast_revenue": q_forecast_revenue,
    "funnel_conversion": q_funnel_conversion,
    "p90_interarrival_exact": q_p90_interarrival_exact,
    "moment_profile": q_moment_profile,
    "basket_triples": q_basket_triples,
    "dispersion_index": q_dispersion_index,
    "anova_weekday_revenue": q_anova_weekday_revenue,
    "pareto_parts": q_pareto_parts,
    "gini_orders": q_gini_orders,
    "winsorized_order_stats": q_winsorized_order_stats,
    "multimodal_decode": q_multimodal_decode,
    "asof_join": q_asof_join,
    "range_join_bands": q_range_join_bands,
    "cube_agg": q_cube_agg,
    "pivot_agg": q_pivot_agg,
    "set_intersect": q_set_intersect,
    "token_count_bpe": q_token_count_bpe,
    "dedup_keep_latest": q_dedup_keep_latest,
    "rank_per_group": q_rank_per_group,
    "multimodal_frames": q_multimodal_frames,
    "ivf_ann_topk": q_ivf_ann_topk,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "topk_brand_parts_ties": q_topk_brand_parts_ties,
    "brand_rank_shift_yoy": q_brand_rank_shift_yoy,
    "doc_quality_gopher": q_doc_quality_gopher,
    "hash_sample": q_hash_sample,
    "pii_scrub": q_pii_scrub,
    "salted_skew_join": q_salted_skew_join,
    "bm25_rank": q_bm25_rank,
    "bpe_pair_counts": q_bpe_pair_counts,
    "cohort_retention": q_cohort_retention,
    "copurchase_lift": q_copurchase_lift,
    "benford_digit_census": q_benford_digit_census,
    "survival_km_table": q_survival_km_table,
    "daily_revenue_acf": q_daily_revenue_acf,
    "label_source_matrix": q_label_source_matrix,
    "seasonal_index": q_seasonal_index,
    "error_rate_hours": q_error_rate_hours,
    "interarrival_histogram": q_interarrival_histogram,
    "segment_status_matrix": q_segment_status_matrix,
    "negative_balance_exposure": q_negative_balance_exposure,
    "dow_hour_heatmap": q_dow_hour_heatmap,
    "first_event_census": q_first_event_census,
    "wau_dau_stickiness": q_wau_dau_stickiness,
    "dedup_rate_by_source": q_dedup_rate_by_source,
    "supplier_lead_time_stats": q_supplier_lead_time_stats,
    "fixed_window_keyed": q_fixed_window_keyed,
    "fixed_window_global": q_fixed_window_global,
    "sliding_window": q_sliding_window,
    "session_window": q_session_window,
    "filter_transform": q_filter_transform,
    "flat_map": q_flat_map,
    "route_and": q_route_and,
    "route_or": q_route_or,
    "route_not": q_route_not,
    "fan_in_union": q_fan_in_union,
    "dedup_exact": q_dedup_exact,
    "pricing_summary": q_pricing_summary,
    "join_agg": q_join_agg,
    "returned_item_revenue": q_returned_item_revenue,
    "local_supplier_volume": q_local_supplier_volume,
    "top_k": q_top_k,
    "rollup": q_rollup,
    "pipeline_diamond": q_pipeline_diamond,
    "accumulator_sort": q_accumulator_sort,
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "doc_fingerprint_dups": q_doc_fingerprint_dups,
    "embedding_topk": q_embedding_topk,
    "embedding_similar_pairs": q_embedding_similar_pairs,
    "lsh_ann_topk": q_lsh_ann_topk,
    "new_parts_monthly_cumulative": q_new_parts_monthly_cumulative,
    "nation_order_gaps": q_nation_order_gaps,
    "gap_trend_census": q_gap_trend_census,
    "nation_top_supplier_rank": q_nation_top_supplier_rank,
    "unresolved_errors": q_unresolved_errors,
    "lang_topk_with_other": q_lang_topk_with_other,
    "brand_price_mad": q_brand_price_mad,
    "degree_distribution": q_degree_distribution,
    "basket_pairs": q_basket_pairs,
    "audio_pcm_energy": q_audio_pcm_energy,
    "brand_supplier_counts": q_brand_supplier_counts,
    "brand_weighted_median_price": q_brand_weighted_median_price,
    "customer_order_gap_median": q_customer_order_gap_median,
    "customer_streak_census": q_customer_streak_census,
    "grouping_sets": q_grouping_sets,
    "late_shipment_modes": q_late_shipment_modes,
    "median_order_value": q_median_order_value,
    "ngram_jaccard": q_ngram_jaccard,
    "percentiles": q_percentiles,
    "session_funnel": q_session_funnel,
    "session_islands": q_session_islands,
    "small_quantity_revenue": q_small_quantity_revenue,
    "window_running": q_window_running,
    "corpus_profile": q_corpus_profile,
    "weighted_sample": q_weighted_sample,
    "chunk_documents": q_chunk_documents,
    "sliding_distinct_users": q_sliding_distinct_users,
    "event_transitions": q_event_transitions,
    "top_event_paths": q_top_event_paths,
    "ohlc_daily": q_ohlc_daily,
    "source_length_histogram": q_source_length_histogram,
    "lang_confusion": q_lang_confusion,
    "user_streaks": q_user_streaks,
    "order_fill_latency": q_order_fill_latency,
    "first_touch_attribution": q_first_touch_attribution,
    "brand_mode_returnflag": q_brand_mode_returnflag,
}


# ---------------------------------------------------------------------------
# AQE regime. AQE's advisory-size coalescing (tuned for the tiny-query
# floor) packs CPU-bound reduce stages onto too few cores and adds a
# per-stage re-plan job; for these queries the measured A/B
# (tools/ab_aqe_sf01.json + tools/ab_aqe_sf1.json, min-of-2, interleaved
# arms, identical outputs) shows adaptive OFF winning >15% and >0.15 s at
# sf0.1 AND confirming at x10 — e.g. ngram_jaccard 13.0 -> 5.7 s,
# simhash_neardup 14.0 -> 7.6, winsorized_order_stats 14.1 -> 8.8,
# triangle_count 43.1 -> 31.1 at x10. Each is materialized eagerly by
# operators/graph.py::materialize(aqe=False) (lazy_plans() keeps the lazy
# plan for plan tests/audits). Queries that lost or tied
# in either arm (the CC/LSH families, corpus_curation, quantity_quartiles,
# winnow_dups) stay under AQE. At cluster scale with real data volumes the
# crossover moves — re-measure with a cold A/B (tools/coldq.py) per
# deployment before copying this list.
# ---------------------------------------------------------------------------
NO_AQE_QUERIES = {
    "audio_pcm_energy", "basket_pairs", "brand_price_mad",
    "brand_supplier_counts", "brand_weighted_median_price",
    "copurchase_lift", "customer_order_gap_median",
    "customer_streak_census", "degree_distribution", "gap_trend_census",
    "grouping_sets", "late_shipment_modes", "median_order_value",
    "ngram_jaccard", "percentiles", "session_funnel", "session_islands",
    "simhash_neardup", "small_quantity_revenue", "triangle_count",
    "window_running", "winsorized_order_stats",
}
assert NO_AQE_QUERIES <= set(QUERIES)


def _wrap_no_aqe(fn):
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return materialize(fn(spark, sf_dir), aqe=False)

    return wrapped


QUERIES.update({k: _wrap_no_aqe(QUERIES[k]) for k in NO_AQE_QUERIES})

# Rewrite-certification queue: any commit that changes a registered query's
# plan appends its name here, and the registry-contract test pins every
# pending name inside the 50-entry certification window so the next driver
# round re-certifies it. A name leaves the queue once a driver
# CORRECTNESS_r{N}.json with N >= RECERT_SINCE_ROUND carries its green row;
# the watermark keeps a query rewritten after round N's artifact from
# looking re-certified by its own pre-rewrite row.
RECERT_PENDING: list[str] = []
RECERT_SINCE_ROUND = 15
assert set(RECERT_PENDING) <= set(list(QUERIES)[:50])
