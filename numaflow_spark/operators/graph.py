"""Distributed connected components for dedup clustering.

The reference has no graph operator (numaflow's only multi-input op is the
fan-in union, `docs/user-guide/reference/join-vertex.md:1-44`); this is a
north-star extension (SURVEY.md §2.13): near-dup *pairs* (MinHash-LSH /
SimHash / embedding-cosine) are only half of dedup — fuzzy duplicates form
transitive families, so the corpus-level operation is pairs → connected
components → one survivor per component.

Algorithm: the entry edge set is canonicalized, cut eagerly and counted
once. Up to ``DRIVER_CC_MAX_EDGES`` (2M) edges it is collected via Arrow
and labelled on the driver (numpy min-label hooking with pointer jumping)
into a local frame; the near-dup graphs of the declared queries and every
streaming micro-batch take this path. Measured at local[4] on a 4-core
15 GB host, random graphs with a giant component (nodes ≈ 0.86 × edges),
CC plus two counts of its output, driver path vs distributed loop:
200k edges 2.3 vs 11.8 s, 1M 7.1 vs 32.4 s, 2M 14.0 vs 54.9 s. The numpy
labelling inside the driver path takes 0.07 / 0.51 / 1.11 s at those
sizes (a pure-Python union-find 0.43 / 3.71 / 8.27 s, 18.6 s at 4M); the
rest is the Arrow collect and the local frame. The bound stops there
because past it the driver holds the whole graph for a gain a cluster's
loop no longer needs.

Above the bound: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). Each round is one
shuffle keyed on node id with per-group state O(degree); convergence in
O(log² n) rounds (2 rounds on the star-shaped families typical of near-dup
graphs). This is the standard web-scale CC: no adjacency matrix, and the
loop's driver sees only a per-round convergence boolean (an empty-probe
semi-join checking the star-forest fixpoint shape). Lineage is cut every
round with ``localCheckpoint`` so the plan stays flat across iterations
(at cluster scale, swap for ``checkpoint`` on durable storage to also
bound recovery).
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

__all__ = ["connected_components", "cut_lineage", "dedup_survivors", "fuzzy_dedup"]


AQE = "spark.sql.adaptive.enabled"

# Edge count up to which connected_components labels on the driver; the
# measurement behind it is in the module docstring.
DRIVER_CC_MAX_EDGES = 2_000_000


@contextmanager
def scoped_conf(spark, confs: dict[str, str]):
    """Set the SQL ``confs`` on ``spark`` for the block, then restore each
    key on exit — an exception included; a key that was unset before is
    unset again (the shape of PySpark's own ``sql_conf`` test helper). This
    is the engine's only session-conf mutation: the iterative loops'
    width/AQE regime (``sized_loop_conf``), the AQE-off cut
    (``materialize(aqe=False)``), the bpe merge loop and ranking's bounded
    pulls all go through it.

    CONCURRENCY CONTRACT (ADVICE r12): these are SESSION-GLOBAL SQL confs
    — while the block is open, any query run concurrently on the same
    SparkSession inherits them (AQE off, a shrunken shuffle width, no
    broadcast joins). Every caller in this repo (the iterative operators,
    the bench/driver harnesses) runs queries sequentially on its session,
    which is the assumption these levers are built on. A concurrent
    deployment must either serialize access to the session for the block's
    duration or give that work a dedicated session
    (``SparkSession.newSession()`` shares the context but isolates SQL
    conf)."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def sized_loop_conf(spark, n_rows: int, *, rows_per_partition: int = 500_000):
    """AQE off + shuffle partitions sized from a MEASURED row count, for
    iterative loops whose per-round input is already materialized. AQE
    runs each exchange as its own job and, on checkpoint-per-round loops,
    the re-plan is pure scheduling floor (~96 ms/job) with nothing to
    adapt — measured pagerank_bipartite 53 -> 5 jobs. But the r10
    loop-scoped AQE-off experiment made CC *slower* because it kept the
    session's 32 shuffle partitions: 6 exchanges/round × 32 near-empty
    tasks out-costs the AQE jobs it removes. The missing half of that
    lever is the partition count: with partitions = ceil(2·n/target)
    (2× margin — large-star/small-star keeps |E| ≤ 2·|E₀|), capped at the
    session's configured width, each AQE-off round is ONE job of a few
    right-sized tasks. At cluster scale a 10¹⁰-edge loop hits the session
    cap and keeps its full width — the sizing never *reduces* scale-out
    below what the data needs, it only stops billing empty tasks at the
    small end. Enter AFTER the loop's entry checkpoint, so the (possibly
    expensive) upstream pipeline still runs under AQE. A ``scoped_conf``
    block: all three confs are restored on exit."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    parts = max(2, min(cap, (2 * max(n_rows, 1)) // rows_per_partition + 1))
    # Broadcast joins each run a build-side collect JOB even without AQE
    # (measured: a CC round's two star joins kept it at 4-6 jobs with AQE
    # off). In-loop the join inputs are the already-materialized,
    # right-partitioned round state — a shuffle join over `parts`
    # partitions is one stage of the SAME job, so the round collapses to
    # a single action. At cluster scale the round's join sides are edge-
    # and node-sized (never broadcastable anyway), so nothing is lost.
    return scoped_conf(spark, {
        AQE: "false",
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })


def cut_lineage(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Flat-plan discipline for iterative operators (CC / PageRank / BFS /
    BPE): cut the lineage every round so the plan doesn't deepen.

    Default is ``localCheckpoint`` — blocks live on executor memory/disk,
    which is fast but NOT fault-tolerant: losing an executor mid-iteration
    fails the whole chain. At cluster scale set
    ``spark.numaflow_spark.checkpoint.dir`` in the session conf (a
    runtime-settable app key; scale.py::cluster_conf sets it) to switch to
    a durable ``checkpoint()`` on shared storage, which also bounds
    recovery: a retry re-reads the last round's checkpoint instead of
    recomputing from round 0.
    """
    durable = df.sparkSession.conf.get("spark.numaflow_spark.checkpoint.dir", None)
    if durable is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # setCheckpointDir creates <dir>/<uuid>, so the context's current dir
    # follows the conf iff its parent is the conf's (qualified) path; a
    # conf re-pointed mid-context re-points the context too.
    current = sc.getCheckpointDir()
    hpath = sc._jvm.org.apache.hadoop.fs.Path
    want = hpath(durable)
    want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
    if current is None or hpath(current).getParent().toString() != want.toString():
        sc.setCheckpointDir(durable)
    return df.checkpoint(eager=eager)


_lazy = False


@contextmanager
def lazy_plans():
    """Plan audits (the plan tests and the audit/dump tools) inspect the
    UNDERLYING plan: inside this block ``materialize`` returns its input
    unchanged, so a query builds its full lazy plan instead of a
    checkpointed-RDD scan. Loop cuts inside the iterative operators stay
    eager. Restores the previous mode on exit."""
    global _lazy
    old, _lazy = _lazy, True
    try:
        yield
    finally:
        _lazy = old


def materialize(df: DataFrame, *, eager: bool = True, aqe: bool = True) -> DataFrame:
    """Cut a query's shared or expensive intermediate once (cut_lineage), so
    every consumer branch re-reads the blocks instead of re-evaluating the
    upstream plan; a no-op inside ``lazy_plans()``.

    ``eager=False`` cuts lazily: the consumer's first full-scan action
    computes every partition and persists it inside that job instead of
    paying a separate materialization job (the r13 probe-fusion device).

    ``aqe=False`` evaluates the (eager) cut with adaptive execution off —
    the regime of the registry's NO_AQE_QUERIES, CPU-bound pair-expansion
    plans (the cooccurrence family) where AQE's advisory-size coalescing
    packs the expansion stage onto too few cores: the per-partition work
    is pair-quadratic in basket size, so an "8 MB" reduce partition is
    minutes of CPU, and the stage runs serial. Measured min-of-2, same
    session, identical outputs — sf0.1 / x10:
      triangle_count        13.3 -> 4.9 s  /  32.1 -> 18.7 s
      degree_distribution    4.0 -> 2.0 s  /  15.9 ->  7.0 s
      basket_pairs           3.8 -> 1.6 s  /   4.4 ->  1.8 s
      copurchase_lift        3.8 -> 2.4 s  /   4.4 ->  2.6 s
    CC/LSH stay under AQE (measured loss there — see connected_components
    and sized_loop_conf)."""
    if _lazy:
        return df
    if aqe:
        return cut_lineage(df, eager=eager)
    with scoped_conf(df.sparkSession, {AQE: "false"}):
        return cut_lineage(df, eager=eager)


def _canon(edges: DataFrame) -> DataFrame:
    """Distinct hi→lo directed edges, self-loops dropped. Entry
    normalization only — inside the round loop every transform preserves the
    hi→lo orientation, so re-canonicalizing (greatest/least + distinct)
    per round would be wasted exchanges; see _round."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _round(edges: DataFrame) -> DataFrame:
    """One large-star ∘ small-star round over hi→lo oriented edges,
    shuffle-trimmed: both stars' groupBy-min aggregates are duplicate-
    tolerant (min is idempotent), so the round carries NO intermediate
    distinct — a single distinct at the end dedups the ≤2|E| emitted rows.
    Orientation is an invariant throughout (proofs inline), so the
    greatest/least re-canonicalization is dropped entirely.

    large-star (on hi→lo edges the textbook symmetrized form collapses): a
    node u's larger neighbors are exactly its in-edges (w, u), and
    min(Γ(u) ∪ {u}) = min(out-neighbors ∪ {u}) since in-neighbors are all
    > u. One groupBy for per-node out-minima plus one left join onto the
    in-edges replaces the 2×-edges union self-join. Output (u, v') keeps
    u > v' ≥ component-min because v' = min(v, min-out-of-v) < u.

    small-star: connect every smaller neighbor of u (and u itself) to the
    minimum m of u's down-neighborhood. to_nbrs (v, m) has v ≥ m (self-loop
    when v = m, filtered); to_self (u, m) has u > m always.
    """
    ls_m = edges.groupBy("u").agg(F.min("v").alias("mv"))
    ls = (
        edges.alias("x")
        .join(ls_m.alias("t"), F.col("x.v") == F.col("t.u"), "left")
        .select(
            F.col("x.u").alias("u"),
            F.least(F.coalesce(F.col("t.mv"), F.col("x.v")), F.col("x.v")).alias("v"),
        )
    )
    ss_m = ls.groupBy("u").agg(F.min("v").alias("m"))
    j = ls.join(ss_m, "u")
    to_nbrs = j.select(F.col("v").alias("u"), F.col("m").alias("v"))
    to_self = j.select("u", F.col("m").alias("v"))
    return to_nbrs.union(to_self).filter(F.col("u") != F.col("v")).distinct()


def _driver_components(e: DataFrame) -> DataFrame:
    """(node, component) for a canonical edge set small enough for the
    driver: one Arrow collect, then min-label hooking with pointer jumping
    in numpy over dense node indices (np.unique sorts the ids, so the
    minimum index of a component is its minimum id). Each pass hooks every
    root to the smallest root it shares an edge with and then jumps every
    pointer to its root; pointers only ever decrease, so the passes end.
    The result is a local frame with the loop's column names and types."""
    t = e.toArrow()
    u, v = t.column("u").to_numpy(), t.column("v").to_numpy()
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u):]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        cross = ra != rb
        if not cross.any():
            break
        np.minimum.at(parent, np.maximum(ra, rb)[cross], np.minimum(ra, rb)[cross])
        while not np.array_equal(jumped := parent[parent], parent):
            parent = jumped
    id_type = e.schema["u"].dataType
    return e.sparkSession.createDataFrame(
        pa.table({"node": nodes, "component": nodes[parent]}),
        schema=StructType([StructField("node", id_type), StructField("component", id_type)]),
    )


def _star_loop(e: DataFrame, n0: int, *, max_iter: int = 30) -> DataFrame:
    """Large-star/small-star rounds over a canonical (_canon), already
    materialized edge set of ``n0`` rows, until the star-forest fixpoint;
    returns (node, component)."""
    # With AQE off and right-sized shuffle partitions (sized_loop_conf)
    # each round's eager materialization is ONE job, and the star-forest
    # probe (converged iff no node appears as BOTH a source and a target
    # — one union + one groupBy) reads materialized blocks only.
    with sized_loop_conf(e.sparkSession, n0):
        for _ in range(max_iter):
            flags = (
                e.select(F.col("u").alias("n"), F.lit(1).alias("_o"),
                         F.lit(0).alias("_i"))
                .union(e.select(F.col("v").alias("n"), F.lit(0).alias("_o"),
                                F.lit(1).alias("_i")))
                .groupBy("n")
                .agg(F.max("_o").alias("o"), F.max("_i").alias("i"))
            )
            if flags.filter((F.col("o") == 1) & (F.col("i") == 1)).isEmpty():
                break
            e = cut_lineage(_round(e), eager=True)
        else:  # pragma: no cover - max_iter tuned far above O(log² n) bound
            raise RuntimeError(
                f"connected_components: no convergence in {max_iter} rounds"
            )
    # At the fixpoint the edge set is a star forest: (member, root) with
    # root = component min. Roots map to themselves.
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return members.union(roots).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    *,
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    minimum node id reachable from it. Isolated nodes (absent from the edge
    list) are the caller's to union in — the operator never sees them.

    The canonical edge set is cut eagerly and counted once. Up to
    DRIVER_CC_MAX_EDGES edges it is labelled on the driver
    (``_driver_components``); above that the distributed large-star /
    small-star loop runs (``_star_loop``). Its convergence = the edge set
    is a star forest (no target node also has an outgoing edge), the
    algorithm's unique fixpoint shape — checked with an empty-probe
    semi-join per round, so no confirm round is wasted re-running the
    stars; the loop's driver sees only that boolean.
    """
    # Materialize the canonical edge set before labelling: the loop's
    # round 1 references it from several union/join branches, so leaving
    # the (possibly expensive — e.g. a full LSH pipeline) upstream lazy
    # would re-evaluate it per branch, and the driver path reads it twice
    # (count, collect). EAGER checkpoints (r14): the r13 lazy
    # probe-fusion variant (rounds checkpoint lazily, the star-forest
    # probe materializes them as a side effect, 1 job/round instead of 2)
    # saved ~7 jobs/query on an idle host but the driver measured the
    # whole CC family ~2x slower at 32 cores under host contention
    # (neardup_clusters 4.7 -> 9.1 s, embedding_clusters 4.4 -> 12.2 s,
    # scaling ratios 0.43-0.58) — a cold-JVM load-16 A/B
    # (tools/coldq_device_revert.json) adjudicated the revert; eager was
    # the r11/r12 form the driver measured healthy twice.
    # NOTE on AQE in the rounds: the r10 AQE-off experiment (blanket AND
    # loop-scoped) made CC *slower* here — embedding_clusters 4.87 -> 8.0 s,
    # neardup_clusters 5.1 -> 6.0 s at sf0.1 — because each round is a
    # ~6-exchange DAG whose coalesced reduce stages AQE compacts; the job
    # floor it adds is cheaper than the uncoalesced task launches it
    # avoids. CC keeps AQE OUTSIDE the loop; inside, sized_loop_conf's
    # right-sized partitions are the missing half (see its docstring).
    e = cut_lineage(
        _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))),
        eager=True,
    )
    # AQE off: a count over checkpointed blocks is one job, not AQE's two
    # (map stage + result)
    with scoped_conf(e.sparkSession, {AQE: "false"}):
        n0 = e.count()
    if n0 <= DRIVER_CC_MAX_EDGES:
        return _driver_components(e)
    return _star_loop(e, n0, max_iter=max_iter)


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame | None,
    id_col: str,
    *,
    pair_cols: tuple[str, str] = ("d1", "d2"),
    components: DataFrame | None = None,
) -> DataFrame:
    """Corpus after fuzzy dedup: one survivor (minimum id) per near-dup
    component, everything un-paired kept as-is.

    ``pairs`` is any near-dup pair table (minhash_lsh_pairs /
    simhash_neardup_pairs / similar_pairs). The anti-join keys on the
    component *member* set minus roots — shuffle volume tracks the duplicate
    count, not the corpus.

    A pipeline that needs clusters AND survivors should run
    ``connected_components`` once and pass the result as ``components``
    (node, component) — otherwise this operator re-derives the components
    (and re-evaluates the whole pair pipeline) from ``pairs``.
    """
    if components is None:
        if pairs is None:
            raise ValueError("dedup_survivors needs pairs or precomputed components")
        components = connected_components(pairs, *pair_cols)
    losers = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def fuzzy_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    pair_cols: tuple[str, str] = ("d1", "d2"),
) -> tuple[DataFrame, DataFrame]:
    """(clusters, survivors) from ONE pair table and ONE CC run — the
    composed form of the neardup_clusters / neardup_survivors queries.
    ``connected_components`` checkpoints the (possibly expensive — e.g. a
    full LSH pipeline) pair plan at entry, so the pair table is evaluated
    exactly once and both outputs derive from the same materialized
    component table. Clusters: (node, component); survivors: ``df`` minus
    non-root members."""
    comp = cut_lineage(
        connected_components(pairs, *pair_cols),
        eager=False,
    )
    survivors = dedup_survivors(df, None, id_col, components=comp)
    return comp, survivors


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """Per-group distinct item pairs ``(group, u, v)`` with ``u < v`` — the
    co-occurrence/edge-build primitive under market-basket and co-purchase
    graphs: dedupe ``(group, item)`` INSIDE a group-key partitioning, then
    an equi-join on the group key with a ``u < v`` residual.

    Plan shape (r8 rewrite): ``repartition(group)`` + ``dropDuplicates``
    instead of a plain ``distinct()``. HashPartitioning(group) satisfies
    the dedupe aggregate's ClusteredDistribution((group, item)) — a
    partitioning on a SUBSET of the grouping keys is a valid clustering —
    and the join keyed on ``group`` then needs NO further exchange, so
    each side shuffles the narrow fact columns exactly once where the
    ``distinct()`` form shuffled twice (once on (g, i) for the dedupe,
    again on g for the join). Measured (tools A/B, min-of-2, idle host):
    x10 pair build 6.2 -> 2.6 s, degree_dist 9.9 -> 6.5 s, basket
    8.3 -> 3.3 s; sf0.1 wins ~25% across the same three. Tradeoff: the
    dedupe's map-side partial aggregation now runs AFTER the exchange, so
    a corpus where (group, item) repeats heavily shuffles the duplicates
    it would previously have pre-collapsed — bounded by per-group row
    count, and the win reverses only when the duplicate rate is extreme.

    The r7 set-expansion form (one ``collect_set`` per group, pairs
    expanded row-locally over the sorted array: one exchange, but the
    aggregation buffers whole baskets and the explode materializes pair
    structs outside codegen) was A/B-measured against this one (min-of-2
    on local[32]) and removed: within noise at sf0.1 (basket_pairs
    3.37/3.34, triangle edge build 9.1/10.7s either way), while at sf1 the
    self-join won ALL four consumers by 25-30% (basket_pairs 23.0 ->
    16.3s, triangle_count 53.6 -> 40.7s, copurchase_lift 22.1 -> 15.8s,
    degree_distribution 27.7 -> 19.4s). Pair blowup is |group|², bounded
    by basket size, never corpus size. NULL group keys are filtered
    explicitly (join equality would drop them anyway; ADVICE r7)."""
    from pyspark.sql import functions as F

    gi = (
        df.filter(F.col(group_col).isNotNull())
        .select(group_col, item_col)
        .repartition(F.col(group_col))
        .dropDuplicates([group_col, item_col])
    )
    a = gi.select(F.col(group_col).alias("_g"), F.col(item_col).alias("u"))
    b = gi.select(F.col(group_col).alias("_g2"), F.col(item_col).alias("v"))
    return a.join(
        b, (F.col("_g") == F.col("_g2")) & (F.col("u") < F.col("v"))
    ).select(F.col("_g").alias(group_col), "u", "v")


def triangle_count(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Exact triangle count via degree-ordered edge orientation (Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last Reducer",
    WWW'11): orient every undirected edge from its lower-(degree, id)
    endpoint to the higher, then count, per oriented edge (u, v), the
    common out-neighbors |N+(u) ∩ N+(v)|. The orientation caps every
    node's out-degree at O(sqrt(m)), so the per-edge neighbor arrays —
    the structure that explodes on power-law graphs if keyed naively
    (the 'last reducer' holds the celebrity node) — are bounded
    regardless of skew; each triangle is counted exactly once because its
    two lowest-ordered vertices define a unique oriented edge and the
    third vertex is a common out-neighbor. Plan: distinct + degree
    groupBy + two degree joins + adjacency groupBy + two |E|-row keyed
    joins; the intersect is row-local codegen, the wedge set is never
    materialized. Returns one row (n_triangles BIGINT)."""
    # r14: every multiply-referenced subtree is EAGERLY cut (e: 3 branches,
    # deg: 2 join probes, adj below: 2 joins), the discipline `oriented`
    # already had. The r12/r13 form relied on Catalyst ReuseExchange to
    # collapse the repeated edge build — which held under the ckpt table
    # memo but NOT under the r14 persist() default (InMemoryRelation
    # leaves break exchange canonical-equality): the r12 x10 A/B measured
    # exactly this query as the persist casualty, 21.9 s vs 9.9 s
    # (tools/ab_cachemode_sf1.json). The cuts cost three tiny
    # materialization jobs and make the operator memo-agnostic: each
    # fact-scale subtree is computed exactly once under ANY cache mode —
    # verified interleaved at x10 (tools/ab_triangle_cuts_sf1.json).
    e = cut_lineage(
        edges.select(F.greatest(src, dst).alias("a"), F.least(src, dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        eager=True,
    )
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = cut_lineage(
        und.groupBy("a").agg(F.count("*").alias("deg")).withColumnRenamed("a", "n"),
        eager=True,
    )
    ranked = (
        e.join(deg.withColumnRenamed("deg", "deg_a"), e.a == F.col("n"))
        .drop("n")
        .join(deg.withColumnRenamed("deg", "deg_b"), e.b == F.col("n"))
        .drop("n")
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = cut_lineage(
        ranked.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("d"),
        ),
        eager=True,  # referenced three times below — materialize once
    )
    # Adjacency-intersection counting: every triangle has a unique pair of
    # lowest-ordered vertices (u, v) with an oriented edge u->v, and its
    # third vertex is a common OUT-neighbor of both — so
    # triangles = sum over oriented edges (u, v) of |N+(u) ∩ N+(v)|.
    # Materializing the wedge set (sum of squared out-degrees — 41M rows on
    # the sf0.1 co-purchase graph) and shuffling it into a closing-edge
    # semi-join is strictly worse: the intersection form moves only |E|
    # rows carrying O(sqrt(m))-bounded neighbor arrays (orientation caps
    # out-degree), and the intersect itself is row-local inside codegen.
    # Measured on the sf0.1 co-purchase graph: full query 16.9s -> 8.3s
    # (the remaining cost is the edge BUILD, not this count).
    adj = cut_lineage(
        oriented.groupBy("s").agg(F.collect_list("d").alias("nbrs")),
        eager=True,  # referenced by both closing joins below
    )
    with_u = oriented.join(adj, on="s").select(
        F.col("d").alias("v"), F.col("nbrs").alias("nbrs_u")
    )
    closed = with_u.join(adj.withColumnRenamed("s", "v"), on="v").select(
        F.size(F.array_intersect("nbrs_u", "nbrs")).alias("n")
    )
    return closed.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_triangles")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    scale: int = 1_000_000_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list: ranks carry
    ``scale`` as a BIGINT factor, per-edge contribution is rank div
    out-degree (floor division), damping is (85 * inflow) div 100 — no
    float ever accumulates, so the ``iters``-round result is bit-identical
    across engines, partitionings, and retries (the declared query's
    oracle unrolls the same rounds as a CTE chain). The (src, dst, deg)
    edge list materializes once (localCheckpoint); each round is ONE keyed
    shuffle of (dst, contrib) with map-side partial sums — the
    GraphX/Pregel shape, declaratively. Returns (node, rank) with rank at
    scale ``scale``. Single shared implementation for the certified query
    and the scale probes, so SCALE.md numbers always describe the shipped
    operator.

    The node set is src ∪ dst, and every round rebuilds ranks over ALL
    nodes (left join + coalesce(inflow, 0)) — a node with no in-edges
    keeps its teleport mass and keeps CONTRIBUTING, rather than silently
    vanishing after round 1 as an inner-join formulation would make it.
    Dangling nodes (no out-edges) keep their rank but redistribute
    nothing — the simplified leak model; document, don't hide."""
    # Materialize the (possibly expensive) edge pipeline exactly ONCE,
    # under AQE; e / nodes_n then derive from the checkpointed RDD, so the
    # three entry materializations don't re-run the upstream join+distinct
    # per checkpoint (the r10 first cut did, and read 8.7 s / 30 jobs).
    edges = cut_lineage(
        edges.select(F.col(src).alias(src), F.col(dst).alias(dst)),
        eager=True,
    )
    deg = edges.groupBy(src).agg(F.count("*").alias("deg"))
    # The rounds run under sized_loop_conf with EAGER round checkpoints —
    # lazy rounds re-planned under AQE measured 53 jobs / 7.97 s for the
    # 5-iteration bipartite query vs 5 jobs / ~5 s without; r14 adds the
    # data-sized loop width (was: AQE off at session width — 32-wide task
    # storms per round, part of the driver-measured contended-host
    # anti-scaling family, pagerank_bipartite scaling ratio 0.63).
    e = cut_lineage(edges.join(deg, src), eager=True)
    n_e = e.count()
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count("*").alias("n"))
    nodes_n = cut_lineage(
        nodes.crossJoin(F.broadcast(n_nodes)), eager=True
    )
    ranks = nodes_n.select(
        "node", "n", F.expr(f"cast({scale} as bigint) div n").alias("rank")
    )
    base = f"(15 * cast({scale} as bigint) div 100) div n"
    with sized_loop_conf(edges.sparkSession, n_e):
        for _ in range(iters):
            inflow = (
                e.join(ranks, e[src] == ranks.node)
                .select(F.col(dst), F.expr("rank div deg").alias("contrib"))
                .groupBy(dst)
                .agg(F.sum("contrib").alias("inflow"))
            )
            ranks = (
                nodes_n.join(inflow, nodes_n.node == inflow[dst], "left")
                .select(
                    "node",
                    "n",
                    (
                        F.expr(base)
                        + F.expr("(85 * coalesce(inflow, 0)) div 100")
                    ).alias("rank"),
                )
            )
            ranks = cut_lineage(ranks, eager=True)
    return ranks.select("node", "rank")


def k_hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Minimum hop distance (0..k) from a seed set for every node
    reachable within k hops — frontier-based BFS as k rounds of join +
    min-merge, the Pregel shortest-path shape expressed declaratively.
    Only the NEWLY-reached frontier (nodes whose min distance equals the
    current hop) expands in the next round, so each round's join touches
    frontier-adjacent edges, not the whole reached set — on high-diameter
    graphs round cost tracks the frontier, and on small-world graphs the
    frontier collapses after 2-3 hops. All distances are integers, so the
    result is engine-exact (an unrolled CTE chain oracles it). Lineage is
    cut per round (the CC/pagerank discipline). Returns (node, dist)."""
    # Materialize the edge list ONCE under AQE (it may be a real pipeline
    # — khop_trade_graph's is a lineitem-orders join + distinct), then run
    # the rounds with eager checkpoints under sized_loop_conf: per-round
    # inputs are tiny known RDDs where adaptive re-planning is pure job
    # floor (25 -> 8 jobs at sf0.1, wall unchanged). r14: the r13 form ran
    # the rounds AQE-off at SESSION shuffle width — 32-wide task storms
    # per round that the driver measured anti-scaling under host
    # contention (khop_trade_graph 28.8 s at 32 cores vs 2.6 s at 8, the
    # worst ratio of the round). sized_loop_conf derives the width from
    # the measured edge count instead (the CC loop's contract: capped at
    # the session width, so a 10^10-edge graph keeps full scale-out).
    e = cut_lineage(edges, eager=True)
    n0 = e.count()
    dist = cut_lineage(
        seeds.select(F.col(node_col).alias("node"), F.lit(0).alias("dist")).distinct(),
        eager=True,
    )
    frontier = dist
    with sized_loop_conf(edges.sparkSession, n0):
        for h in range(1, k + 1):
            nxt = (
                e.join(frontier, e[src] == frontier.node)
                .select(F.col(dst).alias("node"), F.lit(h).alias("dist"))
                .distinct()
            )
            dist = cut_lineage(
                dist.unionByName(nxt).groupBy("node").agg(
                    F.min("dist").alias("dist")
                ),
                eager=True,
            )
            frontier = dist.filter(F.col("dist") == h)
    return dist
