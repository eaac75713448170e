"""Connected-components operator (operators/graph.py): correctness on known
topologies, a property test against a pure-Python union-find reference, and
the survivor anti-join contract."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from numaflow_spark.operators.graph import connected_components, dedup_survivors


def cc_dict(spark, edges):
    df = spark.createDataFrame(edges, "u long, v long")
    return {
        r.node: r.component for r in connected_components(df).collect()
    }


def union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    return {x: min(y for y in parent if find(y) == find(x)) for x in parent}


def test_chain_star_pair_selfloop(spark):
    got = cc_dict(spark, [(2, 1), (2, 3), (3, 4), (10, 11), (13, 10), (20, 21), (7, 7)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 13: 10, 20: 20, 21: 20}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "u long, v long")
    assert connected_components(df).count() == 0


def test_long_chain_converges_in_log_rounds(spark):
    # a 64-node path is the adversarial case for label propagation
    # (diameter 63); large-star/small-star must still converge inside the
    # operator's max_iter
    edges = [(i, i + 1) for i in range(63)]
    got = cc_dict(spark, edges)
    assert got == {i: 0 for i in range(64)}


@pytest.mark.parametrize("seed", [11, 17])
def test_random_graph_matches_union_find(spark, seed):
    rnd = random.Random(seed)
    edges = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(45)]
    edges = [e for e in edges if e[0] != e[1]]
    assert cc_dict(spark, edges) == union_find(edges)


def _both_paths(df):
    """(driver labelling, star loop) results for one raw edge frame, each
    path called directly on the same canonical, materialized edge set."""
    from numaflow_spark.operators.graph import (
        _canon,
        _driver_components,
        _star_loop,
        cut_lineage,
    )

    e = cut_lineage(_canon(df))
    return _driver_components(e), _star_loop(e, e.count())


def _giant_component_edges(rnd, n_nodes, n_edges):
    """A random graph whose edges mostly fall in one giant component (avg
    degree > 1), plus a few small side components on disjoint ids."""
    ids = rnd.sample(range(1, 10**6), n_nodes)
    edges = [(rnd.choice(ids), rnd.choice(ids)) for _ in range(n_edges)]
    side = [(2 * 10**6 + i, 2 * 10**6 + i + 1) for i in range(0, 12, 3)]
    return edges + side


@pytest.mark.parametrize(
    "case",
    ["giant_3", "giant_29", "chain64", "chain64_reversed", "messy", "empty"],
)
@pytest.mark.parametrize("ddl", ["u int, v int", "u bigint, v bigint"])
def test_driver_labelling_matches_star_loop(spark, case, ddl):
    """The two CC paths agree row for row and in schema: random graphs with
    a giant component, the 64-node chain in both id orders, self-loops
    with duplicate and reversed edges, and empty input — for int and
    bigint ids, whose type both outputs must keep."""
    rnd = random.Random(case)
    edges = {
        "giant_3": lambda: _giant_component_edges(rnd, 300, 420),
        "giant_29": lambda: _giant_component_edges(rnd, 150, 260),
        "chain64": lambda: [(i, i + 1) for i in range(63)],
        "chain64_reversed": lambda: [(64 - i, 63 - i) for i in range(63)],
        "messy": lambda: [(1, 2), (2, 1), (1, 2), (3, 3), (4, 4), (4, 5),
                          (5, 4), (9, 7), (7, 9), (7, 7), (11, 11)],
        "empty": lambda: [],
    }[case]()
    df = spark.createDataFrame(edges, ddl)
    driver, loop = _both_paths(df)
    assert driver.schema == loop.schema
    want_type = df.schema["u"].dataType
    assert [f.dataType for f in driver.schema] == [want_type, want_type]
    got = sorted(tuple(r) for r in driver.collect())
    assert got == sorted(tuple(r) for r in loop.collect())
    assert dict(got) == union_find([e for e in edges if e[0] != e[1]])


def test_graph_above_bound_takes_the_loop(spark, monkeypatch):
    """Above DRIVER_CC_MAX_EDGES connected_components runs the distributed
    loop and never the driver path, whose edge-sized collect the loop
    does not make: its driver traffic stays one-row results."""
    from pyspark.sql import DataFrame

    from numaflow_spark.operators import graph

    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], "u long, v long")

    def no_driver(e):  # pragma: no cover - failure path
        raise AssertionError("driver labelling above the bound")

    monkeypatch.setattr(graph, "_driver_components", no_driver)
    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 39)
    real_collect = DataFrame.collect

    def guarded(self):
        rows = real_collect(self)
        assert len(rows) <= 1, "the loop collected a multi-row result"
        return rows

    monkeypatch.setattr(DataFrame, "collect", guarded)
    out = graph.connected_components(edges)
    monkeypatch.setattr(DataFrame, "collect", real_collect)
    assert {(r.node, r.component) for r in out.collect()} == {(i, 0) for i in range(41)}


def test_graph_at_bound_takes_the_driver_path(spark, monkeypatch):
    from numaflow_spark.operators import graph

    def no_loop(e, n0, **kw):  # pragma: no cover - failure path
        raise AssertionError("distributed loop at the bound")

    monkeypatch.setattr(graph, "_star_loop", no_loop)
    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 3)
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8), (2, 1)], "u long, v long")
    got = {(r.node, r.component) for r in graph.connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}


def test_neardup_clusters_job_budget(spark):
    """neardup_clusters at sf0.01 launches at most 12 Spark jobs: the LSH
    pair build reads one cut doc-level aggregate and the pair graph is
    labelled on the driver. A change that brings back per-consumer
    re-derivation or the distributed loop on this 25-edge graph fails."""
    from numaflow_spark.queries import QUERIES

    sc = spark.sparkContext
    group = "job-budget-neardup-clusters"
    sc.setJobGroup(group, group)
    try:
        rows = QUERIES["neardup_clusters"](spark, "/root/testdata/sf0.01").toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(rows) == 47
    assert len(jobs) <= 12, f"neardup_clusters ran {len(jobs)} jobs"


def test_dedup_survivors_keeps_min_and_isolated(spark):
    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "d1 long, d2 long")
    kept = {r.doc_id for r in dedup_survivors(docs, pairs, "doc_id").collect()}
    assert {1, 10} <= kept and not {2, 3, 11} & kept
    assert kept >= set(range(30)) - {1, 2, 3, 10, 11}


def test_fuzzy_dedup_composes_one_cc_run(spark):
    """fuzzy_dedup returns the same clusters as connected_components and the
    same survivors as dedup_survivors, from one shared component table —
    and passing precomputed components skips the second CC entirely."""
    from numaflow_spark.operators.graph import fuzzy_dedup

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "d1 long, d2 long")
    comp, survivors = fuzzy_dedup(docs, pairs, "doc_id")
    got_comp = {(r.node, r.component) for r in comp.collect()}
    want_comp = {(r.node, r.component) for r in connected_components(pairs, "d1", "d2").collect()}
    assert got_comp == want_comp
    kept = {r.doc_id for r in survivors.collect()}
    want_kept = {r.doc_id for r in dedup_survivors(docs, pairs, "doc_id").collect()}
    assert kept == want_kept


def test_dedup_survivors_requires_pairs_or_components(spark):
    docs = spark.range(0, 5).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="pairs or precomputed components"):
        dedup_survivors(docs, None, "doc_id")


def test_cc_driver_traffic_is_scalar_only(spark, monkeypatch):
    """The iteration loop may collect only per-round fingerprints (one row,
    two columns) — never edge data."""
    from pyspark.sql import DataFrame

    real_collect = DataFrame.collect

    def guarded(self):
        rows = real_collect(self)
        assert len(rows) <= 1, "CC collected a multi-row result on the driver"
        return rows

    monkeypatch.setattr(DataFrame, "collect", guarded)
    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], "u long, v long")
    out = connected_components(edges)
    monkeypatch.setattr(DataFrame, "collect", real_collect)
    assert out.groupBy("component").count().count() == 1


def test_k_hop_distances_vs_python_bfs(spark):
    """Frontier BFS must equal a reference Python BFS on a graph with
    cycles, multiple shortest paths, unreachable nodes, and a seed set of
    size 2 — for every k in 0..4."""
    from collections import deque

    from numaflow_spark.operators.graph import k_hop_distances

    E = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 5), (5, 6), (7, 8),
         (1, 5), (6, 3), (9, 9)]
    seeds = [1, 9]
    adj: dict[int, list[int]] = {}
    for s, d in E:
        adj.setdefault(s, []).append(d)

    def bfs(limit):
        out = {s: 0 for s in seeds}
        q = deque(seeds)
        while q:
            u = q.popleft()
            if out[u] >= limit:
                continue
            for v in adj.get(u, []):
                if v not in out:
                    out[v] = out[u] + 1
                    q.append(v)
        return out

    edges = spark.createDataFrame(E, "src long, dst long")
    seed_df = spark.createDataFrame([(s,) for s in seeds], "node long")
    for k in range(5):
        got = {r.node: r.dist for r in k_hop_distances(edges, seed_df, k).collect()}
        assert got == bfs(k), f"k={k}"


def test_pagerank_keeps_no_inflow_and_dangling_nodes(spark):
    """A chain graph 1->2: node 1 has no in-edges and node 2 is dangling.
    Both must appear in every round's output with the hand-computed
    integer values (1 keeps its teleport mass; 2 receives 1's full
    contribution), instead of vanishing through an inner-join rebuild."""
    from numaflow_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    scale = 1_000_000_000
    got = {r.node: r.rank for r in pagerank(edges, iters=2, scale=scale).collect()}
    base = (15 * scale // 100) // 2          # 75_000_000
    r1_1 = base                               # no inflow
    r1_2 = base + (85 * (scale // 2)) // 100  # inflow = r0(1) div deg(1)
    r2_2 = base + (85 * r1_1) // 100          # round 2 uses round-1 ranks
    assert got == {1: r1_1, 2: r2_2}
    assert r1_2 != r2_2  # sanity: the rounds genuinely differ


def test_durable_checkpoint_path(spark, tmp_path):
    """With ``spark.numaflow_spark.checkpoint.dir`` set (what
    scale.py::cluster_conf wires), cut_lineage must produce identical
    results to the localCheckpoint default AND actually write durable
    checkpoint data under the directory — the 100 TB fault-tolerance knob.
    CC's and BPE's per-round cuts both go durable with zero per-call
    plumbing."""
    import os

    from numaflow_spark.operators.bpe import train_bpe

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], ["u", "v"]
    )
    vocab = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        ["word", "freq"],
    )
    base = {tuple(r) for r in connected_components(edges).collect()}
    merges_local, _ = train_bpe(vocab, 3)

    ckpt = str(tmp_path / "ckpt")

    def n_written():
        return sum(len(fs) for _r, _d, fs in os.walk(ckpt))

    spark.conf.set("spark.numaflow_spark.checkpoint.dir", ckpt)
    try:
        durable = {tuple(r) for r in connected_components(edges).collect()}
        assert durable == base
        n_cc = n_written()
        assert n_cc, "durable checkpoint dir is empty — checkpoint() not used"
        merges_durable, _ = train_bpe(vocab, 3)
        assert merges_durable == merges_local
        assert n_written() > n_cc
    finally:
        spark.conf.unset("spark.numaflow_spark.checkpoint.dir")


def test_checkpoint_dir_follows_the_conf(spark, tmp_path):
    """Re-pointing ``spark.numaflow_spark.checkpoint.dir`` on a live
    SparkContext re-points the durable checkpoints: conf → a, cut, conf
    → b, cut leaves checkpoint files under both directories."""
    import os

    from numaflow_spark.operators.graph import cut_lineage

    def n_files(d):
        return sum(len(fs) for _r, _d, fs in os.walk(d))

    key = "spark.numaflow_spark.checkpoint.dir"
    try:
        for name in ("a", "b"):
            d = str(tmp_path / name)
            spark.conf.set(key, d)
            assert cut_lineage(spark.range(10)).count() == 10
            assert n_files(d), f"no checkpoint written under {name}"
    finally:
        spark.conf.unset(key)


def test_cluster_conf_checkpoint_dir():
    from numaflow_spark.scale import cluster_conf

    assert "spark.numaflow_spark.checkpoint.dir" not in cluster_conf()
    conf = cluster_conf(checkpoint_dir="hdfs://nn/ckpt")
    assert conf["spark.numaflow_spark.checkpoint.dir"] == "hdfs://nn/ckpt"


def test_cooccurrence_pairs_matches_self_join(spark):
    """The edge build is pair-for-pair identical to the raw reference
    self-join, including multi-line duplicate collapse."""
    from numaflow_spark.operators.graph import cooccurrence_pairs

    rows = [
        (1, 10), (1, 20), (1, 30), (1, 10),   # dup item in group
        (2, 20), (2, 20),                      # single-item group: no pairs
        (3, 5),                                # singleton: no pairs
        (4, 7), (4, 3),                        # unsorted input
    ]
    df = spark.createDataFrame(rows, "g long, item long")
    got = sorted(
        tuple(r) for r in cooccurrence_pairs(df, "g", "item").collect()
    )
    a, b = df.alias("a"), df.alias("b")
    want = sorted(
        tuple(r)
        for r in a.join(
            b,
            (F.col("a.g") == F.col("b.g")) & (F.col("a.item") < F.col("b.item")),
        )
        .select("a.g", F.col("a.item").alias("u"), F.col("b.item").alias("v"))
        .distinct()
        .collect()
    )
    assert got == want
    assert (1, 10, 20) in got and (4, 3, 7) in got
    assert not any(g in (2, 3) for g, _, _ in got)


def test_cooccurrence_pairs_drops_null_group(spark):
    """NULL group keys emit no pairs — parity with the self-join formulation
    (``a.g == b.g`` never matches NULL), which groupBy alone would break by
    keeping a NULL-key group (ADVICE r7)."""
    from numaflow_spark.operators.graph import cooccurrence_pairs

    rows = [(None, 1), (None, 2), (None, 3), (7, 4), (7, 5)]
    df = spark.createDataFrame(rows, "g long, item long")
    got = sorted(tuple(r) for r in cooccurrence_pairs(df, "g", "item").collect())
    assert got == [(7, 4, 5)]


def test_sized_loop_conf_restores_confs(spark):
    """sized_loop_conf sizes shuffle width from the measured row count;
    it and every scoped_conf block restore their confs on exit — including
    on exception, and a key that was unset before is unset again (a shared
    bench/driver session must never stay mutated)."""
    from numaflow_spark.operators.graph import AQE, scoped_conf, sized_loop_conf

    before = {
        k: spark.conf.get(k)
        for k in (
            AQE,
            "spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    unset = "spark.numaflow_spark.test.scoped"
    assert spark.conf.get(unset, None) is None
    with sized_loop_conf(spark, 909):
        assert spark.conf.get(AQE) == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    for k, v in before.items():
        assert spark.conf.get(k) == v
    try:
        with sized_loop_conf(spark, 10**9):
            # 2e9/5e5 rows -> capped at the session's configured width
            cap = int(before["spark.sql.shuffle.partitions"])
            assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cap
            with scoped_conf(spark, {unset: "x", AQE: "true"}):
                assert spark.conf.get(unset) == "x"
                raise RuntimeError("boom")
    except RuntimeError:
        pass
    for k, v in before.items():
        assert spark.conf.get(k) == v
    assert spark.conf.get(unset, None) is None


def test_materialize_is_identity_under_lazy_plans(spark):
    """Inside lazy_plans() materialize hands back the very same DataFrame
    (plan audits see the query's lazy plan); on exit the flag is restored,
    so the cut happens again."""
    from numaflow_spark.operators.graph import AQE, lazy_plans, materialize

    df = spark.range(5)
    aqe = spark.conf.get(AQE)
    with lazy_plans():
        with lazy_plans():
            assert materialize(df) is df
        assert materialize(df, eager=False) is df  # nested exit keeps it lazy
        assert materialize(df, aqe=False) is df
    cut = materialize(df, aqe=False)
    assert cut is not df
    assert sorted(r.id for r in cut.collect()) == [0, 1, 2, 3, 4]
    assert spark.conf.get(AQE) == aqe


def test_conf_mutation_lives_in_scoped_conf():
    """Static, Spark-free: across every module under numaflow_spark/, the
    root-level scripts and tools/, the only ``spark.conf.set`` calls are
    the set/restore pair in graph.scoped_conf and load_table's two
    defensive sets (the explicit allow-list below), the only
    ``streaming_checkpoint_conf`` call is compiler.start_stream's (every
    stream start goes through it), and no source file names the retired
    plan-audit env switch (graph.lazy_plans replaced it). load_table's
    sets stay because a driver may run queries() on a session it built
    itself: nanosAsLong and the UTC zone are what make the scans
    oracle-equivalent there, and they must outlive the call — every later
    query on that session reads the same tables."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent

    def conf_set(call):
        return (isinstance(call.func, ast.Attribute)
                and call.func.attr == "set"
                and isinstance(call.func.value, ast.Attribute)
                and call.func.value.attr == "conf")

    def checkpoint_conf(call):  # a bare or a module-qualified call
        name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
        return name == "streaming_checkpoint_conf"

    def calls(node, match, fn=None):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call) and match(child):
                yield fn
            inner = child.name if isinstance(child, ast.FunctionDef) else fn
            yield from calls(child, match, inner)

    scanned = [*(root / "numaflow_spark").rglob("*.py"),
               *root.glob("*.py"), *(root / "tools").glob("*.py")]
    trees = {str(path.relative_to(root)): ast.parse(path.read_text())
             for path in sorted(scanned)}

    def sites(match):
        return [(path, fn) for path, tree in trees.items()
                for fn in calls(tree, match)]

    allowed = [("numaflow_spark/operators/graph.py", "scoped_conf")] * 2 + [
        ("numaflow_spark/session.py", "load_table")] * 2
    assert sites(conf_set) == allowed, sites(conf_set)
    assert sites(checkpoint_conf) == [
        ("numaflow_spark/compiler.py", "start_stream")], sites(checkpoint_conf)

    knob = "SPARK_GRAFT_NO_AQE_" + "MATERIALIZE"  # split: not named here
    sources = [*root.glob("*.py"),
               *(p for d in ("numaflow_spark", "tools", "tests")
                 for p in (root / d).rglob("*.py"))]
    assert not [str(p) for p in sources if knob in p.read_text()]
