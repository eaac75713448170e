"""Cluster-scale preset: sizing math and config invariants, and the preset
actually applies to a session builder (keys are all valid Spark confs); the
session's SPARK_GRAFT_CACHE_TABLES flag parses strictly; the default
driver heap follows the host's memory."""

from __future__ import annotations

import pytest

from numaflow_spark.scale import cluster_conf, partitions_for


def test_sizing_tracks_fleet():
    small = cluster_conf(executors=10, cores_per_executor=4)
    big = cluster_conf(executors=1000, cores_per_executor=8)
    assert int(small["spark.sql.shuffle.partitions"]) == 80
    assert int(big["spark.sql.shuffle.partitions"]) == 16000
    assert big["spark.executor.instances"] == "1000"


def test_streaming_adds_rocksdb_state_store():
    conf = cluster_conf(streaming=True)
    assert "RocksDBStateStoreProvider" in conf["spark.sql.streaming.stateStore.providerClass"]
    assert conf["spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"] == "true"
    # streaming sizes state partitions below batch shuffle width
    assert int(conf["spark.sql.shuffle.partitions"]) < int(
        cluster_conf(streaming=False)["spark.sql.shuffle.partitions"]
    )


def test_partitions_for_volume():
    assert partitions_for(0) == 1
    assert partitions_for(128 * 1024 * 1024) == 1
    assert partitions_for(128 * 1024 * 1024 + 1) == 2
    # 100 TB at 128m splits ≈ 800k tasks
    assert partitions_for(100 * 1024**4) == 819200


def test_preset_keys_accepted_by_builder(spark):
    # every key must be a settable Spark conf name (builder accepts any
    # string; validate the runtime-settable SQL ones against the session)
    conf = cluster_conf(streaming=False)
    for k in ("spark.sql.adaptive.advisoryPartitionSizeInBytes",
              "spark.sql.files.maxPartitionBytes"):
        assert k in conf
        spark.conf.get(k, conf[k])  # resolvable without error


def test_streaming_state_partitions_rule():
    from numaflow_spark.scale import streaming_state_partitions

    # the bench stage: 8 keys — same width (4) at BOTH driver core counts,
    # so the metric basis is stable across the scaling run
    assert streaming_state_partitions(8, 32) == 4
    assert streaming_state_partitions(8, 8) == 4
    # key-cardinality clamp only bites when keys are few
    assert streaming_state_partitions(10_000, 32) == 16
    # undeclared key count: the cores ceiling alone
    assert streaming_state_partitions(None, 32) == 16
    assert streaming_state_partitions(None, 4) == 2
    # floor 2 keeps the multi-partition contract even on tiny hosts
    assert streaming_state_partitions(1, 2) == 2
    assert streaming_state_partitions(8, 1) == 2


def test_streaming_checkpoint_conf_by_scheme(spark):
    """The FileSystem checkpoint manager for ``file:`` roots only. A
    scheme-less root or Spark's own location resolves through
    ``fs.defaultFS``, as Spark resolves it; other schemes and a session
    that already names a manager keep Spark's choice."""
    from numaflow_spark.operators.graph import scoped_conf
    from numaflow_spark.scale import (CHECKPOINT_MANAGER, FS_CHECKPOINT_MANAGER,
                                      streaming_checkpoint_conf)

    fs = {CHECKPOINT_MANAGER: FS_CHECKPOINT_MANAGER}
    assert streaming_checkpoint_conf(spark, "/tmp/ckpt") == fs
    assert streaming_checkpoint_conf(spark, "file:///tmp/ckpt") == fs
    assert streaming_checkpoint_conf(spark, None) == fs
    for root in ("hdfs://nn:8020/ckpt", "s3a://bucket/ckpt",
                 "abfs://c@acct.dfs.core.windows.net/ckpt"):
        assert streaming_checkpoint_conf(spark, root) == {}, root
    with scoped_conf(spark, {"fs.defaultFS": "hdfs://nn:8020"}):
        assert streaming_checkpoint_conf(spark, "/tmp/ckpt") == {}
        assert streaming_checkpoint_conf(spark, None) == {}
        assert streaming_checkpoint_conf(spark, "file:/tmp/ckpt") == fs
    with scoped_conf(spark, {"spark.sql.streaming.checkpointLocation": "s3a://b/ckpt"}):
        assert streaming_checkpoint_conf(spark, None) == {}
    with scoped_conf(spark, {CHECKPOINT_MANAGER: "com.example.Manager"}):
        assert streaming_checkpoint_conf(spark, "/tmp/ckpt") == {}


@pytest.mark.parametrize("raw, on", [
    (None, False), ("", False), ("0", False), ("false", False),
    ("FALSE", False), (" 1 ", True), ("true", True), ("True", True),
])
def test_cache_tables_flag_values(monkeypatch, raw, on):
    from numaflow_spark.session import cache_tables_enabled

    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_CACHE_TABLES", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", raw)
    assert cache_tables_enabled() is on


@pytest.mark.parametrize("raw", ["off", "yes", "2", "on"])
def test_cache_tables_flag_rejects_typos(monkeypatch, raw):
    """A value outside 1/true/0/false must not silently turn the memo on."""
    from numaflow_spark.session import cache_tables_enabled

    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CACHE_TABLES"):
        cache_tables_enabled()


@pytest.mark.parametrize("mem_kb, cgroup, heap", [
    (16_456_384, None, "7g"),            # this 16 GB host, no cgroup file
    (16_456_384, "max", "7g"),           # unlimited cgroup: MemTotal rules
    (16_456_384, str(6 * 2**30), "3g"),  # a tighter cgroup limit wins
    (512 * 2**20, None, "48g"),          # 512 GiB host: capped at 48g
    (1_000_000, None, "1g"),             # under 2 GiB: never below 1g
])
def test_driver_memory_from_host(monkeypatch, tmp_path, mem_kb, cgroup, heap):
    """Spark-free: the default heap is half of min(MemTotal, memory.max)
    in whole GiB, within [1g, 48g]; SPARK_GRAFT_DRIVER_MEM overrides."""
    from numaflow_spark.session import driver_memory

    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemFree:  123 kB\nMemTotal: {mem_kb} kB\n")
    cgroup_max = tmp_path / "memory.max"
    if cgroup is not None:
        cgroup_max.write_text(cgroup + "\n")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(str(meminfo), str(cgroup_max)) == heap
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert driver_memory(str(meminfo), str(cgroup_max)) == "5g"
