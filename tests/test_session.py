"""Session defaults: shuffle partitions sized to the local master's
cores, and streaming checkpoints that keep their own partition count."""

from __future__ import annotations

import os

from dataeng_azure_spotify_spark.session import _LOCAL_MASTER, get_spark
from dataeng_azure_spotify_spark.streaming.silver import dedup_stream, write_silver_stream

_SP = "spark.sql.shuffle.partitions"


def test_local_master_pattern():
    for m in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert _LOCAL_MASTER.fullmatch(m), m
    for m in ("local-cluster[2,1,1024]", "spark://host:7077", "yarn", "k8s://x"):
        assert not _LOCAL_MASTER.fullmatch(m), m


def test_default_shuffle_partitions_follow_local_cores(spark):
    before = spark.conf.get(_SP)
    try:
        spark.conf.set(_SP, "7")
        s = get_spark(app_name="tests")  # the running local[4] session
        assert s.conf.get(_SP) == str(s.sparkContext.defaultParallelism) == "4"
        get_spark(app_name="tests", shuffle_partitions=3)
        assert s.conf.get(_SP) == "3"  # an explicit count wins
    finally:
        spark.conf.set(_SP, before)


def test_dedup_checkpoint_keeps_its_partition_count(spark, tmp_path):
    """A dedup stream restarted under another shuffle-partition count
    keeps the count (and the state) its checkpoint was started with:
    Spark restores it from the offset log."""
    src, silver, chk = (str(tmp_path / d) for d in ("src", "silver", "chk"))
    schema = "k long, v string"

    def run(rows, partitions):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        spark.conf.set(_SP, str(partitions))
        stream = spark.readStream.schema(schema).parquet(src)
        write_silver_stream(dedup_stream(stream, ["k"]), silver, chk, fmt="parquet")

    before = spark.conf.get(_SP)
    try:
        run([(1, "a"), (2, "b")], 8)
        run([(1, "a-again"), (3, "c")], 2)
    finally:
        spark.conf.set(_SP, before)
    # every one of the 8 state partitions committed the restarted run's
    # batch (state version 2)
    state = os.path.join(chk, "state", "0")
    parts = [d for d in os.listdir(state) if d.isdigit()]
    assert sorted(map(int, parts)) == list(range(8))
    assert all("2.delta" in os.listdir(os.path.join(state, d)) for d in parts)
    got = sorted((r.k, r.v) for r in spark.read.parquet(silver).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
