"""StateFS: the control-plane filesystem abstraction (r11).

Local paths keep the pure-POSIX implementation; ``file:///`` URIs
prove the Hadoop-FileSystem dispatch end-to-end in this sandbox — the
same code path an ``abfss://``/``s3a://`` state dir takes on a real
cluster (the one systemic blocker the r10 verdict named for running
the artifact tier against object stores)."""

from __future__ import annotations

import os

import pytest

from dataeng_azure_spotify_spark.statefs import (
    HadoopStateFS,
    LocalStateFS,
    has_scheme,
    statefs_for,
)


def test_scheme_detection():
    assert has_scheme("file:///tmp/x")
    assert has_scheme("s3a://bucket/key")
    assert has_scheme("abfss://c@a.dfs.core.windows.net/p")
    assert not has_scheme("/tmp/x")
    assert not has_scheme("relative/path")


def test_dispatch(spark, tmp_path):
    assert isinstance(statefs_for(str(tmp_path)), LocalStateFS)
    assert isinstance(
        statefs_for(f"file://{tmp_path}", spark), HadoopStateFS
    )
    # active-session fallback resolves the JVM without an explicit arg
    assert isinstance(statefs_for(f"file://{tmp_path}"), HadoopStateFS)


@pytest.mark.parametrize("scheme", ["local", "hadoop"])
def test_fs_contract(spark, tmp_path, scheme):
    """Both implementations satisfy the same surface: exists / isdir /
    listdir / makedirs / read_bytes / write_atomic / rmtree / rename."""
    base = str(tmp_path / "s")
    fs = (
        LocalStateFS()
        if scheme == "local"
        else HadoopStateFS(spark, f"file://{base}")
    )
    p = base if scheme == "local" else f"file://{base}"
    fs.makedirs(os.path.join(p, "d1"))
    assert fs.isdir(p) and fs.isdir(os.path.join(p, "d1"))
    assert not fs.exists(os.path.join(p, "f1"))
    fs.write_atomic(os.path.join(p, "f1"), b"hello")
    fs.write_atomic(os.path.join(p, "f1"), b"world")  # overwrite ok
    assert fs.read_bytes(os.path.join(p, "f1")) == b"world"
    assert fs.exists(os.path.join(p, "f1"))
    assert not fs.isdir(os.path.join(p, "f1"))
    assert fs.listdir(p) == ["d1", "f1"]
    # no leftover temp files from the atomic writes
    assert all(".tmp-" not in n for n in fs.listdir(p))
    fs.rename(os.path.join(p, "d1"), os.path.join(p, "d2"))
    assert fs.isdir(os.path.join(p, "d2")) and not fs.exists(
        os.path.join(p, "d1")
    )
    fs.rmtree(os.path.join(p, "d2"))
    fs.rmtree(os.path.join(p, "d2"))  # idempotent
    assert fs.listdir(p) == ["f1"]


def test_snapshot_table_over_file_scheme(spark, tmp_path):
    """End-to-end: a ParquetSnapshotTable whose base is a file:// URI —
    pointer, history, vacuum and the commit-time change partials all
    run through the Hadoop control plane while Spark does the data
    plane on the same URIs."""
    from dataeng_azure_spotify_spark.streaming.gold import (
        ParquetSnapshotTable,
    )

    base = f"file://{tmp_path}/gold"
    t = ParquetSnapshotTable(spark, base, cdf_keys=["id"])
    assert isinstance(t.fs, HadoopStateFS)
    S = "id long, v string"
    t.overwrite(spark.createDataFrame([(1, "a")], S))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], S))
    assert len(t.history()) == 2
    assert t.read().count() == 2
    feed = t.change_feed(["id"], 1)
    assert "Join" not in feed._jdf.queryExecution().optimizedPlan().toString()
    assert {(r.id, r._change_type) for r in feed.collect()} == {
        (2, "insert")
    }
    t.vacuum(keep_last=1)
    assert len(t.history()) == 1


def test_watermark_store_over_file_scheme(spark, tmp_path):
    from dataeng_azure_spotify_spark.sources.watermark import WatermarkStore

    ws = WatermarkStore(f"file://{tmp_path}/wm")
    assert ws.read("users") == "1900-01-01"
    ws.write("users", "2024-05-01")
    ws.write("users", "2024-06-01")
    assert ws.read("users") == "2024-06-01"
    # a fresh handle over the same URI sees the committed value
    assert WatermarkStore(f"file://{tmp_path}/wm").read("users") == "2024-06-01"


def test_compaction_log_over_file_scheme(spark, tmp_path):
    """Marker commit (Spark write) + driver-side pyarrow read both work
    over the Hadoop path — committed() fetches marker bytes through
    StateFS, still zero Spark jobs."""
    from dataeng_azure_spotify_spark.operators.compaction import (
        CompactionLog,
    )

    log = CompactionLog(spark, f"file://{tmp_path}/artifact")
    assert log.committed() == {}
    log.commit("compact-t1", ["r1", "r2"])
    assert log.committed() == {"compact-t1": ["r1", "r2"]}
    assert log.folded() == {"r1", "r2"}
    log.drop_marker("compact-t1")
    assert log.committed() == {}


def test_incremental_dedup_over_file_scheme(spark, tmp_path):
    """A stateful admitter whose state_dir is a file:// URI: state
    probes, appends and replay all run through the Hadoop control
    plane — the artifact tier's object-store path, end to end."""
    from dataeng_azure_spotify_spark.operators.dedup import IncrementalDedup

    adm = IncrementalDedup(spark, f"file://{tmp_path}/exact")
    assert isinstance(adm.fs, HadoopStateFS)
    S = "doc_id long, text string"
    b1 = spark.createDataFrame([(1, "a b"), (2, "a b"), (3, "c d")], S)
    got = sorted(
        r.doc_id for r in adm.admit(b1, run_id="e0").collect()
    )
    assert got == [1, 3]
    # replay returns the identical slice; a fresh twin is rejected
    assert sorted(
        r.doc_id for r in adm.admit(b1, run_id="e0").collect()
    ) == [1, 3]
    b2 = spark.createDataFrame([(9, "a b"), (10, "e f")], S)
    assert sorted(
        r.doc_id for r in adm.admit(b2, run_id="e1").collect()
    ) == [10]


def test_nb_model_artifact_over_file_scheme(spark, tmp_path):
    """Model artifact fit -> exists -> load -> score with a file://
    path: commit marker and weights both live behind StateFS."""
    from pyspark.sql import functions as F

    from dataeng_azure_spotify_spark.operators.quality_nb import (
        NbQualityModel,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha bravo doc {i}") for i in range(8)],
        "doc_id long, text string",
    )
    path = f"file://{tmp_path}/nb"
    model = NbQualityModel.fit(
        docs, F.col("doc_id") % 2 == 0, path, buckets=64
    )
    assert isinstance(model.fs, HadoopStateFS)
    assert model.exists()
    loaded = NbQualityModel.load(spark, path)
    assert loaded.score(docs).count() == 8


@pytest.mark.parametrize("scheme", ["local", "hadoop"])
def test_create_exclusive_contract(spark, tmp_path, scheme):
    """r12 conditional put: first writer wins, second loses cleanly
    with False and the content is untouched — on both backends."""
    base = str(tmp_path / "x")
    fs = (
        LocalStateFS()
        if scheme == "local"
        else HadoopStateFS(spark, f"file://{base}")
    )
    p = base if scheme == "local" else f"file://{base}"
    fs.makedirs(p)
    f1 = os.path.join(p, "ptr.v1")
    assert fs.create_exclusive(f1, b"snap-a") is True
    assert fs.create_exclusive(f1, b"snap-b") is False
    assert fs.read_bytes(f1) == b"snap-a"


def test_versioned_pointer_commit_has_no_missing_window(spark, tmp_path):
    """A single pointer file rewritten via delete+rename has a window on
    flat-namespace stores where readers see NO pointer. With versioned
    pointer files the commit point is a single conditional put — inject
    a crash at EVERY step of _write_pointer and show a concurrent reader
    always resolves a complete committed pointer (old table before the
    put, new table after)."""
    from dataeng_azure_spotify_spark.streaming.gold import (
        ParquetSnapshotTable,
    )

    S = "id long, v string"
    base = str(tmp_path / "t")
    t = ParquetSnapshotTable(spark, base)
    t.overwrite(spark.createDataFrame([(0, "z")], S))
    t.overwrite(spark.createDataFrame([(1, "a")], S))
    assert t.read().count() == 1

    class Boom(RuntimeError):
        pass

    # crash BEFORE the conditional put (snapshot written, pointer not):
    orig_ce = t.fs.create_exclusive
    t.fs.create_exclusive = lambda *a, **k: (_ for _ in ()).throw(Boom())
    with pytest.raises(Boom):
        t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], S))
    t.fs.create_exclusive = orig_ce
    reader = ParquetSnapshotTable(spark, base)
    assert reader.read().count() == 1  # old version still live

    # crash AFTER the put, at the retirement of the oldest pointer (two
    # pointers exist, so this commit's put makes a third to retire):
    orig_rm = t.fs.rmtree

    def rmtree(path):
        if os.path.basename(path).startswith("_current.v"):
            raise Boom()
        orig_rm(path)

    t.fs.rmtree = rmtree
    with pytest.raises(Boom):
        t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], S))
    t.fs.rmtree = orig_rm
    reader = ParquetSnapshotTable(spark, base)
    assert reader.read().count() == 2  # commit point passed -> new live
    assert len(reader.history()) == 3

    # the retry after the second crash re-commits cleanly on top
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], S))
    assert ParquetSnapshotTable(spark, base).read().count() == 3
    # housekeeping bounded: at most two pointer files survive
    ptrs = [d for d in os.listdir(base) if d.startswith("_current.v")]
    assert 1 <= len(ptrs) <= 2
